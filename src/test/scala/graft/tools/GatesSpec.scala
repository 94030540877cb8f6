package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** The gates' canonical hash must tell apart every pair of results that
  * differ, and ignore only row and column order; `compare` must count
  * every query that is not identical on both sides. */
class GatesSpec extends SparkSpec {
  import spark.implicits._

  private def rowsHash(rows: Row*): String = Gates.hash(rows)

  test("canon tells NULL from the string \"∅\"") {
    val nul = Seq(Tuple1(null: String)).toDF("s")
    val sym = Seq(Tuple1("∅")).toDF("s")
    assert(Gates.canon(nul) !== Gates.canon(sym))
  }

  test("canon tells array(\"a,b\") from array(\"a\", \"b\")") {
    val one = Seq(Tuple1(Seq("a,b"))).toDF("a")
    val two = Seq(Tuple1(Seq("a", "b"))).toDF("a")
    assert(Gates.canon(one) !== Gates.canon(two))
    // the same split one level down: inside a struct and a map value
    assert(rowsHash(Row(Row("a,b"))) !== rowsHash(Row(Row("a", "b"))))
    assert(rowsHash(Row(Map("k" -> Seq("a,b")))) !==
      rowsHash(Row(Map("k" -> Seq("a", "b")))))
  }

  test("canon keeps 0.0 / -0.0 and two NaN payloads apart") {
    assert(Gates.canon(Seq(0.0).toDF("d")) !== Gates.canon(Seq(-0.0).toDF("d")))
    val nanA = java.lang.Double.longBitsToDouble(0x7ff8000000000000L)
    val nanB = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    assert(rowsHash(Row(nanA)) !== rowsHash(Row(nanB)))
    assert(rowsHash(Row(nanA)) === rowsHash(Row(nanA)))
  }

  test("canon ignores row and column order") {
    val df = Seq((1L, "x", 0.5), (2L, "y", -1.0), (3L, null, 2.0))
      .toDF("id", "s", "d")
    val shuffled = df.orderBy(col("id").desc).select("d", "s", "id")
    assert(Gates.canon(df) === Gates.canon(shuffled))
    assert(Gates.canon(df)._2 === 3L)
  }

  test("compare counts a mismatch, an error on either side and a missing result") {
    val ok: Gates.Result = Right(("h", 3L))
    val base = Map("same" -> ok, "diff" -> ok, "rowcount" -> ok,
      "err_base" -> Left("boom"), "err_cand" -> ok, "missing" -> ok)
    val cand = Map("same" -> ok, "diff" -> Right(("g", 3L)),
      "rowcount" -> Right(("h", 4L)), "err_base" -> ok,
      "err_cand" -> Left("boom"))
    val out = new java.io.ByteArrayOutputStream()
    val bad = Console.withOut(out)(Gates.compare("t", base.keys.toSeq.sorted,
      base, cand))
    assert(bad === 5)
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.size === 6)
    def verdict(q: String) = lines.find(_.startsWith(f"[t] $q%-28s")).get
    assert(verdict("same").endsWith("OK"))
    assert(verdict("diff").contains("MISMATCH"))
    assert(verdict("rowcount").contains("MISMATCH"))
    assert(verdict("err_base").contains("ERROR boom"))
    assert(verdict("err_cand").contains("ERROR boom"))
    assert(verdict("missing").contains("ERROR missing result"))
  }

  test("queryList rejects an unknown query name") {
    val e = intercept[IllegalArgumentException](
      Gates.queryList(Some("q_monthly_rollup,q_no_such_query"), Nil))
    assert(e.getMessage.contains("unknown queries: q_no_such_query"))
    assert(Gates.queryList(Some("default"), Seq("q_topk")) === Seq("q_topk"))
    assert(Gates.queryList(Some(" q_topk , q_corr "), Nil) ===
      Seq("q_topk", "q_corr"))
  }
}
