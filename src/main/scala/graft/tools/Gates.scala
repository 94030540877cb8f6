package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{SparkEntry, Sessions}

/** What every result gate shares: the bit-exact canonical hash of a
  * query's result, one pass of queries in a fresh session, the query-list
  * argument, and the per-query compare of two passes. The gate mains
  * (ClusterGate, SpillGate, ConcurrencyGate, FaultGate, IsolationSweep)
  * keep only which two conditions they compare and their anti-vacuity
  * checks. */
object Gates {

  /** A query's canonical `(md5, rowCount)`, or the error it raised. */
  type Result = Either[String, (String, Long)]

  /** The baseline every process-boundary / spill / fault gate compares
    * against: eight local threads, eight shuffle partitions. */
  def local: SparkSession.Builder = Sessions.builder("local[8]", 8)

  /** `default` (or no argument) → `default`, `all` → the whole registry
    * (sorted), else a comma list. Unknown names are rejected here, before
    * any session starts. */
  def queryList(arg: Option[String], default: Seq[String]): Seq[String] = {
    val qs = arg match {
      case None | Some("default") => default
      case Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val unknown = qs.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    qs
  }

  def canonOf(spark: SparkSession, sfDir: String, q: String): Result =
    attempt(canon(SparkEntry.queries(q)(spark, sfDir)))

  /** `canonical`'s value, or the error it raised. */
  def attempt(canonical: => (String, Long)): Result =
    try Right(canonical)
    catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(160))
    }

  /** Start a session from `b`, run `setup` on it, then every query;
    * the session is stopped and forgotten afterwards. */
  def runPass(b: SparkSession.Builder, sfDir: String, queries: Seq[String],
      setup: SparkSession => Unit = _ => ()): Map[String, Result] = {
    val spark = Sessions.start(b)
    try {
      setup(spark)
      queries.map(q => q -> canonOf(spark, sfDir, q)).toMap
    } finally Sessions.stop(spark)
  }

  /** Print one `[tag] query rows verdict` line per query (OK, MISMATCH,
    * or ERROR for an error on either side or a missing result) and
    * return how many were not OK. */
  def compare(tag: String, queries: Seq[String], base: Map[String, Result],
      cand: Map[String, Result]): Int = {
    queries.count { q =>
      (base.get(q), cand.get(q)) match {
        case (Some(Right((hb, nb))), Some(Right((hc, nc)))) =>
          if (hb == hc && nb == nc) {
            println(f"[$tag] $q%-28s $nb%7d  OK")
            false
          } else {
            println(f"[$tag] $q%-28s $nb%7d  MISMATCH " +
              s"(base $hb/$nb rows vs $hc/$nc rows)")
            true
          }
        case (b, c) =>
          val err = Seq(b, c).flatten.collectFirst { case Left(e) => e }
            .getOrElse("missing result")
          println(f"[$tag] $q%-28s ${0}%7d  ERROR $err")
          true
      }
    }
  }

  /** Bit-exact canonical form: columns sorted by name, rows hashed by
    * [[hash]]. */
  def canon(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
    (hash(rows), rows.length.toLong)
  }

  /** md5 over the sorted, length-prefixed renderings of `rows`, so row
    * order never matters and no two distinct rows render alike. */
  private[tools] def hash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => r.toSeq.map(framed).mkString).sorted.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(10.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def framed(v: Any): String = {
    val c = cell(v)
    s"${c.length}:$c"
  }

  /** One value, rendered exactly: raw IEEE bits for floats, a type tag on
    * strings (so no string renders like NULL or a number), and every
    * nested element length-prefixed (so `["a,b"]` and `["a", "b"]`
    * differ). */
  private[tools] def cell(v: Any): String = v match {
    case null => "∅"
    case s: String => "s" + s
    case d: java.lang.Double =>
      "d" + java.lang.Double.doubleToRawLongBits(d)
    case f: java.lang.Float =>
      "f" + java.lang.Float.floatToRawIntBits(f)
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(framed).mkString("[", "", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => framed(k) + framed(x) }
        .sorted.mkString("{", "", "}")
    case r: Row => r.toSeq.map(framed).mkString("(", "", ")")
    case d: java.math.BigDecimal => "D" + d.toPlainString
    case d: BigDecimal => "D" + d.underlying.toPlainString
    case x => x.toString
  }
}
