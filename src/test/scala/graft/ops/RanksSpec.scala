package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed rank must equal the single-task window forms
  * bit-for-bit — that equivalence is what lets range-partitioned plans
  * keep their window-function oracles. */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  private def randomDf(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    // duplicate-heavy keys: ranks must still be total via the id tiebreak
    (1 to n).map(i => (i.toLong, rnd.nextInt(7), rnd.nextInt(1000)))
      .toDF("id", "k", "v")
  }

  test("globalRank equals row_number over a global window") {
    for ((n, parts) <- Seq((0, 4), (1, 4), (37, 4), (500, 8), (500, 1000))) {
      val df = randomDf(n, seed = n + parts)
      val expected = df
        .withColumn("rk", row_number().over(Window.orderBy(col("k"), col("id"))))
        .select("id", "rk").as[(Long, Long)].collect().toMap
      val got = Ranks
        .globalRank(df, Seq(col("k"), col("id")), parts, "rk")
        .select("id", "rk").as[(Long, Long)].collect().toMap
      assert(got === expected, s"n=$n parts=$parts")
    }
  }

  test("ntileFromRank equals ntile over a global window, all fill levels") {
    // n < t, n = t, n multiple of t, n mod t ≠ 0 — every ntile size class
    for ((n, t) <- Seq((5, 16), (16, 16), (64, 16), (37, 16), (1000, 7))) {
      val df = randomDf(n, seed = 11 * n + t)
      val w = Window.orderBy(col("k"), col("id"))
      val expected = df
        .withColumn("tile", ntile(t).over(w))
        .select("id", "tile").as[(Long, Int)].collect().toMap
      val got = Ranks
        .globalRank(df, Seq(col("k"), col("id")), 6, "rk",
          totalCol = Some("n"))
        .withColumn("tile", Ranks.ntileFromRank(col("rk"), col("n"), t))
        .select("id", "tile").as[(Long, Int)].collect().toMap
      assert(got === expected, s"n=$n t=$t")
    }
  }

  test("q_rfm's NULL-metric quintile pattern matches ntile desc NULLS LAST") {
    // the regression: `ntile OVER (ORDER BY m DESC)` puts NULL metrics
    // LAST (worst quintile) in Spark and DuckDB, but a raw ascending rank
    // of the negated key would put NULL first — q_rfm coalesces the key
    // to Double.MaxValue, which must reproduce the window form exactly
    val rnd = new scala.util.Random(42)
    val df = (1 to 300).map { i =>
      (i.toLong, if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(50).toDouble))
    }.toDF("id", "m")
    val expected = df
      .withColumn("q", ntile(5).over(Window.orderBy(col("m").desc, col("id"))))
      .select("id", "q").as[(Long, Int)].collect().toMap
    val got = Ranks
      .globalRank(
        df.withColumn("__key",
          coalesce(lit(0.0) - col("m"), lit(Double.MaxValue))),
        Seq(col("__key"), col("id")), 6, "rk", totalCol = Some("n"))
      .withColumn("q", Ranks.ntileFromRank(col("rk"), col("n"), 5))
      .select("id", "q").as[(Long, Int)].collect().toMap
    assert(got === expected)
  }

  test("rank column is dense, 1-based, and preserves input columns") {
    val df = randomDf(200, seed = 3)
    val out = Ranks.globalRank(df, Seq(col("k"), col("id")), 5, "rk")
    assert(out.columns.sorted === Array("id", "k", "rk", "v"))
    val ranks = out.select("rk").as[Long].collect().sorted
    assert(ranks === (1L to 200L).toArray)
  }

  test("globalCumsum equals running sums + row_number over a global window") {
    for ((n, parts) <- Seq((0, 4), (1, 4), (37, 4), (500, 8), (500, 1000))) {
      val df = randomDf(n, seed = 7 * n + parts)
        .withColumn("v2", col("v").cast("long") * 3 + col("k"))
      val ord = Window.orderBy(col("k"), col("id"))
      val pre = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("rk", row_number().over(ord).cast("long"))
        .withColumn("cv", sum(col("v").cast("long")).over(pre))
        .withColumn("cv2", sum("v2").over(pre))
        .select("id", "rk", "cv", "cv2")
        .as[(Long, Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3, t._4)).toMap
      val got = Ranks
        .globalCumsum(df.withColumn("vl", col("v").cast("long")),
          Seq(col("k"), col("id")), parts,
          Seq("cv" -> "vl", "cv2" -> "v2"), rankCol = Some("rk"))
        .select("id", "rk", "cv", "cv2")
        .as[(Long, Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3, t._4)).toMap
      assert(got === expected, s"n=$n parts=$parts")
    }
  }

  test("descCountKey string order equals (cnt DESC, tok ASC)") {
    val rnd = new scala.util.Random(9)
    val toks = (1 to 400).map(i =>
      (s"tok_${rnd.nextInt(300)}_$i", rnd.nextInt(5).toLong + 1))
      .toDF("tok", "cnt")
    val byPair = toks
      .orderBy(col("cnt").desc, col("tok"))
      .select("tok").as[String].collect().toSeq
    val byKey = toks
      .withColumn("key", Ranks.descCountKey(col("cnt"), col("tok")))
      .orderBy("key")
      .select("tok").as[String].collect().toSeq
    assert(byKey === byPair)
  }

  test("literalLookup raises on a bucket id it never saw instead of a neighbour's offset") {
    val entries = IndexedSeq(0 -> lit(0L), 2 -> lit(10L), 5 -> lit(25L), 6 -> lit(40L))
    def lookup(ids: Seq[Int], es: IndexedSeq[(Int, org.apache.spark.sql.Column)]) =
      ids.toDF("b").repartition(2)
        .select(col("b"), Ranks.literalLookup(col("b"), es, lit(0L)).as("o"))
        .as[(Int, Long)].collect().toMap
    assert(lookup(Seq(0, 2, 5, 6), entries) ===
      Map(0 -> 0L, 2 -> 10L, 5 -> 25L, 6 -> 40L))
    // every gap, both ends, and an empty entry list: each probe raises
    for ((ids, es) <- Seq(Seq(-1), Seq(1), Seq(3), Seq(4), Seq(7), Seq(2, 3))
        .map(_ -> entries) :+ (Seq(0) -> IndexedSeq.empty)) {
      val e = intercept[Exception](lookup(ids, es))
      assert(String.valueOf(e.getMessage).contains("is not among the build-time offsets"),
        s"${ids.mkString(",")}: ${e.getMessage}")
    }
  }
}
