package graft.functions

import scala.collection.mutable

import graft.SparkSpec
import graft.functions.CappedCollectList.capped_collect_list
import graft.functions.NearestCentroidId.nearest_centroid_id
import graft.functions.PostingPairs.posting_pairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The kernels behind the grouped pair stages: the capped collect and
  * the posting-pair generator of Dedup.jaccardPairs, and the rounded
  * argmin of Similarity.semDedup's cluster assignment. */
class PairKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  // --- CappedCollectList ------------------------------------------------

  test("capped collect: the buffer never holds more than cap + 1 entries") {
    for (cap <- Seq(0, 1, 3, 8)) {
      val agg = CappedCollectList(BoundReference(0, IntegerType, nullable = true), cap)
      def bounded(b: mutable.ArrayBuffer[Any]) =
        assert(b.length <= cap + 1, s"cap=$cap buffer ${b.length}")
      // three "partitions" of a 0..n-1 stream with NULLs sprinkled in,
      // updated row by row, shipped through serialize/deserialize (the
      // partial-aggregate shuffle) and merged in both orders
      val parts = Seq(0 until 2, 2 until 7, 7 until 30).map { r =>
        val b = agg.createAggregationBuffer()
        r.foreach { i =>
          agg.update(b, InternalRow(if (i % 5 == 4) null else Integer.valueOf(i)))
          bounded(b)
        }
        agg.deserialize(agg.serialize(b))
      }
      parts.foreach(bounded)
      for (order <- Seq(parts, parts.reverse)) {
        val acc = agg.createAggregationBuffer()
        order.foreach { p =>
          agg.merge(acc, agg.deserialize(agg.serialize(p))); bounded(acc)
        }
        assert(agg.eval(acc) == null, s"cap=$cap: 24 non-null values exceed it")
      }
      // a small key stays a list, exactly collect_list's
      val small = agg.createAggregationBuffer()
      (0 until cap).foreach(i => agg.update(small, InternalRow(Integer.valueOf(i))))
      agg.update(small, InternalRow(null))
      val out = agg.eval(small).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert(out.toIntArray().toSeq === (0 until cap))
    }
  }

  private def cappedVsOracle(df: DataFrame, cap: Int): Unit = {
    val got = df.groupBy("k")
      .agg(capped_collect_list(col("v"), cap).as("l"))
      .select(col("k"), sort_array(col("l")).as("l"))
      .as[(Int, Option[Seq[Int]])].collect().toMap
    val want = df.groupBy("k").agg(collect_list(col("v")).as("l"))
      .select(col("k"),
        when(size(col("l")) <= cap, sort_array(col("l"))).as("l"))
      .as[(Int, Option[Seq[Int]])].collect().toMap
    assert(got === want, s"cap=$cap")
  }

  test("capped collect equals collect_list under the cap and NULL over it, across partitions") {
    val rnd = new scala.util.Random(5)
    // key k holds k values (some NULL) spread over 8 partitions, so every
    // key's list is assembled by cross-partition merges
    val rows = (0 to 12).flatMap(k => (0 until k).map(i =>
      (k, if (rnd.nextInt(6) == 0) None else Some(i))))
    val df = rnd.shuffle(rows).toDF("k", "v").repartition(8)
    for (cap <- Seq(1, 4, 7, 12)) cappedVsOracle(df, cap)
    // the object-hash aggregate falls back to sort-based aggregation
    // after this many keys — force it on every partition
    withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") {
      for (cap <- Seq(1, 5)) cappedVsOracle(df, cap)
    }
  }

  // --- PostingPairs -----------------------------------------------------

  test("posting pairs: every id_a < id_b pair once per posting pair, NULL ids and lists pair nothing") {
    val lists = Seq(
      (1, Some(Seq((Option(3L), 5), (Option(1L), 2), (Option(2L), 4),
        (Option.empty[Long], 9), (Option(1L), 2)))),
      (2, Some(Seq((Option(7L), 1)))),
      (3, None))
      .toDF("key", "pl")
    val got = lists.select(col("key"), posting_pairs(col("pl")))
      .as[(Int, Long, Long, Int, Int)].collect().sorted.toSeq
    // ids 1 (twice), 2, 3: the two id-1 postings each pair with 2 and 3,
    // never with each other; the NULL id pairs with nothing
    assert(got === Seq(
      (1, 1L, 2L, 2, 4), (1, 1L, 2L, 2, 4), (1, 1L, 3L, 2, 5),
      (1, 1L, 3L, 2, 5), (1, 2L, 3L, 4, 5)))
  }

  // --- NearestCentroidId ------------------------------------------------

  test("nearest-centroid rounding equals Spark's round(x, 6) on half-way values") {
    val rnd = new scala.util.Random(3)
    val halfway = (0 until 400).map { i =>
      val k = rnd.nextInt(20000000) - 10000000
      (k + 0.5) / 1e6 // exactly half-way in decimal, not always in binary
    }
    val values = halfway ++ Seq(0.0, -0.0, 2.5e-7, 5e-7, -5e-7, 1.0000005,
      0.1234565, 123456.0000005, 1e300, -1e-300, Double.MinPositiveValue,
      Double.MaxValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity) ++
      (0 until 400).map(_ => rnd.nextGaussian() * math.pow(10, rnd.nextInt(8) - 4))
    for (conf <- Seq(Seq.empty[(String, String)], interpreted)) withConf(conf: _*) {
      // repartition: a projection over a local relation would be folded on
      // the driver; this one runs in tasks (codegen'd unless disabled)
      val spark6 = values.toDF("x").repartition(2)
        .select(col("x"), round(col("x"), 6)).as[(Double, Double)].collect()
      assert(spark6.length === values.length)
      spark6.foreach { case (x, want) =>
        val got = NearestCentroidId.round6(x)
        assert(java.lang.Double.doubleToLongBits(got) ===
          java.lang.Double.doubleToLongBits(want), s"round($x, 6)")
      }
    }
  }

  /** The SQL assignment nearest_centroid_id replaces. */
  private def sqlAssign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("__d2", round(
        aggregate(
          zip_with(col("__v"), col("__cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6))
      .groupBy(col("id"))
      .agg(min(struct(col("__d2"), col("__cid"))).as("__m"))
      .select(col("id"), col("__m.__cid").as("cid"))

  private def kernelAssign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents.agg(sort_array(collect_list(
        struct(col("__cid"), col("__cvec")))).as("__cents"))))
      .select(col("id"), nearest_centroid_id(col("__v"), col("__cents")).as("cid"))

  test("nearest-centroid id equals the SQL argmin: rounded ties, NaN, NULL elements, zero vectors") {
    val rnd = new scala.util.Random(19)
    // a few values close enough that distinct raw distances round equal
    val palette = Seq(0.0, 0.5, 1.0, 1.0000001, -0.5, 2.0, 1e-4)
    def vec(): Seq[Option[Double]] = Seq.fill(3) {
      rnd.nextInt(40) match {
        case 0 => Some(Double.NaN)
        case 1 => None
        case _ => Some(palette(rnd.nextInt(palette.length)))
      }
    }
    val vs = (0L until 300L).map(i =>
      (i, if (i % 50 == 7) Seq(Some(0.0), Some(0.0), Some(0.0)) else vec()))
    val v = vs.toDF("id", "__v")
    val centVecs = Seq(
      (10L, Seq(Some(1.0), Some(0.0), Some(0.0))),
      (2L, Seq(Some(0.0), Some(1.0), Some(0.0))),     // ties with cid 10
      (5L, Seq(Some(1.0000001), Some(0.0), Some(0.0))), // rounds to a tie with 10
      (7L, Seq(Some(0.0), Some(0.0), Some(Double.NaN))),
      (3L, Seq(Some(0.5), None, Some(0.5))),
      (4L, Seq(Some(0.0), Some(0.0), Some(0.0))),
      (9L, Seq(Some(0.0), Some(0.0), Some(0.0)))) // exact duplicate of 4
    for (conf <- Seq(Seq.empty[(String, String)], interpreted)) withConf(conf: _*) {
      for (k <- Seq(1, 2, 3, 7)) {
        val cents = centVecs.take(k).toDF("__cid", "__cvec")
        val want = sqlAssign(v, cents).as[(Long, Long)].collect().toMap
        val got = kernelAssign(v, cents).as[(Long, Long)].collect().toMap
        assert(got === want, s"k=$k conf=$conf")
      }
    }
    // ties where the LOWER cid has the larger raw distance: rounding makes
    // them equal, so the lower cid must win (an unrounded argmin picks 5)
    val tie = Seq((0L, Seq(Some(0.0), Some(0.0), Some(0.0)))).toDF("id", "__v")
    val tc = Seq((1L, Seq(Some(1.0000001), Some(0.0), Some(0.0))),
      (5L, Seq(Some(0.0), Some(1.0), Some(0.0)))).toDF("__cid", "__cvec")
    assert(kernelAssign(tie, tc).as[(Long, Long)].collect().toSeq === Seq((0L, 1L)))
    assert(sqlAssign(tie, tc).as[(Long, Long)].collect().toSeq === Seq((0L, 1L)))
  }

  test("nearest-centroid id raises on a vector whose length differs from a centroid's") {
    val v = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(1.0, 2.0, 3.0))).toDF("id", "__v")
    val cents = Seq((0L, Seq(1.0, 2.0))).toDF("__cid", "__cvec")
    val e = intercept[Exception](kernelAssign(v, cents).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("vector length 3 vs centroid length 2")), e)
  }
}
