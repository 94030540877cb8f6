package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-blocked spatial operators: exactness of the neighbor covers against a
  * brute-force reference, pair uniqueness (a pair must meet in exactly one
  * cell), kNN ranking, and the radius ≤ cellSize contract. */
class GeoSpec extends SparkSpec {

  private def pointsDf(pts: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    pts.toDF("key", "x", "y")
  }

  private def brutePairs(pts: Seq[(Long, Long, Long)], r: Long,
      ordered: Boolean): Set[(Long, Long, Long)] =
    (for {
      (ka, xa, ya) <- pts
      (kb, xb, yb) <- pts
      if (if (ordered) ka != kb else ka < kb)
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= r * r
    } yield (ka, kb, d2)).toSet

  /** Seeded clouds: clustered + uniform mix so boundary cells are hit. */
  private def randomPts(rnd: scala.util.Random, n: Int): Seq[(Long, Long, Long)] =
    (0 until n).map { i =>
      val (cx, cy) =
        if (rnd.nextBoolean()) (rnd.nextInt(2001).toLong, rnd.nextInt(2001).toLong)
        else (500L + rnd.nextInt(40), 500L + rnd.nextInt(40)) // dense cluster
      (i.toLong, cx, cy)
    }

  test("neighborPairs equals brute force on random clouds (both orderings)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 15) {
      val pts = randomPts(rnd, rnd.nextInt(61))
      val r = 1L + rnd.nextInt(500)
      val cell = r + (r % 7) // any cellSize >= radius must be exact
      for (ordered <- Seq(false, true)) {
        val got = Geo.neighborPairs(pointsDf(pts), cell, r, ordered)
          .collect().map(w => (w.getLong(0), w.getLong(1), w.getLong(2))).toSeq
        // toSeq-then-size vs toSet-size: a duplicated candidate (pair met
        // in two cells) would shrink under toSet and hide — assert both.
        assert(got.size === got.toSet.size, "pair emitted more than once")
        assert(got.toSet === brutePairs(pts, r, ordered))
      }
    }
  }

  test("pairs exactly on the radius boundary are kept") {
    // dist2 = 9 + 16 = 25 = r²
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L))
    val got = Geo.neighborPairs(pointsDf(pts), 5L, 5L).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 2L, 25L)))
  }

  test("points straddling a cell boundary still pair") {
    // cell = 10: x=9 lives in cell 0, x=11 in cell 1; dist 2 <= r=5
    val pts = Seq((1L, 9L, 0L), (2L, 11L, 0L))
    val got = Geo.neighborPairs(pointsDf(pts), 10L, 5L).collect()
    assert(got.length === 1 && got.head.getLong(2) === 4L)
  }

  test("radiusKnn ranks by (dist2, key) and truncates at k") {
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 0L), (3L, 0L, 3L), (4L, 5L, 0L),
      (5L, 900L, 900L))
    val got = Geo.radiusKnn(pointsDf(pts), 10L, 10L, k = 2)
      .orderBy("key_a", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // key 1: ties at dist2=9 broken by key_b (2 before 3); key 4 (dist2=4
    // to key 2) beats both; key 5 is isolated -> zero rows, not padding.
    assert(got.toSeq === Seq(
      (1L, 1, 2L, 9L), (1L, 2, 3L, 9L),
      (2L, 1, 4L, 4L), (2L, 2, 1L, 9L),
      (3L, 1, 1L, 9L), (3L, 2, 2L, 18L),
      (4L, 1, 2L, 4L), (4L, 2, 1L, 25L)).sortBy(t => (t._1, t._2)))
  }

  test("radiusKnn rank 1 for key 2 is its true nearest neighbor") {
    // guard against rank/order mixups the set-compare above could mask
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 0L), (4L, 5L, 0L))
    val got = Geo.radiusKnn(pointsDf(pts), 10L, 10L, k = 2)
      .where(col("key_a") === 2 && col("rank") === 1).collect()
    assert(got.head.getLong(2) === 4L && got.head.getLong(3) === 4L)
  }

  test("gridAggregate partitions the plane exactly") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val pts = randomPts(rnd, 1 + rnd.nextInt(60))
      val cell = 1L + rnd.nextInt(300)
      val got = Geo.gridAggregate(pointsDf(pts), cell).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val exp = pts.groupBy(p => (p._2 / cell, p._3 / cell)).map {
        case (c, ps) => c -> ((ps.size.toLong, ps.map(_._1).min,
          ps.map(_._1).max, ps.map(_._1).sum))
      }
      assert(got === exp)
      assert(got.values.map(_._1).sum === pts.size.toLong)
    }
  }

  test("bipartitePairs equals brute force across two clouds") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 10) {
      val a = randomPts(rnd, rnd.nextInt(40))
      val b = randomPts(rnd, rnd.nextInt(40))
      val r = 1L + rnd.nextInt(400)
      val got = Geo.bipartitePairs(pointsDf(a), pointsDf(b), r + 3, r)
        .collect().map(w => (w.getLong(0), w.getLong(1), w.getLong(2))).toSeq
      val exp = (for {
        (ka, xa, ya) <- a; (kb, xb, yb) <- b
        d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
        if d2 <= r * r
      } yield (ka, kb, d2)).toSet
      assert(got.size === got.toSet.size, "pair emitted more than once")
      assert(got.toSet === exp)
    }
  }

  test("nearestNeighbor picks the argmin and omits out-of-range lefts") {
    val left = Seq((1L, 0L, 0L), (2L, 500L, 500L))
    val right = Seq((10L, 3L, 0L), (11L, 0L, 3L), (12L, 1L, 1L))
    val got = Geo.nearestNeighbor(pointsDf(left), pointsDf(right), 10L, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // key 1 -> 12 at dist2=2; key 2 has nothing within 10 -> absent
    assert(got.toSeq === Seq((1L, 12L, 2L)))
  }

  test("radius > cellSize is rejected (3x3 cover would be silently lossy)") {
    intercept[IllegalArgumentException] {
      Geo.neighborPairs(pointsDf(Seq((1L, 0L, 0L))), 10L, 11L)
    }
    intercept[IllegalArgumentException] {
      Geo.gridAggregate(pointsDf(Seq((1L, 0L, 0L))), 0L)
    }
    intercept[IllegalArgumentException] { // radius2 > cellSize² too
      Geo.neighborPairs2(pointsDf(Seq((1L, 0L, 0L))), 10L, 101L)
    }
  }

  test("cover guard is exact where cellSize squared overflows Long") {
    // 3037000500² exceeds Long.MaxValue and 3037000499² does not: a guard
    // that squares in Long wraps negative at the first and rejects a valid
    // call
    val pts = pointsDf(Seq((1L, 0L, 0L), (2L, 3L, 4L)))
    for (cell <- Seq(3037000500L, 4000000000L, Long.MaxValue)) {
      val got = Geo.neighborPairs(pts, cell, 5L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((1L, 2L, 25L)), s"cellSize=$cell")
      assert(Geo.bipartitePairs(pts, pts, cell, 5L).count() === 4)
    }
    Geo.neighborPairs2(pts, 3037000500L, Long.MaxValue) // cellSize² > radius2
    intercept[IllegalArgumentException] {
      Geo.neighborPairs2(pts, 3037000499L, Long.MaxValue)
    }
    intercept[ArithmeticException] { // radius² itself overflows
      Geo.neighborPairs(pts, Long.MaxValue, 3037000500L)
    }
  }

  /** Reference DBSCAN on driver arrays: brute-force neighborhoods, BFS
    * region growing, nearest-core border attach (ties by core key). */
  private def bruteDbscan(pts: Seq[(Long, Long, Long)], r2: Long,
      minPts: Int): Map[Long, (String, Long)] = {
    val nbr = pts.map { case (k, x, y) =>
      k -> pts.filter { case (k2, x2, y2) =>
        k2 != k && (x - x2) * (x - x2) + (y - y2) * (y - y2) <= r2
      }.map(_._1).toSet
    }.toMap
    val core = pts.map(_._1).filter(k => nbr(k).size + 1 >= minPts).toSet
    // components over core-core adjacency, labeled by min member
    var label = core.map(k => k -> k).toMap
    var changed = true
    while (changed) {
      changed = false
      for (k <- core; n <- nbr(k) if core(n))
        if (label(n) < label(k)) { label += k -> label(n); changed = true }
    }
    pts.map { case (k, _, _) =>
      if (core(k)) k -> (("core", label(k)))
      else {
        val coreNbrs = nbr(k).filter(core)
        if (coreNbrs.isEmpty) k -> (("noise", -1L))
        else {
          val (x, y) = pts.find(_._1 == k).map(p => (p._2, p._3)).get
          val q = coreNbrs.minBy { c =>
            val (cx, cy) = pts.find(_._1 == c).map(p => (p._2, p._3)).get
            ((x - cx) * (x - cx) + (y - cy) * (y - cy), c)
          }
          k -> (("border", label(q)))
        }
      }
    }.toMap
  }

  test("dbscan equals the reference algorithm on random clustered clouds") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val pts = randomPts(rnd, 30 + rnd.nextInt(41))
      val r2 = 400L + rnd.nextInt(2000)
      val cell = math.ceil(math.sqrt(r2.toDouble)).toLong
      val got = Geo.dbscan(pointsDf(pts), cell, r2, minPts = 4)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      assert(got === bruteDbscan(pts, r2, 4))
    }
  }

  test("dbscan crafted case: blob is one cluster, bridge is border, stray is noise") {
    // 5-point blob at (0..2, 0); point 10 within r of blob edge but with
    // only 1 neighbor (border); point 99 isolated (noise)
    val pts = Seq(
      (1L, 0L, 0L), (2L, 1L, 0L), (3L, 2L, 0L), (4L, 0L, 1L), (5L, 1L, 1L),
      (10L, 4L, 0L), // dist2 to key 3 = 4 <= r2: border of the blob
      (99L, 100L, 100L))
    val got = Geo.dbscan(pointsDf(pts), 3L, 5L, minPts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    Seq(1L, 2L, 3L, 4L, 5L).foreach { k =>
      assert(got(k) === (("core", 1L)), s"key $k should be core of cluster 1")
    }
    assert(got(10L) === (("border", 1L)))
    assert(got(99L) === (("noise", -1L)))
  }

  test("dbscan border point between two clusters attaches to the NEAREST core") {
    // two 4-point blobs 20 apart; key 50 sits exactly r from cluster B's
    // nearest core (its ONLY neighbor, so it can't be core itself) and
    // far from cluster A -> must join B
    val a = Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L), (4L, 1L, 1L))
    val b = Seq((11L, 20L, 0L), (12L, 21L, 0L), (13L, 20L, 1L), (14L, 21L, 1L))
    val pts = a ++ b :+ ((50L, 17L, 0L)) // d2 to key 11 = 9; to key 2 = 256
    val got = Geo.dbscan(pointsDf(pts), 3L, 9L, minPts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(50L) === (("border", 11L)))
    assert(got(1L)._2 === 1L && got(11L)._2 === 11L, "two distinct clusters")
  }
}
