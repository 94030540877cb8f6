package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planar spatial operators over integer-scaled coordinates — the grid-file
  * (fixed-grid) partition join from the spatial-join literature, the same
  * blocking idea the dedup suite uses for LSH banding applied to geometry.
  *
  * The reference's flagship output is a station MAP (map_tutorial.html:48-71
  * plots per-station snowfall at lat/lon); these operators supply the spatial
  * queries such a map pipeline needs at scale: density rollups per grid cell,
  * radius joins ("stations within 20 km"), and radius-bounded kNN — without
  * ever forming the all-pairs product.
  *
  * Contract: callers provide a frame with BIGINT columns `key`, `x`, `y`
  * (coordinates pre-scaled to integers — micro-degrees, metres, whatever —
  * so every distance is EXACT int64 arithmetic, portable to any oracle; no
  * trig, no IEEE drift). Distances are squared Euclidean in those units.
  *
  * Scale shape (100 TB): one shuffle on (cell_x, cell_y); candidate work is
  * Σ_cells c·|A∩cell|·|B∩cell|, where c is 5 neighbor cells for the
  * unordered self-join and 9 (the 3×3 cover) otherwise — bounded by the
  * data's spatial density, never n². Pick `cellSize` from the target
  * radius (both covers need radius ≤ cellSize; much larger wastes
  * candidates). Dense-city cell skew is ordinary join-key skew: AQE
  * skew-join splits it, or sub-split hot cells by hashing the probe side
  * (the q_skew_join salting precedent).
  */
object Geo {

  /** Both neighbor covers are exact only for radius2 ≤ cellSize². The
    * square is taken in BigInt: in Long it wraps above cellSize ≈ 3.04e9. */
  private def requireCover(cellSize: Long, radius2: Long): Unit =
    require(radius2 > 0 && BigInt(cellSize) * cellSize >= radius2,
      s"neighbor-cell cover needs 0 < radius2 <= cellSize^2, " +
        s"got radius2=$radius2 cellSize=$cellSize")

  private def withCells(df: DataFrame, cellSize: Long): DataFrame =
    df.withColumn("cell_x", expr(s"x DIV ${cellSize}L"))
      .withColumn("cell_y", expr(s"y DIV ${cellSize}L"))

  /** All pairs within `radius` (squared-Euclidean), via neighbor-cell
    * blocking. Build side keeps its home cell; probe side replicates each
    * point to neighbor cells — the 5-offset canonical-cell cover for the
    * unordered form, the full 3×3 cover for the ordered one (see
    * [[neighborPairs2]]) — and the join's key predicate keeps each pair
    * exactly once. Coverage is exact, not approximate: dist ≤ radius ≤
    * cellSize forces |cell delta| ≤ 1 per axis.
    *
    * `ordered=false` → each unordered pair once (key_a < key_b);
    * `ordered=true` → both directions (key_a ≠ key_b), the kNN feed.
    * Output: key_a, key_b, dist2 (all BIGINT). */
  def neighborPairs(points: DataFrame, cellSize: Long, radius: Long,
      ordered: Boolean = false): DataFrame = {
    require(radius > 0, s"radius must be positive, got $radius")
    neighborPairs2(points, cellSize, Math.multiplyExact(radius, radius), ordered)
  }

  /** [[neighborPairs]] with the threshold given as SQUARED distance —
    * for callers whose ε² is derived (e.g. area/n) and has no exact
    * integer square root.
    *
    * The UNORDERED self-join takes the canonical-cell 5-offset cover
    * (r12, guide §2.3 — shuffle fewer bytes): an unordered pair within
    * radius meets exactly once, in the lexicographically smaller of the
    * two home cells, so the probe side replicates to its home plus the
    * 4 lex-smaller neighbor cells instead of all 9 — 1.8× fewer
    * replicated probe rows through the cell exchange and ~45% fewer
    * candidate pairs evaluated, with the same exact pair set (GeoSpec
    * proves equality against brute force). The ordered form (the kNN
    * feed, which needs both directions anyway) keeps the 3×3 cover —
    * mirroring the unordered result would re-evaluate the join twice. */
  def neighborPairs2(points: DataFrame, cellSize: Long, radius2: Long,
      ordered: Boolean = false): DataFrame = {
    if (ordered)
      return blockedJoin(points, points, cellSize, radius2,
        col("key_a") =!= col("key_b"))
    requireCover(cellSize, radius2)
    val build = withCells(points, cellSize).select(
      col("key").as("key_a"), col("x").as("xa"), col("y").as("ya"),
      col("cell_x"), col("cell_y"))
    // home + the 4 lexicographically-smaller neighbors: every delta d
    // with home+d <lex home (x first, then y), |d| <= 1 per axis
    val offsets = array(
      Seq((-1L, -1L), (-1L, 0L), (-1L, 1L), (0L, -1L), (0L, 0L)).map {
        case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy"))
      }: _*)
    val probe = withCells(points, cellSize)
      .select(col("key").as("key_b"), col("x").as("xb"), col("y").as("yb"),
        col("cell_x"), col("cell_y"), explode(offsets).as("off"))
      .select(col("key_b"), col("xb"), col("yb"),
        (col("cell_x") + col("off.dx")).as("cell_x"),
        (col("cell_y") + col("off.dy")).as("cell_y"),
        (col("off.dx") === 0L && col("off.dy") === 0L).as("__home"))
    val dist2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    // same-cell pairs meet twice (each side as build) — key_a < key_b
    // dedups; cross-cell pairs meet exactly once (only the lex-smaller
    // home is a meeting cell), with arbitrary key order — normalize on
    // output so the (key_a < key_b) contract holds
    build.join(probe, Seq("cell_x", "cell_y"))
      .where(dist2 <= lit(radius2) &&
        (col("__home") && (col("key_a") < col("key_b")) || !col("__home")))
      .select(least(col("key_a"), col("key_b")).as("key_a"),
        greatest(col("key_a"), col("key_b")).as("key_b"),
        dist2.as("dist2"))
  }

  /** Radius join across TWO point sets (e.g. every customer to the
    * suppliers within reach) — same one-meeting-cell guarantee, no key
    * predicate: the sides are distinct relations, so every qualifying
    * (left, right) pair appears exactly once. */
  def bipartitePairs(left: DataFrame, right: DataFrame, cellSize: Long,
      radius: Long): DataFrame = {
    require(radius > 0, s"radius must be positive, got $radius")
    blockedJoin(left, right, cellSize, Math.multiplyExact(radius, radius), lit(true))
  }

  /** Per left-side point, the single nearest right-side point within
    * `radius` (ties broken by key_b) — the "nearest station / nearest
    * supplier" assignment. Left points with nothing in range are absent,
    * not null-padded. */
  def nearestNeighbor(left: DataFrame, right: DataFrame, cellSize: Long,
      radius: Long): DataFrame = {
    val w = Window.partitionBy("key_a").orderBy(col("dist2"), col("key_b"))
    bipartitePairs(left, right, cellSize, radius)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("key_a", "key_b", "dist2")
  }

  private def blockedJoin(left: DataFrame, right: DataFrame, cellSize: Long,
      radius2: Long, keyPred: org.apache.spark.sql.Column): DataFrame = {
    requireCover(cellSize, radius2)
    val build = withCells(left, cellSize).select(
      col("key").as("key_a"), col("x").as("xa"), col("y").as("ya"),
      col("cell_x"), col("cell_y"))
    // One top-level generator (Spark bans nested/expression-wrapped
    // generators): explode the 9 (dx, dy) offsets, then shift the home cell.
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = withCells(right, cellSize)
      .select(col("key").as("key_b"), col("x").as("xb"), col("y").as("yb"),
        col("cell_x"), col("cell_y"), explode(offsets).as("off"))
      .select(col("key_b"), col("xb"), col("yb"),
        (col("cell_x") + col("off.dx")).as("cell_x"),
        (col("cell_y") + col("off.dy")).as("cell_y"))
    val dist2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    build.join(probe, Seq("cell_x", "cell_y"))
      .where(keyPred && dist2 <= lit(radius2))
      .select(col("key_a"), col("key_b"), dist2.as("dist2"))
  }

  /** Radius-bounded k-nearest-neighbors: for every point, the k nearest
    * OTHER points within `radius`, ranked by (dist2, key_b) for a total
    * order. Honest scoping: a point whose true NN is farther than `radius`
    * reports fewer than k rows — unbounded kNN would need an all-pairs
    * fallback that cannot ship at 100 TB. The per-key window buffer is
    * density-bounded (≈ density·π·radius²), not data-bounded. */
  def radiusKnn(points: DataFrame, cellSize: Long, radius: Long,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy("key_a").orderBy(col("dist2"), col("key_b"))
    neighborPairs(points, cellSize, radius, ordered = true)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("key_a", "rank", "key_b", "dist2")
  }

  /** DBSCAN (Ester et al. 1996) at grid-join scale: density clustering
    * without any all-pairs work or sequential region growing.
    *
    *  - ε-neighborhoods come from ONE [[neighborPairs]] grid-blocked join
    *    (candidates Σ5·|cell|², never n²);
    *  - core test (|N_ε(p)| ≥ minPts, the point itself counted) is a
    *    map-side-combinable degree count over the pair list;
    *  - clusters are the connected components of the CORE-CORE ε-graph —
    *    exactly DBSCAN's density-connectivity — via the O(log n)-round
    *    star contraction of [[Graph.twoStarComponents]], so a 10⁹-point
    *    density ridge needs ~30 rounds, not a diameter-long crawl;
    *  - border points (non-core with a core ε-neighbor) attach to their
    *    NEAREST core's cluster, ties by core key — the deterministic
    *    resolution of DBSCAN's classical border ambiguity (the original
    *    algorithm assigns order-of-visit; an engine must not);
    *  - everything else is noise (cluster_id = −1, role = 'noise').
    *
    * cluster_id = min core key of the density-connected component;
    * a core with no core neighbor forms its own singleton cluster.
    * Output: (key, role ∈ core|border|noise, cluster_id), one row per
    * input point, localCheckpoint-materialized so the internal pair
    * cache never leaks past the call (the prefixCandidates lesson). */
  def dbscan(points: DataFrame, cellSize: Long, radius2: Long,
      minPts: Int): DataFrame = {
    require(minPts >= 2, s"minPts=$minPts must be at least 2")
    val pairs = neighborPairs2(points, cellSize, radius2).cache()
    val deg = pairs.select(col("key_a").as("key"))
      .union(pairs.select(col("key_b").as("key")))
      .groupBy("key").agg(count(lit(1)).as("__n"))
    val flagged = points.select("key")
      .join(deg, Seq("key"), "left")
      .select(col("key"),
        (coalesce(col("__n"), lit(0L)) + 1L >= minPts).as("is_core"))
    val coreKeys = flagged.filter(col("is_core")).select("key")
    val coreEdges = pairs
      .join(coreKeys.select(col("key").as("key_a")), Seq("key_a"), "left_semi")
      .join(coreKeys.select(col("key").as("key_b")), Seq("key_b"), "left_semi")
    val (labels, _) = Graph.twoStarComponents(coreEdges, "key_a", "key_b")
    val coreLab = coreKeys
      .join(labels.select(col("id").as("key"), col("rep")), Seq("key"), "left")
      .select(col("key"), coalesce(col("rep"), col("key")).as("cid"))
    // border attach: directed (non-core → core) view of the SAME pairs
    val dir = pairs
      .select(col("key_a").as("p"), col("key_b").as("q"), col("dist2"))
      .union(pairs
        .select(col("key_b").as("p"), col("key_a").as("q"), col("dist2")))
    val w = Window.partitionBy("p").orderBy(col("dist2"), col("q"))
    val border = dir
      .join(flagged.filter(!col("is_core")).select(col("key").as("p")),
        Seq("p"), "left_semi")
      .join(coreLab.select(col("key").as("q"), col("cid")), Seq("q"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("p").as("key"), col("cid"))
    val out = flagged
      .join(coreLab.select(col("key"), col("cid").as("__core_cid")),
        Seq("key"), "left")
      .join(border.select(col("key"), col("cid").as("__border_cid")),
        Seq("key"), "left")
      .select(col("key"),
        when(col("is_core"), lit("core"))
          .when(col("__border_cid").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__core_cid"), col("__border_cid"), lit(-1L))
          .as("cluster_id"))
      .localCheckpoint()
    pairs.unpersist()
    out
  }

  /** Density rollup per grid cell — the map pipeline's heat layer. One
    * map-side-combinable aggregate, one shuffle; every output is exact
    * int64 (counts and key extrema/sums, never order-summed doubles). */
  def gridAggregate(points: DataFrame, cellSize: Long): DataFrame = {
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    withCells(points, cellSize)
      .groupBy("cell_x", "cell_y")
      .agg(count(lit(1)).as("n_points"), min("key").as("min_key"),
        max("key").as("max_key"), sum("key").as("sum_key"))
  }
}
