package graft.tools

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Executable scale canary (VERDICT r7 item 2): synthesize a ~f× blowup
  * of the driver's sf0.1 tables and time the bench's slow-tail families
  * on both corpora, so the "would this survive 100 TB" design notes
  * become MEASURED growth ratios instead of arguments.
  *
  * Blowup semantics — model ORGANIC corpus growth, not duplication:
  *  - documents ×f: copy k prefixes every whitespace token with "c<k>x",
  *    so copies are DISJOINT in token/shingle space (duplicating text
  *    verbatim would make every doc a 10-clone near-dup cluster and
  *    inflate pair counts ~f²/2-fold — growth no organic corpus shows;
  *    disjoint copies keep per-token df constant, so posting-join work
  *    Σdf² scales linearly with the corpus, which is the claim under
  *    test). doc_id remaps to doc_id·f+k (collision-free).
  *  - embeddings ×f: copy k rotates the 64-dim vector left by k mod 64
  *    — same norm and coordinate distribution; the whole second
  *    revolution (k ≥ 64) negates after rotating, so all copies stay
  *    pairwise distinct (identical copies would degenerate ANN/semdedup
  *    into cos=1 ties). Factors above 128 would re-collide → required
  *    ≤ 128.
  *  - customer ×f: fresh custkeys (the q_dbscan plane derives points
  *    from custkey hashes, so new keys = new points; its ε² ∝ 1/n
  *    keeps the core/border mix SF-invariant by design).
  *  - lineitem ×f: fresh orderkeys with the same baskets — the
  *    co-occurrence graph gets f× the pair observations over the same
  *    part catalog (a denser graph, the realistic direction for a
  *    catalog-stable business growing 10×).
  *  - other tables symlink to the base files.
  *
  * Usage: runMain graft.tools.ScaleCanary <baseSfDir> [factor] [outDir]
  *          [query,query,…]
  * The optional query list narrows the run (e.g. the 100×-decade run
  * times only the posting-join trio) AND narrows synthesis to the tables
  * those queries read — a 100× lineitem no canary query touches would
  * be 60M rows of wasted write. Prints one table row per query: base
  * seconds, canary seconds, ratio (min of SPARK_GRAFT_CANARY_PASSES
  * runs, default 2, after an untimed warm pass of the input tables —
  * the Bench warm-input methodology), then the driver's PEAK HEAP across
  * the canary runs (collected-feed growth would show here first).
  */
object ScaleCanary {

  private val DefaultQueries = Seq(
    "q_prefix_join", "q_snm_dedup", "q_weighted_jaccard", "q_dedup_eval",
    "q_dedup_near", "q_dedup_minhash", "q_pagerank", "q_kcore",
    "q_graph_diameter", "q_dbscan",
    // ANN family: scan (linear), IVF×PQ (cell-pruned), cluster-prune,
    // broadcast probe batch — all designed ≲linear; measured here
    "q_similarity_topk", "q_ivf_pq", "q_semdedup", "q_batch_ann")

  /** Which synthesized tables each canary family actually reads — the
    * build skips the rest (symlinked to base). */
  private val QueryTables: Map[String, Seq[String]] = Map(
    "q_prefix_join" -> Seq("documents"), "q_snm_dedup" -> Seq("documents"),
    "q_weighted_jaccard" -> Seq("documents"),
    "q_dedup_eval" -> Seq("documents"), "q_dedup_near" -> Seq("documents"),
    "q_dedup_minhash" -> Seq("documents"),
    "q_pagerank" -> Seq("lineitem"), "q_kcore" -> Seq("lineitem"),
    "q_graph_diameter" -> Seq("lineitem"), "q_dbscan" -> Seq("customer"),
    "q_similarity_topk" -> Seq("embeddings"), "q_ivf_pq" -> Seq("embeddings"),
    "q_semdedup" -> Seq("embeddings"), "q_batch_ann" -> Seq("embeddings"))

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse(s"/tmp/graft_canary_${factor}x")
    val queries = args.lift(3)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(DefaultQueries)
    val unknown = queries.filterNot(QueryTables.contains)
    require(unknown.isEmpty, s"no table mapping for: ${unknown.mkString(",")}")
    val grow = queries.flatMap(QueryTables(_)).distinct.toSet
    // the 128 cap is an EMBEDDINGS constraint (rotation copies collide
    // past 2×64 revolutions); document growth prefixes tokens per copy,
    // which stays pairwise-disjoint at any factor — so a documents-only
    // run (the posting-join third decade, VERDICT r10 item 7) may go
    // to 1000×
    val maxFactor = if (grow("embeddings")) 128 else 1000
    require(factor >= 2 && factor <= maxFactor,
      s"factor $factor out of range [2, $maxFactor]" +
        (if (grow("embeddings")) " (embedding rotations collide)" else ""))
    val spark = Sessions.start()
    build(spark, baseDir, outDir, factor, grow)
    val passes = sys.env.getOrElse("SPARK_GRAFT_CANARY_PASSES", "2").toInt
    val warmTables = grow.toSeq.sorted
    def timeAll(dir: String): Map[String, Double] = {
      for (t <- warmTables)
        graft.Tables.table(spark, dir, t).cache().count() // warm inputs
      val r = (1 to passes).flatMap { _ =>
        queries.map { name =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir).count()
          name -> (System.nanoTime() - t0) / 1e9
        }
      }.groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).min }
      for (t <- warmTables)
        graft.Tables.table(spark, dir, t).unpersist()
      r
    }
    val base = timeAll(baseDir)
    val canary = timeAll(outDir)
    println(f"[canary] ${"query"}%-20s ${"base_s"}%8s ${"x" + factor + "_s"}%8s ${"ratio"}%7s")
    queries.foreach { q =>
      val b = base(q); val c = canary(q)
      println(f"[canary] $q%-20s $b%8.2f $c%8.2f ${c / b}%7.2f")
    }
    val tb = base.values.sum; val tc = canary.values.sum
    println(f"[canary] ${"TOTAL"}%-20s $tb%8.2f $tc%8.2f ${tc / tb}%7.2f (factor $factor)")
    // Peak heap across every pool the JVM tracked — the first place a
    // collected-feed or driver-side-loop regression would surface at a
    // new decade.
    val peak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    println(f"[canary] driver peak heap ${peak / 1e9}%.2f GB")
    spark.stop()
  }

  private def build(spark: SparkSession, base: String, out: String,
      f: Int, grow: Set[String]): Unit = {
    // The marker records WHAT was synthesized — a stale corpus from a
    // different base/factor/table-set silently reused would produce wrong
    // growth ratios (ADVICE r8). `gen` versions the synthesis SEMANTICS:
    // bump it whenever the generator's output changes for the same
    // (base, factor, grow) — e.g. gen=2 added the second-revolution
    // negation for embedding factors >64 — so corpora built by an older
    // generator are rebuilt instead of silently reused (ADVICE r9).
    val stamp =
      s"gen=2 base=$base factor=$f grow=${grow.toSeq.sorted.mkString(",")}"
    val marker = Paths.get(out, "_CANARY_OK")
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == stamp) return
    graft.util.TempDirs.deleteRecursively(Paths.get(out))
    Files.createDirectories(Paths.get(out))
    def blowup(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until f).map(k => copy(df, k)).reduce(_.unionByName(_))

    if (grow("documents"))
      blowup(graft.Tables.documents(spark, base)) { (d, k) =>
        val text =
          if (k == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            w => concat(lit(s"c${k}x"), w)), " ")
        d.select((col("doc_id") * f + k).as("doc_id"), text.as("text"),
          col("lang"), col("source"), length(text).cast("long").as("n_chars"))
      }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    if (grow("embeddings"))
      blowup(graft.Tables.embeddings(spark, base)) { (e, k) =>
        val r = k % 64
        val rot =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r))
        // the ENTIRE second revolution (k >= 64) negates — negating only
        // the wrap copy would make copy k an exact duplicate of copy
        // k-64 for every k in 65..127 (same rotation, same sign), the
        // very cos=1 degeneration the rotation exists to avoid; negated
        // rotations are distinct from un-negated ones and from each
        // other, so all 128 copies stay pairwise distinct
        val v = if (k >= 64) transform(rot, x => -x) else rot
        e.select((col("vec_id") * f + k).as("vec_id"), v.as("embedding"),
          col("label"))
      }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (grow("customer"))
      blowup(graft.Tables.customer(spark, base)) { (c, k) =>
        c.withColumn("c_custkey", col("c_custkey") * f + k)
      }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    if (grow("lineitem"))
      blowup(graft.Tables.lineitem(spark, base)) { (l, k) =>
        l.withColumn("l_orderkey", col("l_orderkey") * f + k)
      }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // everything not synthesized above (grow only ever names the four
    // growable tables) links to the base file
    for (t <- Seq("region", "nation", "supplier", "part", "orders", "events",
        "documents", "embeddings", "customer", "lineitem") if !grow(t)) {
      val link = Paths.get(out, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(base, s"$t.parquet"))
    }
    Files.write(marker, stamp.getBytes("UTF-8"))
  }
}
