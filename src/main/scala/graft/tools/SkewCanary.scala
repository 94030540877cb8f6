package graft.tools

import graft.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Adversarial-SKEW canary (VERDICT r8 item 1 — the claim the organic
  * 10× ScaleCanary does not cover): real 100 TB corpora are not uniform,
  * they are Zipf-headed. This tool synthesizes a skewed twin of the base
  * SF dir carrying the five classic hazards and times the exposed
  * families on both corpora, exiting nonzero when any family's wall
  * growth exceeds its documented bound — the scriptable-gate shape of
  * PlanSweep, for skew instead of plan nodes.
  *
  * Injected hazards (all deterministic):
  *  - HEAD SHINGLE, df ≈ corpus: five constant tokens appended to EVERY
  *    document — the full-hot shingle's posting list is the whole corpus.
  *    The df-cap (ops/Dedup.scala posting pruning) must drop it from
  *    candidate generation or the posting join is Σdf² = N².
  *  - 10⁴-CLONE near-dup cluster: doc 0's text replicated 10 000 times,
  *    each copy one unique trailing token (near-dups, not exact; same
  *    lang, so they share a block). MinHash/SimHash bands put all 10⁴ in
  *    the same buckets — the band-bucket caps must bound the candidate
  *    pairs or LSH verifies 10⁸ pairs.
  *  - ONE MEGA-DOCUMENT: ~100× the mean length (distinct tokens, df=1
  *    each) — stresses per-row tokenize/shingle compute and memory, not
  *    the join graph.
  *  - HOT user_id: one user carries 50 % of events (same row count as
  *    base) — per-user windows/sessions get one giant partition key;
  *    sort-based windows must spill-sort it, not OOM, and AQE handles
  *    the shuffle skew.
  *  - POWER-LAW basket: one part appears in ~30 % of lineitem rows (same
  *    row count) — the co-occurrence head pair count is hub², the
  *    support-floor/per-item caps must keep the pair space bounded.
  *  - DUPLICATE-VECTOR cluster: vec 0's embedding replicated 10⁴ times
  *    (exact copies, fresh vec_ids) — cosine-1 with everything in the
  *    group, so an uncollapsed semantic-dedup pair stage pays m²/2;
  *    Similarity.semDedup's exact-duplicate collapse must keep pair
  *    work over DISTINCT vectors (the brute-force top-k rides as the
  *    linear control).
  *
  * Row-count context for the bounds: documents grows 5 000 → 15 001
  * (3.0×) from the clone cluster + mega-doc; events and lineitem keep
  * their base row counts. A family bound is therefore "skewed/base wall
  * ratio ≤ bound", where the bound is the measured ratio plus headroom —
  * the gate exists to catch the f² BLOWUP failure mode (50–1000×), not
  * 20 % drift.
  *
  * Usage: runMain graft.tools.SkewCanary <baseSfDir> [outDir]
  */
object SkewCanary {

  /** (name, family, bound on skew/base wall ratio, runner). Bounds are
    * the r9 measured ratios (SURVEY §21 table) with ≥2× headroom.
    *
    * WHICH paths are gated — only the ones whose DESIGN claims bounded
    * work under skew. Deliberately NOT here: the exhaustive-pair queries
    * (q_prefix_join, q_dedup_minhash, q_dedup_simhash, q_dedup_clusters,
    * q_dedup_eval) whose no-false-negative contract makes the CORRECT
    * output Θ(clones²) pairs on a clone cluster — exhaustive truth over
    * a 10⁴-clone cluster is 5·10⁷ genuine pairs, and no plan makes the
    * right answer small. A 100 TB dedup run over clone-heavy data uses
    * the capped paths below (then components), exactly as Lee et al.'s
    * dedup and every web-scale pipeline do. */
  private type Runner = (SparkSession, String) => Long
  private def q(name: String): Runner =
    (s, dir) => graft.SparkEntry.queries(name)(s, dir).count()
  /** The band-bucket-capped MinHash LSH path (ops/Dedup.minhashNearDups
    * maxBucket star-chaining) over the corpus's shingled docs — the
    * q_dedup_minhash OP at its gate operating point, timed WITHOUT the
    * exhaustive-truth join the gate query wraps around it. */
  private val minhashCapped: Runner = (s, dir) => {
    val sh = graft.Tables.fanOut(s, graft.Tables.documents(s, dir))
      .select(col("doc_id"),
        array_distinct(graft.ops.Text.shingles(
          graft.ops.Text.tokens(col("text")), 3)).as("sh"))
    graft.ops.Dedup.minhashNearDups(sh, "doc_id", "sh",
      k = 32, bandRows = 2, threshold = 0.2).count()
  }
  /** The large-large SHUFFLE-join shape under the power-law key: lineitem
    * equi-joins its own per-part aggregate on l_partkey with broadcast
    * DISABLED, so the hot part (~30 % of rows) lands in one sort-merge
    * join partition — the case the scaladoc's "AQE handles the shuffle
    * skew" claim covers, measured instead of asserted. The AQE skew-split
    * thresholds are scaled down to canary data sizes (the hot partition
    * is tens of MB here; production keeps the 256 MB default, which the
    * same 30 % share crosses at 100 TB), so the split machinery genuinely
    * fires. The engine's own joins prefer broadcast for dims
    * (q_abc_analysis &c.) — this runner certifies the fallback shape. */
  private val skewedSmj: Runner = (s, dir) => {
    val li = graft.Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity")
    val perPart = li.groupBy("l_partkey")
      .agg(sum("l_quantity").as("part_qty"))
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try li.join(perPart, "l_partkey").count()
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
  // Measured ratios (sf0.1, min-of-2, warm inputs) — r9: dfcap
  // 1.16–1.33, dfsplit 1.08–1.19, bandcap 2.21–2.78, hot-user 0.75–0.94,
  // hot-item 0.79–1.03, dup-vectors 1.04–1.07 (semDedup's exact-duplicate
  // collapse keeps pair work over DISTINCT vectors on a 6× corpus);
  // r10: bandcap 3.26 at the top of the band. The bandcap profile
  // (VERDICT r9 item 5): the skew corpus carries 3× the DOC ROWS by
  // construction (the 10⁴-clone cluster), and the capped path's wall is
  // LINEAR in rows — signature compute + banded postings dominate, and
  // base_s × 3 ≈ skew_s in every round (1.62 × 3 = 4.86 vs 5.28
  // measured; per-row ratio ≈ 1.1). The star-chain emit and components
  // join are minor terms. So the bandcap bound is row growth (3×) + ~65%
  // machinery/noise headroom = 5.0 (ADVICE r10: the measured ratio
  // drifted 2.21 → 2.78 → 3.26 across rounds on a shared machine, so the
  // r10 tightening to 4.0 left only ~23% headroom — a flake risk, not a
  // safety gain, when the gated failure mode (an uncapped f² blowup)
  // lands at 50–1000×, far past any bound).
  private val Gates: Seq[(String, String, Double, Runner)] = Seq(
    ("q_dedup_near", "doc-dfcap", 4.0, q("q_dedup_near")),
    ("q_weighted_jaccard", "doc-dfsplit", 4.0, q("q_weighted_jaccard")),
    ("op:minhash_capped", "doc-bandcap", 5.0, minhashCapped),
    ("q_session_window", "hot-user", 3.0, q("q_session_window")),
    ("q_event_transitions", "hot-user", 3.0, q("q_event_transitions")),
    ("q_item_cf", "hot-item", 3.0, q("q_item_cf")),
    ("q_itemsets", "hot-item", 3.0, q("q_itemsets")),
    ("op:skewed_smj", "hot-item", 3.0, skewedSmj),
    ("q_semdedup", "dup-vectors", 4.0, q("q_semdedup")),
    ("q_similarity_topk", "dup-vectors", 4.0, q("q_similarity_topk")))

  final val Clones = 10000

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val outDir = args.lift(1).getOrElse("/tmp/graft_skew_canary")
    val spark = Sessions.start()
    build(spark, baseDir, outDir)
    val passes = sys.env.getOrElse("SPARK_GRAFT_CANARY_PASSES", "2").toInt
    val warm = Seq("documents", "events", "lineitem", "embeddings")
    def timeAll(dir: String): Map[String, Double] = {
      for (t <- warm) graft.Tables.table(spark, dir, t).cache().count()
      val r = (1 to passes).flatMap { _ =>
        Gates.map { case (name, _, _, run) =>
          val t0 = System.nanoTime()
          run(spark, dir)
          name -> (System.nanoTime() - t0) / 1e9
        }
      }.groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).min }
      for (t <- warm) graft.Tables.table(spark, dir, t).unpersist()
      r
    }
    val base = timeAll(baseDir)
    val skew = timeAll(outDir)
    var failed = List.empty[String]
    println(f"[skew] ${"query"}%-22s ${"family"}%-12s ${"base_s"}%8s ${"skew_s"}%8s ${"ratio"}%7s ${"bound"}%6s")
    Gates.foreach { case (name, fam, bound, _) =>
      val b = base(name); val c = skew(name); val r = c / b
      val verdict = if (r <= bound) "ok" else { failed ::= name; "FAIL" }
      println(f"[skew] $name%-22s $fam%-12s $b%8.2f $c%8.2f $r%7.2f ≤$bound%5.1f $verdict")
    }
    val tb = base.values.sum; val tc = skew.values.sum
    println(f"[skew] ${"TOTAL"}%-22s ${""}%-12s $tb%8.2f $tc%8.2f ${tc / tb}%7.2f")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[skew] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  private def build(spark: SparkSession, base: String, out: String): Unit = {
    val stamp = s"base=$base clones=$Clones v3"
    val marker = Paths.get(out, "_SKEW_OK")
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == stamp) return
    graft.util.TempDirs.deleteRecursively(Paths.get(out))
    Files.createDirectories(Paths.get(out))

    // ---- documents: hot shingle on every row + clone cluster + mega-doc
    val hot = " zq0hot zq1hot zq2hot zq3hot zq4hot"
    val docs = graft.Tables.documents(spark, base)
    val withHead = docs.select(col("doc_id"),
      concat(col("text"), lit(hot)).as("text"),
      col("lang"), col("source"))
    // seed row for the clones — a bounded 1-row collect (a query
    // parameter, not data)
    val seed = docs.orderBy("doc_id").select("text", "lang", "source")
      .head()
    val (seedText, seedLang, seedSource) =
      (seed.getString(0), seed.getString(1), seed.getString(2))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val clones = spark.range(Clones.toLong).select(
      (col("id") + maxId + 1).as("doc_id"),
      concat(lit(seedText), lit(hot), lit(" uq"), col("id"), lit("zz"))
        .as("text"),
      lit(seedLang).as("lang"), lit(seedSource).as("source"))
    val megaTokens = 6000
    val mega = spark.range(1).select(
      lit(maxId + 1 + Clones).as("doc_id"),
      concat(
        aggregate(transform(sequence(lit(0), lit(megaTokens - 1)),
            i => concat(lit(" wmega"), i, lit("zz"))),
          lit(""), (acc, x) => concat(acc, x)),
        lit(hot)).as("text"),
      lit(seedLang).as("lang"), lit(seedSource).as("source"))
    withHead.unionByName(clones).unionByName(mega)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ---- events: one user carries 50% of rows (same count, same times)
    graft.Tables.events(spark, base)
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(2)) === 0, lit(999999L))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // ---- lineitem: one hot part in ~30% of rows (same count)
    val li = graft.Tables.lineitem(spark, base)
    val hotPart = li.agg(min("l_partkey")).head().getLong(0)
    li.withColumn("l_partkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
          lit(10L)) < 3, lit(hotPart)).otherwise(col("l_partkey")))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // ---- embeddings: 10^4 exact copies of vec 0 (fresh ids, same label)
    val emb = graft.Tables.embeddings(spark, base)
    val vec0 = emb.orderBy("vec_id").limit(1)
    emb.unionByName(vec0.crossJoin(
        spark.range(Clones.toLong).select((col("id") + 100000L).as("__nid")))
      .select(col("__nid").as("vec_id"), col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    for (t <- Seq("region", "nation", "supplier", "part", "orders",
        "customer")) {
      val link = Paths.get(out, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(base, s"$t.parquet"))
    }
    Files.write(marker, stamp.getBytes("UTF-8"))
  }
}
