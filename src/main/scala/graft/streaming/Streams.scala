package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, explode, expr, lit, size}
import graft.ops.Windows

/** Structured-Streaming twins of the batch event queries (SURVEY §2b E7).
  * Each applies a watermark (bounding state for append-mode sinks) and
  * delegates to the SHARED aggregation bodies in graft.ops.Windows — the
  * batch queries call the same functions, so batch and streaming semantics
  * cannot drift. StreamingSpec drives these through MemoryStream and
  * cross-checks against the batch results on identical data.
  *
  * Scale: watermark + tumbling window is Spark's bounded-state path — the
  * state store holds only open windows per key; session windows merge on
  * overlap with the same bound.
  */
object Streams {

  /** Streaming twin of q_window_tumbling: 1-hour tumbling counts/sums per
    * event type, 10-minute watermark for late data. */
  def tumblingByType(events: DataFrame): DataFrame =
    Windows.tumblingByType(events.withWatermark("ts", "10 minutes"))

  /** Streaming twin of q_session_window: native 30-minute-gap session
    * windows per user. */
  def sessionsByUser(events: DataFrame): DataFrame =
    Windows.sessionWindowByUser(events.withWatermark("ts", "10 minutes"))

  /** Streaming twin of q_window_sliding: 1-hour windows sliding every
    * 15 minutes. */
  def slidingByType(events: DataFrame): DataFrame =
    Windows.slidingByType(events.withWatermark("ts", "10 minutes"))

  /** Streaming exact dedup (the training-pipeline ingest primitive —
    * the stream sibling of Dedup.exact): keep the first event per id,
    * with state bounded by the watermark instead of growing forever.
    * Duplicates arriving within the watermark delay are dropped; the
    * state store evicts ids once the watermark passes them. */
  def dedupById(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream inner join: pair each click with the views
    * the same user produced in the preceding hour — the canonical
    * two-stream event-time join. BOTH inputs carry watermarks and the
    * join predicate bounds event time on BOTH sides; together they let
    * the state store evict buffered rows once the watermark passes the
    * range, which is what keeps a stream-stream join's state finite.
    * Without the time-range predicate Spark would (rightly) have to
    * buffer both streams forever. Works unchanged on batch frames
    * (withWatermark is a no-op there) — StreamingSpec uses the batch
    * result as the oracle. */
  def clicksAfterViews(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("click_id"),
        col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val v = views.withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("view_id"),
        col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    c.join(v,
        col("c_user") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("interval 1 hour"))
      .select(col("click_id"), col("view_id"),
        col("c_user").as("user_id"), col("click_ts"), col("view_ts"))
  }

  /** Streaming twin of q_hash_split: route an ingest stream into
    * train/valid/test by the deterministic key hash (graft.ops.Router —
    * the SAME expression the batch query uses). Stateless, so it needs no
    * watermark and adds no state store; determinism is what makes it
    * replay-safe — a reprocessed record always lands in the same split.
    * Downstream a `foreachBatch` (or partitionBy-on-write) fans the
    * routed stream out to per-split sinks. */
  def routeBySplit(records: DataFrame, keyCol: String): DataFrame =
    records.withColumn("split", graft.ops.Router.hashSplit(col(keyCol)))

  /** Stream-static posting probe: the streaming half of incremental
    * near-dup ([[graft.ops.Dedup.incrementalJaccardPairs]]) — an
    * in-flight document stream's exploded shingles equi-join the STATIC
    * corpus posting list. Structured Streaming runs a stream-static
    * inner join STATELESS (the static side is an ordinary table, nothing
    * buffers, append mode, no watermark), so this stage adds zero state
    * store; at 100 TB the static postings are the persisted inverted
    * index the batch dedup already maintains. The pair AGGREGATION
    * (count of shared shingles → Jaccard) is per-doc×corpus by
    * construction — no cross-batch state can exist — so production runs
    * it per micro-batch via `foreachBatch` on the batch operator itself;
    * StreamingSpec proves both halves equal their batch twins.
    *
    * `docs` needs (doc_id, blockCols…, sh) with distinct shingles;
    * `corpus` the same, static. Output: one row per (stream doc, corpus
    * doc, shared shingle). The posting projection is
    * [[graft.ops.Dedup.postings]] — the SAME builder the batch
    * incremental join uses, so the two halves cannot drift. */
  def corpusPostingMatches(docs: DataFrame, corpus: DataFrame,
      blockCols: Seq[String] = Seq("lang")): DataFrame =
    graft.ops.Dedup.postings(docs, "doc_id", "sh", blockCols, "new")
      .join(graft.ops.Dedup.postings(corpus, "doc_id", "sh", blockCols, "old"),
        blockCols :+ "__sh")

  /** Streaming perceptual-hash matcher: incoming image hashes (a stream
    * of (key, hash) rows, e.g. [[graft.multimodal.Multimodal
    * .averageHash]] output) probe a STATIC corpus of known hashes via
    * the band-equality blocking of [[graft.ops.Similarity.hammingPairs]]
    * — the same [[graft.ops.Similarity.hashBands]] projection builds
    * both sides, so the stream and batch halves cannot drift. The
    * corpus side pre-drops buckets above `maxBucket` (a STATIC
    * computation — the stream side needs no global counts and carries
    * NO state: stream-static joins are stateless in Structured
    * Streaming). One row per (new, old, matching band) with the exact
    * Hamming distance — the [[corpusPostingMatches]] contract; the
    * consumer dedups or aggregates downstream. */
  def hammingMatches(stream: DataFrame, corpus: DataFrame,
      bands: Int, bandBits: Int, maxHam: Int,
      maxBucket: Int = 1024): DataFrame = {
    import graft.ops.Similarity.hashBands
    val corpusBands = hashBands(corpus, "key", "hash", bands, bandBits)
    val keep = corpusBands.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= maxBucket)
      .select("band_idx", "band_val")
    val old = corpusBands.join(keep, Seq("band_idx", "band_val"))
      .select(col("band_idx"), col("band_val"),
        col("k").as("key_old"), col("h").as("hash_old"))
    hashBands(stream, "key", "hash", bands, bandBits)
      .select(col("band_idx"), col("band_val"),
        col("k").as("key_new"), col("h").as("hash_new"))
      .join(old, Seq("band_idx", "band_val"))
      .filter(col("key_new") =!= col("key_old"))
      .withColumn("hamming",
        expr("CAST(bit_count(hash_new ^ hash_old) AS INT)"))
      .filter(col("hamming") <= maxHam)
      .select("key_new", "key_old", "band_idx", "hamming")
  }

  /** Streaming data-quality monitor: the stream sibling of
    * graft.ops.Quality.checkBlock — per-window violation counts for a
    * rule set, maintained as ONE watermarked tumbling aggregate (each
    * rule is a conditional sum column, so adding a rule never adds
    * state). This is the live version of the batch DQ report: a
    * dashboard reads the per-window rows; an alert fires when
    * n_violations/n_checked jumps. */
  def qualityMonitor(events: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    import org.apache.spark.sql.functions.window
    // the SAME rule-to-aggregate builder the batch DQ report uses —
    // batch and stream cannot drift on rule semantics
    val aggs = graft.ops.Quality.ruleAggs(checks, "n_checked", "v_")
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        (col("window.start").as("window_start") +: col("n_checked") +:
          checks.map { case (nm, _) => col(s"v_$nm") }): _*)
  }

  /** Streaming twin of the FLAGSHIP GSOD ETL (q_gsod_e2e's parse+rollup):
    * raw fixed-layout text lines arrive as a stream (a file tail, a
    * socket, an archive unpacker's output) and flow through the EXACT
    * batch parse — [[graft.ingest.GsodParser.parseLines]] is a stateless
    * per-line typed flatMap, plan-identical under micro-batching — into a
    * per-station-month rollup.
    *
    * The rollup aggregate differs from batch BY DESIGN: the reference's
    * exact median is not a mergeable streaming aggregate (its state is
    * the full value buffer — unbounded), so the streaming form uses
    * `percentile_approx` (GK sketch: bounded, mergeable state — the same
    * exact→approx swap SURVEY §2a A1 already prescribes for the 100 TB
    * batch path). StreamingSpec pins streamed == batch for the SAME
    * percentile_approx aggregate; the exact-median batch form remains
    * q_gsod_e2e's gate. Complete output mode: the station-month key
    * space is small and closed (stations × months), so complete-mode
    * state is a few thousand sketch rows even at 100 TB of observations. */
  def gsodMonthlyApprox(lines: DataFrame): DataFrame = {
    val obs = graft.ingest.GsodParser.parseLines(lines.sparkSession, lines)
    obs.groupBy(col("usaf"), col("wban"), col("year"), col("month"))
      .agg(
        expr("percentile_approx(temp, 0.5, 1000)").as("temp_med"),
        expr("percentile_approx(prcp, 0.5, 1000)").as("prcp_med"),
        expr("count(temp)").as("n_temp"),
        expr("count(1)").as("n_obs"))
  }

  /** Streaming twin of q_geo_grid_agg: the map's heat layer maintained
    * live over a point stream. Delegates to the SAME
    * [[graft.ops.Geo.gridAggregate]] body the batch query runs, so the
    * two cannot drift; every aggregate in it (count/min/max/sum) is
    * mergeable, and state is one row per OCCUPIED grid cell — bounded by
    * the grid, not the stream. */
  def gridDensity(points: DataFrame, cellSize: Long): DataFrame =
    graft.ops.Geo.gridAggregate(points, cellSize)
}
