package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Replays the events table through the REAL Structured-Streaming path —
  * MemoryStream-fed micro-batches driving the watermarked operators in
  * [[Streams]] — so the streaming code is hash-gated by the driver's
  * DuckDB oracle every round, not just spec-checked (SURVEY §2b E7; the
  * q_window_tumbling / q_session_window batch twins are the oracles).
  *
  * Replay shape, and why it is honest:
  *   - rows feed in EVENT-TIME ORDER, sliced into `nSlices` micro-batches
  *     with a `processAllAvailable` barrier between slices, so the
  *     watermark advances batch-over-batch exactly as a live source would
  *     move it. Time-ordered slicing also guarantees no row is ever
  *     older than the watermark (watermark after slice i = max(ts ≤ i) −
  *     delay < min(ts in slice i+1)), so append mode drops nothing and
  *     the streaming answer must equal the batch aggregate — any state
  *     store / eviction / window-merge defect surfaces as a hash
  *     mismatch.
  *   - two far-future SENTINEL batches close the stream: the first
  *     advances the watermark past every real window's end, the second
  *     is the data batch that finalizes emission even if the engine's
  *     no-data-batch flush does not fire. Sentinel rows carry
  *     user_id = −1 / event_type "__wm" and are filtered from the
  *     RESULT (post-aggregation), never from the stream — filtering
  *     before the watermark node would stop them advancing it.
  *   - the driver-side collect is the MemoryStream feed itself, bounded
  *     by the replay corpus (the gate's sf tables). That is the test
  *     harness's shape, not the production plan: at 100 TB the same
  *     [[Streams]] operators run unchanged over `readStream` on a file /
  *     Kafka source (they take the source frame as an argument), and the
  *     memory sink becomes a real sink. What this gate certifies is the
  *     streaming OPERATOR semantics — watermark advancement, state
  *     bounds, window close — which are source-independent.
  */
object Replay {

  /** Feed `rows` (already event-time-sorted) through `build`'s streaming
    * plan in `nSlices` micro-batches + 2 sentinel batches; return the
    * result table (`mode` matches the plan: "append" for watermarked
    * aggregations/dedup/flatMapGroupsWithState-append, "update" for
    * running-state emitters). `stateStoreProvider` optionally pins
    * spark.sql.streaming.stateStore.providerClass for THIS stream (it is
    * captured at query start, so the scoped set/restore is exact) — the
    * RocksDB gates run the same operators on the disk-backed store a
    * 100 TB streaming deployment needs instead of the on-heap default. */
  private def run(spark: SparkSession, rows: Array[Event], nSlices: Int,
      sinkName: String, mode: String,
      build: DataFrame => DataFrame,
      stateStoreProvider: Option[String] = None): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    val mem = MemoryStream[Event]
    // a stale memory-sink table from an earlier run in this session
    // would otherwise shadow the new sink's registration
    spark.catalog.dropTempView(sinkName)
    val q = startScoped(spark, stateStoreProvider)(
      build(mem.toDF())
        .writeStream.format("memory").queryName(sinkName)
        .outputMode(mode).start())
    try {
      if (rows.nonEmpty) {
        val maxTs = rows.last.ts.getTime
        val per = math.max(1,
          math.ceil(rows.length.toDouble / sliceDial(spark, nSlices)).toInt)
        rows.grouped(per).foreach { slice =>
          mem.addData(slice.toSeq)
          q.processAllAvailable()
        }
        // sentinels: +2h clears every 1h window end and every 30min session
        // gap plus the 10min watermark delay; the second batch (+3h) forces
        // a data batch AFTER the watermark passed all real state
        Seq(2L, 3L).foreach { h =>
          mem.addData(Event(-h, new Timestamp(maxTs + h * 3600L * 1000L),
            -1L, "__wm", 0.0))
          q.processAllAvailable()
        }
      } else {
        // ZERO events (degen `empty` corpus): the stream still starts and
        // the memory sink registers — an empty landing feed is a legal
        // stream whose answer is the batch twin's (empty), not an error
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(sinkName)
  }

  /** The gate's COVERAGE dial, shared by every replay runner so the
    * harness assumptions cannot drift between them: batch-boundary
    * coverage (state chaining, watermark advancement) needs many batches,
    * not many rows per batch — the correctness gate replays the default.
    * The bench cuts it via the session conf graft.replay.slices —
    * Bench.scala is the single source of truth for the bench value
    * (currently 2, the minimum that still crosses a batch boundary):
    * per-trigger planning + state-store IO is the replay harness's
    * floor, ~0.4–0.7 s/trigger, and fewer triggers exercise the same
    * transitions while the oracles are slice-count-invariant
    * (time-ordered slicing drops nothing at any count). */
  private def sliceDial(spark: SparkSession, default: Int): Int = {
    val n = spark.conf.getOption("graft.replay.slices").map(_.toInt)
      .getOrElse(default)
    // fail LOUDLY on a nonsense dial: slices < 1 would make fileTumbling
    // bucket every row into __slice = -1 (a directory the flattening
    // loop never moves into the landing dir) and the stream would
    // "succeed" on sentinel files alone — an empty result recorded as a
    // fast pass (ADVICE r11)
    require(n >= 1, s"graft.replay.slices=$n must be >= 1")
    n
  }

  /** Start a streaming query under REPLAY-SCOPED session confs, restoring
    * them right after stream start (all are captured at query start, so
    * the scoped set/restore is exact). Shared by every runner:
    *  - state width 4: the state-store partition count is pinned at
    *    stream start from spark.sql.shuffle.partitions, and every
    *    micro-batch pays per-partition delta-file IO — at replay corpus
    *    sizes 4 partitions hold the state comfortably and cut the
    *    per-batch floor (a production stream sizes this to its key
    *    cardinality instead);
    *  - no-data micro-batches OFF (r12): with them on, every
    *    `processAllAvailable` barrier runs the data batch AND a trailing
    *    empty batch to flush watermark-closed windows — doubling the
    *    per-trigger floor. The replay design has never depended on that
    *    flush: the SECOND far-future sentinel exists precisely to be
    *    "the data batch that finalizes emission even if the engine's
    *    no-data-batch flush does
    *    not fire" (see the object scaladoc), so every runner's result is
    *    identical with the flag off — the oracles hash-gate exactly that.
    *    Scoped to replay streams only; nothing global changes;
    *  - the optional state-store provider class (the RocksDB gates). */
  private def startScoped(spark: SparkSession, provider: Option[String])
      (start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // synchronized: the save→set→start→restore sequence mutates SESSION
    // conf, which is shared across threads — two replays starting
    // concurrently in one session (the ConcurrencyGate shape) would
    // otherwise interleave (B saves A's scoped value as "previous" and
    // "restores" it permanently — a leaked conf). The lock covers only
    // query START (plan + conf capture), never execution.
    Replay.synchronized {
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      // changelog checkpointing: commit per-batch DELTAS to the
      // checkpoint location instead of full RocksDB snapshots — the
      // recommended production setting for RocksDB state stores (it cuts
      // per-commit IO from O(state) to O(delta)); scoped alongside the
      // provider so the on-heap gates are untouched
      val changelogKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val prevProvider = spark.conf.getOption(providerKey)
      val prevNoData = spark.conf.getOption(noDataKey)
      val prevChangelog = spark.conf.getOption(changelogKey)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set(noDataKey, "false")
      provider.foreach { p =>
        spark.conf.set(providerKey, p)
        spark.conf.set(changelogKey, "true")
      }
      try start
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevNoData match {
          case Some(v) => spark.conf.set(noDataKey, v)
          case None => spark.conf.unset(noDataKey)
        }
        if (provider.isDefined) {
          prevProvider match {
            case Some(v) => spark.conf.set(providerKey, v)
            case None => spark.conf.unset(providerKey)
          }
          prevChangelog match {
            case Some(v) => spark.conf.set(changelogKey, v)
            case None => spark.conf.unset(changelogKey)
          }
        }
      }
    }

  /** The replayed corpus is CAPPED at a constant row count: MemoryStream
    * is definitionally driver-fed, so an uncapped feed would make the
    * GATE's driver collect grow with SF even though the operators under
    * test are fully distributed. The cap is the first `FeedCap` rows in
    * (ts, event_id) order — a total order, so the subset is deterministic
    * and exactly expressible as the oracles' `ORDER BY ts, event_id LIMIT`
    * CTE. At the sf0.01 correctness gate the events table IS 10 000 rows,
    * so the cap is the identity there; at bench/canary SFs it pins the
    * replay harness's wall time and driver footprint to a constant. The
    * file-source twin (q_stream_file) stays uncapped — it never collects. */
  final val FeedCap = 10000

  /** The batch-side frame matching the capped replay corpus — q_stream_*
    * queries that join streamed results against batch aggregates must
    * aggregate over THIS frame, not the full table. */
  def cappedEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("ts", "event_id")
      .limit(FeedCap)

  private def eventRows(spark: SparkSession, dir: String): Array[Event] = {
    import spark.implicits._
    // TakeOrderedAndProject: the executors compute per-partition top-N and
    // the driver merges N rows — the collect is bounded by FeedCap on any
    // corpus size, never by the table.
    cappedEvents(spark, dir).as[Event].collect()
  }

  /** [[Streams.tumblingByType]] over the replayed events table — the
    * streaming twin of q_window_tumbling, minus the sentinel's window. */
  def tumbling(spark: SparkSession, dir: String, nSlices: Int = 8): DataFrame =
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_tumbling",
      "append", Streams.tumblingByType)
      .filter(col("event_type") =!= "__wm")

  /** RocksDB state-store provider class, by NAME: the class is resolved
    * reflectively at stream start (rocksdbjni ships with Spark), so this
    * file carries no compile-time dependency on the provider. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** [[tumbling]] on the RocksDB state store — the disk-backed provider a
    * 100 TB stream runs (on-heap HDFSBackedStateStore state is bounded by
    * executor heap; RocksDB spills state to local disk + changelog). Same
    * operators, same batch oracle: provider-dependent results would be a
    * state-store defect, and this gate turns one into a hash mismatch. */
  def tumblingRocksDb(spark: SparkSession, dir: String,
      nSlices: Int = 8): DataFrame =
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_tumbling_rdb",
      "append", Streams.tumblingByType, Some(RocksDbProvider))
      .filter(col("event_type") =!= "__wm")

  /** [[Streams.sessionsByUser]] over the replayed events table — the
    * streaming twin of q_session_window, minus the sentinel's session. */
  def sessions(spark: SparkSession, dir: String, nSlices: Int = 8): DataFrame =
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_sessions",
      "append", Streams.sessionsByUser)
      .filter(col("user_id") >= 0)

  /** [[Streams.slidingByType]] over the replayed events table — the
    * streaming twin of q_window_sliding. */
  def sliding(spark: SparkSession, dir: String, nSlices: Int = 8): DataFrame =
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_sliding",
      "append", Streams.slidingByType)
      .filter(col("event_type") =!= "__wm")

  /** [[Streams.dedupById]] under adversarial input: every third event is
    * re-fed 2 minutes later as a full duplicate row (same event_id,
    * shifted ts — inside the 10-minute watermark, so the state store
    * MUST still hold the id and drop it). The duplicates are ordinary
    * rows, never filtered from the result: a dedup defect surfaces as
    * extra rows with shifted timestamps, which the row-count/hash gate
    * catches — nothing is hidden. Surviving rows = the original events
    * table exactly. */
  def dedup(spark: SparkSession, dir: String, nSlices: Int = 8): DataFrame =
    dedupOn(spark, dir, nSlices, "graft_replay_dedup", None)

  /** [[dedup]] on the RocksDB state store (see [[tumblingRocksDb]]) —
    * dropDuplicatesWithinWatermark is the heaviest state-store user in
    * the family (one key per event id), so it is the right second gate. */
  def dedupRocksDb(spark: SparkSession, dir: String,
      nSlices: Int = 8): DataFrame =
    dedupOn(spark, dir, nSlices, "graft_replay_dedup_rdb",
      Some(RocksDbProvider))

  private def dedupOn(spark: SparkSession, dir: String, nSlices: Int,
      sinkName: String, provider: Option[String]): DataFrame = {
    val rows = eventRows(spark, dir)
    val dups = rows.filter(_.event_id % 3 == 0)
      .map(e => e.copy(ts = new Timestamp(e.ts.getTime + 120000L)))
    val replay = (rows ++ dups).sortBy(e => (e.ts.getTime, e.event_id))
    run(spark, replay, nSlices, sinkName, "append",
      Streams.dedupById, provider)
      .filter(col("event_type") =!= "__wm")
  }

  /** [[Stateful.eventTransitions]] (flatMapGroupsWithState, append) over
    * the replayed events — per-user adjacent event-type pairs whose
    * chain must survive micro-batch boundaries via the carried
    * one-event state. Pair multiset equals the batch lag-window form
    * for any time-ordered slicing. */
  def transitions(spark: SparkSession, dir: String,
      nSlices: Int = 8): DataFrame = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_transitions",
      "append", df => Stateful.eventTransitions(df.as[Event]).toDF())
      .filter(col("user_id") >= 0)
  }

  /** [[Streams.tumblingByType]] fed by the FILE-STREAMING source — the
    * production path MemoryStream stands in for everywhere else: the
    * events table is sliced by event time into parquet files (ascending
    * modification times, one file per micro-batch via
    * maxFilesPerTrigger=1) plus two far-future sentinel files, and
    * `readStream.parquet` discovers them exactly as a live landing
    * directory would. Gates FileStreamSource's listing/offset tracking +
    * the same watermarked aggregation the MemoryStream twin gates —
    * one gate per source family. */
  def fileTumbling(spark: SparkSession, dir: String,
      nSlicesDefault: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions._
    // Same COVERAGE dial as the MemoryStream replays (r11 optimization):
    // the bench's graft.replay.slices=2 previously only reached the
    // MemoryStream runners, so this gate alone paid 6 file triggers
    // (4 data + 2 sentinel) where the methodology says 2 data slices
    // already cross a batch boundary. The oracle (full-table batch
    // aggregate) is slice-count-invariant; the correctness sweep sets no
    // dial and keeps the 4-slice default.
    val nSlices = sliceDial(spark, nSlicesDefault)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val Array(row) = ev.agg(min(unix_millis(col("ts"))),
      max(unix_millis(col("ts")))).collect()
    if (row.isNullAt(0)) {
      // ZERO events: an empty landing directory is a legal stream — the
      // file source lists nothing, zero batches run, and the sink is the
      // batch twin's empty result (degen `empty` corpus), not an error
      val streamDir = graft.util.TempDirs.scratch("graft-filestream-")
      val sinkName = "graft_replay_file_tumbling"
      spark.catalog.dropTempView(sinkName)
      val q = startScoped(spark, None)(
        Streams.tumblingByType(
          spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(streamDir.toString))
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("append").start())
      try q.processAllAvailable() finally q.stop()
      graft.util.TempDirs.cleanNow(streamDir)
      return spark.table(sinkName).filter(col("event_type") =!= "__wm")
    }
    val (minMs, maxMs) = (row.getLong(0), row.getLong(1))
    val span = math.max(1L, maxMs - minMs + 1)
    // equal TIME-RANGE slices (not equal-row): slice order is event-time
    // order by construction, so the watermark-safety argument of the
    // MemoryStream replays carries over verbatim
    val sliced = ev.withColumn("__slice",
      least(lit(nSlices - 1),
        floor((unix_millis(col("ts")) - minMs) * nSlices / span))
        .cast("int"))
    val sentinels = Seq(2, 3).map { h =>
      (-h.toLong, new Timestamp(maxMs + h * 3600L * 1000L), -1L, "__wm",
        0.0, nSlices + h - 2)
    }
    import spark.implicits._
    val all = sliced.unionByName(sentinels
      .toDF("event_id", "ts", "user_id", "event_type", "value", "__slice"))
    // ONE write job for every micro-batch file (a per-slice write loop
    // was 6 scheduler jobs and dominated the query's cost); the slice
    // directories then flatten into a landing dir with ascending mtimes
    // so FileStreamSource (which lists by modification time) processes
    // them in event-time order even on coarse filesystem clocks.
    val scratch = graft.util.TempDirs.scratch("graft-filestream-w-")
    all.repartition(col("__slice")).write.mode("overwrite")
      .partitionBy("__slice").parquet(scratch.toString)
    val streamDir = graft.util.TempDirs.scratch("graft-filestream-")
    // a time range with no events writes no directory — legal (that
    // trigger simply never happens)
    for (i <- 0 until nSlices + 2;
        sdir = scratch.resolve(s"__slice=$i")
        if java.nio.file.Files.isDirectory(sdir)) {
      val parts = java.nio.file.Files.list(sdir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      parts.zipWithIndex.foreach { case (part, j) =>
        val dest = streamDir.resolve(f"slice_$i%03d_$j.parquet")
        java.nio.file.Files.move(part, dest)
        // ascending mtimes are the PREMISE of the watermark-safety
        // argument (FileStreamSource lists by modification time) — a
        // filesystem that refuses the stamp must fail the gate loudly,
        // not let it go order-flaky
        require(dest.toFile.setLastModified(1700000000000L + i * 60000L),
          s"setLastModified failed for $dest — cannot pin landing order")
      }
    }
    graft.util.TempDirs.cleanNow(scratch)
    val sinkName = "graft_replay_file_tumbling"
    spark.catalog.dropTempView(sinkName)
    // same replay-scoped state width as the MemoryStream runner
    val q = startScoped(spark, None)(
      Streams.tumblingByType(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir.toString))
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start())
    try q.processAllAvailable() finally q.stop()
    // the memory sink is materialized once the stream stops — the landing
    // dir is dead weight from here
    graft.util.TempDirs.cleanNow(streamDir)
    spark.table(sinkName).filter(col("event_type") =!= "__wm")
  }

  /** [[Streams.clicksAfterViews]] — the STREAM-STREAM interval join —
    * replayed through two MemoryStreams fed in event-time lockstep: the
    * capped corpus is sliced by the same global (ts, event_id) order as
    * every other replay, and each micro-batch adds that slice's clicks to
    * one stream and its views to the other before the
    * `processAllAvailable` barrier. Both sources advance their watermarks
    * together (the engine's global watermark is the min over sources), so
    * the single-stream watermark-safety argument carries over: no input
    * row is ever older than the global watermark, and a buffered view is
    * evicted only after the watermark passes `view_ts + 1h` — by which
    * point every click it could match (all have `click_ts ≤ view_ts + 1h`)
    * arrived in an earlier slice and was joined. Inner-join results emit
    * in the micro-batch the match is found, so the answer must equal the
    * batch join over the same corpus — which is exactly the oracle, and
    * also why this replay needs NO closing sentinels (see the inline
    * note: the watermark gates eviction, never inner-match emission). */
  def joinClicksViews(spark: SparkSession, dir: String,
      nSlices: Int = 8): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    val rows = eventRows(spark, dir) // may be EMPTY: zero slices, empty sink
    val cMem = MemoryStream[Event]
    val vMem = MemoryStream[Event]
    val sinkName = "graft_replay_join"
    spark.catalog.dropTempView(sinkName)
    // the join buffers both sides in the state store, partitioned by
    // user_id — same replay-scoped width as the single-stream runner
    val q = startScoped(spark, None)(
      Streams.clicksAfterViews(cMem.toDF(), vMem.toDF())
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start())
    try {
      val per = math.max(1,
        math.ceil(rows.length.toDouble / sliceDial(spark, nSlices)).toInt)
      rows.grouped(per).foreach { slice =>
        // non-click/view rows belong to neither stream; an empty add is a
        // legal (rowless) MemoryStream block and the barrier still runs
        cMem.addData(slice.filter(_.event_type == "click").toSeq)
        vMem.addData(slice.filter(_.event_type == "view").toSeq)
        q.processAllAvailable()
      }
      // No closing sentinels, BY THE JOIN'S SEMANTICS: an INNER
      // stream-stream join emits a matched pair in the micro-batch the
      // match arrives (the watermark gates state EVICTION and outer-side
      // NULL emission, never inner-match emission), so after the last
      // slice's barrier every pair is already in the sink. Eviction
      // itself is exercised by the watermark advancing across the real
      // slices. The aggregation/dedup replays DO need their sentinels —
      // append mode holds a window's row until the watermark passes it.
    } finally q.stop()
    spark.table(sinkName)
  }

  /** STREAM-STATIC enrichment join through the replay harness: each
    * streamed event left-outer-joins the broadcast customer dimension
    * (filtered to one segment so the outer path genuinely emits null
    * enrich columns). Structured Streaming runs stream-static joins
    * STATELESS — every micro-batch joins against the static table, no
    * state store, no watermark — which is why this is the 100 TB shape
    * for feature enrichment against a profile/dimension store: the dim
    * broadcasts once per micro-batch and the stream never buffers.
    * [[Streams.corpusPostingMatches]] and [[Streams.hammingMatches]] are
    * the same operator class (stream-static equi-join, spec-proven); this
    * gate hash-certifies the class end-to-end against the batch oracle. */
  def enrich(spark: SparkSession, dir: String, nSlices: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val dim = graft.Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_enrich",
      "append", st => st.join(broadcast(dim),
          st("user_id") === dim("c_custkey"), "left_outer")
        .select(st("event_id"), st("ts"), st("user_id"), st("event_type"),
          st("value"), dim("c_name"), dim("c_acctbal")))
      .filter(col("event_type") =!= "__wm")
  }

  /** [[Stateful.runningUserTotals]] (flatMapGroupsWithState, UPDATE
    * mode) over the replayed events — per-user running totals whose
    * final emission must equal the batch aggregate. Returns every
    * update; the caller keeps each user's last (max n_events) row. */
  def totals(spark: SparkSession, dir: String, nSlices: Int = 8): DataFrame = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    run(spark, eventRows(spark, dir), nSlices, "graft_replay_totals",
      "update", df => Stateful.runningUserTotals(df.as[Event]).toDF())
      .filter(col("user_id") >= 0)
  }
}
