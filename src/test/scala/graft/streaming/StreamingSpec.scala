package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The streaming twins produce the same answers as their batch forms when
  * fed identical data through MemoryStream (SURVEY §5: streaming has no
  * DuckDB oracle; the batch twin IS its oracle).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val data = Seq(
    Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.5),
    Ev(2, ts("2024-01-01 10:45:00"), 1, "click", 2.5),
    Ev(3, ts("2024-01-01 11:05:00"), 2, "view", 1.0),
    Ev(4, ts("2024-01-01 11:20:00"), 1, "click", 4.0),
    Ev(5, ts("2024-01-01 12:40:00"), 2, "view", 0.5))

  private def runStream(name: String, build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(data: _*)
    val q = build(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("streaming tumbling agg equals the batch twin on the same rows") {
    val streamed = runStream("t_tumble", Streams.tumblingByType)
      .orderBy("hour_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Streams.tumblingByType(data.toDF())
      .orderBy("hour_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.size === 4) // 10h click, 11h click, 11h view, 12h view
  }

  test("streaming sliding windows equal the batch twin on the same rows") {
    val streamed = runStream("t_slide", Streams.slidingByType)
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Windows.slidingByType(data.toDF())
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // every event lands in exactly window/slide = 4 sliding windows
    assert(streamed.map(_(2).asInstanceOf[Long]).sum === data.size * 4L)
  }

  test("streaming dedup keeps the first event per id within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // event 1 arrives twice (same id, later value) — second must drop
    mem.addData(data: _*)
    mem.addData(Ev(1, ts("2024-01-01 10:06:00"), 9, "dup", 99.0))
    val q = Streams.dedupById(mem.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_dedup")
    assert(got.count() === data.size)
    assert(got.filter($"event_type" === "dup").count() === 0)
  }

  test("streaming session windows merge events within the 30-min gap") {
    val got = runStream("t_sess", Streams.sessionsByUser)
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    // user 1: 10:05+10:45 merge? gap 40min > 30 -> two sessions; 10:45->11:20 gap 35min -> split
    // sessions user1: {10:05}, {10:45}, {11:20}; user2: {11:05}, {12:40}
    assert(got === Seq((1L, 1L), (1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L)))
  }

  test("stream-stream join pairs clicks with same-user views in the prior hour") {
    val views = Seq(
      Ev(10, ts("2024-01-01 10:00:00"), 1, "view", 0.0), // 35 min before click 20 -> pairs
      Ev(11, ts("2024-01-01 09:20:00"), 1, "view", 0.0), // 75 min before -> outside range
      Ev(12, ts("2024-01-01 10:30:00"), 2, "view", 0.0), // other user's click -> no pair
      Ev(13, ts("2024-01-01 11:00:00"), 1, "view", 0.0)) // 25 min before click 21 -> pairs
    val clicks = Seq(
      Ev(20, ts("2024-01-01 10:35:00"), 1, "click", 1.0),
      Ev(21, ts("2024-01-01 11:25:00"), 1, "click", 1.0))
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[Ev]; vMem.addData(views: _*)
    val cMem = MemoryStream[Ev]; cMem.addData(clicks: _*)
    val q = Streams.clicksAfterViews(cMem.toDF(), vMem.toDF())
      .writeStream.format("memory").queryName("t_ssjoin").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_ssjoin")
      .orderBy("click_id", "view_id")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSeq
    // click 20 pairs with view 10 only; click 21 with views 10 (65min? no,
    // 10:00 is 85min before 11:25 -> outside) and 13 -> (21,13). Also
    // (21,10) excluded, (x,11) excluded, (x,12) wrong user.
    assert(streamed === Seq((20L, 10L), (21L, 13L)))
    // the batch form of the SAME function is the oracle
    val batch = Streams.clicksAfterViews(clicks.toDF(), views.toDF())
      .orderBy("click_id", "view_id")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSeq
    assert(streamed === batch)
  }

  test("stream-stream join buffers a view across micro-batches until its click arrives") {
    // the property the q_stream_join gate corpus rarely exercises (its
    // row-sliced batches span days, the join window is an hour, so
    // matches are mostly within-batch): a view arriving in batch 1 must
    // survive in the join STATE and pair with a click that only arrives
    // in batch 2 — cross-batch buffering, pinned deterministically here
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = Streams.clicksAfterViews(cMem.toDF(), vMem.toDF())
      .writeStream.format("memory").queryName("t_ssjoin_xbatch")
      .outputMode("append").start()
    try {
      vMem.addData(Ev(10, ts("2024-01-01 10:00:00"), 1, "view", 0.0))
      cMem.addData(Seq.empty[Ev])
      q.processAllAvailable()
      assert(spark.table("t_ssjoin_xbatch").count() === 0)
      // 35 min later, next micro-batch: must join the BUFFERED view
      cMem.addData(Ev(20, ts("2024-01-01 10:35:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // and a third batch advancing the watermark within the 1h bound:
      // the view must NOT have been evicted early (lockstep argument)
      cMem.addData(Ev(21, ts("2024-01-01 10:55:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("t_ssjoin_xbatch")
        .orderBy("click_id")
        .select("click_id", "view_id").as[(Long, Long)].collect().toSeq
      assert(got === Seq((20L, 10L), (21L, 10L)))
    } finally q.stop()
  }

  test("streaming GSOD parse+rollup equals the batch twin across micro-batches") {
    def line(usaf: String, wban: Int, ymd: String, temp: String,
        prcp: String) =
      s"$usaf $wban  $ymd  $temp 24 40.1 24 9999.9 0 9999.9 0 9999.9 0 " +
        s"5.0 24 11.1 999.9 60.3* 50.1 $prcp 999.9 000000"
    val chunk1 = Seq(
      line("A07100", 10000, "20080115", "57.3", "0.12A"),
      line("A07100", 10000, "20080120", "59.7", "99.99"), // prcp sentinel
      "STN--- WBAN   YEARMODA    TEMP     DEWP     SLP", // header filtered
      line("A07101", 10001, "20080215", "9999.9", "0.00")) // temp sentinel
    val chunk2 = Seq(
      "   ", // blank filtered
      line("A07100", 10000, "20080125", "58.1", "0.30"),
      line("A07101", 10001, "20080216", "43.0", "0.05"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Streams.gsodMonthlyApprox(mem.toDF())
      .writeStream.format("memory").queryName("t_gsod")
      .outputMode("complete").start()
    try {
      mem.addData(chunk1: _*)
      q.processAllAvailable() // state built from batch 1…
      mem.addData(chunk2: _*)
      q.processAllAvailable() // …must MERGE with batch 2's sketches
    } finally q.stop()
    val streamed = spark.table("t_gsod").orderBy("usaf", "month")
      .collect().map(_.toSeq).toSeq
    val batch = Streams.gsodMonthlyApprox((chunk1 ++ chunk2).toDF("value"))
      .orderBy("usaf", "month").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // parse semantics visible through the stream: station A07100 has 3
    // obs with all temps present; A07101 has 2 obs but 1 sentinel temp
    val byStation = streamed.map(r =>
      (r(0), r(6).asInstanceOf[Long], r(7).asInstanceOf[Long])).toSet
    assert(byStation === Set(("A07100", 3L, 3L), ("A07101", 1L, 2L)))
  }

  test("checkpoint restart: file-sink tumbling agg is exactly-once across stop/restart") {
    // The fault-tolerance contract the memory-sink replays cannot prove:
    // a watermarked aggregation writing to a FILE sink, stopped mid-
    // stream and RESTARTED from its checkpoint, must emit every window
    // exactly once — offsets, state, and sink commits all recover.
    val root = java.nio.file.Files.createTempDirectory("graft-restart-")
    val src = root.resolve("in"); val sink = root.resolve("out")
    val chk = root.resolve("chk")
    java.nio.file.Files.createDirectories(src)
    val sentinels = Seq(
      Ev(-2, ts("2024-01-02 10:00:00"), -1, "__wm", 0.0),
      Ev(-3, ts("2024-01-02 11:00:00"), -1, "__wm", 0.0))
    val slices = data.grouped(2).toSeq ++ sentinels.map(Seq(_))
    def writeSlice(i: Int): Unit = {
      val f = root.resolve(s"w$i")
      spark.createDataset(slices(i)).coalesce(1)
        .write.mode("overwrite").parquet(f.toString)
      val part = java.nio.file.Files.list(f).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dest = src.resolve(f"s$i%02d.parquet")
          java.nio.file.Files.move(p, dest)
          dest.toFile.setLastModified(1700000000000L + i * 60000L)
          moved = true
        }
      }
      assert(moved)
    }
    val schema = spark.createDataset(data).schema
    def startQuery() = Streams.tumblingByType(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString))
      .writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", chk.toString)
      .outputMode("append").start()
    // first life: two slices, then stop mid-stream
    writeSlice(0); writeSlice(1)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // second life: remaining slices + sentinels, restart from checkpoint
    (2 until slices.length).foreach(writeSlice)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(sink.toString)
      .filter($"event_type" =!= "__wm")
      .orderBy("hour_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Streams.tumblingByType(data.toDF())
      .orderBy("hour_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === batch) // no window lost, none doubled
  }

  test("checkpoint restart: stream-stream join recovers two-sided state on both providers") {
    // The harder restart case (VERDICT r9 item 4): the interval join
    // buffers BOTH streams in the state store, so a view ingested BEFORE
    // the stop must still pair with a click that only arrives AFTER the
    // restart — offsets and the two-sided join state both recover from
    // the checkpoint. Run end-to-end on the default provider AND on
    // RocksDB (whose state files must survive query shutdown on disk).
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val views = Seq(
      Ev(10, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
      Ev(13, ts("2024-01-01 11:00:00"), 1, "view", 0.0))
    val clicks = Seq(
      Ev(20, ts("2024-01-01 10:35:00"), 1, "click", 1.0),
      Ev(21, ts("2024-01-01 11:25:00"), 1, "click", 1.0))
    def run(provider: Option[String]): Seq[(Long, Long)] = {
      val root = graft.util.TempDirs.scratch("graft-ssj-restart-")
      val vSrc = root.resolve("views"); val cSrc = root.resolve("clicks")
      val sink = root.resolve("out"); val chk = root.resolve("chk")
      java.nio.file.Files.createDirectories(vSrc)
      java.nio.file.Files.createDirectories(cSrc)
      val schema = spark.createDataset(views).schema
      var n = 0
      def write(dir: java.nio.file.Path, evs: Seq[Ev]): Unit = {
        n += 1
        val f = root.resolve(s"w$n")
        spark.createDataset(evs).coalesce(1)
          .write.mode("overwrite").parquet(f.toString)
        val part = java.nio.file.Files.list(f).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            val dest = dir.resolve(f"s$n%02d.parquet")
            java.nio.file.Files.move(p, dest)
            assert(dest.toFile.setLastModified(1700000000000L + n * 60000L))
            moved = true
          }
        }
        assert(moved)
      }
      def startQuery() = Streams.clicksAfterViews(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(cSrc.toString),
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(vSrc.toString))
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode("append").start()
      val before = spark.conf.getOption(providerKey)
      provider.foreach(p => spark.conf.set(providerKey, p))
      try {
        // first life: only the view arrives — it can match nothing yet,
        // so it lands in the JOIN STATE, then the query stops
        write(vSrc, Seq(views.head))
        val q1 = startQuery()
        try q1.processAllAvailable() finally q1.stop()
        // second life: the clicks (and the later view) arrive — click 20
        // must pair with the view RECOVERED from checkpointed state
        write(cSrc, Seq(clicks.head))
        write(vSrc, Seq(views(1)))
        write(cSrc, Seq(clicks(1)))
        val q2 = startQuery()
        try q2.processAllAvailable() finally q2.stop()
      } finally before match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.read.parquet(sink.toString)
        .select("click_id", "view_id")
        .as[(Long, Long)].collect().toSeq.sorted
    }
    val batch = Streams.clicksAfterViews(clicks.toDF(), views.toDF())
      .select("click_id", "view_id").as[(Long, Long)].collect().toSeq.sorted
    assert(batch === Seq((20L, 10L), (21L, 13L)))
    assert(run(None) === batch)           // exactly-once: none lost, none doubled
    assert(run(Some(rocks)) === batch)
  }

  test("RocksDB state store: replayed tumbling + dedup equal the default provider") {
    // same operators, both providers, one corpus — the provider must be
    // invisible in the answers (VERDICT r8 item 3); also proves the
    // provider class resolves (rocksdbjni ships with Spark's jars)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val confBefore = spark.conf.getOption(providerKey)
    val hdfsTumble = Replay.tumbling(spark, Sf001)
      .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
    val rocksTumble = Replay.tumblingRocksDb(spark, Sf001)
      .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
    assert(rocksTumble === hdfsTumble)
    val hdfsDedup = Replay.dedup(spark, Sf001)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val rocksDedup = Replay.dedupRocksDb(spark, Sf001)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(rocksDedup === hdfsDedup)
    // the scoped provider conf round-trips (getOption surfaces the
    // registered DEFAULT, so "empty" is unobservable — equality is the
    // leak check)
    assert(spark.conf.getOption(providerKey) === confBefore)
  }

  // Six one-row parquet files in a fresh landing dir with ascending
  // mtimes — the backlogged-directory shape the bounded-ingest gates
  // replay (VERDICT r10 item 8).
  private def backlogDir(): (java.nio.file.Path, Seq[Ev],
      org.apache.spark.sql.types.StructType) = {
    val root = java.nio.file.Files.createTempDirectory("graft-backlog-")
    val src = root.resolve("in")
    java.nio.file.Files.createDirectories(src)
    val rows = (0 until 6).map { i =>
      Ev(10 + i, ts(s"2024-01-01 1$i:05:00"), i, "click", i + 0.5) }
    rows.zipWithIndex.foreach { case (ev, i) =>
      val f = root.resolve(s"w$i")
      spark.createDataset(Seq(ev)).coalesce(1)
        .write.mode("overwrite").parquet(f.toString)
      val part = java.nio.file.Files.list(f).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dest = src.resolve(f"s$i%02d.parquet")
          java.nio.file.Files.move(p, dest)
          assert(dest.toFile.setLastModified(1700000000000L + i * 60000L))
          moved = true
        }
      }
      assert(moved)
    }
    (src, rows, spark.createDataset(rows).schema)
  }

  private def nonEmptyBatches(
      q: org.apache.spark.sql.streaming.StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  test("bounded ingest: maxFilesPerTrigger splits a 6-file backlog into 3 batches") {
    // The 100 TB contract behind the knob: a backlogged landing dir must
    // stream through in BOUNDED micro-batches (state-store and sink
    // pressure per trigger is capped), never one giant catch-up batch —
    // and the batching must not change answers.
    val (src, rows, schema) = backlogDir()
    val sinkName = "graft_bounded_mftp"
    spark.catalog.dropTempView(sinkName)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(src.toString)
      .select($"event_id", $"user_id", $"value")
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(nonEmptyBatches(q) === 3, // ceil(6 files / 2 per trigger)
      s"expected 3 bounded batches, got ${nonEmptyBatches(q)}")
    val got = spark.table(sinkName).orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    val batch = spark.createDataset(rows).toDF()
      .select($"event_id", $"user_id", $"value").orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    assert(got === batch)
  }

  test("bounded ingest: Trigger.AvailableNow drains the backlog in capped batches, then stops itself") {
    // The scheduled-batch shape (nightly catch-up on a cluster that is
    // not kept warm): AvailableNow must honor the per-trigger cap while
    // draining everything present at start, then terminate on its own —
    // with the same answer as the batch read. A watermarked AGGREGATION
    // runs through it so state must chain across the capped batches.
    val (src, rows, schema) = backlogDir()
    val sinkName = "graft_bounded_an"
    spark.catalog.dropTempView(sinkName)
    val q = Streams.tumblingByType(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(src.toString))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(180000L),
        "AvailableNow query did not terminate on its own")
    } finally q.stop()
    assert(nonEmptyBatches(q) === 3, // the cap holds under AvailableNow
      s"expected 3 capped batches, got ${nonEmptyBatches(q)}")
    val got = spark.table(sinkName)
      .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
    val batch = Streams.tumblingByType(spark.createDataset(rows).toDF())
      .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
    assert(got === batch)
  }

}
