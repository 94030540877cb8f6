package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.OptionConverters._
import graft.Sessions

/** Executor-loss fault-tolerance gate — the step after [[ClusterGate]]'s
  * multi-process proof: at 100 TB executors die (preemption, OOM killers,
  * hardware), and the engine's plans must produce the SAME answer
  * through task retries, stage resubmission on FetchFailed (the dead
  * executor's shuffle files are gone), and reliable-checkpoint recovery
  * of iterative loops.
  *
  * Shape: baseline results on `local[8]`, then a
  * `local-cluster[2,4,2048]` session with `graft.checkpoint.dir` set (so
  * [[graft.ops.Checkpoints.materialize]] routes loop state through
  * RELIABLE checkpoints — localCheckpoint blocks on a killed executor
  * are unrecoverable by design, which is exactly why the knob exists)
  * and a raised retry budget (maxFailures 16 — what a chaos-tolerant
  * cluster tunes). Each query runs three times; each run gets ONE
  * `destroyForcibly` of a live CoarseGrainedExecutorBackend process at a
  * varied strike point, with a heal-wait (2 executors re-registered)
  * between runs — the scenario under test is "an executor dies while
  * the query runs", not sustained total-outage churn (a free-running
  * kill loop races the worker's relaunch latency and measures the
  * machine, not the engine; every loss observed under that storm was a
  * LOUD ExecutorLostFailure abort, never a wrong answer). A final
  * streaming phase replays a file-source tumbling aggregation through a
  * parquet sink with two kills landing mid-stream. Every result must
  * equal the baseline bit-exactly, and the gate fails if NO executor
  * was actually lost (SparkListenerExecutorRemoved count — a vacuous
  * pass is impossible).
  *
  * Query set: the reliable-checkpointed iterative loops (pagerank,
  * components), a broadcast-join rollup, a shuffle aggregation, and the
  * MinHash LSH chain — the shapes whose retry/recovery semantics differ.
  *
  * Usage:
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 sbt -batch \
  *     "runMain graft.tools.FaultGate /root/testdata/sf0.01"
  * Exits nonzero on any divergence, error, or if no executor died.
  */
object FaultGate {

  val Queries: Seq[String] = Seq(
    "q_pagerank", "q_cc_labels", "q_monthly_rollup", "q_groupby_median",
    "q_dedup_minhash",
    // index save/load under loss: distributed parquet commits (the
    // task-commit protocol must not publish a dead executor's partial
    // files) + driver-collected artifacts round-tripping mid-chaos
    "q_ann_persist")

  private val RunsPerQuery = 3

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queries = Gates.queryList(args.lift(1), Queries)

    val baseline = Gates.runPass(Gates.local, sfDir, queries)

    val spark = Sessions.start(ClusterGate.clusterConfs(
      Sessions.builder("local-cluster[2,4,2048]", 8)
        // chaos-tolerant retry budget: under a sustained kill loop a task
        // can land on a dying executor several times in a row, and the
        // default 4-failure budget aborts the job (observed: a loaded
        // machine slows executor relaunch until kills outpace it — every
        // failure was a LOUD abort, never a wrong answer). A cluster
        // operated under real chaos tunes exactly these.
        .config("spark.task.maxFailures", "16")
        .config("spark.stage.maxConsecutiveAttempts", "8")))
    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(
          e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet()
        println(s"[fault-gate] executor ${e.executorId} removed: ${e.reason}")
      }
    })
    var bad = 0
    val kills = new AtomicInteger(0)
    // ONE kill injected mid-run, then heal before the next run: the
    // scenario under test is "an executor dies while the query runs →
    // same answer", not sustained total-outage churn. A free-running
    // kill loop (the first version of this gate) turns into a race
    // between kill cadence and executor relaunch under co-tenant load —
    // with relaunch slowed, every task retry lands on the next victim
    // and the job exhausts even a 16-deep retry budget. Every such
    // failure observed was a LOUD abort (ExecutorLostFailure), never a
    // wrong answer; the hardened shape keeps the correctness assertion
    // sharp instead of measuring the machine's process-spawn latency.
    def killOnceAfter(delayMs: Long): Thread = {
      val t = new Thread(() => {
        Thread.sleep(delayMs)
        executorProcess().foreach { ph =>
          if (ph.destroyForcibly()) {
            kills.incrementAndGet()
            println(s"[fault-gate] killed executor pid ${ph.pid()}")
          }
        }
      }, "fault-gate-killer")
      t.setDaemon(true)
      t.start()
      t
    }
    def healed(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.sparkContext.getExecutorMemoryStatus.size - 1 < 2 &&
          System.nanoTime() < deadline)
        Thread.sleep(250)
    }
    try {
      ClusterGate.awaitExecutors(spark, 2)
      // iterative loops must recover from a shared-FS checkpoint, not
      // executor-resident localCheckpoint blocks that die with the JVM
      spark.conf.set("graft.checkpoint.dir",
        graft.util.TempDirs.scratch("graft-fault-ckpt-").toString)
      // streaming fixture prepared BEFORE any chaos (fixture IO is
      // harness plumbing, not the thing under test)
      val (streamSrc, streamSink, streamChk, streamSchema, batchTwin) =
        prepareStreamFixture(spark, sfDir)
      queries.foreach { q =>
        (1 to RunsPerQuery).foreach { i =>
          healed()
          val killer = killOnceAfter(500L * i) // vary the strike point
          val got = Gates.canonOf(spark, sfDir, q)
          killer.join(10000)
          bad += Gates.compare(s"fault-gate run $i/$RunsPerQuery", Seq(q),
            baseline, Map(q -> got))
        }
      }
      // ---- streaming under fire: executor loss MID-STREAM ----
      // A file-source tumbling aggregation (maxFilesPerTrigger=1 → one
      // trigger per slice) writes to a parquet sink with a checkpoint
      // while TWO kills land mid-stream: state-store tasks rescheduled
      // onto relaunched executors must reload their state from the
      // checkpoint's delta files — the recovery path a driver-side
      // stop/restart (StreamingSpec) never exercises.
      healed()
      val streamed = Gates.attempt {
        val q = graft.streaming.Streams.tumblingByType(
            spark.readStream.schema(streamSchema)
              .option("maxFilesPerTrigger", 1).parquet(streamSrc))
          .writeStream.format("parquet")
          .option("path", streamSink)
          .option("checkpointLocation", streamChk)
          .outputMode("append").start()
        val k1 = killOnceAfter(1500)
        val k2 = killOnceAfter(5000)
        try q.processAllAvailable() finally q.stop()
        k1.join(10000); k2.join(10000)
        Gates.canon(spark.read.parquet(streamSink)
          .filter(org.apache.spark.sql.functions.col("event_type") =!= "__wm"))
      }
      val stream = "stream_tumbling_under_fire"
      bad += Gates.compare("fault-gate", Seq(stream),
        Map(stream -> Right(batchTwin)), Map(stream -> streamed))
    } finally Sessions.stop(spark)
    val totalRuns = queries.size * RunsPerQuery + 1 // + the stream run
    println(s"[fault-gate] ${totalRuns - bad}/$totalRuns runs identical " +
      s"to baseline under ${kills.get()} executor kills " +
      s"(${removed.get()} removals observed)")
    if (removed.get() == 0) {
      println("[fault-gate] FAIL: no executor was actually lost — vacuous")
      sys.exit(1)
    }
    if (bad > 0) sys.exit(1)
  }

  /** Streaming fixture: the FeedCap-bounded events corpus cut into 8
    * time-ordered slice files + 2 far-future sentinel files (the Replay
    * sentinel discipline — the first advances the watermark past every
    * real window, the second forces a data batch after it), plus the
    * batch twin's canonical answer computed before any chaos starts.
    * Returns (srcDir, sinkDir, checkpointDir, schema, batchTwinCanon). */
  private def prepareStreamFixture(spark: SparkSession, sfDir: String)
      : (String, String, String,
         org.apache.spark.sql.types.StructType, (String, Long)) = {
    val root = graft.util.TempDirs.scratch("graft-fault-stream-")
    val src = root.resolve("in")
    java.nio.file.Files.createDirectories(src)
    val capped = graft.streaming.Replay.cappedEvents(spark, sfDir)
    val rows = capped.collect() // bounded by the FeedCap on any corpus
    require(rows.nonEmpty, "events corpus is empty")
    val schema = capped.schema
    val maxTs = rows.last.getTimestamp(1).getTime
    val sentinels = Seq(2L, 3L).map { h =>
      org.apache.spark.sql.Row(-h,
        new java.sql.Timestamp(maxTs + h * 3600L * 1000L),
        -1L, "__wm", 0.0)
    }
    val per = math.max(1, math.ceil(rows.length / 8.0).toInt)
    val slices = rows.grouped(per).map(_.toSeq).toSeq ++
      sentinels.map(Seq(_))
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmpf = root.resolve(s"w$i")
      spark.createDataFrame(
          java.util.Arrays.asList(s: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmpf.toString)
      val it = java.nio.file.Files.list(tmpf).iterator()
      var moved = false
      while (it.hasNext && !moved) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dest = src.resolve(f"s$i%02d.parquet")
          java.nio.file.Files.move(p, dest)
          require(dest.toFile.setLastModified(1700000000000L + i * 60000L))
          moved = true
        }
      }
      require(moved, s"no parquet part written for slice $i")
    }
    val twin = Gates.canon(
      graft.streaming.Streams.tumblingByType(capped))
    (src.toString, root.resolve("out").toString,
      root.resolve("chk").toString, schema, twin)
  }

  /** A live executor JVM (same user). Scans /proc cmdline directly:
    * ProcessHandle.Info.commandLine comes back EMPTY for the executor
    * JVMs — their command line (a full-classpath java invocation) blows
    * past the JDK's per-process info limit — so the match must read
    * /proc/<pid>/cmdline itself (Linux-only, like the gate). */
  private def executorProcess(): Option[ProcessHandle] =
    new java.io.File("/proc").listFiles().toSeq
      .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
      .filter { f =>
        try new String(java.nio.file.Files.readAllBytes(
            f.toPath.resolve("cmdline")),
          java.nio.charset.StandardCharsets.US_ASCII)
          .contains("CoarseGrainedExecutorBackend")
        catch { case _: Throwable => false }
      }
      .flatMap(f => ProcessHandle.of(f.getName.toLong).toScala)
      .find(_.isAlive)
}
