package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.{SparkEntry, Tables}
import graft.ingest.GsodParser
import graft.sources.Sinks

/** Runs one workload against the program's public entry points and writes
  * the raw measurements as JSON; `perfbench/run.py` turns them into the
  * benchmark's metrics and checks the outputs.
  *
  * Arguments are key=value pairs:
  *  - ops: comma-separated operations, already in the seed's order:
  *    `SparkEntry.queries` names and the GSOD archive pipeline stages
  *    `gsod.ingest_write` and `gsod.read`; or `all` for the whole registry
  *    (profiling);
  *  - seconds: length of the timed window; trace: 1 for a traced run;
  *  - tables: base tables to cache at set-up;
  *  - data: base-table dir; corpus: GSOD corpus dir; work: scratch dir;
  *  - out: result file; cores; setups: how many times set-up is timed;
  *  - warm: how many untimed passes run first;
  *  - passes: a fixed pass count instead of the timed window (recording).
  *
  * A run times set-up `setups` times, runs `warm` untimed warm passes over
  * the ops (two by default: a fresh JVM is still compiling during the
  * first two), then timed passes until the window closes. At least three
  * timed passes run (four when traced). A traced run interleaves
  * untraced and traced passes as untraced, traced, traced, untraced, ...,
  * so both see the same host conditions and the same share of the JVM's
  * warm-up trend.
  * After a pass that left more cached data than the base tables, the
  * session's cache is emptied and the base tables are cached again,
  * untimed, before the next pass: the program caches some intermediate
  * results for the session's lifetime (the dedup queries' shingles and
  * Jaccard pairs, for example), and a pass that only hit them would not
  * time the work that made them.
  */
object Harness {

  final case class OpResult(op: String, seconds: Double, digest: String, error: String)
  final case class Pass(traced: Boolean, seconds: Double, ops: Seq[OpResult], peakMb: Double = 0.0)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    new Harness(conf).run()
  }
}

final class Harness(conf: Map[String, String]) {
  import Harness._

  // `all`: every registered query except q_gbt_100, which Bench also
  // leaves out of timing (an MLlib boosting loop, not engine work)
  private val ops = conf.getOrElse("ops", "") match {
    case "all" => SparkEntry.queries.keys.toSeq.sorted.filterNot(_ == "q_gbt_100")
    case list => list.split(",").filter(_.nonEmpty).toSeq
  }
  private val seconds = conf.getOrElse("seconds", "10").toDouble
  private val traced = conf.getOrElse("trace", "0") == "1"
  private val data = conf.getOrElse("data", "")
  private val corpus = conf.getOrElse("corpus", "")
  private val work = conf("work")
  private val cores = conf.getOrElse("cores", "4")
  private val setups = conf.getOrElse("setups", "3").toInt
  private val warmPasses = conf.getOrElse("warm", "2").toInt
  private val fixedPasses = conf.get("passes").map(_.toInt)

  private val tables = conf.getOrElse("tables", "").split(",").filter(_.nonEmpty).toSeq

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("graft.replay.slices", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start, base-table cache and a warm-up: what a long-lived
    * deployment pays once. The warm-up is one small aggregation that
    * starts the shuffle machinery and, when the workload ingests GSOD
    * archives, the whole pipeline over a one-archive corpus. Input
    * generation is not part of set-up. */
  private def setup(): SparkSession = {
    val spark = session()
    cacheTables(spark)
    spark.range(0, 100000, 1, cores.toInt).groupBy((col("id") % 100).as("k")).count().collect()
    if (corpus.nonEmpty) {
      gsodWrite(spark, s"$corpus/warmup", s"$work/gsod_warmup", None, None)
      Digest.of(spark.read.parquet(s"$work/gsod_warmup"))
    }
    spark
  }

  private def cacheTables(spark: SparkSession): Unit = tables.foreach { t =>
    (if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t))
      .cache().count()
  }

  // ---- GSOD pipeline: archives -> parse -> ETL -> year-partitioned parquet ----

  /** The corpus's coverage window, written by the generator. */
  private def years(in: String): (Int, Int) = {
    val ys = Files.readAllLines(Paths.get(s"$in/years.txt"), UTF_8).get(0)
      .trim.split(" ").map(_.toInt)
    (ys(0), ys(1))
  }

  private def gsodWrite(spark: SparkSession, in: String, out: String,
      tracer: Option[Tracer], rows: Option[Observation]): Unit = {
    def sp[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name, "gsod.ingest_write")(body))
    // the ingest calls only build the plan; their work runs in the
    // write's jobs and is told apart there by stage (see layerMetrics)
    val etl = sp("ingest.build") {
      val obs = GsodParser.parseTar(spark, s"$in/archives")
      val counted = rows.fold(obs)(o => obs.observe(o, count(lit(1)).as("rows")))
      val (first, last) = years(in)
      val st = GsodParser.stations(spark, s"$in/isd-history.csv", first, last)
      GsodParser.etl(counted, st)
    }
    sp("sources.write")(Sinks.writeParquet(etl, out, Seq("year")))
  }

  private val gsodOut = s"$work/gsod_out"

  // ---- one operation, untraced or traced ----

  /** Exchanges, nested-loop joins and the program's own classes in the
    * final plan of one operation. */
  final case class PlanStats(exchanges: Int, nestedLoops: Int, program: Seq[String])
  private val planStats = mutable.HashMap[String, PlanStats]()
  private var ingestRows = 0L

  private def timed(op: String)(body: => String): OpResult = {
    val t0 = now
    try {
      val d = body
      OpResult(op, secs(t0), d, null)
    } catch {
      case e: Throwable => OpResult(op, secs(t0), null,
        (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400))
    }
  }

  private def runOp(spark: SparkSession, op: String, tracer: Option[Tracer]): OpResult =
    op match {
      case "gsod.ingest_write" =>
        // untraced passes observe the row count too, so that traced and
        // untraced passes run the same plan
        val rows = Some(Observation("ingest"))
        val r = timed(op) {
          tracer match {
            case None => gsodWrite(spark, corpus, gsodOut, None, rows)
            case Some(tr) => tr.span("op", op)(gsodWrite(spark, corpus, gsodOut, tracer, rows))
          }
          "written"
        }
        rows.filter(_ => tracer.isDefined).foreach { o =>
          import scala.concurrent.duration._
          ingestRows = scala.util.Try(scala.concurrent.Await.result(o.future, 30.seconds)
            .getAs[Long]("rows")).getOrElse(-1L)
        }
        r
      case "gsod.read" =>
        timed(op)(tracer.fold(Digest.of(spark.read.parquet(gsodOut))) { tr =>
          tr.span("op", op)(tr.span("sources.read", op)(Digest.of(spark.read.parquet(gsodOut))))
        })
      case query =>
        val fn = SparkEntry.queries(query)
        tracer match {
          case None => timed(op)(Digest.of(fn(spark, data)))
          case Some(tr) => timed(op)(tr.span("op", op) {
            val df = tr.span("queries.build", op)(fn(spark, data))
            val plan = tr.span("plans.plan", op)(df.queryExecution.executedPlan)
            planStats(op) = planCounts(plan)
            tr.span("exec", op)(Digest.of(df))
          })
        }
    }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def planCounts(p: SparkPlan): PlanStats = {
    val nodes = planNodes(p)
    // program code the final plan runs: graft expressions and plan nodes,
    // the functions of UDFs and the Aggregators behind typed aggregates
    val classes = nodes.flatMap { n =>
      n.getClass +: n.expressions.flatMap(_.collect {
        case u: ScalaUDF => u.function.getClass
        case a: ScalaAggregator[_, _, _] => a.agg.getClass
        case e => e.getClass
      })
    }
    val program = classes.map(_.getName.takeWhile(_ != '$')).filter(_.startsWith("graft."))
      .distinct.sorted
    PlanStats(nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]), program)
  }

  private def pass(spark: SparkSession, tracer: Option[Tracer]): Pass = {
    val t0 = now
    val rs = ops.map { op =>
      val r = runOp(spark, op, tracer)
      System.err.println(f"[harness] ${op}%-28s ${r.seconds}%8.3f s ${Option(r.error).getOrElse("")}")
      r
    }
    Pass(tracer.isDefined, secs(t0), rs)
  }

  // ---- the run ----

  def run(): Unit = {
    val setupTimes = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = now
      spark = setup()
      setupTimes += secs(t0)
    }
    val sc = spark.sparkContext
    val peak = new PeakMemory
    sc.addSparkListener(peak)
    val tracer = if (traced) Some(new Tracer(sc)) else None
    tracer.foreach { tr => sc.addSparkListener(tr); spark.streams.addListener(tr.streams) }

    val passes = mutable.ArrayBuffer[Pass]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    var spansOut: String = null
    def resetCaches(): Unit =
      if (sc.getPersistentRDDs.size > tables.size) {
        val c0 = now
        spark.catalog.clearCache()
        cacheTables(spark)
        System.err.println(f"[harness] cache reset ${secs(c0)}%8.3f s")
      }
    // one pass, then the largest task peakExecutionMemory it saw
    def measured(tr: Option[Tracer]): Pass = {
      val p = pass(spark, tr)
      org.apache.spark.BusDrain(sc)
      val mb = peak.peak / 1048576.0
      peak.peak = 0L
      p.copy(peakMb = mb)
    }
    val warm = (1 to warmPasses).map { k =>
      if (k > 1) resetCaches()
      measured(None)
    }
    val t0 = now
    var i = 0
    val minPasses = if (traced) 4 else 3
    def more: Boolean = fixedPasses.map(i < _).getOrElse(i < minPasses || secs(t0) < seconds)
    while (more) {
      resetCaches()
      val tr = tracer.filter(_ => i % 4 == 1 || i % 4 == 2)
      tr.foreach(_.clear())
      val p = measured(tr)
      passes += p
      tr.foreach { t =>
        layers += layerMetrics(t)
        if (spansOut == null) spansOut = spansJson(t)
      }
      i += 1
    }
    // the read-back rows of the last pass, for the check against the
    // generator's own medians
    if (ops.contains("gsod.read"))
      spark.read.parquet(gsodOut).toJSON.coalesce(1).write.mode("overwrite")
        .text(s"$work/gsod_rows")
    spark.stop()

    val json = new StringBuilder
    json ++= "{\"setup_s\":" ++= setupTimes.mkString("[", ",", "]")
    json ++= ",\"passes\":" ++= (warm ++ passes).zipWithIndex.map { case (p, k) =>
      s"""{"warm":${k < warm.size},"traced":${p.traced},"seconds":${p.seconds},""" +
        s""""peak_exec_mem_mb":${p.peakMb},"ops":""" +
        p.ops.map(o => s"""{"op":${str(o.op)},"seconds":${o.seconds},""" +
          s""""digest":${str(o.digest)},"error":${str(o.error)}}""").mkString("[", ",", "]") + "}"
    }.mkString("[", ",", "]")
    json ++= ",\"layers\":" ++= layers.map(m =>
      m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")).mkString("[", ",", "]")
    json ++= ",\"spans\":" ++= Option(spansOut).getOrElse("null")
    json ++= "}"
    Files.write(Paths.get(conf("out")), json.toString.getBytes(UTF_8))
  }

  private def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ---- per-layer metrics of one traced pass ----

  private def layerMetrics(t: Tracer): Map[String, Double] = {
    val mb = 1048576.0
    def dur(s: Span) = (s.end - s.start) / 1e9
    def w(s: Span) = t.work.getOrElse(s.id, new SpanWork)
    val isReplay = (s: Span) => s.name == "queries.build" && w(s).streams > 0
    def named(n: String) = t.spans.filter(s => s.name == n && !isReplay(s))
    val build = named("queries.build")
    val replay = t.spans.filter(isReplay)
    val exec = named("exec")
    val plan = named("plans.plan")
    val ingestBuild = named("ingest.build")
    val write = named("sources.write")
    val read = named("sources.read")
    // the write call runs the whole GSOD pipeline; the stages whose tasks
    // wrote the files are the sink's, the rest (archive reads, parsing,
    // the ETL's first aggregation stage, the station dimension) ingest's
    val writeIds = write.map(_.id).toSet
    val writerS = union(t.stageRuns.filter(r => r.writer && writeIds(r.span))
      .map(r => (r.start, r.end)).toSeq) / 1e3
    val execS = exec.map(dur).sum
    val execTask = exec.map(w(_).taskMs).sum / 1e3
    val batchS = replay.map(w(_).batchMs).sum / 1e3
    val replayS = replay.map(dur).sum
    val all = t.work.values
    val outFiles = Option(new java.io.File(gsodOut)).filter(_ => write.nonEmpty)
      .map(d => listFiles(d).filter(_.getName.endsWith(".parquet"))).getOrElse(Nil)
    val planned = ops.flatMap(planStats.get)

    // the benchmark's own consistency check: the layer spans of an
    // operation add up to its wall time
    val opSpans = t.spans.filter(_.name == "op")
    val coverage = opSpans.headOption.map { o =>
      val parts = t.spans.filter(s => s.parent == o.id).map(dur).sum
      parts / math.max(dur(o), 1e-9)
    }.getOrElse(1.0)

    Map(
      "queries.build_s" -> build.map(dur).sum,
      "queries.build_jobs" -> build.map(w(_).jobs).sum.toDouble,
      "queries.build_task_s" -> build.map(w(_).taskMs).sum / 1e3,
      "plans.plan_s" -> plan.map(dur).sum,
      "plans.exchanges" -> planned.map(_.exchanges).sum.toDouble,
      "plans.nested_loop_joins" -> planned.map(_.nestedLoops).sum.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> exec.map(w(_).jobs).sum.toDouble,
      "exec.tasks" -> exec.map(w(_).tasks).sum.toDouble,
      "exec.task_s" -> execTask,
      "exec.core_util" -> (if (execS > 0) execTask / (execS * cores.toDouble) else 0.0),
      "exec.gc_s" -> exec.map(w(_).gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> exec.map(w(_).shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> exec.map(w(_).shuffleRead).sum / mb,
      "exec.spill_mb" -> exec.map(w(_).spill).sum / mb,
      "exec.task_skew" -> exec.map(w(_).skew).foldLeft(1.0)(math.max),
      "streaming.replay_s" -> replayS,
      "streaming.batches" -> replay.map(w(_).batches).sum.toDouble,
      "streaming.batch_s" -> batchS,
      "streaming.startstop_s" -> (replayS - batchS),
      "streaming.state_rows" -> replay.map(w(_).stateRows.values.sum).sum.toDouble,
      "ingest.s" -> (ingestBuild.map(dur).sum + write.map(dur).sum - writerS),
      "ingest.archives" -> all.map(_.ingestRecords).sum.toDouble,
      "ingest.rows" -> ingestRows.toDouble,
      "ingest.bytes_read_mb" -> all.map(_.ingestBytes).sum / mb,
      "ingest.task_s" -> all.map(_.ingestTaskMs).sum / 1e3,
      "sources.write_s" -> writerS,
      "sources.files_written" -> outFiles.size.toDouble,
      "sources.bytes_written_mb" -> outFiles.map(_.length).sum / mb,
      "sources.read_s" -> read.map(dur).sum,
      "bench.span_coverage" -> coverage)
  }

  /** Length of the union of [start, end] intervals. */
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, reach), (s, e)) =>
      if (e <= reach) (total, reach) else (total + e - math.max(s, reach), e)
    }._1

  private def listFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  /** Spans with their self time and the jobs attributed to them, each job
    * named by Spark's own `callSite.short`. */
  private def spansJson(t: Tracer): String = {
    val t0 = t.spans.headOption.map(_.start).getOrElse(0L)
    t.spans.map { s =>
      val kids = t.spans.filter(_.parent == s.id).map(k => k.end - k.start).sum
      val w = t.work.getOrElse(s.id, new SpanWork)
      val name = if (s.name == "queries.build" && w.streams > 0) "streaming.replay" else s.name
      s"""{"id":${s.id},"name":${str(name)},"op":${str(s.op)},"parent":${s.parent},""" +
        s""""start_s":${(s.start - t0) / 1e9},"end_s":${(s.end - t0) / 1e9},""" +
        s""""self_s":${(s.end - s.start - kids) / 1e9},"jobs":${w.jobs},""" +
        s""""tasks":${w.tasks},"task_s":${w.taskMs / 1e3},"micro_batches":${w.batches},""" +
        s""""job_call_sites":${w.callSites.map(str).mkString("[", ",", "]")},""" +
        s""""program_code":${planStats.get(s.op).filter(_ => s.name == "plans.plan")
          .map(_.program.map(str).mkString("[", ",", "]")).getOrElse("[]")}}"""
    }.mkString("[", ",", "]")
  }
}
