package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: a call from the benchmark into a layer of the
  * program. `op` groups the spans of one operation; `parent` is -1 at the
  * top. Span names are layer names: `op`, `queries.build`,
  * `streaming.replay`, `plans.plan`, `exec`, `ingest.build`,
  * `sources.write`, `sources.read`. */
final case class Span(id: Int, name: String, op: String, parent: Int,
    start: Long, var end: Long = 0L)

/** Work Spark did on behalf of one span. Jobs reach their span through a
  * local property set while the span is open (threads the span starts,
  * such as a stream's micro-batch thread, inherit it); stages and tasks
  * reach it through their job. */
final class SpanWork {
  var jobs = 0
  val callSites = mutable.ArrayBuffer[String]()
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var ingestTaskMs = 0L
  var ingestBytes = 0L
  var ingestRecords = 0L
  val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  var batches = 0
  var batchMs = 0L
  var streams = 0
  val stateRows = mutable.HashMap[java.util.UUID, Long]()

  /** Largest max ÷ median task time over the span's stages of 2+ tasks. */
  def skew: Double = stageTaskMs.values.filter(_.size >= 2).map { ts =>
    val s = ts.sorted
    val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
    s.last / math.max(med, 1.0)
  }.foldLeft(1.0)(math.max)
}

/** One finished stage: the span that launched its job, its wall-clock
  * interval (ms), whether it read the GSOD archives and whether its tasks
  * wrote output files. */
final case class StageRun(span: Int, start: Long, end: Long, ingest: Boolean, writer: Boolean)

/** Records spans from the benchmark's side of each call, and attributes
  * Spark's own listener-bus events (jobs, stages, tasks, micro-batches) to
  * the span that launched them. Span bookkeeping runs on the thread that
  * calls the program; listener callbacks run on the bus thread, so shared
  * state is guarded by `this`. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  val work = mutable.HashMap[Int, SpanWork]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val ingestStages = mutable.HashSet[Int]()
  private val writerStages = mutable.HashSet[Int]()
  val stageRuns = mutable.ArrayBuffer[StageRun]()
  private val streamSpan = mutable.HashMap[java.util.UUID, Int]()
  private var stack = List.empty[Span]

  private def workOf(id: Int): SpanWork = work.getOrElseUpdate(id, new SpanWork)

  def span[T](name: String, op: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += sp
      stack = sp :: stack
      sp
    }
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      synchronized { stack = stack.tail }
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).getOrElse(-1)
    val w = workOf(id)
    w.jobs += 1
    // Spark's short call site: the property when user code set one, else
    // the result stage's name, which the scheduler takes from the same
    // call site ("collect at Ranks.scala:…")
    w.callSites += Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(e.stageInfos.maxBy(_.stageId).name)
    e.stageInfos.foreach { si =>
      stageSpan.getOrElseUpdate(si.stageId, id)
      // the archive-reading stage: its lineage holds the RDD that
      // SparkContext.binaryFiles created
      if (si.rddInfos.exists(_.scope.exists(_.name == "binaryFiles"))) ingestStages += si.stageId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = workOf(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.diskBytesSpilled
      if (ingestStages(e.stageId)) {
        w.ingestTaskMs += m.executorRunTime
        w.ingestBytes += m.inputMetrics.bytesRead
        // binaryFiles yields one record per file: the archives read
        w.ingestRecords += m.inputMetrics.recordsRead
      }
      if (m.outputMetrics.bytesWritten > 0) writerStages += e.stageId
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (start <- si.submissionTime; end <- si.completionTime)
      stageRuns += StageRun(stageSpan.getOrElse(si.stageId, -1), start, end,
        ingestStages(si.stageId), writerStages(si.stageId))
  }

  /** Streaming events. Query start is delivered synchronously on the
    * thread that starts the stream, so the open span is the launcher. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = Tracer.this.synchronized {
      val id = stack.headOption.map(_.id).getOrElse(-1)
      streamSpan(e.runId) = id
      workOf(id).streams += 1
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val w = workOf(streamSpan.getOrElse(p.runId, -1))
      w.batches += 1
      w.batchMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      w.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Forgets everything recorded so far (between traced passes). */
  def clear(): Unit = synchronized {
    spans.clear(); work.clear(); stageSpan.clear(); ingestStages.clear(); writerStages.clear()
    stageRuns.clear(); streamSpan.clear()
  }
}

/** The one listener untraced runs keep: the largest `peakExecutionMemory`
  * of any task, which no span is needed for. */
final class PeakMemory extends SparkListener {
  @volatile var peak = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) peak = math.max(peak, e.taskMetrics.peakExecutionMemory)
}
