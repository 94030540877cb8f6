package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Spill-path correctness gate: at 100 TB partitions do NOT fit in
  * execution memory — shuffle writes, sorts, windows, sort-merge joins,
  * and hash aggregations all overflow to disk as a matter of course, and
  * the answer must not change when they do. On a roomy local heap the
  * spill code never runs, so its correctness would otherwise ship
  * unproven.
  *
  * Mechanism: Spark's own test knob
  * `spark.shuffle.spill.numElementsForceSpillThreshold` forces every
  * UnsafeExternalSorter / ShuffleExternalSorter / aggregation hash map to
  * spill after N in-memory elements — the external-merge code paths run
  * for EVERY task regardless of heap size (no OOM-risk memory starving
  * needed, and the forcing is deterministic). A listener sums the task
  * metrics' memory/disk spill bytes, and the gate FAILS if nothing
  * actually spilled — it cannot pass vacuously.
  *
  * The query set is the shuffle/sort/window/join/aggregation-heavy
  * family; results must be bit-identical to the unforced baseline.
  *
  * Usage: runMain graft.tools.SpillGate [sfDir] (default sf0.1 — spill
  * volume needs real rows). Exits nonzero on divergence or zero spill.
  */
object SpillGate {

  val Queries: Seq[String] = Seq(
    "q_monthly_rollup",   // join + median aggregation
    "q_join_inner",       // 2-key equi-join
    "q_rolling_median",   // window sort
    "q_latest_per_key",   // partition top-1 window
    "q_groupby_median",   // exact-median sort-aggregate
    "q_dedup_near",       // posting-list aggregate + pair count
    "q_topk")             // TakeOrderedAndProject over a sort

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val queries: Seq[String] =
      if (args.length > 1)
        args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Queries

    val baseline = ClusterGate.runPass("local[8]", cluster = false,
      sfDir, queries)

    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // every sorter/agg-map spills after 500 elements — thousands of
      // external merge files per task at sf0.1, the 100 TB shape
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val memSpilled = new AtomicLong(0)
    val diskSpilled = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    var bad = 0
    try {
      println(f"[spill-gate] ${"query"}%-24s ${"rows"}%7s  verdict")
      queries.foreach { q =>
        val got =
          try Right(ClusterGate.canon(graft.SparkEntry.queries(q)(spark, sfDir)))
          catch { case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(160))
          }
        (got, baseline(q)) match {
          case (Right((hc, nc)), Right((hb, nb))) if hc == hb && nc == nb =>
            println(f"[spill-gate] $q%-24s $nc%7d  OK")
          case (g, b) =>
            println(f"[spill-gate] $q%-24s ${0}%7d  DIVERGED ($g vs $b)")
            bad += 1
        }
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    println(f"[spill-gate] ${queries.size - bad}/${queries.size} identical " +
      f"with ${memSpilled.get / 1e6}%.0f MB memory-spilled / " +
      f"${diskSpilled.get / 1e6}%.0f MB disk-spilled")
    if (diskSpilled.get() == 0 && memSpilled.get() == 0) {
      println("[spill-gate] FAIL: nothing spilled — the gate is vacuous")
      sys.exit(1)
    }
    if (bad > 0) sys.exit(1)
  }
}
