package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.Sessions

/** Concurrent-query gate (VERDICT r10 item 2).
  *
  * Every sweep so far ran queries SERIALLY; a real cluster runs many
  * queries concurrently in one session (a fair-scheduled multi-tenant
  * driver). Concurrency is the one axis where shared mutable state —
  * temp-view name collisions, session-conf scoping races (the
  * Replay.startScoped save/set/restore sequence), cache double-
  * materialization, scratch-dir reuse — can corrupt answers while every
  * serial gate stays green.
  *
  * Shape: ONE SparkSession (FAIR scheduler, as a multi-tenant driver
  * runs), a representative ~32-query subset spanning the hazard classes
  * (shared temp views, ANN persistence chains, streaming replays on both
  * providers, cached iterative loops, driver-built fixtures, seeded
  * sampling), run (1) serially for the baseline canon, then (2) from 8
  * worker threads draining one work queue — bit-identical canonical
  * results required, zero exceptions, and the pass fails as VACUOUS
  * unless ≥4 queries were observably in flight at once.
  *
  * Usage: runMain graft.tools.ConcurrencyGate [sfDir] [nThreads]
  * Exits nonzero on mismatch, exception, or no real overlap.
  */
object ConcurrencyGate {

  /** Hazard-class representatives. Kept explicit so a reader knows what
    * is proven concurrency-safe; the shared-temp-view quartet
    * (lineitem/orders/documents_sqlfn views) is the class most likely to
    * collide by construction. */
  val DefaultQueries: Seq[String] = Seq(
    // shared temp-view names (createOrReplaceTempView in one catalog)
    "q_sql_agg", "q_grouping_sets", "q_scalar_subquery",
    "q_sql_custom_funcs",
    // ANN persistence chains (scratch dirs, pointer swap, manifest)
    "q_ann_persist", "q_ann_compact",
    // streaming replays, both providers (session-conf scoping race)
    "q_stream_tumbling", "q_stream_dedup_rocksdb",
    // custom codegen Expressions under concurrent codegen/compilation
    "q_dedup_minhash", "q_dedup_near", "q_fingerprint", "q_lang_id",
    "q_quality_score",
    // joins / aggs / windows (broadcast + shuffle under fair scheduling)
    "q_monthly_rollup", "q_join_inner", "q_groupby_median",
    "q_latest_per_key", "q_topk", "q_salted_agg", "q_bucket_join",
    // cached/checkpointed iterative loops (shared cache races)
    "q_pagerank", "q_cc_labels", "q_adamic_adar", "q_dedup_clusters",
    // driver-built ingest fixtures + file sinks
    "q_gsod_e2e", "q_gsod_tar", "q_parse_text", "q_format_roundtrip",
    // ML / seeded sampling / similarity
    "q_random_split", "q_gbt_predict", "q_kmeans_assign", "q_semdedup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nThreads = args.lift(1).map(_.toInt).getOrElse(8)
    val queries = Gates.queryList(None, DefaultQueries)
    val spark = Sessions.start(
      Sessions.builder().config("spark.scheduler.mode", "FAIR"))

    // pass 1: serial baseline in one order
    val serial = queries.map(q => q -> Gates.canonOf(spark, sfDir, q)).toMap

    // pass 2: N threads drain one queue, reverse order (so the schedule
    // differs from the baseline's); track true overlap for anti-vacuity
    val work = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    queries.reverse.foreach(work.add)
    val results = new java.util.concurrent.ConcurrentHashMap[
      String, Gates.Result]()
    val active = new AtomicInteger(0)
    val maxActive = new AtomicInteger(0)
    val threads = (0 until nThreads).map { i =>
      val t = new Thread(() => {
        var q = work.poll()
        while (q != null) {
          val now = active.incrementAndGet()
          maxActive.accumulateAndGet(now, math.max)
          try results.put(q, Gates.canonOf(spark, sfDir, q))
          finally active.decrementAndGet()
          q = work.poll()
        }
      }, s"graft-concurrency-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    Sessions.stop(spark)

    var bad = Gates.compare("concurrency", queries, serial,
      results.asScala.toMap)
    println(s"[concurrency] max in-flight: ${maxActive.get} " +
      s"(threads=$nThreads)")
    if (maxActive.get < 4) {
      println("[concurrency] VACUOUS: <4 queries ever overlapped")
      bad += 1
    }
    println(s"[concurrency] ${queries.size - bad}/${queries.size} " +
      "queries identical serial vs concurrent")
    if (bad > 0) sys.exit(1)
  }
}
