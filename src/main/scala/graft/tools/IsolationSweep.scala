package graft.tools

import graft.Sessions

/** Session-order-independence sweep — the gate the q_adamic_adar
  * landmine motivated: that query PASSED every full sweep for ten rounds
  * because earlier queries had materialized a shared cache that nudged
  * Catalyst into a plan shape deferring a partial expression
  * (1e9/ln(deg), ÷0 at deg=1) past the filter that discards its poison
  * rows — and THREW when run standalone, where the cold plan evaluated
  * it on the join input. Result correctness was never affected (the
  * poison rows are discarded either way); the failure mode was a
  * plan-shape-dependent ANSI runtime error. A library must give the
  * same answer to a user who runs ONE query in a fresh session as to
  * the driver's warm 362-query sweep.
  *
  * Shape: one session, two passes over the ENTIRE registry —
  *   pass 1 (warm): registry order, shared caches accumulate exactly as
  *     in the driver's Verify sweep;
  *   pass 2 (cold): alphabetical order, `spark.catalog.clearCache()`
  *     before EVERY query — each query re-plans from cold inputs, the
  *     standalone-session equivalent (cache registration still happens,
  *     but nothing is ever warm and no other query's materialization
  *     can shape this query's plan).
  * Every query must produce the SAME canonical result in both passes
  * and throw in neither. Exits nonzero otherwise.
  *
  * Usage: runMain graft.tools.IsolationSweep [sfDir]
  */
object IsolationSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.start(Gates.local)
    // true registry order (the ordered spec Seq, not the unordered Map —
    // Map iteration is hash order, which only happens to match Verify)
    val warmOrder = graft.SparkEntry.specs.map(_.name)
    val warm = warmOrder.map(q => q -> Gates.canonOf(spark, sfDir, q)).toMap
    val coldOrder = warmOrder.sorted
    val cold = coldOrder.map { q =>
      spark.catalog.clearCache()
      q -> Gates.canonOf(spark, sfDir, q)
    }.toMap
    Sessions.stop(spark)

    val bad = Gates.compare("isolation", coldOrder, warm, cold)
    println(s"[isolation] ${warmOrder.size - bad}/${warmOrder.size} " +
      "queries identical warm-sweep vs cold-per-query")
    if (bad > 0) sys.exit(1)
  }
}
