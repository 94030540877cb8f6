package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense global ranks WITHOUT a global sort — the scale-form primitive
  * behind every "position in total order" operator (z-order tiling,
  * sorted-neighborhood dedup, exact global shuffles).
  *
  * A `Window.orderBy(...)` with no partition spec funnels every row
  * through ONE task: correct at sf0.1, dead at 100 TB. The distributed
  * replacement here computes the same rank with range BUCKETS whose
  * cutpoints are sampled once and embedded as plan literals (the same
  * bounds-as-literals move production z-order writers make):
  *
  *   1. a bounded, deterministic key-hash sample of the first sort
  *      column picks `nParts−1` cutpoints (layout-independent — same
  *      sample whatever the partitioning, the IVF-quantizer pattern);
  *   2. every row's bucket comes from a codegen'd binary-search CASE
  *      tree over those literal cutpoints — a pure expression, so every
  *      branch of the plan assigns identical buckets (a sampled
  *      `repartitionByRange` exchange would re-sample per branch and
  *      disagree);
  *   3. per-bucket counts (≤ nParts rows) collect once; their prefix
  *      sums embed as literal binary-search CASE offsets — no join, no
  *      broadcast, no global window even here;
  *   4. `row_number` over `Window.partitionBy(bucket)` — partition-LOCAL
  *      — plus the bucket's offset.
  *
  * rank = offset(bucket) + local row_number: dense, 1-based, equal to
  * `row_number().over(Window.orderBy(sortCols))` bit-for-bit.
  *
  * Requirements: `sortCols` must be a TOTAL order (unique tiebreaker
  * last), all ascending; the FIRST sort column doubles as the bucket
  * key, so it should be high-cardinality — rows sharing one value of it
  * always land in one bucket (a single mega-hot key is the same skew a
  * range partitioner would suffer; pick the key accordingly).
  */
object Ranks {

  /** Append a dense 1-based global-rank column in `sortCols` order.
    * Internal columns are dropped; every input column is preserved.
    * Triggers THREE bounded driver-side jobs at build time (a count, a
    * ≤ 128·nParts-row cutpoint sample collect, and the ≤ nParts-row
    * per-bucket counts collect — each a full pass over `df`'s upstream,
    * so callers with expensive upstreams should materialize their input
    * first, as Dedup.sortedNeighborhood does).
    *
    * @param totalCol also append the total row count (constant column)
    *                 — rank-arithmetic consumers (ntile emulation) need
    *                 n without a second pass over the data.
    */
  def globalRank(df: DataFrame, sortCols: Seq[Column], nParts: Int,
      rankCol: String, totalCol: Option[String] = None): DataFrame = {
    require(nParts > 0, s"nParts=$nParts must be positive")
    val bounds = sampleCutpoints(df, sortCols.head, nParts)
    val keyed = df.withColumn("__gr_bkt", bucketOf(sortCols.head, bounds))
    // per-bucket counts COLLECTED (≤ nParts rows, one bounded job) and
    // prefix-summed on the driver: the offsets embed as a codegen'd
    // binary-search CASE over literal (bucket, offset) pairs — the same
    // bounds-as-literals move the cutpoints already make — so the plan
    // carries NO join for the rank attach at all (r12: the r11 form
    // materialized the counts and prefix-summed them through a
    // triangular broadcast nested-loop join, which cost a checkpoint, a
    // broadcast, and an unbounded-build BNLJ node in every consumer's
    // plan — PlanSweep flagged exactly that).
    val cnts = keyed.groupBy("__gr_bkt").agg(count(lit(1)).as("__gr_cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = cnts.scanLeft(0L)(_ + _._2)
    val offEntries = cnts.indices.map(i => (cnts(i)._1, offsets(i)))
    val local = Window.partitionBy("__gr_bkt").orderBy(sortCols: _*)
    val ranked = keyed
      .withColumn(rankCol,
        literalLookup(col("__gr_bkt"),
          offEntries.map { case (k, v) => (k, lit(v)) }, lit(0L)) +
          row_number().over(local))
      .drop("__gr_bkt")
    totalCol match {
      case None => ranked
      case Some(n) => ranked.withColumn(n, lit(offsets.last))
    }
  }

  /** Balanced binary-search CASE over literal `(key, value)` entries,
    * sorted by key — O(log n) codegen'd compares per row, the
    * [[bucketOf]] shape for attaching a small driver-computed lookup
    * (bucket offsets) as plan literals instead of a broadcast join.
    * Every probed key must be present: probes are bucket ids of the same
    * data the entries were aggregated from, so a key the entries never
    * saw means the upstream changed between the build-time collect and
    * this pass (a non-deterministic or mutated input). The leaf checks
    * its key and raises instead of handing back a neighbouring bucket's
    * value; with no entries at all every probe raises. `default` types
    * the empty case. */
  private[ops] def literalLookup(key: Column,
      entries: IndexedSeq[(Int, Column)], default: Column): Column = {
    val unseen = raise_error(concat(lit("bucket id "), key.cast("string"),
      lit(" is not among the build-time offsets: the upstream changed " +
        "between the offsets collect and this pass (is it deterministic?)")))
    def go(lo: Int, hi: Int): Column =
      if (lo == hi)
        when(key === lit(entries(lo)._1), entries(lo)._2).otherwise(unseen)
      else {
        val mid = (lo + hi) / 2
        when(key > lit(entries(mid)._1), go(mid + 1, hi))
          .otherwise(go(lo, mid))
      }
    if (entries.isEmpty) when(lit(false), default).otherwise(unseen)
    else go(0, entries.length - 1)
  }

  /** Append running (prefix) sums — and optionally the dense rank — over
    * the TOTAL `sortCols` order, with no empty-partition-spec Window
    * anywhere in the plan: [[globalRank]]'s cutpoint machinery
    * generalized from row counting to value accumulation. For each
    * `(outCol, valueCol)` in `cums` the output carries
    * `outCol = Σ valueCol` over every row at-or-before this one in
    * `sortCols` order — exactly `sum(valueCol).over(Window
    * .orderBy(sortCols).rowsBetween(unboundedPreceding, currentRow))`,
    * computed as per-bucket local running sums plus per-bucket prefix
    * OFFSETS collected once (≤ nParts rows) and embedded as literal
    * binary-search CASE trees — the [[globalRank]] offsets-as-literals
    * shape, no join anywhere in the plan.
    *
    * Value columns must be EXACT types (long/decimal): their sums
    * re-associate losslessly, so the distributed form is bit-identical
    * to the single-partition window. Do NOT pass float/double values —
    * partial-sum re-association would change ulps (rejected at build).
    * Value columns must also be NON-NULL except where NULLs sort to the
    * global head (a NULL sort key lands in bucket 0): a NULL value
    * mid-order would make literal-offset + NULL-local-prefix diverge
    * from the window form's skip-NULLs semantics. Same requirements as
    * [[globalRank]] otherwise (total order; high-cardinality first sort
    * column — see [[descCountKey]] for the rank-by-count shape). The
    * optional rank is LONG (offset arithmetic); consumers that pinned
    * `row_number()`'s INT cast it back at the call site. Same three
    * bounded build-time jobs as [[globalRank]]; materialize expensive
    * upstreams first. */
  def globalCumsum(df: DataFrame, sortCols: Seq[Column], nParts: Int,
      cums: Seq[(String, String)],
      rankCol: Option[String] = None): DataFrame = {
    require(nParts > 0, s"nParts=$nParts must be positive")
    require(cums.nonEmpty || rankCol.nonEmpty,
      "globalCumsum needs at least one cumulative column or a rank column")
    val bounds = sampleCutpoints(df, sortCols.head, nParts)
    val keyed = df.withColumn("__gr_bkt", bucketOf(sortCols.head, bounds))
    // per-bucket counts AND value totals in ONE collected aggregate
    // (≤ nParts rows, one bounded job), prefix-summed on the driver and
    // embedded as literal binary-search CASE trees — the globalRank
    // offsets-as-literals shape, so the plan carries no join at all
    val aggs = count(lit(1)).as("__gr_cnt") +: cums.zipWithIndex.map {
      case ((_, v), i) => sum(col(v)).as(s"__gr_s$i") }
    val rows = keyed.groupBy("__gr_bkt").agg(aggs.head, aggs.tail: _*)
      .collect().sortBy(_.getInt(0))
    // driver-side prefix sums; a bucket whose value-sum is NULL (all its
    // values NULL) contributes nothing, exactly as window `sum` skips
    // NULLs. Exact types only: Long and BigDecimal accumulate losslessly.
    def prefixOf(idx: Int): IndexedSeq[(Int, Column)] = {
      var accL = 0L
      var accD: java.math.BigDecimal = java.math.BigDecimal.ZERO
      rows.toIndexedSeq.map { r =>
        val off: Column = r.get(idx) match {
          case null => if (accD.signum != 0) lit(accD) else lit(accL)
          case _: java.lang.Long =>
            val o = lit(accL); accL += r.getLong(idx); o
          case d: java.math.BigDecimal =>
            val o = lit(accD); accD = accD.add(d); o
          case other => throw new IllegalArgumentException(
            s"globalCumsum needs exact-typed (long/decimal) value " +
              s"columns, got ${other.getClass.getName}")
        }
        (r.getInt(0), off)
      }
    }
    val cntIdx = rows.headOption.map(_.fieldIndex("__gr_cnt")).getOrElse(1)
    val local = Window.partitionBy("__gr_bkt").orderBy(sortCols: _*)
    val localPre = local.rowsBetween(Window.unboundedPreceding, 0)
    val withRank = rankCol match {
      case Some(rc) =>
        keyed.withColumn(rc,
          literalLookup(col("__gr_bkt"), prefixOf(cntIdx), lit(0L)) +
            row_number().over(local))
      case None => keyed
    }
    val withCums = cums.zipWithIndex.foldLeft(withRank) {
      case (acc, ((out, v), i)) =>
        val idx = rows.headOption
          .map(_.fieldIndex(s"__gr_s$i")).getOrElse(i + 2)
        acc.withColumn(out,
          literalLookup(col("__gr_bkt"), prefixOf(idx), lit(0L)) +
            sum(col(v)).over(localPre))
    }
    withCums.drop("__gr_bkt")
  }

  /** Order-embedding of `(cnt DESC, tok ASC)` into ONE string key whose
    * plain ascending order equals the pair order — what lets the
    * rank-by-frequency shape (vocabulary builds, coverage curves) ride
    * [[globalRank]]/[[globalCumsum]] with a HIGH-CARDINALITY bucket key:
    * bucketing on `cnt` alone would funnel the entire Zipf singleton
    * tail (every cnt = 1 type) into one bucket, which at web scale is
    * the same single-task skew the machinery exists to avoid.
    *
    * Encoding: `Long.MaxValue − cnt` as FIXED-WIDTH (16-char) lowercase
    * hex, then the token. Fixed width makes the numeric prefix compare
    * lexicographically as the number (hex digits 0-9a-f are
    * ASCII-ascending), the subtraction flips to descending, and the
    * appended token breaks count-ties in UTF-8 byte order — exactly
    * Spark's string `<` and the ASC tok tiebreak. Requires cnt ≥ 0. */
  def descCountKey(cnt: Column, tok: Column): Column =
    concat(format_string("%016x", lit(Long.MaxValue) - cnt), tok)

  /** `ntile(t)` from a dense 1-based rank and the total count — the exact
    * row-position semantics of the window function, as plain arithmetic:
    * the first `n mod t` tiles take `⌈n/t⌉` rows, the rest `⌊n/t⌋`.
    * With rank produced by [[globalRank]], this equals
    * `ntile(t).over(Window.orderBy(sortCols))` bit-for-bit — which is what
    * lets a range-partitioned plan keep a window-function oracle. */
  def ntileFromRank(rank: Column, n: Column, t: Int): Column = {
    // Column./ is DOUBLE division; exact floor-division instead: subtract
    // the remainder first so the quotient divides exactly (values here are
    // ≪ 2^53, so the double round-trip is lossless).
    def idiv(a: Column, b: Column): Column = ((a - a % b) / b).cast("long")
    val q = idiv(n, lit(t.toLong))
    val r = (n % t).cast("long")
    val bigSpan = r * (q + lit(1L))       // rows covered by the ⌈·⌉ tiles
    // q = 0 (n < t) never reaches the otherwise-branch: bigSpan = n there,
    // and CaseWhen evaluates branches lazily, so no division by zero.
    when(rank <= bigSpan, idiv(rank - 1, q + lit(1L)) + 1)
      .otherwise(r + idiv(rank - bigSpan - 1, q) + 1)
      .cast("int")
  }

  /** `nParts−1` sorted cutpoint values of `key`, from a deterministic
    * bounded key-hash sample (never `.sample()`/`limit()` — those change
    * with layout). NULL keys are excluded: they sort first and therefore
    * always belong to bucket 0, which is where [[bucketOf]] sends them. */
  private[ops] def sampleCutpoints(df: DataFrame, key: Column,
      nParts: Int): IndexedSeq[Any] = {
    if (nParts == 1) return Vector.empty
    val keyOnly = df.select(key.as("__gr_k"))
    val n = keyOnly.count()
    val maxSample = 128L * nParts
    val sampled =
      if (n > maxSample) {
        // ceil + floor-of-1, as in ivfAssign: truncation would undershoot
        // and hit ZERO keep-rate on the huge corpora this exists for
        val keep = math.max(1L,
          math.ceil(maxSample.toDouble / n * 1000000L).toLong)
        keyOnly.filter(
          pmod(xxhash64(lit("rank-bounds"), col("__gr_k")), lit(1000000L))
            < keep)
      } else keyOnly
    val vals = sampled.collect().map(_.get(0)).filter(_ != null)
    val sorted: Array[Any] =
      if (vals.isEmpty) vals
      else vals.head match {
        case _: java.lang.Long => vals.sortBy(_.asInstanceOf[Long])
        case _: java.lang.Integer => vals.sortBy(_.asInstanceOf[Int])
        case _: java.lang.Double => vals.sortBy(_.asInstanceOf[Double])
        case _: java.lang.Float => vals.sortBy(_.asInstanceOf[Float])
        case _: String =>
          // Spark compares strings as UTF-8 BYTES; JVM String ordering is
          // UTF-16 — sort with Spark's own comparator so cutpoints agree
          // with the engine's > on non-ASCII too
          vals.sortWith((a, b) =>
            org.apache.spark.unsafe.types.UTF8String
              .fromString(a.asInstanceOf[String])
              .compareTo(org.apache.spark.unsafe.types.UTF8String
                .fromString(b.asInstanceOf[String])) < 0)
        case other => throw new IllegalArgumentException(
          s"unsupported bucket-key type ${other.getClass.getName} — " +
            "use a long/int/double/float/string sort key")
      }
    val m = sorted.length
    if (m == 0) Vector.empty
    else (1 until nParts).map(i => sorted(((i.toLong * m) / nParts).toInt
      .min(m - 1)))
  }

  /** Bucket index = #{cutpoints c | key > c}, as a BALANCED nested-CASE
    * binary search over literal bounds: log₂(nParts) codegen'd compares
    * per row, no interpreted HOF in the hot path. NULL keys take every
    * otherwise-branch and land in bucket 0 — consistent with
    * NULLS FIRST ascending order. Equal keys always share a bucket, so
    * bucket order extends the sort order. */
  private[ops] def bucketOf(key: Column, bounds: IndexedSeq[Any]): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(key > lit(bounds(mid)), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, bounds.length)
  }
}
