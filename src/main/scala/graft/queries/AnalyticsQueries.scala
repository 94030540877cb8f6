package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** General analytics surface beyond the reference's own operators —
  * ranking windows, rollup subtotals, pivot, anti-join, set ops, and the
  * sketch-based median for 100 TB (SURVEY §2a notes these as "free from
  * Spark when needed"; a user switching engines expects them).
  */
object AnalyticsQueries {

  /** Ranking + frame window functions: per-user top-3 events by value with
    * the previous value (lag) — one shuffle on user_id shared by both
    * window functions (same partitioning + ordering). */
  val rankWindow = QuerySpec(
    "q_rank_window",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      events(s, d)
        .withColumn("rnk", row_number().over(w).cast("long")) // BIGINT like the oracle
        .withColumn("prev_val", lag(col("value"), 1).over(w))
        .filter(col("rnk") <= 3)
        .select("user_id", "event_id", "value", "rnk", "prev_val")
        .orderBy("user_id", "rnk")
    },
    Some("""
      SELECT user_id, event_id, value, rnk, prev_val
      FROM (
        SELECT user_id, event_id, value,
               row_number() OVER w AS rnk,
               lag(value) OVER w AS prev_val
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
      )
      WHERE rnk <= 3
      ORDER BY user_id, rnk
    """))

  /** ROLLUP subtotals: per (flag, status), per flag, and grand total in one
    * pass — Spark plans a single Expand + aggregate, no re-scan per level. */
  val rollup = QuerySpec(
    "q_rollup",
    (s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n_rows"), col("sum_qty"))
        .orderBy("rf", "ls"),
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls
    """))

  /** Pivot: per-user event counts spread across fixed event-type columns.
    * Explicit value list — with it Spark skips the extra distinct-values
    * job and the plan is a single aggregate. Absent combinations pivot to
    * NULL; coalesce to 0 to match SQL's FILTER counts. */
  val pivot = QuerySpec(
    "q_pivot",
    (s, d) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = events(s, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id,
             count(*) FILTER (event_type = 'click') AS click,
             count(*) FILTER (event_type = 'view') AS view,
             count(*) FILTER (event_type = 'purchase') AS purchase,
             count(*) FILTER (event_type = 'signup') AS signup,
             count(*) FILTER (event_type = 'error') AS error
      FROM events
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** Left-anti join (NOT EXISTS): customers with no 300k+ order. Same
    * broadcast/shuffle strategy space as semi-join — the right side
    * reduces to its keys. */
  val antiJoin = QuerySpec(
    "q_anti_join",
    (s, d) => {
      val big = orders(s, d).filter(col("o_totalprice") > 300000)
      customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey
    """))

  /** Set operations: customers ordering in both 1996 and 1997 (INTERSECT)
    * and in 1996 only (EXCEPT), tagged and unioned. Spark plans both as
    * aggregates/joins on the distinct keys. */
  val setOps = QuerySpec(
    "q_set_ops",
    (s, d) => {
      val o = orders(s, d)
      def keys(y: Int) =
        o.filter(year(col("o_orderdate")) === y).select("o_custkey")
      val both = keys(1996).intersect(keys(1997))
        .withColumn("op", lit("both"))
      val only96 = keys(1996).except(keys(1997))
        .withColumn("op", lit("only_1996"))
      both.unionByName(only96)
        .select("op", "o_custkey")
        .orderBy("op", "o_custkey")
    },
    Some("""
      SELECT 'both' AS op, o_custkey
      FROM (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
            INTERSECT
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      UNION ALL
      SELECT 'only_1996' AS op, o_custkey
      FROM (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
            EXCEPT
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      ORDER BY op, o_custkey
    """))

  /** The 100 TB median: percentile_approx's single-pass mergeable sketch
    * (KLL-style), vs q_groupby_median's exact buffers which hold every
    * value. The sketch VALUE is engine-specific (DuckDB can't reproduce
    * it), so the compared output carries the exact median plus an IN-PLAN
    * tolerance verdict: approx_ok = |approx − exact| ≤ 1 quantity unit
    * (accuracy 10000 ⇒ rank error ≤ n/10000 ≈ 6 ranks over integral
    * quantities 1–50 — far inside one unit). The oracle asserts the
    * verdict is constant-true, so a broken sketch hash-mismatches loudly
    * instead of hiding behind a rows-only check. */
  val medianApprox = QuerySpec(
    "q_median_approx",
    (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("__approx"),
          expr("percentile(l_quantity, 0.5D)").as("med_exact"),
          count(lit(1)).as("n_rows"))
        .select(
          col("l_returnflag"), col("l_linestatus"), col("med_exact"),
          col("n_rows"),
          // total verdict (hollow DegenGate): a group whose values are
          // all NULL has NO median on either path — vacuously ok; a
          // one-sided NULL (broken sketch) falls to the loud 0
          when(col("__approx").isNull && col("med_exact").isNull, 1)
            .when(abs(col("__approx") - col("med_exact")) <= 1.0, 1)
            .otherwise(0).as("approx_ok"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             quantile_cont(l_quantity, 0.50) AS med_exact,
             count(*) AS n_rows,
             1 AS approx_ok
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  /** Approximate heavy hitters: a Count-Min sketch over the exploded
    * token stream (single distributed pass, mergeable — the 100 TB way
    * to track hot terms without a per-term hashmap), cross-checked
    * against the EXACT top-10. Same oracling pattern as q_median_approx:
    * the sketch ESTIMATES are engine-specific, so the compared output
    * carries the exact counts plus two in-plan verdicts the DuckDB
    * oracle pins as constant-true — `never_under` (a CMS can only
    * overestimate: its min-of-counters is ≥ the true count by
    * construction) and `within_eps` (overestimate ≤ 2·ε·N; seeded, so
    * the check is deterministic). The top-10 token list and the sketch
    * probes are driver-side QUERY PARAMETERS (10 values), like the
    * similarity probe vector — the counting itself is distributed. */
  val heavyHitters = QuerySpec(
    "q_heavy_hitters",
    (s, d) => {
      import graft.Tables
      // materialize-once barrier: THREE consumers read this stream (the
      // exact-top aggregate, the count-min sketch pass, the total count)
      // — uncached, the CPU-heavy tokenize+explode would run three times
      val toks = Tables.fanOut(s, documents(s, d))
        .select(explode(graft.ops.Text.tokens(col("text"))).as("t"))
        .cache()
      val exactTop = toks.groupBy("t")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t").asc)
        .limit(10)
      val eps = 0.001
      val sketch = toks.stat.countMinSketch("t", eps, 0.999, 42)
      val total = toks.count()
      val rows = exactTop.collect().map { r =>
        val (t, cnt) = (r.getString(0), r.getLong(1))
        val est = sketch.estimateCount(t)
        (t, cnt,
          if (est >= cnt) 1 else 0,
          if (est <= cnt + (2 * eps * total).toLong) 1 else 0)
      }.toSeq
      import s.implicits._
      rows.toDF("t", "cnt", "never_under", "within_eps")
        .orderBy(col("cnt").desc, col("t").asc)
    },
    Some("""
      SELECT t, cnt, 1 AS never_under, 1 AS within_eps
      FROM (
        SELECT t, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                        x -> x <> '')) AS t
              FROM documents)
        GROUP BY t
        ORDER BY cnt DESC, t ASC
        LIMIT 10
      )
      ORDER BY cnt DESC, t ASC
    """))

  /** Skew-safe aggregation: per-event-type totals via two-phase salted
    * aggregation (graft.ops.Skew). event_type has only 5 values — exactly
    * the low-cardinality hot-key shape that pins 5 reducers at 100 TB.
    * The oracle is the PLAIN group-by: salting must be result-invisible. */
  val saltedAgg = QuerySpec(
    "q_salted_agg",
    (s, d) =>
      graft.ops.Skew.saltedCountSum(
        events(s, d), "event_type", "value", salts = 16, col("event_id"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type, count(*) AS n_rows,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** CUBE: all grouping-set combinations in one Expand pass (rollup's
    * sibling — (a,b), (a), (b), () totals). */
  val cube = QuerySpec(
    "q_cube",
    (s, d) =>
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n_rows"))
        .orderBy("rf", "ls"),
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY rf, ls
    """))

  /** Generate/explode as a stand-alone surface: token frequencies over the
    * corpus, top-50 (explode → groupBy → TakeOrdered). */
  val explodeTokens = QuerySpec(
    "q_explode_tokens",
    (s, d) =>
      fanOut(s, documents(s, d))
        .select(explode(graft.ops.Text.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50),
    Some("""
      SELECT token, count(*) AS n
      FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  t -> t <> '')) AS token
        FROM documents
      )
      GROUP BY token
      ORDER BY n DESC, token ASC
      LIMIT 50
    """))

  /** MERGE/upsert (graft.ops.Upsert): apply a deterministic changeset
    * (updates %7, deletes %13, inserts %11 re-keyed +1e6) to the customer
    * snapshot. The oracle re-derives the same changeset and merges via
    * FULL OUTER JOIN — insert/update/delete paths all populated. */
  val upsert = QuerySpec(
    "q_upsert",
    (s, d) => {
      val c = customer(s, d)
      val updates = c
        .filter(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .withColumn("is_delete", lit(false))
      val deletes = c.filter(col("c_custkey") % 13 === 0)
        .withColumn("is_delete", lit(true))
      val inserts = c.filter(col("c_custkey") % 11 === 0)
        .select(
          (col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("NEW#"), col("c_custkey").cast("string")).as("c_name"),
          col("c_nationkey"),
          lit(0.0).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"),
          lit(false).as("is_delete"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      graft.ops.Upsert.merge(c, changes, "c_custkey", "is_delete")
        .orderBy("c_custkey")
    },
    Some("""
      WITH changes AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
               'UPDATED' AS c_mktsegment, false AS is_delete
        FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, true
        FROM customer WHERE c_custkey % 13 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW#' || CAST(c_custkey AS VARCHAR),
               c_nationkey, 0.0, 'NEW', false
        FROM customer WHERE c_custkey % 11 = 0
      )
      SELECT c_custkey,
             coalesce(ch.c_name, s.c_name) AS c_name,
             coalesce(ch.c_nationkey, s.c_nationkey) AS c_nationkey,
             coalesce(ch.c_acctbal, s.c_acctbal) AS c_acctbal,
             coalesce(ch.c_mktsegment, s.c_mktsegment) AS c_mktsegment
      FROM customer s FULL OUTER JOIN changes ch USING (c_custkey)
      WHERE coalesce(ch.is_delete, false) = false
      ORDER BY c_custkey
    """))

  /** Bloom-filter membership probe — the 100 TB decontamination/lookup
    * shape: build the filter DISTRIBUTED over the key stream
    * (`bloom_filter_agg`, a mergeable sketch aggregate), ship it as one
    * scalar (a broadcast in cluster terms), and probe the other table in
    * a single codegen'd scan pass (`might_contain`) — no join, no
    * shuffle of the probed side. The sketch BITS are engine-specific, so
    * the compared output is the exact membership counts (DuckDB
    * recomputes via semi-join) plus two verdicts the oracle pins
    * constant-true: a Bloom filter has NO false negatives (every real
    * buyer must hit), and the false-positive overshoot stays under 5% of
    * non-members at the configured fpp (seeded ⇒ deterministic). */
  val bloomProbe = QuerySpec(
    "q_bloom_probe",
    (s, d) => {
      import graft.functions.BloomSketch._
      // The BUILD is a distributed mergeable aggregate; the built filter
      // (a ~40 kB binary) then travels to the probe scan as a literal —
      // a driver-side fetch of a query PARAMETER, not data (same pattern
      // as the similarity probe vector and the CMS probes; Spark's own
      // might_contain requires a constant/scalar-subquery filter side).
      val bf = orders(s, d)
        .agg(bloom_filter_agg(xxhash64(col("o_custkey")), 30000L, 300000L).as("__bf"))
        .head().getAs[Array[Byte]](0)
      val buyers = orders(s, d).select(col("o_custkey").as("c_custkey")).distinct()
      customer(s, d)
        .join(buyers.withColumn("__buyer", lit(1)), Seq("c_custkey"), "left")
        .withColumn("__hit",
          bloom_might_contain(lit(bf), xxhash64(col("c_custkey"))).cast("int"))
        .agg(
          count(lit(1)).as("n_customers"),
          // coalesce each sum: over ZERO customers (the degen `empty`
          // corpus) sum() is NULL, but the oracle's counts are 0 and the
          // verdicts must still read "no false negatives seen"
          coalesce(sum(coalesce(col("__buyer"), lit(0))), lit(0L))
            .as("n_buyers"),
          coalesce(sum(when(col("__buyer") === 1 && col("__hit") === 0, 1L)
            .otherwise(0L)), lit(0L)).as("__missed"),
          coalesce(sum(when(col("__buyer").isNull && col("__hit") === 1, 1L)
            .otherwise(0L)), lit(0L)).as("__fp"),
          coalesce(sum(when(col("__buyer").isNull, 1L).otherwise(0L)),
            lit(0L)).as("__nonmembers"))
        .select(
          col("n_customers"), col("n_buyers"),
          (col("__missed") === 0L).cast("int").as("no_false_neg"),
          (col("__fp") <= col("__nonmembers") * 0.05).cast("int").as("fp_rate_ok"))
    },
    Some("""
      SELECT (SELECT count(*) FROM customer) AS n_customers,
             (SELECT count(*) FROM customer c
               WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
               AS n_buyers,
             1 AS no_false_neg,
             1 AS fp_rate_ok
    """))

  /** Incremental aggregate maintenance (materialized-view refresh): the
    * standing agg over the BASE partition merges with the DELTA batch's
    * partial aggregate instead of recomputing the world — union the
    * partials, re-aggregate (counts and decimal sums are mergeable by
    * construction). At 100 TB this is the only affordable refresh: the
    * base partials persist, each new batch contributes one small
    * aggregate, and the merge touches aggregate rows, never raw history.
    * The oracle recomputes from scratch — merged MUST equal recomputed. */
  val incrementalAgg = QuerySpec(
    "q_incremental_agg",
    (s, d) => {
      val o = orders(s, d)
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("__total"))
      // base+delta must PARTITION the table or the refresh silently loses
      // rows: a NULL order date satisfies neither < nor >=, so it routes
      // to the delta batch explicitly (hollow DegenGate caught the loss)
      val base = partial(o.filter(col("o_orderdate") < "1997-01-01"))
      val delta = partial(o.filter(
        col("o_orderdate") >= "1997-01-01" || col("o_orderdate").isNull))
      base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
          sum(col("n_orders")).as("n_orders"),
          sum(col("__total")).cast("double").as("total"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  /** Bloom-prefiltered join — Spark's runtime-filter pattern made
    * explicit: build a Bloom filter over the SELECTIVE side's join keys
    * (high-value orders), prune the fact scan with `might_contain`
    * BEFORE the shuffle, then run the exact join (which also removes the
    * filter's false positives — the result is exactly the plain join, so
    * the oracle is the plain SQL). At 100 TB this is what turns a
    * full-fact-shuffle join into a shuffle of the ~matching rows only. */
  val bloomJoin = QuerySpec(
    "q_bloom_join",
    (s, d) => {
      import graft.functions.BloomSketch._
      val hot = orders(s, d)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_orderkey"))
      val bf = hot
        .agg(bloom_filter_agg(xxhash64(col("o_orderkey")), 20000L, 200000L).as("b"))
        .head().getAs[Array[Byte]](0)
      lineitem(s, d)
        .filter(bloom_might_contain(lit(bf), xxhash64(col("l_orderkey"))))
        .join(hot, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             count(*) AS n_lines,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 300000.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Audience-overlap cardinality via KMV sketches (graft.ops.Kmv): how
    * many distinct users sit in BOTH high-value segments ("purchased
    * > 150" ∩ "clicked > 150") — the set-INTERSECTION estimate an HLL
    * union can never produce (q_sketch_rollup's sketch only unions).
    * Four rows: each segment, their union, their intersection; per row
    * the exact distinct count next to the sketch estimate.
    *
    * Everything is derandomized md5 arithmetic (Kmv scaladoc), so unlike
    * the HLL/CMS queries this needs NO verdict columns: the DuckDB
    * oracle replays the sketch itself (rank ≤ k over the same 48-bit
    * hashes) and the estimates compare EXACTLY. k = 64 and the test
    * corpora are sized so the sf0.001/sf0.01 runs exercise the
    * sketch-is-complete branch while sf0.1 (segments ~700, union ~1100)
    * exercises the true estimator branch — both rules hash-gated.
    *
    * Scale shape: one distinct-ize shuffle of the filtered (seg, user)
    * pairs, then every sketch is a k-bounded TopK AGGREGATE (map-side
    * partial buffers — no window, no global sort), and all combination
    * math runs on four single-row frames. 48-bit hash collisions
    * (~n²/2⁴⁹ per segment, none on these corpora) are handled with SET
    * semantics on BOTH sides — array_intersect here, DISTINCT-before-
    * join in the oracle's rho — so a collided value counts once each
    * way; h₍k₎ itself is position-based and agrees because both engines
    * rank the identical hash multiset. */
  val kmvOverlap = QuerySpec(
    "q_kmv_overlap",
    (s, d) => {
      import graft.ops.Kmv
      val k = 64
      val base = events(s, d)
        .filter(col("value") > 150 && col("event_type").isin("purchase", "click"))
        .select(
          when(col("event_type") === "purchase", "A").otherwise("B").as("seg"),
          col("user_id"))
        .distinct()
        .withColumn("h", Kmv.hash48(col("user_id")))
        .cache() // three consumers: per-seg sketches, union sketch, exact ∩
      val segSk = Kmv.sketchCols(k, col("h"))
      val perSeg = base.groupBy("seg").agg(segSk.head, segSk.tail: _*)
      // left-join against the literal segment list: an EMPTY segment
      // must yield (empty sketch, n = 0), not annihilate the crossJoin
      // chain — the oracle's VALUES left joins mirror this
      import s.implicits._
      def segRow(name: String, hsOut: String, nOut: String) =
        Seq(name).toDF("seg").join(perSeg, Seq("seg"), "left")
          .select(
            coalesce(col("hs"), array().cast("array<bigint>")).as(hsOut),
            coalesce(col("n"), lit(0L)).as(nOut))
      val a = segRow("A", "hs_a", "n_a")
      val b = segRow("B", "hs_b", "n_b")
      val uniSk = Kmv.sketchCols(k, col("h"))
      val u = base.select("user_id", "h").distinct()
        .agg(uniSk.head, uniSk.tail: _*)
        .select(col("hs").as("hs_u"), col("n").as("n_u"))
      val i = base.groupBy("user_id").agg(count(lit(1)).as("c"))
        .filter(col("c") === 2)
        .agg(count(lit(1)).as("n_i"))
      a.crossJoin(b).crossJoin(u).crossJoin(i)
        .withColumn("est_a", Kmv.estimate(k, "hs_a", "n_a"))
        .withColumn("est_b", Kmv.estimate(k, "hs_b", "n_b"))
        .withColumn("est_u", Kmv.estimate(k, "hs_u", "n_u"))
        .withColumn("rho",
          size(array_intersect(col("hs_u"),
            array_intersect(col("hs_a"), col("hs_b")))).cast("long"))
        .withColumn("est_i",
          when(col("n_u") < k, col("rho"))
            .otherwise(expr(s"(rho * est_u) DIV $k")))
        .select(explode(array(
          struct(lit("purchase_hi").as("segment"), col("n_a").as("n_exact"),
            col("est_a").as("kmv_est")),
          struct(lit("click_hi").as("segment"), col("n_b").as("n_exact"),
            col("est_b").as("kmv_est")),
          struct(lit("union").as("segment"), col("n_u").as("n_exact"),
            col("est_u").as("kmv_est")),
          struct(lit("intersect").as("segment"), col("n_i").as("n_exact"),
            col("est_i").as("kmv_est")))).as("r"))
        .select("r.*")
        .orderBy("segment")
    },
    Some("""
      WITH base AS (
        SELECT DISTINCT
               CASE WHEN event_type = 'purchase' THEN 'A' ELSE 'B' END AS seg,
               user_id
        FROM events
        WHERE value > 150 AND event_type IN ('purchase', 'click')
      ),
      h AS (
        SELECT seg, user_id,
               ('0x' || substr(md5('kmv42:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM base
      ),
      segr AS (SELECT seg, h,
                      row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
               FROM h),
      segs AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
                      max(CASE WHEN rn = 64 THEN h END) AS hk
               FROM segr GROUP BY seg),
      ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
             FROM (SELECT DISTINCT user_id, h FROM h)),
      un AS (SELECT CAST(count(*) AS BIGINT) AS n_u,
                    max(CASE WHEN rn = 64 THEN h END) AS hk_u
             FROM ur),
      rho AS (SELECT CAST(count(*) AS BIGINT) AS rho
              FROM (SELECT DISTINCT h FROM ur WHERE rn <= 64) u
              JOIN (SELECT DISTINCT h FROM segr WHERE seg = 'A' AND rn <= 64) a USING (h)
              JOIN (SELECT DISTINCT h FROM segr WHERE seg = 'B' AND rn <= 64) b USING (h)),
      ni AS (SELECT CAST(count(*) AS BIGINT) AS n_i
             FROM (SELECT user_id FROM base GROUP BY user_id HAVING count(*) = 2)),
      est AS (SELECT seg, n,
                     CASE WHEN n < 64 THEN n
                          ELSE 17732923532771328 // (hk + 1) END AS est
              FROM segs),
      eu AS (SELECT n_u,
                    CASE WHEN n_u < 64 THEN n_u
                         ELSE 17732923532771328 // (hk_u + 1) END AS est_u
             FROM un)
      SELECT segment, n_exact, kmv_est FROM (
        SELECT 'purchase_hi' AS segment, coalesce(n, 0) AS n_exact,
               coalesce(est, 0) AS kmv_est
        FROM (VALUES ('A')) v(seg) LEFT JOIN est USING (seg)
        UNION ALL
        SELECT 'click_hi', coalesce(n, 0), coalesce(est, 0)
        FROM (VALUES ('B')) v(seg) LEFT JOIN est USING (seg)
        UNION ALL
        SELECT 'union', n_u, est_u FROM eu
        UNION ALL
        SELECT 'intersect', (SELECT n_i FROM ni),
               (SELECT CASE WHEN u.n_u < 64 THEN r.rho
                            ELSE (r.rho * e.est_u) // 64 END
                FROM rho r, un u, eu e)
      )
      ORDER BY segment
    """))

  /** IN-PLAN Count-Min probe — the distributed sibling of
    * q_heavy_hitters' driver-side estimates: the builtin
    * `count_min_sketch` aggregate builds ONE mergeable sketch over the
    * whole stream (map-side combinable; the corpus is touched once), and
    * the custom cms_estimate expression (graft.functions.CmsEstimate)
    * probes it per row of a probe RELATION under a broadcast join — no
    * estimate ever rides through the driver, so the probe side can be a
    * table, not a 10-value parameter list. Verdict oracling as in
    * q_heavy_hitters: exact twin counts plus `never_under` (CMS
    * min-of-counters ≥ truth by construction) and `within_bound`
    * (overestimate ≤ 10·ε·N — generous slack on the probabilistic arm;
    * seeded, so deterministic per SF). A key absent from the stream pins
    * the zero-truth arm. */
  val cmsProbe = QuerySpec(
    "q_cms_probe",
    (s, d) => {
      import s.implicits._
      val eps = 0.0001
      val li = lineitem(s, d).select(col("l_suppkey").cast("long").as("k"))
      val sketch = li.agg(
        expr(s"count_min_sketch(k, ${eps}d, 0.99d, 42)").as("sk"))
      val total = li.agg(count(lit(1)).as("n_total"))
      val truth = li.where(col("k") <= 8)
        .groupBy(col("k").as("probe_key"))
        .agg(count(lit(1)).as("true_cnt"))
        .unionByName(Seq((999999999L, 0L)).toDF("probe_key", "true_cnt"))
      val est = graft.functions.CmsEstimate.cms_estimate(col("sk"),
        col("probe_key"))
      truth.crossJoin(broadcast(sketch)).crossJoin(broadcast(total))
        .select(col("probe_key"), col("true_cnt"),
          (est >= col("true_cnt")).as("never_under"),
          (est <= col("true_cnt") +
            ceil(lit(10 * eps) * col("n_total")).cast("long"))
            .as("within_bound"))
        .orderBy("probe_key")
    },
    Some("""
      WITH t AS (
        SELECT CAST(l_suppkey AS BIGINT) AS probe_key,
               CAST(count(*) AS BIGINT) AS true_cnt
        FROM lineitem WHERE l_suppkey <= 8 GROUP BY 1
        UNION ALL SELECT 999999999, 0
      )
      SELECT probe_key, true_cnt,
             TRUE AS never_under, TRUE AS within_bound
      FROM t ORDER BY probe_key
    """))

  /** Frequent-itemset pairs with association metrics — market-basket
    * mining (the "frequently bought together" table behind q_pagerank's
    * co-occurrence graph, promoted to a first-class mining op): per part
    * pair, support count, directional confidences, and lift. Top 100 by
    * lift (ties broken by the pair key, so the limit is total-ordered).
    *
    * Scale shape: pair generation is the per-basket self-join (fan-out
    * bounded by basket size², never table size); the MIN-SUPPORT floor
    * prunes before any metric math (the Apriori downward-closure cut);
    * item supports are one map-side-combinable aggregate joined back on
    * the part key (broadcastable — it is dim-sized). Every metric is one
    * double division of exact longs: conf(a→b) = n_ab/n_a,
    * lift = n_ab·N / (n_a·n_b). A skewed mega-basket (one order with 10⁵
    * parts) is the known failure mode at scale — cap basket size upstream
    * or salt the order key, the q_skew_join precedent. */
  val itemsets = QuerySpec(
    "q_itemsets",
    (s, d) => {
      // cached: the basket frame feeds three consumers (total count,
      // item supports, both sides of the pair self-join) — uncached,
      // the distinct shuffle runs four times
      val b = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .cache()
      val nB = b.select("ok").distinct().agg(count(lit(1)).as("n_baskets"))
      val item = b.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val pairs = b.as("x")
        .join(b.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(item.select(col("pk").as("a"), col("n_item").as("n_a")), "a")
        .join(item.select(col("pk").as("b"), col("n_item").as("n_b")), "b")
        .crossJoin(broadcast(nB))
        .select(
          col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          (col("n_ab").cast("double") / col("n_a").cast("double"))
            .as("conf_ab"),
          (col("n_ab").cast("double") / col("n_b").cast("double"))
            .as("conf_ba"),
          ((col("n_ab") * col("n_baskets")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(100)
    },
    Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                 FROM lineitem),
      nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM b),
      item AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
               FROM b GROUP BY 1),
      pairs AS (
        SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS n_ab
        FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
        GROUP BY 1, 2
        HAVING count(*) >= 2
      )
      SELECT p.a, p.b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
             CAST(p.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS conf_ab,
             CAST(p.n_ab AS DOUBLE) / CAST(ib.n_item AS DOUBLE) AS conf_ba,
             CAST(p.n_ab * nb.n_baskets AS DOUBLE)
               / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
      FROM pairs p
      JOIN item ia ON ia.pk = p.a
      JOIN item ib ON ib.pk = p.b
      CROSS JOIN nb
      ORDER BY lift DESC, a, b
      LIMIT 100
    """))

  /** Item-item collaborative filtering: for every part, its top-3 most
    * similar parts by Ochiai / cosine-on-sets — c_ab / √(n_a·n_b) over
    * basket co-occurrence — the classic "customers also bought"
    * neighborhood model. Exactness: counts are integers; the similarity
    * is √ and ÷ of exact ints (both IEEE-correctly-rounded, so the
    * VALUES are engine-portable, and the per-item ranking breaks ties
    * on the partner id). Scale shape: co-occurrence pairs are basket-
    * bounded with the ≥ 2 support floor BEFORE any similarity math;
    * the per-item top-3 is a window PARTITIONED by item (never global);
    * item supports join back dim-sized. */
  val itemCf = QuerySpec(
    "q_item_cf",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("item").orderBy(col("ochiai").desc, col("other"))
      val b = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .cache()
      val item = b.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val pairs = b.as("x")
        .join(b.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
      val sym = pairs.select(col("a").as("item"), col("b").as("other"), col("c"))
        .union(pairs.select(col("b").as("item"), col("a").as("other"), col("c")))
      sym
        .join(item.select(col("pk").as("item"), col("n_item").as("n_i")), "item")
        .join(item.select(col("pk").as("other"), col("n_item").as("n_o")), "other")
        .withColumn("ochiai",
          col("c").cast("double") /
            sqrt((col("n_i") * col("n_o")).cast("double")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("item", "rank", "other", "c", "ochiai")
        .orderBy("item", "rank")
    },
    Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                 FROM lineitem),
      item AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
               FROM b GROUP BY 1),
      pairs AS (
        SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS c
        FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
        GROUP BY 1, 2
        HAVING count(*) >= 2
      ),
      sym AS (SELECT a AS item, b AS other, c FROM pairs
              UNION ALL SELECT b, a, c FROM pairs),
      scored AS (
        SELECT s.item, s.other, s.c,
               CAST(s.c AS DOUBLE)
                 / sqrt(CAST(ni.n_item * no.n_item AS DOUBLE)) AS ochiai
        FROM sym s
        JOIN item ni ON ni.pk = s.item
        JOIN item no ON no.pk = s.other
      )
      SELECT item, rank, other, c, ochiai FROM (
        SELECT item, other, c, ochiai,
               CAST(row_number() OVER (PARTITION BY item
                      ORDER BY ochiai DESC, other) AS INTEGER) AS rank
        FROM scored)
      WHERE rank <= 3
      ORDER BY item, rank
    """))

  /** Gini coefficient of customer spend concentration — the inequality
    * read behind "do 20% of customers carry 80% of revenue?". Spend
    * quantizes to $100 bins (the q_spearman bounded value frame), and
    * the mean-absolute-difference form computes EXACTLY from one
    * cumulative window over the bins:
    *   Σᵢⱼ|bᵢ−bⱼ| = 2·Σ_v cnt_v·(v·cum_cnt_<v − cum_sum_<v),
    * all integers in DECIMAL(38,0) (Σ|diff| ≤ n²·b_max), then
    * G = Σ|diff| / (2·n·Σb) is ONE double division, rounded at 1e-6.
    * No pair join, no global sort over customers — the value frame is
    * bounded by the bin range, the window by the frame. */
  val lorenzGini = QuerySpec(
    "q_lorenz_gini",
    (s, d) => {
      val per = orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("sp"))
        .select(expr("CAST(sp * 100 AS BIGINT) DIV 10000").as("b"))
      // globalCumsum instead of an unpartitioned window (r12): the bin
      // frame grows with the spend domain; both running sums are exact
      // longs, so the distributed prefix is bit-identical
      val bins = graft.ops.Checkpoints.materialize(
        per.groupBy("b").agg(count(lit(1)).as("cnt"))
          .withColumn("bc", col("b") * col("cnt")))
      val d38 = "decimal(38,0)"
      val cum = graft.ops.Ranks.globalCumsum(bins, Seq(col("b")),
          s.sessionState.conf.numShufflePartitions,
          Seq("cumc" -> "cnt", "cums" -> "bc"))
        .withColumn("ccnt", col("cumc") - col("cnt"))
        .withColumn("csum", col("cums") - col("bc"))
      val st = cum.agg(
        sum("cnt").as("n"),
        sum(col("b").cast(d38) * col("cnt")).as("s"),
        (sum(col("cnt").cast(d38) *
          (col("b").cast(d38) * col("ccnt") - col("csum").cast(d38)))
          * 2).as("sad"))
      st.select(col("n"),
        // try_divide: an all-zero/NULL balance column (degen hollow) has
        // zero total — the Gini is NULL (DuckDB's x/0), no ANSI error
        round(try_divide(col("sad").cast("double"),
          lit(2.0) * col("n").cast("double") * col("s").cast("double")), 6)
          .as("gini"))
    },
    Some("""
      WITH per AS (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) // 10000 AS b
        FROM orders GROUP BY o_custkey
      ),
      bins AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM per GROUP BY b
      ),
      cum AS (
        SELECT b, cnt,
               sum(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - cnt
                 AS ccnt,
               sum(b * cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                 - b * cnt AS csum
        FROM bins
      ),
      st AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(CAST(b AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))
                 AS s,
               CAST(sum(CAST(cnt AS DECIMAL(38,0))
                        * (CAST(b AS DECIMAL(38,0)) * ccnt
                           - CAST(csum AS DECIMAL(38,0)))) * 2
                 AS DECIMAL(38,0)) AS sad
        FROM cum
      )
      SELECT n,
             round(CAST(sad AS DOUBLE)
                   / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6)
               AS gini
      FROM st
    """))

  /** ABC (Pareto) classification of brands by revenue — the inventory-
    * analytics staple: A-brands carry the first 80% of cumulative
    * revenue, B to 95%, C the tail. The ranking runs over the BOUNDED
    * brand level (the corpus aggregates first — never a corpus-sized
    * window); class boundaries compare cross-multiplied exact cents
    * (cum·100 ≤ total·80), so no float share ever decides a class.
    * Ties on revenue break by brand name for a total order. */
  val abcAnalysis = QuerySpec(
    "q_abc_analysis",
    (s, d) => {
      val W = Window.orderBy(col("v").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rev = lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("v"))
      val tot = rev.agg(sum(col("v").cast(d38)).as("total"))
      rev.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("v").cast(d38)).over(W))
        .select(col("p_brand"),
          round(col("v").cast("double") / 100.0, 2).as("revenue_usd"),
          // try_divide: all-NULL revenue (degen hollow) sums to a zero
          // total — NULL share (DuckDB's x/0), not an ANSI error
          round(try_divide(col("cum").cast("double"),
            col("total").cast("double")), 6).as("cum_share"),
          when(col("cum") * 100 <= col("total") * 80, "A")
            .when(col("cum") * 100 <= col("total") * 95, "B")
            .otherwise("C").as("abc_class"))
        .orderBy(col("cum_share"), col("p_brand"))
    },
    Some("""
      WITH rev AS (
        SELECT p_brand,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS v
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
      ),
      tot AS (SELECT CAST(sum(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0))
                AS total FROM rev),
      cums AS (
        SELECT p_brand, v, total,
               CAST(sum(CAST(v AS DECIMAL(38,0)))
                 OVER (ORDER BY v DESC, p_brand
                       ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cum
        FROM rev CROSS JOIN tot
      )
      SELECT p_brand,
             round(CAST(v AS DOUBLE) / 100.0, 2) AS revenue_usd,
             round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS cum_share,
             CASE WHEN cum * 100 <= total * 80 THEN 'A'
                  WHEN cum * 100 <= total * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM cums
      ORDER BY cum_share, p_brand
    """))

  private val d38 = "decimal(38,0)"

  val all: Seq[QuerySpec] = Seq(
    rankWindow, rollup, pivot, antiJoin, setOps, medianApprox, saltedAgg,
    cube, explodeTokens, upsert, heavyHitters, bloomProbe, incrementalAgg,
    bloomJoin, kmvOverlap, cmsProbe, itemsets, itemCf, lorenzGini,
    abcAnalysis)
}
