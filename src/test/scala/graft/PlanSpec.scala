package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executable plan-quality checks — the scale disciplines (pushdown,
  * pruning, broadcast, no cross products, top-k without global sort) as
  * assertions, not prose. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed into the parquet scan (concrete predicate, not [])") {
    // treeString truncates FileScan metadata, so read the scan nodes
    // directly: the semi-join's o_totalprice predicate must reach the
    // orders scan as a pushed filter. Clear the shared-session cache
    // first — another suite caching `orders` would substitute an
    // InMemoryRelation for the parquet scan (CacheManager matches by
    // logical plan) and there'd be no FileSourceScanExec to push into.
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q_semi_join")(spark, Sf001)
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(_.contains("GreaterThan(o_totalprice,150000.0)")),
      pushed.mkString(" | "))
  }

  test("flagship rollup scans only the columns it needs") {
    val df = SparkEntry.queries("q_monthly_rollup")(spark, Sf001)
    val p = plan(df)
    val scanLine = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).getOrElse("")
    assert(scanLine.contains("l_orderkey"), scanLine)
    assert(!scanLine.contains("l_comment") && !scanLine.contains("l_shipdate"),
      s"lineitem scan should prune unused columns: $scanLine")
    assert(p.contains("BroadcastHashJoin"), "dim joins should broadcast")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q_topk")(spark, Sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("near-dup posting pairs come from keyed posting lists — no cross product anywhere") {
    val p = plan(SparkEntry.queries("q_dedup_near")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("near-dup pairs read the posting stream once: no self-join, no anti-join, one posting shuffle") {
    // the pairs come from one posting list per (lang, shingle): the
    // stream is exploded once and shuffled once on its key, with no
    // join on the shingle and no hot-shingle anti-join for the df cap
    val p = plan(SparkEntry.queries("q_dedup_near")(spark, Sf001))
    assert(!p.contains("LeftAnti"), p)
    assert(!p.linesIterator.exists(l => l.contains("Join") && l.contains("__sh")), p)
    val postingShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__sh"))
    assert(postingShuffles === 1, p)
  }

  test("semi and anti joins stay semi/anti at the physical level") {
    assert(plan(SparkEntry.queries("q_semi_join")(spark, Sf001)).contains("LeftSemi"))
    assert(plan(SparkEntry.queries("q_anti_join")(spark, Sf001)).contains("LeftAnti"))
  }

  // "*(n)" prefixes mark WholeStageCodegen stages in the executed plan;
  // the DF must be collected first (count() would re-plan) and AQE only
  // finalizes the plan on execution.
  test("flagship query runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q_monthly_rollup")(spark, Sf001)
    df.collect()
    assert(plan(df).contains("*("), plan(df))
  }

  test("custom expressions stay inside whole-stage codegen (no fallback)") {
    val df = SparkEntry.queries("q_dedup_simhash")(spark, Sf001)
    df.collect()
    assert(plan(df).contains("*("), plan(df))
  }

  test("distinct-count keeps the dim broadcast and expands for the distinct") {
    val p = plan(SparkEntry.queries("q_distinct_count")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    // exact count-distinct plans partial aggregation on (segment, custkey)
    assert(p.contains("HashAggregate"), p)
  }

  test("window frame and final sort share one hash shuffle on the partition key") {
    val df = SparkEntry.queries("q_moving_sum")(spark, Sf001)
    df.collect()
    // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan" —
    // count exchanges only in the final-plan section above it
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"expected one hash exchange (window partition), got $exchanges\n$finalPlan")
  }

  test("agg-then-join on shared keys shuffles the fact stream once, not twice") {
    // RelationalQueries.joinInner promises the groupBy's exchange is
    // reused by the join: the fact side's hashpartitioning(user_id,
    // event_type) must appear ONCE, with the second consumer either a
    // ReusedExchange of it or an AQE-chosen broadcast of the dim side.
    val df = SparkEntry.queries("q_join_inner")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"expected one hash exchange on the join keys, got $exchanges\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange") ||
      finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("star join broadcasts every dimension; the fact stream never sort-merges") {
    // TPC-H Q5 shape: region+nation fold into one broadcast, customer and
    // supplier broadcast explicitly — the executed plan must contain only
    // broadcast joins (three of them reach the fact stream), no
    // SortMergeJoin, no cartesian, and the only hash exchanges are the
    // orders-key join and the final aggregate's
    val df = SparkEntry.queries("q_star_join")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"),
      s"dims must broadcast, not sort-merge\n$finalPlan")
    val bhj = finalPlan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"expected >= 3 broadcast joins, got $bhj\n$finalPlan")
  }

  test("prefix-filtered join is equi-joins end to end — no cross product") {
    // candidate generation (prefix⋈prefix on the token), verification
    // (candidates⋈arrays on the ids): every join must hash on keys
    val p = plan(SparkEntry.queries("q_prefix_join")(spark, Sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pca covariance self-joins co-located on the row id, dims broadcast back") {
    val p = plan(SparkEntry.queries("q_pca")(spark, Sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the (i, j) cell join keys on __pid — a hash join, never a loop
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // first moments (64 rows) ship back as a broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("range frame window shares one hash shuffle (final sort is range, not hash)") {
    val df = SparkEntry.queries("q_range_frame")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"expected one hash exchange (window partition), got $exchanges\n$finalPlan")
  }

  test("repetition metrics aggregate map-side first and never cross-join") {
    val df = SparkEntry.queries("q_repetition")(spark, Sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the (doc, term) counts must partial-aggregate before the shuffle —
    // at 100 TB the exploded token stream is the biggest intermediate
    assert(p.contains("partial_count"), p)
  }

  test("decontamination probes with a broadcast of the eval gram set") {
    // the eval side is tiny by definition (benchmarks vs corpus) — the
    // train side must never shuffle for the overlap probe. "Some
    // broadcast exists" would be satisfied by the final doc-level join
    // alone, so pin the absence of ANY shuffle join instead: if the gram
    // probe regresses to a sort-merge join, this fails.
    val p = plan(SparkEntry.queries("q_decontaminate")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("incremental dedup broadcasts the batch postings; the corpus never shuffle-joins") {
    // the daily-ingest asymmetry: the batch side is small by construction,
    // so the posting join must be a broadcast — the corpus's only exchange
    // feeds the candidate-pair aggregate. A sort-merge or shuffled-hash
    // join here means the corpus paid a full posting shuffle.
    val p = plan(SparkEntry.queries("q_incremental_dedup")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("unpivot plans a single Expand over one scan, not a self-union") {
    val df = SparkEntry.queries("q_unpivot")(spark, Sf001)
    val p = plan(df)
    assert(p.contains("Expand"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1, p)
  }

  test("AQE re-plans at runtime (coalesced shuffle read in the final plan)") {
    val df = SparkEntry.queries("q_sql_agg")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    assert(finalPlan.contains("AdaptiveSparkPlan isFinalPlan=true"), finalPlan)
    // tiny shuffles must coalesce — the runtime re-plan the 100 TB path
    // relies on for skew splitting and partition right-sizing
    assert(finalPlan.contains("AQEShuffleRead coalesced"), finalPlan)
  }

  test("salted join matches the plain join exactly (hot-key spread is invisible)") {
    val fact = Tables.events(spark, Sf001).select("event_id", "event_type", "value")
    val dim = fact.select("event_type").distinct()
      .withColumn("type_tag", upper(col("event_type")))
    val plain = fact.join(dim, Seq("event_type"))
      .select("event_id", "event_type", "type_tag")
      .orderBy("event_id").collect().toSeq
    val salted = graft.ops.Skew.saltedJoin(fact, dim, "event_type",
        salts = 8, col("event_id"))
      .select("event_id", "event_type", "type_tag")
      .orderBy("event_id").collect().toSeq
    assert(salted === plain)
  }

  test("salted aggregation matches the plain aggregate exactly") {
    val salted = SparkEntry.queries("q_salted_agg")(spark, Sf001)
    val plain = Tables.events(spark, Sf001)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("event_type")
    assert(salted.collect().toSeq === plain.collect().toSeq)
  }

  test("epoch shuffle page plans TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q_global_shuffle")(spark, Sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("batch ANN broadcasts the probe side; corpus never shuffles for the join") {
    val df = SparkEntry.queries("q_batch_ann")(spark, Sf001)
    df.collect()
    val p = plan(df)
    // a tiny probe batch × corpus is the sanctioned nested-loop broadcast —
    // what must NOT appear is a CartesianProduct (both sides shuffled)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom-prefiltered join prunes the fact scan before joining") {
    val df = SparkEntry.queries("q_bloom_join")(spark, Sf001)
    df.collect()
    val p = plan(df)
    assert(p.contains("might_contain"), p) // scan-side prune is in-plan
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed join shuffles neither side — only the rollup exchanges") {
    val df = SparkEntry.queries("q_bucket_join")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    assert(finalPlan.contains("SortMergeJoin"), finalPlan)
    // both join children read bucketed scans in place; the only hash
    // exchange allowed is the post-join priority rollup's
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"bucketed join must not shuffle its inputs, got $exchanges hash exchanges\n$finalPlan")
  }

  test("z-order tiling keeps the custom ZValue expression in codegen") {
    val df = SparkEntry.queries("q_zorder")(spark, Sf001)
    df.collect()
    assert(plan(df).contains("*("), plan(df))
  }

  test("z-order tiling has no single-task window or sort over the scan") {
    // the scale hazard this query exists to avoid: an unpartitioned
    // Window (or global Sort) would funnel every lineitem row through one
    // task. Every Window in the plan must carry a partition spec; the
    // only whole-plan ordering allowed is the 16-row output presentation.
    val df = SparkEntry.queries("q_zorder")(spark, Sf001)
    df.collect()
    val unpartitionedWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitionedWindows.isEmpty,
      unpartitionedWindows.mkString("\n"))
    assert(plan(df).contains("Exchange hashpartitioning(__gr_bkt"), plan(df))
  }

  test("decay score selects its top-100 via TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q_decay_score")(spark, Sf001)
    df.collect()
    assert(plan(df).contains("TakeOrderedAndProject"), plan(df))
  }

  test("pareto frontier has no single-task window — every Window is bucket-partitioned") {
    val df = SparkEntry.queries("q_pareto_front")(spark, Sf001)
    df.collect()
    val unpartitionedWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitionedWindows.isEmpty,
      unpartitionedWindows.mkString("\n"))
  }

  test("RFM quintiles have no single-task window over the user table") {
    val df = SparkEntry.queries("q_rfm")(spark, Sf001)
    df.collect()
    val unpartitionedWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitionedWindows.isEmpty,
      unpartitionedWindows.mkString("\n"))
  }

  test("skew join executes the salted rewrite as a shuffle join, not broadcast") {
    val df = SparkEntry.queries("q_skew_join")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    // the salt must be part of the executed join keys, and the join must
    // stay shuffled — a broadcast would erase the skew the query pins
    assert(finalPlan.contains("__salt"), finalPlan)
    assert(finalPlan.contains("ShuffledHashJoin"), finalPlan)
    assert(!finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("SNM dedup has no single-task window — all windows are block-partitioned") {
    val df = SparkEntry.queries("q_snm_dedup")(spark, Sf001)
    df.collect()
    val unpartitionedWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitionedWindows.isEmpty,
      unpartitionedWindows.mkString("\n"))
  }

  test("hash split is one scan into one partial-then-final aggregate") {
    val df = SparkEntry.queries("q_hash_split")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    // one exchange for the 3-group agg, one for the output sort — the md5
    // bucketing itself must add no shuffle
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$finalPlan")
  }

  test("sparse cosine posting join is an equi-join — no cross product") {
    spark.catalog.clearCache() // drop the op's internal postings cache entry
    val p = plan(SparkEntry.queries("q_sparse_cosine")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("streak detection reuses one user_id exchange for window and aggregate") {
    // distinct → window → two aggregates: everything after the first
    // shuffle is clustered by user_id; only the final presentation sort
    // may add an exchange
    val df = SparkEntry.queries("q_streak")(spark, Sf001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    val hashEx = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"expected <=2 hash exchanges, got $hashEx\n$finalPlan")
  }

  test("gap fill joins spine and observations without a cross product") {
    val p = plan(SparkEntry.queries("q_gap_fill")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("OLS sufficient statistics reduce in one aggregate — no window, no join") {
    val p = plan(SparkEntry.queries("q_linreg")(spark, Sf001))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("winsorize broadcasts the 3-row percentile side") {
    val p = plan(SparkEntry.queries("q_winsorize")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("context windows generate without any join or hash shuffle") {
    // pure per-row explode: the only exchange allowed is the final
    // presentation sort's range partitioning
    val p = plan(SparkEntry.queries("q_context_windows")(spark, Sf001))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("boilerplate lexicon joins back as a broadcast, not a corpus shuffle") {
    val p = plan(SparkEntry.queries("q_boilerplate")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gopher rules evaluate in one pass — no join, no aggregate shuffle") {
    val p = plan(SparkEntry.queries("q_gopher_rules")(spark, Sf001))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("dq rule block folds all lineitem rules into one conditional aggregate") {
    // the four single-table rules must share ONE lineitem scan branch:
    // exactly one aggregate carries all four violation sums
    val df = SparkEntry.queries("q_dq_checks")(spark, Sf001)
    assert(!plan(df).contains("CartesianProduct"), plan(df))
    // optimizedPlan keeps the aliases: all four sums live in ONE Aggregate
    val opt = df.queryExecution.optimizedPlan.toString
    val ruleAggs = opt.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("__v_li_zero_tax")
        && l.contains("__v_li_nonpositive_price"))
    assert(ruleAggs === 1, s"expected one fused rule aggregate, got $ruleAggs\n$opt")
  }

  test("join size estimate reduces histograms, never a row-level cross product") {
    val p = plan(SparkEntry.queries("q_join_size_estimate")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the final 1-row × 1-row stitch
    assert(p.contains("HashAggregate"), p)
  }

  test("snapshot diff is one key join without row explosion") {
    val p = plan(SparkEntry.queries("q_snapshot_diff")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("FullOuter"), p)
  }

  test("attribution is one user window — no self-join, one hash shuffle") {
    val df = SparkEntry.queries("q_attribution")(spark, Sf001)
    val p = plan(df)
    assert(!p.contains("Join"), p)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    val hashEx = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected one hash exchange, got $hashEx\n$finalPlan")
  }

  test("IQR outlier report broadcasts the 5-row quartile side") {
    val p = plan(SparkEntry.queries("q_outlier_iqr")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("SQL-registered custom expressions stay inside whole-stage codegen") {
    val df = SparkEntry.queries("q_sql_custom_funcs")(spark, Sf001)
    df.collect() // AQE prints codegen stars only in the final plan
    val p = plan(df)
    // the scan → project span is codegen'd (star markers), so tokenize /
    // rolling_hash / jaro_winkler compile into the generated code rather
    // than falling back to interpreted eval
    assert(p.contains("*("), p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("compaction plan windows per table-partition — never a global sort") {
    val df = SparkEntry.queries("q_compaction")(spark, Sf001)
    df.collect()
    val unpartitionedWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitionedWindows.isEmpty, unpartitionedWindows.mkString("\n"))
  }

  test("LM scoring joins on aggregated keys with map-side partial counts") {
    val p = plan(SparkEntry.queries("q_lm_score")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the bigram LM build must partial-aggregate before its shuffle — the
    // exploded occurrence stream is the biggest intermediate at 100 TB
    assert(p.contains("partial_count"), p)
  }

  test("importance weighting broadcasts the 256-bucket and totals sides") {
    val df = SparkEntry.queries("q_importance_weight")(spark, Sf001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmeans assignment broadcasts the centroid side and combines map-side") {
    val df = SparkEntry.queries("q_kmeans_assign")(spark, Sf001)
    val p = plan(df)
    // k-row centroid table rides a broadcast nested-loop (cross) join;
    // the argmin is a hash aggregate with a partial (map-side) phase
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_min") || p.contains("HashAggregate"), p)
  }

  test("semdedup pair stage joins on the cluster id — no cross product") {
    // the quadratic stage must be an equi-join on cid (Σ|cluster|² work),
    // never an unkeyed pairwise product over the corpus
    val p = plan(SparkEntry.queries("q_semdedup")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("cid") ||
        l.contains("ShuffledHashJoin") && l.contains("cid") ||
        l.contains("BroadcastHashJoin") && l.contains("cid")), p)
  }

  test("semdedup assigns clusters with one kernel: no zip_with lambda, no regroup by __gid") {
    // the assignment is a codegen'd argmin against the broadcast centroid
    // list, not a cross join scored by interpreted lambdas and regrouped
    // by an aggregate keyed on the representative
    val p = plan(SparkEntry.queries("q_semdedup")(spark, Sf001))
    assert(!p.contains("zip_with"), p)
    assert(!p.linesIterator.exists(l =>
      l.matches(".*Aggregate\\(keys=\\[[^\\]]*__gid.*")), p)
  }

  test("chunk rewrite has no global window or single-task sort") {
    // first-occurrence is a digest-keyed aggregate + equi-join; the
    // reconstruction groups by doc — nothing funnels through one task
    val p = plan(SparkEntry.queries("q_chunk_rewrite")(spark, Sf001))
    assert(!p.contains("Window ["), p) // no WindowExec at all
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bpe encode joins the corpus against a broadcast dictionary") {
    val df = SparkEntry.queries("q_bpe_encode")(spark, Sf001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("gsod e2e broadcasts both station joins; observations shuffle once") {
    // the reference ETL shape at scale: the observation stream must
    // exchange exactly once (the rollup's group keys) — the semi-join
    // and the metadata join-back both ride broadcasts of the tiny
    // station dim, and the final ORDER BY is a range exchange, not a
    // second hash repartition of the stream
    val p = plan(SparkEntry.queries("q_gsod_e2e")(spark, Sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"expected one stream shuffle, got $hashExchanges:\n$p")
  }

  test("spatial radius join is an equi-join on grid cells — never a cross product") {
    // The whole point of grid blocking: a distance join that planned a
    // cartesian (then filtered) would be n² at any scale. The physical
    // join must key on (cell_x, cell_y).
    val p = plan(SparkEntry.queries("q_geo_neighbor_join")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cell_x") && p.contains("cell_y"), p)
  }

  /** A Window node whose partition spec is empty funnels the whole input
    * through one task. The single-row-total crossJoin(broadcast(...))
    * shape is the sanctioned alternative; the only legitimate empty-spec
    * windows run over CALENDAR-BOUNDED aggregates (q_cusum's contract) —
    * corpus-shaped eval queries must never plan one. */
  private def emptySpecWindows(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w.toString
    }

  test("vocab rank/cumsum queries plan no corpus-proportional global window") {
    // r12: the vocabulary frame grows with the corpus (web-scale type
    // counts are billions), so the rank-by-frequency and coverage-cumsum
    // queries must ride globalRank/globalCumsum's cutpoint buckets —
    // an empty-partition-spec WindowExec here is the single-task funnel
    // VERDICT r11 item 1 bans
    for (q <- Seq("q_vocab_coverage", "q_vocab_build", "q_tokenize_ids")) {
      val df = SparkEntry.queries(q)(spark, Sf001)
      assert(emptySpecWindows(df).isEmpty,
        s"$q plans an unpartitioned window over the vocabulary:\n" +
          emptySpecWindows(df).mkString("\n"))
    }
  }

  test("distinct-value cumsum queries plan no global window (cvm, rank_biserial)") {
    // r12: these cumulative-distribution walks run over distinct-value
    // frames that grow with the value domain — the prefix sums come from
    // globalCumsum's literal cutpoint-bucket offsets, never a single-task
    // window
    for (q <- Seq("q_cvm", "q_rank_biserial", "q_spearman", "q_kruskal",
        "q_wilcoxon", "q_mann_whitney", "q_lorenz_gini")) {
      val df = SparkEntry.queries(q)(spark, Sf001)
      assert(emptySpecWindows(df).isEmpty,
        s"$q plans an unpartitioned window over the value frame:\n" +
          emptySpecWindows(df).mkString("\n"))
    }
  }

  test("AUC plans no global window: ranks come from bucketed partitions") {
    val df = SparkEntry.queries("q_auc")(spark, Sf001)
    assert(emptySpecWindows(df).isEmpty,
      "q_auc must use globalRank's literal-cutpoint buckets, not a global rank window")
  }

  test("grouped AUC's only windows run over the binned contingency, partitioned by segment") {
    val df = SparkEntry.queries("q_auc_grouped")(spark, Sf001)
    assert(emptySpecWindows(df).isEmpty, "the CDF walk partitions by segment")
  }

  test("itemsets pair join is an equi-join on the basket key with the support floor applied") {
    val p = plan(SparkEntry.queries("q_itemsets")(spark, Sf001))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the 1-row basket-total attach
    // (crossJoin(broadcast(nB)) — the sanctioned scalar pattern); the
    // pair self-join itself must hash on the basket key
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, p)
    assert(p.contains("n_baskets"), "the single BNLJ is the totals attach")
  }

  test("spgemm contracts on the inner dimension as an equi-join") {
    val p = plan(SparkEntry.queries("q_spgemm")(spark, Sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no session-6 join-heavy query plans a cartesian product") {
    // BNLJ is tolerated ONLY as the 1-row scalar/total attach; an actual
    // CartesianProduct is banned everywhere (the repo-wide rule)
    for (q <- Seq("q_dbscan", "q_item_cf", "q_journey_patterns", "q_hits",
        "q_label_prop", "q_modularity", "q_assortativity", "q_mrr",
        "q_rrf_fusion", "q_kaplan_meier", "q_cuped", "q_naive_bayes")) {
      val p = plan(SparkEntry.queries(q)(spark, Sf001))
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
  }

  test("no session-7 join-heavy query plans a cartesian product") {
    // the new inequality/interval joins (isotonic intervals, theil-sen
    // pairs, damerau vocab pairs, hash-ring clockwise search) are all
    // BOUNDED-side broadcast nested loops by construction — a shuffled
    // CartesianProduct anywhere means a broadcast threshold regressed
    for (q <- Seq("q_isotonic", "q_theil_sen", "q_woe_iv", "q_psi",
        "q_cramers_v", "q_seq_support", "q_damerau", "q_hash_ring",
        "q_winnow_fp", "q_recall_at_k", "q_perm_importance",
        "q_diff_in_diff", "q_kn_bigram", "q_vocab_coverage",
        "q_multi_pattern", "q_dataset_card", "q_stl_decompose",
        "q_markov_stationary")) {
      val p = plan(SparkEntry.queries(q)(spark, Sf001))
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
  }
}
