package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{Cleaning, Windows}

/** Reference-derived relational surface (SURVEY §2a), re-expressed as lazy
  * DataFrame pipelines over the driver's test tables.
  *
  * Determinism rules (SURVEY §5): explicit ORDER BY everywhere; money sums
  * go through DECIMAL so the result is independent of partition/merge order
  * (a float sum's low bits depend on reduction order — fatal for the
  * driver's hash compare at any scale); averages/correlations are rounded.
  * Decimal casts: Spark rounds half-up, DuckDB half-even — never round a
  * decimal below the source's exact decimal places (prices/discounts carry
  * ≤4), so every cast here is exact and mode-independent.
  */
object RelationalQueries {

  /** Flagship (SURVEY §7.2): the reference's whole ETL in miniature —
    * scan → derive year/month (F7) → group-by median (A1) + money sum →
    * 2-hop inner join (J1) → deterministic order.
    * Reference: /root/reference/untitled.py:81,85 (median rollup + join).
    *
    * Scale: lineitem⋈orders is a shuffle join on the fact keys (both huge at
    * 100 TB — correct); customer is the small dim side and is broadcast
    * explicitly so the second join never shuffles the fact stream again.
    */
  val monthlyRollup = QuerySpec(
    "q_monthly_rollup",
    (s, d) => {
      val li = lineitem(s, d)
      val o = orders(s, d)
      val c = customer(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(
          col("c_mktsegment"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(
          median(col("l_quantity")).as("med_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("c_mktsegment", "o_year", "o_month")
    },
    Some("""
      SELECT c_mktsegment,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(month(o_orderdate) AS INTEGER) AS o_month,
             median(l_quantity) AS med_qty,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3
    """))

  /** The canonical warehouse STAR join (TPC-H Q5 shape): fact (lineitem)
    * against orders, customer, supplier, nation, region with a region
    * filter, a year filter, and the local-supplier condition
    * c_nationkey = s_nationkey — six tables, one aggregate.
    *
    * Scale shape: ONLY the provably tiny dim (region⋈nation, 25 rows)
    * carries an explicit broadcast hint — an explicit hint is never
    * downgraded, so pinning it on customer or supplier would force an
    * executor-OOM broadcast at 100 TB. Those two joins stay UN-hinted:
    * AQE broadcasts them at any scale where they fit (it does at every
    * test SF — PlanSpec asserts the all-broadcast plan) and falls back
    * to a shuffle join exactly when they outgrow the threshold, leaving
    * the fact stream shuffling at most once per oversized dim. The
    * region/year predicates prune BEFORE any join (Catalyst pushes them
    * into the dim scans), so the fact rows that survive to the aggregate
    * are exactly the matching ones. */
  val starJoin = QuerySpec(
    "q_star_join",
    (s, d) => {
      val asiaNations = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = customer(s, d)
        .join(broadcast(asiaNations),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = orders(s, d)
        .filter(year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"), col("o_custkey"))
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    },
    Some("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
                   AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
      GROUP BY n_name
      ORDER BY n_name
    """))

  /** S4+S5: whitespace-run tokenization + positional column selection
    * (untitled.py:44-47,77). The reference rewrites runs of spaces to commas
    * and selects tokens by index; here `split` + `getItem`/`element_at`. */
  val parseText = QuerySpec(
    "q_parse_text",
    (s, d) => {
      val toks = split(col("p_name"), "\\s+")
      part(s, d)
        .select(
          col("p_partkey"),
          toks.getItem(0).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          size(toks).as("n_tokens"))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey,
             string_split_regex(p_name, '\s+')[1] AS first_tok,
             string_split_regex(p_name, '\s+')[-1] AS last_tok,
             CAST(len(string_split_regex(p_name, '\s+')) AS INTEGER) AS n_tokens
      FROM part
      ORDER BY p_partkey
    """))

  /** P1: sentinel → NULL (untitled.py:26), on the columns where 0.0 is a
    * plausible "missing" marker in the test tables. */
  val sentinelNull = QuerySpec(
    "q_sentinel_null",
    (s, d) =>
      lineitem(s, d)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          Cleaning.sentinelToNull(col("l_tax")).as("tax_clean"),
          Cleaning.sentinelToNull(col("l_discount")).as("disc_clean"))
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_tax IN (0.0, -999.0, -999.9) THEN NULL ELSE l_tax END AS tax_clean,
             CASE WHEN l_discount IN (0.0, -999.0, -999.9) THEN NULL ELSE l_discount END AS disc_clean
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber
    """))

  /** P2: not-null filter (untitled.py:27) — composed over P1's output so the
    * filter actually has NULLs to drop. The IsNotNull predicate stays a
    * pushable filter on the scan side of the plan. */
  val notnullFilter = QuerySpec(
    "q_notnull_filter",
    (s, d) => {
      val cleaned = lineitem(s, d)
        .withColumn("tax_clean", Cleaning.sentinelToNull(col("l_tax")))
        .withColumn("disc_clean", Cleaning.sentinelToNull(col("l_discount")))
      Cleaning.requireNotNull(cleaned, Seq("tax_clean", "disc_clean"))
        .select("l_orderkey", "l_linenumber", "tax_clean", "disc_clean")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, tax_clean, disc_clean
      FROM (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_tax IN (0.0, -999.0, -999.9) THEN NULL ELSE l_tax END AS tax_clean,
               CASE WHEN l_discount IN (0.0, -999.0, -999.9) THEN NULL ELSE l_discount END AS disc_clean
        FROM lineitem
      )
      WHERE tax_clean IS NOT NULL AND disc_clean IS NOT NULL
      ORDER BY l_orderkey, l_linenumber
    """))

  /** P3: coverage-window predicate on the 4-digit year *prefix* of a
    * yyyyMMdd rendering — string semantics exactly as the reference computes
    * it (untitled.py:29-30), not date arithmetic. */
  val rangeFilter = QuerySpec(
    "q_range_filter",
    (s, d) => {
      val y = Cleaning.yearPrefix(date_format(col("o_orderdate"), "yyyyMMdd"))
      orders(s, d)
        .withColumn("o_year", y)
        .filter(col("o_year") >= 1996 && col("o_year") <= 1998)
        .select("o_orderkey", "o_year", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             CAST(substr(strftime(o_orderdate, '%Y%m%d'), 1, 4) AS INTEGER) AS o_year,
             o_totalprice
      FROM orders
      WHERE CAST(substr(strftime(o_orderdate, '%Y%m%d'), 1, 4) AS INTEGER) BETWEEN 1996 AND 1998
      ORDER BY o_orderkey
    """))

  /** J1: inner equi-join on a two-column key (untitled.py:85 joins on
    * (USAF, WBAN)). The dim side is derived per-(user, event_type) stats —
    * an aggregation the fact stream then re-joins. Spark note: the groupBy
    * and the join share the same keys, so the exchange introduced by the
    * aggregate is reused by the sort-merge join — one shuffle, not two
    * (visible in the plan as a single Exchange under both). */
  val joinInner = QuerySpec(
    "q_join_inner",
    (s, d) => {
      val ev = events(s, d)
      val dim = ev.groupBy("user_id", "event_type")
        .agg(
          // exact decimal sum / count → bit-identical double both engines
          // (round(avg(double)) is NOT portable: half-up vs half-even)
          (sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_val"),
          count(lit(1)).as("n_in_group"))
      ev.join(dim, Seq("user_id", "event_type"))
        .select("event_id", "user_id", "event_type", "avg_val", "n_in_group")
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type, avg_val, n_in_group
      FROM events
      JOIN (
        SELECT user_id, event_type,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_val,
               count(*) AS n_in_group
        FROM events GROUP BY 1, 2
      ) USING (user_id, event_type)
      ORDER BY event_id
    """))

  /** J2: left-semi existence probe (untitled.py:72 — process a station only
    * if its key exists in the cleaned metadata). Semi-join never duplicates
    * or widens the left side — at scale the right side reduces to its keys
    * (distinct pushed into the shuffle) and broadcasts when small. */
  val semiJoin = QuerySpec(
    "q_semi_join",
    (s, d) => {
      val bigSpenders = orders(s, d).filter(col("o_totalprice") > 150000)
      customer(s, d)
        .join(bigSpenders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
      ORDER BY c_custkey
    """))

  /** A1: group-by exact median of several columns (untitled.py:81). Exact
    * `median` matches DuckDB; `percentile_approx` is the 100 TB variant
    * (single-pass mergeable sketch) — benchmarked, not oracled. */
  val groupbyMedian = QuerySpec(
    "q_groupby_median",
    (s, d) =>
      // exact median buffers hold every value, so the partial aggregate is
      // the expensive stage — fan the single-file scan out first
      fanOut(s, lineitem(s, d))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          median(col("l_quantity")).as("med_qty"),
          median(col("l_extendedprice")).as("med_price"),
          median(col("l_discount")).as("med_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             median(l_quantity) AS med_qty,
             median(l_extendedprice) AS med_price,
             median(l_discount) AS med_disc,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY 1, 2
      ORDER BY 1, 2
    """))

  /** A3: Pearson correlation. The reference loops one `stat.corr` job per
    * column (untitled.py:162-165); here ALL correlations compute in one
    * scan/aggregate — the single-pass rewrite SURVEY §3.2 calls for.
    *
    * NOT the built-in corr(): its streaming co-moment merge is
    * partition-order-dependent float arithmetic, so the 6th rounded
    * decimal could flip across layouts/engines near a boundary. Instead,
    * the sufficient statistics accumulate as DECIMAL(38,18) casts of the
    * exact double products (order-free, tie-free — the q_linreg_multi
    * argument) and each correlation is one fixed IEEE sequence
    * (n·sxy − sx·sy) / (√(n·sxx − sx²)·√(n·syy − sy²)) both engines
    * replay identically. */
  val corrMatrix = QuerySpec(
    "q_corr",
    (s, d) => {
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,18)")).cast("double")
      val (q, p, dc, t) = (col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      // try_divide: a one-row sample (degen single corpus) has zero
      // variance and the correlation is NULL (DuckDB's x/0), no ANSI error
      def corrOf(sx: String, sy: String, sxy: String, sxx: String,
          syy: String) = round(
        try_divide(col("n") * col(sxy) - col(sx) * col(sy),
          // greatest(…, 0): the sufficient statistics pass through DOUBLE,
          // so an exactly-zero variance (constant column) can round to a
          // TINY NEGATIVE — sqrt would be NaN here and an ERROR in DuckDB
          sqrt(greatest(col("n") * col(sxx) - col(sx) * col(sx),
            lit(0.0))) *
            sqrt(greatest(col("n") * col(syy) - col(sy) * col(sy),
              lit(0.0)))), 6)
      lineitem(s, d)
        .agg(
          count(lit(1)).cast("double").as("n"),
          dsum(q).as("sq"), dsum(p).as("sp"), dsum(dc).as("sd"),
          dsum(t).as("st"),
          dsum(q * q).as("sqq"), dsum(p * p).as("spp"),
          dsum(dc * dc).as("sdd"), dsum(t * t).as("stt"),
          dsum(q * p).as("sqp"), dsum(q * dc).as("sqd"),
          dsum(p * t).as("spt"))
        .select(
          corrOf("sq", "sp", "sqp", "sqq", "spp").as("corr_qty_price"),
          corrOf("sq", "sd", "sqd", "sqq", "sdd").as("corr_qty_disc"),
          corrOf("sp", "st", "spt", "spp", "stt").as("corr_price_tax"),
          col("n").cast("long").as("n_rows"))
    },
    Some("""
      WITH s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,18))) AS DOUBLE) AS sq,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS sp,
               CAST(sum(CAST(l_discount AS DECIMAL(38,18))) AS DOUBLE) AS sd,
               CAST(sum(CAST(l_tax AS DECIMAL(38,18))) AS DOUBLE) AS st,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,18))) AS DOUBLE) AS sqq,
               CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS spp,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,18))) AS DOUBLE) AS sdd,
               CAST(sum(CAST(l_tax * l_tax AS DECIMAL(38,18))) AS DOUBLE) AS stt,
               CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS sqp,
               CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,18))) AS DOUBLE) AS sqd,
               CAST(sum(CAST(l_extendedprice * l_tax AS DECIMAL(38,18))) AS DOUBLE) AS spt
        FROM lineitem
      )
      SELECT round((n * sqp - sq * sp)
                   / (sqrt(greatest(n * sqq - sq * sq, 0)) * sqrt(greatest(n * spp - sp * sp, 0))), 6)
               AS corr_qty_price,
             round((n * sqd - sq * sd)
                   / (sqrt(greatest(n * sqq - sq * sq, 0)) * sqrt(greatest(n * sdd - sd * sd, 0))), 6)
               AS corr_qty_disc,
             round((n * spt - sp * st)
                   / (sqrt(greatest(n * spp - sp * sp, 0)) * sqrt(greatest(n * stt - st * st, 0))), 6)
               AS corr_price_tax,
             CAST(n AS BIGINT) AS n_rows
      FROM s
    """))

  /** A4/M4: RMSE as a plain aggregate (untitled.py:238-240 — the reference
    * needs pyspark.ml's RegressionEvaluator, and its import is commented
    * out; a sqrt(avg(err²)) aggregate needs no ML dependency). "Prediction"
    * here: retail price × quantity vs the actual extended price. The
    * squared error is summed in DECIMAL so the reduction order can't move
    * the result. */
  val rmse = QuerySpec(
    "q_rmse",
    (s, d) => {
      val li = lineitem(s, d)
      val p = part(s, d)
      val err = col("l_extendedprice") - col("l_quantity") * col("p_retailprice")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(
            sqrt(sum((err * err).cast("decimal(30,6)")).cast("double") /
              count(lit(1))), 4).as("rmse"),
          count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT round(sqrt(CAST(sum(CAST((l_extendedprice - l_quantity * p_retailprice)
                                      * (l_extendedprice - l_quantity * p_retailprice)
                                      AS DECIMAL(30,6))) AS DOUBLE) / count(*)), 4) AS rmse,
             count(*) AS n_rows
      FROM lineitem JOIN part ON l_partkey = p_partkey
    """))

  /** W1: latest observation per key, ties kept (untitled.py:80). */
  val latestPerKey = QuerySpec(
    "q_latest_per_key",
    (s, d) =>
      Windows.latestPerKey(events(s, d), Seq("user_id"), "ts")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id", "event_id"),
    Some("""
      SELECT user_id, event_id, ts, event_type, value
      FROM (SELECT *, max(ts) OVER (PARTITION BY user_id) AS mx FROM events)
      WHERE ts = mx
      ORDER BY user_id, event_id
    """))

  /** O2/S8: deterministic top-k. Spark plans TakeOrderedAndProject — per-
    * partition heaps + a k-row merge on the driver; no global sort at any
    * scale. */
  val topk = QuerySpec(
    "q_topk",
    (s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 100
    """))

  /** U1: UNION ALL accumulation (untitled.py:80-82's append loop). The
    * reference appends per-file DataFrames serially; relationally it is one
    * union whose branches never materialize separately. */
  val unionAll = QuerySpec(
    "q_union_all",
    (s, d) => {
      val o = orders(s, d)
      val high = o.filter(col("o_totalprice") >= 200000).withColumn("tier", lit("high"))
      val low = o.filter(col("o_totalprice") < 200000).withColumn("tier", lit("low"))
      high.unionByName(low)
        .groupBy("tier")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("tier")
    },
    Some("""
      SELECT tier, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM (
        SELECT 'high' AS tier, o_totalprice FROM orders WHERE o_totalprice >= 200000
        UNION ALL
        SELECT 'low' AS tier, o_totalprice FROM orders WHERE o_totalprice < 200000
      )
      GROUP BY tier
      ORDER BY tier
    """))

  /** F1+F2: null-skipping concat label (untitled.py:33-35). `concat_ws`
    * skips NULL members exactly like pandas `str.cat`; the conditional
    * "Elevation: X m"-style member goes through DECIMAL so both engines
    * render identical digits. `nullif` manufactures NULLs so the skip
    * behavior is actually exercised on this data. */
  val concatLabel = QuerySpec(
    "q_concat_label",
    (s, d) => {
      val c = customer(s, d)
      val n = nation(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("c_custkey"),
          concat_ws(", ",
            col("c_name"),
            nullif(col("c_mktsegment"), lit("BUILDING")),
            col("n_name")).as("lbl"),
          when(col("c_acctbal") >= 0,
            concat(lit("Balance: "),
              col("c_acctbal").cast("decimal(12,2)").cast("string"),
              lit(" usd"))).as("bal_lbl"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey,
             concat_ws(', ', c_name, nullif(c_mktsegment, 'BUILDING'), n_name) AS lbl,
             CASE WHEN c_acctbal >= 0
                  THEN 'Balance: ' || CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) || ' usd'
             END AS bal_lbl
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      ORDER BY c_custkey
    """))

  /** F3/F4/F8: regex flag-strip + digit extraction. The reference strips a
    * trailing '*' quality flag (untitled.py:49-50) and *intends* to strip a
    * trailing A–I report flag (untitled.py:54 — its regex is buggy and
    * truncates unconditionally; we implement the intent, per SURVEY §2a F4).
    */
  val regexStrip = QuerySpec(
    "q_regex_strip",
    (s, d) =>
      customer(s, d)
        .select(
          col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]+$", "").as("name_stem"),
          // nullif: Spark's regexp_extract returns '' on no-match where
          // DuckDB returns NULL — and ANSI cast of '' errors (degen hollow)
          nullif(regexp_extract(col("c_name"), "([0-9]+)$", 1), lit(""))
            .cast("bigint").as("name_id"),
          regexp_replace(col("c_mktsegment"), "[A-I]$", "").as("seg_stripped"))
        .orderBy("c_custkey"),
    Some("""
      SELECT c_custkey,
             regexp_replace(c_name, '[0-9]+$', '') AS name_stem,
             -- nullif mirrors the Spark side: no-match extracts '' and an
             -- ANSI/strict cast of '' errors on both engines
             CAST(nullif(regexp_extract(c_name, '([0-9]+)$', 1), '')
               AS BIGINT) AS name_id,
             regexp_replace(c_mktsegment, '[A-I]$', '') AS seg_stripped
      FROM customer
      ORDER BY c_custkey
    """))

  /** F6+F7: yyyyMMdd round-trip parse + date-part derivation
    * (untitled.py:56-59). Per-row `to_date` returns NULL on a malformed
    * value — strictly better than the reference's errors='ignore', which
    * silently leaves the whole column unparsed (unit-tested in
    * GsodParserSpec; this data has no malformed dates). */
  val dateParse = QuerySpec(
    "q_date_parse",
    (s, d) => {
      val ymd = date_format(col("o_orderdate"), "yyyyMMdd")
      orders(s, d)
        .withColumn("ymd_str", ymd)
        .withColumn("d", to_date(col("ymd_str"), "yyyyMMdd"))
        .select(
          col("o_orderkey"),
          col("ymd_str"),
          col("d").cast("timestamp").as("d"), // strict-hash type
          year(col("d")).as("y"),
          month(col("d")).as("m"),
          dayofmonth(col("d")).as("dd"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y%m%d') AS ymd_str,
             CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS TIMESTAMP) AS d,
             CAST(year(CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE)) AS INTEGER) AS y,
             CAST(month(CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE)) AS INTEGER) AS m,
             CAST(day(CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE)) AS INTEGER) AS dd
      FROM orders
      ORDER BY o_orderkey
    """))

  /** The engine's SQL entry point (the reference reaches Spark through
    * SQLContext + a CSV reader, untitled.py:156-158; the modern form is
    * temp views + `spark.sql`). TPC-H-Q1-shaped pricing summary —
    * identical text runs on both engines. */
  val sqlAgg = QuerySpec(
    "q_sql_agg",
    (s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """)
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  /** Date arithmetic breadth (beyond F6/F7's parse/extract): month-clamped
    * add_months, day offsets, day differences, month ends, quarter and
    * ISO weekday — all built-ins with engine-portable semantics (both
    * engines clamp Jan 31 + 1 month to the month end). */
  val dateArith = QuerySpec(
    "q_date_arith",
    (s, d) => {
      val od = col("o_orderdate").cast("date")
      orders(s, d)
        .select(
          col("o_orderkey"),
          // timestamps, not dates: the oracle's DATE columns fetch as
          // datetime64 and the driver's strict hash is type-sensitive
          add_months(od, 3).cast("timestamp").as("plus_3m"),
          date_add(od, 30).cast("timestamp").as("plus_30d"),
          datediff(od, lit("1995-01-01").cast("date")).as("days_since"),
          last_day(od).cast("timestamp").as("month_end"),
          quarter(od).as("q"),
          weekday(od).as("wd"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
             CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus_30d,
             CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
             CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
             CAST(quarter(o_orderdate) AS INTEGER) AS q,
             CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd
      FROM orders
      ORDER BY o_orderkey
    """))

  val all: Seq[QuerySpec] = Seq(
    monthlyRollup, parseText, sentinelNull, notnullFilter, rangeFilter,
    joinInner, semiJoin, groupbyMedian, corrMatrix, rmse, latestPerKey,
    topk, unionAll, concatLabel, regexStrip, dateParse, sqlAgg, dateArith,
    starJoin)
}
