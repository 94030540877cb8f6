package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{Series, Similarity, Text}

/** Ordered-sequence / time-series surface (graft.ops.Series) plus the
  * sparse-vector similarity join — extension operators in the SURVEY §2b
  * spirit. Every query keeps the oracle contract: exact integer counts,
  * copied (never order-summed) doubles, and fixed IEEE op sequences on
  * exact integers.
  */
object SeriesQueries {

  /** Gaps-and-islands: per-user consecutive-day activity streaks. The
    * anchor trick (day − row_number is constant within a run) turns
    * streak detection into one groupBy — no self-join, no iteration;
    * one shuffle on user_id serves the distinct, the window, and the
    * final aggregate. */
  val streaks = QuerySpec(
    "q_streak",
    (s, d) =>
      Series.dailyStreaks(events(s, d), "user_id", "ts")
        .orderBy("user_id"),
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      ),
      isl AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                          AS INTEGER) AS anchor
        FROM days
      ),
      runs AS (SELECT user_id, anchor, count(*) AS len FROM isl GROUP BY 1, 2)
      SELECT user_id,
             CAST(sum(len) AS BIGINT) AS n_active_days,
             CAST(count(*) AS BIGINT) AS n_streaks,
             CAST(max(len) AS BIGINT) AS longest_streak
      FROM runs
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** First-order Markov transition matrix over per-user event sequences:
    * counts of adjacent (from → to) event-type pairs and the conditional
    * P(to | from) — exact integer counts, one IEEE division. The matrix
    * is |types|² rows at any data scale. */
  val transitions = QuerySpec(
    "q_event_transitions",
    (s, d) =>
      Series.transitions(events(s, d), "user_id", "ts", "event_type",
          tiebreak = "event_id")
        .orderBy("from_type", "to_type"),
    Some("""
      WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
      ),
      cnts AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY 1, 2
      ),
      tot AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS from_total
              FROM cnts GROUP BY 1)
      SELECT from_type, to_type, cnt, from_total,
             CAST(cnt AS DOUBLE) / CAST(from_total AS DOUBLE) AS p_cond
      FROM cnts JOIN tot USING (from_type)
      ORDER BY from_type, to_type
    """))

  /** Daily resample + LOCF gap fill: per user, one row per calendar day
    * between their first and last event, carrying the day's last observed
    * value forward across silent days. Values are copied, never summed —
    * double-portable by construction. The spine is bounded by the user's
    * own date span (days × users ≪ events). */
  val gapFill = QuerySpec(
    "q_gap_fill",
    (s, d) =>
      Series.gapFillDaily(events(s, d), "user_id", "ts", "value",
          tiebreak = "event_id")
        .withColumn("day", col("day").cast("timestamp")) // strict-hash type
        .orderBy("user_id", "day"),
    Some("""
      WITH perday AS (
        SELECT user_id, day, observed FROM (
          SELECT user_id, CAST(ts AS DATE) AS day, value AS observed,
                 row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1
      ),
      spans AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events GROUP BY user_id
      ),
      spine AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM spans
      )
      SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
             last_value(observed IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS UNBOUNDED PRECEDING) AS value,
             CAST(CASE WHEN observed IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_observed
      FROM spine s LEFT JOIN perday p USING (user_id, day)
      ORDER BY s.user_id, s.day
    """))

  /** Exact-integer OLS: the monthly order-volume trend line. The five
    * sufficient statistics accumulate as exact longs in one map-side-
    * combinable pass; slope/intercept/r² are a fixed IEEE sequence on
    * those integers — bit-identical across engines AND partitionings,
    * where a naive avg-of-doubles regression drifts with reduction
    * order. */
  val linreg = QuerySpec(
    "q_linreg",
    (s, d) => {
      val monthly = orders(s, d)
        .select(((year(col("o_orderdate")) - 1992) * 12 +
          month(col("o_orderdate")) - 1).as("x"))
        .groupBy("x")
        .agg(count(lit(1)).as("y"))
      Series.olsFit(monthly, "x", "y")
    },
    Some("""
      WITH m AS (
        SELECT CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
      ),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM m
      ),
      k AS (
        SELECT n, sx, sy,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS denx,
               n * syy - sy * sy AS deny
        FROM s
      )
      SELECT n,
             CAST(num AS DOUBLE) / CAST(denx AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE)
                - (CAST(num AS DOUBLE) / CAST(denx AS DOUBLE)) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept,
             (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
               / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)) AS r2
      FROM k
    """))

  /** Median absolute deviation per group — the robust dispersion statistic
    * (outlier-resistant sibling of stddev, which is banned from oracles:
    * order-dependent float accumulation). Two exact medians: the group
    * median, broadcast back, then the median of absolute deviations.
    * 100 TB variant: percentile_approx for both passes (mergeable
    * sketches), same documented swap as q_groupby_median. */
  val mad = QuerySpec(
    "q_mad",
    (s, d) => {
      // fanOut: the exact median buffers every group value — on the
      // single-split parquet scan that is ONE task (the q_groupby_median
      // serial-stage cliff); fan out before the percentile buffers build
      val med = fanOut(s, lineitem(s, d))
        .groupBy("l_returnflag")
        .agg(median(col("l_extendedprice")).as("med_price"))
      fanOut(s, lineitem(s, d))
        .join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          min(col("med_price")).as("med_price"),
          median(abs(col("l_extendedprice") - col("med_price")))
            .as("mad_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH med AS (
        SELECT l_returnflag, median(l_extendedprice) AS med_price
        FROM lineitem GROUP BY 1
      )
      SELECT l_returnflag,
             min(med_price) AS med_price,
             median(abs(l_extendedprice - med_price)) AS mad_price,
             count(*) AS n_rows
      FROM lineitem JOIN med USING (l_returnflag)
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Sparse cosine similarity join over token-count vectors (inverted
    * index + df-cap pruning — graft.ops.Similarity.sparseCosinePairs):
    * top-20 most-similar document pairs by bag-of-words cosine, blocked
    * by lang. The dot products and norms are exact integers; each cosine
    * is the same three IEEE ops in both engines. */
  val sparseCosine = QuerySpec(
    "q_sparse_cosine",
    (s, d) => {
      val docs = fanOut(s, documents(s, d))
        .select(col("doc_id"), col("lang"),
          Text.tokens(col("text")).as("toks"))
      Similarity.sparseCosinePairs(docs, "doc_id", "toks",
          blockCols = Seq("lang"), dfCap = 64)
        .select(col("lang"), col("id_a"), col("id_b"), col("dot"), col("cos"))
        .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
        .limit(20)
    },
    Some("""
      WITH tf AS (
        SELECT lang, doc_id, t, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT lang, doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                        x -> x <> '')) AS t
              FROM documents)
        GROUP BY 1, 2, 3
      ),
      kept AS (SELECT lang, t FROM tf GROUP BY lang, t HAVING count(*) <= 64),
      p AS (SELECT tf.* FROM tf JOIN kept USING (lang, t)),
      norms AS (SELECT lang, doc_id, CAST(sum(tf * tf) AS BIGINT) AS ss
                FROM p GROUP BY 1, 2),
      dots AS (
        SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        FROM p a JOIN p b ON a.lang = b.lang AND a.t = b.t
                         AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3
      )
      SELECT d.lang, id_a, id_b, dot,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) AS cos
      FROM dots d
      JOIN norms na ON na.lang = d.lang AND na.doc_id = d.id_a
      JOIN norms nb ON nb.lang = d.lang AND nb.doc_id = d.id_b
      ORDER BY cos DESC, id_a ASC, id_b ASC
      LIMIT 20
    """))

  /** Multiple linear regression (2 regressors + intercept) by normal
    * equations — the ONE-PASS closed-form fit that needs no iterative
    * solver: ten sufficient statistics in a single aggregate, then a
    * fixed Cramer's-rule solve. The statistics accumulate as
    * DECIMAL(38,18) casts of the exact double products — order-free
    * (decimal addition is associative) and engine-portable: a binary
    * double can never land on a decimal rounding TIE at digit 18 (ties
    * need denominator 2^k with k ≤ 19; products here carry k ≫ 19), so
    * half-up (Spark) and half-even (DuckDB) casts agree on every value.
    * The solve names each shared cofactor once so both engines replay
    * the identical IEEE tree; outputs round once at 1e-6.
    *
    * On this synthetic corpus the true r² ≈ 0 (columns are independent
    * by construction) — the CORRECT answer, and the op's value is the
    * one-pass shape, not this dataset's fit. */
  val linregMulti = QuerySpec(
    "q_linreg_multi",
    (s, d) => {
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,18)")).cast("double")
      val x1 = col("l_quantity"); val x2 = col("l_discount")
      val y = col("l_extendedprice")
      val st = fanOut(s, lineitem(s, d)).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(x1).as("s1"), dsum(x2).as("s2"), dsum(y).as("sy"),
        dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
        dsum(x2 * x2).as("s22"), dsum(x1 * y).as("s1y"),
        dsum(x2 * y).as("s2y"), dsum(y * y).as("syy"))
      // shared cofactors — names mirror the oracle CTE exactly
      val sol = st.select(col("*"),
        (col("s11") * col("s22") - col("s12") * col("s12")).as("c1"),
        (col("s1") * col("s22") - col("s12") * col("s2")).as("c2"),
        (col("s1") * col("s12") - col("s11") * col("s2")).as("c3"),
        (col("s1y") * col("s22") - col("s12") * col("s2y")).as("e1"),
        (col("s1y") * col("s12") - col("s11") * col("s2y")).as("e2"),
        (col("s1") * col("s2y") - col("s1y") * col("s2")).as("e3"),
        (col("s11") * col("s2y") - col("s1y") * col("s12")).as("f1"))
      val withD = sol.select(col("*"),
        (col("n") * col("c1") - col("s1") * col("c2") + col("s2") * col("c3"))
          .as("dd"))
      // try_divide: a singular normal matrix (one row / constant features
      // on degenerate corpora) has det = 0 — NULL coefficients (DuckDB's
      // x/0), not an ANSI error
      val b = withD.select(col("*"),
        try_divide(col("sy") * col("c1") - col("s1") * col("e1")
          + col("s2") * col("e2"), col("dd")).as("b0u"),
        try_divide(col("n") * col("e1") - col("sy") * col("c2")
          + col("s2") * col("e3"), col("dd")).as("b1u"),
        try_divide(col("n") * col("f1") - col("s1") * col("e3")
          + col("sy") * col("c3"), col("dd")).as("b2u"))
      b.select(
        col("n").cast("long").as("n_rows"),
        round(col("b0u"), 6).as("b0"),
        round(col("b1u"), 6).as("b1"),
        round(col("b2u"), 6).as("b2"),
        round(lit(1.0) - try_divide(
          col("syy") - col("b0u") * col("sy") - col("b1u") * col("s1y")
            - col("b2u") * col("s2y"),
          col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"))
    },
    Some("""
      WITH st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,18))) AS DOUBLE) AS s1,
               CAST(sum(CAST(l_discount AS DECIMAL(38,18))) AS DOUBLE) AS s2,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS sy,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,18))) AS DOUBLE) AS s11,
               CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,18))) AS DOUBLE) AS s12,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,18))) AS DOUBLE) AS s22,
               CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS s1y,
               CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS s2y,
               CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,18))) AS DOUBLE) AS syy
        FROM lineitem
      ),
      sol AS (
        SELECT *,
               s11*s22 - s12*s12 AS c1,
               s1*s22 - s12*s2 AS c2,
               s1*s12 - s11*s2 AS c3,
               s1y*s22 - s12*s2y AS e1,
               s1y*s12 - s11*s2y AS e2,
               s1*s2y - s1y*s2 AS e3,
               s11*s2y - s1y*s12 AS f1
        FROM st
      ),
      wd AS (SELECT *, n*c1 - s1*c2 + s2*c3 AS dd FROM sol),
      b AS (
        SELECT *,
               (sy*c1 - s1*e1 + s2*e2) / dd AS b0u,
               (n*e1 - sy*c2 + s2*e3) / dd AS b1u,
               (n*f1 - s1*e3 + sy*c3) / dd AS b2u
        FROM wd
      )
      SELECT CAST(n AS BIGINT) AS n_rows,
             round(b0u, 6) AS b0,
             round(b1u, 6) AS b1,
             round(b2u, 6) AS b2,
             round(1.0 - (syy - b0u*sy - b1u*s1y - b2u*s2y)
                       / (syy - sy*sy/n), 6) AS r2
      FROM b
    """))

  /** Rolling EXACT median over a trailing 5-row frame per user — the
    * robust smoother a spike-ridden series needs where a moving average
    * chases every outlier (q_moving_sum's robust sibling). Median as a
    * true window aggregate: the frame is ≤ 5 values, so the per-row sort
    * is constant work and the shuffle is one hash exchange on user_id —
    * the q_moving_sum plan shape exactly. Values are copied doubles;
    * the even-frame midpoint is (a+b)/2 — one IEEE sequence both engines
    * share. Frame order (ts, event_id) is total, so frame CONTENTS are
    * deterministic under ties. Spark rejects `median` with an explicit
    * frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the engine
    * sorts the ≤5-element frame array and picks the midpoint — the same
    * selection DuckDB's windowed median performs. */
  val rollingMedian = QuerySpec(
    "q_rolling_median",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // asc_nulls_last: DuckDB/SQL-standard ASC seats NULL event times
      // LAST; Spark's default is NULLS FIRST (hollow DegenGate)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc_nulls_last, col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      val vals = array_sort(collect_list(col("value")).over(w))
      val n = size(vals)
      // Column `/` is double division; the indices must be ints
      // the n > 0 guard: an all-NULL window (degen hollow) collects an
      // EMPTY list and element_at(…, 0) is an error, not a median
      val med = when(n === 0, lit(null).cast("double"))
        .when(n % 2 === 1,
          element_at(vals, ((n + 1) / 2).cast("int")))
        .otherwise((element_at(vals, (n / 2).cast("int")) +
          element_at(vals, (n / 2).cast("int") + 1)) / 2.0)
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), med.as("med5"),
          count(lit(1)).over(w).as("n_in_frame"))
        .orderBy("user_id", "ts", "event_id")
    },
    Some("""
      SELECT user_id, ts, event_id, value,
             median(value) OVER w AS med5,
             count(*) OVER w AS n_in_frame
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts, event_id
    """))

  /** Daily-revenue autocorrelation at lags 1–3 ([[graft.ops.Series
    * .autocorr]]) — the seasonality / residual-whiteness diagnostic.
    * The series is the per-day order revenue (decimal-exact, then a
    * copied double); matched-pair Pearson per lag via decimal sufficient
    * statistics, the q_corr discipline, so the oracle replays the same
    * IEEE sequence term-for-term. */
  val acf = QuerySpec(
    "q_acf",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("t"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("x"))
      Series.autocorr(daily, "t", "x", maxLag = 3).orderBy("lag")
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
      ),
      lags AS (SELECT unnest([1, 2, 3]) AS lag),
      pairs AS (
        SELECT l.lag, a.x AS x, b.x AS y
        FROM daily a
        JOIN lags l ON true
        JOIN daily b ON b.t = a.t + l.lag
      ),
      st AS (
        SELECT lag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
               CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag
      )
      SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
             CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                  THEN round((n * sxy - sx * sy) /
                             (sqrt(n * sxx - sx * sx) *
                              sqrt(n * syy - sy * sy)), 6)
             END AS acf
      FROM st
      ORDER BY lag
    """))

  /** CUSUM changepoint over the same daily-revenue series, in cents so
    * every prefix statistic is an exact int64
    * ([[graft.ops.Series.cusumChangepoint]]): the split maximizing
    * |n·P_i − i·T|, ties to the earliest day. The single ordered window
    * is calendar-bounded (the op's documented contract). */
  val cusum = QuerySpec(
    "q_cusum",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
      Series.cusumChangepoint(daily, "t", "v")
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders GROUP BY 1
      ),
      tot AS (SELECT CAST(sum(v) AS BIGINT) AS tv,
                     CAST(count(*) AS BIGINT) AS n FROM daily),
      pre AS (
        SELECT t, row_number() OVER (ORDER BY t) AS idx,
               sum(v) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS p
        FROM daily
      ),
      dev AS (
        SELECT pre.t, CAST(pre.idx AS INTEGER) AS idx, tot.n,
               CAST(tot.n * pre.p - pre.idx * tot.tv AS BIGINT) AS dv
        FROM pre, tot
      )
      SELECT t, idx, n, abs(dv) AS g_stat,
             CASE WHEN dv < 0 THEN 1 ELSE -1 END AS direction
      FROM dev
      ORDER BY g_stat DESC, t ASC
      LIMIT 1
    """))

  /** Kaplan–Meier survival of "time to next order": every order is a
    * subject; the event is the customer's NEXT order (gap in days), and
    * a final order is right-CENSORED at the dataset horizon (max order
    * date) — the estimator's whole point is that those censored rows
    * still sit in the risk set ([[graft.ops.Series.kaplanMeier]]).
    * The gap derivation is a per-customer window (partitioned,
    * scale-safe); the curve itself runs over distinct gap durations
    * (calendar-bounded). Oracle: the identical product-limit fold via
    * DuckDB's list_reduce over the frame-ordered factor list — both
    * engines execute the same IEEE multiply sequence, so the curve
    * matches bit-for-bit with no rounding. */
  val kaplanMeier = QuerySpec(
    "q_kaplan_meier",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val horizon = orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("hz"))
      val dur = orders(s, d)
        .withColumn("nxt", lead(to_date(col("o_orderdate")), 1).over(w))
        .crossJoin(broadcast(horizon))
        .select(
          when(col("nxt").isNotNull,
            datediff(col("nxt"), to_date(col("o_orderdate"))))
            .otherwise(datediff(col("hz"), to_date(col("o_orderdate"))))
            .as("dur"),
          col("nxt").isNotNull.cast("int").as("event"))
      Series.kaplanMeier(dur, "dur", "event")
        .select(col("t").as("t_days"), col("n_risk"), col("n_events"),
          col("surv"))
        .orderBy("t_days")
    },
    Some("""
      WITH hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
      seq AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt,
               lead(CAST(o_orderdate AS DATE))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
      ),
      dur AS (
        -- t IS NOT NULL: Series.kaplanMeier's NULL-duration exclusion
        -- (a NULL order date yields an unplaceable subject)
        SELECT CAST(CASE WHEN nxt IS NOT NULL THEN nxt - dt
                         ELSE h - dt END AS BIGINT) AS t,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM seq, hz
        WHERE (CASE WHEN nxt IS NOT NULL THEN nxt - dt
                    ELSE h - dt END) IS NOT NULL
      ),
      byt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                     CAST(count(*) AS BIGINT) AS c
              FROM dur GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dur),
      risk AS (
        SELECT t, d, c,
               CAST(n - sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) + c
                    AS BIGINT) AS n_risk
        FROM byt, tot
      ),
      ev AS (
        SELECT t, d, n_risk,
               CAST(1.0 AS DOUBLE)
                 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
        FROM risk WHERE d > 0
      )
      SELECT t AS t_days, n_risk, d AS n_events,
             list_reduce(list(f) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING),
                         (a, b) -> a * b) AS surv
      FROM ev
      ORDER BY t_days
    """))

  /** Seasonal decomposition, STL-lite: detrend the daily revenue series
    * with a CENTERED 7-day moving average (a RANGE frame on the epoch
    * day, so calendar gaps never shift the window), then profile the
    * residual by day-of-week — the weekly-seasonality read. Exactness:
    * cents are ints; rows keep only FULL 7-day windows, so the residual
    * scales to the integer 7·v − Σwindow and the per-DOW mean is one
    * final division. dow 0 = Sunday ((t+4) mod 7 — epoch day 0 was a
    * Thursday). The window runs over the calendar-bounded aggregate
    * (the q_cusum contract). */
  val seasonalProfile = QuerySpec(
    "q_seasonal_profile",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("t")
        .rangeBetween(-3, 3)
      orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
        .withColumn("wsum", sum("v").over(w))
        .withColumn("wcnt", count(lit(1)).over(w))
        .filter(col("wcnt") === 7)
        .select(pmod(col("t") + 4, lit(7)).cast("int").as("dow"),
          (col("v") * 7 - col("wsum")).as("resid7"))
        .groupBy("dow")
        .agg(count(lit(1)).as("n_days"),
          sum("resid7").as("sum_resid7"))
        .select(col("dow"), col("n_days"), col("sum_resid7"),
          (col("sum_resid7").cast("double") /
            (col("n_days") * 7L).cast("double")).as("mean_resid_cents"))
        .orderBy("dow")
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders GROUP BY 1
      ),
      win AS (
        SELECT t, v,
               CAST(sum(v) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING) AS BIGINT) AS wsum,
               CAST(count(*) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING
                                   AND 3 FOLLOWING) AS BIGINT) AS wcnt
        FROM daily
      ),
      resid AS (
        SELECT CAST((t + 4) % 7 AS INTEGER) AS dow, v * 7 - wsum AS resid7
        FROM win WHERE wcnt = 7
      )
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(resid7) AS BIGINT) AS sum_resid7,
             CAST(sum(resid7) AS DOUBLE) / CAST(count(*) * 7 AS DOUBLE)
               AS mean_resid_cents
      FROM resid
      GROUP BY dow
      ORDER BY dow
    """))

  /** SAX-style motif mining: symbolize the daily revenue series into
    * value QUARTILES (rank-based — no Gaussian breakpoints, so the
    * discretization is exact and engine-portable), then count every
    * 3-day CONSECUTIVE symbol trigram with support ≥ 2 — the repeated-
    * shape detector (weekly ramp-ups, settlement dips) of the series-
    * mining literature in its replayable form. The quartile is plain
    * ntile(4) over ONE ordered window on the CALENDAR-BOUNDED daily
    * frame (the q_bursts/q_ewma contract — ≤ 2 400 rows at any corpus
    * size, so a single-partition sort is one cheap job; the
    * globalRank machinery this previously used exists for CORPUS-sized
    * rank problems and here only bought four extra scheduler
    * round-trips, the q_kcore latency class the r6 bench flagged);
    * trigram adjacency is two equi-joins on t+1/t+2, so calendar
    * gaps simply produce no motif — never a false adjacency. */
  val saxMotifs = QuerySpec(
    "q_sax_motifs",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
        .cache() // three self-join branches re-read it
      import org.apache.spark.sql.expressions.Window
      val sym = daily.select(col("t"),
        ntile(4).over(Window.orderBy(col("v"), col("t"))).as("q"))
      val tri = sym.select(col("t"), col("q").as("q0"))
        .join(sym.select((col("t") - 1).as("t"), col("q").as("q1")), "t")
        .join(sym.select((col("t") - 2).as("t"), col("q").as("q2")), "t")
      tri
        .select(concat(col("q0"), col("q1"), col("q2")).as("motif"))
        .groupBy("motif").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(col("support").desc, col("motif"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders GROUP BY 1
      ),
      sym AS (
        SELECT t, ntile(4) OVER (ORDER BY v, t) AS q FROM daily
      ),
      tri AS (
        SELECT CAST(a.q AS VARCHAR) || CAST(b.q AS VARCHAR)
                 || CAST(c.q AS VARCHAR) AS motif
        FROM sym a
        JOIN sym b ON b.t = a.t + 1
        JOIN sym c ON c.t = a.t + 2
      )
      SELECT motif, CAST(count(*) AS BIGINT) AS support
      FROM tri
      GROUP BY motif
      HAVING count(*) >= 2
      ORDER BY support DESC, motif
    """))

  /** Burst episodes: days whose revenue exceeds 2× their own TRAILING
    * 28-day mean, grouped into maximal consecutive runs — the spike
    * detector (flash sales, incident spikes) in exact-integer form: with
    * c trailing days summing to S, "v > 2·S/c" is evaluated as
    * c·v > 2·S (no division, no floats), requiring ≥ 14 days of history
    * so the baseline is meaningful. Runs come from the gaps-and-islands
    * anchor (day − row_number is constant within a run — the
    * q_streak trick); the trailing window is a RANGE frame, so calendar
    * gaps shrink the baseline window rather than sliding it. Both
    * ordered windows run over the calendar-bounded daily aggregate. */
  val bursts = QuerySpec(
    "q_bursts",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wTrail = Window.orderBy("t").rangeBetween(-28, -1)
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
      val flagged = daily
        .withColumn("ts28", sum("v").over(wTrail))
        .withColumn("tc28", count(lit(1)).over(wTrail))
        .filter(col("tc28") >= 14 &&
          col("tc28") * col("v") > col("ts28") * 2)
      flagged
        .withColumn("anchor",
          col("t") - row_number().over(Window.orderBy("t")))
        .groupBy("anchor")
        .agg(min("t").as("start_day"), max("t").as("end_day"),
          count(lit(1)).as("len"), max("v").as("peak_cents"),
          sum("v").as("total_cents"))
        .select("start_day", "end_day", "len", "peak_cents", "total_cents")
        .orderBy("start_day")
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders GROUP BY 1
      ),
      trail AS (
        SELECT t, v,
               CAST(sum(v) OVER (ORDER BY t RANGE BETWEEN 28 PRECEDING
                                 AND 1 PRECEDING) AS BIGINT) AS ts28,
               CAST(count(*) OVER (ORDER BY t RANGE BETWEEN 28 PRECEDING
                                   AND 1 PRECEDING) AS BIGINT) AS tc28
        FROM daily
      ),
      flagged AS (
        SELECT t, v FROM trail
        WHERE tc28 >= 14 AND tc28 * v > ts28 * 2
      ),
      runs AS (
        SELECT t, v,
               t - row_number() OVER (ORDER BY t) AS anchor
        FROM flagged
      )
      SELECT CAST(min(t) AS BIGINT) AS start_day,
             CAST(max(t) AS BIGINT) AS end_day,
             CAST(count(*) AS BIGINT) AS len,
             CAST(max(v) AS BIGINT) AS peak_cents,
             CAST(sum(v) AS BIGINT) AS total_cents
      FROM runs
      GROUP BY anchor
      ORDER BY start_day
    """))

  /** Exponential smoothing (EWMA, α = 0.2) of the daily revenue series —
    * the recency-weighted level every forecasting/monitoring stack keeps.
    * An EWMA is inherently SEQUENTIAL (S_t = α·x_t + (1−α)·S_{t−1}), so
    * the engine form is the q_kaplan_meier ordered-fold: values sort by
    * day into one bounded buffer (calendar-bounded — the q_cusum
    * contract) and fold left seeded with the first value; DuckDB's
    * list_reduce replays the identical IEEE sequence, so the smoothed
    * level matches bit-for-bit across ~2400 chained fused ops. */
  val ewma = QuerySpec(
    "q_ewma",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("x"))
      daily
        .agg(
          count(lit(1)).as("n_days"),
          max("t").as("last_day"),
          array_sort(collect_list(struct(col("t"), col("x")))).as("ps"))
        .select(col("n_days"), col("last_day"),
          aggregate(
            // length = size(ps): a 2^31-ish literal overflows Slice's
            // start+length int arithmetic into an empty result
            expr("slice(transform(ps, p -> p.x), 2, size(ps))"),
            // get(): NULL (not an ANSI error) on an EMPTY series, exactly
            // DuckDB's out-of-range list index — the degen `empty` corpus
            expr("get(transform(ps, p -> p.x), 0)"),
            (acc, x) => acc * lit(0.8) + x * lit(0.2)).as("ewma_level"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
      )
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(t) AS BIGINT) AS last_day,
             list_reduce(list(x ORDER BY t),
                         (a, b) -> a * CAST(0.8 AS DOUBLE)
                                   + b * CAST(0.2 AS DOUBLE)) AS ewma_level
      FROM daily
    """))

  /** Holt's linear-trend (double exponential) smoothing of the daily
    * revenue series, α = 0.2, β = 0.1 — [[ewma]]'s big sibling: the level
    * now carries a trend term, so the one-step forecast is level + trend
    * instead of a flat line. The recursion
    *   l_t = α·x_t + (1−α)(l_{t−1} + t_{t−1}),
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * is a TWO-component ordered fold; seeds are the textbook l₀ = x₀,
    * b₀ = x₁ − x₀, folding from x₂. Spark's accumulator is a struct;
    * DuckDB's list_reduce constrains accumulator and element to one
    * type, so the oracle folds DOUBLE[] pairs — the seed [l₀, b₀]
    * prepended to the remaining xs wrapped as singletons. Both engines
    * write l_t's expression INLINE inside b_t (no intermediate binding
    * in either lambda dialect), so the ~2·2400 chained IEEE ops replay
    * bit-for-bit. Scale contract = q_ewma's: the folded buffer is
    * calendar-bounded (one element per DAY), not row-bounded. */
  val holt = QuerySpec(
    "q_holt",
    (s, d) => {
      // dated days only (the cusum calendar contract): an unknown-day
      // aggregate has no place in the smoothing order, and the two
      // engines would seat it at opposite ends of the fold (hollow
      // DegenGate)
      val daily = orders(s, d)
        .filter(col("o_orderdate").isNotNull)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("x"))
      daily
        .agg(
          count(lit(1)).as("n_days"),
          max("t").as("last_day"),
          array_sort(collect_list(struct(col("t"), col("x")))).as("ps"))
        .select(col("n_days"), col("last_day"),
          aggregate(
            expr("slice(transform(ps, p -> p.x), 3, size(ps))"),
            // get(): NULL seeds (not an ANSI error) when the series has
            // <2 points, matching DuckDB's out-of-range list index.
            // l0 = x0 (get index 0 — the oracle's 1-based xs[1]): the
            // original seed read x1, a latent off-by-one the healthy
            // gates never saw because the 0.8^t decay erases the seed
            // below the 1e-6 rounding after a few hundred days — the
            // degen single corpus (one day, zero decay) exposed it
            expr("named_struct('l', get(transform(ps, p -> p.x), 0), " +
              "'b', get(transform(ps, p -> p.x), 1) " +
              "- get(transform(ps, p -> p.x), 0))"),
            (acc, x) => struct(
              (x * lit(0.2) + (acc.getField("l") + acc.getField("b"))
                * lit(0.8)).as("l"),
              (((x * lit(0.2) + (acc.getField("l") + acc.getField("b"))
                * lit(0.8)) - acc.getField("l")) * lit(0.1)
                + acc.getField("b") * lit(0.9)).as("b"))).as("hw"))
        .select(col("n_days"), col("last_day"),
          col("hw.l").as("level"), col("hw.b").as("trend"),
          (col("hw.l") + col("hw.b")).as("forecast"))
    },
    Some("""
      WITH daily AS (
        -- dated days only (the cusum calendar contract; hollow DegenGate)
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
      ),
      ser AS (SELECT count(*) AS n_days, max(t) AS last_day,
                     list(x ORDER BY t) AS xs
              FROM daily),
      folded AS (
        SELECT n_days, last_day,
               list_reduce(
                 list_prepend([xs[1], xs[2] - xs[1]],
                              list_transform(xs[3:], v -> [v])),
                 (a, b) -> [b[1] * 0.2 + (a[1] + a[2]) * 0.8,
                            (b[1] * 0.2 + (a[1] + a[2]) * 0.8 - a[1]) * 0.1
                              + a[2] * 0.9]) AS hw
        FROM ser
      )
      SELECT n_days, last_day, hw[1] AS level, hw[2] AS trend,
             hw[1] + hw[2] AS forecast
      FROM folded
    """))

  /** Classical additive seasonal decomposition (the moving-average STL
    * ancestor) of the daily revenue series: trend = centered 7-day
    * moving average (defined ONLY where all 7 calendar days exist —
    * a RANGE frame, so calendar gaps invalidate the window instead of
    * silently sliding it), detrended = v − trend, seasonal index = the
    * day-of-week mean of the detrended series. Exact-integer
    * discipline: the detrended value is carried ×7 as
    * n7 = 7·v − ts7 (BIGINT — no division, no float accumulation), so
    * the per-dow mean is ONE double division of two exact integers and
    * the within-dow sum of squares comes from the textbook
    * Σn7² − S²/C identity over decimal-exact Σn7² (n7² multiplies as
    * int64 first — exact while |n7| < ~3·10⁹, which holds at every
    * test SF; at true scale pre-cast the factors). dow = t mod 7 on
    * the epoch day — zone-free and identical in both engines. Both
    * ordered windows run over the calendar-bounded daily aggregate
    * (q_bursts' contract); at 100 TB the pre-aggregate is the only
    * corpus-sized stage and it is one map-side-combinable groupBy. */
  val stlDecompose = QuerySpec(
    "q_stl_decompose",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w7 = Window.orderBy("t").rangeBetween(-3, 3)
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
      daily
        .withColumn("ts7", sum("v").over(w7))
        .withColumn("tc7", count(lit(1)).over(w7))
        .filter(col("tc7") === 7)
        .select((col("t") % 7).as("dow"),
          (col("v") * 7 - col("ts7")).as("n7"))
        .groupBy("dow")
        .agg(
          count(lit(1)).as("n_days"),
          sum("n7").as("sum_n7"),
          // n7² multiplies DECIMAL(18,0)×DECIMAL(18,0) → (37,0): int64
          // would overflow at sf0.1 (|n7| ~ 5·10⁹); scale-0 decimal also
          // keeps the final →double cast a SINGLE correct rounding in
          // both engines (a scaled decimal double-rounds in DuckDB)
          sum(col("n7").cast("decimal(18,0)") * col("n7").cast("decimal(18,0)"))
            .cast("double").as("sum_sq"))
        .select(col("dow"), col("n_days"), col("sum_n7"),
          (col("sum_n7").cast("double") /
            (col("n_days") * 7).cast("double")).as("seasonal_cents"),
          (col("sum_sq") - col("sum_n7").cast("double")
            * col("sum_n7").cast("double")
            / col("n_days").cast("double")).as("ss_scaled"))
        .orderBy("dow")
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders GROUP BY 1
      ),
      win AS (
        SELECT t, v,
               CAST(sum(v) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING) AS BIGINT) AS ts7,
               CAST(count(*) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING
                                   AND 3 FOLLOWING) AS BIGINT) AS tc7
        FROM daily
      ),
      det AS (
        SELECT t % 7 AS dow, v * 7 - ts7 AS n7
        FROM win WHERE tc7 = 7
      )
      SELECT dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n7) AS BIGINT) AS sum_n7,
             CAST(sum(n7) AS DOUBLE) / CAST(count(*) * 7 AS DOUBLE)
               AS seasonal_cents,
             CAST(sum(CAST(n7 AS HUGEINT) * n7) AS DOUBLE)
               - CAST(sum(n7) AS DOUBLE) * CAST(sum(n7) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS ss_scaled
      FROM det
      GROUP BY dow
      ORDER BY dow
    """))

  /** Theil–Sen robust trend of the 1995 daily revenue series: the slope
    * is the MEDIAN of all pairwise slopes (v_j−v_i)/(t_j−t_i), i<j —
    * the estimator that shrugs off the outlier days that wreck OLS
    * (up to 29% contamination). Inherently O(n²) pairs, but n is the
    * CALENDAR (≤365 days here), not the corpus: the corpus-sized stage
    * is the one map-side-combinable daily pre-aggregate, after which
    * the pair join is a ~66k-row broadcast nested loop over a bounded
    * frame — the same bound that makes the all-pairs shape safe at
    * 100 TB. Each slope is one int64 subtraction pair + one double
    * division (copied, never accumulated); the intercept is the
    * Theil–Sen companion median(v_i − slope·t_i) — one multiply + one
    * subtract per day against the already-reduced scalar. Medians are
    * exact (both engines average the two middles on even counts). */
  val theilSen = QuerySpec(
    "q_theil_sen",
    (s, d) => {
      val daily = orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
        .cache()
      val a = daily.select(col("t").as("t1"), col("v").as("v1"))
      val b = daily.select(col("t").as("t2"), col("v").as("v2"))
      val slopes = a.join(b, col("t2") > col("t1"))
        .select(((col("v2") - col("v1")).cast("double") /
          (col("t2") - col("t1")).cast("double")).as("slope"))
      val fit = slopes.agg(
        count(lit(1)).as("n_pairs"),
        median(col("slope")).as("ts_slope"))
      daily.crossJoin(broadcast(fit))
        .groupBy("n_pairs", "ts_slope")
        .agg(
          count(lit(1)).as("n_days"),
          median(col("v").cast("double") -
            col("ts_slope") * col("t").cast("double")).as("ts_intercept"))
        .select(col("n_days"), col("n_pairs"),
          col("ts_slope").as("slope_cents_per_day"),
          col("ts_intercept").as("intercept_cents"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1995
        GROUP BY 1
      ),
      fit AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               median(CAST(b.v - a.v AS DOUBLE)
                      / CAST(b.t - a.t AS DOUBLE)) AS ts_slope
        FROM daily a JOIN daily b ON b.t > a.t
      )
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             f.n_pairs,
             f.ts_slope AS slope_cents_per_day,
             median(CAST(d.v AS DOUBLE) - f.ts_slope * CAST(d.t AS DOUBLE))
               AS intercept_cents
      FROM daily d CROSS JOIN fit f
      GROUP BY f.n_pairs, f.ts_slope
    """))

  /** Additive Holt–Winters (triple exponential smoothing, weekly
    * season m = 7; α = 0.2, β = 0.1, γ = 0.3) — [[holt]] plus a
    * seasonal register:
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1}),
    *   b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1},
    *   s_t = γ(x_t − l_t) + (1−γ) s_{t−m}.
    * The state is a 9-slot DOUBLE array [l, b, s₀..s₆] folded over the
    * day-ordered series (the [[ewma]]/[[holt]] ordered-fold
    * discipline); the seasonal slot keys on t mod 7 — zone-free epoch-
    * day arithmetic, so CALENDAR GAPS update the correct weekday slot
    * instead of rotating a phantom season. Seeds are textbook:
    * l₀ = mean of the first 7 observations (a seeded fold, not an
    * unordered sum), b₀ = 0, s-slots from the first 7 observations'
    * deviations (later duplicates of a weekday overwrite — made
    * deterministic by the fold order). DuckDB's list_reduce constrains
    * accumulator and element to one type, so the oracle folds
    * DOUBLE[9] against [x, dow] pairs with 1-based indexes replaying
    * Spark's 0-based transform — l_t is inlined everywhere it appears
    * (no let-binding in either lambda dialect), keeping the ~3·2400
    * chained IEEE ops bit-identical. Scale contract = [[ewma]]'s:
    * the buffer is calendar-bounded. */
  val holtWinters = QuerySpec(
    "q_holt_winters",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("x"))
      val l0 = "(aggregate(slice(transform(ps, p -> p.x), 1, 7), " +
        "cast(0.0 as double), (a, v) -> a + v) / 7.0)"
      val lp = s"(0.2 * (p.x - acc[cast(p.t % 7 as int) + 2]) " +
        "+ 0.8 * (acc[0] + acc[1]))"
      val hwFold =
        s"""aggregate(
           |  slice(ps, 8, size(ps)),
           |  concat(
           |    array($l0, cast(0.0 as double)),
           |    aggregate(slice(ps, 1, 7),
           |      array_repeat(cast(0.0 as double), 7),
           |      (acc, p) -> transform(acc, (v, i) ->
           |        IF(i = cast(p.t % 7 as int), p.x - $l0, v)))),
           |  (acc, p) -> transform(acc, (v, i) ->
           |    CASE WHEN i = 0 THEN $lp
           |         WHEN i = 1 THEN 0.1 * ($lp - acc[0]) + 0.9 * acc[1]
           |         WHEN i = cast(p.t % 7 as int) + 2
           |           THEN 0.3 * (p.x - $lp) + 0.7 * v
           |         ELSE v END))""".stripMargin
      daily
        .agg(
          count(lit(1)).as("n_days"),
          max("t").as("last_day"),
          array_sort(collect_list(struct(col("t"), col("x")))).as("ps"))
        .select(col("n_days"), col("last_day"), expr(hwFold).as("hw"))
        .select(col("n_days"), col("last_day"),
          expr("hw[0]").as("level"), expr("hw[1]").as("trend"),
          expr("hw[2]").as("s0"), expr("hw[3]").as("s1"),
          expr("hw[4]").as("s2"), expr("hw[5]").as("s3"),
          expr("hw[6]").as("s4"), expr("hw[7]").as("s5"),
          expr("hw[8]").as("s6"),
          expr("hw[0] + hw[1] + hw[cast((last_day + 1) % 7 as int) + 2]")
            .as("forecast"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
      ),
      ser AS (SELECT count(*) AS n_days, max(t) AS last_day,
                     list([x, CAST(t % 7 AS DOUBLE)] ORDER BY t) AS ds
              FROM daily),
      seeded AS (
        SELECT n_days, last_day, ds,
               list_concat(
                 [list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(ds[1:7], e -> e[1])),
                    (a, v) -> a + v) / 7.0,
                  CAST(0.0 AS DOUBLE)],
                 list_reduce(
                   list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0,
                                 0.0, 0.0],
                                ds[1:7]),
                   (acc, e) -> list_transform(acc, (v, i) ->
                     CASE WHEN i = CAST(e[2] AS INTEGER) + 1
                          THEN e[1] - list_reduce(
                                 list_prepend(CAST(0.0 AS DOUBLE),
                                   list_transform(ds[1:7], q -> q[1])),
                                 (a, w) -> a + w) / 7.0
                          ELSE v END))) AS seed
        FROM ser
      ),
      folded AS (
        SELECT n_days, last_day,
               list_reduce(
                 list_prepend(seed, ds[8:]),
                 (acc, e) -> list_transform(acc, (v, i) ->
                   CASE WHEN i = 1
                          THEN 0.2 * (e[1] - acc[CAST(e[2] AS INTEGER) + 3])
                               + 0.8 * (acc[1] + acc[2])
                        WHEN i = 2
                          THEN 0.1 * ((0.2 * (e[1]
                                 - acc[CAST(e[2] AS INTEGER) + 3])
                                 + 0.8 * (acc[1] + acc[2])) - acc[1])
                               + 0.9 * acc[2]
                        WHEN i = CAST(e[2] AS INTEGER) + 3
                          THEN 0.3 * (e[1] - (0.2 * (e[1]
                                 - acc[CAST(e[2] AS INTEGER) + 3])
                                 + 0.8 * (acc[1] + acc[2])))
                               + 0.7 * v
                        ELSE v END)) AS hw
        FROM seeded
      )
      SELECT n_days, last_day,
             hw[1] AS level, hw[2] AS trend,
             hw[3] AS s0, hw[4] AS s1, hw[5] AS s2, hw[6] AS s3,
             hw[7] AS s4, hw[8] AS s5, hw[9] AS s6,
             hw[1] + hw[2] + hw[CAST((last_day + 1) % 7 AS INTEGER) + 3]
               AS forecast
      FROM folded
    """))

  /** Markov stationary distribution of the event-type chain: the row-
    * normalized transition matrix P from [[transitions]]' adjacent
    * pairs, then three unrolled power-iteration steps π ← πP from the
    * uniform start — where user attention concentrates once the
    * journey mixes. Each step is a join of the |states|-row π vector
    * with the |states|²-bounded P frame; per-state contribution sums
    * fold in (c, from) order (the q_pagerank sorted-fold discipline,
    * seeded 0.0 both engines — at ≤ |states| terms one segment level
    * suffices). States with no inbound mass coalesce to 0 against the
    * full state list each step, so the vector never silently drops a
    * state. The l1_gap |π₃ − π₂| (folded in state order) is the
    * convergence read. Corpus-sized work = ONE windowed pair pass +
    * one count aggregate; every iteration runs on frames the corpus
    * only fills. */
  val markovStationary = QuerySpec(
    "q_markov_stationary",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = events(s, d)
        .select(col("event_type").as("frm"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      val cnts = pairs.groupBy("frm", "dst").agg(count(lit(1)).as("cnt"))
      val tot = cnts.groupBy("frm").agg(sum("cnt").as("from_total"))
      // |states|²-bounded and |states|-bounded frames each read 3–4
      // times: localCheckpoint (eager, reclaimed on dereference) rather
      // than a cache this query would leak into the session
      val p = cnts.join(tot, "frm")
        .select(col("frm"), col("dst"),
          (col("cnt").cast("double") / col("from_total").cast("double"))
            .as("p")).localCheckpoint()
      val states = events(s, d).select(col("event_type").as("state"))
        .distinct().localCheckpoint()
      // divide DRIVER-side: `lit(1.0) / count` is an in-plan Divide that
      // constant-folds to an ANSI ÷0 on an EMPTY corpus (the adamic_adar
      // landmine class); with zero states the value never reaches a row
      val nStates = states.count()
      val n = lit(if (nStates == 0) 0.0 else 1.0 / nStates)
      def step(pi: org.apache.spark.sql.DataFrame) = {
        val sums = p.join(pi.withColumnRenamed("state", "frm"), "frm")
          .select(col("dst"), (col("pi") * col("p")).as("c"), col("frm"))
          .groupBy("dst")
          .agg(aggregate(
            array_sort(collect_list(struct(col("c"), col("frm")))),
            lit(0.0), (acc, x) => acc + x.getField("c")).as("pi"))
        states.join(sums, col("state") === col("dst"), "left")
          .select(col("state"), coalesce(col("pi"), lit(0.0)).as("pi"))
          .localCheckpoint()
      }
      val pi1 = step(states.select(col("state"), n.as("pi")))
      val pi2 = step(pi1)
      val pi3 = step(pi2)
      pi3.select(col("state"), col("pi").as("pi3"))
        .join(pi2.select(col("state"), col("pi").as("pi2")), "state")
        .select(col("state"), round(col("pi2"), 9).as("pi2"),
          round(col("pi3"), 9).as("pi3"),
          round(abs(col("pi3") - col("pi2")), 9).as("gap"))
        .orderBy("state")
    },
    Some("""
      WITH pairs AS (
        SELECT event_type AS frm,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
      ),
      cnts AS (
        SELECT frm, dst, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2
      ),
      tot AS (SELECT frm, CAST(sum(cnt) AS BIGINT) AS from_total
              FROM cnts GROUP BY 1),
      p AS (SELECT c.frm, c.dst,
                   CAST(cnt AS DOUBLE) / CAST(from_total AS DOUBLE) AS p
            FROM cnts c JOIN tot USING (frm)),
      states AS (SELECT DISTINCT event_type AS state FROM events),
      nn AS (SELECT 1.0 / CAST(count(*) AS DOUBLE) AS u FROM states),
      pi0 AS (SELECT state, u AS pi FROM states CROSS JOIN nn),
      s1 AS (SELECT p.dst,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(pi.pi * p.p ORDER BY pi.pi * p.p, p.frm)),
                      (a, b) -> a + b) AS pi
             FROM p JOIN pi0 pi ON pi.state = p.frm GROUP BY 1),
      pi1 AS (SELECT st.state, coalesce(s1.pi, 0.0) AS pi
              FROM states st LEFT JOIN s1 ON s1.dst = st.state),
      s2 AS (SELECT p.dst,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(pi.pi * p.p ORDER BY pi.pi * p.p, p.frm)),
                      (a, b) -> a + b) AS pi
             FROM p JOIN pi1 pi ON pi.state = p.frm GROUP BY 1),
      pi2 AS (SELECT st.state, coalesce(s2.pi, 0.0) AS pi
              FROM states st LEFT JOIN s2 ON s2.dst = st.state),
      s3 AS (SELECT p.dst,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(pi.pi * p.p ORDER BY pi.pi * p.p, p.frm)),
                      (a, b) -> a + b) AS pi
             FROM p JOIN pi2 pi ON pi.state = p.frm GROUP BY 1),
      pi3 AS (SELECT st.state, coalesce(s3.pi, 0.0) AS pi
              FROM states st LEFT JOIN s3 ON s3.dst = st.state)
      SELECT pi3.state, round(pi2.pi, 9) AS pi2, round(pi3.pi, 9) AS pi3,
             round(abs(pi3.pi - pi2.pi), 9) AS gap
      FROM pi3 JOIN pi2 USING (state)
      ORDER BY state
    """))

  /** Matrix profile of the daily revenue series (Yeh et al. 2016, the
    * UCR matrix-profile line), window m = 7, EXACT-INTEGER distance:
    * for every 7-day window, the squared Euclidean distance to its
    * nearest non-overlapping neighbor (exclusion |Δt| ≥ 7) and that
    * neighbor's date — low values are MOTIFS (repeated weekly shapes),
    * high values are DISCORDS (anomalous weeks), the two reads the
    * matrix-profile literature is built on. Deliberately
    * NON-normalized (the z-normalized variant divides by window σ —
    * float chains an exact gate can't carry) over whole-DOLLAR values
    * (cents DIV 100: keeps Σ of 7 squared diffs < 2⁶³ through sf10+),
    * so every distance is an exact int64 and the argmin is a struct
    * min — zero float ops anywhere. Windows come from gaps-and-islands
    * runs (the q_streak anchor), so a window NEVER spans a calendar
    * gap. The O(n²) pair scan is CALENDAR-bounded (≤ 2 400 windows —
    * the q_theil_sen contract); per-window state is 7 scalar columns,
    * never arrays on the pair rows. */
  val matrixProfile = QuerySpec(
    "q_matrix_profile",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(expr("(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
          "AS BIGINT)) DIV 100").as("v"))
      val runs = daily
        .withColumn("anchor", col("t") - row_number().over(Window.orderBy("t")))
        .groupBy("anchor")
        .agg(array_sort(collect_list(struct(col("t"), col("v")))).as("ps"))
        .filter(size(col("ps")) >= 7)
      val win = runs.select(explode(expr(
        """transform(sequence(0, size(ps) - 7), i -> struct(
          |  ps[i].t AS wt,
          |  ps[i].v AS w0, ps[i+1].v AS w1, ps[i+2].v AS w2,
          |  ps[i+3].v AS w3, ps[i+4].v AS w4, ps[i+5].v AS w5,
          |  ps[i+6].v AS w6))""".stripMargin)).as("w"))
        .select("w.*")
        .localCheckpoint()
      def d2 = (0 to 6).map(k =>
        (col(s"a.w$k") - col(s"b.w$k")) * (col(s"a.w$k") - col(s"b.w$k")))
        .reduce(_ + _)
      win.as("a").join(win.as("b"),
          abs(col("a.wt") - col("b.wt")) >= 7)
        .groupBy(col("a.wt").as("wt"))
        .agg(min(struct(d2.as("d2"), col("b.wt").as("nn"))).as("m"))
        .select(col("wt"), col("m.d2").as("mp_dist2"),
          col("m.nn").as("nn_wt"))
        .orderBy("wt")
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) // 100 AS v
        FROM orders GROUP BY 1
      ),
      runs AS (
        SELECT t - row_number() OVER (ORDER BY t) AS anchor, t, v
        FROM daily
      ),
      grp AS (
        SELECT anchor, list(ROW(t, v) ORDER BY t) AS ps
        FROM runs GROUP BY anchor
        HAVING count(*) >= 7
      ),
      win AS (
        SELECT w['wt'] AS wt,
               w['w0'] AS w0, w['w1'] AS w1, w['w2'] AS w2, w['w3'] AS w3,
               w['w4'] AS w4, w['w5'] AS w5, w['w6'] AS w6
        FROM (
          SELECT unnest(list_transform(range(1, len(ps) - 5), i -> {
                   'wt': ps[i][1],
                   'w0': ps[i][2], 'w1': ps[i+1][2], 'w2': ps[i+2][2],
                   'w3': ps[i+3][2], 'w4': ps[i+4][2], 'w5': ps[i+5][2],
                   'w6': ps[i+6][2]})) AS w
          FROM grp)
      ),
      prof AS (
        SELECT a.wt,
               min(ROW(
                 (a.w0-b.w0)*(a.w0-b.w0) + (a.w1-b.w1)*(a.w1-b.w1)
                 + (a.w2-b.w2)*(a.w2-b.w2) + (a.w3-b.w3)*(a.w3-b.w3)
                 + (a.w4-b.w4)*(a.w4-b.w4) + (a.w5-b.w5)*(a.w5-b.w5)
                 + (a.w6-b.w6)*(a.w6-b.w6),
                 b.wt)) AS m
        FROM win a JOIN win b ON abs(a.wt - b.wt) >= 7
        GROUP BY a.wt
      )
      SELECT wt, CAST(m[1] AS BIGINT) AS mp_dist2,
             CAST(m[2] AS BIGINT) AS nn_wt
      FROM prof
      ORDER BY wt
    """))

  /** Nelson–Aalen cumulative hazard over [[kaplanMeier]]'s inter-order
    * duration frame — the estimator that SUMS hazards d/n instead of
    * multiplying survivals, the standard KM companion. Each hazard term
    * quantizes ONCE to pico-units (10¹²·d DIV n_risk — exact integer
    * division both engines replay; d and n_risk ride DECIMAL(38,0) so
    * the product never overflows), making the cumulative sum exact
    * integers in any partition order; Ĥ(t) ships as the single division
    * micro/10¹². Risk sets come from one cumulative window over the
    * duration-level frame (calendar-bounded — the [[cusum]] contract). */
  val nelsonAalen = QuerySpec(
    "q_nelson_aalen",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val horizon = orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("hz"))
      val dur = orders(s, d)
        .withColumn("nxt", lead(to_date(col("o_orderdate")), 1).over(w))
        .crossJoin(broadcast(horizon))
        .select(
          when(col("nxt").isNotNull,
            datediff(col("nxt"), to_date(col("o_orderdate"))))
            .otherwise(datediff(col("hz"), to_date(col("o_orderdate"))))
            .as("t"),
          col("nxt").isNotNull.cast("int").as("ev"))
        // the kaplanMeier NULL-duration exclusion (hollow DegenGate)
        .filter(col("t").isNotNull)
      val byt = dur.groupBy("t")
        .agg(sum("ev").as("d"), count(lit(1)).as("c"))
      val tot = byt.agg(sum("c").as("n"))
      val wt = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
      val risk = byt.crossJoin(broadcast(tot))
        .withColumn("n_risk", col("n") - sum("c").over(wt) + col("c"))
        .withColumn("term", expr(
          "CAST(1000000000000 AS DECIMAL(38,0)) * d DIV n_risk"))
      risk
        .withColumn("na_pico", sum("term").over(wt))
        .filter(col("d") > 0)
        .select(col("t").cast("long").as("t_days"), col("n_risk"),
          col("d").as("n_events"), col("na_pico").cast("long").as("na_pico"),
          (col("na_pico").cast("double") / 1e12).as("cum_hazard"))
        .orderBy("t_days")
    },
    Some("""
      WITH hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
      seq AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt,
               lead(CAST(o_orderdate AS DATE))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
      ),
      dur AS (
        -- the kaplanMeier NULL-duration exclusion (hollow DegenGate)
        SELECT CAST(CASE WHEN nxt IS NOT NULL THEN nxt - dt
                         ELSE h - dt END AS BIGINT) AS t,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM seq, hz
        WHERE (CASE WHEN nxt IS NOT NULL THEN nxt - dt
                    ELSE h - dt END) IS NOT NULL
      ),
      byt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                     CAST(count(*) AS BIGINT) AS c
              FROM dur GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dur),
      risk AS (
        SELECT t, d, c,
               CAST(n - sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) + c
                    AS BIGINT) AS n_risk
        FROM byt, tot
      ),
      term AS (
        SELECT t, d, n_risk,
               CAST(CAST(1000000000000 AS HUGEINT) * d // n_risk AS BIGINT)
                 AS tm
        FROM risk
      )
      SELECT t AS t_days, n_risk, d AS n_events,
             CAST(sum(tm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS na_pico,
             CAST(sum(tm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
               AS DOUBLE) / 1e12 AS cum_hazard
      FROM term
      WHERE d > 0
      ORDER BY t_days
    """))

  /** Log-rank O/E comparison of repurchase timing between the BUILDING
    * market segment and everyone else, on the same duration frame —
    * "does cohort A return faster?" without choosing a horizon. Per
    * distinct duration: observed events per cohort (exact), expected
    * under the null e1 = Σ d·n1/n with each term quantized ONCE to
    * micro-units (10⁶·d·n1 DIV n in DECIMAL(38,0) — deterministic in
    * any partition order, the [[nelsonAalen]] discipline); at-risk
    * counts are two cumulative windows over the bounded duration frame.
    * Ships O, E, and the O/E hazard-ratio estimate — the standard
    * epidemiology summary; the χ² variance term needs n³ products and
    * adds nothing the ratio doesn't show here. */
  val logRank = QuerySpec(
    "q_log_rank",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val horizon = orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("hz"))
      val seg = customer(s, d).select(col("c_custkey").as("o_custkey"),
        (col("c_mktsegment") === "BUILDING").cast("int").as("g1"))
      val dur = orders(s, d)
        .withColumn("nxt", lead(to_date(col("o_orderdate")), 1).over(w))
        .crossJoin(broadcast(horizon))
        .join(seg, "o_custkey")
        .select(
          when(col("nxt").isNotNull,
            datediff(col("nxt"), to_date(col("o_orderdate"))))
            .otherwise(datediff(col("hz"), to_date(col("o_orderdate"))))
            .as("t"),
          col("nxt").isNotNull.cast("int").as("ev"), col("g1"))
        // the kaplanMeier NULL-duration exclusion (hollow DegenGate)
        .filter(col("t").isNotNull)
      val byt = dur.groupBy("t").agg(
        sum(col("ev") * col("g1")).as("d1"),
        sum(col("ev") * (lit(1) - col("g1"))).as("d2"),
        sum(col("g1").cast("long")).as("c1"),
        sum(lit(1L) - col("g1")).as("c2"))
      val tot = byt.agg(sum("c1").as("n1t"), sum("c2").as("n2t"))
      val wt = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
      val risk = byt.crossJoin(broadcast(tot))
        .withColumn("n1", col("n1t") - sum("c1").over(wt) + col("c1"))
        .withColumn("n2", col("n2t") - sum("c2").over(wt) + col("c2"))
        .filter(col("d1") + col("d2") > 0)
        .withColumn("e1m", expr("CAST(1000000 AS DECIMAL(38,0)) * " +
          "(d1 + d2) * n1 DIV (n1 + n2)"))
        .withColumn("e2m", expr("CAST(1000000 AS DECIMAL(38,0)) * " +
          "(d1 + d2) * n2 DIV (n1 + n2)"))
      risk.agg(
        sum("d1").as("o1"), sum("d2").as("o2"),
        sum("e1m").cast("long").as("e1_micro"),
        sum("e2m").cast("long").as("e2_micro"))
        .select(col("o1"), col("o2"), col("e1_micro"), col("e2_micro"),
          // try_divide: a corpus where one arm never has events (the
          // degen constant star routes every order to one customer
          // segment) has an undefined hazard ratio — NULL (DuckDB's
          // x/0), not an ANSI error
          round(try_divide(
            try_divide(col("o1").cast("double"),
              col("e1_micro").cast("double") / 1e6),
            try_divide(col("o2").cast("double"),
              col("e2_micro").cast("double") / 1e6)), 6)
            .as("hazard_ratio"))
    },
    Some("""
      WITH hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
      seq AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt,
               lead(CAST(o_orderdate AS DATE))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
      ),
      dur AS (
        -- the kaplanMeier NULL-duration exclusion (hollow DegenGate)
        SELECT CAST(CASE WHEN s.nxt IS NOT NULL THEN s.nxt - s.dt
                         ELSE hz.h - s.dt END AS BIGINT) AS t,
               CASE WHEN s.nxt IS NOT NULL THEN 1 ELSE 0 END AS ev,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
        FROM seq s CROSS JOIN hz
        JOIN customer c ON c.c_custkey = s.o_custkey
        WHERE (CASE WHEN s.nxt IS NOT NULL THEN s.nxt - s.dt
                    ELSE hz.h - s.dt END) IS NOT NULL
      ),
      byt AS (
        SELECT t, CAST(sum(ev * g1) AS BIGINT) AS d1,
               CAST(sum(ev * (1 - g1)) AS BIGINT) AS d2,
               CAST(sum(g1) AS BIGINT) AS c1,
               CAST(sum(1 - g1) AS BIGINT) AS c2
        FROM dur GROUP BY 1
      ),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1t,
                     CAST(sum(c2) AS BIGINT) AS n2t FROM byt),
      risk AS (
        SELECT t, d1, d2,
               CAST(n1t - sum(c1) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                    + c1 AS BIGINT) AS n1,
               CAST(n2t - sum(c2) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                    + c2 AS BIGINT) AS n2
        FROM byt, tot
      ),
      terms AS (
        SELECT d1, d2,
               CAST(CAST(1000000 AS HUGEINT) * (d1 + d2) * n1 // (n1 + n2)
                 AS BIGINT) AS e1m,
               CAST(CAST(1000000 AS HUGEINT) * (d1 + d2) * n2 // (n1 + n2)
                 AS BIGINT) AS e2m
        FROM risk WHERE d1 + d2 > 0
      )
      SELECT CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(d2) AS BIGINT) AS o2,
             CAST(sum(e1m) AS BIGINT) AS e1_micro,
             CAST(sum(e2m) AS BIGINT) AS e2_micro,
             round((CAST(sum(d1) AS DOUBLE)
                    / (CAST(sum(e1m) AS DOUBLE) / 1e6))
                   / (CAST(sum(d2) AS DOUBLE)
                      / (CAST(sum(e2m) AS DOUBLE) / 1e6)), 6)
               AS hazard_ratio
      FROM terms
    """))

  /** Permutation entropy (m = 3) of the daily revenue series — the
    * ordinal-pattern complexity measure (Bandt–Pompe): how predictable
    * is the local up/down shape? Each consecutive-row triple maps to one
    * of six ordinal patterns via EXACT integer comparisons on cents
    * (ties break by position — the stable-sort convention, so the
    * pattern id is three booleans, no float rank anywhere); pattern
    * counts pivot in fixed id order and H = ln N − (1/N)·Σ c·ln c
    * normalizes by ln 6 in one identical double expression, rounded at
    * 1e-6. White noise → 1, monotone trend → 0. The lead windows run on
    * the calendar-bounded daily frame (the [[cusum]] contract). */
  val permEntropy = QuerySpec(
    "q_perm_entropy",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("rev"))
      val w = W.orderBy("day")
      val trip = daily
        .withColumn("x1", lead("rev", 1).over(w))
        .withColumn("x2", lead("rev", 2).over(w))
        .filter(col("x2").isNotNull)
      // "i precedes j" under stable (value, position) order; positions
      // are 0,1,2 so ties resolve to the earlier index.
      val c01 = (col("rev") <= col("x1")).cast("int")
      val c02 = (col("rev") <= col("x2")).cast("int")
      val c12 = (col("x1") <= col("x2")).cast("int")
      val pat = trip.select((c01 * 4 + c02 * 2 + c12).as("p"))
      val cells = (0 to 7).map(i =>
        sum((col("p") === i).cast("long")).as(s"c$i")) :+
        count(lit(1)).as("n")
      val piv = pat.agg(cells.head, cells.tail: _*)
      val nD = col("n").cast("double")
      val sclc = (0 to 7).map { i =>
        val c = col(s"c$i").cast("double")
        when(col(s"c$i") > 0, c * log(c)).otherwise(lit(0.0))
      }.reduce(_ + _)
      val h = log(nD) - sclc / nD
      piv.select(col("n").as("n_windows"),
        round(h, 6).as("h"),
        round(h / log(lit(6.0)), 6).as("pe_norm"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1
      ),
      trip AS (
        SELECT rev AS x0,
               lead(rev, 1) OVER (ORDER BY day) AS x1,
               lead(rev, 2) OVER (ORDER BY day) AS x2
        FROM daily
      ),
      pat AS (
        SELECT (CASE WHEN x0 <= x1 THEN 4 ELSE 0 END
                + CASE WHEN x0 <= x2 THEN 2 ELSE 0 END
                + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS p
        FROM trip WHERE x2 IS NOT NULL
      ),
      piv AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(sum(CASE WHEN p = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
               CAST(sum(CASE WHEN p = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
               CAST(sum(CASE WHEN p = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
               CAST(sum(CASE WHEN p = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
               CAST(sum(CASE WHEN p = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7
        FROM pat
      ),
      hh AS (
        SELECT n,
               -- CASE: DuckDB's ln(0) is an ERROR where Spark's is NULL;
               -- over zero windows (degen `empty` corpus) the entropy is
               -- NULL on both engines
               CASE WHEN n > 0 THEN
               ln(CAST(n AS DOUBLE))
               - (CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE)
                    * ln(CAST(c0 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE)
                    * ln(CAST(c1 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c2 > 0 THEN CAST(c2 AS DOUBLE)
                    * ln(CAST(c2 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c3 > 0 THEN CAST(c3 AS DOUBLE)
                    * ln(CAST(c3 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c4 > 0 THEN CAST(c4 AS DOUBLE)
                    * ln(CAST(c4 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c5 > 0 THEN CAST(c5 AS DOUBLE)
                    * ln(CAST(c5 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c6 > 0 THEN CAST(c6 AS DOUBLE)
                    * ln(CAST(c6 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN c7 > 0 THEN CAST(c7 AS DOUBLE)
                    * ln(CAST(c7 AS DOUBLE)) ELSE 0.0 END)
                 / CAST(n AS DOUBLE)
               ELSE NULL END AS h
        FROM piv
      )
      SELECT n AS n_windows, round(h, 6) AS h,
             round(h / ln(6.0), 6) AS pe_norm
      FROM hh
    """))

  /** Binary-segmentation changepoint on daily revenue — the
    * variance-reduction sibling of [[cusum]]'s mean-shift scan: the
    * split minimizing total SSE equivalently MAXIMIZES P²/i + (S−P)²/
    * (n−i), and with cents as exact integers that score quantizes to
    * (P²·(n−i) + (S−P)²·i) DIV (i·(n−i)·S) in DECIMAL(38,0) — an exact
    * integer every engine agrees on (the constant S divisor keeps the
    * argmax and bounds the quotient to ~S/n·10⁴ ≪ 2⁶³ at any SF; ties
    * from the quantization and from equal scores both resolve to the
    * earliest day), so the winner never rides a float. One cumulative
    * window over the calendar-bounded daily frame, one ORDER BY ...
    * LIMIT 1. Segment means ship in dollars as single divisions of
    * exact sums. */
  val binarySegment = QuerySpec(
    "q_binary_segment",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("rev"))
      // asc_nulls_last (hollow DegenGate): DuckDB's ORDER BY day seats an
      // unknown day LAST; Spark's NULLS-FIRST default would hand it i=1
      val w = W.orderBy(col("day").asc_nulls_last)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val tot = daily.agg(count(lit(1)).as("n"), sum("rev").as("s"))
      val cum = daily.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(
          W.orderBy(col("day").asc_nulls_last)))
        .withColumn("p", sum("rev").over(w))
        .filter(col("i") < col("n"))
      // CASE s = 0: an all-zero (or all-NULL-revenue) series makes the
      // constant-S quantizer divisor 0 — NULL score like DuckDB's
      // x // 0, never an ANSI DIVIDE_BY_ZERO (hollow DegenGate)
      val scored = cum.withColumn("score_q", expr(
        "CASE WHEN s = 0 THEN NULL ELSE " +
          "(CAST(p AS DECIMAL(38,0)) * p * (n - i) " +
          "+ CAST(s - p AS DECIMAL(38,0)) * (s - p) * i) " +
          "DIV (CAST(i AS DECIMAL(38,0)) * (n - i) * s) END"))
      scored.orderBy(col("score_q").desc, col("day").asc_nulls_last)
        .limit(1)
        .select(col("day").cast("timestamp").as("split_day"), // strict-hash type
          col("i").cast("long").as("n_left"),
          (col("n") - col("i")).cast("long").as("n_right"),
          round(col("p").cast("double") /
            (col("i").cast("double") * 100.0), 6).as("mean_left_usd"),
          round((col("s") - col("p")).cast("double") /
            ((col("n") - col("i")).cast("double") * 100.0), 6)
            .as("mean_right_usd"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1
      ),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(rev) AS BIGINT) AS s FROM daily),
      cum AS (
        SELECT day,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
               CAST(sum(rev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS p,
               n, s
        FROM daily CROSS JOIN tot
      ),
      scored AS (
        SELECT day, i, p, n, s,
               (CAST(p AS HUGEINT) * p * (n - i)
                + CAST(s - p AS HUGEINT) * (s - p) * i)
                 // (CAST(i AS HUGEINT) * (n - i) * s) AS score_q
        FROM cum WHERE i < n
      )
      SELECT CAST(day AS TIMESTAMP) AS split_day, i AS n_left, n - i AS n_right,
             round(CAST(p AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6)
               AS mean_left_usd,
             round(CAST(s - p AS DOUBLE)
                   / (CAST(n - i AS DOUBLE) * 100.0), 6) AS mean_right_usd
      FROM scored
      ORDER BY score_q DESC, day
      LIMIT 1
    """))

  /** OLS weights (ln m − mean)/Sxx for m = 8,16,32,64 — computed once
    * in Scala and interpolated into BOTH plans so the engines compose
    * literally identical doubles. */
  private val HurstWeights: Seq[Double] = {
    val xs = Seq(8.0, 16.0, 32.0, 64.0).map(math.log)
    val xbar = xs.sum / 4.0
    val sxx = xs.map(v => (v - xbar) * (v - xbar)).sum
    xs.map(v => (v - xbar) / sxx)
  }

  /** Hurst exponent of daily revenue by rescaled-range (R/S) analysis —
    * long-memory vs mean-reversion, the complement of [[acf]]'s short
    * lags. For block sizes m ∈ {8,16,32,64}: full blocks only, and the
    * within-block R/S stays EXACT until one sqrt — cumulative
    * deviations scale by m (m·P_k − k·S, integers), so
    * R/S = (max−min of those) / √(m·Σx²−S²) with the square sums in
    * DECIMAL(38,0) (daily cents² passes 2⁶³), one double per block,
    * quantized ONCE to nano-units. Per-size means are then exact
    * integer sums, ln(mean) is one identical double, and the 4-point
    * OLS slope pivots in fixed size order with the (ln m − mean)/Sxx
    * weights embedded as ONE set of double literals interpolated into
    * BOTH plans. H ≈ 0.5 is a random walk; every window partitions by
    * (size, block), never globally. */
  val hurst = QuerySpec(
    "q_hurst",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("rev"))
        .withColumn("i", row_number().over(W.orderBy("day")))
      import s.implicits._
      val sizes = Seq(8L, 16L, 32L, 64L).toDF("m")
      val blocks = daily.crossJoin(broadcast(sizes))
        .withColumn("g", expr("CAST(i - 1 AS BIGINT) DIV m"))
        .withColumn("k", expr("CAST(i - 1 AS BIGINT) % m + 1"))
      val wB = W.partitionBy("m", "g").orderBy("k")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val cums = blocks.withColumn("cum", sum("rev").over(wB))
      val st = blocks.groupBy("m", "g")
        .agg(count(lit(1)).as("cnt"), sum("rev").as("sv"),
          sum(col("rev").cast("decimal(38,0)") * col("rev")).as("qv"))
        .filter(col("cnt") === col("m"))
      val dev = cums
        .join(st.select("m", "g", "sv", "qv"), Seq("m", "g"))
        .groupBy("m", "g", "sv", "qv")
        .agg(max(col("cum") * col("m") - col("k") * col("sv")).as("mx"),
          min(col("cum") * col("m") - col("k") * col("sv")).as("mn"))
        .filter(col("qv") * col("m") - col("sv").cast("decimal(38,0)")
          * col("sv") > 0)
        .select(col("m"), expr(
          "CAST(round((mx - mn) / sqrt(CAST(qv * m - CAST(sv AS " +
            "DECIMAL(38,0)) * sv AS DOUBLE)) * 1000000000) AS BIGINT)")
          .as("rsn"))
      val bySize = dev.groupBy("m")
        .agg(count(lit(1)).as("nb"), sum("rsn").as("srs"))
        .select(col("m"),
          log(col("srs").cast("double") /
            (col("nb").cast("double") * 1e9)).as("y"))
      val piv = bySize.agg(
        max(when(col("m") === 8, col("y"))).as("y0"),
        max(when(col("m") === 16, col("y"))).as("y1"),
        max(when(col("m") === 32, col("y"))).as("y2"),
        max(when(col("m") === 64, col("y"))).as("y3"))
      val slope = HurstWeights.zipWithIndex
        .map { case (w, i) => lit(w) * col(s"y$i") }.reduce(_ + _)
      piv.select(round(slope, 6).as("hurst"))
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS rev,
               CAST(row_number() OVER (ORDER BY CAST(o_orderdate AS DATE))
                 AS BIGINT) AS i
        FROM orders GROUP BY 1
      ),
      sizes AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS m),
      blocks AS (
        SELECT d.rev, s.m, (d.i - 1) // s.m AS g, (d.i - 1) % s.m + 1 AS k
        FROM daily d CROSS JOIN sizes s
      ),
      cums AS (
        SELECT m, g, k, rev,
               sum(rev) OVER (PARTITION BY m, g ORDER BY k
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM blocks
      ),
      st AS (
        SELECT m, g, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(rev) AS BIGINT) AS sv,
               sum(CAST(rev AS HUGEINT) * rev) AS qv
        FROM blocks GROUP BY m, g
      ),
      dev AS (
        SELECT c.m,
               CAST(round((max(c.cum * c.m - c.k * s.sv)
                           - min(c.cum * c.m - c.k * s.sv))
                          / sqrt(CAST(s.qv * c.m
                                      - CAST(s.sv AS HUGEINT) * s.sv
                                 AS DOUBLE))
                          * 1000000000) AS BIGINT) AS rsn
        FROM cums c JOIN st s ON s.m = c.m AND s.g = c.g AND s.cnt = s.m
        WHERE s.qv * c.m - CAST(s.sv AS HUGEINT) * s.sv > 0
        GROUP BY c.m, c.g, s.sv, s.qv
      ),
      bysize AS (
        SELECT m,
               ln(CAST(sum(rsn) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE) * 1e9)) AS y
        FROM dev GROUP BY m
      ),
      piv AS (
        SELECT max(CASE WHEN m = 8 THEN y END) AS y0,
               max(CASE WHEN m = 16 THEN y END) AS y1,
               max(CASE WHEN m = 32 THEN y END) AS y2,
               max(CASE WHEN m = 64 THEN y END) AS y3
        FROM bysize
      )
      SELECT round(${HurstWeights(0)} * y0 + ${HurstWeights(1)} * y1
                   + ${HurstWeights(2)} * y2 + ${HurstWeights(3)} * y3, 6)
        AS hurst
      FROM piv
    """))

  /** Entropy rate of the per-user event-type chain — how predictable is
    * the NEXT event given the current one? The empirical-frequency form
    * H = −Σᵢⱼ (cᵢⱼ/N)·ln(cᵢⱼ/cᵢ·) over [[transitions]]' lag pairs:
    * counts are exact longs over the bounded |types|² frame, each
    * transition's ln(cᵢⱼ/cᵢ) quantizes ONCE to nano-units so the
    * weighted sum Σ cᵢⱼ·nanoᵢⱼ is an exact integer under any partition
    * order ([[hurst]]'s discipline), and the rate is one division. Also
    * ships the row entropy of the marginal for the H_rate ≤ H_marginal
    * sanity relation the spec asserts. */
  val entropyRate = QuerySpec(
    "q_entropy_rate",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      // asc_nulls_last: DuckDB's ORDER BY ts seats NULL event times LAST
      // (hollow DegenGate) — with NULLS FIRST the chain would bridge
      // unknown-time events INTO the dated sequence
      val pairs = events(s, d)
        .select(col("event_type").as("ft"),
          lead("event_type", 1).over(
            W.partitionBy("user_id")
              .orderBy(col("ts").asc_nulls_last, col("event_id")))
            .as("tt"))
        .filter(col("tt").isNotNull)
      val cnts = pairs.groupBy("ft", "tt").agg(count(lit(1)).as("c"))
      val marg = cnts.groupBy("ft").agg(sum("c").as("cf"))
      val terms = cnts.join(marg, "ft")
        .select(col("c"),
          expr("CAST(round(ln(CAST(c AS DOUBLE) / CAST(cf AS DOUBLE)) " +
            "* 1000000000) AS BIGINT)").as("nano"),
          col("cf"))
      val tot = terms.agg(sum("c").as("n"),
        sum(col("c") * col("nano")).as("sw"))
      val mterms = marg.crossJoin(broadcast(
          marg.agg(sum("cf").as("n"))))
        .select(col("cf"),
          expr("CAST(round(ln(CAST(cf AS DOUBLE) / CAST(n AS DOUBLE)) " +
            "* 1000000000) AS BIGINT)").as("nano"))
      val mtot = mterms.agg(sum(col("cf") * col("nano")).as("sm"),
        sum("cf").as("nm"))
      tot.crossJoin(broadcast(mtot)).select(
        col("n").as("n_transitions"),
        // +0.0 canonicalizes the IEEE zero sign: a constant series has
        // -0.0 entropy in DuckDB and the driver's hash is bit-sensitive
        (round(-col("sw").cast("double") /
          (col("n").cast("double") * 1e9), 6) + lit(0.0)).as("h_rate"),
        (round(-col("sm").cast("double") /
          (col("nm").cast("double") * 1e9), 6) + lit(0.0)).as("h_marginal"))
    },
    Some("""
      WITH pairs AS (
        SELECT event_type AS ft,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS tt
        FROM events
      ),
      cnts AS (
        SELECT ft, tt, CAST(count(*) AS BIGINT) AS c
        FROM pairs WHERE tt IS NOT NULL GROUP BY 1, 2
      ),
      marg AS (SELECT ft, CAST(sum(c) AS BIGINT) AS cf
               FROM cnts GROUP BY 1),
      terms AS (
        SELECT c.c,
               CAST(round(ln(CAST(c.c AS DOUBLE) / CAST(m.cf AS DOUBLE))
                 * 1000000000) AS BIGINT) AS nano
        FROM cnts c JOIN marg m USING (ft)
      ),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                     CAST(sum(c * nano) AS BIGINT) AS sw FROM terms),
      mn AS (SELECT CAST(sum(cf) AS BIGINT) AS nm FROM marg),
      mterms AS (
        SELECT m.cf,
               CAST(round(ln(CAST(m.cf AS DOUBLE) / CAST(mn.nm AS DOUBLE))
                 * 1000000000) AS BIGINT) AS nano
        FROM marg m CROSS JOIN mn
      ),
      mtot AS (SELECT CAST(sum(cf * nano) AS BIGINT) AS sm,
                      CAST(sum(cf) AS BIGINT) AS nm2 FROM mterms)
      SELECT tot.n AS n_transitions,
             round(-CAST(tot.sw AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * 1e9), 6) + 0.0 AS h_rate,
             round(-CAST(mtot.sm AS DOUBLE)
                   / (CAST(mtot.nm2 AS DOUBLE) * 1e9), 6) + 0.0 AS h_marginal
      FROM tot CROSS JOIN mtot
    """))

  /** Kendall τ-b of daily revenue against time (1995, [[theilSen]]'s
    * calendar-bounded O(n²) pair frame) — the rank-based trend test
    * whose sign [[theilSen]]'s slope estimates: days are distinct so
    * x-ties vanish, concordant/discordant/tied counts are EXACT longs
    * from one pair join on integer cents, the y-tie term Σt(t−1)/2
    * comes out of the same pair aggregate (tie = v₂ = v₁ pairs, so
    * n₀ − t_y = C + D directly — no separate value-frame pass), and
    * τ-b = (C−D)/√(n₀·(C+D)) is one double expression over exact
    * DECIMAL(38,0) operands, rounded at 1e-6. */
  val kendallTau = QuerySpec(
    "q_kendall",
    (s, d) => {
      val daily = orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
        .cache()
      val a = daily.select(col("t").as("t1"), col("v").as("v1"))
      val b = daily.select(col("t").as("t2"), col("v").as("v2"))
      val pairs = a.join(b, col("t2") > col("t1"))
        .agg(
          sum((col("v2") > col("v1")).cast("long")).as("c"),
          sum((col("v2") < col("v1")).cast("long")).as("disc"),
          sum((col("v2") === col("v1")).cast("long")).as("tie"))
      val nDays = daily.agg(count(lit(1)).as("n"))
      val d38 = "decimal(38,0)"
      pairs.crossJoin(broadcast(nDays)).select(
        col("n").as("n_days"), col("c").as("concordant"),
        col("disc").as("discordant"), col("tie").as("tied"),
        round((col("c") - col("disc")).cast("double") /
          sqrt(((col("c") + col("disc") + col("tie")).cast(d38) *
            (col("c") + col("disc")).cast(d38)).cast("double")), 6)
          .as("tau_b"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS v
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1995
        GROUP BY 1
      ),
      p AS (
        SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END) AS BIGINT)
                 AS c,
               CAST(sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END) AS BIGINT)
                 AS disc,
               CAST(sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) AS BIGINT)
                 AS tie
        FROM daily a JOIN daily b ON b.t > a.t
      ),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
      SELECT n AS n_days, c AS concordant, disc AS discordant, tie AS tied,
             round(CAST(c - disc AS DOUBLE)
                   / sqrt(CAST(CAST(c + disc + tie AS DECIMAL(38,0))
                               * CAST(c + disc AS DECIMAL(38,0))
                          AS DOUBLE)), 6) AS tau_b
      FROM p CROSS JOIN nn
    """))

  /** Ljung–Box Q over [[acf]]'s first three lags — "is there ANY serial
    * correlation?", the portmanteau companion to per-lag reads:
    * Q = n(n+2)·Σ r_k²/(n−k). The r_k are the SAME 1e-6-rounded
    * autocorrelations the gate already pins, n is the day count, so Q
    * is one fixed double expression over gate-exact operands; the
    * verdict compares Q to χ²₍₃,.05₎ = 7.8147. */
  val ljungBox = QuerySpec(
    "q_ljung_box",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("t"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("x"))
        .cache()
      val n = daily.agg(count(lit(1)).as("n"))
      val rk = Series.autocorr(daily, "t", "x", maxLag = 3)
        .select(col("lag"), col("acf"))
      val piv = rk.agg(
        max(when(col("lag") === 1, col("acf"))).as("r1"),
        max(when(col("lag") === 2, col("acf"))).as("r2"),
        max(when(col("lag") === 3, col("acf"))).as("r3"))
      val nD = col("n").cast("double")
      val q = nD * (nD + 2.0) *
        (col("r1") * col("r1") / (nD - 1.0) +
          col("r2") * col("r2") / (nD - 2.0) +
          col("r3") * col("r3") / (nD - 3.0))
      piv.crossJoin(broadcast(n)).select(
        col("n").as("n_days"), col("r1"), col("r2"), col("r3"),
        round(q, 6).as("q_stat"),
        (round(q, 6) > 7.8147).cast("int").as("significant"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
      ),
      lags AS (SELECT unnest([1, 2, 3]) AS lag),
      pairs AS (
        SELECT l.lag, a.x AS x, b.x AS y
        FROM daily a JOIN lags l ON true
        JOIN daily b ON b.t = a.t + l.lag
      ),
      st AS (
        SELECT lag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
               CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag
      ),
      rk AS (
        SELECT lag,
               CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                    THEN round((n * sxy - sx * sy) /
                               (sqrt(n * sxx - sx * sx) *
                                sqrt(n * syy - sy * sy)), 6)
               END AS acf
        FROM st
      ),
      piv AS (
        SELECT max(CASE WHEN lag = 1 THEN acf END) AS r1,
               max(CASE WHEN lag = 2 THEN acf END) AS r2,
               max(CASE WHEN lag = 3 THEN acf END) AS r3
        FROM rk
      ),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      qq AS (
        SELECT n, r1, r2, r3,
               CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                 * (r1 * r1 / (CAST(n AS DOUBLE) - 1.0)
                    + r2 * r2 / (CAST(n AS DOUBLE) - 2.0)
                    + r3 * r3 / (CAST(n AS DOUBLE) - 3.0)) AS q
        FROM piv CROSS JOIN nn
      )
      SELECT n AS n_days, r1, r2, r3, round(q, 6) AS q_stat,
             CAST(round(q, 6) > 7.8147 AS INTEGER) AS significant
      FROM qq
    """))

  /** Split-conformal prediction interval for the daily-revenue trend —
    * distribution-free coverage, the modern answer to "how wrong is the
    * forecast?": fit OLS on CALIBRATION days (even epoch day), take the
    * ⌈0.9(n+1)⌉-th smallest absolute residual as the conformal radius,
    * measure empirical coverage on TEST days (odd). The fit is exact
    * decimal sufficient sums → two shared double coefficients; each
    * |residual| quantizes ONCE to micro-units (an exact long both
    * engines agree on), so the order statistic is an integer selection
    * over the calendar-bounded calibration frame and the coverage
    * compare is integer-vs-integer. Guaranteed ≥ 90% marginal coverage
    * in expectation; the observed rate ships. */
  val conformal = QuerySpec(
    "q_conformal",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("v"))
        .withColumn("cal", (col("t") % 2 === 0).cast("int"))
        .cache()
      val d38 = "decimal(38,0)"
      val fit = daily.filter(col("cal") === 1).agg(
        count(lit(1)).as("nc"),
        sum(col("t").cast(d38)).as("st"),
        sum(col("v").cast(d38)).as("sv"),
        sum(col("t").cast(d38) * col("t")).as("stt"),
        sum(col("t").cast(d38) * col("v")).as("stv"))
        .select(col("nc"),
          // try_divide: a 0/1-day calibration split (degenerate corpora)
          // has no slope/intercept — NULL, not an ANSI error
          try_divide(
            (col("nc").cast(d38) * col("stv") - col("st") * col("sv"))
              .cast("double"),
            (col("nc").cast(d38) * col("stt") - col("st") * col("st"))
              .cast("double")).as("beta"),
          col("st").cast("double").as("stD"),
          col("sv").cast("double").as("svD"))
        .select(col("nc"), col("beta"),
          try_divide(col("svD") - col("beta") * col("stD"),
            col("nc").cast("double")).as("alpha"))
      val scored = daily.crossJoin(broadcast(fit))
        .withColumn("am", expr("CAST(round(abs(CAST(v AS DOUBLE) - alpha " +
          "- beta * CAST(t AS DOUBLE)) * 1000000) AS BIGINT)"))
      val qv = scored.filter(col("cal") === 1)
        .withColumn("rn", row_number().over(W.orderBy("am")))
        .filter(col("rn") === ceil(lit(0.9) * (col("nc") + 1)).cast("int"))
        .select(col("am").as("q_micro"))
      scored.filter(col("cal") === 0)
        .crossJoin(broadcast(qv))
        .agg(count(lit(1)).as("n_test"),
          sum((col("am") <= col("q_micro")).cast("long")).as("n_covered"),
          max(col("q_micro")).as("q_micro"))
        .select(col("n_test"), col("n_covered"),
          round(col("q_micro").cast("double") / 1e6 / 100.0, 6)
            .as("radius_usd"),
          round(try_divide(col("n_covered").cast("double"),
            col("n_test").cast("double")), 6).as("coverage"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS v,
               CASE WHEN CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                 AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS cal
        FROM orders GROUP BY 1
      ),
      fit0 AS (
        SELECT CAST(count(*) AS BIGINT) AS nc,
               CAST(sum(CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS st,
               CAST(sum(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sv,
               CAST(sum(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0))
                 AS stt,
               CAST(sum(CAST(t AS DECIMAL(38,0)) * v) AS DECIMAL(38,0))
                 AS stv
        FROM daily WHERE cal = 1
      ),
      fit1 AS (
        SELECT nc,
               CAST(CAST(nc AS DECIMAL(38,0)) * stv - st * sv AS DOUBLE)
                 / CAST(CAST(nc AS DECIMAL(38,0)) * stt - st * st AS DOUBLE)
                 AS beta,
               CAST(st AS DOUBLE) AS std, CAST(sv AS DOUBLE) AS svd
        FROM fit0
      ),
      fit AS (
        SELECT nc, beta, (svd - beta * std) / CAST(nc AS DOUBLE) AS alpha
        FROM fit1
      ),
      scored AS (
        SELECT d.cal,
               CAST(round(abs(CAST(d.v AS DOUBLE) - f.alpha
                              - f.beta * CAST(d.t AS DOUBLE)) * 1000000)
                 AS BIGINT) AS am,
               f.nc
        FROM daily d CROSS JOIN fit f
      ),
      qv AS (
        SELECT am AS q_micro FROM (
          SELECT am, nc, row_number() OVER (ORDER BY am) AS rn
          FROM scored WHERE cal = 1)
        WHERE rn = CAST(ceil(0.9 * (nc + 1)) AS INTEGER)
      )
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN s.am <= q.q_micro THEN 1 ELSE 0 END)
               AS BIGINT) AS n_covered,
             round(CAST(max(q.q_micro) AS DOUBLE) / 1e6 / 100.0, 6)
               AS radius_usd,
             round(CAST(sum(CASE WHEN s.am <= q.q_micro THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS coverage
      FROM scored s CROSS JOIN qv q
      WHERE s.cal = 0
    """))

  /** Ridge regularization path for [[linregMulti]]'s two-feature fit —
    * closed form at λ ∈ {0, 10³, 10⁵}: center, solve the 2×2 system
    * (S₁₁+λ, S₁₂; S₁₂, S₂₂+λ)β = (S₁y, S₂y) by Cramer, recover the
    * intercept from the means. One sufficient-stats aggregate
    * (decimal(38,18) accumulation, the linregMulti discipline) CROSS
    * JOINED with the three literal λ rows — the whole path costs one
    * extra broadcast, not three fits. λ = 0 must reproduce
    * [[linregMulti]]'s slopes (spec-asserted); rising λ shrinks both
    * slopes toward zero, the read that tells you how much the fit
    * leans on thin data. All doubles compose one fixed expression
    * tree, rounded at 1e-6. */
  val ridgePath = QuerySpec(
    "q_ridge_path",
    (s, d) => {
      import s.implicits._
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,18)")).cast("double")
      val x1 = col("l_quantity"); val x2 = col("l_discount")
      val y = col("l_extendedprice")
      val st = fanOut(s, lineitem(s, d)).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(x1).as("s1"), dsum(x2).as("s2"), dsum(y).as("sy"),
        dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
        dsum(x2 * x2).as("s22"), dsum(x1 * y).as("s1y"),
        dsum(x2 * y).as("s2y"))
      val cen = st.select(col("*"),
        (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
        (col("s12") - col("s1") * col("s2") / col("n")).as("c12"),
        (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
        (col("s1y") - col("s1") * col("sy") / col("n")).as("c1y"),
        (col("s2y") - col("s2") * col("sy") / col("n")).as("c2y"))
      val lam = Seq(0.0, 1000.0, 100000.0).toDF("lambda")
      cen.crossJoin(broadcast(lam))
        .select(col("lambda"), col("*"))
        .withColumn("det", (col("c11") + col("lambda")) *
          (col("c22") + col("lambda")) - col("c12") * col("c12"))
        // try_divide: at lambda = 0 a singular centered Gram (degenerate
        // corpora) has det = 0 — NULL path point, not an ANSI error
        .withColumn("b1u", try_divide(
          col("c1y") * (col("c22") + col("lambda")) -
            col("c12") * col("c2y"), col("det")))
        .withColumn("b2u", try_divide(
          (col("c11") + col("lambda")) * col("c2y") -
            col("c12") * col("c1y"), col("det")))
        .select(col("lambda"),
          // +0.0 canonicalizes the IEEE zero sign (constant-feature
          // corpora round to -0.0 through DuckDB's double path)
          (round((col("sy") - col("b1u") * col("s1") -
            col("b2u") * col("s2")) / col("n"), 6) + lit(0.0)).as("b0"),
          (round(col("b1u"), 6) + lit(0.0)).as("b1"),
          (round(col("b2u"), 6) + lit(0.0)).as("b2"))
        .orderBy("lambda")
    },
    Some("""
      WITH st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,18))) AS DOUBLE) AS s1,
               CAST(sum(CAST(l_discount AS DECIMAL(38,18))) AS DOUBLE) AS s2,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,18))) AS DOUBLE)
                 AS sy,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,18)))
                 AS DOUBLE) AS s11,
               CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,18)))
                 AS DOUBLE) AS s12,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,18)))
                 AS DOUBLE) AS s22,
               CAST(sum(CAST(l_quantity * l_extendedprice
                 AS DECIMAL(38,18))) AS DOUBLE) AS s1y,
               CAST(sum(CAST(l_discount * l_extendedprice
                 AS DECIMAL(38,18))) AS DOUBLE) AS s2y
        FROM lineitem
      ),
      cen AS (
        SELECT *,
               s11 - s1 * s1 / n AS c11,
               s12 - s1 * s2 / n AS c12,
               s22 - s2 * s2 / n AS c22,
               s1y - s1 * sy / n AS c1y,
               s2y - s2 * sy / n AS c2y
        FROM st
      ),
      lam AS (SELECT CAST(unnest([0.0, 1000.0, 100000.0]) AS DOUBLE)
                AS lambda),
      sol AS (
        SELECT lambda, n, s1, s2, sy, c11, c12, c22, c1y, c2y,
               (c11 + lambda) * (c22 + lambda) - c12 * c12 AS det
        FROM cen CROSS JOIN lam
      ),
      b AS (
        SELECT lambda, n, s1, s2, sy,
               (c1y * (c22 + lambda) - c12 * c2y) / det AS b1u,
               ((c11 + lambda) * c2y - c12 * c1y) / det AS b2u
        FROM sol
      )
      SELECT lambda,
             round((sy - b1u * s1 - b2u * s2) / n, 6) + 0.0 AS b0,
             round(b1u, 6) + 0.0 AS b1,
             round(b2u, 6) + 0.0 AS b2
      FROM b
      ORDER BY lambda
    """))

  /** Seasonal Mann–Kendall trend test — [[kendallTau]] made
    * seasonality-proof: compare days only WITHIN their day-of-week
    * season (dow = (t+4) mod 7, the [[seasonalProfile]] epoch-day
    * convention), so a weekly cycle can't masquerade as trend.
    * S = ΣₛΣ_{i<j} sign(vⱼ−vᵢ) and Var = Σₛ nₛ(nₛ−1)(2nₛ+5)/18 are
    * exact integers over the 1995 calendar-bounded pair frame (the
    * [[theilSen]] O(n²) scoping; cents make exact value ties
    * measure-rare and a tied pair simply contributes 0 to S). The .05
    * verdict is the cross-multiplied continuity-corrected test
    * (|S|−1)²·18·10⁴ > 38415·Σnₛ(nₛ−1)(2nₛ+5), both sides
    * DECIMAL(38,0); z ships rounded at 1e-6. */
  val seasonalMk = QuerySpec(
    "q_seasonal_mk",
    (s, d) => {
      val daily = orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("v"))
        .withColumn("dow", expr("CAST((t + 4) % 7 AS INTEGER)"))
        .cache()
      val a = daily.select(col("dow"), col("t").as("t1"), col("v").as("v1"))
      val b = daily.select(col("dow"), col("t").as("t2"), col("v").as("v2"))
      val sAgg = a.join(b, Seq("dow")).filter(col("t2") > col("t1"))
        .agg(sum(signum(col("v2") - col("v1")).cast("long")).as("s"))
      val vAgg = daily.groupBy("dow").agg(count(lit(1)).as("ns"))
        .agg(sum(col("ns") * (col("ns") - 1) * (col("ns") * 2 + 5))
          .as("v18"), sum("ns").as("n"))
      val d38 = "decimal(38,0)"
      val absS = abs(col("s")).cast(d38)
      val lhs = (absS - lit(1L).cast(d38)) * (absS - lit(1L).cast(d38)) *
        lit(180000L).cast(d38)
      val rhs = lit(38415L).cast(d38) * col("v18").cast(d38)
      val z = (col("s").cast("double") - signum(col("s").cast("double"))) /
        sqrt(col("v18").cast("double") / 18.0)
      sAgg.crossJoin(broadcast(vAgg)).select(
        col("n").as("n_days"), col("s").as("mk_s"),
        round(z, 6).as("z"),
        (col("s") =!= 0 && lhs > rhs).cast("int").as("significant"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS v,
               CAST((CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                 AS BIGINT) + 4) % 7 AS INTEGER) AS dow
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1995
        GROUP BY 1
      ),
      sa AS (
        SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
                 AS s
        FROM daily a JOIN daily b ON b.dow = a.dow AND b.t > a.t
      ),
      va AS (
        SELECT CAST(sum(ns * (ns - 1) * (ns * 2 + 5)) AS BIGINT) AS v18,
               CAST(sum(ns) AS BIGINT) AS n
        FROM (SELECT CAST(count(*) AS BIGINT) AS ns
              FROM daily GROUP BY dow)
      )
      SELECT n AS n_days, s AS mk_s,
             round((CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
                   / sqrt(CAST(v18 AS DOUBLE) / 18.0), 6) AS z,
             CAST(s <> 0 AND
                  (CAST(abs(s) AS DECIMAL(38,0)) - 1)
                    * (CAST(abs(s) AS DECIMAL(38,0)) - 1) * 180000
                  > 38415 * CAST(v18 AS DECIMAL(38,0)) AS INTEGER)
               AS significant
      FROM sa CROSS JOIN va
    """))

  /** Rolling-origin backtest of three naive forecasters over daily
    * revenue — yesterday (lag-1), last week (lag-7), and the prior-7
    * moving average — the baseline ladder any real forecaster must
    * beat. Evaluation rows need full history (7 prior observations);
    * every error is an exact integer (the MA error scales to |7v − Σ₇|,
    * clearing the division), per-row MAPE terms quantize once to nano,
    * and each MAE/MAPE is one final division. Windows run over the
    * calendar-bounded daily frame. */
  val backtestNaive = QuerySpec(
    "q_backtest_naive",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.orderBy("t")
      val w7 = w.rowsBetween(-7, -1)
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("v"))
      val d38 = "decimal(38,0)"
      val feats = daily
        .withColumn("l1", lag("v", 1).over(w))
        .withColumn("l7", lag("v", 7).over(w))
        .withColumn("s7", sum("v").over(w7))
        .withColumn("c7", count("v").over(w7))
        .filter(col("l7").isNotNull && col("c7") === 7)
      val scored = feats.select(col("v"),
        abs(col("v") - col("l1")).as("e1"),
        abs(col("v") - col("l7")).as("e7"),
        abs(col("v") * 7 - col("s7")).as("em"))
        .withColumn("p1", expr(
          "CAST(round(CAST(e1 AS DOUBLE) / CAST(v AS DOUBLE) * 1e9) AS BIGINT)"))
        .withColumn("p7", expr(
          "CAST(round(CAST(e7 AS DOUBLE) / CAST(v AS DOUBLE) * 1e9) AS BIGINT)"))
        .withColumn("pm", expr(
          "CAST(round(CAST(em AS DOUBLE) / (7.0 * CAST(v AS DOUBLE)) * 1e9) AS BIGINT)"))
      scored.agg(count(lit(1)).as("n_eval"),
          sum(col("e1").cast(d38)).as("s1"),
          sum(col("e7").cast(d38)).as("s7e"),
          sum(col("em").cast(d38)).as("sm"),
          sum("p1").as("sp1"), sum("p7").as("sp7"), sum("pm").as("spm"))
        .select(col("n_eval"),
          round(col("s1").cast("double") /
            (col("n_eval").cast("double") * 100.0), 2).as("mae_lag1_usd"),
          round(col("sp1").cast("double") /
            (col("n_eval").cast("double") * 1e9), 6).as("mape_lag1"),
          round(col("s7e").cast("double") /
            (col("n_eval").cast("double") * 100.0), 2).as("mae_lag7_usd"),
          round(col("sp7").cast("double") /
            (col("n_eval").cast("double") * 1e9), 6).as("mape_lag7"),
          round(col("sm").cast("double") /
            (col("n_eval").cast("double") * 700.0), 2).as("mae_ma7_usd"),
          round(col("spm").cast("double") /
            (col("n_eval").cast("double") * 1e9), 6).as("mape_ma7"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS v
        FROM orders GROUP BY 1
      ),
      feats AS (
        SELECT t, v,
               lag(v, 1) OVER (ORDER BY t) AS l1,
               lag(v, 7) OVER (ORDER BY t) AS l7,
               CAST(sum(v) OVER (ORDER BY t ROWS BETWEEN 7 PRECEDING
                 AND 1 PRECEDING) AS BIGINT) AS s7,
               count(v) OVER (ORDER BY t ROWS BETWEEN 7 PRECEDING
                 AND 1 PRECEDING) AS c7
        FROM daily
      ),
      kept AS (SELECT * FROM feats WHERE l7 IS NOT NULL AND c7 = 7),
      scored AS (
        SELECT v,
               abs(v - l1) AS e1, abs(v - l7) AS e7,
               abs(v * 7 - s7) AS em,
               CAST(round(CAST(abs(v - l1) AS DOUBLE) / CAST(v AS DOUBLE)
                 * 1e9) AS BIGINT) AS p1,
               CAST(round(CAST(abs(v - l7) AS DOUBLE) / CAST(v AS DOUBLE)
                 * 1e9) AS BIGINT) AS p7,
               CAST(round(CAST(abs(v * 7 - s7) AS DOUBLE)
                 / (7.0 * CAST(v AS DOUBLE)) * 1e9) AS BIGINT) AS pm
        FROM kept
      )
      SELECT CAST(count(*) AS BIGINT) AS n_eval,
             round(CAST(sum(CAST(e1 AS DECIMAL(38,0))) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 100.0), 2) AS mae_lag1_usd,
             round(CAST(sum(p1) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS mape_lag1,
             round(CAST(sum(CAST(e7 AS DECIMAL(38,0))) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 100.0), 2) AS mae_lag7_usd,
             round(CAST(sum(p7) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS mape_lag7,
             round(CAST(sum(CAST(em AS DECIMAL(38,0))) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 700.0), 2) AS mae_ma7_usd,
             round(CAST(sum(pm) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS mape_ma7
      FROM scored
    """))

  val all: Seq[QuerySpec] = Seq(
    streaks, transitions, gapFill, linreg, mad, sparseCosine, linregMulti,
    rollingMedian, acf, cusum, kaplanMeier, seasonalProfile, saxMotifs,
    bursts, ewma, holt, stlDecompose, theilSen, holtWinters,
    markovStationary, matrixProfile, nelsonAalen, logRank, permEntropy,
    binarySegment, hurst, entropyRate, kendallTau, ljungBox, conformal,
    ridgePath, seasonalMk, backtestNaive)
}
