package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality and planner-diagnostic operators — the "expectations"
  * layer (Deequ/Great-Expectations shape) plus the per-key histogram
  * arithmetic a planner uses to size a join before running it.
  *
  * Everything reports exact integer counts; a DQ report whose numbers an
  * auditor can't reproduce is worse than none.
  */
object Quality {

  /** Evaluate many single-table rules in ONE scan: each rule is a boolean
    * violation predicate; the whole block compiles to one conditional
    * aggregate (map-side partial → single reduced row) that is then
    * unpivoted to (check, n_violations, n_checked) rows. Adding a rule
    * adds a column to the aggregate, never a pass over the data.
    */
  /** The rule set as aggregate columns: one row count plus one
    * conditional violation sum per rule (NULL predicates count as
    * non-violations — `when` takes the otherwise branch). */
  def ruleAggs(checks: Seq[(String, Column)],
      countName: String, prefix: String): Seq[Column] =
    count(lit(1)).as(countName) +:
      checks.map { case (nm, viol) =>
        sum(when(viol, 1L).otherwise(0L)).as(s"$prefix$nm")
      }

  def checkBlock(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    // explode(array()) of zero structs types as array<null> and the
    // `select("r.*")` fails ANALYSIS — reject the misuse loudly instead.
    require(checks.nonEmpty, "checkBlock needs at least one rule")
    val aggs = ruleAggs(checks, "__n", "__v_")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = checks.map { case (nm, _) =>
      struct(lit(nm).as("check"), col(s"__v_$nm").as("n_violations"),
        col("__n").as("n_checked"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Referential-integrity rule as the same (check, violations, checked)
    * row: children whose `childKey` has no parent. The anti-join is the
    * exact-count form; at 100 TB the cheap first pass is a bloom probe
    * (see q_bloom_join) with this as the confirmation query.
    */
  def orphanCheck(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val total = child.agg(count(lit(1)).as("n_checked"))
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
        "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    orphans.crossJoin(total)
      .select(lit(name).as("check"), col("n_violations"), col("n_checked"))
  }

  /** Exact equi-join cardinality from per-side key histograms:
    * |A ⋈ B| = Σ_k cntA(k)·cntB(k). The histograms are one aggregate per
    * side and their join is key-cardinality-sized — the data rows never
    * join. This is the number a planner needs to choose broadcast vs
    * shuffle BEFORE paying for the join; computing it costs two
    * aggregates, not the join itself.
    */
  def joinSizeByHistogram(a: DataFrame, aKey: String,
      b: DataFrame, bKey: String): DataFrame = {
    val ha = a.groupBy(col(aKey).as("__k")).agg(count(lit(1)).as("__ca"))
    val hb = b.groupBy(col(bKey).as("__k")).agg(count(lit(1)).as("__cb"))
    ha.join(hb, "__k")
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L))
        .as("predicted_rows"))
  }

  /** Snapshot diff — the inverse of [[Upsert.merge]]: classify every key
    * of two same-schema snapshots as added / removed / changed /
    * unchanged. One full-outer join on the key; the row payloads travel
    * as single structs so the change test is one null-safe struct
    * comparison, column-count-independent.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val dataCols = a.columns.filterNot(_ == key)
    require(b.columns.sorted.sameElements(a.columns.sorted),
      "snapshotDiff requires identical schemas")
    def packed(df: DataFrame, side: String) =
      df.select(col(key), struct(dataCols.map(col): _*).as(side))
    packed(a, "__a").join(packed(b, "__b"), Seq(key), "full_outer")
      .withColumn("change_type",
        when(col("__a").isNull, lit("added"))
          .when(col("__b").isNull, lit("removed"))
          .when(col("__a") <=> col("__b"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col(key), col("change_type"))
  }

  /** Two-sided geometric noise (the DISCRETE Laplace — the geometric
    * mechanism of Ghosh–Roughgarden–Sundararajan 2009) with α = 1/2
    * (ε = ln 2), truncated at ±6, from a 48-bit uniform integer `v`:
    * P(X=0) = 1/3, P(X=±j) = (1/3)·2⁻ʲ. The inverse CDF is a HARDCODED
    * integer threshold ladder (round(F·2⁴⁸) literals — the q_bootstrap
    * Poisson-ladder discipline), so the draw is bit-reproducible and
    * engine-portable: no float, no transcendental, no RNG state. */
  def geometricNoise(v: Column): Column =
    when(v < 2932031007403L, -6L)
      .when(v < 5864062014805L, -5L)
      .when(v < 11728124029611L, -4L)
      .when(v < 23456248059221L, -3L)
      .when(v < 46912496118443L, -2L)
      .when(v < 93824992236885L, -1L)
      .when(v < 187649984473771L, 0L)
      .when(v < 234562480592213L, 1L)
      .when(v < 258018728651435L, 2L)
      .when(v < 269746852681045L, 3L)
      .when(v < 275610914695851L, 4L)
      .when(v < 278542945703253L, 5L)
      .otherwise(6L)

  /** Per-document DEFLATE compression ratio — the corpus-curation
    * signal the big web-scale filters compute (CCNet/Gopher family):
    * highly repetitive or templated text compresses far below prose
    * (boilerplate, keyword stuffing, generated spam), while
    * already-compressed or random payloads don't compress at all. One
    * zlib Deflater per PARTITION (reset per row, end()'d at
    * exhaustion — a Deflater holds native memory, so per-row allocation
    * would churn the native heap at corpus scale); executor-side
    * streaming iterator, the [[graft.multimodal.Multimodal]] batch
    * discipline. Ratio = deflated/raw over UTF-8 bytes; empty docs
    * report ratio 1.0. */
  def compressionStats(docs: DataFrame, id: String, textCol: String,
      level: Int = 6): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(id).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](8192)
        new Iterator[(Long, Long, Long, Double)] {
          override def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h) defl.end() // release native zlib state
            h
          }
          override def next(): (Long, Long, Long, Double) = {
            val (docId, text) = rows.next()
            val raw = (if (text == null) "" else text)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            defl.reset()
            defl.setInput(raw)
            defl.finish()
            var n = 0L
            while (!defl.finished()) n += defl.deflate(buf)
            val ratio = if (raw.isEmpty) 1.0 else n.toDouble / raw.length
            (docId, raw.length.toLong, n, ratio)
          }
        }
      }
      .toDF(id, "n_bytes", "deflate_bytes", "ratio")
  }
}
