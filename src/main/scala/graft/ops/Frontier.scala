package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline, both dimensions maximized) — the
  * data-selection primitive "keep the documents no other document beats
  * on BOTH axes" (e.g. length vs lexical diversity): a document survives
  * iff no other has x' ≥ x and y' ≥ y with at least one strict.
  *
  * The classic single-machine algorithm — sort by x descending, keep
  * rows whose y strictly exceeds the running maximum — hides a GLOBAL
  * sort. The distributed form here never builds one:
  *
  *   1. per-x reduction: only the best-y row per x value can survive
  *      (groupBy x, max(struct(y, −id)) — map-side combinable, output
  *      bounded by |distinct x|, and ties resolve to the smallest id
  *      deterministically);
  *   2. candidates are range-BUCKETED on x by the same literal-cutpoint
  *      binary-search CASE tree [[Ranks]] uses (layout-independent
  *      deterministic sample, codegen'd assignment);
  *   3. the cross-bucket suffix-max (best y in any STRICTLY higher
  *      bucket — higher bucket ⇒ strictly higher x, because equal keys
  *      share a bucket) is a triangular broadcast join over ≤ nParts
  *      rows — the [[Ranks.globalRank]] offsets move, transposed;
  *   4. the within-bucket suffix is a `Window.partitionBy(bucket)`
  *      running max — partition-LOCAL, every bucket in parallel, no
  *      empty-partition-spec Window anywhere in the plan.
  *
  * keep ⇔ y > max(cross-bucket suffix, within-bucket suffix). Equal to
  * the window form bit-for-bit, at any partition count.
  */
object Frontier {

  /** Frontier rows of `df` maximizing (`xCol`, `yCol`), both LONG-typed
    * and non-null (caller filters). `idCol` is the unique deterministic
    * tie-break and must exceed Long.MinValue (the min-id argmax negates
    * it, and −Long.MinValue overflows to itself — the TopKByKey caveat);
    * exactly one row per surviving x is returned, carrying the per-x
    * representative (max y, then min id). */
  def paretoMax(df: DataFrame, idCol: String, xCol: String, yCol: String,
      nParts: Int = 32): DataFrame = {
    // cached: the cutpoint sample below runs a count + a collect over
    // this reduction before the bmax and final branches read it again —
    // uncached, the groupBy shuffle (and everything upstream) runs 4×
    val cand = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol))
      .agg(max(struct(col(yCol), (lit(0L) - col(idCol)).as("__pf_nid")))
        .as("__pf_best"))
      .select(col(xCol), col(s"__pf_best.$yCol").as(yCol),
        (lit(0L) - col("__pf_best.__pf_nid")).as(idCol))
      .cache()
    val bounds = Ranks.sampleCutpoints(cand, col(xCol), nParts)
    val keyed = cand.withColumn("__pf_bkt", Ranks.bucketOf(col(xCol), bounds))
    val bmax = keyed.groupBy("__pf_bkt").agg(max(col(yCol)).as("__pf_bmax"))
    val above = bmax.select(col("__pf_bkt").as("__pf_abkt"),
      col("__pf_bmax").as("__pf_amax"))
    // suffix max from strictly HIGHER buckets; NULL (not a MinValue
    // sentinel) means "no higher bucket" — a sentinel would wrongly drop
    // a legitimate y = Long.MinValue frontier row
    val suffix = bmax
      .join(broadcast(above), col("__pf_abkt") > col("__pf_bkt"), "left")
      .groupBy("__pf_bkt")
      .agg(max("__pf_amax").as("__pf_smax"))
    val w = Window.partitionBy("__pf_bkt").orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // greatest() SKIPS nulls, so a row with no dominator on one side is
    // judged against the other alone; with neither (the global max-x
    // row in the top bucket) the comparison is NULL and the coalesce
    // keeps the row
    keyed
      .join(broadcast(suffix), "__pf_bkt")
      .withColumn("__pf_rmax", max(col(yCol)).over(w))
      .filter(coalesce(
        col(yCol) > greatest(col("__pf_smax"), col("__pf_rmax")),
        lit(true)))
      .select(idCol, xCol, yCol)
  }
}
