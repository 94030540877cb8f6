package graft.tools

import graft.Sessions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan,
  TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}

/** Registry-wide physical-plan audit (institutionalizing the r7 judge's
  * one-off sweep): build EVERY registered query at the given SF and flag
  * any plan containing a CartesianProduct, or a BroadcastNestedLoopJoin
  * whose build side is not provably bounded, outside the sanctioned
  * allowlists. Exits nonzero on a hit, so the sweep is scriptable as a
  * gate.
  *
  * AQE is disabled for the sweep session: the audit walks the STATIC
  * physical tree (AdaptiveSparkPlanExec is a leaf that would hide the
  * join nodes), and AQE can only improve a join at runtime, never
  * introduce a cartesian the static plan lacks.
  *
  * The streaming replays are skipped: building one EXECUTES its stream
  * (the returned frame is the memory-sink table, whose "plan" is a
  * LocalTableScan — nothing to audit; the streaming plans themselves are
  * spec- and hash-gated separately).
  *
  * Usage: runMain graft.tools.PlanSweep [sfDir]
  */
object PlanSweep {
  // q_cross_join IS the sanctioned cartesian demonstration.
  private val CartesianAllowed = Set("q_cross_join")
  // BNLJ builds that are bounded by DATA CONTRACT rather than by a
  // structural row bound [[boundedBuild]] can prove. Each entry was
  // audited by reading the actual build subtree (r9); the reason strings
  // say what bounds it. Anything NOT here with an unprovable build gets
  // flagged — a non-equi join regression over corpus-sized sides cannot
  // hide behind this list.
  private val BnljAllowed = Map(
    "q_cross_join" -> "the sanctioned cartesian demo (BNLJ when a side broadcasts)",
    "q_batch_ann" -> "probe batch: vec_id < 8 literal filter, explicit broadcast",
    "q_hard_negatives" -> "anchor batch: vec_id < 20 literal filter, explicit broadcast",
    "q_knn_classify" -> "query batch: vec_id < 10 literal filter, explicit broadcast",
    "q_kendall" -> "all-pairs over the aggregated time series (quadratic-over-series IS the statistic; series ≤ bucket count)",
    "q_theil_sen" -> "pairwise slopes over the aggregated series (same bound as q_kendall)",
    "q_matrix_profile" -> "window-vector pair join; windows ≤ series length by construction",
    "q_damerau" -> "edit-distance self-join over DISTINCT p_name values (the dictionary scan, SURVEY §17)",
    "q_isotonic" -> "10-bin histogram range joins: bin = least(floor(score/w), 9), domain ≤ 10",
    "q_conformal" -> "single quantile-row pick: equality on a row_number column selects ≤ 1 row",
    "q_kmv_overlap" -> "per-segment KMV sketch rows: literal segment table × scalar sketch aggregates",
    "q_vocab_coverage" -> "vocabulary prefix rows (rk <= k) over the bounded vocab table")
  private val SkipPrefixes = Seq("q_stream_")

  /** Upper bound on the number of DISTINCT values an expression can take
    * when every leaf value is a literal (a CASE/If bucket tree — the
    * [[graft.ops.Ranks.bucketOf]] shape). None = unbounded/unknown. */
  private def litDomain(e: Expression): Option[Long] = e match {
    case _: org.apache.spark.sql.catalyst.expressions.Literal => Some(1L)
    case a: org.apache.spark.sql.catalyst.expressions.Alias =>
      litDomain(a.child)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      litDomain(c.child)
    case cw: org.apache.spark.sql.catalyst.expressions.CaseWhen =>
      val leaves = cw.branches.map(_._2) ++ cw.elseValue.toSeq
      leaves.foldLeft(Option(0L)) { (acc, b) =>
        for (x <- acc; y <- litDomain(b)) yield x + y }
    case i: org.apache.spark.sql.catalyst.expressions.If =>
      for (a <- litDomain(i.trueValue); b <- litDomain(i.falseValue))
        yield a + b
    case _ => None
  }

  /** True when the BNLJ's build side is structurally bounded:
    *  - a grouping-free aggregate (exactly 1 row), or
    *  - a grouped aggregate whose every grouping key resolves (through
    *    the subtree's Alias definitions) to a literal-leaf CASE/If tree
    *    — the bucket-histogram attach, ≤ Π(domains) ≤ 1024 rows, or
    *  - a ≤32-row limit/TakeOrdered or literal table,
    * under any chain of unary wrappers (BroadcastExchange, Project,
    * WholeStageCodegen, …) or a ReusedExchange pointing at one. This is
    * the scalar/histogram-attach pattern — crossJoin(broadcast(bounded))
    * — that is allowed everywhere. NOT provable here (and therefore
    * flagged unless query-allowlisted): builds bounded only by a
    * selective data filter, and grouped aggregates over unbounded keys. */
  private[graft] def boundedBuild(root: SparkPlan): Boolean = {
    lazy val aliases: Map[Long, Expression] = root.collect { case p => p }
      .flatMap(_.expressions)
      .flatMap(_.collect {
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          al.exprId.id -> al.child
      }).toMap
    def domain(e: Expression, depth: Int): Option[Long] =
      litDomain(e).orElse(e match {
        case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if depth < 8 =>
          aliases.get(ar.exprId.id).flatMap(domain(_, depth + 1))
        case _ => None
      })
    def walk(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.foldLeft(Option(1L)) { (acc, g) =>
            for (x <- acc; y <- domain(g, 0)) yield x * y
          }.exists(_ <= 1024L)
      case t: TakeOrderedAndProjectExec => t.limit <= 32
      case l: LocalTableScanExec => l.rows.lengthCompare(32) <= 0
      case g: org.apache.spark.sql.execution.GlobalLimitExec => g.limit <= 32
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        walk(r.child)
      // nested scalar-attach: a cross of two bounded builds is bounded
      // (the q_bm25 shape — count × avgdl assembled before the corpus
      // cross)
      case b: BroadcastNestedLoopJoinExec => walk(b.left) && walk(b.right)
      case u: UnaryExecNode => walk(u.child)
      case _ => false
    }
    walk(root)
  }

  // collectWithSubqueries, not collect: TreeNode.collect walks children
  // only, and a CartesianProduct hiding inside a scalar/IN subquery's
  // physical plan (rendered via innerChildren, invisible to collect)
  // must not pass the gate silently
  private def audit(plan: SparkPlan): Seq[String] = plan.collectWithSubqueries {
    case _: CartesianProductExec => Seq("CartesianProduct")
    case j: BroadcastNestedLoopJoinExec =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      }
      if (boundedBuild(build)) Nil
      else Seq("BroadcastNestedLoopJoin(unbounded build)")
  }.flatten

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.start(
      Sessions.builder().config("spark.sql.adaptive.enabled", "false"))
    var flagged = List.empty[String]
    var built = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!SkipPrefixes.exists(name.startsWith)) {
        try {
          val hits = audit(fn(spark, sfDir).queryExecution.executedPlan)
          built += 1
          hits.foreach { h =>
            val allowed =
              (h == "CartesianProduct" && CartesianAllowed(name)) ||
                (h.startsWith("BroadcastNestedLoopJoin") &&
                  BnljAllowed.contains(name))
            if (!allowed) {
              flagged ::= s"$name: $h"
              System.err.println(s"[plansweep] FLAG $name: $h")
            }
          }
        } catch {
          case e: Throwable =>
            flagged ::= s"$name: build error ${e.getMessage.take(100)}"
            System.err.println(s"[plansweep] FLAG $name: ${e.getMessage}")
        }
      }
    }
    println(s"[plansweep] built $built plans, ${flagged.size} flagged")
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
