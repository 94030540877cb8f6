package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct sketch — the mergeable cardinality
  * sketch that, unlike HLL, supports SET INTERSECTION natively
  * (Beyer et al., "On Synopses for Distinct-Value Estimation Under
  * Multiset Operations", SIGMOD 2007). The sketch of a key set is its k
  * smallest hash values; the union sketch is the k smallest of the
  * concatenation (pure merge), and the Jaccard of two sets is estimated
  * by how much their sketches overlap INSIDE the union sketch — giving
  * |A∩B| ≈ ρ·|A∪B|, something no HLL union can answer.
  *
  * Derandomized the house way (Router.aresKey scaladoc): the "uniform"
  * hash is the first 12 hex digits of md5(salt + key) as a 48-bit
  * integer — bit-identical in any engine, so the sketch, the estimates,
  * and therefore the DuckDB oracle replay are all EXACT, not verdicts.
  * All estimator arithmetic is integer-only:
  *
  *   est(S)   = |S|                       when |S| < k  (sketch is S)
  *            = (k−1)·2⁴⁸ DIV (h₍k₎+1)   otherwise     (u₍k₎ ≈ k/n)
  *   est(A∩B) = ρ                         when |A∪B| < k (sketches exact)
  *            = ρ·est(A∪B) DIV k         otherwise
  *
  * where h₍k₎ is the kth smallest hash and ρ = |K_U ∩ K_A ∩ K_B|.
  * (k−1)·2⁴⁸ fits a BIGINT for k ≤ 2¹⁴ and `DIV` is exact integer
  * division in both engines — no float enters the compared output.
  *
  * Scale design: the sketch is built with the [[TopK]] bounded
  * AGGREGATE, not a window — partial aggregation reduces every map task
  * to a k-element buffer, so the shuffle carries k values per (task,
  * group) no matter how many billion keys a 100 TB segment holds. The
  * per-segment sketches themselves are single k-element rows; every
  * downstream combination (union, ρ, estimates) is arithmetic over
  * broadcast-sized data.
  */
object Kmv {

  /** 2⁴⁸ — the hash domain size; (k−1)·2⁴⁸ is the estimator numerator. */
  val HashDomain: Long = 281474976710656L

  /** 48-bit md5-derived hash of `key` — the KMV "uniform". Identical
    * expression text to the DuckDB replay's
    * `('0x' || substr(md5(salt || key), 1, 12))::BIGINT`. */
  def hash48(key: Column, salt: String = "kmv42:"): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 12),
      16, 10).cast("bigint")

  /** Aggregate a hash column into its k smallest values (ascending array)
    * plus the group's exact size — ONE pass, k-bounded partial buffers.
    * Usage: `df.groupBy(seg).agg(Kmv.sketchAgg(k, col("h")): _*)` is not
    * expressible (agg needs first + rest), so callers splice the two
    * columns directly. */
  def sketchCols(k: Int, h: Column): Seq[Column] = {
    val topk = TopK.topK(k)
    Seq(topk(lit(0L) - h, h).as("hs"), count(lit(1)).as("n"))
  }

  /** Distinct-count estimate from a sketch (`hs` ascending k-array, `n`
    * exact size) — integer-only, exact replay. `hsCol`/`nCol` are COLUMN
    * NAMES (the DIV arithmetic needs `expr`). */
  def estimate(k: Int, hsCol: String, nCol: String): Column = {
    val num = (k - 1).toLong * HashDomain
    when(col(nCol) < k, col(nCol))
      .otherwise(expr(
        s"CAST($num AS BIGINT) DIV (element_at($hsCol, $k) + 1)"))
  }
}
