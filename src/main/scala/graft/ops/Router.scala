package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic hash routing: assign every record a split/shard purely
  * from its key — md5 bucket compared lexicographically over the first
  * two hex chars (256 buckets; 'cc' = 204 ⇒ 79.7% train, 'e6' = 230 ⇒
  * 10.2% valid, rest test).
  *
  * One expression (q_hash_split): assignment is a pure function of the
  * key, which is exactly what makes it safe on a stream — no RNG state,
  * no reprocessing hazard (a replayed record lands in the same split),
  * and an engine-portable definition (md5 hex is identical everywhere).
  */
object Router {

  /** Split label for a key: train/valid/test ≈ 80/10/10. */
  def hashSplit(key: Column, salt: String = "split42:"): Column = {
    val bucket = substring(md5(concat(lit(salt), key.cast("string"))), 1, 2)
    when(bucket < "cc", "train")
      .when(bucket < "e6", "valid")
      .otherwise("test")
  }

  /** Efraimidis–Spirakis (2006) weighted-reservoir key: the top-k rows
    * by `ln(u)/w` (u a per-key uniform) are a weighted sample WITHOUT
    * replacement with inclusion probability ∝ weight — the
    * quality-weighted corpus subsampling step, derandomized the same
    * way [[hashSplit]] derandomizes splitting: u comes from md5 of the
    * record key, so membership is a pure function of (key, weight) —
    * stable across reruns, engines, repartitions, and incremental
    * arrivals, and the top-k is a TakeOrdered, never a global sort.
    *
    * u = (first 12 md5 hex digits + 1) / 2⁴⁸ ∈ (0, 1]: the integer is
    * < 2⁵³ so the double is exact, and the divisor is a power of two so
    * the division is exact — u is BIT-IDENTICAL in any engine. The ln
    * is the one transcendental: engines may differ in its last ulp, so
    * selection is only portable when adjacent keys around the cutoff
    * are farther apart than that (measured ≥ 5e-8 on the test corpora,
    * eleven orders above ulp noise — re-verify when re-salting). */
  def aresKey(key: Column, weight: Column, salt: String = "ws42:"): Column = {
    val v = conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 12),
      16, 10).cast("bigint")
    val u = (v + lit(1)) / lit(281474976710656.0) // 2^48
    // try_divide: a ZERO weight (degen hollow) means "never sample me" —
    // the NULL key sorts after every real key in both engines' DESC
    // order (A-RES's -inf limit), and an ANSI error would be wrong
    try_divide(log(u), weight)
  }
}
