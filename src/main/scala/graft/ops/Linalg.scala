package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed sparse linear algebra over COO (coordinate-list) frames —
  * the relational form of SpGEMM: a matrix is rows (i, j, v), absent
  * cells are zero, and multiplication is a join + aggregate, which is
  * exactly how engine-native linear algebra should look (the
  * feature-co-occurrence, graph-reachability-count, and attention-mask
  * workloads a training pipeline actually runs at matrix sizes no
  * driver can hold).
  *
  * Scale shape (100 TB): the contraction join hash-partitions both
  * operands on the inner dimension k — ONE shuffle each — and the
  * product aggregate shuffles on (i, j) with map-side combine, so the
  * peak state is output cells, never the k-fan-out. Per-k work is
  * nnz_A(k)·nnz_B(k): a dense inner slice (hot k) is ordinary join-key
  * skew — AQE skew-join splits it, or pre-salt k (the q_skew_join
  * precedent). The hypercube/block replication scheme trades that skew
  * bound for √p-fold input replication; join-on-k is the right default
  * until a single k's fan-out dominates.
  *
  * Values are BIGINT: integer matrices multiply EXACTLY (portable to
  * any oracle); for floating matrices the products need the sorted
  * segment-fold discipline of [[Graph.pageRank]] before sums are
  * replayable.
  */
object Linalg {

  /** C = A·B. `a` must carry (iCol, kCol, vCol), `b` (kCol2, jCol, wCol);
    * output (i, j, c) with c = Σ_k a_ik·b_kj, only nonzero-supported
    * cells present (an all-zero sum still appears if supports overlap —
    * relational semantics report computed cells, not value≠0). Inputs
    * need not be pre-aggregated: duplicate (i,k) entries sum into the
    * product exactly as they would after a pre-combine. */
  def spgemm(a: DataFrame, iCol: String, kCol: String, vCol: String,
      b: DataFrame, kCol2: String, jCol: String, wCol: String): DataFrame = {
    val left = a.select(col(iCol).as("i"), col(kCol).as("k"),
      col(vCol).cast("long").as("v"))
    val right = b.select(col(kCol2).as("k"), col(jCol).as("j"),
      col(wCol).cast("long").as("w"))
    left.join(right, "k")
      .groupBy("i", "j")
      .agg(sum(col("v") * col("w")).as("c"))
  }
}
