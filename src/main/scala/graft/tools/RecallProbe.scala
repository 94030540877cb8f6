package graft.tools

import graft.Sessions
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Dev tool: measure the ACTUAL recall of the approximate similarity
  * paths (IVF, BRP-LSH, PQ, IVF-PQ) against their exact twins at a given
  * SF — the numbers the q_similarity_* verdict bars must trail with
  * stated headroom (VERDICT r7 item 7).
  * Usage: runMain graft.tools.RecallProbe <sfDir>
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.start()
    val emb = graft.Tables.embeddings(spark, sfDir)
    val probeIds = (0L until 8L)
    def exactCosTop(probe: Seq[Double], ex: Long): Set[Long] =
      Similarity.bruteForceTopK(emb, "vec_id", probe, 20, Some(ex))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    def exactL2Top(probe: Seq[Double], ex: Long): Set[Long] = {
      val p = array(probe.map(lit): _*)
      emb.filter(col("vec_id") =!= ex)
        .withColumn("d2", aggregate(
          zip_with(Similarity.asDouble(col("embedding")), p,
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x))
        .orderBy(col("d2").asc, col("vec_id").asc).limit(20)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val (assigned, centroids) = Similarity.ivfAssign(spark, emb, 16)
    assigned.cache().count()
    val books = Similarity.pqTrain(spark, emb, m = 8, k = 16)
    val encoded = Similarity.pqEncode(spark, assigned, books).cache()
    encoded.count()
    def recallRow(name: String, f: (Seq[Double], Long) => Set[Long],
        exact: (Seq[Double], Long) => Set[Long]): Unit = {
      val rs = probeIds.map { id =>
        val probe = Similarity.probeVector(emb, "vec_id", id)
        val ex = exact(probe, id)
        (ex & f(probe, id)).size.toDouble / ex.size
      }
      println(f"[recall] $name%-8s min=${rs.min}%.3f mean=${rs.sum / rs.size}%.3f per-probe=${rs.map(r => f"$r%.2f").mkString(",")}")
    }
    recallRow("ivf", (p, id) =>
      Similarity.ivfTopK(assigned, centroids, "vec_id", p, 20, 8, Some(id))
        .select("vec_id").collect().map(_.getLong(0)).toSet, exactCosTop)
    recallRow("lsh", (p, id) =>
      Similarity.lshTopK(spark, emb, "vec_id", p, 20, Some(id))
        .select("vec_id").collect().map(_.getLong(0)).toSet, exactL2Top)
    recallRow("pq", (p, id) =>
      Similarity.pqTopK(encoded, books, "vec_id", p, 20, 512, Some(id))
        .select("vec_id").collect().map(_.getLong(0)).toSet, exactL2Top)
    // shortlist 256 = the q_ivf_pq operating point
    recallRow("ivfpq", (p, id) =>
      Similarity.ivfPqTopK(encoded, centroids, books, "vec_id", p, 20, 8,
        256, Some(id)).select("vec_id").collect().map(_.getLong(0)).toSet,
      exactL2Top)
    spark.stop()
  }
}
