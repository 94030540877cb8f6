package graft.ops

import graft.SparkSpec

class LinalgSpec extends SparkSpec {
  import spark.implicits._

  private def dense(n: Int, m: Int, coo: Seq[(Long, Long, Long)]): Array[Array[Long]] = {
    val d = Array.ofDim[Long](n, m)
    coo.foreach { case (i, j, v) => d(i.toInt)(j.toInt) += v }
    d
  }

  test("spgemm equals dense multiplication on random sparse matrices") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 8) {
      val (n, k, m) = (2 + rnd.nextInt(6), 2 + rnd.nextInt(6), 2 + rnd.nextInt(6))
      def coo(rows: Int, cols: Int, nnz: Int) = (1 to nnz).map { _ =>
        (rnd.nextInt(rows).toLong, rnd.nextInt(cols).toLong,
          (rnd.nextInt(9) - 4).toLong) // negatives too, and DUPLICATE cells
      }
      val ac = coo(n, k, n * k / 2 + 1)
      val bc = coo(k, m, k * m / 2 + 1)
      val da = dense(n, k, ac)
      val db = dense(k, m, bc)
      val got = Linalg.spgemm(
        ac.toDF("i", "k", "v"), "i", "k", "v",
        bc.toDF("k", "j", "w"), "k", "j", "w")
        .as[(Long, Long, Long)].collect()
        .map { case (i, j, c) => (i, j) -> c }.toMap
      // reference: every (i,j) whose supports overlap, including zero sums
      for (i <- 0 until n; j <- 0 until m) {
        val supported = (0 until k).exists(x =>
          ac.exists(e => e._1 == i && e._2 == x) &&
            bc.exists(e => e._1 == x && e._2 == j))
        val want = (0 until k).map(x => da(i)(x) * db(x)(j)).sum
        if (supported) assert(got((i.toLong, j.toLong)) === want)
        else assert(!got.contains((i.toLong, j.toLong)))
      }
    }
  }

  test("spgemm against the identity is the (aggregated) input") {
    val a = Seq((0L, 0L, 2L), (0L, 1L, 3L), (1L, 2L, 5L), (0L, 0L, 4L))
      .toDF("i", "k", "v")
    val id = Seq((0L, 0L, 1L), (1L, 1L, 1L), (2L, 2L, 1L)).toDF("k", "j", "w")
    val got = Linalg.spgemm(a, "i", "k", "v", id, "k", "j", "w")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 0L, 6L), (0L, 1L, 3L), (1L, 2L, 5L)))
  }
}
