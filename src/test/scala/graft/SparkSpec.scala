package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite ([[Sessions]] confs, four threads
  * and four shuffle partitions whatever `SPARK_GRAFT_CPUS` says).
  *
  * `local[4, 2]` (maxFailures = 2): task retries are ON, as on any real
  * cluster. RetrySpec injects attempt-0 task failures to prove the
  * seeded-sample / MinHash / ANN-encode paths are retry-deterministic;
  * with the default local maxFailures = 1 the injected failure would
  * abort the job instead of re-attempting. Suites that never fail a
  * task are unaffected.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.start(
    Sessions.builder("local[4, 2]", 4).appName(getClass.getSimpleName))

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  val Sf001 = "/root/testdata/sf0.001"
}
