package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: Bench, Verify, every tool main and the
  * test suites start from [[builder]] and add only the confs that make
  * them different (replay slices, FAIR scheduling, forced spills, cluster
  * launch, AQE off), then [[start]] it.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets the local worker threads and the
  * shuffle width. */
object Sessions {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A builder carrying the five confs every session shares. */
  def builder(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Get or create the session and set the one log level. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stop `spark` and forget it, so the next [[start]] builds a new
    * session from its own builder's confs. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
