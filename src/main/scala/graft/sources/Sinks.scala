package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sources/sinks surface (SURVEY §2a S2/S6/S7). Reads are schema-first
  * (explicit StructType — never inferSchema's double scan); writes go
  * straight from executors (the reference funnels everything through the
  * driver via `toPandas().to_csv`, untitled.py:241 — the anti-pattern this
  * module exists to replace).
  *
  * Scale: `partitionBy` columns become directory partitions — the layout
  * that makes downstream partition pruning free; writer parallelism is the
  * DataFrame's partitioning (one file per task per partition-value).
  */
object Sinks {

  /** The CSV null marker: with Spark's defaults BOTH a NULL and an empty
    * string serialize to an empty field and read back as NULL — a silent
    * lossy encode the q_format_roundtrip gate caught on the hollow
    * DegenGate corpus. Writing NULL as the MySQL-style `\N` and '' as a
    * quoted `""` keeps the two distinguishable through a round-trip.
    * (Residual text-format ambiguity: a data value that IS the literal
    * two-character string \N would read back as NULL — inherent to any
    * in-band marker; use parquet/ORC where that matters.) */
  private val CsvNullMarker = "\\N"

  /** S7 modern form: header CSV, executor-parallel. NULL/'' round-trip
    * losslessly via [[CsvNullMarker]]. */
  def writeCsv(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("header", true)
      .option("nullValue", CsvNullMarker).option("emptyValue", "\"\"")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }

  /** Parquet sink, optionally hive-style partitioned. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S2/S6 modern form: explicit-schema CSV read. Decodes
    * [[CsvNullMarker]] to NULL; a quoted empty field stays '' (an
    * unquoted empty field — e.g. a foreign writer's NULL — still reads
    * as NULL, the CSV convention). */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", true).option("nullValue", CsvNullMarker)
      .schema(schema).csv(path)

  /** ORC sink — the columnar alternative where the surrounding stack is
    * Hive/ORC-native; same pushdown/pruning properties as parquet. */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines sink/source — the interchange format for document/event
    * corpora. Read is schema-first like CSV (inference would double-scan
    * and type-drift across files). */
  def writeJson(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
  }

  def readJson(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
