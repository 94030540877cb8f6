package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", IntegerType)))

  test("csv round-trip preserves rows; partitionBy lays out directories") {
    val dir = Files.createTempDirectory("sinks").toString
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "n")
    Sinks.writeCsv(df, s"$dir/csv", partitionBy = Seq("k"))
    assert(new java.io.File(s"$dir/csv/k=a").exists())
    val back = Sinks.readCsv(spark, s"$dir/csv", StructType(Seq(StructField("n", IntegerType))))
    assert(back.count() === 3)

    Sinks.writeParquet(df, s"$dir/pq", partitionBy = Seq("k"))
    val pq = spark.read.parquet(s"$dir/pq")
    assert(pq.select(sum("n")).head().getLong(0) === 6L)
    // partition pruning: reading one partition dir touches only its rows
    assert(pq.filter(col("k") === "a").count() === 2)
  }

  test("csv round-trip distinguishes NULL from empty string") {
    // Spark's CSV defaults serialize BOTH NULL and '' as an empty field
    // and read both back as NULL — the silent lossy encode the
    // q_format_roundtrip gate caught on the hollow DegenGate corpus.
    // Sinks pins the \N null marker + quoted-"" empty so the two
    // round-trip losslessly.
    val dir = Files.createTempDirectory("sinks").toString
    val df = Seq((1, Option("")), (2, Option.empty[String]), (3, Option("x")))
      .toDF("k", "s")
    Sinks.writeCsv(df, s"$dir/csv")
    val back = Sinks.readCsv(spark, s"$dir/csv", schemaOf)
      .orderBy("k").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getString(1))))
    assert(back.toSeq === Seq((1, Some("")), (2, None), (3, Some("x"))))
  }

  private val schemaOf = StructType(Seq(
    StructField("k", IntegerType), StructField("s", StringType)))

  test("partitioned parquet read plans a PartitionFilter, not a data filter") {
    val dir = Files.createTempDirectory("sinks").toString
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "n")
    Sinks.writeParquet(df, s"$dir/pq", partitionBy = Seq("k"))
    val plan = spark.read.parquet(s"$dir/pq")
      .filter(col("k") === "a")
      .queryExecution.executedPlan.toString
    // the k='a' predicate must prune directories at planning time —
    // it shows up under PartitionFilters, and never as a post-scan Filter
    assert(plan.contains("PartitionFilters: [isnotnull(k"), plan)
  }

  test("orc and json-lines round-trips preserve rows and types") {
    val dir = Files.createTempDirectory("sinks").toString
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "n")

    Sinks.writeOrc(df, s"$dir/orc", partitionBy = Seq("k"))
    val orc = Sinks.readOrc(spark, s"$dir/orc")
    assert(orc.select(sum("n")).head().getLong(0) === 6L)
    assert(orc.filter(col("k") === "b").select("n").head().getInt(0) === 2)

    Sinks.writeJson(df, s"$dir/json")
    val back = Sinks.readJson(spark, s"$dir/json", StructType(Seq(
      StructField("k", StringType), StructField("n", IntegerType))))
    assert(back.orderBy("k").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      === Seq(("a", 1), ("b", 2), ("c", 3)))
  }

  test("parquet schema evolution: mergeSchema unions columns, old files backfill NULL") {
    // the ingest reality at 100 TB: yesterday's files lack the column
    // added today. mergeSchema reads both generations as one table —
    // new columns NULL-backfill on old files; without the flag the read
    // keeps a single footer's schema instead of the union.
    val dir = Files.createTempDirectory("evolve").toString
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/t/gen=1")
    Seq((2L, "y", 9L)).toDF("id", "a", "b").write.parquet(s"$dir/t/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.sorted.toSeq === Seq("a", "b", "gen", "id"))
    val rows = merged.select("id", "b").orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.toSeq === Seq((1L, None), (2L, Some(9L))))
    // filters on the evolved column still push down and skip old files
    assert(merged.filter(col("b") === 9L).count() === 1)
  }
}
