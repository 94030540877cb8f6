package graft.tools

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Degenerate-corpus synthesizer (VERDICT r10 item 1).
  *
  * q_adamic_adar proved a query can pass ten rounds of healthy-fixture
  * gates while hiding an ANSI runtime landmine that only specific DATA
  * exposes (a division whose divisor domain is only guaranteed by the
  * healthy generator). This tool synthesizes adversarial mini-corpora —
  * same ten tables, same schemas, pathological content — for the
  * DegenGate sweep (tools/degen_gate.py): the FULL registry runs on each
  * corpus with the DuckDB oracle over the same parquet, and every query
  * must either hash-match or carry a documented domain-error expectation.
  *
  * Corpora (written as SINGLE parquet files so DuckDB's read_parquet
  * accepts the same path the driver uses):
  *  - `empty`    — every table 0 rows. Aggregates over nothing, empty
  *                 fixture builds, head()-on-empty probes.
  *  - `single`   — exactly 1 row per table, all keys/FKs rewritten to 0
  *                 (FK-consistent star). Windows over one row, variance
  *                 of one sample, splits of one element.
  *  - `constant` — distinct primary keys, every OTHER column one
  *                 constant value, every FK = 0: one mega-group on any
  *                 grouping column, zero variance (corr/stddev/slope
  *                 divisors), all-identical documents and vectors
  *                 (dedup/LSH/ANN tie storms).
  *  - `hollow`   — keys distinct, every other column alternating
  *                 NULL / "empty" (empty string, 0.0, epoch ts, zero
  *                 vector) by row parity: NULL-propagation, empty-string
  *                 tokenization, zero-norm cosine, malformed-JSON props.
  *
  * Usage: runMain graft.tools.DegenCorpus <baseSfDir> <outRoot>
  */
object DegenCorpus {

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (table, primary-key col, FK cols — all forced to 0 in the
    * degenerate star so every child row references the parent's 0 key). */
  private val Keys: Map[String, (String, Seq[String])] = Map(
    "region" -> ("r_regionkey", Nil),
    "nation" -> ("n_nationkey", Seq("n_regionkey")),
    "customer" -> ("c_custkey", Seq("c_nationkey")),
    "supplier" -> ("s_suppkey", Seq("s_nationkey")),
    "part" -> ("p_partkey", Nil),
    "orders" -> ("o_orderkey", Seq("o_custkey")),
    "lineitem" -> ("l_orderkey", Seq("l_partkey", "l_suppkey")),
    "events" -> ("event_id", Seq("user_id")),
    "documents" -> ("doc_id", Nil),
    "embeddings" -> ("vec_id", Nil))

  /** Rows per table in the `constant` corpus — enough to form real
    * groups/windows, small enough that a 362-query sweep stays fast. */
  private val ConstantRows: Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25, "customer" -> 100, "supplier" -> 10,
    "part" -> 100, "orders" -> 100, "lineitem" -> 200, "events" -> 200,
    "documents" -> 100, "embeddings" -> 100)

  private val HollowRows = 60

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_degen")
    val spark = Sessions.start()

    Tables.foreach { t =>
      val df = spark.read.parquet(s"$base/$t.parquet")
      writeSingle(df.limit(0), s"$outRoot/empty/$t.parquet")
      writeSingle(singleRow(df, t), s"$outRoot/single/$t.parquet")
      writeSingle(constant(spark, df, t), s"$outRoot/constant/$t.parquet")
      writeSingle(hollow(spark, df, t), s"$outRoot/hollow/$t.parquet")
      println(s"[degen] $t: empty/single/constant/hollow written")
    }
    spark.stop()
  }

  /** The min-key row with every key/FK rewritten to 0 — a one-row,
    * FK-consistent star. */
  private def singleRow(df: DataFrame, t: String): DataFrame = {
    val (pk, fks) = Keys(t)
    val one = df.orderBy(df.columns.map(col): _*).limit(1)
    (pk +: fks).foldLeft(one) { (d, k) =>
      d.withColumn(k, lit(0).cast(d.schema(k).dataType))
    }
  }

  /** K rows: primary key 0..K-1, FKs 0, every other column the min-key
    * row's value — one mega-group, zero variance, identical payloads. */
  private def constant(spark: SparkSession, df: DataFrame,
      t: String): DataFrame = {
    val (pk, fks) = Keys(t)
    val k = ConstantRows(t)
    val tpl = singleRow(df, t)
    val ids = spark.range(k).toDF("__id")
    val crossed = tpl.crossJoin(ids)
    val withPk = crossed.withColumn(pk,
      col("__id").cast(df.schema(pk).dataType))
    // lineitem's composite key: vary l_linenumber too so (okey, line)
    // stays a realistic composite while l_orderkey forms the mega-group
    val keyed =
      if (t == "lineitem")
        withPk.withColumn(pk, lit(0).cast(df.schema(pk).dataType))
          .withColumn("l_linenumber",
            col("__id").cast(df.schema("l_linenumber").dataType))
      else withPk
    keyed.select(df.columns.map(col): _*)
  }

  /** Keys distinct; every other column alternates by row parity between
    * NULL and the type's "empty" value (empty string, 0, epoch
    * timestamp, zero vector). */
  private def hollow(spark: SparkSession, df: DataFrame,
      t: String): DataFrame = {
    import org.apache.spark.sql.types._
    val (pk, fks) = Keys(t)
    val ids = spark.range(HollowRows).toDF("__id")
    val even = col("__id") % 2 === 0
    val cols = df.schema.fields.map { f =>
      val c =
        if (f.name == pk) col("__id").cast(f.dataType)
        else if (fks.contains(f.name)) lit(0).cast(f.dataType)
        else f.dataType match {
          case StringType =>
            when(even, lit("")).otherwise(lit(null)).cast(f.dataType)
          case DoubleType | FloatType | IntegerType | LongType =>
            when(even, lit(0)).otherwise(lit(null)).cast(f.dataType)
          case TimestampType | TimestampNTZType =>
            // NTZ included: pyarrow writes tz-less timestamps, which
            // Spark 4 infers as TIMESTAMP_NTZ on read
            when(even, lit("1970-01-01 00:00:00").cast(f.dataType))
              .otherwise(lit(null)).cast(f.dataType)
          case ArrayType(FloatType, _) =>
            // zero vector of the base corpus's true dimension
            when(even, array_repeat(lit(0.0f), vectorDim(df)))
              .otherwise(lit(null)).cast(f.dataType)
          case _ => lit(null).cast(f.dataType)
        }
      c.as(f.name)
    }
    ids.select(cols.toIndexedSeq: _*)
  }

  private def vectorDim(df: DataFrame): Int =
    df.select(size(col("embedding"))).head().getInt(0)

  /** Write as ONE parquet FILE at `dest` (not a directory): DuckDB's
    * read_parquet in the oracle compare takes the same literal path the
    * driver uses for the base tables. */
  private def writeSingle(df: DataFrame, dest: String): Unit = {
    import java.nio.file.{Files, Paths}
    val scratch = graft.util.TempDirs.scratch("graft-degen-w-")
    df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator()
    var moved = false
    val destPath = Paths.get(dest)
    Files.createDirectories(destPath.getParent)
    Files.deleteIfExists(destPath)
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, destPath)
        moved = true
      }
    }
    require(moved, s"no parquet part produced for $dest")
    graft.util.TempDirs.cleanNow(scratch)
  }
}
