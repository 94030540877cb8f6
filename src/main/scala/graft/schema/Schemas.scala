package graft.schema

import org.apache.spark.sql.types._

/** Explicit schemas — the engine is schema-first (SURVEY §1.3): no
  * inferSchema in any production path (double-scan, nondeterministic
  * across files).
  */
object Schemas {

  /** Station-history dimension (FIXTURES.md A2; isd-history.csv at
    * /root/reference/untitled.py:25). */
  val stationHistory: StructType = StructType(Seq(
    StructField("usaf", StringType, nullable = false),
    StructField("wban", IntegerType, nullable = true),
    StructField("station_name", StringType, nullable = true),
    StructField("ctry", StringType, nullable = true),
    StructField("state", StringType, nullable = true),
    StructField("icao", StringType, nullable = true),
    StructField("lat", DoubleType, nullable = true),
    StructField("lon", DoubleType, nullable = true),
    StructField("elev_m", DoubleType, nullable = true),
    StructField("begin", IntegerType, nullable = true),
    StructField("end", IntegerType, nullable = true)))

  /** events.ts arrives as INT64 nanos (see Tables.events). */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))
}
