package graft.queries

import graft.Tables._
import graft.ingest.{GsodParser, TarArchive}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's FLAGSHIP workload end-to-end under the hash gate
  * (/root/reference/untitled.py:19-86): raw fixed-layout GSOD text →
  * tokenize/positional-select/clean (sentinels, quality flags, date
  * parse) → semi-join to the cleaned station dimension → per-station-
  * month median rollup → metadata join-back. Until this query the
  * pipeline ran only in unit tests; here the driver replays the whole
  * ETL against DuckDB arithmetic every round. q_gsod_tar replays the
  * SAME corpus through the archive path (ustar members, half gzipped),
  * so [[GsodParser.parseTar]]'s member iteration and executor gunzip are
  * hash-gated too, not just spec'd (TarArchiveProps);
  * both gates parse lines with the one [[GsodParser.parseLine]].
  *
  * Fixture discipline (the q_png_decode precedent): the corpus is built
  * from doc_id arithmetic — every observation line is a real 22-token
  * GSOD record whose values, sentinels, '*' quality flags, A–I
  * precipitation flags, and occasional malformed dates are pure
  * functions of doc_id, so the oracle recomputes the CLEANED values
  * directly and any parse/clean/rollup defect hash-mismatches.
  * Interleaved "STN---" header lines and blank lines exercise the
  * header filter in-gate. The 8-row station dimension exercises every
  * cleaning arm: one station with sentinel LAT (dropped), one with
  * sentinel elevation (label skips it), one opening too late and one
  * closing too early (coverage window drops both), two stations absent
  * entirely (the semi-join drops their observations).
  *
  * Medians are rounded to 4 decimals ON BOTH SIDES: the value grid is
  * tenths/hundredths and their midpoints (≤ 4 decimal digits), so the
  * round is semantically a no-op that pins any last-ulp divergence
  * between the two engines' quantile interpolation.
  */
object GsodQueries {

  /** One doc_id's fixture lines — the SINGLE definition both the in-plan
    * text corpus (q_gsod_e2e, executor-side mapPartitions) and the tar
    * fixture builder (q_gsod_tar) consume, so the two gates replay the
    * same records by construction. */
  private[queries] def fixtureLines(id: Long): Iterator[String] = {
    def fmt1(v: Long) = s"${v / 10}.${v % 10}"
    def fmt2(v: Long) = f"${v / 100}.${v % 100}%02d"
    val st = id % 10
    val usaf = s"A07${100 + st}"
    val wban = 10000 + st
    val yearmoda =
      if (id % 83 == 0) "20089901" // unparseable month → NULL date
      else f"2008${id % 12 + 1}%02d${id * 3 % 28 + 1}%02d"
    val temp =
      if (id % 17 == 0) "9999.9" else fmt1((id * 7) % 900 + 100)
    val dewp =
      if (id % 19 == 0) "9999.9" else fmt1((id * 11) % 700 + 50)
    val wdsp =
      if (id % 23 == 0) "999.9" else fmt1((id * 13) % 300)
    val mx =
      if (id % 29 == 0) "9999.9"
      else fmt1((id * 7) % 900 + 150) + (if (id % 5 == 0) "*" else "")
    val mn =
      if (id % 31 == 0) "9999.9"
      else fmt1((id * 7) % 900 + 60) + (if (id % 4 == 1) "*" else "")
    val prcp =
      if (id % 13 == 0) "99.99"
      else fmt2((id * 3) % 100) +
        (if (id % 7 == 3) ('A' + (id % 9).toInt).toChar.toString else "")
    // 22 whitespace-run-separated tokens; the parser reads DATA
    // indices 0,1,2,3,5,13,17,18,19 (FIXTURES.md A1 layout)
    val data = s"$usaf $wban  $yearmoda  $temp 24 $dewp 24 " +
      s"9999.9 0 9999.9 0 9999.9 0 $wdsp 24 11.1 999.9 " +
      s"$mx $mn $prcp 999.9 000000"
    val header = "STN--- WBAN   YEARMODA    TEMP     DEWP     SLP" +
      "      STP      VISIB    WDSP    MXSPD  GUST   MAX    MIN" +
      "  PRCP  SNDP  FRSHTT"
    Iterator(data) ++
      (if (id % 97 == 0) Iterator(header) else Iterator.empty) ++
      (if (id % 101 == 0) Iterator("   ") else Iterator.empty)
  }

  /** The 8-station fixture dimension, already cleaned. */
  private def fixtureDim(s: SparkSession): DataFrame = {
    import s.implicits._
    val rawDim = (0 until 8).map { st =>
      (s"A07${100 + st}", 10000 + st, s"STATION $st", "US", "CA",
        s"KST$st",
        if (st == 6) 0.0 else 10.0 + st * 3.5,
        -40.0 + st * 7.25,
        if (st == 5) -999.0 else 100.0 + st * 10,
        if (st == 3) 20070101 else 20050101,
        if (st == 7) 20071231 else 20081231)
    }.toDF("usaf", "wban", "station_name", "ctry", "state", "icao",
      "lat", "lon", "elev_m", "begin", "end")
    GsodParser.cleanStations(rawDim, minYear = 2006, maxYear = 2008)
  }

  /** Shared gate projection over [[GsodParser.etl]]'s output. */
  private def etlProject(etlOut: DataFrame): DataFrame =
    etlOut
      .select(col("usaf"), col("wban"), col("year"), col("month"),
        round(col("temp"), 4).as("temp"), round(col("dewp"), 4).as("dewp"),
        round(col("wdsp"), 4).as("wdsp"), round(col("max"), 4).as("max"),
        round(col("min"), 4).as("min"), round(col("prcp"), 4).as("prcp"),
        col("ctry"), col("lat"), col("lon"), col("elev_m"), col("lbl"))
      .orderBy("usaf", "year", "month")

  /** The q_gsod_tar fixture builder's driver-side collect is bounded by
    * this cap — the lowest `TarFixtureCap` doc_ids in order
    * (TakeOrderedAndProject, so the driver merge is bounded on ANY
    * corpus; the Replay.FeedCap discipline). At the sf0.001/sf0.01 gates
    * the cap exceeds the corpus, so it is the identity and the gate's
    * semantics are unchanged; at larger SFs the gate's driver footprint
    * and archive bytes are now SF-independent (VERDICT r9 item 6). */
  final val TarFixtureCap = 10000

  /** The ETL oracle — shared by q_gsod_e2e and q_gsod_tar (the tar
    * replay parses the SAME records, so the answers must agree), with
    * the obs id-source parameterized: the tar gate replays only the
    * capped id set, so its oracle caps identically. */
  private def etlOracle(idSource: String) = s"""
      WITH obs AS (
        SELECT
          'A07' || CAST(100 + doc_id % 10 AS VARCHAR) AS usaf,
          CAST(10000 + doc_id % 10 AS INTEGER) AS wban,
          CASE WHEN doc_id % 83 = 0 THEN NULL
               ELSE CAST(2008 AS INTEGER) END AS year,
          CASE WHEN doc_id % 83 = 0 THEN NULL
               ELSE CAST(doc_id % 12 + 1 AS INTEGER) END AS month,
          CASE WHEN doc_id % 17 = 0 THEN NULL
               ELSE CAST((doc_id * 7) % 900 + 100 AS DOUBLE) / 10 END AS temp,
          CASE WHEN doc_id % 19 = 0 THEN NULL
               ELSE CAST((doc_id * 11) % 700 + 50 AS DOUBLE) / 10 END AS dewp,
          CASE WHEN doc_id % 23 = 0 THEN NULL
               ELSE CAST((doc_id * 13) % 300 AS DOUBLE) / 10 END AS wdsp,
          CASE WHEN doc_id % 29 = 0 THEN NULL
               ELSE CAST((doc_id * 7) % 900 + 150 AS DOUBLE) / 10 END AS max,
          CASE WHEN doc_id % 31 = 0 THEN NULL
               ELSE CAST((doc_id * 7) % 900 + 60 AS DOUBLE) / 10 END AS min,
          CASE WHEN doc_id % 13 = 0 THEN NULL
               ELSE CAST((doc_id * 3) % 100 AS DOUBLE) / 100 END AS prcp
        FROM $idSource
      ),
      dim AS (
        SELECT
          'A07' || CAST(100 + st AS VARCHAR) AS usaf,
          CAST(10000 + st AS INTEGER) AS wban,
          'STATION ' || CAST(st AS VARCHAR) AS station_name,
          'US' AS ctry, 'CA' AS state,
          CAST(CASE WHEN st = 6 THEN 0.0
                    ELSE 10.0 + st * 3.5 END AS DOUBLE) AS lat,
          CAST(-40.0 + st * 7.25 AS DOUBLE) AS lon,
          CAST(CASE WHEN st = 5 THEN -999.0
                    ELSE 100.0 + st * 10 END AS DOUBLE) AS elev_m,
          CASE WHEN st = 3 THEN 20070101 ELSE 20050101 END AS begin_i,
          CASE WHEN st = 7 THEN 20071231 ELSE 20081231 END AS end_i
        FROM range(0, 8) t(st)
      ),
      clean AS (
        SELECT usaf, wban, ctry,
               lat,
               lon,
               CASE WHEN elev_m IN (0.0, -999.0, -999.9) THEN NULL
                    ELSE elev_m END AS elev_m,
               concat_ws('<br>',
                 concat_ws(', ', station_name, state, ctry),
                 CASE WHEN elev_m NOT IN (0.0, -999.0, -999.9)
                      THEN 'Elevation: ' || CAST(elev_m AS VARCHAR) || ' m'
                 END) AS lbl
        FROM dim
        WHERE lat NOT IN (0.0, -999.0, -999.9)
          AND lon NOT IN (0.0, -999.0, -999.9)
          AND CAST(substr(CAST(end_i AS VARCHAR), 1, 4) AS INTEGER) = 2008
          AND CAST(substr(CAST(begin_i AS VARCHAR), 1, 4) AS INTEGER) <= 2006
      )
      SELECT o.usaf, o.wban, o.year, o.month,
             round(median(o.temp), 4) AS temp,
             round(median(o.dewp), 4) AS dewp,
             round(median(o.wdsp), 4) AS wdsp,
             round(median(o.max), 4) AS "max",
             round(median(o.min), 4) AS "min",
             round(median(o.prcp), 4) AS prcp,
             c.ctry, c.lat, c.lon, c.elev_m, c.lbl
      FROM obs o JOIN clean c USING (usaf, wban)
      GROUP BY o.usaf, o.wban, o.year, o.month,
               c.ctry, c.lat, c.lon, c.elev_m, c.lbl
      ORDER BY o.usaf, o.year, o.month
    """

  private val EtlOracle = etlOracle("documents")
  private val EtlOracleCapped = etlOracle(
    s"(SELECT doc_id FROM documents ORDER BY doc_id LIMIT $TarFixtureCap)")

  val gsodE2e = QuerySpec(
    "q_gsod_e2e",
    (s, d) => {
      import s.implicits._
      val lines = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap(fixtureLines))
        .toDF("value")
      etlProject(GsodParser.etl(GsodParser.parseLines(s, lines),
        fixtureDim(s)))
    },
    Some(EtlOracle))

  /** S3 under the hash gate: the SAME fixture corpus packed as real
    * POSIX-ustar archives — per-station members, every even station
    * gzipped (`.op.gz`), odd stations raw (`.op`), plus a README member
    * the suffix filter must skip — then read back through
    * [[GsodParser.parseTar]] (binaryFiles → member iteration → executor
    * gunzip → parseLine) and the same ETL. Three archives, so the read
    * crosses archive boundaries; they are far below binaryFiles' split
    * size, so one task may read all three.
    *
    * The driver-side collect here is the fixture BUILDER (bounded by the
    * gate's sf corpus), not the operator: parseTar itself runs
    * distributed over the archives exactly as it would over a year of
    * GSOD tarballs. Archive bytes land in a fresh temp dir per run —
    * the gate compares parsed CONTENT, which is doc_id arithmetic the
    * oracle recomputes, so the on-disk image is free to vary. */
  val gsodTar = QuerySpec(
    "q_gsod_tar",
    (s, d) => {
      import s.implicits._
      // bounded fixture collect: lowest TarFixtureCap ids in order —
      // TakeOrderedAndProject bounds the driver merge at the cap on any
      // corpus (identity at the gate SFs; the oracle caps identically)
      val ids = documents(s, d).select(col("doc_id"))
        .orderBy("doc_id").limit(TarFixtureCap).as[Long]
        .collect().sorted
      val tmp = graft.util.TempDirs.scratch("graft-gsod-tar-")
      // 3 archives over the 10 station keys; member text in doc_id order
      val stationsPerArchive = Seq(0L until 4L, 4L until 7L, 7L until 10L)
      stationsPerArchive.zipWithIndex.foreach { case (sts, ai) =>
        val members = sts.map { st =>
          val text = ids.iterator.filter(_ % 10 == st)
            .flatMap(fixtureLines).mkString("\n")
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (st % 2 == 0) (s"A07${100 + st}.op.gz", TarArchive.gzip(bytes))
          else (s"A07${100 + st}.op", bytes)
        } ++ (if (ai == 0) Seq(("README.txt",
          "not an observation file".getBytes("US-ASCII"))) else Nil)
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(tmp.resolve(s"gsod_$ai.tar").toFile))
        try TarArchive.write(out, members) finally out.close()
      }
      etlProject(GsodParser.etl(
        GsodParser.parseTar(s, tmp.toString + "/*.tar"), fixtureDim(s)))
    },
    Some(EtlOracleCapped))

  val all: Seq[QuerySpec] = Seq(gsodE2e, gsodTar)
}
