package graft.ingest

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, GetArrayItem, Literal, ParseToDate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import graft.ops.Cleaning

/** NOAA-GSOD fixed-layout text ingest — the reference's ETL core
  * (/root/reference/untitled.py:42-83), as ONE lazy pipeline.
  *
  * The reference gunzips tar members serially in Python and appends pandas
  * frames (O(n²) copies, 1 thread). Here: `spark.read.text` over `*.op[.gz]`
  * reads every file in parallel (gzip files are file-granular splits —
  * fine: one GSOD file is one station-year, ~25 KB), each line goes through
  * one plain-Scala pass ([[parseLine]]: no regex, every token cut once) in
  * a typed flatMap, and the downstream median/latest/join run as ordinary
  * shuffles. `.tar` archives ingest in-engine too ([[parseTar]] via
  * [[TarArchive]]): tar isn't splittable, so no archive is split across
  * tasks. Every entry point runs the
  * same [[parseLine]]; because it is opaque to the optimizer, Catalyst
  * cannot copy it into the filters it infers from downstream join keys.
  *
  * Positional layout (FIXTURES.md A1): data rows interleave observation-
  * count columns the header collapses, so columns are selected by DATA
  * token index: 0=STN, 1=WBAN, 2=YEARMODA, 3=TEMP, 5=DEWP, 13=WDSP,
  * 17=MAX, 18=MIN, 19=PRCP.
  *
  * Cleaning (implementing the reference's INTENT where its code is buggy —
  * SURVEY §2a F4): MAX/MIN may carry a trailing '*' quality flag; PRCP a
  * trailing A–I report flag (the reference truncates the last char
  * unconditionally, corrupting flagless values — untitled.py:54); sentinels
  * 9999.9 (temp/dewp/max/min), 999.9 (wdsp), 99.99 (prcp) → NULL; a
  * malformed YEARMODA parses to NULL per-row (the reference's
  * errors='ignore' leaves the whole column unparsed — untitled.py:56).
  *
  * Token semantics are Spark SQL's, so the typed rows equal what
  * `split(trim(value), "\\s+")` + ANSI casts + `try_to_date(_, "yyyyMMdd")`
  * give (GsodParserSpec keeps that expression form as its oracle): `trim`
  * strips ASCII spaces only, tokens are the runs between ASCII whitespace
  * (Java's `\s`; a leading tab yields an empty token 0), a
  * missing token or a malformed WBAN/measure raises Spark's own ANSI error
  * (NULL when `spark.sql.ansi.enabled` is off), and a YEARMODA that is not
  * a real calendar date is NULL.
  */
object GsodParser {

  /** One cleaned daily observation — the row type of every entry point
    * (all columns nullable, as the SQL form of the parse types them). */
  final case class GsodRecord(usaf: String, wban: Option[Int], date: Option[LocalDate],
      temp: Option[Double], dewp: Option[Double], wdsp: Option[Double],
      max: Option[Double], min: Option[Double], prcp: Option[Double],
      year: Option[Int], month: Option[Int], day: Option[Int])

  /** Raw GSOD text (already-unpacked `.op` / `.op.gz` files) → typed,
    * cleaned daily observations. */
  def parse(spark: SparkSession, path: String): DataFrame =
    parseLines(spark, spark.read.text(path))

  /** S3 in-engine: `.tar` archives of `.op` / `.op.gz` members → the same
    * typed observations. `path` is anything `binaryFiles` takes (a
    * directory, a glob or a comma-separated list). Tar isn't splittable,
    * so one task reads each archive whole; `binaryFiles` may give one
    * task several archives (it packs whole files into splits of up to
    * max(`spark.files.openCostInBytes`, total bytes / parallelism), capped
    * at `spark.files.maxPartitionBytes`). Members gunzip executor-side,
    * one at a time; no driver round-trip, no temp files. */
  def parseTar(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val ansi = ansiEnabled(spark)
    val records = spark.sparkContext.binaryFiles(path)
      .flatMap { case (_, pds) =>
        // Lazily consumed: memory is bounded by ONE decoded member
        // (~25 KB for GSOD), never the whole archive — a year archive is
        // GBs uncompressed, and materializing it per task is an executor
        // OOM at scale. The stream closes on exhaustion; the task-
        // completion listener covers early termination (limit, failure).
        val in = pds.open()
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case _: java.io.IOException => () }))
        val memberRecords = TarArchive.members(in).flatMap { case (name, payload) =>
          if (!(name.endsWith(".op") || name.endsWith(".op.gz"))) Iterator.empty
          else {
            val bytes =
              if (name.endsWith(".gz")) TarArchive.gunzip(payload) else payload
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
              .linesIterator.flatMap(parseLine(_, ansi))
          }
        }
        new Iterator[GsodRecord] { // close at exhaustion (also outside tasks)
          private var closed = false
          override def hasNext: Boolean = {
            val h = memberRecords.hasNext
            if (!h && !closed) { closed = true; in.close() }
            h
          }
          override def next(): GsodRecord = memberRecords.next()
        }
      }
    spark.createDataset(records).toDF()
  }

  /** [[parseLine]] over a `value`-lines DataFrame — public so callers
    * that already hold raw GSOD lines (an in-plan fixture, a streaming
    * source, a foreign extractor) run the exact parse the file-path entry
    * points use. */
  def parseLines(spark: SparkSession, linesDf: DataFrame): DataFrame = {
    import spark.implicits._
    val ansi = ansiEnabled(spark)
    linesDf.select(col("value")).as[String].flatMap(parseLine(_, ansi)).toDF()
  }

  private def ansiEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.ansi.enabled").toBoolean

  // ---- the per-line parser ----

  /** Data-token index of each selected column (FIXTURES.md A1). */
  private final val Usaf = 0
  private final val Wban = 1
  private final val Yearmoda = 2
  private final val Temp = 3
  private final val Dewp = 5
  private final val Wdsp = 13
  private final val Max = 17
  private final val Min = 18
  private final val Prcp = 19
  private final val Tokens = Prcp + 1
  private val selected: Array[Boolean] =
    Array.tabulate(Tokens)(Set(Usaf, Wban, Yearmoda, Temp, Dewp, Wdsp, Max, Min, Prcp))

  /** Java regex `\s`: the six ASCII whitespace characters. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** One GSOD text line → its cleaned observation, or None for a header
    * (`STN--` after optional whitespace — by that marker, not by "keep
    * digit-initial": NOAA USAF ids can be alphanumeric, e.g. A07026) or a
    * blank line. One pass over the characters: trim ASCII spaces, cut the
    * first 20 whitespace-separated tokens, then convert only the selected
    * ones. */
  def parseLine(line: String, ansi: Boolean): Option[GsodRecord] = {
    var b = 0
    var e = line.length
    while (b < e && line.charAt(b) == ' ') b += 1
    while (e > b && line.charAt(e - 1) == ' ') e -= 1
    var first = b
    while (first < e && isWs(line.charAt(first))) first += 1
    if (first == e || line.startsWith("STN--", first)) return None

    // Java's split(t, "\\s+", -1): a whitespace run at either end of the
    // trimmed text yields an empty first/last token. Only the selected
    // tokens are cut out; n counts them all.
    val toks = new Array[String](Tokens)
    var n = 0
    var from = b
    var i = b
    while (n < Tokens && from >= 0) {
      if (i == e || isWs(line.charAt(i))) {
        if (selected(n)) toks(n) = line.substring(from, i)
        n += 1
        if (i == e) from = -1
        else {
          while (i < e && isWs(line.charAt(i))) i += 1
          from = i
        }
      } else i += 1
    }

    def tok(k: Int): String =
      if (k < n) toks(k)
      else if (ansi) SparkSemantics.item(n, k)
      else null
    /** A measure with one trailing flag character from `flags` dropped. */
    def num(k: Int, sentinel: Double, flags: String = ""): Option[Double] = {
      val t = tok(k)
      if (t == null) None
      else {
        val bare =
          if (t.nonEmpty && flags.indexOf(t.charAt(t.length - 1)) >= 0) t.dropRight(1) else t
        val v = toDouble(bare, ansi)
        if (v == null || v.doubleValue == sentinel) None else Some(v.doubleValue)
      }
    }

    val wban = Option(tok(Wban)).flatMap(t => Option(toInt(t, ansi))).map(_.intValue)
    val date = Option(tok(Yearmoda)).flatMap(toDate)
    Some(GsodRecord(tok(Usaf), wban, date,
      num(Temp, 9999.9), num(Dewp, 9999.9), num(Wdsp, 999.9),
      num(Max, 9999.9, "*"), num(Min, 9999.9, "*"), num(Prcp, 99.99, "ABCDEFGHI"),
      date.map(_.getYear), date.map(_.getMonthValue), date.map(_.getDayOfMonth)))
  }

  /** Spark's string → double cast: Java's parser first, then Spark's
    * special literals (`inf`, `nan`, …) or its ANSI error. */
  private def toDouble(t: String, ansi: Boolean): java.lang.Double =
    try java.lang.Double.valueOf(t)
    catch { case _: NumberFormatException => SparkSemantics.cast(t, DoubleType, ansi) }

  /** Spark's string → int cast; plain digit strings that cannot overflow
    * take the fast path. */
  private def toInt(t: String, ansi: Boolean): Integer = {
    var i = 0
    while (i < t.length && t.charAt(i) >= '0' && t.charAt(i) <= '9') i += 1
    if (i == t.length && i > 0 && i < 10) Integer.valueOf(t)
    else SparkSemantics.cast(t, IntegerType, ansi)
  }

  /** `try_to_date(t, "yyyyMMdd")`: eight ASCII digits are checked as an
    * ISO calendar date directly; any other shape asks Spark's parser. */
  private def toDate(t: String): Option[LocalDate] =
    if (t.length == 8 && t.forall(c => c >= '0' && c <= '9')) {
      def digits(from: Int, to: Int) = (from until to).foldLeft(0)((v, i) => v * 10 + t.charAt(i) - '0')
      val (y, m, d) = (digits(0, 4), digits(4, 6), digits(6, 8))
      if (m >= 1 && m <= 12 && d >= 1 && d <= java.time.YearMonth.of(y, m).lengthOfMonth)
        Some(LocalDate.of(y, m, d))
      else None
    } else SparkSemantics.date(t)

  /** Spark's own answer for the inputs the fast paths above do not take:
    * the expression the SQL form of this parse runs, evaluated on the one
    * token, so rare shapes get exactly Spark's value, NULL or error. */
  private object SparkSemantics {
    def cast[T](t: String, to: DataType, ansi: Boolean): T =
      Cast(Literal(t), to, None, if (ansi) EvalMode.ANSI else EvalMode.LEGACY)
        .eval().asInstanceOf[T]

    /** Raises the strict-index error of `split(...)[k]` on a line of
      * `n` tokens. */
    def item(n: Int, k: Int): Nothing = {
      val arr = Literal.create(new GenericArrayData(new Array[Any](n)), ArrayType(StringType))
      GetArrayItem(arr, Literal(k), failOnError = true).eval()
      throw new IllegalStateException(s"token $k of $n did not fail")
    }

    def date(t: String): Option[LocalDate] =
      Option(ParseToDate(Literal(t), Some(Literal("yyyyMMdd")), Some("UTC"),
        ansiEnabled = false).replacement.eval())
        .map(d => LocalDate.ofEpochDay(d.asInstanceOf[Int].toLong))
  }

  /** Station metadata CSV (isd-history shape, FIXTURES.md A2) → cleaned
    * dimension: sentinel-null LAT/LON, not-null filter, coverage-window
    * predicate, null-skipping label (untitled.py:25-36). */
  def stations(spark: SparkSession, path: String, minYear: Int, maxYear: Int): DataFrame =
    cleanStations(
      spark.read
        .option("header", true)
        .schema(graft.schema.Schemas.stationHistory)
        .csv(path),
      minYear, maxYear)

  /** The station-dimension cleaning stage alone, over an already-loaded
    * raw frame in Schemas.stationHistory shape — shared by the CSV entry
    * point above and callers holding the raw rows in-plan. */
  def cleanStations(raw: DataFrame, minYear: Int, maxYear: Int): DataFrame = {
    val cleaned = Cleaning.requireNotNull(
      Cleaning.sentinelToNull(raw, Seq("lat", "lon", "elev_m")),
      Seq("lat", "lon"))
    cleaned
      .filter(
        Cleaning.yearPrefix(col("end")) === maxYear &&
          Cleaning.yearPrefix(col("begin")) <= minYear)
      .withColumn("elev_lbl",
        when(col("elev_m").isNotNull,
          concat(lit("Elevation: "), col("elev_m").cast("string"), lit(" m"))))
      .withColumn("lbl",
        concat_ws("<br>",
          concat_ws(", ", col("station_name"), col("state"), col("ctry")),
          col("elev_lbl")))
      .drop("station_name", "state", "icao", "begin", "end", "elev_lbl")
  }

  /** The reference's monthly rollup (untitled.py:81): per-station-month
    * median of every measure. */
  def monthlyMedians(obs: DataFrame): DataFrame =
    obs.groupBy("usaf", "wban", "year", "month")
      .agg(
        median(col("temp")).as("temp"),
        median(col("dewp")).as("dewp"),
        median(col("wdsp")).as("wdsp"),
        median(col("max")).as("max"),
        median(col("min")).as("min"),
        median(col("prcp")).as("prcp"))

  /** The reference's full ETL (untitled.py:62-86): observations semi-joined
    * to active stations, monthly medians, metadata joined back. */
  def etl(obs: DataFrame, stations: DataFrame): DataFrame = {
    val keys = Seq("usaf", "wban")
    val active = obs.join(broadcast(stations.select(keys.map(col): _*)), keys, "left_semi")
    monthlyMedians(active).join(broadcast(stations), keys, "inner")
  }

  /** Map-client export — the exact payload shape the reference's web map
    * consumes (/root/reference/map_tutorial.html:48-71: a lat/lon point
    * layer with an HTML label and a month time-slider). The viewer itself
    * (rendering, legend, time filtering) is presentation scope, not
    * engine scope (SURVEY §2); this projection closes the parity gap for
    * a user who wants to feed such a client: one measure column plus a
    * real DATE for the slider, written per-month partition-friendly. */
  def mapExport(etlOut: DataFrame, measure: String): DataFrame =
    etlOut.select(
      col("usaf"), col("wban"), col("lat"), col("lon"), col("lbl"),
      col("year"), col("month"),
      col(measure).as("value"),
      make_date(col("year"), col("month"), lit(1)).as("month_start"))
}
