package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import graft.ops.{Cleaning, Windows}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parse/clean semantics of the reference's GSOD ETL, including the
  * documented divergences (SURVEY §2a F3/F4/F6, §7.3): flag stripping by
  * intent, per-row NULL on malformed dates, sentinel → NULL. The line
  * parser is checked row for row against the Spark SQL expression form it
  * replaced ([[sqlParse]]).
  */
class GsodParserSpec extends SparkSpec {

  lazy val obs = GsodParser.parse(spark, resource("gsod") + "/*.op").cache()

  test("header rows dropped, data rows parsed") {
    assert(obs.count() === 8) // 5 + 3 data rows, 2 headers dropped
  }

  test("F3: trailing '*' quality flag stripped from MAX/MIN") {
    val r = obs.filter(col("date") === "2019-01-01").head()
    assert(r.getAs[Double]("max") === 30.2)
    assert(r.getAs[Double]("min") === 19.0)
  }

  test("F4 intent: trailing A-I report flag stripped from PRCP, flagless values intact") {
    val flagged = obs.filter(col("date") === "2019-01-01").head()
    assert(flagged.getAs[Double]("prcp") === 0.05)
    // the reference's bug would corrupt flagless 0.25 -> 0.2 (untitled.py:54)
    val flagless = obs.filter(col("date") === "2019-01-10").head()
    assert(flagless.getAs[Double]("prcp") === 0.25)
  }

  test("P1: sentinels 9999.9/999.9/99.99 become NULL") {
    val r = obs.filter(col("usaf") === "725300" && col("day") === 3).head()
    assert(r.isNullAt(r.fieldIndex("temp")))
    assert(r.isNullAt(r.fieldIndex("wdsp")))
    assert(r.isNullAt(r.fieldIndex("max")))
    assert(r.isNullAt(r.fieldIndex("prcp")))
  }

  test("F6: malformed date parses to NULL per-row (not column-wide)") {
    assert(obs.filter(col("date").isNull).count() === 1)
    assert(obs.filter(col("date").isNotNull).count() === 7)
  }

  test("A1: monthly medians per station-month") {
    val m = GsodParser.monthlyMedians(obs.filter(col("date").isNotNull))
    assert(m.count() === 4) // 2 stations x 2 months
    val jan = m.filter(col("usaf") === "725300" && col("month") === 1).head()
    assert(jan.getAs[Double]("temp") === (25.1 + 28.4) / 2) // median of 2 (3rd is NULL)
  }

  test("W1: latest-per-station keeps the max-date rows") {
    val latest = Windows.latestPerKey(obs.filter(col("date").isNotNull),
      Seq("usaf", "wban"), "date")
    assert(latest.count() === 2)
    assert(latest.filter(col("usaf") === "725300").head().getAs[Int]("day") === 15)
  }

  test("S3: tar-of-gzip archive ingest equals the unpacked parse") {
    import java.nio.file.{Files, Paths}
    // build a ustar archive: member 1 plain .op, member 2 gzipped .op.gz
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    def tarEntry(name: String, payload: Array[Byte]): Array[Byte] = {
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII"); System.arraycopy(nb, 0, h, 0, nb.length)
      val size = ("%011o".format(payload.length) + "\u0000").getBytes("US-ASCII")
      System.arraycopy(size, 0, h, 124, size.length)
      h(156) = '0'
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum field as spaces
      val sum = h.map(_ & 0xFF).sum
      val cks = ("%06o".format(sum) + "\u0000 ").getBytes("US-ASCII")
      System.arraycopy(cks, 0, h, 148, cks.length)
      val padded = ((payload.length + 511) / 512) * 512
      h ++ payload ++ new Array[Byte](padded - payload.length)
    }
    val f1 = Files.readAllBytes(Paths.get(resource("gsod/725300-94846-2019.op")))
    val f2 = Files.readAllBytes(Paths.get(resource("gsod/725301-94847-2019.op")))
    val tar = tarEntry("725300-94846-2019.op", f1) ++
      tarEntry("725301-94847-2019.op.gz", gzip(f2)) ++
      new Array[Byte](1024) // two zero blocks = end-of-archive
    val dir = Files.createTempDirectory("gsodtar")
    Files.write(dir.resolve("gsod_2019.tar"), tar)

    val fromTar = GsodParser.parseTar(spark, dir.toString + "/*.tar")
      .orderBy("usaf", "date").collect().map(_.toSeq).toSeq
    val direct = obs.orderBy("usaf", "date").collect().map(_.toSeq).toSeq
    assert(fromTar === direct)
  }

  test("station dimension: sentinel/null LAT filtered, coverage window applied") {
    val st = GsodParser.stations(spark, resource("gsod/isd-history.csv"), 2019, 2019)
    val keys = st.select("usaf").collect().map(_.getString(0)).toSet
    // DEAD STATION fails the END==2019 window; NULL ISLAND has null LAT;
    // SENTINEL POINT's 0.0 LAT is a sentinel -> filtered
    assert(keys === Set("725300", "725301"))
  }

  test("F1: null-skipping label concat (pandas str.cat semantics)") {
    val st = GsodParser.stations(spark, resource("gsod/isd-history.csv"), 2019, 2019)
    val lbl = st.filter(col("usaf") === "725301").head().getAs[String]("lbl")
    assert(lbl === "ROCKFORD GREATER, US<br>Elevation: 226.5 m") // null STATE skipped
  }

  test("end-to-end ETL: medians joined with station metadata") {
    val st = GsodParser.stations(spark, resource("gsod/isd-history.csv"), 2019, 2019)
    val out = GsodParser.etl(obs.filter(col("date").isNotNull), st)
    assert(out.count() === 4)
    assert(out.columns.contains("lbl") && out.columns.contains("temp"))
  }

  test("map export carries the web-map payload shape (point, label, slider date)") {
    val st = GsodParser.stations(spark, resource("gsod/isd-history.csv"), 2019, 2019)
    val out = GsodParser.mapExport(
      GsodParser.etl(obs.filter(col("date").isNotNull), st), "temp")
    assert(out.columns.toSeq === Seq("usaf", "wban", "lat", "lon", "lbl",
      "year", "month", "value", "month_start"))
    val jan = out.filter(col("usaf") === "725300" && col("month") === 1).head()
    assert(jan.getAs[Double]("value") === (25.1 + 28.4) / 2)
    assert(jan.getAs[java.sql.Date]("month_start").toString === "2019-01-01")
    assert(!jan.isNullAt(jan.fieldIndex("lat")) && !jan.isNullAt(jan.fieldIndex("lon")))
  }

  // ---- the per-line parser against the SQL expression form ----

  /** The expression pipeline the per-line parser replaced, kept as the
    * oracle: regex header filter, `split(trim(value), "\\s+")`, ANSI
    * casts, regex flag stripping and `try_to_date`. */
  private def sqlParse(linesDf: DataFrame): DataFrame = {
    def numClean(tok: Column, sentinel: Double): Column =
      Cleaning.sentinelToNull(tok.cast("double"), Seq(sentinel))
    val toks = split(trim(col("value")), "\\s+")
    linesDf
      .filter(!col("value").rlike("^\\s*STN--") && col("value").rlike("\\S"))
      .select(
        toks.getItem(0).as("usaf"),
        toks.getItem(1).cast("int").as("wban"),
        toks.getItem(2).as("yearmoda"),
        numClean(toks.getItem(3), 9999.9).as("temp"),
        numClean(toks.getItem(5), 9999.9).as("dewp"),
        numClean(toks.getItem(13), 999.9).as("wdsp"),
        numClean(regexp_replace(toks.getItem(17), "\\*$", ""), 9999.9).as("max"),
        numClean(regexp_replace(toks.getItem(18), "\\*$", ""), 9999.9).as("min"),
        numClean(regexp_replace(toks.getItem(19), "[A-I]$", ""), 99.99).as("prcp"))
      .withColumn("date", try_to_date(col("yearmoda"), "yyyyMMdd"))
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("day", dayofmonth(col("date")))
      .drop("yearmoda")
      .select("usaf", "wban", "date", "temp", "dewp", "wdsp", "max", "min",
        "prcp", "year", "month", "day")
  }

  /** RDD-backed, so neither side is folded into a local relation: the
    * oracle runs as generated code, as it did in production. */
  private def linesDf(lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(lines, 3)).toDF("value")
  }

  private def assertSameAsSql(lines: Seq[String]): Unit = {
    val got = GsodParser.parseLines(spark, linesDf(lines))
    val want = sqlParse(linesDf(lines))
    assert(got.schema === want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.size === w.size)
    g.zip(w).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"row $i differs")
    }
  }

  /** A well-formed 22-token data line with the given selected tokens. */
  private def dataLine(usaf: String = "725300", wban: String = "94846",
      ymd: String = "20190101", temp: String = "25.1", dewp: String = "20.3",
      wdsp: String = "5.6", max: String = "30.2*", min: String = "19.0",
      prcp: String = "0.05A", sep: String = " "): String =
    Seq(usaf, wban, ymd, temp, "24", dewp, "24", "1015.2", "24", "1014.1", "24",
      "9.9", "24", wdsp, "24", "12.0", "15.9", max, min, prcp, "2.0", "001000")
      .mkString(sep)

  private val handWritten: Seq[String] = Seq(
    dataLine(),
    "  " + dataLine() + "   ", // ASCII-space trim
    "\t" + dataLine(), // tab survives trim: empty token 0, columns shift
    " \t " + dataLine(),
    dataLine() + "\t", // trailing tab: an empty 23rd token
    dataLine() + "\r", // a CR the line splitter left behind
    dataLine(sep = " \t\u000b\f "), // every ASCII whitespace in one run
    dataLine(usaf = "725300\u00a0"), // NBSP is not whitespace to \s
    dataLine(usaf = "A07026"), // alphanumeric USAF
    dataLine(max = "30.2", min = "19.0*", prcp = "0.25"), // flagless values
    dataLine(prcp = "0.00I"), dataLine(prcp = "99.99G"),
    dataLine(max = "9999.9*", min = "9999.9", prcp = "99.99"),
    dataLine(temp = "9999.9", dewp = "9999.9", wdsp = "999.9"),
    dataLine(temp = "-12.3", dewp = "+4", wdsp = ".5"),
    dataLine(temp = "1e3", dewp = "1.5d", wdsp = "0x1p3"), // Java-parser forms
    dataLine(temp = "inf", dewp = "-INFINITY", wdsp = "NaN"), // Spark's literals
    dataLine(wban = "007"), dataLine(wban = "+42"), dataLine(wban = "-1"),
    dataLine(wban = "2147483647"), dataLine(wban = "0000094846"),
    dataLine(ymd = "20001301"), dataLine(ymd = "20000230"), dataLine(ymd = "2000011"),
    dataLine(ymd = "20000229"), dataLine(ymd = "19000229"), dataLine(ymd = "00000101"),
    dataLine(ymd = "99991231"), dataLine(ymd = "200001011"), dataLine(ymd = "2000-01-01"),
    dataLine(ymd = "+20000101"), dataLine(ymd = "+200000101"), dataLine(ymd = "-200000101"),
    dataLine(ymd = "2000010\uff11"), // a fullwidth digit
    "STN--- WBAN   YEARMODA    TEMP", "   STN--- WBAN", "\tSTN--", "STN--",
    "", " ", "\t", " \t\f ", "\r",
    dataLine() + " extra tokens beyond the twenty-second")

  test("parseLines equals the SQL expression form on hand-written lines") {
    assertSameAsSql(handWritten)
  }

  test("parseLines equals the SQL expression form on generated lines") {
    val rnd = new scala.util.Random(7)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def digits(n: Int) = Seq.fill(n)(rnd.nextInt(10)).mkString
    def measure(sentinel: String) = rnd.nextInt(10) match {
      case 0 => sentinel
      case 1 => "-" + rnd.nextInt(100) + "." + rnd.nextInt(10)
      case 2 => pick("0", "12", "1e2", ".5", "5.", "+3.25")
      case _ => s"${rnd.nextInt(1200)}.${rnd.nextInt(10)}"
    }
    val lines = Seq.fill(3000) {
      rnd.nextInt(20) match {
        case 0 => pick("", " ", "\t", "  \t ", "\f")
        case 1 => pick("", " ", "\t", " \t") + "STN--- WBAN   YEARMODA    TEMP"
        case _ =>
          val ymd = rnd.nextInt(8) match {
            case 0 => digits(8) // mostly impossible dates
            case 1 => digits(pick(6, 7, 9))
            case 2 => pick("20000229", "19000229", "20040229", "21000229", "20001231")
            case _ =>
              f"${1900 + rnd.nextInt(200)}${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(31)}%02d"
          }
          // a lead tab shifts every column one token right (token 0 is
          // empty), so USAF lands in WBAN and MIN's flag in PRCP: keep
          // both castable there (the error cases are tested below)
          val lead = pick("", "", " ", "   ", "\t", " \t")
          val shifted = lead.exists(_ != ' ')
          val line = dataLine(
            usaf = if (shifted) digits(6) else pick(digits(6), "A" + digits(5), digits(6) + "\u00a0"),
            wban = pick(digits(5), digits(1 + rnd.nextInt(9)), "99999"),
            ymd = ymd,
            temp = measure("9999.9"), dewp = measure("9999.9"), wdsp = measure("999.9"),
            max = measure("9999.9") + pick("", "*"),
            min = measure("9999.9") + (if (shifted) "" else pick("", "*")),
            prcp = pick(measure("99.99"), f"${rnd.nextInt(300) / 100.0}%.2f") +
              pick("", "", "A", "E", "I"),
            sep = pick(" ", "  ", " \t", "\t"))
          lead + line + pick("", "", " ", "\t", "\r")
      }
    }
    assertSameAsSql(lines)
  }

  /** The deepest Spark error in a failure's cause chain: the one the
    * parse raised, under the job-abort wrapper. */
  private def sparkError(body: => Any): (String, Map[String, String]) = {
    val e = intercept[Throwable](body)
    val t = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collect { case s: SparkThrowable => s }.toSeq.last
    import scala.jdk.CollectionConverters._
    (t.getCondition, t.getMessageParameters.asScala.toMap)
  }

  test("malformed WBAN/measure tokens and short lines raise the SQL form's errors") {
    for (bad <- Seq(dataLine(temp = "2x5.1"), dataLine(wban = "94A46"),
        dataLine(prcp = "0.05AA"), dataLine(prcp = "1.5J"), dataLine(max = "30.2**"),
        dataLine(wban = "2147483648"), "\t" + dataLine(usaf = "A07026"),
        dataLine(wdsp = ""), "725300 94846", dataLine().split(" ").take(19).mkString(" "))) {
      val want = sparkError(sqlParse(linesDf(Seq(bad))).collect())
      val got = sparkError(GsodParser.parseLines(spark, linesDf(Seq(bad))).collect())
      assert(got === want, s"line: $bad")
      assert(Set("CAST_INVALID_INPUT", "INVALID_ARRAY_INDEX")(got._1))
    }
  }

  test("with ANSI off, malformed tokens and short lines give NULLs like the SQL form") {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assertSameAsSql(Seq(dataLine(temp = "2x5.1"), dataLine(wban = "94A46"),
      dataLine(wban = "2147483648"), "725300 94846", "A07026", dataLine()))
    finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  // ---- archives: one parse, one partition per archive ----

  private def tar(members: (String, String)*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    TarArchive.write(out, members.map { case (name, text) =>
      val bytes = text.getBytes(UTF_8)
      (name, if (name.endsWith(".gz")) TarArchive.gzip(bytes) else bytes)
    })
    out.toByteArray
  }

  test("parseTar equals the SQL form over CRLF members, gz members and README") {
    val dir = Files.createTempDirectory("gsodtar-eq")
    val a = handWritten.take(20)
    val b = handWritten.drop(20)
    Files.write(dir.resolve("y1.tar"), tar(
      "README.txt" -> "not an observation file",
      "a.op" -> a.mkString("\r\n"),
      "b.op.gz" -> b.filterNot(_.contains("\r")).mkString("\n")))
    val got = GsodParser.parseTar(spark, dir.toString)
    val want = sqlParse(linesDf(
      (a.mkString("\r\n") + "\n" + b.filterNot(_.contains("\r")).mkString("\n"))
        .linesIterator.toSeq))
    assert(got.schema === want.schema)
    assert(got.collect().toSeq.map(_.toString).sorted ===
      want.collect().toSeq.map(_.toString).sorted)
  }

  test("parseTar takes a directory, a glob or a comma-separated list alike") {
    // Eight archives, each holding one station. The first is written
    // through Hadoop's local file system, which puts a `.gsod_0.tar.crc`
    // checksum beside it; a `_SUCCESS` marker and a hidden, non-tar
    // `.partial.tar` sit in the directory too, and must not be read.
    val dir = Files.createTempDirectory("gsodtar-8")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    for (i <- 0 until 8) {
      val lines = (1 to 28).map(d => dataLine(usaf = s"A0700$i", ymd = f"201901$d%02d"))
      val bytes = tar(s"A0700$i.op" -> lines.mkString("\n"))
      val path = dir.resolve(s"gsod_$i.tar")
      if (i > 0) Files.write(path, bytes)
      else {
        val out = fs.create(new org.apache.hadoop.fs.Path(path.toUri))
        try out.write(bytes) finally out.close()
      }
    }
    assert(Files.exists(dir.resolve(".gsod_0.tar.crc")))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".partial.tar"), "not a tar archive".getBytes(UTF_8))
    def rows(path: String): Seq[String] =
      GsodParser.parseTar(spark, path).collect().toSeq.map(_.toString).sorted
    val all = rows(dir.toString)
    assert(all.size === 8 * 28)
    assert(rows(s"$dir/*.tar") === all)
    assert(rows(s"$dir/gsod_{0,1,2}.tar,$dir/gsod_[3-7].tar") === all)
    assert(rows((0 until 8).map(i => s"$dir/gsod_$i.tar").mkString(",")) === all)
    intercept[org.apache.hadoop.mapreduce.lib.input.InvalidInputException](
      GsodParser.parseTar(spark, s"$dir/nope*.tar").collect())
  }
}
