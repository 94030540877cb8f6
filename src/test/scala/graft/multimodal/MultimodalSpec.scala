package graft.multimodal

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def packed = Multimodal.packDocuments(
    Seq(
      (1L, "abcdefghij" * 20, "en", "web"), // 200 bytes
      (2L, "xy", "en", "web")) // shorter than one frame
      .toDF("doc_id", "text", "lang", "source"))

  test("PPM round-trip: encode → decode recovers dims and exact channel means") {
    val rnd = new scala.util.Random(41)
    val images = (1L to 30L).map { id =>
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val rgb = Array.fill(3 * w * h)(rnd.nextInt(256).toByte)
      (id, w, h, rgb)
    }
    val packed = images.map { case (id, w, h, rgb) =>
      (id, Multimodal.encodePpm(w, h, rgb))
    }.toDF("doc_id", "payload")
    val got = Multimodal.decodeImages(spark, packed)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got.size === images.size)
    images.foreach { case (id, w, h, rgb) =>
      val n = w * h
      def mean(c: Int) =
        rgb.indices.collect { case i if i % 3 == c => rgb(i) & 0xFF }
          .map(_.toLong).sum.toDouble / n
      val (gw, gh, mr, mg, mb) = got(id)
      assert((gw, gh) === ((w, h)), s"img $id dims")
      assert(mr === mean(0) && mg === mean(1) && mb === mean(2), s"img $id means")
    }
  }

  test("PPM parser: header grammar accepted, malformed payloads rejected") {
    val px = Array[Byte](1, 2, 3, 4, 5, 6)
    // comments + mixed whitespace in the header are legal P6
    val commented =
      ("P6 # a comment\n# another\n 2\t1 # dims\n255\n").getBytes("US-ASCII") ++ px
    val hd = Multimodal.parsePpm(commented)
    assert(hd.map(h => (h.width, h.height, h.maxVal)) === Some((2, 1, 255)))
    assert(Multimodal.parsePpm("plain text".getBytes) === None)
    assert(Multimodal.parsePpm("P6".getBytes) === None)
    // truncated pixel plane and trailing garbage both fail the
    // exact-length rule (the text-corpus false-positive guard)
    assert(Multimodal.parsePpm(commented.dropRight(1)) === None)
    assert(Multimodal.parsePpm(commented :+ 0.toByte) === None)
    // 16-bit PPM (maxval > 255) is out of scope — rejected, not garbled
    assert(Multimodal.parsePpm(
      "P6\n1 1\n65535\n".getBytes("US-ASCII") ++ px) === None)
  }

  test("PPM resize: nearest-neighbor geometry, ceil dims, valid re-encode") {
    // 4×3 gradient: pixel (x,y) = (x*10+y, 100+x, 200+y) — unambiguous
    // source coordinates so a geometry bug moves a value, not a duplicate
    val (w, h) = (4, 3)
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val i = 3 * (y * w + x)
      rgb(i) = (x * 10 + y).toByte
      rgb(i + 1) = (100 + x).toByte
      rgb(i + 2) = (200 + y).toByte
    }
    val packed = Seq((7L, Multimodal.encodePpm(w, h, rgb)))
      .toDF("doc_id", "payload")
    val out = Multimodal.resizePpm(spark, packed, factor = 2).collect()
    assert(out.length === 1)
    val hd = Multimodal.parsePpm(out(0).getAs[Array[Byte]]("payload"))
    assert(hd.map(x => (x.width, x.height)) === Some((2, 2))) // ceil(4/2), ceil(3/2)
    val bytes = out(0).getAs[Array[Byte]]("payload")
    val plane = bytes.drop(hd.get.pixelStart)
    // out(x,y) = in(2x, 2y): (0,0),(2,0),(0,2),(2,2)
    val expect = Seq((0, 0), (2, 0), (0, 2), (2, 2)).flatMap { case (x, y) =>
      val i = 3 * (y * w + x)
      Seq(rgb(i), rgb(i + 1), rgb(i + 2))
    }
    assert(plane.toSeq === expect)
    // identity factor re-encodes the identical image
    val same = Multimodal.resizePpm(spark, packed, factor = 1).collect()
    assert(same(0).getAs[Array[Byte]]("payload").toSeq ===
      Multimodal.encodePpm(w, h, rgb).toSeq)
  }

  test("WAV round-trip: encode → decode recovers geometry and exact amplitude stats") {
    val rnd = new scala.util.Random(43)
    val clips = (1L to 30L).map { id =>
      val ch = 1 + rnd.nextInt(3)
      val rate = 4000 + rnd.nextInt(44100)
      val nFrames = 1 + rnd.nextInt(200)
      val samples = Array.fill(nFrames * ch)((rnd.nextInt(65536) - 32768).toShort)
      (id, ch, rate, samples)
    }
    val packed = clips.map { case (id, ch, rate, s) =>
      (id, Multimodal.encodeWav(ch, rate, s))
    }.toDF("doc_id", "payload")
    val got = Multimodal.decodeAudio(spark, packed)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    assert(got.size === clips.size)
    clips.foreach { case (id, ch, rate, s) =>
      val peak = s.map(v => math.abs(v.toInt)).max
      val meanAbs = s.map(v => math.abs(v.toInt).toLong).sum.toDouble / s.length
      assert(got(id) === ((ch, rate, s.length / ch, peak, meanAbs)), s"clip $id")
    }
  }

  test("WAV parser: chunk walk skips unknown chunks, rejects malformed payloads") {
    val good = Multimodal.encodeWav(2, 8000, Array[Short](100, -100, 32767, -32768))
    val hd = Multimodal.parseWav(good)
    assert(hd.map(h => (h.numChannels, h.sampleRate, h.nFrames)) === Some((2, 8000, 2)))
    // an unknown odd-sized LIST chunk between fmt and data must be skipped
    // via declared-size + pad (the RIFF word-alignment rule)
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ "abc".getBytes("US-ASCII") :+ 0.toByte
    val withList = good.take(36) ++ list ++ good.drop(36)
    assert(Multimodal.parseWav(withList)
      .map(h => (h.numChannels, h.nFrames)) === Some((2, 2)))
    assert(Multimodal.parseWav("RIFF but not audio text".getBytes) === None)
    assert(Multimodal.parseWav(good.take(40)) === None) // no data chunk reach
    // a data chunk whose declared size overruns the payload is a lie, not
    // a shorter clip
    val lying = good.clone(); lying(40) = (lying(40) + 8).toByte
    assert(Multimodal.parseWav(lying) === None)
    // non-PCM (format tag 3 = float) rejected, not garbled
    val float32 = good.clone(); float32(20) = 3
    assert(Multimodal.parseWav(float32) === None)
  }

  test("WAV resample: frame decimation keeps whole frames and halves the rate") {
    // 2-channel, 5 frames; frame f carries (10f, -10f) — unambiguous
    // source frames so a geometry bug moves a value
    val samples = (0 until 5).flatMap(f => Seq((10 * f).toShort, (-10 * f).toShort)).toArray
    val packed = Seq((9L, Multimodal.encodeWav(2, 8000, samples)))
      .toDF("doc_id", "payload")
    val out = Multimodal.resampleWav(spark, packed, 2).collect()
    val bytes = out(0).getAs[Array[Byte]]("payload")
    val hd = Multimodal.parseWav(bytes).get
    assert((hd.numChannels, hd.sampleRate, hd.nFrames) === ((2, 4000, 3)))
    // kept frames 0, 2, 4 with BOTH channels intact
    val kept = (0 until 6).map { s =>
      (((bytes(hd.dataStart + 2 * s) & 0xFF) |
        (bytes(hd.dataStart + 2 * s + 1) << 8)).toShort)
    }
    assert(kept === Seq[Short](0, 0, 20, -20, 40, -40))
    // identity factor re-encodes the identical clip
    val same = Multimodal.resampleWav(spark, packed, 1).collect()
    assert(same(0).getAs[Array[Byte]]("payload").toSeq ===
      Multimodal.encodeWav(2, 8000, samples).toSeq)
  }

  test("AVI round-trip: encode → decode recovers geometry and exact channel means") {
    val rnd = new scala.util.Random(47)
    val vids = (1L to 20L).map { id =>
      val w = 1 + rnd.nextInt(12)
      val h = 1 + rnd.nextInt(10)
      val n = 1 + rnd.nextInt(6)
      val mpf = 1 + rnd.nextInt(100000)
      val stride = (3 * w + 3) & ~3
      val frames = Seq.fill(n)(Array.fill(stride * h)(rnd.nextInt(256).toByte))
      (id, w, h, n, mpf, frames)
    }
    val packed = vids.map { case (id, w, h, _, mpf, fr) =>
      (id, Multimodal.encodeAvi(w, h, mpf, fr))
    }.toDF("doc_id", "payload")
    val got = Multimodal.decodeVideo(spark, packed)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    assert(got.size === vids.size)
    vids.foreach { case (id, w, h, n, mpf, frames) =>
      val stride = (3 * w + 3) & ~3
      // stride-aware reference means: padding bytes EXCLUDED
      var sb = 0L; var sg = 0L; var sr = 0L
      for (fr <- frames; y <- 0 until h; x <- 0 until w) {
        sb += fr(y * stride + 3 * x) & 0xFF
        sg += fr(y * stride + 3 * x + 1) & 0xFF
        sr += fr(y * stride + 3 * x + 2) & 0xFF
      }
      val nPx = w.toLong * h * n
      assert(got(id) === ((w, h, n, mpf, sb.toDouble / nPx,
        sg.toDouble / nPx, sr.toDouble / nPx)), s"vid $id")
    }
  }

  test("AVI decode excludes stride padding from the channel means") {
    // w = 3 → 9 pixel bytes, stride 12: three pad bytes per row. Poison
    // the padding with 0xFF — a naive flat mean moves, a stride-aware
    // one does not.
    val (w, h) = (3, 2)
    val stride = (3 * w + 3) & ~3
    val frame = Array.fill(stride * h)(0.toByte)
    for (y <- 0 until h) {
      for (x <- 0 until w) {
        frame(y * stride + 3 * x) = 10 // B
        frame(y * stride + 3 * x + 1) = 20 // G
        frame(y * stride + 3 * x + 2) = 30 // R
      }
      for (p <- 3 * w until stride) frame(y * stride + p) = 0xFF.toByte
    }
    val packed = Seq((5L, Multimodal.encodeAvi(w, h, 40000, Seq(frame))))
      .toDF("doc_id", "payload")
    val r = Multimodal.decodeVideo(spark, packed).collect()(0)
    assert((r.getDouble(5), r.getDouble(6), r.getDouble(7)) ===
      ((10.0, 20.0, 30.0)))
  }

  test("AVI parser: junk chunks skipped, malformed and non-video payloads rejected") {
    val stride = (3 * 2 + 3) & ~3
    val good = Multimodal.encodeAvi(2, 2, 33333,
      Seq(Array.fill(stride * 2)(7.toByte)))
    assert(Multimodal.parseAvi(good).map(h =>
      (h.width, h.height, h.nFrames)) === Some((2, 2, 1)))
    // an unknown odd-sized chunk before hdrl must skip via size + pad
    val junk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ "abc".getBytes("US-ASCII") :+ 0.toByte
    val withJunk = (good.take(12) ++ junk ++ good.drop(12)).clone()
    // patch the RIFF size for the 12 inserted bytes
    val newLen = (withJunk.length - 8).toLong
    for (j <- 0 until 4)
      withJunk(4 + j) = ((newLen >> (8 * j)) & 0xFF).toByte
    assert(Multimodal.parseAvi(withJunk).map(h =>
      (h.width, h.height, h.nFrames)) === Some((2, 2, 1)))
    assert(Multimodal.parseAvi("RIFF but not a movie".getBytes) === None)
    assert(Multimodal.parseAvi(good.take(60)) === None) // truncated
    // frame chunk whose size lies past the payload end
    val lying = good.clone()
    val frameSzOff = good.length - (stride * 2) - 4
    lying(frameSzOff) = (lying(frameSzOff) + 64).toByte
    assert(Multimodal.parseAvi(lying) === None)
    // WAV payloads are not videos and vice versa
    val wav = Multimodal.encodeWav(1, 8000, Array[Short](1, 2, 3, 4))
    assert(Multimodal.parseAvi(wav) === None)
    assert(Multimodal.parseWav(good) === None)
  }

  test("AVI decimation keeps the right frames and re-encodes a valid container") {
    // 5 frames, frame f is flat value 10·f — selection bugs move a mean
    val (w, h) = (2, 3)
    val stride = (3 * w + 3) & ~3
    val frames = (0 until 5).map { f =>
      val fr = new Array[Byte](stride * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        fr(y * stride + 3 * x + c) = (10 * f).toByte
      fr
    }
    val packed = Seq((3L, Multimodal.encodeAvi(w, h, 20000, frames)))
      .toDF("doc_id", "payload")
    val out = Multimodal.decimateAvi(spark, packed, 2).collect()
    val hd = Multimodal.parseAvi(out(0).getAs[Array[Byte]]("payload")).get
    assert((hd.width, hd.height, hd.nFrames, hd.microsPerFrame) ===
      ((2, 3, 3, 40000)))
    val dec = Multimodal.decodeVideo(spark,
      Multimodal.decimateAvi(spark, packed, 2)).collect()(0)
    // kept frames 0, 2, 4 → mean flat value (0 + 20 + 40) / 3
    assert(dec.getDouble(5) === 20.0)
    // identity factor re-encodes the byte-identical container
    val same = Multimodal.decimateAvi(spark, packed, 1).collect()
    assert(same(0).getAs[Array[Byte]]("payload").toSeq === Multimodal
      .encodeAvi(w, h, 20000, frames).toSeq)
  }

  test("PNG round-trip: every filter type inverts to the exact pixel plane") {
    val rnd = new scala.util.Random(73)
    for (filter <- 0 to 4) {
      val w = 1 + rnd.nextInt(20)
      val h = 2 + rnd.nextInt(20) // ≥ 2 rows so Up/Paeth see real history
      val rgb = Array.fill(3 * w * h)(rnd.nextInt(256).toByte)
      val png = Multimodal.encodePng(w, h, rgb, _ => filter)
      val img = Multimodal.parsePng(png)
      assert(img.isDefined, s"filter $filter")
      assert(img.get.width === w && img.get.height === h)
      assert(img.get.rgb.toSeq === rgb.toSeq, s"filter $filter")
    }
    // mixed filters per row — the shape the registered query gates
    val rgb = Array.fill(3 * 5 * 7)(rnd.nextInt(256).toByte)
    val mixed = Multimodal.parsePng(
      Multimodal.encodePng(5, 7, rgb, y => y % 5))
    assert(mixed.get.rgb.toSeq === rgb.toSeq)
  }

  test("PNG parser: CRC corruption, truncation, and non-RGB payloads reject") {
    val rgb = Array.fill(3 * 4 * 3)(55.toByte)
    val good = Multimodal.encodePng(4, 3, rgb)
    assert(Multimodal.parsePng(good).isDefined)
    // flip one IDAT byte: the chunk CRC must catch it
    val corrupt = good.clone()
    corrupt(8 + 12 + 13 + 8 + 2) = (corrupt(8 + 12 + 13 + 8 + 2) ^ 0x40).toByte
    assert(Multimodal.parsePng(corrupt) === None)
    assert(Multimodal.parsePng(good.take(30)) === None) // truncated
    assert(Multimodal.parsePng("not a png at all".getBytes) === None)
    // grayscale (color type 0) is outside the decoder's contract
    val gray = good.clone(); gray(8 + 8 + 9) = 0
    assert(Multimodal.parsePng(gray) === None) // (CRC also catches it)
    // an ancillary chunk between IHDR and IDAT skips cleanly
    val ihdrEnd = 8 + 12 + 13
    val text = {
      val data = "k v".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      val tb = "tEXt".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      crc.update(tb); crc.update(data)
      val v = crc.getValue
      Array[Byte](0, 0, 0, data.length.toByte) ++ tb ++ data ++ Array(
        ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    }
    val withText = good.take(ihdrEnd) ++ text ++ good.drop(ihdrEnd)
    assert(Multimodal.parsePng(withText).map(_.rgb.toSeq) === Some(rgb.toSeq))
    // IDAT split across chunks must concatenate: rebuild the file with
    // the compressed stream cut into two CRC'd IDAT chunks
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def chunkOf(tpe: String, data: Array[Byte]): Array[Byte] = {
      val tb = tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      be32(data.length.toLong) ++ tb ++ data ++ be32(crc.getValue)
    }
    val idatLen = ((good(ihdrEnd) & 0xFF) << 24) |
      ((good(ihdrEnd + 1) & 0xFF) << 16) |
      ((good(ihdrEnd + 2) & 0xFF) << 8) | (good(ihdrEnd + 3) & 0xFF)
    val idat = good.slice(ihdrEnd + 8, ihdrEnd + 8 + idatLen)
    val cut = idatLen / 2
    val split = good.take(ihdrEnd) ++
      chunkOf("IDAT", idat.take(cut)) ++
      chunkOf("IDAT", idat.drop(cut)) ++
      chunkOf("IEND", Array.emptyByteArray)
    assert(Multimodal.parsePng(split).map(_.rgb.toSeq) === Some(rgb.toSeq))
    // a CRC-valid zlib stream with FDICT set must REJECT, not spin:
    // Inflater.inflate returns 0 with needsDictionary()=true and
    // needsInput()=false forever — before the guard this hung the thread.
    // 0x78 0x20: CMF=0x78, FLG has bit 5 (FDICT) and (CMF·256+FLG)%31==0.
    val fdict = good.take(ihdrEnd) ++
      chunkOf("IDAT", Array[Byte](0x78, 0x20, 1, 2, 3, 4, 9, 9, 9, 9)) ++
      chunkOf("IEND", Array.emptyByteArray)
    assert(Multimodal.parsePng(fdict) === None)
  }

  test("PNG→PPM transcode re-emits the byte-identical P6 payload") {
    val rnd = new scala.util.Random(79)
    val images = (1L to 10L).map { id =>
      val w = 1 + rnd.nextInt(12)
      val h = 1 + rnd.nextInt(12)
      (id, w, h, Array.fill(3 * w * h)(rnd.nextInt(256).toByte))
    }
    val packed = images.map { case (id, w, h, rgb) =>
      (id, Multimodal.encodePng(w, h, rgb, y => (y + 1) % 5))
    }.toDF("doc_id", "payload")
    val got = Multimodal.pngToPpm(spark, packed).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    images.foreach { case (id, w, h, rgb) =>
      assert(got(id).toSeq === Multimodal.encodePpm(w, h, rgb).toSeq, s"img $id")
    }
  }

  test("GIF round-trip: hand-rolled LZW inverts exactly on random index streams") {
    val rnd = new scala.util.Random(83)
    for (trial <- 1 to 12) {
      val nColors = Seq(2, 4, 7, 16, 200)(trial % 5)
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val palette = Array.fill(nColors)(Array(
        rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      // low-entropy runs force dictionary reuse and width growth;
      // high-entropy tails force fresh entries
      val indices = Array.tabulate(w * h) { p =>
        (if (p % 3 == 0) rnd.nextInt(nColors) else p % nColors).toByte
      }
      val gif = Multimodal.encodeGif87a(w, h, palette, indices)
      val img = Multimodal.parseGif(gif)
      assert(img.isDefined, s"trial $trial")
      assert(img.get.width === w && img.get.height === h)
      assert(img.get.indices.toSeq === indices.toSeq, s"trial $trial")
      // the GCT pads to the next power of two with black; only the
      // leading entries (the ones indices can reference) must match
      assert(img.get.palette.take(nColors).map(_.toSeq).toSeq ===
        palette.map(_.toSeq).toSeq, s"trial $trial")
    }
  }

  test("GIF LZW: the KwKwK self-referencing code round-trips") {
    // 'ababab…' is the canonical stream whose encoder emits a code the
    // decoder has not finished defining (cScSc pattern)
    val palette = Array(Array(10, 20, 30), Array(200, 210, 220))
    val indices = Array.tabulate(64)(p => (p % 2).toByte)
    val img = Multimodal.parseGif(
      Multimodal.encodeGif87a(8, 8, palette, indices))
    assert(img.map(_.indices.toSeq) === Some(indices.toSeq))
    // and a dictionary-growth stress: 4096+ entries freeze the table
    val rnd = new scala.util.Random(89)
    val big = Array.fill(120 * 120)(rnd.nextInt(16).toByte)
    val pal16 = Array.fill(16)(Array(rnd.nextInt(256), 0, 0))
    val bigImg = Multimodal.parseGif(
      Multimodal.encodeGif87a(120, 120, pal16, big))
    assert(bigImg.map(_.indices.toSeq) === Some(big.toSeq))
  }

  test("GIF cross-implementation: javax.imageio decodes our encoder's output") {
    // a symmetric convention error (both sides widening the LZW code
    // width one insert early) passes every round-trip test — only an
    // INDEPENDENT implementation can catch it. ImageIO is the JDK's.
    val rnd = new scala.util.Random(107)
    for (nColors <- Seq(2, 4, 16, 64, 200)) {
      val w = 40; val h = 30
      val palette = Array.fill(nColors)(Array(
        rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      // runs + noise: crosses several width boundaries for 16+ colors
      val indices = Array.tabulate(w * h) { p =>
        (if (p % 3 == 0) rnd.nextInt(nColors) else p % nColors).toByte
      }
      val gif = Multimodal.encodeGif87a(w, h, palette, indices)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(gif))
      assert(img != null, s"ImageIO rejected our GIF ($nColors colors)")
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val c = palette(indices(y * w + x) & 0xFF)
        val expect = 0xFF000000 | (c(0) << 16) | (c(1) << 8) | c(2)
        assert(img.getRGB(x, y) === expect,
          s"pixel ($x,$y) of the $nColors-color image")
      }
    }
  }

  test("GIF cross-implementation: we decode javax.imageio's output (89a + extensions)") {
    val rnd = new scala.util.Random(113)
    val w = 33; val h = 21; val nColors = 16
    val r = new Array[Byte](nColors); val g = new Array[Byte](nColors)
    val b = new Array[Byte](nColors)
    for (c <- 0 until nColors) {
      r(c) = rnd.nextInt(256).toByte; g(c) = rnd.nextInt(256).toByte
      b(c) = rnd.nextInt(256).toByte
    }
    val icm = new java.awt.image.IndexColorModel(4, nColors, r, g, b)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val indices = Array.tabulate(w * h) { p =>
      (if (p % 3 == 0) rnd.nextInt(nColors) else p % nColors).toByte
    }
    img.getRaster.setDataElements(0, 0, w, h, indices)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", baos),
      "no JDK GIF writer?")
    val parsed = Multimodal.parseGif(baos.toByteArray)
    assert(parsed.isDefined, "parseGif rejected an ImageIO-written GIF")
    assert(parsed.get.width === w && parsed.get.height === h)
    // compare through the palettes: index spaces may differ, RGB must not
    val got = parsed.get
    for (p <- 0 until w * h) {
      val expect = Seq(r(indices(p) & 0xFF) & 0xFF,
        g(indices(p) & 0xFF) & 0xFF, b(indices(p) & 0xFF) & 0xFF)
      assert(got.palette(got.indices(p) & 0xFF).toSeq === expect, s"pixel $p")
    }
  }

  test("GIF parser rejects malformed payloads") {
    val palette = Array(Array(1, 2, 3), Array(4, 5, 6))
    val good = Multimodal.encodeGif87a(3, 2, palette,
      Array[Byte](0, 1, 0, 1, 0, 1))
    assert(Multimodal.parseGif(good).isDefined)
    assert(Multimodal.parseGif("GIF89a rest is garbage".getBytes) === None)
    assert(Multimodal.parseGif(good.take(20)) === None) // truncated
    // a corrupted LZW byte must fail the dictionary walk or pixel count,
    // never return wrong pixels silently: flip a code byte mid-stream
    val corrupt = good.clone()
    corrupt(good.length - 4) = (corrupt(good.length - 4) ^ 0x7F).toByte
    val parsed = Multimodal.parseGif(corrupt)
    assert(parsed.isEmpty ||
      parsed.get.indices.forall(ix => (ix & 0xFF) < 2))
    // PNG and GIF reject each other
    val rgb = Array.fill(3 * 2 * 2)(9.toByte)
    assert(Multimodal.parseGif(Multimodal.encodePng(2, 2, rgb)) === None)
    assert(Multimodal.parsePng(good) === None)
  }

  test("sniffAndDecode routes a mixed-format batch to the right decoders") {
    val ppm = Multimodal.encodePpm(2, 2, Array.fill(12)(100.toByte))
    val wav = Multimodal.encodeWav(1, 8000, Array[Short](500, -500))
    val stride = (3 * 2 + 3) & ~3
    val avi = Multimodal.encodeAvi(2, 2, 40000,
      Seq(Array.fill(stride * 2)(30.toByte)))
    val png = Multimodal.encodePng(2, 2, Array.fill(12)(80.toByte))
    val gif = Multimodal.encodeGif87a(2, 2,
      Array(Array(60, 0, 0)), Array[Byte](0, 0, 0, 0))
    val jpeg = Multimodal.encodeJpeg(4, 3, Array.fill(3 * 4 * 3)(90.toByte))
    val noise = "just some text payload".getBytes
    val packed = Seq((1L, ppm), (2L, wav), (3L, avi), (4L, png), (5L, gif),
      (6L, noise), (7L, jpeg)).toDF("doc_id", "payload")
    val got = Multimodal.sniffAndDecode(spark, packed)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    assert(got === Map(
      1L -> (("ppm", 100.0)), 2L -> (("wav", 500.0)),
      3L -> (("avi", 30.0)), 4L -> (("png", 80.0)),
      5L -> (("gif", 60.0)), // noise claimed by nobody
      7L -> (("jpeg", 4003.0)))) // structural metric: w·1000 + h
  }

  test("JPEG round-trip: dims exact, flat-color means within DC-quant tolerance") {
    // Flat color ⇒ DC-only blocks: the only loss is DC quantization +
    // YCbCr rounding. The query gate allows ±8; assert the same bound
    // here across dims that cover sub-block (1×1), edge-MCU (9×10) and
    // multi-MCU (17×12) geometries, and colors across the range.
    for {
      (w, h) <- Seq((1, 1), (3, 5), (8, 8), (9, 10), (17, 12))
      (r, g, b) <- Seq((0, 0, 0), (255, 255, 255), (37, 62, 21), (200, 13, 117))
    } {
      val rgb = new Array[Byte](3 * w * h)
      var i = 0
      while (i < rgb.length) {
        rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
        i += 3
      }
      val enc = Multimodal.encodeJpeg(w, h, rgb)
      assert(Multimodal.isJpeg(enc))
      val dec = Multimodal.decodeJpegBytes(enc)
      assert(dec.isDefined, s"decode failed for ${w}x$h rgb($r,$g,$b)")
      val (dw, dh, mr, mg, mb) = dec.get
      assert(dw === w && dh === h)
      assert(math.abs(mr - r) <= 8 && math.abs(mg - g) <= 8 &&
        math.abs(mb - b) <= 8,
        s"${w}x$h rgb($r,$g,$b) decoded means ($mr,$mg,$mb)")
    }
    // Non-flat content: a gradient's CHANNEL MEAN is still held by the
    // DC coefficients — the mean survives within the same tolerance even
    // though individual pixels do not.
    val w = 16; val h = 16
    val grad = Array.tabulate(3 * w * h) { i =>
      val p = i / 3
      (((p % w) * 16 + (p / w)) % 256).toByte
    }
    var (er, eg, eb) = (0L, 0L, 0L)
    var i = 0
    while (i < grad.length) {
      er += grad(i) & 0xFF; eg += grad(i + 1) & 0xFF; eb += grad(i + 2) & 0xFF
      i += 3
    }
    val n = (w * h).toDouble
    val (_, _, mr, mg, mb) =
      Multimodal.decodeJpegBytes(Multimodal.encodeJpeg(w, h, grad)).get
    assert(math.abs(mr - er / n) <= 8 && math.abs(mg - eg / n) <= 8 &&
      math.abs(mb - eb / n) <= 8)
  }

  test("JPEG is magic-gated: rejects other formats, truncation, and is rejected back") {
    val rgb = Array.fill(3 * 4 * 4)(90.toByte)
    val jpeg = Multimodal.encodeJpeg(4, 4, rgb)
    // the other structured parsers do not claim a JPEG payload
    assert(Multimodal.parsePng(jpeg) === None)
    assert(Multimodal.parseGif(jpeg) === None)
    assert(Multimodal.parsePpm(jpeg) === None)
    assert(Multimodal.parseWav(jpeg) === None)
    assert(Multimodal.parseAvi(jpeg) === None)
    // the JPEG gate does not claim theirs — CRITICAL because ImageIO
    // itself would happily decode a PNG or GIF if handed one
    assert(!Multimodal.isJpeg(Multimodal.encodePng(4, 4, rgb)))
    assert(!Multimodal.isJpeg(Multimodal.encodeGif87a(2, 2,
      Array(Array(1, 2, 3)), Array[Byte](0, 0, 0, 0))))
    assert(!Multimodal.isJpeg(Multimodal.encodePpm(4, 4, rgb)))
    assert(!Multimodal.isJpeg("plain text".getBytes))
    assert(!Multimodal.isJpeg(Array[Byte]()))
    // entropy-data truncation rejects rather than emitting a wrong image
    val cut = java.util.Arrays.copyOfRange(jpeg, 0, jpeg.length / 2)
    assert(Multimodal.decodeJpegBytes(cut) === None)
  }

  test("MP4 mux/demux round-trip resolves the exact sample table") {
    val bodies = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5),
      Array[Byte](6, 7, 8, 9))
    val durs = Seq(100, 100, 200)
    val mp4 = Multimodal.encodeMp4(6, 4, 1000, durs, bodies)
    val t = Multimodal.parseMp4(mp4).get
    assert(t.width === 6 && t.height === 4)
    assert(t.timescale === 1000L && t.duration === 400L)
    assert(t.fourcc === "raw ")
    assert(t.durations === Vector(100, 100, 200))
    assert(t.samples.map(_._2) === Vector(3, 2, 4))
    // resolved extents reproduce the exact bodies
    val got = t.samples.map { case (off, sz) =>
      java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + sz).toSeq
    }
    assert(got === bodies.map(_.toSeq))
    // stts run-length coding survives equal-duration runs
    val t2 = Multimodal.parseMp4(
      Multimodal.encodeMp4(2, 2, 90, Seq(50, 50, 50),
        Seq(Array[Byte](1), Array[Byte](2), Array[Byte](3)))).get
    assert(t2.durations === Vector(50, 50, 50) && t2.duration === 150L)
  }

  test("MP4 parser rejects malformed payloads instead of guessing") {
    val mp4 = Multimodal.encodeMp4(3, 3, 600, Seq(10, 20),
      Seq(Array[Byte](1, 2), Array[Byte](3)))
    assert(Multimodal.parseMp4(mp4).isDefined)
    // truncation anywhere rejects
    assert(Multimodal.parseMp4(
      java.util.Arrays.copyOfRange(mp4, 0, mp4.length - 5)) === None)
    // a lying top-level box size rejects
    val lie = mp4.clone(); lie(3) = (lie(3) + 4).toByte
    assert(Multimodal.parseMp4(lie) === None)
    // tkhd/stsd dimension disagreement rejects: patch stsd width (16-bit
    // big-endian) without touching tkhd
    def patch16(bytes: Array[Byte], tagName: String, off: Int, v: Int): Array[Byte] = {
      val s = new String(bytes.map(_.toChar))
      val i = s.indexOf(tagName)
      assert(i > 0)
      val out = bytes.clone()
      out(i + off) = ((v >> 8) & 0xFF).toByte
      out(i + off + 1) = (v & 0xFF).toByte
      out
    }
    // VisualSampleEntry width sits 28 bytes past its fourcc "raw "
    assert(Multimodal.parseMp4(patch16(mp4, "raw ", 28, 99)) === None)
    // other-format payloads never parse as MP4, and vice versa
    assert(Multimodal.parseMp4("RIFFxxxxAVI ".getBytes) === None)
    assert(Multimodal.parseAvi(mp4) === None)
    assert(Multimodal.parsePng(mp4) === None)
    // an undersized fixed-layout box at EOF must REJECT, never throw:
    // ftyp + an 8-byte (empty-body) moov/trak/mdia/mdhd nest would read
    // header fields past the buffer without the backstop
    def box(t: String, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](8 + body.length)
      val sz = out.length
      out(0) = (sz >> 24).toByte; out(1) = (sz >> 16).toByte
      out(2) = (sz >> 8).toByte; out(3) = sz.toByte
      t.zipWithIndex.foreach { case (c, i) => out(4 + i) = c.toByte }
      System.arraycopy(body, 0, out, 8, body.length)
      out
    }
    val crafted = box("ftyp", "isomxxxx".getBytes) ++
      box("mdat", Array[Byte](1)) ++
      box("moov", box("trak", box("mdia", box("mdhd", Array.empty[Byte]))))
    assert(Multimodal.parseMp4(crafted) === None)
  }

  test("MP4 container frame sampling keeps every Nth sample exactly") {
    import spark.implicits._
    val bodies = (0 until 5).map(f => Array.fill(f + 1)((10 * f).toByte))
    val mp4 = Multimodal.encodeMp4(2, 2, 30, Seq.fill(5)(10), bodies)
    val df = Seq((7L, mp4)).toDF("doc_id", "payload")
    val kept = Multimodal.sampleMp4(spark, df, 2)
      .orderBy("sample_idx").collect()
    assert(kept.map(_.getInt(1)).toSeq === Seq(0, 2, 4))
    assert(kept.map(_.getInt(3)).toSeq === Seq(1, 3, 5), "sizes of kept samples")
    assert(kept.map(_.getLong(4)).toSeq === Seq(0L, 60L, 200L), "byte sums")
  }

  test("MP3 frame walk: VBR lengths, ID3 skip, and exact payload sums round-trip") {
    // three frames: 128k/0pad, 320k/1pad, 32k/0pad at 44100
    val mp3 = Multimodal.encodeMp3(0,
      Seq((9, 0, 7.toByte), (14, 1, 9.toByte), (1, 0, 3.toByte)))
    val m = Multimodal.parseMp3(mp3).get
    assert(m.nFrames === 3 && m.sampleRate === 44100)
    val lens = Seq(144000 * 128 / 44100, 144000 * 320 / 44100 + 1,
      144000 * 32 / 44100)
    assert(m.totalBytes === lens.sum)
    assert(m.kbpsSum === 128L + 320L + 32L)
    assert(m.payloadSum ===
      lens.zip(Seq(7L, 9L, 3L)).map { case (l, v) => (l - 4) * v }.sum)
    // ID3v2 prefix skips by synchsafe size
    val tagged = Multimodal.encodeMp3(1, Seq((5, 0, 1.toByte)),
      Array.fill(200)(88.toByte))
    val mt = Multimodal.parseMp3(tagged).get
    assert(mt.sampleRate === 48000 && mt.nFrames === 1)
    assert(mt.totalBytes === tagged.length)
  }

  test("MP3 parser rejects malformed streams") {
    val mp3 = Multimodal.encodeMp3(2, Seq((3, 0, 5.toByte), (3, 0, 5.toByte)))
    assert(Multimodal.parseMp3(mp3).isDefined)
    // truncation mid-frame rejects
    assert(Multimodal.parseMp3(
      java.util.Arrays.copyOfRange(mp3, 0, mp3.length - 3)) === None)
    // trailing garbage rejects (a frame walk must end exactly at EOF)
    assert(Multimodal.parseMp3(mp3 :+ 0x55.toByte) === None)
    // bitrate index 15 (forbidden) rejects
    val bad = mp3.clone(); bad(2) = 0xF8.toByte
    assert(Multimodal.parseMp3(bad) === None)
    // other formats never parse as MP3 and vice versa
    assert(Multimodal.parseMp3("RIFFxxxxWAVE".getBytes) === None)
    assert(Multimodal.parseWav(mp3) === None)
    assert(Multimodal.parseMp4(mp3) === None)
  }

  test("frame sampling keeps every Nth full frame and drops the partial tail") {
    val f = Multimodal.sampleFrames(spark, packed, frameBytes = 64, every = 2)
      .orderBy("doc_id", "frame_idx").collect()
    // doc 1: 200 bytes -> 3 full frames (0,1,2), keep 0 and 2; doc 2: none
    assert(f.map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((1L, 0), (1L, 2)))
    assert(f.forall(_.getInt(2) === 64))
    // fingerprint matches an independent recompute of the same slice
    val bytes = ("abcdefghij" * 20).getBytes("UTF-8")
    val expectFp = bytes.slice(128, 192)
      .foldLeft(0L)((h, b) => (h * 31 + (b & 0xFF)) % 1000000007L)
    assert(f(1).getLong(3) === expectFp)
  }
}
