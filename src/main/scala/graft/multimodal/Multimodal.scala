package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed per-media features produced by the decode stage. */
final case class MediaFeatures(
    doc_id: Long,
    kind: String,
    n_bytes: Int,
    payload_fp: Long,
    fake_width: Int)

/** One sampled frame emitted by the frame-sample stage. */
final case class SampledFrame(
    doc_id: Long,
    frame_idx: Int,
    n_bytes: Int,
    frame_fp: Long)

/** Typed features decoded from a real image payload. */
final case class ImageFeatures(
    doc_id: Long,
    width: Int,
    height: Int,
    mean_r: Double,
    mean_g: Double,
    mean_b: Double)

/** Typed features decoded from a real BMP payload. `top_r/g/b` are the
  * IMAGE-space top-left pixel's channels — the orientation witness: a
  * decoder that forgets DIB rows are stored bottom-up reports the
  * bottom row here and hash-mismatches loudly. */
final case class BmpFeatures(
    doc_id: Long,
    width: Int,
    height: Int,
    sum_r: Long,
    sum_g: Long,
    sum_b: Long,
    top_r: Int,
    top_g: Int,
    top_b: Int)

/** 64-bit average perceptual hash of a decoded image (8×8 grid). */
final case class ImageHash(
    doc_id: Long,
    width: Int,
    height: Int,
    ahash: Long)

/** Typed features decoded from a real audio payload. */
final case class AudioFeatures(
    doc_id: Long,
    n_channels: Int,
    sample_rate: Int,
    n_frames: Int,
    peak: Int,
    mean_abs: Double)

/** Multimodal-column plumbing (SURVEY §2b E6 / training-pipeline surface):
  * media as opaque `binary` payloads + typed metadata, with decode /
  * feature-extraction running batch-wise on executors via `mapPartitions`
  * over a typed Dataset — the Scala-native equivalent of a Pandas-UDF
  * decode stage.
  *
  * The image, audio, and video paths are REAL for every format a bare
  * JVM can own without codec libraries: binary PPM (P6) —
  * [[Multimodal.parsePpm]] / [[Multimodal.encodePpm]] /
  * [[Multimodal.resizePpm]] do actual byte-format work (header grammar
  * with comments, exact pixel-plane length, channel-interleaved RGB,
  * nearest-neighbor downsample that re-emits a valid P6); RIFF/WAVE
  * 16-bit PCM — [[Multimodal.parseWav]] / [[Multimodal.encodeWav]] /
  * [[Multimodal.resampleWav]] walk the chunk container and decimate
  * real interleaved frames; RIFF/AVI uncompressed BI_RGB video —
  * [[Multimodal.parseAvi]] / [[Multimodal.encodeAvi]] /
  * [[Multimodal.decodeVideo]] / [[Multimodal.decimateAvi]] run the
  * two-level list walk with stride-aware pixel access; and PNG — a
  * genuinely COMPRESSED format — [[Multimodal.parsePng]] /
  * [[Multimodal.encodePng]] / [[Multimodal.pngToPpm]] verify chunk
  * CRC32s, inflate the zlib stream through java.util.zip, and invert
  * all five scanline filters. JPEG rides the JDK's OWN bundled
  * baseline codec ([[Multimodal.encodeJpeg]] /
  * [[Multimodal.decodeJpegImages]] via javax.imageio — lossy, so its
  * gate is a tolerance verdict, not a hash of raw means). The remaining
  * codec-bound formats (MP3/MP4) stay deterministic stubs in
  * [[Multimodal.decodeFeatures]] — no audio/video codecs exist in a
  * bare JVM — but swapping one in changes only that function body: the
  * binary column schema, partition-parallel batch iteration, and typed
  * Encoder output are the same plumbing the real paths already
  * exercise end-to-end.
  *
  * Scale: payloads never pass through the driver; a partition processes its
  * media in a streaming iterator (no per-partition materialization), so
  * executor memory bounds batch size, and binary columns ride Parquet's
  * byte-array encoding with the rest of the row.
  */
object Multimodal {

  /** Stand-in corpus: pack documents as (binary payload, kind, metadata) —
    * the shape an image/audio table would have. */
  def packDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("text").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      map(
        lit("lang"), col("lang"),
        lit("source"), col("source")).as("meta"))

  /** Rabin–Karp fingerprint of a byte payload (the stub "content hash"
    * shared by decode and frame-sample; DuckDB recomputes it via
    * list_reduce over ascii codes on the ASCII corpus). */
  private[multimodal] def byteFp(bytes: Array[Byte], from: Int, until: Int): Long = {
    var fp = 0L
    var i = from
    while (i < until) {
      fp = (fp * 31 + (bytes(i) & 0xFF)) % 1000000007L
      i += 1
    }
    fp
  }

  /** Parsed P6 header: dimensions, sample ceiling, and where the
    * channel-interleaved RGB plane starts in the payload. */
  final case class PpmHeader(width: Int, height: Int, maxVal: Int,
      pixelStart: Int)

  /** Parse a binary-PPM (P6) header — a REAL byte-format parse: magic,
    * `#` comments anywhere whitespace is allowed, decimal width / height /
    * maxval, the single whitespace byte that terminates the header, and
    * the requirement that the payload length EXACTLY covers the 3·w·h
    * sample plane (8-bit samples only). The exact-length rule is also the
    * false-positive guard: arbitrary text starting with "P6" never
    * carries a byte-exact pixel plane, so non-image payloads fall through
    * to the stub path instead of mis-decoding. */
  private[graft] def parsePpm(bytes: Array[Byte]): Option[PpmHeader] = {
    var i = 0
    def skipWs(): Unit = {
      var going = true
      while (going && i < bytes.length) {
        val b = bytes(i)
        if (b == ' ' || b == '\n' || b == '\r' || b == '\t') i += 1
        else if (b == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else going = false
      }
    }
    def int(): Option[Int] = {
      skipWs()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9' &&
          v <= Int.MaxValue) {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      if (i == start || v > Int.MaxValue) None else Some(v.toInt)
    }
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    i = 2
    for {
      w <- int()
      h <- int()
      mx <- int()
      if w >= 1 && h >= 1 && mx >= 1 && mx <= 255
      // exactly ONE whitespace byte after maxval, then the pixel plane
      if i < bytes.length &&
        (bytes(i) == ' ' || bytes(i) == '\n' || bytes(i) == '\r' ||
          bytes(i) == '\t')
      if bytes.length - (i + 1) == 3L * w * h
    } yield PpmHeader(w, h, mx, i + 1)
  }

  /** Emit a valid binary PPM (P6) payload from a channel-interleaved RGB
    * plane. */
  private[graft] def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w >= 1 && h >= 1 && rgb.length == 3 * w * h,
      s"pixel plane must be exactly 3*$w*$h bytes, got ${rgb.length}")
    val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** Decode stage: binary payload → typed features, executor-side. For a
    * structurally complete P6 payload the width is the REAL parsed image
    * width; anything else (the text corpus, compressed formats) takes the
    * deterministic stub width, keeping this function total. */
  def decodeFeatures(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, bytes) =>
          val width = parsePpm(bytes) match {
            case Some(h) => h.width
            // --- deterministic fake decode for non-PPM payloads ---
            case None => (if (bytes.nonEmpty) bytes(0) & 0xFF else 0) % 64 + 1
          }
          MediaFeatures(id, kind, bytes.length, byteFp(bytes, 0, bytes.length), width)
        }
      }
      .toDF()
  }

  /** Real image decode over (doc_id, payload) rows: parse P6, accumulate
    * exact integer channel sums, emit per-channel means — one output row
    * per DECODABLE payload (undecodable rows drop; callers that need
    * error rows anti-join against the input). */
  def decodeImages(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parsePpm(bytes).map { hd =>
            var (sr, sg, sb) = (0L, 0L, 0L)
            var i = hd.pixelStart
            while (i < bytes.length) {
              sr += bytes(i) & 0xFF
              sg += bytes(i + 1) & 0xFF
              sb += bytes(i + 2) & 0xFF
              i += 3
            }
            val n = hd.width.toLong * hd.height
            ImageFeatures(id, hd.width, hd.height,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          }
        }
      }
      .toDF()
  }

  /** Real nearest-neighbor downsample of P6 payloads by an integer
    * factor: output pixel (x, y) is input pixel (x·f, y·f), dims
    * ⌈w/f⌉ × ⌈h/f⌉, re-emitted as a valid P6 payload (decode →
    * transform → re-encode, the actual image-pipeline shape).
    * Undecodable payloads drop. */
  def resizePpm(spark: SparkSession, packed: DataFrame, factor: Int): DataFrame = {
    require(factor > 0, s"resize factor must be positive, got $factor")
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parsePpm(bytes).map { hd =>
            val ow = (hd.width + factor - 1) / factor
            val oh = (hd.height + factor - 1) / factor
            val out = new Array[Byte](3 * ow * oh)
            var y = 0
            while (y < oh) {
              var x = 0
              while (x < ow) {
                val src = hd.pixelStart +
                  3 * (y.toLong * factor * hd.width + x.toLong * factor).toInt
                val dst = 3 * (y * ow + x)
                out(dst) = bytes(src)
                out(dst + 1) = bytes(src + 1)
                out(dst + 2) = bytes(src + 2)
                x += 1
              }
              y += 1
            }
            (id, encodePpm(ow, oh, out))
          }
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Parsed 24-bit BI_RGB BMP: geometry, row direction, and where the
    * padded pixel rows start. Rows are 4-byte aligned (`rowStride`);
    * pixel byte order inside a row is B, G, R (the DIB convention the
    * AVI path already exercises). */
  final case class BmpHeader(width: Int, height: Int, bottomUp: Boolean,
      pixelStart: Int) {
    def rowStride: Int = (3 * width + 3) & ~3
  }

  /** Parse a BMP payload holding an uncompressed 24-bit BITMAPINFOHEADER
    * DIB — the still-image sibling of [[parseAvi]]'s frame DIBs, and the
    * one mainstream image container a bare JVM can own byte-for-byte.
    *
    * Strictness (the family's false-positive guard): 'BM' magic, the
    * header's fileSize field must equal the actual payload length, the
    * DIB header must be exactly BITMAPINFOHEADER (size 40), planes = 1,
    * bpp = 24, compression = BI_RGB (0), and the pixel array (declared
    * offset to EOF) must be exactly rowStride·|height| bytes. Height
    * may be negative — a top-down DIB — and the sign is surfaced so
    * decoders handle BOTH row orders. Any disagreement rejects (None). */
  private[graft] def parseBmp(bytes: Array[Byte]): Option[BmpHeader] = {
    def u16(i: Int): Int =
      (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long = {
      var v = 0L; var j = 3
      while (j >= 0) { v = (v << 8) | (bytes(i + j) & 0xFFL); j -= 1 }
      v
    }
    def i32(i: Int): Int = u32(i).toInt
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    if (u32(2) != bytes.length) return None
    val pixelOff = u32(10)
    if (u32(14) != 40) return None // BITMAPINFOHEADER only
    val w = i32(18)
    val hRaw = i32(22)
    val h = math.abs(hRaw)
    if (w < 1 || hRaw == 0) return None
    if (u16(26) != 1 || u16(28) != 24) return None
    if (u32(30) != 0) return None // BI_RGB
    val stride = (3L * w + 3) & ~3L
    if (pixelOff < 54 || pixelOff > bytes.length) return None
    if (bytes.length - pixelOff != stride * h) return None
    Some(BmpHeader(w, h, bottomUp = hRaw > 0, pixelStart = pixelOff.toInt))
  }

  /** Emit a standard bottom-up 24-bit BI_RGB BMP from an IMAGE-space
    * (top-down, RGB-interleaved) pixel plane — the encoder flips row
    * order and channel order, so a round-trip through [[parseBmp]]
    * exercises both conventions. */
  private[graft] def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w >= 1 && h >= 1 && rgb.length == 3 * w * h,
      s"pixel plane must be exactly 3*$w*$h bytes, got ${rgb.length}")
    val stride = (3 * w + 3) & ~3
    val out = new Array[Byte](54 + stride * h)
    def put16(i: Int, v: Int): Unit = {
      out(i) = (v & 0xFF).toByte; out(i + 1) = ((v >> 8) & 0xFF).toByte
    }
    def put32(i: Int, v: Long): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = ((v >> (8 * j)) & 0xFF).toByte; j += 1 }
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, out.length.toLong); put32(10, 54L)
    put32(14, 40L); put32(18, w.toLong); put32(22, h.toLong)
    put16(26, 1); put16(28, 24); put32(30, 0L)
    put32(34, (stride * h).toLong)
    var y = 0
    while (y < h) {
      val srcRow = 3 * y * w                      // image-space row y
      val dstRow = 54 + stride * (h - 1 - y)      // stored bottom-up
      var x = 0
      while (x < w) {
        out(dstRow + 3 * x) = rgb(srcRow + 3 * x + 2)     // B
        out(dstRow + 3 * x + 1) = rgb(srcRow + 3 * x + 1) // G
        out(dstRow + 3 * x + 2) = rgb(srcRow + 3 * x)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Real BMP decode over (doc_id, payload) rows: exact integer channel
    * sums plus the image-space TOP-LEFT pixel (the bottom-up orientation
    * witness — means alone cannot see a row flip). Undecodable payloads
    * drop. */
  def decodeBmpImages(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseBmp(bytes).map { hd =>
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < hd.height) {
              val row = hd.pixelStart + y * hd.rowStride
              var x = 0
              while (x < hd.width) {
                sb += bytes(row + 3 * x) & 0xFF
                sg += bytes(row + 3 * x + 1) & 0xFF
                sr += bytes(row + 3 * x + 2) & 0xFF
                x += 1
              }
              y += 1
            }
            // image-space top row: LAST stored row when bottom-up
            val topRow = hd.pixelStart +
              (if (hd.bottomUp) (hd.height - 1) * hd.rowStride else 0)
            BmpFeatures(id, hd.width, hd.height, sr, sg, sb,
              bytes(topRow + 2) & 0xFF, bytes(topRow + 1) & 0xFF,
              bytes(topRow) & 0xFF)
          }
        }
      }
      .toDF()
  }

  /** 8×8 average perceptual hash (aHash) of P6 payloads — the
    * image-dedup primitive: near-identical renditions (recompression,
    * mild brightness shifts) land within a few bits, so a Hamming-banded
    * join ([[graft.ops.Similarity.hammingPairs]]) finds them without any
    * pairwise pixel work. Grid cell (cy, cx) covers pixel rows
    * [cy·h/8, (cy+1)·h/8) × cols [cx·w/8, (cx+1)·w/8) (exact integer
    * boundaries); bit cy·8+cx is set iff the cell's gray sum exceeds the
    * image's, compared CROSS-MULTIPLIED in int64 (exact to ~64-MPx
    * images: 765·N² < 2⁶³ needs N = w·h ≲ 1.1·10⁸) — no float mean, no
    * rounding ambiguity at the threshold. Images smaller than the grid
    * drop (a 7px side has empty cells — dedup on sub-icon images is
    * noise anyway). */
  def averageHash(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parsePpm(bytes).filter(h => h.width >= 8 && h.height >= 8)
            .map { hd =>
              val cellSum = new Array[Long](64)
              val cellCnt = new Array[Long](64)
              var y = 0
              while (y < hd.height) {
                val cy = y * 8 / hd.height
                var x = 0
                while (x < hd.width) {
                  val i = hd.pixelStart + 3 * (y * hd.width + x)
                  val gray = (bytes(i) & 0xFF) + (bytes(i + 1) & 0xFF) +
                    (bytes(i + 2) & 0xFF)
                  val cell = cy * 8 + x * 8 / hd.width
                  cellSum(cell) += gray
                  cellCnt(cell) += 1
                  x += 1
                }
                y += 1
              }
              var totalSum = 0L
              var k = 0
              while (k < 64) { totalSum += cellSum(k); k += 1 }
              val totalCnt = hd.width.toLong * hd.height
              var hash = 0L
              k = 0
              while (k < 64) {
                if (cellSum(k) * totalCnt > totalSum * cellCnt(k))
                  hash |= 1L << k
                k += 1
              }
              ImageHash(id, hd.width, hd.height, hash)
            }
        }
      }
      .toDF()
  }

  /** Parsed WAV header: PCM stream geometry and where the sample data
    * lives in the payload. */
  final case class WavHeader(numChannels: Int, sampleRate: Int,
      dataStart: Int, dataLen: Int) {
    def nFrames: Int = dataLen / (2 * numChannels)
  }

  /** Parse a RIFF/WAVE payload holding 16-bit little-endian PCM — the
    * audio sibling of [[parsePpm]], a REAL chunk-walk over the container
    * format: `RIFF` magic + declared size, `WAVE` form type, then chunks
    * in any order with unknown ones (LIST, fact, …) skipped via their
    * declared size padded to even (the RIFF word-alignment rule). Accepts
    * exactly `fmt ` with audioFormat 1 (PCM), 16 bits/sample, a
    * consistent blockAlign, and a `data` chunk fully contained in the
    * payload whose length is a whole number of frames. Everything else →
    * None, so non-audio payloads fall through to the stub path instead of
    * mis-decoding — the same false-positive discipline as the PPM
    * exact-plane-length rule (arbitrary text never carries a coherent
    * chunk walk). */
  private[graft] def parseWav(bytes: Array[Byte]): Option[WavHeader] = {
    def u16(i: Int): Int =
      (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long =
      (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
        ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
    def tag(i: Int, t: String): Boolean =
      bytes(i) == t(0).toByte && bytes(i + 1) == t(1).toByte &&
        bytes(i + 2) == t(2).toByte && bytes(i + 3) == t(3).toByte
    if (bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var fmt: Option[(Int, Int)] = None // (channels, rate)
    var data: Option[(Int, Int)] = None // (start, len)
    while (i + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val sz = u32(i + 4)
      val body = i + 8
      if (sz > bytes.length - body) return None // lying chunk size
      val len = sz.toInt
      if (tag(i, "fmt ")) {
        if (len < 16) return None
        val audioFormat = u16(body)
        val ch = u16(body + 2)
        val rate = u32(body + 4)
        val blockAlign = u16(body + 12)
        val bits = u16(body + 14)
        if (audioFormat != 1 || bits != 16 || ch < 1 ||
            blockAlign != 2 * ch || rate < 1 || rate > Int.MaxValue)
          return None
        fmt = Some((ch, rate.toInt))
      } else if (tag(i, "data")) {
        data = Some((body, len))
      }
      i = body + len + (len & 1) // odd chunk bodies carry a pad byte
    }
    for {
      (ch, rate) <- fmt
      (start, len) <- data
      if len % (2 * ch) == 0
    } yield WavHeader(ch, rate, start, len)
  }

  /** Emit a valid 16-bit PCM RIFF/WAVE payload from channel-interleaved
    * samples (frame-major, little-endian) — the canonical 44-byte-header
    * encoding every audio tool accepts. */
  private[graft] def encodeWav(numChannels: Int, sampleRate: Int,
      samples: Array[Short]): Array[Byte] = {
    require(numChannels >= 1 && samples.length % numChannels == 0,
      s"samples (${samples.length}) must be a whole number of " +
        s"$numChannels-channel frames")
    val dataLen = 2 * samples.length
    val out = new Array[Byte](44 + dataLen)
    def putTag(i: Int, t: String): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = t(j).toByte; j += 1 }
    }
    def put16(i: Int, v: Int): Unit = {
      out(i) = (v & 0xFF).toByte; out(i + 1) = ((v >> 8) & 0xFF).toByte
    }
    def put32(i: Int, v: Long): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = ((v >> (8 * j)) & 0xFF).toByte; j += 1 }
    }
    putTag(0, "RIFF"); put32(4, 36L + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16L)
    put16(20, 1); put16(22, numChannels); put32(24, sampleRate.toLong)
    put32(28, sampleRate.toLong * 2 * numChannels) // byte rate
    put16(32, 2 * numChannels); put16(34, 16)
    putTag(36, "data"); put32(40, dataLen.toLong)
    var s = 0
    while (s < samples.length) {
      put16(44 + 2 * s, samples(s) & 0xFFFF); s += 1
    }
    out
  }

  /** 16-bit LE sample at index `s` of the data chunk, sign-extended. */
  @inline private def sampleAt(bytes: Array[Byte], hd: WavHeader, s: Int): Int =
    ((bytes(hd.dataStart + 2 * s) & 0xFF) |
      (bytes(hd.dataStart + 2 * s + 1) << 8)).toShort.toInt

  /** Real audio decode over (doc_id, payload) rows: parse the RIFF
    * container, accumulate exact integer |sample| sums and the peak over
    * the PCM plane, emit stream geometry + amplitude stats — one output
    * row per decodable payload (undecodable rows drop, as in
    * [[decodeImages]]). mean_abs is an exact-integer ratio evaluated once
    * in double, so any engine computing the same division agrees. */
  def decodeAudio(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseWav(bytes).map { hd =>
            val n = hd.dataLen / 2
            var sumAbs = 0L
            var peak = 0
            var s = 0
            while (s < n) {
              val v = math.abs(sampleAt(bytes, hd, s))
              sumAbs += v
              if (v > peak) peak = v
              s += 1
            }
            AudioFeatures(id, hd.numChannels, hd.sampleRate, hd.nFrames,
              peak, if (n == 0) 0.0 else sumAbs.toDouble / n)
          }
        }
      }
      .toDF()
  }

  /** Real audio downsample by an integer factor: keep every `factor`-th
    * FRAME (all channels of it), divide the declared sample rate by the
    * same factor, re-emit a valid WAV — decode → transform → re-encode,
    * the actual resample-pipeline shape (a production resampler would
    * filter before decimating; geometry and container discipline are
    * identical). Undecodable payloads drop. */
  def resampleWav(spark: SparkSession, packed: DataFrame, factor: Int): DataFrame = {
    require(factor > 0, s"resample factor must be positive, got $factor")
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseWav(bytes).map { hd =>
            val ch = hd.numChannels
            val outFrames = (hd.nFrames + factor - 1) / factor
            val out = new Array[Short](outFrames * ch)
            var f = 0
            while (f < outFrames) {
              var c = 0
              while (c < ch) {
                out(f * ch + c) = sampleAt(bytes, hd, f * factor * ch + c).toShort
                c += 1
              }
              f += 1
            }
            (id, encodeWav(ch, math.max(1, hd.sampleRate / factor), out))
          }
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Parsed AVI video stream: geometry, timing, and where each
    * uncompressed `00db` frame body lives in the payload. */
  final case class AviHeader(width: Int, height: Int, microsPerFrame: Int,
      frames: Vector[(Int, Int)]) {
    /** BI_RGB rows pad to 4-byte boundaries. */
    def rowStride: Int = (3 * width + 3) & ~3
    def nFrames: Int = frames.length
  }

  /** Parse a RIFF/AVI payload holding an uncompressed 24-bit BI_RGB
    * `vids` stream — the VIDEO sibling of [[parseWav]], a real two-level
    * chunk walk: `RIFF` magic + `AVI ` form, top-level `LIST` chunks
    * (unknown chunks skipped by declared size, word-aligned), the `hdrl`
    * list yielding `avih` (frame timing, declared frame count, dims) and
    * the first `strl` whose `strh` is fccType `vids` with a
    * BITMAPINFOHEADER `strf` (BI_RGB, 24-bit), then the `movi` list
    * yielding every `00db` frame chunk. Strictness is the false-positive
    * guard, as everywhere in this family: dims must agree between `avih`
    * and `strf`, every frame chunk must be EXACTLY rowStride·height
    * bytes, the declared total must equal the frames found, and any
    * lying chunk size rejects the payload — arbitrary bytes never
    * survive a coherent two-level walk. */
  private[graft] def parseAvi(bytes: Array[Byte]): Option[AviHeader] = {
    def u16(i: Int): Int =
      (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long =
      (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
        ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
    def tag(i: Int, t: String): Boolean =
      bytes(i) == t(0).toByte && bytes(i + 1) == t(1).toByte &&
        bytes(i + 2) == t(2).toByte && bytes(i + 3) == t(3).toByte
    if (bytes.length < 12 || !tag(0, "RIFF") || !tag(8, "AVI ")) return None
    val riffLen = u32(4)
    if (riffLen < 4 || riffLen > bytes.length - 8L) return None
    var avih: Option[(Int, Long, Int, Int)] = None // µs/frame, total, w, h
    var vids: Option[(Int, Int)] = None // strf (w, h), BI_RGB 24-bit only
    var curStrlVids = false // does the CURRENT strl's strh say `vids`?
    val frames = Vector.newBuilder[(Int, Int)]
    var nFrames = 0
    var ok = true
    // walk [from, until) as a chunk sequence; `inside` names the list we
    // are in ("", hdrl, strl, movi) — two levels is the whole grammar
    def walk(from: Int, until: Int, inside: String): Unit = {
      var i = from
      while (ok && i + 8 <= until) {
        val sz = u32(i + 4)
        val body = i + 8
        if (sz > until - body) { ok = false } // lying chunk size
        else {
          val len = sz.toInt
          if (tag(i, "LIST") && len >= 4) {
            if (inside == "" && tag(body, "hdrl"))
              walk(body + 4, body + len, "hdrl")
            else if (inside == "hdrl" && tag(body, "strl")) {
              curStrlVids = false
              walk(body + 4, body + len, "strl")
            }
            else if (inside == "" && tag(body, "movi"))
              walk(body + 4, body + len, "movi")
            // other lists (odml, INFO) skip as opaque
          } else if (inside == "hdrl" && tag(i, "avih")) {
            if (len < 56) ok = false
            else {
              val mpf = u32(body)
              val total = u32(body + 16)
              val w = u32(body + 32); val h = u32(body + 36)
              if (mpf < 1 || mpf > Int.MaxValue || w < 1 || h < 1 ||
                  w > (1 << 20) || h > (1 << 20)) ok = false
              else avih = Some((mpf.toInt, total, w.toInt, h.toInt))
            }
          } else if (inside == "strl" && tag(i, "strh")) {
            if (len >= 8 && tag(body, "vids")) {
              // only the FIRST video stream is accepted; a second one is
              // outside this decoder's contract
              if (vids.nonEmpty) ok = false else curStrlVids = true
            }
          } else if (inside == "strl" && tag(i, "strf") && curStrlVids &&
              vids.isEmpty) {
            // BITMAPINFOHEADER: biSize, biWidth, biHeight, planes,
            // bitcount, compression
            if (len >= 40) {
              val bw = u32(body + 4); val bh = u32(body + 8)
              val bits = u16(body + 14); val comp = u32(body + 16)
              if (comp == 0 && bits == 24 && bw >= 1 && bh >= 1 &&
                  bw <= (1 << 20) && bh <= (1 << 20))
                vids = Some((bw.toInt, bh.toInt))
            }
          } else if (inside == "movi" && tag(i, "00db")) {
            frames += ((body, len))
            nFrames += 1
          }
          i = body + len + (len & 1) // odd bodies carry a pad byte
        }
      }
    }
    walk(12, 8 + riffLen.toInt, "")
    if (!ok) return None
    for {
      (mpf, total, aw, ah) <- avih
      (bw, bh) <- vids
      if aw == bw && ah == bh
      fs = frames.result()
      if total == fs.length && fs.nonEmpty
      stride = (3 * bw + 3) & ~3
      if fs.forall(_._2 == stride * bh)
    } yield AviHeader(bw, bh, mpf, fs)
  }

  /** Emit a valid single-stream uncompressed-BI_RGB AVI from raw frame
    * planes (each exactly rowStride·height bytes, bottom-up BGR rows as
    * DIBs store them) — RIFF(`AVI ` LIST(hdrl avih LIST(strl strh strf))
    * LIST(movi 00db…)), the canonical minimal container every AVI tool
    * accepts. */
  private[graft] def encodeAvi(w: Int, h: Int, microsPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val stride = (3 * w + 3) & ~3
    require(w >= 1 && h >= 1 && microsPerFrame >= 1 && frames.nonEmpty,
      s"invalid AVI geometry w=$w h=$h mpf=$microsPerFrame n=${frames.size}")
    require(frames.forall(_.length == stride * h),
      s"every frame must be exactly $stride*$h bytes")
    val frameBytes = stride * h
    val hdrlLen = 4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40 // form+avih+strl
    val moviLen = 4 + frames.size * (8 + frameBytes + (frameBytes & 1))
    val riffLen = 4 + 8 + hdrlLen + 8 + moviLen
    val out = new Array[Byte](8 + riffLen)
    var i = 0
    def putTag(t: String): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = t(j).toByte; j += 1 }
      i += 4
    }
    def put16(v: Int): Unit = {
      out(i) = (v & 0xFF).toByte; out(i + 1) = ((v >> 8) & 0xFF).toByte
      i += 2
    }
    def put32(v: Long): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = ((v >> (8 * j)) & 0xFF).toByte; j += 1 }
      i += 4
    }
    putTag("RIFF"); put32(riffLen.toLong); putTag("AVI ")
    putTag("LIST"); put32(hdrlLen.toLong); putTag("hdrl")
    putTag("avih"); put32(56L)
    put32(microsPerFrame.toLong) // dwMicroSecPerFrame
    put32(0L); put32(0L); put32(0L) // maxBytesPerSec, padding, flags
    put32(frames.size.toLong) // dwTotalFrames
    put32(0L); put32(1L) // initialFrames, streams
    put32(frameBytes.toLong) // suggestedBufferSize
    put32(w.toLong); put32(h.toLong)
    put32(0L); put32(0L); put32(0L); put32(0L) // reserved
    putTag("LIST"); put32((4 + 8 + 56 + 8 + 40).toLong); putTag("strl")
    putTag("strh"); put32(56L)
    putTag("vids"); putTag("DIB ")
    put32(0L); put32(0L); put32(0L) // flags, prio+lang, initialFrames
    put32(microsPerFrame.toLong); put32(1000000L) // scale, rate
    put32(0L) // start
    put32(frames.size.toLong) // length in frames
    put32(frameBytes.toLong) // suggestedBufferSize
    put32(0xFFFFFFFFL) // quality (default)
    put32(0L) // sampleSize
    put16(0); put16(0); put16(w); put16(h) // rcFrame
    putTag("strf"); put32(40L)
    put32(40L) // biSize
    put32(w.toLong); put32(h.toLong)
    put16(1); put16(24) // planes, bitcount
    put32(0L) // BI_RGB
    put32(frameBytes.toLong) // biSizeImage
    put32(0L); put32(0L); put32(0L); put32(0L) // resolution, clr
    putTag("LIST"); put32(moviLen.toLong); putTag("movi")
    frames.foreach { f =>
      putTag("00db"); put32(f.length.toLong)
      System.arraycopy(f, 0, out, i, f.length)
      i += f.length + (f.length & 1) // keep RIFF word alignment
    }
    require(i == out.length, s"encoder wrote $i of ${out.length} bytes")
    out
  }

  /** Parsed PNG: dimensions plus the fully DEFILTERED channel-interleaved
    * RGB plane (the same layout [[PpmHeader]]'s pixel plane uses, which
    * is what makes PNG→PPM transcoding a pure re-encode). */
  final case class PngImage(width: Int, height: Int, rgb: Array[Byte])

  /** Parse an 8-bit truecolor (color type 2) non-interlaced PNG — a REAL
    * compressed-format decode on nothing but the JVM: the 8-byte
    * signature, a chunk walk where every chunk's CRC32 (over type+data)
    * is VERIFIED, IHDR geometry checks, all IDAT chunks concatenated and
    * INFLATED through java.util.zip (PNG's zlib stream), and the five
    * scanline filters (None/Sub/Up/Average/Paeth) inverted row by row —
    * the actual decoding work of the format. Ancillary chunks skip by
    * length; a bad CRC, a lying length, a non-RGB color type, interlace,
    * or an inflated plane of the wrong size all reject the payload
    * (None), the family's strictness-as-false-positive-guard discipline.
    * JPEG/MP4 stay out of reach without codec libraries; PNG is the
    * compressed format a bare JVM can genuinely own. */
  private[graft] def parsePng(bytes: Array[Byte]): Option[PngImage] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    if (bytes.length < 8 + 12 || !sig.indices.forall(i => bytes(i) == sig(i)))
      return None
    def u32(i: Int): Long =
      ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
    var i = 8
    var w = 0; var h = 0
    var sawIhdr = false; var sawEnd = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawEnd && i + 12 <= bytes.length) {
      val len = u32(i)
      val body = i + 8
      if (len > bytes.length - body - 4L) return None // lying chunk length
      val tpe = new String(bytes, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, i + 4, 4 + len.toInt)
      if (crc.getValue != u32(body + len.toInt)) return None // corrupt chunk
      tpe match {
        case "IHDR" =>
          if (len != 13 || sawIhdr) return None
          w = u32(body).toInt; h = u32(body + 4).toInt
          val bitDepth = bytes(body + 8) & 0xFF
          val colorType = bytes(body + 9) & 0xFF
          val interlace = bytes(body + 12) & 0xFF
          if (w < 1 || h < 1 || w > (1 << 20) || h > (1 << 20) ||
              bitDepth != 8 || colorType != 2 ||
              bytes(body + 10) != 0 || bytes(body + 11) != 0 ||
              interlace != 0) return None
          sawIhdr = true
        case "IDAT" =>
          if (!sawIhdr) return None
          idat.write(bytes, body, len.toInt)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skip by length
      }
      i = body + len.toInt + 4
    }
    if (!sawIhdr || !sawEnd) return None
    val stride = 3 * w
    val raw = new Array[Byte](h * (1 + stride))
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // Any zero-progress state rejects: needsInput = truncated stream;
        // needsDictionary (zlib FDICT set) would otherwise return 0 with
        // needsInput()=false FOREVER — a single crafted payload spinning
        // an executor thread; same for any other stuck-at-zero state.
        if (n == 0) return None
        off += n
      }
      // the plane must be EXACTLY h scanlines — no less, no more
      if (off != raw.length || inf.inflate(new Array[Byte](1)) != 0)
        return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // invert the per-row filter: out[x] = raw[x] + predictor(left, up, ul)
    val out = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val filter = raw(y * (1 + stride)) & 0xFF
      if (filter > 4) return None
      val src = y * (1 + stride) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val left = if (x >= 3) out(dst + x - 3) & 0xFF else 0
        val up = if (y > 0) out(dst - stride + x) & 0xFF else 0
        val ul = if (y > 0 && x >= 3) out(dst - stride + x - 3) & 0xFF else 0
        val pred = filter match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => // Paeth
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        out(dst + x) = ((raw(src + x) & 0xFF) + pred).toByte
        x += 1
      }
      y += 1
    }
    Some(PngImage(w, h, out))
  }

  /** Emit a valid 8-bit truecolor PNG from an RGB plane, each scanline
    * filtered with `rowFilter(y)` (0–4 — the encoder applies the filter
    * the decoder must invert, which is how MultimodalSpec round-trips
    * every filter type). IDAT deflates through java.util.zip; chunk CRCs
    * are real. */
  private[graft] def encodePng(w: Int, h: Int, rgb: Array[Byte],
      rowFilter: Int => Int = _ => 0): Array[Byte] = {
    require(w >= 1 && h >= 1 && rgb.length == 3 * w * h,
      s"pixel plane must be exactly 3*$w*$h bytes, got ${rgb.length}")
    val stride = 3 * w
    val raw = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      val f = rowFilter(y)
      require(f >= 0 && f <= 4, s"filter $f out of range at row $y")
      raw(y * (1 + stride)) = f.toByte
      var x = 0
      while (x < stride) {
        val cur = rgb(y * stride + x) & 0xFF
        val left = if (x >= 3) rgb(y * stride + x - 3) & 0xFF else 0
        val up = if (y > 0) rgb((y - 1) * stride + x) & 0xFF else 0
        val ul = if (y > 0 && x >= 3) rgb((y - 1) * stride + x - 3) & 0xFF else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw(y * (1 + stride) + 1 + x) = (cur - pred).toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    val compressed = try {
      defl.setInput(raw); defl.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!defl.finished()) buf.write(tmp, 0, defl.deflate(tmp))
      buf.toByteArray
    } finally defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte))
    def chunk(tpe: String, data: Array[Byte]): Unit = {
      def be32(v: Long): Array[Byte] = Array(
        ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      out.write(be32(data.length.toLong))
      val tb = tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb)
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(be32(crc.getValue))
    }
    val ihdr = new Array[Byte](13)
    def putBe32(a: Array[Byte], i: Int, v: Int): Unit = {
      a(i) = ((v >> 24) & 0xFF).toByte; a(i + 1) = ((v >> 16) & 0xFF).toByte
      a(i + 2) = ((v >> 8) & 0xFF).toByte; a(i + 3) = (v & 0xFF).toByte
    }
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = 2 // 8-bit truecolor; compression/filter/interlace 0
    chunk("IHDR", ihdr)
    chunk("IDAT", compressed)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real PNG decode over (doc_id, payload) rows: signature + CRC-checked
    * chunk walk, zlib inflate, filter inversion, exact integer channel
    * means — [[decodeImages]]' shape for the compressed sibling.
    * Undecodable payloads drop. */
  def decodePngImages(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parsePng(bytes).map { img =>
            var (sr, sg, sb) = (0L, 0L, 0L)
            var i = 0
            while (i < img.rgb.length) {
              sr += img.rgb(i) & 0xFF
              sg += img.rgb(i + 1) & 0xFF
              sb += img.rgb(i + 2) & 0xFF
              i += 3
            }
            val n = img.width.toLong * img.height
            ImageFeatures(id, img.width, img.height,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          }
        }
      }
      .toDF()
  }

  /** PNG → PPM transcode, executor-side: inflate + defilter, then re-emit
    * the identical RGB plane as P6 (the two formats share the
    * channel-interleaved layout, so the transcode is a pure container
    * swap — byte-exact pixels, [[MultimodalSpec]] proves it). The
    * decode-once-transcode-anywhere stage every media pipeline runs.
    * Undecodable payloads drop. */
  def pngToPpm(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parsePng(bytes).map { img =>
            (id, encodePpm(img.width, img.height, img.rgb))
          }
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Parsed GIF87a: dimensions, the palette, and the decoded per-pixel
    * palette indices (row-major). */
  final case class GifImage(width: Int, height: Int,
      palette: Array[Array[Int]], indices: Array[Byte])

  /** Parse a GIF87a/89a with a global color table and one image — local
    * color table and interlacing both handled (ImageIO emits both even
    * for a plain indexed write) — the second REAL compressed format,
    * and unlike PNG the
    * decompressor is HAND-ROLLED: GIF's variable-width LZW (decoder
    * widens n→n+1 after inserting entry 2^n − 1, the GIFLIB/ImageIO
    * convention; clear code resets, and the KwKwK case — a code
    * referencing the entry being defined — handled exactly). 89a
    * extension blocks (graphic control, comment, application — what
    * standard writers like ImageIO emit) are skipped structurally:
    * label byte then a terminated sub-block chain. Strictness
    * discipline as everywhere: magic, geometry bounds, image descriptor
    * must cover the full logical screen, sub-block chain must
    * terminate, decoded index count must EXACTLY equal w·h, every index
    * must fall inside the palette, and the trailer byte must close the
    * stream — arbitrary bytes do not survive a coherent LZW dictionary
    * walk. */
  private[graft] def parseGif(bytes: Array[Byte]): Option[GifImage] = {
    if (bytes.length < 13 + 6) return None
    val magic87 = "GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val magic89 = "GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (!magic87.indices.forall(i => bytes(i) == magic87(i)) &&
        !magic89.indices.forall(i => bytes(i) == magic89(i))) return None
    def u16(i: Int): Int = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    val w = u16(6); val h = u16(8)
    val flags = bytes(10) & 0xFF
    if (w < 1 || h < 1 || w > 65535 || h > 65535) return None
    if ((flags & 0x80) == 0) return None // need a global color table
    val palSize = 2 << (flags & 7)
    var i = 13
    if (i + 3 * palSize > bytes.length) return None
    val palette = Array.tabulate(palSize)(c => Array(
      bytes(i + 3 * c) & 0xFF, bytes(i + 3 * c + 1) & 0xFF,
      bytes(i + 3 * c + 2) & 0xFF))
    i += 3 * palSize
    // skip 89a extension blocks: 0x21 introducer, label, sub-block chain
    def skipExtensions(): Boolean = { // false = ran off the end
      while (i + 1 < bytes.length && bytes(i) == 0x21) {
        i += 2 // introducer + label
        var blockDone = false
        while (!blockDone) {
          if (i >= bytes.length) return false
          val len = bytes(i) & 0xFF
          if (len == 0) { blockDone = true; i += 1 }
          else {
            if (i + 1 + len > bytes.length) return false
            i += 1 + len
          }
        }
      }
      true
    }
    if (!skipExtensions()) return None
    if (i + 10 > bytes.length || bytes(i) != 0x2C) return None // image desc
    if (u16(i + 1) != 0 || u16(i + 3) != 0 ||
        u16(i + 5) != w || u16(i + 7) != h) return None
    val localFlags = bytes(i + 9) & 0xFF
    val interlaced = (localFlags & 0x40) != 0
    i += 10
    // a LOCAL color table (what ImageIO writes even with a GCT present)
    // overrides the global one for this image
    val (activePal, activePalSize) =
      if ((localFlags & 0x80) != 0) {
        val lctSize = 2 << (localFlags & 7)
        if (i + 3 * lctSize > bytes.length) return None
        val lct = Array.tabulate(lctSize)(c => Array(
          bytes(i + 3 * c) & 0xFF, bytes(i + 3 * c + 1) & 0xFF,
          bytes(i + 3 * c + 2) & 0xFF))
        i += 3 * lctSize
        (lct, lctSize)
      } else (palette, palSize)
    if (i >= bytes.length) return None
    val minCode = bytes(i) & 0xFF
    if (minCode < 2 || minCode > 8) return None
    i += 1
    // concatenate the data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var terminated = false
    while (!terminated && i < bytes.length) {
      val len = bytes(i) & 0xFF
      if (len == 0) { terminated = true; i += 1 }
      else {
        if (i + 1 + len > bytes.length) return None
        data.write(bytes, i + 1, len)
        i += 1 + len
      }
    }
    if (!terminated) return None
    if (!skipExtensions()) return None // trailing 89a extensions
    if (i >= bytes.length || bytes(i) != 0x3B) return None
    // --- hand-rolled variable-width LZW decode ---
    val stream = data.toByteArray
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Byte](w * h)
    var outPos = 0
    // dictionary as (prefix code, appended index); roots are implicit
    val prefixOf = new Array[Int](4096)
    val appendOf = new Array[Byte](4096)
    var dictSize = eoi + 1
    var codeWidth = minCode + 1
    var bitPos = 0
    def readCode(): Int = {
      if (bitPos + codeWidth > stream.length * 8) return -1
      var v = 0; var b = 0
      while (b < codeWidth) {
        val bit = (stream((bitPos + b) >> 3) >> ((bitPos + b) & 7)) & 1
        v |= bit << b
        b += 1
      }
      bitPos += codeWidth
      v
    }
    def emit(code: Int): Option[Int] = { // returns the FIRST index of code
      var c = code
      var len = 0
      var first = 0
      // walk the chain to measure length and find the first symbol
      while (c >= clear) { len += 1; first = prefixOf(c); c = first }
      first = c
      len += 1
      if (outPos + len > out.length) return None // too many pixels
      var p = outPos + len - 1
      c = code
      while (c >= clear) { out(p) = appendOf(c); p -= 1; c = prefixOf(c) }
      out(p) = c.toByte
      outPos += len
      Some(first)
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) return None // ran out of bits before EOI
      if (code == clear) {
        dictSize = eoi + 1; codeWidth = minCode + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        if (code >= clear) return None // first code must be a root
        if (outPos >= out.length) return None
        out(outPos) = code.toByte; outPos += 1
        prev = code
      } else {
        if (code > dictSize) return None // beyond KwKwK is corruption
        val firstIdx: Int =
          if (code < dictSize) emit(code).getOrElse(return None)
          else { // KwKwK: code == dictSize references the entry being built
            var c = prev; while (c >= clear) c = prefixOf(c)
            val f = c // first symbol of prev's string
            emit(prev).getOrElse(return None) // prev ++ first(prev)
            if (outPos >= out.length) return None
            out(outPos) = f.toByte; outPos += 1
            f
          }
        if (dictSize < 4096) {
          prefixOf(dictSize) = prev
          appendOf(dictSize) = firstIdx.toByte
          dictSize += 1
          // GIF87a convention (GIFLIB, ImageIO): the decoder widens the
          // READ width as soon as its dictionary fills the current code
          // space — i.e. right after inserting entry value 2^W − 1. The
          // encoder, whose dictionary runs one entry AHEAD, widens one
          // insert later (after inserting value 2^W), so the code the
          // decoder reads next is exactly as wide as the encoder wrote it.
          if (dictSize == (1 << codeWidth) && codeWidth < 12)
            codeWidth += 1
        }
        prev = code
      }
    }
    if (outPos != out.length) return None // pixel count must be exact
    if (out.exists(ix => (ix & 0xFF) >= activePalSize)) return None
    // GIF interlace: rows arrive in four passes (8k, 8k+4, 4k+2, 2k+1);
    // permute the sequentially-decoded rows back to display order
    val rows =
      if (!interlaced) out
      else {
        val deinterlaced = new Array[Byte](out.length)
        var srcRow = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
          var y = start
          while (y < h) {
            System.arraycopy(out, srcRow * w, deinterlaced, y * w, w)
            srcRow += 1
            y += step
          }
        }
        deinterlaced
      }
    Some(GifImage(w, h, activePal, rows))
  }

  /** Emit a valid GIF87a (global color table, one full-screen image)
    * from palette indices — with a REAL hand-rolled LZW compressor:
    * greedy longest-match dictionary, variable code width, clear code
    * up front, dictionary freeze at 4096 (no mid-stream clears — the
    * simplest conforming stream), 255-byte sub-block packaging. */
  private[graft] def encodeGif87a(w: Int, h: Int,
      palette: Array[Array[Int]], indices: Array[Byte]): Array[Byte] = {
    require(w >= 1 && h >= 1 && indices.length == w * h,
      s"need exactly $w*$h indices, got ${indices.length}")
    val palBits = math.max(1,
      32 - Integer.numberOfLeadingZeros(math.max(2, palette.length) - 1))
    val palSize = 1 << palBits
    require(palette.length <= palSize && palSize <= 256, "palette too large")
    require(indices.forall(ix => (ix & 0xFF) < palette.length),
      "index outside palette")
    val minCode = math.max(2, palBits)
    val clear = 1 << minCode
    val eoi = clear + 1
    // LZW compress: dictionary maps (prefix code, next index) → code
    val dict = new java.util.HashMap[Long, Integer]()
    var dictSize = eoi + 1
    var codeWidth = minCode + 1
    val bits = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    def putCode(c: Int): Unit = {
      bitBuf |= c.toLong << bitCnt; bitCnt += codeWidth
      while (bitCnt >= 8) {
        bits.write((bitBuf & 0xFF).toInt); bitBuf >>= 8; bitCnt -= 8
      }
    }
    putCode(clear)
    var prev: Int = indices(0) & 0xFF
    var p = 1
    while (p < indices.length) {
      val nxt = indices(p) & 0xFF
      val key = (prev.toLong << 12) | nxt
      val hit = dict.get(key)
      if (hit != null) prev = hit
      else {
        putCode(prev)
        if (dictSize < 4096) {
          dict.put(key, dictSize)
          // GIF87a convention (GIFLIB, ImageIO): the decoder's dictionary
          // lags this one by a single entry, so it widens one insert
          // EARLIER (after its value 2^W − 1 insert). The encoder keeps
          // writing at width W until it has itself inserted value 2^W —
          // widening on the 2^W − 1 insert would desync every standard
          // decoder at the first width boundary.
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
          dictSize += 1
        }
        prev = nxt
      }
      p += 1
    }
    putCode(prev)
    putCode(eoi)
    if (bitCnt > 0) bits.write((bitBuf & 0xFF).toInt)
    val lzw = bits.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    w16(w); w16(h)
    out.write(0x80 | (palBits - 1)) // GCT present, 2^palBits entries
    out.write(0); out.write(0) // background, aspect
    for (c <- 0 until palSize) {
      val e = if (c < palette.length) palette(c) else Array(0, 0, 0)
      out.write(e(0)); out.write(e(1)); out.write(e(2))
    }
    out.write(0x2C); w16(0); w16(0); w16(w); w16(h); out.write(0)
    out.write(minCode)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Real GIF decode over (doc_id, payload) rows: LZW-decompress the
    * index stream, map through the palette, exact integer channel
    * means — [[decodeImages]]' shape for the palette-indexed sibling.
    * Undecodable payloads drop. */
  def decodeGifImages(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseGif(bytes).map { img =>
            var (sr, sg, sb) = (0L, 0L, 0L)
            img.indices.foreach { ix =>
              val c = img.palette(ix & 0xFF)
              sr += c(0); sg += c(1); sb += c(2)
            }
            val n = img.width.toLong * img.height
            ImageFeatures(id, img.width, img.height,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          }
        }
      }
      .toDF()
  }

  /** Typed features decoded from a real video payload. */
  final case class VideoFeatures(
      doc_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      micros_per_frame: Int,
      mean_b: Double,
      mean_g: Double,
      mean_r: Double)

  /** Real video decode over (doc_id, payload) rows: two-level RIFF walk,
    * then exact integer channel sums over every frame's pixel rows —
    * STRIDE PADDING EXCLUDED (the bytes a naive flat mean would corrupt
    * the stats with), bottom-up row order irrelevant to channel means.
    * One output row per decodable payload; undecodable rows drop, as in
    * [[decodeImages]]/[[decodeAudio]]. Each mean is an exact-integer
    * ratio evaluated once in double. */
  def decodeVideo(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseAvi(bytes).map { hd =>
            val stride = hd.rowStride
            var sb = 0L; var sg = 0L; var sr = 0L
            hd.frames.foreach { case (off, _) =>
              var y = 0
              while (y < hd.height) {
                var x = 0
                val row = off + y * stride
                while (x < hd.width) {
                  val p = row + 3 * x // DIB pixel order is B, G, R
                  sb += bytes(p) & 0xFF
                  sg += bytes(p + 1) & 0xFF
                  sr += bytes(p + 2) & 0xFF
                  x += 1
                }
                y += 1
              }
            }
            val nPx = hd.width.toLong * hd.height * hd.nFrames
            VideoFeatures(id, hd.width, hd.height, hd.nFrames,
              hd.microsPerFrame, sb.toDouble / nPx, sg.toDouble / nPx,
              sr.toDouble / nPx)
          }
        }
      }
      .toDF()
  }

  /** Real temporal downsample: keep every `every`-th frame, multiply the
    * per-frame duration by the same factor (constant wall-clock
    * duration), re-emit a valid AVI — decode → transform → re-encode,
    * the video sibling of [[resampleWav]]. Undecodable payloads drop. */
  def decimateAvi(spark: SparkSession, packed: DataFrame, every: Int): DataFrame = {
    require(every > 0, s"decimation factor must be positive, got $every")
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseAvi(bytes).map { hd =>
            val kept = hd.frames.zipWithIndex
              .collect { case ((off, len), f) if f % every == 0 =>
                java.util.Arrays.copyOfRange(bytes, off, off + len)
              }
            (id, encodeAvi(hd.width, hd.height,
              math.min(hd.microsPerFrame.toLong * every,
                Int.MaxValue).toInt, kept))
          }
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Parsed ISO-BMFF (MP4) video track: geometry, timing, the sample
    * description fourcc, and the sample table RESOLVED to absolute
    * (offset, size) pairs plus per-sample tick durations — everything a
    * frame-sampling pipeline needs BEFORE any codec runs. */
  final case class Mp4Track(width: Int, height: Int, timescale: Long,
      duration: Long, fourcc: String, samples: Vector[(Long, Int)],
      durations: Vector[Int]) {
    def nSamples: Int = samples.length
  }

  /** Parse an ISO-BMFF (MP4) file down to its first VIDEO track's fully
    * resolved sample table — a REAL container demux (box walk with
    * 64-bit largesize support, ftyp gate, moov→trak→mdia→minf→stbl,
    * stsd/stts/stsc/stsz/stco cross-validated and expanded to absolute
    * sample extents), which is the half of "video decode" that matters
    * to a training-data pipeline: frame SELECTION is container-level;
    * only the selected frames ever deserve a codec. Codec payload decode
    * (H.264 etc.) stays honestly out of scope on a bare JVM — the stsd
    * fourcc is surfaced so callers can dispatch.
    *
    * Strictness (the family's false-positive guard): sizes are
    * big-endian and every box must fit its parent exactly; `ftyp` must
    * lead; the track must be `vide`-handled; tkhd's 16.16 dimensions
    * must agree with the stsd VisualSampleEntry; stts totals, the
    * stsc×stco chunk expansion, and the stsz count must all agree; and
    * every resolved sample must land inside the `mdat` payload. Any
    * disagreement rejects (None). Version 0 and 1 full-box times are
    * both read; co64 (64-bit chunk offsets) is supported. */
  private[graft] def parseMp4(bytes: Array[Byte]): Option[Mp4Track] =
    // reject-on-overrun backstop: box WALKS are bounds-checked, but the
    // fixed-layout header reads inside a claimed box (mdhd times, stsd
    // entry fields) trust the box's declared size — a crafted undersized
    // box at EOF would otherwise throw executor-side instead of
    // rejecting (the parsePng-FDICT lesson: one bad payload must never
    // kill the job)
    try parseMp4Unsafe(bytes)
    catch { case _: ArrayIndexOutOfBoundsException => None }

  private def parseMp4Unsafe(bytes: Array[Byte]): Option[Mp4Track] = {
    def u16(i: Int): Int =
      ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
    def u32(i: Int): Long = {
      var v = 0L; var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xFFL); j += 1 }
      v
    }
    def u64(i: Int): Long = {
      var v = 0L; var j = 0
      while (j < 8) { v = (v << 8) | (bytes(i + j) & 0xFFL); j += 1 }
      v
    }
    def tag(i: Int): String =
      new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // walk children of [from, until), calling f(type, bodyFrom, bodyUntil)
    def walk(from: Int, until: Int)(f: (String, Int, Int) => Boolean): Boolean = {
      var i = from
      while (i < until) {
        if (i + 8 > until) return false
        var size = u32(i)
        var hdr = 8
        if (size == 1L) {
          if (i + 16 > until) return false
          size = u64(i + 8); hdr = 16
        }
        if (size < hdr || i + size > until) return false
        if (!f(tag(i + 4), i + hdr, i + size.toInt)) return false
        i += size.toInt
      }
      i == until
    }
    if (bytes.length < 8 || u32(0) < 8 || tag(4) != "ftyp") return None
    var mdat: Option[(Int, Int)] = None
    var moov: Option[(Int, Int)] = None
    if (!walk(0, bytes.length) { (t, a, b) =>
      t match {
        case "mdat" => if (mdat.isDefined) false else { mdat = Some((a, b)); true }
        case "moov" => if (moov.isDefined) false else { moov = Some((a, b)); true }
        case _ => true // ftyp, free, ...
      }
    }) return None
    val (mdA, mdB) = mdat.getOrElse(return None)
    val (mvA, mvB) = moov.getOrElse(return None)
    var out: Option[Mp4Track] = None
    // full-box helper: returns (version, body offset past version/flags)
    def full(a: Int): (Int, Int) = ((bytes(a) & 0xFF), a + 4)
    def parseTrak(ta: Int, tb: Int): Option[Mp4Track] = {
      var tkWidth = -1; var tkHeight = -1
      var timescale = -1L; var duration = -1L
      var isVideo = false
      var fourcc = ""; var sdW = -1; var sdH = -1
      var sttsRuns: Vector[(Long, Int)] = Vector.empty
      var sizes: Vector[Int] = Vector.empty
      var stsc: Vector[(Long, Long)] = Vector.empty // first_chunk, per_chunk
      var chunkOffs: Vector[Long] = Vector.empty
      var ok = walk(ta, tb) { (t, a, b) =>
        t match {
          case "tkhd" =>
            val (v, p0) = full(a)
            // v0: ctime/mtime/id/res/dur = 4+4+4+4+4; v1: 8+8+4+4+8
            val p = p0 + (if (v == 1) 32 else 20)
            // layer/alt/volume/reserved (8) + matrix (36) → width/height
            val q = p + 8 + 8 + 36
            if (q + 8 > b) false
            else {
              tkWidth = (u32(q) >> 16).toInt // 16.16 fixed
              tkHeight = (u32(q + 4) >> 16).toInt
              true
            }
          case "mdia" =>
            walk(a, b) { (t2, a2, b2) =>
              t2 match {
                case "mdhd" =>
                  val (v, p0) = full(a2)
                  if (v == 1) {
                    timescale = u32(p0 + 16); duration = u64(p0 + 20)
                  } else {
                    timescale = u32(p0 + 8); duration = u32(p0 + 12)
                  }
                  true
                case "hdlr" =>
                  val (_, p0) = full(a2)
                  isVideo = b2 >= p0 + 12 && tag(p0 + 4) == "vide"
                  true
                case "minf" =>
                  walk(a2, b2) { (t3, a3, b3) =>
                    if (t3 != "stbl") true
                    else walk(a3, b3) { (t4, a4, b4) =>
                      t4 match {
                        case "stsd" =>
                          val (_, p0) = full(a4)
                          val n = u32(p0)
                          if (n < 1 || p0 + 4 + 8 > b4) false
                          else {
                            val e = p0 + 4 // first entry
                            val esize = u32(e)
                            if (esize < 86 || e + esize > b4) false
                            else {
                              fourcc = tag(e + 4)
                              sdW = u16(e + 32); sdH = u16(e + 34)
                              true
                            }
                          }
                        case "stts" =>
                          val (_, p0) = full(a4)
                          val n = u32(p0).toInt
                          if (p0 + 4 + 8L * n > b4) false
                          else {
                            sttsRuns = (0 until n).map(k =>
                              (u32(p0 + 4 + 8 * k),
                                u32(p0 + 8 + 8 * k).toInt)).toVector
                            true
                          }
                        case "stsz" =>
                          val (_, p0) = full(a4)
                          val fixed = u32(p0)
                          val n = u32(p0 + 4).toInt
                          if (fixed != 0L)
                            { sizes = Vector.fill(n)(fixed.toInt); true }
                          else if (p0 + 8 + 4L * n > b4) false
                          else {
                            sizes = (0 until n).map(k =>
                              u32(p0 + 8 + 4 * k).toInt).toVector
                            true
                          }
                        case "stsc" =>
                          val (_, p0) = full(a4)
                          val n = u32(p0).toInt
                          if (p0 + 4 + 12L * n > b4) false
                          else {
                            stsc = (0 until n).map(k =>
                              (u32(p0 + 4 + 12 * k),
                                u32(p0 + 8 + 12 * k))).toVector
                            true
                          }
                        case "stco" | "co64" =>
                          val (_, p0) = full(a4)
                          val n = u32(p0).toInt
                          val w = if (t4 == "co64") 8 else 4
                          if (p0 + 4 + w.toLong * n > b4) false
                          else {
                            chunkOffs = (0 until n).map(k =>
                              if (w == 8) u64(p0 + 4 + 8 * k)
                              else u32(p0 + 4 + 4 * k)).toVector
                            true
                          }
                        case _ => true
                      }
                    }
                  }
                case _ => true
              }
            }
          case _ => true
        }
      }
      ok = ok && isVideo && timescale > 0 && duration >= 0 &&
        fourcc.nonEmpty && sdW >= 1 && sdH >= 1 &&
        tkWidth == sdW && tkHeight == sdH &&
        sttsRuns.nonEmpty && stsc.nonEmpty && chunkOffs.nonEmpty
      if (!ok) return None
      // expand stsc across chunks; resolve absolute sample extents
      val nSamples = sizes.length
      val durs = sttsRuns.flatMap { case (cnt, d) =>
        if (cnt < 0 || cnt > nSamples) return None
        Vector.fill(cnt.toInt)(d)
      }
      if (durs.length != nSamples) return None
      if (durs.map(_.toLong).sum != duration) return None
      val samples = Vector.newBuilder[(Long, Int)]
      var s = 0
      for (c <- chunkOffs.indices) {
        val chunk1 = c + 1L
        val perChunk = stsc.takeWhile(_._1 <= chunk1).lastOption
          .getOrElse(return None)._2.toInt
        var off = chunkOffs(c)
        var k = 0
        while (k < perChunk) {
          if (s >= nSamples) return None
          val sz = sizes(s)
          if (off < mdA || off + sz > mdB) return None
          samples += ((off, sz))
          off += sz
          s += 1; k += 1
        }
      }
      if (s != nSamples) return None
      Some(Mp4Track(sdW, sdH, timescale, duration, fourcc,
        samples.result(), durs))
    }
    walk(mvA, mvB) { (t, a, b) =>
      if (t == "trak" && out.isEmpty) out = parseTrak(a, b).orElse(out)
      true
    }
    out
  }

  /** Emit a minimal conformant ISO-BMFF file: `ftyp` (isom/mp42), `mdat`
    * holding the concatenated sample bodies, and a `moov` with one
    * video track whose sample tables (stts run-length durations, stsc
    * one-chunk mapping, per-sample stsz, stco) describe them — the
    * mirror of [[parseMp4]], with an uncompressed `raw ` sample entry
    * (this muxer packages pixels, it does not invent a codec). */
  private[graft] def encodeMp4(w: Int, h: Int, timescale: Int,
      durations: Seq[Int], sampleBodies: Seq[Array[Byte]]): Array[Byte] = {
    require(w >= 1 && h >= 1 && timescale >= 1 && sampleBodies.nonEmpty &&
      durations.length == sampleBodies.length,
      s"invalid MP4 geometry w=$w h=$h ts=$timescale " +
        s"n=${sampleBodies.length}/${durations.length}")
    val n = sampleBodies.length
    val duration = durations.map(_.toLong).sum
    require(duration <= 0xFFFFFFFFL, "v0 boxes carry 32-bit durations")
    // run-length encode stts
    val runs = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && durations(j) == durations(i)) j += 1
      runs += ((j - i, durations(i)))
      i = j
    }
    val stts = runs.result()
    val mdatLen = sampleBodies.map(_.length).sum
    val stsdSz = 16 + 86
    val sttsSz = 16 + 8 * stts.length
    val stscSz = 16 + 12
    val stszSz = 20 + 4 * n
    val stcoSz = 16 + 4
    val stblSz = 8 + stsdSz + sttsSz + stscSz + stszSz + stcoSz
    val dinfSz = 8 + 28
    val minfSz = 8 + 20 + dinfSz + stblSz
    val hdlrSz = 33
    val mdiaSz = 8 + 32 + hdlrSz + minfSz
    val trakSz = 8 + 92 + mdiaSz
    val moovSz = 8 + 108 + trakSz
    val out = new Array[Byte](24 + 8 + mdatLen + moovSz)
    var p = 0
    def put32(v: Long): Unit = {
      var j = 3
      while (j >= 0) { out(p) = ((v >> (8 * j)) & 0xFF).toByte; p += 1; j -= 1 }
    }
    def put16(v: Int): Unit = {
      out(p) = ((v >> 8) & 0xFF).toByte; out(p + 1) = (v & 0xFF).toByte
      p += 2
    }
    def putTag(t: String): Unit = {
      var j = 0
      while (j < 4) { out(p + j) = t(j).toByte; j += 1 }
      p += 4
    }
    def zeros(k: Int): Unit = p += k // array is zero-initialized
    put32(24); putTag("ftyp"); putTag("isom"); put32(0x200)
    putTag("isom"); putTag("mp42")
    put32(8L + mdatLen); putTag("mdat")
    val mdatPayload = p
    sampleBodies.foreach { b =>
      System.arraycopy(b, 0, out, p, b.length); p += b.length
    }
    put32(moovSz.toLong); putTag("moov")
    put32(108); putTag("mvhd"); put32(0) // v0
    put32(0); put32(0) // ctime, mtime
    put32(timescale.toLong); put32(duration)
    put32(0x00010000L); put16(0x0100); zeros(10) // rate, volume, reserved
    put32(0x00010000L); zeros(12); put32(0x00010000L); zeros(12)
    put32(0x40000000L) // identity matrix
    zeros(24); put32(2) // pre_defined, next_track_id
    put32(trakSz.toLong); putTag("trak")
    put32(92); putTag("tkhd"); put32(7) // v0, flags: enabled+in-movie
    put32(0); put32(0); put32(1); put32(0); put32(duration)
    zeros(8); put16(0); put16(0); put16(0); put16(0) // layer/alt/vol/res
    put32(0x00010000L); zeros(12); put32(0x00010000L); zeros(12)
    put32(0x40000000L)
    put32(w.toLong << 16); put32(h.toLong << 16) // 16.16
    put32(mdiaSz.toLong); putTag("mdia")
    put32(32); putTag("mdhd"); put32(0)
    put32(0); put32(0); put32(timescale.toLong); put32(duration)
    put16(0x55C4); put16(0) // language "und", pre_defined
    put32(hdlrSz.toLong); putTag("hdlr"); put32(0)
    put32(0); putTag("vide"); zeros(12); zeros(1) // empty name
    put32(minfSz.toLong); putTag("minf")
    put32(20); putTag("vmhd"); put32(1); put16(0); zeros(6)
    put32(dinfSz.toLong); putTag("dinf")
    put32(28); putTag("dref"); put32(0); put32(1)
    put32(12); putTag("url "); put32(1) // self-contained
    put32(stblSz.toLong); putTag("stbl")
    put32(stsdSz.toLong); putTag("stsd"); put32(0); put32(1)
    put32(86); putTag("raw "); zeros(6); put16(1) // reserved, dref idx
    put16(0); put16(0); zeros(12) // pre_defined/reserved
    put16(w); put16(h)
    put32(0x00480000L); put32(0x00480000L) // 72 dpi
    put32(0); put16(1) // reserved, frame_count
    zeros(32) // compressorname
    put16(24); put16(0xFFFF) // depth, pre_defined = -1
    put32(sttsSz.toLong); putTag("stts"); put32(0); put32(stts.length.toLong)
    stts.foreach { case (c, dur) => put32(c.toLong); put32(dur.toLong) }
    put32(stscSz.toLong); putTag("stsc"); put32(0); put32(1)
    put32(1); put32(n.toLong); put32(1) // one chunk holds every sample
    put32(stszSz.toLong); putTag("stsz"); put32(0); put32(0)
    put32(n.toLong)
    sampleBodies.foreach(b => put32(b.length.toLong))
    put32(stcoSz.toLong); putTag("stco"); put32(0); put32(1)
    put32(mdatPayload.toLong)
    require(p == out.length, s"muxer wrote $p of ${out.length} bytes")
    out
  }

  final case class Mp4Features(doc_id: Long, width: Int, height: Int,
      timescale: Long, duration_ticks: Long, n_samples: Int,
      bytes_total: Long, mean_sample_byte: Double)

  /** Container-level MP4 demux over a packed binary column: per payload,
    * the resolved track geometry/timing and EXACT whole-file sample
    * statistics (Σ sizes, mean over every sample byte) — the metadata a
    * pipeline filters on before any codec spend. Undecodable rows drop
    * ([[decodeVideo]] discipline). */
  def demuxMp4(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseMp4(bytes).map { t =>
            var total = 0L
            var sum = 0L
            t.samples.foreach { case (off, sz) =>
              total += sz
              var k = 0
              while (k < sz) { sum += bytes(off.toInt + k) & 0xFF; k += 1 }
            }
            Mp4Features(id, t.width, t.height, t.timescale, t.duration,
              t.nSamples, total,
              if (total == 0) 0.0 else sum.toDouble / total)
          }
        }
      }
      .toDF()
  }

  /** Container-level frame sampling: keep every `every`-th sample's
    * EXTENT (no codec ever runs) and report its exact byte statistics —
    * the "sample 1 fps for the vision encoder" primitive at the layer
    * where it is actually cheap. One row per kept sample. */
  def sampleMp4(spark: SparkSession, packed: DataFrame, every: Int): DataFrame = {
    require(every > 0, s"sampling stride must be positive, got $every")
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseMp4(bytes).toSeq.flatMap { t =>
            t.samples.zipWithIndex.collect {
              case ((off, sz), f) if f % every == 0 =>
                var sum = 0L
                var k = 0
                while (k < sz) { sum += bytes(off.toInt + k) & 0xFF; k += 1 }
                (id, f, t.durations(f), sz, sum)
            }
          }
        }
      }
      .toDF("doc_id", "sample_idx", "dur_ticks", "n_bytes", "byte_sum")
  }

  /** MPEG-1 Layer III bitrate table (kbps), index 1–14; 0 is "free"
    * and 15 forbidden — both reject here. */
  private val Mp3Bitrates: Array[Int] =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3Rates: Array[Int] = Array(44100, 48000, 32000)

  /** Parsed MP3 stream summary: the frame walk's exact aggregates. Audio
    * content (Huffman spectral data) is opaque — payloadSum is the raw
    * byte sum of the frame bodies, the extraction check. */
  final case class Mp3Info(nFrames: Int, sampleRate: Int, totalBytes: Int,
      kbpsSum: Long, payloadSum: Long)

  /** Walk an MPEG-1 Layer III stream frame by frame — the audio sibling
    * of [[parseMp4]]: an optional ID3v2 tag skips by its synchsafe size,
    * then every frame header must hold the 11-bit sync, MPEG-1 version,
    * Layer III, a legal bitrate index (VBR streams vary it per frame —
    * handled), and a samplerate consistent across the whole stream; the
    * frame length is the spec's 144·bitrate/samplerate + padding, and
    * the final frame must end exactly at EOF (trailing garbage rejects —
    * the family's false-positive guard). Spectral decode (Huffman,
    * IMDCT) is honestly out of scope on a bare JVM; the frame walk is
    * the half a data pipeline needs: duration, bitrate profile, and
    * exact frame extents. */
  private[graft] def parseMp3(bytes: Array[Byte]): Option[Mp3Info] = {
    var i = 0
    // ID3v2: "ID3" vv flags + 4-byte synchsafe length of the tag body
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val size = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      if ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) < 0) return None
      i = 10 + size
      if (i > bytes.length) return None
    }
    var n = 0
    var sr = -1
    var kbpsSum = 0L
    var paySum = 0L
    while (i < bytes.length) {
      if (i + 4 > bytes.length) return None
      if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xFE) != 0xFA)
        return None // sync + MPEG-1 + Layer III (CRC bit free)
      val b2 = bytes(i + 2) & 0xFF
      val brIdx = b2 >> 4
      val srIdx = (b2 >> 2) & 3
      val pad = (b2 >> 1) & 1
      if (brIdx < 1 || brIdx > 14 || srIdx > 2) return None
      val rate = Mp3Rates(srIdx)
      if (sr == -1) sr = rate
      else if (sr != rate) return None // mid-stream samplerate switch
      val kbps = Mp3Bitrates(brIdx)
      val len = 144000 * kbps / rate + pad
      if (len < 4 || i + len > bytes.length) return None
      var k = i + 4
      while (k < i + len) { paySum += bytes(k) & 0xFF; k += 1 }
      kbpsSum += kbps
      n += 1
      i += len
    }
    if (n == 0 || sr == -1) None
    else Some(Mp3Info(n, sr, bytes.length, kbpsSum, paySum))
  }

  /** Emit a conformant MPEG-1 Layer III frame stream (headers + opaque
    * bodies; optionally ID3v2-prefixed) — the [[parseMp3]] mirror for
    * fixtures: real sync words, table-driven frame lengths, per-frame
    * bitrate (VBR) and padding bits. */
  private[graft] def encodeMp3(srIdx: Int, frames: Seq[(Int, Int, Byte)],
      id3Body: Array[Byte] = Array.empty): Array[Byte] = {
    require(srIdx >= 0 && srIdx <= 2, s"samplerate index $srIdx")
    require(frames.nonEmpty, "need at least one frame")
    val rate = Mp3Rates(srIdx)
    val lens = frames.map { case (brIdx, pad, _) =>
      require(brIdx >= 1 && brIdx <= 14 && (pad == 0 || pad == 1),
        s"bitrate idx $brIdx / pad $pad")
      144000 * Mp3Bitrates(brIdx) / rate + pad
    }
    val id3Len = if (id3Body.isEmpty) 0 else 10 + id3Body.length
    require(id3Body.length < (1 << 28), "ID3 body too large for synchsafe")
    val out = new Array[Byte](id3Len + lens.sum)
    var p = 0
    if (id3Body.nonEmpty) {
      out(0) = 'I'; out(1) = 'D'; out(2) = '3'; out(3) = 3
      val s = id3Body.length
      out(6) = ((s >> 21) & 0x7F).toByte; out(7) = ((s >> 14) & 0x7F).toByte
      out(8) = ((s >> 7) & 0x7F).toByte; out(9) = (s & 0x7F).toByte
      System.arraycopy(id3Body, 0, out, 10, s)
      p = 10 + s
    }
    frames.zip(lens).foreach { case ((brIdx, pad, fill), len) =>
      out(p) = 0xFF.toByte
      out(p + 1) = 0xFB.toByte // MPEG-1, Layer III, no CRC
      out(p + 2) = ((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte
      out(p + 3) = 0 // stereo, no emphasis
      java.util.Arrays.fill(out, p + 4, p + len, fill)
      p += len
    }
    require(p == out.length, s"muxer wrote $p of ${out.length}")
    out
  }

  final case class Mp3Features(doc_id: Long, n_frames: Int, sample_rate: Int,
      total_bytes: Int, mean_kbps: Double, duration_ms: Double,
      payload_sum: Long)

  /** MP3 frame-walk features over a packed binary column: frame count,
    * samplerate, exact VBR mean bitrate, duration (1152 samples/frame),
    * and the exact payload byte sum. Undecodable rows drop. */
  def decodeMp3Frames(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          parseMp3(bytes).map { m =>
            Mp3Features(id, m.nFrames, m.sampleRate, m.totalBytes,
              m.kbpsSum.toDouble / m.nFrames,
              m.nFrames.toLong * 1152000 / m.sampleRate.toDouble,
              m.payloadSum)
          }
        }
      }
      .toDF()
  }

  /** One dispatched decode result: which format claimed the payload and
    * that format's primary content metric (image/video: a channel mean;
    * audio: mean |sample|). */
  final case class SniffedMedia(doc_id: Long, kind: String, metric: Double)

  /** Format SNIFFING + dispatch — the stage a production media pipeline
    * actually runs over a mixed-format column: identify each payload by
    * its own structure and route it to the right decoder. Identification
    * is the parsers' strictness itself (each accepts only a coherent
    * instance of its format — MultimodalSpec proves mutual rejection),
    * with cheap magic-byte pre-checks ordering the attempts; a payload
    * no parser claims drops (the callers-anti-join contract of the
    * family). Emits one row per decoded payload with the format's
    * primary metric. */
  def sniffAndDecode(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          def has(prefix: String, at: Int = 0): Boolean =
            bytes.length >= at + prefix.length &&
              prefix.indices.forall(i => bytes(at + i) == prefix(i).toByte)
          if (bytes.length >= 8 && (bytes(0) & 0xFF) == 0x89 && has("PNG", 1))
            parsePng(bytes).map { img =>
              var s = 0L
              var i = 0
              while (i < img.rgb.length) { s += img.rgb(i) & 0xFF; i += 3 }
              SniffedMedia(id, "png", s.toDouble / (img.width.toLong * img.height))
            }
          else if (has("GIF87a") || has("GIF89a"))
            parseGif(bytes).map { img =>
              var s = 0L
              img.indices.foreach(ix => s += img.palette(ix & 0xFF)(0))
              SniffedMedia(id, "gif", s.toDouble / (img.width.toLong * img.height))
            }
          else if (isJpeg(bytes))
            // Lossy format: the channel means are decoder-specific (IDCT
            // is not bit-pinned), so the dispatch metric is the STRUCTURAL
            // one ImageIO reports exactly — packed dimensions. Content
            // means stay behind decodeJpegImages' tolerance verdict.
            decodeJpegBytes(bytes).map { case (w, h, _, _, _) =>
              SniffedMedia(id, "jpeg", w.toDouble * 1000 + h)
            }
          else if (has("P6"))
            parsePpm(bytes).map { hd =>
              var s = 0L
              var i = hd.pixelStart
              while (i < bytes.length) { s += bytes(i) & 0xFF; i += 3 }
              SniffedMedia(id, "ppm", s.toDouble / (hd.width.toLong * hd.height))
            }
          else if (has("BM"))
            // 'BM' can open arbitrary text; parseBmp's fileSize/stride
            // cross-checks are the false-positive guard, as with MP3
            parseBmp(bytes).map { hd =>
              var s = 0L
              var y = 0
              while (y < hd.height) {
                val row = hd.pixelStart + y * hd.rowStride
                var x = 0
                while (x < 3 * hd.width) { s += bytes(row + x) & 0xFF; x += 1 }
                y += 1
              }
              SniffedMedia(id, "bmp",
                s.toDouble / (3.0 * hd.width * hd.height))
            }
          else if (has("RIFF") && has("WAVE", 8))
            parseWav(bytes).map { hd =>
              val n = hd.dataLen / 2
              var s = 0L
              var i = 0
              while (i < n) { s += math.abs(sampleAt(bytes, hd, i)); i += 1 }
              SniffedMedia(id, "wav", if (n == 0) 0.0 else s.toDouble / n)
            }
          else if (has("RIFF") && has("AVI ", 8))
            parseAvi(bytes).map { hd =>
              val stride = hd.rowStride
              var s = 0L
              hd.frames.foreach { case (off, _) =>
                var y = 0
                while (y < hd.height) {
                  var x = 0
                  while (x < hd.width) {
                    s += bytes(off + y * stride + 3 * x) & 0xFF
                    x += 1
                  }
                  y += 1
                }
              }
              SniffedMedia(id, "avi",
                s.toDouble / (hd.width.toLong * hd.height * hd.nFrames))
            }
          else if (has("ftyp", 4))
            // ISO-BMFF: container demux only (codec payloads are opaque),
            // so the dispatch metric is structural — dims, like JPEG's
            parseMp4(bytes).map { t =>
              SniffedMedia(id, "mp4", t.width.toDouble * 1000 + t.height)
            }
          else if (has("ID3") || (bytes.length >= 4 &&
              (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFE) == 0xFA))
            // MP3 sync bytes CAN occur in arbitrary binaries — the
            // strict whole-stream frame walk is the false-positive
            // guard, not the magic. Structural metric (frame count +
            // rate), spectral content being opaque.
            parseMp3(bytes).map { m =>
              SniffedMedia(id, "mp3",
                m.nFrames.toDouble * 100000 + m.sampleRate)
            }
          else None
        }
      }
      .toDF()
  }

  /** Frame-sample stage (the video path): payload → fixed-size frames →
    * keep every `every`-th full frame, ONE OUTPUT ROW PER FRAME (flatMap —
    * the UDTF shape). Frames never materialize as a whole-video array;
    * the iterator streams, so executor memory bounds one payload, not a
    * partition of exploded frames. */
  def sampleFrames(spark: SparkSession, packed: DataFrame,
      frameBytes: Int, every: Int): DataFrame = {
    require(frameBytes > 0 && every > 0,
      s"frameBytes/every must be positive, got $frameBytes/$every")
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nFrames = bytes.length / frameBytes // full frames only
        Iterator.range(0, nFrames).filter(_ % every == 0).map { f =>
          SampledFrame(id, f, frameBytes,
            byteFp(bytes, f * frameBytes, (f + 1) * frameBytes))
        }
      }
      .toDF()
  }

  /** True iff the payload opens with the JPEG SOI + marker prefix
    * (FF D8 FF — covers JFIF's FF E0, EXIF's FF E1, and bare SOI+DQT
    * streams alike). The magic gate matters doubly here: ImageIO.read
    * sniffs formats itself and would happily decode a PNG or GIF, so
    * without it the JPEG branch would poach other formats' payloads and
    * break the family's mutual-exclusivity contract. */
  private[graft] def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8 && (bytes(2) & 0xFF) == 0xFF

  /** Encode an RGB plane as a baseline JPEG via the JDK's bundled
    * ImageIO writer at an explicit quality — the one codec-bound format
    * a bare JVM ships a real implementation of (com.sun.imageio's
    * libjpeg-derived reader/writer pair). Unlike [[encodePng]] /
    * [[encodeGif87a]] this is LOSSY: callers verify decodes with a
    * tolerance verdict, never byte equality. */
  private[graft] def encodeJpeg(w: Int, h: Int, rgb: Array[Byte],
      quality: Float = 0.95f): Array[Byte] = {
    require(rgb.length == 3 * w * h,
      s"rgb plane must be 3*w*h = ${3 * w * h} bytes, got ${rgb.length}")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = 3 * (y * w + x)
        img.setRGB(x, y, ((rgb(p) & 0xFF) << 16) |
          ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF))
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val baos = new java.io.ByteArrayOutputStream()
    // MemoryCacheImageOutputStream directly: ImageIO.createImageOutputStream
    // consults the ImageIO scratch-FILE cache by default — a temp file per
    // image, which at corpus scale turns an in-memory codec into executor
    // disk I/O (measured: the dominant cost of the jpeg queries).
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.flush()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** Decode a JPEG payload to (width, height, exact integer channel
    * sums → means). Magic-gated (see [[isJpeg]]) and strict: a payload
    * ImageIO cannot fully decode returns None — corrupt entropy data
    * raises inside read() and is caught, truncated files return null.
    * Means are computed from the decoder's OWN output; IDCT is not
    * bit-pinned across implementations, so callers oracle these with a
    * tolerance verdict (the q_similarity_ann pattern), never a hash of
    * raw means. */
  /** Decode a JPEG payload to its full channel-interleaved RGB plane
    * (the [[encodePpm]]/[[encodePng]] pixel contract) — the form
    * transcode stages consume. Same magic gate and strictness as
    * [[decodeJpegBytes]]. */
  private[graft] def decodeJpegPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (!isJpeg(bytes)) None
    else {
      try {
        // Memory-backed stream for the same reason as encodeJpeg: the
        // ImageIO.read(InputStream) overload wraps its input in a
        // scratch-FILE cache stream by default.
        val img = javax.imageio.ImageIO.read(
          new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes)))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val rgb = new Array[Byte](3 * w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val px = img.getRGB(x, y)
              val p = 3 * (y * w + x)
              rgb(p) = ((px >> 16) & 0xFF).toByte
              rgb(p + 1) = ((px >> 8) & 0xFF).toByte
              rgb(p + 2) = (px & 0xFF).toByte
              x += 1
            }
            y += 1
          }
          Some((w, h, rgb))
        }
      } catch {
        case _: java.io.IOException => None
        case _: RuntimeException => None // ImageIO wraps codec errors
      }
    }
  }

  private[graft] def decodeJpegBytes(bytes: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    decodeJpegPixels(bytes).map { case (w, h, rgb) =>
      var (sr, sg, sb) = (0L, 0L, 0L)
      var i = 0
      while (i < rgb.length) {
        sr += rgb(i) & 0xFF
        sg += rgb(i + 1) & 0xFF
        sb += rgb(i + 2) & 0xFF
        i += 3
      }
      val n = w.toLong * h
      (w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }

  /** JPEG → PNG transcode, executor-side: the lossy decode happens ONCE
    * (ImageIO), then the pixel plane re-wraps losslessly in the
    * hand-rolled PNG container — [[pngToPpm]]'s shape pointed the other
    * way across codec families. From here on the image is bit-exact:
    * decodePngImages(jpegToPng(x)) must equal decodeJpegImages(x)
    * channel-for-channel (q_jpeg_transcode pins it). Undecodable
    * payloads drop. */
  def jpegToPng(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          decodeJpegPixels(bytes).map { case (w, h, rgb) =>
            (id, encodePng(w, h, rgb))
          }
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Real JPEG decode over (doc_id, payload) rows — [[decodeImages]]'
    * shape for the DCT-compressed format, backed by the JDK's own
    * baseline-JPEG reader (executor-side, streaming iterator, no codec
    * library beyond the JVM). Undecodable payloads drop. */
  def decodeJpegImages(spark: SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          decodeJpegBytes(bytes).map { case (w, h, mr, mg, mb) =>
            ImageFeatures(id, w, h, mr, mg, mb)
          }
        }
      }
      .toDF()
  }
}
