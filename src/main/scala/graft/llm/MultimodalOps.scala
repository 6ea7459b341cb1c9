package graft.llm

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.{QueryDef, QueryRegistry}
import graft.oracle.OracleSql.{q => oq}

/** Multimodal-column handling: media payloads as opaque `binary` columns with
  * typed metadata, plus batch feature extraction through the engine's
  * per-partition path.
  *
  * The decode stage is a REAL codec for four formats: binary PPM (P6 —
  * magic + '#'-comment-aware ASCII header parse, [[parsePpm]], r11), PCM16
  * WAV ([[parseWav]], r11), COMPRESSED PNG ([[parsePng]], r12 — chunk
  * walk with CRC-32 verification, `java.util.zip.Inflater` decompression,
  * and full five-filter scanline reconstruction), and LOSSY baseline JPEG
  * ([[parseJpeg]], r13 — canonical Huffman entropy decode, DPCM/ZRL/EOB
  * semantics, DQT dequantization, reference IDCT, restart markers, byte
  * unstuffing; grayscale SOF0 profile) plus COLOR baseline JPEG
  * ([[parseJpegColor]], r16 — interleaved 3-component YCbCr scans with
  * per-component tables/predictors, 4:4:4 and 4:2:0 sampling, replication
  * chroma upsampling, and the JFIF RGB transform; progressive and other
  * samplings stay rejected loudly).
  * The VIDEO container is real too: Y4M/YUV4MPEG2 ([[parseY4m]], r13 —
  * header tag parse, per-frame marker walk, planar 4:2:0/mono plane
  * accounting, scene-cut/keyframe detection over decoded luma; compressed
  * video codecs are the remaining boundary, documented in COVERAGE.md).
  * All JVM-built-in, no native codec dependency. Every decode is a typed
  * partition-local `mapPartitions` batch — media bytes never leave the
  * executor that scanned them, feature frames are narrow columnar outputs,
  * zero shuffle anywhere.
  */
object MultimodalOps extends QueryRegistry {

  final case class MediaRow(doc_id: Long, media: Array[Byte])
  final case class PpmFeatures(doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)
  final case class PngFeatures(doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)
  final case class WavFeatures(doc_id: Long, n_channels: Int, sample_rate: Int,
      n_frames: Long, duration_s: Double, mean_amp: Double, rms: Double,
      peak: Int)
  /** Decoded 4-component (print-origin) JPEG: true ink-coverage means, the
    * derived RGB means, and the K plane's range. `transform` is the Adobe
    * APP14 declaration ("CMYK" or "YCCK"); subsampling describes the
    * Y/K-vs-chroma geometry (always 444 for CMYK — all four ink planes ride
    * at full resolution). */
  final case class JpegCmykFeatures(doc_id: Long, width: Int, height: Int,
      transform: String, subsampling: String,
      mean_c: Double, mean_m: Double, mean_y: Double, mean_k: Double,
      mean_r: Double, mean_g: Double, mean_b: Double,
      min_k: Int, max_k: Int)

  /** The fixture doc-id feed, spread to full width (r18, the staging
    * build's starvation class): documents ships as ONE small parquet file
    * at test SF, so the scan — and every partition-local encode/decode
    * loop built on it — would otherwise run on one core. [[TextOps.spread]]
    * self-disables on an already-wide (real-scale) corpus. */
  private def fixtureIds(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import spark.implicits._
    TextOps.spread(Sources.table(spark, dir, "documents").select(col("doc_id")))
      .as[Long]
  }

  /** Media table: documents' text re-typed as an opaque binary payload with
    * metadata (mime + byte length + content prefix). NOT spread: this frame
    * carries the real media bytes, and the partition-local contract is that
    * payload bytes never ride an exchange — [[fixtureIds]] spreads the
    * LONG ids instead, before any payload exists. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(
        lit("text/plain").as("mime"),
        length(col("text").cast("binary")).as("n_bytes"),
        substring(hex(col("text").cast("binary")), 1, 8).as("prefix_hex")).as("meta"))

  /** Real P6 (binary PPM) decode of one media payload: validates the magic,
    * parses the whitespace/comment-structured ASCII header (width, height,
    * maxval), checks the payload length is exactly `w*h*3`, and reduces the
    * raw RGB bytes to per-channel means. Means are a single IEEE division
    * of an exact integer byte-sum — the same `CAST(sum AS DOUBLE)/(w*h)`
    * the oracle computes, so values are bit-identical. */
  private[llm] def parsePpm(id: Long, bytes: Array[Byte]): PpmFeatures = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"media of doc $id: $msg")
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') err("not a P6 PPM")
    var i = 2
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def nextInt(): Int = {
      while (i < bytes.length && (isWs(bytes(i)) || bytes(i) == '#'))
        if (bytes(i) == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else i += 1
      var v = 0
      val start = i
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      if (i == start) err("malformed header")
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0) err(s"degenerate dimensions ${w}x$h")
    guardPixels(w, h, err)
    if (maxv != 255) err(s"unsupported maxval $maxv (8-bit only)")
    i += 1 // exactly one whitespace byte separates maxval from the raster
    if (bytes.length - i != w * h * 3)
      err(s"raster is ${bytes.length - i} bytes, expected ${w * h * 3}")
    var sr = 0L; var sg = 0L; var sb = 0L
    var p = i
    while (p < bytes.length) {
      sr += bytes(p) & 0xff; sg += bytes(p + 1) & 0xff; sb += bytes(p + 2) & 0xff
      p += 3
    }
    PpmFeatures(id, w, h,
      sr.toDouble / (w * h), sg.toDouble / (w * h), sb.toDouble / (w * h))
  }

  /** Batched per-partition feature extraction over the binary column —
    * the Scala analog of a `mapInPandas` decode stage, with a real codec
    * inside the batch loop. */
  def decodePpm(media: Dataset[MediaRow]): Dataset[PpmFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parsePpm(m.doc_id, m.media)))
  }

  private val PngSignature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Real PNG decode (r12, VERDICT r11 #3 — the first COMPRESSED codec):
    * signature check, chunk walk with per-chunk CRC-32 verification, IHDR
    * validation (8-bit truecolor RGB, no interlace — the common training-
    * image profile), multi-chunk IDAT concatenation, zlib inflation via
    * the JVM-built-in `java.util.zip.Inflater` (deterministic, no native
    * codec dependency), and full scanline filter reconstruction — all five
    * PNG filter types (None/Sub/Up/Average/Paeth, RFC 2083 §6) — before
    * the same per-channel mean reduction as [[parsePpm]]. Every statistic
    * is an exact integer byte-sum until one IEEE division, so decoded
    * features compare bit-identically against an analytic oracle. */
  private[llm] def parsePng(id: Long, bytes: Array[Byte]): PngFeatures = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"media of doc $id: $msg")
    if (bytes.length < 8 || !bytes.take(8).sameElements(PngSignature))
      err("not a PNG (bad signature)")
    def u32(o: Int): Long = ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
      ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    var i = 8
    var w = 0; var h = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (i < bytes.length && !seenIend) {
      if (i + 8 > bytes.length) err("truncated chunk header")
      val len = u32(i)
      val typ = new String(bytes, i + 4, 4, "US-ASCII")
      if (i + 12 + len > bytes.length) err(s"chunk $typ overruns the container")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, i + 4, 4 + len.toInt)
      if (crc.getValue != u32(i + 8 + len.toInt)) err(s"chunk $typ CRC mismatch")
      typ match {
        case "IHDR" =>
          if (seenIhdr) err("duplicate IHDR")
          if (len != 13) err(s"IHDR is $len bytes, expected 13")
          w = u32(i + 8).toInt; h = u32(i + 12).toInt
          if (w <= 0 || h <= 0) err(s"degenerate dimensions ${w}x$h")
          guardPixels(w, h, err)
          val (depth, color) = (bytes(i + 16), bytes(i + 17))
          if (depth != 8) err(s"unsupported bit depth $depth (8-bit only)")
          if (color != 2) err(s"unsupported color type $color (truecolor RGB only)")
          if (bytes(i + 18) != 0) err("unknown compression method")
          if (bytes(i + 19) != 0) err("unknown filter method")
          if (bytes(i + 20) != 0) err("interlaced PNGs unsupported")
          seenIhdr = true
        case "IDAT" =>
          if (!seenIhdr) err("IDAT before IHDR")
          idat.write(bytes, i + 8, len.toInt)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks (tEXt, pHYs, ...) — skip, CRC-checked
      }
      i += 12 + len.toInt
    }
    if (!seenIhdr) err("missing IHDR")
    if (!seenIend) err("missing IEND")
    if (idat.size == 0) err("missing IDAT")

    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) err("truncated IDAT stream")
        off += n
      }
      if (off != raw.length) err(s"raster is $off bytes, expected ${raw.length}")
      if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0)
        err("IDAT stream longer than the raster")
    } catch {
      case e: java.util.zip.DataFormatException => err(s"corrupt zlib stream: ${e.getMessage}")
    } finally inf.end()

    // scanline filter reconstruction (bpp = 3): a = left, b = up, c = up-left
    val px = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val ro = y * (stride + 1) + 1
      val po = y * stride
      var x = 0
      while (x < stride) {
        val a = if (x >= 3) px(po + x - 3) & 0xff else 0
        val b = if (y > 0) px(po - stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) px(po - stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => // Paeth
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          case other => err(s"unknown filter type $other on row $y")
        }
        px(po + x) = (((raw(ro + x) & 0xff) + pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    var sr = 0L; var sg = 0L; var sb = 0L
    var p = 0
    while (p < stride * h) {
      sr += px(p) & 0xff; sg += px(p + 1) & 0xff; sb += px(p + 2) & 0xff
      p += 3
    }
    PngFeatures(id, w, h,
      sr.toDouble / (w * h), sg.toDouble / (w * h), sb.toDouble / (w * h))
  }

  def decodePng(media: Dataset[MediaRow]): Dataset[PngFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parsePng(m.doc_id, m.media)))
  }

  /** Minimal deterministic PNG writer for the fixture and specs: filters
    * each row with `filterOf(row)` (the ENCODE direction of the five RFC
    * 2083 filters), deflates via the JVM `Deflater`, and emits CRC-correct
    * chunks — the IDAT stream split into `idatChunks` pieces so the
    * decoder's concatenation path runs on gate data. */
  private[llm] def pngEncode(pixels: Array[Byte], w: Int, h: Int,
      filterOf: Int => Int, idatChunks: Int = 1): Array[Byte] = {
    require(pixels.length == w * h * 3, "pixel buffer must be w*h*3")
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      val ft = filterOf(y)
      raw(y * (stride + 1)) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = pixels(y * stride + x) & 0xff
        val a = if (x >= 3) pixels(y * stride + x - 3) & 0xff else 0
        val b = if (y > 0) pixels((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) pixels((y - 1) * stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          case other => throw new IllegalArgumentException(s"bad filter $other")
        }
        raw(y * (stride + 1) + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zOut = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) zOut.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val z = zOut.toByteArray

    val out = new java.io.ByteArrayOutputStream(z.length + 128)
    out.write(PngSignature)
    def w32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def chunk(typ: String, data: Array[Byte]): Unit = {
      w32(data.length.toLong)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      w32(crc.getValue)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >> 24) & 0xff).toByte; ihdr(1) = ((w >> 16) & 0xff).toByte
    ihdr(2) = ((w >> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >> 24) & 0xff).toByte; ihdr(5) = ((h >> 16) & 0xff).toByte
    ihdr(6) = ((h >> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = 8; ihdr(9) = 2 // 8-bit truecolor; compression/filter/interlace 0
    chunk("IHDR", ihdr)
    val n = math.max(1, math.min(idatChunks, z.length))
    val per = (z.length + n - 1) / n
    var o = 0
    while (o < z.length) {
      chunk("IDAT", z.slice(o, math.min(o + per, z.length)))
      o += per
    }
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Deterministic PNG corpus — the compressed sibling of [[ppmFixture]]:
    * the SAME closed-form ramp pixels (analytic oracle), but pushed through
    * the real encode pipeline — per-row filters cycling through all five
    * types (`row % 5`), zlib deflate, CRC'd chunks, and a 2-way IDAT split
    * on every 7th doc — so the gate decode exercises every filter
    * reconstruction branch, the inflater loop, and chunk concatenation on
    * varied real bytes. */
  def pngFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val w = (1 + id % 32).toInt
        val h = (1 + id % 24).toInt
        val px = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          px(3 * p) = ((id + p) % 256).toByte
          px(3 * p + 1) = ((id + p + 17) % 256).toByte
          px(3 * p + 2) = ((id + p + 34) % 256).toByte
          p += 1
        }
        MediaRow(id, pngEncode(px, w, h, y => y % 5,
          idatChunks = if (id % 7 == 0) 2 else 1))
      })
  }

  // ---------------------------------------------------------------------
  // JPEG (r13, VERDICT r12 #7) — the LOSSY codec, behind ONE core that
  // every JPEG path shares: the marker walk ([[JpegHeader]]: SOI, DQT,
  // DHT, DRI, APPn/COM skip, Adobe APP14, frame/scan routing, EOI), the
  // entropy bit reader ([[JpegBits]]: FF00 unstuffing, receive/extend,
  // restart markers), the baseline sequential MCU decoder over N
  // components with per-component sampling ([[decodeBaseline]]), the
  // reference IDCT ([[idct8x8]]) and block placement ([[JpegPlanes]]), and
  // the fixture writer ([[JpegWriter]]). The grayscale, color, CMYK/YCCK and
  // MJPEG decoders keep only their frame/scan validators and feature
  // reductions; progressive keeps its own scan state machine on the same
  // pieces. The grayscale face below is 8-bit baseline sequential, one
  // component, 1x1 — the Huffman+dequant+IDCT core without the
  // chroma-subsample / color-transform rounding chains, which keeps
  // decoded features exactly derivable for the oracle.
  // ---------------------------------------------------------------------

  final case class JpegFeatures(doc_id: Long, width: Int, height: Int,
      mean_luma: Double, min_luma: Int, max_luma: Int)

  /** Zigzag scan order: scan position → natural (row-major) coefficient
    * index (ISO/IEC 10918-1 Figure 5). Shared by encoder and decoder. */
  private[llm] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)uπ/16) via StrictMath (deterministic across JVMs). */
  private val CosTable: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16))
  private val InvSqrt2 = 1.0 / StrictMath.sqrt(2.0)

  /** Untrusted-header allocation guard (r17): a corrupt or malicious
    * header can declare dimensions whose pixel planes OOM an executor
    * before a single pixel is read — at corpus scale a decode failure
    * must be a LOUD row, never an executor death. 100M pixels (~400 MB
    * of Int plane per component) is far above any sane frame; the Long
    * product also closes the Int-overflow windows in w*h arithmetic. */
  private def guardPixels(w: Int, h: Int, err: String => Nothing): Unit =
    if (w.toLong * h > 100000000L)
      err(s"${w}x$h exceeds the 100M-pixel decode cap")

  /** One DQT segment (possibly several tables, 8- or 16-bit entries), as
    * the shared marker walk meets it: fills `qTables` in zigzag order and
    * returns the offset past the segment. */
  private def parseDqtSegment(bytes: Array[Byte], at: Int,
      qTables: Array[Array[Int]], err: String => Nothing): Int = {
    def u8(o: Int): Int =
      if (o < bytes.length) bytes(o) & 0xff else err("truncated JPEG")
    def u16(o: Int): Int = (u8(o) << 8) | u8(o + 1)
    val end = at + 2 + u16(at + 2)
    if (end > bytes.length) err("DQT segment length exceeds stream")
    var o = at + 4
    while (o < end) {
      val pq = u8(o) >> 4 // 0 = 8-bit entries, 1 = 16-bit (r17)
      if (pq > 1) err(s"bad DQT precision $pq")
      val tq = u8(o) & 15
      if (tq > 3) err("bad DQT table id")
      qTables(tq) =
        if (pq == 0) Array.tabulate(64)(j => u8(o + 1 + j))
        else Array.tabulate(64)(j => u16(o + 1 + 2 * j))
      o += 1 + (if (pq == 0) 64 else 128)
    }
    // The declared length must land exactly on an entry boundary — a
    // non-aligned length means the last "table" read bytes that belong
    // to the following marker: plausible-garbage, so fail loudly (r18).
    if (o != end) err("DQT segment length not entry-aligned")
    end
  }

  /** Reference 8x8 inverse DCT over a DEQUANTIZED natural-order block:
    * level shift, StrictMath.rint, clamp — the one pixel-domain kernel
    * behind every JPEG decode. Each sample sums only the nonzero
    * coefficients, in (v, u) order: the same terms in the same order as
    * the full 64-term sum that skips zeros, so the same doubles, at a cost
    * that no longer depends on whether the JIT inlines this method (it
    * swung the shared decoders ±25% between JVMs). */
  private def idct8x8(dq: Array[Int], out: Array[Int]): Unit = {
    var nonzero = 0L // bit v * 8 + u set when that coefficient is nonzero
    var k = 0
    while (k < 64) {
      if (dq(k) != 0) nonzero |= 1L << k
      k += 1
    }
    var y0 = 0
    while (y0 < 8) {
      var x0 = 0
      while (x0 < 8) {
        var f = 0.0
        var m = nonzero
        while (m != 0) {
          val k = java.lang.Long.numberOfTrailingZeros(m)
          val v = k >> 3; val u = k & 7
          val cv = if (v == 0) InvSqrt2 else 1.0
          val cu = if (u == 0) InvSqrt2 else 1.0
          f += cu * cv * dq(k) * CosTable(x0)(u) * CosTable(y0)(v)
          m &= m - 1
        }
        val p = StrictMath.rint(f / 4 + 128).toInt
        out(y0 * 8 + x0) = if (p < 0) 0 else if (p > 255) 255 else p
        x0 += 1
      }
      y0 += 1
    }
  }


  /** Canonical Huffman table from a DHT payload: `counts(l)` codes of
    * length l+1, symbols in code order. Decode walks bits accumulating the
    * code value and checks it against the canonical [first, first+count)
    * window per length — the spec's DECODE procedure. */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    require(counts.length == 16 && counts.sum == symbols.length,
      "malformed Huffman table")
    // firstCode(l), firstIndex(l) for length l+1
    private val firstCode = new Array[Int](16)
    private val firstIndex = new Array[Int](16)
    locally {
      var code = 0; var idx = 0
      var l = 0
      while (l < 16) {
        firstCode(l) = code; firstIndex(l) = idx
        code = (code + counts(l)) << 1; idx += counts(l)
        l += 1
      }
    }
    def decode(bits: JpegBits): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        code = (code << 1) | bits.bit()
        if (code - firstCode(l) < counts(l))
          return symbols(firstIndex(l) + (code - firstCode(l)))
        l += 1
      }
      throw new IllegalArgumentException("invalid Huffman code in entropy stream")
    }
    /** Encode direction: symbol → (code, length). */
    lazy val codeOf: Map[Int, (Int, Int)] = {
      var out = Map.empty[Int, (Int, Int)]
      var l = 0
      while (l < 16) {
        var j = 0
        while (j < counts(l)) {
          out += symbols(firstIndex(l) + j) -> ((firstCode(l) + j, l + 1))
          j += 1
        }
        l += 1
      }
      out
    }
  }

  private def docErr(id: Long): String => Nothing =
    msg => throw new IllegalArgumentException(s"media of doc $id: $msg")

  /** The header side of one JPEG stream, shared by every decoder: the SOI
    * check and marker walk ([[walk]]), the tables it fills (DQT, DHT),
    * DRI, the Adobe APP14 transform, and the frame and scan fields the
    * variants' validators read. `err` carries the caller's context (doc,
    * or doc+frame) into failures. */
  private final class JpegHeader(bytes: Array[Byte], val err: String => Nothing) {
    def u8(o: Int): Int =
      if (o < bytes.length) bytes(o) & 0xff else err("truncated JPEG")
    def u16(o: Int): Int = (u8(o) << 8) | u8(o + 1)

    val qTables = new Array[Array[Int]](4)
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var restartInterval = 0
    var adobeTransform = -1 // -1 = no Adobe APP14 marker seen
    // frame fields (a repeated SOF overwrites), scan selectors by frame slot
    var w = 0; var h = 0
    val compId = new Array[Int](4)
    val sampH = new Array[Int](4); val sampV = new Array[Int](4)
    val qSel = new Array[Int](4)
    val dcSel = new Array[Int](4); val acSel = new Array[Int](4)

    /** Walks the markers from SOI. The variant's own frame marker (`sof`:
      * SOF0 baseline, SOF2 progressive) goes to `frame`; every other SOFn
      * is rejected, SOF2 in a baseline walk with `progressiveRejected`.
      * Each SOS goes to `scan`, which returns the offset the walk resumes
      * at. A baseline walk ends at its one scan and returns where the
      * entropy-coded data starts; a progressive walk ends at EOI. */
    def walk(sof: Int, frame: Int => Unit, scan: Int => Int,
        progressiveRejected: String = "progressive JPEG unsupported (baseline only)"): Int = {
      if (bytes.length < 2 || u16(0) != 0xffd8) err("not a JPEG (missing SOI)")
      val progressive = sof == 0xc2
      var i = 2
      var end = -1
      while (end < 0) {
        if (u8(i) != 0xff) err(f"expected a marker at $i, got ${u8(i)}%02x")
        u8(i + 1) match {
          case m if m == sof =>
            frame(i); i += 2 + u16(i + 2)
          case 0xc4 => // DHT — possibly several tables in one segment
            val segEnd = i + 2 + u16(i + 2)
            var o = i + 4
            while (o < segEnd) {
              val tc = u8(o) >> 4; val th = u8(o) & 15
              if (tc > 1 || th > 3) err("bad DHT table class/id")
              val counts = Array.tabulate(16)(j => u8(o + 1 + j))
              val n = counts.sum
              val syms = Array.tabulate(n)(j => u8(o + 17 + j))
              if (tc == 0) dcTables(th) = new Huff(counts, syms)
              else acTables(th) = new Huff(counts, syms)
              o += 17 + n
            }
            i = segEnd
          case m if m >= 0xc0 && m <= 0xcf && m != 0xc8 && m != 0xcc =>
            if (!progressive)
              err(if (m == 0xc2) progressiveRejected else f"non-baseline frame marker ff$m%02x")
            else if (m < 0xc4)
              err("sequential frame in the progressive decoder (route to baseline)")
            else err(f"unsupported frame marker ff$m%02x")
          case 0xdb => // DQT — 8/16-bit entries
            i = parseDqtSegment(bytes, i, qTables, err)
          case 0xdd =>
            restartInterval = u16(i + 4); i += 2 + u16(i + 2)
          case 0xee => // APP14 — the Adobe transform declaration
            val len = u16(i + 2)
            if (len >= 14 && u8(i + 4) == 'A' && u8(i + 5) == 'd' &&
                u8(i + 6) == 'o' && u8(i + 7) == 'b' && u8(i + 8) == 'e')
              adobeTransform = u8(i + 15)
            i += 2 + len
          case 0xda =>
            i = scan(i)
            if (!progressive) end = i
          case 0xd9 =>
            if (!progressive) err("EOI before any scan")
            end = i
          case m if (m >= 0xe0 && m <= 0xef) || m == 0xfe => // APPn / COM
            i += 2 + u16(i + 2)
          case m => err(f"unsupported marker ff$m%02x")
        }
      }
      if (w == 0) err(if (progressive) "missing SOF2" else "missing SOF0")
      end
    }

    /** The SOFn fields every variant reads — 8-bit precision, non-zero
      * dimensions under the pixel cap, then per component its id,
      * sampling factors and quantization selector — under the variant's
      * own `count` and `sampling` (slot, h, v) rules. */
    def readFrame(at: Int, count: Int => Unit,
        sampling: (Int, Int, Int) => Unit): Unit = {
      if (u8(at + 4) != 8) err(s"unsupported sample precision ${u8(at + 4)}")
      h = u16(at + 5); w = u16(at + 7)
      if (w <= 0 || h <= 0) err(s"degenerate dimensions ${w}x$h")
      guardPixels(w, h, err)
      val n = u8(at + 9)
      count(n)
      var c = 0
      while (c < n) {
        compId(c) = u8(at + 10 + 3 * c)
        val samp = u8(at + 11 + 3 * c)
        sampH(c) = samp >> 4; sampV(c) = samp & 15
        sampling(c, sampH(c), sampV(c))
        qSel(c) = u8(at + 12 + 3 * c)
        if (qSel(c) > 3) err(s"bad quantization table selector ${qSel(c)}")
        c += 1
      }
    }

    /** Frame slot of scan component `cid` among the first `n` components. */
    def frameSlot(cid: Int, n: Int): Int = {
      var s = 0
      while (s < n && compId(s) != cid) s += 1
      if (s == n) err(s"scan references unknown component $cid")
      s
    }

    /** A baseline SOS over all `n` frame components, listed in frame order
      * (T.81 B.2.3): [[decodeBaseline]] decodes each MCU in frame order, so
      * an out-of-order or repeated component id would put entropy data into
      * the wrong planes instead of failing. Stores the Huffman selectors by
      * frame slot, then checks for the full spectral band at full precision.
      * Returns where entropy data starts. */
    def baselineScan(at: Int, n: Int, countRejected: String): Int = {
      if (u8(at + 4) != n) err(countRejected)
      var c = 0
      while (c < n) {
        val cid = u8(at + 5 + 2 * c)
        if (frameSlot(cid, n) != c) err(s"scan component $cid out of frame order")
        dcSel(c) = u8(at + 6 + 2 * c) >> 4; acSel(c) = u8(at + 6 + 2 * c) & 15
        if (dcSel(c) > 3 || acSel(c) > 3)
          err(s"bad Huffman table selector ${dcSel(c)}/${acSel(c)}")
        c += 1
      }
      if (u8(at + 5 + 2 * n) != 0 || u8(at + 6 + 2 * n) != 63 || u8(at + 7 + 2 * n) != 0)
        err("spectral selection / successive approximation unsupported")
      at + 2 + u16(at + 2)
    }

    /** The `tables` that frame slots 0 until `n` select through `sel`;
      * an undefined one fails as "`who(slot)` references an undefined
      * `what`". */
    def selected[T <: AnyRef: ClassTag](tables: Array[T], sel: Array[Int],
        n: Int, what: String, who: Int => String): Array[T] =
      Array.tabulate(n) { c =>
        val t = tables(sel(c))
        if (t != null) t else err(s"${who(c)} references an undefined $what")
      }
  }

  /** The entropy-coded-segment reader every JPEG decoder shares: MSB-first
    * bits with FF00 unstuffing, RECEIVE/EXTEND (T.81 F.2.2.1), and the
    * restart step (byte-align, RSTn sequence check, DC predictor reset). */
  private final class JpegBits(hd: JpegHeader, var pos: Int) {
    private var buf = 0
    private var cnt = 0
    /** DC predictors by frame slot. */
    val pred = new Array[Int](4)

    def bit(): Int = {
      if (cnt == 0) {
        val b = hd.u8(pos)
        if (b == 0xff) {
          if (hd.u8(pos + 1) != 0x00) hd.err("marker inside entropy-coded segment")
          pos += 1 // skip the stuffed zero
        }
        pos += 1
        buf = b; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var j = 0
      while (j < n) { v = (v << 1) | bit(); j += 1 }
      v
    }
    /** The value of a category-`t` coefficient: `t` bits, sign-extended. */
    def signed(t: Int): Int = {
      val v = receive(t)
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    }
    def restart(mcu: Int): Unit = {
      cnt = 0 // byte-align
      val exp = 0xd0 + ((mcu / hd.restartInterval - 1) % 8)
      if (hd.u8(pos) != 0xff || hd.u8(pos + 1) != exp)
        hd.err(f"expected restart marker ff$exp%02x at MCU $mcu")
      pos += 2
      java.util.Arrays.fill(pred, 0)
    }
  }

  /** Decoded sample planes of the first `n` frame components. A component
    * sampled like slot 0 (the MCU's factors) is stored at the declared
    * w×h, edge blocks clipped; a subsampled one keeps its MCU-padded size
    * and is read by replication (`plane((y / vs) * pw + x / hs)`). */
  private final class JpegPlanes(hd: JpegHeader, n: Int) {
    val w = hd.w; val h = hd.h
    val hs = hd.sampH(0); val vs = hd.sampV(0)
    val mw = (w + 8 * hs - 1) / (8 * hs); val mh = (h + 8 * vs - 1) / (8 * vs)
    private def full(c: Int) = hd.sampH(c) == hs && hd.sampV(c) == vs
    val pw = Array.tabulate(n)(c => if (full(c)) w else mw * 8 * hd.sampH(c))
    val ph = Array.tabulate(n)(c => if (full(c)) h else mh * 8 * hd.sampV(c))
    val plane = Array.tabulate(n)(c => new Array[Int](pw(c) * ph(c)))

    /** Copy one [[idct8x8]] output `block` into component `c` with its
      * top-left sample at (`y`, `x`), clipped to the plane. */
    def put(c: Int, block: Array[Int], y: Int, x: Int): Unit = {
      val cw = pw(c)
      val rows = math.min(8, ph(c) - y); val cols = math.min(8, cw - x)
      var y0 = 0
      while (y0 < rows && cols > 0) {
        System.arraycopy(block, y0 * 8, plane(c), (y + y0) * cw + x, cols)
        y0 += 1
      }
    }
  }

  /** Baseline sequential decode of one interleaved scan over the first `n`
    * frame components: per MCU, each component's h×v blocks in raster
    * order — DC DPCM, AC run-length (ZRL/EOB), dequantization, IDCT —
    * placed by [[JpegPlanes.put]], restarts between MCUs, then EOI. `who`
    * names a component in an undefined-table failure. */
  private def decodeBaseline(hd: JpegHeader, at: Int, n: Int,
      who: Int => String): JpegPlanes = {
    val q = hd.selected(hd.qTables, hd.qSel, n, "quantization table", who)
    val dcT = hd.selected(hd.dcTables, hd.dcSel, n, "DC Huffman table", who)
    val acT = hd.selected(hd.acTables, hd.acSel, n, "AC Huffman table", who)
    val p = new JpegPlanes(hd, n)
    val bits = new JpegBits(hd, at)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    var mcu = 0
    var my = 0
    while (my < p.mh) {
      var mx = 0
      while (mx < p.mw) {
        if (restartDue(mcu, hd.restartInterval)) bits.restart(mcu)
        var c = 0
        while (c < n) {
          val hc = hd.sampH(c); val vc = hd.sampV(c); val qc = q(c)
          var bv = 0
          while (bv < vc) {
            var bu = 0
            while (bu < hc) {
              java.util.Arrays.fill(coef, 0)
              val t = dcT(c).decode(bits)
              if (t > 11) hd.err(s"DC category $t out of range")
              bits.pred(c) += bits.signed(t)
              coef(0) = bits.pred(c) * qc(0)
              var z = 1
              while (z < 64) {
                val rs = acT(c).decode(bits)
                val r = rs >> 4; val s = rs & 15
                if (s == 0) z += (if (r == 15) 16 else 64) // ZRL, else EOB
                else {
                  z += r
                  if (z > 63) hd.err("AC run overruns the block")
                  coef(Zigzag(z)) = bits.signed(s) * qc(z)
                  z += 1
                }
              }
              idct8x8(coef, block)
              p.put(c, block, (my * vc + bv) * 8, (mx * hc + bu) * 8)
              bu += 1
            }
            bv += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // after the last MCU: byte-align and expect EOI
    if (hd.u8(bits.pos) != 0xff || hd.u8(bits.pos + 1) != 0xd9)
      hd.err("missing EOI after scan")
    p
  }

  /** Fixture-side JPEG writer shared by every encoder: SOI on creation,
    * the header segments (all tables id 0, component ids slot+1), then
    * the entropy-coded bits — MSB first, FF00-stuffed, 1-padded at a
    * flush — with the DC-difference and restart emission. DC codes come
    * from the Annex K fixture table, AC codes from `acCounts`/`acSyms`. */
  private final class JpegWriter(capacity: Int, acCounts: Array[Int],
      acSyms: Array[Int]) {
    private val out = new java.io.ByteArrayOutputStream(capacity)
    private val dcH = new Huff(FixtureDcCounts, FixtureDcSyms)
    private val acH = new Huff(acCounts, acSyms)
    private def w8(v: Int): Unit = out.write(v & 0xff)
    private def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    private def marker(m: Int): Unit = { w8(0xff); w8(m) }
    marker(0xd8)

    /** JFIF APP0 — ancillary, the decoders skip it. */
    def jfif(): Unit = {
      marker(0xe0); w16(16)
      out.write("JFIF".getBytes("US-ASCII")); w8(0)
      w8(1); w8(1); w8(0); w16(1); w16(1); w8(0); w8(0)
    }
    /** APP14: "Adobe" + version + flags + transform. */
    def adobe(transform: Int): Unit = {
      marker(0xee); w16(14)
      out.write("Adobe".getBytes("US-ASCII"))
      w16(100); w16(0); w16(0); w8(transform)
    }
    /** DQT `qz` (zigzag order), SOFn with one JFIF sampling byte per
      * component, the DC and AC tables, and DRI when `restartInterval` > 0. */
    def frame(sof: Int, w: Int, h: Int, samplings: Seq[Int], qz: Array[Int],
        restartInterval: Int): Unit = {
      marker(0xdb); w16(67); w8(0x00); qz.foreach(w8)
      marker(sof); w16(8 + 3 * samplings.length); w8(8); w16(h); w16(w)
      w8(samplings.length)
      samplings.zipWithIndex.foreach { case (s, c) => w8(c + 1); w8(s); w8(0) }
      def dht(tc: Int, counts: Array[Int], syms: Array[Int]): Unit = {
        marker(0xc4); w16(2 + 1 + 16 + syms.length)
        w8(tc << 4); counts.foreach(w8); syms.foreach(w8)
      }
      dht(0, FixtureDcCounts, FixtureDcSyms)
      dht(1, acCounts, acSyms)
      if (restartInterval > 0) { marker(0xdd); w16(4); w16(restartInterval) }
    }
    /** SOS over frame `slots`, band Ss..Se, approximation Ah/Al. */
    def sos(slots: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); w16(6 + 2 * slots.length); w8(slots.length)
      slots.foreach { c => w8(c + 1); w8(0x00) }
      w8(ss); w8(se); w8((ah << 4) | al)
    }

    private var bitBuf = 0
    private var bitCnt = 0
    def putBits(v: Int, n: Int): Unit = {
      var j = n - 1
      while (j >= 0) {
        bitBuf = (bitBuf << 1) | ((v >> j) & 1); bitCnt += 1
        if (bitCnt == 8) {
          w8(bitBuf)
          if ((bitBuf & 0xff) == 0xff) w8(0x00)
          bitBuf = 0; bitCnt = 0
        }
        j -= 1
      }
    }
    def flushBits(): Unit = if (bitCnt > 0) putBits((1 << (8 - bitCnt)) - 1, 8 - bitCnt)
    private def putCode(huff: Huff, sym: Int): Unit = {
      val (code, len) = huff.codeOf.getOrElse(sym,
        throw new IllegalArgumentException(f"fixture table lacks symbol $sym%02x"))
      putBits(code, len)
    }
    def putAc(sym: Int): Unit = putCode(acH, sym)
    /** The `s` low bits of a category-`s` value (negatives offset by 2^s−1). */
    def putValue(v: Int, s: Int): Unit = putBits(if (v < 0) v + (1 << s) - 1 else v, s)

    /** DC predictors by frame slot. */
    val pred = new Array[Int](4)
    /** Quantized DC `v` of slot `c`: its difference to the predictor. */
    def putDc(c: Int, v: Int): Unit = {
      val diff = v - pred(c)
      pred(c) = v
      val t = category(diff)
      putCode(dcH, t)
      putValue(diff, t)
    }
    def restart(mcu: Int, restartInterval: Int): Unit = {
      flushBits()
      marker(0xd0 + ((mcu / restartInterval - 1) % 8))
      java.util.Arrays.fill(pred, 0)
    }
    def finish(): Array[Byte] = {
      flushBits()
      marker(0xd9)
      out.toByteArray
    }
  }

  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** True when an RSTn marker precedes MCU `mcu` under `restartInterval`. */
  private def restartDue(mcu: Int, restartInterval: Int): Boolean =
    restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0

  /** The fixtures' quantization table: 16 everywhere, Q(0,0)=8 (× the
    * IDCT's ÷8 → exact DC constants) and, with `ac44`, Q(4,4)=8 at its
    * zigzag position 39 (the same exactness for the AC(4,4) term). */
  private def fixtureQuant(ac44: Boolean): Array[Int] = {
    val qz = Array.fill(64)(16)
    qz(0) = 8
    if (ac44) qz(39) = 8
    qz
  }

  /** Baseline grayscale JPEG decode: the shared walk with a one-component
    * 1x1 frame and scan (progressive/multi-component rejected), then the
    * shared MCU decoder — canonical Huffman DC/AC with DC prediction,
    * ZRL/EOB, restarts, FF00 unstuffing, zigzag → natural,
    * dequantization, the reference IDCT with level shift + clamp, edge
    * MCUs clipped to the declared geometry. Features are exact integer
    * statistics until one IEEE division — oracle-exact. */
  private[llm] def parseJpeg(id: Long, bytes: Array[Byte]): JpegFeatures = {
    val hd = new JpegHeader(bytes, docErr(id))
    val at = hd.walk(0xc0,
      hd.readFrame(_, n => if (n != 1) hd.err(s"$n components (grayscale only)"),
        (_, hc, vc) => if (hc != 1 || vc != 1) hd.err("subsampled grayscale is malformed")),
      hd.baselineScan(_, 1, "multi-component scan (grayscale only)"))
    val px = decodeBaseline(hd, at, 1, _ => "scan").plane(0)
    var sum = 0L; var mn = 255; var mx = 0
    var p = 0
    while (p < px.length) {
      val v = px(p)
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      p += 1
    }
    JpegFeatures(id, hd.w, hd.h, sum.toDouble / px.length, mn, mx)
  }

  def decodeJpeg(media: Dataset[MediaRow]): Dataset[JpegFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseJpeg(m.doc_id, m.media)))
  }

  // ---------------------------------------------------------------------
  // Baseline COLOR JPEG (r16, VERDICT r15 #7) — the last documented codec
  // boundary: 3-component YCbCr, interleaved single scan, 4:4:4 (1x1) and
  // 4:2:0 (2x2 luma) sampling. Everything the grayscale decoder proves
  // (canonical Huffman, DPCM, ZRL/EOB, dequant, reference IDCT, restarts,
  // byte unstuffing) plus the color machinery: per-component quant/Huffman
  // selectors and DC predictors, MCU-interleaved block order, chroma
  // upsampling by sample replication, and the JFIF YCbCr→RGB transform.
  // The fixture keeps every decoded value closed-form (per-MCU constants,
  // chroma values chosen so round/rint can never tie — verified over the
  // whole domain), so the DuckDB oracle derives the same RGB statistics
  // analytically. Progressive, other samplings, and 16-bit tables are
  // rejected loudly.
  // ---------------------------------------------------------------------

  final case class JpegColorFeatures(doc_id: Long, width: Int, height: Int,
      subsampling: String, mean_y: Double, mean_cb: Double, mean_cr: Double,
      mean_r: Double, mean_g: Double, mean_b: Double,
      min_luma: Int, max_luma: Int)

  /** JFIF subsampling label from the luma sampling factors (r17 widens
    * the supported set): 1x1 → 4:4:4, 2x2 → 4:2:0, 2x1 → 4:2:2 (the
    * video-derived shape), 1x2 → 4:4:0. */
  private def subsamplingName(hs: Int, vs: Int): String = (hs, vs) match {
    case (1, 1) => "444"
    case (2, 2) => "420"
    case (2, 1) => "422"
    case (1, 2) => "440"
    case _ => throw new IllegalStateException(s"unreachable sampling ${hs}x$vs")
  }

  /** Baseline interleaved YCbCr decode (3 components; luma sampling 1-2
    * per axis with 1x1 chroma). Per-component quantization/Huffman
    * selectors and DC predictors; restart markers reset ALL predictors;
    * chroma upsamples by replication; RGB via the JFIF transform with
    * `StrictMath.rint` + clamp. Statistics are exact integer sums until
    * one IEEE division each — oracle-exact. */
  private[llm] def parseJpegColor(id: Long, bytes: Array[Byte]): JpegColorFeatures = {
    val d = jpegColorDecode(bytes, docErr(id))
    val n = d.w.toLong * d.h
    JpegColorFeatures(id, d.w, d.h, subsamplingName(d.hs, d.vs),
      d.sy.toDouble / n, d.scb.toDouble / n, d.scr.toDouble / n,
      d.sr.toDouble / n, d.sg.toDouble / n, d.sb.toDouble / n, d.mn, d.mx)
  }

  /** Exact integer statistics of one decoded baseline color JPEG: the
    * plane/RGB sums stay integers so any caller (the single-image feature
    * row, the MJPEG per-frame walk) divides exactly once. */
  private final case class JpegColorDecoded(w: Int, h: Int, hs: Int, vs: Int,
      sy: Long, scb: Long, scr: Long, sr: Long, sg: Long, sb: Long,
      mn: Int, mx: Int)

  /** Pixel statistics over decoded YCbCr planes — chroma replicated to
    * full resolution, RGB via the JFIF transform (rint + clamp), exact
    * integer sums with one division each left to the caller. Shared by the
    * baseline color and progressive decoders. */
  private def colorPlaneStats(p: JpegPlanes): JpegColorDecoded = {
    val w = p.w; val h = p.h; val hs = p.hs; val vs = p.vs; val cw = p.pw(1)
    val yPlane = p.plane(0); val cbPlane = p.plane(1); val crPlane = p.plane(2)
    var sy = 0L; var scb = 0L; var scr = 0L
    var sr = 0L; var sg = 0L; var sb = 0L
    var mn = 255; var mx2 = 0
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val yv = yPlane(yy * w + xx)
        val cb = cbPlane((yy / vs) * cw + (xx / hs))
        val cr = crPlane((yy / vs) * cw + (xx / hs))
        sy += yv; scb += cb; scr += cr
        if (yv < mn) mn = yv
        if (yv > mx2) mx2 = yv
        def clamp(d: Double): Int = {
          val p = StrictMath.rint(d).toInt
          if (p < 0) 0 else if (p > 255) 255 else p
        }
        sr += clamp(yv + 1.402 * (cr - 128))
        sg += clamp(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
        sb += clamp(yv + 1.772 * (cb - 128))
        xx += 1
      }
      yy += 1
    }
    JpegColorDecoded(w, h, hs, vs, sy, scb, scr, sr, sg, sb, mn, mx2)
  }

  /** The YCbCr frame rule of the baseline color and progressive decoders:
    * three components, luma sampling 1-2 per axis, chroma 1x1. */
  private def ycbcrFrame(hd: JpegHeader)(at: Int): Unit =
    hd.readFrame(at,
      n => {
        if (n == 4) hd.err("4-component stream (CMYK/YCCK — route to decodeJpegCmyk)")
        if (n != 3) hd.err(s"$n components (YCbCr color only)")
      },
      (c, hc, vc) =>
        if (c == 0) {
          if (hc < 1 || hc > 2 || vc < 1 || vc > 2)
            hd.err(f"unsupported luma sampling ${hc}x$vc (factors 1-2 only)")
        } else if (hc != 1 || vc != 1) hd.err("chroma sampling must be 1x1"))

  /** The color-JPEG decode behind [[parseJpegColor]] and the MJPEG frame
    * loop: the shared walk and MCU decoder over the YCbCr frame, reduced
    * to [[JpegColorDecoded]] exact sums. `err` carries the caller's
    * context (doc, or doc+frame) into failures. */
  private def jpegColorDecode(bytes: Array[Byte], err: String => Nothing): JpegColorDecoded = {
    val hd = new JpegHeader(bytes, err)
    val at = hd.walk(0xc0, ycbcrFrame(hd),
      hd.baselineScan(_, 3, "scan must carry all three components"))
    colorPlaneStats(decodeBaseline(hd, at, 3, c => s"component $c"))
  }

  def decodeJpegColor(media: Dataset[MediaRow]): Dataset[JpegColorFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseJpegColor(m.doc_id, m.media)))
  }

  /** Deterministic baseline COLOR JPEG corpus: per doc, an MCU-aligned
    * geometry, 4:2:0 on even ids / 4:4:4 on odd, and per-MCU constant
    * (Y, Cb, Cr) planes — closed form, so every decoded statistic has an
    * analytic DuckDB oracle (per-MCU RGB constants via the same IEEE
    * `round` the decoder's `rint` computes — the value domain provably
    * contains no .5 ties, checked exhaustively). Every 7th doc carries a
    * 2-MCU restart interval so the color restart path (ALL three
    * predictors reset) runs on gate data. */
  def jpegColorFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val sub420 = id % 2 == 0
        val mcu = if (sub420) 16 else 8
        val w = (mcu * (1 + id % 3)).toInt
        val h = (mcu * (1 + id % 2)).toInt
        val nm = (w / mcu) * (h / mcu)
        val yM = Array.tabulate(nm)(m => (80 + (id * 7 + m * 13) % 97).toInt)
        val cbM = Array.tabulate(nm)(m => (118 + (id + 3 * m) % 21).toInt)
        val crM = Array.tabulate(nm)(m => (118 + (id * 5 + 11 * m) % 21).toInt)
        MediaRow(id, jpegEncodeColor(w, h, sub420, yM, cbM, crM,
          restartInterval = if (id % 7 == 0) 2 else 0))
      })
  }

  /** Deterministic baseline COLOR JPEG writer: interleaved YCbCr with
    * per-MCU constant planes (`yM`/`cbM`/`crM` in MCU raster order) —
    * Q(0,0)=8 makes every decoded constant exact, AC is all-EOB (the
    * run-length paths are the grayscale fixture's business). 4:2:0 writes
    * 2x2 luma sampling (four luma blocks per MCU sharing the constant);
    * 4:4:4 writes 1x1. Each component DC-predicts independently; restart
    * markers reset all three. */
  private[llm] def jpegEncodeColor(w: Int, h: Int, sub420: Boolean,
      yM: Array[Int], cbM: Array[Int], crM: Array[Int],
      restartInterval: Int = 0): Array[Byte] =
    jpegEncodeColorSampled(w, h, if (sub420) 2 else 1, if (sub420) 2 else 1,
      yM, cbM, crM, restartInterval)

  /** General-sampling variant (r17): independent luma factors, covering
    * 4:2:2 (2x1) and 4:4:0 (1x2) alongside the 4:4:4/4:2:0 pair. */
  private[llm] def jpegEncodeColorSampled(w: Int, h: Int, hs: Int, vs: Int,
      yM: Array[Int], cbM: Array[Int], crM: Array[Int],
      restartInterval: Int = 0): Array[Byte] = {
    val mcuW = 8 * hs; val mcuH = 8 * vs
    require(w % mcuW == 0 && h % mcuH == 0,
      s"fixture geometry must be MCU-aligned (${w}x$h vs ${mcuW}x$mcuH)")
    val nm = (w / mcuW) * (h / mcuH)
    require(yM.length == nm && cbM.length == nm && crM.length == nm,
      "one (y, cb, cr) triple per MCU")
    jpegEncodeDcOnly(w, h, Seq((hs << 4) | vs, 0x11, 0x11), Array(yM, cbM, crM),
      restartInterval, _.jfif())
  }

  /** The DC-only baseline writer behind the color and CMYK fixtures: one
    * constant per MCU per component (`planes(c)` in MCU raster order),
    * Q(0,0)=8 so each decodes exactly, AC all-EOB (the run-length paths
    * are the grayscale fixture's business). Component c writes
    * `samplings(c)` (a JFIF h<<4|v byte) blocks per MCU, all sharing its
    * constant; slot 0's factors size the MCU. Each component DC-predicts
    * independently; restart markers reset them all. `app` writes the
    * APPn segments after SOI. */
  private def jpegEncodeDcOnly(w: Int, h: Int, samplings: Seq[Int],
      planes: Array[Array[Int]], restartInterval: Int,
      app: JpegWriter => Unit): Array[Byte] = {
    require(planes.forall(_.forall(v => v >= 0 && v <= 255)),
      "plane constants are sample values")
    val nm = planes(0).length
    val blocks = samplings.map(s => (s >> 4) * (s & 15)).toArray
    val wr = new JpegWriter(256 + nm * 2 * planes.length, FixtureAcCounts, FixtureAcSyms)
    app(wr)
    wr.frame(0xc0, w, h, samplings, fixtureQuant(ac44 = false), restartInterval)
    wr.sos(planes.indices, 0, 63, 0, 0)
    var m = 0
    while (m < nm) {
      if (restartDue(m, restartInterval)) wr.restart(m, restartInterval)
      var c = 0
      while (c < planes.length) {
        var b = 0
        while (b < blocks(c)) {
          wr.putDc(c, planes(c)(m) - 128) // Q00=8 cancels the IDCT's ÷8
          wr.putAc(0x00) // EOB
          b += 1
        }
        c += 1
      }
      m += 1
    }
    wr.finish()
  }

  // DC table: the public Annex K.3.1 luminance layout (12 categories);
  // AC table: a minimal canonical table carrying exactly the run/size
  // symbols the coefficient-domain fixture emits. The DECODER never
  // assumes either — it builds whatever the DHT declares.
  private val FixtureDcCounts =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val FixtureDcSyms = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val FixtureAcCounts =
    Array(0, 3, 1, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  // EOB, ZRL, (run 6, sizes 1/2/10), (run 0, size 1) — the size-10 extend
  // (ten ones) followed by (0,1)'s all-ones code + a one-bit extend forms a
  // 15-bit run of ones, which forces FF00 byte stuffing at ANY alignment —
  // the spec's deterministic stuffing trigger
  private val FixtureAcSyms = Array(0x00, 0xf0, 0x61, 0x62, 0x6a, 0x01)

  // ---------------------------------------------------------------------
  // CMYK / YCCK baseline JPEG (r19, VERDICT r18 #3) — the one decode
  // boundary with real web prevalence left (print-origin Adobe JPEGs;
  // under 1% of a crawl but not 0 — COVERAGE.md's boundary adjudication
  // named it "the first boundary to lift"). Adobe's APP14 marker names
  // the transform:
  //   transform 0 → four stored ink planes, no color transform (CMYK);
  //   transform 2 → YCCK: (Y,Cb,Cr) carry the JFIF-transformed INVERTED
  //                 CMY, K rides as a fourth plane sampled like Y.
  // Adobe writers store the planes INVERTED (stored = 255 − ink, the
  // Photoshop convention); a 4-component stream WITHOUT the Adobe marker
  // is treated as plain non-inverted CMYK (libjpeg's assumption). The
  // feature row reports true ink-coverage means plus derived RGB
  // (r = (255−c)·(255−k)/255 — exact integer floor division, so the
  // oracle reproduces it verbatim with DuckDB's `//`).

  /** 4-component baseline decode: the shared walk with APP14 transform
    * capture, per-component quantization/Huffman selectors, the shared
    * MCU decoder (DC predictors reset at restarts on all FOUR, the K plane
    * sampled like Y), chroma replication for YCCK, and exact integer
    * ink/RGB sums with one IEEE division each — oracle-exact. */
  private[llm] def parseJpegCmyk(id: Long, bytes: Array[Byte]): JpegCmykFeatures = {
    val hd = new JpegHeader(bytes, docErr(id))
    import hd.err
    val at = hd.walk(0xc0,
      hd.readFrame(_, n => if (n != 4) err(s"$n components (CMYK/YCCK is 4)"),
        (_, hc, vc) => if (hc < 1 || hc > 2 || vc < 1 || vc > 2)
          err(f"unsupported sampling ${hc}x$vc (factors 1-2 only)")),
      hd.baselineScan(_, 4, "scan must carry all four components"),
      progressiveRejected = "progressive CMYK unsupported (baseline only)")
    val transform = hd.adobeTransform
    if (transform == 1 || transform > 2)
      err(s"Adobe transform $transform invalid for a 4-component frame")
    val ycck = transform == 2
    val sampH = hd.sampH; val sampV = hd.sampV
    if (ycck) {
      if (sampH(1) != 1 || sampV(1) != 1 || sampH(2) != 1 || sampV(2) != 1)
        err("YCCK chroma sampling must be 1x1")
      if (sampH(3) != sampH(0) || sampV(3) != sampV(0))
        err("YCCK K-plane sampling must match Y")
    } else if ((0 until 4).exists(c => sampH(c) != 1 || sampV(c) != 1))
      err("CMYK sampling must be 1x1 on all four planes")
    val p = decodeBaseline(hd, at, 4, c => s"component $c")

    // ink / RGB statistics: exact integer sums, one IEEE division each
    val w = p.w; val h = p.h; val hs = p.hs; val vs = p.vs; val cw = p.pw(1)
    val Array(plane0, plane1, plane2, plane3) = p.plane
    val inverted = transform >= 0
    def clamp(d: Double): Int = {
      val v = StrictMath.rint(d).toInt
      if (v < 0) 0 else if (v > 255) 255 else v
    }
    var sC = 0L; var sM = 0L; var sY = 0L; var sK = 0L
    var sR = 0L; var sG = 0L; var sB = 0L
    var mnK = 255; var mxK = 0
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val v0 = plane0(yy * w + xx)
        val v1 = plane1((yy / vs) * cw + (xx / hs))
        val v2 = plane2((yy / vs) * cw + (xx / hs))
        val v3 = plane3(yy * w + xx)
        // stored plane values: YCCK routes (Y,Cb,Cr) through the JFIF
        // transform to recover the stored (inverted) CMY
        val s0 = if (ycck) clamp(v0 + 1.402 * (v2 - 128)) else v0
        val s1 =
          if (ycck) clamp(v0 - 0.344136 * (v1 - 128) - 0.714136 * (v2 - 128))
          else v1
        val s2 = if (ycck) clamp(v0 + 1.772 * (v1 - 128)) else v2
        // true ink coverage: Adobe-marked streams store inverted planes
        val c = if (inverted) 255 - s0 else s0
        val m2 = if (inverted) 255 - s1 else s1
        val y2 = if (inverted) 255 - s2 else s2
        val k2 = if (inverted) 255 - v3 else v3
        sC += c; sM += m2; sY += y2; sK += k2
        sR += (255 - c) * (255 - k2) / 255
        sG += (255 - m2) * (255 - k2) / 255
        sB += (255 - y2) * (255 - k2) / 255
        if (k2 < mnK) mnK = k2
        if (k2 > mxK) mxK = k2
        xx += 1
      }
      yy += 1
    }
    val n = w.toLong * h
    JpegCmykFeatures(id, w, h, if (ycck) "YCCK" else "CMYK",
      subsamplingName(hs, vs),
      sC.toDouble / n, sM.toDouble / n, sY.toDouble / n, sK.toDouble / n,
      sR.toDouble / n, sG.toDouble / n, sB.toDouble / n, mnK, mxK)
  }

  def decodeJpegCmyk(media: Dataset[MediaRow]): Dataset[JpegCmykFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseJpegCmyk(m.doc_id, m.media)))
  }

  /** Deterministic 4-component JPEG writer: per-MCU constant stored planes
    * (`p0`-`p3` in MCU raster order) through the DC-only baseline writer.
    * YCCK subsamples the chroma pair only (K rides at Y's sampling); CMYK
    * writes all four planes 1x1. `adobe` controls the APP14 marker (and
    * thereby the decoder's inversion convention). */
  private[llm] def jpegEncodeCmyk(w: Int, h: Int, ycck: Boolean,
      sub420: Boolean, p0: Array[Int], p1: Array[Int], p2: Array[Int],
      p3: Array[Int], restartInterval: Int = 0,
      adobe: Boolean = true): Array[Byte] = {
    val hs = if (ycck && sub420) 2 else 1; val vs = hs
    val mcuW = 8 * hs; val mcuH = 8 * vs
    require(w % mcuW == 0 && h % mcuH == 0,
      s"fixture geometry must be MCU-aligned (${w}x$h vs ${mcuW}x$mcuH)")
    require(!sub420 || ycck, "CMYK stores four full-resolution planes")
    val nm = (w / mcuW) * (h / mcuH)
    val planes = Array(p0, p1, p2, p3)
    require(planes.forall(_.length == nm), "one quad per MCU")
    val luma = (hs << 4) | vs
    jpegEncodeDcOnly(w, h, Seq(luma, 0x11, 0x11, luma), planes,
      restartInterval, wr => if (adobe) wr.adobe(if (ycck) 2 else 0))
  }

  /** Deterministic CMYK/YCCK corpus: even ids are Adobe CMYK (transform 0,
    * four 1x1 stored ink planes), odd ids YCCK (transform 2) — 4:2:0 on
    * id%4==1, 4:4:4 on id%4==3. The (Y,Cb,Cr) constants reuse the color
    * fixture's value domain, so its exhaustively-checked tie-free rounding
    * proof carries over unchanged; the K domain (60-190) keeps the derived
    * ink/RGB integer math in range. Every 7th doc carries a 2-MCU restart
    * interval so the FOUR-predictor reset runs on gate data. */
  def jpegCmykFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val ycck = id % 2 == 1
        val sub420 = ycck && id % 4 == 1
        val mcu = if (sub420) 16 else 8
        val w = (mcu * (1 + id % 3)).toInt
        val h = (mcu * (1 + id % 2)).toInt
        val nm = (w / mcu) * (h / mcu)
        val a = Array.tabulate(nm)(m => (80 + (id * 7 + m * 13) % 97).toInt)
        val b = Array.tabulate(nm)(m => (118 + (id + 3 * m) % 21).toInt)
        val c = Array.tabulate(nm)(m => (118 + (id * 5 + 11 * m) % 21).toInt)
        val k = Array.tabulate(nm)(m => (60 + (id * 11 + 17 * m) % 131).toInt)
        MediaRow(id, jpegEncodeCmyk(w, h, ycck, sub420, a, b, c, k,
          restartInterval = if (id % 7 == 0) 2 else 0))
      })
  }

  // ---------------------------------------------------------------------
  // PROGRESSIVE color JPEG (r17, VERDICT r16 #7) — the last codec gap a
  // web-scale multimodal corpus hits at volume (libjpeg's default
  // progressive script dominates the crawlable web's JPEGs). SOF2 frames:
  // the image arrives as MULTIPLE scans over a shared per-component
  // quantized-coefficient store — DC first with a successive-approximation
  // point transform (arithmetic shift) then a raw-bit refinement pass;
  // each component's AC band split by spectral selection (Ss..Se,
  // non-interleaved per the spec) delivered at reduced precision (Al) via
  // run-length coding with EOBn end-of-band RUN codes spanning blocks,
  // then refined one bit at a time by the correction-bit algorithm
  // (G.1.2.3: new ±1 coefficients interleaved with correction bits on
  // nonzero-history positions, EOB runs carrying the trailing correction
  // bits). After the last scan the store dequantizes and IDCTs exactly
  // like the baseline path. The decoder tracks per-coefficient
  // progression state and fails loudly on out-of-order refinement,
  // incomplete delivery, EOB runs crossing restarts, or a sequential SOF.
  // The fixture keeps the color fixture's closed-form plan (per-MCU
  // constants) plus one luma AC(4,4) coefficient per MCU — the ±k basis
  // trick the grayscale fixture proves — so spectral selection and both
  // approximation passes carry REAL nonzero content while every decoded
  // pixel stays analytic for the DuckDB oracle.
  // ---------------------------------------------------------------------

  final case class JpegProgressiveFeatures(doc_id: Long, width: Int,
      height: Int, subsampling: String, n_scans: Int,
      mean_y: Double, mean_cb: Double, mean_cr: Double,
      mean_r: Double, mean_g: Double, mean_b: Double,
      min_luma: Int, max_luma: Int)

  /** Progressive (SOF2) YCbCr decode — the shared walk and bit reader
    * around its own multi-scan coefficient assembly, then the shared
    * dequant/IDCT/placement and the baseline color statistics. Statistics
    * are exact integer sums until one IEEE division each. */
  private[llm] def parseJpegProgressive(id: Long,
      bytes: Array[Byte]): JpegProgressiveFeatures = {
    val hd = new JpegHeader(bytes, docErr(id))
    import hd.{err, u16, u8}
    var nScans = 0
    var mw = 0; var mh = 0
    var coefs: Array[Array[Int]] = null // per comp, padded grid, natural order
    var bw: Array[Int] = null; var bh: Array[Int] = null // padded block grid
    var nbw: Array[Int] = null; var nbh: Array[Int] = null // real block grid
    // progression state per (component, zigzag index): -1 = untouched,
    // else the Al the coefficient currently sits at
    val state = Array.fill(3, 64)(-1)

    def frame(at: Int): Unit = {
      if (coefs != null) err("duplicate frame header")
      ycbcrFrame(hd)(at)
      val w = hd.w; val h = hd.h; val hs = hd.sampH(0); val vs = hd.sampV(0)
      mw = (w + 8 * hs - 1) / (8 * hs); mh = (h + 8 * vs - 1) / (8 * vs)
      bw = Array(mw * hs, mw, mw); bh = Array(mh * vs, mh, mh)
      def cdiv(a: Int, b: Int) = (a + b - 1) / b
      nbw = Array(cdiv(w, 8), cdiv(cdiv(w, hs), 8), cdiv(cdiv(w, hs), 8))
      nbh = Array(cdiv(h, 8), cdiv(cdiv(h, vs), 8), cdiv(cdiv(h, vs), 8))
      coefs = Array.tabulate(3)(c => new Array[Int](bw(c) * bh(c) * 64))
    }

    def decodeScan(at: Int): Int = {
      if (coefs == null) err("scan before SOF2")
      val ns = u8(at + 4)
      if (ns < 1 || ns > 3) err(s"bad scan component count $ns")
      val scomp = new Array[Int](ns)
      val sdc = new Array[Int](ns); val sac = new Array[Int](ns)
      var ci = 0
      while (ci < ns) {
        scomp(ci) = hd.frameSlot(u8(at + 5 + 2 * ci), 3)
        sdc(ci) = u8(at + 6 + 2 * ci) >> 4; sac(ci) = u8(at + 6 + 2 * ci) & 15
        if (sdc(ci) > 3 || sac(ci) > 3)
          err(s"bad Huffman table selector ${sdc(ci)}/${sac(ci)}")
        ci += 1
      }
      val ss = u8(at + 5 + 2 * ns); val se = u8(at + 6 + 2 * ns)
      val ah = u8(at + 7 + 2 * ns) >> 4; val al = u8(at + 7 + 2 * ns) & 15
      val isDc = ss == 0
      if (isDc && se != 0) err("DC scan must have Se=0")
      if (!isDc && ns != 1) err("progressive AC scans must be non-interleaved")
      if (se > 63 || ss > se) err(s"bad spectral band $ss..$se")
      if (ah != 0 && ah != al + 1) err("refinement must deliver exactly one bit")
      // progression bookkeeping: first pass only on untouched coefficients,
      // refinements contiguous in Al
      var k0 = ss
      while (k0 <= se) {
        var j = 0
        while (j < ns) {
          val st = state(scomp(j))(k0)
          if (ah == 0) {
            if (st != -1) err(s"re-delivered coefficient $k0 of component ${scomp(j)}")
          } else if (st != ah)
            err(s"refinement of coefficient $k0 expects Al=$ah, found $st")
          state(scomp(j))(k0) = al
          j += 1
        }
        k0 += 1
      }
      val dcT: Array[Huff] =
        if (isDc && ah == 0) Array.tabulate(ns) { j =>
          if (hd.dcTables(sdc(j)) != null) hd.dcTables(sdc(j))
          else err(s"scan references undefined DC table ${sdc(j)}") }
        else null
      val acT: Huff =
        if (!isDc) {
          if (hd.acTables(sac(0)) != null) hd.acTables(sac(0))
          else err(s"scan references undefined AC table ${sac(0)}")
        } else null

      val bits = new JpegBits(hd, at + 2 + u16(at + 2))
      var eobrun = 0L
      val p1 = 1 << al

      def refineNonzero(cc: Int, idx: Int): Unit =
        if (bits.bit() == 1 && (coefs(cc)(idx) & p1) == 0)
          coefs(cc)(idx) += (if (coefs(cc)(idx) >= 0) p1 else -p1)

      def decodeBlock(cc: Int, base: Int, ci2: Int): Unit = {
        if (isDc) {
          if (ah == 0) {
            val t = dcT(ci2).decode(bits)
            if (t > 11) err(s"DC category $t out of range")
            bits.pred(cc) += bits.signed(t)
            coefs(cc)(base) = bits.pred(cc) << al
          } else if (bits.bit() == 1) coefs(cc)(base) |= p1
        } else if (ah == 0) {
          // AC first pass: standard RLE at reduced precision, EOBn runs
          if (eobrun > 0) eobrun -= 1
          else {
            var k = ss
            var break = false
            while (k <= se && !break) {
              val rs = acT.decode(bits)
              val r = rs >> 4; val s = rs & 15
              if (s == 0) {
                if (r < 15) { eobrun = (1L << r) - 1 + bits.receive(r); break = true }
                else k += 16
              } else {
                k += r
                if (k > se) err("AC run overruns the band")
                coefs(cc)(base + Zigzag(k)) = bits.signed(s) << al
                k += 1
              }
            }
          }
        } else {
          // AC refinement: correction bits on nonzero history, new ±1s
          var k = ss
          if (eobrun == 0) {
            var break = false
            while (k <= se && !break) {
              val rs = acT.decode(bits)
              var r = rs >> 4; val s = rs & 15
              var newVal = 0
              if (s == 0) {
                if (r < 15) {
                  eobrun = (1L << r) + (if (r > 0) bits.receive(r) else 0)
                  break = true
                } // r == 15: ZRL — 16 zero-history positions consumed below
              } else {
                if (s != 1) err("refinement coefficient size must be 1")
                newVal = if (bits.bit() == 1) p1 else -p1
              }
              if (!break) {
                var placed = false
                while (k <= se && !placed) {
                  val idx = base + Zigzag(k)
                  if (coefs(cc)(idx) != 0) refineNonzero(cc, idx)
                  else if (r == 0) { // the target zero-history slot
                    if (newVal != 0) coefs(cc)(idx) = newVal
                    placed = true
                  } else r -= 1
                  k += 1
                }
                if (!placed && newVal != 0)
                  err("new refinement coefficient has no slot in the band")
              }
            }
          }
          if (eobrun > 0) { // tail of the EOBn block / wholly-skipped blocks
            while (k <= se) {
              val idx = base + Zigzag(k)
              if (coefs(cc)(idx) != 0) refineNonzero(cc, idx)
              k += 1
            }
            eobrun -= 1
          }
        }
      }

      val interleaved = ns > 1
      val scanMcus =
        if (interleaved) mw * mh else nbw(scomp(0)) * nbh(scomp(0))
      var mcu = 0
      while (mcu < scanMcus) {
        if (restartDue(mcu, hd.restartInterval)) {
          if (eobrun != 0) err("EOB run crosses a restart interval")
          bits.restart(mcu)
        }
        if (interleaved) {
          val my = mcu / mw; val mx = mcu % mw
          var j = 0
          while (j < ns) {
            val cc = scomp(j)
            val hc = hd.sampH(cc); val vc = hd.sampV(cc)
            var by0 = 0
            while (by0 < vc) {
              var bx0 = 0
              while (bx0 < hc) {
                decodeBlock(cc,
                  ((my * vc + by0) * bw(cc) + mx * hc + bx0) * 64, j)
                bx0 += 1
              }
              by0 += 1
            }
            j += 1
          }
        } else {
          val cc = scomp(0)
          val by = mcu / nbw(cc); val bx = mcu % nbw(cc)
          decodeBlock(cc, (by * bw(cc) + bx) * 64, 0)
        }
        mcu += 1
      }
      if (eobrun != 0) err("EOB run overruns the scan")
      if (u8(bits.pos) != 0xff) err("entropy data not followed by a marker")
      bits.pos
    }

    hd.walk(0xc2, frame, { at => val next = decodeScan(at); nScans += 1; next })
    if (nScans == 0) err("no scan before EOI")
    // completeness: every coefficient of every component delivered to Al=0
    var c = 0
    while (c < 3) {
      var k = 0
      while (k < 64) {
        if (state(c)(k) != 0)
          err(s"progressive stream incomplete: component $c coefficient $k " +
            (if (state(c)(k) == -1) "never delivered" else s"stops at Al=${state(c)(k)}"))
        k += 1
      }
      c += 1
    }
    val q = hd.selected(hd.qTables, hd.qSel, 3, "quantization table",
      c2 => s"component $c2")

    // dequantize + IDCT every real block into the pixel planes
    val p = new JpegPlanes(hd, 3)
    val dq = new Array[Int](64)
    val block = new Array[Int](64)
    c = 0
    while (c < 3) {
      val cs = coefs(c); val qc = q(c)
      var by = 0
      while (by < nbh(c)) {
        var bx = 0
        while (bx < nbw(c)) {
          val base = (by * bw(c) + bx) * 64
          var z = 0
          while (z < 64) { dq(Zigzag(z)) = cs(base + Zigzag(z)) * qc(z); z += 1 }
          idct8x8(dq, block)
          p.put(c, block, by * 8, bx * 8)
          bx += 1
        }
        by += 1
      }
      c += 1
    }

    val d = colorPlaneStats(p)
    val n = p.w.toLong * p.h
    JpegProgressiveFeatures(id, p.w, p.h, subsamplingName(p.hs, p.vs), nScans,
      d.sy.toDouble / n, d.scb.toDouble / n, d.scr.toDouble / n,
      d.sr.toDouble / n, d.sg.toDouble / n, d.sb.toDouble / n, d.mn, d.mx)
  }

  def decodeJpegProgressive(media: Dataset[MediaRow]): Dataset[JpegProgressiveFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseJpegProgressive(m.doc_id, m.media)))
  }

  /** Deterministic PROGRESSIVE color JPEG corpus: the color fixture's
    * per-MCU constant plan (4:2:0 even ids / 4:4:4 odd, same Y/Cb/Cr
    * formulas) plus one luma AC(4,4) coefficient per MCU,
    * k = (id + 7m) % 11 − 5 ∈ [−5, 5] — the (4,4) basis adds exactly ±k
    * to half the block's samples each (the grayscale fixture's exactness
    * trick), so the luma MEAN is unchanged, min/max widen by |k|, and the
    * RGB sums average the two shifted variants — all closed-form for the
    * DuckDB oracle (k is an integer shift of y, so the color fixture's
    * exhaustively-verified tie-free fractional domain is untouched).
    * k spans every successive-approximation path: |k|≥2 plants a
    * first-pass coefficient then a correction bit, |k|=1 is born ±1 in
    * the refinement scan, k=0 rides the EOB runs. Every 7th doc carries
    * a 2-MCU restart interval through ALL TEN SCANS (EOB-run flush at
    * restart boundaries in both AC pass types). */
  def jpegProgressiveFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val sub420 = id % 2 == 0
        val mcu = if (sub420) 16 else 8
        val w = (mcu * (1 + id % 3)).toInt
        val h = (mcu * (1 + id % 2)).toInt
        val nm = (w / mcu) * (h / mcu)
        val yM = Array.tabulate(nm)(m => (80 + (id * 7 + m * 13) % 97).toInt)
        val cbM = Array.tabulate(nm)(m => (118 + (id + 3 * m) % 21).toInt)
        val crM = Array.tabulate(nm)(m => (118 + (id * 5 + 11 * m) % 21).toInt)
        val acY = Array.tabulate(nm)(m => ((id + 7 * m) % 11 - 5).toInt)
        MediaRow(id, jpegEncodeProgressive(w, h, sub420, yM, cbM, crM, acY,
          restartInterval = if (id % 7 == 0) 2 else 0))
      })
  }

  /** Progressive writer: populates the full per-component quantized
    * coefficient store (DC = value−128 with Q00=8, luma AC(4,4) = k with
    * Q=8), then emits libjpeg's scan shape — interleaved DC at Al=1, each
    * component's AC split into spectral bands at Al=1, a raw-bit DC
    * refinement, and AC refinement scans down to Al=0 (high band before
    * low — band order is free and the decoder must not care). The scan
    * encoders are GENERAL (any coefficient content): DC successive
    * approximation via arithmetic shift, AC first pass via sign-magnitude
    * truncation with cross-block EOBn runs, AC refinement via G.1.2.3
    * (new ±1s, ZRL over zero-history runs, buffered correction bits
    * emitted with their owning symbol). */
  private[llm] def jpegEncodeProgressive(w: Int, h: Int, sub420: Boolean,
      yM: Array[Int], cbM: Array[Int], crM: Array[Int], acY: Array[Int],
      restartInterval: Int = 0): Array[Byte] =
    jpegEncodeProgressiveSampled(w, h, if (sub420) 2 else 1,
      if (sub420) 2 else 1, yM, cbM, crM, acY, restartInterval)

  /** General-sampling progressive variant (r17): independent luma factors
    * (4:2:2 / 4:4:0 alongside 4:4:4 / 4:2:0). */
  private[llm] def jpegEncodeProgressiveSampled(w: Int, h: Int, hs: Int,
      vs: Int, yM: Array[Int], cbM: Array[Int], crM: Array[Int],
      acY: Array[Int], restartInterval: Int = 0): Array[Byte] = {
    val mcuW = 8 * hs; val mcuH = 8 * vs
    require(w % mcuW == 0 && h % mcuH == 0,
      s"fixture geometry must be MCU-aligned (${w}x$h vs ${mcuW}x$mcuH)")
    val mw = w / mcuW; val mh = h / mcuH
    val nm = mw * mh
    require(yM.length == nm && cbM.length == nm && crM.length == nm
      && acY.length == nm, "one (y, cb, cr, ac) tuple per MCU")
    require((yM ++ cbM ++ crM).forall(v => v >= 0 && v <= 255),
      "plane constants are sample values")
    require(acY.forall(v => math.abs(v) <= 255), "AC term out of fixture range")
    val qz = Array.fill(64)(16)
    qz(0) = 8
    qz(39) = 8 // zigzag position of natural (4,4)
    val dcH = new Huff(FixtureDcCounts, FixtureDcSyms)
    val acH = new Huff(ProgAcCounts, ProgAcSyms)

    // full quantized coefficient store, natural order, same layout as the
    // decoder's (MCU-aligned, so padded == real grid)
    val bw = Array(mw * hs, mw, mw); val bh = Array(mh * vs, mh, mh)
    val coefs = Array.tabulate(3)(c => new Array[Int](bw(c) * bh(c) * 64))
    val ac44Nat = Zigzag(39)
    var m = 0
    while (m < nm) {
      val my = m / mw; val mx = m % mw
      var by0 = 0
      while (by0 < vs) {
        var bx0 = 0
        while (bx0 < hs) {
          val base = ((my * vs + by0) * bw(0) + mx * hs + bx0) * 64
          coefs(0)(base) = yM(m) - 128
          coefs(0)(base + ac44Nat) = acY(m)
          bx0 += 1
        }
        by0 += 1
      }
      coefs(1)((my * bw(1) + mx) * 64) = cbM(m) - 128
      coefs(2)((my * bw(2) + mx) * 64) = crM(m) - 128
      m += 1
    }
    jpegEncodeProgressiveCoefs(w, h, hs, vs, coefs, restartInterval,
      DefaultProgressiveScript)
  }

  /** libjpeg-shaped default script: DC first (both approximation passes
    * interleaved), per-component spectral bands, refinements in a
    * deliberately non-monotone band order. Tuples: (component slots, Ss,
    * Se, Ah, Al). */
  private[llm] val DefaultProgressiveScript: Seq[(Seq[Int], Int, Int, Int, Int)] =
    Seq(
      (Seq(0, 1, 2), 0, 0, 0, 1),
      (Seq(0), 1, 5, 0, 1),
      (Seq(0), 6, 63, 0, 1),
      (Seq(1), 1, 63, 0, 1),
      (Seq(2), 1, 63, 0, 1),
      (Seq(0, 1, 2), 0, 0, 1, 0),
      (Seq(0), 6, 63, 1, 0),
      (Seq(0), 1, 5, 1, 0),
      (Seq(1), 1, 63, 1, 0),
      (Seq(2), 1, 63, 1, 0))

  /** Emit half of the progressive writer, general over any prebuilt
    * quantized coefficient store (natural order, decoder layout) and any
    * scan script — the surface the multi-coefficient encode tests drive. */
  private[llm] def jpegEncodeProgressiveCoefs(w: Int, h: Int, hs: Int,
      vs: Int, coefs: Array[Array[Int]], restartInterval: Int,
      script: Seq[(Seq[Int], Int, Int, Int, Int)]): Array[Byte] = {
    val mcuW = 8 * hs; val mcuH = 8 * vs
    require(w % mcuW == 0 && h % mcuH == 0,
      s"geometry must be MCU-aligned (${w}x$h vs ${mcuW}x$mcuH)")
    val mw = w / mcuW; val mh = h / mcuH
    val nm = mw * mh
    val bw = Array(mw * hs, mw, mw); val bh = Array(mh * vs, mh, mh)
    val wr = new JpegWriter(512 + nm * 16, ProgAcCounts, ProgAcSyms)
    wr.jfif()
    wr.frame(0xc2, w, h, Seq((hs << 4) | vs, 0x11, 0x11),
      fixtureQuant(ac44 = true), restartInterval)

    // one scan: components (slots), band, approximation
    def scan(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      wr.sos(comps, ss, se, ah, al)
      java.util.Arrays.fill(wr.pred, 0)
      var eobrun = 0
      val corrBits = scala.collection.mutable.ArrayBuffer.empty[Int] // with EOBn
      def emitEobRun(): Unit = {
        if (eobrun > 0) {
          val nb = 31 - Integer.numberOfLeadingZeros(eobrun)
          wr.putAc(nb << 4)
          if (nb > 0) wr.putBits(eobrun - (1 << nb), nb)
          eobrun = 0
        }
        corrBits.foreach(b => wr.putBits(b, 1))
        corrBits.clear()
      }

      def encodeBlock(cc: Int, base: Int): Unit = {
        if (ss == 0) { // DC
          if (ah == 0) wr.putDc(cc, coefs(cc)(base) >> al) // arithmetic shift per the spec
          else wr.putBits((coefs(cc)(base) >> al) & 1, 1)
        } else if (ah == 0) { // AC first pass: sign-magnitude truncation
          var r = 0
          var k = ss
          while (k <= se) {
            val raw = coefs(cc)(base + Zigzag(k))
            val v = if (raw < 0) -((-raw) >> al) else raw >> al
            if (v == 0) r += 1
            else {
              emitEobRun()
              while (r > 15) { wr.putAc(0xf0); r -= 16 }
              val s = category(v)
              wr.putAc((r << 4) | s)
              wr.putValue(v, s)
              r = 0
            }
            k += 1
          }
          if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) emitEobRun() }
        } else { // AC refinement: G.1.2.3 with buffered correction bits
          val blockBits = scala.collection.mutable.ArrayBuffer.empty[Int]
          // last NEW (absvalue == 1) coefficient in the band, if any
          var lastNew = -1
          var k = ss
          while (k <= se) {
            val ab = math.abs(coefs(cc)(base + Zigzag(k))) >> al
            if (ab == 1) lastNew = k
            k += 1
          }
          var r = 0
          k = ss
          while (k <= se) {
            val raw = coefs(cc)(base + Zigzag(k))
            val ab = math.abs(raw) >> al
            if (ab == 0) r += 1
            else {
              // the ZRL loop runs at EVERY significant position — history
              // included — so each ZRL's flushed correction bits are
              // exactly those of the history coefficients inside the
              // 16-zero-history span the decoder replays for it (libjpeg
              // encode_mcu_AC_refine's shape; flushing only at new
              // coefficients misassociates bits of history coefficients
              // beyond the span and desyncs the stream — r17 review)
              while (r > 15 && k <= lastNew) {
                emitEobRun()
                wr.putAc(0xf0)
                r -= 16
                blockBits.foreach(b => wr.putBits(b, 1)); blockBits.clear()
              }
              if (ab > 1) blockBits += (ab & 1) // history: correction bit
              else { // newly significant at this precision
                emitEobRun()
                wr.putAc((r << 4) | 1)
                wr.putBits(if (raw < 0) 0 else 1, 1)
                blockBits.foreach(b => wr.putBits(b, 1)); blockBits.clear()
                r = 0
              }
            }
            k += 1
          }
          if (r > 0 || blockBits.nonEmpty) {
            eobrun += 1
            corrBits ++= blockBits
            if (eobrun == 0x7fff || corrBits.length > 900) emitEobRun()
          }
        }
      }

      val interleaved = comps.length > 1
      val scanMcus = if (interleaved) nm else bw(comps.head) * bh(comps.head)
      var mcu = 0
      while (mcu < scanMcus) {
        if (restartDue(mcu, restartInterval)) {
          emitEobRun()
          wr.restart(mcu, restartInterval)
        }
        if (interleaved) {
          val my = mcu / mw; val mx = mcu % mw
          comps.foreach { cc =>
            val hc = if (cc == 0) hs else 1
            val vc = if (cc == 0) vs else 1
            var by0 = 0
            while (by0 < vc) {
              var bx0 = 0
              while (bx0 < hc) {
                encodeBlock(cc, ((my * vc + by0) * bw(cc) + mx * hc + bx0) * 64)
                bx0 += 1
              }
              by0 += 1
            }
          }
        } else {
          val cc = comps.head
          encodeBlock(cc, ((mcu / bw(cc)) * bw(cc) + mcu % bw(cc)) * 64)
        }
        mcu += 1
      }
      emitEobRun()
      wr.flushBits()
    }

    script.foreach { case (comps, ss, se, ah, al) => scan(comps, ss, se, ah, al) }
    wr.finish()
  }

  // canonical table carrying the run/size symbols the progressive fixture
  // and the multi-coefficient encode tests emit: EOB0..EOB5 (cross-block
  // runs up to 63), ZRL, and the (run 0-3, size 1/2) first-pass +
  // new-coefficient codes
  private val ProgAcCounts =
    Array(0, 0, 2, 4, 9, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcSyms =
    Array(0x00, 0xf0,
      0x10, 0x11, 0x12, 0x20,
      0x01, 0x02, 0x21, 0x22, 0x30, 0x31, 0x32, 0x40, 0x50)

  // ---------------------------------------------------------------------
  // MJPEG video in an AVI container (r16) — the COMPRESSED video codec:
  // every frame is an independently-coded baseline color JPEG (exactly
  // the intra-frame compression webcams/capture cards emit), carried in
  // the RIFF/AVI structure: LIST hdrl (avih + LIST strl {strh vids/MJPG,
  // strf BITMAPINFOHEADER}), LIST movi ('00dc' frame chunks, word-
  // aligned), optional idx1 index (validated when present), JUNK chunks
  // skipped anywhere. Every frame runs the full color-JPEG decode
  // (Huffman/DPCM/dequant/IDCT/upsample/RGB) and the container metadata
  // is cross-checked against what the frames actually decode to — a
  // chunk-walk, pad-byte, index, or per-frame decode bug cannot pass.
  // Inter-frame codecs (H.264/VP9: motion compensation + in-loop
  // filters) remain the documented boundary.
  // ---------------------------------------------------------------------

  final case class MjpegVideoFeatures(doc_id: Long, width: Int, height: Int,
      fps_num: Int, fps_den: Int, n_frames: Int, subsampling: String,
      mean_luma: Double, mean_r: Double, mean_g: Double, mean_b: Double,
      n_cuts: Int, n_keyframes: Int)

  /** Full MJPEG/AVI decode of one media payload: RIFF walk, header
    * validation (single 'vids' stream, 'MJPG' handler AND biCompression,
    * header dims consistent), per-frame baseline color-JPEG decode with
    * dims/subsampling cross-checked against the container, idx1 entries
    * (when present) checked against the movi chunks they index. Features
    * are the video-curation basics: whole-clip luma/RGB means (exact
    * integer sums, one IEEE division each), scene cuts where consecutive
    * frames' luma sums differ by ≥16 grey levels per pixel (integer
    * compare — the Y4M rule), keyframes = cuts + 1. */
  private[llm] def parseAviMjpeg(id: Long, bytes: Array[Byte]): MjpegVideoFeatures = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"media of doc $id: $msg")
    def u32le(o: Int): Long =
      if (o + 3 < bytes.length)
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      else err("truncated AVI")
    def cc(o: Int): String =
      if (o + 3 < bytes.length)
        new String(Array(bytes(o), bytes(o + 1), bytes(o + 2), bytes(o + 3)), "US-ASCII")
      else err("truncated AVI")
    if (bytes.length < 12 || cc(0) != "RIFF") err("not a RIFF file")
    if (cc(8) != "AVI ") err(s"RIFF form is '${cc(8)}', not 'AVI '")
    val riffEnd = 8 + u32le(4)
    if (riffEnd > bytes.length) err("RIFF size overruns the payload")

    // header state, filled by the hdrl walk
    var avihFrames = -1L; var avihStreams = -1L; var avihW = -1L; var avihH = -1L
    var strhSeen = false; var scale = -1L; var rate = -1L; var strhLength = -1L
    var strfW = -1L; var strfH = -1L
    // movi state: per-frame (offset of the '00dc' fourcc relative to the
    // 'movi' form tag, chunk payload size, payload start) — the idx1
    // convention, so a present index is checkable byte-for-byte
    val frames = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()

    // chunk-size guard shared by every walk: a size whose low 32 bits land
    // negative in an Int, or one that overruns the enclosing container,
    // must fail loudly — an unchecked negative size walks the cursor
    // BACKWARDS (infinite loop), an overrun would zero-pad frame payloads
    def ckSize(o: Int, end: Int, ck: String): Int = {
      val sz = u32le(o + 4).toInt
      if (sz < 0 || o + 8 + sz > end)
        err(s"chunk '$ck' (size ${u32le(o + 4)}) overruns its container")
      sz
    }

    def walkStrl(start: Int, end: Int): Unit = {
      var o = start
      while (o < end) {
        val ck = cc(o); val sz = ckSize(o, end, ck)
        ck match {
          case "strh" =>
            if (sz < 36) err("strh too short")
            if (cc(o + 8) != "vids") err(s"stream type '${cc(o + 8)}' (vids only)")
            if (cc(o + 12) != "MJPG") err(s"codec '${cc(o + 12)}' unsupported (MJPG only)")
            scale = u32le(o + 28); rate = u32le(o + 32); strhLength = u32le(o + 40)
            if (scale <= 0 || rate <= 0) err("degenerate frame rate")
            // fps_num/fps_den are emitted as Ints — a u32 above 2^31 would
            // silently truncate negative instead of failing the otherwise
            // loud container validation (ADVICE r16)
            if (scale > Int.MaxValue || rate > Int.MaxValue)
              err(s"dwScale/dwRate $scale/$rate exceed Int range")
            strhSeen = true
          case "strf" =>
            if (sz < 40) err("strf too short for BITMAPINFOHEADER")
            strfW = u32le(o + 12); strfH = u32le(o + 16)
            if (cc(o + 24) != "MJPG") err(s"biCompression '${cc(o + 24)}' (MJPG only)")
          case _ => // indx/strn/JUNK: skipped
        }
        o += 8 + sz + (sz & 1)
      }
    }
    def walkHdrl(start: Int, end: Int): Unit = {
      var o = start
      while (o < end) {
        val ck = cc(o); val sz = ckSize(o, end, ck)
        ck match {
          case "avih" =>
            if (sz < 40) err("avih too short")
            avihFrames = u32le(o + 24); avihStreams = u32le(o + 32)
            avihW = u32le(o + 40); avihH = u32le(o + 44)
            // emitted as Ints downstream — fail loudly at the header, not
            // via a truncated value later (ADVICE r16)
            if (avihW > Int.MaxValue || avihH > Int.MaxValue)
              err(s"avih dimensions ${avihW}x$avihH exceed Int range")
          case "LIST" if cc(o + 8) == "strl" => walkStrl(o + 12, o + 8 + sz)
          case _ => // odml LIST, JUNK: skipped
        }
        o += 8 + sz + (sz & 1)
      }
    }
    def walkMovi(moviTag: Int, start: Int, end: Int): Unit = {
      var o = start
      while (o < end) {
        val ck = cc(o); val sz = ckSize(o, end, ck)
        ck match {
          case "00dc" => frames += ((o.toLong - moviTag, sz.toLong, o + 8))
          case "JUNK" => // skipped
          case other  => err(s"unexpected movi chunk '$other' (one MJPG stream expected)")
        }
        o += 8 + sz + (sz & 1)
      }
    }

    var o = 12
    while (o < riffEnd) {
      val ck = cc(o); val sz = ckSize(o, riffEnd.toInt, ck)
      ck match {
        case "LIST" =>
          cc(o + 8) match {
            case "hdrl" => walkHdrl(o + 12, o + 8 + sz)
            case "movi" =>
              if (!strhSeen) err("movi before hdrl")
              walkMovi(o + 8, o + 12, o + 8 + sz)
            case _ => // odml/INFO lists: skipped
          }
        case "JUNK" => // skipped
        case "idx1" =>
          if (sz % 16 != 0) err("idx1 size is not a whole number of entries")
          val n = sz / 16
          if (n != frames.length)
            err(s"idx1 indexes $n chunks but movi carries ${frames.length}")
          var e = 0
          while (e < n) {
            val eo = o + 8 + 16 * e
            if (cc(eo) != "00dc") err(s"idx1 entry $e indexes '${cc(eo)}'")
            if (u32le(eo + 8) != frames(e)._1)
              err(s"idx1 entry $e offset ${u32le(eo + 8)} != movi chunk at ${frames(e)._1}")
            if (u32le(eo + 12) != frames(e)._2)
              err(s"idx1 entry $e length ${u32le(eo + 12)} != chunk size ${frames(e)._2}")
            e += 1
          }
        case other => err(s"unexpected top-level chunk '$other'")
      }
      o += 8 + sz + (sz & 1)
    }
    if (avihFrames < 0) err("missing avih header")
    if (!strhSeen) err("missing strh header")
    if (strfW < 0) err("missing strf format")
    if (avihStreams != 1) err(s"$avihStreams streams (single video stream only)")
    if (strfW != avihW || strfH != avihH)
      err(s"strf ${strfW}x$strfH disagrees with avih ${avihW}x$avihH")
    if (frames.isEmpty) err("video has no frames")
    if (avihFrames != frames.length || strhLength != frames.length)
      err(s"container declares $avihFrames/$strhLength frames, movi carries ${frames.length}")

    var sy = 0L; var sr = 0L; var sg = 0L; var sb = 0L
    var hs = -1; var vsv = -1
    val frameLuma = new Array[Long](frames.length)
    var f = 0
    while (f < frames.length) {
      val (_, sz, payloadAt) = frames(f)
      val fb = java.util.Arrays.copyOfRange(bytes, payloadAt, payloadAt + sz.toInt)
      val fi = f
      val d = jpegColorDecode(fb,
        msg => throw new IllegalArgumentException(s"media of doc $id frame $fi: $msg"))
      if (d.w != avihW || d.h != avihH)
        err(s"frame $f decodes ${d.w}x${d.h}, container says ${avihW}x$avihH")
      if (hs < 0) { hs = d.hs; vsv = d.vs }
      else if (hs != d.hs || vsv != d.vs)
        err(s"frame $f changes chroma subsampling mid-stream")
      frameLuma(f) = d.sy
      sy += d.sy; sr += d.sr; sg += d.sg; sb += d.sb
      f += 1
    }
    val w = avihW.toInt; val h = avihH.toInt
    val px = w.toLong * h
    var cuts = 0
    f = 1
    while (f < frames.length) {
      if (math.abs(frameLuma(f) - frameLuma(f - 1)) >= 16L * px) cuts += 1
      f += 1
    }
    val n = frames.length.toLong * px
    MjpegVideoFeatures(id, w, h, rate.toInt, scale.toInt, frames.length,
      subsamplingName(hs, vsv),
      sy.toDouble / n, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
      cuts, cuts + 1)
  }

  def decodeAviMjpeg(media: Dataset[MediaRow]): Dataset[MjpegVideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseAviMjpeg(m.doc_id, m.media)))
  }

  /** Deterministic MJPEG/AVI corpus: geometry and subsampling follow the
    * color-JPEG fixture's plan (4:2:0 even ids / 4:4:4 odd, MCU-aligned),
    * the frame count, scene length, and frame rate (NTSC 30000/1001 on
    * every 5th doc) are closed-form in `doc_id`, and every frame's three
    * planes are FRAME-CONSTANT values drawn from the color fixture's
    * tie-free domains (Y 80..176, chroma 118..138) keyed by the scene
    * index — so per-frame means equal the constants, the whole-clip
    * statistics and the ≥16-grey-level cut rule have an analytic DuckDB
    * oracle (the scene step of 13 lands some scene changes below the
    * threshold, +13 < 16, and the % 97 wraparound ones above, −84 — both
    * sides of the cut rule occur), and the RGB transform stays in 0..255
    * (the clamp can never
    * bend a value). Every 7th doc carries a JUNK filler chunk of ODD size
    * (the skip + pad-byte paths), every 3rd an idx1 index the decoder
    * verifies entry-by-entry. */
  def aviMjpegFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val sub420 = id % 2 == 0
        val mcu = if (sub420) 16 else 8
        val w = (mcu * (1 + id % 3)).toInt
        val h = (mcu * (1 + id % 2)).toInt
        val nm = (w / mcu) * (h / mcu)
        val nf = (2 + id % 5).toInt
        val sl = (2 + id % 3).toInt
        val (rate, scale) = if (id % 5 == 0) (30000, 1001) else (25, 1)
        val frames = Array.tabulate(nf) { f =>
          val s = f / sl
          val y = (80 + (id * 7 + s * 13) % 97).toInt
          val cb = (118 + (id + 3 * s) % 21).toInt
          val cr = (118 + (id * 5 + 11 * s) % 21).toInt
          jpegEncodeColor(w, h, sub420,
            Array.fill(nm)(y), Array.fill(nm)(cb), Array.fill(nm)(cr))
        }
        MediaRow(id, aviMjpegEncode(w, h, rate, scale, frames,
          junk = id % 7 == 0, withIndex = id % 3 == 0))
      })
  }

  /** Deterministic MJPEG/AVI writer for the fixture and specs: standard
    * RIFF layout (hdrl {avih, strl {strh, strf}}, optional odd-sized JUNK,
    * movi with word-aligned '00dc' chunks, optional idx1 with
    * movi-relative offsets). Frame payloads are whatever JPEG bytes the
    * caller hands in — the writer only does container work. */
  private[llm] def aviMjpegEncode(w: Int, h: Int, rate: Int, scale: Int,
      frames: Array[Array[Byte]], junk: Boolean = false,
      withIndex: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty, "a video needs at least one frame")
    val out = new java.io.ByteArrayOutputStream(1024 + frames.map(_.length + 9).sum)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w32(v: Long): Unit = { w8(v.toInt); w8((v >> 8).toInt); w8((v >> 16).toInt); w8((v >> 24).toInt) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def chunk(id: String, body: Array[Byte]): Unit = {
      tag(id); w32(body.length.toLong); out.write(body)
      if ((body.length & 1) == 1) w8(0) // word alignment pad
    }
    val maxFrame = frames.map(_.length).max
    val avih = new Array[Byte](56)
    def put32(a: Array[Byte], o: Int, v: Long): Unit = {
      a(o) = v.toByte; a(o + 1) = (v >> 8).toByte
      a(o + 2) = (v >> 16).toByte; a(o + 3) = (v >> 24).toByte
    }
    put32(avih, 0, 1000000L * scale / rate) // dwMicroSecPerFrame
    put32(avih, 12, if (withIndex) 0x10L else 0L) // AVIF_HASINDEX
    put32(avih, 16, frames.length.toLong)
    put32(avih, 24, 1L) // one stream
    put32(avih, 28, maxFrame.toLong)
    put32(avih, 32, w.toLong); put32(avih, 36, h.toLong)

    val strh = new Array[Byte](56)
    "vids".getBytes("US-ASCII").copyToArray(strh, 0)
    "MJPG".getBytes("US-ASCII").copyToArray(strh, 4)
    put32(strh, 20, scale.toLong); put32(strh, 24, rate.toLong)
    put32(strh, 32, frames.length.toLong)
    put32(strh, 36, maxFrame.toLong)
    put32(strh, 40, 0xffffffffL) // quality: default
    strh(48) = 0; strh(50) = 0 // rcFrame left/top
    strh(52) = w.toByte; strh(53) = (w >> 8).toByte
    strh(54) = h.toByte; strh(55) = (h >> 8).toByte

    val strf = new Array[Byte](40)
    put32(strf, 0, 40L); put32(strf, 4, w.toLong); put32(strf, 8, h.toLong)
    strf(12) = 1 // biPlanes
    strf(14) = 24 // biBitCount
    "MJPG".getBytes("US-ASCII").copyToArray(strf, 16)
    put32(strf, 20, w.toLong * h * 3)

    // LIST strl = strh + strf chunks; LIST hdrl = avih + LIST strl
    val strlSz = 4 + (8 + 56) + (8 + 40)
    val hdrlSz = 4 + (8 + 56) + (8 + strlSz)
    // movi: each frame chunk is 8 + size + pad
    val frameSpans = frames.map(fb => 8 + fb.length + (fb.length & 1))
    val moviSz = 4 + frameSpans.sum
    val junkBody = Array.fill(13)('g'.toByte) // odd: exercises the pad path
    val riffSz = 4 + (8 + hdrlSz) + (if (junk) 8 + junkBody.length + 1 else 0) +
      (8 + moviSz) + (if (withIndex) 8 + 16 * frames.length else 0)

    tag("RIFF"); w32(riffSz.toLong); tag("AVI ")
    tag("LIST"); w32(hdrlSz.toLong); tag("hdrl")
    chunk("avih", avih)
    tag("LIST"); w32(strlSz.toLong); tag("strl")
    chunk("strh", strh)
    chunk("strf", strf)
    if (junk) chunk("JUNK", junkBody)
    tag("LIST"); w32(moviSz.toLong); tag("movi")
    val offsets = new Array[Long](frames.length)
    var off = 4L // first chunk sits 4 bytes past the 'movi' tag
    var i = 0
    while (i < frames.length) {
      offsets(i) = off
      chunk("00dc", frames(i))
      off += frameSpans(i)
      i += 1
    }
    if (withIndex) {
      tag("idx1"); w32(16L * frames.length)
      i = 0
      while (i < frames.length) {
        tag("00dc"); w32(0x10L) // AVIIF_KEYFRAME — every MJPEG frame is
        w32(offsets(i)); w32(frames(i).length.toLong)
        i += 1
      }
    }
    out.toByteArray
  }

  /** Deterministic baseline-JPEG corpus: per doc, an 8-aligned geometry and
    * per-block closed-form (DC constant, AC(4,4)) coefficients — so the
    * decoded statistics have an analytic DuckDB oracle (block mean = the DC
    * constant because every AC basis function sums to zero over the block;
    * min/max = c∓|k| because the (4,4) basis is ±1/2 everywhere) while the
    * decoder does the full Huffman/DPCM/ZRL/dequant/IDCT walk on varied
    * bytes. Every 7th doc carries a DRI restart interval of 2 MCUs, so the
    * restart-alignment path runs on gate data; k=0 blocks exercise the
    * EOB-only path, k≠0 the double-ZRL long-run path. */
  def jpegFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val w = (8 * (1 + id % 4)).toInt
        val h = (8 * (1 + id % 3)).toInt
        val nb = (w / 8) * (h / 8)
        val dc = Array.tabulate(nb)(b => (2 + (id * 7 + b * 13) % 252).toInt)
        val k = Array.tabulate(nb)(b => ((id + b) % 5 - 2).toInt)
        MediaRow(id, jpegEncode(w, h, dc, k,
          restartInterval = if (id % 7 == 0) 2 else 0))
      })
  }

  /** Deterministic baseline-JPEG writer for the fixture and specs,
    * COEFFICIENT-domain: each 8x8 block is given its quantized DC constant
    * `dc(b)` (the decoded block value, 0..255) and one quantized AC(4,4)
    * coefficient `ac44(b)`. With Q(0,0)=Q(4,4)=8 the decode is EXACT: the
    * DC part reconstructs to the constant, and the (4,4) basis function is
    * ±1/2 at every sample, so the AC term adds exactly ±ac44 per pixel —
    * lossy-format machinery (Huffman, DPCM prediction, ZRL runs, dequant,
    * IDCT) with losslessly predictable output, which is what gives the
    * gate row an analytic oracle. Emits JFIF APP0 (exercises the skip
    * path), real DHT/DQT tables, optional restart markers, and FF00 byte
    * stuffing. */
  private[llm] def jpegEncode(w: Int, h: Int, dc: Array[Int], ac44: Array[Int],
      restartInterval: Int = 0, acNext: Array[Int] = null): Array[Byte] = {
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    require(dc.length == bw * bh && ac44.length == bw * bh,
      "one (dc, ac44) pair per block")
    require(dc.forall(v => v >= 0 && v <= 255), "DC constants are pixel values")
    require(ac44.forall(v => math.abs(v) <= 1023),
      "AC(4,4) capped at baseline coefficient range the fixture table encodes")
    val wr = new JpegWriter(256 + dc.length * 4, FixtureAcCounts, FixtureAcSyms)
    wr.jfif()
    wr.frame(0xc0, w, h, Seq(0x11), fixtureQuant(ac44 = true), restartInterval)
    wr.sos(Seq(0), 0, 63, 0, 0)
    var b = 0
    while (b < dc.length) {
      if (restartDue(b, restartInterval)) wr.restart(b, restartInterval)
      wr.putDc(0, dc(b) - 128) // quantized DC (Q00=8 cancels the IDCT's ÷8)
      // AC run-length: all zero except zigzag 39 = ac44(b) and, when the
      // caller plants one (the stuffing spec), zigzag 40 = acNext(b)
      val k = ac44(b)
      if (k != 0) {
        var run = 38
        while (run >= 16) { wr.putAc(0xf0); run -= 16 }
        val s = category(k)
        wr.putAc((run << 4) | s)
        wr.putValue(k, s)
        val k2 = if (acNext == null) 0 else acNext(b)
        if (k2 != 0) {
          val s2 = category(k2)
          wr.putAc(s2) // run 0
          wr.putValue(k2, s2)
        }
      }
      wr.putAc(0x00) // EOB for the trailing zeros (positions < 63)
      b += 1
    }
    wr.finish()
  }

  /** Real WAV (RIFF / PCM16) decode — the audio twin of [[parsePpm]] (r11):
    * validates the RIFF/WAVE container, walks the chunk list (skipping
    * unknown chunks, honoring the odd-size pad byte), parses the `fmt `
    * descriptor (PCM format code 1, 16-bit only, block-align/byte-rate
    * cross-checks), and reduces the `data` chunk's interleaved little-endian
    * signed samples to duration + amplitude statistics. All statistics stay
    * EXACT 64-bit integers (sum, sum-of-squares, max |sample|) until one
    * final division (+ one correctly-rounded sqrt for RMS) — the same
    * `CAST(int_sum AS DOUBLE)/n` chain the oracle computes, so every value
    * is bit-identical cross-engine. */
  private[llm] def parseWav(id: Long, bytes: Array[Byte]): WavFeatures = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"media of doc $id: $msg")
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
      err("not a RIFF/WAVE container")
    if (u32(4) != bytes.length - 8)
      err(s"RIFF size ${u32(4)} != payload ${bytes.length - 8} (truncated?)")
    var channels = -1; var rate = -1; var dataOff = -1; var dataLen = -1L
    var i = 12
    while (i + 8 <= bytes.length) {
      val id4 = tag(i); val size = u32(i + 4)
      if (i + 8 + size > bytes.length) err(s"chunk $id4 overruns the container")
      id4 match {
        case "fmt " =>
          if (size < 16) err(s"fmt chunk too short ($size bytes)")
          val fmt = u16(i + 8)
          if (fmt != 1) err(s"unsupported format code $fmt (PCM only)")
          channels = u16(i + 10); rate = u32(i + 12).toInt
          val byteRate = u32(i + 16); val blockAlign = u16(i + 20)
          val bits = u16(i + 22)
          if (bits != 16) err(s"unsupported $bits-bit samples (16-bit only)")
          if (channels < 1) err("zero channels")
          if (blockAlign != channels * 2)
            err(s"blockAlign $blockAlign != channels*2")
          if (byteRate != rate.toLong * blockAlign)
            err(s"byteRate $byteRate != rate*blockAlign")
        case "data" => dataOff = i + 8; dataLen = size
        case _ => // unknown chunk (LIST, cue , ...) — skip
      }
      i += 8 + size.toInt + (size % 2).toInt // odd-size chunks carry a pad byte
    }
    if (channels < 0) err("missing fmt chunk")
    if (dataOff < 0) err("missing data chunk")
    if (dataLen % (channels * 2) != 0)
      err(s"data length $dataLen not a whole number of frames")
    val nSamples = dataLen / 2
    if (nSamples == 0) err("empty data chunk")
    var sum = 0L; var ssq = 0L; var peak = 0
    var p = dataOff
    val end = dataOff + dataLen.toInt
    while (p < end) {
      // sign-correct LE 16-bit decode (the classic codec bug is losing the
      // sign on the high byte)
      val v = ((bytes(p) & 0xff) | (bytes(p + 1) << 8)).toShort.toInt
      sum += v; ssq += v.toLong * v
      val a = if (v < 0) -v else v
      if (a > peak) peak = a
      p += 2
    }
    val nFrames = nSamples / channels
    WavFeatures(id, channels, rate, nFrames,
      nFrames.toDouble / rate, sum.toDouble / nSamples,
      math.sqrt(ssq.toDouble / nSamples), peak)
  }

  def decodeWav(media: Dataset[MediaRow]): Dataset[WavFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseWav(m.doc_id, m.media)))
  }

  /** Deterministic WAV corpus derived from the documents table (the
    * container ships no real audio files): each doc becomes a PCM16 WAV
    * whose geometry (mono/stereo, sample rate, frame count) and sample
    * ramp are closed-form functions of `doc_id`, so the decoded statistics
    * have an analytic DuckDB oracle while the decoder does the full
    * container-walk + sign-correct sample decode on varied bytes. Every
    * 5th doc carries a junk `cue ` chunk of ODD size before `fmt `, so the
    * chunk-skip + pad-byte path is exercised on real gate data. */
  def wavFixture(spark: SparkSession, dir: String): Dataset[MediaRow] =
    wavFixtureWith(spark, dir)((_, v) => v)

  /** [[wavFixture]] with a per-sample transform — the quality fixture
    * plants amplitude regimes through it while the container geometry (and
    * the junk-chunk path) stays identical. */
  private def wavFixtureWith(spark: SparkSession, dir: String)(
      xform: (Long, Int) => Int): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val channels = (1 + id % 2).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val nFrames = 200 + id % 57
        val n = (nFrames * channels).toInt
        val junk = if (id % 5 == 0)
          "cue ".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 9, 9, 9, 0)
        else Array.emptyByteArray
        val out = new java.io.ByteArrayOutputStream(44 + junk.length + 2 * n)
        def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
        def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
        def wtag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
        wtag("RIFF"); w32(4 + junk.length + 24 + 8 + 2L * n); wtag("WAVE")
        out.write(junk)
        wtag("fmt "); w32(16); w16(1); w16(channels); w32(rate)
        w32(rate.toLong * channels * 2); w16(channels * 2); w16(16)
        wtag("data"); w32(2L * n)
        var k = 0
        while (k < n) {
          w16(xform(id, (((id * 31 + k * 17) % 4001) - 2000).toInt) & 0xffff)
          k += 1
        }
        MediaRow(id, out.toByteArray)
      })
  }

  /** The audio-quality fixture: the same corpus with amplitude REGIMES
    * planted so every verdict class exists on gate data — every 13th doc
    * near-silent (`v % 53`, |v| ≤ 52; `%` truncates identically in JVM and
    * DuckDB, where an integer DIVISION would floor vs truncate apart on
    * negatives), every remaining 11th clipped (×20 clamped to ±32767; the
    * base ramp guarantees some |v| ≥ 1639 per clip, so the clamp always
    * engages), the rest untouched. */
  def wavQualityFixture(spark: SparkSession, dir: String): Dataset[MediaRow] =
    wavFixtureWith(spark, dir) { (id, v) =>
      if (id % 13 == 0) v % 53
      else if (id % 11 == 0) math.max(-32767, math.min(32767, v * 20))
      else v
    }

  /** Audio quality verdicts (r11) — the curation cascade's audio face,
    * over REAL decoded statistics (not metadata): first-fail attribution in
    * fixed priority — `clipping` when the peak slams the PCM16 rail (the
    * clamp value ±32767 — a clipped recording's defining artifact),
    * `near_silent` when RMS < 100 (~0.3% of full scale — dead-air capture).
    * The verdict derives from `rms`/`peak`, whose bit-identical cross-
    * engine arithmetic the features gate already proves; map-only on the
    * decoded frame. */
  def wavQuality(decoded: Dataset[WavFeatures]): DataFrame = {
    val verdict = when(col("peak") >= 32767, lit("clipping"))
      .when(col("rms") < 100.0, lit("near_silent"))
    decoded.toDF().select(col("doc_id"), col("rms"), col("peak"),
      verdict.as("verdict"), verdict.isNull.as("keep"))
  }

  final case class Y4mFeatures(doc_id: Long, width: Int, height: Int,
      fps_num: Int, fps_den: Int, n_frames: Int, chroma: String,
      mean_luma: Double, mean_u: Option[Double], mean_v: Option[Double],
      n_cuts: Int, n_keyframes: Int)

  /** Real Y4M (YUV4MPEG2) video-container decode (r13) — the video modality
    * done the way the image/audio ones are: a full parse of the actual
    * container bytes, not metadata arithmetic. Y4M is THE uncompressed
    * video interchange format (ffmpeg/x264's raw pipe), and because every
    * frame is raw planar YUV it is the one video container whose decode is
    * exactly reproducible without a codec dependency — which is also why
    * it is the honest scope boundary: compressed video (H.264/VP9) needs
    * an inter-frame DCT/motion decoder and stays out of scope.
    *
    * Parse: stream-header line (`YUV4MPEG2 W.. H.. F<num>:<den> ..`,
    * order-free tagged params, unknown tags skipped, `C420*` and `Cmono`
    * layouts supported, 4:2:2/4:4:4 rejected loudly), then per frame a
    * `FRAME[ params]\n` marker (params skipped) followed by the raw planes
    * (Y `w*h`; U,V `(w/2)*(h/2)` for 4:2:0; none for mono). Truncated
    * frames, trailing garbage, odd 4:2:0 dimensions, and a missing
    * W/H/F all fail loudly.
    *
    * Features are the video-curation basics over the decoded frames:
    * per-plane means (exact integer sums until one IEEE division), and
    * SCENE-CUT detection — a cut where consecutive frames' luma sums
    * differ by ≥ 16 grey levels per pixel (integer compare: the sums are
    * exact, so the threshold has no float boundary), keyframes = cuts + 1
    * (the first frame of every scene — what a video training pipeline
    * samples before paying full decode). */
  private[llm] def parseY4m(id: Long, bytes: Array[Byte]): Y4mFeatures = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"media of doc $id: $msg")
    var i = 0
    def line(): String = {
      val start = i
      while (i < bytes.length && bytes(i) != '\n') i += 1
      if (i >= bytes.length) err("unterminated header line")
      i += 1 // consume the newline
      new String(bytes, start, i - 1 - start, "US-ASCII")
    }
    val header = line()
    val toks = header.split(' ')
    if (toks.isEmpty || toks(0) != "YUV4MPEG2") err("not a YUV4MPEG2 stream")
    var w = -1; var h = -1; var fn = -1; var fd = -1; var chroma = "420jpeg"
    toks.drop(1).filter(_.nonEmpty).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.drop(1).toInt
        case 'H' => h = t.drop(1).toInt
        case 'F' => t.drop(1).split(':') match {
          case Array(a, b) => fn = a.toInt; fd = b.toInt
          case _ => err(s"bad frame rate $t")
        }
        case 'C' => chroma = t.drop(1)
        case _   => // I (interlace), A (aspect), X (extension): skipped
      }
    }
    if (w <= 0 || h <= 0) err("missing or degenerate W/H")
    guardPixels(w, h, err)
    if (fn <= 0 || fd <= 0) err("missing F rate")
    val mono = chroma == "mono"
    if (!mono && !chroma.startsWith("420"))
      err(s"unsupported chroma subsampling C$chroma (420*/mono only)")
    if (!mono && ((w & 1) == 1 || (h & 1) == 1))
      err(s"4:2:0 needs even dimensions, got ${w}x$h")
    val ySize = w * h
    val cSize = if (mono) 0 else (w / 2) * (h / 2)
    var uSum = 0L; var vSum = 0L
    val frameSums = scala.collection.mutable.ArrayBuffer[Long]()
    while (i < bytes.length) {
      val fl = line()
      if (fl != "FRAME" && !fl.startsWith("FRAME ")) err(s"bad frame marker at byte $i")
      if (bytes.length - i < ySize + 2 * cSize)
        err(s"truncated frame ${frameSums.size}")
      var s = 0L; val yEnd = i + ySize
      while (i < yEnd) { s += bytes(i) & 0xff; i += 1 }
      frameSums += s
      var cEnd = i + cSize
      while (i < cEnd) { uSum += bytes(i) & 0xff; i += 1 }
      cEnd = i + cSize
      while (i < cEnd) { vSum += bytes(i) & 0xff; i += 1 }
    }
    val nf = frameSums.size
    if (nf == 0) err("stream has no frames")
    var cuts = 0
    var f = 1
    while (f < nf) {
      if (math.abs(frameSums(f) - frameSums(f - 1)) >= 16L * ySize) cuts += 1
      f += 1
    }
    Y4mFeatures(id, w, h, fn, fd, nf, chroma,
      frameSums.sum.toDouble / (nf.toLong * ySize),
      if (mono) None else Some(uSum.toDouble / (nf.toLong * cSize)),
      if (mono) None else Some(vSum.toDouble / (nf.toLong * cSize)),
      cuts, cuts + 1)
  }

  def decodeY4m(media: Dataset[MediaRow]): Dataset[Y4mFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parseY4m(m.doc_id, m.media)))
  }

  /** Deterministic Y4M corpus derived from the documents table: geometry,
    * frame rate (NTSC 30000/1001 on every 5th doc — the ratio parse),
    * chroma layout (mono on every 3rd doc — the plane-count branch) and the
    * SCENE PLAN are closed-form in `doc_id`. Each frame's luma plane is a
    * per-scene constant `c` plus an alternating ±1 pattern (varied bytes,
    * exactly zero sum over the even-sized plane — the frame mean IS the
    * constant), scenes change every `sl` frames, and chroma planes carry
    * the analytic ramps. Every 7th doc's frame markers carry an ` Xgraft`
    * parameter, so the param-skip path runs on gate data. */
  def y4mFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val w = (16 + 2 * (id % 8)).toInt
        val h = (8 + 2 * (id % 5)).toInt
        val (fn, fd) = if (id % 5 == 0) (30000, 1001) else (25, 1)
        val mono = id % 3 == 0
        val nf = (2 + id % 7).toInt
        val sl = (3 + id % 4).toInt
        val frameLine =
          (if (id % 7 == 0) "FRAME Xgraft\n" else "FRAME\n").getBytes("US-ASCII")
        val cw = w / 2; val ch = h / 2
        val out = new java.io.ByteArrayOutputStream()
        out.write((s"YUV4MPEG2 W$w H$h F$fn:$fd Ip A1:1 C" +
          (if (mono) "mono" else "420jpeg") + "\n").getBytes("US-ASCII"))
        var f = 0
        while (f < nf) {
          out.write(frameLine)
          val c = (16 + (id + (f / sl) * 41) % 224).toInt
          var p = 0
          while (p < w * h) { out.write(c + (if ((p & 1) == 0) 1 else -1)); p += 1 }
          if (!mono) {
            p = 0
            while (p < cw * ch) { out.write(((id + p) % 256).toInt); p += 1 }
            p = 0
            while (p < cw * ch) { out.write(((id + p + 17) % 256).toInt); p += 1 }
          }
          f += 1
        }
        MediaRow(id, out.toByteArray)
      })
  }

  def mediaAsDataset(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    mediaTable(spark, dir).select("doc_id", "media").as[MediaRow]
  }

  /** Deterministic PPM corpus derived from the documents table (the
    * container ships no real image files): each doc becomes a P6 image
    * whose dimensions and RGB ramp are closed-form functions of `doc_id`,
    * so the decoded features have an analytic DuckDB oracle while the
    * decoder still does the full parse-validate-reduce work on varied
    * bytes. Generation is a narrow partition-local map, like any media
    * scan. */
  def ppmFixture(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    fixtureIds(spark, dir)
      .mapPartitions(_.map { id =>
        val w = (1 + id % 64).toInt
        val h = (1 + id % 48).toInt
        val header = s"P6\n# graft synthetic ramp $id\n$w $h\n255\n"
          .getBytes("US-ASCII")
        val px = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          px(3 * p) = ((id + p) % 256).toByte
          px(3 * p + 1) = ((id + p + 17) % 256).toByte
          px(3 * p + 2) = ((id + p + 34) % 256).toByte
          p += 1
        }
        MediaRow(id, header ++ px)
      })
  }

  /** Frame-sampling plumbing (the video analog): every `every`-th frame
    * index of each media payload with its byte-window offset — the
    * row-explosion stage a video pipeline feeds to the batched decoder.
    * Narrow per-row `sequence` + `explode`, no shuffle; frame count and
    * geometry are deterministic arithmetic over the byte length (a real
    * deployment reads them from the container header — video containers
    * stay out of scope in this codec-less container, unlike the still-image
    * path, whose [[parsePpm]] decode is real). */
  def sampleFrames(spark: SparkSession, dir: String, every: Int = 5): DataFrame = {
    val frames = (length(col("media")) % 30).cast("long")
    val idx = when(frames > 0, sequence(lit(0L), frames - 1, lit(every.toLong)))
      .otherwise(expr("array()"))
    mediaTable(spark, dir)
      .select(col("doc_id"), length(col("media")).cast("long").as("n_bytes"),
        frames.as("n_frames"), explode(idx).as("frame_idx"))
      // integer div, not floor(/): double true-division drifts above 2^53
      // byte counts — the same hazard class RangeJoin/packSequences handle
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * expr("n_bytes div n_frames")).cast("long")
          .as("byte_offset"))
  }

  /** Frame-level exact dedup — the keyframe dedup a video pipeline runs
    * before paying decode cost: each sampled frame's byte window hashed
    * (over its hex text, identical in both engines) and grouped, duplicate
    * windows collapsing to the smallest doc id. Narrow explode + one
    * digest-keyed aggregate — media bytes never shuffle, only digests. */
  def frameDedup(spark: SparkSession, dir: String, every: Int = 5): DataFrame = {
    val frames = (length(col("media")) % 30).cast("long")
    val idx = when(frames > 0, sequence(lit(0L), frames - 1, lit(every.toLong)))
      .otherwise(expr("array()"))
    mediaTable(spark, dir)
      .select(col("doc_id"), col("media"),
        length(col("media")).cast("long").as("n_bytes"), frames.as("n_frames"),
        explode(idx).as("frame_idx"))
      // the window slices the HEX text (2 chars/byte): DuckDB has no BLOB
      // substring, and the hex round-trip is engine-identical either way
      .select(col("doc_id"), col("frame_idx"),
        md5(expr(
          "substring(hex(media), frame_idx * (n_bytes div n_frames) * 2 + 1, (n_bytes div n_frames) * 2)"))
          .as("frame_hash"))
      .groupBy("frame_hash")
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("keep_doc_id"))
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("multimodal_frame_dedup", (s, d) => frameDedup(s, d), Some(oq("""
      , fgeom AS (
          SELECT doc_id, text::BLOB AS media,
                 CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
                 CAST(octet_length(text::BLOB) % 30 AS BIGINT) AS n_frames
          FROM documents),
      fwin AS (
          SELECT doc_id, f.frame_idx,
                 md5(substring(hex(media),
                   CAST(f.frame_idx * (n_bytes // n_frames) * 2 AS BIGINT) + 1,
                   CAST((n_bytes // n_frames) * 2 AS BIGINT))) AS frame_hash
          FROM fgeom, unnest(generate_series(0, n_frames - 1, 5)) AS f(frame_idx)
          WHERE n_frames > 0)
      SELECT frame_hash, count(*) AS n_copies,
             count(DISTINCT doc_id) AS n_docs,
             min(doc_id) AS keep_doc_id
      FROM fwin GROUP BY 1"""))),

    QueryDef("multimodal_meta",
      (s, d) => mediaTable(s, d).select(
        col("doc_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"), col("meta.prefix_hex").as("prefix_hex")),
      Some(oq("""
        SELECT doc_id, 'text/plain' AS mime,
               octet_length(text::BLOB) AS n_bytes,
               substr(hex(text::BLOB), 1, 8) AS prefix_hex
        FROM documents"""))),

    QueryDef("multimodal_frames", (s, d) => sampleFrames(s, d), Some(oq("""
      , geom AS (
          SELECT doc_id,
                 CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
                 CAST(octet_length(text::BLOB) % 30 AS BIGINT) AS n_frames
          FROM documents)
      SELECT doc_id, f.frame_idx,
             CAST(f.frame_idx * (n_bytes // n_frames) AS BIGINT) AS byte_offset
      FROM geom, unnest(generate_series(0, n_frames - 1, 5)) AS f(frame_idx)
      WHERE n_frames > 0"""))),

    // the audio twin of multimodal_features: the oracle re-derives the PCM
    // ramp analytically per sample index while the Spark side must WALK the
    // actual RIFF container (junk chunk + pad byte included) and decode the
    // signed little-endian samples — a chunk-offset, sign-extension, or
    // statistics bug cannot pass
    QueryDef("multimodal_wav_features",
      (s, d) => decodeWav(wavFixture(s, d)).toDF(),
      Some(oq("""
        , wgeom AS (
            SELECT doc_id, 1 + doc_id % 2 AS ch,
                   8000 + (doc_id % 3) * 4000 AS rate,
                   200 + doc_id % 57 AS nf
            FROM documents),
        wsamp AS (
            SELECT doc_id, ch, rate, nf,
                   ((doc_id * 31 + k.k * 17) % 4001) - 2000 AS v
            FROM wgeom, unnest(generate_series(0, nf * ch - 1)) AS k(k))
        SELECT doc_id, CAST(ch AS INT) AS n_channels,
               CAST(rate AS INT) AS sample_rate,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(nf AS DOUBLE) / rate AS duration_s,
               CAST(sum(v) AS DOUBLE) / (nf * ch) AS mean_amp,
               sqrt(CAST(sum(v * v) AS DOUBLE) / (nf * ch)) AS rms,
               CAST(max(abs(v)) AS INT) AS peak
        FROM wsamp GROUP BY doc_id, ch, rate, nf"""))),

    // the regime arithmetic (truncating %, clamp) is mirrored exactly; the
    // Spark side still decodes the actual PCM bytes, so a sign-extension
    // or clamp bug surfaces as a verdict flip
    QueryDef("multimodal_wav_quality",
      (s, d) => wavQuality(decodeWav(wavQualityFixture(s, d))),
      Some(oq("""
        , qgeom AS (
            SELECT doc_id, 1 + doc_id % 2 AS ch, 200 + doc_id % 57 AS nf
            FROM documents),
        qsamp AS (
            SELECT doc_id, ch, nf,
                   CASE WHEN doc_id % 13 = 0 THEN v % 53
                        WHEN doc_id % 11 = 0 THEN least(greatest(v * 20, -32767), 32767)
                        ELSE v END AS v
            FROM (SELECT doc_id, ch, nf,
                         ((doc_id * 31 + k.k * 17) % 4001) - 2000 AS v
                  FROM qgeom, unnest(generate_series(0, nf * ch - 1)) AS k(k)) t),
        qstat AS (
            SELECT doc_id,
                   sqrt(CAST(sum(v * v) AS DOUBLE) / (nf * ch)) AS rms,
                   CAST(max(abs(v)) AS INT) AS peak
            FROM qsamp GROUP BY doc_id, ch, nf)
        SELECT doc_id, rms, peak,
               CASE WHEN peak >= 32767 THEN 'clipping'
                    WHEN rms < 100.0 THEN 'near_silent' END AS verdict,
               (CASE WHEN peak >= 32767 THEN 'clipping'
                     WHEN rms < 100.0 THEN 'near_silent' END) IS NULL AS keep
        FROM qstat"""))),

    // the compressed sibling of multimodal_features: the oracle re-derives
    // the SAME ramp analytically, but the Spark side must walk CRC'd
    // chunks, inflate the zlib stream, and undo all five scanline filters
    // to reach those numbers — a CRC, inflation, or filter-reconstruction
    // bug cannot pass
    QueryDef("multimodal_png_features",
      (s, d) => decodePng(pngFixture(s, d)).toDF(),
      Some(oq("""
        , ngeom AS (
            SELECT doc_id, 1 + doc_id % 32 AS w, 1 + doc_id % 24 AS h
            FROM documents),
        npx AS (
            SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
            FROM ngeom)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(sum((doc_id + p) % 256) AS DOUBLE) / (w * h) AS mean_r,
               CAST(sum((doc_id + p + 17) % 256) AS DOUBLE) / (w * h) AS mean_g,
               CAST(sum((doc_id + p + 34) % 256) AS DOUBLE) / (w * h) AS mean_b
        FROM npx GROUP BY doc_id, w, h"""))),

    // the LOSSY sibling: the oracle re-derives the per-block coefficient
    // plan analytically (mean = the DC constants — AC bases sum to zero
    // over a block; min/max = c∓|k| — the (4,4) basis is ±1/2 everywhere),
    // while the Spark side must Huffman-decode the entropy stream, undo
    // DPCM/ZRL, dequantize, and run the IDCT to reach those numbers — a
    // table, predictor, run-length, restart, or IDCT bug cannot pass
    QueryDef("multimodal_jpeg_features",
      (s, d) => decodeJpeg(jpegFixture(s, d)).toDF(),
      Some(oq("""
        , jgeom AS (
            SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
            FROM documents),
        jblk AS (
            SELECT doc_id, w, h,
                   2 + (doc_id * 7 + b.b * 13) % 252 AS c,
                   abs((doc_id + b.b) % 5 - 2) AS ak
            FROM jgeom, unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b(b))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(sum(c * 64) AS DOUBLE) / (w * h) AS mean_luma,
               CAST(min(c - ak) AS INT) AS min_luma,
               CAST(max(c + ak) AS INT) AS max_luma
        FROM jblk GROUP BY doc_id, w, h"""))),

    // the COLOR sibling (r16): the oracle re-derives the per-MCU plane
    // constants and the JFIF RGB transform analytically (round == the
    // decoder's rint — the fixture's value domain provably holds no .5
    // ties; sums scale by the MCU's pixel count, a power of two, so the
    // one IEEE division is bit-identical cross-engine), while the Spark
    // side must walk the interleaved 3-component scan — per-component
    // tables and predictors, 4:2:0 block order, chroma replication, color
    // transform — so a component mix-up, predictor bleed, upsample shift,
    // or transform-coefficient bug cannot pass
    QueryDef("multimodal_jpeg_color_features",
      (s, d) => decodeJpegColor(jpegColorFixture(s, d)).toDF(),
      Some(oq("""
        , ccg AS (
            SELECT doc_id, mcu, mcu * (1 + doc_id % 3) AS w,
                   mcu * (1 + doc_id % 2) AS h
            FROM (SELECT doc_id,
                         CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS mcu
                  FROM documents)),
        ccm AS (
            SELECT doc_id, w, h, mcu,
                   80 + (doc_id * 7 + m.m * 13) % 97 AS y,
                   118 + (doc_id + 3 * m.m) % 21 AS cb,
                   118 + (doc_id * 5 + 11 * m.m) % 21 AS cr
            FROM ccg,
                 unnest(generate_series(0, (w // mcu) * (h // mcu) - 1)) AS m(m)),
        ccrgb AS (
            SELECT doc_id, w, h, mcu, y, cb, cr,
                   CAST(round(y + 1.402 * (cr - 128)) AS BIGINT) AS r,
                   CAST(round(y - 0.344136 * (cb - 128)
                              - 0.714136 * (cr - 128)) AS BIGINT) AS g,
                   CAST(round(y + 1.772 * (cb - 128)) AS BIGINT) AS b
            FROM ccm)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CASE WHEN doc_id % 2 = 0 THEN '420' ELSE '444' END AS subsampling,
               CAST(sum(y) * mcu * mcu AS DOUBLE) / (w * h) AS mean_y,
               CAST(sum(cb) * mcu * mcu AS DOUBLE) / (w * h) AS mean_cb,
               CAST(sum(cr) * mcu * mcu AS DOUBLE) / (w * h) AS mean_cr,
               CAST(sum(r) * mcu * mcu AS DOUBLE) / (w * h) AS mean_r,
               CAST(sum(g) * mcu * mcu AS DOUBLE) / (w * h) AS mean_g,
               CAST(sum(b) * mcu * mcu AS DOUBLE) / (w * h) AS mean_b,
               CAST(min(y) AS INT) AS min_luma, CAST(max(y) AS INT) AS max_luma
        FROM ccrgb GROUP BY doc_id, w, h, mcu"""))),

    // the CMYK/YCCK sibling (r19): the oracle re-derives the stored plane
    // constants analytically — YCCK docs route (Y,Cb,Cr) through the same
    // JFIF transform as the color row (identical value domain, so the
    // tie-free rounding proof carries over), CMYK docs read their four
    // stored ink planes directly — then inverts (Adobe storage), and
    // derives RGB with exact integer floor division (DuckDB `//` == the
    // decoder's Int division on non-negative operands). The Spark side
    // must parse APP14, walk the interleaved FOUR-component scan (K
    // sampled like Y), reset four predictors at restarts, and upsample
    // only the chroma pair — a transform mix-up, K-plane sampling bug, or
    // inversion miss cannot pass
    QueryDef("multimodal_jpeg_cmyk_features",
      (s, d) => decodeJpegCmyk(jpegCmykFixture(s, d)).toDF(),
      Some(oq("""
        , kcg AS (
            SELECT doc_id, ycck, mcu, mcu * (1 + doc_id % 3) AS w,
                   mcu * (1 + doc_id % 2) AS h
            FROM (SELECT doc_id, doc_id % 2 = 1 AS ycck,
                         CASE WHEN doc_id % 4 = 1 THEN 16 ELSE 8 END AS mcu
                  FROM documents)),
        kcm AS (
            SELECT doc_id, ycck, w, h, mcu,
                   80 + (doc_id * 7 + m.m * 13) % 97 AS a,
                   118 + (doc_id + 3 * m.m) % 21 AS b,
                   118 + (doc_id * 5 + 11 * m.m) % 21 AS c,
                   60 + (doc_id * 11 + 17 * m.m) % 131 AS k
            FROM kcg,
                 unnest(generate_series(0, (w // mcu) * (h // mcu) - 1)) AS m(m)),
        kcs AS (
            SELECT doc_id, w, h, mcu,
                   CASE WHEN ycck
                        THEN CAST(round(a + 1.402 * (c - 128)) AS BIGINT)
                        ELSE a END AS s_c,
                   CASE WHEN ycck
                        THEN CAST(round(a - 0.344136 * (b - 128)
                                        - 0.714136 * (c - 128)) AS BIGINT)
                        ELSE b END AS s_m,
                   CASE WHEN ycck
                        THEN CAST(round(a + 1.772 * (b - 128)) AS BIGINT)
                        ELSE c END AS s_y,
                   k AS s_k
            FROM kcm)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CASE WHEN doc_id % 2 = 1 THEN 'YCCK' ELSE 'CMYK' END AS transform,
               CASE WHEN doc_id % 4 = 1 THEN '420' ELSE '444' END AS subsampling,
               CAST(sum(255 - s_c) * mcu * mcu AS DOUBLE) / (w * h) AS mean_c,
               CAST(sum(255 - s_m) * mcu * mcu AS DOUBLE) / (w * h) AS mean_m,
               CAST(sum(255 - s_y) * mcu * mcu AS DOUBLE) / (w * h) AS mean_y,
               CAST(sum(255 - s_k) * mcu * mcu AS DOUBLE) / (w * h) AS mean_k,
               CAST(sum((s_c * s_k) // 255) * mcu * mcu AS DOUBLE) / (w * h) AS mean_r,
               CAST(sum((s_m * s_k) // 255) * mcu * mcu AS DOUBLE) / (w * h) AS mean_g,
               CAST(sum((s_y * s_k) // 255) * mcu * mcu AS DOUBLE) / (w * h) AS mean_b,
               CAST(min(255 - s_k) AS INT) AS min_k,
               CAST(max(255 - s_k) AS INT) AS max_k
        FROM kcs GROUP BY doc_id, w, h, mcu"""))),

    // the PROGRESSIVE sibling (r17): same per-MCU constant plan plus one
    // luma AC(4,4) = k per MCU — the (4,4) basis puts y+k on half of each
    // block's samples and y−k on the other half, so the oracle unnests a
    // ±1 sign per MCU (each sign row weighs mcu²/2 pixels): luma mean is
    // unchanged, min/max widen by |k|, RGB averages the two shifted
    // variants. k is an integer shift, so the color fixture's verified
    // tie-free rounding domain carries over unchanged. The Spark side must
    // assemble ten scans — spectral bands, both successive-approximation
    // passes, cross-block EOB runs — to reach these numbers, so a
    // progression-order, refinement, or band-assembly bug cannot pass.
    QueryDef("multimodal_jpeg_progressive_features",
      (s, d) => decodeJpegProgressive(jpegProgressiveFixture(s, d)).toDF(),
      Some(oq("""
        , pcg AS (
            SELECT doc_id, mcu, mcu * (1 + doc_id % 3) AS w,
                   mcu * (1 + doc_id % 2) AS h
            FROM (SELECT doc_id,
                         CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS mcu
                  FROM documents)),
        pcm AS (
            SELECT doc_id, w, h, mcu,
                   80 + (doc_id * 7 + m.m * 13) % 97 AS y,
                   118 + (doc_id + 3 * m.m) % 21 AS cb,
                   118 + (doc_id * 5 + 11 * m.m) % 21 AS cr,
                   (doc_id + 7 * m.m) % 11 - 5 AS k
            FROM pcg,
                 unnest(generate_series(0, (w // mcu) * (h // mcu) - 1)) AS m(m)),
        pcs AS (
            SELECT doc_id, w, h, mcu, y, cb, cr,
                   y + sg.s * abs(k) AS yv
            FROM pcm, (SELECT 1 AS s UNION ALL SELECT -1) sg),
        pcrgb AS (
            SELECT doc_id, w, h, mcu, y, cb, cr, yv,
                   CAST(round(yv + 1.402 * (cr - 128)) AS BIGINT) AS r,
                   CAST(round(yv - 0.344136 * (cb - 128)
                              - 0.714136 * (cr - 128)) AS BIGINT) AS g,
                   CAST(round(yv + 1.772 * (cb - 128)) AS BIGINT) AS b
            FROM pcs)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CASE WHEN doc_id % 2 = 0 THEN '420' ELSE '444' END AS subsampling,
               CAST(10 AS INT) AS n_scans,
               CAST(sum(y) * mcu * mcu AS DOUBLE) / (2 * w * h) AS mean_y,
               CAST(sum(cb) * mcu * mcu AS DOUBLE) / (2 * w * h) AS mean_cb,
               CAST(sum(cr) * mcu * mcu AS DOUBLE) / (2 * w * h) AS mean_cr,
               CAST(sum(r) * mcu * mcu AS DOUBLE) / (2 * w * h) AS mean_r,
               CAST(sum(g) * mcu * mcu AS DOUBLE) / (2 * w * h) AS mean_g,
               CAST(sum(b) * mcu * mcu AS DOUBLE) / (2 * w * h) AS mean_b,
               CAST(min(yv) AS INT) AS min_luma, CAST(max(yv) AS INT) AS max_luma
        FROM pcrgb GROUP BY doc_id, w, h, mcu"""))),

    // the VIDEO sibling: the oracle re-derives the scene plan analytically
    // (per-frame luma = the per-scene constant — the ±1 pattern sums to
    // zero over the even plane; cuts = adjacent scene constants ≥16 apart;
    // chroma = the ramp means), while the Spark side must parse the real
    // container — header tags in any order, NTSC ratio, FRAME markers with
    // params, plane sizes per chroma layout — so a header, plane-offset,
    // or frame-boundary bug cannot pass
    QueryDef("multimodal_y4m_features",
      (s, d) => decodeY4m(y4mFixture(s, d)).toDF(),
      Some(oq("""
        , ygeom AS (
            SELECT doc_id,
                   16 + 2 * (doc_id % 8) AS w, 8 + 2 * (doc_id % 5) AS h,
                   CASE WHEN doc_id % 5 = 0 THEN 30000 ELSE 25 END AS fn,
                   CASE WHEN doc_id % 5 = 0 THEN 1001 ELSE 1 END AS fd,
                   2 + doc_id % 7 AS nf, 3 + doc_id % 4 AS sl,
                   doc_id % 3 = 0 AS mono
            FROM documents),
        yfr AS (
            SELECT doc_id, nf,
                   16 + ((doc_id + (f.f // sl) * 41) % 224) AS c,
                   f.f AS f
            FROM ygeom, unnest(generate_series(0, nf - 1)) AS f(f)),
        yluma AS (
            SELECT doc_id, CAST(sum(c) AS DOUBLE) / max(nf) AS mean_luma
            FROM yfr GROUP BY doc_id),
        ycuts AS (
            SELECT doc_id,
                   coalesce(sum(CASE WHEN pc IS NOT NULL
                                      AND abs(c - pc) >= 16 THEN 1 END), 0) AS n_cuts
            FROM (SELECT doc_id, c,
                         lag(c) OVER (PARTITION BY doc_id ORDER BY f) AS pc
                  FROM yfr) t
            GROUP BY doc_id),
        ychroma AS (
            SELECT g.doc_id,
                   CAST(sum((g.doc_id + p.p) % 256) AS DOUBLE)
                     / ((w // 2) * (h // 2)) AS mean_u,
                   CAST(sum((g.doc_id + p.p + 17) % 256) AS DOUBLE)
                     / ((w // 2) * (h // 2)) AS mean_v
            FROM ygeom g,
                 unnest(generate_series(0, (w // 2) * (h // 2) - 1)) AS p(p)
            WHERE NOT mono
            GROUP BY g.doc_id, w, h)
        SELECT g.doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(fn AS INT) AS fps_num, CAST(fd AS INT) AS fps_den,
               CAST(nf AS INT) AS n_frames,
               CASE WHEN mono THEN 'mono' ELSE '420jpeg' END AS chroma,
               l.mean_luma, c.mean_u, c.mean_v,
               CAST(k.n_cuts AS INT) AS n_cuts,
               CAST(k.n_cuts + 1 AS INT) AS n_keyframes
        FROM ygeom g
        JOIN yluma l USING (doc_id)
        JOIN ycuts k USING (doc_id)
        LEFT JOIN ychroma c USING (doc_id)"""))),

    // the COMPRESSED video sibling (r16): the oracle re-derives the scene
    // plan and the JFIF RGB transform analytically (frame-constant planes
    // from the color fixture's tie-free domains; whole-clip means divide
    // sums of exact integers whose common w*h scale cancels under IEEE
    // correct rounding; cuts = adjacent frame constants ≥16 apart), while
    // the Spark side must walk the real RIFF/AVI container — hdrl/strl
    // header validation, word-aligned 00dc chunks, JUNK skip, idx1
    // verification — AND fully entropy-decode every MJPEG frame, so a
    // container-offset, pad-byte, index, header-consistency, or per-frame
    // color-decode bug cannot pass
    QueryDef("multimodal_mjpeg_video_features",
      (s, d) => decodeAviMjpeg(aviMjpegFixture(s, d)).toDF(),
      Some(oq("""
        , mjg AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS mcu,
                   CASE WHEN doc_id % 5 = 0 THEN 30000 ELSE 25 END AS fn,
                   CASE WHEN doc_id % 5 = 0 THEN 1001 ELSE 1 END AS fd,
                   2 + doc_id % 5 AS nf, 2 + doc_id % 3 AS sl
            FROM documents),
        mjg2 AS (
            SELECT doc_id, fn, fd, nf, sl,
                   mcu * (1 + doc_id % 3) AS w, mcu * (1 + doc_id % 2) AS h
            FROM mjg),
        mjf AS (
            SELECT doc_id, nf, f.f AS f,
                   80 + (doc_id * 7 + (f.f // sl) * 13) % 97 AS y,
                   118 + (doc_id + 3 * (f.f // sl)) % 21 AS cb,
                   118 + (doc_id * 5 + 11 * (f.f // sl)) % 21 AS cr
            FROM mjg2, unnest(generate_series(0, nf - 1)) AS f(f)),
        mjrgb AS (
            SELECT doc_id, nf, f, y,
                   CAST(round(y + 1.402 * (cr - 128)) AS BIGINT) AS r,
                   CAST(round(y - 0.344136 * (cb - 128)
                              - 0.714136 * (cr - 128)) AS BIGINT) AS g,
                   CAST(round(y + 1.772 * (cb - 128)) AS BIGINT) AS b
            FROM mjf),
        mjagg AS (
            SELECT doc_id,
                   CAST(sum(y) AS DOUBLE) / max(nf) AS mean_luma,
                   CAST(sum(r) AS DOUBLE) / max(nf) AS mean_r,
                   CAST(sum(g) AS DOUBLE) / max(nf) AS mean_g,
                   CAST(sum(b) AS DOUBLE) / max(nf) AS mean_b
            FROM mjrgb GROUP BY doc_id),
        mjcut AS (
            SELECT doc_id,
                   coalesce(sum(CASE WHEN py IS NOT NULL
                                      AND abs(y - py) >= 16 THEN 1 END), 0) AS n_cuts
            FROM (SELECT doc_id, y,
                         lag(y) OVER (PARTITION BY doc_id ORDER BY f) AS py
                  FROM mjf) t
            GROUP BY doc_id)
        SELECT g.doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(fn AS INT) AS fps_num, CAST(fd AS INT) AS fps_den,
               CAST(nf AS INT) AS n_frames,
               CASE WHEN g.doc_id % 2 = 0 THEN '420' ELSE '444' END AS subsampling,
               a.mean_luma, a.mean_r, a.mean_g, a.mean_b,
               CAST(c.n_cuts AS INT) AS n_cuts,
               CAST(c.n_cuts + 1 AS INT) AS n_keyframes
        FROM mjg2 g
        JOIN mjagg a USING (doc_id)
        JOIN mjcut c USING (doc_id)"""))),

    // the oracle re-derives the ramp analytically per pixel index and
    // averages it — the Spark side must PARSE the actual P6 bytes to get
    // the same numbers, so a header/raster/summation bug cannot pass
    QueryDef("multimodal_features",
      (s, d) => decodePpm(ppmFixture(s, d)).toDF(),
      Some(oq("""
        , pgeom AS (
            SELECT doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
            FROM documents),
        ppx AS (
            SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
            FROM pgeom)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(sum((doc_id + p) % 256) AS DOUBLE) / (w * h) AS mean_r,
               CAST(sum((doc_id + p + 17) % 256) AS DOUBLE) / (w * h) AS mean_g,
               CAST(sum((doc_id + p + 34) % 256) AS DOUBLE) / (w * h) AS mean_b
        FROM ppx GROUP BY doc_id, w, h"""))))
}
