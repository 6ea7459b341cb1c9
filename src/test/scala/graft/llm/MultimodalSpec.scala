package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The multimodal decode path's scale contract: media bytes never leave the
  * executor that produced them — the one exchange a decode plan may carry
  * is the fixture feed's bare-LONG id spread (r18), which runs BEFORE any
  * payload exists — and the typed batch shape survives the mapPartitions
  * boundary. */
class MultimodalSpec extends SparkSpec {

  /** Every exchange in the plan must output exactly the doc_id column: the
    * pre-payload id spread is allowed, a payload-bearing shuffle OR
    * broadcast is not (the base `Exchange` match covers both — a
    * ShuffleExchangeExec-only match would let a payload broadcast through,
    * r18 second review; ReusedExchangeExec is a leaf alias, checked by its
    * own output). */
  private def assertPayloadLocal(df: org.apache.spark.sql.Dataset[_]): Unit = {
    val exchanges = graft.plans.PlanRuleSupport.physicalNodes(df.queryExecution.executedPlan)
      .collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
    exchanges.foreach { e =>
      assert(e.output.map(_.name) == Seq("doc_id"),
        s"payload-bearing exchange in a decode plan (${e.nodeName}): " +
          e.output.map(_.name))
    }
  }

  test("feature extraction is partition-local — payload bytes never ride an exchange") {
    assertPayloadLocal(
      MultimodalOps.decodePpm(MultimodalOps.ppmFixture(spark, sfDir)))
  }

  test("frame sampling explodes partition-local — no exchange, every 5th frame") {
    val frames = MultimodalOps.sampleFrames(spark, sfDir)
    val plan = frames.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    val idx = frames.select("frame_idx")
      .collect().map(_.getLong(0)).toSet
    assert(idx.forall(_ % 5 === 0))
    assert(frames.count() > 0)
  }

  // -- the real P6 codec (r11) ---------------------------------------------

  private def p6(header: String, px: Int*): Array[Byte] =
    header.getBytes("US-ASCII") ++ px.map(_.toByte).toArray

  test("parsePpm decodes a hand-computed 2x2 image exactly") {
    val img = p6("P6\n2 2\n255\n",
      0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110)
    val f = MultimodalOps.parsePpm(7L, img)
    assert(f === MultimodalOps.PpmFeatures(7L, 2, 2, 45.0, 55.0, 65.0))
  }

  test("parsePpm handles comments, multi-digit dims, and high bytes") {
    // 3x1, a comment line between magic and dims, channel values >127
    // (byte sign-extension is the classic decoder bug)
    val img = p6("P6\n# a comment\n3 1\n255\n",
      200, 0, 0, 250, 0, 0, 255, 0, 0)
    val f = MultimodalOps.parsePpm(1L, img)
    assert(f.width === 3 && f.height === 1)
    assert(f.mean_r === (200 + 250 + 255).toDouble / 3)
    assert(f.mean_g === 0.0 && f.mean_b === 0.0)
  }

  test("parsePpm rejects wrong magic, bad maxval, and truncated rasters") {
    intercept[IllegalArgumentException] {
      MultimodalOps.parsePpm(1L, p6("P5\n1 1\n255\n", 1, 2, 3)) // greyscale magic
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.parsePpm(1L, p6("P6\n1 1\n65535\n", 1, 2, 3)) // 16-bit
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.parsePpm(1L, p6("P6\n2 2\n255\n", 1, 2, 3)) // short raster
    }
  }

  // -- the real PNG codec (r12) --------------------------------------------

  test("parsePng decodes a hand-computed image exactly under every filter type") {
    // 2 wide × 5 tall — one row per filter type (None/Sub/Up/Average/Paeth),
    // values spanning the byte range so the modular filter arithmetic and
    // sign handling are both exercised
    val px = Array(
      0, 10, 20, 250, 240, 230,
      5, 15, 25, 255, 1, 128,
      100, 110, 120, 130, 140, 150,
      200, 201, 202, 3, 4, 5,
      90, 80, 70, 60, 50, 40).map(_.toByte)
    val img = MultimodalOps.pngEncode(px, 2, 5, y => y)
    val f = MultimodalOps.parsePng(9L, img)
    def mean(c: Int) = (0 until 10).map(p => px(3 * p + c) & 0xff).sum / 10.0
    assert(f === MultimodalOps.PngFeatures(9L, 2, 5, mean(0), mean(1), mean(2)))
  }

  test("parsePng concatenates a split IDAT stream and skips CRC-valid ancillary chunks") {
    val px = Array.tabulate(3 * 4 * 3)(i => ((i * 37) % 256).toByte)
    val img = MultimodalOps.pngEncode(px, 3, 4, _ % 5, idatChunks = 3)
    val f = MultimodalOps.parsePng(1L, img)
    assert(f.width === 3 && f.height === 4)
    assert(f.mean_r === (0 until 12).map(p => px(3 * p) & 0xff).sum / 12.0)
  }

  test("parsePng rejects bad signature, CRC corruption, truncated IDAT, and wrong profile") {
    val px = Array.tabulate(2 * 2 * 3)(i => (i * 11).toByte)
    val good = MultimodalOps.pngEncode(px, 2, 2, _ => 0)
    // signature
    intercept[IllegalArgumentException] {
      MultimodalOps.parsePng(1L, "JFIF".getBytes ++ good.drop(4))
    }
    // flip one raster byte inside the first IDAT payload → CRC mismatch
    val crcBad = good.clone()
    val idatOff = {
      var o = 8
      while (new String(crcBad, o + 4, 4, "US-ASCII") != "IDAT")
        o += 12 + (((crcBad(o) & 0xff) << 24) | ((crcBad(o + 1) & 0xff) << 16) |
          ((crcBad(o + 2) & 0xff) << 8) | (crcBad(o + 3) & 0xff))
      o
    }
    crcBad(idatOff + 10) = (crcBad(idatOff + 10) ^ 0x5a).toByte
    val e = intercept[IllegalArgumentException] { MultimodalOps.parsePng(1L, crcBad) }
    assert(e.getMessage.contains("CRC"))
    // truncated container (IEND never reached)
    intercept[IllegalArgumentException] {
      MultimodalOps.parsePng(1L, good.dropRight(13))
    }
    // greyscale color type is outside the supported profile
    val grey = good.clone()
    grey(8 + 8 + 9) = 0 // IHDR color-type byte
    val crc = new java.util.zip.CRC32()
    crc.update(grey, 12, 17) // re-CRC the doctored IHDR (type + 13 data bytes)
    val v = crc.getValue
    grey(29) = ((v >> 24) & 0xff).toByte; grey(30) = ((v >> 16) & 0xff).toByte
    grey(31) = ((v >> 8) & 0xff).toByte; grey(32) = (v & 0xff).toByte
    val e2 = intercept[IllegalArgumentException] { MultimodalOps.parsePng(1L, grey) }
    assert(e2.getMessage.contains("color type"))
  }

  test("png decode is partition-local and fixture images hit their analytic features") {
    val ds = MultimodalOps.decodePng(MultimodalOps.pngFixture(spark, sfDir))
    assertPayloadLocal(ds)
    val feats = ds.collect().map(f => f.doc_id -> f).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, f) =>
      val w = (1 + id % 32).toInt; val h = (1 + id % 24).toInt
      assert(f.width === w && f.height === h)
      val n = w * h
      assert(f.mean_r === (0 until n).map(p => ((id + p) % 256).toDouble).sum / n)
      assert(f.mean_g === (0 until n).map(p => ((id + p + 17) % 256).toDouble).sum / n)
    }
  }

  test("fixture images round-trip through the decoder to their analytic features") {
    val feats = MultimodalOps.decodePpm(MultimodalOps.ppmFixture(spark, sfDir))
      .collect().map(f => f.doc_id -> f).toMap
    val ids = graft.llm.TextOps.docs(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(feats.keySet === ids)
    ids.foreach { id =>
      val f = feats(id)
      assert(f.width === 1 + (id % 64).toInt)
      assert(f.height === 1 + (id % 48).toInt)
      val n = f.width * f.height
      val er = (0 until n).map(p => (id + p) % 256).sum.toDouble / n
      assert(f.mean_r === er, s"doc $id")
    }
    assert(feats.nonEmpty)
  }

  // -- the real WAV (RIFF/PCM16) codec (r11) -------------------------------

  /** Minimal hand-assembled mono PCM16 WAV: header + the given samples. */
  private def wav(samples: Seq[Int], channels: Int = 1, rate: Int = 8000,
      extraChunk: Array[Byte] = Array.emptyByteArray,
      fmtCode: Int = 1, bits: Int = 16): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
    def wtag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    wtag("RIFF"); w32(4 + extraChunk.length + 24 + 8 + 2L * samples.size); wtag("WAVE")
    out.write(extraChunk)
    wtag("fmt "); w32(16); w16(fmtCode); w16(channels); w32(rate)
    w32(rate.toLong * channels * 2); w16(channels * 2); w16(bits)
    wtag("data"); w32(2L * samples.size)
    samples.foreach(v => w16(v & 0xffff))
    out.toByteArray
  }

  // -- the baseline JPEG codec (r13) ---------------------------------------

  // the (4,4) DCT basis sign pattern: s(x)s(y) = ±1 per pixel
  private val S = Array(1, -1, -1, 1, 1, -1, -1, 1)

  test("parseJpeg decodes a two-block coefficient plan exactly (DC + AC(4,4))") {
    val img = MultimodalOps.jpegEncode(16, 8, Array(100, 200), Array(2, -1))
    val px = for {
      y <- 0 until 8; x <- 0 until 16
      (c, k) = if (x < 8) (100, 2) else (200, -1)
    } yield c + k * S(x % 8) * S(y)
    val f = MultimodalOps.parseJpeg(3L, img)
    assert(f === MultimodalOps.JpegFeatures(3L, 16, 8,
      px.sum.toDouble / px.size, px.min, px.max))
    assert(f.min_luma === 98 && f.max_luma === 201 && f.mean_luma === 150.0)
  }

  test("parseJpeg clips edge MCUs to the declared geometry") {
    // 12x10 over a 2x2 block grid: the right/bottom blocks are clipped, so
    // the mean is the area-weighted mean of the block constants
    val img = MultimodalOps.jpegEncode(12, 10, Array(10, 20, 30, 40), Array(0, 0, 0, 0))
    val f = MultimodalOps.parseJpeg(4L, img)
    assert(f.width === 12 && f.height === 10)
    assert(f.mean_luma === (64 * 10 + 32 * 20 + 16 * 30 + 8 * 40).toDouble / 120)
    assert(f.min_luma === 10 && f.max_luma === 40)
  }

  test("parseJpeg handles restart markers: aligned RSTn, predictor reset, same stats") {
    val dc = Array(7, 250, 3, 128, 99, 180, 2, 253)
    val k = Array(1, -2, 0, 2, -1, 0, 2, -2)
    val plain = MultimodalOps.parseJpeg(5L, MultimodalOps.jpegEncode(64, 8, dc, k))
    val rst = MultimodalOps.parseJpeg(5L,
      MultimodalOps.jpegEncode(64, 8, dc, k, restartInterval = 2))
    assert(rst === plain)
    assert(rst.min_luma === dc.zip(k).map { case (c, j) => c - math.abs(j) }.min)
  }

  test("parseJpeg unstuffs FF00 bytes; a DC sweep stresses every category") {
    // 252 blocks sweeping every DC constant (all diff categories), with a
    // +1023 AC(4,4) and a +1 follower coefficient per block: the ten-ones
    // extend + all-ones (0,1) code + one-bit extend is a 15-run of ones,
    // which contains a byte-aligned 0xFF at EVERY alignment — stuffing is
    // structurally guaranteed, and asserted present so the unstuffing path
    // provably ran. c±1023 clamps every pixel to 0/255 (half each sign —
    // the follower shifts by ≤4, never across the clamp), so the decoded
    // statistics stay closed-form
    val dc = Array.tabulate(252)(b => 2 + b)
    val k = Array.fill(252)(1023)
    val img = MultimodalOps.jpegEncode(2016, 8, dc, k, acNext = Array.fill(252)(1))
    val sos = {
      var o = 2
      while (!((img(o) & 0xff) == 0xff && (img(o + 1) & 0xff) == 0xda))
        o += 2 + (((img(o + 2) & 0xff) << 8) | (img(o + 3) & 0xff))
      o + 10
    }
    val stuffed = (sos until img.length - 2).exists(o =>
      (img(o) & 0xff) == 0xff && (img(o + 1) & 0xff) == 0x00)
    assert(stuffed, "the ±1023 sweep must produce at least one stuffed byte")
    val f = MultimodalOps.parseJpeg(6L, img)
    assert(f.mean_luma === 127.5 && f.min_luma === 0 && f.max_luma === 255)
  }

  test("parseJpeg rejects non-JPEG, progressive frames, and truncated streams") {
    val good = MultimodalOps.jpegEncode(8, 8, Array(100), Array(1))
    intercept[IllegalArgumentException] {
      MultimodalOps.parseJpeg(1L, "not a jpeg".getBytes)
    }
    // SOF0 follows SOI(2) + APP0(18) + DQT(69): flip it to progressive SOF2
    val prog = good.clone()
    assert((prog(89) & 0xff) == 0xff && (prog(90) & 0xff) == 0xc0)
    prog(90) = 0xc2.toByte
    val e = intercept[IllegalArgumentException] { MultimodalOps.parseJpeg(1L, prog) }
    assert(e.getMessage.contains("progressive"))
    // truncation loses the EOI
    intercept[IllegalArgumentException] {
      MultimodalOps.parseJpeg(1L, good.dropRight(4))
    }
  }

  test("jpeg decode is partition-local and fixture images hit their analytic features") {
    val ds = MultimodalOps.decodeJpeg(MultimodalOps.jpegFixture(spark, sfDir))
    assertPayloadLocal(ds)
    val feats = ds.collect().map(f => f.doc_id -> f).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, f) =>
      val w = (8 * (1 + id % 4)).toInt; val h = (8 * (1 + id % 3)).toInt
      val nb = (w / 8) * (h / 8)
      val cs = Array.tabulate(nb)(b => (2 + (id * 7 + b * 13) % 252).toInt)
      val ks = Array.tabulate(nb)(b => ((id + b) % 5 - 2).toInt)
      assert(f.width === w && f.height === h, s"doc $id geometry")
      assert(f.mean_luma === cs.map(_ * 64L).sum.toDouble / (w * h), s"doc $id mean")
      assert(f.min_luma === cs.zip(ks).map { case (c, j) => c - math.abs(j) }.min)
      assert(f.max_luma === cs.zip(ks).map { case (c, j) => c + math.abs(j) }.max)
    }
  }

  test("parseJpegColor decodes hand-computed 4:4:4 and 4:2:0 images exactly (r16)") {
    def rgb(y: Int, cb: Int, cr: Int): (Long, Long, Long) = (
      StrictMath.rint(y + 1.402 * (cr - 128)).toLong,
      StrictMath.rint(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)).toLong,
      StrictMath.rint(y + 1.772 * (cb - 128)).toLong)
    // 4:4:4 — two MCUs (8x8 each), distinct planes per MCU
    val c444 = MultimodalOps.parseJpegColor(1L,
      MultimodalOps.jpegEncodeColor(16, 8, sub420 = false,
        Array(100, 160), Array(120, 136), Array(130, 118)))
    val (r1, g1, b1) = rgb(100, 120, 130); val (r2, g2, b2) = rgb(160, 136, 118)
    assert(c444 === MultimodalOps.JpegColorFeatures(1L, 16, 8, "444",
      130.0, 128.0, 124.0,
      (r1 + r2) / 2.0, (g1 + g2) / 2.0, (b1 + b2) / 2.0, 100, 160))
    // 4:2:0 — one 16x16 MCU: four luma blocks share the constant, one
    // chroma sample covers each 2x2 luma patch (replication upsampling)
    val c420 = MultimodalOps.parseJpegColor(2L,
      MultimodalOps.jpegEncodeColor(16, 16, sub420 = true,
        Array(90), Array(125), Array(133)))
    val (r3, g3, b3) = rgb(90, 125, 133)
    assert(c420 === MultimodalOps.JpegColorFeatures(2L, 16, 16, "420",
      90.0, 125.0, 133.0, r3.toDouble, g3.toDouble, b3.toDouble, 90, 90))
  }

  test("parseJpegColor restart markers reset ALL three predictors (r16)") {
    val y = Array(80, 170, 95, 140); val cb = Array(120, 130, 126, 135)
    val cr = Array(119, 138, 128, 122)
    val plain = MultimodalOps.parseJpegColor(3L,
      MultimodalOps.jpegEncodeColor(32, 8, sub420 = false, y, cb, cr))
    val rst = MultimodalOps.parseJpegColor(3L,
      MultimodalOps.jpegEncodeColor(32, 8, sub420 = false, y, cb, cr,
        restartInterval = 2))
    assert(rst === plain)
    assert(plain.min_luma === 80 && plain.max_luma === 170)
  }

  test("the two JPEG decoders reject each other's component counts; bad sampling is loud (r16)") {
    val gray = MultimodalOps.jpegEncode(8, 8, Array(100), Array(0))
    val color = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(100), Array(128), Array(128))
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpeg(1L, color)
    }.getMessage.contains("grayscale only"))
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegColor(1L, gray)
    }.getMessage.contains("color only"))
    // factors above 2 (4:1:1-style 4x1 luma) are outside the supported set
    // (2x1 / 1x2 became first-class in r17)
    val bad = color.clone()
    // SOF0 luma sampling byte: find the SOF0 marker and patch component 1
    val sof = (0 until bad.length - 1).find(i =>
      (bad(i) & 0xff) == 0xff && (bad(i + 1) & 0xff) == 0xc0).get
    bad(sof + 11) = 0x41.toByte // 4x1
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegColor(1L, bad)
    }.getMessage.contains("luma sampling"))
  }

  test("color jpeg fixture images round-trip to their analytic features (r16)") {
    for (id <- Seq(0L, 1L, 5L, 7L, 14L)) {
      val sub420 = id % 2 == 0
      val mcu = if (sub420) 16 else 8
      val w = (mcu * (1 + id % 3)).toInt; val h = (mcu * (1 + id % 2)).toInt
      val nm = (w / mcu) * (h / mcu)
      val yM = Array.tabulate(nm)(m => (80 + (id * 7 + m * 13) % 97).toInt)
      val cbM = Array.tabulate(nm)(m => (118 + (id + 3 * m) % 21).toInt)
      val crM = Array.tabulate(nm)(m => (118 + (id * 5 + 11 * m) % 21).toInt)
      val f = MultimodalOps.parseJpegColor(id,
        MultimodalOps.jpegEncodeColor(w, h, sub420, yM, cbM, crM,
          restartInterval = if (id % 7 == 0) 2 else 0))
      assert(f.width === w && f.height === h)
      assert(f.subsampling === (if (sub420) "420" else "444"))
      assert(f.mean_y === yM.map(_.toLong).sum.toDouble * mcu * mcu / (w * h))
      assert(f.min_luma === yM.min && f.max_luma === yM.max)
      val rs = yM.indices.map(m =>
        StrictMath.rint(yM(m) + 1.402 * (crM(m) - 128)).toLong)
      assert(f.mean_r === rs.sum.toDouble * mcu * mcu / (w * h))
    }
  }

  test("cmyk decode is partition-local and fixture images hit their analytic features (r19)") {
    val ds = MultimodalOps.decodeJpegCmyk(MultimodalOps.jpegCmykFixture(spark, sfDir))
    assertPayloadLocal(ds)
    val feats = ds.collect().map(f => f.doc_id -> f).toMap
    assert(feats.nonEmpty)
    assert(feats.values.map(_.transform).toSet === Set("CMYK", "YCCK"))
    assert(feats.values.map(_.subsampling).toSet === Set("444", "420"))
    feats.foreach { case (id, f) =>
      val ycck = id % 2 == 1
      val mcu = if (ycck && id % 4 == 1) 16 else 8
      val w = (mcu * (1 + id % 3)).toInt; val h = (mcu * (1 + id % 2)).toInt
      val nm = (w / mcu) * (h / mcu)
      assert(f.width === w && f.height === h, s"doc $id geometry")
      assert(f.transform === (if (ycck) "YCCK" else "CMYK"))
      val kS = Array.tabulate(nm)(m => (60 + (id * 11 + 17 * m) % 131).toInt)
      assert(f.mean_k === kS.map(255L - _).sum.toDouble * mcu * mcu / (w * h),
        s"doc $id mean_k")
      assert(f.min_k === kS.map(255 - _).min && f.max_k === kS.map(255 - _).max)
    }
  }

  test("parseJpegCmyk: Adobe CMYK (transform 0) decodes stored ink planes exactly, inverted (r19)") {
    // two 8x8 MCUs, distinct stored (inverted) plane constants per MCU
    val f = MultimodalOps.parseJpegCmyk(1L,
      MultimodalOps.jpegEncodeCmyk(16, 8, ycck = false, sub420 = false,
        Array(100, 160), Array(120, 136), Array(130, 118), Array(90, 200)))
    def ink(s: Int) = 255 - s
    assert(f.transform === "CMYK" && f.subsampling === "444")
    assert(f.width === 16 && f.height === 8)
    assert(f.mean_c === (ink(100) + ink(160)) / 2.0)
    assert(f.mean_m === (ink(120) + ink(136)) / 2.0)
    assert(f.mean_y === (ink(130) + ink(118)) / 2.0)
    assert(f.mean_k === (ink(90) + ink(200)) / 2.0)
    // r = storedC·storedK/255 for Adobe-inverted storage (exact int division)
    assert(f.mean_r === (100 * 90 / 255 + 160 * 200 / 255) / 2.0)
    assert(f.min_k === ink(200) && f.max_k === ink(90))
  }

  test("parseJpegCmyk: YCCK 4:2:0 routes chroma through the JFIF transform; K rides at Y's sampling (r19)") {
    // one 16x16 MCU: four Y blocks + one Cb + one Cr + four K blocks
    val f = MultimodalOps.parseJpegCmyk(2L,
      MultimodalOps.jpegEncodeCmyk(16, 16, ycck = true, sub420 = true,
        Array(90), Array(125), Array(133), Array(140)))
    val sC = StrictMath.rint(90 + 1.402 * (133 - 128)).toInt
    val sM = StrictMath.rint(90 - 0.344136 * (125 - 128) - 0.714136 * (133 - 128)).toInt
    val sY = StrictMath.rint(90 + 1.772 * (125 - 128)).toInt
    assert(f.transform === "YCCK" && f.subsampling === "420")
    assert(f.mean_c === 255.0 - sC && f.mean_m === 255.0 - sM
      && f.mean_y === 255.0 - sY)
    assert(f.mean_k === 115.0 && f.min_k === 115 && f.max_k === 115)
    assert(f.mean_r === (sC * 140 / 255).toDouble)
  }

  test("parseJpegCmyk: restart markers reset all FOUR predictors (r19)") {
    val a = Array(80, 170, 95, 140); val b = Array(120, 130, 126, 135)
    val c = Array(119, 138, 128, 122); val k = Array(60, 190, 100, 150)
    val plain = MultimodalOps.parseJpegCmyk(3L,
      MultimodalOps.jpegEncodeCmyk(32, 8, ycck = false, sub420 = false, a, b, c, k))
    val rst = MultimodalOps.parseJpegCmyk(3L,
      MultimodalOps.jpegEncodeCmyk(32, 8, ycck = false, sub420 = false, a, b, c, k,
        restartInterval = 2))
    assert(rst === plain)
    assert(plain.min_k === 255 - 190 && plain.max_k === 255 - 60)
  }

  test("parseJpegCmyk: a 4-component stream WITHOUT the Adobe marker is plain non-inverted CMYK (r19)") {
    val f = MultimodalOps.parseJpegCmyk(4L,
      MultimodalOps.jpegEncodeCmyk(8, 8, ycck = false, sub420 = false,
        Array(100), Array(120), Array(130), Array(90), adobe = false))
    assert(f.transform === "CMYK")
    assert(f.mean_c === 100.0 && f.mean_k === 90.0)
    assert(f.mean_r === ((255 - 100) * (255 - 90) / 255).toDouble)
  }

  test("CMYK rejections narrowed: decoders route by component count; bad transform/sampling is loud (r19)") {
    val cmyk = MultimodalOps.jpegEncodeCmyk(8, 8, ycck = false, sub420 = false,
      Array(100), Array(120), Array(130), Array(90))
    val color = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(100), Array(128), Array(128))
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegColor(1L, cmyk)
    }.getMessage.contains("route to decodeJpegCmyk"))
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegCmyk(1L, color)
    }.getMessage.contains("CMYK/YCCK is 4"))
    // Adobe transform 1 (YCbCr) is invalid for a 4-component frame
    val t1 = cmyk.clone()
    val app14 = (0 until t1.length - 1).find(i =>
      (t1(i) & 0xff) == 0xff && (t1(i + 1) & 0xff) == 0xee).get
    t1(app14 + 15) = 1
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegCmyk(1L, t1)
    }.getMessage.contains("transform 1"))
    // YCCK with a K plane sampled unlike Y is loud
    val ycck = MultimodalOps.jpegEncodeCmyk(16, 16, ycck = true, sub420 = true,
      Array(90), Array(125), Array(133), Array(140))
    val badK = ycck.clone()
    val sof = (0 until badK.length - 1).find(i =>
      (badK(i) & 0xff) == 0xff && (badK(i + 1) & 0xff) == 0xc0).get
    badK(sof + 20) = 0x11 // K sampling byte: 1x1 while Y declares 2x2
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegCmyk(1L, badK)
    }.getMessage.contains("K-plane sampling"))
  }

  test("baseline color, MJPEG and CMYK decoders reject a scan listing components out of frame order") {
    // T.81 B.2.3: swap the 2nd and 3rd component ids of the SOS (Cb/Cr, C/M)
    def swapped(jpeg: Array[Byte]): Array[Byte] = {
      val b = jpeg.clone()
      val sos = (0 until b.length - 1).find(i =>
        (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda).get
      val t = b(sos + 7); b(sos + 7) = b(sos + 9); b(sos + 9) = t
      b
    }
    def rejects(decode: Array[Byte] => Any, bytes: Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](decode(bytes))
      assert(e.getMessage.contains("scan component 3 out of frame order"), e.getMessage)
    }
    val color = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(100), Array(120), Array(130))
    MultimodalOps.parseJpegColor(1L, color)
    rejects(MultimodalOps.parseJpegColor(1L, _), swapped(color))
    rejects(MultimodalOps.parseAviMjpeg(1L, _),
      MultimodalOps.aviMjpegEncode(8, 8, 25, 1, Array(color, swapped(color))))
    val cmyk = MultimodalOps.jpegEncodeCmyk(8, 8, ycck = false, sub420 = false,
      Array(100), Array(120), Array(130), Array(90))
    MultimodalOps.parseJpegCmyk(1L, cmyk)
    rejects(MultimodalOps.parseJpegCmyk(1L, _), swapped(cmyk))
  }

  test("parseWav decodes a hand-computed stereo clip exactly") {
    // 2 frames × 2 channels: samples 100, -100, 300, -300
    val f = MultimodalOps.parseWav(3L, wav(Seq(100, -100, 300, -300), channels = 2))
    assert(f.n_channels === 2 && f.sample_rate === 8000 && f.n_frames === 2L)
    assert(f.duration_s === 2.0 / 8000)
    assert(f.mean_amp === 0.0)
    assert(f.rms === math.sqrt((100.0 * 100 * 2 + 300.0 * 300 * 2) / 4))
    assert(f.peak === 300)
  }

  test("parseWav is sign-correct on the high byte and skips unknown chunks") {
    // -1 encodes as 0xFF 0xFF — an unsigned decode would read 65535
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val f = MultimodalOps.parseWav(1L, wav(Seq(-1, -32768, 32767), extraChunk = junk))
    assert(f.mean_amp === (-1.0 - 32768 + 32767) / 3)
    assert(f.peak === 32768)
  }

  test("parseWav rejects bad magic, non-PCM, 8-bit, and truncated containers") {
    val good = wav(Seq(1, 2, 3))
    val badMagic = good.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException] { MultimodalOps.parseWav(1L, badMagic) }
    intercept[IllegalArgumentException] {
      MultimodalOps.parseWav(1L, wav(Seq(1, 2), fmtCode = 3)) // IEEE float
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.parseWav(1L, wav(Seq(1, 2), bits = 8))
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.parseWav(1L, good.dropRight(2)) // truncated data
    }
  }

  test("wav decode is partition-local — payload bytes never ride an exchange") {
    assertPayloadLocal(
      MultimodalOps.decodeWav(MultimodalOps.wavFixture(spark, sfDir)))
  }

  test("fixture wavs round-trip through the decoder to their analytic stats") {
    val feats = MultimodalOps.decodeWav(MultimodalOps.wavFixture(spark, sfDir))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, f) =>
      assert(f.n_channels === (1 + id % 2).toInt, s"doc $id")
      assert(f.sample_rate === (8000 + (id % 3) * 4000).toInt)
      assert(f.n_frames === 200 + id % 57)
      val n = (f.n_frames * f.n_channels).toInt
      val vs = (0 until n).map(k => ((id * 31 + k * 17) % 4001) - 2000)
      assert(f.mean_amp === vs.sum.toDouble / n, s"doc $id")
      assert(f.peak === vs.map(math.abs).max.toInt, s"doc $id")
    }
  }

  test("wav quality: verdict priority and all three classes on the quality fixture") {
    import spark.implicits._
    // verdict logic on synthetic decoded stats: clipping wins over silence
    // in the fixed priority; the rail value itself flags
    val stats = Seq(
      MultimodalOps.WavFeatures(1L, 1, 8000, 10L, 0.001, 0.0, 20000.0, 32767),
      MultimodalOps.WavFeatures(2L, 1, 8000, 10L, 0.001, 0.0, 50.0, 52),
      MultimodalOps.WavFeatures(3L, 1, 8000, 10L, 0.001, 0.0, 1100.0, 2000)).toDS()
    val v = MultimodalOps.wavQuality(stats)
      .select("doc_id", "verdict", "keep")
      .as[(Long, Option[String], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(v(1L) === (1L, Some("clipping"), false))
    assert(v(2L) === (2L, Some("near_silent"), false))
    assert(v(3L) === (3L, None, true))
    // the planted regimes decode from REAL bytes into their classes
    val out = MultimodalOps.wavQuality(
      MultimodalOps.decodeWav(MultimodalOps.wavQualityFixture(spark, sfDir)))
      .select("doc_id", "verdict")
      .as[(Long, Option[String])].collect().toMap
    out.foreach { case (id, verdict) =>
      val expected =
        if (id % 13 == 0) Some("near_silent")
        else if (id % 11 == 0) Some("clipping")
        else None
      assert(verdict === expected, s"doc $id")
    }
    assert(out.values.flatten.toSet === Set("clipping", "near_silent"))
    assert(out.values.exists(_.isEmpty))
  }

  /** Hand-assembled Y4M stream. */
  private def y4m(header: String, frames: Seq[(String, Seq[Int])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write((header + "\n").getBytes("US-ASCII"))
    frames.foreach { case (marker, planes) =>
      out.write((marker + "\n").getBytes("US-ASCII"))
      planes.foreach(out.write)
    }
    out.toByteArray
  }

  test("parseY4m decodes a hand-computed two-frame 4:2:0 clip exactly, with a scene cut") {
    // 2x2 luma + 1x1 chroma planes; frame order Y,U,V
    val clip = y4m("YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420jpeg", Seq(
      ("FRAME", Seq(10, 10, 10, 10, 100, 200)),
      ("FRAME", Seq(200, 200, 200, 200, 110, 210))))
    val f = MultimodalOps.parseY4m(7L, clip)
    assert(f === MultimodalOps.Y4mFeatures(7L, 2, 2, 25, 1, 2, "420jpeg",
      105.0, Some(105.0), Some(205.0), 1, 2))
  }

  test("parseY4m: mono layout, NTSC ratio, order-free tags, FRAME params, sub-threshold diffs") {
    // tags reordered + unknown Xtag; mono → no chroma planes
    val clip = y4m("YUV4MPEG2 F30000:1001 Xgraft H1 W4 Cmono Ip", Seq(
      ("FRAME Xscene=0", Seq(10, 10, 10, 10)),
      ("FRAME", Seq(25, 25, 25, 25)),   // +15 < 16 → no cut
      ("FRAME", Seq(41, 41, 41, 41)))) // +16 → cut
    val f = MultimodalOps.parseY4m(1L, clip)
    assert(f.width === 4 && f.height === 1 && f.fps_num === 30000 && f.fps_den === 1001)
    assert(f.chroma === "mono" && f.mean_u.isEmpty && f.mean_v.isEmpty)
    assert(f.mean_luma === (10.0 + 25.0 + 41.0) / 3)
    assert(f.n_cuts === 1 && f.n_keyframes === 2)
  }

  test("parseY4m rejects bad magic, unsupported chroma, odd 4:2:0 dims, truncation, and trailing garbage") {
    intercept[IllegalArgumentException] {
      MultimodalOps.parseY4m(1L, y4m("YUV4MPEG W2 H2 F25:1", Nil))
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.parseY4m(1L, y4m("YUV4MPEG2 W2 H2 F25:1 C422", Nil))
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.parseY4m(1L, y4m("YUV4MPEG2 W3 H2 F25:1 C420jpeg", Nil))
    }
    intercept[IllegalArgumentException] { // frame cut short
      MultimodalOps.parseY4m(1L, y4m("YUV4MPEG2 W2 H2 F25:1 C420jpeg",
        Seq(("FRAME", Seq(1, 2, 3)))))
    }
    intercept[IllegalArgumentException] { // missing W
      MultimodalOps.parseY4m(1L, y4m("YUV4MPEG2 H2 F25:1", Nil))
    }
    intercept[IllegalArgumentException] { // frame rate without a ':'
      MultimodalOps.parseY4m(1L, y4m("YUV4MPEG2 W2 H2 F25", Nil))
    }
    intercept[IllegalArgumentException] { // garbage after the last frame
      val ok = y4m("YUV4MPEG2 W2 H2 F25:1 Cmono", Seq(("FRAME", Seq(1, 2, 3, 4))))
      MultimodalOps.parseY4m(1L, ok ++ Array[Byte](9, 9))
    }
  }

  test("y4m decode is partition-local and fixture clips hit their analytic features") {
    assertPayloadLocal(MultimodalOps.decodeY4m(MultimodalOps.y4mFixture(spark, sfDir)))
    val f = MultimodalOps.decodeY4m(MultimodalOps.y4mFixture(spark, sfDir))
      .filter(col("doc_id") === 6L).head() // mono (6%3=0), 25fps, nf=8, sl=5
    assert(f.chroma === "mono" && f.n_frames === 8 && f.fps_num === 25)
    // scene plan: c_f = 16 + (6 + (f/5)*41) % 224 → scenes at f=0 and f=5
    val c = (0 until 8).map(fr => 16 + ((6 + (fr / 5) * 41) % 224))
    assert(f.mean_luma === c.sum.toDouble / 8)
    assert(f.n_cuts === 1 && f.n_keyframes === 2)
  }

  // -- MJPEG video in an AVI container (r16) -------------------------------

  test("parseAviMjpeg decodes a hand-built two-frame clip exactly (r16)") {
    def rgb(y: Int, cb: Int, cr: Int): (Long, Long, Long) = (
      StrictMath.rint(y + 1.402 * (cr - 128)).toLong,
      StrictMath.rint(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)).toLong,
      StrictMath.rint(y + 1.772 * (cb - 128)).toLong)
    val f1 = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(100), Array(120), Array(130))
    val f2 = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(130), Array(125), Array(135))
    // junk + index on: the skip, pad-byte, and idx1-verification paths all run
    val v = MultimodalOps.parseAviMjpeg(7L,
      MultimodalOps.aviMjpegEncode(8, 8, 25, 1, Array(f1, f2),
        junk = true, withIndex = true))
    val (r1, g1, b1) = rgb(100, 120, 130); val (r2, g2, b2) = rgb(130, 125, 135)
    assert(v === MultimodalOps.MjpegVideoFeatures(7L, 8, 8, 25, 1, 2, "444",
      115.0, (r1 + r2) / 2.0, (g1 + g2) / 2.0, (b1 + b2) / 2.0,
      1, 2)) // |130-100| = 30 ≥ 16: one cut, two keyframes
    // a 14-grey-level step is NOT a cut
    val f3 = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(114), Array(120), Array(130))
    val quiet = MultimodalOps.parseAviMjpeg(8L,
      MultimodalOps.aviMjpegEncode(8, 8, 30000, 1001, Array(f1, f3)))
    assert(quiet.n_cuts === 0 && quiet.n_keyframes === 1)
    assert(quiet.fps_num === 30000 && quiet.fps_den === 1001)
  }

  test("parseAviMjpeg container validation is loud (r16)") {
    val f1 = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(100), Array(120), Array(130))
    val good = MultimodalOps.aviMjpegEncode(8, 8, 25, 1, Array(f1, f1),
      withIndex = true)
    def patched(f: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); f(b); b
    }
    def fails(b: Array[Byte], frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        MultimodalOps.parseAviMjpeg(1L, b)
      }
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    fails("not an avi".getBytes("US-ASCII"), "not a RIFF file")
    fails(patched(b => b(8) = 'W'.toByte), "not 'AVI '")
    // strh codec fourcc is the first "MJPG" in the stream
    val strhCodec = (0 until good.length - 3).find(i =>
      good(i) == 'M' && good(i + 1) == 'J' && good(i + 2) == 'P' && good(i + 3) == 'G').get
    fails(patched(b => b(strhCodec) = 'H'.toByte), "unsupported")
    // avih dwTotalFrames lives at RIFF(12) + LIST hdr(12) + 'avih'+size(8) + 16
    fails(patched(b => b(12 + 12 + 8 + 16) = 9), "movi carries")
    // first idx1 entry's offset field: idx1 sits at the tail, 8 + 16*2 bytes
    fails(patched { b =>
      val i = good.length - 32 + 8
      b(i) = (b(i) + 2).toByte
    }, "!= movi chunk at")
    // a chunk size with the sign bit set (negative as Int) or overrunning
    // the container must fail loudly, never walk backwards or zero-pad
    fails(patched(b => b(12 + 12 + 4 + 3) = 0x80.toByte), "overruns its container")
    fails(patched(b => b(12 + 12 + 4) = 0xff.toByte), "overruns its container")
    // frame decodes at different dims than the container declares
    val wide = MultimodalOps.jpegEncodeColor(16, 8, sub420 = false,
      Array(100, 100), Array(120, 120), Array(130, 130))
    fails(MultimodalOps.aviMjpegEncode(8, 8, 25, 1, Array(f1, wide)),
      "container says")
    // chroma subsampling may not change mid-stream
    val s420 = MultimodalOps.jpegEncodeColor(16, 16, sub420 = true,
      Array(100), Array(120), Array(130))
    val s444 = MultimodalOps.jpegEncodeColor(16, 16, sub420 = false,
      Array(100, 100, 100, 100), Array(120, 120, 120, 120),
      Array(130, 130, 130, 130))
    fails(MultimodalOps.aviMjpegEncode(16, 16, 25, 1, Array(s420, s444)),
      "subsampling")
  }

  test("mjpeg decode is partition-local and fixture clips hit their analytic features (r16)") {
    val ds = MultimodalOps.decodeAviMjpeg(MultimodalOps.aviMjpegFixture(spark, sfDir))
    assertPayloadLocal(ds)
    // id 24: nf=6, sl=2 → scenes 0,0,1,1,2,2; y(s) = 80 + (168 + 13s) % 97 =
    // 151, 164, 80 — the s0→s1 step (+13) is below the cut threshold, the
    // s1→s2 wraparound (−84) is a cut: both sides of the rule in one clip
    val f = ds.filter(col("doc_id") === 24L).head()
    assert(f.width === 16 && f.height === 16 && f.subsampling === "420")
    assert(f.n_frames === 6 && f.fps_num === 25 && f.fps_den === 1)
    assert(f.mean_luma === (151 * 2 + 164 * 2 + 80 * 2).toDouble / 6)
    assert(f.n_cuts === 1 && f.n_keyframes === 2)
  }

  test("metadata struct carries mime, byte length, and content prefix") {
    val m = MultimodalOps.mediaTable(spark, sfDir)
      .select("meta.mime", "meta.n_bytes", "meta.prefix_hex").head()
    assert(m.getString(0) === "text/plain")
    assert(m.getInt(1) > 0)
    assert(m.getString(2).length === 8)
  }

  // -- progressive color JPEG (r17) ----------------------------------------

  private def rgbOf(y: Int, cb: Int, cr: Int): (Long, Long, Long) = (
    StrictMath.rint(y + 1.402 * (cr - 128)).toLong,
    StrictMath.rint(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)).toLong,
    StrictMath.rint(y + 1.772 * (cb - 128)).toLong)

  test("parseJpegProgressive decodes hand-computed 4:4:4 with every approximation path (r17)") {
    // three MCUs covering |k|>=2 (first-pass coef + correction bit),
    // |k|=1 (coefficient BORN in the refinement scan), and k=0 (EOB runs)
    val y = Array(100, 160, 90); val cb = Array(120, 136, 125)
    val cr = Array(130, 118, 133); val k = Array(5, -1, 0)
    val f = MultimodalOps.parseJpegProgressive(1L,
      MultimodalOps.jpegEncodeProgressive(24, 8, sub420 = false, y, cb, cr, k))
    assert(f.width === 24 && f.height === 8 && f.subsampling === "444")
    assert(f.n_scans === 10)
    assert(f.mean_y === (100 + 160 + 90) / 3.0) // the ±k halves cancel
    assert(f.mean_cb === (120 + 136 + 125) / 3.0)
    assert(f.mean_cr === (130 + 118 + 133) / 3.0)
    assert(f.min_luma === 90 && f.max_luma === 161) // min(100-5,160-1,90); max(105,161,90)
    // per-MCU RGB: average of the y+|k| and y-|k| variants
    def m(ys: Int, cbs: Int, crs: Int, ks: Int, pick: ((Long, Long, Long)) => Long): Double = {
      val a = pick(rgbOf(ys + math.abs(ks), cbs, crs))
      val b = pick(rgbOf(ys - math.abs(ks), cbs, crs))
      (a + b) / 2.0
    }
    val expR = (m(100, 120, 130, 5, _._1) + m(160, 136, 118, -1, _._1) +
      m(90, 125, 133, 0, _._1)) / 3
    val expG = (m(100, 120, 130, 5, _._2) + m(160, 136, 118, -1, _._2) +
      m(90, 125, 133, 0, _._2)) / 3
    val expB = (m(100, 120, 130, 5, _._3) + m(160, 136, 118, -1, _._3) +
      m(90, 125, 133, 0, _._3)) / 3
    assert(f.mean_r === expR && f.mean_g === expG && f.mean_b === expB)
  }

  test("parseJpegProgressive 4:2:0 matches the baseline decoder on shared content (r17)") {
    // k = 0 everywhere → the progressive and baseline encoders carry the
    // SAME image; the two decode pipelines must agree feature-for-feature
    val y = Array(90, 170); val cb = Array(125, 119); val cr = Array(133, 137)
    val p = MultimodalOps.parseJpegProgressive(2L,
      MultimodalOps.jpegEncodeProgressive(32, 16, sub420 = true, y, cb, cr,
        Array(0, 0)))
    val b = MultimodalOps.parseJpegColor(2L,
      MultimodalOps.jpegEncodeColor(32, 16, sub420 = true, y, cb, cr))
    assert(p.subsampling === "420" && p.n_scans === 10)
    assert((p.mean_y, p.mean_cb, p.mean_cr, p.mean_r, p.mean_g, p.mean_b,
      p.min_luma, p.max_luma) ===
      (b.mean_y, b.mean_cb, b.mean_cr, b.mean_r, b.mean_g, b.mean_b,
        b.min_luma, b.max_luma))
  }

  test("progressive restart markers flush EOB runs and reset predictors without changing output (r17)") {
    val y = Array(80, 170, 95, 140); val cb = Array(120, 130, 126, 135)
    val cr = Array(119, 138, 128, 122); val k = Array(3, 1, 0, -4)
    val plain = MultimodalOps.parseJpegProgressive(3L,
      MultimodalOps.jpegEncodeProgressive(32, 8, sub420 = false, y, cb, cr, k))
    val rst = MultimodalOps.parseJpegProgressive(3L,
      MultimodalOps.jpegEncodeProgressive(32, 8, sub420 = false, y, cb, cr, k,
        restartInterval = 2))
    assert(rst === plain)
    assert(plain.min_luma === 80 - 3 && plain.max_luma === 170 + 1)
  }

  test("progressive failure modes are loud: truncated script, cross-routed frames (r17)") {
    val bytes = MultimodalOps.jpegEncodeProgressive(8, 8, sub420 = false,
      Array(100), Array(125), Array(130), Array(2))
    // drop the final scan: find the LAST SOS marker and splice EOI there —
    // the per-coefficient progression state must flag the missing band
    val lastSos = (0 until bytes.length - 1).lastIndexWhere(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xda)
    val truncated = bytes.take(lastSos) ++ Array(0xff.toByte, 0xd9.toByte)
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegProgressive(4L, truncated)
    }.getMessage.contains("incomplete"))
    // the baseline color decoder rejects SOF2; the progressive decoder
    // rejects SOF0 — neither silently mis-decodes the other's frames
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegColor(4L, bytes)
    }.getMessage.contains("progressive JPEG unsupported"))
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegProgressive(4L, MultimodalOps.jpegEncodeColor(
        8, 8, sub420 = false, Array(100), Array(125), Array(130)))
    }.getMessage.contains("sequential frame"))
  }

  test("4:2:2 and 4:4:0 sampling decode exactly in both decoders (r17)") {
    // 4:2:2 — two 16x8 MCUs, two luma blocks + one chroma pair each;
    // chroma replicates horizontally only
    val c422 = MultimodalOps.parseJpegColor(10L,
      MultimodalOps.jpegEncodeColorSampled(32, 8, 2, 1,
        Array(100, 160), Array(120, 136), Array(130, 118)))
    val (r1, g1, b1) = rgbOf(100, 120, 130); val (r2, g2, b2) = rgbOf(160, 136, 118)
    assert(c422 === MultimodalOps.JpegColorFeatures(10L, 32, 8, "422",
      130.0, 128.0, 124.0,
      (r1 + r2) / 2.0, (g1 + g2) / 2.0, (b1 + b2) / 2.0, 100, 160))
    // 4:4:0 — vertical-only subsampling, via the progressive pipeline
    val p440 = MultimodalOps.parseJpegProgressive(11L,
      MultimodalOps.jpegEncodeProgressiveSampled(8, 32, 1, 2,
        Array(90, 150), Array(125, 119), Array(133, 137), Array(2, -1)))
    assert(p440.subsampling === "440" && p440.n_scans === 10)
    assert(p440.mean_y === (90 + 150) / 2.0)
    assert(p440.min_luma === 88 && p440.max_luma === 151)
    // and a 4:2:2 progressive roundtrip agrees with the baseline decoder
    val p422 = MultimodalOps.parseJpegProgressive(12L,
      MultimodalOps.jpegEncodeProgressiveSampled(32, 8, 2, 1,
        Array(100, 160), Array(120, 136), Array(130, 118), Array(0, 0)))
    assert((p422.subsampling, p422.mean_y, p422.mean_r, p422.mean_g, p422.mean_b)
      === (c422.subsampling, c422.mean_y, c422.mean_r, c422.mean_g, c422.mean_b))
  }

  test("16-bit quantization tables decode identically to their 8-bit twins (r17)") {
    val img = MultimodalOps.jpegEncodeColor(16, 8, sub420 = false,
      Array(100, 160), Array(120, 136), Array(130, 118))
    // rewrite the 8-bit DQT segment (FFDB len=67 pq=0) as 16-bit (pq=1):
    // same values, two bytes each — the decode must not change
    val at = (0 until img.length - 1).indexWhere(i =>
      (img(i) & 0xff) == 0xff && (img(i + 1) & 0xff) == 0xdb)
    assert(at > 0 && (img(at + 4) & 0xff) == 0x00)
    val vals = (0 until 64).map(j => img(at + 5 + j) & 0xff)
    val seg16 = Array[Byte](0xff.toByte, 0xdb.toByte, 0, 131.toByte, 0x10) ++
      vals.flatMap(v => Seq((v >> 8).toByte, (v & 0xff).toByte))
    val img16 = img.take(at) ++ seg16 ++ img.drop(at + 4 + 65)
    val a = MultimodalOps.parseJpegColor(13L, img)
    val b = MultimodalOps.parseJpegColor(13L, img16)
    assert(b === a)
    // out-of-range precision nibble stays loud
    val bad = img.clone(); bad(at + 4) = 0x20.toByte
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegColor(13L, bad)
    }.getMessage.contains("DQT precision"))
  }

  test("AC refinement interleaves ZRL spans with history correction bits (r17 review)") {
    // two AC coefficients per luma block — the content class the fixture
    // never emits: H=3 at zigzag 25 (natural 20; nonzero HISTORY at the
    // refinement pass) behind a >16-zero-history run, and N=-1 at zigzag
    // 26 (natural 13; BORN in the refinement pass). A refinement encoder
    // that flushes buffered correction bits with a ZRL whose span does not
    // contain their coefficients desyncs exactly here.
    def store(): Array[Array[Int]] = {
      val cs = Array.tabulate(3)(_ => new Array[Int](64))
      cs(0)(0) = 100 - 128; cs(1)(0) = 125 - 128; cs(2)(0) = 133 - 128
      cs(0)(20) = 3; cs(0)(13) = -1
      cs
    }
    // reference: the same coefficients in single full-precision passes
    val singlePass = Seq(
      (Seq(0, 1, 2), 0, 0, 0, 0),
      (Seq(0), 1, 5, 0, 0), (Seq(0), 6, 63, 0, 0),
      (Seq(1), 1, 63, 0, 0), (Seq(2), 1, 63, 0, 0))
    val a = MultimodalOps.parseJpegProgressive(20L,
      MultimodalOps.jpegEncodeProgressiveCoefs(8, 8, 1, 1, store(), 0, singlePass))
    val b = MultimodalOps.parseJpegProgressive(20L,
      MultimodalOps.jpegEncodeProgressiveCoefs(8, 8, 1, 1, store(), 0,
        MultimodalOps.DefaultProgressiveScript))
    assert(a.n_scans === 5)
    assert(b === a.copy(n_scans = 10))
    // the AC bases each sum to ~zero over the block, so the luma mean
    // stays near the DC constant (per-pixel rint keeps it within a grey)
    assert(math.abs(a.mean_y - 100.0) < 1.0, a.mean_y)
  }

  test("a malicious header cannot allocate: the 100M-pixel cap is loud (r17)") {
    // patch the SOF0 dims of a valid stream to 65535x65535 — without the
    // cap this would try a multi-GB plane allocation before any pixel read
    val img = MultimodalOps.jpegEncodeColor(8, 8, sub420 = false,
      Array(100), Array(125), Array(130))
    val sof = (0 until img.length - 1).indexWhere(i =>
      (img(i) & 0xff) == 0xff && (img(i + 1) & 0xff) == 0xc0)
    val bad = img.clone()
    bad(sof + 5) = 0xff.toByte; bad(sof + 6) = 0xff.toByte // height
    bad(sof + 7) = 0xff.toByte; bad(sof + 8) = 0xff.toByte // width
    assert(intercept[IllegalArgumentException] {
      MultimodalOps.parseJpegColor(5L, bad)
    }.getMessage.contains("100M-pixel decode cap"))
  }

  test("progressive fixture decode matches the closed-form plan at sf0.001 (r17)") {
    val ds = MultimodalOps.decodeJpegProgressive(
      MultimodalOps.jpegProgressiveFixture(spark, sfDir)).cache()
    try {
      assert(ds.count() > 0)
      ds.collect().foreach { f =>
        val id = f.doc_id
        val mcu = if (id % 2 == 0) 16 else 8
        val w = (mcu * (1 + id % 3)).toInt; val h = (mcu * (1 + id % 2)).toInt
        val nm = (w / mcu) * (h / mcu)
        val ys = Array.tabulate(nm)(m2 => (80 + (id * 7 + m2 * 13) % 97).toInt)
        val ks = Array.tabulate(nm)(m2 => ((id + 7 * m2) % 11 - 5).toInt)
        assert(f.width === w && f.height === h && f.n_scans === 10)
        assert(f.mean_y === ys.map(_.toLong).sum.toDouble / nm, s"doc $id mean_y")
        assert(f.min_luma === ys.zip(ks).map { case (c, j) => c - math.abs(j) }.min)
        assert(f.max_luma === ys.zip(ks).map { case (c, j) => c + math.abs(j) }.max)
      }
    } finally ds.unpersist()
  }
}
