package graft.llm

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Corrupt-input robustness of the media decoders (r17): at corpus scale
  * the decoders walk UNTRUSTED bytes, so a corrupt stream must produce a
  * LOUD `IllegalArgumentException` row or a successful decode — never an
  * executor death (out-of-bounds, negative-size allocation, OOM from a
  * malicious header). Each trial mutates 1-3 random bytes of a valid
  * baseline-color / progressive / CMYK-YCCK / PNG / Y4M / MJPEG-AVI /
  * WAV / PPM / baseline-grayscale stream and decodes; any other
  * throwable falsifies (a 1500-trial deep run was recorded clean at the
  * r17 build). This is the gate behind the r17 hardening (the 100M-pixel
  * allocation cap and the table-selector bounds the first fuzz draft
  * exposed: scan selectors are 4-bit and DQT selectors a full byte,
  * indexing size-4 table arrays). */
object JpegFuzzSpec extends Properties("mediaFuzz") {

  // 300 trials per suite run; GRAFT_FUZZ_TRIALS overrides for the recorded
  // deep passes (1500-trial runs recorded clean at the r17 and r19 builds)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("GRAFT_FUZZ_TRIALS").flatMap(_.toIntOption).getOrElse(300))

  private lazy val colorBytes = MultimodalOps.jpegEncodeColor(
    32, 16, sub420 = true, Array(90, 170), Array(125, 119), Array(133, 137),
    restartInterval = 1)
  private lazy val progBytes = MultimodalOps.jpegEncodeProgressive(
    16, 16, sub420 = true, Array(100), Array(125), Array(130), Array(3))
  private lazy val pngBytes = {
    val px = Array.tabulate(12 * 9 * 3)(i => (i % 251).toByte)
    MultimodalOps.pngEncode(px, 12, 9, y => y % 5, idatChunks = 2)
  }
  private lazy val y4mBytes = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("YUV4MPEG2 W16 H8 F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII"))
    (1 to 2).foreach { f =>
      out.write("FRAME\n".getBytes("US-ASCII"))
      (0 until 16 * 8).foreach(p => out.write(40 * f + (if ((p & 1) == 0) 1 else -1)))
    }
    out.toByteArray
  }
  private lazy val aviBytes = MultimodalOps.aviMjpegEncode(16, 16, 25, 1,
    Array.tabulate(2)(f => MultimodalOps.jpegEncodeColor(16, 16, sub420 = true,
      Array(80 + 40 * f), Array(125), Array(130))),
    junk = true, withIndex = true)
  private lazy val wavBytes = {
    // RIFF/WAVE with fmt + data, mono PCM16 — the wavFixture shape
    val out = new java.io.ByteArrayOutputStream()
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    val n = 64
    tag("RIFF"); w32(4 + 8 + 16 + 8 + 2 * n); tag("WAVE")
    tag("fmt "); w32(16); w16(1); w16(1); w32(8000); w32(16000); w16(2); w16(16)
    tag("data"); w32(2 * n)
    (0 until n).foreach(i => w16((i * 257) & 0xffff))
    out.toByteArray
  }
  private lazy val cmykBytes = MultimodalOps.jpegEncodeCmyk(
    32, 16, ycck = true, sub420 = true, Array(90, 170), Array(125, 119),
    Array(133, 137), Array(100, 140), restartInterval = 1)
  private lazy val grayBytes = MultimodalOps.jpegEncode(24, 16,
    Array(10, 60, 110, 160, 210, 250), Array(-2, -1, 0, 1, 2, 3),
    restartInterval = 2)
  private lazy val ppmBytes = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("P6\n# c\n4 3\n255\n".getBytes("US-ASCII"))
    (0 until 4 * 3 * 3).foreach(i => out.write(i * 7 % 256))
    out.toByteArray
  }

  private case class Mutation(stream: Int, sites: Seq[(Int, Int)])

  private val mutationGen: Gen[Mutation] = for {
    stream <- Gen.chooseNum(0, 8)
    n <- Gen.chooseNum(1, 3)
    sites <- Gen.listOfN(n, for {
      at <- Gen.chooseNum(0, 10000) // mod length at use
      v <- Gen.chooseNum(0, 255)
    } yield (at, v))
  } yield Mutation(stream, sites)

  property("mutated streams decode or fail loudly — never crash the executor") =
    Prop.forAll(mutationGen) { m =>
      val base = m.stream match {
        case 0 => colorBytes
        case 1 => progBytes
        case 2 => pngBytes
        case 3 => y4mBytes
        case 4 => aviBytes
        case 5 => wavBytes
        case 6 => cmykBytes
        case 7 => ppmBytes
        case _ => grayBytes
      }
      val bytes = base.clone()
      m.sites.foreach { case (at, v) => bytes(at % bytes.length) = v.toByte }
      try {
        m.stream match {
          case 0 => MultimodalOps.parseJpegColor(1L, bytes)
          case 1 => MultimodalOps.parseJpegProgressive(1L, bytes)
          case 2 => MultimodalOps.parsePng(1L, bytes)
          case 3 => MultimodalOps.parseY4m(1L, bytes)
          case 4 => MultimodalOps.parseAviMjpeg(1L, bytes)
          case 5 => MultimodalOps.parseWav(1L, bytes)
          case 6 => MultimodalOps.parseJpegCmyk(1L, bytes)
          case 7 => MultimodalOps.parsePpm(1L, bytes)
          case _ => MultimodalOps.parseJpeg(1L, bytes)
        }
        Prop.passed
      } catch {
        case _: IllegalArgumentException => Prop.passed // the loud contract
        case e: Throwable =>
          Prop.falsified :| s"stream ${m.stream} sites ${m.sites}: ${e.getClass.getName}: ${e.getMessage}"
      }
    }

  // The idx1 chunk is ~3% of the AVI fixture, so uniform mutation leaves the
  // index-validation walk (entry fourcc/offset/length cross-checks against
  // the movi chunks) thinly covered; this property lands every mutation
  // INSIDE [idx1 fourcc, EOF) — the container's index layer (VERDICT r17 #5).
  private lazy val idx1At: Int = {
    val pat = "idx1".getBytes("US-ASCII")
    (0 until aviBytes.length - 4).find(i =>
      (0 until 4).forall(j => aviBytes(i + j) == pat(j)))
      .getOrElse(sys.error("fixture lost its idx1 chunk"))
  }

  property("mutations targeted at the AVI idx1 index decode or fail loudly") =
    Prop.forAll(Gen.listOfN(3, for {
      at <- Gen.chooseNum(0, 10000) // mod idx1-span at use
      v <- Gen.chooseNum(0, 255)
    } yield (at, v))) { sites =>
      val bytes = aviBytes.clone()
      val span = bytes.length - idx1At
      sites.foreach { case (at, v) => bytes(idx1At + (at % span)) = v.toByte }
      try { MultimodalOps.parseAviMjpeg(1L, bytes); Prop.passed }
      catch {
        case _: IllegalArgumentException => Prop.passed // the loud contract
        case e: Throwable =>
          Prop.falsified :| s"idx1 sites $sites: ${e.getClass.getName}: ${e.getMessage}"
      }
    }
}
