package graft.llm

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Behaviour pin for the JPEG decoders and fixture writers. Each decoder's
  * outcomes — the feature row's `toString`, or the exception's class and
  * message — over the clean fixture streams for ids 1-64 and 2,000
  * fixed-seed mutations (1-3 bytes each) of one base stream are hashed
  * with SHA-256, and so are the bytes of every fixture encoder. The
  * digests were recorded before the decoders shared one JPEG core, so a
  * refactor that changes a pixel, a feature, a rejection message or an
  * encoded byte fails here. The gray and MJPEG digests were re-recorded
  * once, when the shared baseline SOS began rejecting components listed
  * out of frame order (T.81 B.2.3): 31 gray and 1 MJPEG outcome moved,
  * each to a scan-component rejection. */
class JpegIdentitySpec extends AnyFunSuite {
  import MultimodalOps._

  private val Ids = 1L to 64L
  private val Mutations = 2000

  private def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def outcome(decode: Array[Byte] => Any, bytes: Array[Byte]): String =
    try decode(bytes).toString
    catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }

  /** [[Mutations]] mutants of `base`, 1-3 random (offset, value) sites each. */
  private def mutants(base: Array[Byte], seed: Long): Iterator[Array[Byte]] = {
    val rnd = new java.util.Random(seed)
    Iterator.fill(Mutations) {
      val bytes = base.clone()
      val sites = 1 + rnd.nextInt(3)
      var s = 0
      while (s < sites) {
        bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte
        s += 1
      }
      bytes
    }
  }

  private def digest(decode: Array[Byte] => Any, fixture: Long => Array[Byte],
      base: Array[Byte], seed: Long): String = {
    val streams = Ids.iterator.map(fixture) ++ mutants(base, seed)
    sha256(streams.map(b => outcome(decode, b).getBytes("UTF-8")))
  }

  // the per-id streams of the five fixture corpora, built without Spark
  private def grayStream(id: Long): Array[Byte] = {
    val w = (8 * (1 + id % 4)).toInt
    val h = (8 * (1 + id % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val dc = Array.tabulate(nb)(b => (2 + (id * 7 + b * 13) % 252).toInt)
    val k = Array.tabulate(nb)(b => ((id + b) % 5 - 2).toInt)
    jpegEncode(w, h, dc, k, restartInterval = if (id % 7 == 0) 2 else 0)
  }

  private def colorPlan(id: Long, nm: Int) = (
    Array.tabulate(nm)(m => (80 + (id * 7 + m * 13) % 97).toInt),
    Array.tabulate(nm)(m => (118 + (id + 3 * m) % 21).toInt),
    Array.tabulate(nm)(m => (118 + (id * 5 + 11 * m) % 21).toInt))

  private def colorStream(id: Long): Array[Byte] = {
    val sub420 = id % 2 == 0
    val mcu = if (sub420) 16 else 8
    val w = (mcu * (1 + id % 3)).toInt
    val h = (mcu * (1 + id % 2)).toInt
    val (y, cb, cr) = colorPlan(id, (w / mcu) * (h / mcu))
    jpegEncodeColor(w, h, sub420, y, cb, cr,
      restartInterval = if (id % 7 == 0) 2 else 0)
  }

  private def cmykStream(id: Long): Array[Byte] = {
    val ycck = id % 2 == 1
    val sub420 = ycck && id % 4 == 1
    val mcu = if (sub420) 16 else 8
    val w = (mcu * (1 + id % 3)).toInt
    val h = (mcu * (1 + id % 2)).toInt
    val nm = (w / mcu) * (h / mcu)
    val (a, b, c) = colorPlan(id, nm)
    val k = Array.tabulate(nm)(m => (60 + (id * 11 + 17 * m) % 131).toInt)
    jpegEncodeCmyk(w, h, ycck, sub420, a, b, c, k,
      restartInterval = if (id % 7 == 0) 2 else 0)
  }

  private def progressiveStream(id: Long): Array[Byte] = {
    val sub420 = id % 2 == 0
    val mcu = if (sub420) 16 else 8
    val w = (mcu * (1 + id % 3)).toInt
    val h = (mcu * (1 + id % 2)).toInt
    val nm = (w / mcu) * (h / mcu)
    val (y, cb, cr) = colorPlan(id, nm)
    val acY = Array.tabulate(nm)(m => ((id + 7 * m) % 11 - 5).toInt)
    jpegEncodeProgressive(w, h, sub420, y, cb, cr, acY,
      restartInterval = if (id % 7 == 0) 2 else 0)
  }

  private def aviStream(id: Long): Array[Byte] = {
    val sub420 = id % 2 == 0
    val mcu = if (sub420) 16 else 8
    val w = (mcu * (1 + id % 3)).toInt
    val h = (mcu * (1 + id % 2)).toInt
    val nm = (w / mcu) * (h / mcu)
    val sl = (2 + id % 3).toInt
    val (rate, scale) = if (id % 5 == 0) (30000, 1001) else (25, 1)
    val frames = Array.tabulate((2 + id % 5).toInt) { f =>
      val s = f / sl
      jpegEncodeColor(w, h, sub420,
        Array.fill(nm)((80 + (id * 7 + s * 13) % 97).toInt),
        Array.fill(nm)((118 + (id + 3 * s) % 21).toInt),
        Array.fill(nm)((118 + (id * 5 + 11 * s) % 21).toInt))
    }
    aviMjpegEncode(w, h, rate, scale, frames, junk = id % 7 == 0,
      withIndex = id % 3 == 0)
  }

  // mutation bases: restart intervals on, so the restart path is mutated too
  private val grayBase = jpegEncode(24, 16, Array(10, 60, 110, 160, 210, 250),
    Array(-2, -1, 0, 1, 2, 3), restartInterval = 2)
  private val colorBase = jpegEncodeColor(32, 16, sub420 = true,
    Array(90, 170), Array(125, 119), Array(133, 137), restartInterval = 1)
  private val cmykBase = jpegEncodeCmyk(32, 16, ycck = true, sub420 = true,
    Array(90, 170), Array(125, 119), Array(133, 137), Array(100, 140),
    restartInterval = 1)
  private val progressiveBase = jpegEncodeProgressive(32, 16, sub420 = true,
    Array(100, 150), Array(125, 121), Array(130, 136), Array(3, -1),
    restartInterval = 1)
  private val aviBase = aviMjpegEncode(16, 16, 25, 1,
    Array.tabulate(2)(f => jpegEncodeColor(16, 16, sub420 = true,
      Array(80 + 40 * f), Array(125), Array(130))),
    junk = true, withIndex = true)

  test("parseJpeg outcomes are pinned") {
    assert(digest(parseJpeg(1L, _), grayStream, grayBase, 11L) ==
      "73b79f12260ef21891e144d650b3ee3547e0e3f2de7a917273cf42547fbbc79b")
  }

  test("parseJpegColor outcomes are pinned") {
    assert(digest(parseJpegColor(1L, _), colorStream, colorBase, 12L) ==
      "88a0a00f35c6697dd56aa366c2f20c1cccd496b648a5d1d09b20d4548bacb2d7")
  }

  test("parseJpegCmyk outcomes are pinned") {
    assert(digest(parseJpegCmyk(1L, _), cmykStream, cmykBase, 13L) ==
      "09f9d1614b2a6b280f8a89e7e3e3f18e91fa90bd36bd65ae32fcdb04e2109dfb")
  }

  test("parseJpegProgressive outcomes are pinned") {
    assert(digest(parseJpegProgressive(1L, _), progressiveStream,
      progressiveBase, 14L) ==
      "312cf5cdb4d3824f7414f1db7eedd70c7d64776c690d940fdf2d46d3cef289b2")
  }

  test("parseAviMjpeg outcomes are pinned") {
    assert(digest(parseAviMjpeg(1L, _), aviStream, aviBase, 15L) ==
      "025afa91644d8fa6e04885578de56db38e7545857e45c6808cde71eaebde394a")
  }

  test("fixture encoder bytes are pinned") {
    val samplings = Seq((1, 1), (2, 2), (2, 1), (1, 2))
    val streams = Seq.newBuilder[Array[Byte]]
    for (ri <- Seq(0, 1, 2)) {
      streams += jpegEncode(24, 16, Array.tabulate(6)(b => 20 + 37 * b),
        Array(-3, 0, 1, 700, 0, -1023), restartInterval = ri)
      streams += jpegEncode(16, 8, Array(255, 0), Array(-1, 1),
        restartInterval = ri, acNext = Array(1, -1))
      for ((hs, vs) <- samplings) {
        val nm = 2 * 2
        val w = 2 * 8 * hs; val h = 2 * 8 * vs
        streams += jpegEncodeColorSampled(w, h, hs, vs,
          Array.tabulate(nm)(m => 80 + 29 * m), Array.tabulate(nm)(m => 118 + 5 * m),
          Array.tabulate(nm)(m => 138 - 3 * m), restartInterval = ri)
        streams += jpegEncodeProgressiveSampled(w, h, hs, vs,
          Array.tabulate(nm)(m => 80 + 29 * m), Array.tabulate(nm)(m => 118 + 5 * m),
          Array.tabulate(nm)(m => 138 - 3 * m), Array.tabulate(nm)(m => 2 * m - 3),
          restartInterval = ri)
      }
      for (adobe <- Seq(true, false); ycck <- Seq(true, false);
           sub420 <- Seq(true, false) if ycck || !sub420) {
        val mcu = if (sub420) 16 else 8
        val nm = 3 * 2
        streams += jpegEncodeCmyk(3 * mcu, 2 * mcu, ycck, sub420,
          Array.tabulate(nm)(m => 90 + 11 * m), Array.tabulate(nm)(m => 120 + 3 * m),
          Array.tabulate(nm)(m => 136 - 2 * m), Array.tabulate(nm)(m => 60 + 21 * m),
          restartInterval = ri, adobe = adobe)
      }
    }
    assert(sha256(streams.result().iterator) ==
      "f2bd80cd12bb7d8868a05510738d4b6677c4120e6c97b9bcbaa55477e5fa5006")
  }
}
