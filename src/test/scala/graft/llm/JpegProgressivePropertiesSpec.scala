package graft.llm

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Model-based property of the progressive-JPEG protocol (r17): ANY
  * quantized coefficient content, encoded under structurally different
  * scan scripts — single full-precision passes, the libjpeg-shaped
  * one-level successive approximation, and a TWO-level approximation
  * (Al=2 → 1 → 0, where a coefficient may first appear in the middle
  * refinement) — must decode to the identical image. The encode side is
  * general over content; trials whose run/size symbols fall outside the
  * fixture Huffman table are discarded loudly at encode time (putCode
  * throws), never mis-encoded. This is the gate the hand-picked
  * differential test generalizes: a DC point-transform, EOB-run,
  * ZRL/correction-bit-association, or progression-state bug surfaces as a
  * cross-script feature mismatch or a decoder error. */
object JpegProgressivePropertiesSpec extends Properties("jpegProgressive") {

  // 12 trials per suite run; GRAFT_FUZZ_TRIALS overrides for deep passes,
  // as in JpegFuzzSpec
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("GRAFT_FUZZ_TRIALS").flatMap(_.toIntOption).getOrElse(12))
      .withMaxDiscardRatio(30.0f)

  private case class Trial(hs: Int, vs: Int, mw: Int, mh: Int,
      restart: Int, blocks: Seq[(Int, Seq[(Int, Int)])]) // (dc, [(zz, v)])

  private val trialGen: Gen[Trial] = for {
    (hs, vs) <- Gen.oneOf((1, 1), (2, 2), (2, 1), (1, 2))
    mw <- Gen.chooseNum(1, 2)
    mh <- Gen.chooseNum(1, 2)
    restart <- Gen.oneOf(0, 2)
    nLuma = mw * hs * mh * vs
    nBlocks = nLuma + 2 * (mw * mh)
    blocks <- Gen.listOfN(nBlocks, for {
      dc <- Gen.chooseNum(16, 239)
      nAc <- Gen.chooseNum(0, 2)
      // bias positions toward run-mod-16 <= 3 from band start 6, so a
      // useful share of trials encodes within the fixture table; the rest
      // discard loudly at putCode
      acs <- Gen.listOfN(nAc, for {
        zz <- Gen.oneOf(7, 8, 9, 23, 24, 25, 39, 40, 41, 55, 56, 57, 63)
        v <- Gen.oneOf(-3, -2, -1, 1, 2, 3)
      } yield (zz, v))
    } yield (dc, acs.distinctBy(_._1)))
  } yield Trial(hs, vs, mw, mh, restart, blocks)

  private val singlePass: Seq[(Seq[Int], Int, Int, Int, Int)] = Seq(
    (Seq(0, 1, 2), 0, 0, 0, 0),
    (Seq(0), 1, 5, 0, 0), (Seq(0), 6, 63, 0, 0),
    (Seq(1), 1, 63, 0, 0), (Seq(2), 1, 63, 0, 0))

  private val twoLevel: Seq[(Seq[Int], Int, Int, Int, Int)] = Seq(
    (Seq(0, 1, 2), 0, 0, 0, 2),
    (Seq(0), 1, 5, 0, 2), (Seq(0), 6, 63, 0, 2),
    (Seq(1), 1, 63, 0, 2), (Seq(2), 1, 63, 0, 2),
    (Seq(0, 1, 2), 0, 0, 2, 1),
    (Seq(0), 6, 63, 2, 1), (Seq(0), 1, 5, 2, 1),
    (Seq(1), 1, 63, 2, 1), (Seq(2), 1, 63, 2, 1),
    (Seq(0, 1, 2), 0, 0, 1, 0),
    (Seq(0), 6, 63, 1, 0), (Seq(0), 1, 5, 1, 0),
    (Seq(1), 1, 63, 1, 0), (Seq(2), 1, 63, 1, 0))

  private def store(t: Trial): Array[Array[Int]] = {
    val bw = Array(t.mw * t.hs, t.mw, t.mw)
    val bh = Array(t.mh * t.vs, t.mh, t.mh)
    val cs = Array.tabulate(3)(c => new Array[Int](bw(c) * bh(c) * 64))
    val zig = MultimodalOps.Zigzag
    var bi = 0
    var c = 0
    while (c < 3) {
      var b = 0
      while (b < bw(c) * bh(c)) {
        val (dc, acs) = t.blocks(bi)
        cs(c)(b * 64) = dc - 128
        if (c == 0) acs.foreach { case (zz, v) => cs(c)(b * 64 + zig(zz)) = v }
        b += 1; bi += 1
      }
      c += 1
    }
    cs
  }

  property("any content decodes identically under all three scan scripts") =
    Prop.forAll(trialGen) { t =>
      val w = t.mw * 8 * t.hs; val h = t.mh * 8 * t.vs
      def encode(script: Seq[(Seq[Int], Int, Int, Int, Int)]) =
        try Some(MultimodalOps.jpegEncodeProgressiveCoefs(
          w, h, t.hs, t.vs, store(t), t.restart, script))
        catch {
          case e: IllegalArgumentException
            if e.getMessage.contains("fixture table lacks symbol") => None
        }
      (encode(singlePass), encode(MultimodalOps.DefaultProgressiveScript),
        encode(twoLevel)) match {
        case (Some(a), Some(b), Some(c)) =>
          val fa = MultimodalOps.parseJpegProgressive(1L, a)
          val fb = MultimodalOps.parseJpegProgressive(1L, b)
          val fc = MultimodalOps.parseJpegProgressive(1L, c)
          (fb == fa.copy(n_scans = fb.n_scans)) :| s"default != single: $fb vs $fa" &&
            (fc == fa.copy(n_scans = fc.n_scans)) :| s"two-level != single: $fc vs $fa"
        case _ => Prop.undecided // content outside the fixture table
      }
    }
}
