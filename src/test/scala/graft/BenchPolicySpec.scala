package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every [[BenchPolicy]] threshold at its boundary: the 0.45 s grant,
  * the 1.5× rescue and warn line, the rescue budgets, the 1.2× dirty line,
  * the [1, 2] host-factor clamp and the more-than-2-warns pass discard. */
class BenchPolicySpec extends AnyFunSuite {
  import BenchPolicy._

  private val e = 0.40
  private def query(factor: Double = 1.0) = BenchPolicy(e, factor, QueryRescues)
  private def over(x: Double) = Math.nextUp(x)

  test("best-of-5 grant goes to rows expected under 0.45 s") {
    assert(BenchPolicy(0.45, 1.0, QueryRescues).grant == 0)
    assert(BenchPolicy(0.449, 1.0, QueryRescues).grant == 2)
    assert(BenchPolicy(4.0, 1.0, BuildRescues).grant == 0)
  }

  test("rescue starts just above 1.5x the expectation, not at it") {
    val line = e * 1.5 * 1.0
    assert(!query().rescue(Seq(1.0, line), 0))
    assert(query().rescue(Seq(1.0, over(line)), 0))
  }

  test("rescue stops at 3 reps for query rows and 2 for the build") {
    val slow = Seq(e * 10)
    assert((0 to 4).map(query().rescue(slow, _)) == Seq(true, true, true, false, false))
    val build = BenchPolicy(4.0, 1.0, BuildRescues)
    assert((0 to 3).map(build.rescue(Seq(60.0), _)) == Seq(true, true, false, false))
  }

  test("a dirty window reads inflated just above 1.2x, not at it") {
    val line = e * 1.2 * 1.0
    assert(!query().dirtyInflated(Seq(line)))
    assert(query().dirtyInflated(Seq(over(line))))
  }

  test("warn fires just above 1.5x after rescue, not at it") {
    val line = e * 1.5 * 1.0
    assert(!query().warn(Seq(line)))
    assert(query().warn(Seq(over(line))))
  }

  test("the host factor is clamped to [1, 2]") {
    assert(clamp(0.8) == 1.0 && clamp(3.0) == 2.0 && clamp(1.3) == 1.3)
    // a fast host (0.8) does not tighten the lines below the recorded value
    assert(!query(0.8).rescue(Seq(e * 1.5), 0))
    assert(!query(0.8).dirtyInflated(Seq(e * 1.2)))
    assert(query(0.8).warn(Seq(over(e * 1.5))))
    // a contended host (3.0) stretches the lines by at most 2
    assert(!query(3.0).warn(Seq(e * 1.5 * 2.0)))
    assert(query(3.0).warn(Seq(over(e * 1.5 * 2.0))))
    assert(query(3.0).rescue(Seq(e * 1.5 * 2.5), 0))
    assert(query(3.0).dirtyInflated(Seq(over(e * 1.2 * 2.0))))
  }

  test("a pass is discarded at 3 warns, not at 2") {
    assert(!discardPass(0) && !discardPass(2))
    assert(discardPass(3))
  }
}
