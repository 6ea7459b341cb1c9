package graft

/** The keep/rescue/warn policy of one bench row: a pure function of its
  * rep vector, its expected seconds (`Bench.expectedSec`) and the latest
  * host factor, which `Bench.measureRow` applies to every row. Each
  * line is `expected × ratio × clamp(factor, 1, 2)`: a fast host must not
  * tighten a line below its recorded clean value, and sustained contention
  * may stretch a line but not erase it.
  *  - `grant`: a row EXPECTED sub-450 ms gets 2 more reps (best-of-5), so
  *    a hiccup that slows every initial rep cannot also deny the extras;
  *  - `rescue`: while the best rep reads >1.5× the expectation, buy one
  *    more rep, up to `rescueBudget`;
  *  - `dirtyInflated`: a window a foreign JVM shared reads as inflated
  *    when the best rep is >1.2× the expectation;
  *  - `warn`: a row still >1.5× after rescue is either a real regression or
  *    sustained contention — flagged in the artifact, never silently
  *    trusted.
  */
private[graft] final case class BenchPolicy(expected: Double, hostFactor: Double,
    rescueBudget: Int) {
  private def line(ratio: Double): Double = expected * ratio * BenchPolicy.clamp(hostFactor)
  def grant: Int = if (expected < 0.45) 2 else 0
  def rescue(runs: Seq[Double], rescues: Int): Boolean =
    rescues < rescueBudget && warn(runs)
  def dirtyInflated(runs: Seq[Double]): Boolean = runs.min > line(1.2)
  def warn(runs: Seq[Double]): Boolean = runs.min > line(1.5)
}

private[graft] object BenchPolicy {
  /** Rescue budgets: the build gets 2 fresh builds (one rescue was lost to
    * three consecutive contended builds in r9), a query row 3 reps. */
  val QueryRescues = 3
  val BuildRescues = 2
  /** Idle-waited dirty-window re-runs per pass, shared by every row. */
  val MaxReruns = 15
  def clamp(factor: Double): Double = math.min(2.0, math.max(1.0, factor))
  /** More than 2 rows warning after rescue reads as host contention, not
    * regression: the pass is discarded and the suite runs once more. */
  def discardPass(warns: Int): Boolean = warns > 2
}
