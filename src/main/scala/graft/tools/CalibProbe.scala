package graft.tools

import graft.Bench

/** Records the steady value of [[graft.Bench.calibrationFrame]] — the frozen
  * host-throughput calibration workload (r19, VERDICT r18 #1). Run from a
  * CLEAN window (load < 1, zero foreign JVMs) with the bench's own
  * `SPARK_GRAFT_CPUS`: it opens [[graft.Bench.session]] and takes 8 readings
  * with [[graft.Bench.calibrationSample]] — the in-bench protocol, two
  * warm-ups before the first best-of-3 — and prints them with their
  * min/median, the session's master and the runtime stamp
  * (`CalibrationRecordedEnv`). `Bench.CalibrationRecordedSec` is pinned at
  * the LATE-SAMPLE STEADY value those samples converge to — deliberately
  * above the one-off min, so factor 1.0 means "as clean as recording day"
  * rather than an unreachable JIT-floor ideal (the constant's note in
  * Bench.scala records the choice); the factor reads >1 under any contention
  * or slow-hour drift. */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    val samples = (1 to 8).map(i => Bench.calibrationSample(spark, warmUp = i == 1))
    val sorted = samples.sorted
    println(s"session ${spark.sparkContext.master}, runtime ${Bench.calibrationEnvNow(spark)}")
    println(f"samples: ${samples.map(s => f"$s%.3f").mkString(", ")}")
    println(f"min ${sorted.head}%.3f  median ${sorted(samples.size / 2)}%.3f  max ${sorted.last}%.3f")
    spark.stop()
  }
}
