package graft.tools

/** Second-JVM half of `ScratchSpec`'s lifetime test: writes a parquet file
  * into a scratch directory from a live local session, prints that
  * directory's path as `SCRATCH_DIR=<path>`, and returns from `main`
  * without stopping the session or deleting anything. Spark's shutdown
  * hook then stops the context and the scratch hook deletes the root; the
  * launching spec asserts the root is gone once this process has exited. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val spark = ChildJvm.session("graft-scratch-child")
    val dir = graft.Scratch.dir("graft_child_")
    spark.range(10).write.parquet(s"$dir/t")
    require(spark.read.parquet(s"$dir/t").count() == 10L)
    println(s"SCRATCH_DIR=$dir")
  }
}
