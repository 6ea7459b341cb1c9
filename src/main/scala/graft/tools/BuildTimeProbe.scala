package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev probe: the bench's EXACT `warehouse_build` row in isolation — warm
  * codegen at sf0.001, then N fresh timed builds at the target dir (caches
  * dropped between reps), printing each rep. Used for the r18 A/B of the
  * staging-width/cache-layout change (VERDICT r17 #4). */
object BuildTimeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // untimed micro-SF warm-up, exactly like Bench
    val ww = graft.etl.Warehouse.build(spark, "/root/testdata/sf0.001")
    noop(ww.factSalesElt); noop(ww.dimDate)
    ww.release()
    spark.sharedState.cacheManager.clearCache()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val wh = graft.etl.Warehouse.build(spark, dir)
      noop(wh.factSalesElt); noop(wh.dimDate)
      val s = (System.nanoTime() - t0) / 1e9
      wh.release()
      spark.sharedState.cacheManager.clearCache()
      s
    }
    println("build: " + times.map(t => f"$t%.3f").mkString(" "))
    spark.stop()
  }
}
