package graft.plans

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** The one plan walker every plan-shape gate reads: it must see through
  * the adaptive wrapper and its query stages, where Spark's own traversal
  * stops. */
class PlanRuleSupportSpec extends SparkSpec {
  import spark.implicits._

  private def writeKv(): String = {
    val dir = Scratch.dir("graft_prs_") + "/kv"
    (1L to 200L).map(i => (i % 7, i)).toDF("k", "v").write.parquet(dir)
    dir
  }

  test("fileScans finds the scan under the shuffle stage of an executed adaptive aggregate") {
    val dir = writeKv()
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val df = spark.read.parquet(dir).groupBy("k").agg(sum("v").as("s"))
      assert(df.collect().map(_.getLong(1)).sum === (1L to 200L).sum)
      val plan = df.queryExecution.executedPlan
      val nodes = PlanRuleSupport.physicalNodes(plan)
      assert(nodes.exists(_.isInstanceOf[ShuffleQueryStageExec]), plan.toString)
      val scans = PlanRuleSupport.fileScans(plan)
      assert(scans.size === 1, plan.toString)
      assert(scans.head.relation.location.rootPaths.map(_.toUri.getPath) === Seq(dir))
      // the control: once executed, the scan sits inside a query stage, a
      // leaf to Spark's traversal — unwrapping only the adaptive wrapper
      // finds no scan at all
      val unwrapped = plan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
      assert(unwrapped.collectFirst { case s: FileSourceScanExec => s }.isEmpty,
        unwrapped.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("scanRoots lists the optimized plan's file roots, and requireServedFrom names them") {
    val dir = writeKv()
    val df = spark.read.parquet(dir).filter(col("k") === 3L)
    assert(PlanRuleSupport.scanRoots(df) === Seq(dir))
    assert(PlanRuleSupport.fileScans(df.queryExecution.executedPlan).size === 1)
    assert(PlanRuleSupport.requireServedFrom(df, _.endsWith("/kv"), _.endsWith("/mv")) eq df)
    val missing = intercept[IllegalArgumentException](
      PlanRuleSupport.requireServedFrom(df, _.endsWith("/mv"), _ => false))
    assert(missing.getMessage.contains(dir), missing.getMessage)
    val survived = intercept[IllegalArgumentException](
      PlanRuleSupport.requireServedFrom(df, _.endsWith("/kv"), _.endsWith("/kv")))
    assert(survived.getMessage.contains(dir), survived.getMessage)
  }
}
