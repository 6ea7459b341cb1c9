package graft.plans

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

class InferYearBoundsSpec extends SparkSpec {

  private def withRule[A](f: => A): A = {
    spark.experimental.extraOptimizations = Seq(InferYearBoundsFromDateKey)
    spark.conf.set(InferYearBoundsFromDateKey.EnabledKey, "true")
    try f finally {
      spark.conf.unset(InferYearBoundsFromDateKey.EnabledKey)
      spark.experimental.extraOptimizations = Nil
    }
  }

  private def writePartitioned(dir: String): Unit = {
    import spark.implicits._
    Seq((19950301120000L, 10.0), (19960415130000L, 20.0),
        (19960701000000L, 25.0), (19970520140000L, 30.0))
      .toDF("date_key", "amount")
      .withColumn("year", graft.yearOfDateKey(col("date_key")))
      .write.mode("overwrite").partitionBy("year").parquet(dir)
  }

  test("date_key range infers year bounds that prune partitions, same result") {
    val dir = Scratch.dir("graft_yearpart")
    writePartitioned(dir)
    def q() = spark.read.parquet(dir)
      .filter(col("date_key").between(19960101000000L, 19961231235959L))
      .agg(sum("amount").as("rev"))
    val expected = q().head.getDouble(0)

    withRule {
      val pruned = q()
      assert(pruned.head.getDouble(0) == expected)
      val scan = PlanRuleSupport.fileScans(pruned.queryExecution.executedPlan).head
      assert(scan.metadata("PartitionFilters").contains("year"),
        scan.metadata("PartitionFilters"))
      assert(scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
        .map(_.values.getInt(0)).toSet == Set(1996))
    }
  }

  test("point lookup on date_key prunes to a single year") {
    val dir = Scratch.dir("graft_yearpart2")
    writePartitioned(dir)
    withRule {
      val pruned = spark.read.parquet(dir).filter(col("date_key") === 19970520140000L)
      assert(pruned.select("amount").collect().map(_.getDouble(0)).toSeq == Seq(30.0))
      val scan = PlanRuleSupport.fileScans(pruned.queryExecution.executedPlan).head
      assert(scan.metadata("PartitionFilters").contains("year"))
    }
  }

  test("rule is a no-op when year is already constrained or absent") {
    import spark.implicits._
    val flat = Seq((19960415130000L, 20.0)).toDF("date_key", "amount")
    withRule {
      // no year column → untouched
      assert(flat.filter(col("date_key") >= 19960101000000L).count() == 1)
      // year already constrained → no second inferred conjunct (idempotence)
      val withYear = flat.withColumn("year", graft.yearOfDateKey(col("date_key")))
      val q = withYear.filter(col("year") === 1996 && col("date_key") >= 19960101000000L)
      val yearPreds = q.queryExecution.optimizedPlan.toString
        .sliding("year".length).count(_ == "year")
      assert(q.count() == 1)
      assert(yearPreds <= 3, q.queryExecution.optimizedPlan.toString) // column def + one predicate, not a growing chain
    }
  }

  test("rule is inert when installed but not enabled via the session flag") {
    val dir = Scratch.dir("graft_yearpart3")
    writePartitioned(dir)
    // installed globally (the GraftExtensions scenario) but NOT opted in:
    // the plan must carry no inferred year partition filter
    spark.experimental.extraOptimizations = Seq(InferYearBoundsFromDateKey)
    try {
      val q = spark.read.parquet(dir)
        .filter(col("date_key").between(19960101000000L, 19961231235959L))
        .agg(sum("amount").as("rev"))
      assert(q.head.getDouble(0) == 45.0)
      val scan = PlanRuleSupport.fileScans(q.queryExecution.executedPlan).head
      assert(!scan.metadata("PartitionFilters").contains("year"),
        scan.metadata("PartitionFilters"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("GraftExtensions registers the rule on a session builder") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; injection verified via extraOptimizations path above
  }
}
