package graft.sources

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.etl.Warehouse
import graft.plans.PlanRuleSupport

/** Co-located joins over bucketed layouts must plan without a shuffle. */
class BucketedJoinSpec extends SparkSpec {

  test("join of two tables bucketed on the key runs with zero shuffle exchanges") {
    val w = Warehouse(spark, sfDir)
    Sources.bucketTable(
      w.factSalesElt.select("product_key", "totalamount", "quantity"),
      "fact_bucketed", buckets = 4, key = "product_key", sortBy = Seq("product_key"))
    Sources.bucketTable(
      w.dimProduct.select("product_key", "category"),
      "products_bucketed", buckets = 4, key = "product_key", sortBy = Seq("product_key"))

    val joined = spark.table("fact_bucketed")
      // per-bucket-side hint: disable broadcast so the test exercises the
      // co-located sort-merge path a fact⋈fact join would take at scale
      .join(spark.table("products_bucketed").hint("MERGE"), Seq("product_key"))
      .groupBy("category").agg(sum("totalamount").as("rev"))
    val rows = joined.collect()
    assert(rows.nonEmpty)

    // one line per node of the executed plan, query stages included
    def nodeLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      PlanRuleSupport.physicalNodes(df.queryExecution.executedPlan)
        .map(_.simpleString(Int.MaxValue))
    val plan = joined.queryExecution.executedPlan.toString
    val joinShuffles = PlanRuleSupport.physicalNodes(joined.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    // the only exchange allowed is the final groupBy("category") shuffle
    assert(joinShuffles.size <= 1, plan)
    assert(!nodeLines(joined).exists(_.contains("hashpartitioning(product_key")), plan)
    // the sorted-bucket ordering guarantee (r19): Spark 3+ only propagates
    // a bucketed scan's sort order when the deployment opts in (the
    // planner must list files to prove one-file-per-bucket — that listing
    // is the cost the default avoids). Under the opt-in, the one-file-per-
    // bucket layout `sortBy` forces is exactly what lets the merge join
    // drop its SortExecs — and an unsorted layout proves the detector can
    // see the Sort it looks for (negative control).
    val orderingFlag = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(orderingFlag, "true")
    try {
      def keySorts(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        nodeLines(df).exists(l => l.contains("Sort [") && l.contains("product_key"))
      }
      val sortedJoin = spark.table("fact_bucketed")
        .join(spark.table("products_bucketed").hint("MERGE"),
          Seq("product_key"))
        .groupBy("category").agg(sum("totalamount").as("rev"))
      assert(!keySorts(sortedJoin), sortedJoin.queryExecution.executedPlan.toString)
      Sources.bucketTable(
        w.dimProduct.select("product_key", "category"),
        "products_bucketed_nosort", buckets = 4, key = "product_key")
      val unsortedJoin = spark.table("fact_bucketed")
        .join(spark.table("products_bucketed_nosort").hint("MERGE"),
          Seq("product_key"))
        .groupBy("category").agg(sum("totalamount").as("rev"))
      assert(keySorts(unsortedJoin), unsortedJoin.queryExecution.executedPlan.toString)
    } finally spark.conf.set(orderingFlag, "false")

    spark.sql("DROP TABLE IF EXISTS fact_bucketed")
    spark.sql("DROP TABLE IF EXISTS products_bucketed")
    spark.sql("DROP TABLE IF EXISTS products_bucketed_nosort")
  }

  test("bucketed write keeps session-width parallelism when buckets < width, without fragmenting buckets (ADVICE r18)") {
    import spark.implicits._
    val dir = Scratch.dir("graft_bkt_width_")
    // 4 arbitrary input partitions, 2 buckets: a naive bucketed write emits
    // a file per (partition × bucket) = up to 8; collapsing to exactly 2
    // partitions serializes the write. Key-aligned k·buckets partitioning
    // (k = width/buckets = 2) gives each partition exactly ONE bucket's
    // rows: ≤ 4 files total, ≤ 2 per bucket, written 4-wide.
    val df = (1L to 1000L).toDF("k").repartition(4)
    Sources.bucketTable(df, "bkt_width_t", buckets = 2, key = "k",
      path = Some(s"$dir/t"))
    try {
      val files = new java.io.File(s"$dir/t").listFiles()
        .filter(f => f.getName.startsWith("part-")).toSeq
      assert(files.size <= 4, s"got ${files.map(_.getName)}")
      // bucket id rides the _0000N suffix: no bucket may exceed k files
      val perBucket = files.groupBy(_.getName.split("_")(1).take(5))
      assert(perBucket.values.forall(_.size <= 2), s"got ${files.map(_.getName)}")
      assert(spark.table("bkt_width_t").count() === 1000L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_width_t")
  }
}
