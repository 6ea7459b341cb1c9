package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.etl.Warehouse

/** The reference's LIST/HASH partitioning demo (reference
  * `Iteration 3/Group No.6_Indexing_Partitioning.sql:358-413`, marked "not
  * part of the project" at `:330`) mapped to Spark's native layouts:
  *
  *  - PG `PARTITION BY LIST (channel)`  → Hive-style directory partitioning
  *    on the categorical column (`partitionBy`): an equality predicate scans
  *    exactly the matching directory — this spec.
  *  - PG `PARTITION BY HASH (customer_key) ... MODULUS 4` →
  *    [[Sources.bucketTable]] (BucketedJoinSpec proves the shuffle-free
  *    co-located join that layout exists to buy).
  *  - PG `PARTITION BY RANGE (year)` → the year-partitioned fact write
  *    (PlanQualitySpec, bench rows `partition_pruned_*`).
  */
class ListPartitionSpec extends SparkSpec {

  test("LIST layout: country-partitioned write prunes to one directory on equality") {
    val w = Warehouse(spark, sfDir)
    val out = Scratch.dir("graft_list_part")
    val withCountry = w.factSalesElt
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .withColumn("country", coalesce(col("country"), lit("UNKNOWN")))
    Sources.materialize(withCountry, s"$out/fact_by_country", partitionBy = Seq("country"))

    // pick a country that exists in this dataset rather than hardcoding one
    val target = withCountry.filter(col("country").isNotNull)
      .select("country").orderBy("country").head().getString(0)
    val pruned = spark.read.parquet(s"$out/fact_by_country").filter(col("country") === target)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(country"), plan)

    // the scan's file listing under the partition filter touches ONLY the
    // target directory — the PG "only the Online partition is scanned" check
    val scan = graft.plans.PlanRuleSupport.fileScans(pruned.queryExecution.executedPlan).head
    val files = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"country=$target")), files.take(3).mkString(", "))

    // and the pruned read agrees with the unpartitioned filter
    val expected = withCountry.filter(col("country") === target).count()
    assert(pruned.count() === expected)
  }
}
