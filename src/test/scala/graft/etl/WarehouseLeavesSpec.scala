package graft.etl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.SparkSpec
import graft.olap.Molap

/** The cached warehouse frames are shallow leaves: a columnar cache over a
  * local checkpoint, so a dashboard query neither re-plans nor re-prints nor
  * re-ships the ETL lineage that built them — and batch pruning still works,
  * because the cache (with its per-batch min/max stats) sits on top. */
class WarehouseLeavesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val w = Warehouse(spark, sfDir)

  private def lineageDepth(rdd: RDD[_]): Int =
    1 + rdd.dependencies.map(d => lineageDepth(d.rdd)).maxOption.getOrElse(0)

  private def cached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("every cached warehouse frame is a one-node checkpoint leaf under the cache") {
    for ((name, df) <- w.cachedFrames) {
      val analyzed = df.queryExecution.analyzed
      assert(analyzed.isInstanceOf[LogicalRDD], s"$name:\n$analyzed")
      assert(analyzed.collect { case p => p }.size === 1, s"$name:\n$analyzed")
      assert(cached(df), s"$name is not cached")
    }
  }

  test("a KPI card's formatted explain no longer prints the build plan") {
    val kpi = graft.measures.Measures.totalRevenue(w)
    kpi.collect() // AQE prints the final plan beside the initial one
    val explain = kpi.queryExecution.explainString(ExplainMode.fromString("formatted"))
    info(s"formatted explain: ${explain.length} chars")
    assert(explain.length < 10 * 1024, explain.take(4000))
  }

  test("the cached fact's RDD lineage stops at the checkpoint blocks") {
    w.factSalesElt.count()
    val rdd = w.factSalesElt.queryExecution.toRdd
    val depth = lineageDepth(rdd)
    info(s"factSalesElt lineage depth: $depth")
    assert(depth <= 10, rdd.toDebugString)
  }

  test("the year slicer still pushes its date_key range into the in-memory scan") {
    val df = graft.measures.Measures.monthlyRevenueSlicedByYear(w, 1997)
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }
    val pushed = scans.flatMap(_.predicates).map(_.sql)
    // the scan hands these to the cache's per-batch min/max filter
    assert(pushed.exists(p => p.contains("date_key") && p.contains(">= 19970101000000")), pushed)
    assert(pushed.exists(p => p.contains("date_key") && p.contains("<= 19971231235959")), pushed)
  }

  test("releasing a dropped build frees its checkpoint blocks: three builds hold one") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def materialized(wh: Warehouse): Warehouse = {
      wh.cachedFrames.foreach(_._2.count()); wh
    }
    val before = persisted

    val w1 = materialized(Warehouse.build(spark, sfDir))
    val factRows = w1.factSalesElt.count()
    val one = persisted -- before
    // cache buffer + checkpoint per frame
    assert(one.size === 2 * w1.cachedFrames.size, one)
    // dropping only the in-memory caches (what clearCache does per entry)
    // leaves every checkpoint pinned — the reason release() exists
    w1.cachedFrames.foreach(_._2.unpersist())
    assert((persisted -- before).size === w1.cachedFrames.size)
    w1.release()

    val w2 = materialized(Warehouse.build(spark, sfDir))
    w2.release()
    val w3 = materialized(Warehouse.build(spark, sfDir))
    val held = persisted -- before
    assert(held.size === one.size, held)
    assert((held & one).isEmpty, held)
    // the live build is intact: its frames still read
    assert(w3.factSalesElt.count() === factRows)
    // its summary leaves go with it on release
    Seq(Molap.monthCountry _, Molap.monthProduct _, Molap.customerMonth _)
      .foreach(read => read(w3).count())
    assert((persisted -- before).size === one.size + 2 * 3)
    w3.release()
    assert(persisted -- before === Set.empty)
  }
}
