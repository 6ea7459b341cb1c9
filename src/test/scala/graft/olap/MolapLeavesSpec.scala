package graft.olap

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.SparkSpec
import graft.etl.Warehouse

/** The three MOLAP summary tables are shallow leaves of their warehouse:
  * built once on the first read, then served from the cached cube — never
  * re-aggregated from the fact — with a fresh Dataset per read. */
class MolapLeavesSpec extends SparkSpec {

  private lazy val w = Warehouse(spark, sfDir)

  private val tables: Seq[(String, Warehouse => DataFrame, Warehouse => DataFrame)] = Seq(
    ("molap_month_country", Molap.monthCountry, Molap.monthCountryPlan),
    ("molap_month_product", Molap.monthProduct, Molap.monthProductPlan),
    ("molap_customer_month", Molap.customerMonth, Molap.customerMonthPlan))

  private def cacheEntries(df: DataFrame): Seq[InMemoryRelation] =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a summary read plans no aggregate and scans the cached cube") {
    for ((name, read, _) <- tables) {
      val df = read(w)
      val analyzed = df.queryExecution.analyzed
      assert(analyzed.collect { case a: Aggregate => a }.isEmpty, s"$name:\n$analyzed")
      assert(cacheEntries(df).size === 1, s"$name:\n${df.queryExecution.withCachedData}")
    }
  }

  test("two reads get their own query executions over one cache entry") {
    for ((name, read, _) <- tables) {
      val (a, b) = (read(w), read(w))
      assert(!(a.queryExecution eq b.queryExecution), name)
      val Seq(ra) = cacheEntries(a)
      val Seq(rb) = cacheEntries(b)
      assert(ra.cacheBuilder eq rb.cacheBuilder, name)
    }
  }

  test("concurrent first reads on a fresh build persist exactly one leaf") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    val fresh = Warehouse.build(spark, sfDir)
    try {
      fresh.cachedFrames.foreach(_._2.count())
      val built = persisted
      val barrier = new CyclicBarrier(2)
      val rows = new ConcurrentLinkedQueue[Seq[String]]()
      val threads = (1 to 2).map { _ =>
        val t = new Thread(() => {
          barrier.await()
          rows.add(sortedRows(Molap.monthCountry(fresh)))
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val Seq(r1, r2) = rows.asScala.toSeq
      assert(r1 === r2 && r1.nonEmpty)
      // one checkpoint and one cache buffer
      val leaf = persisted -- built
      assert(leaf.size === 2, leaf)
    } finally fresh.release()
    assert(persisted -- before === Set.empty)
  }

  test("each summary table holds exactly the rows of its aggregate") {
    for ((name, read, plan) <- tables) {
      val served = sortedRows(read(w))
      assert(served.nonEmpty, name)
      assert(served === sortedRows(plan(w)), name)
    }
  }

  test("the MOLAP-vs-OLAP consistency check still reports no difference") {
    val diffs = Molap.verify(w).select("diff").collect().map(_.getDouble(0))
    assert(diffs.nonEmpty)
    assert(diffs.forall(_ == 0.0), diffs.toSeq)
  }
}
