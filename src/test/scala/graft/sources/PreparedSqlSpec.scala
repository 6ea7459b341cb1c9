package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** The prepared-statement surface: one planning, many serves, and the
  * versioned-table head check that forbids serving a stale snapshot. */
class PreparedSqlSpec extends SparkSpec {
  import spark.implicits._

  test("a handle over session views serves repeatedly from one pinned plan") {
    (1L to 100L).map(i => (i, i % 7)).toDF("id", "g")
      .createOrReplaceTempView("prep_base")
    val h = PreparedSql.prepare(spark,
      "SELECT g, count(1) AS n, sum(id) AS s FROM prep_base GROUP BY g")
    val p1 = h.executedPlan
    val r1 = h.run().as[(Long, Long, Long)].collect().toSet
    assert(r1.size === 7 && r1.toSeq.map(_._2).sum === 100L)
    // the SAME physical plan instance serves the second request — no
    // re-planning happened
    assert(h.executedPlan eq p1)
    assert(h.run().as[(Long, Long, Long)].collect().toSet === r1)
  }

  test("a handle over a versioned table rebuilds when the head moves, never serves stale") {
    val root = Scratch.dir("graft_prep_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 50L).map(i => (i, i * 10L)).toDF("id", "qty"))
    val h = PreparedSql.prepare(spark,
      "SELECT CAST(sum(qty) AS BIGINT) AS total FROM t", Map("t" -> root))
    val p1 = h.executedPlan
    assert(h.run().as[Long].head() === (1L to 50L).map(_ * 10L).sum)
    // same head → same pinned plan
    assert(h.executedPlan eq p1)
    // a commit moves the head: the handle must re-plan and serve v2
    VersionedTable.updateWhere(spark, root, col("id") === 1L,
      Map("qty" -> lit(1000000L)))
    assert(h.run().as[Long].head() ===
      (2L to 50L).map(_ * 10L).sum + 1000000L)
    assert(!(h.executedPlan eq p1))
  }

  test("a re-serve runs only the result stage, over the first run's shuffle output") {
    val sc = spark.sparkContext
    // (jobs, stages, tasks) per job group
    val counts = new ConcurrentHashMap[String, (Int, Int, Int)]()
    val stageGroup = new ConcurrentHashMap[Int, String]()
    def bump(g: String, j: Int, s: Int, t: Int): Unit =
      counts.merge(g, (j, s, t), (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g => e.stageIds.foreach(stageGroup.put(_, g)); bump(g, 1, 0, 0) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(stageGroup.get(e.stageInfo.stageId)).foreach(bump(_, 0, 1, 0))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageGroup.get(e.stageId)).foreach(bump(_, 0, 0, 1))
    }
    SqlSurface.register(spark, sfDir)
    val h = PreparedSql.prepare(spark, SqlSurface.olapSqlTextOf("sql_olap_q1"))
    sc.addSparkListener(listener)
    val served = try (1 to 3).map { i =>
      sc.setJobGroup(s"prepared-serve-$i", "prepared re-serve")
      try h.run().collect().map(_.toString).sorted.toSeq finally sc.clearJobGroup()
    } finally {
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val Seq(first, second, third) = (1 to 3).map(i => counts.get(s"prepared-serve-$i"))
    info(s"(jobs, stages, tasks): first run $first, later runs $second, $third")
    assert(served.forall(_ == served.head) && served.head.nonEmpty)
    // the first run executes the scans, the shuffles and the broadcasts ...
    assert(first._1 > 1 && first._2 > 1)
    // ... every later one only the pinned final plan's result stage
    assert(second === (1, 1, second._3) && third === second)
    assert(second._3 <= first._3)
  }
}
