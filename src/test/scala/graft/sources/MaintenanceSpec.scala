package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** The maintenance policy loop's trigger logic. The full standing-pipeline
  * composition (fragment → cluster → prune) is the `sink_maintain_policy`
  * gate row; here the individual thresholds are pinned. */
class MaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String = {
    val root = Scratch.dir("graft_maintspec_") + "/t"
    val df = (0L until 2000L).map(i => (i, i % 7, s"p$i")).toDF("k", "grp", "payload")
    VersionedTable.create(spark, root, df.repartition(1))
    root
  }

  test("compact triggers on excess small fragments and is quiet when within bound") {
    val root = freshTable()
    val more = (2000L until 4000L).map(i => (i, i % 7, s"p$i")).toDF("k", "grp", "payload")
    VersionedTable.appendBatch(spark, root, 1L, more.repartition(6))
    val dec = Maintenance.maintain(spark, root,
      Maintenance.Policy(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30,
        maxSmallFiles = 3))
    val row = dec.filter(col("op") === "compact").head()
    assert(row.getAs[Boolean]("triggered"))
    assert(row.getAs[Long]("n_after") < row.getAs[Long]("n_before"))
    // quiet immediately after: one file left, zero excess fragments
    val dec2 = Maintenance.maintain(spark, root,
      Maintenance.Policy(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30,
        maxSmallFiles = 3))
    assert(!dec2.filter(col("op") === "compact").head().getAs[Boolean]("triggered"))
    // rows survive the pass intact
    assert(VersionedTable.read(spark, root).count() == 4000L)
  }

  test("cluster trigger measures interleave depth from stats and records skip reasons") {
    val root = freshTable()
    // 4 overlapping full-range fragments → depth 4 on k
    val more = (0L until 2000L).map(i => (i + 10000L, i % 7, s"q$i")).toDF("k", "grp", "payload")
    VersionedTable.appendBatch(spark, root, 1L, more.repartition(4))
    // no stats yet → recorded skip, no throw
    val noStats = Maintenance.maintain(spark, root,
      Maintenance.Policy(clusterCols = Seq("k"), maxSmallFiles = 99))
    val skip = noStats.filter(col("op") === "cluster").head()
    assert(!skip.getAs[Boolean]("triggered") &&
      skip.getAs[String]("reason").contains("no published stats"))
    VersionedStats.enable(spark, root, Seq("k"))
    val dec = Maintenance.maintain(spark, root,
      Maintenance.Policy(clusterCols = Seq("k"), clusterMaxDepth = 2,
        clusterFiles = 4, maxSmallFiles = 0))
    val row = dec.filter(col("op") === "cluster").head()
    assert(row.getAs[Boolean]("triggered"), row.getAs[String]("reason"))
    assert(row.getAs[Long]("n_after") <= 2,
      s"clustered layout must have narrow ranges (depth ${row.getAs[Long]("n_after")})")
    // cluster just rewrote the layout: the compact census must NOT re-bin
    // the fresh range-files in the same pass (maxSmallFiles=0 would
    // otherwise guarantee it fires), destroying the locality just paid for
    val comp = dec.filter(col("op") === "compact").head()
    assert(!comp.getAs[Boolean]("triggered") &&
      comp.getAs[String]("reason").contains("cluster rewrote"),
      comp.getAs[String]("reason"))
    // the re-measure is quiet now
    val dec2 = Maintenance.maintain(spark, root,
      Maintenance.Policy(clusterCols = Seq("k"), clusterMaxDepth = 2,
        clusterFiles = 4, maxSmallFiles = 99))
    assert(!dec2.filter(col("op") === "cluster").head().getAs[Boolean]("triggered"))
    assert(VersionedTable.read(spark, root).count() == 4000L)
  }

  test("vacuum honors keepVersions; stats row reports not-enabled") {
    val root = freshTable()
    (1 to 3).foreach(b => VersionedTable.appendBatch(spark, root, b.toLong,
      Seq((90000L + b, 0L, "x")).toDF("k", "grp", "payload")))
    val dec = Maintenance.maintain(spark, root,
      Maintenance.Policy(maxSmallFiles = 99, keepVersions = Some(2)))
    assert(dec.filter(col("op") === "vacuum").head().getAs[Boolean]("triggered"))
    val retained = new java.io.File(root).listFiles()
      .count(f => f.getName.matches("v\\d{5}"))
    assert(retained == 2)
    assert(dec.filter(col("op") === "refresh_stats").head()
      .getAs[String]("reason").contains("not enabled"))
  }
}
