package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.sources.SkippingIndex.Box

/** The manifest layer: soundness (never lose a row), effectiveness (skip
  * files a z-ordered layout makes skippable), and the null/empty edges. */
class SkippingIndexSpec extends SparkSpec {
  import spark.implicits._

  test("prunedRead equals the full-scan filter on a z-ordered layout, and skips files") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 40000).map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .toDF("x", "y")
    val out = Scratch.dir("graft_skip_")
    ZOrder.materializeZordered(df, out, Seq("x", "y"), bits = 6, numFiles = 16)
    val idx = SkippingIndex.build(spark, out, Seq("x", "y")).cache()

    val boxes = Seq(Box("x", 100L, 180L), Box("y", 700L, 800L))
    val pruned = SkippingIndex.prunedRead(spark, out, idx, boxes)
    val full = spark.read.parquet(out)
      .filter(col("x").between(100, 180) && col("y").between(700, 800))
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).count() === 0 && full.exceptAll(pruned).count() === 0)
    assert(full.count() > 0)

    val surviving = SkippingIndex.survivingFiles(idx, boxes)
    assert(surviving.size < 16, s"2-d box pruned nothing: ${surviving.size}/16 files")
  }

  test("a file whose indexed column is all null is kept, not skipped") {
    val out = Scratch.dir("graft_skip_null_")
    Seq((1L, Some(5L)), (2L, Some(6L))).toDF("id", "v").coalesce(1).write.parquet(s"$out/d")
    Seq((3L, None: Option[Long]), (4L, None)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$out/d")
    val idx = SkippingIndex.build(spark, s"$out/d", Seq("v"))
    val files = SkippingIndex.survivingFiles(idx, Seq(Box("v", 100L, 200L)))
    // the data file [5,6] misses the box; the null-stats file must survive
    assert(files.size === 1)
    assert(SkippingIndex.prunedRead(spark, s"$out/d", idx, Seq(Box("v", 100L, 200L))).count() === 0)
  }

  test("no surviving files yields an empty frame with the layout's schema") {
    val out = Scratch.dir("graft_skip_empty_")
    Seq((1L, 5L), (2L, 6L)).toDF("id", "v").write.parquet(s"$out/d")
    val idx = SkippingIndex.build(spark, s"$out/d", Seq("v"))
    val pruned = SkippingIndex.prunedRead(spark, s"$out/d", idx, Seq(Box("v", 100L, 200L)))
    assert(pruned.count() === 0)
    assert(pruned.columns.toSeq === Seq("id", "v"))
  }

  test("refresh restats only new files and drops vanished ones — equal to a full rebuild") {
    val out = Scratch.dir("graft_skip_refresh_")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1).write.parquet(s"$out/d")
    Seq((3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(s"$out/d")
    val idx0 = SkippingIndex.build(spark, s"$out/d", Seq("v")).cache()
    idx0.count()
    // append a third file; vacuum the file holding v=30..40 (found by content)
    Seq((5L, 50L), (6L, 60L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(s"$out/d")
    val dropped = idx0.filter(col("v_min") === 30L).select("file").head().getString(0)
    new org.apache.hadoop.fs.Path(dropped)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(dropped), false)
    val refreshed = SkippingIndex.refresh(spark, s"$out/d", idx0, Seq("v"))
    // the reference rebuild must not see the session's stale listing either
    spark.catalog.refreshByPath(s"$out/d")
    val rebuilt = SkippingIndex.build(spark, s"$out/d", Seq("v"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(norm(refreshed) === norm(rebuilt))
    assert(!refreshed.collect().map(_.getString(0)).contains(dropped))
    assert(norm(refreshed).exists(_._3 == 50L)) // the appended file restatted
  }
}
