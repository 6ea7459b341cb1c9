package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Compaction: plan invariants on a synthetic catalog, then a real
  * end-to-end rewrite of an intentionally-fragmented parquet table. */
class CompactionSpec extends SparkSpec {

  test("plan: partition-preserving, size-tiered, bins close at ~target") {
    val target = 100L
    val cat = spark.createDataFrame(Seq(
      ("p0", "f0", 40L), ("p0", "f1", 40L), ("p0", "f2", 40L), // bin rolls at 80→120
      ("p0", "f3", 250L),                                      // big: keep as-is
      ("p0", "f4", 99L),
      ("p1", "f0", 10L), ("p1", "f1", 10L)                     // own partition, own bins
    )).toDF("part", "file_id", "bytes")
    val plan = Compaction.planCompaction(cat, target)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getBoolean(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap

    // every file appears exactly once
    assert(plan.size === 7)
    // the >=target file keeps as-is
    assert(plan(("p0", "f3")) === ((false, -1L)))
    // cumulative next-fit within p0's small files (f0..f2,f4 in file_id order):
    // cum_before 0, 40, 80, 120(+f3 skipped) → bins 0,0,0,1
    assert(plan(("p0", "f0"))._2 === 0L)
    assert(plan(("p0", "f1"))._2 === 0L)
    assert(plan(("p0", "f2"))._2 === 0L)
    assert(plan(("p0", "f4"))._2 === 1L)
    // p1 windows independently of p0
    assert(plan(("p1", "f0"))._2 === 0L)
    assert(plan(("p1", "f1"))._2 === 0L)
  }

  test("compactDir: fragmented table → fewer files, identical rows, big files untouched") {
    val dir = Scratch.dir("graft_frag")
    val out = Scratch.dir("graft_compact")
    // 40-way fragmented small table: every file is tiny relative to target
    val df = spark.range(0, 4000)
      .select(col("id"), (col("id") % 97).as("k"), md5(col("id").cast("string")).as("payload"))
    df.repartition(40).write.mode("overwrite").parquet(dir)
    val before = Compaction.listFiles(spark, dir)
    assert(before.count() === 40)

    val target = before.agg(sum("bytes")).head.getLong(0) / 4 // aim for ~4 bins
    val plan = Compaction.compactDir(spark, dir, out, target)

    val after = Compaction.listFiles(spark, out)
    val nBins = plan.filter(col("compact")).select("part", "bin").distinct().count()
    val nKeep = plan.filter(!col("compact")).count()
    assert(after.count() === nBins + nKeep)
    assert(after.count() < before.count())
    // content-identical: same rows (order-free compare on the full projection)
    val a = spark.read.parquet(dir)
    val b = spark.read.parquet(out)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("compactDir: keep-as-is files are byte-copied, not rewritten") {
    val dir = Scratch.dir("graft_mix")
    val out = Scratch.dir("graft_mix_out")
    // one big file + several small ones
    spark.range(0, 20000).select(col("id"), md5(col("id").cast("string")).as("p"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.range(20000, 20400).select(col("id"), md5(col("id").cast("string")).as("p"))
      .repartition(8).write.mode("append").parquet(dir)
    val files = Compaction.listFiles(spark, dir).collect()
    val bigBytes = files.map(_.getLong(2)).max
    val target = bigBytes // the one big file is >= target, all small ones below
    Compaction.compactDir(spark, dir, out, target)
    val outFiles = Compaction.listFiles(spark, out).collect()
    // the big file survives with identical name and size (byte copy)
    val big = files.find(_.getLong(2) === bigBytes).get
    assert(outFiles.exists(r => r.getString(1) == big.getString(1) && r.getLong(2) === bigBytes))
    val a = spark.read.parquet(dir)
    val b = spark.read.parquet(out)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
