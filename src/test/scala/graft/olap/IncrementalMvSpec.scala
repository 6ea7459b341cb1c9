package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.olap.IncrementalMv.MeasureSpec

/** Contract tests for CDC-driven summary maintenance: the maintained
  * summary must equal a full recompute after every change-class mix, the
  * base thunk must stay un-evaluated unless a delete ties a cell extreme,
  * and the delete-of-extreme re-scan must touch ONLY the affected cell. */
class IncrementalMvSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val specs = Seq(MeasureSpec("v", "v_sum", "v_cnt",
    min = Some("v_min"), max = Some("v_max")))
  private val sumOnly = Seq(MeasureSpec("v", "v_sum", "v_cnt"))

  private def summarize(df: DataFrame): DataFrame =
    df.groupBy("k").agg(sum("v").as("v_sum"), count(col("v")).as("v_cnt"),
      min("v").as("v_min"), max("v").as("v_max"), count(lit(1)).as("n_rows"))

  private def feed(rows: (String, String, java.lang.Long)*): DataFrame =
    rows.toSeq.toDF("k", "change_type", "v")

  private def poisoned: () => DataFrame =
    () => throw new IllegalStateException("refresh read the base")

  private def sorted(df: DataFrame) =
    df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

  private def asRows(df: DataFrame) =
    df.select(col("k"), col("v_sum").cast("long"), col("v_cnt"),
      col("v_min").cast("long"), col("v_max").cast("long"), col("n_rows"))

  test("insert/update/delete inside a cell's range merges with no base read") {
    val base = Seq(("a", 10L), ("a", 15L), ("a", 20L), ("a", 25L), ("a", 30L),
      ("b", 5L)).toDF("k", "v")
    val s0 = summarize(base)
    // every removed image (delete 15, update pre 20) is STRICTLY inside
    // [10,30]; the insert 40 raises the max purely algebraically
    val f = feed(("a", "delete", 15L),
      ("a", "update_preimage", 20L), ("a", "update_postimage", 22L),
      ("a", "insert", 40L))
    val (s1, dec) = IncrementalMv.applyChanges(s0, f, keys, "n_rows", specs, poisoned)
    assert(sorted(asRows(s1)) ===
      sorted(asRows(summarize(Seq(("a", 10L), ("a", 22L), ("a", 25L), ("a", 30L),
        ("a", 40L), ("b", 5L)).toDF("k", "v")))))
    val d = dec.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(d === Map("a" -> "merge")) // b untouched, absent from decisions
  }

  test("an update whose pre-image ties the extreme re-scans conservatively") {
    val base = Seq(("a", 10L), ("a", 20L), ("a", 30L)).toDF("k", "v")
    // pre-image 30 IS the stored max: even though the post-image 25 plus
    // the surviving rows determine the answer, the algebra can't know the
    // removed 30 wasn't duplicated — conservative re-scan is the contract
    val f = feed(("a", "update_preimage", 30L), ("a", "update_postimage", 25L))
    val after = Seq(("a", 10L), ("a", 20L), ("a", 25L)).toDF("k", "v")
    val (s1, dec) = IncrementalMv.applyChanges(summarize(base), f, keys, "n_rows",
      specs, () => after)
    assert(dec.collect().head.getAs[String]("action") === "rescan")
    assert(sorted(asRows(s1)) === sorted(asRows(summarize(after))))
  }

  test("update raising the cell max merges; min/max track inserted images") {
    val base = Seq(("a", 10L), ("a", 20L)).toDF("k", "v")
    val f = feed(("a", "update_preimage", 20L), ("a", "update_postimage", 50L))
    // the pre-image 20 TIES the stored max → conservative re-scan fires;
    // an update of the non-extreme row stays algebraic:
    val f2 = feed(("a", "update_preimage", 10L), ("a", "update_postimage", 5L))
    val (s2, dec2) = IncrementalMv.applyChanges(summarize(base), f2, keys, "n_rows",
      Seq(MeasureSpec("v", "v_sum", "v_cnt", max = Some("v_max"))), poisoned)
    assert(dec2.collect().head.getAs[String]("action") === "merge")
    assert(s2.select("v_sum", "v_max", "n_rows").collect().head.toSeq ===
      Seq(25L, 20L, 2L))
    // with the min partial registered too, the 10-removal ties the min →
    // that variant re-scans (covered in the dedicated test below); here
    // the max-only registration proves partial-set granularity matters
    val (s1, dec1) = IncrementalMv.applyChanges(summarize(base), f, keys, "n_rows",
      sumOnly, poisoned)
    assert(dec1.collect().head.getAs[String]("action") === "merge")
    assert(s1.select("v_sum").as[Long].head() === 60L) // 30 - 20 + 50
  }

  test("delete-of-min re-scans exactly the affected cell") {
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("b", 7L)).toDF("k", "v")
    val s0 = summarize(base)
    val f = feed(("a", "delete", 10L)) // cell a's min dies
    var baseReads = 0
    val after = Seq(("a", 20L), ("b", 5L), ("b", 7L)).toDF("k", "v")
    val (s1, dec) = IncrementalMv.applyChanges(s0, f, keys, "n_rows", specs,
      () => { baseReads += 1; after })
    assert(sorted(asRows(s1)) === sorted(asRows(summarize(after))))
    assert(baseReads === 1)
    val d = dec.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(d === Map("a" -> "rescan")) // b never appears
  }

  test("a cell emptied by deletes is dropped, not re-scanned") {
    val base = Seq(("a", 10L), ("b", 5L)).toDF("k", "v")
    val f = feed(("a", "delete", 10L))
    val (s1, dec) = IncrementalMv.applyChanges(summarize(base), f, keys, "n_rows",
      specs, poisoned) // the delete ties a's min AND max, but the cell dies
    assert(s1.select("k").as[String].collect().toSeq === Seq("b"))
    assert(dec.collect().head.getAs[String]("action") === "drop")
  }

  test("a brand-new cell arrives as insert with correct partials") {
    val base = Seq(("a", 10L)).toDF("k", "v")
    val f = feed(("c", "insert", 3L), ("c", "insert", 9L))
    val (s1, dec) = IncrementalMv.applyChanges(summarize(base), f, keys, "n_rows",
      specs, poisoned)
    assert(sorted(asRows(s1)) ===
      sorted(asRows(summarize(Seq(("a", 10L), ("c", 3L), ("c", 9L)).toDF("k", "v")))))
    assert(dec.collect().head.getAs[String]("action") === "insert")
  }

  test("maintainFromVersioned: span catch-up, no-op when current, crashed publish rolls forward") {
    val base = Scratch.dir("graft_imvm_")
    val root = s"$base/t"
    val t0 = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "b", 7L))
      .toDF("id", "k", "v")
    graft.sources.VersionedTable.create(spark, root, t0)
    IncrementalMv.initSummaryAt(spark, s"$base/s",
      summarize(t0.select("k", "v")), 1)
    def maintain() = IncrementalMv.maintainFromVersioned(spark, root, s"$base/s",
      Seq("id"), keys, "n_rows", sumOnly,
      _ => throw new IllegalStateException("read the base"))
    // two commits land before the first catch-up: ONE span applies both
    graft.sources.VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    graft.sources.VersionedTable.mergeInto(spark, root,
      Seq((3L, "b", 50L), (5L, "c", 8L)).toDF("id", "k", "v"), Seq("id"))
    val r1 = maintain()
    assert(r1.map(_._1) === Some(3))
    def snap(): Seq[(String, Long, Long)] =
      spark.read.parquet(s"$base/s").orderBy("k")
        .select(col("k"), col("v_sum").cast("long"), col("n_rows"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want3 = Seq(("a", 20L, 1L), ("b", 57L, 2L), ("c", 8L, 1L))
    assert(snap() === want3)
    // current → strict no-op
    assert(maintain().isEmpty)
    // crash between the delete and the rename: only the staged dir exists —
    // the next call rolls it forward and continues from ITS marker
    val (fs, _) = graft.sources.MetaFile.fsOf(spark, s"$base/s")
    fs.rename(new org.apache.hadoop.fs.Path(s"$base/s"),
      new org.apache.hadoop.fs.Path(s"$base/s.tmp"))
    assert(maintain().isEmpty) // rolled forward, still current
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/s")))
    assert(snap() === want3)
    // and maintenance keeps working after the recovery
    graft.sources.VersionedTable.deleteWhere(spark, root, col("id") === 5L)
    assert(maintain().map(_._1) === Some(4))
    assert(snap() === Seq(("a", 20L, 1L), ("b", 57L, 2L)))
    // a summary without a marker fails loudly, not silently from v1
    spark.read.parquet(s"$base/s").write.parquet(s"$base/unmarked")
    intercept[IllegalStateException] {
      IncrementalMv.maintainFromVersioned(spark, root, s"$base/unmarked",
        Seq("id"), keys, "n_rows", sumOnly, _ => t0)
    }
  }

  test("autoServe catches a lagging summary up BEFORE registering it (ADVICE r14)") {
    val base = Scratch.dir("graft_imvas_")
    val root = s"$base/t"
    val t0 = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)).toDF("id", "k", "v")
    graft.sources.VersionedTable.create(spark, root, t0)
    IncrementalMv.initSummaryAt(spark, s"$base/s",
      summarize(t0.select("k", "v")), 1)
    // a commit lands while NOTHING is auto-serving: the summary lags the head
    graft.sources.VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    assert(IncrementalMv.appliedVersion(spark, s"$base/s").contains(1))
    // autoServe must maintain FIRST — registering the v1 summary for the v2
    // head would silently serve a value that includes the deleted row
    var registeredAt = -1
    IncrementalMv.autoServe(spark, root, s"$base/s",
      rowKeys = Seq("id"), mvKeys = keys, rowCount = "n_rows",
      measures = sumOnly, rescanBase = _ => fail("read the base")) {
      (_, v) => registeredAt = v
    }
    try {
      assert(IncrementalMv.appliedVersion(spark, s"$base/s").contains(2),
        "the summary must be caught up before the registration")
      assert(registeredAt == 2)
      val got = spark.read.parquet(s"$base/s").orderBy("k")
        .select(col("k"), col("v_sum").cast("long"), col("n_rows"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === Seq(("a", 20L, 1L), ("b", 5L, 1L)))
    } finally IncrementalMv.stopAutoServe(root)
  }

  test("concurrent maintainFromVersioned calls serialize per summary path (ADVICE r14)") {
    val base = Scratch.dir("graft_imvcc_")
    val root = s"$base/t"
    val t0 = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 10L))
      .toDF("id", "k", "v")
    graft.sources.VersionedTable.create(spark, root, t0)
    IncrementalMv.initSummaryAt(spark, s"$base/s",
      summarize(t0.select("k", "v")), 1)
    graft.sources.VersionedTable.deleteWhere(spark, root, col("id") % 5 === 0)
    // the autoServe listener and the maintainer stream are two independent
    // drivers a caller may compose over one summary: racing them against
    // the shared .tmp staging path corrupted the publish before the lock
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val results = (1 to 6).map(_ => pool.submit(
        new java.util.concurrent.Callable[Option[(Int, DataFrame)]] {
          override def call() = IncrementalMv.maintainFromVersioned(spark, root,
            s"$base/s", Seq("id"), keys, "n_rows", sumOnly,
            _ => throw new IllegalStateException("read the base"))
        })).map(_.get())
      assert(results.count(_.isDefined) == 1,
        "exactly one concurrent caller applies the span; the rest no-op")
    } finally pool.shutdown()
    val got = spark.read.parquet(s"$base/s").orderBy("k")
      .select(col("k"), col("v_sum").cast("long"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val survivors = t0.filter(col("id") % 5 =!= 0)
    val want = survivors.groupBy("k").agg(sum("v").cast("long").as("s"),
        count(lit(1)).as("n")).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("sum/count-only registration never evaluates the base thunk") {
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v")
    // delete the min AND the max of cell a — algebraic partials don't care
    val f = feed(("a", "delete", 10L), ("a", "insert", 99L),
      ("b", "update_preimage", 5L), ("b", "update_postimage", 6L))
    val (s1, _) = IncrementalMv.applyChanges(summarize(base), f, keys, "n_rows",
      sumOnly, poisoned)
    val got = s1.orderBy("k").select(col("k"), col("v_sum").cast("long"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("a", 119L, 2L), ("b", 6L, 1L)))
  }

  test("a re-scan with an unmaintained partial fails loudly, never null-fills (r16)") {
    val base = Seq(("a", 10L), ("a", 20L)).toDF("k", "v")
    // min registered, max NOT: deleting the min forces a re-scan that
    // cannot recompute v_max — silently nulling it corrupted later merges
    val minOnly = Seq(MeasureSpec("v", "v_sum", "v_cnt", min = Some("v_min")))
    val f = feed(("a", "delete", 10L))
    val e = intercept[IllegalArgumentException] {
      IncrementalMv.applyChanges(summarize(base), f, keys, "n_rows",
        minOnly, () => Seq(("a", 20L)).toDF("k", "v"))._1.collect()
    }
    assert(e.getMessage.contains("v_max"), e.getMessage)
    // the same refresh over a summary projected to the maintained partials
    // re-scans fine
    val projected = summarize(base).drop("v_max")
    val (s1, _) = IncrementalMv.applyChanges(projected, f, keys, "n_rows",
      minOnly, () => Seq(("a", 20L)).toDF("k", "v"))
    assert(s1.select("v_min").as[Long].head() === 20L)
  }

  test("refreshPath rolls a crashed publish forward and keeps the watermark (r16)") {
    val dir = Scratch.dir("graft_imv_rp_")
    val base = Seq(("a", 10L), ("b", 5L)).toDF("k", "v")
    IncrementalMv.initSummaryAt(spark, s"$dir/s", summarize(base), 7)
    // simulate a crash between the publish's delete and rename: only the
    // complete staged dir exists
    val (fs, _) = graft.sources.MetaFile.fsOf(spark, dir)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/s"),
      new org.apache.hadoop.fs.Path(s"$dir/s.tmp")))
    val dec = IncrementalMv.refreshPath(spark, s"$dir/s",
      feed(("a", "insert", 2L)), keys, "n_rows", specs, poisoned)
    assert(dec.collect().map(_.getAs[String]("action")).toSeq === Seq("merge"))
    assert(spark.read.parquet(s"$dir/s").filter(col("k") === "a")
      .select("v_sum").as[Long].head() === 12L)
    // the applied-version watermark survived the swap
    assert(IncrementalMv.appliedVersion(spark, s"$dir/s") === Some(7))
  }
}
