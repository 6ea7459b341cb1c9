package graft.etl

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Semantics + plan shape of the SCD Type-2 merge. */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def snap(rows: (Long, String, Double)*) =
    rows.toDF("id", "name", "price")

  private val T1 = "2020-01-01 00:00:00"
  private val T2 = "2020-02-01 00:00:00"
  private val T3 = "2020-03-01 00:00:00"

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), col("name"), col("price"),
        col("valid_from").cast("string"), col("valid_to").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), Option(r.getString(4)))).toSet

  test("merge covers new, changed, deleted, and unchanged keys in one pass") {
    val h1 = Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1)
    val v2 = snap((1L, "a", 1.0), (2L, "b", 9.0), (4L, "d", 4.0)) // 3 deleted, 2 changed, 4 new
    val out = rowsOf(Scd2.merge(h1, v2, Seq("id"), Seq("name", "price"), T2))
    assert(out === Set(
      (1L, "a", 1.0, T1, None),      // unchanged: still open
      (2L, "b", 2.0, T1, Some(T2)),  // changed: old version closed...
      (2L, "b", 9.0, T2, None),      // ...new version opened
      (3L, "c", 3.0, T1, Some(T2)),  // deleted: closed
      (4L, "d", 4.0, T2, None)))     // new: opened
  }

  test("closeDeletes=false keeps versions of absent keys open") {
    val h1 = Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0)), T1)
    val out = rowsOf(Scd2.merge(h1, snap((1L, "a", 1.0)), Seq("id"),
      Seq("name", "price"), T2, closeDeletes = false))
    assert(out === Set((1L, "a", 1.0, T1, None), (2L, "b", 2.0, T1, None)))
  }

  test("closed versions pass through later merges untouched") {
    val h1 = Scd2.initialLoad(snap((1L, "a", 1.0)), T1)
    val h2 = Scd2.merge(h1, snap((1L, "a", 5.0)), Seq("id"), Seq("name", "price"), T2)
    val h3 = Scd2.merge(h2, snap((1L, "a", 5.0), (2L, "b", 2.0)),
      Seq("id"), Seq("name", "price"), T3)
    assert(rowsOf(h3) === Set(
      (1L, "a", 1.0, T1, Some(T2)),
      (1L, "a", 5.0, T2, None),
      (2L, "b", 2.0, T3, None)))
  }

  test("null-safe attribute compare: null -> value and value -> null are changes") {
    val h1 = Scd2.initialLoad(
      Seq((1L, null.asInstanceOf[String], 1.0), (2L, "b", 2.0)).toDF("id", "name", "price"), T1)
    val v2 = Seq((1L, "now-set", 1.0), (2L, null.asInstanceOf[String], 2.0)).toDF("id", "name", "price")
    val out = Scd2.merge(h1, v2, Seq("id"), Seq("name", "price"), T2)
    // both keys changed: 2 closed + 2 reopened
    assert(out.filter(col("valid_to").isNotNull).count() === 2)
    assert(out.filter(col("valid_to").isNull).count() === 2)
  }

  test("point-in-time read reconstructs each snapshot exactly") {
    val h1 = Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0)), T1)
    val h2 = Scd2.merge(h1, snap((1L, "a", 7.0)), Seq("id"), Seq("name", "price"), T2)
    def at(ts: String) =
      Scd2.asOfSnapshot(h2, ts).select("id", "name", "price")
        .as[(Long, String, Double)].collect().toSet
    assert(at("2020-01-15 00:00:00") === Set((1L, "a", 1.0), (2L, "b", 2.0)))
    assert(at("2020-02-15 00:00:00") === Set((1L, "a", 7.0)))
    // the boundary instant itself belongs to the NEW version (valid_to exclusive)
    assert(at(T2) === Set((1L, "a", 7.0)))
  }

  test("streaming maintainer folds TWO snapshots landing in ONE batch in as_of order") {
    // no maxFilesPerTrigger: both drops arrive in a single micro-batch and
    // correctness hangs on the per-as_of ascending driver loop
    val base = Scratch.dir("graft_scd2_onebatch_")
    Scratch.drop(snap((1L, "a", 1.0), (2L, "b", 2.0)).withColumn("as_of", lit(T1)), base, "a")
    Scratch.drop(snap((1L, "a", 9.0)).withColumn("as_of", lit(T2)), base, "b")
    val q = Scd2.maintainHistory(spark, s"$base/drops",
        Seq("id"), Seq("name", "price"), s"$base/history")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    val out = rowsOf(Scd2.readHistory(spark, s"$base/history"))
    assert(out === Set(
      (1L, "a", 1.0, T1, Some(T2)), // v1 of the changed key, closed at T2
      (1L, "a", 9.0, T2, None),     // reopened by the second snapshot
      (2L, "b", 2.0, T1, Some(T2)))) // absent from snapshot 2: closed
  }

  // -- segmented store (r11) ------------------------------------------------

  test("segmented store: fold chain equals the batch merge chain") {
    val root = Scratch.dir("graft_seg_eq_") + "/h"
    Scd2.foldSnapshot(spark, snap((1L, "a", 1.0), (2L, "b", 2.0)), T1,
      Seq("id"), Seq("name", "price"), root)
    Scd2.foldSnapshot(spark, snap((1L, "a", 9.0)), T2,
      Seq("id"), Seq("name", "price"), root)
    val viaStore = rowsOf(Scd2.readHistory(spark, root))
    val viaMerge = rowsOf(Scd2.merge(
      Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0)), T1),
      snap((1L, "a", 9.0)), Seq("id"), Seq("name", "price"), T2))
    assert(viaStore === viaMerge)
  }

  test("segmented store: committed closed segments are byte-stable across later folds") {
    val root = Scratch.dir("graft_seg_stable_") + "/h"
    val ks = Seq("id"); val as = Seq("name", "price")
    Scd2.foldSnapshot(spark, snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1, ks, as, root)
    Scd2.foldSnapshot(spark, snap((1L, "a", 9.0), (2L, "b", 2.0)), T2, ks, as, root)
    def closedBytes(): Map[String, Seq[Byte]] = {
      val closed = new java.io.File(s"$root/closed")
      closed.listFiles.flatMap(seg => seg.listFiles.filter(_.isFile).map(f =>
        s"${seg.getName}/${f.getName}" ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)).toMap
    }
    val afterFold2 = closedBytes()
    assert(afterFold2.keySet.forall(_.startsWith("seg_000002/")))
    Scd2.foldSnapshot(spark, snap((1L, "a", 9.0)), T3, ks, as, root)
    val afterFold3 = closedBytes()
    // every fold-2 file still present, bit-identical; fold 3 only appended
    afterFold2.foreach { case (name, bytes) =>
      assert(afterFold3.get(name).contains(bytes), s"$name was rewritten")
    }
    assert(afterFold3.keySet.exists(_.startsWith("seg_000003/")))
    // and the history is still the merge-chain result
    val expect = rowsOf(Scd2.merge(Scd2.merge(
      Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1),
      snap((1L, "a", 9.0), (2L, "b", 2.0)), ks, as, T2),
      snap((1L, "a", 9.0)), ks, as, T3))
    assert(rowsOf(Scd2.readHistory(spark, root)) === expect)
  }

  test("history purge erases every version of the tombstoned keys, segment-selectively") {
    val ks = Seq("id"); val as = Seq("name", "price")
    def buildStore(): String = {
      val root = Scratch.dir("graft_seg_purge_") + "/h"
      Scd2.foldSnapshot(spark, snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1, ks, as, root)
      Scd2.foldSnapshot(spark, snap((1L, "a", 9.0), (2L, "b", 2.0)), T2, ks, as, root) // seg2: id1 v1 + deleted id3
      Scd2.foldSnapshot(spark, snap((1L, "a", 8.0), (2L, "b", 2.0)), T3, ks, as, root) // seg3: id1 v2
      root
    }
    def fullChain() = Scd2.merge(Scd2.merge(
      Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1),
      snap((1L, "a", 9.0), (2L, "b", 2.0)), ks, as, T2),
      snap((1L, "a", 8.0), (2L, "b", 2.0)), ks, as, T3)

    // id 1 has closed versions in BOTH segments → both rewrite; survivors
    // keep every version, victims keep none
    val root = buildStore()
    assert(Scd2.purgeKeys(spark, root, Seq(1L).toDF("id"), ks).toSet ===
      Set("seg_000002", "seg_000003"))
    assert(rowsOf(Scd2.readHistory(spark, root)) ===
      rowsOf(fullChain().filter(col("id") =!= 1L)))
    // an absent-key purge is a readable no-op (it still commits a fold)
    assert(Scd2.purgeKeys(spark, root, Seq(99L).toDF("id"), ks).isEmpty)
    assert(rowsOf(Scd2.readHistory(spark, root)) ===
      rowsOf(fullChain().filter(col("id") =!= 1L)))
    // the store keeps folding after a purge, and the purge does not
    // resurrect ordering state: the next genuine drop applies normally
    val T4 = "2020-04-01 00:00:00"
    assert(Scd2.foldSnapshot(spark, snap((2L, "b", 5.0)), T4, ks, as, root))
    assert(rowsOf(Scd2.readHistory(spark, root)).exists(r =>
      r._1 == 2L && r._3 == 5.0 && r._5.isEmpty))

    // selectivity: purging a key held by ONE segment leaves the other
    // byte-stable under its committed name
    val root2 = buildStore()
    assert(Scd2.purgeKeys(spark, root2, Seq(3L).toDF("id"), ks).toSet ===
      Set("seg_000002"))
    assert(new java.io.File(s"$root2/closed/seg_000003").isDirectory)
    assert(rowsOf(Scd2.readHistory(spark, root2)) ===
      rowsOf(fullChain().filter(col("id") =!= 3L)))
  }

  test("segmented store: out-of-order folds fail; committed-asOf replays skip") {
    val root = Scratch.dir("graft_seg_order_") + "/h"
    val ks = Seq("id"); val as = Seq("name", "price")
    assert(Scd2.foldSnapshot(spark, snap((1L, "a", 1.0)), T2, ks, as, root))
    // a replay of the committed fold is an at-least-once no-op
    assert(!Scd2.foldSnapshot(spark, snap((1L, "a", 1.0)), T2, ks, as, root))
    val before = rowsOf(Scd2.readHistory(spark, root))
    // a genuinely earlier snapshot must fail loudly, never corrupt
    intercept[IllegalStateException] {
      Scd2.foldSnapshot(spark, snap((1L, "a", 7.0)), T1, ks, as, root)
    }
    assert(rowsOf(Scd2.readHistory(spark, root)) === before)
  }

  test("segment compaction merges committed segments, sweeps debris, and changes nothing readable") {
    val root = Scratch.dir("graft_seg_cmp_") + "/h"
    val ks = Seq("id"); val as = Seq("name", "price")
    Scd2.foldSnapshot(spark, snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1, ks, as, root)
    Scd2.foldSnapshot(spark, snap((1L, "a", 9.0), (2L, "b", 2.0)), T2, ks, as, root)
    Scd2.foldSnapshot(spark, snap((1L, "a", 9.0)), T3, ks, as, root)
    val before = rowsOf(Scd2.readHistory(spark, root))
    // plant crash debris: an orphan segment dir the manifest doesn't name
    val orphan = new java.io.File(s"$root/closed/seg_999999")
    orphan.mkdirs()
    assert(new java.io.File(s"$root/closed").listFiles.length === 3)
    assert(Scd2.compactSegments(spark, root))
    val segDirs = new java.io.File(s"$root/closed").listFiles
    assert(segDirs.length === 1 && segDirs.head.getName.startsWith("cseg_"), segDirs.mkString(","))
    assert(rowsOf(Scd2.readHistory(spark, root)) === before)
    // nothing left to merge: second call is a no-op
    assert(!Scd2.compactSegments(spark, root))
    // the store keeps folding + reading after compaction (key 1 stays in
    // the snapshot so only the new key turns over)
    Scd2.foldSnapshot(spark, snap((1L, "a", 9.0), (4L, "d", 4.0)),
      "2020-04-01 00:00:00", ks, as, root)
    assert(rowsOf(Scd2.readHistory(spark, root)) ===
      before + ((4L, "d", 4.0, "2020-04-01 00:00:00", None)))
  }

  test("segmented store: a fold that closes every key leaves a readable empty open set") {
    val root = Scratch.dir("graft_seg_empty_") + "/h"
    val ks = Seq("id"); val as = Seq("name", "price")
    Scd2.foldSnapshot(spark, snap((1L, "a", 1.0)), T1, ks, as, root)
    Scd2.foldSnapshot(spark, snap((1L, "a", 1.0)).limit(0), T2, ks, as, root)
    assert(rowsOf(Scd2.readHistory(spark, root)) === Set((1L, "a", 1.0, T1, Some(T2))))
    // and the store keeps working after the empty state
    Scd2.foldSnapshot(spark, snap((2L, "b", 2.0)), T3, ks, as, root)
    assert(rowsOf(Scd2.readHistory(spark, root)) === Set(
      (1L, "a", 1.0, T1, Some(T2)), (2L, "b", 2.0, T3, None)))
  }

  test("streaming maintainer with in-stream compaction keeps history identical and segments bounded") {
    val base = Scratch.dir("graft_scd2_mcomp_")
    // one file per snapshot, landed oldest first: maxFilesPerTrigger = 1
    // folds them one per trigger in that order
    Scratch.drop(snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .withColumn("as_of", lit(T1)), base, "a")
    Scratch.drop(snap((1L, "a", 9.0), (2L, "b", 2.0)).withColumn("as_of", lit(T2)), base, "b")
    Scratch.drop(snap((1L, "a", 9.0)).withColumn("as_of", lit(T3)), base, "c")
    val q = Scd2.maintainHistory(spark, s"$base/drops",
        Seq("id"), Seq("name", "price"), s"$base/history",
        maxFilesPerTrigger = Some(1), compactAtSegments = Some(2))
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    // compaction ran: the closed set is bounded, not one segment per fold
    val segs = new java.io.File(s"$base/history/closed").listFiles
    assert(segs.length <= 2, segs.mkString(","))
    // and the history still equals the batch merge chain
    val expect = rowsOf(Scd2.merge(Scd2.merge(
      Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), T1),
      snap((1L, "a", 9.0), (2L, "b", 2.0)), Seq("id"), Seq("name", "price"), T2),
      snap((1L, "a", 9.0)), Seq("id"), Seq("name", "price"), T3))
    assert(rowsOf(Scd2.readHistory(spark, s"$base/history")) === expect)
  }

  test("temporal lookup: each fact row sees the version live at its own time") {
    import spark.implicits._
    val h1 = Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0)), T1)
    val h2 = Scd2.merge(h1, snap((1L, "a", 9.0)), Seq("id"), Seq("name", "price"), T2)
    // key 1 changed at T2; key 2 deleted at T2; key 3 never existed
    val facts = Seq(
      (100L, 1L, "2019-12-15 00:00:00"), // pre-history → null
      (101L, 1L, "2020-01-15 00:00:00"), // v1 window
      (102L, 1L, "2020-02-01 00:00:00"), // boundary → v2 (valid_to exclusive)
      (103L, 2L, "2020-01-20 00:00:00"), // v1 window of the later-deleted key
      (104L, 2L, "2020-03-01 00:00:00"), // after deletion → null
      (105L, 3L, "2020-01-15 00:00:00")) // unknown key → null
      .toDF("fact_id", "id", "ts")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val df = Scd2.temporalLookup(facts, h2, Seq("id"), "ts")
    val out = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(r.fieldIndex("asof"))) None
        else Some(r.getStruct(r.fieldIndex("asof")).getDouble(1)))).toMap
    assert(out === Map(
      100L -> None, 101L -> Some(1.0), 102L -> Some(9.0),
      103L -> Some(2.0), 104L -> None, 105L -> None))
    // disjoint versions → equi-join + residual: the FACT side (everything
    // above the broadcast build of the history) must not be sorted,
    // shuffled, or windowed — cut the plan at the BroadcastExchange, below
    // which lives the history-build subtree with its own (dim-sized) joins
    val plan = df.queryExecution.executedPlan.toString
      .split("Initial Plan").head.split("BroadcastExchange").head
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("the merge plans exactly ONE equi-join — no cartesian, no per-branch re-join") {
    val h1 = Scd2.initialLoad(snap((1L, "a", 1.0), (2L, "b", 2.0)), T1)
    val df = Scd2.merge(h1, snap((1L, "a", 3.0)), Seq("id"), Seq("name", "price"), T2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    assert("Join".r.findAllIn(plan).size === 1, plan)
  }
}
