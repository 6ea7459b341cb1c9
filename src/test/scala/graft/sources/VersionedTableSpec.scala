package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Snapshot semantics of the versioned table: mutations commit new
  * versions, time travel pins old ones, orphans of crashed commits are
  * invisible, and vacuum retires exactly the asked-for history. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("create → delete → merge → time travel across three versions") {
    val root = Scratch.dir("graft_vt_") + "/t"
    val v1 = (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload")
    assert(VersionedTable.create(spark, root, v1) === 1)
    assert(VersionedTable.deleteWhere(spark, root, col("id") > 8L) === 2)
    assert(VersionedTable.mergeInto(spark, root,
      Seq((1L, "updated"), (11L, "inserted")).toDF("id", "payload"), Seq("id")) === 3)
    def ids(v: Option[Int]) =
      VersionedTable.read(spark, root, v).select("id").as[Long].collect().toSet
    assert(ids(Some(1)) === (1L to 10L).toSet)
    assert(ids(Some(2)) === (1L to 8L).toSet)
    assert(ids(None) === ((1L to 8L).toSet + 11L))
    assert(VersionedTable.read(spark, root, None)
      .filter(col("id") === 1L).select("payload").as[String].head() === "updated")
    assert(VersionedTable.latestVersion(spark, root) === 3)
  }

  test("deleteKeys commits a purge snapshot whose CDC feed carries exactly the deletes") {
    val root = Scratch.dir("graft_vt_dk_") + "/t"
    val v1 = (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload")
      .union(Seq((null.asInstanceOf[java.lang.Long], "nullkey"))
        .toDF("id", "payload").select(col("id").cast("long"), col("payload")))
    assert(VersionedTable.create(spark, root, v1) === 1)
    val tombstones = Seq(3L, 7L, 99L).toDF("id") // 99 hits nothing
    assert(VersionedTable.deleteKeys(spark, root, tombstones, Seq("id")) === 2)
    // latest excludes the purged keys, keeps the NULL-key row; v1 intact
    val latest = VersionedTable.read(spark, root)
      .select("payload").as[String].collect().toSet
    assert(latest === ((1L to 10L).toSet -- Set(3L, 7L)).map(i => s"p_$i") + "nullkey")
    assert(VersionedTable.read(spark, root, Some(1)).count() === 11L)
    // the change feed between v1 and the purge is exactly the delete images
    val feed = VersionedTable.changes(spark, root, 1, 2, Seq("id"))
      .select("change_type", "id").as[(String, Long)].collect().toSet
    assert(feed === Set(("delete", 3L), ("delete", 7L)))
  }

  test("updateMove commits a move snapshot; CDC pairs pre/post images per moved key") {
    val root = Scratch.dir("graft_vt_umv_") + "/t"
    val v1 = (1L to 30L).map(i => (i, s"p_$i", i / 10)).toDF("id", "payload", "bucket")
    assert(VersionedTable.create(spark, root, v1, Seq("bucket")) === 1)
    // ids 4,8,12,… relocate to bucket 7 — a partition-column assignment,
    // which updateWhere rejects and this path supports
    assert(VersionedTable.updateMove(spark, root, col("id") % 4 === 0,
      Map("bucket" -> lit(7L))) === 2)
    val moved = (1L to 30L).filter(_ % 4 == 0).toSet
    val latest = VersionedTable.read(spark, root)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(latest.size === 30)
    moved.foreach(i => assert(latest(i) === 7L, s"id $i must land in bucket 7"))
    (1L to 30L).filterNot(moved).foreach(i => assert(latest(i) === i / 10))
    // the feed carries each moved key EXACTLY as its pre/post image pair —
    // the delete-from-old + insert-to-new the move physically performs —
    // with the old partition value in the pre image and 7 in the post
    val feed = VersionedTable.changes(spark, root, 1, 2, Seq("id"))
      .select("id", "change_type", "bucket").as[(Long, String, Long)]
      .collect()
    assert(feed.map(_._1).toSet === moved)
    assert(feed.length === moved.size * 2)
    moved.foreach { i =>
      val pair = feed.filter(_._1 == i).map(r => r._2 -> r._3).toMap
      assert(pair === Map("update_preimage" -> i / 10, "update_postimage" -> 7L))
    }
  }

  test("compaction commits a byte-moving snapshot: same rows, empty feed, fewer files") {
    val root = Scratch.dir("graft_vt_c_") + "/t"
    val v1 = (1L to 200L).map(i => (i, s"p_$i")).toDF("id", "payload")
    VersionedTable.create(spark, root, v1.repartition(16))
    assert(VersionedTable.compact(spark, root, targetBytes = 1L << 30) === 2)
    def rows(v: Option[Int]) = VersionedTable.read(spark, root, v)
      .as[(Long, String)].collect().toSet
    assert(rows(None) === rows(Some(1)))
    assert(rows(None).size === 200)
    assert(VersionedTable.changes(spark, root, 1, 2, Seq("id")).isEmpty)
    def nFiles(v: Int) = VersionedTable.listSnapshotFiles(spark, root, v).count()
    assert(nFiles(2) < nFiles(1))
  }

  test("an orphan version dir from a crashed commit is invisible and overwritten") {
    val root = Scratch.dir("graft_vt_o_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "payload"))
    // simulate a crash: v2 data written, manifest never swapped
    Seq((99L, "ghost")).toDF("id", "payload").write.parquet(s"$root/v00002")
    assert(VersionedTable.latestVersion(spark, root) === 1)
    assert(VersionedTable.read(spark, root).select("id").as[Long].collect().toSet === Set(1L))
    // the retried mutation claims v2 for itself
    assert(VersionedTable.deleteWhere(spark, root, col("id") < 0L) === 2)
    assert(VersionedTable.read(spark, root).select("id").as[Long].collect().toSet === Set(1L))
  }

  test("insertInto: append aligns by name + null-fills, CDC carries pure inserts, crashed orphan retried, feed stream sees the commit") {
    val root = Scratch.dir("graft_vt_ins_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    // by-name alignment: reordered columns land right, missing ones null-fill
    assert(VersionedTable.insertInto(spark, root,
      Seq("x").toDF("payload")) === 2)
    val nulls = VersionedTable.read(spark, root).filter(col("id").isNull)
      .select("payload").as[String].collect().toSeq
    assert(nulls === Seq("x"))
    // an unknown column fails loudly, committing nothing
    intercept[IllegalArgumentException] {
      VersionedTable.insertInto(spark, root, Seq((1L, "y", 2L)).toDF("id", "payload", "extra"))
    }
    assert(VersionedTable.latestVersion(spark, root) === 2)
    // the v1→v2 feed is exactly the inserted row
    val feed = VersionedTable.changes(spark, root, 1, 2, Seq("id"))
      .select("change_type").as[String].collect().toSeq
    assert(feed === Seq("insert"))
    // crash simulation: staged v3 without a manifest swap stays invisible;
    // the retried insert claims v3 for itself
    Seq((99L, "ghost")).toDF("id", "payload").write.parquet(s"$root/v00003")
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.insertInto(spark, root,
      Seq((11L, "k")).toDF("id", "payload")) === 3)
    assert(VersionedTable.read(spark, root).count() === 12L)
    assert(VersionedTable.read(spark, root).filter(col("payload") === "ghost").isEmpty)
    // overwrite replaces the content entirely as v4; v3 still time-travels
    assert(VersionedTable.insertInto(spark, root,
      Seq((100L, "only")).toDF("id", "payload"), overwrite = true) === 4)
    assert(VersionedTable.read(spark, root).count() === 1L)
    assert(VersionedTable.read(spark, root, Some(3)).count() === 12L)
  }

  // -- CDC change feed (r11) -----------------------------------------------

  test("change feed classifies insert / delete / update with pre+post images") {
    val root = Scratch.dir("graft_vt_cdc_") + "/t"
    VersionedTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload"))
    VersionedTable.deleteWhere(spark, root, col("id") === 3L)
    VersionedTable.mergeInto(spark, root,
      Seq((2L, "b2"), (4L, "d")).toDF("id", "payload"), Seq("id"))
    val feed = VersionedTable.changes(spark, root, 1, 3, Seq("id"))
      .as[(Long, String, String)].collect().toSet
    assert(feed === Set(
      (3L, "delete", "c"),
      (2L, "update_preimage", "b"), (2L, "update_postimage", "b2"),
      (4L, "insert", "d")))
    // unchanged key 1 emits nothing; the single-step feeds decompose cleanly
    assert(VersionedTable.changes(spark, root, 1, 2, Seq("id"))
      .as[(Long, String, String)].collect().toSet === Set((3L, "delete", "c")))
    assert(VersionedTable.changes(spark, root, 2, 3, Seq("id"))
      .as[(Long, String, String)].collect().toSet === Set(
        (2L, "update_preimage", "b"), (2L, "update_postimage", "b2"),
        (4L, "insert", "d")))
  }

  test("change feed diffs states, not DML history: delete + re-insert spans as update") {
    val root = Scratch.dir("graft_vt_cdc2_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "old"), (2L, "keep")).toDF("id", "payload"))
    VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    VersionedTable.mergeInto(spark, root,
      Seq((1L, "new")).toDF("id", "payload"), Seq("id"))
    assert(VersionedTable.changes(spark, root, 1, 3, Seq("id"))
      .as[(Long, String, String)].collect().toSet === Set(
        (1L, "update_preimage", "old"), (1L, "update_postimage", "new")))
    // a re-insert with the ORIGINAL payload is invisible across the span
    VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    VersionedTable.mergeInto(spark, root,
      Seq((1L, "old")).toDF("id", "payload"), Seq("id"))
    assert(VersionedTable.changes(spark, root, 1, 5, Seq("id")).count() === 0)
  }

  test("change feed compares null-safely: NULL→NULL unchanged, NULL→value update") {
    val a = Seq((1L, Option.empty[String]), (2L, Option.empty[String]), (3L, Some("x")))
      .toDF("id", "payload")
    val b = Seq((1L, Option.empty[String]), (2L, Some("v")), (3L, Some("x")))
      .toDF("id", "payload")
    val feed = VersionedTable.changeFeed(a, b, Seq("id"))
      .as[(Long, String, Option[String])].collect().toSet
    assert(feed === Set(
      (2L, "update_preimage", None), (2L, "update_postimage", Some("v"))))
  }

  test("appendBatch is exactly-once: a replayed batch id commits nothing") {
    val root = Scratch.dir("graft_vt_b_") + "/t"
    assert(VersionedTable.appendBatch(spark, root, 0L,
      Seq((1L, "a")).toDF("id", "payload")) === Some(1))
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((2L, "b")).toDF("id", "payload")) === Some(2))
    // the post-crash redelivery: same id (and even an OLDER id) must be
    // recognized as already committed — no snapshot, no duplicate rows
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((2L, "b")).toDF("id", "payload")).isEmpty)
    assert(VersionedTable.appendBatch(spark, root, 0L,
      Seq((1L, "a")).toDF("id", "payload")).isEmpty)
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.lastCommittedBatch(spark, root) === Some(1L))
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // the next genuine batch continues the chain, and time travel still
    // sees the single-batch state
    assert(VersionedTable.appendBatch(spark, root, 2L,
      Seq((3L, "c")).toDF("id", "payload")) === Some(3))
    assert(VersionedTable.read(spark, root, Some(1))
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
  }

  test("appendBatch stays exactly-once across an interleaved NON-batch commit (r16)") {
    val root = Scratch.dir("graft_vt_ib_") + "/t"
    assert(VersionedTable.appendBatch(spark, root, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload")) === Some(1))
    // maintenance/DML land a marker-less version ON TOP of the batch —
    // the exact pairing a standing pipeline runs (compact, GDPR purge…)
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 2L) === 2)
    assert(VersionedTable.lastCommittedBatch(spark, root) === Some(0L))
    // the post-crash redelivery of batch 0 must STILL be recognized as
    // committed; a head-only marker check would duplicate the rows here
    assert(VersionedTable.appendBatch(spark, root, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload")).isEmpty)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a")))
    // the next genuine batch continues past the interleaved commit
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((3L, "c")).toDF("id", "payload")) === Some(3))
    assert(VersionedTable.lastCommittedBatch(spark, root) === Some(1L))
  }

  test("appendBatch stays exactly-once after vacuum retires the marker version (r17)") {
    val root = Scratch.dir("graft_vt_vb_") + "/t"
    assert(VersionedTable.appendBatch(spark, root, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload")) === Some(1))
    // marker-less maintenance/DML commits land ON TOP of the batch version
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 2L) === 2)
    assert(VersionedTable.mergeInto(spark, root,
      Seq((3L, "c")).toDF("id", "payload"), Seq("id")) === 3)
    // vacuum retires v1 — the only version carrying the batch marker; the
    // downward walk from the head now hits the vacuum horizon before any
    // marker, and before r17 that read as "no batch ever committed"
    assert(VersionedTable.vacuum(spark, root, keep = 2) === Seq(1))
    assert(VersionedTable.lastCommittedBatch(spark, root) === Some(0L))
    // the post-crash redelivery (normal on streaming restart) must commit
    // NOTHING — re-applying here would duplicate rows
    assert(VersionedTable.appendBatch(spark, root, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload")).isEmpty)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c")))
    // the next genuine batch continues the chain past the vacuum horizon
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((4L, "d")).toDF("id", "payload")) === Some(4))
    assert(VersionedTable.lastCommittedBatch(spark, root) === Some(1L))
  }

  test("vacuum persists the rolled-forward head before retiring _txn markers (r16)") {
    val root = Scratch.dir("graft_vt_vr_") + "/t"
    VersionedTable.create(spark, root, (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    // two transact commits (delete-only mutations: carry the survivors)
    (1 to 2).foreach { k =>
      VersionedTable.transact(spark, root) { (_, snap, stage) =>
        val drop = Dml.deleteWhereCore(spark, snap, stage, col("id") === k.toLong)
        drop._2 // the carried (clean) files
      }
    }
    assert(VersionedTable.latestVersion(spark, root) === 3)
    // simulate both `_latest` swaps having crashed: the cache regresses to
    // v1 while v2/v3 carry _txn markers the roll-forward probes
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val latestP = new org.apache.hadoop.fs.Path(root, "_latest")
    val out = fs.create(latestP, true)
    out.write("1\n".getBytes("UTF-8")); out.close()
    assert(VersionedTable.latestVersion(spark, root) === 3) // via markers
    // vacuum deletes v1/v2 WITH their markers; without persisting the
    // rolled head first, _latest would strand at the vacuumed v1 forever
    VersionedTable.vacuum(spark, root, keep = 1)
    assert(VersionedTable.latestVersion(spark, root) === 3)
    assert(VersionedTable.read(spark, root).select("id").as[Long].collect().toSet ===
      (3L to 10L).toSet)
  }

  test("partition layout survives a transiently empty head (r16)") {
    val root = Scratch.dir("graft_vt_pl_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 8L).map(i => (i, i % 2)).toDF("id", "b"), Seq("b"))
    assert(VersionedTable.deleteWhere(spark, root, lit(true)) === 2)
    assert(VersionedTable.read(spark, root).count() === 0)
    // the layout is recorded durably at creation — an insert into the
    // EMPTY head must still route under b=…, not silently commit the
    // table unpartitioned forever (the layout-from-surviving-files bug)
    assert(VersionedTable.insertInto(spark, root,
      Seq((20L, 0L), (21L, 1L)).toDF("id", "b")) === 3)
    val parts = VersionedTable.listSnapshotFiles(spark, root, 3)
      .select("part").as[String].collect()
    assert(parts.nonEmpty && parts.forall(_.startsWith("b=")), parts.mkString(","))
    assert(VersionedTable.read(spark, root).select("id").as[Long].collect().toSet ===
      Set(20L, 21L))
  }

  test("appendBatch recovers a crashed orphan: retry of the batch commits once") {
    val root = Scratch.dir("graft_vt_o_") + "/t"
    VersionedTable.appendBatch(spark, root, 0L, Seq((1L, "a")).toDF("id", "payload"))
    // simulate a crash AFTER writing v2's files but BEFORE the manifest
    // swap: an orphan v00002 exists, _latest still names v1
    Seq((99L, "garbage")).toDF("id", "payload").write.parquet(s"$root/v00002")
    assert(VersionedTable.latestVersion(spark, root) === 1)
    // the replayed batch overwrites the orphan and commits exactly once
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((2L, "b")).toDF("id", "payload")) === Some(2))
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  test("evolve adds a column with zero rewrite; reads, DML and CDC run under the evolved schema") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val root = Scratch.dir("graft_vt_evo_") + "/t"
    val v1 = (1L to 20L).map(i => (i, s"p_$i", i % 3)).toDF("id", "payload", "bucket")
    assert(VersionedTable.create(spark, root, v1, Seq("bucket")) === 1)
    assert(VersionedTable.evolve(spark, root,
      StructType(Seq(StructField("tag", StringType)))) === 2)
    // zero rewrite: v2's data files are v1's, byte for byte
    def files(v: Int) = VersionedTable.listSnapshotFiles(spark, root, v).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(files(2) === files(1))
    // evolution reads as zero changes; time travel sees the old shape
    assert(VersionedTable.changes(spark, root, 1, 2, Seq("id")).isEmpty)
    assert(!VersionedTable.read(spark, root, Some(1)).columns.contains("tag"))
    assert(VersionedTable.read(spark, root).filter(col("tag").isNotNull).count() === 0)
    // backfill through ordinary UPDATE WHERE — file-selective on mixed files
    assert(VersionedTable.updateWhere(spark, root, col("id") <= 5L,
      Map("tag" -> lit("early"))) === 3)
    val tagged = VersionedTable.read(spark, root)
      .filter(col("tag") === "early").select("id").as[Long].collect().toSet
    assert(tagged === (1L to 5L).toSet)
    // the backfill's CDC span: updates only, preimage tag NULL
    val feed = VersionedTable.changes(spark, root, 2, 3, Seq("id"))
    assert(feed.filter(!col("change_type").startsWith("update")).isEmpty)
    assert(feed.filter(col("change_type") === "update_preimage")
      .filter(col("tag").isNotNull).isEmpty)
    // deleteKeys and compact still work over the mixed-schema layout
    assert(VersionedTable.deleteKeys(spark, root, Seq(2L).toDF("id"), Seq("id")) === 4)
    assert(VersionedTable.compact(spark, root, targetBytes = 1L << 30) === 5)
    val fin = VersionedTable.read(spark, root)
      .select("id", "tag").as[(Long, Option[String])].collect().toMap
    assert(fin.size === 19 && !fin.contains(2L))
    assert(fin(1L) === Some("early") && fin(10L) === None)
  }

  test("evolve rejects non-nullable and colliding columns; a crashed evolve's schema entry is not inherited") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val root = Scratch.dir("graft_vt_evo2_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "payload"))
    intercept[IllegalArgumentException] {
      VersionedTable.evolve(spark, root,
        StructType(Seq(StructField("tag", StringType, nullable = false))))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.evolve(spark, root,
        StructType(Seq(StructField("payload", StringType))))
    }
    // simulate a crashed evolve: schema entry written for v2, manifest never
    // swapped — a later non-evolve commit of v2 must not inherit the entry
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stale = new org.apache.hadoop.fs.Path(s"$root/_schema/v00002.ddl")
    fs.mkdirs(stale.getParent)
    val out = fs.create(stale, true)
    out.write("`id` BIGINT,`payload` STRING,`ghost` STRING\n".getBytes("UTF-8"))
    out.close()
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 99L) === 2)
    assert(!VersionedTable.read(spark, root).columns.contains("ghost"))
  }

  test("appendBatch aligns an evolved table's batches: missing column null-fills, unknown column fails") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val root = Scratch.dir("graft_vt_evo3_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "payload"))
    VersionedTable.evolve(spark, root, StructType(Seq(StructField("tag", StringType))))
    // a producer not yet emitting the new column keeps streaming
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((2L, "b")).toDF("id", "payload")).contains(3))
    val rows = VersionedTable.read(spark, root)
      .select("id", "tag").as[(Long, Option[String])].collect().toMap
    assert(rows === Map(1L -> None, 2L -> None))
    intercept[IllegalArgumentException] {
      VersionedTable.appendBatch(spark, root, 2L,
        Seq((3L, "c", 1.0)).toDF("id", "payload", "oops"))
    }
  }

  test("CHECK constraints: registration validates, commits enforce new files only, violations leave the table untouched") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val root = Scratch.dir("graft_vt_chk_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 20L).map(i => (i, i * 10L)).toDF("id", "qty"))
    VersionedTable.addConstraint(spark, root, "qty_pos", "qty >= 0")
    // registering a constraint the current data violates fails
    intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "impossible", "qty > 150")
    }
    // a valid mutation commits
    assert(VersionedTable.updateWhere(spark, root, col("id") === 1L,
      Map("qty" -> (col("qty") + 5L))) === 2)
    // a violating update is rejected BEFORE the manifest swap
    intercept[IllegalStateException] {
      VersionedTable.updateWhere(spark, root, col("id") === 2L,
        Map("qty" -> lit(-1L)))
    }
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.read(spark, root).filter(col("id") === 2L)
      .select("qty").as[Long].head() === 20L)
    // SQL CHECK: NULL passes — a null in the constrained column is fine
    VersionedTable.evolve(spark, root, StructType(Seq(StructField("tag", StringType))))
    VersionedTable.addConstraint(spark, root, "tag_short", "length(tag) <= 3")
    assert(VersionedTable.appendBatch(spark, root, 1L,
      Seq((21L, 5L)).toDF("id", "qty")).contains(4)) // tag null-fills: passes
    // a violating batch throws before the batch marker — replayable
    intercept[IllegalStateException] {
      VersionedTable.appendBatch(spark, root, 2L,
        Seq((22L, 5L, "xxxx")).toDF("id", "qty", "tag"))
    }
    assert(VersionedTable.lastCommittedBatch(spark, root).contains(1L))
    // a violating transact mutation throws; the stage never publishes
    intercept[IllegalStateException] {
      VersionedTable.transact(spark, root) { (_, snap, stage) =>
        Dml.updateWhereCore(spark, snap, stage, col("id") === 3L,
          Map("qty" -> lit(-7L)))._2
      }
    }
    assert(VersionedTable.latestVersion(spark, root) === 4)
    // dropConstraint unblocks the same mutation
    VersionedTable.dropConstraint(spark, root, "qty_pos")
    assert(VersionedTable.updateWhere(spark, root, col("id") === 2L,
      Map("qty" -> lit(-1L))) === 5)
  }

  test("restore commits an old version's content as the new head; CDC reads the inverse of the mistake") {
    val root = Scratch.dir("graft_vt_rst_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    assert(VersionedTable.deleteWhere(spark, root, col("id") > 3L) === 2) // the mistake
    assert(VersionedTable.restore(spark, root, 1) === 3)
    assert(VersionedTable.read(spark, root).count() === 10)
    // the bad version stays readable (history never rewrites)
    assert(VersionedTable.read(spark, root, Some(2)).count() === 3)
    // the restore's feed is the mistake's inverse: 7 re-inserts
    val feed = VersionedTable.changes(spark, root, 2, 3, Seq("id"))
    assert(feed.filter(col("change_type") === "insert").count() === 7)
    assert(feed.count() === 7)
    // restoring the head is a no-op; vacuumed/absurd targets fail
    assert(VersionedTable.restore(spark, root, 3) === 3)
    intercept[IllegalArgumentException] { VersionedTable.restore(spark, root, 9) }
    // restoring below a schema evolution re-logs the old shape at the head
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    VersionedTable.evolve(spark, root, StructType(Seq(StructField("tag", StringType))))
    assert(VersionedTable.restore(spark, root, 3) === 5)
    assert(!VersionedTable.read(spark, root).columns.contains("tag"))
    assert(VersionedTable.read(spark, root, Some(4)).columns.contains("tag"))
  }

  test("restore validates the restored content against the CURRENT constraints") {
    val root = Scratch.dir("graft_vt_rstc_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, i * 10L - 50L)).toDF("id", "qty")) // ids 1-4 negative
    assert(VersionedTable.deleteWhere(spark, root, col("qty") < 0L) === 2)
    // the constraint registers against the CLEANED head — v1's negative
    // rows predate it, so a restore to v1 would resurface violating rows;
    // induction doesn't cover restored content (ADVICE r13): full validation
    // must reject the restore BEFORE the manifest swap
    VersionedTable.addConstraint(spark, root, "qty_nonneg", "qty >= 0")
    val rejected = intercept[IllegalStateException] {
      VersionedTable.restore(spark, root, 1)
    }
    assert(rejected.getMessage.contains("qty_nonneg"))
    assert(VersionedTable.latestVersion(spark, root) === 2)
    // a restore whose content satisfies the constraints still commits
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 9L) === 3)
    assert(VersionedTable.restore(spark, root, 2) === 4)
    assert(VersionedTable.read(spark, root).count() === 6)
  }

  test("transact does not inherit a crashed evolve's stale schema entry") {
    val root = Scratch.dir("graft_vt_txns_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "payload"))
    // simulate a crashed evolve: schema entry written for v2, manifest never
    // swapped — a transact commit claiming v2 must not inherit the ghost
    // shape (ADVICE r13; the direct-commit path already cleans it in nextDir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stale = new org.apache.hadoop.fs.Path(s"$root/_schema/v00002.ddl")
    fs.mkdirs(stale.getParent)
    val out = fs.create(stale, true)
    out.write("`id` BIGINT,`payload` STRING,`ghost` STRING\n".getBytes("UTF-8"))
    out.close()
    assert(VersionedTable.transact(spark, root) { (_, snap, stage) =>
      Dml.deleteWhereCore(spark, snap, stage, col("id") === 99L)._2
    } === 2)
    assert(!VersionedTable.read(spark, root).columns.contains("ghost"))
    // later DML keeps running under the footer schema
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 99L) === 3)
    assert(VersionedTable.read(spark, root).columns.toSeq === Seq("id", "payload"))
  }

  test("mergeClauses commits a conditional merge whose CDC carries updates, deletes and inserts") {
    val root = Scratch.dir("graft_vt_mc_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "qty"))
    assert(VersionedTable.mergeClauses(spark, root,
      Seq((2L, 5L), (3L, 0L), (100L, 7L)).toDF("id", "qty"), Seq("id"),
      matched = Seq(
        Dml.WhenMatchedUpdate(Dml.src("qty") > 0L,
          Map("qty" -> (col("qty") + Dml.src("qty")))),
        Dml.WhenMatchedDelete(Dml.src("qty") === 0L)),
      notMatchedInsert = Some(lit(true))) === 2)
    val feed = VersionedTable.changes(spark, root, 1, 2, Seq("id"))
      .select("id", "change_type").as[(Long, String)].collect().toSet
    assert(feed === Set((2L, "update_preimage"), (2L, "update_postimage"),
      (3L, "delete"), (100L, "insert")))
    assert(VersionedTable.read(spark, root)
      .filter(col("id") === 2L).select("qty").as[Long].head() === 25L)
  }

  test("dropColumns: zero rewrite, empty feed, narrowed DML, tombstoned re-add, time travel keeps the column") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val root = Scratch.dir("graft_vt_drop_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 20L).map(i => (i, s"p_$i", s"t_$i")).toDF("id", "payload", "tag"))
    assert(VersionedTable.dropColumns(spark, root, Seq("tag")) === 2)
    def files(v: Int) = VersionedTable.listSnapshotFiles(spark, root, v).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(files(2) === files(1)) // zero rewrite
    assert(VersionedTable.read(spark, root).columns.toSeq === Seq("id", "payload"))
    assert(VersionedTable.read(spark, root, Some(1)).columns.contains("tag"))
    assert(VersionedTable.changes(spark, root, 1, 2, Seq("id")).isEmpty)
    // DML runs under the narrowed schema; assigning the dropped column fails
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, col("id") === 1L,
        Map("tag" -> lit("x")))
    }
    assert(VersionedTable.deleteWhere(spark, root, col("id") > 18L) === 3)
    assert(VersionedTable.read(spark, root).count() === 18)
    // re-adding the dropped name is tombstoned; a fresh name still evolves
    intercept[IllegalArgumentException] {
      VersionedTable.evolve(spark, root,
        StructType(Seq(StructField("tag", StringType))))
    }
    assert(VersionedTable.evolve(spark, root,
      StructType(Seq(StructField("tag2", StringType)))) === 4)
    // guards
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, root, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, root, Seq("id", "payload", "tag2"))
    }
    val part = Scratch.dir("graft_vt_drop2_") + "/t"
    VersionedTable.create(spark, part,
      (1L to 10L).map(i => (i, i % 2)).toDF("id", "b"), Seq("b"))
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, part, Seq("b"))
    }
  }

  test("transact: a lost race re-runs the mutation against the new head — both writers' effects land") {
    val root = Scratch.dir("graft_vt_txn_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    var bDone = false
    var aAttempts = 0
    val aV = VersionedTable.transact(spark, root) { (base, snap, stage) =>
      aAttempts += 1
      if (!bDone) { // writer B wins the race while A is still mutating
        bDone = true
        assert(VersionedTable.transact(spark, root) { (_, bSnap, bStage) =>
          Dml.deleteWhereCore(spark, bSnap, bStage, col("id") > 90L)._2
        } === 2)
      }
      Dml.updateWhereCore(spark, snap, stage, col("id") <= 10L,
        Map("payload" -> lit("A")))._2
    }
    assert(aV === 3 && aAttempts === 2)
    val fin = VersionedTable.read(spark, root)
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(fin.size === 90)                        // B's delete survived
    assert((1L to 10L).forall(fin(_) == "A"))      // A's update re-applied
    assert(fin(50L) === "p_50")
  }

  test("transact: crash after the rename rolls forward; crashed stage orphans are invisible and vacuumed; a squatting direct orphan is cleared") {
    val root = Scratch.dir("graft_vt_txn2_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    assert(VersionedTable.transact(spark, root) { (_, snap, stage) =>
      Dml.deleteWhereCore(spark, snap, stage, col("id") > 8L)._2
    } === 2)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash between the rename and the _latest swap
    val latest = new org.apache.hadoop.fs.Path(root, "_latest")
    val out = fs.create(latest, true); out.write("1\n".getBytes); out.close()
    assert(VersionedTable.latestVersion(spark, root) === 2) // rolled forward
    assert(VersionedTable.read(spark, root).count() === 8)
    // a crashed stage orphan is invisible to readers and swept by vacuum
    // once past the stale horizon (ADVICE r17: fresh = possibly in-flight)
    // past the 15-minute orphan horizon (r19: raised from the 60 s
    // lock-break value — a routine large staging write exceeds 60 s)
    val dead = new org.apache.hadoop.fs.Path(root, ".txn_dead")
    fs.mkdirs(dead)
    fs.setTimes(dead, System.currentTimeMillis() - 16 * 60 * 1000L, -1L)
    val inflight = new org.apache.hadoop.fs.Path(root, "._last_batch.tmp_live")
    val ifo = fs.create(inflight, true); ifo.write("b1\n".getBytes); ifo.close()
    assert(VersionedTable.read(spark, root).count() === 8)
    // a squatting NON-txn v3 dir (crashed direct commit) is cleared by transact
    val squat = new org.apache.hadoop.fs.Path(root, "v00003")
    fs.mkdirs(squat)
    val junk = fs.create(new org.apache.hadoop.fs.Path(squat, "junk"), true)
    junk.write(Array[Byte](9)); junk.close()
    assert(VersionedTable.transact(spark, root) { (_, snap, stage) =>
      Dml.deleteWhereCore(spark, snap, stage, col("id") > 7L)._2
    } === 3)
    assert(VersionedTable.read(spark, root).count() === 7)
    VersionedTable.vacuum(spark, root, keep = 3)
    assert(!fs.exists(dead))
    // a FRESH tmp (a concurrent writer's in-flight sidecar) must survive
    // the sweep — deleting it would fail that writer's atomic move
    assert(fs.exists(inflight))
    fs.delete(inflight, false)
    // direct single-writer ops compose on top of the transact head
    assert(VersionedTable.deleteWhere(spark, root, col("id") > 6L) === 4)
    assert(VersionedTable.read(spark, root).count() === 6)
  }

  test("transact gives up with ConcurrentModificationException after maxRetries lost races") {
    val root = Scratch.dir("graft_vt_txn3_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.transact(spark, root, maxRetries = 1) { (_, snap, stage) =>
        // a competitor lands a commit on every attempt
        VersionedTable.transact(spark, root) { (_, snap2, s2) =>
          Dml.deleteWhereCore(spark, snap2, s2, lit(false))._2
        }
        Dml.updateWhereCore(spark, snap, stage, col("id") === 1L,
          Map("payload" -> lit("x")))._2
      }
    }
    // the loser's stage is cleaned up; the winners' commits stand
    assert(VersionedTable.latestVersion(spark, root) === 3)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .forall(p => !p.getPath.getName.startsWith(".txn_") &&
        !p.getPath.getName.startsWith(".claim_")))
  }

  test("vacuum reachability-sweeps the pool: orphans die, shared files survive (r16)") {
    val root = Scratch.dir("graft_vt_rs_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload").repartition(4))
    VersionedTable.deleteWhere(spark, root, col("id") > 90L) // v2 shares v1 files
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // plant a crashed commit's pool orphan: a data file NO manifest names
    val orphan = new org.apache.hadoop.fs.Path(
      VersionedTable.dataDir(root), "part-99999-dead-orphan.parquet")
    val out = fs.create(orphan, true); out.write(Array[Byte](1, 2, 3)); out.close()
    // vacuum keeping both versions: the orphan dies, every referenced
    // file survives (v1 and v2 SHARE most files — reachability is the
    // union over retained manifests, not the head alone)
    assert(VersionedTable.vacuum(spark, root, keep = 2) === Seq())
    assert(!fs.exists(orphan))
    assert(VersionedTable.read(spark, root, Some(1)).count() === 100)
    assert(VersionedTable.read(spark, root, Some(2)).count() === 90)
    // vacuum to depth 1: v1's manifest dies; files only v1 referenced die
    // with it, while the files v2 shares survive
    assert(VersionedTable.vacuum(spark, root, keep = 1) === Seq(1))
    intercept[Exception] { VersionedTable.read(spark, root, Some(1)).collect() }
    assert(VersionedTable.read(spark, root).count() === 90)
  }

  test("DML over an emptied table: truncate, insert into empty, read schema intact (r16)") {
    val root = Scratch.dir("graft_vt_empty_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    assert(VersionedTable.deleteWhere(spark, root, lit(true)) === 2) // TRUNCATE
    val empty = VersionedTable.read(spark, root)
    assert(empty.count() === 0 && empty.columns.toSeq === Seq("id", "payload"))
    // DML against the EMPTY snapshot is a no-op commit, not an error
    assert(VersionedTable.updateWhere(spark, root, col("id") === 1L,
      Map("payload" -> lit("x"))) === 3)
    assert(VersionedTable.read(spark, root).count() === 0)
    // an insert into the empty table revives it under the stored schema
    assert(VersionedTable.insertInto(spark, root,
      Seq((42L, "back")).toDF("id", "payload")) === 4)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSeq ===
      Seq((42L, "back")))
    // CDC across the truncate→revive span: 10 deletes and 1 insert
    val feed = VersionedTable.changes(spark, root, 1, 4, Seq("id"))
      .select("change_type").as[String].collect()
    assert(feed.count(_ == "delete") === 10 && feed.count(_ == "insert") === 1)
  }

  test("segmented manifests: untouched segments share by NAME, fragments coalesce, vacuum sweeps dead segments (r16)") {
    val root = Scratch.dir("graft_vt_seg_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 400L).map(i => (i, i % 20, s"p_$i")).toDF("id", "bucket", "payload")
        .repartition(col("bucket")), Seq("bucket"))
    def refs(v: Int) = VersionedTable.snapshotSegRefs(spark, root, v)
    // a delete confined to one bucket: v2's list must REFERENCE v1's
    // segment(s) for every untouched file — under the coalesce threshold
    // the base segment survives by name (zero metadata rewrite)
    assert(VersionedTable.deleteWhere(spark, root,
      col("id") % 20 === 3 && col("id") > 350) === 2)
    // a base segment whose files ALL survive is referenced VERBATIM:
    // test via a no-change commit (empty-pred delete)
    assert(VersionedTable.deleteWhere(spark, root, lit(false)) === 3)
    assert(refs(3).map(_.name).toSet === refs(2).map(_.name).toSet,
      "a no-change commit must reference the base segments verbatim")
    // restore is pure metadata: the restored list references the target's
    // segments by name
    assert(VersionedTable.restore(spark, root, 1) === 4)
    assert(refs(4).map(_.name).toSet === refs(1).map(_.name).toSet)
    // fragment coalescing: >16 tiny appends fold into fewer segments
    (1 to 20).foreach { b =>
      VersionedTable.insertInto(spark, root,
        Seq((1000L + b, b.toLong % 20, s"x$b")).toDF("id", "bucket", "payload"))
    }
    val headRefs = refs(VersionedTable.latestVersion(spark, root))
    assert(headRefs.size < 20,
      s"fragments must coalesce (got ${headRefs.size} segments)")
    // vacuum: dead segments (rewritten/orphaned) disappear; live ones stay
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    VersionedTable.vacuum(spark, root, keep = 1)
    val liveSegs = headRefs.map(_.name).toSet
    val onDisk = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/_manifests"))
      .map(_.getPath.getName).filter(_.startsWith("seg_")).toSet
    assert(onDisk === liveSegs,
      s"vacuum must retire exactly the unreferenced segments")
    assert(VersionedTable.read(spark, root).count() === 400 + 20)
  }

  test("orphan sweep gates on the newest mtime in the staging SUBTREE, not the root entry (ADVICE r18)") {
    val root = Scratch.dir("graft_vt_sweep_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "payload"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 16 * 60 * 1000L
    // a long-running commit's staging: root + part dir aged (created at job
    // start, never re-stamped by deep task-file writes), but a task file
    // landed RECENTLY — the writer is alive mid-write
    val live = new org.apache.hadoop.fs.Path(root, ".txn_longwrite")
    val sub = new org.apache.hadoop.fs.Path(live, "part=0")
    fs.mkdirs(sub)
    val f = fs.create(new org.apache.hadoop.fs.Path(sub, "task-0.parquet"), true)
    f.write(Array[Byte](1)); f.close()
    fs.setTimes(live, old, -1L)
    fs.setTimes(sub, old, -1L)
    VersionedTable.vacuum(spark, root, keep = 5)
    assert(fs.exists(live),
      "a staging subtree with a fresh descendant is a LIVE write — must survive")
    // once every descendant has aged past the horizon the writer is
    // provably dead and the orphan is reclaimed
    fs.setTimes(new org.apache.hadoop.fs.Path(sub, "task-0.parquet"), old, -1L)
    fs.setTimes(live, old, -1L)
    fs.setTimes(sub, old, -1L)
    VersionedTable.vacuum(spark, root, keep = 5)
    assert(!fs.exists(live), "an all-stale staging subtree is a dead orphan")
  }

  test("writers heartbeat-stamp their staging roots, so a live commit of any duration never ages out") {
    val root = Scratch.dir("graft_vt_hb_") + "/t"
    VersionedTable.create(spark, root, (1L to 5L).map(i => (i, s"p_$i")).toDF("id", "payload"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    sys.props("graft.versioned.heartbeatMs") = "100"
    try {
      VersionedTable.transact(spark, root) { (_, snap, stage) =>
        // simulate the quiet compute phase of a huge write: the stage dir
        // exists (job setup) but nothing lands in it for a long time — the
        // heartbeat alone must keep it young
        val sp = new org.apache.hadoop.fs.Path(stage)
        fs.mkdirs(sp)
        val planted = System.currentTimeMillis() - 16 * 60 * 1000L
        fs.setTimes(sp, planted, -1L)
        Thread.sleep(1500L)
        assert(fs.getFileStatus(sp).getModificationTime > planted,
          "the heartbeat thread must re-stamp the staging root during the write")
        fs.delete(sp, true) // hand the core a virgin stage path
        Dml.deleteWhereCore(spark, snap, stage, col("id") > 4L)._2
      }
    } finally sys.props -= "graft.versioned.heartbeatMs"
    assert(VersionedTable.read(spark, root).count() === 4)
  }

  test("vacuum retires old versions and keeps time travel to the rest") {
    val root = Scratch.dir("graft_vt_v_") + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "payload"))
    VersionedTable.deleteWhere(spark, root, col("id") === 2L)
    VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    assert(VersionedTable.vacuum(spark, root, keep = 2) === Seq(1))
    intercept[Exception] { VersionedTable.read(spark, root, Some(1)).collect() }
    assert(VersionedTable.read(spark, root, Some(2))
      .select("id").as[Long].collect().toSet === Set(1L))
    assert(VersionedTable.read(spark, root).count() === 0)
  }
}
