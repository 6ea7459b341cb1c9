package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** File-selective DELETE WHERE: victims disappear, survivors are intact,
  * and files with no matching rows are byte-copied, never re-encoded. */
class DmlSpec extends SparkSpec {
  import spark.implicits._

  private def fileBytes(dir: String): Map[String, Seq[Byte]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      .toMap
  }

  test("deleteWhere removes exactly the matching rows and byte-copies clean files") {
    val base = Scratch.dir("graft_del_")
    // three partition dirs (ids 1-19 → bucket 0, 20-39 → 1, 40 → 2);
    // victims (id 10..19) live only in bucket 0
    (1L to 40L).map(i => (i, s"row_$i", i / 20))
      .toDF("id", "payload", "bucket")
      .repartition(2, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$base/v1")
    val plan = Dml.deleteWhere(spark, s"$base/v1", s"$base/v2",
      col("id").between(10L, 19L))
    // row survivors are exact
    val out = spark.read.parquet(s"$base/v2")
    assert(out.select("id").as[Long].collect().toSet ===
      ((1L to 9L) ++ (20L to 40L)).toSet)
    // the decision frame: only bucket 0's files rewrote
    val decisions = plan.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(decisions.filter(_._1.contains("bucket=0")).forall(_._3))
    assert(decisions.filterNot(_._1.contains("bucket=0")).forall(!_._3))
    assert(decisions.exists(!_._3))
    // clean files carried over byte-identical under the same names
    val v1 = fileBytes(s"$base/v1")
    val v2 = fileBytes(s"$base/v2")
    decisions.filterNot(_._3).foreach { case (part, name, _) =>
      val k = s"/$part/$name"
      assert(v2.get(k).contains(v1(k)), s"$k was re-encoded")
    }
  }

  test("updateWhere rewrites victims in place, byte-copies clean files, sees OLD values") {
    val base = Scratch.dir("graft_upd_")
    // victims (id 10..19) live only in bucket 0; a NULL-pred row (id 40
    // with NULL flag) must survive untouched
    (1L to 40L).map(i => (i, i * 10L, i * 100L,
      if (i == 40L) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i), i / 20))
      .toDF("id", "a", "b", "flag", "bucket")
      .repartition(2, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$base/v1")
    // the swap assignment is the classic old-values test: both columns must
    // read the pre-update row
    val plan = Dml.updateWhere(spark, s"$base/v1", s"$base/v2",
      col("flag").between(10L, 19L), Map("a" -> col("b"), "b" -> col("a")))
    val out = spark.read.parquet(s"$base/v2")
      .select("id", "a", "b").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    (1L to 39L).foreach { i =>
      if (i >= 10 && i <= 19) assert(out(i) === (i * 100L, i * 10L), s"id $i must swap")
      else assert(out(i) === (i * 10L, i * 100L), s"id $i must be untouched")
    }
    assert(out(40L) === (400L, 4000L)) // NULL predicate → kept as-is
    // only bucket 0 (the victims' partition) rewrote; clean files byte-copy
    val decisions = plan.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(decisions.filter(_._1.contains("bucket=0")).forall(_._3))
    assert(decisions.filterNot(_._1.contains("bucket=0")).forall(!_._3))
    val v1 = fileBytes(s"$base/v1"); val v2 = fileBytes(s"$base/v2")
    decisions.filterNot(_._3).foreach { case (part, name, _) =>
      val k = s"/$part/$name"
      assert(v2.get(k).contains(v1(k)), s"$k was re-encoded")
    }
    // assigning an unknown column fails loudly, not silently
    intercept[IllegalArgumentException] {
      Dml.updateWhere(spark, s"$base/v1", s"$base/v3",
        col("id") === 1L, Map("nope" -> lit(1)))
    }
  }

  test("updateMove relocates movers partition-routed; survivors and clean files intact") {
    val base = Scratch.dir("graft_umv_")
    // buckets 0/1/2; one NULL-bucket row (id 41) and one NULL-pred row (id 40)
    ((1L to 40L).map(i => (i, s"row_$i",
      if (i == 40L) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i),
      java.lang.Long.valueOf(i / 20))) :+
      ((41L, "row_41", java.lang.Long.valueOf(41L), null.asInstanceOf[java.lang.Long])))
      .toDF("id", "payload", "flag", "bucket")
      .repartition(2, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$base/v1")
    // movers: flag 10..19 (all in bucket 0) relocate to bucket = flag div 2
    // (5..9) with the payload stamped — assignments see OLD values; the
    // NULL-pred row (id 40, NULL flag) must survive untouched
    val plan = Dml.updateMove(spark, s"$base/v1", s"$base/v2",
      col("flag").between(10L, 19L),
      Map("bucket" -> expr("flag div 2"),
        "payload" -> concat(lit("moved_"), col("id"))))
    val out = spark.read.parquet(s"$base/v2")
      .select("id", "payload", "bucket")
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size === 41)
    (10L to 19L).foreach { i =>
      assert(out(i) === (s"moved_$i", Some(i / 2)), s"id $i must move")
    }
    ((1L to 9L) ++ (20L to 39L)).foreach { i =>
      assert(out(i) === (s"row_$i", Some(i / 20)), s"id $i must be untouched")
    }
    assert(out(40L) === ("row_40", Some(2L))) // NULL predicate → kept in place
    assert(out(41L) === ("row_41", None))     // NULL partition value survives
    // only bucket 0 (the movers' source partition) rewrote; clean byte-copy
    val decisions = plan.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(decisions.filter(_._1.contains("bucket=0")).forall(_._3))
    assert(decisions.filterNot(_._1.contains("bucket=0")).forall(!_._3))
    val v1 = fileBytes(s"$base/v1"); val v2 = fileBytes(s"$base/v2")
    decisions.filterNot(_._3).foreach { case (part, name, _) =>
      val k = s"/$part/$name"
      assert(v2.get(k).contains(v1(k)), s"$k was re-encoded")
    }
    // a predicate over the PARTITION column itself (re-injected from the
    // directory name): move the NULL-bucket row into bucket 9
    Dml.updateMove(spark, s"$base/v2", s"$base/v3",
      col("bucket").isNull, Map("bucket" -> lit(9L)))
    val v3 = spark.read.parquet(s"$base/v3")
    assert(v3.filter(col("bucket").isNull).isEmpty)
    assert(v3.filter(col("id") === 41L).select("bucket").as[Long].head() === 9L)
    assert(v3.count() === 41)
    // contract rejections: no partition column assigned → updateWhere's job;
    // an unpartitioned layout has nowhere to move rows
    intercept[IllegalArgumentException] {
      Dml.updateMove(spark, s"$base/v1", s"$base/vx",
        col("id") === 1L, Map("payload" -> lit("p")))
    }
    val flat = Scratch.dir("graft_umvflat_")
    (1L to 5L).map(i => (i, i)).toDF("id", "v").write.parquet(s"$flat/v1")
    intercept[IllegalArgumentException] {
      Dml.updateMove(spark, s"$flat/v1", s"$flat/v2",
        col("id") === 1L, Map("v" -> lit(0L)))
    }
  }

  test("mergeInto replaces matched rows, inserts new keys, and moves rows across partitions") {
    val base = Scratch.dir("graft_merge_")
    (1L to 40L).map(i => (i, s"old_$i", i / 20))
      .toDF("id", "payload", "bucket")
      .repartition(2, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$base/v1")
    // update a key in bucket 0, insert a brand-new key into bucket 2, and
    // MOVE key 25 from bucket 1 to bucket 0 (a partition-changing update)
    val updates = Seq(
      (5L, "new_5", 0L), (99L, "new_99", 2L), (25L, "moved_25", 0L))
      .toDF("id", "payload", "bucket")
    Dml.mergeInto(spark, s"$base/v1", s"$base/v2",
      updates, Seq("id"), partitionCols = Seq("bucket"))
    val out = spark.read.parquet(s"$base/v2")
      .select("id", "payload", "bucket")
      .as[(Long, String, Long)].collect()
    assert(out.length === 41) // 40 originals - 0 lost + 1 insert
    val byId = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(5L) === ("new_5", 0L))        // matched: replaced in place
    assert(byId(99L) === ("new_99", 2L))      // unmatched: inserted
    assert(byId(25L) === ("moved_25", 0L))    // moved partitions, old version gone
    assert(byId(6L) === ("old_6", 0L))        // untouched neighbors intact
    assert(byId(26L) === ("old_26", 1L))
  }

  test("deleteKeys purges exactly the tombstoned keys, byte-copies clean files, keeps NULL-key rows") {
    val base = Scratch.dir("graft_delkeys_")
    // victims (ids 10..19) live only in bucket 0; a NULL-key row rides in
    // bucket 2 and must survive (join equality never matches NULL)
    ((1L to 40L).map(i => (Some(i), s"row_$i", i / 20)) :+
      ((None: Option[Long], "row_null", 2L)))
      .toDF("id", "payload", "bucket")
      .repartition(2, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$base/v1")
    // duplicate tombstones + a key absent from the table: both harmless
    val tombstones = ((10L to 19L) ++ (10L to 19L) :+ 999L).toDF("id")
    val plan = Dml.deleteKeys(spark, s"$base/v1", s"$base/v2",
      tombstones, Seq("id"))
    val out = spark.read.parquet(s"$base/v2")
      .select("id", "payload").as[(Option[Long], String)].collect()
    assert(out.flatMap(_._1).toSet === ((1L to 9L) ++ (20L to 40L)).toSet)
    assert(out.exists(r => r._1.isEmpty && r._2 == "row_null"))
    // only bucket 0's files rewrote; clean files are byte-identical
    val decisions = plan.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(decisions.filter(_._1.contains("bucket=0")).forall(_._3))
    assert(decisions.filterNot(_._1.contains("bucket=0")).forall(!_._3))
    val v1 = fileBytes(s"$base/v1")
    val v2 = fileBytes(s"$base/v2")
    decisions.filterNot(_._3).foreach { case (part, name, _) =>
      val k = s"/$part/$name"
      assert(v2.get(k).contains(v1(k)), s"$k was re-encoded")
    }
  }

  test("mergeClauses: ordered matched clauses (first wins), src() references, conditional insert, untouched non-matches") {
    val base = Scratch.dir("graft_mc_")
    // target: (id, qty, price); files split so ids 1-10 / 11-20 separate
    (1L to 20L).map(i => (i, i * 10L, i.toDouble)).toDF("id", "qty", "price")
      .repartitionByRange(2, col("id")).write.parquet(s"$base/v1")
    // source: updates for 2 (stock arrives), 3 (cond false -> second clause),
    // 11 (other file), an unmatched 100 (inserts), an unmatched 101 (filtered)
    val srcDf = Seq((2L, 7L, 99.0), (3L, 0L, 0.5), (11L, 1L, 11.5),
      (100L, 5L, 42.0), (101L, 5L, -1.0)).toDF("id", "qty", "price")
    val plan = Dml.mergeClauses(spark, s"$base/v1", s"$base/v2", srcDf, Seq("id"),
      matched = Seq(
        // clause 1: a real restock (src qty > 0) adds stock and reprices
        Dml.WhenMatchedUpdate(Dml.src("qty") > 0L,
          Map("qty" -> (col("qty") + Dml.src("qty")), "price" -> Dml.src("price"))),
        // clause 2: zero-qty source rows discontinue the product
        Dml.WhenMatchedDelete(Dml.src("qty") === 0L)),
      notMatchedInsert = Some(col("price") > 0.0))
    val out = spark.read.parquet(s"$base/v2")
      .select("id", "qty", "price").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(2L) === ((27L, 99.0)))        // clause 1: qty 20+7, repriced
    assert(!out.contains(3L))                // clause 2 (clause 1 cond false)
    assert(out(11L) === ((111L, 11.5)))      // hit in the other file
    assert(out(100L) === ((5L, 42.0)))       // inserted
    assert(!out.contains(101L))              // insert condition filtered
    assert(out(5L) === ((50L, 5.0)))         // matched file, unmatched row
    assert(out.size === 20)                  // 20 - 1 delete + 1 insert
    // both files held matched keys -> both rewritten
    assert(plan.filter(col("rewritten")).count() === 2)
    // cardinality violation fails loudly
    intercept[IllegalArgumentException] {
      Dml.mergeClauses(spark, s"$base/v2", s"$base/v3",
        Seq((2L, 1L, 1.0), (2L, 2L, 2.0)).toDF("id", "qty", "price"), Seq("id"),
        Seq(Dml.WhenMatchedDelete(lit(true))))
    }
  }

  test("mergeClauses: clause order decides when both conditions hold; clean files byte-copy") {
    val base = Scratch.dir("graft_mc2_")
    (1L to 20L).map(i => (i, i * 10L)).toDF("id", "qty")
      .repartitionByRange(2, col("id")).write.parquet(s"$base/v1")
    val before = fileBytes(s"$base/v1")
    // delete clause FIRST: a row both clauses accept is deleted, not updated
    Dml.mergeClauses(spark, s"$base/v1", s"$base/v2",
      Seq((2L, 5L)).toDF("id", "qty"), Seq("id"),
      matched = Seq(
        Dml.WhenMatchedDelete(lit(true)),
        Dml.WhenMatchedUpdate(lit(true), Map("qty" -> lit(0L)))))
    val out = spark.read.parquet(s"$base/v2")
    assert(out.count() === 19 && out.filter(col("id") === 2L).count() === 0)
    // the unmatched file is byte-identical
    val after = fileBytes(s"$base/v2")
    assert(before.exists { case (_, bytes) => after.values.exists(_ == bytes) })
  }

  test("mergeClauses: NULL-key source rows are legitimate inserts, not cardinality violations") {
    val base = Scratch.dir("graft_mcnull_")
    (1L to 5L).map(i => (i, i * 10L)).toDF("id", "qty")
      .coalesce(1).write.parquet(s"$base/v1")
    // two NULL-key rows: under SQL MERGE semantics NULL keys never match a
    // target row, so they cannot conflict — the duplicate-key check must
    // not reject them (ADVICE r13), and both land as inserts
    val srcDf = Seq((Some(2L), 7L), (None, 100L), (None, 200L))
      .toDF("id", "qty")
    Dml.mergeClauses(spark, s"$base/v1", s"$base/v2", srcDf, Seq("id"),
      matched = Seq(Dml.WhenMatchedUpdate(lit(true),
        Map("qty" -> Dml.src("qty")))),
      notMatchedInsert = Some(lit(true)))
    val out = spark.read.parquet(s"$base/v2")
    assert(out.count() === 7) // 5 target + 2 NULL-key inserts
    assert(out.filter(col("id") === 2L).select("qty").as[Long].head() === 7L)
    assert(out.filter(col("id").isNull).select("qty").as[Long].collect().toSet
      === Set(100L, 200L))
    // TWO source rows with the SAME non-null key still fail loudly
    intercept[IllegalArgumentException] {
      Dml.mergeClauses(spark, s"$base/v2", s"$base/v3",
        Seq((Some(2L), 1L), (Some(2L), 2L)).toDF("id", "qty"), Seq("id"),
        Seq(Dml.WhenMatchedDelete(lit(true))))
    }
  }

  test("mergeClauses: a source column named _matched reaches clause conditions intact") {
    val base = Scratch.dir("graft_mcm_")
    (1L to 4L).map(i => (i, i * 10L)).toDF("id", "qty")
      .coalesce(1).write.parquet(s"$base/v1")
    // the rename maps _matched → __src__matched, which the OLD marker name
    // collided with (the withColumn replaced it with the constant true, so
    // every matched row read _matched as true) — ADVICE r13; with the
    // collision-proof marker, only the rows whose _matched is really true
    // take the clause
    val srcDf = Seq((1L, true), (2L, false), (3L, true))
      .toDF("id", "_matched")
    Dml.mergeClauses(spark, s"$base/v1", s"$base/v2", srcDf, Seq("id"),
      matched = Seq(Dml.WhenMatchedUpdate(Dml.src("_matched") === lit(true),
        Map("qty" -> lit(0L)))))
    val out = spark.read.parquet(s"$base/v2")
      .select("id", "qty").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 20L, 3L -> 0L, 4L -> 40L))
  }

  test("SQL DELETE semantics: NULL predicate rows are kept") {
    val base = Scratch.dir("graft_delnull_")
    Seq((1L, Some(5.0)), (2L, None), (3L, Some(50.0)))
      .toDF("id", "score")
      .coalesce(1).write.parquet(s"$base/v1")
    Dml.deleteWhere(spark, s"$base/v1", s"$base/v2", col("score") > 10.0)
    assert(spark.read.parquet(s"$base/v2").select("id").as[Long].collect().toSet ===
      Set(1L, 2L)) // NULL comparison is not TRUE → row 2 survives
  }

  test("mergeInto aligns update rows to the table schema; partial rows are loud (r16)") {
    val root = Scratch.dir("graft_mal_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 5L).map(i => (i, i * 100L, s"p_$i")).toDF("id", "v", "payload"))
    // updates carrying `v` as INT (a literal-built frame) must be cast to
    // the table's BIGINT before becoming pool files — uncast they commit
    // fine and poison every later read with a parquet type mismatch
    val updates = Seq((2, 7), (9, 9)).toDF("id", "v")
      .withColumn("payload", concat(lit("u_"), col("id")))
    assert(VersionedTable.mergeInto(spark, root, updates, Seq("id")) === 2)
    assert(VersionedTable.read(spark, root).as[(Long, Long, String)]
      .collect().toSet === Set(
        (1L, 100L, "p_1"), (2L, 7L, "u_2"), (3L, 300L, "p_3"),
        (4L, 400L, "p_4"), (5L, 500L, "p_5"), (9L, 9L, "u_9")))
    // whole-row replacement: a missing column would silently zero data
    assert(intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, root,
        Seq((3L, 1L)).toDF("id", "v"), Seq("id"))
    }.getMessage.contains("every table column"))
    assert(intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, root,
        updates.withColumn("extra", lit(1)), Seq("id"))
    }.getMessage.contains("schema lacks"))
  }

  test("insert-only mergeClauses rewrites NOTHING; reserved names are loud (r16)") {
    val base = Scratch.dir("graft_mio_")
    (1L to 20L).map(i => (i, s"p_$i")).toDF("id", "payload")
      .coalesce(2).write.parquet(s"$base/v1")
    val before = fileBytes(s"$base/v1")
    val src = Seq((5L, "x_5"), (50L, "x_50")).toDF("id", "payload")
    val plan = Dml.mergeClauses(spark, s"$base/v1", s"$base/v2", src,
      Seq("id"), matched = Nil, notMatchedInsert = Some(lit(true)))
    // no matched clause → no file holds an affected row → zero rewrites
    // (pre-fix, files holding key 5 decoded and re-encoded byte-identically)
    assert(plan.filter(col("rewritten")).count() === 0)
    val out = spark.read.parquet(s"$base/v2")
    assert(out.count() === 21)
    assert(out.filter(col("id") === 5L).select("payload").head().getString(0) === "p_5")
    assert(out.filter(col("id") === 50L).count() === 1)
    // byte-copied, not re-encoded
    before.foreach { case (name, bytes) =>
      assert(fileBytes(s"$base/v2").get(name).contains(bytes), s"$name re-encoded")
    }
    // a data column named __clause would be replaced by the clause index
    (1L to 3L).map(i => (i, i)).toDF("id", "__clause")
      .write.parquet(s"$base/r1")
    assert(intercept[IllegalArgumentException] {
      Dml.mergeClauses(spark, s"$base/r1", s"$base/r2",
        Seq((1L, 9L)).toDF("id", "__clause"), Seq("id"),
        matched = Seq(Dml.WhenMatchedUpdate(lit(true), Map("__clause" -> lit(0L)))))
    }.getMessage.contains("__clause"))
  }

  test("a data column named _probe_file cannot skew the affected-file probe (r16)") {
    val root = Scratch.dir("graft_pfp_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 10L).map(i => (i, s"f_$i")).toDF("id", "_probe_file"))
    assert(VersionedTable.mergeInto(spark, root,
      Seq((3L, "u_3")).toDF("id", "_probe_file"), Seq("id")) === 2)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      ((1L to 10L).map(i => (i, if (i == 3) "u_3" else s"f_$i")).toSet))
  }
}
