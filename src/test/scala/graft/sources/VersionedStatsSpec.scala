package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField, StringType}

import graft.{Scratch, SparkSpec}
import graft.sources.SkippingIndex.Box

/** Versioned data-skipping stats: per-version stats tables maintained
  * incrementally through the commit protocol (carried for byte-copied
  * files, scanned only for new names), pruning soundness, crash-safe
  * publication, and behavior across schema evolution. */
class VersionedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(prefix: String): String = {
    val root = Scratch.dir(prefix) + "/t"
    // 4 range-tight files on id: [1..25] [26..50] [51..75] [76..100]
    val df = (1L to 100L).map(i => (i, s"p_$i", i % 7)).toDF("id", "payload", "grp")
      .repartitionByRange(4, col("id"))
    VersionedTable.create(spark, root, df)
    root
  }

  test("enable builds per-file min/max; prunedRead opens only admitted files and matches the exact filter") {
    val root = mkTable("graft_vs_")
    assert(VersionedStats.enable(spark, root, Seq("id")) === 1)
    val stats = VersionedStats.statsFor(spark, root, 1)
      .select("id_min", "id_max", "n_rows")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(stats.length === 4 && stats.map(_._3).sum === 100L)
    // files tile the range without overlap
    assert(stats.sliding(2).forall { case Array(a, b) => a._2 < b._1; case _ => true })
    // a box inside one file's range admits exactly that file
    val survivors = VersionedStats.survivingNames(spark, root, 1, Seq(Box("id", 30L, 40L)))
    assert(survivors.size === 1)
    val pruned = VersionedStats.prunedRead(spark, root, Seq(Box("id", 30L, 40L)))
    assert(pruned.select("id").as[Long].collect().toSet === (30L to 40L).toSet)
    // a box admitting nothing returns an empty frame with the table schema
    val empty = VersionedStats.prunedRead(spark, root, Seq(Box("id", 1000L, 2000L)))
    assert(empty.count() === 0 && empty.columns.toSet === Set("id", "payload", "grp"))
  }

  test("refresh carries stats for surviving names without rescanning (sentinel survives), scans only new names, drops vanished ones") {
    val root = mkTable("graft_vs_inc_")
    VersionedStats.enable(spark, root, Seq("id"))
    def names(v: Int) = VersionedTable.snapshotFiles(spark, root, v).toSet
    // a delete confined to the first file's range rewrites exactly one file
    assert(VersionedTable.deleteWhere(spark, root, col("id") <= 10L) === 2)
    val (v1, v2) = (names(1), names(2))
    val carriedExp = v1.intersect(v2)
    assert(carriedExp.size === 3 && (v2 -- v1).size === 1)
    // sentinel: tamper the prior stats of one carried file (n_rows is not
    // used for pruning); if refresh rescans instead of carrying, the
    // sentinel is lost
    val tampered = carriedExp.head
    val prior = VersionedStats.statsFor(spark, root, 1).collect().toSeq
    val schema = VersionedStats.statsFor(spark, root, 1).schema
    val poked = prior.map { r =>
      if ((r.getString(0), r.getString(1)) == tampered)
        org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(
          schema.fieldIndex("n_rows"), 999999L))
      else r
    }
    import scala.jdk.CollectionConverters._
    val (fs, _) = MetaFile.fsOf(spark, root)
    val sdir = new org.apache.hadoop.fs.Path(VersionedStats.statsDir(root, 1))
    fs.delete(sdir, true)
    spark.createDataFrame(poked.asJava, schema).coalesce(1).write.parquet(sdir.toString)

    val dec = VersionedStats.refresh(spark, root)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getString(2))).toMap
    assert(dec.filter(_._2 == "carried").keySet === carriedExp)
    assert(dec.filter(_._2 == "scanned").keySet === (v2 -- v1))
    assert(dec.filter(_._2 == "dropped").keySet === (v1 -- v2))
    val s2 = VersionedStats.statsFor(spark, root, 2)
    assert(s2.filter(col("n_rows") === 999999L).count() === 1)
    // the freshly scanned file's stats reflect the delete
    assert(s2.agg(min("id_min")).as[Long].head() === 11L)
    // pruning over the new version still matches the exact filter
    val pruned = VersionedStats.prunedRead(spark, root, Seq(Box("id", 1L, 30L)))
    assert(pruned.select("id").as[Long].collect().toSet === (11L to 30L).toSet)
    // a second refresh on a current table is a no-op: nothing scanned
    val dec2 = VersionedStats.refresh(spark, root)
    assert(dec2.filter(col("action") =!= "carried").count() === 0)
  }

  test("null stats keep the file; multi-box conjunction prunes on every box") {
    val root = Scratch.dir("graft_vs_null_") + "/t"
    val withVal = (1L to 20L).map(i => (i, Some(i * 10L))).toDF("id", "v")
      .repartitionByRange(2, col("id"))
    val allNull = Seq((100L, None: Option[Long]), (101L, None)).toDF("id", "v")
      .coalesce(1)
    // union concatenates partitions: 2 range-tight valued files + 1 all-null file
    VersionedTable.create(spark, root, withVal.unionByName(allNull))
    VersionedStats.enable(spark, root, Seq("id", "v"))
    // the all-null-v file has null v stats and must survive any v box
    val survivors = VersionedStats.survivingNames(spark, root, 1,
      Seq(Box("v", 5000L, 6000L)))
    val s = VersionedStats.statsFor(spark, root, 1)
    assert(s.filter(col("v_min").isNull).count() === 1)
    assert(survivors.size === 1) // only the null-stats file survives
    // conjunction: id box admits one file, v box admits another → intersection empty
    assert(VersionedStats.prunedRead(spark, root,
      Seq(Box("id", 1L, 5L), Box("v", 150L, 190L))).count() === 0)
    // consistent boxes return the exact rows
    assert(VersionedStats.prunedRead(spark, root,
      Seq(Box("id", 1L, 5L), Box("v", 10L, 50L)))
      .select("id").as[Long].collect().toSet === (1L to 5L).toSet)
  }

  test("partition-column stats subsume partition pruning") {
    val root = Scratch.dir("graft_vs_part_") + "/t"
    val df = (1L to 60L).map(i => (i, i % 3)).toDF("id", "bucket")
    VersionedTable.create(spark, root, df, Seq("bucket"))
    VersionedStats.enable(spark, root, Seq("bucket", "id"))
    val survivors = VersionedStats.survivingNames(spark, root, 1,
      Seq(Box("bucket", 1L, 1L)))
    assert(survivors.nonEmpty && survivors.forall(_._1 == "bucket=1"))
    assert(VersionedStats.prunedRead(spark, root, Seq(Box("bucket", 1L, 1L)))
      .select("id").as[Long].collect().toSet === (1L to 60L).filter(_ % 3 == 1).toSet)
  }

  test("cluster (OPTIMIZE ZORDER) commits a row-identical snapshot whose 2-D pruning strictly improves") {
    val root = Scratch.dir("graft_vs_zo_") + "/t"
    // v1 sorted on a ONLY: a narrow b box can't prune an a-ranged layout
    // beyond what the (wide) a box already does
    val df = (0L until 1024L).map(i => (i, (i * 37) % 97)).toDF("a", "b")
      .repartitionByRange(16, col("a"))
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("a", "b"))
    val boxes = Seq(Box("b", 10L, 30L))
    val before = VersionedStats.survivingNames(spark, root, 1, boxes).size
    assert(before === 16) // b is spread across every a-ranged file
    assert(VersionedTable.cluster(spark, root, Seq("a", "b"),
      bits = 6, numFiles = 16) === 2)
    assert(VersionedTable.changes(spark, root, 1, 2, Seq("a")).isEmpty)
    val dec = VersionedStats.refresh(spark, root)
    assert(dec.filter(col("action") === "carried").count() === 0)
    val after = VersionedStats.survivingNames(spark, root, 2, boxes).size
    assert(after < before, s"$after !< $before")
    val got = VersionedStats.prunedRead(spark, root, boxes)
      .select("a").as[Long].collect().toSet
    assert(got === (0L until 1024L).filter(i => { val b = (i * 37) % 97; b >= 10 && b <= 30 }).toSet)
    // a partitioned table clusters WITHIN each partition; clustering on a
    // partition column is rejected (constant within its directory)
    val root2 = Scratch.dir("graft_vs_zo2_") + "/t"
    VersionedTable.create(spark, root2,
      (1L to 200L).map(i => (i, (i * 37) % 97, i % 2)).toDF("id", "w", "p"),
      Seq("p"))
    VersionedStats.enable(spark, root2, Seq("id", "w"))
    assert(VersionedTable.cluster(spark, root2, Seq("id", "w"),
      bits = 6, numFiles = 2) === 2)
    assert(VersionedTable.changes(spark, root2, 1, 2, Seq("id")).isEmpty)
    val dirs2 = VersionedTable.snapshotFiles(spark, root2, 2).map(_._1).toSet
    assert(dirs2 === Set("p=0", "p=1")) // rows never leave their partition
    VersionedStats.refresh(spark, root2)
    val sv = VersionedStats.prunedRead(spark, root2, Seq(Box("w", 10L, 30L)))
    assert(sv.select("id").as[Long].collect().toSet ===
      (1L to 200L).filter(i => { val w = (i * 37) % 97; w >= 10 && w <= 30 }).toSet)
    intercept[IllegalArgumentException] {
      VersionedTable.cluster(spark, root2, Seq("id", "p"))
    }
  }

  test("bloom point skipping: unsorted point lookups open only bloom-admitted files; refresh maintains blooms") {
    val root = Scratch.dir("graft_vs_bloom_") + "/t"
    // hash-shuffled layout: every file's [min,max] spans ~the whole id
    // domain, so a point lookup is exactly the case min/max can't prune
    val df = (1L to 4000L).map(i => (i, s"p_$i")).toDF("id", "payload").repartition(8)
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("id"))
    assert(VersionedStats.enableBlooms(spark, root, Seq("id"),
      expectedItemsPerFile = 4096, fpp = 0.001) === 1)
    // min/max admits all 8 files for any in-domain point; the bloom keeps
    // (essentially) only the one file that actually holds the value
    val names = VersionedStats.survivingNamesForPoint(spark, root, 1, "id", 1234L)
    assert(names.nonEmpty && names.size < 8, s"bloom must reject files (kept ${names.size}/8)")
    val got = VersionedStats.pointRead(spark, root, "id", 1234L)
      .select("payload").as[String].collect().toSeq
    assert(got === Seq("p_1234"))
    // an out-of-domain probe opens nothing and returns the empty frame
    assert(VersionedStats.pointRead(spark, root, "id", 999999L).isEmpty)
    // DML + refresh: rewritten files get fresh blooms, carried files keep
    // theirs; the deleted value's new bloom no longer admits it
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 2000L) === 2)
    VersionedStats.refresh(spark, root)
    val v2 = VersionedStats.survivingNamesForPoint(spark, root, 2, "id", 1234L)
    assert(v2.nonEmpty && v2.size < 8)
    assert(VersionedStats.pointRead(spark, root, "id", 1234L).count() === 1L)
    assert(VersionedStats.pointRead(spark, root, "id", 2000L).isEmpty)
    // blooms on a non-indexed column are rejected loudly
    intercept[IllegalArgumentException] {
      VersionedStats.enableBlooms(spark, root, Seq("payload"))
    }
  }

  test("crash-safe publication: a tmp orphan is swept, an already-published replay is a no-op") {
    val root = mkTable("graft_vs_crash_")
    VersionedStats.enable(spark, root, Seq("id"))
    VersionedTable.deleteWhere(spark, root, col("id") > 90L)
    // plant a crashed half-written tmp for v2 — STALE by mtime, the sweep's
    // criterion (a young tmp may be another PROCESS's live staging write
    // the per-root lock cannot see, so age is what proves it dead)
    val (fs, _) = MetaFile.fsOf(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/_stats/.tmp_v00002")
    fs.mkdirs(tmp)
    val junk = fs.create(new org.apache.hadoop.fs.Path(tmp, "part-junk.parquet"), true)
    junk.write(Array[Byte](1, 2, 3)); junk.close()
    fs.setTimes(tmp, System.currentTimeMillis() - 3600 * 1000L, -1)
    // and a FRESH tmp — possibly live in another process, must survive
    val live = new org.apache.hadoop.fs.Path(s"$root/_stats/.tmp_v00002_live")
    fs.mkdirs(live)
    VersionedStats.refresh(spark, root)
    assert(!fs.exists(tmp), "the stale crashed orphan must be swept")
    assert(fs.exists(live), "a fresh tmp (another process's live write) must survive")
    fs.delete(live, true)
    assert(VersionedStats.statsFor(spark, root, 2)
      .agg(sum("n_rows")).as[Long].head() === 90L)
    // replay: refresh again must not disturb the published table
    VersionedStats.refresh(spark, root)
    assert(VersionedStats.stattedVersions(spark, root) === Seq(1, 2))
  }

  test("schema evolution: fresh scans run under the evolved schema, carried rows align, evolved-column stats are null for old files") {
    val root = mkTable("graft_vs_evo_")
    VersionedStats.enable(spark, root, Seq("id"))
    VersionedTable.evolve(spark, root,
      StructType(Seq(StructField("tag", StringType))))
    // backfill touches the first file only → one fresh scan under evolved schema
    VersionedTable.updateWhere(spark, root, col("id") <= 10L,
      Map("tag" -> lit("early")))
    val dec = VersionedStats.refresh(spark, root)
    assert(dec.filter(col("action") === "scanned").count() === 1)
    val pruned = VersionedStats.prunedRead(spark, root, Seq(Box("id", 5L, 12L)))
    assert(pruned.columns.contains("tag"))
    assert(pruned.filter(col("tag") === "early").count() === 6) // ids 5..10
    assert(pruned.filter(col("tag").isNull).count() === 2)      // ids 11..12
    // guards
    intercept[IllegalArgumentException] {
      VersionedStats.prunedRead(spark, root, Seq(Box("payload", "a", "b")))
    }
    intercept[IllegalStateException] {
      VersionedStats.refresh(spark, Scratch.dir("graft_vs_none_"))
    }
    // dropping an INDEXED column invalidates the index with the remedy
    VersionedTable.dropColumns(spark, root, Seq("id"))
    val e = intercept[IllegalArgumentException] { VersionedStats.refresh(spark, root) }
    assert(e.getMessage.contains("re-enable"))
  }
}
