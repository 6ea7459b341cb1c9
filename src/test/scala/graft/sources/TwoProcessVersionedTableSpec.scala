package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.tools.ChildJvm

/** The versioned-table protocol proven across a REAL process boundary
  * (r18, VERDICT r17 #6 — the TwoProcessCatalogSpec treatment for
  * `VersionedTable` itself): a reader PINNED in this process (the file
  * list resolves at DataFrame construction — the plan-time pin) must keep
  * serving its exact snapshot across a second JVM's commits AND its
  * vacuum, because the pinned version stays inside the child's retention
  * horizon and its files carry by reference; a vacuumed version must fail
  * loudly; and the child's head movement must be visible here through the
  * `_latest`/manifest reads alone — no shared memory, no cache pokes. */
class TwoProcessVersionedTableSpec extends SparkSpec {
  import spark.implicits._

  /** Launch the kill-target child parked at `phase` via the pause hook;
    * returns the process and the pause-marker file the parent polls. The
    * child's output goes to a temp file (never read on success — the pipe
    * must not be able to fill and deadlock a process we intend to kill). */
  private def spawnCrashChild(root: String, mode: String,
      phase: String): (Process, java.io.File) = {
    val pb = new ProcessBuilder(
      ChildJvm.command("3g", "graft.tools.VersionedCrashChild", root, mode): _*)
    pb.environment().put("GRAFT_VT_PAUSE", phase)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(Scratch.dir("graft_crash_child_"), "child.log"))
    (pb.start(), new java.io.File(root, s"_paused_$phase"))
  }

  /** Poll until the child parks at its pause marker, then SIGKILL it. */
  private def killAtPause(p: Process, marker: java.io.File): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (!marker.exists() && p.isAlive && System.currentTimeMillis() < deadline)
      Thread.sleep(200L)
    assert(marker.exists(),
      s"child never reached the pause point (alive=${p.isAlive})")
    p.destroyForcibly()
    p.waitFor()
    marker.delete()
  }

  test("SIGKILL between staging write and the commit rename: no torn state, next writer recovers, aged carcass reclaimed (r19)") {
    val root = Scratch.dir("graft_2proc_crash1_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")))
    VersionedTable.updateWhere(spark, root, col("id") === 50L,
      Map("payload" -> lit("p_50_v2")))
    val pinned = VersionedTable.read(spark, root) // plan-time pin at v2
    assert(pinned.count() === 100L)

    // the child stages a full transact delete — pool moves done, claim
    // manifest + _txn marker written — and dies BEFORE the commit rename
    val (p, marker) = spawnCrashChild(root, "delete", "pre-rename")
    killAtPause(p, marker)

    // readers never see the torn commit: fresh head and pinned plan alike
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.read(spark, root).count() === 100L)
    assert(pinned.count() === 100L)
    val (fs, _) = MetaFile.fsOf(spark, root)
    def staging() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
      .filter(n => n.startsWith(".txn_") || n.startsWith(".claim_")).toSet
    val orphans = staging()
    assert(orphans.nonEmpty, "the kill must leave staging orphans behind")

    // the next writer claims v3 unobstructed by the carcass
    assert(VersionedTable.deleteWhere(spark, root, col("id") > 95L) === 3)
    assert(VersionedTable.read(spark, root).count() === 95L)

    // the FRESH carcass survives the sweep (it could be a live writer the
    // vacuum cannot see — the age gate's whole point) ...
    VersionedTable.vacuum(spark, root, keep = 5)
    assert(staging() === orphans)
    assert(VersionedTable.read(spark, root).count() === 95L)
    // ... and is reclaimed once every mtime in its subtree ages out
    def backdate(path: org.apache.hadoop.fs.Path): Unit = {
      if (fs.getFileStatus(path).isDirectory)
        fs.listStatus(path).foreach(c => backdate(c.getPath))
      fs.setTimes(path, System.currentTimeMillis() - 16 * 60 * 1000L, -1L)
    }
    orphans.foreach(n => backdate(new org.apache.hadoop.fs.Path(root, n)))
    VersionedTable.vacuum(spark, root, keep = 5)
    assert(staging().isEmpty, s"aged carcass must be reclaimed, got ${staging()}")
    assert(VersionedTable.read(spark, root).count() === 95L)
    assert(pinned.count() === 100L) // v2 retained throughout
  }

  test("SIGKILL mid-vacuum: retained versions stay readable and the next vacuum completes the reclaim (r19)") {
    val root = Scratch.dir("graft_2proc_crash2_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")))
    VersionedTable.deleteWhere(spark, root, col("id") > 90L) // v2
    VersionedTable.deleteWhere(spark, root, col("id") > 80L) // v3

    // the child's vacuum(keep=1) retires the v1/v2 dirs and dies BEFORE
    // the reachability sweep
    val (p, marker) = spawnCrashChild(root, "vacuum", "mid-vacuum")
    killAtPause(p, marker)

    // the head (the only retained version) reads intact; the retired
    // versions are gone as versions, not torn
    assert(VersionedTable.latestVersion(spark, root) === 3)
    assert(VersionedTable.read(spark, root).count() === 80L)
    intercept[Exception] { VersionedTable.read(spark, root, Some(1)).count() }
    intercept[Exception] { VersionedTable.read(spark, root, Some(2)).count() }

    // the next vacuum completes the interrupted reclaim: afterwards the
    // manifest store holds exactly the head's segments and the pool
    // exactly its referenced files
    VersionedTable.vacuum(spark, root, keep = 1)
    assert(VersionedTable.read(spark, root).count() === 80L)
    val (fs, _) = MetaFile.fsOf(spark, root)
    val liveSegs = VersionedTable.snapshotSegRefs(spark, root, 3).map(_.name).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
      .map(_.getPath.getName).filter(_.startsWith("seg_")).toSet
    assert(onDisk === liveSegs)
  }

  test("a parent-pinned reader survives a second JVM's commits and vacuum; the vacuumed version dies loudly") {
    val root = Scratch.dir("graft_2proc_vt_") + "/t"
    VersionedTable.create(spark, root,
      (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")))
    VersionedTable.updateWhere(spark, root, col("id") === 50L,
      Map("payload" -> lit("p_50_v2")))
    assert(VersionedTable.latestVersion(spark, root) === 2)

    // plan-time pins taken BEFORE the child exists: the head (v2) and the
    // about-to-be-vacuumed v1 — both DataFrames hold their file lists now
    val pinnedHead = VersionedTable.read(spark, root)
    val pinnedV1 = VersionedTable.read(spark, root, Some(1))
    assert(pinnedHead.count() === 100L) // materialized pre-child

    val (rc, out) = ChildJvm.run("3g", "graft.tools.VersionedChild", root)
    assert(rc == 0, s"child JVM failed (rc=$rc):\n${out.takeRight(4000)}")
    assert(out.contains("CHILD_OK v3=3 v4=4 dropped=1"), out.takeRight(1000))

    // the child's head is this process's current version, through the
    // _latest/manifest protocol alone
    assert(VersionedTable.latestVersion(spark, root) === 4)
    val head = VersionedTable.read(spark, root)
    assert(head.count() === 95L) // 100 - 10 deleted + 5 inserted
    assert(head.filter(col("id") <= 10L).count() === 0L)
    assert(head.filter(col("id") >= 201L).count() === 5L)

    // reader-pin semantics: the v2 pin still serves EXACTLY its snapshot —
    // the child's delete rewrote one file into the pool and its vacuum
    // retained v2, so every pinned path is alive and content-identical
    assert(pinnedHead.count() === 100L)
    assert(pinnedHead.filter(col("id") === 50L).select("payload")
      .head().getString(0) === "p_50_v2")
    assert(pinnedHead.filter(col("id") <= 10L).count() === 10L) // pre-delete rows

    // time travel to a RETAINED version works cross-process...
    assert(VersionedTable.read(spark, root, Some(2)).count() === 100L)
    assert(VersionedTable.changes(spark, root, 2, 4, Seq("id"))
      .filter(col("change_type") === "delete").count() === 10L)
    // ...the vacuumed v1 fails loudly, both as a fresh time travel and
    // through the stale pre-vacuum pin (its rewritten file left the pool)
    intercept[Exception] { VersionedTable.read(spark, root, Some(1)).count() }
    intercept[Exception] { pinnedV1.count() }
  }
}
