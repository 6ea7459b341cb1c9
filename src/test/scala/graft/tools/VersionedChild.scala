package graft.tools

import org.apache.spark.sql.functions._

/** Second-JVM half of the cross-process versioned-table gate (r18,
  * VERDICT r17 #6): a FRESH process binds the table root the parent
  * created, observes the parent's committed head through the `_latest`/
  * manifest protocol alone, commits a file-selective DELETE and an
  * append, then VACUUMS past the parent's oldest version — while the
  * parent holds a reader pinned at a version this vacuum must retain.
  * Exits non-zero on any failed expectation; the launching spec asserts
  * the exit code and the `CHILD_OK` marker. Args: `<tableRoot>`. */
object VersionedChild {
  def main(args: Array[String]): Unit = {
    val Array(root) = args
    val spark = ChildJvm.session("graft-versioned-child")
    try {
      import spark.implicits._
      val vt = graft.sources.VersionedTable
      // the parent's two commits are this process's visible history
      require(vt.latestVersion(spark, root) == 2,
        s"child sees head ${vt.latestVersion(spark, root)}, want 2")
      require(vt.read(spark, root).count() == 100L, "child read head != 100 rows")
      // file-selective DML: the range-partitioned layout means this delete
      // rewrites one file and carries three by reference
      val v3 = vt.deleteWhere(spark, root, col("id") <= 10L)
      require(v3 == 3, s"delete committed v$v3, want 3")
      val v4 = vt.insertInto(spark, root,
        (201L to 205L).map(i => (i, s"c_$i")).toDF("id", "payload"))
      require(v4 == 4, s"insert committed v$v4, want 4")
      // vacuum past the parent's v1 while the parent's pinned reader sits
      // at v2 — keep=3 retains exactly {2,3,4}
      val dropped = vt.vacuum(spark, root, keep = 3)
      require(dropped == Seq(1), s"vacuum dropped $dropped, want Seq(1)")
      println(s"CHILD_OK v3=$v3 v4=$v4 dropped=${dropped.mkString(",")}")
    } finally spark.stop()
  }
}
