package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.{Scratch, SparkSpec}
import graft.etl.Scd2

/** The one metadata-file module: its exact bytes, create-once, the
  * roll-forward of a torn swap as the two owners of that protocol see it,
  * and the atomic replace over a stale Hadoop checksum. */
class MetaFileSpec extends SparkSpec {
  import spark.implicits._

  private def bytesOf(p: Path): String =
    new String(Files.readAllBytes(Paths.get(p.toUri.getPath)), "UTF-8")

  test("lines are UTF-8, each newline-terminated, however they are written; no lines is one empty line") {
    val (fs, dir) = MetaFile.fsOf(spark, Scratch.dir("graft_meta_bytes_"))
    val writers = Seq[(Path, Seq[String]) => Unit](
      MetaFile.write(fs, _, _), MetaFile.replace(fs, _, _), MetaFile.swap(fs, _, _))
    for ((lines, expect) <- Seq(Nil -> "\n", Seq("7") -> "7\n", Seq("a\tb", "", "é") -> "a\tb\n\né\n");
         (put, i) <- writers.zipWithIndex) {
      val p = new Path(dir, s"f${lines.size}_$i")
      put(p, lines)
      assert(bytesOf(p) === expect, p)
      assert(MetaFile.read(fs, p).contains(expect), p)
    }
    assert(MetaFile.read(fs, new Path(dir, "absent")).isEmpty)
  }

  test("a create-once write over an existing file throws and keeps the old bytes") {
    val (fs, dir) = MetaFile.fsOf(spark, Scratch.dir("graft_meta_once_"))
    val p = new Path(dir, "seg")
    MetaFile.create(fs, p, Seq("first"))
    intercept[java.io.IOException](MetaFile.create(fs, p, Seq("second")))
    assert(MetaFile.read(fs, p).contains("first\n"))
  }

  /** Leave `root/name` as a crash between the swap's delete and rename
    * does: only `name.tmp`. Returns the check that the committed bytes
    * were rolled back into place. */
  private def tear(root: String, name: String): () => Unit = {
    val (fs, rootP) = MetaFile.fsOf(spark, root)
    val (p, tmp) = (new Path(rootP, name), new Path(rootP, s"$name.tmp"))
    val committed = bytesOf(p)
    assert(fs.rename(p, tmp))
    () => assert(fs.exists(p) && !fs.exists(tmp) && bytesOf(p) == committed)
  }

  test("a torn _latest swap reads as the tmp and is rolled into place") {
    val root = Scratch.dir("graft_meta_latest_") + "/t"
    VersionedTable.create(spark, root, (1L to 4L).map(i => (i, s"p$i")).toDF("id", "p"))
    VersionedTable.deleteWhere(spark, root, $"id" > 3L)
    val rolled = tear(root, "_latest")
    assert(VersionedTable.latestVersion(spark, root) === 2)
    rolled()
    assert(VersionedTable.read(spark, root).count() === 3)
  }

  test("a torn SCD2 _commit swap reads as the tmp and is rolled into place") {
    val root = Scratch.dir("graft_meta_commit_") + "/h"
    def fold(rows: Seq[(Long, String)], asOf: String) =
      Scd2.foldSnapshot(spark, rows.toDF("id", "name"), asOf, Seq("id"), Seq("name"), root)
    fold(Seq((1L, "a"), (2L, "b")), "2020-01-01 00:00:00")
    fold(Seq((1L, "a2")), "2020-02-01 00:00:00")
    def history = Scd2.readHistory(spark, root)
      .select($"id", $"name", $"valid_to".isNull).collect().toSet
    val before = history
    val rolled = tear(root, "_commit")
    assert(history === before)
    rolled()
    assert(!fold(Seq((1L, "a2")), "2020-02-01 00:00:00")) // still the committed fold
  }

  test("a replace over a file carrying a stale Hadoop .crc reads back the new bytes") {
    val (fs, dir) = MetaFile.fsOf(spark, Scratch.dir("graft_meta_crc_"))
    val (p, crc) = (new Path(dir, "_constraints"), new Path(dir, "._constraints.crc"))
    MetaFile.write(fs, p, Seq("old"))
    assert(fs.exists(crc)) // the checksummed local filesystem wrote one
    MetaFile.replace(fs, p, Seq("c1\tx > 0", "c2\ty IS NOT NULL"))
    assert(MetaFile.read(fs, p).contains("c1\tx > 0\nc2\ty IS NOT NULL\n"))
    assert(!fs.exists(crc))
  }
}
