package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** [[Scratch]] owns where scratch lives and how long it lives: every
  * directory is a fresh child of one per-JVM root under `java.io.tmpdir`,
  * the root is deleted when the JVM exits normally, and a query function's
  * scratch (drops, checkpoint, output) all lands under that root. */
class ScratchSpec extends SparkSpec {
  private def listed(d: Path): List[Path] = {
    val s = Files.list(d)
    try s.iterator.asScala.toList finally s.close()
  }

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()

  test("dirs are distinct, empty children of one root under java.io.tmpdir, also across threads") {
    val root = Paths.get(Scratch.root)
    assert(root.getParent.toRealPath() === tmp)
    assert(root.getFileName.toString.startsWith("graft_scratch_"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val dirs = try {
      val tasks = (1 to 2).map(_ => pool.submit(() => (1 to 50).map(_ => Scratch.dir("graft_t_"))))
      tasks.flatMap(_.get()).map(Paths.get(_))
    } finally pool.shutdown()
    assert(dirs.distinct.size === 100)
    dirs.foreach { d =>
      assert(d.getParent === root, d)
      assert(d.getFileName.toString.startsWith("graft_t_"), d)
      assert(Files.isDirectory(d) && listed(d).isEmpty, d)
    }
    assert(Scratch.root === root.toString) // one root per JVM
  }

  test("drop lands each write as one file of a flat drops directory, in write order") {
    val base = Scratch.dir("graft_drop_")
    Scratch.drop(spark.range(0, 100).toDF("id"), base, "b")
    Scratch.drop(spark.range(100, 250).toDF("id"), base, "a")
    assert(listed(Paths.get(base)).map(_.getFileName.toString) === List("drops"))
    val files = listed(Paths.get(base, "drops")).map(_.getFileName.toString).sorted
    assert(files.size === 2, files)
    assert(files(0).startsWith("0000-b-part-") && files(1).startsWith("0001-a-part-"), files)
    assert(spark.read.parquet(s"$base/drops").count() === 250L)
  }

  test("a child JVM's root is gone once it exits normally") {
    val (rc, out) = graft.tools.ChildJvm.run("1g", "graft.tools.ScratchChild")
    assert(rc == 0, s"child JVM failed (rc=$rc):\n${out.takeRight(4000)}")
    val dir = "(?m)^SCRATCH_DIR=(.+)$".r.findFirstMatchIn(out).map(m => Paths.get(m.group(1)))
      .getOrElse(fail(s"child printed no scratch dir:\n${out.takeRight(2000)}"))
    val childRoot = dir.getParent
    assert(childRoot.getFileName.toString.startsWith("graft_scratch_"), childRoot)
    assert(childRoot.toString !== Scratch.root)
    assert(!Files.exists(childRoot), s"$childRoot survived the child's exit")
  }

  test("stream_dedup_roundtrip stops its query and writes only under the root") {
    val root = Paths.get(Scratch.root)
    val rootBefore = listed(root).toSet
    val df = SparkEntry.queries("stream_dedup_roundtrip")(spark, sfDir)
    assert(df.collect().nonEmpty)
    assert(spark.streams.active.isEmpty)
    val made = listed(root).toSet -- rootBefore
    assert(made.size === 1, made)
    val base = made.head
    assert(base.getFileName.toString.startsWith("graft_stream_dedup_"))
    assert(listed(base).map(_.getFileName.toString).toSet === Set("drops", "out", "ckpt"))
    assert(listed(base.resolve("drops")).forall(Files.isRegularFile(_)))
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(f => Paths.get(new java.net.URI(f)).startsWith(base)),
      df.inputFiles.toSeq)
  }
}
