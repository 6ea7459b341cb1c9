package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` ships the library and exactly four entry points: the bench and
  * verify mains, the calibration recorder behind
  * `Bench.CalibrationRecordedSec`, and the `PLANS.md` generator. A one-off
  * probe or measurement main belongs under `src/test` or outside the repo;
  * this spec fails when one lands in `src/main`. It also keeps scratch
  * placement and the AvailableNow run in the one module that owns them,
  * [[Scratch]], the walk through adaptive plans in
  * `graft.plans.PlanRuleSupport`, and Hadoop file reads, writes and atomic
  * replaces in `graft.sources.MetaFile`. */
class EntryPointsSpec extends AnyFunSuite {
  private val objectDecl = """\bobject\s+(\w+)""".r
  private val mainDecl = """\bdef\s+main\s*\(|\bextends\s+App\b""".r

  /** The object each `main` (or `App`) in `file` belongs to: the nearest
    * `object` declared before it. */
  private def mainObjects(file: Path): Iterator[String] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val objects = objectDecl.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
    mainDecl.findAllMatchIn(src).map(m =>
      objects.takeWhile(_._1 < m.start).lastOption.fold(s"<top level of $file>")(_._2))
  }

  test("src/main defines main only in Bench, Verify, CalibProbe and PlanDump") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(mainObjects).toList finally walk.close()
    assert(mains.sorted == List("Bench", "CalibProbe", "PlanDump", "Verify"))
  }

  /** `file: token` for every `banned` token in a `src/main` file other
    * than `owner`. */
  private def usesOutside(owner: String, banned: Seq[String]): List[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != owner)
      .flatMap { f =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        banned.filter(src.contains).map(b => s"$f: $b")
      }.toList finally walk.close()
  }

  test("src/main makes temp dirs and runs AvailableNow queries only through Scratch") {
    val hits = usesOutside("Scratch.scala",
      Seq("createTempDirectory", "createTempFile", "Trigger.AvailableNow"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main walks adaptive plans only through PlanRuleSupport") {
    val hits = usesOutside("PlanRuleSupport.scala",
      Seq("AdaptiveSparkPlanExec", "QueryStageExec"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main opens, creates and atomically replaces files only through MetaFile") {
    val hits = usesOutside("MetaFile.scala",
      Seq("fs.open(", "fs.create(", "fromInputStream(in", "Rename.OVERWRITE", "ATOMIC_MOVE"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
