package graft.tools

import org.apache.spark.sql.functions._

/** Kill-target half of the versioned-table crash gate (r19, VERDICT r18
  * #5): a fresh JVM launched with `GRAFT_VT_PAUSE=<phase>` runs the verb
  * named by `mode` against the parent's table root and parks at the
  * matching [[graft.sources.VersionedTable]] pause point (dropping a
  * `_paused_<phase>` marker); the launching spec SIGKILLs it there and
  * asserts the protocol's crash anatomy. Never expected to exit on its
  * own — the spec treats a self-exit as a failed gate. Args:
  * `<tableRoot> <mode: delete|vacuum>`. */
object VersionedCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(root, mode) = args
    val spark = ChildJvm.session("graft-versioned-crash-child")
    val vt = graft.sources.VersionedTable
    mode match {
      case "delete" => // transact: pauses at pre-rename with a full claim staged
        vt.transact(spark, root) { (_, snap, stage) =>
          graft.sources.Dml.deleteWhereCore(spark, snap, stage, col("id") <= 10L)._2
        }
      case "vacuum" => // pauses at mid-vacuum with version dirs retired
        vt.vacuum(spark, root, keep = 1)
      case other => sys.error(s"unknown crash-child mode $other")
    }
    // unreachable under the pause env var; loud if the hook was skipped
    System.err.println(s"CRASH_CHILD_RAN_TO_COMPLETION mode=$mode")
    sys.exit(86)
  }
}
