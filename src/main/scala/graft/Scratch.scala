package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Where the library's scratch lives and how long it lives.
  *
  * Every temp directory a query function writes (stream drops and
  * checkpoints, versioned-table roundtrips, MV and index scenarios) is a
  * child of ONE per-JVM root, `graft_scratch_*` under `java.io.tmpdir`,
  * created on first use. The root lives exactly as long as the JVM: one
  * shutdown hook deletes it after Spark's own hook has stopped the context
  * (the lifetime Spark gives its temp dirs), so a returned `DataFrame` that
  * lazily reads scratch stays valid until exit, and no caller deletes
  * anything. A JVM killed by SIGKILL runs no hook and leaves its one root
  * behind. Scratch is never output: durable results go through
  * `Sources.materialize` or `BiExport` to a caller-chosen path.
  *
  * The AvailableNow streaming roundtrips run through [[availableNow]], the
  * one place that starts, bounds and fails such a query. */
object Scratch {
  // Spark registers its shutdown hook (which stops the SparkContext) at
  // FileSystem.SHUTDOWN_HOOK_PRIORITY + 30; higher priorities run first
  private val HookPriority = org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20

  private lazy val rootPath: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile), HookPriority)
    r
  }

  /** The per-JVM root every [[dir]] lives under. */
  def root: String = rootPath.toString

  /** A fresh, empty directory under the root, named `prefix` + a unique
    * suffix. */
  def dir(prefix: String): String = Files.createTempDirectory(rootPath, prefix).toString

  /** Land `df` as one more file of the flat drop directory `$base/drops`:
    * written `coalesce(1)` to a staging directory, its part file moved in
    * under a name that sorts after every earlier drop, the staging removed.
    * A flat directory of files is what a file stream source and a batch
    * read both take as-is; `name` tags the file for a reader of the dir. */
  def drop(df: DataFrame, base: String, name: String): Unit = {
    val staging = Paths.get(base, s"_staging_$name")
    df.coalesce(1).write.parquet(staging.toString)
    val drops = Files.createDirectories(Paths.get(base, "drops"))
    val seq = drops.toFile.list().length
    staging.toFile.listFiles().filter(_.getName.startsWith("part-")).foreach(f =>
      Files.move(f.toPath, drops.resolve(f"$seq%04d-$name-${f.getName}")))
    org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
  }

  /** Run a streaming query to completion under the AvailableNow trigger:
    * `start` receives the trigger and starts the query; if it has not
    * terminated within 300 s it is stopped and `label` named in the error,
    * so a partial output never reaches a caller as a wrong answer. A query
    * that fails rethrows its error from the await. */
  def availableNow(label: String)(start: Trigger => StreamingQuery): Unit = {
    val query = start(Trigger.AvailableNow())
    if (!query.awaitTermination(300000L)) {
      query.stop()
      throw new IllegalStateException(
        s"$label did not finish within 300 s; its output is partial")
    }
  }
}
