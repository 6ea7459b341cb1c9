package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** How a table's small metadata files live on its filesystem — the one
  * place that reads, writes and replaces them. The versioned table
  * (`_latest`, manifests and segments, the `_schema` entries,
  * `_constraints`, `_last_batch`), its stats store (`_stats/columns`,
  * `_stats/bloom`), the SQL catalog file, the SCD2 `_commit` and the
  * applied-version markers all go through here; each owner still parses
  * its own records. This module knows only bytes, existence and
  * atomicity:
  *
  *  - a file is UTF-8 lines, each newline-terminated; no lines is one
  *    empty line, `"\n"` — the bytes of an empty constraint log, catalog
  *    or manifest list, which the owners' parsers skip;
  *  - a missing file reads as `None`;
  *  - [[write]] overwrites in place, [[create]] throws if the file exists;
  *  - [[swap]]/[[readSwapped]] is the roll-forward protocol of `_latest`
  *    and `_commit`;
  *  - [[replace]] is the atomic overwriting replace. */
private[graft] object MetaFile {

  /** The filesystem `root` lives on, and `root` as a path. */
  def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def encode(lines: Seq[String]): Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes("UTF-8")

  /** The file's text, or None when it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  private def put(fs: FileSystem, p: Path, lines: Seq[String],
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(encode(lines)) finally out.close()
  }

  /** Write `lines` to `p`, truncating any file already there. */
  def write(fs: FileSystem, p: Path, lines: Seq[String]): Unit =
    put(fs, p, lines, overwrite = true)

  /** Write `lines` to a NEW file `p`; throws if `p` already exists. */
  def create(fs: FileSystem, p: Path, lines: Seq[String]): Unit =
    put(fs, p, lines, overwrite = false)

  /** Publish `lines` as `p` through `<name>.tmp`: write the tmp, delete
    * `p`, rename. A crash between the delete and the rename leaves only the
    * complete tmp, which [[readSwapped]] rolls forward. */
  def swap(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val tmp = p.suffix(".tmp")
    write(fs, tmp, lines)
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** [[read]] of a file published by [[swap]]: a tmp left without its
    * target is renamed forward first, so a committed value is never lost. */
  def readSwapped(fs: FileSystem, p: Path): Option[String] = {
    val tmp = p.suffix(".tmp")
    if (!fs.exists(p) && fs.exists(tmp)) fs.rename(tmp, p)
    read(fs, p)
  }

  /** Replace `p` with `lines` ATOMICALLY: a reader sees the old or the new
    * bytes, never a missing or torn file, and a crash leaves the old file
    * intact (plus a `.<name>.tmp_<uuid>` orphan, which the owner sweeps).
    *
    * On a local filesystem Hadoop's OVERWRITE rename is delete-then-rename
    * inside (a reader window), so the tmp is written and moved with
    * POSIX-atomic nio, bypassing the checksummed LocalFileSystem. A `.crc`
    * left by an earlier `fs.create` matches the OLD bytes: it is dropped
    * BEFORE the move (a crc-less file reads fine; new bytes under the old
    * crc would fail a reader in the window after the move), and loudly —
    * a swallowed failure here would break every later read. Other stores
    * rename through FileContext, which is atomic server-side. */
  def replace(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp_${java.util.UUID.randomUUID()}")
    fs.mkdirs(p.getParent)
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      val crc = new Path(p.getParent, s".${p.getName}.crc")
      if (fs.exists(crc)) fs.delete(crc, false)
      Files.write(Paths.get(tmp.toUri.getPath), encode(lines))
      Files.move(Paths.get(tmp.toUri.getPath), Paths.get(p.toUri.getPath),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      write(fs, tmp, lines)
      FileContext.getFileContext(p.toUri, fs.getConf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }
}
