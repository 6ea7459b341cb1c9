package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{expressions => ge}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Versioned data-skipping statistics — [[SkippingIndex]] composed with the
  * [[VersionedTable]] commit protocol: the manifest-stats layer every
  * production table format (Delta/Iceberg) maintains, here as a per-version
  * stats table published alongside each snapshot.
  *
  * Layout under the table root:
  * {{{
  *   <root>/_stats/columns      the indexed column names, one per line
  *   <root>/_stats/v00007/      parquet stats table for snapshot v00007:
  *                              (part, file_id, n_rows, <c>_min, <c>_max …)
  * }}}
  *
  * The scale contract is INCREMENTAL maintenance. The copy-on-write DML ops
  * never modify a data file in place: a file either survives a commit under
  * the SAME relative name (byte-copied / manifest-shared — byte-identical by
  * protocol) or is replaced by a freshly-written file under a NEW name. So a
  * [[refresh]] from the last statted version to the head carries stats rows
  * forward for every surviving name, scans ONLY names it has never seen, and
  * drops names no longer on disk — a commit that rewrote 10 files of an
  * 80 000-file table re-stats 10 files, and the scan reads only the indexed
  * columns of those. Both file listings are driver-resident metadata (the
  * shape every planner's file index already holds).
  *
  * [[prunedRead]] is the serving side: the version's stats table is
  * consulted like a manifest, only admitted files are handed to the reader
  * (with the exact predicate re-applied on top — file stats are necessary,
  * not sufficient), and an evolved table reads under its
  * [[VersionedTable.effectiveSchema]] as usual. Indexing a PARTITION column
  * works too (its per-file min = max = the directory value), making stats
  * pruning a superset of partition pruning that extends to data columns.
  * Pruning soundness is inherited from [[SkippingIndex.admitsAll]]: a file
  * is skipped only on positive evidence; null stats (all-null column, or a
  * column added by schema evolution after the file was written) keep the
  * file.
  *
  * Publication is crash-safe the same way every commit here is: the stats
  * table is written to a `.tmp` directory and renamed into place — a crash
  * mid-write leaves a tmp orphan the retry sweeps, a crash after the rename
  * is simply the published table, and a replayed refresh that finds the
  * destination already published is a no-op.
  */
object VersionedStats {

  import SkippingIndex.Box
  import MetaFile.fsOf

  private def statsRoot(root: String) = s"$root/_stats"
  private def colsPath(root: String) = new Path(statsRoot(root), "columns")
  private def bloomPath(root: String) = new Path(statsRoot(root), "bloom")
  private[sources] def statsDir(root: String, v: Int) =
    f"${statsRoot(root)}/v$v%05d"
  // staging is per ATTEMPT, never shared: two concurrent publishers for the
  // same version must not interleave delete/write/rename in one tmp dir
  private def tmpDir(root: String, v: Int) =
    f"${statsRoot(root)}/.tmp_v$v%05d_${java.util.UUID.randomUUID()}"

  // Serialize enable/refresh/publish PER ROOT (ADVICE r15): r15 gave this
  // layer three concurrent drivers for one table — StatsPrune.headHeal on
  // any planning thread, the commit listener, and Maintenance.maintain —
  // and an unserialized pair of refreshes could interleave their staging
  // and publish a duplicated or partial stats table that StatsPrune would
  // then trust (silently wrong pruning). Same pattern as
  // IncrementalMv.maintainFromVersioned's per-path lock.
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(statsRoot(root), _ => new Object)

  /** The indexed column names, or None when stats were never enabled. */
  def indexedColumns(spark: SparkSession, root: String): Option[Seq[String]] =
    MetaFile.read(fsOf(spark, root)._1, colsPath(root))
      .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Bloom-indexed columns and their filter sizing: col → (expectedItems,
    * numBits). Empty when blooms were never enabled. */
  def bloomConfig(spark: SparkSession, root: String): Map[String, (Long, Long)] =
    MetaFile.read(fsOf(spark, root)._1, bloomPath(root)).toSeq
      .flatMap(_.split("\n").filter(_.contains("\t"))).map { l =>
        val Array(c, items, bits) = l.split("\t", 3)
        c -> ((items.toLong, bits.toLong))
      }.toMap

  /** Versions that have a published stats table. */
  def stattedVersions(spark: SparkSession, root: String): Seq[Int] = {
    val (fs, _) = fsOf(spark, root)
    val dir = new Path(statsRoot(root))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.forall(c => c == 'v' || c.isDigit) =>
        n.stripPrefix("v").toInt }
      .toSeq.sorted
  }

  /** The published stats table for `version`. */
  def statsFor(spark: SparkSession, root: String, version: Int): DataFrame = {
    val (fs, _) = fsOf(spark, root)
    require(fs.exists(new Path(statsDir(root, version))),
      s"no stats published for v$version at $root — run refresh first")
    spark.read.parquet(statsDir(root, version))
  }

  /** Per-file stats for `rel` (relative (part, file_id) names) under the
    * table's data POOL `dataDir` (r16: file identity is pool-relative and
    * stable across versions — a carried file keeps its stats row forever):
    * one scan reading ONLY the indexed columns of ONLY those files (plus
    * partition values from the directory names via basePath). The rel
    * mapping back from `input_file_name` happens driver-side on the
    * one-row-per-file aggregate — metadata-sized by construction.
    * `tableSchema` is the snapshot's read schema (the stats output's
    * column types come from it). */
  private def scanStats(spark: SparkSession, dataDir: String,
      rel: Seq[(String, String)], cols: Seq[String],
      tableSchema: StructType,
      blooms: Map[String, (Long, Long)] = Map.empty): DataFrame = {
    val (fs, _) = fsOf(spark, dataDir)
    val rootAbs = fs.makeQualified(new Path(dataDir)).toUri.getPath
    val bloomCols = cols.filter(blooms.contains)
    val outSchema = StructType( // fixed even when there is nothing to scan
      (StructField("part", StringType, nullable = false) +:
      StructField("file_id", StringType, nullable = false) +:
      StructField("n_rows", org.apache.spark.sql.types.LongType, nullable = false) +:
      cols.flatMap { c =>
        val dt = tableSchema(c).dataType
        Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt))
      }) ++ bloomCols.map(c => StructField(s"${c}_bloom", BinaryType)))
    if (rel.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), outSchema)
    val paths = rel.map { case (p, n) =>
      if (p == ".") s"$dataDir/$n" else s"$dataDir/$p/$n" }
    // per-file membership sketches ride the same one-row-per-file aggregate
    // as the min/max stats — the same distributed BloomFilterAggregate the
    // runtime-filter operator uses, hashed with XxHash64 so the serving
    // side can recompute the probe hash from a literal
    val bloomAggs = bloomCols.map { c =>
      val (items, bits) = blooms(c)
      ge.column(new BloomFilterAggregate(
        new XxHash64(Seq(ge.expression(col(c)))),
        Literal(items), Literal(bits)).toAggregateExpression()).as(s"${c}_bloom")
    }
    val agg = spark.read.schema(tableSchema)
      .option("basePath", dataDir).parquet(paths: _*)
      .groupBy(input_file_name().as("__abs"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
          ++ bloomAggs: _*)
    val rows = agg.collect().toSeq.map { r =>
      val abs = new Path(new java.net.URI(r.getString(0))).toUri.getPath
      val relPath = abs.stripPrefix(rootAbs).stripPrefix("/")
      val (part, name) = relPath.lastIndexOf('/') match {
        case -1 => (".", relPath)
        case i  => (relPath.substring(0, i), relPath.substring(i + 1))
      }
      Row.fromSeq(part +: name +: r.toSeq.drop(1))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, outSchema)
  }

  /** Publish a stats table for `version`: write to a tmp dir, rename into
    * place. A destination that already exists is an already-published
    * replay — left untouched. */
  private def publish(spark: SparkSession, root: String, version: Int,
      stats: DataFrame, force: Boolean = false): Unit = {
    val (fs, _) = fsOf(spark, root)
    val dest = new Path(statsDir(root, version))
    if (fs.exists(dest) && !force) return
    val tmp = new Path(tmpDir(root, version))
    try {
      stats.coalesce(1).write.parquet(tmp.toString)
      // a forced re-publish (bloom enablement widening the schema) stages
      // first, so the no-stats window is just the delete..rename gap
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.rename(tmp, dest)
    } finally if (fs.exists(tmp)) fs.delete(tmp, true) // failed-attempt orphan
    // sweep crashed attempts' staging orphans. The per-root lock only
    // serializes THIS process; another process's commit listener or
    // headHeal may be staging the same version right now, so only dirs
    // older than the staleness window are provably dead — a live write is
    // seconds old, a crashed orphan keeps aging and gets swept later.
    val staleBefore = System.currentTimeMillis() - StaleTmpMs
    fs.listStatus(new Path(statsRoot(root)))
      .filter(s => s.getPath.getName.startsWith(".tmp_v")
        && s.getModificationTime < staleBefore)
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Staging dirs older than this are crashed-attempt orphans; younger
    * ones may be another PROCESS's live write and are left alone. */
  private val StaleTmpMs = 15L * 60 * 1000

  /** Enable stats on `cols` for the table at `root`: records the indexed
    * columns and publishes the stats table for the current latest version
    * (one scan of only those columns). Returns the statted version. */
  def enable(spark: SparkSession, root: String, cols: Seq[String]): Int =
      lockFor(root).synchronized {
    require(cols.nonEmpty, "need at least one indexed column")
    require(indexedColumns(spark, root).isEmpty,
      s"stats already enabled at $root on ${indexedColumns(spark, root).get.mkString(", ")}")
    val latest = VersionedTable.latestVersion(spark, root)
    val snapshot = VersionedTable.read(spark, root, Some(latest))
    val missing = cols.filterNot(snapshot.columns.contains)
    require(missing.isEmpty, s"indexed columns not in table: ${missing.mkString(", ")}")
    MetaFile.write(fsOf(spark, root)._1, colsPath(root), cols)
    val files = VersionedTable.snapshotFiles(spark, root, latest)
    publish(spark, root, latest,
      scanStats(spark, VersionedTable.dataDir(root), files, cols,
        snapshot.schema))
    latest
  }

  /** Add per-file BLOOM membership sketches for `cols` (each must already
    * be min/max-indexed — the bloom rides the same stats scan). Blooms
    * close the gap min/max boxes can't: a point lookup on a HIGH-
    * CARDINALITY, UNSORTED column admits every file by range (each file's
    * [min,max] spans the domain) but a per-file bloom rejects the files
    * that simply don't contain the value — the bloom-filter index of the
    * production formats. False negatives are impossible, so pruning
    * soundness is unchanged; a null bloom (pre-bloom stats rows carried
    * forward, or an all-null column) admits. Re-publishes the head's stats
    * table (one scan of the indexed columns) so blooms serve immediately;
    * later [[refresh]]es maintain them incrementally like every other
    * stats column. Returns the statted version. */
  def enableBlooms(spark: SparkSession, root: String, cols: Seq[String],
      expectedItemsPerFile: Long = 1L << 20, fpp: Double = 0.01): Int =
      lockFor(root).synchronized {
    val idx = indexedColumns(spark, root).getOrElse(
      throw new IllegalStateException(s"stats never enabled at $root"))
    val outside = cols.filterNot(idx.contains)
    require(cols.nonEmpty && outside.isEmpty,
      s"bloom columns must be min/max-indexed first: ${outside.mkString(", ")}")
    require(bloomConfig(spark, root).isEmpty,
      s"blooms already enabled at $root")
    val numBits = BloomFilter.optimalNumOfBits(expectedItemsPerFile, fpp)
    MetaFile.write(fsOf(spark, root)._1, bloomPath(root),
      cols.map(c => s"$c\t$expectedItemsPerFile\t$numBits"))
    val latest = VersionedTable.latestVersion(spark, root)
    val files = VersionedTable.snapshotFiles(spark, root, latest)
    publish(spark, root, latest,
      scanStats(spark, VersionedTable.dataDir(root), files, idx,
        VersionedTable.read(spark, root, Some(latest)).schema,
        bloomConfig(spark, root)),
      force = true)
    latest
  }

  /** Driver-side bloom admission: does the serialized per-file filter
    * possibly contain `value` (an EXTERNAL Scala value)? The probe hash is
    * the same XxHash64-of-internal-value the build side inserted. Null
    * filter or null value admits (sound). */
  def bloomAdmits(bytes: Array[Byte], dt: DataType, value: Any): Boolean =
    bloomAdmitsLit(bytes, Literal.create(value, dt))

  /** Same, probing with a catalyst Literal (INTERNAL value) — the form the
    * optimizer rule holds from the predicate itself. */
  private[graft] def bloomAdmitsLit(bytes: Array[Byte], lit: Literal): Boolean = {
    if (bytes == null || lit.value == null) return true
    val hash = new XxHash64(Seq(lit)).eval(null).asInstanceOf[Long]
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      .mightContainLong(hash)
  }

  /** Bring the stats up to the table's latest version INCREMENTALLY from the
    * newest statted version: stats rows carry forward for every file name
    * that survived (byte-identical by the copy-on-write protocol), only
    * never-seen names are scanned, vanished names drop. Works across
    * multi-commit spans in one pass and is a no-op on a current table.
    * Returns the per-file decision frame `(part, file_id, action)` with
    * action ∈ carried | scanned | dropped — metadata-sized. */
  def refresh(spark: SparkSession, root: String): DataFrame =
      lockFor(root).synchronized {
    import spark.implicits._
    val cols = indexedColumns(spark, root).getOrElse(
      throw new IllegalStateException(s"stats never enabled at $root"))
    val latest = VersionedTable.latestVersion(spark, root)
    val statted = stattedVersions(spark, root)
    require(statted.nonEmpty, s"no stats published at $root")
    val base = statted.max
    require(base <= latest, s"stats at v$base ahead of table head v$latest")

    // an indexed column dropped by schema evolution invalidates the index:
    // fail with the remedy instead of a downstream resolution error
    val gone = VersionedTable.effectiveSchema(spark, root, latest)
      .map(sch => cols.filterNot(sch.fieldNames.contains)).getOrElse(Nil)
    require(gone.isEmpty,
      s"indexed columns were dropped (${gone.mkString(", ")}); " +
        "remove _stats and re-enable on current columns")
    val current = VersionedTable.snapshotFiles(spark, root, latest)
    val currentSet = current.toSet
    val prior = statsFor(spark, root, base)
    val known = prior.select("part", "file_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

    val scanned = current.filterNot(known)
    val carriedNames = current.filter(known)
    val dropped = known.toSeq.filterNot(currentSet).sorted

    if (base != latest) {
      val carried = prior.join(
        carriedNames.toDF("part", "file_id"), Seq("part", "file_id"), "left_semi")
      // an evolution inside the span may have widened the schema: fresh
      // scans run under the head's effective schema; carried rows keep the
      // stats they were built with (their files predate the new columns, so
      // those columns' stats would be null anyway) and align by name
      val fresh = scanStats(spark, VersionedTable.dataDir(root),
        scanned, cols, VersionedTable.read(spark, root, Some(latest)).schema,
        bloomConfig(spark, root))
      val merged =
        if (carried.columns.sameElements(fresh.columns)) carried.union(fresh)
        else fresh.columns.foldRight(carried) { (c, df) =>
          if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
        }.select(fresh.columns.map(col).toSeq: _*).union(fresh)
      publish(spark, root, latest, merged)
    }
    (carriedNames.map { case (p, n) => (p, n, "carried") }
      ++ scanned.map { case (p, n) => (p, n, "scanned") }
      ++ dropped.map { case (p, n) => (p, n, "dropped") })
      .toDF("part", "file_id", "action")
  }

  /** The (part, file_id) names of `version` whose stats admit every box. */
  def survivingNames(spark: SparkSession, root: String, version: Int,
      boxes: Seq[Box]): Seq[(String, String)] =
    statsFor(spark, root, version).filter(SkippingIndex.admitsAll(boxes))
      .select("part", "file_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** The names of `version` whose stats admit the point `column = value`:
    * the [v,v] min/max box first, then the per-file bloom (driver-side on
    * the metadata-sized survivors). Requires blooms enabled on `column`. */
  def survivingNamesForPoint(spark: SparkSession, root: String, version: Int,
      column: String, value: Any): Seq[(String, String)] = {
    require(bloomConfig(spark, root).contains(column),
      s"blooms not enabled on '$column' at $root")
    val stats = statsFor(spark, root, version)
    val dt = stats.schema(s"${column}_min").dataType
    stats.filter(SkippingIndex.admitsAll(Seq(Box(column, value, value))))
      .select(col("part"), col("file_id"), col(s"${column}_bloom"))
      .collect()
      .filter(r => bloomAdmits(r.getAs[Array[Byte]](2), dt, value))
      .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** Bloom-indexed point lookup: open only the files whose min/max box AND
    * per-file bloom admit `column = value`, with the exact predicate on
    * top — the read shape that makes a needle query on an unsorted 100 TB
    * table open a handful of files instead of all of them. */
  def pointRead(spark: SparkSession, root: String, column: String, value: Any,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(VersionedTable.latestVersion(spark, root))
    val names = survivingNamesForPoint(spark, root, v, column, value)
    val dir = VersionedTable.dataDir(root)
    if (names.isEmpty) VersionedTable.read(spark, root, Some(v)).filter(lit(false))
    else {
      val paths = names.map { case (p, n) =>
        if (p == ".") s"$dir/$n" else s"$dir/$p/$n" }
      VersionedTable.effectiveSchema(spark, root, v)
        .map(spark.read.schema(_)).getOrElse(spark.read)
        .option("basePath", dir).parquet(paths: _*)
        .filter(col(column) === lit(value))
    }
  }

  /** Manifest-style versioned read: only files whose published stats admit
    * the boxes are opened, the exact box predicate re-applied on top, the
    * whole thing under the version's effective schema (time travel and
    * schema evolution both behave exactly like [[VersionedTable.read]]).
    * Requires stats published for the version — refresh first. */
  def prunedRead(spark: SparkSession, root: String, boxes: Seq[Box],
      version: Option[Int] = None): DataFrame = {
    require(boxes.nonEmpty, "prunedRead needs at least one box")
    val v = version.getOrElse(VersionedTable.latestVersion(spark, root))
    val idxCols = indexedColumns(spark, root).getOrElse(
      throw new IllegalStateException(s"stats never enabled at $root"))
    val outside = boxes.map(_.column).filterNot(idxCols.contains)
    require(outside.isEmpty, s"columns not indexed: ${outside.mkString(", ")}")
    val exact = boxes.map(b => col(b.column) >= lit(b.lo) && col(b.column) <= lit(b.hi))
      .reduce(_ && _)
    val names = survivingNames(spark, root, v, boxes)
    val dir = VersionedTable.dataDir(root)
    if (names.isEmpty) VersionedTable.read(spark, root, Some(v)).filter(lit(false))
    else {
      val paths = names.map { case (p, n) =>
        if (p == ".") s"$dir/$n" else s"$dir/$p/$n" }
      VersionedTable.effectiveSchema(spark, root, v)
        .map(spark.read.schema(_)).getOrElse(spark.read)
        .option("basePath", dir).parquet(paths: _*)
        .filter(exact)
    }
  }
}
