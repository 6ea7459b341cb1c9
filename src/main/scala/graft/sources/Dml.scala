package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Targeted row deletion over an immutable parquet layout — the
  * right-to-be-forgotten / retention-purge operator (`DELETE WHERE` in a
  * table format): rows matching the predicate disappear, everything else
  * survives byte-for-byte.
  *
  * The 100 TB shape is FILE-SELECTIVE copy-on-write:
  *  1. ONE distributed probe scan finds the files that actually contain
  *     matching rows (`input_file_name()` + distinct — the predicate
  *     pushes to the scan, so the probe reads only the predicate columns
  *     and row-group stats skip clean files);
  *  2. only the affected files pay decode → filter → re-encode;
  *  3. untouched files survive UNTOUCHED. Every verb here is split into a
  *     CORE that rewrites only the affected files and reports the clean
  *     ones, and two consumers of that report: [[VersionedTable]] carries
  *     clean files BY REFERENCE in the next snapshot's manifest (r16 —
  *     zero I/O for unchanged data, the production-table-format contract),
  *     while the raw-directory verbs below byte-copy them (on a bare
  *     filesystem layout the copy IS the snapshot isolation, same
  *     discipline as [[Compaction.compactDir]]).
  * Deletion follows SQL `DELETE WHERE` semantics: rows where the predicate
  * is TRUE are removed; FALSE and NULL rows are kept.
  */
object Dml {

  /** One immutable snapshot as a FILE LIST: the data-pool directory all
    * relative (part, name) entries resolve under, plus the read schema
    * (None = infer from the listed files' footers). For a raw layout the
    * pool is the layout root and the list is its full listing; for a
    * versioned table the pool is `<root>/_data` and the list is one
    * version's manifest. */
  final case class Snapshot(dataDir: String,
      files: Seq[(String, String)],
      schema: Option[StructType]) {
    def path(part: String, name: String): String =
      if (part == ".") s"$dataDir/$name" else s"$dataDir/$part/$name"
    def paths: Seq[String] = files.map { case (p, n) => path(p, n) }
  }

  /** The partition column names a `part` directory string encodes
    * ("year=2011/month=3" → year, month); "." = unpartitioned. ONE
    * implementation — this derivation used to be copy-pasted across the
    * DML cores and the versioned verbs in two subtly different variants. */
  private[sources] def partColsOf(parts: Seq[String]): Seq[String] =
    parts.find(_ != ".").toSeq
      .flatMap(_.split("/").toSeq).map(_.split("=", 2)(0))

  /** The snapshot's read schema: the declared one, else the footers of the
    * listed files (with partition values inferred from the directory
    * names between `dataDir` and each file). */
  private def snapSchema(spark: SparkSession, snap: Snapshot): StructType =
    snap.schema.getOrElse {
      require(snap.files.nonEmpty, "cannot infer a schema from an empty snapshot")
      spark.read.option("basePath", snap.dataDir).parquet(snap.paths: _*).schema
    }

  /** Read the whole snapshot: only the LISTED files (the pool may hold
    * other snapshots' files), partition values riding in from directory
    * names via basePath, null-filling under an explicit schema. */
  private[graft] def readSnapshot(spark: SparkSession, snap: Snapshot): DataFrame =
    if (snap.files.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        snapSchema(spark, snap))
    else
      snap.schema.map(spark.read.schema(_)).getOrElse(spark.read)
        .option("basePath", snap.dataDir).parquet(snap.paths: _*)

  /** Tag each snapshot row with its source file under a name GUARANTEED
    * fresh: a data column named `_probe_file` would otherwise be replaced
    * before the key join, skewing the probe's hit set — files whose rows
    * must rewrite would be skipped (silent wrong results). */
  private def tagFile(df: DataFrame): (DataFrame, String) = {
    var n = "_probe_file"
    while (df.columns.contains(n)) n = "_" + n
    (df.withColumn(n, input_file_name()), n)
  }

  /** The snapshot's files split into (hit, clean): hit files hold at least
    * one row of `probe` (a frame derived from [[readSnapshot]] that kept
    * `input_file_name()` as its one column) — metadata-sized by
    * construction. */
  private def splitByProbe(spark: SparkSession, snap: Snapshot,
      probe: DataFrame): (Seq[(String, String)], Seq[(String, String)]) = {
    val (fs, root) = MetaFile.fsOf(spark, snap.dataDir)
    val rootAbs = fs.makeQualified(root).toUri.getPath
    val affected = probe.distinct().collect()
      .map(r => new Path(new java.net.URI(r.getString(0))).toUri.getPath)
      .map(_.stripPrefix(rootAbs).stripPrefix("/"))
      .toSet
    snap.files.partition { case (p, n) => affected(if (p == ".") n else s"$p/$n") }
  }

  /** Fail on UPDATE assignments to columns `schema` lacks. */
  private def requireKnown(schema: StructType, assigned: Set[String]): Unit = {
    val unknown = assigned.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"UPDATE assigns unknown columns: ${unknown.mkString(", ")}")
  }

  /** SQL UPDATE's SET projection over `schema`: rows where `pred` holds take
    * each assignment, cast back to the column's type (so the layout's
    * schema can never fork); every expression sees the OLD row values. */
  private def setProjection(schema: StructType, pred: Column,
      assignments: Map[String, Column]): Seq[Column] =
    schema.fields.map { f =>
      assignments.get(f.name)
        .map(a => when(coalesce(pred, lit(false)), a.cast(f.dataType))
          .otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    }.toSeq

  /** The hit-file rewrite as ONE Spark job (r13): all affected files read
    * together with `basePath` (partition values ride in from the directory
    * names), `transform` applied, and the result written with dynamic
    * `partitionBy` so every row lands in the directory its partition
    * values name. The earlier shape — one sequential job per affected
    * partition directory — was a driver-side loop that at lakehouse scale
    * (thousands of partitions touched by one DELETE) becomes thousands of
    * sequential tiny jobs; this is the same work as one distributed write.
    * Directory-name spelling is canonicalized for rewritten partitions
    * (identical to what any Spark/table-format writer produces). */
  private def rewriteHits(spark: SparkSession, snap: Snapshot, outDir: String,
      hit: Seq[(String, String)])(transform: DataFrame => DataFrame): Unit = {
    if (hit.isEmpty) return
    val paths = hit.map { case (p, n) => snap.path(p, n) }
    val partCols = partColsOf(hit.map(_._1))
    // always read under the SNAPSHOT-level schema: partition-type inference
    // over only the hit subset could disagree with the whole layout's (e.g.
    // an all-numeric subset of a string-typed bucket column)
    val src = spark.read.schema(snapSchema(spark, snap))
      .option("basePath", snap.dataDir).parquet(paths: _*)
    val w = transform(src).write.mode("append")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(outDir)
  }

  /** Run a core over the raw layout at `dir` — the raw-layout verbs' half
    * of the core/copy split: the core writes the rewritten files to
    * `outDir`, the clean ones byte-copy beside them (a versioned table never
    * takes this path: its manifest shares clean files by reference), and
    * the per-file decision frame `(part, file_id, rewritten)` comes back. */
  private def onRawLayout(spark: SparkSession, dir: String, outDir: String,
      tableSchema: Option[StructType])
      (core: Snapshot => (Seq[(String, String)], Seq[(String, String)])): DataFrame = {
    import spark.implicits._
    val snap = Snapshot(dir,
      Compaction.listFiles(spark, dir).collect()
        .map(r => (r.getAs[String]("part"), r.getAs[String]("file_id"))).toSeq,
      tableSchema)
    val (hit, clean) = core(snap)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(snap.dataDir).getFileSystem(conf)
    clean.foreach { case (part, name) =>
      val dstDir = if (part == ".") new Path(outDir) else new Path(s"$outDir/$part")
      fs.mkdirs(dstDir)
      FileUtil.copy(fs, new Path(snap.path(part, name)),
        fs, new Path(dstDir, name), false, conf)
    }
    (hit.map { case (p, n) => (p, n, true) } ++
      clean.map { case (p, n) => (p, n, false) })
      .toDF("part", "file_id", "rewritten")
  }

  // ------------------------------------------------------------ DELETE WHERE

  /** The [[deleteWhere]] core: rewrite only the files holding matching
    * rows into `outDir`, report (hit, clean). `pred` must reference DATA
    * columns only: a delete keyed on a partition column is a directory
    * drop, not a row rewrite — a different (and trivial) operation this
    * one does not fold in. */
  private[graft] def deleteWhereCore(spark: SparkSession, snap: Snapshot,
      outDir: String, pred: Column): (Seq[(String, String)], Seq[(String, String)]) = {
    val (hit, clean) = splitByProbe(spark, snap,
      readSnapshot(spark, snap).filter(pred).select(input_file_name()))
    // rewrite ONLY the affected files — one job, keeping rows where the
    // predicate is not TRUE (SQL DELETE semantics)
    rewriteHits(spark, snap, outDir, hit)(_.filter(!coalesce(pred, lit(false))))
    (hit, clean)
  }

  /** Apply `DELETE WHERE pred` to the raw layout at `dir`, writing the
    * surviving layout to `outDir` (partition directory structure
    * preserved; clean files byte-copied). Returns the per-file decision
    * frame `(part, file_id, rewritten)` — metadata-sized. */
  def deleteWhere(spark: SparkSession, dir: String, outDir: String,
      pred: Column,
      tableSchema: Option[StructType] = None): DataFrame =
    onRawLayout(spark, dir, outDir, tableSchema)(
      deleteWhereCore(spark, _, outDir, pred))

  // ------------------------------------------------------------ UPDATE WHERE

  /** The [[updateWhere]] core: standard SQL UPDATE semantics — every
    * assignment expression sees the OLD row values (all are evaluated in
    * one projection from the original columns, so `SET a = b, b = a`
    * swaps); assignments cast back to each column's original type, so the
    * layout's schema can never fork. Partition-column assignments fail
    * loudly regardless of predicate selectivity (ADVICE r12) — that is a
    * row MOVE ([[updateMoveCore]]). */
  private[graft] def updateWhereCore(spark: SparkSession, snap: Snapshot,
      outDir: String, pred: Column, assignments: Map[String, Column])
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val schema = snapSchema(spark, snap)
    requireKnown(schema, assignments.keySet)
    val partCols = partColsOf(snap.files.map(_._1)).toSet
    val partitionAssigns = assignments.keySet.intersect(partCols)
    require(partitionAssigns.isEmpty,
      s"UPDATE cannot assign partition columns: ${partitionAssigns.mkString(", ")}")

    val (hit, clean) = splitByProbe(spark, snap,
      readSnapshot(spark, snap).filter(pred).select(input_file_name()))
    rewriteHits(spark, snap, outDir, hit)(
      _.select(setProjection(schema, pred, assignments): _*))
    (hit, clean)
  }

  /** File-selective `UPDATE … SET … WHERE` (r12) over a raw layout; clean
    * files byte-copy. Returns the per-file decision frame. */
  def updateWhere(spark: SparkSession, dir: String, outDir: String,
      pred: Column, assignments: Map[String, Column],
      tableSchema: Option[StructType] = None): DataFrame =
    onRawLayout(spark, dir, outDir, tableSchema)(
      updateWhereCore(spark, _, outDir, pred, assignments))

  // ------------------------------------------------------------- UPDATE MOVE

  /** The [[updateMove]] core (r13, VERDICT r12 #6) — the supported path for
    * the partition-column assignment [[updateWhereCore]] rejects: an UPDATE
    * whose SET touches a partition column RELOCATES the row, so the
    * operation is a delete-from-source-partition + partition-routed insert,
    * executed in one decision frame. Partition values ride directory names,
    * not file bytes, so the hit-file read re-injects them from the path
    * (hive-escaped, null marker honored) before evaluating
    * `pred`/assignments — a predicate over the partition column itself is
    * fine. Movers land in the directory their NEW partition values name
    * (including "moves" that resolve to the same partition). */
  private[graft] def updateMoveCore(spark: SparkSession, snap: Snapshot,
      outDir: String, pred: Column, assignments: Map[String, Column])
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val schema = snapSchema(spark, snap)
    requireKnown(schema, assignments.keySet)
    // partition column order from the directory layout itself (nested
    // dirs = nested partitionBy order) — the routed insert must reproduce it
    val partCols: Seq[String] = partColsOf(snap.files.map(_._1))
    require(partCols.nonEmpty,
      "updateMove needs a partitioned layout; use updateWhere otherwise")
    require(assignments.keySet.exists(partCols.contains),
      s"no partition column assigned (${partCols.mkString(", ")}); use updateWhere")

    val (hit, clean) = splitByProbe(spark, snap,
      readSnapshot(spark, snap).filter(pred).select(input_file_name()))
    // one job: the basePath read rides partition values in from the
    // directory names, the SET projection applies to movers only, and the
    // dynamic partitionBy write routes every row to the directory its (old
    // or new) partition values name
    rewriteHits(spark, snap, outDir, hit)(
      _.select(setProjection(schema, pred, assignments): _*))
    (hit, clean)
  }

  /** Row-move UPDATE over a raw layout; clean files byte-copy. Returns the
    * per-file decision frame. */
  def updateMove(spark: SparkSession, dir: String, outDir: String,
      pred: Column, assignments: Map[String, Column],
      tableSchema: Option[StructType] = None): DataFrame =
    onRawLayout(spark, dir, outDir, tableSchema)(
      updateMoveCore(spark, _, outDir, pred, assignments))

  // -------------------------------------------------------------- MERGE INTO

  /** The [[mergeInto]] core (whole-row upsert): target rows whose key
    * matches an `updates` row are REPLACED by it, unmatched update rows
    * are INSERTED — `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`. The probe is a LEFT SEMI join of the target against the
    * distinct update keys (update sets are change-sized — they broadcast);
    * only files holding matched rows pay decode → anti-join → re-encode;
    * ALL update rows land as new files (replacements + inserts in one
    * append). `updates` must carry the target's DATA schema; for a
    * partitioned layout pass its partition columns so update rows route to
    * their directories. */
  private[graft] def mergeIntoCore(spark: SparkSession, snap: Snapshot,
      outDir: String, updates: DataFrame, keys: Seq[String],
      partitionCols: Seq[String] = Nil)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val (hit, clean) = dropKeyedRowsCore(spark, snap, outDir,
      updates.select(keys.map(col): _*).distinct(), keys)
    // align the update rows to the table's schema BEFORE they become pool
    // files: a type-mismatched frame (INT literal into a BIGINT column)
    // would otherwise commit fine and poison every later read of the
    // snapshot; whole-row replacement means every column must be present
    val aligned = snap.schema.map { s =>
      val extra = updates.columns.filterNot(s.fieldNames.contains)
      require(extra.isEmpty,
        s"MERGE updates carry columns the table schema lacks: ${extra.mkString(", ")}")
      val missing = s.fieldNames.filterNot(updates.columns.contains)
      require(missing.isEmpty,
        s"MERGE updates are whole-row replacements and must carry every " +
          s"table column; missing: ${missing.mkString(", ")}")
      updates.select(s.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    }.getOrElse(updates)
    // replacements + inserts in one append, partition-routed when asked
    val w0 = aligned.write.mode("append")
    (if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0)
      .parquet(outDir)
    (hit, clean)
  }

  /** File-selective MERGE INTO over a raw layout; clean files byte-copy. */
  def mergeInto(spark: SparkSession, dir: String, outDir: String,
      updates: DataFrame, keys: Seq[String],
      partitionCols: Seq[String] = Nil,
      tableSchema: Option[StructType] = None): DataFrame =
    onRawLayout(spark, dir, outDir, tableSchema)(
      mergeIntoCore(spark, _, outDir, updates, keys, partitionCols))

  /** One ordered `WHEN MATCHED` clause of [[mergeClauses]]. */
  sealed trait MergeClause { def cond: Column }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET …` — assignment expressions
    * see the OLD target row by plain column name and the matching source
    * row through [[Dml.src]]. */
  final case class WhenMatchedUpdate(cond: Column, set: Map[String, Column])
      extends MergeClause
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class WhenMatchedDelete(cond: Column) extends MergeClause

  /** A source column inside a matched clause's condition or assignment
    * (the `src.col` of SQL MERGE's aliased source). */
  def src(name: String): Column = col(s"__src_$name")

  // ----------------------------------------------------------- MERGE CLAUSES

  /** The full conditional `MERGE INTO` core (r13) — the SQL verb with
    * ordered clauses, beyond the replace-by-key upsert of [[mergeIntoCore]]:
    * {{{
    *   MERGE INTO target USING source ON keys
    *   WHEN MATCHED [AND c1] THEN UPDATE SET … / DELETE   (ordered, first
    *   WHEN MATCHED [AND c2] THEN …                        true clause wins)
    *   WHEN NOT MATCHED [AND c] THEN INSERT
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … / DELETE
    * }}}
    * Semantics: a target row with a key match evaluates the matched
    * clauses IN ORDER against (target row, source row) — the first clause
    * whose condition holds applies (update projects its assignments, every
    * expression seeing OLD values; delete drops the row); no true clause
    * leaves the row untouched. Matched-clause conditions and update
    * expressions reference target columns by name and source columns via
    * [[src]]. A source row matching NO target key inserts when it passes
    * `notMatchedInsert` (plain source column names; `None` ignores
    * unmatched source rows). `notMatchedBySource` clauses (r15) apply — in
    * order, first true wins, independently of the matched list — to TARGET
    * rows whose key appears nowhere in the source (the "sync to desired
    * state" half of SQL:2023 / Delta MERGE); their conditions and update
    * expressions see only target columns. SQL's cardinality rule is
    * enforced: a source with duplicate keys fails loudly (one target row
    * must never match two source rows). NULL keys never match, as in SQL.
    * A MERGE with `notMatchedBySource` clauses necessarily rewrites EVERY
    * file (any file can hold source-unmatched rows), so the probe is
    * skipped — the same touched-set widening a production format's merge
    * pays. */
  private[graft] def mergeClausesCore(spark: SparkSession, snap: Snapshot,
      outDir: String, source: DataFrame, keys: Seq[String],
      matched: Seq[MergeClause],
      notMatchedInsert: Option[Column] = None,
      partitionCols: Seq[String] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    require(matched.nonEmpty || notMatchedInsert.nonEmpty ||
      notMatchedBySource.nonEmpty, "an empty MERGE")
    // SQL's cardinality rule applies to keys that can MATCH: NULL keys never
    // match a target row (the same function's documented contract), so two
    // NULL-key source rows are legitimate, non-conflicting insert candidates
    // — excluding them here instead of rejecting them as "duplicates"
    // (ADVICE r13)
    require(source.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).isEmpty,
      "MERGE cardinality violation: source holds duplicate keys")
    val schema = snapSchema(spark, snap)
    (matched ++ notMatchedBySource).collect { case u: WhenMatchedUpdate => u }
      .foreach(u => requireKnown(schema, u.set.keySet))
    // the match marker lives OUTSIDE the __src_ rename image (ADVICE r13:
    // the old __src__matched name collided with a source column named
    // `_matched`, whose rename the withColumn silently replaced — clause
    // conditions then read the constant instead of the source value); no
    // rename can produce this name, and a column already carrying it is
    // rejected loudly
    val marker = "__graft_matched"
    require(!source.columns.contains(marker) && !schema.fieldNames.contains(marker),
      s"MERGE reserves the $marker column name")
    // same class of collision: a data column named __clause would be
    // replaced by the clause index and the final projection would commit
    // indices in place of the user's values — silent corruption
    require(!schema.fieldNames.contains("__clause"),
      "MERGE reserves the __clause column name")
    val srcRenamed = source.select(source.columns.map(c => col(c).as(s"__src_$c")).toSeq: _*)
      .withColumn(marker, lit(true))
    val keyCond = keys.map(k => col(k) === col(s"__src_$k")).reduce(_ && _)

    // with NOT MATCHED BY SOURCE clauses every file can hold affected
    // (source-unmatched) rows, so all files rewrite and the probe job is
    // pure overhead; an INSERT-ONLY merge (no matched clauses either way)
    // touches no existing row, so no file rewrites and the probe is
    // skipped — otherwise probe for files holding at least one matched
    // key and leave the rest clean
    val (hit, clean) =
      if (matched.isEmpty && notMatchedBySource.isEmpty)
        (Seq.empty[(String, String)], snap.files)
      else if (notMatchedBySource.nonEmpty) (snap.files, Seq.empty[(String, String)])
      else {
        val (tagged, tag) = tagFile(readSnapshot(spark, snap))
        splitByProbe(spark, snap, tagged
          .join(source.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(col(tag)))
      }

    // one ordered clause list: matched clauses fire on key-matched rows,
    // not-matched-by-source clauses on the rest — disjoint populations, so
    // a single first-true-clause fold serves both
    val allClauses: Seq[(MergeClause, Boolean)] =
      matched.map((_, true)) ++ notMatchedBySource.map((_, false))
    rewriteHits(spark, snap, outDir, hit) { tgt =>
      val joined = tgt.join(srcRenamed, keyCond, "left_outer")
      val isMatched = col(marker).isNotNull
      // first-true-clause index: 0 = no clause applies (row survives as-is)
      val clauseIdx = allClauses.zipWithIndex.foldRight(lit(0)) {
        case (((c, onMatched), i), rest) =>
          when((if (onMatched) isMatched else !isMatched) &&
            coalesce(c.cond, lit(false)), lit(i + 1)).otherwise(rest)
      }
      val deleteIdxs = allClauses.zipWithIndex.collect {
        case ((_: WhenMatchedDelete, _), i) => i + 1 }
      val kept =
        if (deleteIdxs.isEmpty) joined.withColumn("__clause", clauseIdx)
        else joined.withColumn("__clause", clauseIdx)
          .filter(!col("__clause").isin(deleteIdxs.map(Integer.valueOf): _*))
      kept.select(schema.fields.map { f =>
        allClauses.zipWithIndex.foldRight(col(f.name)) {
          case (((u: WhenMatchedUpdate, _), i), rest) if u.set.contains(f.name) =>
            when(col("__clause") === (i + 1), u.set(f.name).cast(f.dataType))
              .otherwise(rest)
          case (_, rest) => rest
        }.as(f.name)
      }.toSeq: _*)
    }
    // WHEN NOT MATCHED: source rows whose key exists nowhere in the target
    notMatchedInsert.foreach { insCond =>
      val inserts = source
        .join(readSnapshot(spark, snap).select(keys.map(col): _*).distinct(),
          keys, "left_anti")
        .filter(insCond)
        .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      val w = inserts.write.mode("append")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(outDir)
    }
    (hit, clean)
  }

  /** Full conditional `MERGE INTO` over a raw layout; clean files
    * byte-copy. Returns the `(part, file_id, rewritten)` decision frame. */
  def mergeClauses(spark: SparkSession, dir: String, outDir: String,
      source: DataFrame, keys: Seq[String], matched: Seq[MergeClause],
      notMatchedInsert: Option[Column] = None,
      partitionCols: Seq[String] = Nil,
      tableSchema: Option[StructType] = None,
      notMatchedBySource: Seq[MergeClause] = Nil): DataFrame =
    onRawLayout(spark, dir, outDir, tableSchema)(
      mergeClausesCore(spark, _, outDir, source, keys, matched,
        notMatchedInsert, partitionCols, notMatchedBySource))

  // ------------------------------------------------------------- DELETE KEYS

  /** Tombstone-keyed DELETE (r11) — the right-to-be-forgotten purge as it
    * actually arrives: a KEY LIST (erasure requests), not a value
    * predicate. [[deleteWhere]]'s predicate form cannot express a large key
    * set (an `IN` literal caps out; a predicate cannot join), so the probe
    * here is the semi-join [[mergeInto]] already uses, and the rewrite an
    * anti-join. Key comparison is join equality: a NULL key row never
    * matches a tombstone and SURVIVES (the sane erasure contract — SQL
    * `NOT IN` would nuke the whole table on one NULL tombstone). The
    * tombstone set broadcasts while change-sized; past that it shuffle-
    * joins and every other part of the shape is unchanged. */
  private[graft] def deleteKeysCore(spark: SparkSession, snap: Snapshot,
      outDir: String, tombstones: DataFrame, keys: Seq[String])
      : (Seq[(String, String)], Seq[(String, String)]) =
    dropKeyedRowsCore(spark, snap, outDir,
      tombstones.select(keys.map(col): _*).distinct(), keys)

  /** Tombstone-keyed DELETE over a raw layout; clean files byte-copy.
    * Returns the per-file `(part, file_id, rewritten)` decision frame. */
  def deleteKeys(spark: SparkSession, dir: String, outDir: String,
      tombstones: DataFrame, keys: Seq[String],
      tableSchema: Option[StructType] = None): DataFrame =
    onRawLayout(spark, dir, outDir, tableSchema)(
      deleteKeysCore(spark, _, outDir, tombstones, keys))

  /** The shared copy-on-write kernel of [[mergeIntoCore]] and
    * [[deleteKeysCore]]: drop every row whose key appears in `keySet`
    * (pre-deduplicated), file-selectively — semi-join probe finds affected
    * files, only those pay decode → anti-join → re-encode. */
  private def dropKeyedRowsCore(spark: SparkSession, snap: Snapshot,
      outDir: String, keySet: DataFrame, keys: Seq[String])
      : (Seq[(String, String)], Seq[(String, String)]) = {
    // file name is tagged BEFORE the join: input_file_name() is only
    // defined against a single source, and the tag pins it to the scan
    val (tagged, tag) = tagFile(readSnapshot(spark, snap))
    val (hit, clean) = splitByProbe(spark, snap,
      tagged.join(keySet, keys, "left_semi").select(col(tag)))
    rewriteHits(spark, snap, outDir, hit)(_.join(keySet, keys, "left_anti"))
    (hit, clean)
  }
}
