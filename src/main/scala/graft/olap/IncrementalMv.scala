package graft.olap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.sources.{MetaFile, VersionedTable}
import graft.sources.MetaFile.fsOf
import graft.{QueryDef, QueryRegistry, Scratch}

/** Incremental materialized-view maintenance from a CDC feed (r13, VERDICT
  * r12 #1) — the missing third leg of the MV loop: [[Molap]] builds
  * summaries, [[graft.plans.MvRewrite]] serves queries from them, and this
  * module keeps them CURRENT from the versioned table's change feed instead
  * of rebuilding. The reference refreshes its MV wholesale
  * (`Iteration 3/Group No.6_Indexing_Partitioning.sql:161-166`,
  * `REFRESH MATERIALIZED VIEW`); at 100 TB a full rebuild per base-table
  * commit is the scale-killer — the change feed is change-sized, and the
  * work here tracks IT, not the base.
  *
  * Delta algebra per summary cell (grouped by the MV keys):
  *  - `sum` / `count` partials are fully algebraic under deletion: inserted
  *    images add, deleted images subtract, update pre/post pairs do both —
  *    EXACT in the partials' own decimal/long types, so the maintained
  *    summary is bit-identical to a recompute;
  *  - `min`/`max` partials are algebraic under INSERTION only
  *    (`least(old, min-of-inserted)`); a deletion can only matter if the
  *    removed value TIES the cell's current extreme, so exactly those cells
  *    — and no others — re-scan their slice of the new snapshot (key
  *    semi-join, partition-prunable when the MV keys align with the
  *    layout). A delete strictly inside the cell's range merges with no
  *    base read at all.
  * Cells the feed never mentions pass through untouched; cells whose row
  * count reaches zero are dropped (their rows are gone from the base).
  *
  * The base snapshot is a THUNK, evaluated only when some cell genuinely
  * needs a re-scan — the gate row passes a thunk that THROWS, turning "the
  * refresh read only the change feed" into a hard runtime assert rather
  * than a claim.
  */
object IncrementalMv extends QueryRegistry {

  /** One maintained measure: the base column and its partial-column names
    * in the summary. `sum`+`cnt` are the algebraic pair every summary
    * carries (they serve sum/count/avg through MvRewrite); `min`/`max` are
    * optional and are what introduces the delete-of-extreme re-scan. */
  final case class MeasureSpec(col: String, sum: String, cnt: String,
      min: Option[String] = None, max: Option[String] = None)

  /** Apply a CDC feed (the [[VersionedTable.changes]] shape: key columns +
    * `change_type` + payload) to `summary`. Returns the refreshed summary
    * and the per-cell decision frame `(keys..., action, n_rows_before,
    * n_rows_after)` — change-cell-sized, carrying only touched cells, with
    * `action` ∈ insert / merge / rescan / drop. `rescanBase` is called at
    * most once, and only if ≥1 cell needs a delete-of-extreme re-scan. */
  def applyChanges(summary: DataFrame, changes: DataFrame, keys: Seq[String],
      rowCount: String, measures: Seq[MeasureSpec],
      rescanBase: () => DataFrame): (DataFrame, DataFrame) = {
    val types = summary.schema.fields.map(f => f.name -> f.dataType).toMap
    require((Seq(rowCount) ++ measures.flatMap(m =>
      Seq(m.sum, m.cnt) ++ m.min ++ m.max)).forall(types.contains),
      "summary is missing registered partial columns")
    // partial columns this refresh does NOT maintain survive the algebraic
    // merge untouched (the documented keep contract) — but a RESCANNED
    // cell is recomputed from the base and cannot produce them; that path
    // fails loudly below instead of null-filling them silently
    val covered = (keys :+ rowCount).toSet ++ measures.flatMap(m =>
      Seq(m.sum, m.cnt) ++ m.min ++ m.max)
    val uncovered = summary.columns.filterNot(covered)

    // signed image: insert/post-image rows add to the cell, delete/pre-image
    // rows subtract — an update contributes both sides of its pair
    val sgn = when(col("change_type").isin("insert", "update_postimage"),
      lit(1)).otherwise(lit(-1))
    val deltaAggs: Seq[Column] =
      Seq(sum(sgn).as("__imv_d_rows")) ++ measures.flatMap { m =>
        val v = col(m.col)
        Seq(
          sum(when(sgn === 1, v).otherwise(-v)).as(s"__imv_dsum_${m.col}"),
          sum(when(v.isNotNull, sgn).otherwise(lit(0))).as(s"__imv_dcnt_${m.col}"),
          min(when(sgn === 1, v)).as(s"__imv_insmin_${m.col}"),
          max(when(sgn === 1, v)).as(s"__imv_insmax_${m.col}"),
          min(when(sgn === -1, v)).as(s"__imv_delmin_${m.col}"),
          max(when(sgn === -1, v)).as(s"__imv_delmax_${m.col}"))
      }
    // one change-feed aggregation, MATERIALIZED: the cell-delta frame is
    // read by the merge, the re-scan key set, and the decision frame —
    // change-cell-sized by construction, so holding the rows beats a
    // persist() a long-running maintainer would leak one cache entry per
    // commit through (the lazy return frames outlive this call, so there
    // is no safe point to unpersist inside it)
    val deltaLazy = changes.groupBy(keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val delta = summary.sparkSession.createDataFrame(
      java.util.Arrays.asList(deltaLazy.collect(): _*), deltaLazy.schema)

    val j = summary.join(delta, keys, "full_outer")
    val touched = col("__imv_d_rows").isNotNull
    val newRows = coalesce(col(rowCount), lit(0L)) + coalesce(col("__imv_d_rows"), lit(0L))
    val dropCell = touched && newRows === 0
    // a deleted value tying the cell's current extreme means the surviving
    // extreme is unknown without looking at the cell's remaining rows
    val rescanCell = measures.flatMap { m =>
      m.min.map(mn => col(s"__imv_delmin_${m.col}").isNotNull &&
        col(mn).isNotNull && col(s"__imv_delmin_${m.col}") <= col(mn)).toSeq ++
      m.max.map(mx => col(s"__imv_delmax_${m.col}").isNotNull &&
        col(mx).isNotNull && col(s"__imv_delmax_${m.col}") >= col(mx)).toSeq
    }.reduceOption(_ || _).getOrElse(lit(false)) && !dropCell

    // the algebraic merge — identity for untouched cells (all deltas null)
    val mergedCols: Seq[Column] = summary.columns.toSeq.map { c =>
      if (keys.contains(c)) col(c)
      else if (c == rowCount) newRows.cast(types(c)).as(c)
      else measures.find(_.sum == c).map { m =>
        val cnt = coalesce(col(m.cnt), lit(0L)) + coalesce(col(s"__imv_dcnt_${m.col}"), lit(0L))
        when(cnt === 0, lit(null))
          .otherwise(coalesce(col(c), lit(0)) + coalesce(col(s"__imv_dsum_${m.col}"), lit(0)))
          .cast(types(c)).as(c)
      }.orElse(measures.find(_.cnt == c).map { m =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"__imv_dcnt_${m.col}"), lit(0L)))
          .cast(types(c)).as(c)
      }).orElse(measures.find(_.min.contains(c)).map { m =>
        least(col(c), col(s"__imv_insmin_${m.col}")).cast(types(c)).as(c)
      }).orElse(measures.find(_.max.contains(c)).map { m =>
        greatest(col(c), col(s"__imv_insmax_${m.col}")).cast(types(c)).as(c)
      }).getOrElse(col(c)) // a partial this refresh doesn't maintain: keep
    }

    val kept = j.filter(!touched || (!dropCell && !rescanCell))
      .select(mergedCols: _*)
    val rescanKeys = j.filter(rescanCell).select(keys.map(col): _*)
    val newSummary =
      if (rescanKeys.isEmpty) kept
      else {
        // the rescan REPLACES the cell with a recompute of the registered
        // partials — a partial not registered with this refresh would be
        // silently null-filled by the union, corrupting every later merge
        require(uncovered.isEmpty,
          s"a delete-of-extreme re-scan must recompute every summary " +
            s"partial, but these are not registered with this refresh: " +
            s"${uncovered.mkString(", ")} — register them (or refresh a " +
            "summary projected to the maintained partials)")
        // ONLY the affected cells' slice of the new snapshot is read: the
        // semi-join restricts the scan to change-cell-sized key set (and
        // prunes partitions when the MV keys align with the layout)
        val slice = rescanBase().join(rescanKeys, keys, "left_semi")
        val fullAggs: Seq[Column] =
          Seq(count(lit(1)).cast(types(rowCount)).as(rowCount)) ++
            measures.flatMap { m =>
              Seq(sum(col(m.col)).cast(types(m.sum)).as(m.sum),
                count(col(m.col)).cast(types(m.cnt)).as(m.cnt)) ++
                m.min.map(mn => min(col(m.col)).cast(types(mn)).as(mn)) ++
                m.max.map(mx => max(col(m.col)).cast(types(mx)).as(mx))
            }
        val recomputed = slice.groupBy(keys.map(col): _*)
          .agg(fullAggs.head, fullAggs.tail: _*)
        kept.unionByName(recomputed, allowMissingColumns = true)
      }

    val decisions = j.filter(touched).select(
      keys.map(col) ++ Seq(
        when(dropCell, lit("drop")).when(rescanCell, lit("rescan"))
          .when(col(rowCount).isNull, lit("insert"))
          .otherwise(lit("merge")).as("action"),
        coalesce(col(rowCount), lit(0L)).cast("long").as("n_rows_before"),
        newRows.cast("long").as("n_rows_after")): _*)
    (newSummary, decisions)
  }

  /** Path-level refresh with the same write-then-swap discipline as
    * [[graft.streaming.IncrementalEtl.maintainMonthCountry]]: the refreshed
    * summary lands beside the stored one and a single rename publishes it —
    * the stored summary is never input and output of one job, and a crash
    * mid-refresh leaves either the old summary or both directories, never a
    * half-written one. Returns the MATERIALIZED decision frame. */
  def refreshPath(spark: SparkSession, summaryPath: String, changes: DataFrame,
      keys: Seq[String], rowCount: String, measures: Seq[MeasureSpec],
      rescanBase: () => DataFrame): DataFrame = {
    val (fs, dest) = fsOf(spark, summaryPath)
    val tmp = new org.apache.hadoop.fs.Path(summaryPath + ".tmp")
    // roll a crashed publish forward (same discipline as the versioned
    // maintainer): a crash between the delete and the rename left only the
    // COMPLETE staged dir — without this, the summary is gone for good
    if (!fs.exists(dest) && fs.exists(tmp)) {
      fs.rename(tmp, dest)
      spark.catalog.refreshByPath(summaryPath)
    }
    // a maintained summary's watermark must survive the swap: the marker
    // is staged into tmp BEFORE the publish, never silently destroyed
    val marker = readMarker(fs, summaryPath)
    val (newSummary, decisions) = applyChanges(
      spark.read.parquet(summaryPath), changes, keys, rowCount, measures, rescanBase)
    newSummary.write.mode("overwrite").parquet(tmp.toString)
    marker.foreach(v => writeMarker(fs, tmp.toString, v))
    // materialize the decision evidence while the old summary still exists
    // (it reads the pre-refresh state)
    val decRows = java.util.Arrays.asList(decisions.collect(): _*)
    val dec = spark.createDataFrame(decRows, decisions.schema)
    fs.delete(dest, true)
    fs.rename(tmp, dest)
    spark.catalog.refreshByPath(summaryPath)
    dec
  }

  /** The applied-version marker of a maintained summary (None before
    * [[initSummaryAt]]) — the watermark the continuous maintainers move. */
  def appliedVersion(spark: SparkSession, summaryPath: String): Option[Int] =
    readMarker(fsOf(spark, summaryPath)._1, summaryPath)

  private def markerOf(summaryPath: String) =
    new org.apache.hadoop.fs.Path(summaryPath, "_applied_version")

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      summaryPath: String): Option[Int] = {
    // exists→open races the publish swap (delete-dest → rename): a poll
    // landing in the gap reads mid-swap — that is "not yet applied", not
    // an error worth failing a caller's await loop over
    try MetaFile.read(fs, markerOf(summaryPath)).map(_.trim.toInt)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Int): Unit =
    MetaFile.write(fs, markerOf(dir), Seq(v.toString))

  /** Materialize `df` as the summary of the versioned table's snapshot
    * `version`, stamping the applied-version marker INTO the summary
    * directory — the starting state [[maintainFromVersioned]] resumes
    * from. The marker travels with the directory, so the summary and its
    * watermark can never publish separately. */
  def initSummaryAt(spark: SparkSession, summaryPath: String, df: DataFrame,
      version: Int): Unit = {
    df.write.parquet(summaryPath)
    writeMarker(fsOf(spark, summaryPath)._1, summaryPath, version)
  }

  /** The resumable CONTINUOUS maintainer (r13): catch the summary up to the
    * versioned table's latest committed snapshot by applying the CDC span
    * `(applied, latest]` in ONE [[applyChanges]] pass — however many DML
    * commits landed since the last call. State is the applied-version
    * marker inside the summary directory; publication is the same
    * write-then-swap as [[refreshPath]], with the NEW marker written into
    * the staged directory BEFORE the swap, so summary and watermark move
    * atomically-together. Crash anatomy: a crash before the swap leaves
    * the old summary + a stale `.tmp` the retry overwrites; a crash
    * between the delete and the rename leaves only the `.tmp` — the next
    * call ROLLS IT FORWARD (the staged state is complete, marker
    * included) and then continues from its marker. Already-current tables
    * return None without touching anything — repeated calls are no-ops,
    * which with the span semantics makes the maintainer idempotent and
    * exactly-once per version span. Returns the (appliedVersion,
    * decision-frame) pair for an applied span, None when current. */
  def maintainFromVersioned(spark: SparkSession, root: String,
      summaryPath: String, rowKeys: Seq[String], mvKeys: Seq[String],
      rowCount: String, measures: Seq[MeasureSpec],
      rescanBase: Int => DataFrame): Option[(Int, DataFrame)] =
    // Serialize per summary path (ADVICE r14): the staged `.tmp` dir and the
    // delete-dest → rename publish are not safe under concurrent invocation,
    // and two independent drivers exist (the autoServe commit listener and
    // maintainerStream's foreachBatch) that a caller may compose over the
    // same summary. Under the lock the second entrant finds the marker
    // already at the head and no-ops — the span semantics make serialized
    // execution equivalent to either order.
    maintainLocks.computeIfAbsent(summaryPath, _ => new Object).synchronized {
      maintainFromVersionedLocked(spark, root, summaryPath, rowKeys, mvKeys,
        rowCount, measures, rescanBase)
    }

  private val maintainLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def maintainFromVersionedLocked(spark: SparkSession, root: String,
      summaryPath: String, rowKeys: Seq[String], mvKeys: Seq[String],
      rowCount: String, measures: Seq[MeasureSpec],
      rescanBase: Int => DataFrame): Option[(Int, DataFrame)] = {
    val (fs, dest) = fsOf(spark, summaryPath)
    val tmp = new org.apache.hadoop.fs.Path(summaryPath + ".tmp")
    // roll a crashed publish forward: the staged dir is a COMPLETE state
    // (summary files + marker written before the swap began)
    if (!fs.exists(dest) && fs.exists(tmp)) {
      fs.rename(tmp, dest)
      spark.catalog.refreshByPath(summaryPath)
    }
    val from = readMarker(fs, summaryPath).getOrElse(throw new IllegalStateException(
      s"$summaryPath carries no applied-version marker; create it with initSummaryAt"))
    val to = VersionedTable.latestVersion(spark, root)
    if (to <= from) return None
    val feed = VersionedTable.changes(spark, root, from, to, rowKeys)
    val (newSummary, decisions) = applyChanges(
      spark.read.parquet(summaryPath), feed, mvKeys, rowCount, measures,
      () => rescanBase(to))
    newSummary.write.mode("overwrite").parquet(tmp.toString)
    writeMarker(fs, tmp.toString, to)
    val decRows = java.util.Arrays.asList(decisions.collect(): _*)
    val dec = spark.createDataFrame(decRows, decisions.schema)
    fs.delete(dest, true)
    fs.rename(tmp, dest)
    spark.catalog.refreshByPath(summaryPath)
    Some((to, dec))
  }

  /** Auto-served MV over a versioned table (r14, VERDICT r13 #2): one call
    * closes the loop the reference pays a manual `REFRESH MATERIALIZED
    * VIEW` for (`Iteration 3/Group No.6_Indexing_Partitioning.sql:161-166`)
    * — the summary is registered as the [[graft.plans.MvRewrite]] serving
    * table for the table's CURRENT head, and a [[VersionedTable]] commit
    * listener keeps it that way: after every later commit to `root` it
    *  1. catches the summary up from the CDC span
    *     ([[maintainFromVersioned]] — change-sized work, idempotent),
    *  2. drops the stale registration(s) under the root, and
    *  3. re-registers the refreshed summary against the new head's
    *     directory via the caller's `register` closure.
    * The 1→2→3 order makes a mid-way failure safe: an unregistered window
    * serves full scans (correct), never a stale summary against a new
    * snapshot. `register(session, version)` must register against
    * snapshot `version` of `root` (e.g. [[graft.plans.MvRewrite.registerVersioned]])
    * reading the summary FRESH. */
  def autoServe(spark: SparkSession, root: String, summaryPath: String,
      rowKeys: Seq[String], mvKeys: Seq[String], rowCount: String,
      measures: Seq[MeasureSpec], rescanBase: Int => DataFrame)(
      register: (SparkSession, Int) => Unit): Unit = {
    // the shared heal: catch the summary up from the CDC span (change-sized,
    // idempotent), drop the stale registration(s), re-register at the head —
    // the 1→2→3 order that makes a mid-way failure degrade to a full scan
    def heal(s: SparkSession): Unit = {
      maintainFromVersioned(s, root, summaryPath, rowKeys, mvKeys,
        rowCount, measures, rescanBase)
      graft.plans.MvRewrite.unregisterUnder(s, root)
      register(s, VersionedTable.latestVersion(s, root))
    }
    // catch the summary up BEFORE the initial registration (ADVICE r14): if
    // any commit landed after the summary's last maintain, registering first
    // would serve the stale summary for the current head — wrong answers,
    // not a degraded scan. maintainFromVersioned is a no-op when current.
    maintainFromVersioned(spark, root, summaryPath, rowKeys, mvKeys,
      rowCount, measures, rescanBase)
    register(spark, VersionedTable.latestVersion(spark, root))
    // commits from THIS process refresh through the listener; commits from
    // another process (whose listeners we never see) are caught by the
    // plan-time head check, which runs the SAME heal when a query scans an
    // unregistered head (r15, VERDICT r14 #4)
    VersionedTable.setCommitListener(s"mvserve:$root", (s, r, _) =>
      if (r == root) heal(s))
    graft.plans.MvRewrite.setHeadCheck(root, heal)
  }

  /** Detach the [[autoServe]] commit listener and plan-time head check for
    * `root` (registrations already made stay, inert without the MvRewrite
    * enable flag). */
  def stopAutoServe(root: String): Unit = {
    VersionedTable.clearCommitListener(s"mvserve:$root")
    graft.plans.MvRewrite.clearHeadCheck(root)
  }

  /** Detach ONLY the commit listener, keeping the plan-time head check —
    * how a commit from ANOTHER writer process looks to this one (its
    * in-process listeners never fire; the table head moves anyway). The
    * cross-process gate row commits DML behind this and requires the next
    * query to still serve from the summary. */
  def detachListenerKeepHeadCheck(root: String): Unit =
    VersionedTable.clearCommitListener(s"mvserve:$root")

  /** The commit log consumed AS A STREAM (r14, VERDICT r13 #3) — the Delta
    * change-data-feed shape: a Structured Streaming file source over the
    * versioned table's `<root>/_log` (one tiny marker file per commit)
    * drives [[maintainFromVersioned]] in `foreachBatch`, so the summary
    * catches up CONTINUOUSLY as DML commits land, with no poller to write.
    * Semantics stack three idempotence layers, so every crash window is
    * covered:
    *  - the file source's checkpoint remembers which markers each batch
    *    saw — a restart resumes at the first unseen marker;
    *  - the maintainer is SPAN-based (applied-version marker inside the
    *    summary dir): however many markers a batch carries, it applies the
    *    one span `(applied, latest]` exactly once, and a replayed batch
    *    (or a lost checkpoint re-delivering everything) finds `to <= from`
    *    and no-ops;
    *  - a crash mid-publish rolls forward from the staged summary on the
    *    next batch ([[maintainFromVersioned]]'s contract).
    * A marker written for a commit the manifest hasn't published yet (the
    * one crash window the log allows) wakes the maintainer into a no-op;
    * the next commit's marker triggers the span catch-up — never a lost
    * change. Start with a checkpoint + trigger of the caller's choice. */
  def maintainerStream(spark: SparkSession, root: String, summaryPath: String,
      rowKeys: Seq[String], mvKeys: Seq[String], rowCount: String,
      measures: Seq[MeasureSpec], rescanBase: Int => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.text(VersionedTable.logDir(root)).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // markers are wake-ups, not payload: the maintainer reads the table
        // head itself and applies the whole outstanding span in one pass
        if (!batch.isEmpty)
          maintainFromVersioned(spark, root, summaryPath, rowKeys, mvKeys,
            rowCount, measures, rescanBase)
        ()
      }

  // ---------------------------------------------------------------- gates

  private def productCode = col("stockcode").cast("long")

  private def baseProducts(s: SparkSession, dir: String): DataFrame =
    Warehouse(s, dir).dimProduct.select("stockcode", "unitprice", "category")

  /** The sum/count summary at category grain — the reference MV's own
    * partial set (`Iteration 3/Group No.6_Indexing_Partitioning.sql:148-158`
    * materializes avg/sum/count): fully algebraic, so its refresh NEVER
    * touches the base. */
  private def sumCountSummary(df: DataFrame): DataFrame =
    df.groupBy("category").agg(
      sum("unitprice").as("up_sum"), count(col("unitprice")).as("up_cnt"),
      count(lit(1)).as("n_rows"))

  private def summaryProjection(df: DataFrame): DataFrame =
    df.select(col("category"), col("up_sum").cast("double").as("sum_unitprice"),
      col("up_cnt"), col("n_rows"))

  /** Gate 1 (VERDICT r12 #1): the full DML mix — deletes (every 7th code),
    * whole-row updates (every 4th surviving code, +5.00) and inserts (every
    * 10th code re-keyed) — committed through the versioned table, then the
    * category summary refreshed FROM THE v1→v3 CHANGE FEED ALONE: the
    * base-snapshot thunk THROWS, so a refresh that reads anything but the
    * feed turns this row red. The oracle recomputes the summary from the
    * spelled-out final table — incremental maintenance ≡ full recompute. */
  private def incrementalRefresh(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("graft_imv_")
    val root = s"$base/t"
    val p = baseProducts(s, dir)
    VersionedTable.create(s, root, p)
    sumCountSummary(VersionedTable.read(s, root)).write.parquet(s"$base/summary")
    VersionedTable.deleteWhere(s, root, productCode % 7 === 0)
    val updates = p.filter(productCode % 4 === 0 && productCode % 7 =!= 0)
      .withColumn("unitprice",
        (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
    val inserts = p.filter(productCode % 10 === 0)
      .select((productCode + 100000).cast("string").as("stockcode"),
        col("unitprice"), lit("New").as("category"))
    VersionedTable.mergeInto(s, root, updates.unionByName(inserts), Seq("stockcode"))
    val feed = VersionedTable.changes(s, root, 1, 3, Seq("stockcode"))
    val decisions = refreshPath(s, s"$base/summary", feed, Seq("category"), "n_rows",
      Seq(MeasureSpec("unitprice", "up_sum", "up_cnt")),
      () => throw new IllegalStateException(
        "sum/count refresh must read ONLY the change feed, never the base"))
    require(decisions.filter(col("action") === "insert").count() == 1,
      "the 'New' category must arrive as a fresh cell")
    summaryProjection(s.read.parquet(s"$base/summary"))
  }

  /** Gate 2: min/max partials and a DETERMINISTIC delete-of-extreme — the
    * single globally cheapest product (ties broken by numeric stockcode) is
    * purged by tombstone; its cell's stored min dies with it, so exactly
    * that ONE cell re-scans its slice of v2 while every other cell must
    * merge with no base read (asserted on the decision frame). The oracle
    * recomputes all partials from the post-purge table. */
  private def incrementalRefreshMinMax(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("graft_imvmm_")
    val root = s"$base/t"
    val p = baseProducts(s, dir)
    VersionedTable.create(s, root, p)
    VersionedTable.read(s, root).groupBy("category").agg(
      sum("unitprice").as("up_sum"), count(col("unitprice")).as("up_cnt"),
      min("unitprice").as("up_min"), max("unitprice").as("up_max"),
      count(lit(1)).as("n_rows"))
      .write.parquet(s"$base/summary")
    val victim = p.orderBy(col("unitprice").asc, productCode.asc)
      .limit(1).select("stockcode")
    VersionedTable.deleteKeys(s, root, victim, Seq("stockcode"))
    val feed = VersionedTable.changes(s, root, 1, 2, Seq("stockcode"))
    val decisions = refreshPath(s, s"$base/summary", feed, Seq("category"), "n_rows",
      Seq(MeasureSpec("unitprice", "up_sum", "up_cnt",
        min = Some("up_min"), max = Some("up_max"))),
      () => VersionedTable.read(s, root))
    // selectivity is the contract: ONE cell re-scanned, nothing else touched
    require(decisions.count() == 1 &&
      decisions.filter(col("action") === "rescan").count() == 1,
      "exactly the victim's cell must re-scan; every other cell is untouched")
    s.read.parquet(s"$base/summary")
      .select(col("category"), col("up_sum").cast("double").as("sum_unitprice"),
        col("up_cnt"), col("up_min").cast("double").as("min_unitprice"),
        col("up_max").cast("double").as("max_unitprice"), col("n_rows"))
  }

  /** Gate 3 (r13): the CONTINUOUS maintainer — the summary catches up to
    * whatever has been committed since it last looked, in one CDC-span
    * pass per call. Scenario: v2+v3 land (delete mix + merge) before the
    * first catch-up (one span, marker 1→3), v4 (a price uplift) before the
    * second (3→4), and a third call must be a NO-OP. The re-scan thunk
    * throws — the maintainer reads only change feeds, never the base. The
    * oracle recomputes from the final state, so a skipped span, a
    * double-applied span, or a wrongly-merged partial hash-mismatches. */
  private def continuousRefresh(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("graft_imvc_")
    val root = s"$base/t"
    val p = baseProducts(s, dir)
    VersionedTable.create(s, root, p)
    initSummaryAt(s, s"$base/summary",
      sumCountSummary(VersionedTable.read(s, root)), 1)
    VersionedTable.deleteWhere(s, root, productCode % 7 === 0)
    val updates = p.filter(productCode % 4 === 0 && productCode % 7 =!= 0)
      .withColumn("unitprice",
        (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
    val inserts = p.filter(productCode % 10 === 0)
      .select((productCode + 100000).cast("string").as("stockcode"),
        col("unitprice"), lit("New").as("category"))
    VersionedTable.mergeInto(s, root, updates.unionByName(inserts), Seq("stockcode"))
    val spec = Seq(MeasureSpec("unitprice", "up_sum", "up_cnt"))
    def maintain() = maintainFromVersioned(s, root, s"$base/summary",
      Seq("stockcode"), Seq("category"), "n_rows", spec,
      _ => throw new IllegalStateException(
        "sum/count maintenance must read ONLY change feeds, never the base"))
    require(maintain().exists(_._1 == 3),
      "the first catch-up must apply the v1→v3 span in one pass")
    VersionedTable.updateWhere(s, root, productCode % 5 === 0,
      Map("unitprice" -> (col("unitprice") + lit(BigDecimal("2.00")))))
    require(maintain().exists(_._1 == 4),
      "the second catch-up must apply the v3→v4 span")
    require(maintain().isEmpty, "a current summary must be a no-op")
    summaryProjection(s.read.parquet(s"$base/summary"))
  }

  /** Gate 4 (r14, VERDICT r13 #3): the version log consumed AS A STREAM.
    * Three phases, each closing one crash window of the continuous shape:
    *  1. the maintainer stream RUNS while versioned DML commits land (v2
    *     delete mix, v3 merge, then v4 price uplift) — the summary must
    *     catch up to each head without the gate calling anything (polled on
    *     the applied-version watermark);
    *  2. a commit lands while the stream is DOWN (v5); a restart from the
    *     SAME checkpoint must resume at the unseen marker and apply the
    *     missed span;
    *  3. the checkpoint is LOST — a fresh stream re-delivers every marker,
    *     and the span semantics must make the full replay a no-op.
    * The re-scan thunk throws throughout (feed-only maintenance is a hard
    * runtime assert), and the oracle recomputes the final state, so a
    * skipped or double-applied span hash-mismatches. */
  private def cdcStreamMaintain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.dir("graft_imvstream_")
    val root = s"$base/t"
    val summary = s"$base/summary"
    val p = baseProducts(s, dir)
    VersionedTable.create(s, root, p)
    initSummaryAt(s, summary, sumCountSummary(VersionedTable.read(s, root)), 1)
    val spec = Seq(MeasureSpec("unitprice", "up_sum", "up_cnt"))
    def startStream(ckpt: String, trigger: Trigger) =
      maintainerStream(s, root, summary, Seq("stockcode"), Seq("category"),
        "n_rows", spec,
        _ => throw new IllegalStateException(
          "sum/count maintenance must read ONLY change feeds, never the base"))
        .option("checkpointLocation", ckpt).trigger(trigger).start()
    def awaitApplied(q: org.apache.spark.sql.streaming.StreamingQuery,
        v: Int): Unit = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (!appliedVersion(s, summary).exists(_ >= v)) {
        q.exception.foreach(throw _)
        if (System.nanoTime() > deadline) {
          q.stop()
          throw new IllegalStateException(
            s"maintainer stream did not reach v$v within 180 s " +
              s"(applied: ${appliedVersion(s, summary)})")
        }
        Thread.sleep(200L)
      }
    }
    // phase 1: commits land WHILE the maintainer runs
    val live = startStream(s"$base/ckpt", Trigger.ProcessingTime("500 milliseconds"))
    try {
      VersionedTable.deleteWhere(s, root, productCode % 7 === 0) // v2
      val updates = p.filter(productCode % 4 === 0 && productCode % 7 =!= 0)
        .withColumn("unitprice",
          (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
      val inserts = p.filter(productCode % 10 === 0)
        .select((productCode + 100000).cast("string").as("stockcode"),
          col("unitprice"), lit("New").as("category"))
      VersionedTable.mergeInto(s, root, updates.unionByName(inserts),
        Seq("stockcode")) // v3
      awaitApplied(live, 3)
      VersionedTable.updateWhere(s, root, productCode % 5 === 0,
        Map("unitprice" -> (col("unitprice") + lit(BigDecimal("2.00"))))) // v4
      awaitApplied(live, 4)
    } finally { live.stop(); live.awaitTermination() }
    // phase 2: a zero-change commit lands while the stream is DOWN; the
    // restart from the SAME checkpoint must consume the missed marker
    VersionedTable.deleteWhere(s, root, lit(false)) // v5
    Scratch.availableNow("stream_cdc_maintain restart")(startStream(s"$base/ckpt", _))
    require(appliedVersion(s, summary).contains(5),
      s"the restart must apply the missed v4→v5 span (applied: ${appliedVersion(s, summary)})")
    // phase 3: checkpoint lost — the full marker replay must be a no-op
    Scratch.availableNow("stream_cdc_maintain replay")(startStream(s"$base/ckpt2", _))
    require(appliedVersion(s, summary).contains(5),
      "a full marker replay must leave the watermark untouched")
    summaryProjection(s.read.parquet(summary))
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("stream_cdc_maintain", cdcStreamMaintain,
      Some(graft.oracle.OracleSql.q("""
      , scm3 AS (
          SELECT CASE WHEN CAST(stockcode AS BIGINT) % 4 = 0
                      THEN CAST(unitprice + 5.00 AS DECIMAL(12,2))
                      ELSE unitprice END AS unitprice,
                 stockcode, category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 7 <> 0
          UNION ALL
          SELECT unitprice,
                 CAST(CAST(stockcode AS BIGINT) + 100000 AS VARCHAR) AS stockcode,
                 'New' AS category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0),
        scm4 AS (
          SELECT CASE WHEN CAST(stockcode AS BIGINT) % 5 = 0
                      THEN CAST(unitprice + 2.00 AS DECIMAL(12,2))
                      ELSE unitprice END AS unitprice,
                 category
          FROM scm3)
      SELECT category, CAST(sum(unitprice) AS DOUBLE) AS sum_unitprice,
             count(unitprice) AS up_cnt, count(*) AS n_rows
      FROM scm4 GROUP BY category"""))),

    QueryDef("molap_continuous_refresh", continuousRefresh,
      Some(graft.oracle.OracleSql.q("""
      , cr3 AS (
          SELECT CASE WHEN CAST(stockcode AS BIGINT) % 4 = 0
                      THEN CAST(unitprice + 5.00 AS DECIMAL(12,2))
                      ELSE unitprice END AS unitprice,
                 stockcode, category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 7 <> 0
          UNION ALL
          SELECT unitprice,
                 CAST(CAST(stockcode AS BIGINT) + 100000 AS VARCHAR) AS stockcode,
                 'New' AS category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0),
        cr4 AS (
          SELECT CASE WHEN CAST(stockcode AS BIGINT) % 5 = 0
                      THEN CAST(unitprice + 2.00 AS DECIMAL(12,2))
                      ELSE unitprice END AS unitprice,
                 category
          FROM cr3)
      SELECT category, CAST(sum(unitprice) AS DOUBLE) AS sum_unitprice,
             count(unitprice) AS up_cnt, count(*) AS n_rows
      FROM cr4 GROUP BY category"""))),

    QueryDef("molap_incremental_refresh", incrementalRefresh,
      Some(graft.oracle.OracleSql.q("""
      , imv_final AS (
          SELECT CASE WHEN CAST(stockcode AS BIGINT) % 4 = 0
                      THEN CAST(unitprice + 5.00 AS DECIMAL(12,2))
                      ELSE unitprice END AS unitprice,
                 category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 7 <> 0
          UNION ALL
          SELECT unitprice, 'New' AS category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0)
      SELECT category, CAST(sum(unitprice) AS DOUBLE) AS sum_unitprice,
             count(unitprice) AS up_cnt, count(*) AS n_rows
      FROM imv_final GROUP BY category"""))),

    QueryDef("molap_incremental_refresh_minmax", incrementalRefreshMinMax,
      Some(graft.oracle.OracleSql.q("""
      , imv_victim AS (
          SELECT stockcode FROM dim_product
          ORDER BY unitprice ASC, CAST(stockcode AS BIGINT) ASC LIMIT 1),
        imv_kept AS (
          SELECT unitprice, category FROM dim_product
          WHERE stockcode NOT IN (SELECT stockcode FROM imv_victim))
      SELECT category, CAST(sum(unitprice) AS DOUBLE) AS sum_unitprice,
             count(unitprice) AS up_cnt,
             CAST(min(unitprice) AS DOUBLE) AS min_unitprice,
             CAST(max(unitprice) AS DOUBLE) AS max_unitprice,
             count(*) AS n_rows
      FROM imv_kept GROUP BY category"""))))
}
