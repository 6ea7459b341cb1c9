package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch

/** Threshold-driven maintenance policy loop (r15, VERDICT r14 #3): ONE
  * `maintain(root)` composes the versioned table's maintenance verbs —
  * [[VersionedTable.cluster]], [[VersionedTable.compact]],
  * [[VersionedStats.refresh]], [[VersionedTable.vacuum]] — behind measured
  * triggers, so a standing ingestion pipeline calls one function after its
  * commits instead of babysitting four operators. The reference leans on
  * the DBMS for all of this (autovacuum, index upkeep); a filesystem-table
  * engine has to run its own loop, and at 100 TB the loop must be
  * METADATA-DRIVEN: every trigger below reads file listings or published
  * stats (driver-side, one row per file), never data.
  *
  * Triggers, in execution order (each op is itself a committed snapshot /
  * published artifact with the protocol's crash discipline):
  *  1. CLUSTER (opt-in via `clusterCols`) when the published stats show
  *     the head's file ranges on `clusterCols.head` interleaving deeper
  *     than `clusterMaxDepth` — the measured signal that data skipping has
  *     degraded (a point query must open ~depth files). The z-order
  *     rewrite restores narrow per-file ranges AND right-sizes the layout
  *     (`clusterFiles` output files), which is why it runs BEFORE the
  *     compaction check: OPTIMIZE-ZORDER subsumes bin-packing, and
  *     compacting first would merge fragments only for the rewrite to
  *     re-encode them again. Skipped with a recorded reason when stats are
  *     absent or the column has no numeric stats.
  *  2. COMPACT when the head still holds more than `maxSmallFiles` EXCESS
  *     small fragments — files under `smallFileBytes` beyond the one per
  *     partition directory a fully-compacted layout legitimately has
  *     (counting raw small files would re-trigger forever on a table
  *     smaller than the target). This is the small-file accretion every
  *     micro-batch ingester suffers; right-sized files byte-copy untouched
  *     through the rewrite. SKIPPED (with a recorded reason) in a pass
  *     where cluster already rewrote the layout: the z-order output is
  *     deliberately `clusterFiles` range-files, and re-binning them would
  *     undo the locality the pass just paid for.
  *  3. REFRESH STATS when stats are enabled and their newest published
  *     version lags the head (commits from processes without a live
  *     [[graft.plans.StatsPrune]] listener leave exactly this gap); the
  *     refresh is incremental — new files only.
  *  4. VACUUM (opt-in via `keepVersions`) when more versions are retained
  *     than the policy keeps — time-travel depth is a policy decision; the
  *     storage cost of history is the pool files only retired manifests
  *     reference (r16: snapshots share unchanged files, so deep history is
  *     cheap until vacuum actually frees the unshared tail).
  *
  * Returns a DECISION FRAME — one row per op: `(op, triggered, reason,
  * n_before, n_after)` — the audit evidence a scheduled maintenance run leaves
  * behind. A second `maintain` immediately after a full pass reports every
  * trigger quiet (threshold semantics, asserted in the gate row).
  */
object Maintenance extends graft.QueryRegistry {

  /** Thresholds for one maintenance pass. Defaults suit a micro-batch
    * ingestion table at warehouse scale; tests shrink them. */
  final case class Policy(
      targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 32L << 20,
      maxSmallFiles: Int = 8,
      clusterCols: Seq[String] = Nil,
      clusterMaxDepth: Int = 4,
      clusterBits: Int = 8,
      clusterFiles: Int = 32,
      keepVersions: Option[Int] = None)

  /** One decision-frame row. PUBLIC: whole-stage codegen calls the
    * accessors from generated Java, and a private class's members are
    * invisible to janino (codegen falls back to the interpreter with an
    * ERROR in the logs — a silent hot-path deoptimization). */
  final case class Decision(op: String, triggered: Boolean,
      reason: String, n_before: Long, n_after: Long)

  /** One maintenance pass over the versioned table at `root`. */
  def maintain(spark: SparkSession, root: String,
      policy: Policy = Policy()): DataFrame = {
    import spark.implicits._
    val decisions = Seq.newBuilder[Decision]

    def headFiles(): Seq[(String, Long)] = {
      val v = VersionedTable.latestVersion(spark, root)
      VersionedTable.snapshotEntries(spark, root, v)
        .map(e => (e.part, e.bytes))
    }
    // excess small fragments: small files beyond the one per partition
    // directory a fully-compacted layout still legitimately has
    def fragments(files: Seq[(String, Long)]): Int =
      files.filter(_._2 < policy.smallFileBytes).groupBy(_._1)
        .valuesIterator.map(g => math.max(0, g.size - 1)).sum

    // 1. cluster — stats-measured interleave depth on the leading column
    var clusterFired = false
    policy.clusterCols.headOption.foreach { c =>
      val (measured, refreshed) = interleaveDepth(spark, root, c)
      // the measurement refreshing lagging stats is real pass work: say so
      // in the reason instead of doing it silently (the decision frame is
      // this function's audit contract)
      def reasoned(r: String) =
        if (refreshed) s"$r (stats refreshed to the head for the measurement)" else r
      measured match {
        case Right(depth) if depth > policy.clusterMaxDepth =>
          VersionedTable.cluster(spark, root, policy.clusterCols,
            policy.clusterBits, policy.clusterFiles)
          // fresh stats for the rewritten layout (a full re-stat, honestly:
          // clustering re-encoded every file) — also what the re-measure
          // and any pruned read of the new head serve from
          VersionedStats.refresh(spark, root)
          val after = interleaveDepth(spark, root, c)._1.getOrElse(-1L)
          clusterFired = true
          decisions += Decision("cluster", triggered = true,
            reasoned(s"interleave depth $depth on '$c' exceeded ${policy.clusterMaxDepth}"),
            depth, after)
        case Right(depth) => decisions += Decision("cluster", triggered = false,
          reasoned(s"interleave depth $depth on '$c' within bound ${policy.clusterMaxDepth}"),
          depth, depth)
        case Left(reason) => decisions += Decision("cluster", triggered = false,
          reason, -1L, -1L)
      }
    }

    // 2. compact — small-file census of the head; SKIPPED when cluster
    // just rewrote the table this pass: the clustered layout deliberately
    // slices each partition into `clusterFiles` range-files (often under
    // the small-file threshold), and re-binning them here would destroy
    // the locality the pass just paid a full rewrite for — then re-degrade
    // the depth and oscillate with step 1 on the next pass
    val files0 = headFiles()
    val frag = fragments(files0)
    if (clusterFired)
      decisions += Decision("compact", triggered = false,
        "skipped: cluster rewrote the layout this pass",
        files0.size.toLong, files0.size.toLong)
    else if (frag > policy.maxSmallFiles) {
      VersionedTable.compact(spark, root, policy.targetFileBytes)
      decisions += Decision("compact", triggered = true,
        s"$frag small fragments under ${policy.smallFileBytes}B exceeded ${policy.maxSmallFiles}",
        files0.size.toLong, headFiles().size.toLong)
    } else decisions += Decision("compact", triggered = false,
      s"$frag small fragments within bound ${policy.maxSmallFiles}",
      files0.size.toLong, files0.size.toLong)

    // 3. stats refresh — enabled and lagging the head
    VersionedStats.indexedColumns(spark, root) match {
      case Some(_) =>
        val head = VersionedTable.latestVersion(spark, root).toLong
        val statted = VersionedStats.stattedVersions(spark, root)
          .lastOption.map(_.toLong).getOrElse(0L)
        if (statted < head) {
          VersionedStats.refresh(spark, root)
          decisions += Decision("refresh_stats", triggered = true,
            s"stats at v$statted lag head v$head", statted, head)
        } else decisions += Decision("refresh_stats", triggered = false,
          s"stats current at v$statted", statted, statted)
      case None => decisions += Decision("refresh_stats", triggered = false,
        "stats not enabled", -1L, -1L)
    }

    // 4. vacuum — retained-history census
    policy.keepVersions.foreach { keep =>
      val retained = retainedVersions(spark, root)
      if (retained > keep) {
        VersionedTable.vacuum(spark, root, keep)
        decisions += Decision("vacuum", triggered = true,
          s"$retained retained versions exceeded $keep",
          retained.toLong, retainedVersions(spark, root).toLong)
      } else decisions += Decision("vacuum", triggered = false,
        s"$retained retained versions within $keep", retained.toLong, retained.toLong)
    }

    decisions.result().toDF()
  }

  private def retainedVersions(spark: SparkSession, root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).map(_.getPath.getName)
      .count(n => n.length == 6 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
  }

  /** Maximum interleave depth of the head's per-file [min, max] ranges on
    * stats column `c`: the number of files a single point value can fall
    * into — the count of files a point query must open, and the measured
    * signal that clustering has degraded. Computed by an event sweep over
    * the stats rows (metadata-sized, driver-side, O(F log F) — never
    * pairwise). Refreshes the stats first if they lag the head (the
    * measurement must describe the layout it gates) and REPORTS that in
    * the second return slot so the caller's decision frame can say so.
    * Left(reason) when the measurement is unavailable. */
  private def interleaveDepth(spark: SparkSession, root: String,
      c: String): (Either[String, Long], Boolean) = {
    if (!VersionedStats.indexedColumns(spark, root).exists(_.contains(c)))
      return (Left(s"no published stats for cluster column '$c'"), false)
    val head = VersionedTable.latestVersion(spark, root)
    val refreshed =
      !VersionedStats.stattedVersions(spark, root).contains(head)
    if (refreshed) VersionedStats.refresh(spark, root)
    val rows = VersionedStats.statsFor(spark, root, head)
      .select(col(s"${c}_min").cast("double").as("mn"),
        col(s"${c}_max").cast("double").as("mx"))
      .collect()
      .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getDouble(0), r.getDouble(1))))
    if (rows.isEmpty)
      return (Left(s"cluster column '$c' has no numeric stats"), refreshed)
    // sweep: +1 at each min, -1 just past each max (inclusive ranges —
    // opens sort before closes at equal coordinates)
    val events = rows.flatMap { case (mn, mx) =>
      Seq((mn, 1), (mx, -1)) }.sortBy { case (x, d) => (x, -d) }
    var depth = 0L; var maxDepth = 0L
    events.foreach { case (_, d) =>
      depth += d; if (depth > maxDepth) maxDepth = depth }
    (Right(maxDepth), refreshed)
  }

  // ---------------------------------------------------------------- gates

  /** The standing-pipeline scenario (r15, VERDICT r14 #3), two policy
    * phases over one table so every verb fires from a REAL threshold:
    *
    * Phase A (no cluster policy): six micro-batch appends fragment the
    * table to 19 files; `maintain` must compact them (decision-frame AND
    * real-census asserted), refresh the lagging stats, and vacuum history
    * to the policy depth.
    *
    * Phase B (cluster policy): six MORE appends re-fragment it with
    * full-range files; `maintain` must measure the interleave depth off
    * the stats, z-order the head to `clusterFiles` narrow-range files
    * (ending under the file-count bound), and a SECOND `maintain` must
    * report every trigger quiet — threshold semantics, not
    * work-every-call. Pruning is then plan-asserted through
    * [[graft.plans.StatsPrune]] over the maintained head (the commit
    * listener re-pinned across the cluster commit), and the compared
    * aggregate carries every row of every batch, so a row lost or
    * duplicated anywhere in the append/compact/cluster chain
    * hash-mismatches. */
  private def maintainPolicy(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_maint_") + "/t"
    val events = graft.streaming.EventOps.events(s, dir)
    VersionedTable.create(s, root,
      events.filter(col("event_id") % 13 === 0).repartition(1))
    require(VersionedStats.enable(s, root, Seq("user_id")) >= 1,
      "stats must publish for v1")
    // phase A: fragmenting appends, then compact + stats + vacuum
    (1 to 6).foreach { b =>
      val batch = events.filter(col("event_id") % 13 === b)
      require(VersionedTable.appendBatch(s, root, b.toLong,
        batch.repartition(3)).contains(b + 1),
        s"append batch $b must commit as v${b + 1}")
    }
    val policyA = Policy(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30,
      maxSmallFiles = 8, keepVersions = Some(2))
    val decA = maintain(s, root, policyA)
    def triggered(dec: DataFrame, op: String) =
      dec.filter(col("op") === op && col("triggered")).count() == 1
    require(triggered(decA, "compact"), "the fragmented head must trigger compaction")
    require(triggered(decA, "refresh_stats"), "stats lagging 6 commits must refresh")
    require(triggered(decA, "vacuum"), "history beyond the policy depth must vacuum")
    def headFileCount = VersionedTable.listSnapshotFiles(s, root,
      VersionedTable.latestVersion(s, root)).count()
    require(headFileCount == 1, "phase A must end fully compacted")

    // phase B: re-fragment, then the cluster policy restores skipping
    (7 to 12).foreach { b =>
      val batch = events.filter(col("event_id") % 13 === b)
      require(VersionedTable.appendBatch(s, root, b.toLong,
        batch.repartition(3)).isDefined, s"append batch $b must commit")
    }
    // registration needs stats at the head it pins (the six phase-B appends
    // committed without a listener); maintain would refresh too, but the
    // registration here is what proves the listener re-pins ACROSS the
    // cluster commit the maintenance pass is about to make
    VersionedStats.refresh(s, root)
    graft.plans.StatsPrune.register(s, root)
    try {
      val policyB = policyA.copy(clusterCols = Seq("user_id"),
        clusterMaxDepth = 2, clusterBits = 10, clusterFiles = 8,
        maxSmallFiles = 8)
      val nBefore = headFileCount
      val decB = maintain(s, root, policyB)
      require(triggered(decB, "cluster"),
        "full-range fragments must trigger the measured cluster rewrite")
      val nAfter = headFileCount
      require(nAfter <= policyB.clusterFiles && nAfter < nBefore,
        s"the maintained head must end under the file bound ($nAfter of $nBefore, bound ${policyB.clusterFiles})")
      // threshold semantics: an immediate re-run triggers NOTHING
      val decB2 = maintain(s, root, policyB)
      require(decB2.filter(col("triggered")).count() == 0,
        "an immediately repeated maintain must trigger nothing")
      // pruning still serves, plan-asserted, over the maintained head
      graft.plans.StatsPrune.servingScoped(s) {
        val q = VersionedTable.read(s, root)
          .filter(col("user_id") >= 0L && col("user_id") <= 2L)
        val scanned = graft.plans.PlanRuleSupport.fileScans(q.queryExecution.executedPlan)
          .headOption.map(_.relation.location.inputFiles.length)
        require(scanned.exists(_ < nAfter),
          s"stats pruning must survive the maintenance pass (scanned $scanned of $nAfter)")
        q.agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
      }
    } finally graft.plans.StatsPrune.clear()
  }

  def defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("sink_maintain_policy", maintainPolicy,
      Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE user_id BETWEEN 0 AND 2"""))))
}
