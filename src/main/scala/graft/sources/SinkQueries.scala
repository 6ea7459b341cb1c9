package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.{QueryDef, QueryRegistry, Scratch}
import graft.plans.PlanRuleSupport

/** Oracle-checked round trips for the write-path sinks (SURVEY.md §2.1
  * S3/S4/S5/S10) — the operators whose OUTPUT is a side effect rather than a
  * DataFrame, closed into the correctness gate by writing, reading back, and
  * hash-comparing the read-back rows against the same oracle the source
  * frame satisfies (VERDICT r6 next-round #1). A round trip proves the full
  * contract: schema fidelity through the parquet writer, partition-column
  * round-tripping, append atomicity with respect to the base write, and
  * no row loss/duplication.
  *
  * Each invocation writes under a fresh temp directory (the read-back plan
  * holds the files until the session's action completes; the OS owns
  * cleanup), so repeated runs can't collide.
  */
object SinkQueries extends QueryRegistry {

  /** The ELT fact's identity oracle — the same statement the `fact_sales_elt`
    * row compares against, looked up from the registry so the two can never
    * drift. */
  private def factOracle: String =
    graft.etl.WarehouseQueries.defs.find(_.name == "fact_sales_elt").get.oracle.get

  /** Surrogate keys dropped (engine-specific values), decimals to DOUBLE,
    * the derived partition column dropped — the registered fact identity
    * projection applied to a read-back frame. */
  private def identityProjection(df: DataFrame): DataFrame =
    df.drop("product_key", "customer_key", "year")
      .withColumn("unitprice", col("unitprice").cast("double"))
      .withColumn("totalamount", col("totalamount").cast("double"))

  /** S3: CTAS/materialize round trip — the fact written year-partitioned and
    * date_key-sorted-within (the 100 TB layout), read back through the
    * partition-discovering scan. */
  private def materializeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val w = Warehouse(s, dir)
    val out = Scratch.dir("graft_sink_ctas_")
    Sources.materialize(
      w.factSalesElt.withColumn("year", graft.yearOfDateKey(col("date_key"))),
      s"$out/fact", partitionBy = Seq("year"), sortWithin = Seq("date_key"))
    identityProjection(s.read.parquet(s"$out/fact"))
  }

  /** S5: INSERT..SELECT append round trip — a base write of the pre-1997
    * rows, the rest appended, the union read back. Every fact row lands in
    * exactly one slice (the 1970 fallback key sorts below the split), so
    * base + append must reproduce the identity exactly. */
  private def appendRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val w = Warehouse(s, dir)
    val out = Scratch.dir("graft_sink_append_")
    val split = 19970101000000L
    Sources.materialize(w.factSalesElt.filter(col("date_key") < split), s"$out/fact")
    Sources.append(w.factSalesElt.filter(col("date_key") >= split), s"$out/fact")
    identityProjection(s.read.parquet(s"$out/fact"))
  }

  /** S4: empty-schema clone (`CREATE TABLE .. WITH NO DATA`) — zero rows,
    * schema preserved. The compared frame is the clone's row count plus its
    * column list (computed FROM the clone's schema); the oracle asserts the
    * expected literal, so a schema drift or a leaked row hash-mismatches. */
  private def emptyClone(s: SparkSession, dir: String): DataFrame = {
    val clone = Sources.emptyLike(s, Warehouse(s, dir).salesFinal)
    clone.agg(count(lit(1)).as("n_rows"))
      .withColumn("columns", lit(clone.columns.mkString(",")))
  }

  /** S10: BI-export round trip — the full semantic-model export runs, and
    * the read-back MOLAP summary must satisfy the same oracle as the live
    * `molap_month_country` aggregate. */
  private def biExportRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_bi_")
    BiExport.export(s, dir, out)
    s.read.parquet(s"$out/molap_month_country")
  }

  private def molapOracle: String =
    graft.olap.Molap.defs.find(_.name == "molap_month_country").get.oracle.get

  /** Manifest-pruned read of a z-ordered layout: same re-clustering as
    * [[zorderBoxAgg]], but the box scan goes through [[SkippingIndex]] —
    * only stats-admitted files open. The oracle sees the original table, so
    * an unsoundly skipped file (lost rows) hash-mismatches; the skipping
    * effectiveness itself is asserted in SkippingIndexSpec. */
  private def zorderPrunedAgg(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_zprune_")
    ZOrder.materializeZordered(graft.streaming.EventOps.events(s, dir), s"$out/events_z",
      Seq("user_id", "value"), bits = 6, numFiles = 16)
    val idx = SkippingIndex.build(s, s"$out/events_z", Seq("user_id", "value"))
    SkippingIndex.prunedRead(s, s"$out/events_z", idx,
        Seq(SkippingIndex.Box("user_id", 30L, 60L), SkippingIndex.Box("value", 20.0, 120.0)))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** Incremental index refresh round trip (r10): the layout grows by an
    * appended drop AND loses a compacted-away file after the index was
    * built; [[SkippingIndex.refresh]] restats ONLY the new file, and the
    * pruned read through the refreshed index must still aggregate exactly
    * what the oracle computes over the surviving rows. A stale index
    * (missing the append, or keeping the vanished file) hash-mismatches. */
  private def skippingRefreshAgg(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_sidx_")
    val ev = graft.streaming.EventOps.events(s, dir)
    // v1 layout: the even-id half as two DATA-DETERMINED files (ids ≡0 and
    // ≡2 mod 4) so the later deletion removes a row set the oracle can name
    ev.filter(col("event_id") % 4 === 0).coalesce(1).write.parquet(s"$out/events_s")
    ev.filter(col("event_id") % 4 === 2)
      .coalesce(1).write.mode("append").parquet(s"$out/events_s")
    val idx0 = SkippingIndex.build(s, s"$out/events_s", Seq("user_id", "value"))
      .cache() // pin the pre-change stats: refresh must not rescan these
    idx0.count()
    // layout change 1: append the odd-id half as one new file
    ev.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$out/events_s")
    // layout change 2: the ids≡0-mod-4 file vanishes (compaction/vacuum);
    // identified by CONTENT, so the removed row set is exactly id % 4 = 0
    val hconf = s.sessionState.newHadoopConf()
    val v1Files = idx0.select("file").collect().map(_.getString(0))
    val dropped = v1Files.find { f =>
      s.read.parquet(f).select("event_id").head().getLong(0) % 4 == 0
    }.get
    new org.apache.hadoop.fs.Path(dropped).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(dropped), false)
    val idx = SkippingIndex.refresh(s, s"$out/events_s", idx0, Seq("user_id", "value"))
    SkippingIndex.prunedRead(s, s"$out/events_s", idx,
        Seq(SkippingIndex.Box("user_id", 30L, 60L), SkippingIndex.Box("value", 20.0, 120.0)))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** Z-order layout round trip: events re-clustered on (user_id, value),
    * read back through a 2-d box predicate + aggregate. The oracle sees the
    * ORIGINAL table — a lost, duplicated, or value-mangled row anywhere in
    * the re-layout hash-mismatches; the multi-file data-skipping effect
    * itself is asserted in ZOrderSpec (layout must not change semantics, so
    * it cannot show up in a correctness row). */
  private def zorderBoxAgg(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_zorder_")
    // read through the EventOps accessor, which normalizes ts to µs-epoch
    // whatever encoding the feed carries (the engine's ingestion contract)
    ZOrder.materializeZordered(graft.streaming.EventOps.events(s, dir), s"$out/events_z",
      Seq("user_id", "value"), bits = 6, numFiles = 16)
    s.read.parquet(s"$out/events_z")
      .filter(col("user_id").between(30L, 60L) &&
        col("value") >= 20.0 && col("value") < 120.0)
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** Schema-evolution round trip (r11): two drops of the product dim
    * written under different schema VERSIONS — v 'a' before the `category`
    * column existed, v 'b' after — read back through [[Sources.readEvolved]]
    * as one frame. The oracle spells the union semantics (v 'a' rows carry
    * NULL category), so a reader that drops pre-evolution rows, misaligns
    * columns by position, or fails to null-fill hash-mismatches. */
  private def schemaEvolutionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_evo_")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
    Scratch.drop(p.select(lit("a").as("v"), col("stockcode"), col("unitprice")), out, "a")
    Scratch.drop(p.select(lit("b").as("v"), col("stockcode"), col("unitprice"),
      col("category")), out, "b")
    Sources.readEvolved(s, s"$out/drops")
  }

  /** DELETE WHERE round trip (r11): the events feed laid out in
    * user-bucket partition dirs, a user-range delete applied
    * copy-on-write, survivors read back and aggregated. The oracle
    * aggregates `events WHERE NOT pred`, so a lost survivor, a surviving
    * victim, or a double-copied file hash-mismatches; file-selectivity
    * (clean files byte-copied, not re-encoded) is asserted in
    * DmlSpec. */
  private def deleteWhereRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_del_")
    graft.streaming.EventOps.events(s, dir)
      .withColumn("ubucket", expr("user_id div 50"))
      .write.partitionBy("ubucket").parquet(s"$out/events_v1")
    Dml.deleteWhere(s, s"$out/events_v1", s"$out/events_v2",
      col("user_id").between(30L, 60L))
    s.read.parquet(s"$out/events_v2")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** UPDATE-WHERE round trip (r12): the partitioned events layout, every
    * 9th user's value doubled in place through the file-selective
    * copy-on-write path, the whole layout read back and aggregated. The
    * oracle aggregates the CASE-doubled feed, so a missed victim, a
    * doubled survivor, or a dropped/duplicated file all hash-mismatch. */
  private def updateWhereRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_upd_")
    val events = graft.streaming.EventOps.events(s, dir)
    events.withColumn("ubucket", expr("user_id div 50"))
      .write.partitionBy("ubucket").parquet(s"$out/events_v1")
    Dml.updateWhere(s, s"$out/events_v1", s"$out/events_v2",
      col("user_id") % 9 === 0, Map("value" -> (col("value") * 2)))
    s.read.parquet(s"$out/events_v2")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** Row-move UPDATE round trip (r13, VERDICT r12 #6; r16: committed
    * through the VERSIONED table, where unchanged files share by
    * reference — the commit cost tracks the movers, never the layout; the
    * raw byte-copy form [[Dml.updateMove]] keeps its full coverage in
    * DmlSpec): the partitioned events table, every 7th user re-keyed
    * +100000 — which changes the PARTITION column (ubucket = user_id div
    * 50), the assignment `updateWhere` rejects by contract. The movers
    * relocate partition-routed; the fn self-asserts the physical contract
    * (some file actually rewrote AND some carried by reference; every
    * read-back row sits in the directory its user_id names), and the
    * compared aggregate pins the key shift (`user_id_sum`), the routing
    * (`ubucket_sum` from the PARTITION column), and row preservation
    * against the CASE-shifted oracle. */
  private def updateMoveRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_umv_") + "/t"
    val events = graft.streaming.EventOps.events(s, dir)
    // 5-user buckets + a sparse mover set (one user in 15): most partition
    // files hold no mover, so the commit's cost is the movers' files plus
    // manifest entries — the carry contract is asserted below
    VersionedTable.create(s, root,
      events.withColumn("ubucket", expr("user_id div 5"))
        .repartition(col("ubucket")), Seq("ubucket"))
    require(VersionedTable.updateMove(s, root,
      col("user_id") % 15 === 7,
      Map("user_id" -> (col("user_id") + 100000L),
        "ubucket" -> expr("(user_id + 100000) div 5"))) == 2,
      "the move must commit as v2")
    val (n1, n2) = (VersionedTable.snapshotFiles(s, root, 1).toSet,
      VersionedTable.snapshotFiles(s, root, 2).toSet)
    require((n2 -- n1).nonEmpty, "the move must write new files")
    require(n1.intersect(n2).nonEmpty,
      "clean files must carry by reference, not rewrite")
    val back = VersionedTable.read(s, root)
    require(back.filter(col("ubucket") =!= expr("user_id div 5")).isEmpty,
      "a moved row landed in a partition its user_id does not name")
    back.agg(count(lit(1)).as("n_events"),
      count_distinct(col("user_id")).as("n_users"),
      sum(col("user_id")).as("user_id_sum"),
      sum(col("ubucket").cast("long")).as("ubucket_sum"),
      sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** Tombstone-purge round trip (r11): the same partitioned events layout,
    * purged by a KEY LIST — every 13th user's erasure request, derived
    * from the feed itself — through the semi-probe/anti-join path instead
    * of a predicate. The oracle aggregates `events WHERE user_id % 13 <>
    * 0`, so a surviving victim row, a lost survivor, or a double-copied
    * clean file all hash-mismatch. */
  private def deleteKeysRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_gdpr_")
    val events = graft.streaming.EventOps.events(s, dir)
    events.withColumn("ubucket", expr("user_id div 50"))
      .write.partitionBy("ubucket").parquet(s"$out/events_v1")
    val tombstones = events.filter(col("user_id") % 13 === 0)
      .select("user_id").distinct()
    Dml.deleteKeys(s, s"$out/events_v1", s"$out/events_v2",
      tombstones, Seq("user_id"))
    s.read.parquet(s"$out/events_v2")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
  }

  /** Versioned UPDATE-WHERE (r12): a price repair committed as a snapshot,
    * gated through its CDC feed — which must carry EXACTLY the repaired
    * rows as pre/post image pairs (every victim's price genuinely changes,
    * so none may drop out as unchanged). */
  private def versionedUpdateWhere(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtupd_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    // cluster by the partition key before the partitioned write: without it
    // every shuffle partition crosses every bucket and the layout explodes
    // into |tasks|×|buckets| tiny files — the first thing a real writer fixes
    VersionedTable.create(s, root, p.repartition(col("pbucket")), Seq("pbucket"))
    require(VersionedTable.updateWhere(s, root, code % 6 === 0,
      Map("unitprice" -> (col("unitprice") + lit(BigDecimal("5.00"))))) == 2,
      "the update must commit as v2")
    VersionedTable.changes(s, root, 1, 2, Seq("stockcode"))
      .select(col("stockcode"), col("change_type"),
        col("unitprice").cast("double").as("unitprice"), col("category"))
  }

  /** Versioned compaction (r12): the maintenance op as a committed
    * snapshot — the dim created FRAGMENTED (40 files), compacted into a
    * published v2. The fn self-asserts the protocol contract: the CDC feed
    * across the compaction is EMPTY (bytes moved, rows never), the file
    * count genuinely shrank, and v1 stays time-travelable; the oracle then
    * hash-checks the compacted read against the dim identity. */
  private def versionedCompact(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtcomp_") + "/t"
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(40))
    require(VersionedTable.compact(s, root, targetBytes = 1L << 30) == 2,
      "compaction must commit as v2")
    require(VersionedTable.changes(s, root, 1, 2, Seq("stockcode")).isEmpty,
      "compaction must not change any row")
    def nFiles(v: Int) = VersionedTable.listSnapshotFiles(s, root, v).count()
    require(nFiles(2) < nFiles(1),
      s"compaction must shrink the file count (v1=${nFiles(1)}, v2=${nFiles(2)})")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** Zero-rewrite schema evolution through the versioned protocol (r13):
    * the product dim created partitioned at v1, a nullable `tier` column
    * ADDED at v2 — the fn REQUIRES that v2's data files are byte-identical
    * to v1's under the same names (an evolution that rewrote or dropped a
    * single data file fails before any oracle sees it), that the v1→v2 CDC
    * feed is EMPTY (old rows read as themselves + NULL), and that time
    * travel to v1 still shows the pre-evolution shape. v3 then BACKFILLS
    * the new column file-selectively through ordinary UPDATE WHERE (its
    * feed must be pure updates), and v4 merges in new rows that carry the
    * column — the full lifecycle of a column added to a 100 TB table
    * without touching its data. The oracle spells the final state: every
    * original row with its CASE-derived tier (NULL where the backfill
    * didn't reach — those rows still live in never-rewritten v1 bytes),
    * plus the merged inserts. */
  private def versionedEvolve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val root = Scratch.dir("graft_sink_vtevo_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    // cluster by the partition key before the partitioned write: without it
    // every shuffle partition crosses every bucket and the layout explodes
    // into |tasks|×|buckets| tiny files — the first thing a real writer fixes
    VersionedTable.create(s, root, p.repartition(col("pbucket")), Seq("pbucket"))
    require(VersionedTable.evolve(s, root,
      StructType(Seq(StructField("tier", StringType, nullable = true)))) == 2,
      "evolution must commit as v2")
    def fileSet(v: Int) = VersionedTable.listSnapshotFiles(s, root, v).collect()
      .map(r => (r.getAs[String]("part"), r.getAs[String]("file_id"),
        r.getAs[Long]("bytes"))).toSet
    require(fileSet(2) == fileSet(1),
      "evolution must not rewrite, drop or add a single data file")
    require(VersionedTable.changes(s, root, 1, 2, Seq("stockcode")).isEmpty,
      "evolution must read as zero changes")
    require(!VersionedTable.read(s, root, Some(1)).columns.contains("tier"),
      "time travel below the evolution must see the old schema")
    require(VersionedTable.updateWhere(s, root, col("unitprice") >= 10,
      Map("tier" -> lit("premium"))) == 3, "the backfill must commit as v3")
    val backfill = VersionedTable.changes(s, root, 2, 3, Seq("stockcode"))
    require(backfill.filter(!col("change_type").startsWith("update")).isEmpty,
      "a backfill feed is pure updates")
    val inserts = p.filter(code % 10 === 0)
      .withColumn("stockcode", (code + 200000).cast("string"))
      .withColumn("tier", lit("new"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
      .select("stockcode", "unitprice", "category", "tier", "pbucket")
    require(VersionedTable.mergeInto(s, root, inserts, Seq("stockcode"),
      Seq("pbucket")) == 4, "the merge must commit as v4")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"), col("tier"))
  }

  /** AUTOMATIC stats pruning through the optimizer (r13): the same
    * build → file-selective repair → incremental refresh scenario as
    * [[versionedStatsPrune]], but the serving side needs NO special API —
    * the snapshot is registered with [[graft.plans.StatsPrune]] and a PLAIN
    * `read(...).filter(...)` gets its scan swapped for the admitted files
    * by the optimizer rule. The fn REQUIRES the executed plan to list
    * strictly fewer files than the snapshot holds (the rewrite actually
    * fired at plan level), and the oracle — the same repaired-and-filtered
    * state — proves the pruned scan lost nothing. */
  private def versionedStatsAuto(s: SparkSession, dir: String): DataFrame = {
    val (root, p) = statsProductTable(s, dir, "graft_sink_vtsa_", Seq("code"))
    val lo = repairLowTenth(s, root, p)
    VersionedStats.refresh(s, root)
    val total = VersionedTable.listSnapshotFiles(s, root, 2).count()
    graft.plans.StatsPrune.register(s, root)
    try graft.plans.StatsPrune.servingScoped(s)(
      requirePrunedRead(s, root, lo, total, "the rule must prune the plain filtered read"))
    finally graft.plans.StatsPrune.clear()
  }

  /** The product dim with a numeric `code` (its stockcode), committed as v1
    * of a fresh versioned table range-clustered on `code` in 8 files, with
    * stats published on `statsCols`. Returns the root and the dim frame. */
  private def statsProductTable(s: SparkSession, dir: String, prefix: String,
      statsCols: Seq[String]): (String, DataFrame) = {
    val root = Scratch.dir(prefix) + "/t"
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("code", col("stockcode").cast("long"))
    VersionedTable.create(s, root, p.repartitionByRange(8, col("code")))
    require(VersionedStats.enable(s, root, statsCols) == 1,
      "stats must publish for v1")
    (root, p)
  }

  /** The stats scenarios' repair: doubles the price of the lowest tenth of
    * `p`'s codes as v2 of `root`. Returns that tenth's upper bound. */
  private def repairLowTenth(s: SparkSession, root: String, p: DataFrame): Long = {
    val lo = p.agg(max("code")).head().getLong(0) / 10
    require(VersionedTable.updateWhere(s, root, col("code") <= lo,
      Map("unitprice" -> col("unitprice") * 2)) == 2, "repair must commit as v2")
    lo
  }

  /** The plain filtered read of codes [0, 2·lo] from the head of `root`,
    * which must plan a scan of fewer than `total` files; fails with `what`
    * and the scanned count otherwise. */
  private def requirePrunedRead(s: SparkSession, root: String, lo: Long,
      total: Long, what: String): DataFrame = {
    val q = VersionedTable.read(s, root)
      .filter(col("code") >= 0L && col("code") <= 2 * lo)
    val scanned = PlanRuleSupport.fileScans(q.queryExecution.executedPlan)
      .headOption.map(_.relation.location.inputFiles.length)
    require(scanned.exists(_ < total), s"$what (scanned $scanned of $total)")
    q.select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
      col("category"))
  }

  /** Metadata-only aggregate serving (r15): a global count(*)/min/max
    * over the stats-registered dim answered ENTIRELY from the per-file
    * stats rows — the fn REQUIRES the executed plan to contain NO file
    * scan at all — with a DML commit in between proving the commit
    * listener keeps the metadata answer live. The oracle recomputes the
    * aggregates from the raw rows, so a stale count, a wrong null
    * treatment in min/max, or an unmaintained stats row all
    * hash-mismatch. */
  private def versionedStatsMetaAgg(s: SparkSession, dir: String): DataFrame = {
    val (root, _) = statsProductTable(s, dir, "graft_sink_vtmeta_", Seq("code", "unitprice"))
    graft.plans.StatsPrune.register(s, root)
    try {
      // DML behind the registration: the commit listener must refresh the
      // stats and re-pin, so the metadata answer reflects v2
      require(VersionedTable.deleteWhere(s, root, col("code") % 9 === 0) == 2,
        "the delete must commit as v2")
      graft.plans.StatsPrune.servingScoped(s) {
        val q = VersionedTable.read(s, root)
          .agg(count(lit(1)).as("n_rows"),
            min("code").as("min_code"), max("code").as("max_code"),
            min("unitprice").cast("double").as("min_price"),
            max("unitprice").cast("double").as("max_price"))
        require(PlanRuleSupport.fileScans(q.queryExecution.executedPlan).isEmpty,
          "a metadata-served aggregate must open NO data file")
        q
      }
    } finally graft.plans.StatsPrune.clear()
  }

  /** Commit-time RE-registration of the pruning rule (r14, VERDICT r13
    * #2): the same scenario as [[versionedStatsAuto]], but the
    * registration happens BEFORE the DML commit and nothing refreshes or
    * re-registers by hand — the commit listener
    * [[graft.plans.StatsPrune.register]] installs must refresh the stats
    * incrementally and re-pin the registration at v2 on its own. A
    * listener that skipped either half turns the row red two ways: a
    * stale v1 registration never matches the v2 scan (the pruning plan
    * assert fails), and the oracle's repaired values exist only in v2. */
  private def versionedStatsAutoReg(s: SparkSession, dir: String): DataFrame =
    statsAutoRegScenario(s, dir, crossProcess = false)

  /** Cross-process re-registration (r15, VERDICT r14 #4): the same
    * scenario, but the DML commit lands with the commit listener DETACHED —
    * a commit from another writer process never fires this process's
    * listeners; `_latest` moves anyway. The registration is left pinned at
    * v1, so only [[graft.plans.StatsPrune]]'s plan-time head check (the
    * scanned location IS the unregistered new head of a live root → run
    * the refresh+re-pin inline) can make the v2 read prune — the same
    * plan assert and repaired-values oracle as the in-process row. */
  private def versionedStatsHeadCheck(s: SparkSession, dir: String): DataFrame =
    statsAutoRegScenario(s, dir, crossProcess = true)

  private def statsAutoRegScenario(s: SparkSession, dir: String,
      crossProcess: Boolean): DataFrame = {
    val (root, p) = statsProductTable(s, dir, "graft_sink_vtsar_", Seq("code"))
    graft.plans.StatsPrune.register(s, root) // BEFORE the mutation
    try {
      if (crossProcess) graft.plans.StatsPrune.detachListenerKeepHeadCheck(root)
      val lo = repairLowTenth(s, root, p)
      // NO refresh, NO re-register — the commit hook (or, cross-process,
      // the plan-time head check) must do both
      val total = VersionedTable.listSnapshotFiles(s, root, 2).count()
      graft.plans.StatsPrune.servingScoped(s)(requirePrunedRead(s, root, lo, total,
        "the auto-refreshed registration must prune the v2 read"))
    } finally graft.plans.StatsPrune.clear()
  }

  /** OPTIMIZE ZORDER BY through the versioned protocol, served by the
    * stats index (r13): the product dim committed HASH-SCATTERED at v1
    * (both query dimensions spread across every file — the layout a table
    * accretes under random ingestion), stats enabled, then CLUSTERED on
    * (code, price) as a committed v2. The fn REQUIRES the clustering to
    * move bytes and never rows (empty v1→v2 CDC feed, disjoint file sets),
    * the stats refresh to scan the all-new files, and — the point — a
    * two-dimensional box to admit STRICTLY FEWER files at v2 than at v1
    * while the pruned read stays row-for-row equal to the exact filter.
    * The oracle spells the box contents, so a clustering that drops or
    * duplicates a row, or a prune that skips a matching file, cannot
    * pass. */
  private def versionedZorderServe(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtzo_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("code", code)
      // a second query dimension DECORRELATED from the first (a full-period
      // permutation mod a prime): the dim's own price is a pure function of
      // the code, which would make any 2-D box degenerate
      .withColumn("w", (code * 37) % 97)
    VersionedTable.create(s, root, p.repartition(8))
    require(VersionedStats.enable(s, root, Seq("code", "w")) == 1,
      "stats must publish for v1")
    val maxCode = p.agg(max("code")).head().getLong(0)
    val boxes = Seq(
      SkippingIndex.Box("code", maxCode / 4, maxCode / 2),
      SkippingIndex.Box("w", 10L, 30L))
    val before = VersionedStats.survivingNames(s, root, 1, boxes).size
    require(VersionedTable.cluster(s, root, Seq("code", "w"),
      bits = 6, numFiles = 8) == 2, "clustering must commit as v2")
    require(VersionedTable.changes(s, root, 1, 2, Seq("stockcode")).isEmpty,
      "clustering moves bytes, never rows")
    def names(v: Int) = VersionedTable.snapshotFiles(s, root, v).toSet
    require(names(1).intersect(names(2)).isEmpty,
      "a re-clustering rewrites every file")
    val dec = VersionedStats.refresh(s, root)
    require(dec.filter(col("action") === "carried").isEmpty,
      "nothing carries across a full rewrite")
    val after = VersionedStats.survivingNames(s, root, 2, boxes).size
    require(after < before && after < names(2).size,
      s"the 2-D box must prune strictly better on the clustered layout " +
        s"($after of ${names(2).size} vs $before of ${names(1).size})")
    val pruned = VersionedStats.prunedRead(s, root, boxes)
    val exact = VersionedTable.read(s, root).filter(
      code.between(maxCode / 4, maxCode / 2) && col("w").between(10L, 30L))
    require(pruned.exceptAll(exact).isEmpty && exact.exceptAll(pruned).isEmpty,
      "pruned read must equal the exact filter")
    pruned.select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
      col("category"))
  }

  /** Optimistic multi-writer concurrency (r13): two writers race the same
    * table — writer A (a price repair) reads the head, and WHILE A is still
    * mutating, writer B commits a delete; A's commit rename loses the race,
    * so A re-runs its mutation against B's head and commits on the retry.
    * The fn REQUIRES the interleave actually happened (B got v2, A got v3 —
    * i.e. A detected the conflict and retried rather than clobbering or
    * losing B's commit), and the oracle spells BOTH effects composed in
    * order (the delete applied, then the repair over the survivors) — a
    * lost update on either side hash-mismatches. */
  private def versionedConcurrent(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtcc_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(4))
    var bVersion = 0
    val aVersion = VersionedTable.transact(s, root) { (_, snap, stage) =>
      if (bVersion == 0)
        bVersion = VersionedTable.transact(s, root) { (_, bSnap, bStage) =>
          Dml.deleteWhereCore(s, bSnap, bStage, code % 13 === 0)._2
        }
      Dml.updateWhereCore(s, snap, stage, code % 10 === 7,
        Map("unitprice" -> (col("unitprice") * 2)))._2
    }
    require(bVersion == 2, s"writer B must land v2 (got v$bVersion)")
    require(aVersion == 3,
      s"writer A must lose the race and commit v3 on retry (got v$aVersion)")
    require(VersionedTable.latestVersion(s, root) == 3, "head must be v3")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** Versioned data-skipping stats end to end (r13): the product dim
    * committed as 8 range-tight files on the numeric stockcode, stats
    * enabled at v1, a file-selective price repair committed at v2, and the
    * stats REFRESHED INCREMENTALLY — the fn REQUIRES the refresh decision
    * frame to show every byte-copied file carried and ONLY the
    * newly-written names scanned (the 100 TB contract: a commit that
    * rewrote k files re-stats k files, never the table), then serves a
    * range query through [[VersionedStats.prunedRead]] and REQUIRES that
    * pruning actually skipped files AND that the pruned read row-for-row
    * equals the exact full-scan filter (skipping soundness at run time).
    * The oracle spells the repaired-and-filtered state, so a stale stats
    * row, a wrongly-skipped file, or a lost update all hash-mismatch. */
  private def versionedStatsPrune(s: SparkSession, dir: String): DataFrame = {
    val (root, p) = statsProductTable(s, dir, "graft_sink_vtstats_", Seq("code"))
    val lo = repairLowTenth(s, root, p)
    def names(v: Int) = VersionedTable.snapshotFiles(s, root, v).toSet
    val (n1, n2) = (names(1), names(2))
    val dec = VersionedStats.refresh(s, root)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getString(2)))
      .groupBy(_._2).map { case (a, xs) => (a, xs.map(_._1).toSet) }
    require(dec.getOrElse("scanned", Set()) == (n2 -- n1) && (n2 -- n1).nonEmpty,
      "refresh must scan exactly the newly-written files")
    require(dec.getOrElse("carried", Set()) == n2.intersect(n1) && n2.intersect(n1).nonEmpty,
      "refresh must carry every byte-copied file (file-selective DML held)")
    require(dec.getOrElse("dropped", Set()) == (n1 -- n2),
      "refresh must drop vanished names")
    val hi = 2 * lo
    val box = SkippingIndex.Box("code", 0L, hi)
    require(VersionedStats.survivingNames(s, root, 2, Seq(box)).size < n2.size,
      "the box must actually skip files")
    val pruned = VersionedStats.prunedRead(s, root, Seq(box))
    val exact = VersionedTable.read(s, root).filter(col("code") >= 0L && col("code") <= hi)
    require(pruned.exceptAll(exact).isEmpty && exact.exceptAll(pruned).isEmpty,
      "pruned read must equal the exact full-scan filter")
    pruned.select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
      col("category"))
  }

  /** Bloom point skipping (r15): the product dim laid out HASH-SHUFFLED so
    * every file's stockcode [min,max] spans the domain — the exact case
    * min/max boxes cannot prune a point lookup — then per-file blooms
    * enabled on stockcode and five needle lookups served through
    * [[VersionedStats.pointRead]]. The fn REQUIRES the bloom to reject
    * files on every probe (opened < files × probes), a DML commit +
    * incremental refresh to keep the blooms serving, and the oracle spells
    * the needles' rows exactly. */
  private def versionedStatsBloom(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtbloom_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(8))
    require(VersionedStats.enable(s, root, Seq("stockcode")) == 1,
      "stats must publish for v1")
    require(VersionedStats.enableBlooms(s, root, Seq("stockcode"),
      expectedItemsPerFile = 1L << 16, fpp = 0.001) == 1,
      "blooms must publish for v1")
    // DML + incremental refresh keep blooms current (rewritten files get
    // fresh sketches; byte-copied files carry theirs)
    require(VersionedTable.deleteWhere(s, root, code % 1009 === 0) == 2,
      "the delete must commit as v2")
    VersionedStats.refresh(s, root)
    val targets = p.filter(code % 197 === 0 && code % 1009 =!= 0)
      .orderBy(code).limit(5).select("stockcode").collect().map(_.getString(0)).toSeq
    require(targets.nonEmpty, "the needle set must be non-empty")
    val nFiles = VersionedTable.listSnapshotFiles(s, root, 2).count()
    val opened = targets.map(v =>
      VersionedStats.survivingNamesForPoint(s, root, 2, "stockcode", v).size).sum
    require(opened < nFiles * targets.size,
      s"blooms must reject files min/max admits ($opened of ${nFiles * targets.size})")
    targets.map(v => VersionedStats.pointRead(s, root, "stockcode", v))
      .reduce(_ unionByName _)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** CHECK constraints enforced at commit time (r13): a non-negative-price
    * constraint registered against the product dim, a valid repricing
    * committed, then a VIOLATING repair attempted — the fn REQUIRES the
    * violation to throw (naming the constraint) and the head to stay at
    * the valid version, so the violating snapshot never became visible.
    * Enforcement is file-selective (only the mutation's new files
    * validate). The oracle spells the valid-repair-only state: a leaked
    * violating row, or a rejected-but-committed version, hash-mismatches. */
  private def versionedConstraint(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtchk_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(4))
    VersionedTable.addConstraint(s, root, "price_nonneg", "unitprice >= 0")
    require(VersionedTable.updateWhere(s, root, code % 10 === 0,
      Map("unitprice" -> (col("unitprice") * 2))) == 2,
      "the valid repricing must commit as v2")
    val rejected =
      try { VersionedTable.updateWhere(s, root, code % 11 === 0,
        Map("unitprice" -> (col("unitprice") - 1000000))); None }
      catch { case e: IllegalStateException => Some(e.getMessage) }
    require(rejected.exists(_.contains("price_nonneg")),
      "the violating update must be rejected naming the constraint")
    require(VersionedTable.latestVersion(s, root) == 2,
      "a rejected mutation must not move the head")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** RESTORE — mistake recovery (r13): a bad delete wipes a third of the
    * product dim at v2; `restore(v1)` commits the original content as v3
    * WITHOUT rewriting history (the fn REQUIRES v2 to stay readable at its
    * damaged count and the v2→v3 feed to be exactly the mistake's inverse —
    * pure re-inserts). The oracle is the original dim identity: a restore
    * that lost or duplicated a row hash-mismatches. */
  private def versionedRestore(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtrst_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(4))
    val n = p.count()
    require(VersionedTable.deleteWhere(s, root, code % 3 === 0) == 2,
      "the mistake must commit as v2")
    val damaged = VersionedTable.read(s, root).count()
    require(VersionedTable.restore(s, root, 1) == 3, "the restore must commit as v3")
    require(VersionedTable.read(s, root, Some(2)).count() == damaged,
      "history must keep the damaged version readable")
    val feed = VersionedTable.changes(s, root, 2, 3, Seq("stockcode"))
    require(feed.filter(col("change_type") =!= "insert").isEmpty
        && feed.count() == n - damaged,
      "the restore feed must be exactly the mistake's inverse")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** Full conditional MERGE (r13): the SQL verb with ordered WHEN MATCHED
    * clauses against the product dim — every 5th product arrives in the
    * source, where every 10th is a REPRICE (update: price × the source's
    * adj factor, the expression mixing target and [[Dml.src]] columns) and
    * the odd 5ths are DISCONTINUED (delete); unmatched source rows insert
    * only when they pass the price floor. The committed feed must carry
    * all three change classes, and the oracle spells the merged state —
    * a clause misfire, a wrong-order application, or a leaked unmatched
    * row hash-mismatches. */
  private def versionedMergeClauses(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtmc_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(4))
    val matchedSrc = p.filter(code % 5 === 0)
      .withColumn("adj", when(code % 10 === 0, 2.0).otherwise(0.0))
    val insertSrc = p.filter(code % 9 === 0)
      .withColumn("stockcode", (code + 300000).cast("string"))
      .withColumn("adj", lit(1.0))
    require(VersionedTable.mergeClauses(s, root,
      matchedSrc.unionByName(insertSrc), Seq("stockcode"),
      matched = Seq(
        Dml.WhenMatchedUpdate(Dml.src("adj") > 0.0,
          Map("unitprice" -> (col("unitprice") * Dml.src("adj")))),
        Dml.WhenMatchedDelete(Dml.src("adj") === 0.0)),
      notMatchedInsert = Some(col("unitprice") >= 910)) == 2,
      "the merge must commit as v2")
    val classes = VersionedTable.changes(s, root, 1, 2, Seq("stockcode"))
      .select("change_type").distinct().collect().map(_.getString(0)).toSet
    require(classes == Set("insert", "delete", "update_preimage", "update_postimage"),
      s"the merge feed must carry all change classes (got ${classes.mkString(", ")})")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** Zero-rewrite DROP COLUMN (r13) — the sibling lifecycle of
    * [[versionedEvolve]]: category dropped from the product dim at v2 with
    * the fn REQUIRING byte-identical file sets (an implementation that
    * rewrote data to drop a column fails before any oracle sees it), an
    * EMPTY v1→v2 feed, time travel below the drop still carrying the
    * column, and DML continuing under the narrowed schema (a delete commits
    * v3). The oracle spells the narrowed post-delete state. */
  private def versionedDrop(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtdrop_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p.repartition(4))
    require(VersionedTable.dropColumns(s, root, Seq("category")) == 2,
      "the drop must commit as v2")
    def fileSet(v: Int) = VersionedTable.listSnapshotFiles(s, root, v).collect()
      .map(r => (r.getAs[String]("part"), r.getAs[String]("file_id"),
        r.getAs[Long]("bytes"))).toSet
    require(fileSet(2) == fileSet(1), "a drop must not rewrite a single data file")
    require(VersionedTable.changes(s, root, 1, 2, Seq("stockcode")).isEmpty,
      "a drop must read as zero changes")
    require(VersionedTable.read(s, root, Some(1)).columns.contains("category"),
      "time travel below the drop must keep the column")
    require(VersionedTable.deleteWhere(s, root, code % 7 === 0) == 3,
      "DML under the narrowed schema must commit as v3")
    VersionedTable.read(s, root)
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"))
  }

  /** Versioned erasure purge (r12, VERDICT r11 #6): the product dim created
    * at v1, every 13th stockcode purged by TOMBSTONE LIST through
    * [[VersionedTable.deleteKeys]] (the erasure request as it actually
    * arrives, against the versioned protocol rather than a raw layout), and
    * the gate reads the v1→v2 CDC feed — which must carry EXACTLY the
    * purged keys as `delete` images. A surviving victim, a lost survivor
    * (it would surface as a spurious delete image), or a wrong change class
    * all hash-mismatch against the oracle's spelled-out delete set. */
  private def versionedDeleteKeys(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_vtgdpr_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    // cluster by the partition key before the partitioned write: without it
    // every shuffle partition crosses every bucket and the layout explodes
    // into |tasks|×|buckets| tiny files — the first thing a real writer fixes
    VersionedTable.create(s, root, p.repartition(col("pbucket")), Seq("pbucket"))
    val tombstones = p.filter(code % 13 === 0).select("stockcode").distinct()
    require(VersionedTable.deleteKeys(s, root, tombstones, Seq("stockcode")) == 2,
      "purge must commit as v2")
    VersionedTable.changes(s, root, 1, 2, Seq("stockcode"))
      .select(col("stockcode"), col("change_type"),
        col("unitprice").cast("double").as("unitprice"), col("category"))
  }

  /** MERGE INTO round trip (r11): the product dim laid out in stockcode
    * buckets, an update set of changed prices (every 4th code, +5.00
    * exact decimal) plus inserted rows (every 10th code re-keyed past the
    * domain) merged copy-on-write, the result read back whole. The oracle
    * spells the post-merge table (CASE for updates, UNION ALL for
    * inserts), so a lost row, a stale pre-update version, or a dropped
    * insert hash-mismatches. */
  private def mergeIntoRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir("graft_sink_merge_")
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    p.write.partitionBy("pbucket").parquet(s"$out/v1")
    val changed = p.filter(code % 4 === 0)
      .withColumn("unitprice",
        (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
    val inserts = p.filter(code % 10 === 0)
      .select((code + 100000).cast("string").as("stockcode"),
        col("unitprice"), lit("New").as("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    Dml.mergeInto(s, s"$out/v1", s"$out/v2",
      changed.unionByName(inserts), Seq("stockcode"), Seq("pbucket"))
    s.read.parquet(s"$out/v2")
      .select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
        col("category"))
  }

  /** Versioned-table scenario (r11): the product dim created at v1, a
    * DELETE (every 7th code) committed as v2, a price MERGE (every 4th
    * surviving code, +5.00) committed as v3. Two gate rows read it:
    * time travel to v1 must see the ORIGINAL dim untouched by both later
    * mutations, and the latest read must see exactly the post-delete,
    * post-merge table. */
  private def versionedScenario(s: SparkSession, dir: String): String = {
    val root = Scratch.dir("graft_sink_vt_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    // cluster by the partition key before the partitioned write: without it
    // every shuffle partition crosses every bucket and the layout explodes
    // into |tasks|×|buckets| tiny files — the first thing a real writer fixes
    VersionedTable.create(s, root, p.repartition(col("pbucket")), Seq("pbucket"))
    VersionedTable.deleteWhere(s, root, code % 7 === 0)
    val updates = p.filter(code % 4 === 0 && code % 7 =!= 0)
      .withColumn("unitprice",
        (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
    VersionedTable.mergeInto(s, root, updates, Seq("stockcode"), Seq("pbucket"))
    root
  }

  private def versionedProjection(df: DataFrame): DataFrame =
    df.select(col("stockcode"), col("unitprice").cast("double").as("unitprice"),
      col("category"))

  /** CDC scenario (r11): its own versioned table whose v1→v3 span exercises
    * every change class — deletes (every 7th code at v2), updates (every
    * 4th surviving code re-priced at v3) AND inserts (every 10th code
    * re-keyed past the domain at v3) — then reads the v1→v3 change feed.
    * The oracle spells each class's expected image rows explicitly, so a
    * missed class, a leaked unchanged row, or a pre/post image swap
    * hash-mismatches. */
  private def cdcChanges(s: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_sink_cdc_") + "/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    // cluster by the partition key before the partitioned write: without it
    // every shuffle partition crosses every bucket and the layout explodes
    // into |tasks|×|buckets| tiny files — the first thing a real writer fixes
    VersionedTable.create(s, root, p.repartition(col("pbucket")), Seq("pbucket"))
    VersionedTable.deleteWhere(s, root, code % 7 === 0)
    val updates = p.filter(code % 4 === 0 && code % 7 =!= 0)
      .withColumn("unitprice",
        (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
    val inserts = p.filter(code % 10 === 0)
      .select((code + 100000).cast("string").as("stockcode"),
        col("unitprice"), lit("New").as("category"))
      .withColumn("pbucket", expr("CAST(stockcode AS BIGINT) div 500"))
    VersionedTable.mergeInto(s, root, updates.unionByName(inserts),
      Seq("stockcode"), Seq("pbucket"))
    VersionedTable.changes(s, root, 1, 3, Seq("stockcode"))
      .select(col("stockcode"), col("change_type"),
        col("unitprice").cast("double").as("unitprice"), col("category"))
  }

  /** The commit log as a GENERIC change-feed stream (r15, VERDICT r14 #7):
    * [[VersionedTable.changesStream]] hands ANY consumer — here a plain
    * span collector — the row-level CDC feed of each outstanding version
    * span as commits land. Three phases, each closing one crash window:
    *  1. two DML commits (delete mix, merge) land before the first
    *     catch-up run — which must deliver them as ONE span (1→3], never
    *     per-commit re-reads;
    *  2. a commit lands while the stream is DOWN (a price uplift, v4); the
    *     restart from the SAME checkpoint must resume at the unseen marker
    *     and deliver exactly the missed span (3→4];
    *  3. the checkpoint is LOST — the full marker replay must deliver
    *     NOTHING (the consumer watermark makes the replay a no-op).
    * The compared output is every delivered span's images tagged
    * (from_v, to_v); the oracle spells both spans' change images, so a
    * skipped span, a double-delivered span, or per-commit (non-span)
    * delivery all hash-mismatch. */
  private def versionedChangesFeed(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("graft_sink_cdcs_")
    val root = s"$base/t"
    val code = col("stockcode").cast("long")
    val p = Warehouse(s, dir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(s, root, p)
    val spans = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def run(ckpt: String): Unit = Scratch.availableNow("stream_versioned_changes_feed")(
      VersionedTable.changesStream(s, root, Seq("stockcode"),
        s"$base/state", startAfter = 1) { (from, to, feed) =>
        val proj = feed.select(col("stockcode"), col("change_type"),
          col("unitprice").cast("double").as("unitprice"), col("category"),
          lit(from).as("from_v"), lit(to).as("to_v"))
        val rows = java.util.Arrays.asList(proj.collect(): _*)
        spans += s.createDataFrame(rows, proj.schema)
      }.option("checkpointLocation", ckpt).trigger(_).start())
    // phase 1: v2 (delete mix) + v3 (merge) already committed → ONE span
    VersionedTable.deleteWhere(s, root, code % 7 === 0)
    val updates = p.filter(code % 4 === 0 && code % 7 =!= 0)
      .withColumn("unitprice",
        (col("unitprice") + lit(BigDecimal("5.00"))).cast("decimal(12,2)"))
    val inserts = p.filter(code % 10 === 0)
      .select((code + 100000).cast("string").as("stockcode"),
        col("unitprice"), lit("New").as("category"))
    VersionedTable.mergeInto(s, root, updates.unionByName(inserts), Seq("stockcode"))
    run(s"$base/ckpt")
    require(spans.size == 1,
      s"the catch-up must deliver the v1→v3 span in ONE feed (got ${spans.size})")
    // phase 2: a commit while the stream is down; same checkpoint resumes
    VersionedTable.updateWhere(s, root, code % 5 === 0,
      Map("unitprice" -> (col("unitprice") + lit(BigDecimal("2.00")))))
    run(s"$base/ckpt")
    require(spans.size == 2, "the restart must deliver exactly the missed v3→v4 span")
    // phase 3: lost checkpoint — the full marker replay must deliver nothing
    run(s"$base/ckpt2")
    require(spans.size == 2, "a full marker replay must be a no-op")
    spans.reduce(_ unionByName _)
  }

  /** Shared by `sink_versioned_stats_autoreg` and
    * `sink_versioned_stats_headcheck` — identical final state; only the
    * re-registration trigger (in-process listener vs plan-time head check)
    * differs. */
  private lazy val statsRepairOracle: String = graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT)
                            <= (SELECT max(CAST(stockcode AS BIGINT)) // 10 FROM dim_product)
                       THEN unitprice * 2 ELSE unitprice END AS DOUBLE) AS unitprice,
             category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT)
            <= (SELECT 2 * (max(CAST(stockcode AS BIGINT)) // 10) FROM dim_product)""")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("sink_versioned_timetravel",
      (s, d) => versionedProjection(
        VersionedTable.read(s, versionedScenario(s, d), Some(1))),
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product"""))),

    QueryDef("sink_versioned_latest",
      (s, d) => versionedProjection(
        VersionedTable.read(s, versionedScenario(s, d))),
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT) % 4 = 0
                       THEN unitprice + 5.00 ELSE unitprice END AS DOUBLE)
               AS unitprice,
             category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 7 <> 0"""))),

    // the SQL surface: literal reference-style SQL over the registered
    // views, hash-checked against the SAME oracle as the DSL form
    // (olap_q1) — the two surfaces are proven to agree cross-engine
    QueryDef("sql_monthly_country",
      (s, d) => SqlSurface.monthlyCountrySql(s, d),
      Some(graft.oracle.OracleSql.q("""
      SELECT d.year, d.month, coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS total_revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY 1, 2, 3"""))),

    QueryDef("sink_versioned_compact", versionedCompact,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product"""))),

    QueryDef("sink_versioned_constraint", versionedConstraint,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT) % 10 = 0
                       THEN unitprice * 2 ELSE unitprice END AS DOUBLE) AS unitprice,
             category
      FROM dim_product"""))),

    QueryDef("sink_versioned_restore", versionedRestore,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product"""))),

    QueryDef("sink_merge_clauses", versionedMergeClauses,
      Some(graft.oracle.OracleSql.q("""
      , mt AS (SELECT stockcode, unitprice, category,
                      CAST(stockcode AS BIGINT) AS code
               FROM dim_product)
      SELECT stockcode,
             CAST(CASE WHEN code % 10 = 0 THEN unitprice * 2
                       ELSE unitprice END AS DOUBLE) AS unitprice,
             category
      FROM mt
      WHERE NOT (code % 5 = 0 AND code % 10 <> 0)
      UNION ALL
      SELECT CAST(code + 300000 AS VARCHAR) AS stockcode,
             CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM mt WHERE code % 9 = 0 AND unitprice >= 910"""))),

    QueryDef("sink_versioned_drop", versionedDrop,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 7 <> 0"""))),

    QueryDef("sink_versioned_evolve", versionedEvolve,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category,
             CASE WHEN unitprice >= 10 THEN 'premium' END AS tier
      FROM dim_product
      UNION ALL
      SELECT CAST(CAST(stockcode AS BIGINT) + 200000 AS VARCHAR) AS stockcode,
             CAST(unitprice AS DOUBLE) AS unitprice, category, 'new' AS tier
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0"""))),

    QueryDef("stream_versioned_changes_feed", versionedChangesFeed,
      Some(graft.oracle.OracleSql.q("""
      , vcf3 AS (
          SELECT stockcode,
                 CASE WHEN CAST(stockcode AS BIGINT) % 4 = 0
                      THEN CAST(unitprice + 5.00 AS DECIMAL(12,2))
                      ELSE unitprice END AS unitprice,
                 category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 7 <> 0
          UNION ALL
          SELECT CAST(CAST(stockcode AS BIGINT) + 100000 AS VARCHAR) AS stockcode,
                 unitprice, 'New' AS category
          FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0)
      SELECT stockcode, 'delete' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category,
             1 AS from_v, 3 AS to_v
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 7 = 0
      UNION ALL
      SELECT stockcode, 'update_preimage' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category,
             1 AS from_v, 3 AS to_v
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 4 = 0 AND CAST(stockcode AS BIGINT) % 7 <> 0
      UNION ALL
      SELECT stockcode, 'update_postimage' AS change_type,
             CAST(unitprice + 5.00 AS DOUBLE) AS unitprice, category,
             1 AS from_v, 3 AS to_v
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 4 = 0 AND CAST(stockcode AS BIGINT) % 7 <> 0
      UNION ALL
      SELECT CAST(CAST(stockcode AS BIGINT) + 100000 AS VARCHAR) AS stockcode,
             'insert' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, 'New' AS category,
             1 AS from_v, 3 AS to_v
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0
      UNION ALL
      SELECT stockcode, 'update_preimage' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category,
             3 AS from_v, 4 AS to_v
      FROM vcf3 WHERE CAST(stockcode AS BIGINT) % 5 = 0
      UNION ALL
      SELECT stockcode, 'update_postimage' AS change_type,
             CAST(unitprice + 2.00 AS DOUBLE) AS unitprice, category,
             3 AS from_v, 4 AS to_v
      FROM vcf3 WHERE CAST(stockcode AS BIGINT) % 5 = 0"""))),

    QueryDef("sink_versioned_stats_autoreg", versionedStatsAutoReg,
      Some(statsRepairOracle)),

    // same scenario + oracle, DML committed with the listener detached (a
    // foreign-process write): only the plan-time head check can restore
    // pruning — an unpruned v2 scan or stale values turn the row red
    QueryDef("sink_versioned_stats_headcheck", versionedStatsHeadCheck,
      Some(statsRepairOracle)),

    QueryDef("sink_versioned_stats_auto", versionedStatsAuto,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT)
                            <= (SELECT max(CAST(stockcode AS BIGINT)) // 10 FROM dim_product)
                       THEN unitprice * 2 ELSE unitprice END AS DOUBLE) AS unitprice,
             category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT)
            <= (SELECT 2 * (max(CAST(stockcode AS BIGINT)) // 10) FROM dim_product)"""))),

    QueryDef("sink_versioned_zorder_serve", versionedZorderServe,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT)
              BETWEEN (SELECT max(CAST(stockcode AS BIGINT)) // 4 FROM dim_product)
                  AND (SELECT max(CAST(stockcode AS BIGINT)) // 2 FROM dim_product)
        AND (CAST(stockcode AS BIGINT) * 37) % 97 BETWEEN 10 AND 30"""))),

    QueryDef("sink_versioned_concurrent", versionedConcurrent,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT) % 10 = 7
                       THEN unitprice * 2 ELSE unitprice END AS DOUBLE) AS unitprice,
             category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 13 <> 0"""))),

    QueryDef("sink_versioned_stats_metaagg", versionedStatsMetaAgg,
      Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_rows,
             min(CAST(stockcode AS BIGINT)) AS min_code,
             max(CAST(stockcode AS BIGINT)) AS max_code,
             CAST(min(unitprice) AS DOUBLE) AS min_price,
             CAST(max(unitprice) AS DOUBLE) AS max_price
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 9 <> 0"""))),

    QueryDef("sink_versioned_stats_bloom", versionedStatsBloom,
      Some(graft.oracle.OracleSql.q("""
      , tgt AS (SELECT stockcode, unitprice, category,
                       CAST(stockcode AS BIGINT) AS code
                FROM dim_product
                WHERE CAST(stockcode AS BIGINT) % 197 = 0
                  AND CAST(stockcode AS BIGINT) % 1009 <> 0
                ORDER BY CAST(stockcode AS BIGINT) LIMIT 5)
      SELECT stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM tgt"""))),

    QueryDef("sink_versioned_stats_prune", versionedStatsPrune,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT)
                            <= (SELECT max(CAST(stockcode AS BIGINT)) // 10 FROM dim_product)
                       THEN unitprice * 2 ELSE unitprice END AS DOUBLE) AS unitprice,
             category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT)
            <= (SELECT 2 * (max(CAST(stockcode AS BIGINT)) // 10) FROM dim_product)"""))),

    QueryDef("sink_versioned_delete_keys", versionedDeleteKeys,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, 'delete' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 13 = 0"""))),

    QueryDef("sink_versioned_changes", cdcChanges,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, 'delete' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 7 = 0
      UNION ALL
      SELECT stockcode, 'update_preimage' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 4 = 0 AND CAST(stockcode AS BIGINT) % 7 <> 0
      UNION ALL
      SELECT stockcode, 'update_postimage' AS change_type,
             CAST(unitprice + 5.00 AS DOUBLE) AS unitprice, category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 4 = 0 AND CAST(stockcode AS BIGINT) % 7 <> 0
      UNION ALL
      SELECT CAST(CAST(stockcode AS BIGINT) + 100000 AS VARCHAR) AS stockcode,
             'insert' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, 'New' AS category
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 10 = 0"""))),

    QueryDef("sink_merge_into", mergeIntoRoundtrip,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode,
             CAST(CASE WHEN CAST(stockcode AS BIGINT) % 4 = 0
                       THEN unitprice + 5.00 ELSE unitprice END AS DOUBLE)
               AS unitprice,
             category
      FROM dim_product
      UNION ALL
      SELECT CAST(CAST(stockcode AS BIGINT) + 100000 AS VARCHAR) AS stockcode,
             CAST(unitprice AS DOUBLE) AS unitprice, 'New' AS category
      FROM dim_product
      WHERE CAST(stockcode AS BIGINT) % 10 = 0"""))),

    QueryDef("sink_delete_where", deleteWhereRoundtrip,
      Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE NOT (user_id BETWEEN 30 AND 60)"""))),

    QueryDef("sink_update_where", updateWhereRoundtrip,
      Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round((CASE WHEN user_id % 9 = 0 THEN value * 2
                                       ELSE value END) * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events"""))),

    QueryDef("sink_versioned_update_where", versionedUpdateWhere,
      Some(graft.oracle.OracleSql.q("""
      SELECT stockcode, 'update_preimage' AS change_type,
             CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 6 = 0
      UNION ALL
      SELECT stockcode, 'update_postimage' AS change_type,
             CAST(unitprice + 5.00 AS DOUBLE) AS unitprice, category
      FROM dim_product WHERE CAST(stockcode AS BIGINT) % 6 = 0"""))),

    QueryDef("sink_update_move", updateMoveRoundtrip,
      Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(user_id) AS BIGINT) AS user_id_sum,
             CAST(sum(user_id // 5) AS BIGINT) AS ubucket_sum,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM (SELECT CASE WHEN user_id % 15 = 7 THEN user_id + 100000
                        ELSE user_id END AS user_id, value
            FROM events) moved"""))),

    QueryDef("sink_delete_keys", deleteKeysRoundtrip,
      Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE user_id % 13 <> 0"""))),

    QueryDef("sink_schema_evolution", schemaEvolutionRoundtrip,
      Some(graft.oracle.OracleSql.q("""
      SELECT 'a' AS v, stockcode, CAST(unitprice AS DOUBLE) AS unitprice,
             NULL AS category
      FROM dim_product
      UNION ALL
      SELECT 'b' AS v, stockcode, CAST(unitprice AS DOUBLE) AS unitprice, category
      FROM dim_product"""))),

    QueryDef("sink_materialize_roundtrip", materializeRoundtrip, Some(factOracle)),
    QueryDef("sink_append_roundtrip", appendRoundtrip, Some(factOracle)),
    QueryDef("sink_empty_clone", emptyClone, Some("""
      SELECT CAST(0 AS BIGINT) AS n_rows,
             'invoiceid,stockcode,customerid,sale_ts,quantity,linenumber,unitprice,totalamount' AS columns""")),
    QueryDef("sink_bi_export_roundtrip", biExportRoundtrip, Some(molapOracle)),
    QueryDef("sink_zorder_box_agg", zorderBoxAgg, Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE user_id BETWEEN 30 AND 60 AND value >= 20.0 AND value < 120.0"""))),
    QueryDef("sink_zorder_pruned_agg", zorderPrunedAgg, Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE user_id BETWEEN 30 AND 60 AND value BETWEEN 20.0 AND 120.0"""))),

    // survivors = everything except the vacuumed ids≡0-mod-4 file's rows
    QueryDef("sink_skipping_refresh_agg", skippingRefreshAgg, Some(graft.oracle.OracleSql.q("""
      SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE user_id BETWEEN 30 AND 60 AND value BETWEEN 20.0 AND 120.0
        AND event_id % 4 <> 0"""))))
}
