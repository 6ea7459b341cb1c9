package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** A fully-built star-schema warehouse over one testdata directory — the
  * Spark-side product of the reference's ETL+ELT pipelines
  * (`Iteration 1/Group No.6_ETL.sql`, `Group No.6_ELT.sql`; SURVEY.md §3.1-3.2).
  *
  * Dims, facts and the shared intermediates are cached as shallow leaves: a
  * columnar cache over a lazy, disk-backed local checkpoint of the ETL result
  * (see [[Warehouse.build]]). Every registered query re-reads them, and a
  * leaf's analyzed plan is one `LogicalRDD` node, so a query never re-analyzes,
  * re-prints (in each SQL execution's formatted explain) or re-ships (in each
  * task's RDD lineage) the ETL tree that built it. The cache sits OVER the
  * checkpoint, so its per-batch min/max stats still prune `date_key` ranges.
  * Summary tables over the star (the MOLAP pre-aggregations) become the same
  * kind of leaf on their first read (see [[Warehouse.summary]]).
  *
  * The trade-off: local-checkpoint blocks live on the executor that wrote
  * them and cannot be recomputed once it is lost. That fits one long-lived
  * dashboard session; on a cluster the same plan writes the fact partitioned
  * by `year` instead (see [[Warehouse.materialize]]) so analytical scans get
  * Hive-style partition pruning from durable storage (SURVEY.md §4 R6).
  */
final case class Warehouse(
    stgCustomers: DataFrame,
    stgProducts: DataFrame,
    stgSales: DataFrame,
    stgDates: DataFrame,
    customersBase: DataFrame,
    dimCustomer: DataFrame,
    dimCustomerElt: DataFrame,
    productsBase: DataFrame,
    productsDedup: DataFrame,
    medianPrice: Double,
    dimProduct: DataFrame,
    salesParsed: DataFrame,
    salesFinal: DataFrame,
    tsDomain: DataFrame,
    dimDate: DataFrame,
    factSales: DataFrame,
    factSalesElt: DataFrame) {

  /** Max calendar date in the warehouse — the scalar every "last N period"
    * query anchors on (computed once per warehouse, reused across queries). */
  lazy val maxFullDate: java.time.LocalDate =
    java.time.LocalDate.parse(
      dimDate.agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("full_date"))).head().get(0).toString)

  /** Smallest invoice id — the deterministic OLTP probe key (the reference's
    * `(SELECT invoiceid ... LIMIT 1)` scalar subquery, made reproducible). */
  lazy val minInvoiceId: String =
    factSalesElt.agg(org.apache.spark.sql.functions.min(
      org.apache.spark.sql.functions.col("invoiceid"))).head().getString(0)

  /** The nine shallow-leaf frames [[Warehouse.build]] caches, by field name. */
  def cachedFrames: Seq[(String, DataFrame)] = Seq(
    "customersBase" -> customersBase, "dimCustomer" -> dimCustomer,
    "dimCustomerElt" -> dimCustomerElt, "productsDedup" -> productsDedup,
    "dimProduct" -> dimProduct, "salesFinal" -> salesFinal, "dimDate" -> dimDate,
    "factSales" -> factSales, "factSalesElt" -> factSalesElt)

  /** Summary tables built from this warehouse, by name (see [[summary]]). */
  private val summaries = scala.collection.mutable.Map.empty[String, DataFrame]

  /** The summary table `name` as a shallow leaf, built from `plan` on its
    * first read and reused by every later one — the reference's
    * `CREATE TABLE … AS` over the star. Concurrent first reads build one
    * leaf. Each call returns a fresh Dataset over the leaf, so no query
    * execution (nor its AQE state) is shared between callers. */
  def summary(name: String)(plan: Warehouse => DataFrame): DataFrame = {
    val leaf = summaries.synchronized {
      summaries.getOrElseUpdate(name, Warehouse.leaf(plan(this)))
    }
    leaf.select("*")
  }

  /** Drops this build: each leaf's in-memory cache and the local-checkpoint
    * blocks under it, the summary leaves included. `cacheManager.clearCache()`
    * drops only the former, so a caller that rebuilds releases the build it
    * abandons first. The frames are unreadable afterwards. */
  def release(): Unit = {
    val built = summaries.synchronized {
      val leaves = summaries.values.toList
      summaries.clear()
      leaves
    }
    (cachedFrames.map(_._2) ++ built).foreach { df =>
      df.unpersist(blocking = false)
      Warehouse.releaseLocalCheckpoint(df)
    }
  }
}

object Warehouse {

  private val cache = TrieMap.empty[(SparkSession, String), Warehouse]

  /** Memoized build per (session, dir) — Verify/Bench run many queries over
    * the same warehouse, so build once and reuse the cached dims/facts. Keyed
    * by the session too: a cached instance holds plans bound to the session
    * that built it, which would throw if replayed on a new session. */
  def apply(spark: SparkSession, dir: String): Warehouse =
    cache.getOrElseUpdate((spark, dir), build(spark, dir))

  /** A shallow leaf: `localCheckpoint(eager = false, DISK_ONLY)` cuts the
    * plan and RDD lineage at local disk blocks (written by the first action,
    * with the cache), and `.cache()` keeps one columnar copy on top for the
    * queries to scan. Lazy still runs the frame's shuffle and broadcast
    * stages here: the checkpoint needs the frame's RDD, and AQE executes
    * those stages to plan it. Only the final stages wait for the first
    * action. */
  private def leaf(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false, StorageLevel.DISK_ONLY).cache()

  /** Drop a `localCheckpoint()` frame's executor-local blocks now instead of
    * at the ContextCleaner's leisure. Safe only AFTER the last consumer of
    * the checkpointed lineage has run — the truncated lineage cannot
    * recompute. */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    }

  /** Builds the star and caches each reused frame as a shallow [[leaf]]. */
  def build(spark: SparkSession, dir: String): Warehouse = {
    val stgC = Staging.customers(spark, dir)
    val stgP = Staging.products(spark, dir)
    val stgS = Staging.sales(spark, dir)
    val stgD = Staging.dates(spark, dir)

    // customersBase feeds both dedup directions — cache the shared
    // intermediates so the staging joins run once, not per consumer.
    val cb = leaf(Transforms.customersBase(stgC))
    val dimC = leaf(Transforms.dimCustomer(cb))
    val dimCElt = leaf(Transforms.dimCustomerElt(cb))

    val pb = Transforms.productsBase(stgP)
    val pd = leaf(Transforms.productsDedup(pb))
    val median = Transforms.medianPrice(pd)
    val dimP = leaf(Transforms.dimProduct(pd, median))

    // salesParsed stays UNcached: salesFinal preserves rows 1:1 (the price
    // repair is a left join against a deduped dim), so every multi-use
    // consumer — the date domain included — reads the cached salesFinal
    // instead. Caching the parse layer too would materialize the same 600k
    // rows twice per build for no extra reuse.
    val sp = Transforms.salesParsed(stgS)
    // One AQE-coalescible shuffle before the cache (r18, found by
    // tools/ScaleAxisProbe @ 8323d6e): the parse layer above runs WIDE (the staging
    // guard), but a cache that inherits that width hurts tiny-SF query
    // latency — 32 near-empty partitions make partial aggregation useless
    // for ~20k-group keys (every partition emits ~1 row per group). No
    // explicit partition count, so AQE sizes the cache to the DATA: a few
    // partitions at sf0.1, thousands at 100 TB.
    // r20 (guide §2.4): HASH shuffle + sortWithinPartitions replaces r18's
    // repartitionByRange — the RangePartitioner's reservoir-sampling pass
    // re-executed the whole parse pipeline once per build just to pick
    // bounds (one extra full pass at any scale). Cache batches are built
    // from partition-SORTED rows, so per-batch min/max stats stay as tight
    // as the range layout's and date-range predicates prune identically
    // (A/B'd in tools/R20Probe @ 8323d6e: build 3.37→3.17 s min, datekey/composite
    // range rows flat-to-better). NULL sale_ts rows sort first per
    // partition, clustering into few batches, as before.
    val sf = leaf(Transforms.salesFinal(sp, dimP)
      .repartition(org.apache.spark.sql.functions.col("sale_ts"),
        org.apache.spark.sql.functions.col("invoiceid"))
      .sortWithinPartitions(org.apache.spark.sql.functions.col("sale_ts"),
        org.apache.spark.sql.functions.col("invoiceid")))

    val ts = Transforms.tsDomain(sf, stgD)
    val dimD = leaf(Transforms.dimDate(ts))

    val fact = leaf(Transforms.factSales(sf, dimP, dimC))
    val factElt = leaf(Transforms.factSalesElt(sf, dimP, dimCElt))

    Warehouse(stgC, stgP, stgS, stgD, cb, dimC, dimCElt, pb, pd, median, dimP,
      sp, sf, ts, dimD, fact, factElt)
  }

  /** Persist the warehouse as parquet tables; the fact is partitioned by
    * `year` derived from the smart date key so 100 TB scans prune on year
    * (reference range-partitioning experiment,
    * `Iteration 3/Group No.6_Indexing_Partitioning.sql:77-119`). */
  def materialize(spark: SparkSession, dir: String, outDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val w = apply(spark, dir)
    graft.sources.Sources.materialize(w.dimCustomer, s"$outDir/dim_customer")
    graft.sources.Sources.materialize(w.dimCustomerElt, s"$outDir/dim_customer_elt")
    graft.sources.Sources.materialize(w.dimProduct, s"$outDir/dim_product")
    graft.sources.Sources.materialize(w.dimDate, s"$outDir/dim_date")
    graft.sources.Sources.materialize(
      w.factSales.withColumn("year", graft.yearOfDateKey(col("date_key"))),
      s"$outDir/fact_sales", partitionBy = Seq("year"), sortWithin = Seq("date_key"))
    graft.sources.Sources.materialize(
      w.factSalesElt.withColumn("year", graft.yearOfDateKey(col("date_key"))),
      s"$outDir/fact_sales_elt", partitionBy = Seq("year"), sortWithin = Seq("date_key"))
  }
}
