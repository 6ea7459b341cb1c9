package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{QueryDef, QueryRegistry, Scratch}
import graft.etl.{Transforms, Warehouse}
import graft.oracle.OracleSql.q
import graft.plans.PlanRuleSupport.requireServedFrom
import graft.sources.MetaFile

/** Incremental ETL: the reference's "Incremental ETL / Automated scheduling"
  * roadmap item (`README.md:180-184`, SURVEY.md §2.10) built Spark-first —
  * the SAME pure transforms that power the batch warehouse build
  * ([[graft.etl.Transforms]]) applied to a Structured Streaming source, so
  * a staged-sales drop directory continuously appends conformed fact rows.
  *
  * Shape: file-source stream of all-string staged sales → parse/clean
  * (narrow, codegen) → three stream-static equi-joins against the already
  * built dims (price repair + surrogate-key resolution). No aggregation, so
  * the query runs in append mode with no watermark state; the static dim
  * sides are broadcast per micro-batch. At scale this is the standing
  * ingestion pipeline: the batch build bootstraps the dims, the stream keeps
  * the fact current between rebuilds.
  */
object IncrementalEtl extends QueryRegistry {

  /** The all-string staged-sales schema (reference staging DDL
    * `Iteration 1/Group No.6_ETL.sql:39-49`); file streams require an
    * explicit schema. */
  val stgSalesSchema: StructType = StructType(
    Seq("invoiceid", "stockcode", "customerid", "saledate",
        "quantity", "unitprice", "totalamount", "linenumber")
      .map(StructField(_, StringType)))

  /** Streaming fact load over a drop directory of staged-sales parquet.
    * Returns an unbounded DataFrame of fact rows (same columns as the batch
    * [[Transforms.factSales]]) ready for `.writeStream` into the fact sink. */
  def streamingFactLoad(spark: SparkSession, dropDir: String, w: Warehouse,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(stgSalesSchema)
    val staged = maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dropDir)
    val parsed = Transforms.salesParsed(staged)
    val repaired = Transforms.salesFinal(parsed, w.dimProduct)
    Transforms.factSales(repaired, w.dimProduct, w.dimCustomer)
  }

  /** The month×country summary cells of a fact slice, in mergeable form:
    * revenue and quantity are algebraic sums; the distinct-invoice count is
    * kept as an HLL sketch (`hll_sketch_agg`) because a distinct COUNT does
    * not merge across batches — the sketch is the scale-correct
    * incremental representation (union of sketches ≡ sketch of the union,
    * so the maintained estimate is bit-identical to a one-shot build). */
  def monthCountryCells(fact: DataFrame, dimCustomer: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    fact.filter(col("date_key") =!= graft.FallbackDateKey)
      .join(dimCustomer.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(graft.monthOfDateKey(col("date_key")).as("month"),
        coalesce(col("country"), lit("UNKNOWN")).as("country"))
      .agg(
        sum("totalamount").as("revenue"),
        sum("quantity").as("qty"),
        // r12: the full algebraic partial set — row count (merges by sum),
        // min/max (merge by min/max) — so the maintained summary also
        // serves count(*), avg (Σsum/Σcount), and min/max through MvRewrite.
        // r13 (ADVICE r12): TRUE per-column non-null counts alongside the
        // row count — the fact's measures are non-null by construction
        // today, but registering n_rows as a per-column count partial bound
        // avg's denominator to that unstated invariant; the maintained
        // count(col) partials make the avg rewrite correct even if a
        // nullable measure ever enters the feed
        count(lit(1)).as("n_rows"),
        count(col("totalamount")).as("amt_cnt"),
        count(col("quantity")).as("qty_cnt"),
        min("totalamount").as("amt_min"),
        max("totalamount").as("amt_max"),
        hll_sketch_agg(col("invoiceid")).as("inv_sketch"))
  }

  /** Incremental MOLAP maintenance (S8 at scale): keep the month×country
    * summary table current as fact batches stream in, WITHOUT rebuilding it.
    * Each micro-batch reduces to its own summary cells first — cost and
    * shuffle scale with the batch, not the table — then merges into the
    * stored summary by keyed re-aggregation (sums + HLL union). The merge
    * re-reads the summary, so the merged cells are written to a sibling temp
    * path first and swapped in with a delete + rename. EXACTLY-ONCE under
    * Structured Streaming's at-least-once redelivery (r16-late): the merge
    * is not idempotent (a replayed batch would double-count its cells), so
    * the applied batch id is staged INTO the temp dir before the swap —
    * summary and watermark move atomically-together, a redelivered batch
    * finds its id already applied and no-ops, and a crash between the
    * delete and the rename ROLLS FORWARD from the complete staged dir on
    * the next batch (the same discipline as
    * [[graft.olap.IncrementalMv.maintainFromVersioned]]). At warehouse
    * scale the sink would be a transactional table format's MERGE with the
    * same cell frame. */
  def maintainMonthCountry(spark: SparkSession, dropDir: String, w: Warehouse,
      summaryPath: String, maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    streamingFactLoad(spark, dropDir, w, maxFilesPerTrigger).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchIntoSummary(spark, w, summaryPath, batch, batchId)
      }
  }

  /** One [[maintainMonthCountry]] micro-batch's merge-and-swap, separable
    * for the exactly-once spec. See the writer's doc for the crash/replay
    * anatomy. */
  private[streaming] def mergeBatchIntoSummary(spark: SparkSession,
      w: Warehouse, summaryPath: String, batch: DataFrame,
      batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val (fs, dest) = MetaFile.fsOf(spark, summaryPath)
    val tmp = new org.apache.hadoop.fs.Path(summaryPath + ".tmp")
    def markerOf(dir: String) =
      new org.apache.hadoop.fs.Path(dir, "_applied_batch")
    // roll a crashed publish forward: the staged dir is COMPLETE state
    // (cells merged + marker), and rebuilding from this batch alone
    // would overwrite it — losing every prior batch's aggregates
    if (!fs.exists(dest) && fs.exists(tmp)) {
      fs.rename(tmp, dest)
      spark.catalog.refreshByPath(summaryPath)
    }
    val applied = MetaFile.read(fs, markerOf(summaryPath)).map(_.trim.toLong)
    if (!applied.exists(_ >= batchId)) {
      val cells = monthCountryCells(batch, w.dimCustomer)
      val merged =
        if (!fs.exists(dest)) cells
        else spark.read.parquet(summaryPath).unionByName(cells)
          .groupBy("month", "country")
          .agg(sum("revenue").as("revenue"), sum("qty").as("qty"),
            sum("n_rows").as("n_rows"),
            sum("amt_cnt").as("amt_cnt"), sum("qty_cnt").as("qty_cnt"),
            min("amt_min").as("amt_min"), max("amt_max").as("amt_max"),
            hll_union_agg(col("inv_sketch")).as("inv_sketch"))
      // write-then-swap: the job reads `dest` while writing `tmp`, so no
      // snapshot of the input is needed and the window where `dest` is
      // absent is a single metadata rename, not a whole job
      merged.write.mode("overwrite").parquet(tmp.toString)
      MetaFile.write(fs, markerOf(tmp.toString), Seq(batchId.toString))
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.rename(tmp, dest)
      // the swap changed the path's files out of band — invalidate any
      // cached listing so the NEXT batch's merge reads the new summary
      spark.catalog.refreshByPath(summaryPath)
    }
  }

  /** Streaming fact ingestion committed EXACTLY-ONCE into the versioned
    * table (r13, VERDICT r12 #4): each micro-batch of conformed fact rows
    * lands as one [[graft.sources.VersionedTable]] snapshot through
    * [[graft.sources.VersionedTable.appendBatch]] — the batch id rides the
    * snapshot, so a replayed batch (Structured Streaming's at-least-once
    * redelivery after a crash between sink write and checkpoint commit)
    * commits nothing. The lakehouse-native streaming shape: downstream
    * consumers time-travel/diff the table (the [[graft.sources
    * .VersionedTable.changes]] feed) instead of watching raw files. */
  def streamIntoVersioned(spark: SparkSession, dropDir: String, w: Warehouse,
      tableRoot: String, maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    streamingFactLoad(spark, dropDir, w, maxFilesPerTrigger).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.VersionedTable.appendBatch(spark, tableRoot, batchId, batch)
        ()
      }

  /** The exactly-once roundtrip gate: feed drop A through a checkpointed
    * stream (commits v1), REPLAY batch 0 directly (the post-crash
    * redelivery: same id, same rows) and require it commits nothing, then
    * restart the stream from the SAME checkpoint over drop A+B — the
    * restart must process only B (batch 1 → v2). The final table must hash-
    * match the batch-built fact identity: a duplicated replay, a lost
    * batch, or a restart reprocessing A would all break the row multiset. */
  private def streamVersionedCommit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = Warehouse(s, dir) // memoized — shared with every other gate
    val base = Scratch.dir("graft_stream_vt_")
    val root = s"$base/fact_table"
    val ckpt = s"$base/ckpt"
    // coalesce: a null/non-numeric linenumber must land in exactly one
    // drop — a bare null predicate would vanish from BOTH splits while
    // the oracle aggregates the full fact
    val even = coalesce(col("linenumber").cast("int") % 2 === 0, lit(true))
    Scratch.drop(w.stgSales.filter(even), base, "a")
    def runStream(): Unit = Scratch.availableNow("stream_versioned_commit")(
      streamIntoVersioned(s, s"$base/drops", w, root)
        .option("checkpointLocation", ckpt).trigger(_).start())
    runStream() // batch 0 = drop A → v1
    require(graft.sources.VersionedTable.latestVersion(s, root) == 1,
      "drop A must commit exactly one snapshot")
    // the crash replay: batch id 0 redelivered with the same rows — the
    // table must recognize it and commit NOTHING
    val replayRows = Transforms.factSales(
      Transforms.salesFinal(Transforms.salesParsed(w.stgSales.filter(even)), w.dimProduct),
      w.dimProduct, w.dimCustomer)
    require(graft.sources.VersionedTable.appendBatch(s, root, 0L, replayRows).isEmpty,
      "a replayed batch id must commit no second snapshot")
    require(graft.sources.VersionedTable.latestVersion(s, root) == 1,
      "the replay must leave the table at v1")
    // mid-feed restart: drop B arrives, the stream restarts from the SAME
    // checkpoint and must process only the new file as batch 1
    Scratch.drop(w.stgSales.filter(!even), base, "b")
    runStream()
    require(graft.sources.VersionedTable.latestVersion(s, root) == 2,
      "drop B must commit exactly one more snapshot")
    require(graft.sources.VersionedTable.lastCommittedBatch(s, root).contains(1L),
      "the restarted stream must resume at batch id 1")
    graft.sources.VersionedTable.read(s, root)
      .drop("product_key", "customer_key")
      .withColumn("unitprice", col("unitprice").cast("double"))
      .withColumn("totalamount", col("totalamount").cast("double"))
  }

  /** Read the maintained summary, estimating the distinct-invoice count from
    * the maintained sketch. */
  def readMonthCountry(spark: SparkSession, summaryPath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(summaryPath)
      .select(col("month"), col("country"), col("revenue"), col("qty"),
        hll_sketch_estimate(col("inv_sketch")).as("order_count"))
  }

  /** Correctness roundtrip for [[maintainMonthCountry]] (VERDICT r8 #4): the
    * FULL staged-sales feed split into two drops (by line-number parity),
    * forced into one-file micro-batches so the second batch exercises the
    * read-merge-swap path, then the maintained summary read back. The oracle
    * is the one-shot batch summary over all sales — merge-across-batches ≡
    * one-shot build. The distinct-invoice estimate compares EXACTLY against
    * `count(DISTINCT invoiceid)` because per-cell cardinalities keep the HLL
    * sketch in sparse (exact) mode at every test SF; revenue/qty are
    * algebraic sums, split-invariant by construction. */
  private def streamMolapRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = Warehouse(s, dir) // memoized — shared with every other gate
    val base = Scratch.dir("graft_stream_molap_")
    // coalesce: a null/non-numeric linenumber must land in exactly one
    // drop — a bare null predicate would vanish from BOTH splits while
    // the oracle aggregates the full fact
    val even = coalesce(col("linenumber").cast("int") % 2 === 0, lit(true))
    Scratch.drop(w.stgSales.filter(even), base, "a")
    Scratch.drop(w.stgSales.filter(!even), base, "b")
    Scratch.availableNow("stream_molap_roundtrip")(maintainMonthCountry(s, s"$base/drops", w,
      s"$base/summary", maxFilesPerTrigger = Some(1)).trigger(_).start())
    readMonthCountry(s, s"$base/summary")
      .select(col("month"), col("country"),
        col("revenue").cast("double").as("revenue"),
        col("qty").cast("bigint").as("qty"),
        col("order_count"))
  }

  /** Maintain-then-SERVE roundtrip (r11): the summary this stream maintains
    * is registered as the [[graft.plans.MvRewrite]] serving table for the
    * materialized base-grain table, and the gate query — written against
    * the BASE — must be rewritten onto the stream-maintained summary
    * (self-asserted in the optimized plan, like `molap_mv_rewrite_country`)
    * and produce the direct aggregate's exact numbers. Closes the MV loop:
    * continuous maintenance on one side, transparent query routing on the
    * other. Exactness holds because the maintained partials are the grain's
    * decimal/long sums — merge order never matters. */
  // memoized per (session, dir): three gate rows serve from ONE scenario —
  // rebuilding the grain write + two-batch streaming maintenance per row
  // tripled the gate cost and stacked three identical registrations
  private val mvScenarioCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Build (once per session+dir) the serving scenario (base-grain table +
    * stream-maintained summary), register the summary as the MV-rewrite
    * serving table — including the invoice HLL sketch as the
    * approximate-distinct partial — and attach the rule. Returns the
    * scenario root. */
  private def mvServingScenario(s: SparkSession, dir: String): String =
    mvScenarioCache.computeIfAbsent((s, dir), _ => buildMvServingScenario(s, dir))

  private def buildMvServingScenario(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    val w = Warehouse(s, dir) // memoized — shared with every other gate
    val base = Scratch.dir("graft_mv_serve_")
    // the enriched base-grain table the dashboards query
    w.factSales.filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomer.select("customer_key", "country"), Seq("customer_key"), "left")
      .select(graft.monthOfDateKey(col("date_key")).as("month"),
        coalesce(col("country"), lit("UNKNOWN")).as("country"),
        col("invoiceid"), col("totalamount"), col("quantity"))
      .write.parquet(s"$base/grain")
    // the summary, maintained from streaming fact drops (two one-file batches)
    // coalesce: a null/non-numeric linenumber must land in exactly one
    // drop — a bare null predicate would vanish from BOTH splits while
    // the oracle aggregates the full fact
    val even = coalesce(col("linenumber").cast("int") % 2 === 0, lit(true))
    Scratch.drop(w.stgSales.filter(even), base, "a")
    Scratch.drop(w.stgSales.filter(!even), base, "b")
    Scratch.availableNow("mv serving scenario")(maintainMonthCountry(s, s"$base/drops", w,
      s"$base/summary", maxFilesPerTrigger = Some(1)).trigger(_).start())
    graft.plans.MvRewrite.register(s, s"$base/grain", s.read.parquet(s"$base/summary"),
      keys = Seq("month", "country"),
      sums = Map("totalamount" -> "revenue", "quantity" -> "qty"),
      distincts = Map("invoiceid" -> "inv_sketch"),
      // r12: the maintained row-count/min/max partials serve count(*),
      // avg, and min/max. r13 (ADVICE r12): avg's denominators are the
      // TRUE per-column count(col) partials the stream now maintains, not
      // the row count — correct even for a nullable measure
      countCol = Some("n_rows"),
      counts = Map("totalamount" -> "amt_cnt", "quantity" -> "qty_cnt"),
      mins = Map("totalamount" -> "amt_min"),
      maxs = Map("totalamount" -> "amt_max"))
    // flags are NOT set here: each gate row runs its query inside
    // MvRewrite.servingScoped, which enables the rewrite, materializes the
    // result while it is active, and restores the session confs (ADVICE
    // r11 — the previous shape left the rewrite + approx-distinct semantics
    // enabled for every later query in the shared gate session)
    base
  }

  private def streamMvServingRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = mvServingScenario(s, dir)
    graft.plans.MvRewrite.servingScoped(s) {
      requireServedFrom(
        s.read.parquet(s"$base/grain")
          .groupBy("country")
          .agg(sum("totalamount").as("rev"), sum("quantity").as("total_quantity"))
          .select(col("country"), col("rev").cast("double").as("revenue"),
            col("total_quantity")),
        _.endsWith("/summary"), _.endsWith("/grain"))
    }
  }

  /** The approximate-distinct serving face: `count(DISTINCT invoiceid)` at
    * the summary's own grain routes onto the maintained HLL sketch under
    * the explicit approx opt-in. The oracle compares against the EXACT
    * distinct count — valid here for the same reason as
    * `stream_molap_roundtrip`: per-cell invoice cardinalities keep every
    * sketch in its sparse (exact) regime at test SFs, so the estimate IS
    * the exact count; at production cardinalities the estimate drifts ±~2%,
    * which is precisely what the separate opt-in flag acknowledges. */
  private def streamMvServingDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = mvServingScenario(s, dir)
    graft.plans.MvRewrite.servingScoped(s, withApproxDistinct = true) {
      requireServedFrom(
        s.read.parquet(s"$base/grain")
          .groupBy("month", "country")
          .agg(count_distinct(col("invoiceid")).as("order_count")),
        _.endsWith("/summary"), _.endsWith("/grain"))
    }
  }

  /** The avg/min/max serving face (r12): the same stream-maintained
    * summary answers the dashboard's `avg`/`min`/`max`/`count(*)` rollup
    * through the extended [[graft.plans.MvRewrite]] derivations — avg as
    * Σsum-partial / Σcount-partial (bit-exact decimal divide), min/max
    * from the maintained extrema. Plan-asserted summary-only scan; the
    * oracle recomputes the decimal average in integer cents (the
    * `molap_mv_rewrite_avg` discipline). */
  private def streamMvServingAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = mvServingScenario(s, dir)
    graft.plans.MvRewrite.servingScoped(s) {
      requireServedFrom(
        s.read.parquet(s"$base/grain")
          .groupBy("country")
          .agg(avg("totalamount").cast("double").as("avg_amount"),
            min("totalamount").cast("double").as("min_amount"),
            max("totalamount").cast("double").as("max_amount"),
            count(lit(1)).as("n_rows")),
        _.endsWith("/summary"), _.endsWith("/grain"))
    }
  }

  def defs: Seq[QueryDef] = Seq(
    // the streamed table must be the batch fact, row for row — same
    // identity oracle as the batch `fact_sales` row
    QueryDef("stream_versioned_commit", streamVersionedCommit, Some(q("""
      SELECT date_key, invoiceid, stockcode, customerid, linenumber, quantity,
             CAST(unitprice AS DOUBLE) AS unitprice,
             CAST(totalamount AS DOUBLE) AS totalamount
      FROM fact_sales"""))),

    QueryDef("stream_mv_serving_avg", streamMvServingAvg, Some(q("""
      , sag AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country, f.totalamount
          FROM fact_sales f
          LEFT JOIN dim_customer c ON f.customer_key = c.customer_key
          WHERE f.date_key <> 19700101000000)
      SELECT country,
             CAST((sum(CAST(totalamount * 100 AS BIGINT)) * 10000
                   + count(totalamount) // 2) // count(totalamount) AS DOUBLE)
               / 1000000 AS avg_amount,
             CAST(min(totalamount) AS DOUBLE) AS min_amount,
             CAST(max(totalamount) AS DOUBLE) AS max_amount,
             count(*) AS n_rows
      FROM sag GROUP BY country"""))),

    QueryDef("stream_mv_serving_roundtrip", streamMvServingRoundtrip, Some(q("""
      SELECT coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity
      FROM fact_sales f
      LEFT JOIN dim_customer c ON f.customer_key = c.customer_key
      WHERE f.date_key <> 19700101000000
      GROUP BY 1"""))),

    // approximate-distinct routing, compared against the EXACT truth (the
    // sparse-regime argument above makes that a valid equality at test SFs)
    QueryDef("stream_mv_serving_distinct", streamMvServingDistinct, Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             coalesce(c.country, 'UNKNOWN') AS country,
             count(DISTINCT f.invoiceid) AS order_count
      FROM fact_sales f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer c ON f.customer_key = c.customer_key
      WHERE f.date_key <> 19700101000000
      GROUP BY 1, 2"""))),

    QueryDef("stream_molap_roundtrip", streamMolapRoundtrip, Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             CAST(sum(f.quantity) AS BIGINT) AS qty,
             count(DISTINCT f.invoiceid) AS order_count
      FROM fact_sales f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer c ON f.customer_key = c.customer_key
      WHERE f.date_key <> 19700101000000
      GROUP BY 1, 2"""))))
}
