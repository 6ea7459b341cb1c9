package graft.olap

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.{QueryDef, QueryRegistry, Scratch}
import graft.oracle.OracleSql.q
import graft.plans.PlanRuleSupport.requireServedFrom

/** MOLAP layer (`Iteration 2/Group No.6_MOLAP.sql`): three pre-aggregation
  * tables + the query suite over them + the MOLAP-vs-OLAP consistency check.
  *
  * The three summary tables (MOLAP 1–3) are built once per warehouse, on
  * their first read, as shallow leaves over the aggregate (see
  * [[graft.etl.Warehouse.summary]]): the session's CREATE TABLE AS, so every
  * later read scans the cached cube instead of re-aggregating the fact. Like
  * the warehouse's own leaves they live in local-checkpoint blocks; the
  * durable CREATE TABLE AS is `Sources.materialize` (via `BiExport` —
  * SURVEY.md §2.1 S8). Pre-aggregation is the 100 TB play: queries 4–7 run
  * over frames that are orders of magnitude smaller than the fact.
  *
  * Surrogate keys are excluded from compared projections; the natural keys
  * (customerid / stockcode) the reference also groups by make the rows unique.
  */
object Molap extends QueryRegistry {

  private def monthOf(c: String): org.apache.spark.sql.Column = trunc(col(c), "month")

  /** date_key → month helper (reference `date_month_elt`, `:10-13`). */
  def dateMonth(w: Warehouse): DataFrame =
    w.dimDate.select(col("date_key"), monthOf("full_date").as("month"))

  /** Month group key decoded arithmetically from the smart key — the
    * dim_date access path the reference's summary-table builds use is a
    * fact-sized shuffle against a row-per-second dim for digits the key
    * already carries (see [[graft.dateOfDateKey]]); the fallback-key filter
    * reproduces the inner join's row set. */
  private def keyMonth = graft.monthOfDateKey(col("date_key")).as("month")

  /** MOLAP 1: monthly revenue by country, read from its summary leaf. */
  def monthCountry(w: Warehouse): DataFrame =
    w.summary("molap_month_country")(monthCountryPlan)

  /** MOLAP 2: monthly product summary, read from its summary leaf. */
  def monthProduct(w: Warehouse): DataFrame =
    w.summary("molap_month_product")(monthProductPlan)

  /** MOLAP 3: customer monthly revenue, read from its summary leaf. */
  def customerMonth(w: Warehouse): DataFrame =
    w.summary("molap_customer_month")(customerMonthPlan)

  /** The aggregate behind [[monthCountry]]. */
  private[olap] def monthCountryPlan(w: Warehouse): DataFrame =
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(keyMonth, coalesce(col("country"), lit("UNKNOWN")).as("country"))
      .agg(
        sum("totalamount").cast("double").as("total_revenue"),
        sum("quantity").as("total_quantity"),
        count_distinct(col("invoiceid")).as("order_count"))

  /** [[monthCountryGuarded]]'s outcome: the summary plus a one-row decision
    * frame recording what the skew loop measured and chose. */
  final case class GuardedBuild(summary: DataFrame, decision: DataFrame)

  /** MOLAP 1's sum grain built through the skew closed loop (r13, VERDICT
    * r12 #8): the production build measures the (month, country) key
    * distribution FIRST — the known-hot key risk is the dim-miss absorber
    * `country='UNKNOWN'` — and salts only when the top-1 cell actually
    * crosses the threshold. On the current feed countries are near-uniform,
    * so the honest decision is the plain single-pass aggregate (no wasted
    * second shuffle); a feed where UNKNOWN absorbs a fat slice flips the
    * decision to [[graft.perf.Skew.saltedSums]]'s two-phase shape with no
    * code change. Outputs are schema- and value-identical either route;
    * the decision frame logs the measurement with the choice. */
  def monthCountryGuarded(w: Warehouse): GuardedBuild = {
    import w.factSalesElt.sparkSession.implicits._
    val base = w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .select(keyMonth,
        coalesce(col("country"), lit("UNKNOWN")).as("country"),
        col("totalamount"), col("quantity"))
    val auto = graft.perf.Skew.autoSaltedSums(base, Seq("month", "country"),
      Seq("totalamount", "quantity"))
    val summary = auto.result.select(col("month"), col("country"),
      col("sum_totalamount").cast("double").as("total_revenue"),
      col("sum_quantity").as("total_quantity"))
    val decision = Seq((auto.salted, auto.top1Share, 0.2))
      .toDF("salted", "top1_share", "threshold")
    GuardedBuild(summary, decision)
  }

  /** The aggregate behind [[monthProduct]]. Aggregates on the narrow
    * surrogate key first and joins the (stockcode, description) strings onto
    * the 49k-group result — not through the 600k-row shuffle (q3's shape; the
    * key ↔ (stockcode, description) mapping is 1:1 so results are equal). */
  private[olap] def monthProductPlan(w: Warehouse): DataFrame =
    w.factSalesElt.select("date_key", "product_key", "totalamount", "quantity", "unitprice")
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .groupBy(keyMonth, col("product_key"))
      .agg(
        sum("totalamount").cast("double").as("revenue"),
        sum("quantity").as("total_qty"),
        (sum("unitprice").cast("double") / count(col("unitprice"))).as("avg_unitprice"))
      .join(w.dimProduct.select("product_key", "stockcode", "description"), Seq("product_key"))
      .select("month", "stockcode", "description", "revenue", "total_qty", "avg_unitprice")

  /** The aggregate behind [[customerMonth]] (only months with sales). Like
    * [[monthProductPlan]], aggregates on the narrow surrogate key first and joins
    * `customerid` onto the 13k-group result — the string never rides the
    * fact-sized shuffle (nor the count-distinct expansion on it), and the
    * inner join drops dim-miss groups exactly as the pre-join form dropped
    * dim-miss rows (customer_key ↔ customerid is 1:1 in the deduped dim). */
  private[olap] def customerMonthPlan(w: Warehouse): DataFrame =
    w.factSalesElt.select("date_key", "customer_key", "invoiceid", "totalamount", "quantity")
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .groupBy(keyMonth, col("customer_key"))
      .agg(
        sum("totalamount").cast("double").as("revenue"),
        count_distinct(col("invoiceid")).as("orders"),
        sum("quantity").as("total_quantity"))
      .join(w.dimCustomerElt.select("customer_key", "customerid"), Seq("customer_key"))
      .select("month", "customerid", "revenue", "orders", "total_quantity")

  /** MOLAP 4: top-10 products over the last 3 months (the `>=`-window
    * variant of OLAP Q2 — reference `Iteration 2/Group No.6_MOLAP.sql:82-103`). */
  def top10Last3m(w: Warehouse): DataFrame = {
    w.factSalesElt.select("date_key", "product_key", "totalamount", "quantity")
      .filter(graft.dateKeyRange(w.maxFullDate.minusMonths(3), w.maxFullDate))
      .join(w.dimProduct.select("product_key", "stockcode", "description"), Seq("product_key"))
      .groupBy("stockcode", "description")
      .agg(sum("totalamount").cast("double").as("revenue"), sum("quantity").as("qty_sold"))
      .orderBy(col("revenue").desc, col("stockcode"))
      .limit(10)
  }

  /** MOLAP 5: daily revenue, last 90 days, first 30 days shown. */
  def daily90(w: Warehouse): DataFrame = {
    val maxD = w.maxFullDate
    w.factSalesElt
      .filter(graft.dateKeyRange(maxD.minusDays(90), maxD))
      .groupBy(graft.dateOfDateKey(col("date_key")).as("full_date"))
      .agg(sum("totalamount").cast("double").as("daily_revenue"))
      .orderBy("full_date")
      .limit(30)
  }

  /** MOLAP 6: 12 most recent signup cohorts (equi-join-only cohort). */
  def cohort12(w: Warehouse): DataFrame = {
    val signup = w.dimCustomerElt
      .filter(col("signupdate").isNotNull)
      .select(col("customer_key").as("s_key"), monthOf("signupdate").as("signup_month"))
    val revenue = w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key"), Seq("customer_key"))
      .groupBy(col("customer_key").as("r_key"),
        graft.monthOfDateKey(col("date_key")).as("sale_month"))
      .agg(sum("totalamount").as("revenue"))
    signup
      .join(revenue, col("r_key") === col("s_key"), "left")
      .groupBy("signup_month")
      .agg(
        sum(when(col("sale_month") === col("signup_month"), col("revenue")).otherwise(lit(0)))
          .cast("decimal(18,2)").cast("double").as("month0_revenue"),
        sum(when(col("sale_month") === add_months(col("signup_month"), 1), col("revenue")).otherwise(lit(0)))
          .cast("decimal(18,2)").cast("double").as("month1_revenue"),
        sum(when(col("sale_month") === add_months(col("signup_month"), 2), col("revenue")).otherwise(lit(0)))
          .cast("decimal(18,2)").cast("double").as("month2_revenue"))
      .orderBy(col("signup_month").desc)
      .limit(12)
  }

  /** MOLAP 7: consistency check — recomputed OLAP vs the MOLAP 1 table; diff
    * must be 0.00 everywhere (reference `:156-177`, the reference's own
    * aggregate-consistency test). */
  def verify(w: Warehouse): DataFrame = {
    val olap = w.factSalesElt
      .join(w.dimDate.select("date_key", "full_date"), Seq("date_key"))
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(monthOf("full_date").as("month"), coalesce(col("country"), lit("UNKNOWN")).as("country"))
      .agg(sum("totalamount").as("revenue"))
    val molap = monthCountry(w).select(col("month"), col("country"), col("total_revenue"))
    olap.join(molap, Seq("month", "country"), "left")
      .select(
        col("month"), col("country"),
        round(col("revenue"), 2).cast("decimal(18,2)").cast("double").as("olap_revenue"),
        round(coalesce(col("total_revenue"), lit(0)), 2).cast("decimal(18,2)").cast("double").as("molap_revenue"),
        round(coalesce(col("total_revenue"), lit(0)) - col("revenue"), 2).cast("decimal(18,2)").cast("double").as("diff"))
      .orderBy(col("month").desc, col("country"))
      .limit(20)
  }

  /** MV-rewrite scenario (r11, SURVEY §4 extension): a base-grain "silver"
    * table (month, country, exact-decimal amount, quantity) and its summary
    * are materialized, the summary registered as the serving table, and a
    * COARSER aggregate (by country alone) issued against the BASE table
    * with [[graft.plans.MvRewrite]] attached. The function itself asserts
    * the executed plan scans the MV files and not the base — so if the
    * rewrite ever stops firing, this gate row turns RED instead of quietly
    * passing through the base-scan route; numeric equality to the direct
    * aggregate is then the oracle's check (decimal partials re-aggregate
    * exactly — a double partial would re-sum in a different order). */
  private def mvRewriteCountry(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.read.parquet(s"$base/grain")
        .groupBy("country")
        .agg(sum("totalamount").as("rev"), sum("quantity").as("total_quantity"),
          count(lit(1)).as("n_rows"))
        .select(col("country"), col("rev").cast("double").as("revenue"),
          col("total_quantity"), col("n_rows")))
    }
  }

  /** Shared plan assert for the MV-rewrite gate rows: the optimized plan
    * must read the /mv layout of [[grainWithMv]] and never its /grain. */
  private def requireMvScan(out: DataFrame): DataFrame =
    requireServedFrom(out, _.endsWith("/mv"), _.endsWith("/grain"))

  /** Key-filter derivability gate (r12): the dashboard slice — an aggregate
    * WITH a WHERE on a group-key column — must still serve from the MV: a
    * key predicate selects whole summary cells, so it replays on the MV
    * exactly (the rewrite maps it onto the summary's columns). The
    * scenario mirrors [[mvRewriteCountry]]; the query slices to months
    * from 1997 on before rolling up by country. */
  private def mvRewriteFiltered(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.read.parquet(s"$base/grain")
        .filter(col("month") >= lit(java.sql.Date.valueOf("1997-01-01")))
        .groupBy("country")
        .agg(sum("totalamount").as("rev"), sum("quantity").as("total_quantity"),
          count(lit(1)).as("n_rows"))
        .select(col("country"), col("rev").cast("double").as("revenue"),
          col("total_quantity"), col("n_rows")))
    }
  }

  /** AVG / MIN / MAX derivability gate (r12, VERDICT r11 #5): same scenario
    * shape as [[mvRewriteCountry]], but the summary carries the per-measure
    * count / min / max partials and the rerouted aggregate asks for the
    * reference MV's own shapes (`Iteration 3/Group
    * No.6_Indexing_Partitioning.sql:148-158` materializes exactly avg/sum/
    * count at month grain): `avg(decimal)` re-derives as Σsum/Σcount through
    * the bit-exact decimal divide, `avg(bigint)` through the IEEE double
    * divide, `min`/`max` from their partials. Plan-asserted MV-only scan;
    * numeric equality to the direct route is the oracle's check. */
  private def mvRewriteAvg(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grain(s, dir)
    s.read.parquet(s"$base/grain")
      .groupBy("month", "country")
      .agg(sum("totalamount").as("rev_p"), count(col("totalamount")).as("rev_cnt"),
        min("totalamount").as("rev_min"), max("totalamount").as("rev_max"),
        sum("quantity").as("qty_p"), count(col("quantity")).as("qty_cnt"),
        count(lit(1)).as("n_rows"))
      .write.parquet(s"$base/mv")
    graft.plans.MvRewrite.register(s, s"$base/grain", s.read.parquet(s"$base/mv"),
      keys = Seq("month", "country"),
      sums = Map("totalamount" -> "rev_p", "quantity" -> "qty_p"),
      countCol = Some("n_rows"),
      counts = Map("totalamount" -> "rev_cnt", "quantity" -> "qty_cnt"),
      mins = Map("totalamount" -> "rev_min"),
      maxs = Map("totalamount" -> "rev_max"))
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.read.parquet(s"$base/grain")
        .groupBy("country")
        .agg(avg("totalamount").cast("double").as("avg_amount"),
          avg("quantity").as("avg_qty"),
          min("totalamount").cast("double").as("min_amount"),
          max("totalamount").cast("double").as("max_amount"),
          count(lit(1)).as("n_rows")))
    }
  }

  /** Materialize the (month, country, amount, quantity) base grain the MV
    * gate rows aggregate under a fresh temp root, and return the root. */
  private def grain(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val base = Scratch.dir("graft_mv_")
    val w = Warehouse(s, dir)
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .select(keyMonth,
        coalesce(col("country"), lit("UNKNOWN")).as("country"),
        col("totalamount"), col("quantity"))
      .write.parquet(s"$base/grain")
    base
  }

  /** The shared scenario of the sum/count MV gate rows: the [[grain]], its
    * (month, country) sum/count summary at `$base/mv`, registered as the
    * serving table; returns the root. */
  private def grainWithMv(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val base = grain(s, dir)
    s.read.parquet(s"$base/grain")
      .groupBy("month", "country")
      .agg(sum("totalamount").as("rev_p"), sum("quantity").as("qty_p"),
        count(lit(1)).as("n_rows"))
      .write.parquet(s"$base/mv")
    graft.plans.MvRewrite.register(s, s"$base/grain", s.read.parquet(s"$base/mv"),
      keys = Seq("month", "country"),
      sums = Map("totalamount" -> "rev_p", "quantity" -> "qty_p"),
      countCol = Some("n_rows"))
    base
  }

  /** HAVING derivability gate (r13, VERDICT r12 #5): a post-aggregate
    * predicate on an aggregate RESULT sits as a Filter above the Aggregate;
    * the rewrite keeps the aggregate's output exprIds and bit-identical
    * values (decimal partial re-sum), so the HAVING selects exactly the
    * same groups over the MV route. Plan-asserted MV-only scan. */
  private def mvRewriteHaving(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.read.parquet(s"$base/grain")
        .groupBy("country")
        .agg(sum("totalamount").as("rev"), count(lit(1)).as("n_rows"))
        .filter(col("rev") > 1000)
        .select(col("country"), col("rev").cast("double").as("revenue"),
          col("n_rows")))
    }
  }

  /** SQL-path serving gate (r13): a BI tool's VERBATIM SQL — key-column
    * WHERE, GROUP BY, and HAVING in one statement against a registered
    * view of the base table — routes onto the summary through the same
    * plan-level rule (a temp view resolves to the same scan the rewrite
    * matches; nothing is SQL-specific). Plan-asserted MV-only scan. */
  private def mvRewriteSql(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    s.read.parquet(s"$base/grain").createOrReplaceTempView("graft_mv_grain")
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.sql("""
        SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
               sum(quantity) AS total_quantity, count(*) AS n_rows
        FROM graft_mv_grain
        WHERE month >= DATE '1997-01-01'
        GROUP BY country
        HAVING count(*) > 50"""))
    }
  }

  /** Composed-shape gate (r13-late): a verbatim SQL ROLLUP over the STAR —
    * grain joined to the region dim, rolled up by (region, country) — is
    * served from the summary: the grouping-set Expand replays over
    * `summary JOIN dim`, so every grain of the star rollup runs at summary
    * cardinality. SQL form throughout (the Dataset API's rollup-after-join
    * trips Spark's own ambiguity heuristic; SQL resolves by name).
    * Plan-asserted MV-only scan. */
  private def mvRollupStar(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    s.read.parquet(s"$base/grain").select("country").distinct()
      .withColumn("region",
        concat(lit("R"), (length(col("country")) % 3).cast("string")))
      .write.parquet(s"$base/regions")
    s.read.parquet(s"$base/grain").createOrReplaceTempView("graft_star_grain")
    s.read.parquet(s"$base/regions").createOrReplaceTempView("graft_star_regions")
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.sql("""
        SELECT region, country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
               sum(quantity) AS total_quantity, count(*) AS n_rows
        FROM graft_star_grain JOIN graft_star_regions USING (country)
        GROUP BY ROLLUP (region, country)"""))
    }
  }

  /** ROLLUP derivability gate (r13, VERDICT r12 #5): every grain of a
    * rollup over the MV's keys — (month, country), (month), grand total —
    * is served from the summary at once, through the grouping-set Expand
    * replayed over MV cells instead of base rows (MV-cardinality input to
    * the aggregate, the 100 TB win). Plan-asserted MV-only scan; the
    * all-grain numeric equality is the oracle's check. */
  private def mvRewriteRollup(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.read.parquet(s"$base/grain")
        .rollup("month", "country")
        .agg(sum("totalamount").as("rev"), sum("quantity").as("total_quantity"),
          count(lit(1)).as("n_rows"))
        .select(col("month"), col("country"),
          col("rev").cast("double").as("revenue"),
          col("total_quantity"), col("n_rows")))
    }
  }

  /** Join-aware routing gate (r13): the dashboard STAR shape — the base
    * grain joined to a region dim on the MV key `country`, grouped by the
    * DIM's region column — served from the summary: cells join to the dim
    * exactly as their rows did (key values are cell-constant), so the
    * rewrite replays `summary JOIN dim` at summary cardinality. The region
    * dim derives deterministically from the distinct countries so the
    * oracle can re-derive it analytically. Plan-asserted MV-only scan. */
  private def mvRewriteJoin(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = grainWithMv(s, dir)
    s.read.parquet(s"$base/grain").select("country").distinct()
      .withColumn("region",
        concat(lit("R"), (length(col("country")) % 3).cast("string")))
      .write.parquet(s"$base/regions")
    graft.plans.MvRewrite.servingScoped(s) {
      requireMvScan(s.read.parquet(s"$base/grain")
        .join(s.read.parquet(s"$base/regions"), Seq("country"))
        .groupBy("region")
        .agg(sum("totalamount").as("rev"), sum("quantity").as("total_quantity"),
          count(lit(1)).as("n_rows"))
        .select(col("region"), col("rev").cast("double").as("revenue"),
          col("total_quantity"), col("n_rows")))
    }
  }

  /** Full-MV-loop composition gate (r13): build → REFRESH → serve. The
    * grain is committed as a versioned table, the summary materialized,
    * the base mutated through versioned DML (a price uplift on every 6th
    * invoice-month cell's rows), the summary refreshed FROM THE CDC FEED
    * ALONE ([[IncrementalMv]] — the re-scan thunk throws), re-registered,
    * and a coarser aggregate against the NEW base snapshot is served from
    * the refreshed summary. The oracle recomputes from the post-DML state,
    * so a stale, drifted, or wrongly-merged partial hash-mismatches; the
    * plan assert proves the serve never read the base. */
  private def mvServeRefreshed(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("graft_mvloop_")
    val root = commitRidGrain(s, dir, base)
    sumCountSummary(graft.sources.VersionedTable.read(s, root, Some(1)))
      .write.parquet(s"$base/summary")
    upliftEverySixth(s, root)
    val feed = graft.sources.VersionedTable.changes(s, root, 1, 2, Seq("rid"))
    IncrementalMv.refreshPath(s, s"$base/summary", feed,
      Seq("month", "country"), "n_rows", sumCountMeasures,
      () => throw new IllegalStateException(
        "sum/count refresh must read ONLY the change feed, never the base"))
    registerSumCount(s, root, 2, s"$base/summary")
    graft.plans.MvRewrite.servingScoped(s)(serveByCountry(s, root))
  }

  /** The versioned MV loop's base: the (rid, invoiceid, month, country,
    * amount, quantity) grain committed as v1 of `$base/t`; returns the table
    * root. rid: a synthetic row key for the CDC diff — the natural line-item
    * key (invoiceid, stockcode, linenumber) is NOT unique in this feed. Its
    * values are stable across versions (v2's copy-on-write preserves the
    * column) and never enter the compared output. */
  private def commitRidGrain(s: org.apache.spark.sql.SparkSession, dir: String,
      base: String): String = {
    val w = Warehouse(s, dir)
    val root = s"$base/t"
    graft.sources.VersionedTable.create(s, root, w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .select(monotonically_increasing_id().as("rid"), col("invoiceid"), keyMonth,
        coalesce(col("country"), lit("UNKNOWN")).as("country"),
        col("totalamount"), col("quantity")))
    root
  }

  /** The loop's (month, country) summary: sum and count partials per
    * measure plus the row count — what AVG re-derives from. */
  private def sumCountSummary(grain: DataFrame): DataFrame =
    grain.groupBy("month", "country")
      .agg(sum("totalamount").as("rev_p"), count(col("totalamount")).as("rev_cnt"),
        sum("quantity").as("qty_p"), count(col("quantity")).as("qty_cnt"),
        count(lit(1)).as("n_rows"))

  private val sumCountMeasures = Seq(
    IncrementalMv.MeasureSpec("totalamount", "rev_p", "rev_cnt"),
    IncrementalMv.MeasureSpec("quantity", "qty_p", "qty_cnt"))

  /** Register the [[sumCountSummary]] at `summary` as the serving table for
    * snapshot `version` of `root`. */
  private def registerSumCount(s: org.apache.spark.sql.SparkSession, root: String,
      version: Int, summary: String): Unit =
    graft.plans.MvRewrite.registerVersioned(s, root, version, s.read.parquet(summary),
      keys = Seq("month", "country"),
      sums = Map("totalamount" -> "rev_p", "quantity" -> "qty_p"),
      countCol = Some("n_rows"),
      counts = Map("totalamount" -> "rev_cnt", "quantity" -> "qty_cnt"))

  /** The loop's mutation: +1.00 on every 6th invoice's rows, committed as v2. */
  private def upliftEverySixth(s: org.apache.spark.sql.SparkSession, root: String): Unit =
    graft.sources.VersionedTable.updateWhere(s, root,
      col("invoiceid").cast("long") % 6 === 0,
      Map("totalamount" -> (col("totalamount") + lit(BigDecimal("1.00")))))

  /** The loop's serve: revenue and average by country over v2, which must
    * read the summary and no base data file. */
  private def serveByCountry(s: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    requireServedFrom(graft.sources.VersionedTable.read(s, root, Some(2))
      .groupBy("country")
      .agg(sum("totalamount").as("rev"), avg("totalamount").as("avg_amt"),
        count(lit(1)).as("n_rows"))
      .select(col("country"), col("rev").cast("double").as("revenue"),
        col("avg_amt").cast("double").as("avg_amount"), col("n_rows")),
      _.contains("/summary"), _.contains("/t/_data"))

  /** AUTO-served MV loop (r14, VERDICT r13 #2): the same build → refresh →
    * serve composition as [[mvServeRefreshed]], with NOTHING refreshed or
    * re-registered by hand — [[IncrementalMv.autoServe]] registers the
    * summary for the current head and installs the commit listener; the
    * versioned UPDATE's commit itself then (1) catches the summary up from
    * the CDC span (re-scan thunk throws: feed-only), (2) drops the v1
    * registration and (3) re-registers against v2. The serve against the
    * NEW snapshot must route to the summary (plan-asserted) with the
    * post-DML numbers (oracle-asserted) — a listener that skipped the
    * refresh serves stale values, one that skipped the re-register leaves
    * a base scan in the plan; both turn the row red. */
  private def mvAutoServe(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    mvAutoServeScenario(s, dir, crossProcess = false)

  /** Cross-process auto-serve (r15, VERDICT r14 #4): the SAME scenario, but
    * the DML commit lands with the commit listener DETACHED — how a commit
    * from another writer process looks to this one (its in-process
    * listeners never fire; `_latest` moves anyway). The fn REQUIRES the
    * summary to still be stale after the commit (proving the listener
    * genuinely never ran), then the serve against the new head must route
    * to the summary anyway: MvRewrite's plan-time head check sees an
    * unregistered head scan, runs the heal inline, and the plan + oracle
    * asserts are identical to the in-process row. */
  private def mvHeadCheck(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    mvAutoServeScenario(s, dir, crossProcess = true)

  private def mvAutoServeScenario(s: org.apache.spark.sql.SparkSession,
      dir: String, crossProcess: Boolean): DataFrame = {
    val base = Scratch.dir("graft_mvauto_")
    val root = commitRidGrain(s, dir, base)
    IncrementalMv.initSummaryAt(s, s"$base/summary",
      sumCountSummary(graft.sources.VersionedTable.read(s, root, Some(1))), version = 1)
    IncrementalMv.autoServe(s, root, s"$base/summary",
      rowKeys = Seq("rid"), mvKeys = Seq("month", "country"),
      rowCount = "n_rows", measures = sumCountMeasures,
      rescanBase = _ => throw new IllegalStateException(
        "sum/count maintenance must read ONLY the change feed, never the base")) {
      (sess, v) => registerSumCount(sess, root, v, s"$base/summary")
    }
    try {
      // cross-process simulation: the foreign writer's commit never fires
      // THIS process's listeners — only the head check can close the gap
      if (crossProcess) IncrementalMv.detachListenerKeepHeadCheck(root)
      // the mutation commits — and the commit IS the refresh trigger
      upliftEverySixth(s, root)
      if (crossProcess)
        require(IncrementalMv.appliedVersion(s, s"$base/summary").contains(1),
          "the detached listener must NOT have refreshed the summary")
      else
        require(IncrementalMv.appliedVersion(s, s"$base/summary").contains(2),
          "the commit listener must have caught the summary up to v2")
      graft.plans.MvRewrite.servingScoped(s) {
        val out = serveByCountry(s, root)
        if (crossProcess)
          require(IncrementalMv.appliedVersion(s, s"$base/summary").contains(2),
            "the plan-time head check must have healed the summary to v2")
        out
      }
    } finally IncrementalMv.stopAutoServe(root)
  }

  /** Shared by `molap_mv_autoserve` and `molap_mv_headcheck` — the two
    * rows end in the same post-DML state; only the refresh trigger
    * (in-process listener vs plan-time head check) differs. */
  private lazy val autoServeOracle: String = q(s"""
      , mva AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 CASE WHEN CAST(f.invoiceid AS BIGINT) % 6 = 0
                      THEN f.totalamount + 1.00 ELSE f.totalamount END AS totalamount
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST((sum(CAST(totalamount * 100 AS BIGINT)) * 10000
                   + count(totalamount) // 2) // count(totalamount) AS DOUBLE)
               / 1000000 AS avg_amount,
             count(*) AS n_rows
      FROM mva GROUP BY country""")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("molap_mv_rewrite_join", mvRewriteJoin, Some(q(s"""
      , mvb AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT 'R' || CAST(length(country) % 3 AS VARCHAR) AS region,
             CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST(sum(quantity) AS BIGINT) AS total_quantity,
             count(*) AS n_rows
      FROM mvb GROUP BY 1"""))),

    // same final state as molap_mv_serve_refreshed — the loop ran itself
    QueryDef("molap_mv_autoserve", mvAutoServe, Some(autoServeOracle)),

    // same scenario + oracle, but the commit lands with the listener
    // detached (a foreign-process write): only the plan-time head check
    // can heal the serve — stale values or a base scan turn the row red
    QueryDef("molap_mv_headcheck", mvHeadCheck, Some(autoServeOracle)),

    // the decimal avg oracle replicates Spark's exact decimal divide in
    // integer cents, like molap_mv_rewrite_avg's
    QueryDef("molap_mv_serve_refreshed", mvServeRefreshed, Some(q(s"""
      , mvu AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 CASE WHEN CAST(f.invoiceid AS BIGINT) % 6 = 0
                      THEN f.totalamount + 1.00 ELSE f.totalamount END AS totalamount
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST((sum(CAST(totalamount * 100 AS BIGINT)) * 10000
                   + count(totalamount) // 2) // count(totalamount) AS DOUBLE)
               / 1000000 AS avg_amount,
             count(*) AS n_rows
      FROM mvu GROUP BY country"""))),

    QueryDef("sql_mv_serving", mvRewriteSql, Some(q(s"""
      , mvg AS (
          SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
                 coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST(sum(quantity) AS BIGINT) AS total_quantity,
             count(*) AS n_rows
      FROM mvg WHERE month >= DATE '1997-01-01'
      GROUP BY country HAVING count(*) > 50"""))),

    QueryDef("sql_mv_rollup_star", mvRollupStar, Some(q(s"""
      , mvb AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey}),
        star_regions AS (
          SELECT DISTINCT country,
                 'R' || CAST(length(country) % 3 AS VARCHAR) AS region
          FROM mvb)
      SELECT region, country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST(sum(quantity) AS BIGINT) AS total_quantity,
             count(*) AS n_rows
      FROM mvb JOIN star_regions USING (country)
      GROUP BY ROLLUP (region, country)"""))),

    QueryDef("molap_mv_rewrite_having", mvRewriteHaving, Some(q(s"""
      , mvb AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM mvb GROUP BY country
      HAVING sum(totalamount) > 1000"""))),

    QueryDef("molap_mv_rewrite_rollup", mvRewriteRollup, Some(q(s"""
      , mvg AS (
          SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
                 coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT month, country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST(sum(quantity) AS BIGINT) AS total_quantity,
             count(*) AS n_rows
      FROM mvg GROUP BY ROLLUP(month, country)"""))),

    // the decimal avg oracle replicates Spark's exact decimal divide
    // (round-half-up at the result scale 6) in integer cents — DuckDB's own
    // avg(DECIMAL) runs in floating point and can differ in the last ulp;
    // the integral avg is the same IEEE double divide in both engines
    QueryDef("molap_mv_rewrite_avg", mvRewriteAvg, Some(q(s"""
      , mvb AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country,
             CAST((sum(CAST(totalamount * 100 AS BIGINT)) * 10000
                   + count(totalamount) // 2) // count(totalamount) AS DOUBLE)
               / 1000000 AS avg_amount,
             CAST(sum(quantity) AS DOUBLE) / count(quantity) AS avg_qty,
             CAST(min(totalamount) AS DOUBLE) AS min_amount,
             CAST(max(totalamount) AS DOUBLE) AS max_amount,
             count(*) AS n_rows
      FROM mvb GROUP BY country"""))),

    QueryDef("molap_mv_rewrite_filtered", mvRewriteFiltered, Some(q(s"""
      , mvg AS (
          SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
                 coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST(sum(quantity) AS BIGINT) AS total_quantity,
             count(*) AS n_rows
      FROM mvg WHERE month >= DATE '1997-01-01' GROUP BY country"""))),

    QueryDef("molap_mv_rewrite_country", mvRewriteCountry, Some(q(s"""
      , mvb AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country,
                 f.totalamount, f.quantity
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          WHERE f.date_key <> ${graft.FallbackDateKey})
      SELECT country, CAST(sum(totalamount) AS DOUBLE) AS revenue,
             CAST(sum(quantity) AS BIGINT) AS total_quantity,
             count(*) AS n_rows
      FROM mvb GROUP BY country"""))),

    // The skew loop guarding the real MOLAP build (r13): the fn requires a
    // CONSISTENT decision (salted ⇔ measured share over threshold — on this
    // near-uniform feed that means the plain route, no wasted shuffle) and
    // requires the FORCED two-phase route to agree with the decided one row
    // for row (the byte-identity contract), then emits the summary the
    // oracle hash-checks. A decision regression, a salted/plain divergence,
    // or a wrong sum all turn this row RED.
    QueryDef("molap_month_country_guarded", (s, dir) => {
      val w = Warehouse(s, dir)
      val g = monthCountryGuarded(w)
      val d = g.decision.head()
      require(d.getBoolean(0) == (d.getDouble(1) > d.getDouble(2)),
        s"skew decision inconsistent with its measurement: $d")
      val forced = graft.perf.Skew.saltedSums(
        w.factSalesElt
          .filter(col("date_key") =!= graft.FallbackDateKey)
          .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
          .select(keyMonth, coalesce(col("country"), lit("UNKNOWN")).as("country"),
            col("totalamount"), col("quantity")),
        Seq("month", "country"), Seq("totalamount", "quantity"))
        .select(col("month"), col("country"),
          col("sum_totalamount").cast("double").as("total_revenue"),
          col("sum_quantity").as("total_quantity"))
      require(forced.exceptAll(g.summary).isEmpty &&
        g.summary.exceptAll(forced).isEmpty,
        "salted and plain routes must produce identical summaries")
      g.summary
    }, Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS total_revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY 1, 2"""))),

    QueryDef("molap_month_country", (s, dir) => monthCountry(Warehouse(s, dir)), Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS total_revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity,
             count(DISTINCT f.invoiceid) AS order_count
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY 1, 2"""))),

    QueryDef("molap_month_product", (s, dir) => monthProduct(Warehouse(s, dir)), Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             p.stockcode, p.description,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_qty,
             CAST(sum(f.unitprice) AS DOUBLE) / count(f.unitprice) AS avg_unitprice
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      JOIN dim_product p ON f.product_key = p.product_key
      GROUP BY 1, 2, 3"""))),

    QueryDef("molap_customer_month", (s, dir) => customerMonth(Warehouse(s, dir)), Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             c.customerid,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             count(DISTINCT f.invoiceid) AS orders,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY 1, 2"""))),

    QueryDef("molap_q4_top10_last3m", (s, dir) => top10Last3m(Warehouse(s, dir)), Some(q("""
      SELECT p.stockcode, p.description,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             CAST(sum(f.quantity) AS BIGINT) AS qty_sold
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      JOIN dim_product p ON f.product_key = p.product_key
      WHERE d.full_date >= ((SELECT max(full_date) FROM dim_date) - INTERVAL '3 months')
      GROUP BY p.stockcode, p.description
      ORDER BY revenue DESC, p.stockcode
      LIMIT 10"""))),

    QueryDef("molap_q5_daily_90d_top30", (s, dir) => daily90(Warehouse(s, dir)), Some(q("""
      SELECT d.full_date, CAST(sum(f.totalamount) AS DOUBLE) AS daily_revenue
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      WHERE d.full_date >= ((SELECT max(full_date) FROM dim_date) - INTERVAL '90 days')
      GROUP BY d.full_date
      ORDER BY d.full_date
      LIMIT 30"""))),

    QueryDef("molap_q6_cohort12", (s, dir) => cohort12(Warehouse(s, dir)), Some(q("""
      , customer_signup AS (
          SELECT customer_key, CAST(date_trunc('month', signupdate) AS DATE) AS signup_month
          FROM dim_customer_elt WHERE signupdate IS NOT NULL),
        customer_revenue AS (
          SELECT c.customer_key, CAST(date_trunc('month', d.full_date) AS DATE) AS sale_month,
                 sum(f.totalamount) AS revenue
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          GROUP BY 1, 2)
      SELECT s.signup_month,
             CAST(CAST(sum(CASE WHEN r.sale_month = s.signup_month THEN r.revenue ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS month0_revenue,
             CAST(CAST(sum(CASE WHEN r.sale_month = s.signup_month + INTERVAL '1 month' THEN r.revenue ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS month1_revenue,
             CAST(CAST(sum(CASE WHEN r.sale_month = s.signup_month + INTERVAL '2 month' THEN r.revenue ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS month2_revenue
      FROM customer_signup s
      LEFT JOIN customer_revenue r ON r.customer_key = s.customer_key
      GROUP BY s.signup_month
      ORDER BY s.signup_month DESC
      LIMIT 12"""))),

    QueryDef("molap_q7_verify_vs_olap", (s, dir) => verify(Warehouse(s, dir)), Some(q("""
      , molap_mc AS (
          SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
                 coalesce(c.country, 'UNKNOWN') AS country,
                 sum(f.totalamount) AS total_revenue
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          GROUP BY 1, 2),
        olap AS (
          SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
                 coalesce(c.country, 'UNKNOWN') AS country,
                 sum(f.totalamount) AS revenue
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          GROUP BY 1, 2)
      SELECT olap.month, olap.country,
             CAST(CAST(round(olap.revenue, 2) AS DECIMAL(18,2)) AS DOUBLE) AS olap_revenue,
             CAST(CAST(round(coalesce(m.total_revenue, 0), 2) AS DECIMAL(18,2)) AS DOUBLE) AS molap_revenue,
             CAST(CAST(round(coalesce(m.total_revenue, 0) - olap.revenue, 2) AS DECIMAL(18,2)) AS DOUBLE) AS diff
      FROM olap
      LEFT JOIN molap_mc m ON m.month = olap.month AND m.country = olap.country
      ORDER BY olap.month DESC, olap.country
      LIMIT 20"""))))
}
