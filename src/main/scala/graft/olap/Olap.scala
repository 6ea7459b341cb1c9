package graft.olap

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.{QueryDef, QueryRegistry}
import graft.oracle.OracleSql.q

/** The reference's OLAP suite Q1–Q7 (`Iteration 2/Group No.6_OLAP.sql:10-136`)
  * over the ELT star.
  *
  * Scale notes: every query is fact ⋈ small-dim star join + hash aggregate —
  * Catalyst broadcasts the dims and does partial (map-side) aggregation before
  * the single group-by shuffle. The "last N period" window queries (Q2/Q4)
  * collect the 1-row max-date aggregate to the driver and inline it as a
  * literal predicate — at 100 TB that predicate reaches the parquet scan as a
  * pushed filter + partition prune, instead of the BroadcastNestedLoopJoin a
  * correlated range join would plan (SURVEY.md §2.3 J5).
  *
  * Where the reference's `LIMIT k` rides on a possibly-tied ORDER BY, a
  * natural-key tie-break is added on both engine and oracle so top-k is
  * deterministic (documented deviation; semantics preserved).
  */
object Olap extends QueryRegistry {

  private def countryOrUnknown: Column = coalesce(col("country"), lit("UNKNOWN"))

  /** Max full_date collected to the driver once per warehouse (the
    * reference's 1-row window CTE, `Iteration 2/Group No.6_OLAP.sql:29-32`). */
  private def maxFullDate(w: Warehouse): LocalDate = w.maxFullDate

  private def d(x: LocalDate): Column = lit(java.sql.Date.valueOf(x))

  /** Q1: monthly sales by country. The year/month group keys decode
    * arithmetically from the smart key ([[graft.dateOfDateKey]] note) — the
    * dim_date join the reference writes would shuffle the whole fact against
    * a row-per-second dimension just to read digits the key already carries.
    * The fallback-key filter reproduces the reference's inner-join row set. */
  def q1(w: Warehouse): DataFrame =
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(graft.yearOfDateKey(col("date_key")).as("year"),
        graft.monthNumOfDateKey(col("date_key")).as("month"),
        countryOrUnknown.as("country"))
      .agg(
        sum("totalamount").cast("double").as("total_revenue"),
        sum("quantity").as("total_quantity"))

  /** Q2: top-10 products by revenue over the last 3 months. The date window
    * is a [[graft.dateKeyRange]] scan predicate (P6/J5 pushdown form): it
    * prunes row groups on the date-sorted fact files instead of joining
    * dim_date to evaluate `full_date BETWEEN`. */
  def q2(w: Warehouse): DataFrame = {
    val maxD = maxFullDate(w)
    w.factSalesElt.select("date_key", "product_key", "totalamount", "quantity")
      .filter(graft.dateKeyRange(maxD.minusMonths(3), maxD))
      .join(w.dimProduct.select("product_key", "stockcode", "description"), Seq("product_key"))
      .groupBy("stockcode", "description")
      .agg(sum("totalamount").cast("double").as("revenue"), sum("quantity").as("qty_sold"))
      .orderBy(col("revenue").desc, col("stockcode"))
      .limit(10)
  }

  /** Q3: customer lifetime value (LEFT joins keep zero-sales customers).
    * Shaped scale-first: the fact aggregates by the long surrogate key before
    * touching the dim — one narrow shuffle on `customer_key` instead of
    * carrying name strings through the join and grouping on them. The last
    * purchase date decodes from `max(date_key)`: the key orders like the
    * timestamp and the fallback key is the minimum, so the max is a real key
    * whenever one exists (and the fallback decodes to NULL like the dim miss). */
  def q3(w: Warehouse): DataFrame = {
    val perCustomer = w.factSalesElt
      .select("customer_key", "date_key", "invoiceid", "totalamount")
      .groupBy("customer_key")
      .agg(
        sum("totalamount").as("rev"),
        graft.dateOfDateKey(max("date_key")).as("last_purchase_date"),
        count_distinct(col("invoiceid")).as("orders"))
    w.dimCustomerElt.select("customer_key", "customerid", "customername")
      .join(perCustomer, Seq("customer_key"), "left")
      .select(
        col("customerid"), col("customername"),
        coalesce(col("rev"), lit(0)).cast("decimal(18,2)").cast("double").as("lifetime_revenue"),
        col("last_purchase_date"),
        coalesce(col("orders"), lit(0L)).as("order_count"))
  }

  /** Q4: daily revenue trend over the last 90 days — date_key range scan +
    * arithmetic date decode, no dim join (see [[q2]]). */
  def q4(w: Warehouse): DataFrame = {
    val maxD = maxFullDate(w)
    w.factSalesElt
      .filter(graft.dateKeyRange(maxD.minusDays(90), maxD))
      .groupBy(graft.dateOfDateKey(col("date_key")).as("full_date"))
      .agg(sum("totalamount").cast("double").as("daily_revenue"))
  }

  /** Q5: product price vs revenue. AVG is exact-decimal SUM / COUNT in
    * double, rounded via the portable `round(x*100)/100` shape — plain
    * `round(x, 2)` diverges between engines at .005 boundaries (caught by the
    * sf0.1 sweep: 28/20000 rows one cent apart). */
  def q5(w: Warehouse): DataFrame =
    w.factSalesElt.select("product_key", "unitprice", "totalamount", "quantity")
      .groupBy("product_key")
      .agg(
        (round(sum("unitprice").cast("double") / count(col("unitprice")) * 100) / 100)
          .as("avg_unitprice"),
        sum("totalamount").cast("double").as("total_revenue"),
        sum("quantity").as("total_quantity"))
      .join(w.dimProduct.select("product_key", "stockcode", "description"), Seq("product_key"))
      .select("stockcode", "description", "avg_unitprice", "total_revenue", "total_quantity")

  /** Q6: cohort — signup month vs first-3-months revenue (non-equi theta join
    * J6: equi on customer_key + month-range residual).
    *
    * r20 reshape (guide §2.3/§2.4, A/B'd in tools/R20Probe @ 8323d6e: 1.030 → 0.675 s
    * min at sf0.1, rows identical): the old shape pre-aggregated the fact by
    * (customer_key, sale_month) — a fact-wide exchange into a barely-smaller
    * group space — before the signup join and then shuffled AGAIN onto the
    * ~|months| group key. The dim is broadcast-sized by construction, so the
    * fact now joins it map-side FIRST, the window filter drops out-of-cohort
    * rows before any exchange, and the single remaining shuffle carries
    * partial sums over the tiny signup_month group space. Signup months with
    * no in-window sales are restored by the dim-sized left join (the old
    * LEFT theta join kept them as all-zero rows). Decimal sums are exact in
    * both shapes, so the emitted doubles are bit-identical.
    *
    * r21 (VERDICT r20 #3): the r20 shape FORCED `broadcast(signup)`, but the
    * customer dim scales with the data — at 100 TB the hint bypasses
    * `autoBroadcastJoinThreshold` and OOMs the driver building an unbounded
    * broadcast. The hint is gone: the dim is cached (accurate size stats),
    * so Spark/AQE picks BHJ while signup genuinely fits and degrades to a
    * shuffle join when it doesn't. A/B'd flat-to-better without the hint
    * (tools/R21Probe @ 8323d6e q6_nohint: 0.795 → 0.751 s min, 48/48 rows identical)
    * and the bench-SF plan still shows BroadcastHashJoin, now AQE-chosen. */
  def q6(w: Warehouse): DataFrame = {
    val signup = w.dimCustomerElt
      .filter(col("signupdate").isNotNull)
      .select(col("customer_key").as("s_key"), trunc(col("signupdate"), "month").as("signup_month"))
    val saleMonth = graft.monthOfDateKey(col("date_key"))
    val inWindow = w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(signup, col("customer_key") === col("s_key"))
      .select(col("signup_month"), saleMonth.as("sale_month"), col("totalamount"))
      .filter(col("sale_month") >= col("signup_month") &&
        col("sale_month") < add_months(col("signup_month"), 3))
      .groupBy("signup_month")
      .agg(
        sum(when(col("sale_month") === col("signup_month"), col("totalamount"))
          .otherwise(lit(0))).as("m0"),
        sum(when(col("sale_month") === add_months(col("signup_month"), 1), col("totalamount"))
          .otherwise(lit(0))).as("m1"),
        sum(when(col("sale_month") === add_months(col("signup_month"), 2), col("totalamount"))
          .otherwise(lit(0))).as("m2"))
    signup.select(col("signup_month")).distinct()
      .join(inWindow, Seq("signup_month"), "left")
      .select(col("signup_month"),
        coalesce(col("m0"), lit(0)).cast("decimal(18,2)").cast("double").as("month0_revenue"),
        coalesce(col("m1"), lit(0)).cast("decimal(18,2)").cast("double").as("month1_revenue"),
        coalesce(col("m2"), lit(0)).cast("decimal(18,2)").cast("double").as("month2_revenue"))
  }

  /** Q7: monthly revenue by country verification frame. */
  def q7(w: Warehouse): DataFrame =
    w.factSalesElt
      .join(w.dimDate.select("date_key", "full_date"), Seq("date_key"))
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(trunc(col("full_date"), "month").as("month"), countryOrUnknown.as("country"))
      .agg(sum("totalamount").cast("double").as("revenue"))

  /** Beyond-parity A12: multi-dimensional rollup via CUBE(year, country) —
    * subtotals at every grouping level in one pass (the reference mentions
    * the concept; Spark's `.cube` provides it natively). */
  def cubeYearCountry(w: Warehouse): DataFrame =
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .cube(graft.yearOfDateKey(col("date_key")).as("year"),
        coalesce(col("country"), lit("UNKNOWN")).as("country"))
      .agg(sum("totalamount").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Beyond-parity: the reference's Power BI matrix visual as a true pivot —
    * revenue by calendar month × year. Explicit pivot values keep it a
    * single-pass plan (no extra distinct-values job), which is also the
    * 100 TB-safe form: the column set is fixed, not data-dependent. */
  def pivotMonthYear(w: Warehouse): DataFrame =
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .select(graft.yearOfDateKey(col("date_key")).as("year"),
        graft.monthNumOfDateKey(col("date_key")).as("month"), col("totalamount"))
      .groupBy(col("month"))
      .pivot("year", PivotYears.map(y => y: Any))
      .agg(sum("totalamount").cast("double"))

  private val PivotYears: Seq[Int] = 1992 to 1998

  /** Beyond-parity: explicit GROUPING SETS — the asymmetric subtotal pair
    * ((year, country), (country)) that neither CUBE nor ROLLUP produces
    * (year-level and grand-total rows deliberately absent). One pass, same
    * Expand-based plan family as the cube. */
  def groupingSetsYearCountry(w: Warehouse): DataFrame =
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .select(graft.yearOfDateKey(col("date_key")).as("year"),
        coalesce(col("country"), lit("UNKNOWN")).as("country"), col("totalamount"))
      .groupingSets(Seq(Seq(col("year"), col("country")), Seq(col("country"))),
        col("year"), col("country"))
      .agg(sum("totalamount").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Grouping sets with a measure-level HAVING analog (r11): the subtotal
    * grid filtered on its AGGREGATED revenue's SHARE of the grand total —
    * a post-aggregation predicate evaluated identically at every grouping
    * grain (a country subtotal survives while most of its per-year cells
    * fall below the floor), and scale-FREE: an absolute floor would be a
    * no-op or a wipe-out depending on data volume, where a share keeps the
    * same selectivity at any SF. The 1-row total broadcasts onto the
    * subtotal grid; same one-pass Expand plan underneath. */
  def groupingSetsHaving(w: Warehouse, minShare: Double = 0.005): DataFrame = {
    val total = w.factSalesElt.agg(sum("totalamount").cast("double").as("_total"))
    groupingSetsYearCountry(w)
      .crossJoin(broadcast(total))
      .filter(col("revenue") > lit(minShare) * col("_total"))
      .drop("_total")
  }

  /** Beyond-parity: ROLLUP(year, month) — hierarchical subtotals + grand
    * total in one pass (the CUBE sibling; reference mentions the concept in
    * `Iteration 2/Group No.6_Schema_Justification.sql:59,98`). */
  def rollupYearMonth(w: Warehouse): DataFrame =
    w.factSalesElt
      .filter(col("date_key") =!= graft.FallbackDateKey)
      .rollup(graft.yearOfDateKey(col("date_key")).as("year"),
        graft.monthNumOfDateKey(col("date_key")).as("month"))
      .agg(sum("totalamount").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Beyond-parity: ranked window — top-3 products per country by revenue
    * via dense_rank over a partitioned window. Aggregates on the surrogate
    * key first, attaches the natural key for ranking ties (surrogates never
    * appear in compared output or tie-breaks — they differ from the
    * oracle's). The window partitions by country, so no global single-task
    * sort exists at any scale. */
  def top3ProductsPerCountry(w: Warehouse): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCP = w.factSalesElt
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(countryOrUnknown.as("country"), col("product_key"))
      .agg(sum("totalamount").as("rev"))
      .join(w.dimProduct.select("product_key", "stockcode"), Seq("product_key"))
    perCP
      .withColumn("rnk", dense_rank().over(
        Window.partitionBy("country").orderBy(col("rev").desc, col("stockcode"))))
      .filter(col("rnk") <= 3)
      .select(col("country"), col("stockcode"),
        col("rev").cast("double").as("revenue"), col("rnk"))
  }

  /** Beyond-parity: customer-value quartiles via NTILE — the BI segmentation
    * frame (top-25% revenue share etc.). The window runs over the
    * per-customer AGGREGATE (|customers| rows), never the raw fact; its
    * global order is NTILE's semantic. The 100 TB form — approx-percentile
    * boundaries + a map-side bucket assignment, no global sort — is
    * [[ltvQuartilesApprox]], gated within its analytical bound by
    * [[ltvQuartilesApproxChecked]]; the exact rank here is the gate
    * discipline. Output is the 4-row rollup, not the per-customer
    * assignment. */
  def ltvQuartiles(w: Warehouse): DataFrame = ltvQuartilesOver(ltvFrame(w))

  private def ltvQuartilesOver(ltv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ltv
      .withColumn("quartile",
        ntile(4).over(Window.orderBy(col("ltv").desc, col("customerid"))))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_customers"),
        graft.moneyOut(sum("ltv")).as("revenue"))
  }

  /** The shared per-customer LTV frame of [[ltvQuartiles]] and its approx
    * variant: one fact aggregate, the exact decimal plus its lossless
    * cents image (DECIMAL(18,2) is closed under ×100 → BIGINT). */
  private def ltvFrame(w: Warehouse): DataFrame =
    w.factSalesElt.groupBy("customer_key")
      .agg(sum("totalamount").as("ltv"))
      .join(w.dimCustomerElt.select("customer_key", "customerid"), Seq("customer_key"))
      .withColumn("cents", (col("ltv") * 100).cast("long"))

  /** Country revenue percentiles (r11) — the remaining two ranking window
    * functions ([[ltvQuartiles]] covers NTILE, top3 covers dense_rank):
    * each country's `percent_rank` (share of countries strictly below it)
    * and `cume_dist` (share at-or-below) over total revenue. Both are
    * exact small-integer ratios — (rank−1)/(n−1) and peers/n — and tied
    * peers share values in both engines, so the output is deterministic
    * even if the tie ORDER differs; ordering uses the exact decimal
    * revenue (never the double projection) with a country tie-break. The
    * window runs over the |countries|-row aggregate, not the fact. */
  def countryPercentiles(w: Warehouse): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = w.factSalesElt
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .groupBy(countryOrUnknown.as("country"))
      .agg(sum("totalamount").as("rev"))
    val wnd = Window.orderBy(col("rev").asc, col("country").asc)
    rev.select(col("country"), graft.moneyOut(col("rev")).as("revenue"),
      percent_rank().over(wnd).as("pct_rank"),
      cume_dist().over(wnd).as("cume_dist"))
  }

  /** Market-basket affinity (r11) — the "frequently bought together"
    * analysis an e-commerce warehouse runs over its invoices: support,
    * directional confidence, and lift for every product pair co-occurring
    * in ≥ `minPairN` baskets. The scale shape is basket-aggregation, never
    * a fact self-join: one shuffle builds each invoice's sorted distinct
    * item set (baskets above `maxBasket` items are dropped — the degenerate
    * wholesale-order control that bounds the quadratic pair fan-out), pairs
    * are generated MAP-SIDE from each basket array, and one more shuffle
    * counts them. Item counts and the basket total are |catalog|-sized and
    * broadcast back; every ratio is one division of exact integers. */
  def basketLift(w: Warehouse, minPairN: Long = 2, maxBasket: Int = 50): DataFrame =
    basketLiftOver(w.salesFinal.select("invoiceid", "stockcode"),
      minPairN, maxBasket, prune = false)

  /** Shared core of [[basketLift]] / [[basketLiftPruned]] over any
    * `(invoiceid, stockcode)` feed — generic so the long-tail fixture
    * probe (tools/BasketProbe @ 8323d6e) drives both variants over a Zipfian
    * catalog, the shape the prune argues from (r17, VERDICT r16 #6). */
  private[graft] def basketLiftOver(sales: DataFrame, minPairN: Long,
      maxBasket: Int, prune: Boolean): DataFrame = {
    // collect_set dedups per basket, so a pre-`distinct()` would be a second
    // full shuffle doing the same work (row cost is the object-hash basket
    // aggregation itself — probe-measured unchanged by the extra shuffle at
    // sf0.1, but at 100 TB one exchange of the fact is one too many)
    //
    // localCheckpoint (r20, guide §2.4/§5): the basket frame has THREE
    // consumers (item counts, the basket total, and the pair fan-out).
    // Exchange reuse shares the map-side shuffle write, but the reduce-side
    // object-hash collect_set merge re-ran per consumer — the dominant cost
    // of the row (probed 3×: tools/R20Probe @ 8323d6e). One materialization of the
    // |baskets|-sized array frame runs it once; blocks release via the
    // context cleaner when the frame goes out of scope (the bpeTrain
    // discipline).
    val baskets = sales
      .groupBy("invoiceid")
      .agg(sort_array(collect_set(col("stockcode"))).as("items"))
      .filter(size(col("items")).between(2, maxBasket))
      .localCheckpoint()
    val items = baskets.select(col("invoiceid"), explode(col("items")).as("stockcode"))
    val itemN = items.groupBy("stockcode").agg(count(lit(1)).as("n"))
    val total = baskets.agg(count(lit(1)).as("n_baskets"))
    val pairSource = if (!prune) baskets else {
      // apriori cut: an item in < minPairN baskets can never survive the
      // min-support filter — semi-join the frequent set, re-aggregate
      val freq = itemN.filter(col("n") >= minPairN).select("stockcode")
      items.join(broadcast(freq), Seq("stockcode"), "left_semi")
        .groupBy("invoiceid")
        .agg(sort_array(collect_set(col("stockcode"))).as("items"))
        .filter(size(col("items")) >= 2)
    }
    val pairs = pairSource.select(explode(expr(
      """flatten(transform(items,
         (x, i) -> transform(slice(items, i + 2, size(items)),
                             y -> struct(x AS s1, y AS s2))))""")).as("p"))
      .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairN)
    pairs
      .join(broadcast(itemN.withColumnRenamed("stockcode", "s1").withColumnRenamed("n", "n1")), Seq("s1"))
      .join(broadcast(itemN.withColumnRenamed("stockcode", "s2").withColumnRenamed("n", "n2")), Seq("s2"))
      .crossJoin(broadcast(total))
      .select(col("s1"), col("s2"), col("pair_n"), col("n1"), col("n2"),
        (col("pair_n").cast("double") / col("n_baskets")).as("support"),
        (col("pair_n").cast("double") / col("n1")).as("conf_1_to_2"),
        (col("pair_n").cast("double") / col("n2")).as("conf_2_to_1"),
        ((col("pair_n") * col("n_baskets")).cast("double") / (col("n1") * col("n2"))).as("lift"))
  }

  /** [[basketLift]] with the APRIORI ITEM PREFILTER (r16, VERDICT r15 #4):
    * pair_n ≤ min(n1, n2), so an item appearing in fewer than `minPairN`
    * baskets can never survive the min-support cut — a semi-join against
    * the frequent-item set drops it BEFORE the quadratic pair fan-out.
    * Surviving pairs, their counts, and every denominator are untouched,
    * so the result is IDENTICAL (the gate shares `olap_basket_lift`'s
    * oracle); what disappears is the long-tail items' pair mass — the
    * dominant share of a real retail catalog, where most SKUs sell a
    * handful of times. The cut costs one extra item-level shuffle (the
    * re-aggregation of pruned baskets), so it WINS exactly when the pruned
    * pair mass exceeds that item mass: on the synthetic sf0.1 feed, where
    * minPairN=2 keeps almost every item frequent, it measures 1.91 → 2.39 s
    * (the shuffle with nothing to prune — probe-recorded, tools/RowProbe @ 8323d6e)
    * — the default [[basketLift]] stays the unconditional-path row, and
    * this is the shape a long-tail catalog switches to. A per-row
    * `array_intersect` against a broadcast catalog array was measured 70×
    * WORSE (building a catalog-sized hash set per basket row) and
    * rejected. */
  def basketLiftPruned(w: Warehouse, minPairN: Long = 2,
      maxBasket: Int = 50): DataFrame =
    basketLiftOver(w.salesFinal.select("invoiceid", "stockcode"),
      minPairN, maxBasket, prune = true)

  /** RFM customer segmentation (r11) — the classic CRM cube: per customer,
    * recency (days since last purchase, anchored on the corpus max sale
    * date), frequency (distinct invoices), monetary (exact cents), each cut
    * into quintiles (best = 1) with the customerid tie-break that makes
    * NTILE deterministic; output is the segment-level rollup (counts +
    * exact total cents). The windows run over the per-customer AGGREGATE —
    * orders of magnitude smaller than the fact — the same altitude as the
    * reference's LTV-quartile idiom. The 100 TB form — per-axis
    * approx-percentile boundaries + map-side assignment, no global sort —
    * is [[rfmSegmentsApprox]], gated by [[rfmSegmentsApproxChecked]]. */
  def rfmSegments(w: Warehouse): DataFrame = rfmSegmentsOver(rfmPerCustomer(w))

  private[olap] def rfmSegmentsOver(perCust: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    perCust
      // nulls-last matches DuckDB's ASC default, so an all-null-ts customer
      // (possible under the parse-or-null staging) can never split the
      // engines on quintile assignment
      .withColumn("r_quintile",
        ntile(5).over(Window.orderBy(col("recency_days").asc_nulls_last, col("customerid"))))
      .withColumn("f_quintile",
        ntile(5).over(Window.orderBy(col("n_orders").desc, col("customerid"))))
      .withColumn("m_quintile",
        ntile(5).over(Window.orderBy(col("cents").desc, col("customerid"))))
      .groupBy("r_quintile", "f_quintile", "m_quintile")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("monetary_cents"))
  }

  /** The 100 TB opt-in variant of [[ltvQuartiles]] (r18, VERDICT r17 #2):
    * quartile BOUNDARIES from `approx_percentile` over the narrow
    * per-customer LTV frame, then a MAP-SIDE bucket assignment — no global
    * NTILE sort anywhere (the exact form funnels every customer through
    * one WindowExec partition; at web-scale customer counts that is the
    * one single-partition sort left in the repo). Boundaries are computed
    * on exact cents (DECIMAL(18,2) is closed under ×100 → BIGINT), so
    * value-bucketing differs from NTILE only where ties straddle a
    * boundary (a tie block stays together where a rank cut splits it)
    * plus the sketch's rank error — both bounded, and pinned by
    * [[ltvQuartilesApproxChecked]]. Same discipline as
    * [[graft.llm.TextOps.classifierThresholdSweepApprox]]. */
  def ltvQuartilesApprox(w: Warehouse, accuracy: Int = 10000): DataFrame =
    // one materialization of the narrow per-customer frame for the boundary
    // collect + assignment pair (see rfmSegmentsApprox's note)
    ltvQuartilesApproxOver(ltvFrame(w).localCheckpoint(), accuracy)

  /** [[ltvQuartilesApprox]] plus an explicit release handle (ADVICE r18):
    * the checkpointed per-customer frame's executor-local blocks are
    * otherwise reclaimed only by the ContextCleaner after a GC, so a timed
    * rep loop (Bench, tools/ScaleAxisProbe @ 8323d6e) pins one |customers|-sized frame per
    * rep until the JVM happens to collect. Callers invoke the handle after
    * consuming the frame; one-shot callers can keep using the plain form. */
  def ltvQuartilesApproxReleasable(w: Warehouse, accuracy: Int = 10000)
      : (DataFrame, () => Unit) = {
    val frame = ltvFrame(w).localCheckpoint()
    (ltvQuartilesApproxOver(frame, accuracy), () => Warehouse.releaseLocalCheckpoint(frame))
  }

  /** [[rfmSegmentsApprox]]'s release-handle form — same contract as
    * [[ltvQuartilesApproxReleasable]]. */
  def rfmSegmentsApproxReleasable(w: Warehouse, accuracy: Int = 10000)
      : (DataFrame, () => Unit) = {
    val frame = rfmPerCustomer(w).localCheckpoint()
    (rfmSegmentsApproxOver(frame, accuracy), () => Warehouse.releaseLocalCheckpoint(frame))
  }

  private def ltvQuartilesApproxOver(ltv: DataFrame, accuracy: Int): DataFrame = {
    // 3 descending boundaries (p75, p50, p25 of the LTV distribution);
    // quartile 1 = cents at/above the p75 boundary — NTILE's top quarter
    val bounds = Option(ltv.agg(expr(
      s"approx_percentile(cents, array(0.75, 0.5, 0.25), $accuracy)").as("bs"))
      .head().getSeq[Long](0))
      // an empty customer frame aggregates to one NULL row — the rollup
      // over nothing is the empty frame, never an NPE
      .getOrElse(return ltv.sparkSession.emptyDataFrame.select(
        lit(0).as("quartile"), lit(0L).as("n_customers"), lit(0.0).as("revenue")))
    val bArr = array(bounds.map(lit): _*)
    ltv
      // NULL cents (an all-null-totalamount customer) lands in the WORST
      // bucket, matching the exact form's `ltv DESC` (Spark desc = nulls
      // last); the bare HOF filter would drop every NULL comparison and
      // silently crown the customer quartile 1 (r18 review)
      .withColumn("quartile",
        when(col("cents").isNull, lit(4))
          .otherwise(lit(1) + size(filter(bArr, b => b > col("cents"))))
          .cast("int"))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_customers"),
        graft.moneyOut(sum("ltv")).as("revenue"))
  }

  /** Gate face of [[ltvQuartilesApprox]]: PROVES the map-side bucket rollup
    * tracks the exact NTILE rollup within its analytical bound — per
    * quartile, cumulative customer counts may differ by at most the
    * sketch's rank error (n/accuracy) plus the largest LTV tie block
    * (measured from the data, not hand-picked), +1 slack — then emits the
    * exact rollup for the shared oracle. The per-customer frame is cached
    * once and shared by the gate's four aggregates; driver-side state is
    * the two ≤4-row rollups plus two scalars. */
  def ltvQuartilesApproxChecked(w: Warehouse, accuracy: Int = 10000): DataFrame = {
    val frame = ltvFrame(w).cache()
    try {
      val n = frame.count()
      if (n == 0) return ltvQuartiles(w) // nothing to cross-check
      val maxTie = frame.groupBy("cents").agg(count(lit(1)).as("c"))
        .agg(max("c")).head().getLong(0)
      val tol = n.toDouble / accuracy + maxTie + 1
      val e = cumCounts(ltvQuartilesOver(frame), "quartile", "n_customers", 4)
      val a = cumCounts(ltvQuartilesApproxOver(frame, accuracy),
        "quartile", "n_customers", 4)
      (1 to 4).foreach { qt =>
        require(math.abs(a(qt) - e(qt)) <= tol,
          s"approx LTV quartile $qt cum_customers ${a(qt)} vs exact ${e(qt)} " +
            s"exceeds tolerance $tol")
      }
    } finally frame.unpersist()
    ltvQuartiles(w) // the emitted frame, on a fresh (uncached) lineage
  }

  /** The 100 TB opt-in variant of [[rfmSegments]] (r18, VERDICT r17 #2):
    * each of the three quintile axes is assigned MAP-SIDE against its own
    * 4 `approx_percentile` boundaries instead of a global NTILE sort —
    * the only shuffles left are the per-customer aggregate and the ≤125-row
    * segment rollup. Recency keeps the exact form's NULLS-LAST semantics
    * (an all-null-ts customer lands in quintile 5). Per-axis divergence
    * from NTILE is the sketch's rank error plus the axis's largest tie
    * block (frequency ties are genuinely wide — most customers share small
    * integer order counts — so value-bucketing is also the MORE honest
    * segmentation there: a rank cut splits equal-behavior customers
    * arbitrarily); [[rfmSegmentsApproxChecked]] pins each axis's marginal
    * within the bound. */
  def rfmSegmentsApprox(w: Warehouse, accuracy: Int = 10000): DataFrame =
    // the boundary collect and the assignment frame would each re-run the
    // fact-scale per-customer aggregate; localCheckpoint materializes the
    // NARROW frame once (the bpeTrain/mmrRerank discipline — truncated
    // lineage, no cache/unpersist dance, executor-local storage of a
    // |customers|-sized frame). Same trade those siblings accepted: the
    // checkpoint is unreliable storage (an executor loss between the two
    // consumers fails the query instead of recomputing), and release is
    // the ContextCleaner's once the frame's refs drop
    rfmSegmentsApproxOver(rfmPerCustomer(w).localCheckpoint(), accuracy)

  private[olap] def rfmSegmentsApproxOver(perCust: DataFrame, accuracy: Int): DataFrame = {
    val b = perCust.agg(
      expr(s"approx_percentile(recency_days, array(0.2, 0.4, 0.6, 0.8), $accuracy)").as("rb"),
      expr(s"approx_percentile(n_orders, array(0.8, 0.6, 0.4, 0.2), $accuracy)").as("fb"),
      expr(s"approx_percentile(cents, array(0.8, 0.6, 0.4, 0.2), $accuracy)").as("mb")
    ).head()
    // a NULL boundary array (empty frame, or an all-NULL axis) degrades to
    // "everything in quintile 1" for that axis — matching NTILE over an
    // empty/degenerate order, and never an NPE
    def longs(i: Int): Seq[Long] =
      Option(if (b.isNullAt(i)) null else b.getSeq[Long](i)).getOrElse(Seq.empty)
    val rB = Option(if (b.isNullAt(0)) null else b.getSeq[Int](0)).getOrElse(Seq.empty)
    val (fB, mB) = (longs(1), longs(2))
    // recency ASC: quintile 1 = smallest recency → count boundaries BELOW;
    // frequency/monetary DESC: quintile 1 = largest → count boundaries ABOVE
    val rq =
      if (rB.isEmpty) when(col("recency_days").isNull, lit(5)).otherwise(lit(1))
      else when(col("recency_days").isNull, lit(5))
        .otherwise(lit(1) + size(filter(array(rB.map(lit): _*), x => x < col("recency_days"))))
    // NULL values land in the WORST quintile, matching the exact form's
    // DESC ordering (Spark desc = nulls last) — the bare HOF filter would
    // drop every NULL comparison and silently crown them quintile 1
    def descQ(c: Column, bs: Seq[Long]): Column =
      if (bs.isEmpty) lit(1)
      else when(c.isNull, lit(5))
        .otherwise(lit(1) + size(filter(array(bs.map(lit): _*), x => x > c)))
    perCust
      .withColumn("r_quintile", rq.cast("int"))
      .withColumn("f_quintile", descQ(col("n_orders"), fB).cast("int"))
      .withColumn("m_quintile", descQ(col("cents"), mB).cast("int"))
      .groupBy("r_quintile", "f_quintile", "m_quintile")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("monetary_cents"))
  }

  /** Gate face of [[rfmSegmentsApprox]]: PROVES each axis's MARGINAL
    * quintile distribution tracks the exact NTILE marginal within its
    * analytical bound — per quintile, cumulative customer counts differ by
    * at most n/accuracy + that axis's largest tie block (NULL recency is a
    * tie block) + 1 — then emits the exact rollup for the shared oracle.
    * The joint (r,f,m) cells can migrate further than any marginal (a
    * one-step move on one axis relabels the whole triple); the marginals
    * are what the sketch bounds analytically, so they are what is gated.
    * The per-customer frame is cached once and shared by the gate's six
    * aggregates; driver-side state: two ≤125-row rollups and four
    * scalars. */
  def rfmSegmentsApproxChecked(w: Warehouse, accuracy: Int = 10000): DataFrame = {
    val perCust = rfmPerCustomer(w).cache()
    try {
      val n = perCust.count()
      if (n == 0) return rfmSegments(w)
      // largest tie block per axis (a NULL group is a tie block too)
      def maxTieOf(dim: String): Long =
        perCust.groupBy(dim).agg(count(lit(1)).as("c"))
          .agg(max("c")).head().getLong(0)
      val eRows = rfmSegmentsOver(perCust).collect()
      val aRows = rfmSegmentsApproxOver(perCust, accuracy).collect()
      def marginal(rows: Array[org.apache.spark.sql.Row], dim: String): Map[Int, Long] =
        cumFill(rows.groupBy(_.getAs[Int](dim)).view
          .mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap, 5)
      Seq(("r_quintile", maxTieOf("recency_days")),
          ("f_quintile", maxTieOf("n_orders")),
          ("m_quintile", maxTieOf("cents"))).foreach { case (dim, maxTie) =>
        val tol = n.toDouble / accuracy + maxTie + 1
        val (e, a) = (marginal(eRows, dim), marginal(aRows, dim))
        (1 to 5).foreach { qi =>
          require(math.abs(a(qi) - e(qi)) <= tol,
            s"approx RFM $dim quintile $qi cum $a vs exact $e exceeds tolerance $tol")
        }
      }
    } finally perCust.unpersist()
    rfmSegments(w) // the emitted frame, on a fresh (uncached) lineage
  }

  /** The shared per-customer R/F/M frame of [[rfmSegments]] and its approx
    * variant — one aggregate over the fact, anchor broadcast back. */
  private def rfmPerCustomer(w: Warehouse): DataFrame = {
    val perCust = w.salesFinal.filter(graft.nonBlank("customerid"))
      .groupBy("customerid")
      .agg(max(col("sale_ts").cast("date")).as("last_date"),
        count_distinct(col("invoiceid")).as("n_orders"),
        sum((col("totalamount") * 100).cast("long")).as("cents"))
    val anchor = perCust.agg(max("last_date").as("anchor_date"))
    perCust.crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("anchor_date"), col("last_date")))
  }

  /** Gap-filled cumulative counts over buckets 1..maxBucket: an ABSENT
    * bucket carries the previous running total (approx_percentile can
    * collapse adjacent boundaries on heavy ties, leaving a rollup with no
    * rows for a middle bucket — treating that as cumulative 0 would fail
    * the gate spuriously, r18 review). */
  private[olap] def cumFill(per: Map[Int, Long], maxBucket: Int): Map[Int, Long] =
    (1 to maxBucket).scanLeft((0, 0L)) { case ((_, acc), k) =>
      (k, acc + per.getOrElse(k, 0L)) }.tail.toMap

  /** Cumulative bucket counts of a ≤k-row rollup, driver-side, gap-filled. */
  private def cumCounts(rollup: DataFrame, bucketCol: String,
      countCol: String, maxBucket: Int): Map[Int, Long] =
    cumFill(rollup.select(bucketCol, countCol).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap, maxBucket)

  /** Cohort LTV curve (r11) — the retention-economics triangle behind the
    * q6 cohort pivot: customers grouped by FIRST-purchase month, each
    * cohort's revenue accumulated by age (months since first purchase),
    * normalized per member. Month indices are integer arithmetic
    * (`year·12+month`), money stays exact cents; the cumulative window
    * runs over the |cohorts|×|ages| aggregate, never the fact, and the
    * cohort-size frame broadcasts back. */
  def cohortLtvCurve(w: Warehouse): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a NULL sale_ts row (the parse-or-null CASE) has no month, so no
    // cohort age — and it would otherwise sort NULLS FIRST in Spark's
    // cumulative window vs NULLS LAST in DuckDB's
    val sales = w.salesFinal
      .filter(graft.nonBlank("customerid") && col("sale_ts").isNotNull)
      .select(col("customerid"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts"))).as("midx"),
        (col("totalamount") * 100).cast("long").as("cents"))
    val firsts = sales.groupBy("customerid").agg(min("midx").as("fidx"))
    val sized = firsts.groupBy("fidx")
      .agg(count_distinct(col("customerid")).as("cohort_size"))
    val cells = sales.join(firsts, Seq("customerid"))
      .groupBy(col("fidx"), (col("midx") - col("fidx")).as("age_months"))
      .agg(count_distinct(col("customerid")).as("n_active"),
        sum("cents").as("revenue_cents"))
    val wnd = Window.partitionBy("fidx").orderBy("age_months")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.join(broadcast(sized), Seq("fidx"))
      .withColumn("cum_revenue_cents", sum("revenue_cents").over(wnd))
      .select(
        expr("CAST(((fidx - 1) div 12) * 100 + ((fidx - 1) % 12) + 1 AS BIGINT)")
          .as("cohort_month"),
        col("age_months").cast("long").as("age_months"),
        col("n_active"), col("cohort_size"), col("revenue_cents"),
        col("cum_revenue_cents"),
        (col("cum_revenue_cents").cast("double") / col("cohort_size"))
          .as("ltv_cents_per_customer"))
  }

  private lazy val basketLiftOracle: String = q("""
      , bk AS (SELECT DISTINCT invoiceid, stockcode FROM sales_final),
      bsz AS (SELECT invoiceid FROM bk GROUP BY invoiceid HAVING count(*) BETWEEN 2 AND 50),
      bi AS (SELECT b.invoiceid, b.stockcode FROM bk b JOIN bsz s ON b.invoiceid = s.invoiceid),
      pc AS (SELECT a.stockcode AS s1, c.stockcode AS s2, count(*) AS pair_n
             FROM bi a JOIN bi c ON a.invoiceid = c.invoiceid AND a.stockcode < c.stockcode
             GROUP BY 1, 2 HAVING count(*) >= 2),
      itn AS (SELECT stockcode, count(*) AS n FROM bi GROUP BY 1),
      tot AS (SELECT count(DISTINCT invoiceid) AS nb FROM bi)
      SELECT pc.s1, pc.s2, pc.pair_n, i1.n AS n1, i2.n AS n2,
             CAST(pc.pair_n AS DOUBLE) / nb AS support,
             CAST(pc.pair_n AS DOUBLE) / i1.n AS conf_1_to_2,
             CAST(pc.pair_n AS DOUBLE) / i2.n AS conf_2_to_1,
             CAST(pc.pair_n * nb AS DOUBLE) / (i1.n * i2.n) AS lift
      FROM pc JOIN itn i1 ON pc.s1 = i1.stockcode
              JOIN itn i2 ON pc.s2 = i2.stockcode, tot""")

  /** Shared by `olap_rfm_segments` and its approx twin, which proves its
    * bucketing within the sketch bound and then emits the exact frame. */
  private lazy val rfmSegmentsOracle: String = q("""
      , rcust AS (
          SELECT customerid,
                 max(CAST(sale_ts AS DATE)) AS last_date,
                 count(DISTINCT invoiceid) AS n_orders,
                 CAST(sum(CAST(totalamount * 100 AS BIGINT)) AS BIGINT) AS cents
          FROM sales_final
          WHERE customerid IS NOT NULL AND trim(customerid) <> ''
          GROUP BY 1),
      ranchor AS (SELECT max(last_date) AS anchor_date FROM rcust),
      rq AS (
          SELECT customerid, n_orders, cents,
                 ntile(5) OVER (ORDER BY date_diff('day', last_date, anchor_date) ASC, customerid) AS r_quintile,
                 ntile(5) OVER (ORDER BY n_orders DESC, customerid) AS f_quintile,
                 ntile(5) OVER (ORDER BY cents DESC, customerid) AS m_quintile
          FROM rcust, ranchor)
      SELECT CAST(r_quintile AS INT) AS r_quintile,
             CAST(f_quintile AS INT) AS f_quintile,
             CAST(m_quintile AS INT) AS m_quintile,
             count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS monetary_cents
      FROM rq GROUP BY 1, 2, 3""")

  /** Shared by `olap_ltv_quartiles` and its approx twin (same contract). */
  private lazy val ltvQuartilesOracle: String = q("""
      , ltv AS (
          SELECT c.customerid, sum(f.totalamount) AS ltv
          FROM fact_sales_elt f
          JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          GROUP BY 1),
        bucketed AS (
          SELECT ltv, CAST(ntile(4) OVER (ORDER BY ltv DESC, customerid) AS INT) AS quartile
          FROM ltv)
      SELECT quartile, count(*) AS n_customers,
             CAST(CAST(sum(ltv) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
      FROM bucketed GROUP BY quartile""")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("olap_cohort_ltv_curve", (s, dir) => cohortLtvCurve(Warehouse(s, dir)), Some(q("""
      , csales AS (
          SELECT customerid, year(sale_ts) * 12 + month(sale_ts) AS midx,
                 CAST(totalamount * 100 AS BIGINT) AS cents
          FROM sales_final
          WHERE customerid IS NOT NULL AND trim(customerid) <> ''
            AND sale_ts IS NOT NULL),
      cfirst AS (SELECT customerid, min(midx) AS fidx FROM csales GROUP BY 1),
      csize AS (SELECT fidx, count(DISTINCT customerid) AS cohort_size
                FROM cfirst GROUP BY 1),
      ccell AS (
          SELECT f.fidx, s.midx - f.fidx AS age_months,
                 count(DISTINCT s.customerid) AS n_active,
                 CAST(sum(s.cents) AS BIGINT) AS revenue_cents
          FROM csales s JOIN cfirst f ON s.customerid = f.customerid
          GROUP BY 1, 2),
      ccum AS (
          SELECT c.fidx, c.age_months, c.n_active, c.revenue_cents, z.cohort_size,
                 CAST(sum(c.revenue_cents) OVER (PARTITION BY c.fidx ORDER BY c.age_months
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_revenue_cents
          FROM ccell c JOIN csize z ON c.fidx = z.fidx)
      SELECT CAST(((fidx - 1) // 12) * 100 + ((fidx - 1) % 12) + 1 AS BIGINT) AS cohort_month,
             CAST(age_months AS BIGINT) AS age_months, n_active, cohort_size,
             revenue_cents, cum_revenue_cents,
             CAST(cum_revenue_cents AS DOUBLE) / cohort_size AS ltv_cents_per_customer
      FROM ccum"""))),

    // the oracle enumerates pairs by invoice self-join with s1 < s2 — the
    // textbook shape the basket-array plan must reproduce exactly
    QueryDef("olap_basket_lift", (s, dir) => basketLift(Warehouse(s, dir)),
      Some(basketLiftOracle)),

    // the apriori-pruned variant must produce the IDENTICAL result — it
    // shares the direct path's oracle, so a prune that drops a legitimate
    // pair (or changes any denominator) hash-mismatches
    QueryDef("olap_basket_lift_pruned",
      (s, dir) => basketLiftPruned(Warehouse(s, dir)),
      Some(basketLiftOracle)),

    QueryDef("olap_rfm_segments", (s, dir) => rfmSegments(Warehouse(s, dir)),
      Some(rfmSegmentsOracle)),

    // the approx (100 TB) variant runs its map-side bucketing, PROVES it
    // within the sketch's analytical bound, then emits the exact frame —
    // so it shares the exact oracle and a divergence beyond the bound
    // fails loudly at run time, not as a silent hash mismatch
    QueryDef("olap_rfm_segments_approx",
      (s, dir) => rfmSegmentsApproxChecked(Warehouse(s, dir)), Some(rfmSegmentsOracle)),

    QueryDef("olap_ltv_quartiles_approx",
      (s, dir) => ltvQuartilesApproxChecked(Warehouse(s, dir)), Some(ltvQuartilesOracle)),

    QueryDef("olap_ltv_quartiles", (s, dir) => ltvQuartiles(Warehouse(s, dir)),
      Some(ltvQuartilesOracle)),

    QueryDef("olap_country_percentiles",
      (s, dir) => countryPercentiles(Warehouse(s, dir)), Some(q("""
      , crev AS (
          SELECT COALESCE(c.country, 'UNKNOWN') AS country,
                 sum(f.totalamount) AS rev
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          GROUP BY 1)
      SELECT country, CAST(CAST(rev AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
             percent_rank() OVER (ORDER BY rev ASC, country ASC) AS pct_rank,
             cume_dist() OVER (ORDER BY rev ASC, country ASC) AS cume_dist
      FROM crev"""))),

    QueryDef("olap_rollup_year_month", (s, dir) => rollupYearMonth(Warehouse(s, dir)), Some(q("""
      SELECT d.year, d.month,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      GROUP BY ROLLUP (d.year, d.month)"""))),

    QueryDef("olap_top3_per_country", (s, dir) => top3ProductsPerCountry(Warehouse(s, dir)), Some(q("""
      , per_cp AS (
          SELECT coalesce(c.country, 'UNKNOWN') AS country, p.stockcode,
                 sum(f.totalamount) AS rev
          FROM fact_sales_elt f
          LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
          JOIN dim_product p ON f.product_key = p.product_key
          GROUP BY 1, 2),
        ranked AS (
          SELECT country, stockcode, rev,
                 dense_rank() OVER (PARTITION BY country ORDER BY rev DESC, stockcode) AS rnk
          FROM per_cp)
      SELECT country, stockcode, CAST(rev AS DOUBLE) AS revenue, CAST(rnk AS INT) AS rnk
      FROM ranked WHERE rnk <= 3"""))),

    QueryDef("olap_pivot_month_year", (s, dir) => pivotMonthYear(Warehouse(s, dir)), Some(q(s"""
      SELECT d.month,
             ${PivotYears.map(y =>
        s"""CAST(sum(CASE WHEN d.year = $y THEN f.totalamount END) AS DOUBLE) AS "$y"""")
        .mkString(",\n             ")}
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      GROUP BY d.month"""))),
    QueryDef("olap_grouping_sets_year_country",
      (s, dir) => groupingSetsYearCountry(Warehouse(s, dir)), Some(q("""
      SELECT d.year, coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY GROUPING SETS ((d.year, coalesce(c.country, 'UNKNOWN')),
                              (coalesce(c.country, 'UNKNOWN')))"""))),

    QueryDef("olap_grouping_sets_having",
      (s, dir) => groupingSetsHaving(Warehouse(s, dir)), Some(q("""
      SELECT d.year, coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY GROUPING SETS ((d.year, coalesce(c.country, 'UNKNOWN')),
                              (coalesce(c.country, 'UNKNOWN')))
      HAVING CAST(sum(f.totalamount) AS DOUBLE) >
             0.005 * (SELECT CAST(sum(totalamount) AS DOUBLE) FROM fact_sales_elt)"""))),

    QueryDef("olap_cube_year_country", (s, dir) => cubeYearCountry(Warehouse(s, dir)), Some(q("""
      SELECT d.year, coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY CUBE (d.year, coalesce(c.country, 'UNKNOWN'))"""))),
    QueryDef("olap_q1_monthly_country", (s, dir) => q1(Warehouse(s, dir)), Some(q("""
      SELECT d.year, d.month, coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS total_revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY 1, 2, 3"""))),

    QueryDef("olap_q2_top10_products_3m", (s, dir) => q2(Warehouse(s, dir)), Some(q("""
      , l3 AS (SELECT max(full_date) AS max_date, max(full_date) - INTERVAL '3 months' AS min_date
               FROM dim_date)
      SELECT p.stockcode, p.description,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue,
             CAST(sum(f.quantity) AS BIGINT) AS qty_sold
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      JOIN dim_product p ON f.product_key = p.product_key
      JOIN l3 m ON d.full_date BETWEEN m.min_date AND m.max_date
      GROUP BY p.stockcode, p.description
      ORDER BY revenue DESC, p.stockcode
      LIMIT 10"""))),

    QueryDef("olap_q3_cltv", (s, dir) => q3(Warehouse(s, dir)), Some(q("""
      SELECT c.customerid, c.customername,
             CAST(CAST(coalesce(sum(f.totalamount), 0) AS DECIMAL(18,2)) AS DOUBLE) AS lifetime_revenue,
             max(d.full_date) AS last_purchase_date,
             count(DISTINCT f.invoiceid) AS order_count
      FROM dim_customer_elt c
      LEFT JOIN fact_sales_elt f ON c.customer_key = f.customer_key
      LEFT JOIN dim_date d ON f.date_key = d.date_key
      GROUP BY c.customerid, c.customername"""))),

    QueryDef("olap_q4_daily_90d", (s, dir) => q4(Warehouse(s, dir)), Some(q("""
      , l90 AS (SELECT max(full_date) AS max_date, max(full_date) - INTERVAL '90 days' AS min_date
                FROM dim_date)
      SELECT d.full_date, CAST(sum(f.totalamount) AS DOUBLE) AS daily_revenue
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      JOIN l90 r ON d.full_date BETWEEN r.min_date AND r.max_date
      GROUP BY d.full_date"""))),

    QueryDef("olap_q5_price_vs_revenue", (s, dir) => q5(Warehouse(s, dir)), Some(q("""
      SELECT p.stockcode, p.description,
             round(CAST(sum(f.unitprice) AS DOUBLE) / count(f.unitprice) * 100) / 100 AS avg_unitprice,
             CAST(sum(f.totalamount) AS DOUBLE) AS total_revenue,
             CAST(sum(f.quantity) AS BIGINT) AS total_quantity
      FROM fact_sales_elt f
      JOIN dim_product p ON f.product_key = p.product_key
      GROUP BY p.stockcode, p.description"""))),

    QueryDef("olap_q6_cohort", (s, dir) => q6(Warehouse(s, dir)), Some(q("""
      , customer_signup AS (
          SELECT customer_key, CAST(date_trunc('month', signupdate) AS DATE) AS signup_month
          FROM dim_customer_elt WHERE signupdate IS NOT NULL),
        customer_revenue AS (
          SELECT f.customer_key, CAST(date_trunc('month', d.full_date) AS DATE) AS sale_month,
                 sum(f.totalamount) AS revenue
          FROM fact_sales_elt f
          JOIN dim_date d ON f.date_key = d.date_key
          GROUP BY 1, 2)
      SELECT s.signup_month,
             CAST(CAST(sum(CASE WHEN r.sale_month = s.signup_month THEN r.revenue ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS month0_revenue,
             CAST(CAST(sum(CASE WHEN r.sale_month = s.signup_month + INTERVAL '1 month' THEN r.revenue ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS month1_revenue,
             CAST(CAST(sum(CASE WHEN r.sale_month = s.signup_month + INTERVAL '2 month' THEN r.revenue ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS month2_revenue
      FROM customer_signup s
      LEFT JOIN customer_revenue r
             ON r.customer_key = s.customer_key
            AND r.sale_month >= s.signup_month
            AND r.sale_month < s.signup_month + INTERVAL '3 month'
      GROUP BY s.signup_month"""))),

    QueryDef("olap_q7_monthly_verification", (s, dir) => q7(Warehouse(s, dir)), Some(q("""
      SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month,
             coalesce(c.country, 'UNKNOWN') AS country,
             CAST(sum(f.totalamount) AS DOUBLE) AS revenue
      FROM fact_sales_elt f
      JOIN dim_date d ON f.date_key = d.date_key
      LEFT JOIN dim_customer_elt c ON f.customer_key = c.customer_key
      GROUP BY 1, 2"""))))
}
