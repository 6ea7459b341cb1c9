package graft.olap

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.Warehouse

/** Direct semantics checks for the r11 OLAP additions: basket-affinity
  * pair generation (map-side from the basket array — the part a slice/index
  * bug would corrupt silently) and RFM quintile determinism. */
class OlapOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = Warehouse(spark, sfDir)

  test("basketLift counts every unordered pair once and respects the basket cap") {
    // hand-checkable micro-warehouse: 3 baskets over items A,B,C
    //   i1 = {A,B,C}, i2 = {A,B}, i3 = {A,C}, plus a degenerate 60-item basket
    val big = (1 to 60).map(k => ("i9", f"Z$k%02d"))
    val sales = (Seq(
      ("i1", "A"), ("i1", "B"), ("i1", "C"), ("i1", "A"), // dup line collapses
      ("i2", "A"), ("i2", "B"),
      ("i3", "A"), ("i3", "C"),
      ("i4", "D")) ++ big) // i4 is a singleton basket: no pairs
      .toDF("invoiceid", "stockcode")
    val w = wh.copy(salesFinal = sales)
    val out = Olap.basketLift(w, minPairN = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(8))).toMap
    // 3 capped baskets with >=2 items (the 60-item basket is dropped);
    // pair (A,B): 2 of 3 baskets, n_A=3, n_B=2 → lift = 2*3/(3*2) = 1.0
    assert(out(("A", "B")) === ((2L, 3L, 2L, 1.0)))
    assert(out(("A", "C")) === ((2L, 3L, 2L, 1.0)))
    // (B,C) co-occur once; lift = 1*3/(2*2)
    assert(out(("B", "C")) === ((1L, 2L, 2L, 0.75)))
    assert(out.size === 3) // no Z-pairs, no singleton pairs, no self pairs
  }

  test("rfm quintiles are deterministic and cover every customer once") {
    val seg = Olap.rfmSegments(wh)
      .agg(sum("n_customers"), min("r_quintile"), max("m_quintile")).head()
    val nCust = wh.salesFinal.filter(graft.nonBlank("customerid"))
      .select("customerid").distinct().count()
    assert(seg.getLong(0) === nCust)
    assert(seg.getInt(1) >= 1 && seg.getInt(2) <= 5)
    // determinism: two independent evaluations agree cell-for-cell
    val a = Olap.rfmSegments(wh).collect().map(_.toSeq).toSet
    val b = Olap.rfmSegments(wh).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("approx LTV quartiles: map-side bucketing covers every customer, gate passes (r18)") {
    val approx = Olap.ltvQuartilesApprox(wh)
    val cov = approx.agg(sum("n_customers"), min("quartile"), max("quartile")).head()
    val nCust = wh.factSalesElt.select("customer_key").distinct()
      .join(wh.dimCustomerElt.select("customer_key"), Seq("customer_key")).count()
    assert(cov.getLong(0) === nCust)
    assert(cov.getInt(1) >= 1 && cov.getInt(2) <= 4)
    // the gate face proves the approx rollup within its analytical bound,
    // then emits the exact frame — so it must equal ltvQuartiles exactly
    val checked = Olap.ltvQuartilesApproxChecked(wh).collect().map(_.toSeq).toSet
    val exact = Olap.ltvQuartiles(wh).collect().map(_.toSeq).toSet
    assert(checked === exact)
  }

  test("approx RFM segments: per-axis bucketing covers every customer, gate passes (r18)") {
    val approx = Olap.rfmSegmentsApprox(wh)
    val cov = approx.agg(sum("n_customers"),
      min("r_quintile"), max("r_quintile"),
      min("f_quintile"), max("f_quintile"),
      min("m_quintile"), max("m_quintile")).head()
    val nCust = wh.salesFinal.filter(graft.nonBlank("customerid"))
      .select("customerid").distinct().count()
    assert(cov.getLong(0) === nCust)
    (1 to 6 by 2).foreach(i => assert(cov.getInt(i) >= 1))
    (2 to 6 by 2).foreach(i => assert(cov.getInt(i) <= 5))
    // total cents conserved: bucketing moves customers between segments,
    // never money in or out
    val centsA = approx.agg(sum("monetary_cents")).head().getLong(0)
    val centsE = Olap.rfmSegments(wh).agg(sum("monetary_cents")).head().getLong(0)
    assert(centsA === centsE)
    val checked = Olap.rfmSegmentsApproxChecked(wh).collect().map(_.toSeq).toSet
    val exact = Olap.rfmSegments(wh).collect().map(_.toSeq).toSet
    assert(checked === exact)
  }

  test("approx NTILE plans contain no single-partition global-sort window (r18)") {
    // the whole point of the approx variants: WindowExec (the global-order
    // NTILE) must be absent from their physical plans. Node-type collect
    // (not a string match — the cached warehouse relation's nested plan
    // text legitimately mentions windows), RECURSING through the AQE
    // wrapper and query-stage leaves — a bare collect over an
    // AdaptiveSparkPlanExec inspects only the leaf wrapper and can never
    // fail (r18 review).
    def windowsIn(p: org.apache.spark.sql.execution.SparkPlan) =
      graft.plans.PlanRuleSupport.physicalNodes(p).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    // negative control first: the EXACT form must show its NTILE window,
    // proving the traversal actually sees windows
    val exact = Olap.rfmSegments(wh)
    exact.queryExecution.executedPlan.execute().count()
    assert(windowsIn(exact.queryExecution.executedPlan).nonEmpty,
      "traversal failed to see the exact form's window — the assert below is vacuous")
    Seq(Olap.ltvQuartilesApprox(wh), Olap.rfmSegmentsApprox(wh)).foreach { df =>
      df.queryExecution.executedPlan.execute().count() // finalize AQE
      val windows = windowsIn(df.queryExecution.executedPlan)
      assert(windows.isEmpty, s"approx plan still windows: $windows")
    }
  }

  test("cumFill carries the running total through absent buckets (r18 review)") {
    // approx_percentile can collapse adjacent boundaries on heavy ties,
    // leaving a rollup with no rows for a middle bucket — the cumulative
    // through that bucket is the previous total, never 0
    assert(Olap.cumFill(Map(1 -> 6L, 4 -> 2L), 4) ===
      Map(1 -> 6L, 2 -> 6L, 3 -> 6L, 4 -> 8L))
    assert(Olap.cumFill(Map.empty[Int, Long], 3) === Map(1 -> 0L, 2 -> 0L, 3 -> 0L))
    assert(Olap.cumFill(Map(2 -> 5L), 5) ===
      Map(1 -> 0L, 2 -> 5L, 3 -> 5L, 4 -> 5L, 5 -> 5L))
  }

  test("approx RFM sends NULL-valued axes to the worst quintile, like NTILE nulls-last (r18 review)") {
    // synthetic per-customer frame: one all-null-totalamount customer (cents
    // NULL) and one never-purchased-date customer (recency NULL) among
    // spread-out peers; the bare HOF filter would have crowned NULLs
    // quintile 1 — the best bucket — silently
    val d0 = java.sql.Date.valueOf("2020-01-10")
    val rows = (1 to 9).map(i => (s"c$i",
      java.sql.Date.valueOf(f"2020-01-0${i}%d"), i.toLong, java.lang.Long.valueOf(i * 100L))) :+
      (("c_null", d0, 10L, null.asInstanceOf[java.lang.Long]))
    val perCust = rows.toDF("customerid", "last_date", "n_orders", "cents")
      .withColumn("anchor_date", lit(d0))
      .withColumn("recency_days", datediff(col("anchor_date"), col("last_date")))
    val seg = Olap.rfmSegmentsApproxOver(perCust, accuracy = 10000)
    val mOfNull = Olap.rfmSegmentsApproxOver(perCust, 10000)
      .filter(col("monetary_cents").isNull).select("m_quintile").head().getInt(0)
    assert(mOfNull === 5, s"NULL-cents customer landed in m_quintile $mOfNull, want 5")
    // and the exact form agrees (Spark desc = nulls last -> quintile 5)
    val exact = Olap.rfmSegmentsOver(perCust)
    val mExact = exact.filter(col("monetary_cents").isNull)
      .select("m_quintile").head().getInt(0)
    assert(mExact === 5)
    assert(seg.agg(sum("n_customers")).head().getLong(0) === 10L)
  }
}
