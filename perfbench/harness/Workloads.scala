package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.etl.Warehouse
import graft.llm.{EmbeddingOps, IvfAnn, MultimodalOps, TextOps}
import graft.measures.Measures
import graft.olap.{Molap, Olap}
import graft.perf.Perf
import graft.sources.{PreparedSql, SqlSurface}

/** Run `f` over `items` on `threads` threads (set-up warm-up passes). */
object parallel {
  def apply[T](threads: Int, items: Seq[T])(f: T => Unit): Unit = {
    val ts = items.indices.groupBy(_ % threads).values.map { idx =>
      val t = new Thread(() => idx.foreach(i => f(items(i))))
      t.start(); t
    }
    ts.foreach(_.join())
  }
}

/** Figures read from a finished query's physical plan. */
object Plans {
  import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  /** Rows the query's scans produced (cached, file and local relations). */
  def scannedRows(d: DataFrame): Long = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _: ReusedExchangeExec => Nil
      case l: LeafExecNode => Seq(l)
      case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
    }
    leaves(d.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
}

/** The warehouse build the dashboard sets up with: the program's
  * `Warehouse` call, then each cached frame materialised in dependency order,
  * each step its own span and job group. */
object Etl {
  def setup(ctx: Ctx): Warehouse = {
    import ctx._
    val sc = spark.sparkContext
    def step[T](name: String)(body: => T): T = {
      if (trace.on) sc.setJobGroup("etl", name, interruptOnCancel = false)
      try trace.span(s"etl.$name")(body) finally if (trace.on) sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    val w = step("build_call")(Warehouse(spark, input))
    step("dims") { w.dimCustomer.count(); w.dimCustomerElt.count(); w.dimProduct.count() }
    step("sales_final")(w.salesFinal.count())
    step("dim_date")(w.dimDate.count())
    step("facts") { w.factSales.count(); w.factSalesElt.count() }
    rec.counters("etl_seconds") = (System.nanoTime() - t0) / 1e9
    rec.counters("etl_fact_rows") = w.factSalesElt.count()
    rec.counters("etl_cache_bytes") =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    w
  }
}

/** Two analysts on one session: KPI cards, visuals, drill-through lookups,
  * verbatim SQL and a prepared handle, in the seeded order of the plan. */
object Dashboard {

  /** One query template: its layer (span prefix), the registry row whose
    * oracle SQL checks it (with literal substitutions for the parameter),
    * and the call that builds its DataFrame from the parameter. */
  final case class Tpl(layer: String, oracle: Option[String],
      subst: String => Seq[(String, String)], build: String => DataFrame)

  def templates(spark: org.apache.spark.sql.SparkSession, w: Warehouse,
      prepared: PreparedSql.Prepared, q1Sql: String): Map[String, Tpl] = {
    def tpl(layer: String, oracle: String, subst: String => Seq[(String, String)] = _ => Nil)(
        f: String => DataFrame) = Tpl(layer, Option(oracle), subst, f)
    val yearSub = (p: String) => Seq("19970101000000" -> s"${p}0101000000",
      "19971231235959" -> s"${p}1231235959")
    Map(
      "kpi_total_revenue" -> tpl("measures", "m01_total_revenue")(_ => Measures.totalRevenue(w)),
      "kpi_revenue_country" -> tpl("measures", "m01_total_revenue_sliced",
        p => Seq("'Nation_7'" -> s"'$p'"))(p => Measures.totalRevenueSlicedByCountry(w, p)),
      "kpi_revenue_category" -> tpl("measures", "m01_total_revenue_sliced_category",
        p => Seq("'Promo'" -> s"'$p'"))(p => Measures.totalRevenueSlicedByCategory(w, p)),
      "kpi_monthly_year" -> tpl("measures", "m10_monthly_revenue_sliced_year", yearSub)(
        p => Measures.monthlyRevenueSlicedByYear(w, p.toInt)),
      "olap_q1" -> tpl("olap", "olap_q1_monthly_country")(_ => Olap.q1(w)),
      "olap_q2" -> tpl("olap", "olap_q2_top10_products_3m")(_ => Olap.q2(w)),
      "olap_q4" -> tpl("olap", "olap_q4_daily_90d")(_ => Olap.q4(w)),
      "olap_q6" -> tpl("olap", "olap_q6_cohort")(_ => Olap.q6(w)),
      "olap_pivot_month_year" -> tpl("olap", "olap_pivot_month_year")(_ => Olap.pivotMonthYear(w)),
      "molap_month_country" -> tpl("olap", "molap_month_country")(_ => Molap.monthCountry(w)),
      "perf_dss_monthly_country" ->
        tpl("perf", "perf_dss_monthly_country")(_ => Perf.dssMonthlyCountry(w)),
      // drill-through: benchmark-built lookups over the warehouse frames,
      // checked against their set-up digests
      "lookup_invoice" -> tpl("drill", null)(inv => w.factSalesElt
        .filter(col("invoiceid") === lit(inv))
        .select(col("invoiceid"), col("stockcode"), col("linenumber"), col("quantity"),
          col("totalamount").cast("double").as("totalamount"),
          graft.dateOfDateKey(col("date_key")).as("full_date"))),
      "lookup_customer" -> tpl("drill", null)(prefix => w.dimCustomer
        .filter(col("customername").startsWith(prefix))
        .select("customerid", "customername", "country", "signupdate")),
      "sql_olap_q1" -> tpl("sources", "sql_olap_q1")(_ => spark.sql(q1Sql)),
      "prepared_olap_q1" -> tpl("prepared", "sql_olap_q1_prepared")(_ => prepared.run()))
  }

  /** Execute a template: build the DataFrame in one span and collect it in
    * another (a prepared handle serves in one span); returns rows and schema. */
  def exec(ctx: Ctx, id: Long, t: Tpl, p: String): (Array[Row], StructType) = {
    import ctx.trace
    if (t.layer == "prepared") trace.span("prepared.serve") {
      val d = t.build(p); (d.collect(), d.schema)
    }
    else {
      val d = trace.span(s"${t.layer}.construct")(t.build(p))
      val rows = trace.span("spark.execute")(d.collect())
      ctx.qeOf.put(id, d.queryExecution.id)
      if (trace.on) ctx.scanRows.put(id, Plans.scannedRows(d))
      (rows, d.schema)
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val w = Etl.setup(ctx)
    val q1Sql = SqlSurface.olapSqlTextOf("sql_olap_q1")
    val prepared = trace.span("sources.setup") {
      SqlSurface.register(spark, input)
      PreparedSql.prepare(spark, q1Sql)
    }
    val tpls = templates(spark, w, prepared, q1Sql)
    val seqs = plan.get("dashboard_ops").asInstanceOf[java.util.List[java.util.List[String]]]
      .asScala.toIndexedSeq.map(_.asScala.toIndexedSeq.map { s =>
        val i = s.indexOf('|'); (s.take(i), s.drop(i + 1))
      })
    def key(t: String, p: String) = if (p.isEmpty) t else s"$t($p)"
    // set-up: every distinct (template, parameter) runs once, four at a
    // time — warms each plan shape and records the reference digest and the
    // oracle's result
    val distinct = seqs.flatten.distinct.sortBy { case (t, p) => key(t, p) }
    val results = new java.util.concurrent.ConcurrentHashMap[String, (Array[Row], StructType)]()
    parallel(4, distinct) { case (t, p) =>
      op(-1, "query", t, key(t, p)) { id =>
        val res = exec(ctx, id, tpls(t), p); results.put(key(t, p), res); res._1
      }
    }
    markTimedStart()
    closedLoop(seqs.size, plan.get("dashboard_block").toString.toInt) { (c, i) =>
      val (t, p) = seqs(c)(i % seqs(c).size)
      op(c, "query", t, key(t, p)) { id => exec(ctx, id, tpls(t), p)._1 }
    }
    markTimedEnd()
    for ((t, p) <- distinct; k = key(t, p);
         (rows, schema) <- Option(results.get(k)); o <- tpls(t).oracle;
         sql <- SparkEntry.oracleSql.get(o)) {
      val s = tpls(t).subst(p).foldLeft(sql) { case (acc, (a, b)) =>
        require(acc.contains(a), s"oracle $o lacks the literal $a"); acc.replace(a, b) }
      oracleCheck(k, s, rows, schema)
    }
  }
}

/** Sequential passes over the corpus: text curation, media decodes, ANN search. */
object Corpus {
  def run(ctx: Ctx): Unit = {
    import ctx._
    val docs = TextOps.docs(spark, input)
    val emb = EmbeddingOps.emb(spark, input)
    // set-up: encode the three media fixtures and train the IVF centroids,
    // all four at once
    val fx = new java.util.concurrent.ConcurrentHashMap[String, Dataset[MultimodalOps.MediaRow]]()
    @volatile var cents: Array[Array[Double]] = null
    trace.span("llm.setup") {
      parallel(4, Seq[() => Unit](
        () => fx.put("jpeg", MultimodalOps.jpegColorFixture(spark, input).localCheckpoint()),
        () => fx.put("png", MultimodalOps.pngFixture(spark, input).localCheckpoint()),
        () => fx.put("avi", MultimodalOps.aviMjpegFixture(spark, input).localCheckpoint()),
        () => cents = IvfAnn.train(emb)))(_())
    }
    val calls: Seq[(String, Option[String], () => DataFrame)] = Seq(
      ("curation_pipeline", None, () => TextOps.curationPipeline(docs)),
      ("dedup_clusters", None, () => TextOps.dedupClusters(docs)),
      ("quality_gopher", Some("doc_quality_gopher"), () => TextOps.qualityGopher(docs)),
      ("decontaminate", Some("doc_decontaminate"), () => TextOps.decontaminate(docs, 0.5)),
      ("shared_spans", Some("doc_shared_spans"), () => TextOps.sharedSpans(docs)),
      ("decode_jpeg_color", Some("multimodal_jpeg_color_features"),
        () => MultimodalOps.decodeJpegColor(fx.get("jpeg")).toDF()),
      ("decode_png", Some("multimodal_png_features"),
        () => MultimodalOps.decodePng(fx.get("png")).toDF()),
      ("decode_avi_mjpeg", Some("multimodal_mjpeg_video_features"),
        () => MultimodalOps.decodeAviMjpeg(fx.get("avi")).toDF()),
      ("ivf_search", Some("emb_ivf_search"), () => IvfAnn.search(emb, cents)))
    val results = new java.util.concurrent.ConcurrentHashMap[String, (Array[Row], StructType)]()
    def call(client: Int, n: Int, name: String, f: () => DataFrame): Unit =
      op(client, "call", name, name, extra = Map("pass" -> n)) { id =>
        val d = trace.span("llm.construct")(f())
        val rows = trace.span(s"llm.$name")(d.collect())
        qeOf.put(id, d.queryExecution.id)
        if (n == -1) results.put(name, (rows, d.schema))
        rows
      }
    def pass(client: Int, n: Int): Unit = calls.foreach { case (name, _, f) => call(client, n, name, f) }
    // set-up: warm every call once three at a time, recording its reference
    // digest, then run one untimed pass as the timed loop does — the first
    // timed pass is then as warm as the ones after it, so a window holding
    // one pass and one holding two measure the same thing
    parallel(3, calls) { case (name, _, f) => call(-1, -1, name, f) }
    pass(-1, -2)
    rec.counters("docs") = docs.count()
    markTimedStart()
    var n = 0
    closedLoop(1, 1) { (c, _) => pass(c, n); n += 1 }
    markTimedEnd()
    rec.counters("passes") = n
    for ((name, Some(o), _) <- calls; (rows, schema) <- Option(results.get(name));
         sql <- SparkEntry.oracleSql.get(o))
      oracleCheck(name, sql, rows, schema)
  }
}
