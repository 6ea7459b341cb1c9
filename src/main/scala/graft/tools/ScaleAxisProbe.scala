package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.olap.{Molap, Olap}
import graft.perf.Perf

/** r18 full-suite scale-axis recording (VERDICT r17 #1): every "plans you'd
  * want at 100×" claim in COVERAGE.md rests on per-operator 10× probes; this
  * probe converts that induction into ONE measured end-to-end data point by
  * running the headline bench rows at sf0.1 (~600k fact rows) and at a 10×
  * fixture (~6M fact rows) in the same JVM, recording per-row wall time AND
  * the AQE-final join inventory of each plan.
  *
  * The 10× fixture replicates the sf0.1 `lineitem`/`orders` feeds with
  * order keys shifted per replica (distinct invoices; dirty-row modulos keep
  * their proportions), while `customer`/`part` — the DIMENSIONS — stay
  * fixed: dims grow sublinearly in a real warehouse, and holding them fixed
  * is exactly what makes "does the broadcast survive a 10× fact?" a fair
  * question. What the artifact proves per row:
  *   - wall growth (scan/agg rows should grow near-linearly minus the
  *     fixed per-query floor; Spark's planning overhead does not scale);
  *   - NO silent broadcast→SMJ flips: the join-node multiset at sf1.0 must
  *     equal the sf0.1 one (a flip is either a regression to adjudicate or
  *     AQE doing its job — both belong in the record, loudly).
  *
  * Run: `runMain graft.tools.ScaleAxisProbe` (writes
  * tools/SCALE_AXIS_r18.json; override via first arg). The fixture lands in
  * /tmp/graft_sf1 (override with GRAFT_SF1_DIR) and is reused if present. */
object ScaleAxisProbe {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Replicate the transactional feeds REP× with shifted order keys; copy
    * the dimension feeds as-is. */
  private def generate(spark: SparkSession, from: String, to: String,
      rep: Int): Unit = {
    val li = spark.read.parquet(s"$from/lineitem.parquet")
    val o = spark.read.parquet(s"$from/orders.parquet")
    val maxKey = o.agg(max("o_orderkey")).head().getLong(0)
    // a round shift keeps keys readable; any shift preserves the staging
    // layer's dirty-row PROPORTIONS (the modulos hit different keys)
    val shift = (maxKey / 1000000L + 1L) * 1000000L
    def repl(df: DataFrame, keyCol: String): DataFrame =
      (0 until rep).map(r =>
        df.withColumn(keyCol, col(keyCol) + lit(r * shift)))
        .reduce(_ unionAll _)
    repl(li, "l_orderkey").write.mode("overwrite")
      .parquet(s"$to/lineitem.parquet")
    repl(o, "o_orderkey").write.mode("overwrite")
      .parquet(s"$to/orders.parquet")
    Seq("customer", "part", "nation", "region", "supplier").foreach(t =>
      spark.read.parquet(s"$from/$t.parquet")
        .write.mode("overwrite").parquet(s"$to/$t.parquet"))
    generateExtended(spark, from, to, rep)
  }

  /** Extended-suite feeds (r19, VERDICT r18 #2). `documents` replicates
    * with shifted doc_ids and UNCHANGED text: every original doc gains
    * rep−1 exact twins, so the dedup/LSH rows' candidate mass grows with
    * corpus overlap BY DESIGN — the super-linear axis the r18 verdict
    * asked to have measured rather than inducted (a real 10× crawl grows
    * its duplicate mass too; the artifact records the resulting fan-out
    * for adjudication instead of hiding it). `events` shifts BOTH ids so
    * replicas are distinct users — per-key stream length is preserved,
    * the honest axis for sessionization/as-of/funnels. `embeddings`
    * shifts vec_ids with unchanged vectors: ANN buckets get rep× denser,
    * stressing the candidate-bounded paths. */
  private def generateExtended(spark: SparkSession, from: String, to: String,
      rep: Int): Unit = {
    def shiftOf(df: DataFrame, c: String): Long =
      (df.agg(max(c)).head().getLong(0) / 1000000L + 1L) * 1000000L
    def repl(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until rep).map(r => shifts.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + lit(r * s)) }).reduce(_ unionAll _)
    val docs = spark.read.parquet(s"$from/documents.parquet")
    repl(docs, Map("doc_id" -> shiftOf(docs, "doc_id")))
      .write.mode("overwrite").parquet(s"$to/documents.parquet")
    val emb = spark.read.parquet(s"$from/embeddings.parquet")
    repl(emb, Map("vec_id" -> shiftOf(emb, "vec_id")))
      .write.mode("overwrite").parquet(s"$to/embeddings.parquet")
    val ev = spark.read.parquet(s"$from/events.parquet")
    repl(ev, Map("event_id" -> shiftOf(ev, "event_id"),
      "user_id" -> shiftOf(ev, "user_id")))
      .write.mode("overwrite").parquet(s"$to/events.parquet")
  }

  /** Every physical node, descending through the AQE wrapper and query-stage
    * leaves but NOT into InMemoryRelation (a cached build plan is not part
    * of the query under test). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case s: QueryStageExec => allNodes(s.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** The plan-shape fingerprint: join/exchange/window node counts of the
    * AQE-FINAL plan (the thunk is executed once to finalize it). */
  private def shape(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan
    plan.execute().count() // finalizes AdaptiveSparkPlanExec
    allNodes(plan).map(_.nodeName)
      .filter(n => n.contains("Join") || n.contains("Cartesian")
        || n.contains("Exchange") || n.contains("Window"))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  final case class RowRec(name: String, sec: Double, shape: Map[String, Int])

  private def runSuite(spark: SparkSession, dir: String,
      reps: Int): Seq[RowRec] = {
    val recs = scala.collection.mutable.ArrayBuffer.empty[RowRec]

    // timed fresh build, best-of-2 (same steady-state methodology as Bench)
    def timedBuild(): (Warehouse, Double) = {
      val t0 = System.nanoTime()
      val wh = Warehouse.build(spark, dir)
      noop(wh.factSalesElt)
      noop(wh.dimDate)
      (wh, (System.nanoTime() - t0) / 1e9)
    }
    val (w1, b1) = timedBuild()
    w1.release()
    spark.sharedState.cacheManager.clearCache()
    val (w, b2) = timedBuild()
    recs += RowRec("warehouse_build", math.min(b1, b2), Map.empty)

    noop(Perf.starJoinTop50(w)) // warm-up (codegen/JIT + max-date scalar)
    noop(Perf.dssMonthlyCountry(w))

    def time(name: String)(f: => DataFrame): Unit = timeR(name)((f, () => ()))
    // release-handle twin of Bench.timeR (r19): rows built over a
    // localCheckpoint drop each rep's executor-local blocks inside the
    // timed window, so the probe measures the SAME serving protocol the
    // bench rows record (and its rep loop stops accumulating pinned frames)
    def timeR(name: String)(f: => (DataFrame, () => Unit)): Unit =
      try {
        def run(): Double = {
          val t0 = System.nanoTime()
          val (df, release) = f
          // release in a finally (ADVICE r19): a throwing rep must still
          // drop its localCheckpoint blocks — same fix as Bench.timeR
          try noop(df) finally release()
          (System.nanoTime() - t0) / 1e9
        }
        run() // untimed warm-up
        val sec = (1 to reps).map(_ => run()).min
        val (df, release) = f
        val s = try shape(df) finally release()
        recs += RowRec(name, sec, s)
      } catch {
        case e: Throwable =>
          System.err.println(s"[scale-axis] $name failed: ${e.getMessage}")
          recs += RowRec(name, -1.0, Map.empty)
      }

    time("star_join_default")(Perf.starJoinTop50(w))
    time("star_join_bhj")(Perf.starJoinTop50(w, Some("BROADCAST")))
    time("star_join_shj")(Perf.starJoinTop50(w, Some("SHUFFLE_HASH")))
    time("star_join_smj")(Perf.starJoinTop50(w, Some("MERGE")))
    time("dss_monthly_country")(Perf.dssMonthlyCountry(w))
    time("oltp_invoice_lookup")(Perf.oltpInvoiceLookup(w))
    time("datekey_range_sum")(
      w.factSalesElt.filter(col("date_key").between(19960101000000L, 19961231235959L))
        .agg(sum("totalamount").as("rev")))
    time("category_group_agg")(
      w.factSalesElt.select("product_key", "totalamount")
        .join(w.dimProduct.select("product_key", "category"), Seq("product_key"))
        .groupBy("category").agg(sum("totalamount").as("rev")))
    time("composite_filter_sum")(
      w.factSalesElt.filter(col("stockcode") === "1" &&
        col("date_key").between(19960101000000L, 19961231235959L))
        .agg(sum("totalamount").as("rev")))
    time("pk_point_lookup")(w.dimProduct.filter(col("stockcode") === "100"))
    time("secondary_filter")(
      w.dimCustomer.filter(col("customername").startsWith("Customer#000000001")))
    time("seq_scan_sum")(w.factSalesElt.agg(sum("totalamount").as("rev")))

    val base = java.nio.file.Files.createTempDirectory("graft_scaleaxis").toString
    try {
      val withYear = w.factSalesElt
        .withColumn("year", graft.yearOfDateKey(col("date_key")))
      withYear.write.mode("overwrite").partitionBy("year").parquet(s"$base/fact_by_year")
      withYear.write.mode("overwrite").parquet(s"$base/fact_flat")
      time("partition_pruned_year_sum")(
        spark.read.parquet(s"$base/fact_by_year").filter(col("year") === 1996)
          .agg(sum("totalamount").as("rev")))
      time("unpartitioned_year_sum")(
        spark.read.parquet(s"$base/fact_flat").filter(col("year") === 1996)
          .agg(sum("totalamount").as("rev")))

      val mv = w.factSalesElt.select("date_key", "product_key", "totalamount")
        .filter(col("date_key") =!= graft.FallbackDateKey)
        .join(broadcast(w.dimProduct.select("product_key", "category")), Seq("product_key"))
        .groupBy(graft.monthOfDateKey(col("date_key")).as("month"), col("category"))
        .agg((sum((col("totalamount") * 100).cast("long")) / 100)
          .cast("decimal(18,2)").as("rev"))
      mv.write.mode("overwrite").parquet(s"$base/mv_month_category")
      time("mv_direct_agg")(mv)
      time("mv_precomputed_read")(
        spark.read.parquet(s"$base/mv_month_category").filter(col("category").isNotNull))

      time("olap_q1")(Olap.q1(w)); time("olap_q2")(Olap.q2(w))
      time("olap_q3")(Olap.q3(w)); time("olap_q4")(Olap.q4(w))
      time("olap_q5")(Olap.q5(w)); time("olap_q6")(Olap.q6(w))
      time("olap_q7")(Olap.q7(w))
      time("molap_month_country")(Molap.monthCountry(w))
      time("molap_month_product")(Molap.monthProduct(w))
      time("molap_customer_month")(Molap.customerMonth(w))
      time("olap_basket_lift")(Olap.basketLift(w))
      time("olap_rfm_segments")(Olap.rfmSegments(w))
      // the r18 scale-path segmentations: no global-sort window in either
      timeR("olap_rfm_segments_approx")(Olap.rfmSegmentsApproxReleasable(w))
      timeR("olap_ltv_quartiles_approx")(Olap.ltvQuartilesApproxReleasable(w))

      // ---- extended suite (r19, VERDICT r18 #2): the doc/emb/event/media
      // rows, whose scale claims previously rested on r13-era per-op
      // probes. The LSH/winnowing rows run over a fixture whose duplicate
      // mass GROWS with the replication (see generateExtended) — their
      // fan-out is recorded for adjudication, not assumed linear. ----
      val docs = graft.llm.TextOps.docs(spark, dir)
      time("doc_exact_dedup")(graft.llm.TextOps.exactDedup(docs))
      time("doc_minhash_near_dup")(graft.llm.TextOps.minhashPairs(docs))
      time("doc_dedup_clusters")(graft.llm.TextOps.dedupClusters(docs))
      time("doc_simhash")(graft.llm.TextOps.simhash(docs))
      time("doc_simhash_pairs")(graft.llm.TextOps.simhashPairs(docs))
      time("doc_vocab_top100")(graft.llm.TextOps.vocabTopK(docs))
      time("doc_repetition")(graft.llm.TextOps.repetition(docs))
      time("doc_filter_cascade")(graft.llm.TextOps.filterCascade(docs))
      time("doc_curation_pipeline")(graft.llm.TextOps.curationPipeline(docs))
      time("doc_chunks")(graft.llm.TextOps.chunkDocs(docs))
      time("doc_salient_terms")(graft.llm.TextOps.salientTerms(docs))
      time("doc_lm_familiarity")(graft.llm.TextOps.lmFamiliarity(docs))
      time("doc_decontaminate")(graft.llm.TextOps.decontaminate(docs))
      time("doc_decontaminate_bloom")(graft.llm.TextOps.decontaminateBloom(docs))
      time("doc_shared_spans")(graft.llm.TextOps.sharedSpans(docs))
      time("doc_winnow_overlap")(graft.llm.TextOps.winnowOverlap(docs))
      time("doc_bpe_merges")(graft.llm.TextOps.bpeMerges(docs))
      time("doc_quality_gopher")(graft.llm.TextOps.qualityGopher(docs))
      time("doc_classifier_scores")(graft.llm.TextOps.classifierScores(docs))
      time("doc_split_leakage_safe")(graft.llm.TextOps.leakageSafeSplit(docs))
      val emb = graft.llm.EmbeddingOps.emb(spark, dir)
      time("emb_ann_bucketed")(graft.llm.EmbeddingOps.annBucketed(emb))
      time("emb_label_cohesion")(graft.llm.EmbeddingOps.labelCohesion(emb))
      time("emb_ivf_search")(
        graft.llm.IvfAnn.search(emb, graft.llm.IvfAnn.train(emb)))
      time("emb_pq_adc_rerank")(
        graft.llm.PqAnn.searchAdcRerank(emb, graft.llm.PqAnn.train(emb)))
      time("emb_mmr_rerank")(graft.llm.EmbeddingOps.mmrRerank(emb))
      time("emb_hard_negatives")(graft.llm.EmbeddingOps.hardNegatives(emb))
      time("emb_quantize_int8")(graft.llm.EmbeddingOps.quantizeInt8Stats(emb))
      val events = graft.streaming.EventOps.events(spark, dir)
      time("events_sessions")(graft.streaming.EventOps.sessions(events))
      time("events_asof_join")(graft.streaming.EventOps.asofLastClick(events))
      time("events_funnel")(graft.streaming.EventOps.funnel(events))
      time("events_attribution")(graft.streaming.EventOps.attribution(events))
      time("events_range_join")(
        graft.streaming.EventOps.purchasesInErrorWindows(events))
      time("events_retention_d7")(graft.streaming.EventOps.retentionD7(events))
      time("events_interval_overlap")(
        graft.streaming.EventOps.incidentActivityOverlap(events))
      time("events_heavy_users")(graft.perf.Skew.heavyKeys(events, "user_id"))
      val mm = graft.llm.MultimodalOps
      time("multimodal_ppm_decode")(mm.decodePpm(mm.ppmFixture(spark, dir)).toDF())
      time("multimodal_wav_decode")(mm.decodeWav(mm.wavFixture(spark, dir)).toDF())
      time("multimodal_png_decode")(mm.decodePng(mm.pngFixture(spark, dir)).toDF())
      time("multimodal_jpeg_decode")(mm.decodeJpeg(mm.jpegFixture(spark, dir)).toDF())
      time("multimodal_y4m_decode")(mm.decodeY4m(mm.y4mFixture(spark, dir)).toDF())
      time("multimodal_jpeg_color_decode")(
        mm.decodeJpegColor(mm.jpegColorFixture(spark, dir)).toDF())
      time("multimodal_mjpeg_decode")(
        mm.decodeAviMjpeg(mm.aviMjpegFixture(spark, dir)).toDF())
      time("multimodal_jpeg_progressive_decode")(
        mm.decodeJpegProgressive(mm.jpegProgressiveFixture(spark, dir)).toDF())
      time("multimodal_jpeg_cmyk_decode")(
        mm.decodeJpegCmyk(mm.jpegCmykFixture(spark, dir)).toDF())
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
    recs.toSeq
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("tools/SCALE_AXIS_r19.json")
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val rep = 10

    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // /tmp does not survive a reboot (VERDICT r18 #7): the probe regens the
    // whole fixture when absent, and regens just the extended feeds when an
    // r18-era fixture predates them — the artifact's reproducibility story
    // is "delete GRAFT_SF1_DIR and re-run", nothing else
    if (!new java.io.File(s"$sf1/lineitem.parquet").exists()) {
      println(s"[scale-axis] generating ${rep}x fixture at $sf1")
      generate(spark, sf01, sf1, rep)
    } else if (!new java.io.File(s"$sf1/documents.parquet").exists()) {
      println(s"[scale-axis] extending the ${rep}x fixture at $sf1 with doc/emb/event feeds")
      generateExtended(spark, sf01, sf1, rep)
    }

    // one untimed micro-scale build pays codegen/JIT before any timed row
    val ww = Warehouse.build(spark, "/root/testdata/sf0.001")
    noop(ww.factSalesElt); noop(ww.dimDate)
    ww.release()
    spark.sharedState.cacheManager.clearCache()

    // the scale claim itself, recorded: the fixture must carry rep× the rows
    val n01 = spark.read.parquet(s"$sf01/lineitem.parquet").count()
    val n1 = spark.read.parquet(s"$sf1/lineitem.parquet").count()
    require(n1 == rep * n01, s"fixture carries $n1 lineitem rows, want ${rep * n01}")
    val d01 = spark.read.parquet(s"$sf01/documents.parquet").count()
    val d1 = spark.read.parquet(s"$sf1/documents.parquet").count()
    require(d1 == rep * d01, s"fixture carries $d1 document rows, want ${rep * d01}")

    val r01 = runSuite(spark, sf01, reps = 3)
    spark.sharedState.cacheManager.clearCache()
    val r1 = runSuite(spark, sf1, reps = 3)

    def joinsOf(m: Map[String, Int]): String = m.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val byName01 = r01.map(r => r.name -> r).toMap
    val rows = r1.map { r =>
      val o = byName01(r.name)
      val ratio = if (o.sec > 0 && r.sec > 0) r.sec / o.sec else -1.0
      val joinFlip = {
        val j0 = o.shape.filter(_._1.contains("Join"))
        val j1 = r.shape.filter(_._1.contains("Join"))
        j0 != j1
      }
      val line = f""""${r.name}":{"sf01_sec":${o.sec}%.3f,"sf1_sec":${r.sec}%.3f,""" +
        f""""growth":$ratio%.2f,"join_flip":$joinFlip,""" +
        s""""shape_sf01":${joinsOf(o.shape)},"shape_sf1":${joinsOf(r.shape)}}"""
      println(f"[scale-axis] ${r.name}%-28s sf0.1 ${o.sec}%7.3f  sf1.0 ${r.sec}%7.3f" +
        f"  growth ${ratio}%5.2fx  flip=$joinFlip")
      line
    }
    val flips = r1.count { r =>
      val o = byName01(r.name)
      o.shape.filter(_._1.contains("Join")) != r.shape.filter(_._1.contains("Join"))
    }
    val json = s"""{"probe":"scale_axis","rep":$rep,"sf01":"$sf01","sf1":"$sf1",""" +
      s""""n_lineitem_sf01":$n01,"n_lineitem_sf1":$n1,""" +
      s""""n_documents_sf01":$d01,"n_documents_sf1":$d1,""" +
      s""""fixture_note":"regen: delete GRAFT_SF1_DIR (default /tmp/graft_sf1) and re-run; documents replicate with exact-twin texts so dedup/LSH fan-out grows with corpus overlap by design",""" +
      s""""join_flips":$flips,"rows":{${rows.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[scale-axis] wrote $outPath (join_flips=$flips)")
    spark.stop()
  }
}
