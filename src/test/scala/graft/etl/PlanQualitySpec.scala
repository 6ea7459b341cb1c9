package graft.etl

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Plan-quality assertions: the physical plans the engine relies on at 100 TB
  * must actually materialize — pushed parquet filters, partition pruning,
  * whole-stage codegen, and top-k without a full sort (SURVEY.md §4). */
class PlanQualitySpec extends SparkSpec {

  private lazy val w = Warehouse(spark, sfDir)

  private def materializedFact: String = {
    val out = Scratch.dir("graft_plan")
    Warehouse.materialize(spark, sfDir, out)
    out
  }

  test("filters and projections push into the parquet scan of the materialized fact") {
    val out = materializedFact
    val q = spark.read.parquet(s"$out/fact_sales")
      .filter(col("date_key") >= 19960101000000L)
      .select("date_key", "totalamount")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(date_key), GreaterThanOrEqual(date_key"), plan)
    assert(plan.contains("ReadSchema: struct<date_key:bigint,totalamount:decimal(18,2)>"), plan)
  }

  test("year-partitioned fact write prunes partitions on a year filter") {
    val out = materializedFact
    val q = spark.read.parquet(s"$out/fact_sales").filter(col("year") === 1996)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"), plan)
  }

  test("a calendar window runs as a pushed date_key range on the materialized fact") {
    val out = materializedFact
    val q = spark.read.parquet(s"$out/fact_sales_elt")
      .filter(graft.dateKeyRange(java.time.LocalDate.of(1996, 1, 1),
        java.time.LocalDate.of(1996, 3, 31)))
      .groupBy(graft.dateOfDateKey(col("date_key")).as("full_date"))
      .agg(sum("totalamount").as("rev"))
    val plan = q.queryExecution.executedPlan.toString
    // the whole window reaches the scan as a key range — no dim_date join,
    // no post-scan date arithmetic in the filter path
    assert(plan.contains("PushedFilters: [IsNotNull(date_key), GreaterThanOrEqual(date_key,19960101000000)"), plan)
    // the pushed-filter list is truncated in toString; the data-filter line
    // carries the upper bound un-truncated
    assert(plan.contains("<= 19960331235959)"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("top-k uses TakeOrderedAndProject, not a global sort") {
    val plan = graft.olap.Olap.q2(w).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("the native dot-product kernel runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val emb = graft.llm.EmbeddingOps.emb(spark, sfDir)
    val q = emb.select(
      graft.llm.EmbeddingOps.dotd(col("embedding"), col("embedding")).as("d"))
    // the composable HOF fold is CodegenFallback; the whole point of
    // FloatVecDot is that the similarity kernel stays in a codegen stage
    val hasCodegenStage = q.queryExecution.executedPlan.exists {
      case w: WholeStageCodegenExec => w.toString.contains("float_vec_dot")
      case _ => false
    }
    assert(hasCodegenStage, q.queryExecution.executedPlan.toString)
    // and it actually evaluates: self-dot of a unit-ish vector is positive
    assert(q.head().getDouble(0) > 0.0)
  }

  test("the native simhash kernel runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val q = graft.llm.TextOps.simhash(graft.llm.TextOps.docs(spark, sfDir))
    q.collect() // the spread repartition makes the plan adaptive — finalize it
    val codegenWithKernel =
      graft.plans.PlanRuleSupport.physicalNodes(q.queryExecution.executedPlan).exists {
        case w: WholeStageCodegenExec => w.toString.contains("simhash64")
        case _ => false
      }
    assert(codegenWithKernel,
      q.queryExecution.executedPlan.toString)
  }

  test("star join broadcasts every dim and aggregates map-side before the shuffle") {
    val df = graft.perf.Perf.starJoinTop50(w)
    df.collect() // executes THIS QueryExecution, so AQE finalizes in place
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan) // all three dims
    assert(plan.contains("partial_sum"), plan) // map-side combine
  }

  test("ELT reject audit probes the dims as broadcast joins, never a cartesian") {
    val df = Errors.eltRejectedRows(w)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the raw staging feed (the big side at scale) stays in place; each dim
    // probe is a broadcast equi-join on the trimmed key / parsed date key
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("slicer filter context joins broadcast — the fact is never reshuffled to slice") {
    // the two-slicer composite is the worst case: both dims must broadcast
    // and the only exchange left is the final single-row aggregate's
    val df = graft.measures.Measures.totalRevenueSlicedComposite(w, "Nation_7", "Promo")
    df.collect()
    // the warehouse leaves carry no build plan: both joins are the slicers'
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("the year slicer pushes the smart-key range into the fact lineage — no dim join to slice") {
    val df = graft.measures.Measures.monthlyRevenueSlicedByYear(w, 1997)
    df.collect()
    // no cut at the cache: the warehouse leaves print as InMemoryRelation
    // over a one-node Scan ExistingRDD, so every join counted here is this
    // query's own, and a build plan re-attached under the cache would fail it
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    // the range predicate filters the fact BEFORE the date-dim join; the
    // slicer itself adds no join (only monthlyRevenue's own dim lookup)
    assert(plan.contains("19970101000000"), plan)
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size === 1, plan)
  }

  test("vocab frequency table combines map-side before its shuffles") {
    val df = graft.llm.TextOps.vocabTopK(w.stgSales.sparkSession
      .read.parquet(s"$sfDir/documents.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // partial aggregation below the exchange: the shuffle moves (token,
    // partial state), not exploded corpus rows
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan) // top-k, no global sort
  }

  test("repetition stats run as a narrow per-doc transform — zero exchanges, kernel codegen'd") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val df = graft.llm.TextOps.repetition(w.stgSales.sparkSession
      .read.parquet(s"$sfDir/documents.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the native run-scan kernel replaces the textbook explode + per-(doc,
    // token) groupBy, so the corpus never shuffles at all
    assert(!plan.toString.contains("Exchange"), plan.toString)
    assert(plan.exists {
      case w: WholeStageCodegenExec => w.toString.contains("max_token_freq")
      case _ => false
    }, plan.toString)
  }

  test("chunking is join-free and aggregate-free — only the spread repartition") {
    val df = graft.llm.TextOps.chunkDocs(w.stgSales.sparkSession
      .read.parquet(s"$sfDir/documents.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    // narrow sequence/explode/slice arithmetic: the only exchange a
    // single-file test corpus sees is spread()'s round-robin fan-out; a
    // key exchange, join or aggregate appearing here means the splitter
    // stopped being map-only
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Join") && !plan.contains("Aggregate"), plan)
  }

  test("stratified sampling is map-only — a filter on the scan, zero exchanges") {
    val df = graft.llm.TextOps.sampleStratified(
      w.stgSales.sparkSession.read.parquet(s"$sfDir/documents.parquet"),
      Map("src0" -> 1.0, "src1" -> 0.5))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    // the training-mix downsampler's 100 TB contract: a narrow filter +
    // projection over the scan — any exchange/join/aggregate here means the
    // sampler stopped being map-only
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join") && !plan.contains("Aggregate"), plan)
  }

  test("salient terms aggregate the tokenized corpus once, map-side combined") {
    val df = graft.llm.TextOps.salientTerms(w.stgSales.sparkSession
      .read.parquet(s"$sfDir/documents.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    // partial aggregation below the exchange (the shuffle moves partial
    // (doc, token) states, not exploded corpus rows), and exactly one
    // explode of the corpus — df derives from the tf aggregate, not from a
    // second tokenization pass
    assert(plan.contains("partial_count"), plan)
    assert("Generate explode".r.findAllIn(plan).size === 1, plan)
  }

  test("funnel stages and the per-user collapse share one user_id exchange") {
    val df = graft.streaming.EventOps.funnel(
      graft.streaming.EventOps.events(w.stgSales.sparkSession, sfDir))
    df.collect()
    // AQE's toString prints the initial plan after the final one — count
    // exchanges in the final (executed) section only
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    // one hash exchange on user_id feeds all three windows AND the per-user
    // groupBy (its partitioning is already satisfied); the only other
    // exchange is the single-partition one for the final global aggregate
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("quantization report broadcasts the one-row dim stats — corpus never shuffles for it") {
    val df = graft.llm.EmbeddingOps.quantizeInt8Stats(w.stgSales.sparkSession
      .read.parquet(s"$sfDir/embeddings.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    // the only join is the 1-row stats cross attach (a broadcast NL of one
    // row, not a corpus-sized comparison); the per-dim min/max combine
    // map-side before their shuffle
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan)
  }

  test("label cohesion broadcasts the centroid frame back onto the corpus") {
    val df = graft.llm.EmbeddingOps.labelCohesion(w.stgSales.sparkSession
      .read.parquet(s"$sfDir/embeddings.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the per-(label, dim) mean combines map-side; the corpus-side join is a
    // broadcast of the |labels|-row centroid frame, never a corpus shuffle
    assert(plan.contains("partial_avg"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("the verbatim-SQL Q1 plans like the DSL row: broadcast dims, map-side partial agg, no SMJ") {
    // same Catalyst pipeline is the SQL surface's core claim — the literal
    // reference SQL must pick the plan the DSL row gets, not a worse one
    val q = graft.SparkEntry.queries("sql_olap_q1")(spark, sfDir)
    q.queryExecution.toRdd.count() // finalize AQE so the real joins show
    // the final plan only; the warehouse leaves carry no build plan, so the
    // joins counted are the query's own
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan) // date + customer dims
    assert(plan.contains("partial_sum"), plan) // map-side combine below the exchange
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
