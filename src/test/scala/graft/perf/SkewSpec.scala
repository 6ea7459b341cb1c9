package graft.perf

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec

import graft.SparkSpec
import graft.etl.Warehouse

/** Salted aggregation must agree exactly with the direct aggregation, and
  * AQE's skew-join handling must actually engage on a hot join key (the
  * engine's answer for skewed JOINS; salting covers aggregations). */
class SkewSpec extends SparkSpec {

  test("AQE splits the hot key's join partition, results unchanged") {
    import spark.implicits._
    // thresholds shrunk so local-scale data exhibits "100 TB" skew
    val tuned = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~90% of rows land on key 1 — the viral-product shape. The payload is
      // per-row-unique (md5) so the hot shuffle partition stays big after
      // compression, and the post-join aggregate consumes it so column
      // pruning can't drop it before the exchange. The aggregate is GLOBAL:
      // a groupBy(k) would reuse the join's hash partitioning, which forbids
      // AQE from splitting the skewed partition.
      val left = (1 to 20000)
        .map(i => (if (i % 10 == 0) (i % 50).toLong else 1L, i)).toDF("k", "i")
        .withColumn("pad", md5(col("i").cast("string")))
      val right = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = left.join(right, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      // collect() on this same QueryExecution finalizes the adaptive plan
      val row = joined.collect().head
      assert(row.getLong(0) === 20000L && row.getLong(1) === 20000L * 32)
      // query stages are leaf nodes wrapping their stage plan — recurse into
      // them or the traversal stops at the ResultQueryStage
      val skewedReads = graft.plans.PlanRuleSupport
        .physicalNodes(joined.queryExecution.executedPlan)
        .collect { case r: AQEShuffleReadExec if r.hasSkewedPartition => r }
      assert(skewedReads.nonEmpty,
        joined.queryExecution.executedPlan.toString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted sum/count equal direct groupBy results on a skewed key") {
    val w = Warehouse(spark, sfDir)
    // country is the workload's skewed key (NULL→UNKNOWN absorbs misses)
    val df = w.factSalesElt.select("customer_key", "totalamount")
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left")
      .select(coalesce(col("country"), lit("UNKNOWN")).as("country"), col("totalamount"))

    val direct = df.groupBy("country")
      .agg(sum("totalamount").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDecimal(1), r.getLong(2)))).toMap

    val salted = Skew.saltedSum(df, Seq("country"), "totalamount")
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val counts = Skew.saltedCount(df, Seq("country"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    assert(salted.keySet === direct.keySet)
    direct.foreach { case (k, (s, n)) =>
      assert(salted(k) === s, s"sum mismatch for $k")
      assert(counts(k) === n, s"count mismatch for $k")
    }
  }

  test("autoSaltedSum: salts above the top-1 share threshold only, identical results either route") {
    import spark.implicits._
    // 100 rows: key "hot" holds exactly 30 → top-1 share 0.30
    val df = ((1 to 30).map(i => ("hot", i.toLong)) ++
      (31 to 100).map(i => (s"k${i % 35}", i.toLong)))
      .toDF("k", "v")
    val truth = df.groupBy("k").agg(sum("v").as("sum_v"))
      .as[(String, Long)].collect().toMap

    // strictly-greater boundary: share 0.30 vs threshold 0.30 → no salt;
    // one epsilon below → salt
    val at = Skew.autoSaltedSum(df, Seq("k"), "v", topShareThreshold = 0.30)
    assert(!at.salted && math.abs(at.top1Share - 0.30) < 1e-12)
    val below = Skew.autoSaltedSum(df, Seq("k"), "v", topShareThreshold = 0.2999)
    assert(below.salted)
    // identical numbers either route
    assert(at.result.as[(String, Long)].collect().toMap === truth)
    assert(below.result.as[(String, Long)].collect().toMap === truth)
    // the salted route really is the two-phase plan (two aggregates deep)
    val aggs = below.result.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size >= 2, below.result.queryExecution.optimizedPlan.toString)

    // a uniform feed never salts at the default threshold
    val uniform = (1 to 100).map(i => (s"k${i % 50}", i.toLong)).toDF("k", "v")
    assert(!Skew.autoSaltedSum(uniform, Seq("k"), "v").salted)
  }

  test("saltedSums: multi-measure two-phase equals direct groupBy, schema-identical") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"k${i % 5}", BigDecimal(i).setScale(2), i * 3L))
      .toDF("k", "amt", "qty")
    val direct = df.groupBy("k")
      .agg(sum("amt").as("sum_amt"), sum("qty").as("sum_qty"))
    val salted = Skew.saltedSums(df, Seq("k"), Seq("amt", "qty"))
    // the re-summed decimal partial casts back, so the salted route's
    // schema matches the plain one EXACTLY (not a wider re-sum decimal)
    assert(salted.schema === direct.schema)
    assert(salted.collect().toSet === direct.collect().toSet)
    // one decision, both measures: the multi-measure auto variant takes the
    // plain route on this uniform feed and the same numbers come out
    val auto = Skew.autoSaltedSums(df, Seq("k"), Seq("amt", "qty"))
    assert(!auto.salted)
    assert(auto.result.collect().toSet === direct.collect().toSet)
  }

  test("skew report: hand-computed Gini, percentiles, and top-1 share on a fixed distribution") {
    import spark.implicits._
    // keys with counts 1, 1, 2, 4 (sorted): n=4, total=8
    val rows = Seq.fill(1)(10L) ++ Seq.fill(1)(20L) ++ Seq.fill(2)(30L) ++ Seq.fill(4)(40L)
    val out = Skew.skewReport(rows.toDF("user_id"), "user_id").head()
    assert(out.getLong(0) === 4L)                 // n_keys
    assert(out.getLong(1) === 8L)                 // total_rows
    assert(out.getLong(2) === 4L)                 // max_count
    assert(out.getDouble(3) === 0.5)              // top1_share
    // type-7 percentiles over [1,1,2,4]: p50 h=2.5 -> 1.5; p99 h=3.97 -> 3.94
    assert(out.getDouble(4) === 1.5)
    assert(out.getDouble(5) === 3.94)
    // gini = (sum(2*i*c) - (n+1)*total) / (n*total) = (50 - 40) / 32
    assert(out.getDouble(6) === 10.0 / 32.0)
    // uniform distribution -> gini 0
    val uniform = (1L to 40L).map(i => i % 4).toDF("user_id")
    assert(Skew.skewReport(uniform, "user_id").head().getDouble(6) === 0.0)
  }

  test("heavyKeys equals the groupBy-HAVING truth and is partitioning-invariant") {
    import spark.implicits._
    // one hot key (500 rows), 100 cold keys (5 rows each): mean ≈ 9.9,
    // threshold 120% → only the hot key clears it
    val rows = Seq.fill(500)(7L) ++ (1L to 100L).flatMap(k => Seq.fill(5)(100 + k))
    def run(parts: Int) = Skew.heavyKeys(
      rows.toDF("user_id").repartition(parts), "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(3) === Map(7L -> 500L))
    assert(run(17) === Map(7L -> 500L)) // superset-then-verify is exact at any P
    // uniform data near the threshold: must still equal the exact answer
    val uni = (1L to 40L).flatMap(k => Seq.fill(if (k % 4 == 0) 13 else 9)(k))
      .toDF("user_id")
    val expect = uni.groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, n) => 100L * n * 40 > 120L * uni.count() }.toMap
    assert(Skew.heavyKeys(uni.repartition(5), "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expect)
    assert(expect.nonEmpty)
  }
}
