package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.{Scratch, SparkSpec}
import graft.etl.{Staging, Transforms, Warehouse}

/** Streaming fact ingestion must produce exactly the batch fact rows for the
  * same staged input — the incremental path reuses the batch transforms, so
  * the only difference is micro-batch execution + stream-static joins. */
class IncrementalEtlSpec extends SparkSpec {

  test("streaming fact load over two drops equals the batch fact build") {
    val w = Warehouse(spark, sfDir)
    val dropDir = Scratch.dir("graft_sales_drops")

    // two separate drops → two micro-batch inputs
    val staged = Staging.sales(spark, sfDir).limit(2000).cache()
    val Array(dropA, dropB) = staged.randomSplit(Array(0.5, 0.5), seed = 42)
    dropA.write.parquet(s"$dropDir/drop_a")
    dropB.write.parquet(s"$dropDir/drop_b")

    val query = IncrementalEtl.streamingFactLoad(spark, s"$dropDir/*", w)
      .writeStream.format("memory").queryName("fact_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val streamed = spark.table("fact_stream").collect().map(_.toSeq).toSet
    val batch = Transforms.factSales(
        Transforms.salesFinal(Transforms.salesParsed(staged), w.dimProduct),
        w.dimProduct, w.dimCustomer)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    staged.unpersist()
  }

  test("incrementally maintained month×country summary equals the one-shot build") {
    val w = Warehouse(spark, sfDir)
    val dropDir = Scratch.dir("graft_molap_drops")
    val summary = Scratch.dir("graft_molap_sum") + "/mc"

    val staged = Staging.sales(spark, sfDir).limit(2000).cache()
    val Array(dropA, dropB) = staged.randomSplit(Array(0.5, 0.5), seed = 42)
    dropA.write.parquet(s"$dropDir/drop_a")
    dropB.write.parquet(s"$dropDir/drop_b")

    // one file per trigger forces >1 micro-batch, so the merge path runs
    val query = IncrementalEtl.maintainMonthCountry(spark, s"$dropDir/*", w, summary)
      .option("maxFilesPerTrigger", "1")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val maintained = IncrementalEtl.readMonthCountry(spark, summary)
      .collect().map(r => (r.getDate(0), r.getString(1)) ->
        ((r.getDecimal(2), r.getLong(3), r.getLong(4)))).toMap

    val batchFact = Transforms.factSales(
      Transforms.salesFinal(Transforms.salesParsed(staged), w.dimProduct),
      w.dimProduct, w.dimCustomer)
    val oneShot = IncrementalEtl.monthCountryCells(batchFact, w.dimCustomer)
      .select(org.apache.spark.sql.functions.col("month"),
        org.apache.spark.sql.functions.col("country"),
        org.apache.spark.sql.functions.col("revenue"),
        org.apache.spark.sql.functions.col("qty"),
        org.apache.spark.sql.functions.expr("hll_sketch_estimate(inv_sketch)").as("order_count"))
      .collect().map(r => (r.getDate(0), r.getString(1)) ->
        ((r.getDecimal(2), r.getLong(3), r.getLong(4)))).toMap

    assert(maintained.keySet === oneShot.keySet)
    oneShot.foreach { case (k, (rev, qty, orders)) =>
      assert(maintained(k)._1.compareTo(rev) === 0, s"revenue mismatch at $k")
      assert(maintained(k)._2 === qty, s"qty mismatch at $k")
      assert(maintained(k)._3 === orders, s"order sketch mismatch at $k")
    }
    assert(maintained.nonEmpty)
    staged.unpersist()
  }

  test("summary maintenance is exactly-once under batch replay; a crashed swap rolls forward (r16)") {
    val w = Warehouse(spark, sfDir)
    val summary = Scratch.dir("graft_molap_eo_") + "/mc"
    val staged = Staging.sales(spark, sfDir).limit(1000).cache()
    val batchFact = Transforms.factSales(
      Transforms.salesFinal(Transforms.salesParsed(staged), w.dimProduct),
      w.dimProduct, w.dimCustomer).cache()
    def nRows(): Long = spark.read.parquet(summary)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0)
    IncrementalEtl.mergeBatchIntoSummary(spark, w, summary, batchFact, 0L)
    val after0 = nRows()
    IncrementalEtl.mergeBatchIntoSummary(spark, w, summary, batchFact, 1L)
    val after1 = nRows()
    assert(after1 === 2 * after0)
    // the post-crash redelivery: same id (and an older id) merges NOTHING —
    // an unguarded merge would double-count the replayed batch's cells
    IncrementalEtl.mergeBatchIntoSummary(spark, w, summary, batchFact, 1L)
    IncrementalEtl.mergeBatchIntoSummary(spark, w, summary, batchFact, 0L)
    assert(nRows() === after1, "a replayed batch must merge nothing")
    // crash between the swap's delete and rename: only the staged dir
    // remains — the next batch must roll it forward, not rebuild from its
    // own cells (which would silently erase every prior batch)
    val (fs, _) = graft.sources.MetaFile.fsOf(spark, summary)
    assert(fs.rename(new org.apache.hadoop.fs.Path(summary),
      new org.apache.hadoop.fs.Path(summary + ".tmp")))
    IncrementalEtl.mergeBatchIntoSummary(spark, w, summary, batchFact, 2L)
    assert(nRows() === 3 * after0, "the crashed publish must roll forward")
    staged.unpersist(); batchFact.unpersist()
  }
}
