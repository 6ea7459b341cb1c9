package graft.etl

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** End-to-end ETL/ELT pipeline runs: materialized star + validation frame +
  * error sink with parseable JSON payloads. */
class PipelineSpec extends SparkSpec {

  test("runEtl materializes the star, reconciles revenue, and logs JSON rejects") {
    val out = Scratch.dir("graft_etl")
    val v = Pipeline.runEtl(spark, sfDir, out)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v("staging_sales_rows") === v("fact_rows"))
    assert(v("staging_revenue") === v("fact_revenue"))
    assert(v("rejected_rows").toLong > 0)

    val errors = spark.read.parquet(s"$out/etl_errors")
    assert(errors.count() === v("rejected_rows").toLong)
    // JSON payload round-trips: every source_row parses and carries the keys
    val parsed = errors.select(
      get_json_object(col("source_row"), "$.invoiceid").as("inv"),
      col("error_message"))
    assert(parsed.filter(col("inv").isNull).count() === 0)
    assert(errors.filter(col("source_table") =!= "staging.sales_clean").count() === 0)
  }

  test("runElt lands raw copies then the same star (ELT ordering)") {
    val out = Scratch.dir("graft_elt")
    val v = Pipeline.runElt(spark, sfDir, out)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v("staging_sales_rows") === v("fact_rows"))
    val w = Warehouse(spark, sfDir)
    assert(spark.read.parquet(s"$out/raw_sales").count() === w.stgSales.count())
    assert(spark.read.parquet(s"$out/raw_customers").count() === w.stgCustomers.count())
  }
}
