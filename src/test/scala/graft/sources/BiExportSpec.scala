package graft.sources

import graft.{Scratch, SparkSpec}

/** BI export writes every semantic-model table and the facts prune by year. */
class BiExportSpec extends SparkSpec {

  test("exports all 9 model tables; year-partitioned facts read back whole") {
    val out = Scratch.dir("graft_bi")
    BiExport.export(spark, sfDir, out)
    val tables = Seq("customers_etl", "customers_elt", "products", "dates",
      "fact_sales_etl", "fact_sales_elt", "molap_month_country",
      "molap_month_product", "molap_customer_month")
    tables.foreach { t =>
      assert(spark.read.parquet(s"$out/$t").count() > 0, t)
    }
    val fact = graft.etl.Warehouse(spark, sfDir).factSales
    assert(spark.read.parquet(s"$out/fact_sales_etl").count() === fact.count())
    // partition pruning: a year-constrained read only lists that year's dirs
    val pruned = spark.read.parquet(s"$out/fact_sales_etl")
      .filter(org.apache.spark.sql.functions.col("year") === 1996)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(year"))
    // B-tree analog (R3): rows are date_key-sorted within each file, so
    // row-group min/max stats are tight for range skipping
    val files = new java.io.File(s"$out/fact_sales_etl").listFiles()
      .filter(_.getName.startsWith("year=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.take(3).foreach { f =>
      val keys = spark.read.parquet(f.getPath)
        .select("date_key").collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted), f.getName)
    }
  }

  test("sliced export: year-sliced read lists only matching partitions; refresh rewrites only its slice") {
    val out = Scratch.dir("graft_bi_slice")
    BiExport.export(spark, sfDir, out)
    val table = "fact_sales_elt"
    val full = spark.read.parquet(s"$out/$table")
    val totalBefore = full.count()
    val years = full.select("year").distinct().collect().map(_.getInt(0)).sorted
    assert(years.length >= 2, s"need >=2 year partitions, got ${years.toSeq}")
    val (target, untouched) = (years.last, years.head)

    // import side: the files the pruned read ACTUALLY scans (inputFiles is
    // the pre-pruning index) are only year=<target>'s
    val sliced = BiExport.readFactYears(spark, out, table, Seq(target))
    val readFiles = sliced
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    assert(readFiles.nonEmpty)
    assert(readFiles.forall(_.contains(s"year=$target")),
      s"unpruned files: ${readFiles.filterNot(_.contains(s"year=$target")).take(3).toSeq}")
    val slicedCount = sliced.count()

    // export side: dynamic-partition refresh replaces ONLY the target year
    def fileSet(y: Int) = Option(new java.io.File(s"$out/$table/year=$y").listFiles())
      .fold(Set.empty[String])(_.map(f => f.getName -> f.lastModified).toSet.map((p: (String, Long)) => s"${p._1}@${p._2}"))
    val untouchedBefore = fileSet(untouched)
    val targetBefore = fileSet(target)
    BiExport.refreshFactYears(spark, sfDir, out, table, Seq(target))
    assert(fileSet(untouched) === untouchedBefore, "untouched year was rewritten")
    assert(fileSet(target) !== targetBefore, "target year was not rewritten")
    // table integrity: row counts preserved overall and per slice
    assert(spark.read.parquet(s"$out/$table").count() === totalBefore)
    assert(BiExport.readFactYears(spark, out, table, Seq(target)).count() === slicedCount)
  }
}
