package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Synthesizes the reference's dirty staging layer (`stg_customers`,
  * `stg_products`, `stg_sales`, `stg_date` — reference DDL
  * `Iteration 1/Group No.6_ETL.sql:22-58`) from the driver's TPC-H-ish parquet
  * tables per FIXTURES.md §3.
  *
  * Dirty traits (FIXTURES.md §1) are injected as deterministic functions of
  * the natural keys so the DuckDB oracle reproduces them exactly: blank keys,
  * untrimmed names, mixed-case countries, invalid dates, currency-symbol
  * prefixes, negative/zero prices, missing totals, duplicate customers with a
  * later signup date, and both accepted timestamp formats.
  */
object Staging {

  /** stg_customers: customerid, customername, country, signupdate (all string). */
  def customers(spark: SparkSession, dir: String): DataFrame = {
    val c = Sources.table(spark, dir, "customer")
    val n = Sources.table(spark, dir, "nation")
    val base = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
    val k = col("c_custkey")
    // DATE cast to string is canonical yyyy-MM-dd — same text as date_format
    // without a per-row formatter
    val signup =
      date_add(to_date(lit("1994-01-01")), ((k * 37) % 1460).cast("int")).cast("string")
    val dupSignup =
      date_add(to_date(lit("1994-01-01")), (((k * 37) % 1460) + 30).cast("int")).cast("string")
    val main = base.select(
      when(k % 97 === 0, lit("")).otherwise(k.cast("string")).as("customerid"),
      when(k % 11 === 0, concat(lit("  "), col("c_name"), lit("  ")))
        .otherwise(col("c_name")).as("customername"),
      when(k % 31 === 0, lit(""))
        .when(k % 7 === 0, lower(col("n_name")))
        .otherwise(col("n_name")).as("country"),
      when(k % 53 === 0, lit("not-a-date")).otherwise(signup).as("signupdate"))
    // duplicate customers with a later signup date — exercises dedup-keep-latest (W1)
    val dups = base.filter(k % 13 === 0).select(
      k.cast("string").as("customerid"),
      col("c_name").as("customername"),
      col("n_name").as("country"),
      dupSignup.as("signupdate"))
    main.unionAll(dups)
  }

  /** stg_products: stockcode, description, unitprice, category, brand (string). */
  /** Portable double→2dp rendering: `round(x*100)/100` then decimal cast.
    * Rounding the scaled double (not the exact binary expansion) is the one
    * formulation Spark and DuckDB evaluate identically at .005 boundaries. */
  private def dec2(x: Column, t: String): Column =
    (round(x * 100) / 100).cast(t).cast("string")

  def products(spark: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val dec = dec2(col("p_retailprice"), "decimal(12,2)")
    Sources.table(spark, dir, "part").select(
      k.cast("string").as("stockcode"),
      col("p_name").as("description"),
      when(k % 101 === 0, lit("N/A"))
        .when(k % 73 === 0, lit("-1.00"))
        .when(k % 9 === 0, concat(lit("$"), dec))
        .otherwise(dec).as("unitprice"),
      when(k % 5 === 0, lower(split_part(col("p_type"), lit(" "), lit(1))))
        .otherwise(split_part(col("p_type"), lit(" "), lit(1))).as("category"),
      col("p_brand").as("brand"))
  }

  /** stg_sales: invoiceid, stockcode, customerid, saledate (two formats),
    * quantity, unitprice, totalamount, linenumber (all string). The
    * lineitem⋈orders join is the one genuinely large shuffle of the staging
    * layer — an equi-join on `l_orderkey` that Spark plans as a shuffled hash /
    * sort-merge join, exactly what we want at 100 TB (both sides partition on
    * the join key; AQE handles skew). */
  def sales(spark: SparkSession, dir: String): DataFrame = {
    // Partition-starvation guard (r18, found by tools/ScaleAxisProbe @ 8323d6e): a
    // small-SF lineitem ships as ONE parquet file with a handful of row
    // groups, so the scan yields ~3 partitions (Spark's split formula:
    // max(openCost, bytes/defaultParallelism) caps the split at 4 MB) —
    // and because orders broadcasts, the ENTIRE parse/clean/join pipeline
    // inherits that width, running 3/32 threads on a 32-core box. One
    // cheap hash shuffle of the raw feed restores full width; at real
    // scale the scan already arrives wide and the guard self-disables
    // (strictly-less-than check). Same starvation class as
    // [[graft.llm.TextOps]]'s `spread`; the costlier `.rdd` width probe is
    // fine HERE because the build runs once per warehouse, not per operator.
    val liRaw = Sources.table(spark, dir, "lineitem")
    val target = spark.sparkContext.defaultParallelism
    val li =
      if (liRaw.rdd.getNumPartitions < target)
        liRaw.repartition(target, col("l_orderkey"))
      else liRaw
    val o = Sources.table(spark, dir, "orders")
    val k = col("l_orderkey")
    val priceDec = dec2(col("l_extendedprice") / col("l_quantity"), "decimal(12,2)")
    // o_orderdate is a midnight TIMESTAMP: its canonical string cast is
    // already 'yyyy-MM-dd HH:mm:ss' — byte-identical to the date_format
    // output, without a per-row formatter (a top cost of the staging build)
    val d = col("o_orderdate")
    val isoTs = d.cast("string")
    val dmyTs = concat(
      lpad(dayofmonth(d).cast("string"), 2, "0"), lit("/"),
      lpad(month(d).cast("string"), 2, "0"), lit("/"),
      year(d).cast("string"), lit(" 00:00:00"))
    li.join(o, k === o("o_orderkey")).select(
      when(k % 211 === 0, lit("")).otherwise(k.cast("string")).as("invoiceid"),
      col("l_partkey").cast("string").as("stockcode"),
      col("o_custkey").cast("string").as("customerid"),
      when((k + col("l_linenumber")) % 499 === 0, lit("invalid-ts"))
        .when(k % 2 === 0, isoTs)
        .otherwise(dmyTs).as("saledate"),
      col("l_quantity").cast("int").cast("string").as("quantity"),
      when(k % 89 === 0, lit("0"))
        .when(k % 7 === 0, concat(lit("$"), priceDec))
        .otherwise(priceDec).as("unitprice"),
      when(k % 3 === 0, lit(""))
        .otherwise(dec2(col("l_extendedprice"), "decimal(18,2)")).as("totalamount"),
      col("l_linenumber").cast("string").as("linenumber"))
  }

  /** stg_date: the reference's date-domain helper (only its `date` column is
    * used — `Iteration 1/Group No.6_ETL.sql:51-58,202-214`). */
  def dates(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .distinct()
}
