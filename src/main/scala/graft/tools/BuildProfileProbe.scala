package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{Staging, Transforms}

/** Dev probe: per-layer wall time of the warehouse build at SPARK_GRAFT_SF_DIR
  * (each layer materialized to a noop sink, upstream caches left in place so a
  * layer's number is its own marginal cost — the same accounting the bench's
  * build row aggregates). Not part of the shipped library. */
object BuildProfileProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def t(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // warm codegen on the micro SF like the bench does
    val warm = graft.etl.Warehouse.build(spark, "/root/testdata/sf0.001")
    noop(warm.factSalesElt); noop(warm.dimDate)
    warm.release()
    spark.sharedState.cacheManager.clearCache()

    val stgC = Staging.customers(spark, sfDir)
    val stgP = Staging.products(spark, sfDir)
    val stgS = Staging.sales(spark, sfDir)
    val stgD = Staging.dates(spark, sfDir)
    t("stg scans (count only)") { stgC.count(); stgP.count(); stgS.count(); stgD.count() }
    val cb = Transforms.customersBase(stgC).cache()
    t("customersBase+dims") {
      noop(Transforms.dimCustomer(cb).cache()); noop(Transforms.dimCustomerElt(cb).cache())
    }
    val pd = Transforms.productsDedup(Transforms.productsBase(stgP)).cache()
    var median = 0.0
    t("products dedup+median") { median = Transforms.medianPrice(pd) }
    val dimP = Transforms.dimProduct(pd, median).cache()
    t("dimProduct") { noop(dimP) }
    val sp = Transforms.salesParsed(stgS)
    t("salesParsed (uncached)") { noop(sp) }
    val sf = Transforms.salesFinal(sp, dimP).cache()
    t("salesFinal cache") { noop(sf) }
    val dimD = Transforms.dimDate(Transforms.tsDomain(sf, stgD)).cache()
    t("tsDomain+dimDate") { noop(dimD) }
    t("factSalesElt") { noop(Transforms.factSalesElt(sf, dimP, Transforms.dimCustomerElt(cb)).cache()) }
    spark.stop()
  }
}
