package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.plans.PlanRuleSupport

/** The `spark.sql` statement integration: with `GraftExtensions` on the
  * session, registered versioned tables are first-class in plain SQL —
  * reads (incl. `VERSION AS OF`), DML commands returning the committed
  * version, and the inertness contract on unregistered names. */
class SqlSessionSpec extends SparkSpec {

  private lazy val s2 = GraftSqlSession.forBase(spark)

  private def freshProducts(name: String): String = {
    val root = Scratch.dir(s"graft_sqlsess_") + "/t"
    val p = graft.etl.Warehouse(spark, sfDir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(spark, root, p.repartition(4))
    GraftCatalog.register(name, root)
    root
  }

  test("spark.sql SELECT resolves registered tables, composing with joins and VERSION AS OF") {
    freshProducts("sess_p")
    try {
      val n = s2.sql("SELECT count(*) AS n FROM sess_p").head().getLong(0)
      assert(n > 0)
      // DML through spark.sql returns the committed version as a row
      val v = s2.sql(
        "DELETE FROM sess_p WHERE CAST(stockcode AS BIGINT) % 2 = 0")
        .head().getInt(0)
      assert(v == 2)
      val after = s2.sql("SELECT count(*) AS n FROM sess_p").head().getLong(0)
      assert(after < n)
      // time travel + self-join across two pinned versions, one statement
      val joined = s2.sql("""
        SELECT count(*) AS n FROM sess_p VERSION AS OF 1 a
        JOIN sess_p b ON a.stockcode = b.stockcode""").head().getLong(0)
      assert(joined == after)
      val v1 = s2.sql("SELECT count(*) AS n FROM sess_p VERSION AS OF 1")
        .head().getLong(0)
      assert(v1 == n)
    } finally GraftCatalog.unregister("sess_p")
  }

  test("UPDATE/MERGE statements execute exactly once and read their own table as source") {
    freshProducts("sess_m")
    try {
      assert(s2.sql("""
        UPDATE sess_m SET unitprice = unitprice + 1.00
        WHERE CAST(stockcode AS BIGINT) % 3 = 0""").head().getInt(0) == 2)
      // MERGE whose subquery source reads the target's own (pre-commit) state
      assert(s2.sql("""
        MERGE INTO sess_m t
        USING (SELECT CAST(CAST(stockcode AS BIGINT) + 900000 AS STRING) AS stockcode,
                      unitprice, 'Echo' AS category
               FROM sess_m WHERE CAST(stockcode AS BIGINT) % 50 = 0) s
        ON t.stockcode = s.stockcode
        WHEN NOT MATCHED THEN INSERT *""").head().getInt(0) == 3)
      val echoes = s2.sql(
        "SELECT count(*) AS n FROM sess_m WHERE category = 'Echo'").head().getLong(0)
      val base = s2.sql(
        "SELECT count(*) AS n FROM sess_m VERSION AS OF 1 WHERE CAST(stockcode AS BIGINT) % 50 = 0")
        .head().getLong(0)
      assert(echoes == base && echoes > 0)
    } finally GraftCatalog.unregister("sess_m")
  }

  test("spark.sql reads through the extension session compose with StatsPrune data skipping") {
    import spark.implicits._
    val root = Scratch.dir("graft_sqlsess_pr_") + "/t"
    val df = (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("id"))
    graft.plans.StatsPrune.register(spark, root)
    GraftCatalog.register("sess_pruned", root)
    try {
      s2.conf.set(graft.plans.StatsPrune.EnabledKey, "true")
      try {
        val q = s2.sql(
          "SELECT sum(id) AS s FROM sess_pruned WHERE id BETWEEN 1 AND 10")
        assert(q.head().getLong(0) == 55L)
        val opened = PlanRuleSupport.fileScans(q.queryExecution.executedPlan)
          .headOption.map(_.relation.location.inputFiles.length)
        assert(opened.exists(_ < 4),
          s"the extension-session scan must open a stats-pruned file subset (got $opened of 4)")
      } finally s2.conf.unset(graft.plans.StatsPrune.EnabledKey)
    } finally GraftCatalog.unregister("sess_pruned")
    // the StatsPrune registration stays — inert while EnabledKey is unset,
    // and scoped to this test's temp root
  }

  test("spark.sql aggregates through the extension session reroute to a registered MV") {
    import spark.implicits._
    val dirBase = Scratch.dir("graft_sqlsess_mv_")
    val root = dirBase + "/t"
    val grain = (1L to 100L)
      .map(i => (i % 7, s"c${i % 3}", BigDecimal(i).setScale(2)))
      .toDF("k", "c", "amount")
    VersionedTable.create(spark, root, grain)
    VersionedTable.read(spark, root).groupBy("k", "c")
      .agg(sum("amount").as("amount_p"), count(lit(1)).as("n_rows"))
      .write.parquet(s"$dirBase/mv")
    graft.plans.MvRewrite.registerVersioned(spark, root, 1,
      spark.read.parquet(s"$dirBase/mv"),
      keys = Seq("k", "c"), sums = Map("amount" -> "amount_p"),
      countCol = Some("n_rows"))
    GraftCatalog.register("sess_mv", root)
    try {
      s2.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
      try {
        def q() = s2.sql("""
          SELECT c, CAST(sum(amount) AS DOUBLE) AS rev, count(1) AS n
          FROM sess_mv GROUP BY c""")
        val routed = q()
        val scanned = PlanRuleSupport.scanRoots(routed)
        assert(scanned.nonEmpty && scanned.forall(_.endsWith("/mv")),
          s"the extension-session aggregate must serve from the MV (scanned $scanned)")
        val served = routed.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
        s2.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
        val direct = q().collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
        assert(served === direct)
      } finally s2.conf.unset(graft.plans.MvRewrite.EnabledKey)
    } finally {
      GraftCatalog.unregister("sess_mv")
      graft.plans.MvRewrite.unregisterUnder(spark, root)
    }
  }

  test("unregistered names fall through to Spark's own resolution (inert on foreign queries)") {
    val p = graft.etl.Warehouse(spark, sfDir).dimProduct
      .select("stockcode", "unitprice")
    p.createOrReplaceTempView("sess_plain_view")
    // same-name temp view on the sibling session resolves normally
    p.createOrReplaceTempView("sess_plain_view")
    val viaS2 = GraftSqlSession.forBase(spark)
    viaS2.sql("SELECT 1 AS one").collect() // plain SQL unaffected
    assert(intercept[Exception] {
      viaS2.sql("DELETE FROM definitely_not_registered WHERE 1=1").collect()
    }.getMessage.toLowerCase.contains("not")) // Spark's own TABLE_OR_VIEW_NOT_FOUND
  }

  test("persistent catalog: registrations survive a fresh process; a direct file write resolves (r16)") {
    import spark.implicits._
    val base = Scratch.dir("graft_sqlsess_cat_")
    val catalog = s"$base/_catalog.tsv"
    val rootA = s"$base/ta"
    val rootB = s"$base/tb"
    VersionedTable.create(spark, rootA,
      (1L to 20L).map(i => (i, i * 2L)).toDF("id", "v"))
    VersionedTable.create(spark, rootB,
      (1L to 5L).map(i => (i, s"b$i")).toDF("id", "tag"))
    try {
      // process A registers through the bound store
      GraftCatalog.persistTo(spark, catalog)
      GraftCatalog.register("cat_ta", rootA)
      // simulate a FRESH process: drop this JVM's in-memory entry without
      // touching the file, then re-bind the store (a new read-through cache)
      GraftCatalog.detachStore()
      GraftCatalog.unregister("cat_ta")
      assert(GraftCatalog.get("cat_ta").isEmpty)
      GraftCatalog.persistTo(spark, catalog)
      assert(GraftCatalog.get("cat_ta").contains(rootA))
      // plain spark.sql read + DML resolve through the persisted entry
      assert(s2.sql("SELECT count(*) AS n FROM cat_ta").head().getLong(0) == 20L)
      assert(s2.sql("DELETE FROM cat_ta WHERE id > 15").head().getInt(0) == 2)
      assert(s2.sql("SELECT count(*) AS n FROM cat_ta").head().getLong(0) == 15L)
      // a DIRECT file write (another process's registration) resolves too
      val fs = new org.apache.hadoop.fs.Path(catalog)
        .getFileSystem(spark.sessionState.newHadoopConf())
      Thread.sleep(1100) // local FS mtime granularity is one second
      val out = fs.create(new org.apache.hadoop.fs.Path(catalog), true)
      out.write(s"cat_ta\t$rootA\ncat_tb\t$rootB\n".getBytes("UTF-8"))
      out.close()
      assert(s2.sql("SELECT count(*) AS n FROM cat_tb").head().getLong(0) == 5L)
      // unregister removes from the file as well
      GraftCatalog.unregister("cat_tb")
      assert(!GraftCatalog.registered.contains("cat_tb"))
    } finally {
      GraftCatalog.detachStore()
      GraftCatalog.unregister("cat_ta")
      GraftCatalog.unregister("cat_tb")
    }
  }

  test("persistent catalog replace is atomic and merge-safe: no missing-file window, no lost update (r16)") {
    val base = Scratch.dir("graft_sqlsess_atom_")
    val catalog = s"$base/_catalog.tsv"
    try {
      // seed one entry that lives ONLY in the file (not this JVM's map),
      // so the reader below exercises the file-read path every poll
      GraftCatalog.persistTo(spark, catalog)
      GraftCatalog.register("atom_t0", "/tmp/r0")
      GraftCatalog.detachStore()
      GraftCatalog.unregister("atom_t0") // memory only — file keeps it
      GraftCatalog.persistTo(spark, catalog)
      assert(GraftCatalog.get("atom_t0").contains("/tmp/r0"))
      val misses = new java.util.concurrent.atomic.AtomicInteger
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get)
          if (GraftCatalog.get("atom_t0").isEmpty) misses.incrementAndGet()
      })
      reader.start()
      try (1 to 40).foreach(i => GraftCatalog.register(s"atom_t$i", s"/tmp/r$i"))
      finally { stop.set(true); reader.join() }
      assert(misses.get === 0,
        s"${misses.get} lookups saw a missing catalog during replaces")
      // every registration landed — read back through a fresh store cache
      GraftCatalog.detachStore()
      GraftCatalog.persistTo(spark, catalog)
      (0 to 40).foreach(i =>
        assert(GraftCatalog.get(s"atom_t$i").contains(s"/tmp/r$i"), s"atom_t$i lost"))
    } finally {
      GraftCatalog.detachStore()
      (0 to 40).foreach(i => GraftCatalog.unregister(s"atom_t$i"))
    }
  }
}
