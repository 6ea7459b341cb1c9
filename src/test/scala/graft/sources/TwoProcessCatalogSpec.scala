package graft.sources

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** The cross-process story of the persistent catalog, proven across a
  * REAL process boundary (r17, VERDICT r16 #5): `SqlSession.persistTo`
  * claims that a table registered by one process resolves in another,
  * that DML committed by the second process is immediately visible to
  * the first, and that the on-disk stats index serves (and heals) in
  * both. The in-process specs exercise the file format; this one spawns
  * a second JVM ([[graft.tools.CatalogChild]]) with the same classpath
  * and asserts the full round trip. */
class TwoProcessCatalogSpec extends SparkSpec {
  import spark.implicits._

  test("a second JVM resolves, mutates, and extends the persisted catalog; this one observes it all") {
    val base = Scratch.dir("graft_2proc_")
    val root = s"$base/t"
    val catalog = s"$base/_catalog.tsv"
    VersionedTable.create(spark, root,
      (1L to 100L).map(i => (i, s"p_$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")))
    VersionedStats.enable(spark, root, Seq("id"))
    // this process's stats registration exists BEFORE the child's DML —
    // the head moves underneath it, exercising the heal path below
    graft.plans.StatsPrune.register(spark, root)
    GraftCatalog.persistTo(spark, catalog)
    GraftCatalog.register("twoproc_t", root)
    try {
      val (rc, out) = graft.tools.ChildJvm.run("3g", "graft.tools.CatalogChild",
        catalog, "twoproc_t", s"$base/child_t")
      assert(rc == 0, s"child JVM failed (rc=$rc):\n${out.takeRight(4000)}")
      assert(out.contains("CHILD_OK rows=100 version=2"), out.takeRight(1000))

      // the child's commit is this process's current version — no
      // re-registration, no cache poke
      assert(VersionedTable.latestVersion(spark, root) === 2)
      val s2 = GraftSqlSession.forBase(spark)
      val mutated = s2.sql(
        "SELECT count(*) AS n FROM twoproc_t WHERE payload LIKE '%_child'")
        .head().getLong(0)
      assert(mutated === 3L)

      // stats heal across the process boundary: the head moved to a
      // version this process never statted through its own listener; the
      // pruned read must still be correct AND skip files
      s2.conf.set(graft.plans.StatsPrune.EnabledKey, "true")
      try {
        val q = s2.sql(
          "SELECT sum(id) AS s FROM twoproc_t WHERE id BETWEEN 90 AND 100")
        assert(q.head().getLong(0) === (90L to 100L).sum)
        val opened = graft.plans.PlanRuleSupport.fileScans(q.queryExecution.executedPlan)
          .headOption.map(_.relation.location.inputFiles.length)
        assert(opened.exists(_ < 4),
          s"post-child-DML pruned scan must skip files (opened $opened of 4)")
      } finally s2.conf.unset(graft.plans.StatsPrune.EnabledKey)

      // the registration the CHILD wrote resolves here purely via the file
      val fromChild = s2.sql(
        "SELECT payload FROM twoproc_t_from_child").head().getString(0)
      assert(fromChild === "from_child")
    } finally {
      GraftCatalog.unregister("twoproc_t")
      GraftCatalog.unregister("twoproc_t_from_child")
      GraftCatalog.detachStore()
    }
  }
}
