package graft.tools

/** Second-JVM half of the cross-process catalog gate (r17, VERDICT r16
  * #5): a FRESH process — no shared in-memory state with the launcher —
  * binds the persisted catalog file, resolves a table the FIRST process
  * registered, runs SQL DML on it, reads it back through StatsPrune data
  * skipping (the stats live on disk under the table root), and registers
  * a table of its own for the first process to resolve. Exits non-zero on
  * any failed expectation; the launching spec asserts the exit code and
  * the `CHILD_OK` marker. Args: `<catalogPath> <tableName> <childRoot>`,
  * the last a path under the launcher's scratch, so the table the launcher
  * reads after this process exits outlives it. */
object CatalogChild {
  def main(args: Array[String]): Unit = {
    val Array(catalogPath, table, childRoot) = args
    // the production deployment route: extensions installed up front
    val spark = ChildJvm.session("graft-catalog-child",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions")
    try {
      graft.sources.GraftCatalog.persistTo(spark, catalogPath)
      // resolve the parent's registration purely from the persisted file
      val n0 = spark.sql(s"SELECT count(*) AS n FROM $table").head().getLong(0)
      require(n0 > 0, s"child resolved $table empty")
      // stats registration BEFORE this process's own DML (deployment
      // order): the index is on-disk state, so a fresh JVM registers from
      // the statted head, and the heal path must then carry it past the
      // commit below without any parent-process help
      val root = graft.sources.GraftCatalog.get(table).get
      graft.plans.StatsPrune.register(spark, root)
      // mutate through plain SQL — the verb the parent then observes
      val v = spark.sql(
        s"UPDATE $table SET payload = concat(payload, '_child') WHERE id <= 3")
        .head().getInt(0)
      spark.conf.set(graft.plans.StatsPrune.EnabledKey, "true")
      val s = spark.sql(
        s"SELECT sum(id) AS s FROM $table WHERE id BETWEEN 1 AND 10")
        .head().getLong(0)
      require(s == 55L, s"child pruned read got $s, want 55")
      // write-through: a registration the parent must see via the file
      import spark.implicits._
      graft.sources.VersionedTable.create(spark, childRoot,
        Seq((1L, "from_child")).toDF("id", "payload"))
      graft.sources.GraftCatalog.register(table + "_from_child", childRoot)
      println(s"CHILD_OK rows=$n0 version=$v")
    } finally spark.stop()
  }
}
