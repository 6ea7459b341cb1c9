package graft.plans

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.sources.{VersionedStats, VersionedTable}

/** The automatic data-skipping rule: plan-level file pruning for filtered
  * reads of stats-registered versioned snapshots, with exactness, exprId
  * preservation, soundness fallbacks, and scoped enablement. */
class StatsPruneSpec extends SparkSpec {
  import spark.implicits._

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Option[Int] =
    PlanRuleSupport.fileScans(df.queryExecution.executedPlan).headOption
      .map(_.relation.location.inputFiles.length)

  private def mkRegistered(prefix: String): String = {
    val root = Scratch.dir(prefix) + "/t"
    val df = (1L to 100L).map(i => (i, s"p_$i", (i * 37) % 97)).toDF("id", "payload", "w")
      .repartitionByRange(4, col("id"))
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("id", "w"))
    StatsPrune.register(spark, root)
    root
  }

  test("global count(*)/min/max serve metadata-only: zero files open, values exact, DML keeps them live") {
    val root = mkRegistered("graft_sp_meta_")
    try {
      def agg() = VersionedTable.read(spark, root)
        .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"),
          min("w").as("wlo"))
      val got = StatsPrune.servingScoped(spark) {
        val q = agg()
        assert(scanFiles(q).isEmpty, "a metadata-served aggregate opens no data file")
        q
      }
      assert(got.as[(Long, Long, Long, Long)].head() ===
        ((100L, 1L, 100L, (1L to 100L).map(i => (i * 37) % 97).min)))
      // the commit listener keeps the answer live across DML
      VersionedTable.deleteWhere(spark, root, col("id") > 90L)
      val after = StatsPrune.servingScoped(spark) {
        val q = agg()
        assert(scanFiles(q).isEmpty)
        q
      }
      assert(after.as[(Long, Long, Long, Long)].head()._1 === 90L)
      assert(after.as[(Long, Long, Long, Long)].head()._3 === 90L)
      // unservable shapes fall back to the real scan, correct either way
      val distinctQ = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .agg(count_distinct(col("w")).as("d"), count(lit(1)).as("n"))
        assert(scanFiles(q).nonEmpty, "count DISTINCT must hit the data")
        q
      }
      assert(distinctQ.select("n").as[Long].head() === 90L)
      // count(col) (null-skipping) and filtered aggregates also fall back
      val countCol = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root).agg(count(col("payload")).as("n"))
        assert(scanFiles(q).nonEmpty)
        q
      }
      assert(countCol.as[Long].head() === 90L)
    } finally StatsPrune.clear()
  }

  test("a LIKE-prefix filter prunes via its [prefix, prefix+1) box") {
    val root = Scratch.dir("graft_sp_like_") + "/t"
    // zero-padded names range-tile across 4 files — no '_' in the data:
    // underscore is itself a LIKE wildcard, and only wildcard-free-prefix
    // patterns simplify to the StartsWith the box extraction reads
    val df = (1L to 4000L).map(i => (f"px$i%04d", i)).toDF("name", "id")
      .repartitionByRange(4, col("name"))
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("name"))
    StatsPrune.register(spark, root)
    try {
      val got = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("name").like("px12%")).select("name")
        assert(scanFiles(q).exists(_ < 4),
          s"the prefix box must prune (opened ${scanFiles(q)} of 4)")
        q
      }
      assert(got.as[String].collect().toSet ===
        (1200L to 1299L).map(i => f"px$i%04d").toSet)
    } finally StatsPrune.clear()
  }

  test("prefixUpper is a sound UTF-8-byte successor at surrogate boundaries (r16)") {
    import org.apache.spark.unsafe.types.UTF8String
    def up(s: String) = StatsPrune.prefixUpper(UTF8String.fromString(s))
    // every bound must compare ABOVE the prefix in UTF8String (byte) order —
    // the r15 UTF-16 increment produced a '?'-re-encoded bound BELOW the
    // prefix for these two shapes, unsoundly pruning matching files
    for (p <- Seq("a퟿",                 // last char increments INTO the surrogate range
                  "a🟿",           // non-BMP char whose low surrogate is 0xDFFF
                  "plain", "é", "ÿ", "z￿")) {
      val u = UTF8String.fromString(p)
      up(p).foreach { b =>
        assert(b.compareTo(u) > 0, s"bound for '$p' not above the prefix")
        // and above an ARBITRARY continuation of the prefix
        val cont = UTF8String.concat(u, UTF8String.fromString("zzz￿"))
        assert(b.compareTo(cont) > 0, s"bound for '$p' not above its continuations")
      }
    }
    // a prefix of all-0xFF bytes (unreachable from valid UTF-16 input, but
    // the byte path must still be total): no successor — lo alone prunes
    assert(StatsPrune.prefixUpper(
      UTF8String.fromBytes(Array(0xFF.toByte, 0xFF.toByte))) === None)
  }

  test("an IN-list on a bloom-indexed column admits a file only when SOME value might be present") {
    val root = Scratch.dir("graft_sp_inbloom_") + "/t"
    val df = (1L to 4000L).map(i => (i, s"p_$i")).toDF("id", "payload").repartition(8)
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("id"))
    VersionedStats.enableBlooms(spark, root, Seq("id"),
      expectedItemsPerFile = 4096, fpp = 0.001)
    StatsPrune.register(spark, root)
    try {
      val got = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("id").isin(17L, 2991L)).select("id")
        // the IN envelope [17, 2991] admits all 8 shuffled files; only the
        // blooms cut the list down to the files holding either value
        assert(scanFiles(q).exists(_ < 8),
          s"IN-list blooms must prune (opened ${scanFiles(q)} of 8)")
        q
      }
      assert(got.as[Long].collect().toSet === Set(17L, 2991L))
    } finally StatsPrune.clear()
  }

  test("a point filter on a bloom-indexed column prunes files min/max cannot") {
    val root = Scratch.dir("graft_sp_bloom_") + "/t"
    // hash-shuffled: every file's id range spans the domain — min/max alone
    // admits all 8 files for any point; the per-file bloom is what prunes
    val df = (1L to 4000L).map(i => (i, s"p_$i")).toDF("id", "payload").repartition(8)
    VersionedTable.create(spark, root, df)
    VersionedStats.enable(spark, root, Seq("id"))
    VersionedStats.enableBlooms(spark, root, Seq("id"),
      expectedItemsPerFile = 4096, fpp = 0.001)
    StatsPrune.register(spark, root)
    try {
      val got = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("id") === 1234L).select("id", "payload")
        val n = scanFiles(q)
        assert(n.exists(_ < 8), s"the bloom must prune the point scan (opened $n of 8)")
        q
      }
      assert(got.as[(Long, String)].collect().toSeq === Seq((1234L, "p_1234")))
      // a RANGE on the same column gets no bloom help and must stay sound
      val ranged = StatsPrune.servingScoped(spark) {
        VersionedTable.read(spark, root)
          .filter(col("id") >= 100L && col("id") <= 110L).select("id")
      }
      assert(ranged.as[Long].collect().toSet === (100L to 110L).toSet)
    } finally StatsPrune.clear()
  }

  test("a filtered read plans only admitted files; result equals the unpruned read; strict bounds relax soundly") {
    val root = mkRegistered("graft_sp_")
    try {
      val expected = (30L to 40L).map(i => (i, s"p_$i")).toSet
      val got = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("id") > 29L && col("id") < 41L) // strict → inclusive box
          .select("id", "payload")
        assert(scanFiles(q) === Some(1)) // 30..40 lives in the [26..50] file
        q
      }
      assert(got.as[(Long, String)].collect().toSet === expected)
      // conjunct on BOTH indexed columns: the w bound tightens admission
      val got2 = StatsPrune.servingScoped(spark) {
        VersionedTable.read(spark, root)
          .filter(col("id") >= 30L && col("id") <= 40L && col("w") === 36L)
          .select("id").orderBy("id")
      }
      assert(got2.as[Long].collect().toSeq ===
        (30L to 40L).filter(i => (i * 37) % 97 == 36))
      // IN-list prunes via its [min, max] envelope
      val got3 = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("id").isin(31L, 33L, 40L)).select("id")
        assert(scanFiles(q) === Some(1)) // envelope [31, 40] ⊂ [26..50]
        q
      }
      assert(got3.as[Long].collect().toSet === Set(31L, 33L, 40L))
    } finally StatsPrune.clear()
  }

  test("aggregates above the filter bind unchanged (exprIds preserved); empty box yields an empty plan with the right schema") {
    val root = mkRegistered("graft_sp_agg_")
    try {
      val got = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("id") >= 26L && col("id") <= 50L)
          .groupBy((col("id") % 2L).as("par")).agg(sum("id").as("s"))
        assert(scanFiles(q) === Some(1)) // 26..50 is exactly the 2nd file
        q
      }
      assert(got.select(sum("s")).as[Long].head() === (26L to 50L).sum)
      val empty = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root).filter(col("id") > 1000L)
        assert(scanFiles(q).isEmpty) // LocalRelation: no file scan at all
        q
      }
      assert(empty.count() === 0 && empty.columns.toSet === Set("id", "payload", "w"))
    } finally StatsPrune.clear()
  }

  test("the rule fires through the SQL surface: a filtered view query plans only admitted files") {
    val root = mkRegistered("graft_sp_sql_")
    try {
      val got = StatsPrune.servingScoped(spark) {
        VersionedTable.read(spark, root).createOrReplaceTempView("sp_sql_t")
        val q = spark.sql(
          "SELECT id, payload FROM sp_sql_t WHERE id BETWEEN 30 AND 40")
        assert(scanFiles(q) === Some(1))
        q
      }
      assert(got.as[(Long, String)].collect().toSet ===
        (30L to 40L).map(i => (i, s"p_$i")).toSet)
    } finally StatsPrune.clear()
  }

  test("the rule prunes a partitioned table's scan and rebuilds partition values via basePath") {
    val root = Scratch.dir("graft_sp_part_") + "/t"
    val df = (1L to 120L).map(i => (i, i % 3)).toDF("id", "bucket")
    VersionedTable.create(spark, root, df, Seq("bucket"))
    VersionedStats.enable(spark, root, Seq("bucket", "id"))
    StatsPrune.register(spark, root)
    try {
      val got = StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root)
          .filter(col("bucket") === 1L && col("id") <= 60L)
        assert(scanFiles(q).exists(_ < 3)) // only bucket=1's file(s) planned
        q
      }
      // partition values survive the rebuilt relation
      assert(got.select("id", "bucket").as[(Long, Long)].collect().toSet ===
        (1L to 60L).filter(_ % 3 == 1).map(i => (i, 1L)).toSet)
    } finally StatsPrune.clear()
  }

  test("sound fallbacks: unindexed/non-literal predicates, disabled flag, and unregistered tables scan everything") {
    val root = mkRegistered("graft_sp_fb_")
    try {
      StatsPrune.servingScoped(spark) {
        // payload is not indexed; id vs id is not a literal bound
        val q1 = VersionedTable.read(spark, root).filter(col("payload") === "p_3")
        assert(scanFiles(q1) === Some(4))
        val q2 = VersionedTable.read(spark, root).filter(col("id") > col("w"))
        assert(scanFiles(q2) === Some(4))
        assert(q1.count() === 1)
        q1
      }
      // flag off (restored by servingScoped): same filter prunes nothing
      val q3 = VersionedTable.read(spark, root).filter(col("id") >= 26L && col("id") <= 50L)
      assert(scanFiles(q3) === Some(4))
      // a different, unregistered table is never touched
      val other = Scratch.dir("graft_sp_o_") + "/t"
      VersionedTable.create(spark, other, (1L to 10L).map(i => (i, i)).toDF("id", "w"))
      StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, other).filter(col("id") <= 3L)
        assert(scanFiles(q).exists(_ >= 1)) // untouched: its full file set
        assert(q.count() === 3)
        q
      }
    } finally StatsPrune.clear()
  }

  test("the head check heals a SHRINK-ONLY head — a strict subset of the pinned set (r16)") {
    // A delete that fully covers its hit files writes NO replacement, so
    // the new head's file set is a strict subset of the pinned older
    // version's — the case a subset-means-pruned-output gate would skip
    // forever, leaving every filtered head read a full scan.
    val root = Scratch.dir("graft_sp_shrink_") + "/t"
    // contiguous id ranges per bucket: each partition file gets a disjoint
    // [min,max] box, so an id filter can prove pruning after the heal
    val df = (1L to 100L).map(i => (i, s"p_$i", (i - 1) / 25))
      .toDF("id", "payload", "bucket").repartition(1)
    VersionedTable.create(spark, root, df, Seq("bucket"))
    VersionedStats.enable(spark, root, Seq("id"))
    StatsPrune.register(spark, root)
    try {
      StatsPrune.detachListenerKeepHeadCheck(root) // a foreign-process commit
      assert(VersionedTable.deleteWhere(spark, root, col("bucket") === 3L) === 2)
      def files(v: Int): Set[String] =
        VersionedTable.listSnapshotFiles(spark, root, v)
          .select("part", "file_id").collect()
          .map(r => r.getString(0) + "/" + r.getString(1)).toSet
      val (v1, v2) = (files(1), files(2))
      assert(v2.subsetOf(v1) && v2.size < v1.size,
        s"scenario must produce a shrink-only commit (v1 ${v1.size} files, v2 ${v2.size})")
      StatsPrune.servingScoped(spark) {
        val q = VersionedTable.read(spark, root).filter(col("id") <= 5L)
        assert(scanFiles(q).exists(_ < v2.size),
          s"the head check must heal the shrunk head (scanned ${scanFiles(q)} of ${v2.size})")
        assert(q.count() === 5) // ids 1..5 live in bucket 0, untouched by the delete
        q
      }
    } finally StatsPrune.clear()
  }
}
