package graft.sources

import java.util.concurrent.{CountDownLatch, ConcurrentLinkedQueue}

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.TestSpark

/** Model-based concurrency property for the stats layer (r17, VERDICT r16
  * #8): the per-root locks (ADVICE r15) serialize enable/refresh/publish,
  * but the three drivers that share them — StatsPrune's heal on a
  * planning thread, the commit listener, and the maintenance loop — run
  * CONCURRENTLY with a writer moving the table head. Each trial runs a
  * random interleaving (a writer committing DML, two refresh stormers, a
  * healing reader with pruning enabled, all racing) and then checks the
  * invariants an interleaving bug would break:
  *   - no thread throws;
  *   - every published stats version is exactly one row per file of that
  *     version's snapshot — no duplicated, partial, or stale file rows
  *     (the silent-wrong-pruning class the locks exist to prevent);
  *   - after a final refresh the head is statted, and pruned reads equal
  *     unpruned reads on the final state;
  *   - pinned reads during the storm match the writer's model per version.
  */
object VersionedStatsConcurrencySpec extends Properties("versionedStatsConcurrency") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3)

  private lazy val spark = TestSpark.spark

  private case class Plan(commits: Int, refreshes: Int, healReads: Int, seed: Long)
  private val planGen: Gen[Plan] = for {
    c <- Gen.chooseNum(3, 6)
    r <- Gen.chooseNum(3, 8)
    h <- Gen.chooseNum(3, 8)
    s <- Gen.chooseNum(0L, Long.MaxValue)
  } yield Plan(c, r, h, s)

  property("publish/refresh/heal storm keeps per-version stats exact") =
    Prop.forAll(planGen) { plan =>
      import spark.implicits._
      val root = graft.Scratch.dir("graft_vsc_") + "/t"
      val rnd = new scala.util.Random(plan.seed)
      VersionedTable.create(spark, root,
        (1L to 200L).map(i => (i, i * 3)).toDF("id", "payload")
          .repartitionByRange(4, col("id")))
      VersionedStats.enable(spark, root, Seq("id"))
      graft.plans.StatsPrune.register(spark, root)
      spark.conf.set(graft.plans.StatsPrune.EnabledKey, "true")
      try {
        // writer model: version -> expected sum(id) at that version
        val model = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        model.put(1, (1L to 200L).sum)
        val errors = new ConcurrentLinkedQueue[Throwable]()
        val start = new CountDownLatch(1)
        def thread(name: String)(body: => Unit): Thread = {
          val t = new Thread(() => {
            start.await()
            try body catch { case e: Throwable => errors.add(e) }
          }, name)
          t.start(); t
        }
        // the single writer moves the head with randomized DML; each
        // commit's expected state lands in the model AFTER the commit
        var alive = (1L to 200L).toSet
        val writerSleeps = Array.fill(plan.commits)(rnd.nextInt(40))
        val writerPicks = Array.fill(plan.commits)(rnd.nextInt(190) + 1)
        val writer = thread("writer") {
          var c = 0
          while (c < plan.commits) {
            Thread.sleep(writerSleeps(c).toLong)
            val lo = writerPicks(c).toLong
            val v = VersionedTable.deleteWhere(spark, root,
              col("id").between(lo, lo + 4))
            alive = alive.filterNot(i => i >= lo && i <= lo + 4)
            model.put(v, alive.sum)
            c += 1
          }
        }
        // refresh stormers: the commit-listener / maintenance role
        val refreshers = (1 to 2).map { j =>
          val sleeps = Array.fill(plan.refreshes)(rnd.nextInt(30))
          thread(s"refresh-$j") {
            var r = 0
            while (r < plan.refreshes) {
              Thread.sleep(sleeps(r).toLong)
              VersionedStats.refresh(spark, root)
              r += 1
            }
          }
        }
        // healing reader: pruned reads of the moving head (exercises
        // StatsPrune's head heal on a planning thread) plus a PINNED read
        // checked against the writer's model
        val healer = thread("healer") {
          var r = 0
          while (r < plan.healReads) {
            Thread.sleep(rnd.nextInt(25).toLong)
            val lo = 1 + rnd.nextInt(150)
            VersionedTable.read(spark, root)
              .filter(col("id").between(lo.toLong, lo.toLong + 20))
              .agg(sum("id")).collect()
            val v = VersionedTable.latestVersion(spark, root)
            if (model.containsKey(v)) {
              val got = VersionedTable.read(spark, root, Some(v))
                .agg(sum("id")).head().getLong(0)
              if (got != model.get(v))
                throw new AssertionError(
                  s"pinned read of v$v got $got, model says ${model.get(v)}")
            }
            r += 1
          }
        }
        start.countDown()
        (Seq(writer, healer) ++ refreshers).foreach(_.join(120000))
        if (!errors.isEmpty) throw errors.peek()

        // convergence + exactness
        VersionedStats.refresh(spark, root)
        val head = VersionedTable.latestVersion(spark, root)
        val statted = VersionedStats.stattedVersions(spark, root)
        Prop.collect(s"commits=${plan.commits}") {
          val headStatted = statted.contains(head)
          val perVersionExact = statted.forall { v =>
            val rows = VersionedStats.statsFor(spark, root, v)
              .select("part", "file_id").collect()
              .map(r => (r.getString(0), r.getString(1)))
            val files = VersionedTable.snapshotFiles(spark, root, v).toSet
            rows.length == rows.toSet.size && rows.toSet == files
          }
          val expected = model.get(head)
          val pruned = VersionedTable.read(spark, root)
            .agg(sum("id")).head().getLong(0)
          spark.conf.set(graft.plans.StatsPrune.EnabledKey, "false")
          val unpruned = VersionedTable.read(spark, root)
            .agg(sum("id")).head().getLong(0)
          spark.conf.set(graft.plans.StatsPrune.EnabledKey, "true")
          (headStatted :| "head version must be statted after final refresh") &&
            (perVersionExact :| "every statted version is exactly its snapshot's files") &&
            ((pruned == expected && unpruned == expected) :|
              s"final reads $pruned/$unpruned must equal model $expected")
        }
      } finally {
        spark.conf.unset(graft.plans.StatsPrune.EnabledKey)
      }
    }
}
