package graft.sources

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.TestSpark

/** Model-based properties of the manifest snapshot protocol (r16): a
  * random SEQUENCE of committed verbs — delete / update / merge / insert /
  * tombstone purge / compact / restore — runs against both the real
  * versioned table and a trivial in-memory model (a Map per version), then
  * EVERY retained version must read back exactly its model state (time
  * travel included, across file sharing, compactions and restores), and
  * the CDC feed over the whole span must equal the model diff. This is
  * the protocol-level complement of the per-verb specs: whatever
  * interleaving the generator finds, a manifest that loses a carried
  * file, resurrects a deleted row, or serves the wrong version's file set
  * falsifies a property. */
object VersionedTablePropertiesSpec extends Properties("versionedTable") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = TestSpark.spark

  private type Model = Map[Long, Long] // id -> payload

  private sealed trait Op
  private case class Delete(mod: Long, rem: Long) extends Op
  private case class Update(mod: Long, rem: Long, add: Long) extends Op
  private case class Merge(ids: Seq[Long], payload: Long) extends Op
  private case class Insert(ids: Seq[Long], payload: Long) extends Op
  private case class Purge(ids: Seq[Long]) extends Op
  private case object Compact extends Op
  private case class Restore(back: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> (for { m <- Gen.chooseNum(2L, 9L); r <- Gen.chooseNum(0L, 8L) }
      yield Delete(m, r % m)),
    3 -> (for { m <- Gen.chooseNum(2L, 9L); r <- Gen.chooseNum(0L, 8L)
                a <- Gen.chooseNum(1L, 500L) } yield Update(m, r % m, a)),
    2 -> (for { ids <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 80L))
                p <- Gen.chooseNum(1000L, 2000L) }
      yield Merge(ids.distinct, p)),
    2 -> (for { ids <- Gen.nonEmptyListOf(Gen.chooseNum(200L, 260L))
                p <- Gen.chooseNum(1L, 99L) } yield Insert(ids.distinct, p)),
    1 -> Gen.nonEmptyListOf(Gen.chooseNum(1L, 80L)).map(ids => Purge(ids.distinct)),
    1 -> Gen.const(Compact),
    1 -> Gen.chooseNum(1, 3).map(Restore))

  /** The model step for one committed op. `versions` holds the COMMITTED
    * model states (index v-1 = version v); Restore targets max(1, head -
    * back) like the table side, and a head-targeted restore commits
    * NOTHING (the verb's documented no-op), signalled by None. */
  private def applyModel(op: Op, versions: Vector[Model]): Option[Model] = {
    val m = versions.last
    op match {
      case Delete(k, r) => Some(m.filterNot { case (id, _) => id % k == r })
      case Update(k, r, a) => Some(m.map { case (id, p) =>
        id -> (if (id % k == r) p + a else p) })
      case Merge(ids, p) => Some(m ++ ids.map(_ -> p))
      case Insert(ids, p) =>
        // insertInto APPENDS; the model keys by id, so only ids not already
        // present insert (the table side skips the rest the same way)
        Some(m ++ ids.filterNot(m.contains).map(_ -> p))
      case Purge(ids) => Some(m -- ids)
      case Compact => Some(m)
      case Restore(back) =>
        val target = math.max(1, versions.size - back)
        if (target == versions.size) None // head restore: no commit
        else Some(versions(target - 1))
    }
  }

  private def applyTable(spark: org.apache.spark.sql.SparkSession,
      root: String, op: Op, model: Model): Unit = {
    import spark.implicits._
    op match {
      case Delete(k, r) =>
        VersionedTable.deleteWhere(spark, root, col("id") % k === r)
      case Update(k, r, a) =>
        VersionedTable.updateWhere(spark, root, col("id") % k === r,
          Map("payload" -> (col("payload") + a)))
      case Merge(ids, p) =>
        VersionedTable.mergeInto(spark, root,
          ids.map(i => (i, p)).toDF("id", "payload"), Seq("id"))
      case Insert(ids, p) =>
        val fresh = ids.filterNot(model.contains)
        if (fresh.isEmpty)
          VersionedTable.deleteWhere(spark, root, lit(false)) // no-op commit
        else VersionedTable.insertInto(spark, root,
          fresh.map(i => (i, p)).toDF("id", "payload"))
      case Purge(ids) =>
        VersionedTable.deleteKeys(spark, root, ids.toDF("id"), Seq("id"))
      case Compact =>
        VersionedTable.compact(spark, root, targetBytes = 1L << 30)
      case Restore(back) =>
        val head = VersionedTable.latestVersion(spark, root)
        VersionedTable.restore(spark, root, math.max(1, head - back))
    }
  }

  property("every retained version reads as its model; CDC equals the model diff") =
    Prop.forAll(Gen.listOfN(6, opGen)) { ops =>
      import spark.implicits._
      val root = graft.Scratch.dir("graft_vt_prop_") + "/t"
      val init: Model = (1L to 60L).map(i => i -> i * 10L).toMap
      VersionedTable.create(spark, root,
        init.toSeq.toDF("id", "payload").repartition(4))
      var versions = Vector(init)
      ops.foreach { op =>
        applyTable(spark, root, op, versions.last)
        applyModel(op, versions).foreach(next => versions = versions :+ next)
      }
      val head = VersionedTable.latestVersion(spark, root)
      val sizeOk = head == versions.size || {
        println(s"version count mismatch: table $head vs model ${versions.size}")
        false
      }
      val all = sizeOk && (1 to head).forall { v =>
        val got = VersionedTable.read(spark, root, Some(v))
          .as[(Long, Long)].collect().toMap
        got == versions(v - 1) || {
          println(s"version $v mismatch: got ${got.size} rows, " +
            s"model ${versions(v - 1).size}"); false
        }
      }
      // full-span CDC ≡ model diff
      val feedOk = head == 1 || {
        val first = versions.head; val last = versions.last
        val expect =
          (first.keySet -- last.keySet).map(id => (id, "delete")) ++
          (last.keySet -- first.keySet).map(id => (id, "insert")) ++
          first.keySet.intersect(last.keySet)
            .filter(id => first(id) != last(id))
            .flatMap(id => Seq((id, "update_preimage"), (id, "update_postimage")))
        val got = VersionedTable.changes(spark, root, 1, head, Seq("id"))
          .select("id", "change_type").as[(Long, String)].collect().toSet
        got == expect || {
          println(s"feed mismatch: got ${got.size}, expect ${expect.size}"); false
        }
      }
      all && feedOk
    }
}
