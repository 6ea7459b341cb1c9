package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.TestSpark

/** Result-equivalence properties of the SQL DML router: over a generated
  * family of predicates and assignment lists, the statement path
  * (parse → qualifier rewrite → verb) must equal the declarative
  * DataFrame model computed directly from the base rows. The base table
  * carries NULLs in `w`, so three-valued logic is exercised on every
  * predicate family: a NULL predicate row never updates and never
  * deletes (SQL semantics, the verbs' documented contract). */
object SqlDmlPropertiesSpec extends Properties("sqlDml") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark

  /** 40 rows; every 5th `w` is NULL. */
  private def base = {
    import spark.implicits._
    (1L to 40L).toDF("id").select(
      col("id"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise((col("id") * 31) % 13).cast("long").as("w"),
      concat(lit("p_"), col("id")).as("payload"))
  }

  private case class Pred(sql: String, c: Column)

  private val atomGen: Gen[Pred] = Gen.oneOf(
    for { k <- Gen.chooseNum(2, 7); r <- Gen.chooseNum(0, 6) }
      yield Pred(s"id % $k = ${r % k}", col("id") % k === (r % k)),
    for { c <- Gen.chooseNum(0L, 40L) }
      yield Pred(s"id > $c", col("id") > c),
    for { a <- Gen.chooseNum(0L, 12L); b <- Gen.chooseNum(0L, 12L) }
      yield Pred(s"w BETWEEN ${math.min(a, b)} AND ${math.max(a, b)}",
        col("w").between(math.min(a, b), math.max(a, b))),
    Gen.const(Pred("payload LIKE 'p_1%'", col("payload").like("p_1%"))))

  private val predGen: Gen[Pred] = Gen.oneOf(
    atomGen,
    for { a <- atomGen; b <- atomGen }
      yield Pred(s"(${a.sql}) AND (${b.sql})", a.c && b.c),
    for { a <- atomGen; b <- atomGen }
      yield Pred(s"(${a.sql}) OR (${b.sql})", a.c || b.c))

  private case class Assign(name: String, sql: String, c: Column)

  private val assignsGen: Gen[Seq[Assign]] = Gen.atLeastOne(
    Assign("w", "w * 2 + id", col("w") * 2 + col("id")),
    Assign("payload", "concat(payload, '_', CAST(id AS STRING))",
      concat(col("payload"), lit("_"), col("id").cast("string"))),
    Assign("id", "id + 1000", col("id") + 1000)).map(_.toSeq)

  private def fresh(prefix: String): String = {
    val root = graft.Scratch.dir(prefix) + "/t"
    VersionedTable.create(spark, root, base.repartition(3))
    root
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  property("SQL UPDATE ≡ the declarative CASE-per-column model") =
    Prop.forAll(predGen, assignsGen) { (p, as) =>
      val root = fresh("graft_prop_upd_")
      val stmt = s"UPDATE t SET ${as.map(a => s"${a.name} = ${a.sql}").mkString(", ")} " +
        s"WHERE ${p.sql}"
      SqlDml.execute(spark, stmt, Map("t" -> root)) == 2 && {
        // when() treats a NULL condition as false — exactly the verb's
        // NULL-predicate-rows-don't-update contract
        val want = base.select(base.schema.fields.map { f =>
          as.find(_.name == f.name)
            .map(a => when(p.c, a.c.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
            .getOrElse(col(f.name))
        }.toSeq: _*)
        sameRows(VersionedTable.read(spark, root), want)
      }
    }

  property("SQL DELETE keeps exactly the non-matching rows (NULL predicate keeps)") =
    Prop.forAll(predGen) { p =>
      val root = fresh("graft_prop_del_")
      SqlDml.execute(spark, s"DELETE FROM t WHERE ${p.sql}", Map("t" -> root)) == 2 &&
        sameRows(VersionedTable.read(spark, root),
          base.filter(!coalesce(p.c, lit(false))))
    }

  // ------------------------------------------- top-level keyword scanner
  // The UPDATE…FROM split's correctness core: however many FROM tokens a
  // generated SET-list expression nests inside parentheses, quotes, or
  // identifiers, the scanner must land on exactly the appended top-level
  // join FROM.

  /** A SET-list-ish fragment rich in decoy FROMs: nested parens holding
    * bare FROM tokens, string literals (with '' escapes) and backtick
    * identifiers containing FROM, and identifiers like `platFROMx`. */
  private val decoyFragment: Gen[String] = {
    val leaf = Gen.oneOf(
      Gen.const("a + 1"),
      Gen.const("substring(c FROM 1 FOR 3)"),
      Gen.const("(SELECT max(v) FROM u WHERE u.k = 't')"),
      Gen.const("'it came FROM afar'"),
      Gen.const("'don''t FROM (here)'"),
      Gen.const("`weird FROM col`"),
      Gen.const("platFROMx"),
      Gen.const("trim(BOTH 'x' FROM d)"))
    Gen.nonEmptyListOf(leaf).map(_.take(6).mkString(", "))
  }

  property("topLevelKeyword skips every parenthesized/quoted/embedded FROM") =
    Prop.forAll(decoyFragment) { frag =>
      val sql = s"UPDATE t SET x = $frag FROM src WHERE t.k = src.k"
      val expected = sql.lastIndexOf(" FROM src ") + 1
      SqlDml.topLevelKeyword(sql, "FROM", 0) == expected &&
        SqlDml.topLevelKeyword(sql, "WHERE", expected + 4) ==
          sql.lastIndexOf(" WHERE ") + 1
    }
}
