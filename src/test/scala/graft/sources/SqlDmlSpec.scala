package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** The SQL DML router — statement shapes, alias rewriting, clause
  * ordering, and the loud rejections at the surface's deliberate bounds.
  * Statements parse through Spark's own SQL parser; these specs check each
  * parsed plan reaches the RIGHT verb with the RIGHT arguments (verb
  * semantics are DmlSpec / VersionedTableSpec territory). */
class SqlDmlSpec extends SparkSpec {

  private def freshProducts(): (String, DataFrame) = {
    val root = Scratch.dir("graft_sqldml_") + "/t"
    val p = graft.etl.Warehouse(spark, sfDir).dimProduct
      .select(col("stockcode"), col("unitprice"), col("category"))
    VersionedTable.create(spark, root, p)
    (root, p)
  }

  private def code = col("stockcode").cast("long")

  test("DELETE without WHERE empties the table; WHERE applies SQL semantics") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    assert(SqlDml.execute(spark, "DELETE FROM p WHERE CAST(stockcode AS LONG) % 2 = 0", t) == 2)
    val expect = p.filter(!(code % 2 === 0)).count()
    assert(VersionedTable.read(spark, root).count() == expect)
    assert(SqlDml.execute(spark, "DELETE FROM p", t) == 3)
    assert(VersionedTable.read(spark, root).count() == 0)
  }

  test("UPDATE with table alias, qualified columns, and old-value semantics") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    // every assignment sees the OLD row: category reads the pre-update price
    assert(SqlDml.execute(spark,
      """UPDATE p pr SET unitprice = pr.unitprice * 2,
         category = concat(pr.category, '_was_', CAST(pr.unitprice AS STRING))
         WHERE CAST(pr.stockcode AS LONG) % 5 = 0""", t) == 2)
    val got = VersionedTable.read(spark, root).filter(code % 5 === 0)
      .select(col("stockcode"), col("unitprice"), col("category"))
    val want = p.filter(code % 5 === 0).select(col("stockcode"),
      (col("unitprice") * 2).cast("decimal(12,2)").as("unitprice"),
      concat(col("category"), lit("_was_"), col("unitprice").cast("string")).as("category"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // untouched rows survive byte-for-byte
    assert(VersionedTable.read(spark, root).filter(code % 5 =!= 0)
      .exceptAll(p.filter(code % 5 =!= 0)).isEmpty)
  }

  test("string literals containing keywords and separators never split the statement") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    assert(SqlDml.execute(spark,
      """UPDATE p SET category = 'WHERE, AND = THEN (WHEN' WHERE unitprice < 0""",
      t) == 2)
    // the predicate matched nothing — the table is unchanged
    assert(VersionedTable.read(spark, root).filter(
      col("category") === "WHERE, AND = THEN (WHEN").count() == 0)
    assert(VersionedTable.read(spark, root).exceptAll(p).isEmpty)
  }

  test("UPDATE assigning a partition column routes to the row-move verb") {
    val root = Scratch.dir("graft_sqlmove_") + "/t"
    val events = graft.streaming.EventOps.events(spark, sfDir)
      .withColumn("ubucket", expr("user_id div 50"))
    VersionedTable.create(spark, root,
      events.repartition(col("ubucket")), Seq("ubucket"))
    assert(SqlDml.execute(spark,
      """UPDATE events SET user_id = user_id + 100000,
         ubucket = (user_id + 100000) div 50
         WHERE user_id % 7 = 0""", Map("events" -> root)) == 2)
    val back = VersionedTable.read(spark, root)
    // movers landed in the directory their NEW user_id names
    assert(back.filter(col("ubucket") =!= expr("user_id div 50")).isEmpty)
    assert(back.filter(col("user_id") >= 100000L).count() ==
      events.filter(col("user_id") % 7 === 0).count())
  }

  test("MERGE: ordered matched clauses (conditional DELETE before UPDATE) and conditional INSERT") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    val source = p.filter(code % 3 === 0)
      .withColumn("unitprice", (col("unitprice") + lit(BigDecimal("1.00"))).cast("decimal(12,2)"))
      .unionByName(p.filter(code % 10 === 0)
        .select((code + 500000).cast("string").as("stockcode"),
          col("unitprice"), lit("Fresh").as("category")))
    source.createOrReplaceTempView("sqldml_src")
    assert(SqlDml.execute(spark, """
      MERGE INTO p AS t USING sqldml_src AS u ON t.stockcode = u.stockcode
      WHEN MATCHED AND t.unitprice > 50 THEN DELETE
      WHEN MATCHED THEN UPDATE SET unitprice = u.unitprice
      WHEN NOT MATCHED AND u.category = 'Fresh' THEN INSERT *""", t) == 2)
    val got = VersionedTable.read(spark, root)
    // matched + expensive → deleted; matched + cheap → re-priced; the rest survive
    val expensive = p.filter(code % 3 === 0 && col("unitprice") > 50)
    assert(got.join(expensive, Seq("stockcode"), "left_semi").count() == 0)
    val repriced = p.filter(code % 3 === 0 && col("unitprice") <= 50)
    assert(got.join(repriced, Seq("stockcode"), "left_semi").count() == repriced.count())
    assert(got.filter(col("category") === "Fresh").count() ==
      p.filter(code % 10 === 0).count())
    // first-true-clause-wins: repriced rows carry source price +1.00
    val gotPrices = got.join(repriced.select("stockcode"), Seq("stockcode"), "left_semi")
      .select(col("stockcode"), col("unitprice"))
    val wantPrices = repriced.select(col("stockcode"),
      (col("unitprice") + lit(BigDecimal("1.00"))).cast("decimal(12,2)").as("unitprice"))
    assert(gotPrices.exceptAll(wantPrices).isEmpty)
  }

  test("MERGE accepts a parenthesized subquery source and identity INSERT (cols) VALUES") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    p.createOrReplaceTempView("sqldml_base")
    assert(SqlDml.execute(spark, """
      MERGE INTO p t
      USING (SELECT CAST(CAST(stockcode AS LONG) + 900000 AS STRING) AS stockcode,
                    unitprice, 'Sub' AS category
             FROM sqldml_base WHERE CAST(stockcode AS LONG) % 100 = 0) s
      ON t.stockcode = s.stockcode
      WHEN NOT MATCHED THEN INSERT (stockcode, unitprice, category)
        VALUES (s.stockcode, s.unitprice, s.category)""", t) == 2)
    assert(VersionedTable.read(spark, root).filter(col("category") === "Sub").count() ==
      p.filter(code % 100 === 0).count())
  }

  test("INSERT INTO: positional self-referential SELECT, column-list null-fill, OVERWRITE replace") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    val base = p.count()
    // positional INSERT…SELECT reading the table it appends to: the SELECT
    // pins to the pre-commit snapshot (no double-append)
    assert(SqlDml.execute(spark, """
      INSERT INTO p
      SELECT CAST(CAST(stockcode AS LONG) + 700000 AS STRING), unitprice, category
      FROM p WHERE CAST(stockcode AS LONG) % 4 = 0""", t) == 2)
    val shifted = p.filter(code % 4 === 0).count()
    assert(VersionedTable.read(spark, root).count() == base + shifted)
    // column-list VALUES: category unlisted → null-fills
    assert(SqlDml.execute(spark,
      "INSERT INTO p (stockcode, unitprice) VALUES ('888881', 3.25)", t) == 3)
    val row = VersionedTable.read(spark, root)
      .filter(col("stockcode") === "888881").collect()
    assert(row.length == 1 && row(0).isNullAt(row(0).fieldIndex("category"))
      && row(0).getDecimal(row(0).fieldIndex("unitprice")).doubleValue() == 3.25)
    // OVERWRITE is a full replace, not an append
    assert(SqlDml.execute(spark,
      "INSERT OVERWRITE p SELECT * FROM p WHERE stockcode = '888881'", t) == 4)
    assert(VersionedTable.read(spark, root).count() == 1)
  }

  test("MERGE NOT MATCHED BY SOURCE: ordered clauses fire only on source-unmatched target rows") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    // source = rows to keep in sync (every 2nd code); the rest of the
    // target is stale: cheap stale rows delete, the others get flagged
    p.filter(code % 2 === 0).createOrReplaceTempView("sqldml_nmbs_src")
    assert(SqlDml.execute(spark, """
      MERGE INTO p AS t USING sqldml_nmbs_src AS u ON t.stockcode = u.stockcode
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE AND t.unitprice < 2 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET category = 'Stale'""", t) == 2)
    val got = VersionedTable.read(spark, root)
    val matchedRows = p.filter(code % 2 === 0)
    // NULL-safe: a NULL price fires no NMBS delete (coalesce-false), so
    // the row survives into the unconditional 'Stale' clause
    val staleKept = p.filter(code % 2 =!= 0 &&
      (col("unitprice") >= 2 || col("unitprice").isNull))
    val staleDropped = p.filter(code % 2 =!= 0 && col("unitprice") < 2)
    assert(got.count() == matchedRows.count() + staleKept.count())
    assert(got.filter(col("category") === "Stale").count() == staleKept.count())
    assert(got.join(staleDropped.select("stockcode"), Seq("stockcode"), "left_semi").count() == 0)
    // matched rows never see an NMBS clause: their categories are untouched
    assert(got.join(matchedRows.select("stockcode"), Seq("stockcode"), "left_semi")
      .filter(col("category") === "Stale").count() == 0)
  }

  test("DDL: CTAS, TRUNCATE, ADD/DROP COLUMNS and constraint statements route to the lifecycle verbs") {
    val (root, p) = freshProducts()
    val root2 = Scratch.dir("graft_sqlctas_") + "/t"
    val t = Map("p" -> root, "c" -> root2)
    assert(SqlDml.execute(spark,
      "CREATE TABLE c AS SELECT stockcode, unitprice FROM p WHERE unitprice >= 5", t) == 1)
    val expect = p.filter(col("unitprice") >= 5).count()
    assert(VersionedTable.read(spark, root2).count() == expect)
    // existing target without IF NOT EXISTS is loud; with it, a no-op
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, "CREATE TABLE c AS SELECT * FROM p", t)
    }.getMessage.contains("already exists"))
    assert(SqlDml.execute(spark, "CREATE TABLE IF NOT EXISTS c AS SELECT * FROM p", t) == 1)
    assert(SqlDml.execute(spark, "ALTER TABLE c ADD COLUMNS (note STRING)", t) == 2)
    assert(VersionedTable.read(spark, root2).columns.contains("note"))
    assert(SqlDml.execute(spark, "ALTER TABLE c ADD CONSTRAINT pos CHECK (unitprice >= 5)", t) == 2)
    intercept[IllegalStateException] {
      SqlDml.execute(spark,
        "INSERT INTO c (stockcode, unitprice) VALUES ('1', 0.50)", t)
    }
    assert(SqlDml.execute(spark, "ALTER TABLE c DROP CONSTRAINT pos", t) == 2)
    assert(SqlDml.execute(spark,
      "INSERT INTO c (stockcode, unitprice) VALUES ('1', 0.50)", t) == 3)
    assert(SqlDml.execute(spark, "ALTER TABLE c DROP COLUMNS IF EXISTS (note, ghost)", t) == 4)
    assert(!VersionedTable.read(spark, root2).columns.contains("note"))
    assert(SqlDml.execute(spark, "TRUNCATE TABLE c", t) == 5)
    assert(VersionedTable.read(spark, root2).count() == 0)
  }

  test("query: SELECT over registered tables with VERSION AS OF; TIMESTAMP AS OF rejected") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    assert(SqlDml.execute(spark, "DELETE FROM p WHERE CAST(stockcode AS LONG) % 2 = 0", t) == 2)
    val v1 = SqlDml.query(spark, "SELECT count(*) AS n FROM p VERSION AS OF 1", t)
      .head().getLong(0)
    val head = SqlDml.query(spark, "SELECT count(*) AS n FROM p", t).head().getLong(0)
    assert(v1 == p.count() && head == p.filter(!(code % 2 === 0)).count())
    // joins across two pinned versions of the same table analyze cleanly
    val rejoined = SqlDml.query(spark, """
      SELECT count(*) AS n FROM p VERSION AS OF 1 a
      JOIN p b ON a.stockcode = b.stockcode""", t).head().getLong(0)
    assert(rejoined == head)
    assert(intercept[IllegalArgumentException] {
      SqlDml.query(spark,
        "SELECT * FROM p TIMESTAMP AS OF '2026-01-01'", t)
    }.getMessage.contains("VERSION AS OF"))
  }

  test("table_changes TVF reads the CDC feed inside a SELECT; bad arity is loud") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    assert(SqlDml.execute(spark, "DELETE FROM p WHERE CAST(stockcode AS LONG) % 7 = 0", t) == 2)
    val feed = SqlDml.query(spark, """
      SELECT change_type, count(*) AS n
      FROM table_changes('p', 1, 2, 'stockcode')
      GROUP BY change_type""", t).collect()
    assert(feed.length == 1 && feed(0).getString(0) == "delete" &&
      feed(0).getLong(1) == p.filter(code % 7 === 0).count())
    assert(intercept[IllegalArgumentException] {
      SqlDml.query(spark, "SELECT * FROM table_changes('p', 1, 2)", t).collect()
    }.getMessage.contains("table_changes"))
  }

  test("INSERT INTO … SELECT FROM table_changes applies a CDC span downstream") {
    val (root, p) = freshProducts()
    val auditRoot = Scratch.dir("graft_sqlaud_") + "/t"
    val empty = p.select(col("stockcode"), lit("").as("change_type")).limit(0)
    VersionedTable.create(spark, auditRoot, empty)
    val t = Map("p" -> root, "audit" -> auditRoot)
    assert(SqlDml.execute(spark, "DELETE FROM p WHERE CAST(stockcode AS LONG) % 11 = 0", t) == 2)
    assert(SqlDml.execute(spark, """
      INSERT INTO audit
      SELECT stockcode, change_type FROM table_changes('p', 1, 2, 'stockcode')""", t) == 2)
    val audit = VersionedTable.read(spark, auditRoot)
    assert(audit.count() == p.filter(code % 11 === 0).count())
    assert(audit.filter(col("change_type") =!= "delete").count() == 0)
  }

  test("OPTIMIZE and VACUUM statements route to compact/cluster/vacuum") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    assert(SqlDml.execute(spark, "OPTIMIZE p", t) == 2)
    assert(SqlDml.execute(spark, "OPTIMIZE p ZORDER BY (stockcode)", t) == 3)
    assert(SqlDml.execute(spark, "VACUUM p RETAIN 1 VERSIONS", t) == 3)
    assert(scala.util.Try(VersionedTable.read(spark, root, Some(2)).count()).isFailure)
    // values untouched through the whole maintenance chain
    assert(VersionedTable.read(spark, root).exceptAll(p).isEmpty)
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, "OPTIMIZE p TARGET 1000 ZORDER BY (stockcode)", t)
    }.getMessage.contains("TARGET"))
  }

  test("DDL rejections: non-identity partitioning, column positions, unknown constraint") {
    val (root, p) = freshProducts()
    val root2 = Scratch.dir("graft_sqlctasrej_") + "/t"
    val t = Map("p" -> root, "c" -> root2)
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark,
        "CREATE TABLE c PARTITIONED BY (bucket(4, stockcode)) AS SELECT * FROM p", t)
    }.getMessage.contains("identity"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark,
        "ALTER TABLE p ADD COLUMNS (note STRING AFTER stockcode)", t)
    }.getMessage.contains("positions"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, "ALTER TABLE p DROP CONSTRAINT nope", t)
    }.getMessage.contains("no such constraint"))
  }

  test("loud rejections: unknown table, non-identity VALUES, double NOT MATCHED, non-equi ON, non-DML") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    p.createOrReplaceTempView("sqldml_rej")
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, "DELETE FROM nope", t)
    }.getMessage.contains("unknown table"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, """
        MERGE INTO p t USING sqldml_rej s ON t.stockcode = s.stockcode
        WHEN NOT MATCHED THEN INSERT (stockcode, unitprice, category)
          VALUES (s.stockcode, s.unitprice * 2, s.category)""", t)
    }.getMessage.contains("identity INSERT"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, """
        MERGE INTO p t USING sqldml_rej s ON t.stockcode = s.stockcode
        WHEN NOT MATCHED AND s.unitprice > 0 THEN INSERT *
        WHEN NOT MATCHED THEN INSERT *""", t)
    }.getMessage.contains("at most one"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, """
        MERGE INTO p t USING sqldml_rej s ON t.stockcode < s.stockcode
        WHEN NOT MATCHED THEN INSERT *""", t)
    }.getMessage.contains("equality"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, "SELECT 1", t)
    }.getMessage.contains("not a DML statement"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark,
        "UPDATE p SET category = zz.category WHERE unitprice < 0", t)
    }.getMessage.contains("qualifier"))
  }

  test("MERGE ON with both sides naming the SAME relation is rejected (r16)") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    p.createOrReplaceTempView("sqldml_same")
    // t.k = t.k is a non-join predicate, not an equi-key — silently
    // treating it as one would match different rows than SQL dictates
    for (on <- Seq("t.stockcode = t.stockcode", "s.stockcode = s.stockcode"))
      assert(intercept[IllegalArgumentException] {
        SqlDml.execute(spark, s"""
          MERGE INTO p t USING sqldml_same s ON $on
          WHEN NOT MATCHED THEN INSERT *""", t)
      }.getMessage.contains("equi-key"))
  }

  test("UPDATE…FROM lowers onto MERGE: keys from WHERE, residual gates the clause (r16)") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    p.select(col("stockcode"), (col("unitprice") + lit(100)).as("newprice"))
      .createOrReplaceTempView("sqldml_uf_src")
    // only every-4th-code rows take the joined source price; the join
    // conjunct becomes the MERGE key, the rest the matched condition
    assert(SqlDml.execute(spark, """
      UPDATE p t SET unitprice = s.newprice
      FROM sqldml_uf_src s
      WHERE t.stockcode = s.stockcode AND CAST(t.stockcode AS BIGINT) % 4 = 0""", t) == 2)
    val got = VersionedTable.read(spark, root)
    val expect = p.withColumn("unitprice",
      when(code % 4 === 0 && col("unitprice").isNotNull,
        (col("unitprice") + 100).cast("decimal(12,2)"))
        .otherwise(col("unitprice")))
    assert(p.filter(code % 4 === 0).count() > 0)
    assert(got.select("stockcode", "unitprice", "category")
      .exceptAll(expect.select("stockcode", "unitprice", "category")).isEmpty)
    // no equi-key conjunct in the WHERE → loud rejection, nothing commits
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, """
        UPDATE p t SET unitprice = s.newprice
        FROM sqldml_uf_src s WHERE t.unitprice < 2""", t)
    }.getMessage.contains("equi-join conjunct"))
    // statements Spark's own grammar accepts never reach the rewrite: a
    // plain UPDATE whose SET holds a FROM inside parens stays an UPDATE
    assert(SqlDml.execute(spark,
      "UPDATE p SET category = substring(category FROM 1 FOR 3) WHERE unitprice > 9000", t) == 3)
    // a JOIN-update whose SET list ALSO carries a nested FROM: the
    // top-level split must skip the parenthesized one and find the join
    // FROM (a non-greedy regex split would build a garbage MERGE)
    assert(SqlDml.execute(spark, """
      UPDATE p t SET category = substring(t.category FROM 1 FOR 3)
      FROM sqldml_uf_src s
      WHERE t.stockcode = s.stockcode AND CAST(t.stockcode AS BIGINT) % 50 = 1""", t) == 4)
    // an un-lowerable UPDATE…FROM (subquery source is out of contract)
    // reports the ORIGINAL parse error, never one about a MERGE statement
    // the user never wrote
    val pe = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      SqlDml.execute(spark,
        "UPDATE p t SET unitprice = s.np FROM (SELECT 1 AS np) s WHERE t.stockcode = s.np", t)
    }
    assert(!pe.getMessage.toUpperCase.contains("MERGE"), pe.getMessage)
  }

  test("MERGE INSERT column list must cover every table column (r16)") {
    val (root, p) = freshProducts()
    val t = Map("p" -> root)
    p.createOrReplaceTempView("sqldml_partial")
    // the verb inserts FULL source rows — a partial list would silently
    // take the source's values for the unlisted columns instead of NULL
    assert(intercept[IllegalArgumentException] {
      SqlDml.execute(spark, """
        MERGE INTO p t USING sqldml_partial s ON t.stockcode = s.stockcode
        WHEN NOT MATCHED THEN INSERT (stockcode, unitprice)
          VALUES (s.stockcode, s.unitprice)""", t)
    }.getMessage.contains("cover every table column"))
  }
}
