package graft.sources

import graft.{Scratch, SparkSpec}

/** S1: the CSV staging reader must land every column as a nullable string,
  * preserving dirty values verbatim for the cleaning layer. */
class SourcesSpec extends SparkSpec {

  test("csvStaging reads headers, keeps all columns string, preserves dirty values") {
    val dir = java.nio.file.Paths.get(Scratch.dir("graft_csv"))
    val csv = dir.resolve("stg_customers.csv")
    java.nio.file.Files.writeString(csv,
      """customerid,customername,country,signupdate
        |42,"  alice SMITH  ",gERMANY,2020-01-31
        |,noid,France,not-a-date
        |7,"comma, name",,
        |""".stripMargin)
    val df = Sources.csvStaging(spark, csv.toString,
      Seq("customerid", "customername", "country", "signupdate"))
    assert(df.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.StringType && f.nullable))
    val rows = df.collect().map(r => (0 to 3).map(i => Option(r.getString(i))))
    assert(rows.length === 3)
    assert(rows(0) === Seq(Some("42"), Some("  alice SMITH  "), Some("gERMANY"), Some("2020-01-31")))
    assert(rows(1) === Seq(None, Some("noid"), Some("France"), Some("not-a-date")))
    assert(rows(2) === Seq(Some("7"), Some("comma, name"), None, None))

    // and the cleaning layer consumes it directly
    val cleaned = graft.etl.Transforms.customersBase(df)
    assert(cleaned.count() === 2) // blank-id row dropped
  }

  test("readEvolved merges schema versions; readAs null-fills identically with no footer scan") {
    import spark.implicits._
    val dir = Scratch.dir("graft_evo")
    Scratch.drop(Seq((1L, "x")).toDF("id", "a"), dir, "v1")
    Scratch.drop(Seq((2L, "y", 9.0)).toDF("id", "a", "b"), dir, "v2")
    val merged = Sources.readEvolved(spark, s"$dir/drops")
    assert(merged.columns.toSet === Set("id", "a", "b"))
    val rows = merged.select("id", "a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    assert(rows === Set((1L, "x", None), (2L, "y", Some(9.0))))
    // the explicit-schema scale path reads the same frame
    val explicit = Sources.readAs(spark, merged.schema, s"$dir/drops")
      .select(merged.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(explicit.collect().map(_.toString).sorted ===
      merged.select(merged.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted)
  }
}
