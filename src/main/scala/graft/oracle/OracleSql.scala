package graft.oracle

/** DuckDB oracle-SQL assembly.
  *
  * Every correctness query ships with an equivalent DuckDB SQL statement the
  * driver runs over the raw testdata parquet tables. All warehouse-level
  * queries share one CTE prelude (`/graft/prefix.sql`, also kept at
  * `tools/prefix.sql` for the dev-loop checker) that re-expresses the
  * reference's staging synthesis + warehouse build
  * (reference: `Iteration 1/Group No.6_ETL.sql:82-349`) as DuckDB SQL.
  *
  * The prelude ends inside its `WITH` list, so a query is either
  * `"SELECT ..."` or `", extra_cte AS (...) SELECT ..."` appended to it.
  *
  * Surrogate-key values are engine-specific (SURVEY.md §7 hard-part 2): the
  * oracle assigns `row_number()` keys, the Spark side hash keys — so no
  * compared query ever projects a raw `*_key` surrogate column (date_key is
  * fine: it is a deterministic smart key derived from the timestamp).
  */
object OracleSql {

  /** Shared CTE prelude: staging synthesis + dims + facts. */
  lazy val prefix: String = {
    val in = getClass.getResourceAsStream("/graft/prefix.sql")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Assemble a full oracle statement from a query suffix. */
  def q(sql: String): String = prefix + "\n" + sql.trim
}
