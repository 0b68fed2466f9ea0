package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the engine plan it runs over a
  * testdata directory, and the DuckDB SQL that checks its result on
  * the same parquet tables. Columns are aliased identically on both
  * sides, since the driver's compare sorts columns by name before
  * hashing. The SQL is taken by name and built only when
  * [[oracleSql]] is read, so listing the registry builds no SQL. */
final class QuerySpec(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    sql: => String) {
  def oracleSql: String = sql
}

object QuerySpec {
  def apply(name: String, run: (SparkSession, String) => DataFrame, sql: => String): QuerySpec =
    new QuerySpec(name, run, sql)
}
