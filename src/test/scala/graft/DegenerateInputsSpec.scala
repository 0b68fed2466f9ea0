package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-finished and near-dup queries over degenerate inputs:
  * an empty and a one-row `documents`/`events` table and a documents
  * table whose text is all null, each derived from sf0.001's and
  * written to a temp dir. Each query returns a defined result; none
  * fails with a bare `max`, `head`, `reduceLeft` or index error. */
class DegenerateInputsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def tablesDir(name: String)(docs: DataFrame => DataFrame,
                                      events: DataFrame => DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft-$name-tables").toString
    docs(Tables.documents(spark, sf).orderBy(col("doc_id")))
      .write.parquet(s"$dir/documents.parquet")
    events(Tables.events(spark, sf).orderBy(col("event_id")))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def lineitemDir(name: String)(lineitem: DataFrame => DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft-$name-lineitem").toString
    lineitem(Tables.lineitem(spark, sf).orderBy(col("l_orderkey"), col("l_linenumber")))
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private lazy val emptyDir = tablesDir("empty")(_.limit(0), _.limit(0))
  private lazy val oneRowDir = tablesDir("one-row")(_.limit(1), _.limit(1))
  private lazy val nullTextDir =
    tablesDir("null-text")(_.withColumn("text", lit(null).cast("string")), identity)

  private val queries = Seq("q217_quality_bootstrap", "q221_ewma_rates",
    "q256_stationary", "q243_neardup_oph")

  test("empty documents and events: each query returns no rows") {
    for (q <- queries)
      assert(SparkEntry.queries(q)(spark, emptyDir).collect().isEmpty, q)
  }

  test("one-row documents and events: bootstrap and EWMA return one row, the rest none") {
    val expected = Map("q217_quality_bootstrap" -> 1, "q221_ewma_rates" -> 1,
      "q256_stationary" -> 0, "q243_neardup_oph" -> 0)
    for (q <- queries)
      assert(SparkEntry.queries(q)(spark, oneRowDir).collect().length == expected(q), q)
  }

  test("all-null text: q243 finds no pairs, q217 scores every source at the blend's null value") {
    assert(SparkEntry.queries("q243_neardup_oph")(spark, nullTextDir).collect().isEmpty)
    // a null text's blend terms all read their caps: 0.5 + 0.3 + 0
    val rows = SparkEntry.queries("q217_quality_bootstrap")(spark, nullTextDir).collect()
    val sources = Tables.documents(spark, sf).select("source").distinct().count()
    assert(rows.length == sources)
    assert(rows.forall(r => r.getDouble(2) == 0.8 && r.getDouble(3) == 0.8 && r.getDouble(4) == 0.8))
  }

  test("q53 on empty, one-row and all-null-key lineitem: no group, one group, one null group") {
    def q53(dir: String) = SparkEntry.queries("q53_count_distinct")(spark, dir).collect()
    assert(q53(lineitemDir("empty")(_.limit(0))).isEmpty)
    val one = q53(lineitemDir("one-row")(_.limit(1)))
    assert(one.length == 1 && (1 to 4).forall(i => one.head.getLong(i) == 1L), one.mkString)
    val n = Tables.lineitem(spark, sf).count()
    val nullKeys = lineitemDir("null-keys")(li => Seq("l_returnflag", "l_suppkey", "l_partkey",
      "l_orderkey", "l_linenumber").foldLeft(li)((d, c) =>
        d.withColumn(c, lit(null).cast(li.schema(c).dataType))))
    // every key null: no distinct supplier or part; the tuple key of two
    // nulls is concat_ws's empty string, one value
    assert(q53(nullKeys).toSeq == Seq(Row(null, 0L, 0L, 1L, n)))
  }

  test("q256 on null user ids and null event types: a defined chain, never a bare NPE") {
    def q256(dir: String) = SparkEntry.queries("q256_stationary")(spark, dir).collect()
    def assertChain(rows: Array[Row], what: String): Unit = {
      assert(rows.nonEmpty && rows.forall(!_.isNullAt(0)), s"$what: ${rows.mkString}")
      assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-6, s"$what: ${rows.mkString}")
    }
    // one stream of every event
    assertChain(q256(tablesDir("null-users")(identity,
      _.withColumn("user_id", lit(null).cast("long")))), "null users")
    // a transition out of or into a null type names no state
    assertChain(q256(tablesDir("some-null-types")(identity,
      _.withColumn("event_type", when(col("event_id") % 3 =!= 0, col("event_type"))))), "some null types")
    assert(q256(tablesDir("null-types")(identity,
      _.withColumn("event_type", lit(null).cast("string")))).isEmpty)
  }
}
