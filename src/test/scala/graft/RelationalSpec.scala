package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession(4, appName = Some("graft-test"),
    warehouse = Some(java.nio.file.Files.createTempDirectory("graft-wh").toString))
  val sf: String = "/root/testdata/sf0.001"

  /** `f` with the session confs `kv` set, each restored after. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Whole-stage and expression codegen, with no interpreted fallback. */
  val CodegenOnly: Seq[(String, String)] = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")

  /** Interpreted evaluation only. */
  val InterpretedOnly: Seq[(String, String)] = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs and matches its declared column set") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed to execute")
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry: 256 unique names, each with oracle SQL, one key set") {
    val specs = SparkEntry.specs
    val n = specs.size
    assert(n == 256, s"$n specs")
    assert(specs.map(_.name).distinct.size == specs.size)
    val blank = specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == specs.map(_.name).toSet)
    // a name declared twice fails by name, never keeping one silently
    val twice = Seq(specs(0), specs(1), QuerySpec(specs(0).name, specs(2).run, "SELECT 1"))
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(twice))
    assert(e.getMessage.contains(specs(0).name) && !e.getMessage.contains(specs(1).name),
      e.getMessage)
    assert(SparkEntry.distinctNames(specs.take(3)) == specs.take(3))
  }

  test("q01 aggregates match hand-computed values on sf0.001") {
    val rows = SparkEntry.queries("q01_agg_pricing")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(9)).toMap
    val total = rows.values.sum
    val expected = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.to_timestamp_ntz(
          org.apache.spark.sql.functions.lit("1998-09-02"))).count()
    assert(total == expected)
  }

  test("SQL-surface ops leave no temp views behind and stay executable after the drop") {
    // the three spark.sql entry paths create per-call temp views;
    // analysis is eager so they must drop them before returning —
    // otherwise bench (reps × warmup × queries) grows the session
    // catalog without bound.
    val dfs = Seq(
      graft.ops.Relational.sqlSubquery(spark, sf),
      graft.ops.RelationalExt.aggFilterClause(spark, sf),
      graft.ops.RelationalExt.lateralTopN(spark, sf))
    val leaked = spark.catalog.listTables().collect().map(_.name).filter(n =>
      n.startsWith("customer_v_") || n.startsWith("lineitem_v_") ||
        n.startsWith("nation_v_") || n.startsWith("supplier_v_"))
    assert(leaked.isEmpty, s"leaked temp views: ${leaked.mkString(", ")}")
    // the resolved plans must not need the views at execution time
    dfs.foreach(df => assert(df.count() > 0))
  }

  test("q06 window rank: at most 3 rows per customer, rnk in 1..3") {
    val df = SparkEntry.queries("q06_window_rank")(spark, sf)
    import spark.implicits._
    val bad = df.groupBy($"o_custkey").count().filter($"count" > 3).count()
    assert(bad == 0)
    assert(df.filter($"rnk" < 1 || $"rnk" > 3).count() == 0)
  }
}
