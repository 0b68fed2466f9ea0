package graft

import java.util.Locale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 synthetic-observations source: parallel
  * deterministic generation, column pruning, and compatibility with
  * the hydro pipeline. */
class SyntheticSourceSpec extends AnyFunSuite {
  import TestSpark.spark

  private def read(sites: Int, parts: Int = 4) =
    spark.read.format("graft.sources.v2.SyntheticObservations")
      .option("sites", sites).option("partitions", parts).load()

  private def scanError(sites: Int, parts: Int)(action: DataFrame => Any): String =
    intercept[IllegalArgumentException](action(read(sites, parts))).getMessage

  test("generates 2 series per site across partitions") {
    assert(read(100, 4).count() == 200)
    assert(read(7, 3).count() == 14) // uneven split covers every site
  }

  test("deterministic: same seed same rows, independent of partitioning") {
    val a = read(50, 2).collect().map(_.toString).sorted
    val b = read(50, 5).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("rows match the WaterML time-series schema and feed the pipeline") {
    val ds = read(30)
    assert(ds.schema == graft.sources.WaterML.timeSeries)
    val merged = graft.pipeline.HydroPipeline.mergeSites(
      graft.pipeline.HydroPipeline.toFeatures(ds))
    assert(merged.count() == 30) // one merged row per site
    // both variable branches populated for every site
    assert(merged.filter(
      col("properties.streamFlow.variableCode").isNull ||
      col("properties.gageHeight.variableCode").isNull).count() == 0)
  }

  test("top-level column pruning reaches the scan") {
    val df = read(10).select(col("name"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("name") && !scan.contains("sourceInfo"),
      s"scan not pruned: $scan")
  }

  test("ungrouped count(*) pushes down completely: O(1) even at a two-billion-row configuration") {
    // plan proof FIRST on a small config — if the pushdown is absent
    // we fail here instead of generating 2B rows below
    val small = read(10).groupBy().count()
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("PushedAggregates: [COUNT(*)]"),
      s"count(*) not pushed to the scan:\n$smallPlan")
    assert(small.collect().map(_.getLong(0)).toSeq == Seq(20L))
    // now the scale proof: a row count no generator loop could answer
    // in test time returns instantly from the pushed scan
    val big = spark.read.format("graft.sources.v2.SyntheticObservations")
      .option("sites", 1000000000L).option("partitions", 4).load()
    assert(big.count() == 2000000000L)
    // negative control: a residual filter blocks the pushdown (Spark
    // only offers an aggregate once the whole subtree is pushed), so
    // the generating scan + real aggregation run and the count is
    // filter-dependent — the assertion above cannot pass vacuously
    val filtered = read(10).filter(col("name").isNotNull).groupBy().count()
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(!fPlan.contains("PushedAggregates"),
      s"filtered count unexpectedly pushed:\n$fPlan")
    assert(fPlan.contains("HashAggregate") || fPlan.contains("SortAggregate"),
      s"filtered count lost its aggregation node:\n$fPlan")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(20L))
  }

  test("golden rows: sites=2, seed=42 serialize to the pinned JSON") {
    val golden = Seq(
      """{"name":"USGS:10000000:00060:00000","sourceInfo":{"siteName":"SYNTHETIC GAUGE 0","siteCode":[{"value":"10000000"}],"geoLocation":{"geogLocation":{"srs":"EPSG:4326","latitude":47.8179,"longitude":-87.938}}},"variable":{"variableCode":[{"value":"00060"}],"unit":{"unitAbbreviation":"cfs"},"noDataValue":-999999.0},"values":[{"value":[{"value":"781.79","dateTime":"2026-01-01T10:19:00.000-05:00"}]}]}""",
      """{"name":"USGS:10000000:00065:00000","sourceInfo":{"siteName":"SYNTHETIC GAUGE 0","siteCode":[{"value":"10000000"}],"geoLocation":{"geogLocation":{"srs":"EPSG:4326","latitude":47.8179,"longitude":-87.938}}},"variable":{"variableCode":[{"value":"00065"}],"unit":{"unitAbbreviation":"ft"},"noDataValue":-999999.0},"values":[{"value":[{"value":"706.20","dateTime":"2026-01-01T10:20:00.000-05:00"}]}]}""",
      """{"name":"USGS:10000001:00060:00000","sourceInfo":{"siteName":"SYNTHETIC GAUGE 1","siteCode":[{"value":"10000001"}],"geoLocation":{"geogLocation":{"srs":"EPSG:4326","latitude":42.062,"longitude":-77.3629}}},"variable":{"variableCode":[{"value":"00060"}],"unit":{"unitAbbreviation":"cfs"},"noDataValue":-999999.0},"values":[{"value":[{"value":"263.71","dateTime":"2026-01-01T10:44:00.000-05:00"}]}]}""",
      """{"name":"USGS:10000001:00065:00000","sourceInfo":{"siteName":"SYNTHETIC GAUGE 1","siteCode":[{"value":"10000001"}],"geoLocation":{"geogLocation":{"srs":"EPSG:4326","latitude":42.062,"longitude":-77.3629}}},"variable":{"variableCode":[{"value":"00065"}],"unit":{"unitAbbreviation":"ft"},"noDataValue":-999999.0},"values":[{"value":[{"value":"178.44","dateTime":"2026-01-01T10:39:00.000-05:00"}]}]}""")
    val rows = spark.read.format("graft.sources.v2.SyntheticObservations")
      .option("sites", 2).option("seed", 42).load().toJSON.collect().toSeq
    assert(rows == golden, rows.mkString("\n", "\n", ""))
  }

  test("readings do not depend on the default locale") {
    def readings(df: DataFrame): Array[String] =
      df.select(explode(col("values")).as("v"))
        .select(explode(col("v.value")).as("o"))
        .select(col("o.value")).collect().map(_.getString(0))
    val original = Locale.getDefault
    val expected = read(50).collect().map(_.toString).sorted
    try {
      Locale.setDefault(Locale.GERMANY) // decimal comma under java.util.Formatter
      val bad = readings(read(50)).filterNot(_.matches("""^\d+\.\d{2}$"""))
      assert(bad.isEmpty, s"locale-formatted readings: ${bad.take(5).mkString(", ")}")
      assert(read(50).collect().map(_.toString).sorted.sameElements(expected))
    } finally Locale.setDefault(original)
  }

  test("a negative sites option fails the count and the scan, naming the option") {
    // the count is answered by the pushed-down count scan, the collect by the generator
    assert(scanError(-5, 4)(_.count()).contains("'sites'"))
    assert(scanError(-5, 4)(_.collect()).contains("'sites'"))
  }

  test("partitions = 0 fails naming the option, not with a division by zero") {
    assert(scanError(10, 0)(_.collect()).contains("'partitions'"))
    assert(scanError(10, 0)(_.count()).contains("'partitions'"))
  }

  test("a negative partitions option fails naming the option") {
    assert(scanError(10, -2)(_.collect()).contains("'partitions'"))
  }
}
