package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.HydroPipeline
import graft.sources.WaterML

/** Unit + end-to-end coverage for the reference dataflow (SURVEY.md §5):
  * sites with both variables, one variable, guard-empty values (O7),
  * null timeSeries elements (O2), coalesce-to-'undefined' (O6),
  * deterministic merge (O11) and collection assembly (O13). */
class HydroPipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private val fixtures = "src/test/resources/waterml"
  private lazy val ts = WaterML.timeSeriesOf(spark, fixtures)
  private lazy val features = HydroPipeline.toFeatures(ts)
  private lazy val merged = HydroPipeline.mergeSites(features)

  test("O2: explode drops null timeSeries elements") {
    // 5 elements in xx (one null) + 3 in yy => 7 series
    assert(ts.count() == 7)
  }

  test("O5: features carry geometry [lon, lat] and nested properties") {
    val f = features.filter(col("properties.id") === "USGS:01646500:00060:00000")
      .select(col("geometry.coordinates"), col("properties.site"),
        col("properties.siteCode"),
        element_at(col("properties.variables"), 1).getField("value"))
      .head()
    assert(f.getSeq[Double](0) == Seq(-77.12763889, 38.94977778))
    assert(f.getString(1).startsWith("POTOMAC RIVER"))
    assert(f.getString(2) == "01646500")
    assert(f.getString(3) == "11200")
  }

  test("O6: missing siteName/srs/noDataValue coalesce to 'undefined'") {
    val f = features.filter(col("properties.id") === "USGS:11530500:00065:00000")
      .select(col("properties.site"), col("properties.srs"),
        element_at(col("properties.variables"), 1).getField("noDataValue"))
      .head()
    assert(f.getString(0) == "undefined")
    assert(f.getString(1) == "undefined")
    assert(f.getString(2) == "undefined")
  }

  test("O7: series with empty values[0].value get null variableCode and merge drops them") {
    val guarded = features
      .filter(col("properties.id") === "USGS:03339000:00060:00000")
      .select(element_at(col("properties.variables"), 1).getField("variableCode"))
      .head()
    assert(guarded.isNullAt(0))
    assert(merged.filter(col("properties.siteCode") === "03339000").count() == 0)
  }

  test("O9: byVariable routes exactly the matching branch") {
    assert(HydroPipeline.byVariable(features, "00060").count() == 3) // A, E, F (D guarded out)
    assert(HydroPipeline.byVariable(features, "00065").count() == 3) // A, B, F
  }

  test("O11: one row per site; both variables folded in") {
    assert(merged.count() == 4) // A both, B gage, E flow, F both
    val a = merged.filter(col("properties.siteCode") === "01646500")
      .select(col("properties.streamFlow.value"), col("properties.gageHeight.value"))
      .head()
    assert(a.getString(0) == "11200" && a.getString(1) == "2.95")
    val b = merged.filter(col("properties.siteCode") === "02096960")
      .select(col("properties.streamFlow"), col("properties.gageHeight.value"))
      .head()
    assert(b.isNullAt(0) && b.getString(1) == "4.10")
    val e = merged.filter(col("properties.siteCode") === "09380000")
      .select(col("properties.streamFlow.value"), col("properties.gageHeight"))
      .head()
    assert(e.getString(0) == "9650" && e.isNullAt(1))
  }

  test("O11: merge is deterministic under input permutation") {
    val shuffled = HydroPipeline.mergeSites(
      features.repartition(7).sortWithinPartitions(rand(seed = 7)))
    val x = merged.select(col("properties.siteCode"), to_json(col("properties")))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val y = shuffled.select(col("properties.siteCode"), to_json(col("properties")))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(x == y)
  }

  test("O13: single FeatureCollection doc, sorted by siteCode") {
    val doc = HydroPipeline.toFeatureCollection(merged).head()
    val data = doc.getSeq[Row](0)
    assert(data.length == 4)
    val codes = data.map(_.getStruct(1).getString(3))
    assert(codes == codes.sorted)
    assert(data.forall(_.getString(0) == "Feature"))
  }

  test("HydroMain's document: one bounded collect of the FeatureCollection, parses back") {
    def parsed(collection: org.apache.spark.sql.DataFrame) = {
      val doc = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.pipeline.HydroMain.document(collection))
      assert(doc.path("type").asText == "FeatureCollection")
      val data = doc.path("data")
      assert(data.isArray)
      val fs = (0 until data.size).map(data.get)
      val codes = fs.map(_.path("properties").path("siteCode").asText)
      assert(codes == codes.sorted && codes.forall(_.nonEmpty))
      assert(fs.forall(f => f.path("type").asText == "Feature" &&
        f.path("geometry").path("coordinates").size == 2))
      codes
    }
    // HydroMain's own path over the golden WaterML responses
    assert(parsed(HydroPipeline.run(spark, fixtures)) ==
      Seq("01646500", "02096960", "09380000", "11530500"))
    // the oracle fixture: the golden responses plus three crafted sites
    val fixture = HydroPipeline.mergeSites(
      HydroPipeline.toFeatures(spark.read.parquet("fixtures/hydro/timeseries.parquet")))
    assert(parsed(HydroPipeline.toFeatureCollection(fixture)).size == 7)
    assert(fixture.count() == 7)
  }

  test("incremental ingest: streamed features merge to the same sites as batch") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val q = HydroPipeline.ingestStream(spark, fixtures, s"$base/features", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val merged2 = HydroPipeline.mergeSites(spark.read.parquet(s"$base/features"))
    val sites = merged2.select(col("properties.siteCode"))
      .collect().map(_.getString(0)).sorted
    assert(sites.toSeq == Seq("01646500", "02096960", "09380000", "11530500"))
  }

  test("scale path: streamed FeatureCollection write emits one JSON line per site") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fc").toString + "/fc"
    HydroPipeline.writeFeatureCollectionStreamed(merged, dir)
    val lines = spark.read.text(dir)
    assert(lines.count() == 4)
    assert(lines.filter(col("value").contains("\"type\":\"Feature\"")).count() == 4)
  }
}
