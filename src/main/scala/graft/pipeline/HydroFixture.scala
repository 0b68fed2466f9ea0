package graft.pipeline

import org.apache.spark.sql.SaveMode
import graft.GraftSession
import graft.sources.WaterML

/** One-shot generator for the hydro ORACLE FIXTURE: the flattened
  * WaterML time-series rows (the [[WaterML.timeSeriesOf]] output
  * schema) written as a single parquet file that BOTH the Spark side
  * ([[HydroQueries]]' q195–q197) and the DuckDB oracle
  * (`read_parquet` by absolute path) read — putting the flagship
  * O5–O13 dataflow under the same hash gate as every other operator.
  *
  * Inputs are the golden-test response files plus `waterml_oracle/`'s
  * crafted edge-case response (duplicate series per (site, variable)
  * to exercise the deterministic min-by merge, a non-00060/00065
  * parameter code the merge must drop, missing siteName/srs/unit →
  * 'undefined', a missing geoLocation, an empty observation array).
  * Rerun after changing ANY of those inputs:
  * `sbt "runMain graft.pipeline.HydroFixture"` then commit the
  * regenerated `fixtures/hydro/timeseries.parquet`.
  *
  * The fixture holds NO (site, variable) pair with two series tying
  * on (series id, value, timeStamp) — the q196 oracle replays the
  * merge's ordering key WITHOUT the engine's metadata-hash tail
  * (xxhash64 has no DuckDB twin), which is winner-equivalent exactly
  * when the key HEAD is tie-free. [[HydroFixture.main]] asserts that
  * invariant at generation time so a future fixture edit cannot
  * silently void the oracle's soundness argument. */
object HydroFixture {
  val FixtureFile = "/root/repo/fixtures/hydro/timeseries.parquet"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    import org.apache.spark.sql.functions._
    val ts = WaterML.timeSeriesOf(spark,
        "/root/repo/src/test/resources/waterml/*.json")
      .unionByName(WaterML.timeSeriesOf(spark,
        "/root/repo/src/test/resources/waterml_oracle/*.json"))
    // soundness gate for the q196 oracle's hashless ordering key:
    // no (site, variable) pair may tie on (id, value, timeStamp)
    val head = ts.select(
      try_element_at(col("sourceInfo.siteCode"), lit(1)).getField("value").as("site"),
      try_element_at(col("variable.variableCode"), lit(1)).getField("value").as("varc"),
      concat_ws("", col("name"),
        try_element_at(try_element_at(col("values"), lit(1)).getField("value"), lit(1))
          .getField("value"),
        try_element_at(try_element_at(col("values"), lit(1)).getField("value"), lit(1))
          .getField("dateTime")).as("key_head"))
    val dup = head.groupBy(col("site"), col("varc"), col("key_head"))
      .count().filter(col("count") > 1).count()
    require(dup == 0,
      s"fixture has $dup (site, variable, key-head) ties - the q196 oracle's " +
        "hashless ordering key would no longer be winner-equivalent")
    val tmp = FixtureFile + ".tmpdir"
    ts.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    // promote the single part file to a plain parquet FILE path (what
    // both read_parquet and spark.read expect in the oracle SQL)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val out = new java.io.File(FixtureFile)
    out.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.listFiles().foreach(_.delete())
    dir.delete()
    println(s"wrote $FixtureFile")
    spark.stop()
  }
}
