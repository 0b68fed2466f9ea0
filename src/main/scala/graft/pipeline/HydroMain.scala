package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.functions.JsonLine
import graft.ops.DriverResults

/** Program entry for the hydro pipeline — the engine's analog of the
  * reference's `node harvest.js` run (harvest.js:146-149): read
  * WaterML responses, run source→features→merge→collect, print the
  * FeatureCollection JSON, and (optionally) write the distributed
  * JSON-lines form.
  *
  * Usage: HydroMain <watermlDir> [outDir]
  */
object HydroMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: HydroMain <watermlDir> [outDir]")
    // SPARK_MASTER is the deployment address; shuffle partitions
    // still follow SPARK_GRAFT_CPUS (default 4)
    val spark = GraftSession(GraftSession.cpus(4), appName = Some("graft-hydro"),
      master = Some(sys.env.getOrElse("SPARK_MASTER", "local[4]")))
    println(document(HydroPipeline.run(spark, args(0))))
    args.lift(1).foreach { out =>
      val merged = HydroPipeline.mergeSites(
        HydroPipeline.toFeatures(
          graft.sources.WaterML.timeSeriesOf(spark, args(0))))
      HydroPipeline.writeFeatureCollectionStreamed(merged, out)
    }
    spark.stop()
  }

  /** The FeatureCollection document of a [[HydroPipeline.toFeatureCollection]]
    * result: its one row's `data` framed as `{"type":"FeatureCollection",
    * "data":[…]}`. */
  def document(collection: DataFrame): String =
    DriverResults.collectBounded(
      collection.select(JsonLine(struct(lit("FeatureCollection").as("type"), col("data")))),
      1, "hydro FeatureCollection document").head.getString(0)
}
