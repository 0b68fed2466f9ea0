package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract (SURVEY.md §7).
  *
  * Every operator the engine implements is registered as a named
  * [[QuerySpec]] in its family's registry, which pairs the engine plan
  * with its DuckDB oracle statement. [[queries]] and [[oracleSql]] are
  * both derived from [[specs]], so a query cannot have one without the
  * other. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricing(spark, "/root/testdata/sf0.001")

  /** Every registered query, family by family. */
  val specs: Seq[QuerySpec] = distinctNames(
    RelationalQueries.specs ++ RelationalExtQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ SimilarityQueries.specs ++ CurationQueries.specs ++
      MultimodalQueries.specs ++ AsofJoinQueries.specs ++
      graft.streaming.EventStreamQueries.specs ++ graft.pipeline.HydroQueries.specs ++
      graft.sources.FormatsQueries.specs)

  /** `specs` unchanged, or an IllegalArgumentException naming every
    * query name declared more than once. */
  private[graft] def distinctNames(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
