package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** A query must generate the same code every time it is built: Spark
  * caches generated classes by their source, so a query whose source
  * changes from build to build compiles again on every run, and each
  * variant takes another of the cache's entries from the queries around
  * it. Each query is built and collected six times on sf0.001, and the
  * whole-stage code of every SQL execution it ran (the query itself and
  * the executions its driver-side folds ran while it was built) must be
  * byte-identical across the six. */
class CodegenStabilitySpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val Builds = 6

  /** The 14 queries of the benchmark's query_mix workload. */
  private val queryMix = Seq("q01_agg_pricing", "q02_filter_project", "q04_join_topk",
    "q08_semi_join", "q11_setops", "q13_conditional_merge", "q15_date_funcs",
    "q17_json_extract", "q23_fingerprint", "q217_quality_bootstrap", "q256_stationary",
    "q53_count_distinct", "q243_neardup_oph", "q221_ewma_rates")

  /** The whole-stage sources of every SQL execution that building and
    * collecting `name` ran, in the order they finished. */
  private def generated(name: String): Seq[String] = {
    val qes = ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.synchronized(qes += qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, sf).collect()
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    qes.synchronized(qes.toList).flatMap(_.debug.codegenToSeq().map(_._2))
  }

  /** The distinct code variants of `name` over [[Builds]] builds. */
  private def variants(name: String): Int = {
    val builds = Seq.fill(Builds)(generated(name))
    assert(builds.head.nonEmpty, s"$name generated no whole-stage code")
    builds.distinct.size
  }

  private def assertOneVariant(names: Seq[String]): Unit = {
    val varying = names.map(q => q -> variants(q)).filter(_._2 > 1)
    assert(varying.isEmpty, varying.map { case (q, n) => s"$q: $n variants" }
      .mkString(s"code differs between builds ($Builds each):\n", "\n", ""))
  }

  test("each query_mix query generates byte-identical code on six builds") {
    assertOneVariant(queryMix)
  }

  test("the other multi-distinct aggregates (q54, q123, q124) generate byte-identical code on six builds") {
    assertOneVariant(Seq("q54_approx_distinct", "q123_column_stats", "q124_column_stats_sketch"))
  }
}
