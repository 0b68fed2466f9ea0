package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.HydroPipeline

/** The hydro pipeline's whole-stage stages stay JIT-compilable: every
  * generated method of each plan below is under HotSpot's 8,000-byte
  * huge-method limit ([[CodegenBudget.Limit]]). A stage past it runs
  * interpreted for the whole run, however hot it is.
  *
  * Before ArrayHead and JsonLine, the largest methods were 7,175 bytes
  * (hydro_bulk's pipeline, sink projection included), 8,044 (the
  * toFeatures → branch filter stage), 8,519 (the narrow partials
  * select) and 7,963 (`byVariable`): the second and third failed this
  * spec, and the other two sat within 1,000 bytes of the limit.
  *
  * Each plan runs over 200 synthetic sites with
  * `spark.sql.codegen.fallback=false`, so a stage that does not compile
  * fails here rather than running interpreted.
  *
  * The IVF serves hold no lambda ([[CodegenBudget.fallbacks]]): every
  * higher-order function runs interpreted and keeps its operator out
  * of whole-stage codegen. */
class CodegenBudgetSpec extends AnyFunSuite {
  import TestSpark.spark

  private def source: DataFrame =
    spark.read.format("graft.sources.v2.SyntheticObservations")
      .option("sites", 200L).option("partitions", 2).option("seed", 7L).load()

  private def features: DataFrame = HydroPipeline.toFeatures(source)

  private def withinBudget(what: String, df: => DataFrame): Unit =
    TestSpark.withConf("spark.sql.codegen.fallback" -> "false") {
      val stages = CodegenBudget.stages(df)
      assert(stages.nonEmpty, s"$what: no whole-stage stage")
      info(stages.map(s => s"stage ${s.id}: ${s.maxMethodBytes} bytes").mkString(", "))
      for (s <- stages)
        assert(s.maxMethodBytes > 0 && s.maxMethodBytes < CodegenBudget.Limit,
          s"$what: stage ${s.id} (${s.chain}) has a ${s.maxMethodBytes}-byte method")
    }

  test("hydro_bulk's pipeline, sink projection included, stays under the method limit") {
    withinBudget("pipeline",
      HydroPipeline.featureLines(HydroPipeline.mergeSites(features)))
  }

  test("toFeatures followed by the partials' branch filter stays under the method limit") {
    withinBudget("branch filter", features.filter(HydroPipeline.branchFilter))
  }

  test("the partials' siteCode and ord_key select stays under the method limit") {
    withinBudget("partials select",
      HydroPipeline.sitePartials(features).select(col("siteCode"), col("ord_key")))
  }

  test("byVariable stays under the method limit") {
    withinBudget("byVariable", HydroPipeline.byVariable(features, HydroPipeline.StreamFlowCode))
  }

  test("the IVF serves and their gate hold no higher-order function (q46, q87, q101, q107, q180, q184)") {
    for (q <- Seq("q46_sim_ivf", "q87_ivf_label", "q101_ivf_bucketed",
        "q107_embedding_admission", "q180_ivf_incremental", "q184_ivf_learned")) {
      val lambdas = CodegenBudget.fallbacks(spark)(SparkEntry.queries(q)(spark, TestSpark.sf))
        .filter(_.higherOrder)
      assert(lambdas.isEmpty, s"$q holds ${lambdas.mkString(", ")}")
    }
    // non-vacuity: q181's margin sort is still a lambda
    assert(CodegenBudget.fallbacks(spark)(SparkEntry.queries("q181_multiprobe_lsh")(spark, TestSpark.sf))
      .exists(f => f.higherOrder && f.cls == "ArraySort"))
  }
}
