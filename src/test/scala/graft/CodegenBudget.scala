package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The size of the largest method in each whole-stage stage a query runs.
  *
  * {{{
  * sbt "Test/runMain graft.CodegenBudget <tables dir> <q1,q2,...|all>"
  * }}}
  *
  * HotSpot never JIT-compiles a method of more than 8,000 bytes of
  * bytecode (`HugeMethodLimit`; `DontCompileHugeMethods` is on by
  * default), so a
  * stage whose `processNext` crosses that line runs interpreted, often
  * several times slower than the same stage a few bytes smaller.
  * [[stages]] compiles every WholeStageCodegen stage of a collected
  * frame's executed plan (adaptive query stages and subqueries
  * included) with `CodeGenerator.compile`, through `doCodeGen()`, and
  * reads `ByteCodeStats.maxMethodCodeSize`. CodegenBudgetSpec holds the
  * hydro pipeline's plans under [[Limit]]; this main reports every
  * registered query's stages, one line each, and flags each stage at or
  * over the limit. It runs on a local[2] session with 2 shuffle
  * partitions and `spark.sql.codegen.fallback=false`, so a stage that
  * fails to compile fails its query instead of running interpreted. */
object CodegenBudget {

  /** HotSpot's huge-method limit. A method over it is never
    * JIT-compiled; a stage is within budget when its largest method is
    * below it. */
  val Limit = 8000

  /** One whole-stage stage: its id, its operator chain, and the bytecode
    * size of its largest method. */
  final case class Stage(id: Int, chain: String, maxMethodBytes: Int)

  /** `df`'s stages, collecting it first so that adaptive execution has
    * fixed its final plan. */
  def stages(df: DataFrame): Seq[Stage] = {
    df.collect()
    stages(df.queryExecution.executedPlan)
  }

  def stages(plan: SparkPlan): Seq[Stage] = {
    val found = ArrayBuffer.empty[WholeStageCodegenExec]
    def visit(p: SparkPlan): Unit = p.foreach {
      case s: WholeStageCodegenExec => found += s
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case other => other.subqueries.foreach(visit)
    }
    visit(plan)
    found.distinct.sortBy(_.codegenStageId).map { s =>
      val (_, code) = s.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      Stage(s.codegenStageId, chain(s.child), stats.maxMethodCodeSize)
    }.toSeq
  }

  /** The operators a stage fuses, outermost first. */
  private def chain(p: SparkPlan): String =
    p.nodeName + p.children.filterNot(_.isInstanceOf[InputAdapter]).map(c => " <- " + chain(c)).mkString

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CodegenBudget <tables dir> <q1,q2,...|all>")
    val Array(tables, list) = args
    val queries = GraftSession.selectQueries(if (list == "all") None else Some(list))
    val spark = GraftSession(2, appName = Some("codegen-budget"))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val over = ArrayBuffer.empty[String]
    try {
      for (name <- queries.keys.toSeq.sorted) {
        try {
          val got = stages(queries(name)(spark, tables))
          val top = if (got.isEmpty) 0 else got.map(_.maxMethodBytes).max
          println(f"$name%-32s ${got.size}%3d stages  largest method $top%6d bytes" +
            (if (top >= Limit) "  OVER" else ""))
          for (s <- got) {
            val flag = if (s.maxMethodBytes >= Limit) "  OVER" else ""
            println(f"    stage ${s.id}%3d  ${s.maxMethodBytes}%6d  ${s.chain.take(160)}$flag")
            if (s.maxMethodBytes >= Limit) over += s"$name stage ${s.id} (${s.maxMethodBytes} bytes)"
          }
        } catch {
          case e: Exception => println(s"$name failed: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      println(s"${over.size} stages at or over $Limit bytes, in ${queries.size} queries")
      over.foreach(o => println(s"  $o"))
    } finally spark.stop()
  }
}
