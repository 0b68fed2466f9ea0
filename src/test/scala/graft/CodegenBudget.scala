package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ExecutionBridge

/** The size of the largest method in each whole-stage stage a query runs.
  *
  * {{{
  * sbt "Test/runMain graft.CodegenBudget <tables dir> <q1,q2,...|all> [fallbacks]"
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
  * fails to compile fails its query instead of running interpreted.
  *
  * With `fallbacks`, the main instead lists each query's
  * [[fallbacks]]: every `CodegenFallback` expression its operators
  * hold, by class, split by whether the operator sits inside a
  * whole-stage stage. Such an expression evaluates interpreted, and
  * every higher-order function (`aggregate`, `transform`, `zip_with`,
  * `filter`, `array_sort`) is one. */
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

  /** One `CodegenFallback` expression class in a plan: how many of its
    * instances sit in operators inside a whole-stage stage and outside
    * one, and whether it is a higher-order function (a lambda). */
  final case class Fallback(cls: String, higherOrder: Boolean, inStage: Int, outside: Int)

  /** The fallbacks of every SQL execution that building and collecting
    * `query` runs: the collect of the returned frame, and also the
    * collects and writes a query makes while it is built (an index
    * write, a probe's IN-list). */
  def fallbacks(spark: SparkSession)(query: => DataFrame): Seq[Fallback] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          ExecutionBridge.queryExecution(end).foreach(qe => plans.add(qe.executedPlan))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    ExecutionBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try { query.collect(); ExecutionBridge.drainListeners(sc) }
    finally sc.removeSparkListener(listener)
    fallbacks(plans.asScala.toSeq)
  }

  /** Every `CodegenFallback` expression of the operators of `plans`,
    * adaptive query stages and subqueries included, counted by class. */
  def fallbacks(plans: Seq[SparkPlan]): Seq[Fallback] = {
    val found = ArrayBuffer.empty[(CodegenFallback, Boolean)]
    def visit(p: SparkPlan, inStage: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, inStage)
      case q: QueryStageExec => visit(q.plan, false)
      case w: WholeStageCodegenExec => visit(w.child, true)
      case i: InputAdapter => visit(i.child, false)
      case other =>
        for (e <- other.expressions; f <- e.collect { case f: CodegenFallback => f })
          found += f -> inStage
        other.subqueries.foreach(visit(_, false))
        other.children.foreach(visit(_, inStage))
    }
    plans.foreach(visit(_, false))
    found.groupBy(_._1.getClass.getSimpleName).toSeq.sortBy(_._1).map { case (cls, fs) =>
      Fallback(cls, fs.head._1.isInstanceOf[HigherOrderFunction],
        fs.count(_._2), fs.count(!_._2))
    }
  }

  /** The operators a stage fuses, outermost first. */
  private def chain(p: SparkPlan): String =
    p.nodeName + p.children.filterNot(_.isInstanceOf[InputAdapter]).map(c => " <- " + chain(c)).mkString

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || (args.length == 3 && args(2) == "fallbacks"),
      "usage: CodegenBudget <tables dir> <q1,q2,...|all> [fallbacks]")
    val (tables, list) = (args(0), args(1))
    val queries = GraftSession.selectQueries(if (list == "all") None else Some(list))
    val spark = GraftSession(2, appName = Some("codegen-budget"))
    if (args.length == 3) try census(spark, tables, queries) finally spark.stop()
    else budget(spark, tables, queries)
  }

  private type Queries = Map[String, (SparkSession, String) => DataFrame]

  /** One line per query (its fallback expression count, and how many
    * are lambdas), then one line per class. */
  private def census(spark: SparkSession, tables: String, queries: Queries): Unit =
    for (name <- queries.keys.toSeq.sorted) {
      try {
        val got = fallbacks(spark)(queries(name)(spark, tables))
        val hof = got.filter(_.higherOrder).map(f => f.inStage + f.outside).sum
        println(f"$name%-32s ${got.map(f => f.inStage + f.outside).sum}%4d fallback expressions, $hof%4d higher-order")
        for (f <- got)
          println(f"    ${f.cls}%-32s ${f.inStage}%4d in stage ${f.outside}%4d outside" +
            (if (f.higherOrder) "  lambda" else ""))
      } catch {
        case e: Exception => println(s"$name failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

  private def budget(spark: SparkSession, tables: String, queries: Queries): Unit = {
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
