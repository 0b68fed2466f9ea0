package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Which generated classes a set of queries compiles, and who asked.
  *
  * {{{
  * sbt "Test/runMain graft.CodegenCensus <tables dir> <q1,q2,...>"
  * }}}
  *
  * Runs each named query once, in order, in a fresh JVM on a local[2]
  * session with 2 shuffle partitions (the query_mix shape), collecting
  * its rows, and prints every class Spark compiled while the query ran:
  * the driver or executor thread that compiled it and the first Spark
  * frame below the codegen layer that requested it (plus the first
  * graft frame, when the request came from the driver). The total is
  * the number of entries the queries put into Spark's generated-class
  * cache, which is keyed on (class loader, source): a whole-stage stage
  * compiled on the driver and again in a local-mode task counts twice,
  * once per loader. Distinct sources are counted from the source text
  * that CodeGenerator logs at DEBUG (cut at its logging line cap).
  *
  * Each compile is seen through an appender on CodeGenerator's logger:
  * the source arrives at DEBUG, then a "Code generated in … ms" line at
  * INFO, both on the compiling thread, whose stack names the caller. */
object CodegenCensus {
  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  final case class Compile(ms: Double, executor: Boolean, sparkFrame: String,
                           graftFrame: Option[String], sourceHash: Int, loader: Int)

  /** Frames that are the codegen machinery itself, not its caller. */
  private def machinery(cls: String): Boolean =
    Seq("java.", "jdk.", "sun.", "scala.", "org.apache.logging.", "org.slf4j.",
      "org.sparkproject.", "com.google.", "org.apache.spark.internal.",
      "org.apache.spark.util.", "org.apache.spark.sql.catalyst.expressions.",
      "graft.CodegenCensus").exists(cls.startsWith)

  private def frame(e: StackTraceElement): String = {
    val cls = e.getClassName.split('.').last.stripSuffix("$")
    s"$cls.${e.getMethodName}(${e.getFileName}:${e.getLineNumber})"
  }

  /** Records compiles while installed; `take()` drains them. */
  final class Recorder extends AbstractAppender("codegen-census", null, null, true,
      Property.EMPTY_ARRAY) {
    private val seen = ArrayBuffer.empty[Compile]
    private val pendingSource = new ThreadLocal[Integer]
    private val timed = """Code generated in ([0-9.]+) ms""".r.unanchored

    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (e.getLevel == Level.DEBUG) pendingSource.set(msg.hashCode)
      else msg match {
        case timed(ms) =>
          val stack = Thread.currentThread.getStackTrace.toSeq
          val caller = stack.find(f => !machinery(f.getClassName))
          val graftFrame = stack.find(f => f.getClassName.startsWith("graft.") &&
            !f.getClassName.startsWith("graft.CodegenCensus")).map(frame)
          val src = Option(pendingSource.get).map(_.intValue).getOrElse(0)
          pendingSource.remove()
          seen.synchronized {
            seen += Compile(ms.toDouble,
              Thread.currentThread.getName.startsWith("Executor task launch"),
              caller.fold("?")(frame), graftFrame, src,
              System.identityHashCode(Thread.currentThread.getContextClassLoader))
          }
        case _ =>
      }
    }

    def take(): Seq[Compile] = seen.synchronized {
      val out = seen.toList
      seen.clear()
      out
    }
  }

  /** Routes CodeGenerator's DEBUG and INFO lines to `rec` only. */
  def install(rec: Recorder): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    rec.start()
    config.addAppender(rec)
    val logger = new LoggerConfig(CodegenLogger, Level.DEBUG, false)
    logger.addAppender(rec, Level.DEBUG, null)
    config.addLogger(CodegenLogger, logger)
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CodegenCensus <tables dir> <q1,q2,...>")
    val Array(tables, list) = args
    val queries = GraftSession.selectQueries(Some(list))
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession(2, appName = Some("codegen-census"))
    val rec = new Recorder
    install(rec)
    val all = ArrayBuffer.empty[Compile]
    try {
      for (name <- names) {
        val rows = queries(name)(spark, tables).collect().length
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val got = rec.take()
        all ++= got
        println(f"$name%-28s ${got.size}%4d classes  ${got.map(_.ms).sum / 1e3}%6.3f s  ($rows rows)")
        for (c <- got)
          println(f"    ${if (c.executor) "executor" else "driver  "}  ${c.ms}%7.1f ms  " +
            s"${c.sparkFrame}${c.graftFrame.fold("")("  <- " + _)}")
      }
      println(f"total ${all.size} classes, ${all.map(c => (c.loader, c.sourceHash)).distinct.size} " +
        f"distinct (loader, source) pairs, ${all.map(_.sourceHash).distinct.size} distinct sources, " +
        f"${all.map(_.ms).sum / 1e3}%.3f s compiling, ${names.size} queries")
    } finally spark.stop()
  }
}
