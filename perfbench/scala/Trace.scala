package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's layers for the traced run through public hooks only.
  *
  * - Jobs, stages and tasks come from a [[SparkListener]]. A job is
  *   tied to its op by the job group the benchmark sets before the op
  *   (the property is inherited by broadcast and subquery threads).
  * - Catalyst phases and rule counts come from each executed
  *   [[QueryExecution]]'s tracker, via a [[QueryExecutionListener]];
  *   they are tied to an op by time, since one client thread runs the
  *   ops strictly one after another.
  *
  * Both listeners sit on Spark's shared listener queue, which delivers
  * events asynchronously but in order. [[barrier]] runs a tagged
  * one-task marker job and waits until this listener has seen that
  * job end; every event posted before it has then been processed.
  *
  * Events are kept in memory; [[opEvents]] hands each op its share
  * right after the op's barrier, and the run writes them out at the end.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val markers = ConcurrentHashMap.newKeySet[Integer]()
  @volatile private var markersSeen = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(p => MarkerDescription == p.getProperty("spark.job.description")))
      markers.add(e.jobId)
    else {
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = Job(e.jobId, group, e.time)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markers.remove(e.jobId)) markersSeen += 1
    else jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { j =>
      val s = stages.getOrElseUpdate((info.stageId, info.attemptNumber()), Stage(info.stageId, j))
      s.start = info.submissionTime.getOrElse(-1L)
      s.end = info.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), Stage(e.stageId, j))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val c = s.counters
        def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.deser_s", m.executorDeserializeTime / 1e3)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("scheduler.task_overhead_s", math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
        add("sources.rows_in", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_mb", m.diskBytesSpilled / 1e6)
        add("sink.written_mb", m.outputMetrics.bytesWritten / 1e6)
        add("sink.records", m.outputMetrics.recordsWritten.toDouble)
        add("driver.result_mb", m.resultSize / 1e6)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val rules = t.rules.values
    val q = Qe(phases, rules.map(_.numInvocations).sum, rules.map(_.numEffectiveInvocations).sum)
    synchronized { qes += q }
  }

  /** Block until every event posted before this call has been
    * processed; false when `timeoutMs` passed first. */
  def barrier(sc: org.apache.spark.SparkContext, timeoutMs: Long): Boolean = {
    val before = markersSeen
    sc.setJobDescription(MarkerDescription)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (markersSeen == before && System.nanoTime() < deadline) Thread.sleep(1)
    markersSeen != before
  }

  /** Everything recorded for the op whose job group is `group` and
    * whose wall interval is [startMs, endMs]: jobs, stages with their
    * task counters, and the catalyst phases that fall inside it. */
  def opEvents(group: String, startMs: Double, endMs: Double): Map[String, Any] = synchronized {
    val js = jobs.filter(_.group == group)
    val jobSet = js.toSet
    val ss = stages.values.filter(s => jobSet.contains(s.job))
    def inside(iv: (Long, Long)) = iv._1 >= math.floor(startMs) && iv._2 <= math.ceil(endMs)
    val qs = qes.filter(q => q.phases.values.exists(inside))
    Map(
      "jobs" -> js.map(j => Seq(j.start, j.end)).toSeq,
      "stages" -> ss.filter(s => s.start >= 0 && s.end >= 0).map(s => Seq(s.start, s.end)).toSeq,
      "stage_count" -> ss.size,
      "tasks" -> ss.map(_.tasks).sum,
      "task_counters" -> ss.foldLeft(Map.empty[String, Double]) { (acc, s) =>
        s.counters.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      },
      "qes" -> qs.map(q => Map(
        "phases" -> q.phases.filter { case (_, iv) => inside(iv) }
          .map { case (k, (s, e)) => k -> Seq(s, e) },
        "rule_runs" -> q.ruleRuns,
        "rule_effective" -> q.ruleEffective)).toSeq)
  }
}

object Trace {
  val MarkerDescription = "graftbench-barrier"

  final case class Job(id: Int, group: String, start: Long) { var end: Long = -1L }
  final case class Stage(id: Int, job: Job) {
    var start: Long = -1L
    var end: Long = -1L
    var tasks: Int = 0
    val counters: mutable.HashMap[String, Double] = mutable.HashMap.empty
  }
  final case class Qe(phases: Map[String, (Long, Long)], ruleRuns: Long, ruleEffective: Long)

  /** Cumulative codegen counters: (classes compiled, compile seconds). */
  def codegen(): (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)

  def jvmGcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}
