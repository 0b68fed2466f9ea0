package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.pipeline.HydroPipeline

/** One benchmark run of one workload, in one JVM with one client thread.
  *
  * The run sets up once (JVM start, a SparkSession and one whole cold
  * pass of the workload), runs `--warmup` untimed passes, then whole
  * timed passes until `--seconds` have passed, at least [[MinPasses]].
  * Outputs are checked after each op, and the heap is fully collected
  * after each pass, both outside the timed intervals. With `--trace 1`
  * the Spark listeners of [[Trace]] are attached after warm-up, each op
  * is followed by a marker-job barrier, and the workload's prefix probes
  * run last.
  *
  * The result (timings, check outcomes, raw per-op events) is written
  * as JSON to `--out`; `perfbench/run.py` turns it into metrics.
  */
object Main {
  val MinPasses = 5

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    def long(k: String): Long = apply(k).toLong
  }

  def parse(argv: Array[String]): Opts = Opts(argv.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => sys.error(s"bad argument: ${other.mkString(" ")}")
  }.toMap)

  /** One timed operation, with its outcome and raw layer data. */
  final class OpRec(val id: String, val phase: String, val pass: Int, val name: String) {
    var startMs = 0.0
    var buildEndMs = 0.0
    var endMs = 0.0
    var wallS = 0.0
    var cpuS = 0.0
    var ok = true
    var error = ""
    var counters: Map[String, Double] = Map.empty
    var events: Map[String, Any] = Map.empty
    var result = ""
    def fail(msg: String): Unit = { ok = false; if (error.isEmpty) error = msg }
    def toMap: Map[String, Any] = Map(
      "id" -> id, "phase" -> phase, "pass" -> pass, "name" -> name,
      "start_ms" -> startMs, "build_end_ms" -> buildEndMs, "end_ms" -> endMs,
      "wall_s" -> wallS, "cpu_s" -> cpuS, "ok" -> ok, "error" -> error,
      "counters" -> counters, "events" -> events, "result" -> result)
  }

  /** Runs ops, times them and (when traced) collects their layer data. */
  final class Runner(val o: Opts, val work: File) {
    val cpus: Int = o("cpus").toInt
    val seed: Long = o.long("seed")
    var spark: SparkSession = _
    var trace: Option[Trace] = None
    var phase = "setup"
    var pass = 0
    val ops = ArrayBuffer.empty[OpRec]
    val barrierTimeouts = ArrayBuffer.empty[String]
    private var checkNanos = 0L
    private val epoch0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    def checkSeconds: Double = checkNanos / 1e9

    def newSession(): Unit = {
      if (spark != null) spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
    }

    def attachTrace(): Unit = {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      trace = Some(t)
    }

    /** Run one op: `build` is the graft builder call, `exec` the action. */
    def op[A, B](name: String)(build: => A)(exec: A => B): (OpRec, Option[B]) = {
      val rec = new OpRec(s"op-${ops.size}", phase, pass, name)
      ops += rec
      val sc = spark.sparkContext
      sc.setJobGroup(rec.id, name, interruptOnCancel = false)
      val (cg0, cgs0) = Trace.codegen()
      val gc0 = Trace.jvmGcSeconds()
      val cpu0 = procCpuSeconds()
      val t0 = System.nanoTime()
      rec.startMs = nowMs()
      val out =
        try {
          val a = build
          rec.buildEndMs = nowMs()
          Some(exec(a))
        } catch {
          case e: Throwable =>
            if (rec.buildEndMs == 0.0) rec.buildEndMs = nowMs()
            rec.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
            None
        }
      rec.endMs = nowMs()
      rec.wallS = (System.nanoTime() - t0) / 1e9
      rec.cpuS = procCpuSeconds() - cpu0
      val (cg1, cgs1) = Trace.codegen()
      sc.clearJobGroup()
      rec.counters = Map(
        "codegen.compiles" -> (cg1 - cg0).toDouble,
        "codegen.compile_s" -> (cgs1 - cgs0),
        "jvm.gc_s" -> (Trace.jvmGcSeconds() - gc0),
        "blockmgr.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble)
      trace.foreach { t =>
        if (!t.barrier(sc, 10000)) barrierTimeouts += rec.id
        rec.events = t.opEvents(rec.id, rec.startMs, rec.endMs)
      }
      (rec, out)
    }

    /** Time-excluded output check; a throwing check fails the op. */
    def check(rec: OpRec)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup("check", "check", interruptOnCancel = false)
      try body catch { case e: Throwable => rec.fail(s"check: ${e.getMessage}".take(400)) }
      finally {
        spark.sparkContext.clearJobGroup()
        checkNanos += System.nanoTime() - t0
      }
    }

    /** Keep a collected query result for the oracle check: returns an
      * exact digest of the rows (order-insensitive) and, the first time
      * a digest is seen, writes the rows as parquet under
      * `results/<name>/<digest>` for `perfbench/run.py` to compare. */
    def keepResult(name: String, schema: StructType, rows: Array[Row]): String = {
      val md5 = MessageDigest.getInstance("MD5")
      md5.update(schema.json.getBytes(UTF_8))
      rows.map(encode).sorted.foreach(line => md5.update(line.getBytes(UTF_8)))
      val digest = md5.digest().map(b => f"${b & 0xff}%02x").mkString
      val dir = new File(work, s"results/$name/$digest")
      if (!new File(dir, "_SUCCESS").exists)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(dir.getPath)
      digest
    }

    /** A row as length-prefixed cell strings, so no two rows share one. */
    private def encode(row: Row): String = row.toSeq.map {
      case null => "-1:"
      case v => val t = String.valueOf(v); s"${t.length}:$t"
    }.mkString("", "", "\n")

    /** Untimed probe: wall seconds of one noop-sink evaluation of `df`. */
    def probe(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup("probe", "probe", interruptOnCancel = false)
      try df.write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }
  }

  trait Workload {
    def itemsPerPass: Long
    def runPass(r: Runner): Unit
    /** Prefix-pass timings for the traced run, as per-pass layer seconds. */
    def probes(r: Runner): Map[String, Double] = Map.empty
  }

  def procCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally s.close()
    } catch { case _: Exception => -1.0 }

  /** Peak used MB of the non-heap pools: metaspace, class space, code cache. */
  def nonHeapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.NON_HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Full collection; returns the live heap left, in MB. */
  def collectHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val work = new File(o("work"))
    work.mkdirs()
    val r = new Runner(o, work)
    val workload: Workload = o("workload") match {
      case "hydro_bulk" => new HydroBulk(o.long("sites"), work)
      case "query_mix" => new QueryMix(o("tables"), o("queries").split(",").toSeq)
      case w => sys.error(s"unknown workload $w")
    }
    val traced = o("trace") == "1"
    val cpuStart = procCpuSeconds()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: JVM start + session + one cold pass, less the output checks
    r.pass = -1
    r.newSession()
    workload.runPass(r)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3 - r.checkSeconds
    // every pass leaves a collected heap: each starts from the same state,
    // and the live heap after it is what the program retained
    collectHeapMb()
    def runPass(pass: Int): Double = { r.pass = pass; workload.runPass(r); collectHeapMb() }

    r.phase = "warmup"
    (0 until o("warmup").toInt).foreach(i => runPass(-100 - i))
    if (traced) r.attachTrace()
    r.phase = "timed"
    val seconds = o("seconds").toDouble
    val t0 = System.nanoTime()
    var passes = 0
    val liveMb = ArrayBuffer.empty[Double]
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      liveMb += runPass(passes)
      passes += 1
    }
    val timedWallS = (System.nanoTime() - t0) / 1e9
    val probes = if (traced) { r.phase = "probe"; workload.probes(r) } else Map.empty[String, Double]
    val finalBarrier = r.trace.forall(_.barrier(r.spark.sparkContext, 10000))

    val result = Map(
      "workload" -> o("workload"),
      "seed" -> r.seed,
      "cpus" -> r.cpus,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "traced" -> traced,
      "setup_s" -> setup,
      "passes" -> passes,
      "min_passes" -> MinPasses,
      "timed_wall_s" -> timedWallS,
      "items_per_pass" -> workload.itemsPerPass,
      "ops" -> r.ops.map(_.toMap),
      "probes" -> probes,
      "barrier_timeouts" -> r.barrierTimeouts,
      "final_barrier_ok" -> finalBarrier,
      "live_heap_mb" -> liveMb,
      "nonheap_peak_mb" -> nonHeapPeakMb(),
      "peak_rss_mb" -> peakRssMb(),
      "jvm_gc_s" -> Trace.jvmGcSeconds(),
      "proc_cpu_s" -> (procCpuSeconds() - cpuStart),
      "proc_wall_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
    r.spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(o("out")), result)
  }

  /** hydro_bulk: the reference dataflow at volume, one op per pass —
    * synthetic source → toFeatures → mergeSites → streamed JSON lines. */
  final class HydroBulk(sites: Long, work: File) extends Workload {
    private val out = new File(work, "features").getPath
    def itemsPerPass: Long = sites
    private def source(r: Runner): DataFrame =
      r.spark.read.format("graft.sources.v2.SyntheticObservations")
        .option("sites", sites).option("partitions", 2 * r.cpus).option("seed", r.seed)
        .load()

    def runPass(r: Runner): Unit = {
      val (rec, done) = r.op("pipeline") {
        HydroPipeline.mergeSites(HydroPipeline.toFeatures(source(r)))
      } { merged => HydroPipeline.writeFeatureCollectionStreamed(merged, out) }
      if (done.isDefined) r.check(rec) {
        val lines = r.spark.read.text(out)
        val n = lines.count()
        if (n != sites) rec.fail(s"$n feature lines, expected $sites")
        val mapper = new ObjectMapper()
        val sample = lines.sample(withReplacement = false, math.min(1.0, 200.0 / n), r.seed + rec.pass)
          .limit(64).collect()
        if (sample.isEmpty) rec.fail("empty sample")
        sample.foreach { row =>
          val f = mapper.readTree(row.getString(0))
          val p = f.path("properties")
          val c = f.path("geometry").path("coordinates")
          if (p.path("streamFlow").path("value").isMissingNode ||
              p.path("gageHeight").path("value").isMissingNode ||
              c.size != 2 || !c.get(0).isNumber || !c.get(1).isNumber)
            rec.fail(s"incomplete feature: ${row.getString(0).take(200)}")
        }
      }
    }

    override def probes(r: Runner): Map[String, Double] = {
      val scan = r.probe(source(r))
      val feat = r.probe(HydroPipeline.toFeatures(source(r)))
      val merge = r.probe(HydroPipeline.mergeSites(HydroPipeline.toFeatures(source(r))))
      val full = r.ops.filter(_.phase == "timed").map(_.wallS).sorted
      Map("sources.scan_s" -> scan, "pipeline.features_s" -> (feat - scan),
        "pipeline.merge_s" -> (merge - feat), "pipeline.sink_s" -> (full(full.size / 2) - merge))
    }
  }

  /** query_mix: registered graft queries, order permuted by the seed. */
  final class QueryMix(tables: String, names: Seq[String]) extends Workload {
    private val registry = SparkEntry.queries
    names.foreach(n => require(registry.contains(n), s"unknown query $n"))
    def itemsPerPass: Long = names.size.toLong

    def runPass(r: Runner): Unit = {
      val order = new scala.util.Random(r.seed * 1000003L + r.pass).shuffle(names)
      order.foreach { name =>
        val (rec, res) = r.op(name) { registry(name)(r.spark, tables) } { df => (df.schema, df.collect()) }
        res.foreach { case (schema, rows) => r.check(rec) { rec.result = r.keepResult(name, schema, rows) } }
        r.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
  }
}

/** Writes `SparkEntry.oracleSql` for the named queries as one JSON
  * object; `perfbench/make_oracle.py` replays it in DuckDB. */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val Array(out, names) = argv
    val sql = names.split(",").map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), sql)
  }
}
