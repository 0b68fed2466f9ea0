package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DriverResults, RelationalExt, SimilarityOps, TextOps}

/** The driver-side ends of a fold: `sortedLocal` orders a local result
  * exactly as `orderBy` does and leaves it a local relation, so
  * collecting it runs no job; `collectBounded` fails by name past its
  * bound. A source scan keeps `toDF(…)`/`createDataFrame(…).orderBy`
  * chains out of the operators. */
class DriverResultsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  /** Jobs started by `body`, counted by a listener: a marker job run
    * after `body` in another job group is seen last, since the bus
    * delivers events in order, so every job of `body` has been counted
    * by then. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val marker = group + "-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Rows with doubles as raw bits, so −0.0 and NaN compare exactly. */
  private def exact(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case x => x
  })

  private def assertSortsLikeOrderBy(df: DataFrame, cols: Column*): Seq[Row] = {
    val want = df.orderBy(cols: _*).collect().toSeq
    val sorted = DriverResults.sortedLocal(df, cols: _*)
    val got = sorted.collect().toSeq
    assert(exact(got) == exact(want))
    assert(sorted.schema == df.schema)
    got
  }

  test("sortedLocal orders strings outside the BMP by UTF-8 bytes, as orderBy does") {
    // U+FF21 (UTF-8 EF BC A1) sorts before U+1F600 (F0 9F 98 80) in
    // UTF-8 byte order, after it in UTF-16 (FF21 > D83D)
    val strs = Seq("Ａ", "😀", "a", "", "ä", "😀b", "z", "￿")
    val df = strs.zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("s", "id")
    val got = assertSortsLikeOrderBy(df, col("s")).map(_.getString(0))
    assert(got != strs.sorted, "the input does not separate UTF-8 from UTF-16 order")
    assert(got.indexOf("Ａ") < got.indexOf("😀"))
  }

  test("sortedLocal: nulls first ascending and last descending") {
    val df = Seq[(Option[String], Option[Long], Long)](
      (Some("b"), None, 1L), (None, Some(3L), 2L), (Some("a"), Some(1L), 3L),
      (None, None, 4L), (Some("b"), Some(2L), 5L)).toDF("s", "n", "id")
    assertSortsLikeOrderBy(df, col("s"), col("n"))
    assertSortsLikeOrderBy(df, col("s").desc, col("n").desc)
    assertSortsLikeOrderBy(df, col("n").asc_nulls_last, col("id"))
  }

  test("sortedLocal: NaN above every number, -0.0 equal to 0.0 with ties kept in input order") {
    val xs = Seq(1.0, Double.NaN, -0.0, 0.0, Double.NegativeInfinity, -0.0, Double.PositiveInfinity,
      Double.NaN, 0.0, -1.5)
    val df = xs.zipWithIndex.map { case (x, i) => (x, i.toLong) }.toDF("x", "id")
    val got = assertSortsLikeOrderBy(df, col("x"))
    assert(got.map(_.getLong(1)) == Seq(4L, 9L, 2L, 3L, 5L, 8L, 0L, 6L, 1L, 7L))
    assertSortsLikeOrderBy(df, col("x").desc)
  }

  test("sortedLocal: a multi-key sort with one descending key") {
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(300)(i => (rnd.nextInt(5).toLong, rnd.nextInt(4).toString,
      rnd.nextDouble(), i.toLong)).toDF("a", "b", "c", "id")
    assertSortsLikeOrderBy(df, col("a"), col("b").desc, col("c"))
    // projected local relations (toDF + select) are local too
    assertSortsLikeOrderBy(df.select(col("a"), round(col("c"), 2).as("c2"), col("id")),
      col("c2").desc, col("id"))
  }

  test("collecting a sortedLocal result starts no job; a non-local input fails by name") {
    val sorted = DriverResults.sortedLocal(Seq((2L, "b"), (1L, "a")).toDF("k", "v"), col("k"))
    assert(sorted.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    var rows: Seq[Row] = Nil
    assert(jobsDuring { rows = sorted.collect().toSeq } == 0)
    assert(rows.map(_.getLong(0)) == Seq(1L, 2L))
    // the counter does count: a scan-backed collect starts a job
    assert(jobsDuring { spark.range(10).collect() } > 0)
    val e = intercept[IllegalArgumentException](
      DriverResults.sortedLocal(spark.range(10).toDF("k"), col("k")))
    assert(e.getMessage.contains("LocalRelation") && e.getMessage.contains("Range"), e.getMessage)
  }

  test("the eight driver-finished queries end in a local relation whose collect runs no job") {
    for (q <- Seq("q159_bpe_merges", "q168_mmr_rerank", "q210_kmeans_refresh", "q217_quality_bootstrap",
        "q221_ewma_rates", "q237_removal_effect", "q251_pca_power", "q256_stationary")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], q)
      var n = 0
      assert(jobsDuring { n = df.collect().length } == 0, q)
      assert(n > 0, q)
    }
  }

  test("collectBounded returns every row up to the bound and fails by name past it") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    assert(DriverResults.collectBounded(df, 100, "probe").map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L))
    val e = intercept[IllegalArgumentException](DriverResults.collectBounded(df, 99, "probe fold"))
    assert(e.getMessage.contains("probe fold") && e.getMessage.contains("99"), e.getMessage)
  }

  test("q256's transition-count collect fails by name past its bound") {
    // 257² distinct (s, t) transitions, one two-event user each
    val types = 257
    val n = RelationalExt.MaxTransitionCells
    assert(types * types > n)
    val events = spark.range(types.toLong * types).select(
      col("id").as("user_id"), explode(array(lit(0L), lit(1L))).as("step"))
      .select(col("user_id"), (col("user_id") * 2 + col("step")).as("event_id"),
        concat(lit("t"), when(col("step") === 0, col("user_id") / types)
          .otherwise(col("user_id") % types).cast("long").cast("string")).as("event_type"),
        col("step").as("ts"))
    val e = intercept[IllegalArgumentException](RelationalExt.stationaryOf(events, 2))
    assert(e.getMessage.contains("q256 transition counts") && e.getMessage.contains(n.toString),
      e.getMessage)
  }

  test("q237's transition-matrix collect fails by name past its bound") {
    // 258² distinct (s, t) transitions, one two-event user each, and
    // no purchase: START and DROP rows come on top
    val types = 258
    val n = RelationalExt.MaxRemovalCells
    assert(types * types > n)
    val events = spark.range(types.toLong * types).select(
      col("id").as("user_id"), explode(array(lit(0L), lit(1L))).as("step"))
      .select(col("user_id"), (col("user_id") * 2 + col("step")).as("event_id"),
        concat(lit("t"), when(col("step") === 0, col("user_id") / types)
          .otherwise(col("user_id") % types).cast("long").cast("string")).as("event_type"),
        col("step").as("ts"))
    val e = intercept[IllegalArgumentException](RelationalExt.removalEffectOf(events, 2))
    assert(e.getMessage.contains("q237 transition matrix") && e.getMessage.contains(n.toString),
      e.getMessage)
  }

  test("q221's hourly collect fails by name past its bound") {
    val n = RelationalExt.MaxHourlyRows
    val events = spark.range(n.toLong + 1).select(lit("click").as("event_type"),
      timestamp_seconds(col("id") * 3600).as("ts"))
    val e = intercept[IllegalArgumentException](RelationalExt.ewmaOf(events, 2.0))
    assert(e.getMessage.contains("q221 hourly event counts") && e.getMessage.contains(n.toString),
      e.getMessage)
  }

  test("q217's rollup collect fails by name past its bound") {
    val n = TextOps.MaxBootstrapSources
    val docs = spark.range(n.toLong + 1).select(col("id").as("doc_id"),
      lit("the cat sat on the mat").as("text"), col("id").cast("string").as("source"))
    val e = intercept[IllegalArgumentException](TextOps.qualityBootstrapOf(docs, 64))
    assert(e.getMessage.contains("q217 per-source bootstrap rollup") &&
      e.getMessage.contains((n * 64).toString), e.getMessage)
    // at the bound itself the rollup runs
    assert(TextOps.qualityBootstrapOf(docs.limit(n), 64).count() == n)
  }

  test("Lloyd training's model-state collect fails by name past its bound") {
    val n = SimilarityOps.MaxLloydModelRows
    val e = spark.range(n.toLong + 1).select(col("id").as("vec_id"),
      array(lit(1.0f)).as("embedding"))
    val err = intercept[IllegalArgumentException](
      SimilarityOps.kmeansStateBootstrap(spark, e, n + 1, 1, 1))
    assert(err.getMessage.contains("Lloyd seed centroids") &&
      err.getMessage.contains(n.toString), err.getMessage)
  }

  test("mergeIntoPartitioned's partition collect fails by name past its bound, writing nothing") {
    val n = graft.sources.Formats.MaxMergePartitions
    val base = Files.createTempDirectory("graft-mrgbound").toString + "/docs"
    val layout = Seq((1L, "kept", "p0")).toDF("doc_id", "text", "part")
    graft.sources.Formats.writePartitioned(layout, base, Seq("part"))
    val before = spark.read.parquet(base).collect().toSeq
    val changes = spark.range(n.toLong + 1).select(col("id").as("doc_id"),
      lit("x").as("text"), concat(lit("p"), col("id").cast("string")).as("part"),
      lit("delete").as("op"))
    val e = intercept[IllegalArgumentException](
      graft.sources.Formats.mergeIntoPartitioned(spark, base, changes, "doc_id", "part"))
    assert(e.getMessage.contains("mergeIntoPartitioned change partitions") &&
      e.getMessage.contains(n.toString), e.getMessage)
    assert(spark.read.parquet(base).collect().toSeq == before,
      "the layout changed before the bound check")
  }

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** The method names of the call chain that starts at `from` (just
    * past the opening parenthesis of a `toDF(`/`createDataFrame(`
    * call): each call's balanced argument list is skipped, then a
    * following `.name(` continues the chain, across lines. */
  private def chainCalls(text: String, from: Int): Seq[String] = {
    def skipArgs(i0: Int): Int = { // i0 just past "(" → index past ")"
      var depth = 1
      var i = i0
      while (i < text.length && depth > 0) {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      i
    }
    val call = """\A\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r
    val names = Seq.newBuilder[String]
    var i = skipArgs(from)
    var done = false
    while (!done) call.findFirstMatchIn(text.substring(i)) match {
      case Some(m) => names += m.group(1); i = skipArgs(i + m.end)
      case None => done = true
    }
    names.result()
  }

  test("no toDF(…) or createDataFrame(…) chain under ops/ ends in .orderBy(") {
    val files = sources(new File("src/main/scala/graft/ops"))
    assert(files.size > 5, s"scanned ${files.size} files")
    val start = """\b(toDF|createDataFrame)\s*\(""".r
    val offenders = for {
      f <- files
      text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      m <- start.findAllMatchIn(text)
      if chainCalls(text, m.end).lastOption.contains("orderBy")
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, offenders.mkString("use DriverResults.sortedLocal:\n", "\n", ""))
    // non-vacuity: the scanner sees a multi-line chain of the old shape
    val old = "rows.toDF(\"a\", f(\"b\"))\n  .select(col(\"a\"))\n  .orderBy(col(\"a\"))"
    assert(chainCalls(old, old.indexOf("toDF(") + 5) == Seq("select", "orderBy"))
  }
}
