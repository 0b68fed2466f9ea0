package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The shared entry-point policy: GraftSession is the only place a
  * session is built or `SPARK_GRAFT_CPUS` is read, the query filter
  * rejects names it does not know, and the session it builds carries
  * the settings every entry point relies on. */
class GraftSessionSpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
      else Nil
    }

  test("only GraftSession builds a SparkSession or reads SPARK_GRAFT_CPUS under src/") {
    val forbidden = Seq(
      "a session builder" -> """SparkSession\s*\.\s*builder""".r,
      "a SPARK_GRAFT_CPUS read" -> """["]SPARK_GRAFT_CPUS["]""".r)
    val files = sources(new File("src"))
    val (home, rest) = files.partition(_.getName == "GraftSession.scala")
    // non-vacuity: the scan sees the tree and the factory itself matches
    assert(home.size == 1 && rest.size > 50, s"scanned ${files.size} files under src/")
    val homeText = new String(Files.readAllBytes(home.head.toPath), "UTF-8")
    forbidden.foreach { case (what, re) =>
      assert(re.findFirstIn(homeText).nonEmpty, s"GraftSession has no $what")
    }
    val offenders = for {
      f <- rest
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.zipWithIndex
      (what, re) <- forbidden if re.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: $what"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("query selection: None is every query, a list selects exactly its names") {
    assert(GraftSession.selectQueries(None).keySet == SparkEntry.queries.keySet)
    assert(GraftSession.selectQueries(Some(" q01_agg_pricing, q02_filter_project,")).keySet ==
      Set("q01_agg_pricing", "q02_filter_project"))
  }

  test("query selection: unknown names fail and are listed, even beside valid ones") {
    val e = intercept[IllegalArgumentException](
      GraftSession.selectQueries(Some("q01_agg_pricing,q01_agg_pricnig,q999_nope")))
    assert(e.getMessage.contains("q01_agg_pricnig, q999_nope"), e.getMessage)
    intercept[IllegalArgumentException](GraftSession.selectQueries(Some(" , ")))
  }

  test("the test session carries the shared policy at 4 cpus") {
    val spark = TestSpark.spark
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    // Spark's own defaults, which no entry point restates
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.autoBroadcastJoinThreshold")) == 10L * 1024 * 1024)
    assert(conf.get("spark.sql.warehouse.dir").contains("graft-wh"))
  }
}
