package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** What the two DataSource V2 observation readers share: rows built as
  * Catalyst rows directly (no per-row encoder), and a pruned,
  * reordered projection that equals the same projection of the full
  * read. */
class ObservationSourcesSpec extends AnyFunSuite {
  import TestSpark.spark

  private def synthetic: DataFrame =
    spark.read.format("graft.sources.v2.SyntheticObservations")
      .option("sites", 40).option("partitions", 3).option("seed", 7).load()

  private def http: DataFrame = {
    val xx = getClass.getResource("/waterml/state_xx.json")
    assert(xx != null, "fixture /waterml/state_xx.json missing from classpath")
    spark.read.format("graft.sources.v2.HttpObservations")
      .option("urlTemplate", xx.toString.replace("state_xx.json", "state_%s.json"))
      .option("states", "xx,yy").load()
  }

  private def assertPrunedMatchesFull(full: DataFrame, cols: String*): Unit = {
    val pruned = full.select(cols.map(col): _*)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().head.output.map(_.name)
    // the scan keeps the source's field order; Spark projects the reorder
    assert(scanned.sorted == cols.sorted, s"scan reads $scanned, not the pruned $cols")
    val rows = full.collect()
    assert(rows.nonEmpty)
    val projected = spark.createDataFrame(java.util.Arrays.asList(rows: _*), full.schema)
      .select(cols.map(col): _*)
    val got = pruned.collect().map(_.toString).sorted
    val want = projected.collect().map(_.toString).sorted
    assert(got.sameElements(want), s"${got.take(3).mkString("\n")}\nvs\n${want.take(3).mkString("\n")}")
  }

  test("synthetic: a reordered pruned projection equals the projection of the full read") {
    assertPrunedMatchesFull(synthetic, "values", "name")
    assertPrunedMatchesFull(synthetic, "variable")
  }

  test("http: a reordered pruned projection equals the projection of the full read") {
    assertPrunedMatchesFull(http, "values", "name")
    assertPrunedMatchesFull(http, "variable")
  }

  test("no per-row encoder path under sources/v2") {
    val forbidden = Seq(
      "RowEncoder" -> """\bRowEncoder\b""".r,
      "createSerializer" -> """\bcreateSerializer\b""".r,
      "Row.fromSeq" -> """\bRow\s*\.\s*fromSeq\b""".r)
    val files = Option(new File("src/main/scala/graft/sources/v2").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    // non-vacuity: the scan sees both readers
    assert(Set("SyntheticObservations.scala", "HttpObservations.scala")
      .subsetOf(files.map(_.getName).toSet), s"scanned ${files.map(_.getName)}")
    val offenders = for {
      f <- files
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.zipWithIndex
      (what, re) <- forbidden if re.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: $what"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
