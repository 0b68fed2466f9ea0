package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every driver collect under `ops/` and `sources/` names its bound. A
  * raw `.collect()` or `.head()` brings back whatever a frame holds;
  * `DriverResults.collectBounded` fails by name past its bound, so an
  * input that outgrows a driver-side fold stops with a named error
  * instead of exhausting the driver. The scan reads comment-stripped
  * source. */
class CollectScanSpec extends AnyFunSuite {
  import SourceScan._

  private val raw = """\.(collect|head)\(\)""".r

  /** `path:line: text` of every raw collect or head in `files`. */
  private def rawCollects(files: Seq[(String, String)]): Seq[String] =
    for {
      (path, text) <- files
      (line, at) <- text.split("\n", -1).toSeq.zipWithIndex
      if raw.findFirstIn(line).nonEmpty
    } yield s"$path:${at + 1}: ${line.trim}"

  test("no raw .collect() or .head() under ops/ or sources/") {
    val files = Seq("src/main/scala/graft/ops", "src/main/scala/graft/sources")
      .flatMap(d => sources(new File(d)))
      .map(f => f.getPath -> stripComments(contents(f)))
    assert(files.size > 10 && files.exists(_._1.endsWith("DriverResults.scala")),
      s"scanned ${files.size} files")
    val offenders = rawCollects(files)
    assert(offenders.isEmpty,
      offenders.mkString("route these through DriverResults.collectBounded:\n", "\n", ""))
  }

  test("the pattern finds a collect and a head, not a comment or a collect with a partial function") {
    val src = stripComments(
      """val a = df.collect()
        |// df.collect()
        |val b = df.agg(max(col("x"))).head().getLong(0)
        |val c = xs.collect { case x if x > 0 => x }
        |val d = rows.head""".stripMargin)
    assert(rawCollects(Seq("A.scala" -> src)) ==
      Seq("A.scala:1: val a = df.collect()",
        "A.scala:3: val b = df.agg(max(col(\"x\"))).head().getLong(0)"))
  }
}
