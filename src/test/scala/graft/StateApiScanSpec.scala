package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every public object-level def under `ops/` and `streaming/` exists
  * for code that calls it. A source scan keeps one from staying behind,
  * or from being public for specs alone, once no code under src/main
  * calls it: a caller mentioned only in a comment or inside the def's
  * own body does not count, and the query registries count as callers.
  * `pipeline/` is not scanned, since the hydro upsert API is the
  * reference's own `out:{reduce:'joined'}` semantics. The same scan
  * keeps spark-mllib out of src/main: every k-means runs through the
  * deterministic Lloyd trainer, so no code there may name
  * `org.apache.spark.ml`. */
class StateApiScanSpec extends AnyFunSuite {
  import SourceScan._

  /** A def at object level (two-space indent) with no access modifier. */
  private val publicDef = """^(  )(?:(?:final|override|implicit)\s+)*def\s+([A-Za-z0-9_]+)\b""".r

  /** `path:line: name` for every public object-level def in `scanned` with no
    * call in `all` outside its own definition (the def line through
    * the line before the next one indented at most as far). Both are
    * (path, comment-stripped text) pairs. */
  private def uncalled(scanned: Seq[(String, String)],
                       all: Seq[(String, String)]): Seq[String] =
    for {
      (path, text) <- scanned
      lines = text.split("\n", -1).toSeq
      (line, at) <- lines.zipWithIndex
      m <- publicDef.findPrefixMatchOf(line).toSeq
      indent = m.group(1).length
      name = m.group(2)
      end = lines.indices.indexWhere(j => j > at && lines(j).trim.nonEmpty &&
        lines(j).takeWhile(_ == ' ').length <= indent) match {
        case -1 => lines.length
        case j => j
      }
      use = s"\\b$name\\b".r
      called = all.exists { case (p, t) =>
        if (p != path) use.findFirstIn(t).nonEmpty
        else t.split("\n", -1).zipWithIndex.exists { case (l, j) =>
          (j < at || j >= end) && use.findFirstIn(l).nonEmpty
        }
      }
      if !called
    } yield s"$path:${at + 1}: $name"

  private def read(files: Seq[File]): Seq[(String, String)] =
    files.map(f => f.getPath -> stripComments(contents(f)))

  test("every public def under ops/ and streaming/ has a caller in src/main") {
    val all = read(sources(new File("src/main/scala")))
    val scanned = all.filter { case (p, _) =>
      p.contains("/graft/ops/") || p.contains("/graft/streaming/") }
    val defs = scanned.flatMap { case (_, t) =>
      t.split("\n").flatMap(l => publicDef.findPrefixMatchOf(l).map(_.group(2))) }
    // non-vacuity: the scan sees the tree, q121's rollup halves, q20's
    // operator and q33's sessionizer
    assert(all.size > 20 && Seq("rollupPartials", "rollupMerge", "tokenStats",
      "sessionizeBatch").forall(defs.contains), s"scanned ${all.size} files, defs: $defs")
    val offenders = uncalled(scanned, all)
    assert(offenders.isEmpty,
      offenders.mkString("delete, narrow or call these defs:\n", "\n", ""))
  }

  test("no comment or own-body mention counts as a caller; a glob in a string opens no comment") {
    val src = stripComments(
      """object A {
        |  /** see [[fooMerge]] */
        |  def fooMerge(a: Int): Int =
        |    if (a > 0) fooMerge(a - 1) else 0 // fooMerge again
        |
        |  def barPartials(x: Int): Int = x
        |  val glob = "dir/*.json"
        |  private def use: Int = barPartials(1) /* fooMerge */
        |  private[ops] def narrow: Int = 1
        |  final def bazKernel(x: Int): Int = { def inner = x; inner }
        |}""".stripMargin)
    assert(uncalled(Seq("A.scala" -> src), Seq("A.scala" -> src)) ==
      Seq("A.scala:3: fooMerge", "A.scala:10: bazKernel"))
    // a caller in another file counts
    val other = "B.scala" -> "object B { val x = A.fooMerge(2) + A.bazKernel(1) }"
    assert(uncalled(Seq("A.scala" -> src), Seq("A.scala" -> src, other)).isEmpty)
  }

  test("nothing under src/main imports or names org.apache.spark.ml") {
    val mllib = """\borg\.apache\.spark\.ml(lib)?\.""".r
    val files = read(sources(new File("src/main/scala")))
    assert(files.size > 20, s"scanned ${files.size} files")
    val offenders = for {
      (path, text) <- files
      (line, at) <- text.split("\n", -1).toSeq.zipWithIndex
      if mllib.findFirstIn(line).nonEmpty
    } yield s"$path:${at + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("mllib under src/main:\n", "\n", ""))
    // the pattern matches an import and a qualified use, not a comment
    val probe = stripComments(
      "import org.apache.spark.ml.clustering.KMeans\n// org.apache.spark.ml.x\n" +
        "val m = new org.apache.spark.mllib.linalg.DenseVector(Array(1.0))")
    assert(probe.split("\n").map(l => mllib.findFirstIn(l).nonEmpty).toSeq ==
      Seq(true, false, true))
  }
}
