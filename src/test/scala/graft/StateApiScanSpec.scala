package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Incremental-state halves (`*Partials`, `*Merge`, `*FromState`,
  * `*StateEmpty`, `*StateAppend`) exist for the queries that fold
  * through them. A source scan keeps one from staying behind once no
  * code under src/main calls it: a caller mentioned only in a comment
  * or inside the def's own body does not count. `pipeline/` is not
  * scanned, since the hydro upsert API is the reference's own
  * `out:{reduce:'joined'}` semantics. */
class StateApiScanSpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `text` with every comment blanked to spaces, newlines kept, so
    * line numbers and indentation survive; string and character
    * literals are copied, so a glob's slash-star is not a comment. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder(text.length)
    def blank(c: Char): Char = if (c == '\n') '\n' else ' '
    var i = 0
    while (i < text.length) {
      if (text.startsWith("\"\"\"", i)) {
        val end = text.indexOf("\"\"\"", i + 3)
        val j = if (end < 0) text.length else end + 3
        out ++= text.substring(i, j); i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        j = math.min(j + 1, text.length)
        out ++= text.substring(i, j); i = j
      } else if (text(i) == '\'' && i + 2 < text.length && text(i + 2) == '\'') {
        out ++= text.substring(i, i + 3); i += 3
      } else if (text(i) == '\'' && text.startsWith("'\\", i)) {
        val j = math.min(text.indexOf('\'', i + 3) + 1, text.length)
        out ++= text.substring(i, j); i = j
      } else if (text.startsWith("//", i)) {
        while (i < text.length && text(i) != '\n') { out += ' '; i += 1 }
      } else if (text.startsWith("/*", i)) {
        var depth = 0 // Scala block comments nest
        while (i < text.length && (depth > 0 || text.startsWith("/*", i))) {
          if (text.startsWith("/*", i)) { depth += 1; out ++= "  "; i += 2 }
          else if (text.startsWith("*/", i)) { depth -= 1; out ++= "  "; i += 2 }
          else { out += blank(text(i)); i += 1 }
        }
      } else { out += text(i); i += 1 }
    }
    out.toString
  }

  private val stateDef =
    """^(\s*)def\s+([A-Za-z0-9_]+(?:Partials|Merge|FromState|StateEmpty|StateAppend))\b""".r

  /** `path:line: name` for every public state def in `scanned` with no
    * call in `all` outside its own definition (the def line through
    * the line before the next one indented at most as far). Both are
    * (path, comment-stripped text) pairs. */
  private def uncalled(scanned: Seq[(String, String)],
                       all: Seq[(String, String)]): Seq[String] =
    for {
      (path, text) <- scanned
      lines = text.split("\n", -1).toSeq
      (line, at) <- lines.zipWithIndex
      m <- stateDef.findPrefixMatchOf(line).toSeq
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
    files.map(f => f.getPath -> stripComments(new String(Files.readAllBytes(f.toPath), "UTF-8")))

  test("every public state def under ops/ and streaming/ has a caller in src/main") {
    val all = read(sources(new File("src/main/scala")))
    val scanned = all.filter { case (p, _) =>
      p.contains("/graft/ops/") || p.contains("/graft/streaming/") }
    val defs = scanned.flatMap { case (_, t) =>
      t.split("\n").flatMap(l => stateDef.findPrefixMatchOf(l).map(_.group(2))) }
    // non-vacuity: the scan sees the tree and q121's rollup halves
    assert(all.size > 20 && Seq("rollupPartials", "rollupMerge").forall(defs.contains),
      s"scanned ${all.size} files, state defs: $defs")
    val offenders = uncalled(scanned, all)
    assert(offenders.isEmpty,
      offenders.mkString("delete or call these state defs:\n", "\n", ""))
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
        |  def use: Int = barPartials(1) /* fooMerge */
        |}""".stripMargin)
    assert(uncalled(Seq("A.scala" -> src), Seq("A.scala" -> src)) == Seq("A.scala:3: fooMerge"))
    // a caller in another file counts
    val other = "B.scala" -> "object B { val x = A.fooMerge(2) }"
    assert(uncalled(Seq("A.scala" -> src), Seq("A.scala" -> src, other)).isEmpty)
  }
}
