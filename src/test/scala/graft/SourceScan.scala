package graft

import java.io.File
import java.nio.file.Files

/** Comment-aware reading of the Scala sources, shared by the source
  * scans. */
object SourceScan {

  def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** The (start, end) offsets of every comment in `text`; string and
    * character literals are skipped, so a glob's slash-star is not a
    * comment. */
  def comments(text: String): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < text.length) {
      if (text.startsWith("\"\"\"", i)) {
        val end = text.indexOf("\"\"\"", i + 3)
        i = if (end < 0) text.length else end + 3
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        i = math.min(j + 1, text.length)
      } else if (text(i) == '\'' && i + 2 < text.length && text(i + 2) == '\'') {
        i += 3
      } else if (text(i) == '\'' && text.startsWith("'\\", i)) {
        i = math.min(text.indexOf('\'', i + 3) + 1, text.length)
      } else if (text.startsWith("//", i)) {
        val start = i
        while (i < text.length && text(i) != '\n') i += 1
        out += start -> i
      } else if (text.startsWith("/*", i)) {
        val start = i
        var depth = 0 // Scala block comments nest
        while (i < text.length && (depth > 0 || text.startsWith("/*", i))) {
          if (text.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out += start -> i
      } else i += 1
    }
    out.result()
  }

  /** `text` with every comment blanked to spaces, newlines kept, so
    * line numbers and indentation survive. */
  def stripComments(text: String): String = {
    val out = new StringBuilder(text)
    for ((s, e) <- comments(text); i <- s until e if text(i) != '\n') out(i) = ' '
    out.toString
  }

  def contents(file: File): String = new String(Files.readAllBytes(file.toPath), "UTF-8")
}
