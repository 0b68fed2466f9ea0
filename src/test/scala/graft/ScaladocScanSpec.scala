package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** A scaladoc documents the definition that follows it. One followed,
  * across nothing but blank lines, by another scaladoc documents
  * nothing: the compiler attaches only the second. */
class ScaladocScanSpec extends AnyFunSuite {
  import SourceScan._

  /** `path:line` of every scaladoc in `text` that another scaladoc
    * follows with only whitespace between. */
  private def orphans(path: String, text: String): Seq[String] = {
    val docs = comments(text).filter { case (s, e) =>
      text.startsWith("/**", s) && e - s > 4 }
    docs.zip(docs.drop(1)).collect {
      case ((s, e), (next, _)) if text.substring(e, next).trim.isEmpty =>
        s"$path:${text.substring(0, s).count(_ == '\n') + 1}"
    }
  }

  test("no scaladoc under src/main is followed only by another scaladoc") {
    val files = sources(new File("src/main/scala"))
    assert(files.size > 20, s"scanned ${files.size} files")
    val found = files.flatMap(f => orphans(f.getPath, contents(f)))
    assert(found.isEmpty,
      found.mkString("move each scaladoc to its def, or delete it:\n", "\n", ""))
  }

  test("orphan scan: only whitespace between two scaladocs flags the first") {
    val src =
      """object A {
        |  /** orphan */
        |
        |  /** kept */
        |  def a = 1
        |  /** kept */
        |  // note
        |  /** kept */
        |  def b = 2
        |  val s = "/** not a doc */"
        |  /** kept */
        |  def c = 3
        |  /**/
        |  /** kept */
        |  def d = 4
        |}""".stripMargin
    assert(orphans("A.scala", src) == Seq("A.scala:2"))
  }
}
