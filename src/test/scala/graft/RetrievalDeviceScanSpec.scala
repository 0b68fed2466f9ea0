package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The retrieval family's policies are spelled once in src/main, in
  * `SimilarityOps`: the (`cos` desc, `vec_id` asc) order, the
  * `round(cosineSimilarity(…), 4)` score and the query-vector filter.
  * A query that needs one calls its def, so a change of tie rule or
  * rounding reaches every query at once. The interpreted IVF
  * assignment `ivfDists` stays gone: the label codebook assigns and
  * probes through the `L2Argmin`/`L2Scored` kernels. The scan reads
  * comment-stripped source. */
class RetrievalDeviceScanSpec extends AnyFunSuite {
  import SourceScan._

  /** Each policy, and how many times src/main may spell it. */
  private val policies = Seq(
    "the (cos desc, vec_id asc) order" -> """col\("cos"\)\.desc\s*,\s*col\("vec_id"\)""".r -> 1,
    "the rounded cosine score" -> """round\(\s*cosineSimilarity\(""".r -> 1,
    "the query-vector filter" -> """col\("vec_id"\)\s*===\s*(?!col\()[A-Za-z_]""".r -> 1,
    "the ivfDists assignment" -> """\bivfDists\b""".r -> 0)

  /** `path:line` of every line of `files` that `pattern` matches. */
  private def sites(files: Seq[(String, String)], pattern: scala.util.matching.Regex): Seq[String] =
    for {
      (path, text) <- files
      (line, at) <- text.split("\n", -1).toSeq.zipWithIndex
      if pattern.findFirstIn(line).nonEmpty
    } yield s"$path:${at + 1}"

  test("each retrieval policy is spelled once in src/main, and ivfDists not at all") {
    val files = sources(new File("src/main/scala")).map(f => f.getPath -> stripComments(contents(f)))
    assert(files.size > 20, s"scanned ${files.size} files")
    val wrong = for {
      ((what, pattern), allowed) <- policies
      found = sites(files, pattern)
      if found.size != allowed
    } yield s"$what: ${found.size} sites, want $allowed\n  ${found.mkString("\n  ")}"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("the patterns match the spellings the queries used, not a join key or a comment") {
    val src = stripComments(
      """val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))
        |  .withColumn("cos", round(cosineSimilarity(col("embedding"), col("q_emb")), 4))
        |  .orderBy(col("cos").desc, col("vec_id"))
        |val j = a.join(b, col("vec_id") === col("b_id"))
        |// .orderBy(col("cos").desc, col("vec_id")) ivfDists
        |val d = ivfDists.getItem(0)""".stripMargin)
    assert(policies.map { case ((_, p), _) => sites(Seq("A.scala" -> src), p) } ==
      Seq(Seq("A.scala:3"), Seq("A.scala:2"), Seq("A.scala:1"), Seq("A.scala:6")))
  }
}
