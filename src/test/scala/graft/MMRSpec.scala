package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** q168 MMR diversity re-rank — the in-plan unrolled greedy must
  * equal an independent driver-side implementation of Carbonell &
  * Goldstein's loop from the raw embeddings, and the redundancy
  * penalty must demonstrably engage (selection order ≠ relevance
  * order) or the operator is a disguised top-k. */
class MMRSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  private val k = 10
  private val candK = 50
  private val lam = 0.7

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble) }.toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    round4(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Independent sequential reference: exact top-candK by (rel desc,
    * id), then the greedy with decisions on the raw
    * `lam*rel - (1-lam)*msim` double and vec_id ties. */
  private def reference(): Seq[(Long, Long, Double, Double)] = {
    val q = vecs(0L)
    val cand = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (id, cos(e, q)) }
      .sortBy { case (id, rel) => (-rel, id) }
      .take(candK)
    val sims = (for {
      (a, _) <- cand; (b, _) <- cand if a != b
    } yield (a, b) -> cos(vecs(a), vecs(b))).toMap
    var selected = Vector[(Long, Long, Double, Double)]() // rank, id, rel, mmr
    var remaining = cand
    for (r <- 1 to k) {
      val pick =
        if (r == 1) { val (id, rel) = remaining.minBy { case (id, rel) => (-rel, id) }; (id, rel, rel) }
        else {
          remaining.map { case (id, rel) =>
            val msim = selected.map(s => sims((id, s._2))).max
            (id, rel, lam * rel - (1.0 - lam) * msim)
          }.minBy { case (id, _, mmr) => (-mmr, id) }
        }
      selected = selected :+ ((r.toLong, pick._1, pick._2,
        BigDecimal(pick._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    selected
  }

  private lazy val got: Seq[(Long, Long, Double, Double)] =
    SimilarityOps.mmrRerank(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq

  test("in-plan greedy equals the independent driver-side MMR loop") {
    assert(got.size == k)
    assert(got == reference(), s"\ngot  ${got.mkString("\n  ")}")
  }

  test("the redundancy penalty engages: selection order is not relevance order") {
    val rels = got.map(_._3)
    assert(rels != rels.sorted.reverse,
      "MMR selection is in pure relevance order — the penalty never engaged " +
        "and the operator degenerated to top-k on this corpus")
    // picks are distinct docs and ranks are the contiguous 1..k
    assert(got.map(_._2).distinct.size == k)
    assert(got.map(_._1) == (1L to k.toLong))
  }

  test("degenerate input: fewer candidates than k pick each once; a lone vector picks none") {
    // vec_id 0 is the query; vector i is 1.0 on axis i mod 4, 0.5 elsewhere
    def corpus(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-mmr").toString
      (0 until n).map(i => (i.toLong, Array.tabulate(4)(j => if (j == i % 4) 1.0f else 0.5f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    assert(SimilarityOps.mmrRerank(spark, corpus(1), k = k).count() == 0L)
    val picks = SimilarityOps.mmrRerank(spark, corpus(4), k = k)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(picks.map(_._1) == Seq(1L, 2L, 3L))
    assert(picks.map(_._2).sorted == Seq(1L, 2L, 3L))
  }
}
