package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** Embedding operators over degenerate embeddings tables give a
  * defined result or fail with a named IllegalArgumentException, never
  * a bare `.head` error or NullPointerException. Each table is derived
  * from sf0.001's and written to a temp dir: no rows, every embedding
  * null, one row, and every label null (a null label cannot be an
  * inverted-list id of the label-codebook IVF). */
class DegenerateEmbeddingsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def tableDir(name: String)(derive: DataFrame => DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft-$name-embeddings").toString
    derive(Tables.load(spark, sf, "embeddings")).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val emptyDir = tableDir("empty")(_.limit(0))
  private lazy val allNullDir = tableDir("all-null")(
    _.withColumn("embedding", when(lit(false), col("embedding"))))
  private lazy val oneRowDir = tableDir("one-row")(_.orderBy(col("vec_id")).limit(1))
  private lazy val nullLabelDir = tableDir("null-labels")(
    _.withColumn("label", when(lit(false), col("label"))))

  test("q224 PQ rerank on an empty embeddings table fails naming the missing dimension") {
    val e = intercept[IllegalArgumentException](SimilarityOps.pqRerank(spark, emptyDir))
    assert(e.getMessage.contains("no non-null embedding"), e.getMessage)
  }

  test("Lloyd training (q169) on an empty embeddings table fails naming the missing seeds") {
    val e = intercept[IllegalArgumentException](SimilarityOps.kmeansLloyd(spark, emptyDir))
    assert(e.getMessage.contains("no embedding row has vec_id < 8"), e.getMessage)
  }

  test("q224 PQ rerank on an all-null embeddings table fails naming the missing dimension") {
    val e = intercept[IllegalArgumentException](SimilarityOps.pqRerank(spark, allNullDir))
    assert(e.getMessage.contains("no non-null embedding"), e.getMessage)
  }

  test("Lloyd training (q169) on an all-null embeddings table fails naming the null seed") {
    val e = intercept[IllegalArgumentException](SimilarityOps.kmeansLloyd(spark, allNullDir))
    assert(e.getMessage.contains("has a null embedding"), e.getMessage)
  }

  test("a one-row embeddings table: q169 assigns its one row, q224 returns no rows") {
    assert(SimilarityOps.kmeansLloyd(spark, oneRowDir).count() == 1)
    assert(SimilarityOps.pqRerank(spark, oneRowDir).count() == 0)
  }

  /** q46 (16 learned lists) and q184 (8), through the registry. */
  private val learnedIvf = Seq("q46_sim_ivf" -> 16, "q184_ivf_learned" -> 8)

  test("learned IVF (q46, q184) on an empty embeddings table fails naming the missing seeds") {
    for ((q, k) <- learnedIvf) {
      val e = intercept[IllegalArgumentException](SparkEntry.queries(q)(spark, emptyDir))
      assert(e.getMessage.contains(s"no embedding row has vec_id < $k"), s"$q: ${e.getMessage}")
    }
  }

  test("learned IVF (q46, q184) on an all-null embeddings table fails naming the null seed") {
    for ((q, _) <- learnedIvf) {
      val e = intercept[IllegalArgumentException](SparkEntry.queries(q)(spark, allNullDir))
      assert(e.getMessage.contains("has a null embedding"), s"$q: ${e.getMessage}")
    }
  }

  test("a one-row embeddings table: learned IVF (q46, q184) returns no rows") {
    for ((q, _) <- learnedIvf)
      assert(SparkEntry.queries(q)(spark, oneRowDir).count() == 0, q)
  }

  /** The single-query retrieval family, through the registry. */
  private val retrieval = Seq("q29_sim_topk", "q30_sim_ann_lsh", "q87_ivf_label",
    "q101_ivf_bucketed", "q107_embedding_admission", "q180_ivf_incremental",
    "q181_multiprobe_lsh", "q184_ivf_learned")

  private val noDim = "no non-null embedding to probe a dimension from"
  private val nullLabel = "a null label cannot be an inverted-list id"

  /** Each of [[retrieval]] on the table in `dir` gives the row count
    * `Right(n)` or fails with an IllegalArgumentException whose message
    * contains `Left(s)`. */
  private def expect(dir: String, want: Seq[Either[String, Int]]): Unit =
    for ((q, w) <- retrieval.zip(want)) {
      val got = try Right(SparkEntry.queries(q)(spark, dir).collect().length)
        catch { case e: IllegalArgumentException => Left(e.getMessage) }
      (got, w) match {
        case (Left(m), Left(s)) => assert(m.contains(s), s"$q: $m")
        case _ => assert(got == w, q)
      }
    }

  test("retrieval (q29, q30, q87, q101, q107, q180, q181, q184) on an empty embeddings table") {
    expect(emptyDir, Seq(Right(0), Left(noDim), Right(0), Right(0), Right(0), Right(0),
      Left(noDim), Left("no embedding row has vec_id < 8")))
  }

  test("retrieval on an all-null embeddings table: no list to probe, and admission admits every vector") {
    expect(allNullDir, Seq(Right(10), Left(noDim), Right(0), Right(0), Right(100), Right(0),
      Left(noDim), Left("has a null embedding")))
    assert(SparkEntry.queries("q107_embedding_admission")(spark, allNullDir)
      .filter(col("is_dup") || col("best_match").isNotNull).count() == 0)
  }

  test("retrieval on a one-row embeddings table returns no rows") {
    expect(oneRowDir, Seq.fill(retrieval.size)(Right(0)))
  }

  test("retrieval with every label null: the label-codebook IVF fails naming the null label") {
    expect(nullLabelDir, Seq(Right(10), Right(10), Left(nullLabel), Left(nullLabel),
      Left(nullLabel), Left(nullLabel), Right(10), Right(10)))
    assert(SparkEntry.queries("q46_sim_ivf")(spark, nullLabelDir).count() == 10)
  }
}
