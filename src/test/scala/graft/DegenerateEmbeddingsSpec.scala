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
  * null, and one row. */
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
}
