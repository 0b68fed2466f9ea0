package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** Embedding operators over an empty embeddings table fail with a
  * named IllegalArgumentException, not a bare `.head` error. The empty
  * table is sf0.001's schema with no rows, written to a temp dir. */
class DegenerateEmbeddingsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty-embeddings").toString
    Tables.load(spark, sf, "embeddings").limit(0).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q224 PQ rerank on an empty embeddings table fails naming the missing dimension") {
    val e = intercept[IllegalArgumentException](SimilarityOps.pqRerank(spark, emptyDir))
    assert(e.getMessage.contains("no non-null embedding"), e.getMessage)
  }

  test("Lloyd training (q169) on an empty embeddings table fails naming the missing seeds") {
    val e = intercept[IllegalArgumentException](SimilarityOps.kmeansLloyd(spark, emptyDir))
    assert(e.getMessage.contains("no embedding row has vec_id < 8"), e.getMessage)
  }
}
