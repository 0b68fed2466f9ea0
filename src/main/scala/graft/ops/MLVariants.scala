package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.MinHashLSH
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CosineSimilarity.cosineSimilarity

/** spark-mllib-backed variants of the hand-rolled near-dup /
  * similarity operators (SURVEY.md §2c lists MinHashLSH as "glue
  * only"; the brief asks for an IVF *or* LSH ANN — the engine ships
  * both). These exist to (a) cover the mllib integration surface and
  * (b) cross-validate the hand-rolled implementations; the hand-rolled
  * forms remain the default (pure codegen'd columns, no Vector
  * boxing, no estimator fit step).
  *
  * The array<float> → ml Vector conversions are UDFs by necessity —
  * the mllib API boundary demands Vector — and deliberately confined
  * to this file.
  */
object MLVariants {

  private val VocabBits = 18 // 262k-dim binary shingle space

  /** mllib MinHashLSH near-dup: shingle sets → sparse binary vectors →
    * approxSimilarityJoin on Jaccard distance. Deterministic seed. Not
    * registered: it is about 5x slower than q26's banded LSH for the
    * same pairs (SimilarityDedupSpec cross-validates the two), and is
    * kept as the mllib integration path. */
  private[graft] def nearDupMinHashML(spark: SparkSession, dir: String,
                                       threshold: Double = 0.5, numTables: Int = 10): DataFrame = {
    import spark.implicits._
    val dim = 1 << VocabBits
    val toVec = udf { (sh: Seq[Long]) =>
      val idx = sh.map(h => ((h % dim) + dim) % dim).map(_.toInt).distinct.sorted.toArray
      Vectors.sparse(dim, idx, Array.fill(idx.length)(1.0))
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), DedupOps.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), toVec(transform(col("sh"), s => xxhash64(s))).as("features"))
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numTables).setSeed(42L)
      .fit(docs)
    model.approxSimilarityJoin(docs, docs, 1.0 - threshold, "dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(lit(1.0) - col("dist"), 4).as("jaccard"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** IVF top-k: a KMeans coarse quantizer (nlist centroids) over the
    * corpus; the query probes its nprobe nearest centroids and exact
    * cosine reranks only those clusters. The fit is a one-off index
    * build (persist the model + cluster column in production); the
    * query path touches nprobe/nlist of the corpus. */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
              k: Int = 10, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val toDense = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val e = Tables.embeddings(spark, dir)
      .withColumn("features", toDense(col("embedding")))
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(e)
    val assigned = model.transform(e)
    val qVec = assigned.filter(col("vec_id") === queryId)
      .select(col("features")).head().getAs[Vector](0)
    val probes = model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.size) { val t = c(j) - qVec(j); d += t * t; j += 1 }
        (i, d)
      }
      .sortBy(_._2).take(nprobe).map(_._1)
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    assigned
      .filter(col("cluster").isin(probes.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(cosineSimilarity(col("embedding"), col("q_emb")), 4))
      .select(col("vec_id"), col("label").cast("int").as("label"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** q46's oracle-GATED form: the q100/q124 envelope pattern applied
    * to ANN recall. An IVF result is seed- and probe-dependent, so a
    * SQL oracle can never replay WHICH vectors the ANN returns — what
    * it CAN replay is the exact brute-force top-k (q29's oracle). So
    * the gated output is the exact top-k rows (every value
    * DuckDB-checkable) plus one in-plan envelope flag:
    * `ivf_recall_ok` = the KMeans-IVF leg recovered at least
    * `recallFloor` of the true top-k. The oracle emits literal TRUE,
    * so a recall collapse (broken probe selection, broken re-rank,
    * empty ANN result) fails the hash gate, while legitimate
    * regeneration-to-regeneration recall jitter does not.
    *
    * Floor calibration: nprobe=8 of nlist=16 probes half the inverted
    * lists, so even against a worst-case unstructured corpus (top-k
    * spread uniformly over clusters) recall@10 is Binomial(10, 1/2)
    * and P(recall < 3) ≈ 5% — while measured recall on the actual
    * testdata is 10/10 at sf0.01 and well above the floor at sf0.001
    * (4/10 with nprobe=4; doubled probes raise it). A floor a sound
    * ANN clears by construction, a broken one cannot reach.
    *
    * Scale note: the brute-force leg exists FOR the gate (exact +
    * approximate in one plan, like q100's exact quantiles beside the
    * sketch); the production ANN path without the exact leg is
    * q87/q101/q30. */
  def ivfTopKGated(spark: SparkSession, dir: String, queryId: Long = 0L,
                   k: Int = 10, nlist: Int = 16, nprobe: Int = 8,
                   recallFloor: Int = 3): DataFrame = {
    val ann = ivfTopK(spark, dir, queryId, k, nlist, nprobe)
      .select(col("vec_id").as("ann_id"))
    val exact = SimilarityOps.bruteForceTopK(spark, dir, queryId, k)
    val recall = exact.join(ann, exact("vec_id") === ann("ann_id"), "left")
      .agg(sum(when(col("ann_id").isNotNull, 1L).otherwise(0L)).as("recall_k"))
    exact.crossJoin(broadcast(recall))
      .select(col("vec_id"), col("label"), col("cos"),
        (col("recall_k") >= recallFloor).as("ivf_recall_ok"))
      .orderBy(col("cos").desc, col("vec_id"))
  }
}
