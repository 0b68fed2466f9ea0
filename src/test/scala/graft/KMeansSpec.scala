package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** q169 Lloyd k-means training — the broadcast-model/one-shuffle
  * Spark loop must equal an independent sequential Lloyd
  * implementation from the raw embeddings, and training must
  * demonstrably move the model (assignments change after round 1) or
  * the loop is a disguised nearest-seed assignment (q87's stand-in
  * shape, which this operator exists to upgrade). */
class KMeansSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  private val k = 8
  private val iters = 3

  private lazy val vecs: Seq[(Long, Array[Double])] =
    Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => (id, e.map(_.toDouble)) }.toSeq.sortBy(_._1)

  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Sequential reference: seed from vec_id < k, `iters` assignment
    * passes with an update after each but the last; (d2, cl) ties to
    * the lowest cluster id; empty clusters vanish. */
  private def reference(rounds: Int): Map[Long, Long] = {
    var cents: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 < k).map { case (id, e) => (id, e) }
    def assign(): Map[Long, Long] =
      vecs.map { case (id, e) =>
        id -> cents.map { case (cl, c) => (d2(e, c), cl) }.minBy(x => (x._1, x._2))._2
      }.toMap
    for (_ <- 1 until rounds) {
      val asg = assign()
      val byCl = vecs.groupBy { case (id, _) => asg(id) }
      cents = byCl.toSeq.sortBy(_._1).map { case (cl, members) =>
        val dim = members.head._2.length
        val m = Array.tabulate(dim)(i => members.map(_._2(i)).sum / members.size)
        (cl, m)
      }
    }
    assign()
  }

  private lazy val got: Map[Long, Long] =
    SimilarityOps.kmeansLloyd(spark, sf, k = k, iters = iters)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap

  test("distributed Lloyd equals the independent sequential reference") {
    val want = reference(iters)
    assert(got.size == vecs.size)
    val diff = got.collect { case (id, cl) if want(id) != cl => (id, cl, want(id)) }
    assert(diff.isEmpty, s"first diffs: ${diff.take(5)}")
  }

  test("training moves the model: round-3 assignments differ from nearest-seed") {
    val seedAssign = reference(1)
    assert(got != seedAssign,
      "3-round Lloyd equals the nearest-seed assignment — centroid " +
        "updates never changed a single assignment on this corpus")
    // and the clustering is non-degenerate: more than one cluster survives
    assert(got.values.toSet.size > 1)
  }

  test("incremental refresh (q210): sequential driver replay parity; members conserved; state moved by later batches") {
    import org.apache.spark.sql.functions.col
    val got = KMeansSpec.refreshedCentroids(spark, sf)
    assert(got.nonEmpty)
    // independent sequential replay from the raw embeddings
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val dim = all.head._2.length
    val total = all.map(_._1).max + 1
    val third = total / 3
    def sliceOf(lo: Long, hi: Long) = all.filter(p => p._1 >= lo && p._1 < hi)
    // bootstrap Lloyd on the first third (KMeansSpec's reference loop)
    var cents: Seq[(Long, Array[Double])] =
      sliceOf(0, third).filter(_._1 < 8).map { case (id, v) => (id, v.clone) }.toSeq
    def assign(vs: Array[(Long, Array[Double])], cs: Seq[(Long, Array[Double])]) =
      vs.map { case (id, v) =>
        val best = cs.map { case (cl, c) =>
          (v.indices.foldLeft(0.0)((a, i) => a + (v(i) - c(i)) * (v(i) - c(i))), cl)
        }.minBy(identity)
        (id, best._2, v)
      }
    for (_ <- 1 until 3) {
      val a = assign(sliceOf(0, third), cents)
      cents = a.groupBy(_._2).toSeq.sortBy(_._1).map { case (cl, ms) =>
        (cl, Array.tabulate(dim)(i => ms.map(_._3(i)).sum / ms.length))
      }
    }
    // state from the bootstrap slice, then two batch folds
    val state = scala.collection.mutable.Map.empty[Long, (Long, Array[Double])]
    assign(sliceOf(0, third), cents).groupBy(_._2).foreach { case (cl, ms) =>
      state(cl) = (ms.length.toLong, Array.tabulate(dim)(i => ms.map(_._3(i)).sum))
    }
    Seq((third, 2 * third), (2 * third, total)).foreach { case (lo, hi) =>
      val cur = state.toSeq.sortBy(_._1).map { case (cl, (n, s)) => (cl, s.map(_ / n)) }
      assign(sliceOf(lo, hi), cur).groupBy(_._2).foreach { case (cl, ms) =>
        val (n0, s0) = state(cl)
        state(cl) = (n0 + ms.length,
          Array.tabulate(dim)(i => s0(i) + ms.map(_._3(i)).sum))
      }
    }
    val want = state.toSeq.sortBy(_._1).map { case (cl, (n, s)) =>
      (cl, n, s.map(v => math.floor(v / n * 1e6 + 0.5) / 1e6).toVector)
    }
    assert(got.toSeq == want, "refresh diverged from the sequential replay")
    // every corpus vector is counted exactly once across the state
    assert(got.map(_._2).sum == total)
    // the refresh genuinely moved the model: final centroids differ
    // from the bootstrap-only centroids (later batches carry weight)
    val bootOnly = cents.toMap
    assert(got.exists { case (cl, _, c) =>
      bootOnly.get(cl).exists(b =>
        b.toVector.map(v => math.floor(v * 1e6 + 0.5) / 1e6) != c)
    }, "later batches did not move a single centroid")
  }

  test("cluster topic cards (q202): driver TF-IDF recompute parity; ubiquitous terms rank below exclusive ones") {
    import org.apache.spark.sql.functions.col
    val got = SimilarityOps.clusterTopics(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    // ranks are exactly 1..n per cluster, scores non-increasing
    got.groupBy(_._1).values.foreach { g =>
      val srt = g.sortBy(_._2)
      assert(srt.map(_._2).toSeq == (1L to g.length.toLong).toSeq)
      srt.sliding(2).foreach {
        case Array(a, b) => assert(a._5 >= b._5, s"scores out of order: $a $b")
        case _ =>
      }
    }
    // independent recompute from assignments + normalized words
    val assign = SimilarityOps.kmeansLloyd(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.TextNorm.words(col("text")).as("w"))
      .as[(Long, Seq[String])].collect()
    val cw = words.flatMap { case (d, ws) =>
      ws.filter(_.nonEmpty).map(w => (assign(d), w))
    }.groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    val dfx = cw.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size }
    val ncl = assign.values.toSet.size
    val expect = cw.keys.groupBy(_._1).map { case (cl, keys) =>
      cl -> keys.toSeq
        .map { case (_, w) =>
          val s = cw((cl, w)) * (math.log((ncl + 1.0) / (dfx(w) + 1.0)) + 1.0)
          (w, cw((cl, w)), s)
        }
        .sortBy { case (w, _, s) => (-s, w) }.take(5)
    }
    got.groupBy(_._1).foreach { case (cl, g) =>
      val e = expect(cl)
      g.sortBy(_._2).zip(e).foreach { case ((_, _, w, tf, sc), (ew, etf, es)) =>
        assert(w == ew && tf == etf, s"cluster $cl: ($w,$tf) vs ($ew,$etf)")
        assert(sc == math.floor(es * 1e6 + 0.5) / 1e6, s"cluster $cl $w score")
      }
    }
    // discrimination, constructed (the sf corpus shares its whole
    // vocabulary across clusters, so no real-data term separates):
    // two well-separated embedding groups whose docs each carry a
    // group-exclusive word — idf must put the exclusive word at rank
    // 1 above the corpus-wide filler despite the filler's presence
    val dir = java.nio.file.Files.createTempDirectory("graft-topics").toString
    val groupA = Seq(0L, 2L, 4L)
    val emb = (0L to 5L).map { id =>
      val e = if (groupA.contains(id)) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (id, e, if (groupA.contains(id)) 0 else 1)
    }
    emb.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (0L to 5L).map { id =>
      val t = if (groupA.contains(id)) "shared shared apple apple apple"
        else "shared shared banana banana banana"
      (id, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cards = SimilarityOps.clusterTopics(spark, dir, k = 2, iters = 2, topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val rank1 = cards.filter(_._2 == 1L).map(_._3).toSet
    assert(rank1 == Set("apple", "banana"),
      s"exclusive terms must out-rank the ubiquitous filler: ${cards.toSeq}")
  }

  test("silhouette (q218): sf driver recompute parity; means in [-1, 1]; members conserved") {
    val got = SimilarityOps.kmeansSilhouette(spark, sf, k = k, iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).sum == vecs.size)
    assert(got.forall(g => g._3 >= -1.0 && g._3 <= 1.0))
    // independent recompute: rebuild the final centroids with the
    // reference loop, then a/b/s per vector with the floor-form
    // integer scaling and a per-cluster integer mean
    var cents: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 < k).map { case (id, e) => (id, e) }
    for (_ <- 1 until iters) {
      val asg = vecs.map { case (id, e) =>
        id -> cents.map { case (cl, c) => (d2(e, c), cl) }.minBy(x => (x._1, x._2))._2
      }.toMap
      cents = vecs.groupBy { case (id, _) => asg(id) }.toSeq.sortBy(_._1)
        .map { case (cl, members) =>
          val dim = members.head._2.length
          (cl, Array.tabulate(dim)(i => members.map(_._2(i)).sum / members.size))
        }
    }
    val si = vecs.map { case (_, e) =>
      val scored = cents.map { case (cl, c) => (d2(e, c), cl) }
      val (bestD2, bestCl) = scored.minBy(identity)
      val a = math.sqrt(bestD2)
      val b = math.sqrt(scored.filter(_._2 != bestCl).map(_._1).min)
      val s = if (math.max(a, b) == 0.0) 0.0 else (b - a) / math.max(a, b)
      (bestCl, math.floor(s * 1e6 + 0.5).toLong)
    }
    val want = si.groupBy(_._1).toSeq.sortBy(_._1).map { case (cl, xs) =>
      (cl, xs.size.toLong,
        math.floor(xs.map(_._2).sum.toDouble / (xs.size * 1e6) * 1e6 + 0.5) / 1e6)
    }
    assert(got.toSeq.sortBy(_._1) == want)
  }

  test("silhouette (q218): far-separated blobs read near 1; single surviving cluster reads empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sil").toString
    // two tight blobs 100 apart; seeds 0 and 1 land one in each
    val emb = (0L to 19L).map { id =>
      val base = if (id % 2 == 0) 0.0f else 100.0f
      (id, Array(base + (id % 5) * 0.1f, base, base, base), (id % 2).toInt)
    }
    emb.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val s = SimilarityOps.kmeansSilhouette(spark, dir, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(s.map(_._2).sum == 20L)
    assert(s.forall(_._3 > 0.95), s.toSeq.toString)
    // degenerate: identical vectors collapse to one surviving cluster;
    // "nearest other centroid" is undefined, the result is empty (the
    // metric is undefined, not zero)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-sil1").toString
    (0L to 9L).map(id => (id, Array(1.0f, 2.0f, 3.0f, 4.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    assert(SimilarityOps.kmeansSilhouette(spark, dir2, k = 4, iters = 2).isEmpty)
  }
}

object KMeansSpec {
  /** q210's registered (cluster, n_members, dim, c_v) rows regrouped to
    * one (cluster, n_members, centroid) per cluster, cluster-ascending. */
  def refreshedCentroids(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Seq[(Long, Long, Vector[Double])] =
    SimilarityOps.kmeansRefreshRows(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1._1)
      .map { case ((cl, n), rs) => (cl, n, rs.sortBy(_._3).map(_._4).toVector) }
}
