package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CosineSimilarity.cosineSimilarity
import graft.ops.{DedupOps, SimilarityOps, TextOps}

class SimilarityDedupSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  /** mllib MinHashLSH near-dup, the reference the banded LSH is
    * cross-checked against: shingle sets → sparse binary vectors in a
    * 2^18-dim space → approxSimilarityJoin on Jaccard distance over 10
    * hash tables, with a fixed seed. The array → ml Vector conversion
    * is a UDF because the mllib API takes Vectors. */
  private def nearDupMinHashML(dir: String, threshold: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.ml.feature.MinHashLSH
    import org.apache.spark.ml.linalg.Vectors
    val dim = 1 << 18
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
      .setNumHashTables(10).setSeed(42L)
      .fit(docs)
    model.approxSimilarityJoin(docs, docs, 1.0 - threshold, "dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(lit(1.0) - col("dist"), 4).as("jaccard"))
      .filter(col("doc_a") < col("doc_b"))
  }

  test("method agreement (q203): set arithmetic matches the collected pair sets") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val sets = Map(
      "ngram" -> pairs(DedupOps.nearDupNgram(spark, sf)),
      "minhash" -> pairs(DedupOps.nearDupMinHashMd5(spark, sf)),
      "simhash" -> pairs(DedupOps.nearDupSimHash(spark, sf)))
    val got = DedupOps.methodAgreement(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet ==
      Set(("minhash", "ngram"), ("minhash", "simhash"), ("ngram", "simhash")))
    got.foreach { case ((a, b), (na, nb, nBoth, agr)) =>
      assert(na == sets(a).size.toLong && nb == sets(b).size.toLong, s"($a,$b) sizes")
      val inter = sets(a).intersect(sets(b)).size.toLong
      assert(nBoth == inter, s"($a,$b) intersection")
      val want = if (na + nb - inter == 0) 0.0
        else inter.toDouble / (na + nb - inter).toDouble
      assert(agr == math.floor(want * 1e6 + 0.5) / 1e6, s"($a,$b) agreement")
      assert(agr >= 0.0 && agr <= 1.0 && nBoth <= math.min(na, nb))
    }
    // non-vacuity: the same-metric pair (ngram vs minhash, both exact
    // Jaccard >= 0.5 through different blocking) overlaps at all
    assert(got(("minhash", "ngram"))._3 > 0L,
      "same-metric detectors share no pairs - fixture degenerate")
  }

  test("source embedding drift (q208): centroid matrix matches a driver recompute; metric axioms hold") {
    val got = SimilarityOps.sourceEmbeddingDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.nonEmpty)
    val rows = Tables.embeddings(spark, sf)
      .join(Tables.documents(spark, sf).select($"doc_id".as("vec_id"), $"source"), "vec_id")
      .select($"source", $"embedding").as[(String, Array[Float])].collect()
    val cents = rows.groupBy(_._1).map { case (s, vs) =>
      val dim = vs.head._2.length
      s -> (0 until dim).map(i => vs.map(_._2(i).toDouble).sum / vs.length).toArray
    }
    got.foreach { case ((a, b), (l2, cos)) =>
      val (ca, cb) = (cents(a), cents(b))
      val wl2 = math.sqrt(ca.indices.foldLeft(0.0)((s, i) =>
        s + (ca(i) - cb(i)) * (ca(i) - cb(i))))
      val dot = ca.indices.foldLeft(0.0)((s, i) => s + ca(i) * cb(i))
      val na = math.sqrt(ca.indices.foldLeft(0.0)((s, i) => s + ca(i) * ca(i)))
      val nb = math.sqrt(cb.indices.foldLeft(0.0)((s, i) => s + cb(i) * cb(i)))
      assert(l2 == math.floor(wl2 * 1e6 + 0.5) / 1e6, s"($a,$b) l2")
      assert(cos == math.floor(dot / (na * nb) * 1e6 + 0.5) / 1e6, s"($a,$b) cos")
      assert(l2 >= 0.0 && cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
  }

  test("retrieval metrics (q206): driver recompute parity; perfect clusters score 1.0 across the board") {
    val got = SimilarityOps.retrievalMetrics(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got.size == 20)
    // driver recompute from the exact knnJoin ranking
    val hits = SimilarityOps.knnJoin(spark, sf, 20L, 10).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(4)))
    val qLab = Tables.embeddings(spark, sf).filter($"vec_id" < 20)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val labN = Tables.embeddings(spark, sf).groupBy($"label").count()
      .as[(Int, Long)].collect().toMap
    val ln2 = math.log(2.0)
    got.foreach { case (q, (nRel, prec, mrr, ndcg)) =>
      val mine = hits.filter(_._1 == q).sortBy(_._3)
      val rels = mine.map { case (_, l, rnk) => (rnk, if (l == qLab(q)) 1L else 0L) }
      assert(nRel == rels.map(_._2).sum, s"q$q n_rel")
      assert(prec == math.floor(nRel / 10.0 * 1e6 + 0.5) / 1e6, s"q$q precision")
      val first = rels.find(_._2 == 1L).map(_._1)
      val wantMrr = first.map(1.0 / _).getOrElse(0.0)
      assert(mrr == math.floor(wantMrr * 1e6 + 0.5) / 1e6, s"q$q mrr")
      val dcg = rels.foldLeft(0.0) { case (a, (rnk, rel)) =>
        a + rel.toDouble * ln2 / math.log(rnk + 1.0)
      }
      val m = math.min(labN(qLab(q)) - 1, 10L)
      val idcg = (1L to m).foldLeft(0.0)((a, i) => a + ln2 / math.log(i + 1.0))
      val wantN = if (idcg == 0.0) 0.0 else dcg / idcg
      assert(ndcg == math.floor(wantN * 1e6 + 0.5) / 1e6, s"q$q ndcg")
      Seq(prec, mrr, ndcg).foreach(v => assert(v >= 0.0 && v <= 1.0))
      assert((nRel > 0L) == (mrr > 0.0))
    }
    // perfect-retrieval anchor: two orthogonal 12-vector clusters —
    // every query's top-10 is all-relevant, so all metrics pin 1.0
    // (dcg and idcg are the identical fold, hence ratio EXACTLY 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ir").toString
    (0L until 24L).map { id =>
      val e = if (id % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (id, e, (id % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val perfect = SimilarityOps.retrievalMetrics(spark, dir).collect()
    assert(perfect.length == 20)
    perfect.foreach { r =>
      assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0,
        s"perfect cluster scored ${r.toSeq}")
    }
  }

  test("label-codebook IVF agrees with brute force on returned cosines") {
    val bf = SimilarityOps.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val ivf = SimilarityOps.ivfLabelTopK(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      bf.get(r.getLong(0)).foreach(c => assert(c == r.getDouble(2)))
    }
  }

  test("bucketed IVF probe prunes buckets and matches the recompute-everything form") {
    SimilarityOps.writeIvfIndex(spark, sf, "ivf_idx_spec", buckets = 8)
    val bucketedScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val confBefore = spark.conf.getOption(bucketedScanKey)
    val probe = SimilarityOps.ivfBucketedTopK(spark, sf, "ivf_idx_spec")
    // the probe pins autoBucketedScan=false for its OWN planning only;
    // leaking the pin would silently change every later bucketed
    // scan's planning in the session (q95 runs after q101 in bench)
    assert(spark.conf.getOption(bucketedScanKey) == confBefore,
      s"ivfBucketedTopK leaked $bucketedScanKey into the session")
    // the 100 TB claim as a plan fact: the index scan reads ONLY the
    // buckets the nprobe labels hash to — SelectedBucketsCount must be
    // present AND strictly below the bucket count (nprobe=2 labels can
    // hash to at most 2 of 8 buckets)
    val plan = probe.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"index scan did not bucket-prune:\n$plan")
    assert(sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt == 8,
      s"expected <=2 of 8 buckets read, got ${sel.get.matched}")
    // identical top-k to the in-plan assignment path (q101's oracle
    // carries q87's SQL; this is the same parity, engine-side)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getDouble(2))
    assert(probe.collect().map(key).toSeq ==
      SimilarityOps.ivfLabelTopK(spark, sf).collect().map(key).toSeq,
      "bucketed and recomputed IVF top-k diverge")
  }

  test("bucketed kNN join: ranked per-query hits, exact cosines, probed-bucket consistency") {
    val got = SimilarityOps.knnJoinBucketed(spark, sf, nQueries = 20L, k = 3)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // per-query rank sanity: <= k hits, ranks are exactly 1..n
    rows.toSeq.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.length <= 3)
      assert(g.map(_.getLong(4)).sorted == (1L to g.length.toLong).toList)
    }
    val e = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val pairs = got.select($"q_id", $"vec_id", $"cos")
    // approximate candidate set, EXACT scores: every reported cosine
    // must equal the direct computation on the raw embeddings
    val wrongCos = pairs
      .join(e.select($"vec_id".as("q_id"), $"embedding".as("q_emb")), Seq("q_id"))
      .join(e, Seq("vec_id"))
      .withColumn("cos2", round(cosineSimilarity($"embedding", $"q_emb"), 4))
      .filter($"cos" =!= $"cos2").count()
    assert(wrongCos == 0, "bucketed kNN reported a cosine that direct scoring disagrees with")
    // every hit must come from a probed bucket: the corpus vector's
    // bucket is within Hamming distance 1 of its query's bucket
    val b = SimilarityOps.withBucket(e, nPlanes = 6).select($"vec_id", $"bucket")
    val outOfProbe = pairs
      .join(b.select($"vec_id".as("q_id"), $"bucket".as("qb")), Seq("q_id"))
      .join(b, Seq("vec_id"))
      .filter(bit_count($"bucket".bitwiseXOR($"qb")) > 1).count()
    assert(outOfProbe == 0, "bucketed kNN returned a hit outside the probed buckets")
  }

  test("embedding admission: mixed verdicts, batch-only rows, bucket-riding index scan") {
    SimilarityOps.writeIvfIndexOf(
      graft.Tables.embeddings(spark, sf).filter(pmod($"vec_id", lit(5)) =!= 4),
      "ivf_adm_spec", buckets = 8)
    // force the shuffle-family join (the 100 TB shape — the batch side
    // cannot always broadcast) to prove the index side rides its
    // clabel bucketing instead of re-shuffling
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val got = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SimilarityOps.embeddingAdmission(spark, sf, "ivf_adm_spec")
      val plan = df.queryExecution.executedPlan.toString
      // the probe join's LEFT (index) subtree prints between the join
      // line and the bucketed scan line — no Exchange may appear in
      // it (the 2 clabel exchanges elsewhere in the plan are the
      // codebook build's own aggregations, not an index re-shuffle;
      // an unbucketed index would add one right here)
      val lines = plan.linesIterator.toVector
      val join = lines.indexWhere(_.contains("SortMergeJoin [clabel"))
      val scan = lines.indexWhere(_.contains("SelectedBucketsCount"))
      assert(join >= 0 && scan > join,
        s"expected a merge probe join over a bucketed index scan:\n$plan")
      assert(!lines.slice(join + 1, scan).exists(_.contains("Exchange")),
        s"the index side re-shuffled between the join and its scan:\n$plan")
      df.collect()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // verdicts must discriminate on this corpus (38/100 dup at sf0.01,
    // 32/100 at sf0.001) — an all-true or all-false outcome means the
    // threshold or the probe went degenerate
    val dups = got.count(_.getBoolean(1))
    assert(dups > 0 && dups < got.length, s"degenerate verdict: $dups/${got.length}")
    // rows are exactly the batch slice; matches come from the index slice
    assert(got.forall(_.getLong(0) % 5 == 4))
    assert(got.forall(r => r.isNullAt(2) || r.getLong(2) % 5 != 4))
  }

  test("bucketed kNN join plans as a bucket-keyed join when broadcast is unavailable") {
    // the 100 TB shape: with neither side broadcast-eligible the
    // candidate join must key on the bucket id — an equi-join both
    // sides hash-partition into, never a nested-loop over the corpus
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = SimilarityOps.knnJoinBucketed(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange hashpartitioning(bucket"),
        s"candidate join is not bucket-keyed:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"bucketed kNN degenerated to an all-pairs join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("pagerank: rank mass is conserved every run and hubs outrank leaves") {
    import org.apache.spark.sql.functions._
    val pr = graft.ops.DedupOps.pageRankDupGraph(spark, sf).cache()
    val n = pr.count()
    assert(n > 0, "fixture has no dup pairs to rank")
    // the unnormalized form is mass-conserving: sum r_{k+1} =
    // (1-d)·N + d·sum r_k and sum r_0 = N, so sum r_k = N for all k —
    // a wrong degree join or a dropped node breaks this immediately
    val mass = pr.agg(sum(col("pr"))).head().getDouble(0)
    assert(math.abs(mass - n) < 1e-3, s"rank mass $mass != node count $n")
    // every rank is at least the teleport floor
    assert(pr.filter(col("pr") < 0.15 - 1e-9).count() == 0, "rank below (1-d)")
    // determinism: a rebuilt plan yields byte-identical rounded ranks
    val again = graft.ops.DedupOps.pageRankDupGraph(spark, sf)
    assert(pr.except(again).count() == 0 && again.except(pr).count() == 0,
      "pagerank is not deterministic across plan rebuilds")
    pr.unpersist()
  }

  test("stop-bucket cap excludes degenerate buckets and leaves the rest exact") {
    // one degenerate 50-member bucket (the LSH stopword analog) and
    // one genuine 2-member bucket
    val docs = ((1 to 50).map(i => (i.toLong, "giant")) ++
      Seq((100L, "small"), (101L, "small"))).toDF("doc_id", "key")
    val buckets = docs.groupBy($"key")
      .agg(collect_list(struct($"doc_id")).as("members"))
    def pairs(cap: Option[Int]) = DedupOps.bucketPairs(buckets, cap)
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // uncapped stays exact: all 50*49/2 degenerate pairs + the real one
    assert(pairs(None).length == 50 * 49 / 2 + 1)
    // capped: the quadratic bucket is excluded wholesale, the real
    // pair survives untouched
    assert(pairs(Some(10)).toSeq == Seq((100L, 101L)))
  }

  test("int8 quantization round-trips every component within half a step") {
    // the oracle replays the same formula, so fidelity needs an
    // independent check: dequantized mn + q*scale must sit within
    // scale/2 of the original component (the defining property of an
    // affine 8-bit code)
    val raw = Tables.embeddings(spark, sf).filter($"vec_id" < 50)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val qmeta = SimilarityOps.quantizeInt8(spark, sf).filter($"vec_id" < 50).collect()
    assert(qmeta.nonEmpty)
    qmeta.foreach { r =>
      val (id, nDims) = (r.getLong(0), r.getLong(1))
      val emb = raw(id)
      assert(nDims == emb.length)
      val mn = emb.min; val mx = emb.max
      val scale = (mx - mn) / 255.0
      if (scale > 0) {
        val qs = emb.map(x => math.floor((x - mn) / scale + 0.5))
        // recomputed codes must reproduce the gate's integer observables
        assert(qs.sum.toLong == r.getLong(2), s"vec $id q_sum")
        assert(qs.min.toLong == r.getLong(3) && qs.max.toLong == r.getLong(4))
        // and dequantization is faithful to half a step
        emb.zip(qs).foreach { case (x, q) =>
          assert(math.abs(mn + q * scale - x) <= scale / 2 + 1e-12,
            s"vec $id component off by more than scale/2")
        }
      }
    }
  }

  test("shard packing fills every shard boundary to its token budget") {
    val rows = TextOps.shardPacking(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val budget = 4096L
    rows.groupBy(_._1).foreach { case (source, docs) =>
      val inOrder = docs.sortBy(_._2)
      // shard ids never decrease along the stream
      assert(inOrder.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      inOrder.foreach { case (_, _, n, cum, shard) =>
        val before = cum - n
        // tokens before a doc bound its shard id exactly
        assert(before >= shard * budget && before < (shard + 1) * budget,
          s"$source doc boundary outside its shard window")
      }
    }
  }

  test("cosine_similarity: exact values, null and zero-norm handling") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),   // identical -> 1
      (Array(1f, 0f), Array(0f, 1f)),   // orthogonal -> 0
      (Array(1f, 2f), Array(2f, 4f)),   // colinear -> 1
      (Array(0f, 0f), Array(1f, 1f))    // zero norm -> null
    ).toDF("a", "b")
    val got = df.select(cosineSimilarity($"a", $"b")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(math.round(r.getDouble(0) * 1e9) / 1e9))
    assert(got.toSeq == Seq(Some(1.0), Some(0.0), Some(1.0), None))
    // mismatched lengths -> null
    val m = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
      .select(cosineSimilarity($"a", $"b")).head()
    assert(m.isNullAt(0))
  }

  test("cosine_similarity matches an independently computed double formula") {
    val two = Tables.embeddings(spark, sf).filter($"vec_id" < 2)
      .collect().map(_.getSeq[Float](1).toArray)
    val Array(a, b) = two
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
    val expected = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val e = Tables.embeddings(spark, sf)
    val got = e.filter($"vec_id" === 0).select($"embedding".as("x"))
      .crossJoin(e.filter($"vec_id" === 1).select($"embedding".as("y")))
      .select(cosineSimilarity($"x", $"y")).head().getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
  }

  test("cosine_similarity registered for SQL via GraftExtensions builder") {
    // register on the live session the way withExtensions would
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {})
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => graft.functions.CosineSimilarity(exprs.head, exprs(1)), "built-in")
    val r = spark.sql("SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
      "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    // the int8 kernel rides the same SQL surface
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int_dot",
      exprs => graft.functions.IntDotProduct(exprs.head, exprs(1)), "built-in")
    val d = spark.sql(
      "SELECT int_dot(array(3L, -2L, 1L), array(4L, 5L, 6L)) AS d").head().getLong(0)
    assert(d == 3L * 4 - 2 * 5 + 1 * 6)
    assert(spark.sql("SELECT int_dot(array(1L), array(1L, 2L)) AS d").head().isNullAt(0),
      "length mismatch must be null, not zero")
  }

  test("int_dot codegen: two calls over non-nullable inputs compile in one function") {
    // nullSafeCodeGen only brace-scopes the body when a child is
    // nullable, so with NON-nullable children two int_dot calls land
    // unbraced in the same generated-function scope. Pre-fix (fixed
    // Java locals n/dot/i instead of ctx.freshName) that was a Janino
    // duplicate-local compile failure → silent interpreted fallback.
    // GenerateUnsafeProjection compiles eagerly with no fallback, so
    // this test fails loudly if the locals ever collide again.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val a = Literal.create(Seq(1L, 2L, 3L), ArrayType(LongType, containsNull = false))
    val b = Literal.create(Seq(4L, 5L, 6L), ArrayType(LongType, containsNull = false))
    assert(!a.nullable && !b.nullable, "fixture must exercise the unbraced path")
    val proj = GenerateUnsafeProjection.generate(Seq(
      graft.functions.IntDotProduct(a, b), graft.functions.IntDotProduct(b, a)))
    val row = proj.apply(InternalRow.empty)
    assert(row.getLong(0) == 32L && row.getLong(1) == 32L)
  }

  test("cosine_similarity codegen: two calls in one projection compile and equal interpreted") {
    // array(...) is non-nullable, so nullSafeCodeGen leaves both bodies
    // unbraced in one generated method: fixed Java locals there were a
    // "Redefinition of local variable" compile failure, hidden by the
    // interpreted fallback that CodegenOnly switches off.
    import TestSpark.{withConf, CodegenOnly, InterpretedOnly}
    import org.apache.spark.sql.Row
    def run(): Seq[Row] = spark.range(5).select(
        array(lit(1.0f), col("id").cast("float")).as("x"),
        array(col("id").cast("float"), lit(2.0f)).as("y"))
      .select(cosineSimilarity(col("x"), col("y")).as("c1"),
        cosineSimilarity(col("y"), col("x")).as("c2"))
      .collect().toSeq
    val compiled = withConf(CodegenOnly: _*)(run())
    assert(compiled == withConf(InterpretedOnly: _*)(run()))
    assert(compiled.forall(r => r.get(0) == r.get(1)) && compiled.exists(!_.isNullAt(0)))
    // q156 puts two calls in its TakeOrderedAndProject projection
    def q156(): Seq[Row] = SparkEntry.queries("q156_quantized_rerank")(spark, sf)
      .collect().toSeq
    val q156Compiled = withConf(CodegenOnly: _*)(q156())
    assert(q156Compiled.nonEmpty && q156Compiled == withConf(InterpretedOnly: _*)(q156()))
  }

  test("exact dedup: normalized variants collapse to one fingerprint") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "something else")).toDF("doc_id", "text")
    val groups = docs.groupBy(TextOps.fingerprintCol($"text").as("fp"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(groups == Map(1L -> 3L, 4L -> 1L))
  }

  test("q26 runs the md5 MinHash LSH: its rows equal nearDupMinHashMd5's") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(r => (r._1, r._2))
    val q26 = rows(SparkEntry.queries("q26_neardup_minhash")(spark, sf))
    assert(q26.nonEmpty, "no near-dup pairs on the fixture")
    assert(q26 == rows(DedupOps.nearDupMinHashMd5(spark, sf)))
  }

  test("md5-form minhash LSH (oracle-checkable variant) finds the same high-jaccard pairs") {
    val exact = DedupOps.nearDupNgram(spark, sf, threshold = 0.7)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Lsh = DedupOps.nearDupMinHashMd5(spark, sf, threshold = 0.7)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 bands x 3 rows: collision prob at J>=0.7 ≈ 1-(1-0.343)^8 ≈ 0.97
    // (deterministic salted-md5 hashes: this either always passes on
    // this corpus or always fails — no flake)
    assert(exact.subsetOf(md5Lsh), s"missed: ${exact -- md5Lsh}")
    // pairs are verified and canonical (doc_a < doc_b)
    assert(md5Lsh.forall { case (a, b) => a < b })
  }

  test("simhash pairs have genuinely close token multisets") {
    val pairs = DedupOps.nearDupSimHash(spark, sf).collect()
    assert(pairs.forall(_.getLong(2) <= 3))
  }

  test("mllib MinHashLSH finds the hand-rolled high-jaccard pairs") {
    val exact = DedupOps.nearDupNgram(spark, sf, threshold = 0.9)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ml = nearDupMinHashML(sf, threshold = 0.9)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(ml), s"mllib missed: ${exact -- ml}")
  }

  test("ivf top-k agrees with brute force on cosine values") {
    // q46's ANN leg (16 learned lists, probe 8): every served score is
    // the exact cosine, and its recall floor sits above the gate's
    val brute = SimilarityOps.bruteForceTopK(spark, sf, k = 5000)
      .as[(Long, Int, Double)].collect().map(t => t._1 -> t._3).toMap
    val top10 = SimilarityOps.bruteForceTopK(spark, sf, k = 10)
      .as[(Long, Int, Double)].collect().map(_._1).toSet
    val served = SimilarityOps.ivfLearnedTopK(spark, sf, nprobe = 8, kClusters = 16)
      .as[(Long, Int, Double)].collect().toSeq
    assert(served.size == 10)
    served.foreach { case (id, _, cos) =>
      assert(brute(id) == cos, s"served score for $id is not the exact cosine")
    }
    val recall = served.count(s => top10(s._1))
    assert(recall >= 5, s"q46 ANN-leg recall@10 collapsed: $recall/10")
  }

  test("gated ivf (q46): exact rows equal brute force and the recall envelope holds") {
    // the q46 gate's two halves, pinned separately: the value rows ARE
    // the exact top-10 (what the oracle hash-checks), and the in-plan
    // ANN-recall flag is true at test scale (nprobe=8/16 with floor 3;
    // see SimilarityOps.ivfTopKGated's calibration argument)
    val gated = SimilarityOps.ivfTopKGated(spark, sf).collect()
    val bf = SimilarityOps.bruteForceTopK(spark, sf).collect()
    assert(gated.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq ==
      bf.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq,
      "gated q46's value rows must be the exact brute-force top-10")
    assert(gated.forall(_.getBoolean(3)), "ivf_recall_ok envelope violated")
  }

  test("ann top-k hits are a subset of brute-force candidates' ordering") {
    val bf = SimilarityOps.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val ann = SimilarityOps.annTopK(spark, sf).collect()
    // every ANN hit's cosine must equal the brute-force cosine for that id
    ann.foreach { r =>
      bf.get(r.getLong(0)).foreach(c => assert(c == r.getDouble(2)))
    }
    assert(ann.nonEmpty, "multi-probe ANN returned no candidates")
  }

  test("near-dup admission verdicts equal q75's pairs restricted to the batch boundary") {
    // signatures are per-doc functions, so the admission's cross-slice
    // band collisions must be EXACTLY the within-corpus q75 pairs with
    // one member in each slice — recompute every verdict column from
    // those pairs and require frame equality
    val cross = DedupOps.nearDupMinHashMd5(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) => (a % 5 == 4, b % 5 == 4) match {
        case (true, false) => Some((a, b, j))   // (batch, corpus, jaccard)
        case (false, true) => Some((b, a, j))
        case _             => None              // same-slice pair: invisible to admission
      } }
    val expected = cross.groupBy(_._1).map { case (id, ms) =>
      val bestJ = ms.map(_._3).max
      val keeper = ms.filter(_._3 == bestJ).map(_._2).min
      id -> (ms.length.toLong, keeper, bestJ)
    }
    val verdicts = DedupOps.nearDupAdmissionMd5(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(verdicts.size == Tables.documents(spark, sf)
      .filter(pmod($"doc_id", lit(5)) === 4).count().toInt,
      "every batch doc needs a verdict row")
    verdicts.foreach { case (id, (isDup, n, keeper, bestJ)) =>
      expected.get(id) match {
        case Some((en, ek, ej)) =>
          assert(isDup && n == en && keeper.contains(ek) && bestJ.contains(ej),
            s"doc $id: got ($isDup,$n,$keeper,$bestJ) want (true,$en,$ek,$ej)")
        case None =>
          assert(!isDup && n == 0 && keeper.isEmpty && bestJ.isEmpty,
            s"doc $id flagged with no cross-boundary pair")
      }
    }
    assert(expected.nonEmpty, "fixture must produce at least one cross-boundary near-dup")
  }

  test("embedding normalization: unit norms are 1, direction is preserved, the pass never shuffles") {
    val out = SimilarityOps.normalizeEmbeddings(Tables.embeddings(spark, sf))
    val rows = out.select($"vec_id", $"embedding", $"norm", $"unit").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val emb = r.getSeq[Float](1).map(_.toDouble)
      val norm = math.sqrt(emb.foldLeft(0.0)((a, x) => a + x * x))
      assert(math.abs(r.getDouble(2) - norm) < 1e-12, s"vec ${r.getLong(0)} norm")
      if (norm == 0.0) assert(r.isNullAt(3), "zero vector must yield NULL unit")
      else {
        val unit = r.getSeq[Double](3)
        val un = math.sqrt(unit.foldLeft(0.0)((a, x) => a + x * x))
        assert(math.abs(un - 1.0) < 1e-9, s"vec ${r.getLong(0)} unit norm $un")
        // direction preserved: unit[i] * norm recovers the input
        emb.zip(unit).foreach { case (x, u) =>
          assert(math.abs(u * norm - x) < 1e-9, s"vec ${r.getLong(0)} direction")
        }
      }
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"normalization shuffles:\n$plan")
  }

  test("edit-distance near-dup matches a driver-side blocked Levenshtein recompute") {
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        }
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()
      .map { case (id, t) =>
        (id, t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim)
      }
    val expected = docs.groupBy(_._2.take(16)).values.flatMap { blkArr =>
      val blk = blkArr.toSeq
      for {
        (ia, na) <- blk; (ib, nb) <- blk
        if ia < ib && math.abs(na.length - nb.length) <= 8
        d = lev(na, nb) if d <= 8
      } yield (ia, ib) -> d
    }.toMap
    val got = DedupOps.nearDupEdit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    assert(got == expected, s"pair sets differ: got ${got.size}, want ${expected.size}")
    // the exact-dup subset agrees with the fingerprint dedup's groups
    got.foreach { case ((a, b), d) =>
      val same = docs.find(_._1 == a).get._2 == docs.find(_._1 == b).get._2
      assert((d == 0) == same, s"pair ($a,$b) exact_dup flag")
    }
  }

  test("quantized rerank: candidates are the true int8-dot top-100 and recall@10 is perfect here") {
    val got = SimilarityOps.quantizedRerank(spark, sf).collect()
    // driver-side recompute of the symmetric int8 codes and dots
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def code(v: Seq[Float]): Seq[Long] = {
      val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      if (norm > 0) v.map(x => math.floor(x.toDouble / norm * 127.0 + 0.5).toLong)
      else v.map(_ => 0L)
    }
    val qc = code(vecs(0L))
    val dots = vecs.collect { case (id, v) if id != 0L =>
      id -> code(v).zip(qc).map { case (a, b) => a * b }.sum
    }
    val top100 = dots.toSeq.sortBy { case (id, d) => (-d, id) }.take(100).map(_._1).toSet
    got.foreach { r =>
      assert(top100(r.getLong(0)), s"vec ${r.getLong(0)} not an int8-dot top-100 candidate")
      assert(dots(r.getLong(0)) == r.getLong(1), s"vec ${r.getLong(0)} int_dot")
    }
    // re-ranked cosines agree with the exact kernel's values
    val brute = SimilarityOps.bruteForceTopK(spark, sf, k = 10)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toMap
    // recall floor: on this corpus the quantized candidates recover
    // the ENTIRE exact top-10 (measured at both SFs); any quantizer
    // regression that degrades ranking comparability shows up here
    assert(got.map(_.getLong(0)).toSet == brute.keySet,
      "quantized-then-reranked top-10 no longer equals the exact top-10")
    got.foreach(r => assert(brute(r.getLong(0)) == r.getDouble(2)))
  }

  test("multi-query RRF matches a driver-side fusion of the exact per-query rankings") {
    val legK = 100
    val queryIds = Seq(0L, 1L, 2L)
    // independent recompute: per-query exact ranking from the q29-
    // gated bruteForceTopK (cos already rounded at 4, vec_id
    // tie-break), restricted to candidates outside the query set
    val legRanks: Seq[Map[Long, Long]] = queryIds.map { qid =>
      SimilarityOps.bruteForceTopK(spark, sf, queryId = qid, k = legK + queryIds.size)
        .select($"vec_id").as[Long].collect()
        .filterNot(queryIds.contains).take(legK)
        .zipWithIndex.map { case (v, i) => v -> (i + 1L) }.toMap
    }
    val expected = legRanks.flatMap(_.keys).distinct.map { v =>
      val rrf = legRanks.foldLeft(0.0) { (acc, leg) =>
        acc + leg.get(v).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      }
      (v, rrf)
    }.sortBy { case (v, s) => (-s, v) }.take(20)
    val got = SimilarityOps.multiQueryRRF(spark, sf)
      .select($"vec_id", $"rank_q0", $"rank_q1", $"rank_q2", $"rrf").collect()
    assert(got.map(_.getLong(0)).toSeq == expected.map(_._1),
      "fused ordering diverged from the driver-side recompute")
    got.foreach { r =>
      val ranks = legRanks.map(_.get(r.getLong(0)))
      Seq(1, 2, 3).zip(ranks).foreach { case (i, exp) =>
        val actual = if (r.isNullAt(i)) None else Some(r.getLong(i))
        assert(actual == exp, s"vec ${r.getLong(0)} leg ${i - 1} rank")
      }
      val exp = expected.find(_._1 == r.getLong(0)).get._2
      assert(math.abs(r.getDouble(4) - exp) < 1e-6, s"vec ${r.getLong(0)} rrf value")
    }
    // a vector in no leg's top-100 can never appear
    assert(got.forall(r => !(1 to 3).forall(r.isNullAt)))
    // scale shape: every leg is a partial top-k, not a global sort of
    // the candidate set (the one global window runs on legK rows only)
    val p = SimilarityOps.multiQueryRRF(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"legs are not partial top-k:\n$p")
  }

  test("SemDeDup matches a full driver-side recompute (Lloyd training, assignment, groups, keepers)") {
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    // sequential Lloyd reference (the KMeansSpec shape) with the
    // operator's corpus-proportional k = max(2, ⌈n/64⌉), seeds
    // vec_id < k, 3 rounds, (d2, cl) ties to the lowest cluster id
    val k = math.max(2L, (e.length + 63L) / 64L)
    var cents: Seq[(Long, Array[Double])] =
      e.filter(_._1 < k).map { case (id, emb) => (id, emb) }.toSeq
    for (_ <- 1 until 3) {
      val asg = e.map { case (_, emb) =>
        (cents.map { case (cl, c) => (d2(emb, c), cl) }.minBy(x => (x._1, x._2))._2, emb)
      }
      cents = asg.groupBy(_._1).toSeq.sortBy(_._1).map { case (cl, g) =>
        val dim = g.head._2.length
        (cl, Array.tabulate(dim)(d => g.map(_._2(d)).sum / g.length))
      }
    }
    val centMap = cents.toMap
    val assigned = e.toSeq.map { case (id, emb) =>
      val cl = cents.map { case (c, cv) => (d2(emb, cv), c) }.minBy(x => (x._1, x._2))._2
      (id, emb, cl)
    }
    // within-cluster dup pairs at the ROUNDED threshold
    val byCluster = assigned.groupBy(_._3)
    val dup = byCluster.values.flatMap { g =>
      for (a <- g; b <- g if a._1 < b._1 && r4(cos(a._2, b._2)) >= 0.35)
        yield (a._1, b._1)
    }.toSeq
    // union-find CC -> min-id group labels
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    dup.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val grpOf = assigned.map(v => v._1 -> find(v._1)).toMap
    // keeper per group: lowest ROUNDED centroid cosine, then vec_id
    val cosC = assigned.map { case (id, emb, cl) => id -> r4(cos(emb, centMap(cl))) }.toMap
    val keeper = assigned.groupBy(v => grpOf(v._1)).map { case (g, ms) =>
      g -> ms.map(v => (cosC(v._1), v._1)).min._2
    }
    val got = SimilarityOps.semDedup(spark, sf).collect()
    assert(got.length == e.length)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == assigned.find(_._1 == id).get._3, s"clabel of $id")
      assert(r.getLong(2) == grpOf(id), s"group of $id")
      assert(r.getDouble(3) == cosC(id), s"cos_c of $id")
      assert(r.getBoolean(4) == (keeper(grpOf(id)) == id), s"kept of $id")
    }
    // the operator must actually deduplicate here: multi-member
    // groups exist and every one keeps exactly its atypical argmin
    val dropped = got.filter(!_.getBoolean(4))
    assert(dropped.nonEmpty, "no semantic duplicates found - vacuous gate")
    dropped.foreach { r =>
      val g = grpOf(r.getLong(0))
      assert(cosC(keeper(g)) <= r.getDouble(3), "kept member is not the argmin")
    }
  }

  test("random projection: hash-exact vs driver recompute, zero exchanges, JL distortion bounded") {
    def md5hex(x: String): Array[Byte] = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
    val e = Tables.embeddings(spark, sf).select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val dim = e.head._2.length
    val signs = Array.tabulate(16, dim) { (j, i) =>
      if (((md5hex(s"rp${j}_$i")(0) >> 4) & 0xF) < 8) 1.0 else -1.0
    }
    def proj(x: Array[Double]): Array[Double] = Array.tabulate(16) { j =>
      var s0 = 0.0; var i = 0
      while (i < dim) { s0 += x(i) * signs(j)(i); i += 1 }
      s0 * 0.25
    }
    val df = SimilarityOps.randomProjection(spark, sf)
    // zero-exchange narrow map (the q147/q150 plan standard)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection is not a narrow map:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == e.length * 16)
    e.foreach { case (id, x) =>
      val y = proj(x)
      (0 until 16).foreach { j =>
        assert(got((id, j)) == math.floor(y(j) * 1e6 + 0.5) / 1e6, s"vec $id dim $j")
      }
    }
    // the JL property itself on the first 30 vectors' pairs: squared
    // distances preserved within a loose (k=16) distortion band, and
    // unbiased on average
    val sample = e.take(30)
    val ratios = for (a <- sample; b <- sample if a._1 < b._1) yield {
      def d2(u: Array[Double], v: Array[Double]) =
        u.zip(v).map { case (p, q) => (p - q) * (p - q) }.sum
      d2(proj(a._2), proj(b._2)) / d2(a._2, b._2)
    }
    assert(ratios.forall(r => r > 0.15 && r < 3.0),
      s"distance distortion outside the loose k=16 JL band: ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.75 && mean < 1.25, s"projection biased: mean ratio $mean")
  }
}
