package graft.ops

import graft.{QuerySpec, Tables}

/** The similarity family's registered queries (embedding top-k, ANN
  * indexes, quantization, clustering), each with the DuckDB SQL that checks
  * it. q46's checkable values are q29's exact top-10 (its learned-IVF leg
  * only feeds a recall flag), so it is registered here beside q29. */
object SimilarityQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q29_sim_topk", (s, d) => SimilarityOps.bruteForceTopK(s, d),
      s"""$bruteTopKOracleCte
        |SELECT vec_id, label, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),
    // q30/q40: the Rademacher hyperplane family is md5-derived
    // (SimilarityOps.planes), so the oracle recomputes the exact same
    // ±1 matrix and buckets. ±1 weights make each product exact in
    // IEEE — only summation order matters, and list_sum's sequential
    // fold already mirrors Spark's aggregate() (proven by q28/q29).
    QuerySpec("q30_sim_ann_lsh", (s, d) => SimilarityOps.annTopK(s, d), {
      def sign(p: Int) =
        s"(CASE WHEN substr(md5('${p}_' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8' THEN 1.0 ELSE -1.0 END)"
      val bucket = (0 until 6).map { p =>
        s"(CASE WHEN list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * ${sign(p)})) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n      + ")
      s"""WITH e AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |b AS (SELECT vec_id, label, emb,
        |      $bucket AS bucket FROM e),
        |q AS (SELECT emb AS q_emb, bucket AS qb FROM b WHERE vec_id = 0),
        |probes AS (
        |  SELECT qb AS pb FROM q
        |  UNION ALL
        |  SELECT xor(qb, 1 << CAST(j AS INTEGER)) FROM q, (SELECT unnest(range(6)) AS j) r),
        |cand AS (
        |  SELECT b.vec_id, b.label, b.emb, q.q_emb FROM b, q
        |  WHERE b.vec_id <> 0 AND b.bucket IN (SELECT pb FROM probes)),
        |s AS (
        |  SELECT vec_id, label,
        |    round(
        |      list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * q_emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i] * q_emb[i])))), 4) AS cos
        |  FROM cand)
        |SELECT vec_id, label, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
    }),
    // q46: exact top-10 values + literal TRUE recall envelope (the
    // ANN side cannot be SQL-replayed; its recall feeds the flag)
    QuerySpec("q46_sim_ivf", (s, d) => SimilarityOps.ivfTopKGated(s, d),
      s"""$bruteTopKOracleCte,
        |r AS (SELECT vec_id, label, cos FROM s
        |      ORDER BY cos DESC, vec_id LIMIT 10)
        |SELECT vec_id, label, cos, TRUE AS ivf_recall_ok FROM r""".stripMargin),
    QuerySpec("q62_centroids", (s, d) => SimilarityOps.labelCentroids(s, d),
      """WITH flat AS (
        |  SELECT label,
        |    unnest(range(0, len(embedding))) AS dim,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        |  FROM embeddings)
        |SELECT CAST(label AS INTEGER) AS label, CAST(dim AS BIGINT) AS dim,
        | round(avg(v), 6) AS mean, count(*) AS n
        |FROM flat GROUP BY 1, 2""".stripMargin),
    // q81: identical IEEE expression structure on both sides —
    // floor((x-mn)/((mx-mn)/255.0) + 0.5) — so the integer
    // observables hash-match exactly.
    QuerySpec("q81_quantize_int8", (s, d) => SimilarityOps.quantizeInt8(s, d),
      s"""WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |st AS (SELECT vec_id, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
        |qv AS (
        |  SELECT e.vec_id, s.mn, s.mx,
        |    CASE WHEN s.mx > s.mn
        |         THEN CAST(floor((e.x - s.mn) / ((s.mx - s.mn) / 255.0) + 0.5) AS BIGINT)
        |         ELSE 0 END AS q
        |  FROM ex e JOIN st s USING (vec_id))
        |SELECT vec_id, count(*) AS n_dims,
        | CAST(sum(q) AS BIGINT) AS q_sum,
        | min(q) AS q_min, max(q) AS q_max,
        | ${TextOps.roundAtSql("(max(mx) - max(mn)) / 255.0", 9)} AS scale
        |FROM qv GROUP BY vec_id""".stripMargin),
    // q87: the IVF mechanism under the oracle — codebook = per-label
    // centroids (both engines average the same doubles), assignment =
    // argmin of the sequential (x−c)² fold with (d2, label) tie-break,
    // probes = the query's 2 nearest centroids, rerank = exact cosine.
    QuerySpec("q87_ivf_label", (s, d) => SimilarityOps.ivfLabelTopK(s, d),
      ivfLabelOracleSql),
    QuerySpec("q91_knn_join", (s, d) => SimilarityOps.knnJoin(s, d),
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 20),
        |s AS (
        |  SELECT q.q_id, e.vec_id, e.label,
        |    round(
        |      list_sum(list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * q.q_emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * e.emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i] * q.q_emb[i])))), 4) AS cos
        |  FROM e, q WHERE e.vec_id <> q.q_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT q_id, vec_id, label, cos, rnk FROM r WHERE rnk <= 3""".stripMargin),
    // the persisted-index IVF probe: q87's verdicts, read from a
    // clabel-bucketed index with bucket pruning; the write is part of
    // what this query certifies
    QuerySpec("q101_ivf_bucketed",
      (s, d) => {
        SimilarityOps.writeIvfIndex(s, d, "graft_ivf_index", buckets = 8)
        SimilarityOps.ivfBucketedTopK(s, d, "graft_ivf_index")
      },
      ivfLabelOracleSql),
    // q106: q91's kNN-join semantics through the bucketed (corpus-
    // scale) path — q30's md5-plane bucket recompute, the same
    // Hamming-1 multi-probe, then q91's rank shape restricted to the
    // probed buckets. The approximate result is DETERMINISTIC, so it
    // hash-gates like an exact one.
    QuerySpec("q106_knn_bucketed", (s, d) => SimilarityOps.knnJoinBucketed(s, d), {
      def sign(p: Int) =
        s"(CASE WHEN substr(md5('${p}_' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8' THEN 1.0 ELSE -1.0 END)"
      val bucket = (0 until 6).map { p =>
        s"(CASE WHEN list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * ${sign(p)})) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n      + ")
      s"""WITH e AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |b AS (SELECT vec_id, label, emb,
        |      $bucket AS bucket FROM e),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS qb FROM b WHERE vec_id < 20),
        |probes AS (
        |  SELECT q_id, q_emb, qb AS pb FROM q
        |  UNION ALL
        |  SELECT q_id, q_emb, xor(qb, 1 << CAST(j AS INTEGER))
        |  FROM q, (SELECT unnest(range(6)) AS j) r),
        |s AS (
        |  SELECT p.q_id, b.vec_id, b.label,
        |    round(
        |      list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * p.q_emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(p.q_emb) + 1), i -> p.q_emb[i] * p.q_emb[i])))), 4) AS cos
        |  FROM b JOIN probes p ON b.bucket = p.pb AND b.vec_id <> p.q_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT q_id, vec_id, label, cos, rnk FROM r WHERE rnk <= 3""".stripMargin
    }),
    // embedding-batch admission: arriving vectors probed against the
    // persisted IVF index of the standing corpus (index written here —
    // the build is part of what this query certifies). The oracle
    // recomputes the chain relationally: q87's centroid/assignment CTEs
    // restricted to the index slice, batch vectors assigned to their 2
    // nearest centroids, exact cosine over the probed lists, per-vector
    // best-match verdict at 0.35
    QuerySpec("q107_embedding_admission",
      (s, d) => {
        import org.apache.spark.sql.functions._
        SimilarityOps.writeIvfIndexOf(
          Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(5)) =!= 4),
          "graft_ivf_adm", buckets = 8)
        SimilarityOps.embeddingAdmission(s, d, "graft_ivf_adm")
      },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |idx AS (SELECT * FROM e WHERE vec_id % 5 <> 4),
        |bat AS (SELECT * FROM e WHERE vec_id % 5 = 4),
        |flat AS (
        |  SELECT label AS clabel,
        |    unnest(range(0, len(emb))) AS pos,
        |    unnest(emb) AS v
        |  FROM idx),
        |cm AS (SELECT clabel, pos, avg(v) AS m FROM flat GROUP BY 1, 2),
        |cent AS (SELECT clabel, list(m ORDER BY pos) AS cent FROM cm GROUP BY 1),
        |adI AS (
        |  SELECT i.vec_id, i.emb, c.clabel,
        |    list_sum(list_transform(range(1, len(i.emb) + 1),
        |      k -> (i.emb[k] - c.cent[k]) * (i.emb[k] - c.cent[k]))) AS d2
        |  FROM idx i CROSS JOIN cent c),
        |rkI AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk FROM adI),
        |asg AS (SELECT vec_id, emb, clabel FROM rkI WHERE rk = 1),
        |adB AS (
        |  SELECT b.vec_id AS b_id, b.emb AS b_emb, c.clabel,
        |    list_sum(list_transform(range(1, len(b.emb) + 1),
        |      k -> (b.emb[k] - c.cent[k]) * (b.emb[k] - c.cent[k]))) AS d2
        |  FROM bat b CROSS JOIN cent c),
        |rkB AS (SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY d2, clabel) AS rk FROM adB),
        |probes AS (SELECT b_id, b_emb, clabel FROM rkB WHERE rk <= 2),
        |cand AS (
        |  SELECT p.b_id, a.vec_id,
        |    round(
        |      list_sum(list_transform(range(1, len(a.emb) + 1), k -> a.emb[k] * p.b_emb[k])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), k -> a.emb[k] * a.emb[k]))) *
        |       sqrt(list_sum(list_transform(range(1, len(p.b_emb) + 1), k -> p.b_emb[k] * p.b_emb[k])))), 4) AS cos
        |  FROM asg a JOIN probes p USING (clabel)),
        |best AS (
        |  SELECT b_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM cand)
        |SELECT b.vec_id,
        | coalesce(bs.cos >= 0.35, FALSE) AS is_dup,
        | bs.vec_id AS best_match,
        | bs.cos AS best_cos
        |FROM bat b LEFT JOIN (SELECT * FROM best WHERE rnk = 1) bs
        |ON b.vec_id = bs.b_id""".stripMargin),
    // q150: identical operation order to the q29 cosine oracle — an
    // index-order fold for the squared norm, one sqrt, one divide per
    // element — so every double matches bit-for-bit before rounding
    QuerySpec("q150_embed_normalize", (s, d) => SimilarityOps.embeddingUnitRows(s, d),
      s"""WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id, norm,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) / norm) AS unit
        |  FROM n WHERE norm <> 0),
        |uu AS (
        |  SELECT vec_id, norm, unit,
        |    sqrt(list_sum(list_transform(unit, x -> x * x))) AS unit_norm
        |  FROM u)
        |SELECT vec_id,
        | CAST(unnest(range(0, len(unit))) AS BIGINT) AS dim,
        | ${TextOps.roundAtSql("unnest(list_transform(unit, x -> x))", 6)} AS unit_v,
        | ${TextOps.roundAtSql("norm", 6)} AS norm,
        | (${TextOps.roundAtSql("unit_norm", 4)} = 1.0) AS unit_ok
        |FROM uu""".stripMargin),
    // q155: three q29-style exact legs (query vectors 0/1/2, top-100
    // each, cos rounded at 4 with vec_id tie-break), pivoted to rank
    // columns and fused left-to-right as 1/(60+rank) with absent legs
    // contributing zero — the fixed IEEE operation order both engines
    // share; final order on the UNROUNDED fused score, vec_id tiebreak
    QuerySpec("q155_multiquery_rrf", (s, d) => SimilarityOps.multiQueryRRF(s, d),
      """WITH cand AS (SELECT vec_id, embedding FROM embeddings
        |              WHERE vec_id NOT IN (0, 1, 2)),
        |leg0 AS (SELECT vec_id, rnk FROM (
        |  SELECT c.vec_id, row_number() OVER (ORDER BY cos DESC, c.vec_id) AS rnk FROM (
        |    SELECT c2.vec_id,
        |      round(list_sum(list_transform(range(1, len(c2.embedding) + 1),
        |          i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |        (sqrt(list_sum(list_transform(range(1, len(c2.embedding) + 1),
        |          i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))) *
        |         sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))), 4) AS cos
        |    FROM cand c2, (SELECT embedding FROM embeddings WHERE vec_id = 0) q) c) r
        |  WHERE rnk <= 100),
        |leg1 AS (SELECT vec_id, rnk FROM (
        |  SELECT c.vec_id, row_number() OVER (ORDER BY cos DESC, c.vec_id) AS rnk FROM (
        |    SELECT c2.vec_id,
        |      round(list_sum(list_transform(range(1, len(c2.embedding) + 1),
        |          i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |        (sqrt(list_sum(list_transform(range(1, len(c2.embedding) + 1),
        |          i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))) *
        |         sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))), 4) AS cos
        |    FROM cand c2, (SELECT embedding FROM embeddings WHERE vec_id = 1) q) c) r
        |  WHERE rnk <= 100),
        |leg2 AS (SELECT vec_id, rnk FROM (
        |  SELECT c.vec_id, row_number() OVER (ORDER BY cos DESC, c.vec_id) AS rnk FROM (
        |    SELECT c2.vec_id,
        |      round(list_sum(list_transform(range(1, len(c2.embedding) + 1),
        |          i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |        (sqrt(list_sum(list_transform(range(1, len(c2.embedding) + 1),
        |          i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))) *
        |         sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))), 4) AS cos
        |    FROM cand c2, (SELECT embedding FROM embeddings WHERE vec_id = 2) q) c) r
        |  WHERE rnk <= 100),
        |u AS (SELECT vec_id, 0 AS leg, rnk FROM leg0
        |      UNION ALL SELECT vec_id, 1, rnk FROM leg1
        |      UNION ALL SELECT vec_id, 2, rnk FROM leg2),
        |pv AS (SELECT vec_id,
        |         min(CASE WHEN leg = 0 THEN rnk END) AS rank_q0,
        |         min(CASE WHEN leg = 1 THEN rnk END) AS rank_q1,
        |         min(CASE WHEN leg = 2 THEN rnk END) AS rank_q2
        |       FROM u GROUP BY vec_id),
        |scored AS (SELECT vec_id, rank_q0, rank_q1, rank_q2,
        |  ((CASE WHEN rank_q0 IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank_q0) ELSE CAST(0.0 AS DOUBLE) END)
        |   + (CASE WHEN rank_q1 IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank_q1) ELSE CAST(0.0 AS DOUBLE) END))
        |   + (CASE WHEN rank_q2 IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank_q2) ELSE CAST(0.0 AS DOUBLE) END) AS rrf_raw
        |  FROM pv)
        |SELECT vec_id, rank_q0, rank_q1, rank_q2,
        |  floor(rrf_raw * 1000000 + 0.5) / 1000000 AS rrf
        |FROM scored ORDER BY rrf_raw DESC, vec_id LIMIT 20""".stripMargin),
    // q156: unit-normalize + symmetric int8 quantize (q150's
    // squared-norm fold + shared floor-form rounding), an exact-BIGINT
    // int dot picks 100 candidates, the q29 cosine re-ranks them — the
    // whole two-stage ANN mechanism under the hash gate
    QuerySpec("q156_quantized_rerank", (s, d) => SimilarityOps.quantizedRerank(s, d),
      """WITH coded AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0 THEN
        |      list_transform(embedding, x -> CAST(floor(
        |        CAST(x AS DOUBLE) /
        |        sqrt(list_sum(list_transform(embedding,
        |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) * 127.0 + 0.5) AS BIGINT))
        |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM embeddings),
        |q AS (SELECT qv AS q_qv, embedding AS q_emb FROM coded WHERE vec_id = 0),
        |cand AS (
        |  SELECT c.vec_id, c.embedding,
        |    CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
        |      i -> c.qv[i] * q.q_qv[i])) AS BIGINT) AS int_dot
        |  FROM coded c, q WHERE c.vec_id <> 0
        |  ORDER BY int_dot DESC, c.vec_id LIMIT 100),
        |rr AS (
        |  SELECT cand.vec_id, cand.int_dot,
        |    round(list_sum(list_transform(range(1, len(cand.embedding) + 1),
        |        i -> CAST(cand.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(range(1, len(cand.embedding) + 1),
        |        i -> CAST(cand.embedding[i] AS DOUBLE) * CAST(cand.embedding[i] AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1),
        |        i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))), 4) AS cos
        |  FROM cand, q)
        |SELECT vec_id, int_dot, cos FROM rr ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),
    // q162: the q169 Lloyd chain with DATA-DEPENDENT corpus-
    // proportional k = max(2, ⌈n/64⌉) (computed by the SQL itself
    // from the same table the Spark side counts) + within-cluster
    // pair cosines + q61's recursive min-label CC + the
    // keep-the-atypical window; both cosines rounded at 4 and every
    // DECISION compares the rounded value (q40 convention)
    QuerySpec("q162_semdedup", (s, d) => SimilarityOps.semDedup(s, d), semDedupOracleSql),
    // q163: the ±1 matrix rebuilt from md5('rp<j>_<i>') — identical
    // on both engines, so projections are hash-exact (q30's proven
    // sign/fold parity); 0.25 is 1/sqrt(16) exactly
    QuerySpec("q163_random_projection", (s, d) => SimilarityOps.randomProjection(s, d),
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings)
        |SELECT vec_id, CAST(j AS INTEGER) AS rdim,
        |  floor(list_sum(list_transform(range(1, len(emb) + 1),
        |    i -> emb[i] * (CASE WHEN substr(md5('rp' || j || '_' || (i - 1)), 1, 1) < '8'
        |                        THEN 1.0 ELSE -1.0 END))) * 0.25 * 1000000 + 0.5) / 1000000 AS y
        |FROM e, (SELECT unnest(range(0, 16)) AS j) r
        |ORDER BY vec_id, rdim""".stripMargin),
    QuerySpec("q168_mmr_rerank", (s, d) => SimilarityOps.mmrRerank(s, d), mmrOracleSql),
    QuerySpec("q169_kmeans_lloyd", (s, d) => SimilarityOps.kmeansLloyd(s, d), kmeansOracleSql),
    // q180: q101's probe semantics with the codebook frozen on the
    // STANDING slice (vec_id % 10 <> 7), candidates from ALL vectors
    // (the appended index holds them), match flags asserted TRUE
    QuerySpec("q180_ivf_incremental", (s, d) => SimilarityOps.ivfIncrementalAppend(s, d),
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |flat AS (
        |  SELECT label AS clabel,
        |    unnest(range(0, len(emb))) AS pos,
        |    unnest(emb) AS v
        |  FROM e WHERE vec_id % 10 <> 7),
        |cm AS (SELECT clabel, pos, avg(v) AS m FROM flat GROUP BY 1, 2),
        |cent AS (SELECT clabel, list(m ORDER BY pos) AS cent FROM cm GROUP BY 1),
        |ad AS (
        |  SELECT e.vec_id, e.label, e.emb, c.clabel,
        |    list_sum(list_transform(range(1, len(e.emb) + 1),
        |      i -> (e.emb[i] - c.cent[i]) * (e.emb[i] - c.cent[i]))) AS d2
        |  FROM e CROSS JOIN cent c),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk FROM ad),
        |probes AS (SELECT clabel FROM rk WHERE vec_id = 0 AND rk <= 2),
        |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
        |cand AS (
        |  SELECT r.vec_id, CAST(r.label AS INTEGER) AS label, r.emb, q.q_emb
        |  FROM rk r, q
        |  WHERE r.rk = 1 AND r.vec_id <> 0
        |    AND r.clabel IN (SELECT clabel FROM probes)),
        |s AS (
        |  SELECT vec_id, label,
        |    round(
        |      list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * q_emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i] * q_emb[i])))), 4) AS cos
        |  FROM cand),
        |topk AS (SELECT vec_id, label, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank,
        |  vec_id, label, cos, TRUE AS match_rebuild
        |FROM topk ORDER BY rank""".stripMargin),
    // q181: q30's plane/bucket replay + query margins per plane,
    // the t=2 lowest-(margin, p) flips, probes = own bucket + flips
    QuerySpec("q181_multiprobe_lsh", (s, d) => SimilarityOps.multiProbeTopK(s, d), {
      def sign(p: Int) =
        s"(CASE WHEN substr(md5('${p}_' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8' THEN 1.0 ELSE -1.0 END)"
      val bucket = (0 until 6).map { p =>
        s"(CASE WHEN list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * ${sign(p)})) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n      + ")
      val margins = (0 until 6).map { p =>
        s"SELECT $p AS p, round(abs(list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i] * ${sign(p)}))), 4) AS m FROM q"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |b AS (SELECT vec_id, label, emb,
        |      $bucket AS bucket FROM e),
        |q AS (SELECT emb AS q_emb, bucket AS qb FROM b WHERE vec_id = 0),
        |m AS (
        |  $margins),
        |flips AS (SELECT p FROM m ORDER BY m, p LIMIT 2),
        |probes AS (
        |  SELECT qb AS pb FROM q
        |  UNION ALL
        |  SELECT xor(qb, CAST(2 ** p AS INTEGER)) FROM q, flips),
        |cand AS (
        |  SELECT b.vec_id, b.label, b.emb, q.q_emb FROM b, q
        |  WHERE b.vec_id <> 0 AND b.bucket IN (SELECT pb FROM probes)),
        |s AS (
        |  SELECT vec_id, label,
        |    round(
        |      list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * q_emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i] * q_emb[i])))), 4) AS cos
        |  FROM cand)
        |SELECT vec_id, label, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
    }),
    QuerySpec("q184_ivf_learned", (s, d) => SimilarityOps.ivfLearnedTopK(s, d),
      ivfLearnedOracleSql),
    QuerySpec("q202_cluster_topics", (s, d) => SimilarityOps.clusterTopics(s, d),
      clusterTopicsOracleSql),
    // q205: exact per-dim centroid means, index-order distance fold,
    // rank on the raw d2 with vec_id ties
    QuerySpec("q205_embedding_outliers", (s, d) => SimilarityOps.embeddingOutliers(s, d),
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |flat AS (
        |  SELECT vec_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v
        |  FROM e),
        |c AS (
        |  SELECT list(m ORDER BY pos) AS cent
        |  FROM (SELECT pos, avg(v) AS m FROM flat GROUP BY pos) t),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |    list_sum(list_transform(range(1, len(e.emb) + 1),
        |      i -> (e.emb[i] - c.cent[i]) * (e.emb[i] - c.cent[i]))) AS d2
        |  FROM e CROSS JOIN c)
        |SELECT rank, vec_id, label, round(d2, 6) AS d2 FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY d2 DESC, vec_id) AS BIGINT) AS rank,
        |    vec_id, label, d2
        |  FROM d) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // q206: the q91 ranking chain at k=10 + exact-long relevance,
    // rank-ordered DCG fold (list(... ORDER BY rnk) ↔ sorted
    // aggregate), guarded ideal-DCG fold, single-division metrics
    QuerySpec("q206_retrieval_metrics", (s, d) => SimilarityOps.retrievalMetrics(s, d),
      s"""WITH e AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
        |      FROM e WHERE vec_id < 20),
        |s AS (
        |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
        |    round(
        |      list_sum(list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * q.q_emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * e.emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i] * q.q_emb[i])))), 4) AS cos
        |  FROM e, q WHERE e.vec_id <> q.q_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        |  FROM s),
        |h AS (
        |  SELECT q_id, q_label, rnk,
        |    CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel
        |  FROM r WHERE rnk <= 10),
        |lc AS (SELECT label AS lbl, count(*) AS n_lbl FROM e GROUP BY 1),
        |pq AS (
        |  SELECT q_id, q_label,
        |    CAST(sum(rel) AS BIGINT) AS n_rel,
        |    min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
        |    list_sum(list(CAST(rel AS DOUBLE) * ln(2.0) / ln(CAST(rnk AS DOUBLE) + 1.0)
        |      ORDER BY rnk)) AS dcg
        |  FROM h GROUP BY 1, 2),
        |w AS (
        |  SELECT pq.*, least(lc.n_lbl - 1, 10) AS m
        |  FROM pq JOIN lc ON lc.lbl = pq.q_label),
        |i AS (
        |  SELECT w.*,
        |    CASE WHEN m >= 1 THEN
        |      list_sum(list_transform(range(1, m + 1),
        |        x -> ln(2.0) / ln(CAST(x AS DOUBLE) + 1.0)))
        |    ELSE 0.0 END AS idcg
        |  FROM w)
        |SELECT q_id, q_label, n_rel,
        |  ${TextOps.roundAtSql("CAST(n_rel AS DOUBLE) / 10.0", 6)} AS precision,
        |  ${TextOps.roundAtSql(
             "CASE WHEN first_rel IS NULL THEN 0.0 " +
               "ELSE 1.0 / CAST(first_rel AS DOUBLE) END", 6)} AS mrr,
        |  ${TextOps.roundAtSql(
             "CASE WHEN idcg = 0.0 THEN 0.0 ELSE dcg / idcg END", 6)} AS ndcg
        |FROM i ORDER BY q_id""".stripMargin),
    // q208: per-source exact double centroids, index-order L2/cos
    // folds, one sqrt/divide tree each under roundAt
    QuerySpec("q208_source_drift_emb", (s, d) => SimilarityOps.sourceEmbeddingDrift(s, d),
      s"""WITH e AS (
        |  SELECT d.source,
        |    list_transform(em.embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id),
        |flat AS (
        |  SELECT source, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v
        |  FROM e),
        |c AS (
        |  SELECT source, list(m ORDER BY pos) AS cent
        |  FROM (SELECT source, pos, avg(v) AS m FROM flat GROUP BY 1, 2) t
        |  GROUP BY source),
        |prs AS (
        |  SELECT a.source AS src_a, a.cent AS ca, b.source AS src_b, b.cent AS cb
        |  FROM c a JOIN c b ON a.source < b.source)
        |SELECT src_a, src_b,
        |  ${TextOps.roundAtSql(
             "sqrt(list_sum(list_transform(range(1, len(ca) + 1), " +
               "i -> (ca[i] - cb[i]) * (ca[i] - cb[i]))))", 6)} AS l2,
        |  ${TextOps.roundAtSql(
             "list_sum(list_transform(range(1, len(ca) + 1), i -> ca[i] * cb[i])) / " +
               "(sqrt(list_sum(list_transform(range(1, len(ca) + 1), i -> ca[i] * ca[i]))) * " +
               "sqrt(list_sum(list_transform(range(1, len(cb) + 1), i -> cb[i] * cb[i]))))", 6)} AS cos
        |FROM prs ORDER BY src_a, src_b""".stripMargin),
    QuerySpec("q210_kmeans_refresh", (s, d) => SimilarityOps.kmeansRefreshRows(s, d),
      kmeansRefreshOracleSql),
    QuerySpec("q218_silhouette", (s, d) => SimilarityOps.kmeansSilhouette(s, d),
      kmeansSilhouetteOracleSql),
    QuerySpec("q224_pq_rerank", (s, d) => SimilarityOps.pqRerank(s, d), pqRerankOracleSql),
    QuerySpec("q234_ivf_pq", (s, d) => SimilarityOps.ivfPqTopK(s, d), ivfPqOracleSql),
    QuerySpec("q242_density_clusters", (s, d) => SimilarityOps.densityClusters(s, d),
      densityClustersOracleSql),
    QuerySpec("q251_pca_power", (s, d) => SimilarityOps.pcaPower(s, d), pcaPowerOracleSql),
  )

  /** q168 oracle: the MMR greedy loop replayed as program-generated
    * unrolled CTE stages (the q159 pattern) — stage r picks the
    * argmax of `0.7·rel − (1−0.7)·max sim-to-selected` over the
    * not-yet-selected candidates. The (1−λ) coefficient is written as
    * the SUBTRACTION `1.0 − 0.7` on both engines (Spark computes
    * `lit(1.0 - lam)` = 0.30000000000000004 — a bare 0.3 literal is a
    * DIFFERENT double), and bare literals are cast to DOUBLE (DuckDB
    * parses 0.7 as DECIMAL, the q155 lesson). rel and sims rounded at
    * 4; each decision on the raw identical-IEEE mmr expression with
    * vec_id ties. */
  private lazy val mmrOracleSql: String = {
    def cos(a: String, b: String): String =
      s"""round(list_sum(list_transform(range(1, len($a) + 1),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
         |    (sqrt(list_sum(list_transform(range(1, len($a) + 1),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))) *
         |     sqrt(list_sum(list_transform(range(1, len($b) + 1),
         |      i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))), 4)""".stripMargin
    val stages = (2 to 10).map { r =>
      s"""sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL
         |  (SELECT c.vec_id, c.rel,
         |     0.7::DOUBLE * c.rel - (1.0::DOUBLE - 0.7::DOUBLE) * m.msim AS mmr,
         |     CAST($r AS BIGINT) AS rank
         |   FROM cand c
         |   JOIN (SELECT a, max(sim) AS msim FROM sims
         |         WHERE b IN (SELECT vec_id FROM sel${r - 1}) GROUP BY a) m
         |     ON m.a = c.vec_id
         |   WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |   ORDER BY mmr DESC, c.vec_id LIMIT 1))""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding,
       |    ${cos("e.embedding", "q.q_emb")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT 50),
       |sims AS MATERIALIZED (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    ${cos("a.embedding", "b.embedding")} AS sim
       |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (SELECT vec_id, rel, rel AS mmr, CAST(1 AS BIGINT) AS rank
       |         FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |$stages
       |SELECT rank, vec_id, rel, round(mmr, 6) AS mmr
       |FROM sel10 ORDER BY rank""".stripMargin
  }

  /** q169 oracle: Lloyd's loop replayed as unrolled MATERIALIZED CTE
    * rounds — c0 seeds from the first k vectors, each round is a
    * CROSS JOIN distance stage (list_sum fold, the q87/q162 parity),
    * a row_number() argmin with (d2, cl) ties, and an avg-per-(cl,pos)
    * centroid rebuild; the final select re-assigns against the last
    * centroids. Means are exact (float32 inputs summed in double —
    * the q87/q162 argument), so every round is hash-exact. */
  private def kmeansDistSql: String =
    s"""list_sum(list_transform(range(1, len(e.emb) + 1),
       |      i -> (e.emb[i] - c.cent[i]) * (e.emb[i] - c.cent[i])))""".stripMargin

  /** Shared Lloyd stage chain (q169/q184/q162): `WITH e, flat, c0 …
    * c{iters−1}, df, fin` where `fin` holds the final (vec_id,
    * cluster, raw d2) assignment against the trained centroids.
    * [[kmeansStagesBody]] returns the CTE list WITHOUT the leading
    * `WITH` so callers needing `WITH RECURSIVE` (q162's CC) can
    * prepend their own keyword; `kExpr` is a SQL expression so k can
    * be DATA-DEPENDENT (q162's corpus-proportional k = ⌈n/target⌉ —
    * the oracle computes the same k from the same table the Spark
    * side counts). */
  private def kmeansStagesBody(kExpr: String, iters: Int): String = {
    val rounds = (1 until iters).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT e.vec_id, c.cl, $kmeansDistSql AS d2
         |  FROM e CROSS JOIN c${r - 1} c),
         |a$r AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT vec_id, cl,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |    FROM d$r) WHERE rk = 1),
         |c$r AS MATERIALIZED (
         |  SELECT cl, list(m ORDER BY pos) AS cent FROM (
         |    SELECT a.cl, f.pos, avg(f.v) AS m
         |    FROM a$r a JOIN flat f ON f.vec_id = a.vec_id
         |    GROUP BY a.cl, f.pos) GROUP BY cl)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(label AS INTEGER) AS label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |flat AS MATERIALIZED (
       |  SELECT vec_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v
       |  FROM e),
       |c0 AS MATERIALIZED (SELECT vec_id AS cl, emb AS cent FROM e WHERE vec_id < ($kExpr)),
       |$rounds,
       |df AS MATERIALIZED (
       |  SELECT e.vec_id, c.cl, $kmeansDistSql AS d2
       |  FROM e CROSS JOIN c${iters - 1} c),
       |fin AS MATERIALIZED (
       |  SELECT vec_id, cl AS cluster, d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
       |    FROM df) WHERE rk = 1)""".stripMargin
  }

  private def kmeansStagesSql(k: Int, iters: Int): String =
    "WITH " + kmeansStagesBody(k.toString, iters)

  /** q210 oracle: the incremental k-means refresh replayed as
    * unrolled CTE stages — bootstrap Lloyd rounds on the first third,
    * that third's sufficient statistics (cl, n, per-dim Σx), then two
    * refresh stages each assigning a batch against the CURRENT state
    * centroids (Σx/n) and ADDING its statistics into the state; the
    * final centroid is one division per dim under the floor-form
    * rounding. Mirrors SimilarityOps.kmeansRefreshRows stage for stage
    * (batch-order state addition, left-join + coalesce for clusters a
    * batch never touched), in its exploded
    * (cluster, n_members, dim, c_v) shape — the driver compare can't
    * sort an array<double> cell. */
  private lazy val kmeansRefreshOracleSql: String = {
    def dist(eTbl: String, cTbl: String) =
      s"""list_sum(list_transform(range(1, len(e.emb) + 1),
         |      i -> (e.emb[i] - c.cent[i]) * (e.emb[i] - c.cent[i])))""".stripMargin
    // one assignment stage: argmin of eTbl's vectors against cTbl
    def assign(tag: String, eTbl: String, cTbl: String) =
      s"""${tag}d AS MATERIALIZED (
         |  SELECT e.vec_id, c.cl, ${dist(eTbl, cTbl)} AS d2
         |  FROM $eTbl e CROSS JOIN $cTbl c),
         |${tag}a AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT vec_id, cl,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |    FROM ${tag}d) WHERE rk = 1)""".stripMargin
    // per-cluster sufficient statistics of an assignment
    def st(tag: String, aTbl: String, flatTbl: String) =
      s"""${tag}n AS (SELECT cl, count(*) AS n FROM $aTbl GROUP BY 1),
         |${tag}s AS (
         |  SELECT a.cl, f.pos, sum(f.v) AS s
         |  FROM $aTbl a JOIN $flatTbl f USING (vec_id) GROUP BY 1, 2),
         |$tag AS MATERIALIZED (
         |  SELECT n.cl, n.n, (SELECT list(s ORDER BY pos) FROM ${tag}s s2
         |                     WHERE s2.cl = n.cl) AS sums
         |  FROM ${tag}n n)""".stripMargin
    // state + batch statistics -> new state (clusters untouched by the
    // batch pass through; a batch can never mint a new cluster)
    def fold(outTbl: String, stTbl: String, batchTbl: String) =
      s"""$outTbl AS MATERIALIZED (
         |  SELECT st.cl, st.n + coalesce(b.n, 0) AS n,
         |    list_transform(range(1, len(st.sums) + 1),
         |      i -> st.sums[i] + coalesce(b.sums[i], 0.0)) AS sums
         |  FROM $stTbl st LEFT JOIN $batchTbl b ON b.cl = st.cl)""".stripMargin
    def cent(outTbl: String, stTbl: String) =
      s"""$outTbl AS MATERIALIZED (
         |  SELECT cl, list_transform(sums, s -> s / n) AS cent FROM $stTbl)""".stripMargin
    val bootRounds = (1 to 2).map { r =>
      s"""${assign(s"br$r", "e0", s"bc${r - 1}")},
         |bc$r AS MATERIALIZED (
         |  SELECT cl, list(m ORDER BY pos) AS cent FROM (
         |    SELECT a.cl, f.pos, avg(f.v) AS m
         |    FROM br${r}a a JOIN flat0 f USING (vec_id)
         |    GROUP BY a.cl, f.pos) t GROUP BY cl)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |nn AS (SELECT (max(vec_id) + 1) // 3 AS third, max(vec_id) + 1 AS total FROM e),
       |e0 AS MATERIALIZED (SELECT e.vec_id, e.emb FROM e, nn WHERE vec_id < third),
       |e1 AS MATERIALIZED (SELECT e.vec_id, e.emb FROM e, nn
       |  WHERE vec_id >= third AND vec_id < 2 * third),
       |e2 AS MATERIALIZED (SELECT e.vec_id, e.emb FROM e, nn
       |  WHERE vec_id >= 2 * third AND vec_id < total),
       |flat0 AS MATERIALIZED (
       |  SELECT vec_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e0),
       |flat1 AS MATERIALIZED (
       |  SELECT vec_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e1),
       |flat2 AS MATERIALIZED (
       |  SELECT vec_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e2),
       |bc0 AS MATERIALIZED (SELECT vec_id AS cl, emb AS cent FROM e0 WHERE vec_id < 8),
       |$bootRounds,
       |${assign("f0", "e0", "bc2")},
       |${st("st0", "f0a", "flat0")},
       |${cent("cent1", "st0")},
       |${assign("f1", "e1", "cent1")},
       |${st("stb1", "f1a", "flat1")},
       |${fold("state1", "st0", "stb1")},
       |${cent("cent2", "state1")},
       |${assign("f2", "e2", "cent2")},
       |${st("stb2", "f2a", "flat2")},
       |${fold("state2", "state1", "stb2")}
       |SELECT cl AS cluster, n AS n_members,
       |  CAST(unnest(range(0, len(sums))) AS BIGINT) AS dim,
       |  unnest(list_transform(sums, s -> floor(s / n * 1000000 + 0.5) / 1000000)) AS c_v
       |FROM state2 ORDER BY cluster""".stripMargin
  }

  /** q224 oracle: the whole PQ pipeline replayed as unrolled CTEs —
    * per-subspace slices, each subspace's Lloyd chain (first-k seeds,
    * one avg update at iters=2, the (d2, cl)-rank assignment that
    * mirrors the engine's strict-< fold), the query's m×k LUT, the
    * fixed left-to-right ADC sum, the (adc, vec_id) shortlist and the
    * exact-d2 rerank. m=8, k=8 (sub=8) over the 64-dim embeddings. */
  private lazy val pqRerankOracleSql: String = {
    val m = 8; val k = 8; val sub = 8; val shortlist = 50; val topK = 10
    def d2(v: String, c: String) =
      s"list_sum(list_transform(range(1, len($v) + 1), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])))"
    val perSub = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = s * sub + sub
      s"""sub$s AS MATERIALIZED (SELECT vec_id, list_slice(emb, $lo, $hi) AS v FROM e),
         |flat$s AS MATERIALIZED (
         |  SELECT vec_id, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS val FROM sub$s),
         |c${s}_0 AS MATERIALIZED (SELECT vec_id AS cl, v AS cent FROM sub$s WHERE vec_id < $k),
         |a${s}_1 AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT x.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY ${d2("x.v", "c.cent")}, c.cl) AS rk
         |    FROM sub$s x CROSS JOIN c${s}_0 c) WHERE rk = 1),
         |c${s}_1 AS MATERIALIZED (
         |  SELECT cl, list(mv ORDER BY pos) AS cent FROM (
         |    SELECT a.cl, f.pos, avg(f.val) AS mv
         |    FROM a${s}_1 a JOIN flat$s f USING (vec_id) GROUP BY a.cl, f.pos) t
         |  GROUP BY cl),
         |af$s AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT x.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY ${d2("x.v", "c.cent")}, c.cl) AS rk
         |    FROM sub$s x CROSS JOIN c${s}_1 c) WHERE rk = 1),
         |lut$s AS MATERIALIZED (
         |  SELECT c.cl, ${d2("q.v", "c.cent")} AS qd2
         |  FROM c${s}_1 c CROSS JOIN (SELECT v FROM sub$s WHERE vec_id = 0) q)""".stripMargin
    }.mkString(",\n")
    val codeJoin = (1 until m).map(s => s"JOIN af$s ON af$s.vec_id = af0.vec_id").mkString(" ")
    val codeCols = (0 until m).map(s => s"af$s.cl AS code$s").mkString(", ")
    val lutJoin = (0 until m).map(s => s"JOIN lut$s l$s ON l$s.cl = c.code$s").mkString(" ")
    val adcSum = (0 until m).map(s => s"l$s.qd2").mkString(" + ")
    val codeOut = (0 until m).map(s => s"code$s").mkString(", ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |$perSub,
       |codes AS (SELECT af0.vec_id, $codeCols FROM af0 $codeJoin),
       |adc AS (
       |  SELECT c.vec_id, $codeOut, $adcSum AS adc
       |  FROM codes c $lutJoin WHERE c.vec_id <> 0),
       |short AS (SELECT * FROM adc ORDER BY adc, vec_id LIMIT $shortlist),
       |qfull AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
       |ex AS (
       |  SELECT s.vec_id, $codeOut, s.adc, ${d2("x.emb", "q.qe")} AS exact
       |  FROM short s JOIN e x ON x.vec_id = s.vec_id CROSS JOIN qfull q)
       |SELECT vec_id, $codeOut, round(adc, 6) AS approx_d2, round(exact, 6) AS d2
       |FROM ex ORDER BY exact, vec_id LIMIT $topK""".stripMargin
  }

  /** q234 oracle: the full IVF-PQ pipeline as unrolled CTEs — the
    * shared coarse Lloyd chain (k=8, iters=2), residual construction
    * against the trained coarse centroids, EIGHT per-subspace Lloyd
    * chains over residual slices, per-cell query residuals, the
    * probe-filtered ADC scoring (fixed left-to-right 8-term add), the
    * (adc, vec_id) shortlist and the exact rerank. */
  private lazy val ivfPqOracleSql: String = {
    val m = 8; val kpq = 8; val sub = 8; val nprobe = 2
    val shortlist = 30; val topK = 10
    def d2(v: String, c: String) =
      s"list_sum(list_transform(range(1, len($v) + 1), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])))"
    val perSub = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = s * sub + sub
      s"""rsub$s AS MATERIALIZED (SELECT vec_id, list_slice(r, $lo, $hi) AS v FROM res),
         |rflat$s AS MATERIALIZED (
         |  SELECT vec_id, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS val FROM rsub$s),
         |pc${s}_0 AS MATERIALIZED (SELECT vec_id AS cl, v AS cent FROM rsub$s WHERE vec_id < $kpq),
         |pa${s}_1 AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT x.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY ${d2("x.v", "c.cent")}, c.cl) AS rk
         |    FROM rsub$s x CROSS JOIN pc${s}_0 c) WHERE rk = 1),
         |pc${s}_1 AS MATERIALIZED (
         |  SELECT cl, list(mv ORDER BY pos) AS cent FROM (
         |    SELECT a.cl, f.pos, avg(f.val) AS mv
         |    FROM pa${s}_1 a JOIN rflat$s f USING (vec_id) GROUP BY a.cl, f.pos) t
         |  GROUP BY cl),
         |pf$s AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT x.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY ${d2("x.v", "c.cent")}, c.cl) AS rk
         |    FROM rsub$s x CROSS JOIN pc${s}_1 c) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val codeJoin = (1 until m).map(s => s"JOIN pf$s ON pf$s.vec_id = pf0.vec_id").mkString(" ")
    val codeCols = (0 until m).map(s => s"pf$s.cl AS code$s").mkString(", ")
    val pcJoin = (0 until m).map(s => s"JOIN pc${s}_1 pq$s ON pq$s.cl = cd.code$s").mkString(" ")
    val adcSum = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = s * sub + sub
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(qr.qr[$lo + i - 1] - pq$s.cent[i]) * (qr.qr[$lo + i - 1] - pq$s.cent[i])))"
    }.mkString(" + ")
    val codeOut = (0 until m).map(s => s"code$s").mkString(", ")
    s"""${kmeansStagesSql(8, 2)},
       |res AS MATERIALIZED (
       |  SELECT f.vec_id, f.cluster,
       |    list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] - c.cent[i]) AS r
       |  FROM fin f JOIN e USING (vec_id) JOIN c1 c ON c.cl = f.cluster),
       |$perSub,
       |qfull AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
       |probe AS (
       |  SELECT cl FROM (
       |    SELECT c.cl,
       |      row_number() OVER (ORDER BY ${d2("q.qe", "c.cent")}, c.cl) AS rk
       |    FROM c1 c CROSS JOIN qfull q) WHERE rk <= $nprobe),
       |qr AS (
       |  SELECT c.cl,
       |    list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] - c.cent[i]) AS qr
       |  FROM c1 c CROSS JOIN qfull q),
       |codes AS (
       |  SELECT pf0.vec_id, f.cluster, $codeCols
       |  FROM pf0 $codeJoin JOIN fin f ON f.vec_id = pf0.vec_id),
       |adc AS (
       |  SELECT cd.vec_id, cd.cluster, $codeOut, $adcSum AS adc
       |  FROM codes cd JOIN qr ON qr.cl = cd.cluster $pcJoin
       |  WHERE cd.cluster IN (SELECT cl FROM probe) AND cd.vec_id <> 0),
       |short AS (SELECT * FROM adc ORDER BY adc, vec_id LIMIT $shortlist),
       |ex AS (
       |  SELECT s.vec_id, s.cluster, $codeOut, s.adc, ${d2("x.emb", "q.qe")} AS exact
       |  FROM short s JOIN e x ON x.vec_id = s.vec_id CROSS JOIN qfull q)
       |SELECT vec_id, cluster, $codeOut,
       |  round(adc, 6) AS approx_d2, round(exact, 6) AS d2
       |FROM ex ORDER BY exact, vec_id LIMIT $topK""".stripMargin
  }

  /** q162 oracle (factored so q238's agreement query can embed the
    * identical chain as a derived table). */
  private[ops] lazy val semDedupOracleSql: String =
      s"""WITH RECURSIVE ${kmeansStagesBody(
            "SELECT greatest(2, CAST(ceil(CAST(count(*) AS DOUBLE) / 64) AS BIGINT)) FROM embeddings", 3)},
        |cent AS (SELECT cl AS clabel, cent FROM c2),
        |asg AS (
        |  SELECT f.vec_id, f.cluster AS clabel, e.emb
        |  FROM fin f JOIN e ON e.vec_id = f.vec_id),
        |sc AS (
        |  SELECT a.vec_id, a.clabel, a.emb,
        |    round(
        |      list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * c.cent[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(c.cent) + 1), i -> c.cent[i] * c.cent[i])))), 4) AS cos_c
        |  FROM asg a JOIN cent c ON c.clabel = a.clabel),
        |dup AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM asg a JOIN asg b ON a.clabel = b.clabel AND a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i])))), 4) >= 0.35),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
        |          UNION SELECT doc_b, doc_a FROM dup),
        |reach AS (SELECT a, b FROM edges
        |          UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
        |lbl AS (SELECT a AS vec_id, least(a, min(b)) AS grp FROM reach GROUP BY a),
        |g AS (
        |  SELECT s.vec_id, s.clabel, coalesce(l.grp, s.vec_id) AS grp, s.cos_c
        |  FROM sc s LEFT JOIN lbl l ON l.vec_id = s.vec_id)
        |SELECT vec_id, clabel, grp, cos_c,
        |  (row_number() OVER (PARTITION BY grp ORDER BY cos_c, vec_id)) = 1 AS kept
        |FROM g ORDER BY vec_id""".stripMargin

  private lazy val kmeansOracleSql: String =
    s"""${kmeansStagesSql(8, 3)}
       |SELECT vec_id, cluster, round(d2, 6) AS d2 FROM fin ORDER BY vec_id""".stripMargin

  /** q218 oracle: the Lloyd chain's `df` already holds EVERY
    * (vec, centroid) distance, so the simplified silhouette is one
    * min over the non-assigned clusters joined back to `fin`, the
    * shared a/b/s IEEE tree under the floor-form integer scaling,
    * and a k-sized rollup. */
  private lazy val kmeansSilhouetteOracleSql: String =
    s"""${kmeansStagesSql(8, 3)},
       |oth AS (
       |  SELECT d.vec_id, min(d.d2) AS bd2
       |  FROM df d JOIN fin f ON d.vec_id = f.vec_id AND d.cl <> f.cluster
       |  GROUP BY d.vec_id),
       |sil AS (
       |  SELECT f.cluster,
       |    CAST(floor((CASE WHEN greatest(sqrt(f.d2), sqrt(o.bd2)) = 0.0 THEN 0.0
       |      ELSE (sqrt(o.bd2) - sqrt(f.d2)) / greatest(sqrt(f.d2), sqrt(o.bd2)) END)
       |      * 1000000.0 + 0.5) AS BIGINT) AS si
       |  FROM fin f JOIN oth o ON o.vec_id = f.vec_id)
       |SELECT cluster, count(*) AS n_members,
       |  ${TextOps.roundAtSql(
            "CAST(sum(si) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)", 6)} AS mean_silhouette
       |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin

  /** q202 oracle: the Lloyd chain + q59's TF-IDF at cluster
    * granularity (tf over member docs via the doc_id = vec_id bridge,
    * df = clusters containing the term, ln((K+1)/(df+1)) + 1). */
  private lazy val clusterTopicsOracleSql: String =
    s"""${kmeansStagesSql(8, 3)},
       |wc AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS word
       |    FROM documents) t WHERE word <> ''),
       |asg AS (SELECT vec_id AS doc_id, cluster FROM fin),
       |cw AS (
       |  SELECT a.cluster, w.word, count(*) AS tf
       |  FROM wc w JOIN asg a USING (doc_id) GROUP BY 1, 2),
       |dfx AS (SELECT word, count(*) AS df FROM cw GROUP BY 1),
       |nc AS (SELECT count(DISTINCT cluster) AS ncl FROM asg),
       |scored AS (
       |  SELECT cw.cluster, cw.word, cw.tf,
       |    cw.tf * (ln((nc.ncl + 1.0) / (dfx.df + 1.0)) + 1.0) AS score_raw
       |  FROM cw JOIN dfx USING (word) CROSS JOIN nc),
       |ranked AS (
       |  SELECT cluster, word, tf, score_raw,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY score_raw DESC, word) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT cluster, rnk, word, tf,
       |  ${graft.ops.TextOps.roundAtSql("score_raw", 6)} AS score
       |FROM ranked WHERE rnk <= 5
       |ORDER BY cluster, rnk""".stripMargin

  /** q184 oracle: the Lloyd chain + the query's nprobe nearest learned
    * centroids + exact cosine top-k within the probed lists. */
  private lazy val ivfLearnedOracleSql: String =
    s"""${kmeansStagesSql(8, 3)},
       |probes AS (
       |  SELECT cl FROM (
       |    SELECT c.cl, row_number() OVER (ORDER BY $kmeansDistSql, c.cl) AS rk
       |    FROM (SELECT * FROM e WHERE vec_id = 0) e CROSS JOIN c2 c) t
       |  WHERE rk <= 2),
       |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
       |cand AS (
       |  SELECT f.vec_id, e.label, e.emb, q.q_emb
       |  FROM fin f JOIN e ON e.vec_id = f.vec_id, q
       |  WHERE f.vec_id <> 0 AND f.cluster IN (SELECT cl FROM probes)),
       |s AS (
       |  SELECT vec_id, label,
       |    round(
       |      list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * q_emb[i])) /
       |      (sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]))) *
       |       sqrt(list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i] * q_emb[i])))), 4) AS cos
       |  FROM cand)
       |SELECT vec_id, label, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** Exact brute-force cosine top-10 CTE shared by q29 (which IS the
    * brute force) and q46's gated envelope (whose checkable values are
    * the same exact rows — the ANN leg only feeds the TRUE flag). */
  private lazy val bruteTopKOracleCte: String =
    """WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |s AS (
      |  SELECT e.vec_id, CAST(e.label AS INTEGER) AS label,
      |    round(
      |      list_sum(list_transform(range(1, len(e.embedding) + 1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(range(1, len(q.q_emb) + 1),
      |        i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))), 4) AS cos
      |  FROM embeddings e, q WHERE e.vec_id <> 0)""".stripMargin

  /** q242 oracle: the q28 label-blocked cosine pair CTE, symmetric
    * degree counts, core gate at minPts=3, recursive closure over the
    * core-core edges (the q61 reach pattern), isolated cores
    * self-labeled, borders attached to the min core-neighbor cluster.
    * Cosine rounds at 4 BEFORE the ≥ ε compare on both engines. The
    * `adm` CTE mirrors the engine's stop-block cap (labels with more
    * than 1000 members contribute NO pairs — the q138 wholesale-
    * exclusion semantics; member counts are deterministic, so the
    * oracle re-derives the same exclusions). */
  private lazy val densityClustersOracleSql: String =
    s"""WITH RECURSIVE adm AS (
      |  SELECT label FROM embeddings GROUP BY label
      |  HAVING count(*) <= ${SimilarityOps.DensityMaxLabel}),
      |p AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    round(
      |      list_sum(list_transform(range(1, len(a.embedding) + 1),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
      |      , 4) AS cos
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id
      |  JOIN adm ON adm.label = a.label),
      |e2 AS (SELECT va, vb FROM p WHERE cos >= 0.20),
      |sym AS (SELECT va AS v, vb AS nb FROM e2 UNION ALL SELECT vb, va FROM e2),
      |deg AS (SELECT v, count(*) AS degree FROM sym GROUP BY 1),
      |core AS (SELECT v FROM deg WHERE degree >= 3),
      |ce AS (SELECT va AS a, vb AS b FROM e2
      |       WHERE va IN (SELECT v FROM core) AND vb IN (SELECT v FROM core)),
      |edges AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
      |reach AS (SELECT a, b FROM edges
      |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |clus0 AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
      |clus AS (SELECT core.v AS id, coalesce(clus0.cluster, core.v) AS cluster
      |         FROM core LEFT JOIN clus0 ON clus0.id = core.v),
      |border AS (
      |  SELECT s.v, min(c.cluster) AS cluster
      |  FROM sym s JOIN clus c ON c.id = s.nb
      |  WHERE s.v NOT IN (SELECT v FROM core)
      |  GROUP BY 1),
      |lab AS (SELECT id AS vec_id, cluster, 'core' AS role FROM clus
      |        UNION ALL SELECT v AS vec_id, cluster, 'border' AS role FROM border)
      |SELECT e.vec_id, CAST(e.label AS INTEGER) AS label,
      |  CAST(coalesce(d.degree, 0) AS BIGINT) AS n_neighbors,
      |  coalesce(l.role, 'noise') AS role,
      |  CAST(coalesce(l.cluster, -1) AS BIGINT) AS cluster
      |FROM embeddings e
      |LEFT JOIN deg d ON d.v = e.vec_id
      |LEFT JOIN lab l ON l.vec_id = e.vec_id
      |ORDER BY e.vec_id""".stripMargin

  /** q251 oracle: the whole power-iteration chain replayed — 1e-6
    * coordinate quantization, the exact integer scatter matrix
    * M = n·Σqqᵀ − (Σq)(Σq)ᵀ, `iters` (= 100) unrolled MATERIALIZED
    * matvec rounds (ascending-j folds, norm, 1e-12 re-quantization —
    * the engine's driver-side loop literal-for-literal), final
    * Rayleigh quotient over the trace. */
  private lazy val pcaPowerOracleSql: String = {
    val dim = 64; val iters = 100
    def matvec(wn: String, prev: String): String =
      s"""$wn AS MATERIALIZED (
         |  SELECT m.i, list_sum(list(CAST(m.m AS DOUBLE) * v.v ORDER BY m.j)) AS w
         |  FROM m JOIN $prev v ON v.i = m.j GROUP BY m.i)""".stripMargin
    def round(r: Int): String = {
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""${matvec(s"w$r", prev)},
         |n$r AS MATERIALIZED (SELECT sqrt(list_sum(list(w * w ORDER BY i))) AS nm FROM w$r),
         |v$r AS MATERIALIZED (
         |  SELECT w.i, CASE WHEN nm = 0 THEN p.v
         |    ELSE floor(w.w / nm * 1000000000000.0 + 0.5) / 1000000000000.0 END AS v
         |  FROM w$r w JOIN $prev p ON p.i = w.i, n$r)""".stripMargin
    }
    s"""WITH dims AS (SELECT CAST(unnest(range(0, $dim)) AS BIGINT) AS i),
      |e AS (
      |  SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |nn0 AS (SELECT count(*) AS n FROM e),
      |flat AS (SELECT d.i, e.q[d.i + 1] AS qi, e.q AS q FROM e, dims d),
      |s1 AS (SELECT i, CAST(sum(qi) AS BIGINT) AS sq FROM flat GROUP BY 1),
      |cells AS (
      |  SELECT f.i, d2.i AS j, CAST(sum(f.qi * f.q[d2.i + 1]) AS BIGINT) AS sqq
      |  FROM flat f, dims d2 GROUP BY 1, 2),
      |m AS MATERIALIZED (
      |  SELECT c.i, c.j, nn0.n * c.sqq - sa.sq * sb.sq AS m
      |  FROM cells c JOIN s1 sa ON sa.i = c.i JOIN s1 sb ON sb.i = c.j, nn0),
      |tr AS (SELECT CAST(sum(m) AS BIGINT) AS tr FROM m WHERE i = j),
      |v0 AS MATERIALIZED (SELECT i, 0.125 AS v FROM dims),
      |${(1 to iters).map(round).mkString(",\n")},
      |${matvec("wf", s"v$iters")},
      |lam AS (
      |  SELECT list_sum(list(v.v * w.w ORDER BY v.i)) AS l
      |  FROM v$iters v JOIN wf w ON w.i = v.i)
      |SELECT d.i AS dim,
      |  floor(CAST(sa.sq AS DOUBLE) / (CAST(nn0.n AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mu,
      |  v.v AS pc1,
      |  floor((lam.l / CAST(tr.tr AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS explained
      |FROM dims d JOIN s1 sa ON sa.i = d.i JOIN v$iters v ON v.i = d.i, nn0, lam, tr
      |ORDER BY dim""".stripMargin
  }

  /** q87's oracle, also q101's: the bucketed-index probe must return
    * the same top-k, and what differs (bucket pruning, the persisted
    * assignment) is physical and spec-asserted, invisible to SQL. */
  private lazy val ivfLabelOracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |flat AS (
      |  SELECT label AS clabel,
      |    unnest(range(0, len(emb))) AS pos,
      |    unnest(emb) AS v
      |  FROM e),
      |cm AS (SELECT clabel, pos, avg(v) AS m FROM flat GROUP BY 1, 2),
      |cent AS (SELECT clabel, list(m ORDER BY pos) AS cent FROM cm GROUP BY 1),
      |ad AS (
      |  SELECT e.vec_id, e.label, e.emb, c.clabel,
      |    list_sum(list_transform(range(1, len(e.emb) + 1),
      |      i -> (e.emb[i] - c.cent[i]) * (e.emb[i] - c.cent[i]))) AS d2
      |  FROM e CROSS JOIN cent c),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk FROM ad),
      |probes AS (SELECT clabel FROM rk WHERE vec_id = 0 AND rk <= 2),
      |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
      |cand AS (
      |  SELECT r.vec_id, CAST(r.label AS INTEGER) AS label, r.emb, q.q_emb
      |  FROM rk r, q
      |  WHERE r.rk = 1 AND r.vec_id <> 0
      |    AND r.clabel IN (SELECT clabel FROM probes)),
      |s AS (
      |  SELECT vec_id, label,
      |    round(
      |      list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * q_emb[i])) /
      |      (sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]))) *
      |       sqrt(list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i] * q_emb[i])))), 4) AS cos
      |  FROM cand)
      |SELECT vec_id, label, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
}
