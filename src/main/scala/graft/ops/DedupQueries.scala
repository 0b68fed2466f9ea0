package graft.ops

import graft.QuerySpec

/** The dedup family's registered queries (exact and near-duplicate
  * detection, the duplicate graph and its clusters), each with the DuckDB
  * SQL that checks it. */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q24_dedup_exact", (s, d) => DedupOps.dedupExact(s, d),
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        | min(doc_id) AS keeper, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin),
    QuerySpec("q25_neardup_ngram", (s, d) => DedupOps.nearDupNgram(s, d), ngramPairsOracleSql),
    // q26: the md5 MinHash LSH (q75's operator), replayed end to end
    QuerySpec("q26_neardup_minhash", (s, d) => DedupOps.nearDupMinHashMd5(s, d),
      minHashMd5OracleSql),
    // q27: full cross-engine SimHash. The 60-bit token hash is one
    // big-endian hex window of md5 parsed to BIGINT (same
    // construction as q75's base hashes) — 60 bits keeps the value
    // and every 1<<i pack inside positive BIGINT range, so the sign
    // packing is a single bit_or (DuckDB raises on BIGINT 1<<63, the
    // reason for not using all 64 bits). Banding is omitted on
    // purpose: by pigeonhole the 4×15-bit banding finds EXACTLY the
    // pairs at Hamming ≤ 3, so the all-pairs form is semantically
    // identical and trivial at oracle scale.
    QuerySpec("q27_neardup_simhash", (s, d) => DedupOps.nearDupSimHash(s, d),
      simHashPairsOracleSql),
    QuerySpec("q28_neardup_embedding", (s, d) => DedupOps.nearDupEmbedding(s, d),
      """WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
        |    sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) AS denom
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, CAST(label AS INTEGER) AS label,
        |  round(dot / denom, 4) AS cos
        |FROM p WHERE round(dot / denom, 4) >= 0.35""".stripMargin),
    QuerySpec("q40_neardup_emb_lsh", (s, d) => DedupOps.nearDupEmbeddingLSH(s, d), {
      def sign(p: Int) =
        s"(CASE WHEN substr(md5('${p}_' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8' THEN 1.0 ELSE -1.0 END)"
      val bucket = (0 until 6).map { p =>
        s"(CASE WHEN list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * ${sign(p)})) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n      + ")
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |b AS (SELECT vec_id, emb,
        |      $bucket AS bucket FROM e),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
        |    round(
        |      list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b2.emb[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(b2.emb) + 1), i -> b2.emb[i] * b2.emb[i])))), 4) AS cos
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
        |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.35""".stripMargin
    }),
    QuerySpec("q61_dedup_clusters", (s, d) => DedupOps.dedupClusters(s, d),
      dedupClustersOracleSql),
    // shared program-generated md5-LSH replay (also gates q26 — see
    // minHashMd5OracleSql's scaladoc for its construction)
    QuerySpec("q75_minhash_md5", (s, d) => DedupOps.nearDupMinHashMd5(s, d), minHashMd5OracleSql),
    // q97: q61's SQL — star and min-label merges both label
    // components by their minimum member, so the oracle cannot (and
    // must not) tell them apart; what differs is round complexity,
    // which the 200-node-path spec pins
    QuerySpec("q97_clusters_star", (s, d) => DedupOps.dedupClustersStar(s, d),
      dedupClustersOracleSql),
    // q110: q75's program-generated signature/banding SQL with the
    // batch/corpus split — candidates are cross-slice band collisions,
    // verified by exact string-set Jaccard (Spark verifies on xxhash64
    // shingle hashes; Jaccard over distinct sets is invariant under an
    // injective per-element hash), verdicts re-aggregated per batch
    // doc with the max-jaccard-then-min-id keeper rule
    QuerySpec("q110_neardup_admission", (s, d) => DedupOps.nearDupAdmissionMd5(s, d), {
      val P = "2147483647"
      val h1 = s"(('0x' || substr(md5(s), 17, 15))::BIGINT % $P)"
      val h2 = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
      val sigCols = (0 until 24).map(i =>
        s"list_aggregate(list_transform(sh, s -> " +
          s"($h1 + $i * $h2) % $P), 'min') AS m$i")
        .mkString(",\n    ")
      val bandSelects = (0 until 8).map(bd =>
        s"SELECT doc_id, sh, $bd AS band, " +
          s"concat(m${3 * bd}, ',', m${3 * bd + 1}, ',', m${3 * bd + 2}) AS bucket FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |sig AS (
        |  SELECT doc_id, sh,
        |    $sigCols
        |  FROM docs),
        |banded AS (
        |  $bandSelects),
        |hits AS (
        |  SELECT DISTINCT b.doc_id AS b_id, i.doc_id AS i_id,
        |    round(CAST(len(list_intersect(b.sh, i.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(b.sh, i.sh))), 4) AS j
        |  FROM banded i JOIN banded b
        |    ON i.band = b.band AND i.bucket = b.bucket
        |   AND i.doc_id % 5 <> 4 AND b.doc_id % 5 = 4),
        |good AS (SELECT * FROM hits WHERE j >= 0.5),
        |v AS (SELECT b_id, CAST(count(*) AS BIGINT) AS n_matches, max(j) AS best_jaccard
        |      FROM good GROUP BY 1),
        |k AS (SELECT g.b_id, min(g.i_id) AS keeper
        |      FROM good g JOIN v ON g.b_id = v.b_id AND g.j = v.best_jaccard GROUP BY 1)
        |SELECT d.doc_id, v.n_matches IS NOT NULL AS is_neardup,
        |  coalesce(v.n_matches, 0) AS n_matches, k.keeper, v.best_jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
        |LEFT JOIN v ON d.doc_id = v.b_id
        |LEFT JOIN k ON d.doc_id = k.b_id""".stripMargin
    }),
    // q119: q25's pair CTEs verbatim (the same verified dup graph),
    // then 5 unrolled power iterations — both engines run EXACTLY the
    // same round count, so the float drift is sub-rounding
    QuerySpec("q119_pagerank_dups", (s, d) => DedupOps.pageRankDupGraph(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |p AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS id, 1.0 AS pr FROM deg),
        |r1 AS (SELECT e.dst AS id, 0.15 + 0.85 * sum(r.pr / d.deg) AS pr
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.id GROUP BY 1),
        |r2 AS (SELECT e.dst AS id, 0.15 + 0.85 * sum(r.pr / d.deg) AS pr
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON e.src = r.id GROUP BY 1),
        |r3 AS (SELECT e.dst AS id, 0.15 + 0.85 * sum(r.pr / d.deg) AS pr
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON e.src = r.id GROUP BY 1),
        |r4 AS (SELECT e.dst AS id, 0.15 + 0.85 * sum(r.pr / d.deg) AS pr
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r3 r ON e.src = r.id GROUP BY 1),
        |r5 AS (SELECT e.dst AS id, 0.15 + 0.85 * sum(r.pr / d.deg) AS pr
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r4 r ON e.src = r.id GROUP BY 1)
        |SELECT id AS doc_id, floor(pr * 1000000 + 0.5) / 1000000 AS pr
        |FROM r5""".stripMargin),
    // q126: q61's cluster CTEs + the same packed-integer arg_max
    QuerySpec("q126_cluster_survivors", (s, d) => DedupOps.clusterSurvivors(s, d),
      s"""WITH RECURSIVE docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |dup AS (SELECT doc_a, doc_b FROM cand WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
        |          UNION SELECT doc_b, doc_a FROM dup),
        |reach AS (SELECT a, b FROM edges
        |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clusters AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster
        |  FROM reach GROUP BY a),
        |scored AS (
        |  SELECT doc_id,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality
        |  FROM (SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        |   FROM documents) t)
        |SELECT c.cluster, count(*) AS n_members,
        | arg_max(c.doc_id,
        |   CAST(round(s.quality * 1000000) AS BIGINT) * 1000000000 - c.doc_id) AS survivor_id,
        | max(s.quality) AS survivor_quality
        |FROM clusters c JOIN scored s ON c.doc_id = s.doc_id
        |GROUP BY c.cluster""".stripMargin),
    // q135: q25's pair CTEs for positives; negatives re-derive the
    // same bucketed odd-row/lead pairing
    QuerySpec("q135_contrastive_pairs", (s, d) => DedupOps.contrastivePairs(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |p AS (SELECT doc_a, doc_b FROM cand WHERE jaccard >= 0.5),
        |hk AS (
        |  SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bkt,
        |    md5(CAST(doc_id AS VARCHAR)) AS mk
        |  FROM documents),
        |rnk AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY bkt ORDER BY mk) AS rn,
        |    lead(doc_id) OVER (PARTITION BY bkt ORDER BY mk) AS partner
        |  FROM hk),
        |neg AS (
        |  SELECT least(doc_id, partner) AS doc_a,
        |    greatest(doc_id, partner) AS doc_b
        |  FROM rnk WHERE rn % 2 = 1 AND partner IS NOT NULL),
        |negc AS (
        |  SELECT n.doc_a, n.doc_b FROM neg n
        |  LEFT JOIN p ON n.doc_a = p.doc_a AND n.doc_b = p.doc_b
        |  WHERE p.doc_a IS NULL)
        |SELECT doc_a, doc_b, 1 AS label FROM p
        |UNION ALL SELECT doc_a, doc_b, 0 FROM negc""".stripMargin),
    // q136: q25's candidate CTEs with the verify filter inverted
    QuerySpec("q136_hard_negatives", (s, d) => DedupOps.hardNegatives(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM cand
        |WHERE jaccard > 0 AND jaccard < 0.5""".stripMargin),
    // q138: q25's CTEs + the bucket-size cap — buckets with more than
    // 3 members contribute NO pairs (min-md5 membership is fully
    // deterministic, so the oracle re-derives the same exclusions)
    QuerySpec("q138_neardup_capped", (s, d) => DedupOps.nearDupNgramCapped(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |bsz AS (SELECT minsh, count(*) AS n FROM keyed GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id
        |  JOIN bsz ON a.minsh = bsz.minsh AND bsz.n <= 3)
        |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin),
    // q139: q136's candidate CTEs + a per-anchor top-2 bound over
    // (jaccard DESC, doc_b) — the rounded jaccard is the ordering
    // value on both engines, so the rank is cross-engine-stable
    QuerySpec("q139_hard_neg_capped", (s, d) => DedupOps.hardNegativesCapped(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |neg AS (
        |  SELECT doc_a, doc_b, jaccard,
        |    row_number() OVER (PARTITION BY doc_a
        |                       ORDER BY jaccard DESC, doc_b) AS neg_rank
        |  FROM cand WHERE jaccard > 0 AND jaccard < 0.5)
        |SELECT doc_a, doc_b, jaccard, neg_rank FROM neg
        |WHERE neg_rank <= 2""".stripMargin),
    // q143: q61's one-shot SQL — the incremental fold must be
    // indistinguishable from clustering everything at once
    QuerySpec("q143_incremental_clusters", (s, d) => DedupOps.dedupClustersIncremental(s, d),
      dedupClustersOracleSql),
    // q151: the engine's threshold Levenshtein returns -1 above the
    // cap and is filtered out; the oracle computes the plain distance
    // and applies the same <= cap — identical pair sets
    QuerySpec("q151_neardup_edit", (s, d) => DedupOps.nearDupEdit(s, d),
      """WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents),
        |b AS (SELECT doc_id, norm, substr(norm, 1, 16) AS blk FROM t)
        |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        | CAST(levenshtein(a.norm, c.norm) AS BIGINT) AS dist,
        | (levenshtein(a.norm, c.norm) = 0) AS exact_dup
        |FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
        |WHERE abs(length(a.norm) - length(c.norm)) <= 8
        |  AND levenshtein(a.norm, c.norm) <= 8""".stripMargin),
    // q152: q151's CTEs + the stop-prefix block cap — blocks with more
    // than 2 members contribute NO pairs (prefix membership is a pure
    // function of the normalized text, so the oracle re-derives the
    // same exclusions)
    QuerySpec("q152_neardup_edit_capped", (s, d) => DedupOps.nearDupEditCapped(s, d),
      """WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents),
        |b AS (SELECT doc_id, norm, substr(norm, 1, 16) AS blk FROM t),
        |bsz AS (SELECT blk, count(*) AS n FROM b GROUP BY 1)
        |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        | CAST(levenshtein(a.norm, c.norm) AS BIGINT) AS dist,
        | (levenshtein(a.norm, c.norm) = 0) AS exact_dup
        |FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
        |JOIN bsz ON bsz.blk = a.blk AND bsz.n <= 2
        |WHERE abs(length(a.norm) - length(c.norm)) <= 8
        |  AND levenshtein(a.norm, c.norm) <= 8""".stripMargin),
    // q164: q25's shingle + min-md5-blocking CTEs verbatim, verified
    // on containment |A∩B|/min(|A|,|B|) instead of Jaccard; both
    // metrics rounded at 4, keep decision on rounded containment
    QuerySpec("q164_neardup_containment", (s, d) => DedupOps.nearDupContainment(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          least(len(a.sh), len(b.sh)), 4) AS containment,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, containment, jaccard
        |FROM pairs WHERE containment >= 0.8""".stripMargin),
    // q165: the q25 pair CTEs + two source lookups + the unordered
    // source-pair rollup; avg rounded at 4 on both engines
    QuerySpec("q165_cross_source_dups", (s, d) => DedupOps.crossSourceDupMatrix(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |hits AS (SELECT * FROM pairs WHERE jaccard >= 0.5)
        |SELECT least(da.source, db.source) AS src_lo,
        |  greatest(da.source, db.source) AS src_hi,
        |  count(*) AS n_pairs, round(avg(h.jaccard), 4) AS avg_jaccard
        |FROM hits h
        |JOIN documents da ON da.doc_id = h.doc_a
        |JOIN documents db ON db.doc_id = h.doc_b
        |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin),
    // q166: distinct (doc, gram) rows -> gram document frequency ->
    // per-doc common fraction; roster left join keeps all-unique docs
    QuerySpec("q166_boilerplate_grams", (s, d) => DedupOps.boilerplateGrams(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |dg AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        |gdf AS (SELECT s, count(*) AS df FROM dg GROUP BY s),
        |per AS (
        |  SELECT dg.doc_id, count(*) AS n_shingles,
        |    sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS n_common
        |  FROM dg JOIN gdf ON gdf.s = dg.s GROUP BY dg.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(per.n_common, 0) AS BIGINT) AS n_common,
        |  round(CAST(coalesce(per.n_common, 0) AS DOUBLE) /
        |        greatest(coalesce(per.n_shingles, 0), 1), 4) AS common_frac
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // q171: q25's pair CTEs + the a<b<c wedge join closed by the
    // third edge, three corner credits per triangle
    QuerySpec("q171_dup_triangles", (s, d) => DedupOps.triangleCounts(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |e AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
        |tri AS (
        |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.doc_a = e1.doc_b
        |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        |corners AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
        |SELECT doc_id, count(*) AS n_triangles
        |FROM corners GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // q182: q25 blocking with md5-keyed grams, smoothed IDF dim, all
    // three weighted sums folded in m order (0.0 for non-matching
    // terms so both engines run the identical add sequence)
    QuerySpec("q182_neardup_weighted", (s, d) => DedupOps.nearDupWeighted(s, d),
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |dg AS (SELECT doc_id, md5(s) AS m FROM (SELECT doc_id, unnest(sh) AS s FROM docs) t),
        |idf AS (
        |  -- one mirrored ln per gram, rounded to a 1e-6 fixed-point
        |  -- BIGINT: per-pair sums become exact integers, so no float
        |  -- fold order needs pinning on either engine
        |  SELECT m,
        |    CAST(floor((ln(CAST((SELECT count(*) FROM documents) + 1 AS DOUBLE) / (count(*) + 1)) + 1.0)
        |      * 1000000 + 0.5) AS BIGINT) AS idf_fp
        |  FROM dg GROUP BY m),
        |keyed AS (SELECT doc_id, min(m) AS minsh, list(m) AS sh FROM dg GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |ex AS (
        |  SELECT doc_a, doc_b, unnest(list_distinct(list_concat(sha, shb))) AS m, sha, shb
        |  FROM pairs),
        |flg AS (
        |  SELECT e.doc_a, e.doc_b, e.m,
        |    list_contains(e.sha, e.m) AS in_a, list_contains(e.shb, e.m) AS in_b, i.idf_fp
        |  FROM ex e JOIN idf i ON i.m = e.m),
        |per AS (
        |  SELECT doc_a, doc_b,
        |    CAST(sum(CASE WHEN in_a AND in_b THEN idf_fp ELSE 0 END) AS BIGINT) AS wi,
        |    CAST(sum(CASE WHEN in_a THEN idf_fp ELSE 0 END) AS BIGINT) AS wa,
        |    CAST(sum(CASE WHEN in_b THEN idf_fp ELSE 0 END) AS BIGINT) AS wb
        |  FROM flg GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b,
        |  floor(CAST(wi AS DOUBLE) / least(wa, wb) * 10000 + 0.5) / 10000 AS w_containment
        |FROM per
        |WHERE floor(CAST(wi AS DOUBLE) / least(wa, wb) * 10000 + 0.5) / 10000 >= 0.6""".stripMargin),
    // q198: the q171 chain + a degree CTE; the coefficient is one
    // division of exact-long casts under the shared roundAt formula
    QuerySpec("q198_clustering_coef", (s, d) => DedupOps.clusteringCoefficients(s, d),
      s"""WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |e AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
        |tri AS (
        |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.doc_a = e1.doc_b
        |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        |corners AS (SELECT unnest([a, b, c]) AS doc_id FROM tri),
        |tric AS (SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY doc_id),
        |deg AS (
        |  SELECT doc_id, count(*) AS degree
        |  FROM (SELECT unnest([doc_a, doc_b]) AS doc_id FROM e)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.degree,
        |  coalesce(t.n_triangles, 0) AS n_triangles,
        |  CASE WHEN d.degree >= 2
        |    THEN ${TextOps.roundAtSql(
                 "CAST(2 * coalesce(t.n_triangles, 0) AS DOUBLE) / " +
                   "CAST(d.degree * (d.degree - 1) AS DOUBLE)", 6)}
        |    ELSE 0.0 END AS clust_coef
        |FROM deg d LEFT JOIN tric t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    QuerySpec("q203_method_agreement", (s, d) => DedupOps.methodAgreement(s, d),
      methodAgreementOracleSql),
    // q212: the q61 CC chain + n_chars rollup; keeper = the doc whose
    // id equals its (minimum-member) cluster label
    QuerySpec("q212_dedup_roi", (s, d) => DedupOps.dedupRoi(s, d),
      s"""WITH RECURSIVE $dedupClustersCteBody,
        |cd AS (
        |  SELECT c.cluster, c.doc_id, d.n_chars
        |  FROM clus c JOIN documents d USING (doc_id)),
        |per AS (
        |  SELECT cluster, count(*) AS sz,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    max(CASE WHEN doc_id = cluster THEN n_chars END) AS kept
        |  FROM cd GROUP BY cluster)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(sum(chars - kept) AS BIGINT) AS saved_chars,
        |  ${TextOps.roundAtSql(
             "CAST(sum(chars - kept) AS DOUBLE) / CAST(sum(chars) AS DOUBLE)", 6)} AS saved_frac
        |FROM per GROUP BY sz ORDER BY sz""".stripMargin),
    // q214: the q61 chain + per-(cluster, source) counts, q172's
    // negated ordered-fold entropy, roundAt normalizing -0.0
    QuerySpec("q214_cluster_sources", (s, d) => DedupOps.clusterSourceEntropy(s, d),
      s"""WITH RECURSIVE $dedupClustersCteBody,
        |cs AS (
        |  SELECT c.cluster, d.source, count(*) AS c
        |  FROM clus c JOIN documents d USING (doc_id)
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT cluster, CAST(sum(c) AS BIGINT) AS sz, count(*) AS n_sources
        |  FROM cs GROUP BY cluster),
        |terms AS (
        |  SELECT cs.cluster, cs.source,
        |    (CAST(cs.c AS DOUBLE) / tot.sz) * ln(CAST(cs.c AS DOUBLE) / tot.sz) AS term
        |  FROM cs JOIN tot USING (cluster)),
        |per AS (
        |  SELECT cluster, -(list_sum(list(term ORDER BY source))) AS h_raw
        |  FROM terms GROUP BY cluster)
        |SELECT t.cluster, t.sz, t.n_sources,
        |  ${TextOps.roundAtSql("per.h_raw", 6)} AS src_entropy,
        |  t.n_sources > 1 AS is_cross_source
        |FROM tot t JOIN per USING (cluster)
        |ORDER BY t.cluster""".stripMargin),
    QuerySpec("q219_prefix_join", (s, d) => DedupOps.prefixJoinNearDup(s, d), prefixJoinOracleSql),
    QuerySpec("q220_coreness", (s, d) => DedupOps.corenessDupGraph(s, d), corenessOracleSql),
    // q228: the canonical shingle-set CTE unnested, min-owner per
    // shingle, seen-before rollup — all exact longs
    QuerySpec("q228_novelty_curve", (s, d) => DedupOps.noveltyCurve(s, d),
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len(words) - 3, 0) + 1),
         |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ') AS words
         |        FROM documents) w),
         |ds AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |own AS (SELECT s, min(doc_id) AS owner FROM ds GROUP BY 1),
         |pd AS (
         |  SELECT ds.doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN own.owner < ds.doc_id THEN 1 ELSE 0 END) AS n_seen
         |  FROM ds JOIN own USING (s) GROUP BY 1)
         |SELECT doc_id, n_shingles, CAST(n_seen AS BIGINT) AS n_seen,
         |  ${TextOps.roundAtSql(
               "1.0 - CAST(n_seen AS DOUBLE) / CAST(n_shingles AS DOUBLE)", 4)} AS novelty
         |FROM pd ORDER BY doc_id""".stripMargin),
    // q232: the q25 chain WITHOUT its threshold filter, swept by a
    // 4-row tau literal; means from exact 1e4-scaled longs
    QuerySpec("q232_threshold_sweep", (s, d) => DedupOps.thresholdSweep(s, d),
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len(words) - 3, 0) + 1),
         |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ') AS words
         |        FROM documents) w),
         |keyed AS (
         |  SELECT doc_id, sh,
         |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
         |  FROM docs),
         |pairs AS (
         |  SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |         len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
         |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
         |tau AS (SELECT CAST(unnest([0.005, 0.01, 0.1, 0.5]) AS DOUBLE) AS tau),
         |f AS (
         |  SELECT t.tau, CAST(floor(p.jaccard * 10000 + 0.5) AS BIGINT) AS j4
         |  FROM pairs p CROSS JOIN tau t WHERE p.jaccard >= t.tau)
         |SELECT tau, count(*) AS n_pairs,
         |  ${TextOps.roundAtSql(
               "CAST(sum(j4) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0)", 6)} AS mean_jaccard
         |FROM f GROUP BY tau ORDER BY tau""".stripMargin),
    // q238: both pair chains embedded verbatim as derived tables,
    // lexical side restricted to embedded endpoints
    QuerySpec("q238_sem_lex_agreement", (s, d) => DedupOps.semLexAgreement(s, d),
      s"""WITH sem AS MATERIALIZED (SELECT vec_id, grp FROM (${SimilarityQueries.semDedupOracleSql}) t),
         |sp AS MATERIALIZED (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM sem a JOIN sem b ON a.grp = b.grp AND a.vec_id < b.vec_id),
         |lex0 AS MATERIALIZED (SELECT doc_a, doc_b FROM ($ngramPairsOracleSql) t),
         |ids AS (SELECT vec_id FROM embeddings),
         |lp AS MATERIALIZED (
         |  SELECT l.doc_a, l.doc_b FROM lex0 l
         |  JOIN ids i1 ON i1.vec_id = l.doc_a
         |  JOIN ids i2 ON i2.vec_id = l.doc_b),
         |bt AS (SELECT sp.doc_a, sp.doc_b FROM sp
         |       JOIN lp ON lp.doc_a = sp.doc_a AND lp.doc_b = sp.doc_b),
         |c AS (SELECT (SELECT count(*) FROM sp) AS n_semantic,
         |             (SELECT count(*) FROM lp) AS n_lexical,
         |             (SELECT count(*) FROM bt) AS n_both)
         |SELECT n_semantic, n_lexical, n_both,
         |  n_semantic - n_both AS sem_only, n_lexical - n_both AS lex_only,
         |  ${TextOps.roundAtSql(
              "CASE WHEN n_semantic + n_lexical - n_both = 0 THEN 0.0 " +
              "ELSE CAST(n_both AS DOUBLE) / CAST(n_semantic + n_lexical - n_both AS DOUBLE) END", 6)} AS agreement
         |FROM c""".stripMargin),
    QuerySpec("q243_neardup_oph", (s, d) => DedupOps.nearDupOPH(s, d), ophOracleSql),
    // q247: the q61 pair chain → symmetric edges → exact integer
    // sufficient statistics → one guarded Pearson expression
    QuerySpec("q247_assortativity", (s, d) => DedupOps.dupGraphAssortativity(s, d),
      s"""WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |        FROM documents) w),
        |keyed AS (
        |  SELECT doc_id, sh,
        |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
        |  FROM docs),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
        |dup AS (SELECT doc_a, doc_b FROM cand WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM dup
        |          UNION ALL SELECT doc_b, doc_a FROM dup),
        |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY 1),
        |dd AS (
        |  SELECT e.u, e.v, du.d AS du, dv.d AS dv
        |  FROM edges e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
        |g AS (
        |  SELECT count(*) AS n, count(DISTINCT u) AS n_nodes,
        |    CAST(sum(du) AS BIGINT) AS sx,
        |    CAST(sum(du * du) AS BIGINT) AS sxx,
        |    CAST(sum(du * dv) AS BIGINT) AS sxy
        |  FROM dd)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges, n_nodes,
        |  ${TextOps.roundAtSql(
             "CASE WHEN n * sxx - sx * sx = 0 THEN 0.0 " +
             "ELSE CAST(n * sxy - sx * sx AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END", 6)} AS assortativity
        |FROM g""".stripMargin),
    // q249: positional 3-gram hash lists (q61's shingle construction
    // WITH positions), window minima over 4-hash slides (short docs:
    // one all-of-doc window), distinct fingerprints, pair counts
    QuerySpec("q249_winnow_overlap", (s, d) => DedupOps.winnowOverlap(s, d),
      """WITH wsr AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS wd
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(range(0, greatest(len(wd) - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(list_slice(wd, i + 1, i + 3), ' ')), 17, 15))::BIGINT) AS hl
        |  FROM wsr),
        |fp AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(least(4, len(hl)), len(hl) + 1),
        |        i -> list_aggregate(list_slice(hl, greatest(i - 3, 1), i), 'min'))) AS fp
        |    FROM hs) t),
        |pd AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, pa.nfp AS fp_a, pb.nfp AS fp_b,
        |  round(CAST(n_shared AS DOUBLE) / least(pa.nfp, pb.nfp), 4) AS overlap
        |FROM pr JOIN pd pa ON pa.doc_id = pr.doc_a
        |        JOIN pd pb ON pb.doc_id = pr.doc_b
        |WHERE n_shared >= 2 ORDER BY doc_a, doc_b""".stripMargin),
  )

  /** q61's recursive-CC oracle chain (shingle pairs → symmetric edges
    * → transitive closure → min-member labels in `clus`), factored so
    * q212's ROI rollup can extend the identical chain. Callers
    * prepend `WITH RECURSIVE`. */
  private lazy val dedupClustersCteBody: String =
    """docs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(words) - 3, 0) + 1),
      |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
      |        FROM documents) w),
      |keyed AS (
      |  SELECT doc_id, sh,
      |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
      |  FROM docs),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
      |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id),
      |dup AS (SELECT doc_a, doc_b FROM cand WHERE jaccard >= 0.5),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
      |          UNION SELECT doc_b, doc_a FROM dup),
      |reach AS (SELECT a, b FROM edges
      |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |clus AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster
      |  FROM reach GROUP BY a)""".stripMargin

  /** q61's oracle, also q97's and q143's: every merge strategy labels a
    * component by its minimum member, so one SQL checks them all. */
  private lazy val dedupClustersOracleSql: String =
    s"""WITH RECURSIVE $dedupClustersCteBody
      |SELECT doc_id, cluster FROM clus""".stripMargin

  /** q25's oracle, factored so q203's agreement matrix can embed the
    * identical chain as a derived table. */
  private lazy val ngramPairsOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(words) - 3, 0) + 1),
      |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
      |        FROM documents) w),
      |keyed AS (
      |  SELECT doc_id, sh,
      |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS minsh
      |  FROM docs),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
      |  FROM keyed a JOIN keyed b ON a.minsh = b.minsh AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin

  /** q219 oracle: the canonical shingle-set CTE, global (df, shingle)
    * ordering, INTEGER prefix bound p = n − (3n+4)//5 + 1 and length
    * filter 5·min ≥ 3·max (τ = 3/5 as a rational on both engines —
    * no decimal-vs-double ceil divergence), then the EXACT integer
    * keep inter·5 ≥ union·3 (jaccard rounded at 4 for display only —
    * a rounded keep would void the recall guarantee in the
    * [τ−5e-5, τ) window). Mirrors DedupOps.prefixJoinNearDup. */
  private lazy val prefixJoinOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(words) - 3, 0) + 1),
      |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
      |        FROM documents) w),
      |ds AS (SELECT doc_id, unnest(sh) AS s FROM docs),
      |sz AS (SELECT doc_id, len(sh) AS n FROM docs),
      |dfq AS (SELECT s, count(*) AS df FROM ds GROUP BY 1),
      |pre AS (
      |  SELECT ds.doc_id, ds.s, sz.n,
      |    row_number() OVER (PARTITION BY ds.doc_id ORDER BY dfq.df, ds.s) AS rn
      |  FROM ds JOIN dfq USING (s) JOIN sz USING (doc_id)),
      |pref AS (SELECT doc_id, s, n FROM pre WHERE rn <= n - ((3 * n + 4) // 5) + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
      |    AND least(a.n, b.n) * 5 >= greatest(a.n, b.n) * 3),
      |verified AS (
      |  SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(A.sh, B.sh)) AS inter,
      |    len(A.sh) + len(B.sh) - len(list_intersect(A.sh, B.sh)) AS un
      |  FROM cand c JOIN docs A ON A.doc_id = c.doc_a
      |              JOIN docs B ON B.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / un, 4) AS jaccard
      |FROM verified WHERE inter * 5 >= un * 3""".stripMargin

  /** q220 oracle: q25's pair chain as a derived table, symmetric
    * edges, then the h-index iteration UNROLLED to the same fixed 6
    * rounds the engine runs — fixed rounds make the hash gate
    * independent of any convergence test (both engines emit the
    * round-6 values, which CorenessSpec separately pins as the
    * fixpoint). h over the asc-sorted neighbor list la (1-based i):
    * h = Σ[la[i] ≥ len(la) − i + 1] — pure integers. */
  private lazy val corenessOracleSql: String = {
    val roundCtes = (1 to 6).map { r =>
      s"""c$r AS (
         |  SELECT u, CAST(list_sum(list_transform(la,
         |      (x, i) -> CASE WHEN x >= len(la) - i + 1 THEN 1 ELSE 0 END)) AS BIGINT) AS c
         |  FROM (SELECT e.u AS u, list(p.c ORDER BY p.c) AS la
         |        FROM edges e JOIN c${r - 1} p ON p.u = e.v GROUP BY e.u) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS MATERIALIZED (SELECT doc_a, doc_b FROM ($ngramPairsOracleSql) t),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
       |          UNION ALL SELECT doc_b, doc_a FROM pr),
       |c0 AS (SELECT u, count(*) AS c FROM edges GROUP BY u),
       |$roundCtes
       |SELECT c0.u AS doc_id, c0.c AS degree, c6.c AS coreness
       |FROM c0 JOIN c6 ON c6.u = c0.u ORDER BY doc_id""".stripMargin
  }

  /** q27's oracle, factored for the same q203 reuse. */
  private lazy val simHashPairsOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 17, 15))::BIGINT AS h
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS b
      |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS i)
      |  GROUP BY doc_id, i),
      |sh AS (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN b > 0 THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER) ELSE 0 END) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** q203 oracle: the three near-dup chains embedded verbatim as
    * derived tables (nested WITH — each keeps its own CTE namespace),
    * pair-set sizes/intersections as exact longs, agreement = Jaccard
    * over PAIR SETS with a 0-denominator guard. */
  private lazy val methodAgreementOracleSql: String =
    s"""WITH ng AS MATERIALIZED (SELECT doc_a, doc_b FROM ($ngramPairsOracleSql) t),
       |mh AS MATERIALIZED (SELECT doc_a, doc_b FROM ($minHashMd5OracleSql) t),
       |sh2 AS MATERIALIZED (SELECT doc_a, doc_b FROM ($simHashPairsOracleSql) t),
       |a AS (
       |  SELECT 'minhash' AS method, doc_a, doc_b FROM mh
       |  UNION ALL SELECT 'ngram', doc_a, doc_b FROM ng
       |  UNION ALL SELECT 'simhash', doc_a, doc_b FROM sh2),
       |counts AS (SELECT method, count(*) AS n FROM a GROUP BY 1),
       |prs AS (
       |  SELECT c1.method AS method_a, c1.n AS n_a, c2.method AS method_b, c2.n AS n_b
       |  FROM counts c1 JOIN counts c2 ON c1.method < c2.method),
       |ib AS (
       |  SELECT x.method AS method_a, y.method AS method_b, count(*) AS n_both
       |  FROM a x JOIN a y
       |    ON x.doc_a = y.doc_a AND x.doc_b = y.doc_b AND x.method < y.method
       |  GROUP BY 1, 2)
       |SELECT p.method_a, p.method_b, p.n_a, p.n_b,
       |  coalesce(i.n_both, 0) AS n_both,
       |  ${graft.ops.TextOps.roundAtSql(
            "CASE WHEN p.n_a + p.n_b - coalesce(i.n_both, 0) = 0 THEN 0.0 " +
              "ELSE CAST(coalesce(i.n_both, 0) AS DOUBLE) / " +
              "CAST(p.n_a + p.n_b - coalesce(i.n_both, 0) AS DOUBLE) END", 6)} AS agreement
       |FROM prs p LEFT JOIN ib i USING (method_a, method_b)
       |ORDER BY p.method_a, p.method_b""".stripMargin

  /** Full md5-LSH replay shared by q75 and q26, which both run
    * nearDupMinHashMd5. Program-generated SQL mirroring it: one md5
    * per shingle, double-hashing h_i = (h1 + i*h2) mod p over two
    * 60-bit big-endian hex windows of the digest (chars 17-31 and
    * 1-15; DuckDB parses '0x...' straight to BIGINT, the exact twin
    * of Spark's conv(substr(hex),16,10)), 8 three-row band buckets. */
  private lazy val minHashMd5OracleSql: String = {
    val P = "2147483647"
    val h1 = s"(('0x' || substr(md5(s), 17, 15))::BIGINT % $P)"
    val h2 = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
    val sigCols = (0 until 24).map(i =>
      s"list_aggregate(list_transform(sh, s -> " +
        s"($h1 + $i * $h2) % $P), 'min') AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until 8).map(bd =>
      s"SELECT doc_id, sh, $bd AS band, " +
        s"concat(m${3 * bd}, ',', m${3 * bd + 1}, ',', m${3 * bd + 2}) AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(words) - 3, 0) + 1),
      |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
      |        FROM documents) w),
      |sig AS (
      |  SELECT doc_id, sh,
      |    $sigCols
      |  FROM docs),
      |banded AS (
      |  $bandSelects),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin
  }

  /** q243 oracle: the OPH pipeline replayed exactly — one md5 60-bit
    * hash per distinct shingle (minima are duplicate-invariant, so
    * the distinct list stands in for the engine's positional rows),
    * 16 conditional bin minima, rotation densification as a 16-term
    * coalesce chain per signature slot, 4 band buckets of 4 slots,
    * bucket-collision candidates, exact string-set Jaccard verify. */
  private lazy val ophOracleSql: String = {
    val bins = 16; val bands = 4; val rpb = bins / bands
    val binMins = (0 until bins).map(i =>
      s"min(CASE WHEN h % $bins = $i THEN h END) AS m$i").mkString(",\n      ")
    def dens(i: Int): String =
      "coalesce(" + (0 until bins).map(j => s"m${(i + j) % bins}").mkString(", ") + ")"
    val bandRows = (0 until bands).map { bd =>
      val cols = (0 until rpb).map(r =>
        s"CAST(${dens(bd * rpb + r)} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $bd AS band, $cols AS bucket FROM bm"
    }.mkString("\n  UNION ALL ")
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(words) - 3, 0) + 1),
      |      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
      |        FROM documents) w),
      |hs AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(s), 17, 15))::BIGINT % 2147483647 AS h
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM docs) t),
      |bm AS (
      |  SELECT doc_id,
      |      $binMins
      |  FROM hs GROUP BY 1),
      |br AS (
      |  $bandRows),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM br a JOIN br b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT doc_a, doc_b,
      |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
      |          len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
      |  FROM cand JOIN docs x ON x.doc_id = cand.doc_a
      |            JOIN docs y ON y.doc_id = cand.doc_b)
      |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin
  }
}
