package graft.ops

import graft.QuerySpec

/** The text family's registered queries (quality signals, tokenizers,
  * language models, retrieval), each with the DuckDB SQL that checks it. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q20_text_tokens", (s, d) => TextOps.tokenStats(s, d),
      s"""SELECT doc_id,
        | length(text) AS n_chars_calc,
        | len(regexp_split_to_array(text, '\\s+')) AS ws_tokens,
        | len(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS bpe_tokens,
        | ${TextOps.roundAtSql(
             "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / " +
             s"len(regexp_extract_all(text, '${TextOps.BpeTokenPattern}'))", 4)} AS avg_token_len
        |FROM documents""".stripMargin),
    QuerySpec("q21_text_quality", (s, d) => TextOps.qualityScore(s, d),
      s"""SELECT doc_id,
        | ${TextOps.roundAtSql("punct / n_chars", 6)} AS punct_ratio,
        | ${TextOps.roundAtSql("stops / n_tokens", 6)} AS stopword_ratio,
        | ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality
        |FROM (SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |  CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        | FROM documents) t""".stripMargin),
    QuerySpec("q22_lang_id", (s, d) => TextOps.langId(s, d),
      s"""SELECT doc_id, lang,
        | CASE WHEN zh > 0 THEN 'zh'
        |      WHEN de > en AND de > es AND de > fr THEN 'de'
        |      WHEN es > en AND es > fr THEN 'es'
        |      WHEN fr > en THEN 'fr'
        |      ELSE 'en' END AS lang_pred
        |FROM (SELECT doc_id, lang,
        |  len(regexp_extract_all(text, '${TextOps.CjkPattern}')) AS zh,
        |  len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS en,
        |  len(regexp_extract_all(lower(text), '${TextOps.EsStops}')) AS es,
        |  len(regexp_extract_all(lower(text), '${TextOps.DeStops}')) AS de,
        |  len(regexp_extract_all(lower(text), '${TextOps.FrStops}')) AS fr
        | FROM documents) t""".stripMargin),
    QuerySpec("q23_fingerprint", (s, d) => TextOps.fingerprints(s, d),
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),
    QuerySpec("q59_tfidf", (s, d) => TextOps.tfidfTop(s, d),
      s"""WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |wf AS (SELECT doc_id, word FROM words WHERE word <> ''),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM wf GROUP BY 1, 2),
        |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM wf GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word, tf.tf,
        |    tf.tf * (ln((nd.n + 1.0) / (df.df + 1.0)) + 1.0) AS score_raw
        |  FROM tf JOIN df USING (word) CROSS JOIN nd),
        |ranked AS (
        |  SELECT doc_id, word, tf, score_raw,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_raw DESC, word) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, word, tf,
        | ${TextOps.roundAtSql("score_raw", 6)} AS score
        |FROM ranked WHERE rnk <= 5""".stripMargin),
    QuerySpec("q60_bigrams", (s, d) => TextOps.bigramCounts(s, d),
      """WITH ws AS (
        |  SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
        |                i -> w[i + 1] || ' ' || w[i + 2])) AS bigram
        |  FROM ws WHERE len(w) >= 2)
        |SELECT bigram, count(*) AS n
        |FROM pairs GROUP BY bigram HAVING count(*) >= 3""".stripMargin),
    QuerySpec("q77_dedup_survivors", (s, d) => TextOps.dedupSurvivors(s, d),
      """SELECT d.doc_id, d.lang, d.source, length(d.text) AS n_chars_calc
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents
        |      GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) k
        |  ON d.doc_id = k.doc_id""".stripMargin),
    QuerySpec("q78_corpus_filter", (s, d) => TextOps.corpusFilter(s, d),
      s"""WITH scored AS (
        |  SELECT doc_id,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality,
        |    CASE WHEN zh > 0 THEN 'zh'
        |         WHEN de > en AND de > es AND de > fr THEN 'de'
        |         WHEN es > en AND es > fr THEN 'es'
        |         WHEN fr > en THEN 'fr'
        |         ELSE 'en' END AS lang_pred
        |  FROM (SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops,
        |    len(regexp_extract_all(text, '${TextOps.CjkPattern}')) AS zh,
        |    len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS en,
        |    len(regexp_extract_all(lower(text), '${TextOps.EsStops}')) AS es,
        |    len(regexp_extract_all(lower(text), '${TextOps.DeStops}')) AS de,
        |    len(regexp_extract_all(lower(text), '${TextOps.FrStops}')) AS fr
        |   FROM documents) t),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
        |SELECT s.doc_id, s.quality, s.lang_pred
        |FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
        |WHERE s.quality >= 0.5 AND s.lang_pred = 'en'""".stripMargin),
    // q80: the `repetitive` flag compares the RAW ratio (one IEEE
    // division, bit-identical cross-engine); top_frac is the
    // floor-rounded display twin.
    QuerySpec("q80_repetition", (s, d) => TextOps.repetitionStats(s, d),
      s"""WITH ws AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
        |                          i -> w[i + 1] || ' ' || w[i + 2])) AS bigram
        |  FROM ws WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, bigram, count(*) AS n FROM pairs GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |               max(n) AS top_n
        |        FROM bg GROUP BY 1)
        |SELECT doc_id, n_bigrams, top_n,
        | ${TextOps.roundAtSql("CAST(top_n AS DOUBLE) / n_bigrams", 6)} AS top_frac,
        | CAST(top_n AS DOUBLE) / n_bigrams > 0.18 AS repetitive
        |FROM agg""".stripMargin),
    // q83: shard boundaries are floor((cum-n)/4096) — 4096 is a power
    // of two, so the double division is exact and the ids hash-match.
    QuerySpec("q83_shard_packing", (s, d) => TextOps.shardPacking(s, d),
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens,
        | CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 4096) AS BIGINT) AS shard_id
        |FROM c""".stripMargin),
    QuerySpec("q84_unigram_logprob", (s, d) => TextOps.unigramLogProb(s, d),
      s"""WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |wf AS (SELECT doc_id, word FROM words WHERE word <> ''),
        |freq AS (SELECT word, count(*) AS wn FROM wf GROUP BY 1),
        |tot AS (SELECT CAST(sum(wn) AS BIGINT) AS total FROM freq)
        |SELECT doc_id, count(*) AS n_tokens,
        | ${TextOps.roundAtSql("avg(ln(CAST(wn AS DOUBLE) / total))", 6)} AS avg_logprob
        |FROM wf JOIN freq USING (word) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin),
    // q108: the exact top-k words (q44's tokenization) with TRUE
    // flags — the Misra-Gries guarantees (presence above N/(m+1),
    // estimate within the envelope) hold by theorem, so a sketch
    // regression flips a flag and the hash
    QuerySpec("q108_heavy_hitters", (s, d) => TextOps.heavyHitterWords(s, d),
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
        |  FROM documents),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n_exact
        |      FROM w WHERE word <> '' GROUP BY word)
        |SELECT word, n_exact, TRUE AS in_sketch, TRUE AS within_bound
        |FROM c ORDER BY n_exact DESC, word LIMIT 10""".stripMargin),
    // q116: same word normalization as q44; postings ordered by doc_id
    // (unique per group — total order), df band 2..5000 (the absolute
    // upper cap bounds the postings buffer by construction; 5000
    // admits the testdata's whole 31-word vocabulary so the gate
    // compares 31 postings lists, not 1 — the round-14 low-row sweep)
    QuerySpec("q116_inverted_index", (s, d) => TextOps.invertedIndex(s, d),
      """WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |tf AS (
        |  SELECT word, doc_id, count(*) AS tf FROM words
        |  WHERE word <> '' GROUP BY 1, 2),
        |stats AS (
        |  SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
        |  FROM tf GROUP BY 1 HAVING count(*) BETWEEN 2 AND 5000)
        |SELECT t.word, s.df, s.total_tf,
        | string_agg(t.doc_id || ':' || t.tf, ',' ORDER BY t.doc_id) AS postings
        |FROM tf t JOIN stats s USING (word)
        |GROUP BY t.word, s.df, s.total_tf""".stripMargin),
    // q128: q83's packing CTEs aggregated per shard — the manifest
    // the export's read-back must reproduce from disk
    QuerySpec("q128_shard_export", (s, d) => TextOps.shardExport(s, d),
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t),
        |p AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 4096) AS BIGINT) AS shard_id
        |  FROM c)
        |SELECT source, shard_id, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        | CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM p GROUP BY 1, 2""".stripMargin),
    // q130: same formula with IDENTICAL parenthesization and literal
    // arithmetic ((1.2 + 1), not 2.2 — the engines must round the
    // same IEEE operations, not just the same math). The numerator
    // casts to DOUBLE explicitly: bare-decimal × BIGINT evaluates in
    // DuckDB DECIMAL (exact 2.2), not the engine's IEEE double 2.2 —
    // one ulp apart, enough to flip a near-tied raw-score ORDER BY
    // (the q252 lesson, same latent bug here).
    QuerySpec("q130_bm25_topk", (s, d) => TextOps.bm25TopK(s, d),
      """WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |wz AS (SELECT doc_id, word FROM words WHERE word <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM wz GROUP BY 1),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM wz
        |       WHERE word IN ('data', 'analysis', 'model') GROUP BY 1, 2),
        |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |scored AS (
        |  SELECT t.doc_id,
        |    sum(ln((n.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
        |        (CAST(t.tf AS DOUBLE) * CAST((1.2 + 1) AS DOUBLE) /
        |         (t.tf + CAST(1.2 AS DOUBLE) * (1.0 - 0.75 + CAST(0.75 AS DOUBLE) * l.dl / ad.avgdl)))) AS score_raw
        |  FROM tf t JOIN df d USING (word) JOIN dl l ON t.doc_id = l.doc_id, n, ad
        |  GROUP BY t.doc_id)
        |SELECT doc_id, floor(score_raw * 1000000 + 0.5) / 1000000 AS bm25
        |FROM scored ORDER BY score_raw DESC, doc_id LIMIT 20""".stripMargin),
    // q131: the same adjacency join over the two postings; DuckDB's
    // word stream re-derives 0-based positions via the unnest ordinal
    QuerySpec("q131_phrase_search", (s, d) => TextOps.phraseSearch(s, d),
      """WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word,
        |    generate_subscripts(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), 1) - 1 AS pos
        |  FROM documents),
        |wz AS (SELECT doc_id, word, pos FROM words WHERE word <> '')
        |SELECT a.doc_id, count(*) AS n_occurrences
        |FROM (SELECT doc_id, pos FROM wz WHERE word = 'table') a
        |JOIN (SELECT doc_id, pos - 1 AS pos FROM wz WHERE word = 'hash') b
        |  ON a.doc_id = b.doc_id AND a.pos = b.pos
        |GROUP BY a.doc_id""".stripMargin),
    // q132: the window form IS the oracle — row_number <= 3 with the
    // same total order, formatted with identical integer micro-units
    QuerySpec("q132_grouped_topk", (s, d) => TextOps.groupedTopK(s, d),
      s"""WITH scored AS (
        |  SELECT doc_id, source,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality
        |  FROM (SELECT doc_id, source,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        |   FROM documents) t),
        |r AS (
        |  SELECT source, doc_id,
        |    CAST(round(quality * 1000000) AS BIGINT) AS qm,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY quality DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT source,
        | string_agg(doc_id || ':' || qm, ',' ORDER BY rn) AS top_docs
        |FROM r WHERE rn <= 3 GROUP BY source""".stripMargin),
    // q134: two lead-window subqueries UNION ALL = the same pair
    // multiset as the engine's one-pass explode; PMI parenthesization
    // mirrored operation-for-operation
    QuerySpec("q134_pmi_pairs", (s, d) => TextOps.pmiPairs(s, d),
      """WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word,
        |    generate_subscripts(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), 1) - 1 AS pos
        |  FROM documents),
        |wz AS (SELECT doc_id, word, pos FROM words WHERE word <> ''),
        |pair_raw AS (
        |  SELECT least(word, w1) AS a, greatest(word, w1) AS b
        |  FROM (SELECT word, lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |        FROM wz) t WHERE w1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(word, w2), greatest(word, w2)
        |  FROM (SELECT word, lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |        FROM wz) t WHERE w2 IS NOT NULL),
        |pc AS (SELECT a, b, count(*) AS pair_n FROM pair_raw
        |       GROUP BY 1, 2 HAVING count(*) >= 5),
        |wc AS (SELECT word, count(*) AS n FROM wz GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nw FROM wz),
        |np AS (SELECT CAST(sum(greatest(L - 1, 0) + greatest(L - 2, 0)) AS DOUBLE) AS np
        |       FROM (SELECT count(*) AS L FROM wz GROUP BY doc_id) l),
        |scored AS (
        |  SELECT pc.a, pc.b, pc.pair_n,
        |    ln((CAST(pc.pair_n AS DOUBLE) / np.np) /
        |       ((ca.n / tot.nw) * (cb.n / tot.nw))) AS pmi_raw
        |  FROM pc JOIN wc ca ON pc.a = ca.word
        |  JOIN wc cb ON pc.b = cb.word, tot, np)
        |SELECT a, b, pair_n, floor(pmi_raw * 1000000 + 0.5) / 1000000 AS pmi
        |FROM scored ORDER BY pmi_raw DESC, a, b LIMIT 50""".stripMargin),
    // q140: the same split as q25's docs CTE; passage count is
    // 1 + ceil((len - window)/stride) floored at 1; list_slice's
    // inclusive end mirrors Spark slice's length argument
    QuerySpec("q140_chunk_passages",
      (s, d) => TextOps.chunkPassages(s, d, window = 40, stride = 30),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, w,
        |    unnest(range(0,
        |      CAST(greatest(ceil(CAST(len(w) - 40 AS DOUBLE) / 30), 0) AS BIGINT) + 1)) AS passage_id
        |  FROM w)
        |SELECT doc_id, CAST(passage_id AS BIGINT) AS passage_id,
        |  array_to_string(list_slice(w, passage_id * 30 + 1, passage_id * 30 + 40), ' ') AS passage,
        |  CAST(len(list_slice(w, passage_id * 30 + 1, passage_id * 30 + 40)) AS BIGINT) AS n_words
        |FROM p""".stripMargin),
    // q141: q140's passages re-tokenized, then q130's scoring plan at
    // (doc_id, passage_id) grain
    QuerySpec("q141_passage_bm25", (s, d) =>
      TextOps.bm25PassageTopK(s, d, window = 40, stride = 30),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, CAST(passage_id AS BIGINT) AS passage_id,
        |    array_to_string(list_slice(w, passage_id * 30 + 1, passage_id * 30 + 40), ' ') AS passage
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0,
        |            CAST(greatest(ceil(CAST(len(w) - 40 AS DOUBLE) / 30), 0) AS BIGINT) + 1)) AS passage_id
        |        FROM w) t),
        |words AS (
        |  SELECT doc_id, passage_id,
        |    unnest(regexp_split_to_array(passage, ' ')) AS word
        |  FROM p),
        |wz AS (SELECT doc_id, passage_id, word FROM words WHERE word <> ''),
        |dl AS (SELECT doc_id, passage_id, count(*) AS dl FROM wz GROUP BY 1, 2),
        |tf AS (SELECT doc_id, passage_id, word, count(*) AS tf FROM wz
        |       WHERE word IN ('data', 'analysis', 'model') GROUP BY 1, 2, 3),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_passages FROM p),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |scored AS (
        |  SELECT t.doc_id, t.passage_id,
        |    sum(ln((n.n_passages - d.df + 0.5) / (d.df + 0.5) + 1.0) *
        |        (CAST(t.tf AS DOUBLE) * CAST((1.2 + 1) AS DOUBLE) /
        |         (t.tf + CAST(1.2 AS DOUBLE) * (0.25 + CAST(0.75 AS DOUBLE) * l.dl / ad.avgdl)))) AS score_raw
        |  FROM tf t JOIN df d USING (word)
        |  JOIN dl l ON t.doc_id = l.doc_id AND t.passage_id = l.passage_id, n, ad
        |  GROUP BY 1, 2)
        |SELECT doc_id, passage_id,
        |  floor(score_raw * 1000000 + 0.5) / 1000000 AS bm25
        |FROM scored ORDER BY score_raw DESC, doc_id, passage_id LIMIT 20""".stripMargin),
    // q144: identical integer cross-multiplied rule set — no ratio is
    // ever materialized as a double, so the flags cannot flip
    QuerySpec("q144_gopher_rules", (s, d) => TextOps.gopherRules(s, d),
      s"""SELECT doc_id, n_words,
        | (n_words >= 50 AND n_words <= 100000) AS f_word_count,
        | (nonspace >= n_words * 3 AND nonspace <= n_words * 10) AS f_mean_word_len,
        | (sym * 10 <= n_words) AS f_symbol_ratio,
        | (bullet_lines * 10 <= n_lines * 9) AS f_bullet_lines,
        | (ell_lines * 10 <= n_lines * 3) AS f_ellipsis_lines,
        | (alpha_words * 5 >= n_words * 4) AS f_alpha_words,
        | (stops >= 2) AS f_stopwords,
        | ((n_words >= 50 AND n_words <= 100000) AND
        |  (nonspace >= n_words * 3 AND nonspace <= n_words * 10) AND
        |  (sym * 10 <= n_words) AND (bullet_lines * 10 <= n_lines * 9) AND
        |  (ell_lines * 10 <= n_lines * 3) AND (alpha_words * 5 >= n_words * 4) AND
        |  (stops >= 2)) AS keep
        |FROM (SELECT doc_id,
        |  len(regexp_split_to_array(text, '\\s+')) AS n_words,
        |  len(string_split(text, chr(10))) AS n_lines,
        |  length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
        |  len(regexp_extract_all(text, '${TextOps.AlphaWordPattern}')) AS alpha_words,
        |  len(regexp_extract_all(text, '${TextOps.SymbolPattern}')) AS sym,
        |  len(regexp_extract_all(text, '${TextOps.BulletLinePattern}')) AS bullet_lines,
        |  len(regexp_extract_all(text, '${TextOps.EllipsisLinePattern}')) AS ell_lines,
        |  len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS stops
        | FROM documents) t""".stripMargin),
    // q146: identical integer geometry — prefix sum, floor division,
    // clamped segment bounds; generate_series is inclusive like
    // Spark's sequence()
    QuerySpec("q146_sequence_pack", (s, d) => TextOps.sequencePack(s, d),
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(text, '\s+')) AS n_tokens,
        |    sum(len(regexp_split_to_array(text, '\s+')))
        |      OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM documents),
        |g AS (
        |  -- window sum is HUGEINT in DuckDB; pin everything BIGINT
        |  SELECT doc_id, source, n_tokens,
        |    CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |    CAST(cum_tokens - n_tokens AS BIGINT) AS start_tok,
        |    CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS first_seq,
        |    CAST((cum_tokens - 1) // 256 AS BIGINT) AS last_seq
        |  FROM t),
        |e AS (
        |  SELECT *, unnest(generate_series(first_seq, last_seq)) AS seq_id FROM g)
        |SELECT source, seq_id, doc_id,
        | greatest(start_tok, seq_id * 256) - seq_id * 256 AS begin_off,
        | least(cum_tokens, (seq_id + 1) * 256) - seq_id * 256 AS end_off,
        | least(cum_tokens, (seq_id + 1) * 256) -
        |   greatest(start_tok, seq_id * 256) AS n_seg_tokens,
        | last_seq > first_seq AS straddles
        |FROM e""".stripMargin),
    QuerySpec("q147_linear_quality", (s, d) => TextOps.linearQuality(s, d),
      """SELECT doc_id, n_words, score, score >= 0 AS pass
        |FROM (SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+')) AS n_words,
        |  CAST(list_sum(list_transform(regexp_split_to_array(text, '\s+'),
        |    w -> ((('0x' || substr(md5('w_' ||
        |      CAST((('0x' || substr(md5(w), 1, 8))::BIGINT % 256) AS VARCHAR)),
        |      1, 8))::BIGINT % 2001) - 1000))) AS BIGINT) AS score
        | FROM documents) t""".stripMargin),
    // q149: same normalization + empty-word filter as the engine's
    // wordRows; the roster left join keeps zero-word docs (NULL ttr)
    QuerySpec("q149_lexical_diversity", (s, d) => TextOps.lexicalDiversity(s, d),
      s"""WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |pw AS (
        |  SELECT doc_id, word, count(*) AS n FROM w
        |  WHERE word <> '' GROUP BY doc_id, word),
        |pd AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct,
        |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |    max(n) AS top_count
        |  FROM pw GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(pd.n_words, 0) AS n_words,
        | coalesce(pd.n_distinct, 0) AS n_distinct,
        | coalesce(pd.n_hapax, 0) AS n_hapax,
        | coalesce(pd.top_count, 0) AS top_count,
        | ${TextOps.roundAtSql(
             "CAST(pd.n_distinct AS DOUBLE) / pd.n_words", 6)} AS ttr
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin),
    // q147: the oracle re-derives the md5 weight vector per word
    // (w(b) = hex8(md5('w_'||b)) % 2001 - 1000) — the engine looks the
    // same weights up in a plan-literal array; both sums are exact
    // BIGINT so the gate has no float boundary
    // q158: integer bucket counts (q147's md5 hex convention),
    // smoothed log ratios, per-doc fold in bucket order (list ORDER BY
    // b + sequential list_sum — the deterministic-sum pattern), final
    // order on the UNROUNDED weight
    QuerySpec("q158_dsir_select", (s, d) => TextOps.dsirSelect(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |wb AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(word), 1, 8))::BIGINT % 256 AS INTEGER) AS b
        |       FROM w WHERE word <> ''),
        |tgt AS (SELECT doc_id FROM documents WHERE source = 'src0'),
        |twb AS (SELECT wb.doc_id, wb.b FROM wb JOIN tgt ON wb.doc_id = tgt.doc_id),
        |tc AS (SELECT b, count(*) AS t FROM twb GROUP BY b),
        |cc AS (SELECT b, count(*) AS c FROM wb GROUP BY b),
        |nt AS (SELECT count(*) AS n_t FROM twb),
        |nc AS (SELECT count(*) AS n_c FROM wb),
        |r AS (SELECT CAST(g.range AS INTEGER) AS b,
        |        ln(CAST(coalesce(tc.t, 0) + 1 AS DOUBLE) / (nt.n_t + 256)) -
        |        ln(CAST(coalesce(cc.c, 0) + 1 AS DOUBLE) / (nc.n_c + 256)) AS lnr
        |      FROM range(0, 256) g
        |      LEFT JOIN tc ON tc.b = g.range
        |      LEFT JOIN cc ON cc.b = g.range, nt, nc),
        |d AS (SELECT doc_id, b, count(*) AS n FROM wb GROUP BY 1, 2),
        |s AS (SELECT d.doc_id,
        |        list_sum(list(CAST(d.n AS DOUBLE) * r.lnr ORDER BY d.b)) AS logw_raw
        |      FROM d JOIN r ON d.b = r.b GROUP BY d.doc_id)
        |SELECT doc_id, floor(logw_raw * 1000000 + 0.5) / 1000000 AS logw
        |FROM s ORDER BY logw_raw DESC, doc_id LIMIT 50""".stripMargin),
    QuerySpec("q159_bpe_merges", (s, d) => TextOps.bpeMerges(s, d), bpeMergesOracleSql),
    QuerySpec("q160_bpe_tokens", (s, d) => TextOps.bpeTokenCounts(s, d), bpeTokensOracleSql),
    // q161: full model replay — exact counts, one ln per distinct
    // (doc, bigram) mirrored literal-for-literal, floor-scaled to a
    // 1e12 BIGINT so the per-doc total is an exact-integer sum (the
    // q244/q182 device — order-free, no fold order to pin), band on
    // the RAW avg-NLL
    QuerySpec("q161_bigram_fluency", (s, d) => TextOps.bigramFluency(s, d),
      s"""WITH ws AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' '),
        |                x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(w) - 1, 0)), i -> w[i + 1])) AS w1,
        |    unnest(list_transform(range(0, greatest(len(w) - 1, 0)), i -> w[i + 2])) AS w2
        |  FROM ws WHERE len(w) >= 2),
        |train AS (SELECT doc_id FROM documents WHERE source = 'src0'),
        |cu AS (SELECT word AS w2, count(*) AS cu FROM (
        |         SELECT unnest(w) AS word FROM ws JOIN train USING (doc_id)) t
        |       GROUP BY 1),
        |sc AS (SELECT CAST(sum(cu) AS BIGINT) AS n_uni, count(*) AS v FROM cu),
        |tb AS (SELECT w1, w2, count(*) AS cb FROM bg JOIN train USING (doc_id) GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(cb) AS cctx FROM tb GROUP BY 1),
        |db AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
        |terms AS (
        |  SELECT db.doc_id, db.n,
        |    db.n * CAST(floor(ln(
        |      ${TextOps.BigramLambda} * (CASE WHEN cx.cctx IS NOT NULL
        |          THEN CAST(coalesce(tb.cb, 0) AS DOUBLE) / cx.cctx ELSE 0.0 END) +
        |      ${TextOps.BigramFloor} * (CAST(coalesce(cu.cu, 0) + 1 AS DOUBLE) /
        |          (sc.n_uni + sc.v))) * 1000000000000.0 + 0.5) AS BIGINT) AS tl
        |  FROM db
        |  LEFT JOIN tb ON tb.w1 = db.w1 AND tb.w2 = db.w2
        |  LEFT JOIN cx ON cx.w1 = db.w1
        |  LEFT JOIN cu ON cu.w2 = db.w2, sc),
        |scored AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |    (-(CAST(sum(tl) AS DOUBLE) / 1000000000000.0)) /
        |      CAST(sum(n) AS DOUBLE) AS nll_raw
        |  FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  ${TextOps.roundAtSql("s.nll_raw", 6)} AS nll,
        |  CASE WHEN s.n_bigrams IS NULL THEN 'short'
        |       WHEN s.nll_raw < ${TextOps.BigramHeadMax} THEN 'head'
        |       WHEN s.nll_raw < ${TextOps.BigramMiddleMax} THEN 'middle'
        |       ELSE 'tail' END AS band
        |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // q167: corpus word frequencies -> top-20 vocab cut on the
    // deterministic (count desc, word asc) tie -> per-doc OOV rate
    QuerySpec("q167_vocab_coverage", (s, d) => TextOps.vocabCoverage(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |wf AS (SELECT word, count(*) AS c FROM w WHERE word <> '' GROUP BY word),
        |vocab AS (SELECT word FROM wf ORDER BY c DESC, word LIMIT 20),
        |per AS (
        |  SELECT w.doc_id, count(*) AS n_words,
        |    sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM w LEFT JOIN vocab v ON v.word = w.word
        |  WHERE w.word <> '' GROUP BY w.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(per.n_oov, 0) AS BIGINT) AS n_oov,
        |  round(CAST(coalesce(per.n_oov, 0) AS DOUBLE) /
        |        greatest(coalesce(per.n_words, 0), 1), 4) AS oov_rate
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    QuerySpec("q170_bpe_fertility", (s, d) => TextOps.bpeFertility(s, d), bpeFertilityOracleSql),
    // q172: (doc, word) exact counts -> per-term (n/N)·ln(n/N) ->
    // negated left-fold sum in word order (≡ Spark's subtraction
    // chain — IEEE negation is exact, the q161 convention). The final
    // rounding is roundAtSql ↔ Spark's roundAt (one shared formula,
    // q149 convention) — which also normalizes the −0.0 a
    // single-distinct-word doc's negated zero-sum would otherwise
    // emit (floor(−0.0·1e6 + 0.5)/1e6 = +0.0 on both engines).
    QuerySpec("q172_token_entropy", (s, d) => TextOps.tokenEntropy(s, d),
      s"""WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |t AS (SELECT doc_id, word, count(*) AS n
        |      FROM w WHERE word <> '' GROUP BY doc_id, word),
        |tot AS (SELECT doc_id, sum(n) AS nt, count(*) AS nd FROM t GROUP BY doc_id),
        |terms AS (
        |  SELECT t.doc_id, t.word,
        |    (CAST(t.n AS DOUBLE) / tot.nt) * ln(CAST(t.n AS DOUBLE) / tot.nt) AS term
        |  FROM t JOIN tot ON tot.doc_id = t.doc_id),
        |per AS (
        |  SELECT tm.doc_id, -(list_sum(list(tm.term ORDER BY tm.word))) AS h_raw
        |  FROM terms tm GROUP BY tm.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(tot.nt, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(tot.nd, 0) AS BIGINT) AS n_distinct,
        |  ${TextOps.roundAtSql("coalesce(per.h_raw, 0.0)", 6)} AS entropy
        |FROM documents d
        |LEFT JOIN tot ON tot.doc_id = d.doc_id
        |LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // q173: the q21 quality CTE + percent_rank within source over the
    // deterministic (quality, doc_id) order
    QuerySpec("q173_quality_quantile_norm", (s, d) => TextOps.qualityQuantileNorm(s, d),
      s"""WITH q AS (SELECT doc_id, source,
        | ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality
        |FROM (SELECT doc_id, source,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |  CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        | FROM documents) t)
        |SELECT doc_id, source, quality,
        |  ${TextOps.roundAtSql(
             "percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id)", 6)} AS q_rank
        |FROM q ORDER BY doc_id""".stripMargin),
    // q175: exact vocab counts + TTR; in_envelope is an IN-PLAN gate
    // the oracle asserts TRUE (the q124 exact-gated-sketch pattern)
    QuerySpec("q175_vocab_richness", (s, d) => TextOps.vocabRichnessSketch(s, d),
      s"""WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents)
        |SELECT d.source,
        |  count(*) AS n_words,
        |  count(DISTINCT w.word) AS vocab_ndv,
        |  ${TextOps.roundAtSql("CAST(count(DISTINCT w.word) AS DOUBLE) / count(*)", 6)} AS ttr,
        |  TRUE AS in_envelope
        |FROM w JOIN documents d ON d.doc_id = w.doc_id
        |WHERE w.word <> ''
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    // q176: first-occurrence credit per word + window prefix sums
    // (exact longs; Spark side uses the distributed two-phase form)
    QuerySpec("q176_vocab_growth", (s, d) => TextOps.vocabGrowth(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |wf AS (SELECT doc_id, word FROM w WHERE word <> ''),
        |pd AS (SELECT doc_id, count(*) AS n_tokens FROM wf GROUP BY doc_id),
        |fo AS (SELECT min(doc_id) AS doc_id FROM wf GROUP BY word),
        |nn AS (SELECT doc_id, count(*) AS n_new FROM fo GROUP BY doc_id)
        |SELECT pd.doc_id, pd.n_tokens,
        |  coalesce(nn.n_new, 0) AS n_new,
        |  CAST(sum(pd.n_tokens) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_tokens,
        |  CAST(sum(coalesce(nn.n_new, 0)) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_vocab
        |FROM pd LEFT JOIN nn ON nn.doc_id = pd.doc_id
        |ORDER BY pd.doc_id""".stripMargin),
    // q177: deterministic (count desc, word) ranks, mirrored ln
    // pairs, four regression sums folded in rank order, one fixed
    // IEEE slope expression
    QuerySpec("q177_zipf_slope", (s, d) => TextOps.zipfSlope(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |c AS (
        |  SELECT d.source, w.word, count(*) AS cnt
        |  FROM w JOIN documents d ON d.doc_id = w.doc_id
        |  WHERE w.word <> '' GROUP BY d.source, w.word),
        |r AS (
        |  SELECT source, rank, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM (SELECT source, cnt, word,
        |          row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rank
        |        FROM c) t WHERE rank <= 100),
        |s AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    list_sum(list(x ORDER BY rank)) AS sx,
        |    list_sum(list(y ORDER BY rank)) AS sy,
        |    list_sum(list(x * y ORDER BY rank)) AS sxy,
        |    list_sum(list(x * x ORDER BY rank)) AS sxx
        |  FROM r GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
        |FROM s ORDER BY source""".stripMargin),
    QuerySpec("q178_bpe_round_trip", (s, d) => TextOps.bpeRoundTrip(s, d), bpeRoundTripOracleSql),
    // q179: row_number ordinals over both batching orders; floor()
    // for the batch id on both engines (Spark's long cast truncates,
    // DuckDB's rounds — floor is the shared semantics)
    QuerySpec("q179_padding_waste", (s, d) => TextOps.paddingWaste(s, d),
      s"""WITH l AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS BIGINT) AS len
        |  FROM documents),
        |a AS (
        |  SELECT 'by_arrival' AS strategy,
        |    CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 32.0) AS BIGINT) AS batch_id,
        |    len FROM l),
        |b AS (
        |  SELECT 'by_length' AS strategy,
        |    CAST(floor((row_number() OVER (ORDER BY len DESC, doc_id) - 1) / 32.0) AS BIGINT) AS batch_id,
        |    len FROM l),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT strategy, batch_id, count(*) AS n_docs,
        |  max(len) AS max_len, CAST(sum(len) AS BIGINT) AS sum_len,
        |  CAST(count(*) * max(len) - sum(len) AS BIGINT) AS waste
        |FROM u GROUP BY strategy, batch_id
        |ORDER BY strategy, batch_id""".stripMargin),
    // q193: the q144 base-measure CTE; per rule a UNION ALL branch
    // with fail / unique-fail conditional sums (program-generated so
    // rule text can never drift from q144's)
    QuerySpec("q193_gopher_ablation", (s, d) => TextOps.gopherAblation(s, d), {
      val flags = Seq(
        "f_alpha_words" -> "(alpha_words * 5 >= n_words * 4)",
        "f_bullet_lines" -> "(bullet_lines * 10 <= n_lines * 9)",
        "f_ellipsis_lines" -> "(ell_lines * 10 <= n_lines * 3)",
        "f_mean_word_len" -> "(nonspace >= n_words * 3 AND nonspace <= n_words * 10)",
        "f_stopwords" -> "(stops >= 2)",
        "f_symbol_ratio" -> "(sym * 10 <= n_words)",
        "f_word_count" -> "(n_words >= 50 AND n_words <= 100000)")
      val keep = flags.map(_._2).mkString(" AND ")
      val rows = flags.map { case (n, e) =>
        val others = flags.filter(_._1 != n).map(_._2).mkString(" AND ")
        s"""SELECT '$n' AS rule,
           |  CAST(sum(CASE WHEN NOT $e THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
           |  CAST(sum(CASE WHEN NOT $e AND $others THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_fail,
           |  count(*) AS n_docs,
           |  CAST(sum(CASE WHEN $keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
           |FROM t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT doc_id,
        |  len(regexp_split_to_array(text, '\\s+')) AS n_words,
        |  len(string_split(text, chr(10))) AS n_lines,
        |  length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
        |  len(regexp_extract_all(text, '${TextOps.AlphaWordPattern}')) AS alpha_words,
        |  len(regexp_extract_all(text, '${TextOps.SymbolPattern}')) AS sym,
        |  len(regexp_extract_all(text, '${TextOps.BulletLinePattern}')) AS bullet_lines,
        |  len(regexp_extract_all(text, '${TextOps.EllipsisLinePattern}')) AS ell_lines,
        |  len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS stops
        | FROM documents)
        |$rows
        |ORDER BY rule""".stripMargin
    }),
    // q200: the q21 quality CTE keyed per (source, rounded q) — exact
    // long ECDF numerators, one two-divide IEEE tree per gap, max is
    // order-free
    QuerySpec("q200_ks_distance", (s, d) => TextOps.ksSourceDistance(s, d),
      s"""WITH t AS (
        |  SELECT source,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        |  FROM documents),
        |qd AS (
        |  SELECT source,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS q
        |  FROM t),
        |pv AS (SELECT source, q, count(*) AS c FROM qd GROUP BY 1, 2),
        |-- count(*), not sum(c): DuckDB sum(BIGINT) is DECIMAL and
        |-- would dtype-mismatch Spark's long
        |n AS (SELECT source, count(*) AS n FROM qd GROUP BY 1),
        |prs AS (
        |  SELECT a.source AS src_a, a.n AS n_a, b.source AS src_b, b.n AS n_b
        |  FROM n a JOIN n b ON a.source < b.source),
        |contrib AS (
        |  SELECT p.src_a, p.src_b, p.n_a, p.n_b, v.q,
        |    sum(CASE WHEN v.source = p.src_a THEN v.c ELSE 0 END) AS ca,
        |    sum(CASE WHEN v.source = p.src_b THEN v.c ELSE 0 END) AS cb
        |  FROM prs p JOIN pv v ON v.source = p.src_a OR v.source = p.src_b
        |  GROUP BY 1, 2, 3, 4, 5),
        |cum AS (
        |  SELECT src_a, src_b, n_a, n_b, q,
        |    sum(ca) OVER (PARTITION BY src_a, src_b ORDER BY q) AS cuma,
        |    sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY q) AS cumb
        |  FROM contrib)
        |SELECT src_a, src_b, n_a, n_b,
        |  ${TextOps.roundAtSql(
             "max(abs(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE) - " +
               "CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE)))", 6)} AS ks
        |FROM cum GROUP BY src_a, src_b, n_a, n_b
        |ORDER BY src_a, src_b""".stripMargin),
    // q204: q147's margin CTE + the q21 quality label, deterministic
    // (score, doc_id) global rank, integer-division deciles (// ↔ div)
    QuerySpec("q204_quality_lift", (s, d) => TextOps.qualityLiftTable(s, d),
      s"""WITH sc AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(regexp_split_to_array(text, '\\s+'),
        |      w -> ((('0x' || substr(md5('w_' ||
        |        CAST((('0x' || substr(md5(w), 1, 8))::BIGINT % 256) AS VARCHAR)),
        |        1, 8))::BIGINT % 2001) - 1000))) AS BIGINT) AS score
        |  FROM documents),
        |lb AS (
        |  SELECT doc_id,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} >= 0.5 AS label
        |  FROM (SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        |   FROM documents) t),
        |j AS (SELECT sc.doc_id, sc.score, lb.label FROM sc JOIN lb USING (doc_id)),
        |r AS (
        |  SELECT j.*, row_number() OVER (ORDER BY score, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM j),
        |d AS (SELECT ((rn - 1) * 10) // n + 1 AS decile, score, label FROM r)
        |SELECT decile, count(*) AS n_docs,
        |  ${TextOps.roundAtSql(
             "CAST(sum(score) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mean_score,
        |  ${TextOps.roundAtSql(
             "CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / " +
               "CAST(count(*) AS DOUBLE)", 6)} AS pos_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // q207: exact distinct (source, word) arithmetic; the sketch leg
    // is envelope-gated in-plan (TRUE here — the q175 pattern)
    QuerySpec("q207_vocab_overlap", (s, d) => TextOps.vocabOverlapSketch(s, d),
      s"""WITH sv AS (
        |  SELECT DISTINCT d.source, w.word
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS word
        |        FROM documents) w
        |  JOIN documents d ON d.doc_id = w.doc_id
        |  WHERE w.word <> ''),
        |ps AS (SELECT source, count(*) AS v FROM sv GROUP BY 1),
        |prs AS (
        |  SELECT a.source AS src_a, a.v AS v_a, b.source AS src_b, b.v AS v_b
        |  FROM ps a JOIN ps b ON a.source < b.source),
        |bt AS (
        |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS v_both
        |  FROM sv x JOIN sv y ON x.word = y.word AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.v_a, p.v_b,
        |  coalesce(bt.v_both, 0) AS v_both,
        |  ${TextOps.roundAtSql(
             "CAST(coalesce(bt.v_both, 0) AS DOUBLE) / " +
               "CAST(p.v_a + p.v_b - coalesce(bt.v_both, 0) AS DOUBLE)", 6)} AS vocab_jacc,
        |  TRUE AS in_envelope
        |FROM prs p LEFT JOIN bt USING (src_a, src_b)
        |ORDER BY p.src_a, p.src_b""".stripMargin),
    // q213: q22's count columns sorted desc — margin on pure evidence
    // mass, prediction keeps the precedence-tie rule verbatim
    QuerySpec("q213_lang_margin", (s, d) => TextOps.langIdMargin(s, d),
      s"""WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN zh > 0 THEN 'zh'
        |         WHEN de > en AND de > es AND de > fr THEN 'de'
        |         WHEN es > en AND es > fr THEN 'es'
        |         WHEN fr > en THEN 'fr'
        |         ELSE 'en' END AS lang_pred,
        |    list_reverse(list_sort([zh, en, es, de, fr])) AS s
        |  FROM (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '${TextOps.CjkPattern}')) AS BIGINT) AS zh,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS BIGINT) AS en,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EsStops}')) AS BIGINT) AS es,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.DeStops}')) AS BIGINT) AS de,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.FrStops}')) AS BIGINT) AS fr
        |   FROM documents) t)
        |SELECT doc_id, lang_pred, s[1] AS top_hits, s[2] AS second_hits,
        |  s[1] - s[2] AS margin, s[1] - s[2] < 3 AS is_ambiguous
        |FROM c ORDER BY doc_id""".stripMargin),
    QuerySpec("q216_signal_corr", (s, d) => TextOps.signalCorrelation(s, d),
      signalCorrelationOracleSql),
    QuerySpec("q217_quality_bootstrap", (s, d) => TextOps.qualityBootstrap(s, d),
      qualityBootstrapOracleSql),
    // q225: dense S×V grid with add-1 smoothing, per-word term
    // floor-scaled to a 1e12 fixed-point BIGINT so the per-pair sum
    // is order-independent (the q218 device); single mirrored ln
    QuerySpec("q225_source_kl", (s, d) => TextOps.sourceUnigramKL(s, d),
      s"""WITH ww AS (
         |  SELECT source, word FROM (
         |    SELECT source,
         |      unnest(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS word
         |    FROM documents) t WHERE word <> ''),
         |c AS (SELECT source, word, count(*) AS n FROM ww GROUP BY 1, 2),
         |t AS (SELECT source, sum(n) AS nt FROM c GROUP BY 1),
         |vocab AS (SELECT DISTINCT word FROM c),
         |v AS (SELECT count(*) AS vs FROM vocab),
         |grid AS (
         |  SELECT t.source, vocab.word, coalesce(c.n, 0) AS n, t.nt
         |  FROM t CROSS JOIN vocab
         |  LEFT JOIN c ON c.source = t.source AND c.word = vocab.word),
         |p AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(a.n + 1 AS DOUBLE) / CAST(a.nt + v.vs AS DOUBLE) AS pa,
         |    CAST(b.n + 1 AS DOUBLE) / CAST(b.nt + v.vs AS DOUBLE) AS pb
         |  FROM grid a JOIN grid b ON a.word = b.word AND a.source <> b.source
         |  CROSS JOIN v),
         |s AS (
         |  SELECT src_a, src_b, count(*) AS n_vocab,
         |    sum(CAST(floor(pa * ln(pa / pb) * 1000000000000.0 + 0.5) AS BIGINT)) AS sc
         |  FROM p GROUP BY 1, 2)
         |SELECT src_a, src_b, n_vocab,
         |  ${TextOps.roundAtSql("CAST(sc AS DOUBLE) / 1000000000000.0", 6)} AS kl
         |FROM s ORDER BY src_a, src_b""".stripMargin),
    // q230: margins as cell-table rollups crossed back to a DENSE
    // grid (zero cells carry chi2 mass E); expected and contribution
    // each one fixed IEEE tree over exact longs
    QuerySpec("q230_lang_source_chi2", (s, d) => TextOps.langSourceChi2(s, d),
      s"""WITH raw AS (
         |  SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
         |rt AS (SELECT lang, sum(obs) AS rt FROM raw GROUP BY 1),
         |ct AS (SELECT source, sum(obs) AS ct FROM raw GROUP BY 1),
         |tot AS (SELECT sum(obs) AS nn FROM raw),
         |cells AS (
         |  SELECT rt.lang, ct.source, coalesce(raw.obs, 0) AS obs
         |  FROM rt CROSS JOIN ct
         |  LEFT JOIN raw ON raw.lang = rt.lang AND raw.source = ct.source)
         |SELECT c.lang, c.source, c.obs,
         |  ${TextOps.roundAtSql(
               "(CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(tot.nn AS DOUBLE)", 6)} AS expected,
         |  ${TextOps.roundAtSql(
               "(CAST(c.obs AS DOUBLE) - (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(tot.nn AS DOUBLE)) * " +
               "(CAST(c.obs AS DOUBLE) - (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(tot.nn AS DOUBLE)) / " +
               "((CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(tot.nn AS DOUBLE))", 6)} AS cell_chi2
         |FROM cells c JOIN rt ON rt.lang = c.lang
         |             JOIN ct ON ct.source = c.source
         |CROSS JOIN tot ORDER BY c.lang, c.source""".stripMargin),
    QuerySpec("q235_bpe_ablation", (s, d) => TextOps.bpeFertilityAblation(s, d),
      bpeAblationOracleSql),
    // q241: the q22 evidence counts, q213's margin banded with sort
    // prefixes, correctness = string equality vs the truth column
    QuerySpec("q241_langid_calibration", (s, d) => TextOps.langIdCalibration(s, d),
      s"""WITH ev AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN zh > 0 THEN 'zh'
         |         WHEN de > en AND de > es AND de > fr THEN 'de'
         |         WHEN es > en AND es > fr THEN 'es'
         |         WHEN fr > en THEN 'fr'
         |         ELSE 'en' END AS lang_pred,
         |    [zh, en, es, de, fr] AS cnts
         |  FROM (SELECT doc_id, lang,
         |    len(regexp_extract_all(text, '${TextOps.CjkPattern}')) AS zh,
         |    len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS en,
         |    len(regexp_extract_all(lower(text), '${TextOps.EsStops}')) AS es,
         |    len(regexp_extract_all(lower(text), '${TextOps.DeStops}')) AS de,
         |    len(regexp_extract_all(lower(text), '${TextOps.FrStops}')) AS fr
         |   FROM documents) t),
         |m AS (
         |  SELECT lang, lang_pred,
         |    list_reverse(list_sort(cnts))[1] - list_reverse(list_sort(cnts))[2] AS margin
         |  FROM ev),
         |b AS (
         |  SELECT CASE WHEN margin < 3 THEN '0_ambiguous'
         |              WHEN margin < 6 THEN '1_low'
         |              WHEN margin < 11 THEN '2_mid'
         |              ELSE '3_high' END AS band,
         |    CASE WHEN lang_pred = lang THEN 1 ELSE 0 END AS ok
         |  FROM m)
         |SELECT band, count(*) AS n_docs, CAST(sum(ok) AS BIGINT) AS n_correct,
         |  ${TextOps.roundAtSql(
              "CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS accuracy
         |FROM b GROUP BY band ORDER BY band""".stripMargin),
    QuerySpec("q244_trigram_backoff", (s, d) => TextOps.trigramBackoff(s, d),
      trigramBackoffOracleSql),
    // q248: (source, word) exact counts → freq-of-freqs → Good-Turing
    // p0 and bias-corrected Chao1, both single guarded divisions
    QuerySpec("q248_unseen_vocab", (s, d) => TextOps.unseenVocabEstimate(s, d),
      s"""WITH ws AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' '),
        |                x -> x <> '') AS w
        |  FROM documents),
        |wr AS (SELECT doc_id, unnest(w) AS word FROM ws),
        |wc AS (
        |  SELECT d.source, wr.word, count(*) AS c
        |  FROM wr JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |g AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM wc GROUP BY 1)
        |SELECT source, n_tokens, vocab, n1, n2,
        |  ${TextOps.roundAtSql("CAST(n1 AS DOUBLE) / n_tokens", 6)} AS unseen_mass,
        |  ${TextOps.roundAtSql(
             "CAST(vocab AS DOUBLE) + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE) / CAST(2 * (n2 + 1) AS DOUBLE)", 4)} AS chao1
        |FROM g ORDER BY source""".stripMargin),
    QuerySpec("q252_rocchio_prf", (s, d) => TextOps.rocchioPrf(s, d), rocchioPrfOracleSql),
    // q253: q137's split rule, train model CTEs, dense test-word ×
    // source grid, exact 1e12-long log-prob sums, (score desc, cand)
    // argmax, confusion rollup
    QuerySpec("q253_nb_confusion", (s, d) => TextOps.nbSourceConfusion(s, d),
      s"""WITH sp AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 1)
        |              IN ('0', '1', '2') THEN 'test' ELSE 'train' END AS split
        |  FROM documents),
        |trw AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' '),
        |                       x -> x <> '')) AS word
        |  FROM sp WHERE split = 'train'),
        |tw AS (
        |  SELECT s.source, t.word, count(*) AS c
        |  FROM trw t JOIN sp s USING (doc_id) GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt FROM tw GROUP BY 1),
        |vsz AS (SELECT count(DISTINCT word) AS v FROM tw),
        |pr AS (SELECT source, count(*) AS nd FROM sp WHERE split = 'train' GROUP BY 1),
        |ntr AS (SELECT count(*) AS ntr FROM sp WHERE split = 'train'),
        |srcdim AS (
        |  SELECT st.source AS cand,
        |    CAST(floor(ln(CAST(pr.nd AS DOUBLE) / ntr.ntr) * 1000000000000.0 + 0.5) AS BIGINT) AS pterm,
        |    st.nt + vsz.v AS den
        |  FROM st JOIN pr USING (source), vsz, ntr),
        |tew AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' '),
        |                       x -> x <> '')) AS word
        |  FROM sp WHERE split = 'test'),
        |dw AS (SELECT doc_id, word, count(*) AS n FROM tew GROUP BY 1, 2),
        |scored AS (
        |  SELECT dw.doc_id, sd.cand,
        |    CAST(max(sd.pterm) + sum(dw.n *
        |      CAST(floor(ln(CAST(coalesce(tw.c, 0) + 1 AS DOUBLE) / sd.den)
        |        * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score
        |  FROM dw CROSS JOIN srcdim sd
        |  LEFT JOIN tw ON tw.source = sd.cand AND tw.word = dw.word
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, cand AS pred FROM (
        |    SELECT doc_id, cand,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |    FROM scored) t WHERE rn = 1),
        |cells AS (
        |  SELECT s.source, p.pred, count(*) AS n
        |  FROM sp s JOIN pred p USING (doc_id)
        |  WHERE s.split = 'test' GROUP BY 1, 2),
        |rt AS (SELECT source, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY 1)
        |SELECT c.source, c.pred, c.n,
        |  ${TextOps.roundAtSql("CAST(c.n AS DOUBLE) / rt.nr", 6)} AS share
        |FROM cells c JOIN rt USING (source)
        |ORDER BY c.source, c.pred""".stripMargin),
  )

  /** q216 oracle: the q190 ordered-fold device generalized — per
    * source, every Σx/Σx²/Σxy is a doc_id-ordered list_sum; each of
    * the 10 signal pairs emits one long-form row with a guarded
    * Pearson r. Program-generated from the same signal list as the
    * Spark side. */
  private lazy val signalCorrelationOracleSql: String = {
    val sigs = Seq("x1" -> "chars", "x2" -> "tokens", "x3" -> "punct_ratio",
      "x4" -> "stop_ratio", "x5" -> "quality")
    val pairIdx = for { i <- sigs.indices; j <- sigs.indices if i < j } yield (i, j)
    val sums = (sigs.flatMap { case (c, _) => Seq(
        s"list_sum(list($c ORDER BY doc_id)) AS s_$c",
        s"list_sum(list($c * $c ORDER BY doc_id)) AS s_${c}_$c")
      } ++ pairIdx.map { case (i, j) =>
        s"list_sum(list(${sigs(i)._1} * ${sigs(j)._1} ORDER BY doc_id)) " +
          s"AS s_${sigs(i)._1}_${sigs(j)._1}"
      }).mkString(",\n    ")
    val pairSelects = pairIdx.map { case (i, j) =>
      val (a, an) = sigs(i)
      val (b, bn) = sigs(j)
      val num = s"(n * s_${a}_$b - s_$a * s_$b)"
      val den = s"(sqrt(n * s_${a}_$a - s_$a * s_$a) * " +
        s"sqrt(n * s_${b}_$b - s_$b * s_$b))"
      s"SELECT source, '$an' AS sig_a, '$bn' AS sig_b, " +
        s"${TextOps.roundAtSql(s"CASE WHEN $den = 0.0 THEN 0.0 ELSE $num / $den END", 6)} AS r FROM s"
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT doc_id, source,
       |  nc AS x1, n_tokens AS x2, punct / nc AS x3, stops / n_tokens AS x4,
       |  ${TextOps.roundAtSql(
            "least(nc / 500.0, 1.0) * 0.5 + " +
              "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
              "(1.0 - least(punct / nc * 10.0, 1.0)) * 0.2", 6)} AS x5
       |FROM (SELECT doc_id, source,
       |  CAST(length(text) AS DOUBLE) AS nc,
       |  CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
       |  CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
       | FROM documents) t),
       |s AS (
       |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
       |    $sums
       |  FROM q GROUP BY source)
       |$pairSelects
       |ORDER BY source, sig_a, sig_b""".stripMargin
  }

  /** q217 oracle: the Poisson bootstrap replayed column-for-column —
    * the same md5 double-hash draws (h1 + b·h2 mod p, the q26/q75
    * device), the same Poisson(1) threshold counts (thresholds
    * interpolated from the SAME Scala Seq, so both engines compare
    * identical IEEE doubles), exact-long weighted sums, and the
    * sorted replicate-mean list reduced in sorted order (list_sort +
    * list_sum ↔ array_sort + fold). */
  private lazy val qualityBootstrapOracleSql: String = {
    val reps = 64
    val loIdx = math.ceil(0.025 * reps).toInt.max(1)
    val hiIdx = math.ceil(0.975 * reps).toInt
    def wExpr(b: Int): String = {
      val u = s"(CAST((h1 + $b * h2) % 2147483647 AS DOUBLE) / 2147483647.0)"
      TextOps.PoissonCdf.map(t => s"(CASE WHEN $u >= $t THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
    }
    val wDefs = (1 to reps).map(b => s"${wExpr(b)} AS w$b").mkString(",\n    ")
    val sums = (1 to reps).flatMap(b =>
      Seq(s"sum(w$b) AS sw$b", s"sum(w$b * qint) AS swq$b")).mkString(",\n    ")
    val meanList = (1 to reps).map(b =>
      s"CASE WHEN sw$b = 0 THEN 0.0 ELSE CAST(swq$b AS DOUBLE) / " +
        s"(CAST(sw$b AS DOUBLE) * 1000000.0) END").mkString(",\n      ")
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(floor((least(nc / 500.0, 1.0) * 0.5 +
       |      least(stops / n_tokens * 5.0, 1.0) * 0.3 +
       |      (1.0 - least(punct / nc * 10.0, 1.0)) * 0.2) * 1000000.0 + 0.5) AS BIGINT) AS qint,
       |    CAST(concat('0x', substr(mhex, 17, 15)) AS BIGINT) % 2147483647 AS h1,
       |    CAST(concat('0x', substr(mhex, 1, 15)) AS BIGINT) % 2147483647 AS h2
       |  FROM (SELECT source,
       |      CAST(length(text) AS DOUBLE) AS nc,
       |      CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
       |      CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
       |      CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops,
       |      md5('pb_' || CAST(doc_id AS VARCHAR)) AS mhex
       |    FROM documents) t),
       |w AS (SELECT source, qint,
       |    $wDefs
       |  FROM d),
       |s AS (SELECT source, count(*) AS n, sum(qint) AS sq,
       |    $sums
       |  FROM w GROUP BY source),
       |m AS (SELECT source, n, sq,
       |    list_sort([$meanList]) AS ms
       |  FROM s)
       |SELECT source, n AS n_docs,
       |  ${TextOps.roundAtSql("CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)", 6)} AS mean_q,
       |  ${TextOps.roundAtSql(s"ms[$loIdx]", 6)} AS boot_lo,
       |  ${TextOps.roundAtSql(s"ms[$hiIdx]", 6)} AS boot_hi,
       |  ${TextOps.roundAtSql(
             s"sqrt(greatest(0.0, (list_sum(list_transform(ms, x -> x * x)) - " +
               s"list_sum(ms) * list_sum(ms) / $reps.0) / ${reps - 1}.0))", 6)} AS boot_se
       |FROM m ORDER BY source""".stripMargin
  }

  /** Program-generated DuckDB replay of TextOps.bpeLearnState: the
    * merge-learning loop UNROLLED into one CTE chain per round
    * (pair counts → deterministic argmax → greedy left-to-right merge
    * application). The greedy scan is relational here where Spark
    * folds sequentially: match positions form gaps-and-islands runs
    * (two matches can only be adjacent when left = right), and a
    * left-to-right scan takes even offsets within each run — so
    * `(j - island_start) % 2 = 0` IS the sequential semantics. All
    * values are exact longs and binary-ordered ASCII strings; nothing
    * floats, so both q159 (merge table) and q160 (token counts) are
    * hash-exact. Every CTE is AS MATERIALIZED: each stage is
    * referenced several times downstream, and DuckDB's default CTE
    * inlining would re-evaluate the chain once per reference —
    * exponentially many scans over 16 rounds (observed as an
    * open-files blowup). Returns the WITH chain ending at stage
    * `s<merges>` (the final dictionary segmentation). */
  private def bpeStagesSql(merges: Int): String = {
    val s0 =
      s"""s0 AS MATERIALIZED (
        |  SELECT word, cnt,
        |    list_append(list_transform(range(1, length(word) + 1),
        |      j -> substr(word, j, 1)), '</w>') AS syms
        |  FROM (SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS word
        |    FROM documents) w WHERE word <> '' GROUP BY word) f)""".stripMargin
    val rounds = (1 to merges).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
        |  SELECT syms[j] AS l, syms[j + 1] AS r, sum(cnt) AS pc FROM (
        |    SELECT cnt, syms, unnest(range(1, len(syms))) AS j
        |    FROM $prev WHERE len(syms) >= 2) t
        |  GROUP BY 1, 2),
        |b$i AS MATERIALIZED (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
        |m$i AS MATERIALIZED (
        |  SELECT word, cnt, syms, j,
        |    (j < len(syms) AND syms[j] = (SELECT l FROM b$i)
        |      AND syms[j + 1] = (SELECT r FROM b$i)) AS mt
        |  FROM (SELECT word, cnt, syms, unnest(range(1, len(syms) + 1)) AS j
        |        FROM $prev) t),
        |tk$i AS MATERIALIZED (
        |  SELECT word, j FROM (
        |    SELECT word, j, min(j) OVER (PARTITION BY word, grp) AS g0 FROM (
        |      SELECT word, j, j - row_number() OVER (PARTITION BY word ORDER BY j) AS grp
        |      FROM m$i WHERE mt) g) h
        |  WHERE (j - g0) % 2 = 0),
        |s$i AS MATERIALIZED (
        |  SELECT word, cnt,
        |    list(CASE WHEN tk IS NOT NULL THEN syms[j] || syms[j + 1]
        |              ELSE syms[j] END ORDER BY j) AS syms
        |  FROM (
        |    SELECT m.word, m.cnt, m.syms, m.j, t.j AS tk, tp.j AS consumed
        |    FROM m$i m
        |    LEFT JOIN tk$i t ON t.word = m.word AND t.j = m.j
        |    LEFT JOIN tk$i tp ON tp.word = m.word AND tp.j = m.j - 1) u
        |  WHERE consumed IS NULL
        |  GROUP BY word, cnt)""".stripMargin
    }
    (s0 +: rounds).mkString("WITH ", ",\n", "")
  }

  private val BpeMergeRounds = 16

  private lazy val bpeMergesOracleSql: String = {
    val ranks = (1 to BpeMergeRounds).map { i =>
      s"SELECT $i AS merge_rank, l AS left_sym, r AS right_sym, CAST(pc AS BIGINT) AS pair_count FROM b$i"
    }.mkString("\n  UNION ALL ")
    s"""${bpeStagesSql(BpeMergeRounds)}
      |  $ranks
      |ORDER BY merge_rank""".stripMargin
  }

  private lazy val bpeTokensOracleSql: String =
    s"""${bpeStagesSql(BpeMergeRounds)},
      |wr AS (SELECT doc_id, word FROM (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS word
      |  FROM documents) t WHERE word <> '')
      |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(len(s.syms)) AS BIGINT) AS n_tokens
      |FROM wr w JOIN s$BpeMergeRounds s ON s.word = w.word
      |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  /** The q170 fertility oracle at a given merge budget — factored so
    * q235's ablation can embed two budgets as nested derived tables
    * (each keeps its own CTE namespace, the q203 device). */
  private def bpeFertilityOracleAt(merges: Int): String =
    s"""${bpeStagesSql(merges)},
      |wr AS (SELECT doc_id, word FROM (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ')) AS word
      |  FROM documents) t WHERE word <> '')
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(len(s.syms)) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(len(s.syms)) AS DOUBLE) / count(*), 4) AS fertility
      |FROM wr w
      |JOIN documents d ON d.doc_id = w.doc_id
      |JOIN s$merges s ON s.word = w.word
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q170 oracle: the q159 stage chain + word rows with a source
    * lookup; exact long counts, ratio rounded at 4. */
  private lazy val bpeFertilityOracleSql: String =
    bpeFertilityOracleAt(BpeMergeRounds)

  /** q235 oracle: the fertility chain replayed at BOTH merge budgets
    * as nested derived tables, tagged and unioned. */
  private lazy val bpeAblationOracleSql: String =
    s"""WITH f8 AS MATERIALIZED (SELECT * FROM (${bpeFertilityOracleAt(8)}) t),
       |f16 AS MATERIALIZED (SELECT * FROM (${bpeFertilityOracleAt(16)}) t)
       |SELECT CAST(8 AS BIGINT) AS merges, source, n_words, n_tokens, fertility FROM f8
       |UNION ALL
       |SELECT CAST(16 AS BIGINT), source, n_words, n_tokens, fertility FROM f16
       |ORDER BY merges, source""".stripMargin

  /** q178 oracle: the q159 stage chain; the round-trip flag is
    * asserted literally TRUE next to the exact token counts. */
  private lazy val bpeRoundTripOracleSql: String =
    s"""${bpeStagesSql(BpeMergeRounds)}
      |SELECT word, cnt, CAST(len(syms) AS BIGINT) AS n_tokens,
      |  TRUE AS round_trip_ok
      |FROM s$BpeMergeRounds ORDER BY word""".stripMargin

  /** q244 oracle: the q161 model-table chain one order up — trigram /
    * rolled-up-bigram / unigram counts from the training slice, the
    * stupid-backoff CASE tree mirrored literal-for-literal, per-doc
    * terms folded in (w1, w2, w3) order, backoff counts as exact
    * integer CASE sums. */
  private lazy val trigramBackoffOracleSql: String =
    s"""WITH ws AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' '),
      |                x -> x <> '') AS w
      |  FROM documents),
      |tg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, greatest(len(w) - 2, 0)), i -> w[i + 1])) AS w1,
      |    unnest(list_transform(range(0, greatest(len(w) - 2, 0)), i -> w[i + 2])) AS w2,
      |    unnest(list_transform(range(0, greatest(len(w) - 2, 0)), i -> w[i + 3])) AS w3
      |  FROM ws WHERE len(w) >= 3),
      |train AS (SELECT doc_id FROM documents WHERE source = 'src0'),
      |t3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg JOIN train USING (doc_id) GROUP BY 1, 2, 3),
      |c3x AS (SELECT w1, w2, sum(c3) AS cc3 FROM t3 GROUP BY 1, 2),
      |t2 AS (SELECT w2, w3, sum(c3) AS c2 FROM t3 GROUP BY 1, 2),
      |c2x AS (SELECT w2, sum(c2) AS cc2 FROM t2 GROUP BY 1),
      |cu AS (SELECT word AS w3, count(*) AS c1 FROM (
      |         SELECT unnest(w) AS word FROM ws JOIN train USING (doc_id)) t
      |       GROUP BY 1),
      |sc AS (SELECT CAST(sum(c1) AS BIGINT) AS n_uni, count(*) AS v FROM cu),
      |db AS (SELECT doc_id, w1, w2, w3, count(*) AS n FROM tg GROUP BY 1, 2, 3, 4),
      |terms AS (
      |  SELECT db.doc_id, db.n,
      |    db.n * CAST(floor(ln(
      |      CASE WHEN t3.c3 IS NOT NULL THEN CAST(t3.c3 AS DOUBLE) / c3x.cc3
      |           WHEN t2.c2 IS NOT NULL
      |             THEN ${TextOps.TrigramAlpha} * (CAST(t2.c2 AS DOUBLE) / c2x.cc2)
      |           ELSE ${TextOps.TrigramAlpha2} * (CAST(coalesce(cu.c1, 0) + 1 AS DOUBLE) /
      |               (sc.n_uni + sc.v)) END) * 1000000000000.0 + 0.5) AS BIGINT) AS tl,
      |    CASE WHEN t3.c3 IS NOT NULL THEN 0 ELSE db.n END AS nb
      |  FROM db
      |  LEFT JOIN t3 ON t3.w1 = db.w1 AND t3.w2 = db.w2 AND t3.w3 = db.w3
      |  LEFT JOIN c3x ON c3x.w1 = db.w1 AND c3x.w2 = db.w2
      |  LEFT JOIN t2 ON t2.w2 = db.w2 AND t2.w3 = db.w3
      |  LEFT JOIN c2x ON c2x.w2 = db.w2
      |  LEFT JOIN cu ON cu.w3 = db.w3, sc),
      |scored AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_trigrams,
      |    CAST(sum(nb) AS BIGINT) AS n_backoff,
      |    (-(CAST(sum(tl) AS DOUBLE) / 1000000000000.0)) /
      |      CAST(sum(n) AS DOUBLE) AS nll_raw
      |  FROM terms GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
      |  CAST(coalesce(s.n_backoff, 0) AS BIGINT) AS n_backoff,
      |  ${TextOps.roundAtSql("s.nll_raw", 6)} AS nll,
      |  ${TextOps.roundAtSql("CAST(s.n_backoff AS DOUBLE) / s.n_trigrams", 6)} AS backoff_rate
      |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q252 oracle: both BM25 rounds replayed with the per-doc sorted
    * fold (scores bit-identical doubles → identical feedback set and
    * final ranking), the feedback-vocab TF-IDF expansion, and the
    * weighted re-score. DOUBLE casts on the weight literals AND on
    * every bare decimal that multiplies a non-DOUBLE operand (DuckDB
    * parses bare decimals as DECIMAL — the q155 lesson): `tf.tf *
    * ${"$"}{k1 + 1}` with BIGINT tf would evaluate in exact DECIMAL,
    * not the engine's IEEE double (2.2 decimal ≠ 2.2 double at the
    * last ulp), so the raw-score feedback cut could pick a different
    * feedback set on near-tied corpora. */
  private lazy val rocchioPrfOracleSql: String = {
    val (k1, b) = (1.2, 0.75)
    def scoreCtes(termsCte: String, out: String): String =
      s"""${out}_tf AS (
         |  SELECT wr.doc_id, wr.word, t.wt, count(*) AS tf
         |  FROM wr JOIN $termsCte t USING (word) GROUP BY 1, 2, 3),
         |${out}_df AS (SELECT word, count(DISTINCT doc_id) AS df FROM ${out}_tf GROUP BY 1),
         |$out AS (
         |  SELECT tf.doc_id,
         |    list_sum(list(
         |      tf.wt * ln((nn.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
         |      ((CAST(tf.tf AS DOUBLE) * CAST(${k1 + 1} AS DOUBLE)) /
         |       (tf.tf + CAST($k1 AS DOUBLE) * (${1.0 - b} + CAST($b AS DOUBLE) * dl.dl / ad.avgdl)))
         |      ORDER BY tf.word)) AS score
         |  FROM ${out}_tf tf JOIN ${out}_df df USING (word)
         |       JOIN dl USING (doc_id), nn, ad
         |  GROUP BY 1)""".stripMargin
    s"""WITH ws AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' '),
      |                x -> x <> '') AS w
      |  FROM documents),
      |wr AS (SELECT doc_id, unnest(w) AS word FROM ws),
      |dl AS (SELECT doc_id, count(*) AS dl FROM wr GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |ad AS (SELECT avg(dl) AS avgdl FROM dl),
      |t0 AS (SELECT word, CAST(wt AS DOUBLE) AS wt
      |       FROM (VALUES ('data', 1.0), ('analysis', 1.0), ('model', 1.0)) v(word, wt)),
      |${scoreCtes("t0", "s0")},
      |fb AS (SELECT doc_id FROM s0 ORDER BY score DESC, doc_id LIMIT 5),
      |fbtf AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS stf
      |  FROM wr JOIN fb USING (doc_id)
      |  WHERE word NOT IN ('data', 'analysis', 'model') GROUP BY 1),
      |cdf AS (
      |  SELECT word, count(DISTINCT doc_id) AS df FROM wr
      |  WHERE word IN (SELECT word FROM fbtf) GROUP BY 1),
      |exp0 AS (
      |  SELECT fbtf.word, CAST(fbtf.stf AS DOUBLE) * ln(nn.n_docs / cdf.df) AS esc
      |  FROM fbtf JOIN cdf USING (word), nn),
      |exp1 AS (SELECT word, CAST(0.5 AS DOUBLE) AS wt
      |         FROM exp0 ORDER BY esc DESC, word LIMIT 3),
      |t1 AS (SELECT * FROM t0 UNION ALL SELECT * FROM exp1),
      |${scoreCtes("t1", "s1")}
      |SELECT doc_id, ${TextOps.roundAtSql("score", 6)} AS bm25_prf
      |FROM s1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }
}
