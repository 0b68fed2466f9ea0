package graft.ops

import graft.QuerySpec

/** The curation family's registered queries (admission, sampling,
  * decontamination, span removal), each with the DuckDB SQL that checks it. */
object CurationQueries {

  val specs: Seq[QuerySpec] = Seq(
    // q88/q89 share the full-k-gram build: range(0, greatest(len-7,0))
    // emits exactly the len-7 full 8-grams of a >=8-word doc and
    // nothing for shorter docs — the twin of the Spark side's
    // lead-window build filtered on the (k-1)-ahead word.
    QuerySpec("q88_decontam", (s, d) => CurationOps.decontamination(s, d),
      s"""WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        |hits AS (
        |  SELECT t.doc_id, count(*) AS n_grams, count(ev.gram) AS n_hits
        |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 7) t
        |  LEFT JOIN ev ON t.gram = ev.gram
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        | coalesce(h.n_grams, 0) AS n_grams,
        | coalesce(h.n_hits, 0) AS n_hits,
        | ${TextOps.roundAtSql(
             "CAST(coalesce(h.n_hits, 0) AS DOUBLE) / greatest(coalesce(h.n_grams, 0), 1)", 6)} AS contamination,
        | coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 7) d
        |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin),
    QuerySpec("q89_dup_spans", (s, d) => CurationOps.duplicateSpans(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w)
        |SELECT gram AS span,
        | count(DISTINCT doc_id) AS n_docs,
        | count(*) AS n_occ,
        | min(doc_id) AS first_doc
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
    // q90: nShards is pinned because the SQL hardcodes % 16, so shard
    // assignment must not drift with the session's core count. 4 hex
    // digits < 2^16 keep the parsed value positive, so DuckDB's %
    // equals Spark's pmod; lowercase-hex string ordering is plain ASCII
    // on both engines.
    QuerySpec("q90_train_order", (s, d) => CurationOps.trainingOrder(s, d, nShards = 16),
      """WITH h AS (
        |  SELECT doc_id,
        |    md5('ord_' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents)
        |SELECT doc_id,
        | ('0x' || substr(hx, 1, 4))::BIGINT % 16 AS shard,
        | CAST(row_number() OVER (
        |   PARTITION BY ('0x' || substr(hx, 1, 4))::BIGINT % 16
        |   ORDER BY hx, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin),
    QuerySpec("q92_incremental_dedup", (s, d) => CurationOps.incrementalDedup(s, d),
      admissionOracleSql),
    // q94: the weight denominator folds in explicit source-sorted
    // order (list_sum of an ORDER BY list ≡ Spark's aggregate over
    // array_sort) so the one order-sensitive double sum is identical;
    // everything else is single IEEE ops.
    QuerySpec("q94_mixture_sample", (s, d) => CurationOps.mixtureSample(s, d),
      """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |denom AS (
        |  SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)) AS denom
        |  FROM counts),
        |th AS (
        |  SELECT source,
        |    CAST(floor(least(1.0,
        |      100.0 * sqrt(CAST(n AS DOUBLE)) / denom / n) * 65536) AS BIGINT) AS thresh
        |  FROM counts, denom)
        |SELECT d.doc_id, d.source, th.thresh
        |FROM documents d JOIN th ON d.source = th.source
        |WHERE ('0x' || substr(md5('mix_' || CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      < th.thresh""".stripMargin),
    // the production admission path: q92's verdicts through a bucketed
    // fingerprint index built here per run (the write is part of what
    // this query certifies); the spec asserts the physical plan
    QuerySpec("q95_bucketed_admission",
      (s, d) => {
        CurationOps.writeFingerprintIndex(s, d, "graft_fp_index", buckets = 8)
        CurationOps.bucketedAdmission(s, d, "graft_fp_index")
      },
      admissionOracleSql),
    // q96: islands-and-gaps span merge — pos and gram unnest in
    // lockstep (DuckDB zips same-level unnests), shared grams by
    // distinct-doc count, pos − row_number() as the island key.
    QuerySpec("q96_max_spans", (s, d) => CurationOps.maximalSpans(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |shared AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM hits)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        | CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
        | CAST(count(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, island""".stripMargin),
    // q99: q96's span CTEs extended to the trim action — covered
    // positions unnested from each span's range, anti-joined against
    // the word rows (same-level unnests zip in DuckDB), remaining
    // words string_agg'd in position order; the doc roster left join
    // keeps untouched and fully-covered docs in the output
    QuerySpec("q99_span_trim", (s, d) => CurationOps.trimSpans(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |wr AS (
        |  SELECT doc_id, unnest(range(len(words))) AS pos, unnest(words) AS word
        |  FROM w),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |shared AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) - min(pos) + 8 AS l
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(s, s + l)) AS pos FROM spans),
        |kept AS (
        |  SELECT wr.doc_id, wr.pos, wr.word
        |  FROM wr LEFT JOIN cov ON wr.doc_id = cov.doc_id AND wr.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_words FROM wr GROUP BY doc_id)
        |SELECT t.doc_id,
        | coalesce(a.clean_text, '') AS clean_text,
        | CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        | CAST(t.n_words - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin),
    // q104: q99's whole CTE chain, then the q96 detector re-run over
    // the trimmed text (same normalize — identity on already-clean
    // words) — residual span count + trim totals in one summary row.
    // The interesting value is residual_spans = 0: remove-every-
    // occurrence trimming leaves no original-consecutive shared gram,
    // and this corpus produces no colliding junction grams either.
    QuerySpec("q104_trim_round_trip", (s, d) => CurationOps.trimRoundTrip(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |wr AS (
        |  SELECT doc_id, unnest(range(len(words))) AS pos, unnest(words) AS word
        |  FROM w),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |shared AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) - min(pos) + 8 AS l
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(s, s + l)) AS pos FROM spans),
        |kept AS (
        |  SELECT wr.doc_id, wr.pos, wr.word
        |  FROM wr LEFT JOIN cov ON wr.doc_id = cov.doc_id AND wr.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_words FROM wr GROUP BY doc_id),
        |trimmed AS (
        |  SELECT t.doc_id, coalesce(a.clean_text, '') AS text,
        |    coalesce(a.n_kept, 0) AS n_kept,
        |    t.n_words - coalesce(a.n_kept, 0) AS n_removed
        |  FROM tot t LEFT JOIN agg a USING (doc_id)),
        |w2 AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM trimmed),
        |g2 AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w2),
        |shared2 AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |hits2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN shared2 USING (gram)),
        |isl2 AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM hits2),
        |spans2 AS (SELECT doc_id, island FROM isl2 GROUP BY doc_id, island)
        |SELECT CAST((SELECT count(*) FROM trimmed) AS BIGINT) AS n_docs,
        | CAST((SELECT sum(n_kept) FROM trimmed) AS BIGINT) AS n_kept_total,
        | CAST((SELECT sum(n_removed) FROM trimmed) AS BIGINT) AS n_removed_total,
        | CAST((SELECT count(*) FROM spans2) AS BIGINT) AS residual_spans""".stripMargin),
    // q109: the scrub recomputed with DuckDB's regex engine — counts
    // on the original text, replacements chained in the same order;
    // the PII patterns legitimately count 0 on this corpus (the
    // machinery is proven on synthetic rows in CurationSpec), the
    // blocklist phrases hit 68 docs so keep/n_banned are live
    QuerySpec("q109_scrub", (s, d) => CurationOps.scrub(s, d), {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
      val banned = "\\b(customer query|big table|slow scan)\\b"
      s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '$banned')) AS BIGINT) AS n_banned,
        |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
        |                 '$ipv4', '<IP>', 'g') AS clean_text,
        |  (len(regexp_extract_all(text, '$banned')) = 0) AS keep
        |FROM documents""".stripMargin
    }),
    // q111: the same simulated v2 (delete ids ≡3 mod 17, edit ≡5,
    // re-ingest ≡7 under id+1e6) rebuilt in SQL, statuses from the
    // same full-outer fingerprint join
    QuerySpec("q111_snapshot_diff", (s, d) => CurationOps.corpusDiff(s, d),
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 5 THEN text || ' v2 edit' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp
        |  FROM documents WHERE doc_id % 17 = 7)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v1.fp <> v2.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin),
    // q112: the bloom gate on the index scan is physically visible (the
    // spec counts the surviving rows) but semantically invisible (bloom
    // filters have no false negatives)
    QuerySpec("q112_bloom_admission", (s, d) => CurationOps.bloomGatedAdmission(s, d),
      admissionOracleSql),
    // q113: the selection recomputed with DuckDB's (single-threaded)
    // global window — the distributed prefix sum must be row-identical
    // to the naive ordered cumsum; quality is q21's shared formula
    QuerySpec("q113_budget_select", (s, d) => CurationOps.budgetSelect(s, d),
      s"""WITH scored AS (
        |  SELECT doc_id,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality,
        |    CAST(n_tokens AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        |   FROM documents) t),
        |cum AS (
        |  SELECT doc_id, quality, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM scored)
        |SELECT doc_id, quality, n_tokens, cum_tokens
        |FROM cum WHERE cum_tokens <= 20000""".stripMargin),
    // q115: per-source p75 threshold via quantile_cont (the exact
    // interpolated percentile Spark's `percentile` computes), then the
    // gate; quality is q21's shared formula
    QuerySpec("q115_percentile_gate", (s, d) => CurationOps.percentileGate(s, d),
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
        |th AS (
        |  SELECT source, quantile_cont(quality, 0.75) AS threshold
        |  FROM scored GROUP BY source)
        |SELECT s.doc_id, s.source, s.quality, round(th.threshold, 6) AS threshold
        |FROM scored s JOIN th USING (source)
        |WHERE s.quality >= th.threshold""".stripMargin),
    // q120: same hash-derived u and A-Res key; the ORDER BY defines
    // top-k membership only (the compare sorts rows itself)
    QuerySpec("q120_weighted_sample", (s, d) => CurationOps.weightedSample(s, d),
      s"""WITH scored AS (
        |  SELECT doc_id, source,
        |    ${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} AS quality,
        |    (('0x' || substr(md5('ws_' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT + 0.5) / 65536.0 AS u
        |  FROM (SELECT doc_id, source,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        |   FROM documents) t)
        |SELECT doc_id, source, quality,
        | floor(power(u, 1.0 / greatest(quality, 0.001)) * 1000000 + 0.5) / 1000000 AS samp_key
        |FROM scored
        |ORDER BY power(u, 1.0 / greatest(quality, 0.001)) DESC, doc_id
        |LIMIT 200""".stripMargin),
    // q125: same gram build as q88 with positions; n_grams counts
    // DISTINCT positions (a gram in both suites joins twice)
    QuerySpec("q125_multi_decontam", (s, d) => CurationOps.multiDecontamination(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(words, i + 1, i + 8), ' ') AS gram
        |  FROM w, unnest(range(0, greatest(len(words) - 7, 0))) AS t(i)),
        |ev AS (
        |  SELECT DISTINCT gram, 'a' AS suite FROM g WHERE doc_id % 10 = 7
        |  UNION SELECT DISTINCT gram, 'b' FROM g WHERE doc_id % 10 = 3),
        |hits AS (
        |  SELECT t.doc_id, count(DISTINCT t.pos) AS n_grams,
        |    CAST(sum(CASE WHEN ev.suite = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS hits_a,
        |    CAST(sum(CASE WHEN ev.suite = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS hits_b
        |  FROM (SELECT doc_id, pos, gram FROM g WHERE doc_id % 10 NOT IN (7, 3)) t
        |  LEFT JOIN ev ON t.gram = ev.gram
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        | coalesce(h.n_grams, 0) AS n_grams,
        | coalesce(h.hits_a, 0) AS hits_a,
        | coalesce(h.hits_b, 0) AS hits_b,
        | coalesce(h.hits_a, 0) + coalesce(h.hits_b, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 NOT IN (7, 3)) d
        |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin),
    // q127: q78's gate CTEs + q88's contamination CTEs + q113's
    // cumsum, composed — each piece verbatim from its own oracle
    QuerySpec("q127_curation_pipeline", (s, d) => CurationOps.curationPipeline(s, d),
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
        |         ELSE 'en' END AS lang_pred,
        |    CAST(n_tokens AS BIGINT) AS n_tokens
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
        |  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))),
        |w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        |hits AS (
        |  SELECT t.doc_id, count(ev.gram) AS n_hits
        |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 7) t
        |  LEFT JOIN ev ON t.gram = ev.gram
        |  GROUP BY t.doc_id),
        |clean AS (
        |  SELECT d.doc_id
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 7) d
        |  LEFT JOIN hits h ON d.doc_id = h.doc_id
        |  WHERE coalesce(h.n_hits, 0) = 0),
        |base AS (
        |  SELECT s.doc_id, s.quality, s.lang_pred, s.n_tokens
        |  FROM scored s
        |  JOIN keepers k ON s.doc_id = k.doc_id
        |  JOIN clean c ON s.doc_id = c.doc_id
        |  WHERE s.quality >= 0.5 AND s.lang_pred = 'en'),
        |cum AS (
        |  SELECT doc_id, quality, lang_pred, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM base)
        |SELECT doc_id, quality, lang_pred, n_tokens, cum_tokens
        |FROM cum WHERE cum_tokens <= 10000""".stripMargin),
    // q129: the same two-pass band (quantile_cont = Spark percentile),
    // floor'd to integers so the clip is exact cross-engine
    QuerySpec("q129_winsorize", (s, d) => CurationOps.winsorize(s, d),
      """WITH sized AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |bands AS (
        |  SELECT source,
        |    CAST(floor(quantile_cont(n_chars, 0.05)) AS BIGINT) AS p_lo,
        |    CAST(floor(quantile_cont(n_chars, 0.95)) AS BIGINT) AS p_hi
        |  FROM sized GROUP BY source)
        |SELECT s.doc_id, s.source, s.n_chars,
        | greatest(b.p_lo, least(b.p_hi, s.n_chars)) AS n_chars_clipped,
        | s.n_chars < b.p_lo OR s.n_chars > b.p_hi AS is_outlier
        |FROM sized s JOIN bands b ON s.source = b.source""".stripMargin),
    // q137: q25's verified pairs + the md5 split, cross-boundary only
    QuerySpec("q137_split_leakage", (s, d) => CurationOps.splitLeakage(s, d),
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
        |p AS (SELECT doc_a, doc_b, jaccard FROM cand WHERE jaccard >= 0.5),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 1)
        |              IN ('0', '1', '2') THEN 'test' ELSE 'train' END AS split
        |  FROM documents)
        |SELECT p.doc_a, sa.split AS split_a, p.doc_b, sb.split AS split_b, p.jaccard
        |FROM p JOIN sp sa ON p.doc_a = sa.doc_id
        |JOIN sp sb ON p.doc_b = sb.doc_id
        |WHERE sa.split <> sb.split""".stripMargin),
    // q148: each gate is its certifying oracle's fragment verbatim —
    // quality/lang from q78, the seven rules from q144, keepers from
    // q77, the contamination hits from q88
    QuerySpec("q148_gate_log", (s, d) => CurationOps.gateLog(s, d),
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens_d,
        |    CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops_d,
        |    len(regexp_extract_all(text, '${TextOps.CjkPattern}')) AS zh,
        |    len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS en,
        |    len(regexp_extract_all(lower(text), '${TextOps.EsStops}')) AS es,
        |    len(regexp_extract_all(lower(text), '${TextOps.DeStops}')) AS de,
        |    len(regexp_extract_all(lower(text), '${TextOps.FrStops}')) AS fr,
        |    len(regexp_split_to_array(text, '\\s+')) AS n_words,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
        |    len(regexp_extract_all(text, '${TextOps.AlphaWordPattern}')) AS alpha_words,
        |    len(regexp_extract_all(text, '${TextOps.SymbolPattern}')) AS sym,
        |    len(regexp_extract_all(text, '${TextOps.BulletLinePattern}')) AS bullet_lines,
        |    len(regexp_extract_all(text, '${TextOps.EllipsisLinePattern}')) AS ell_lines
        |  FROM documents WHERE doc_id % 10 <> 7),
        |scored AS (
        |  SELECT doc_id,
        |    (${TextOps.roundAtSql(
             "least(n_chars / 500.0, 1.0) * 0.5 + " +
             "least(stops_d / n_tokens_d * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / n_chars * 10.0, 1.0)) * 0.2", 6)} >= 0.5) AS f_quality,
        |    ((CASE WHEN zh > 0 THEN 'zh'
        |           WHEN de > en AND de > es AND de > fr THEN 'de'
        |           WHEN es > en AND es > fr THEN 'es'
        |           WHEN fr > en THEN 'fr'
        |           ELSE 'en' END) = 'en') AS f_lang,
        |    ((n_words >= 50 AND n_words <= 100000) AND
        |     (nonspace >= n_words * 3 AND nonspace <= n_words * 10) AND
        |     (sym * 10 <= n_words) AND (bullet_lines * 10 <= n_lines * 9) AND
        |     (ell_lines * 10 <= n_lines * 3) AND (alpha_words * 5 >= n_words * 4) AND
        |     (en >= 2)) AS f_gopher
        |  FROM t),
        |w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        |hits AS (
        |  SELECT t2.doc_id, count(ev.gram) AS n_hits
        |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 7) t2
        |  LEFT JOIN ev ON t2.gram = ev.gram
        |  GROUP BY t2.doc_id),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))),
        |flags AS (
        |  SELECT s.doc_id, s.f_quality, s.f_lang,
        |    (k.doc_id IS NOT NULL) AS f_unique, s.f_gopher,
        |    (coalesce(h.n_hits, 0) = 0) AS f_clean
        |  FROM scored s
        |  LEFT JOIN keepers k ON s.doc_id = k.doc_id
        |  LEFT JOIN hits h ON s.doc_id = h.doc_id)
        |SELECT doc_id, f_quality, f_lang, f_unique, f_gopher, f_clean,
        | CAST((CASE WHEN f_quality THEN 0 ELSE 1 END) +
        |      (CASE WHEN f_lang THEN 0 ELSE 1 END) +
        |      (CASE WHEN f_unique THEN 0 ELSE 1 END) +
        |      (CASE WHEN f_gopher THEN 0 ELSE 1 END) +
        |      (CASE WHEN f_clean THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
        | CASE WHEN NOT f_quality THEN 'quality'
        |      WHEN NOT f_lang THEN 'lang'
        |      WHEN NOT f_unique THEN 'duplicate'
        |      WHEN NOT f_gopher THEN 'gopher'
        |      WHEN NOT f_clean THEN 'contaminated'
        |      ELSE 'none' END AS first_fail,
        | (f_quality AND f_lang AND f_unique AND f_gopher AND f_clean) AS admitted
        |FROM flags""".stripMargin),
    // q153: q61's recursive cluster CTEs + the q137 md5 split rule,
    // but hashed on the cluster representative (cluster-min; docs in
    // no pair represent themselves), so near-dups cannot straddle
    QuerySpec("q153_cluster_split", (s, d) => CurationOps.clusterAwareSplit(s, d),
      """WITH RECURSIVE docs AS (
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
        |labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
        |           FROM reach GROUP BY a)
        |SELECT d.doc_id,
        | coalesce(l.cluster, d.doc_id) AS cluster_rep,
        | CASE WHEN substr(md5('split_' ||
        |            CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 1)
        |      IN ('0', '1', '2') THEN 'test' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id""".stripMargin),
    // q194: the q88 CTEs + a source rollup; rates rounded at 6
    QuerySpec("q194_decontam_by_source", (s, d) => CurationOps.decontaminationBySource(s, d),
      s"""WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i + 1, i + 8), ' '))) AS gram
        |  FROM w),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        |hits AS (
        |  SELECT t.doc_id, count(*) AS n_grams, count(ev.gram) AS n_hits
        |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 7) t
        |  LEFT JOIN ev ON t.gram = ev.gram
        |  GROUP BY t.doc_id),
        |per AS (
        |  SELECT d.doc_id, d.source,
        |    coalesce(h.n_grams, 0) AS n_grams,
        |    coalesce(h.n_hits, 0) AS n_hits,
        |    coalesce(h.n_hits, 0) > 0 AS contaminated
        |  FROM (SELECT doc_id, source FROM documents WHERE doc_id % 10 <> 7) d
        |  LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  ${TextOps.roundAtSql(
             "CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS doc_rate,
        |  ${TextOps.roundAtSql(
             "CAST(sum(n_hits) AS DOUBLE) / greatest(sum(n_grams), 1)", 6)} AS gram_rate
        |FROM per GROUP BY source ORDER BY source""".stripMargin),
    // q201: exact long token counts, the q94 source-sorted denominator
    // fold, floored allocation, flag on the raw epochs ratio
    QuerySpec("q201_epoch_budget", (s, d) => CurationOps.epochBudget(s, d),
      s"""WITH toks AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |dims AS (
        |  SELECT list_sum(list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)) AS denom,
        |    CAST(sum(n_tokens) AS BIGINT) AS total
        |  FROM toks),
        |a AS (
        |  SELECT t.source, t.n_tokens,
        |    sqrt(CAST(t.n_tokens AS DOUBLE)) / d.denom AS share_raw,
        |    CAST(floor(4.0 * CAST(d.total AS DOUBLE) *
        |      (sqrt(CAST(t.n_tokens AS DOUBLE)) / d.denom)) AS BIGINT) AS alloc
        |  FROM toks t, dims d)
        |SELECT source, n_tokens,
        |  ${TextOps.roundAtSql("share_raw", 6)} AS share,
        |  alloc AS alloc_tokens,
        |  ${TextOps.roundAtSql("CAST(alloc AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)} AS epochs,
        |  CAST(alloc AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 4.0 AS over_cap
        |FROM a ORDER BY source""".stripMargin),
    // q211: global equi-depth length bins (integer-division rank
    // device), per-bin smallest-md5 quota — exact longs throughout
    QuerySpec("q211_matched_sample", (s, d) => CurationOps.matchedEvalSample(s, d),
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents),
        |b AS (SELECT doc_id, n_chars, ((rn - 1) * 8) // n + 1 AS bin FROM r),
        |h AS (SELECT b.*,
        |    ('0x' || substr(md5('ev_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        |  FROM b),
        |k AS (
        |  SELECT h.*,
        |    row_number() OVER (PARTITION BY bin ORDER BY hv, doc_id) AS hrk,
        |    count(*) OVER (PARTITION BY bin) AS bn
        |  FROM h)
        |SELECT bin, doc_id, n_chars FROM k
        |WHERE hrk <= greatest(1, bn // 10)
        |ORDER BY bin, doc_id""".stripMargin),
    // q226: Hamilton apportionment in pure integer div/mod; seat and
    // membership windows deterministically ordered
    QuerySpec("q226_quota_sample", (s, d) => CurationOps.quotaSample(s, d),
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn FROM c),
        |qd AS (
        |  SELECT source, n, (100 * n) // nn AS base, (100 * n) % nn AS rem
        |  FROM c CROSS JOIN tot),
        |lf AS (SELECT 100 - sum(base) AS extra FROM qd),
        |quota AS (
        |  SELECT source, least(base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, source) <= lf.extra
        |    THEN 1 ELSE 0 END, n) AS quota
        |  FROM qd CROSS JOIN lf),
        |m AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('qs_' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT m.source, m.doc_id, m.rn AS pick_rank, CAST(q.quota AS BIGINT) AS quota
        |FROM m JOIN quota q ON q.source = m.source
        |WHERE m.rn <= q.quota ORDER BY m.source, m.rn""".stripMargin),
    QuerySpec("q236_decontam_ablation", (s, d) => CurationOps.decontamAblation(s, d),
      decontamAblationOracleSql),
  )

  /** One q236 ablation leg: the q88 chain at gram size k, rolled up
    * to a single summary row. Embedded per k as nested derived
    * tables. */
  private def decontamSummaryAt(k: Int): String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(${graft.functions.TextNorm.sqlNorm("text")}, ' ') AS words
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, greatest(len(words) - ${k - 1}, 0)),
       |      i -> array_to_string(list_slice(words, i + 1, i + $k), ' '))) AS gram
       |  FROM w),
       |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
       |hits AS (
       |  SELECT t.doc_id, count(*) AS n_grams, count(ev.gram) AS n_hits
       |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 7) t
       |  LEFT JOIN ev ON t.gram = ev.gram
       |  GROUP BY t.doc_id),
       |pd AS (
       |  SELECT d.doc_id, coalesce(h.n_grams, 0) AS n_grams,
       |    coalesce(h.n_hits, 0) AS n_hits
       |  FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |  WHERE d.doc_id % 10 <> 7)
       |SELECT CAST($k AS BIGINT) AS gram_n, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(n_grams) AS BIGINT) AS total_grams,
       |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
       |  ${TextOps.roundAtSql(
            "CAST(sum(n_hits) AS DOUBLE) / CAST(greatest(sum(n_grams), 1) AS DOUBLE)", 6)} AS hit_rate
       |FROM pd""".stripMargin

  private lazy val decontamAblationOracleSql: String =
    s"""WITH k5 AS MATERIALIZED (SELECT * FROM (${decontamSummaryAt(5)}) t),
       |k8 AS MATERIALIZED (SELECT * FROM (${decontamSummaryAt(8)}) t),
       |k13 AS MATERIALIZED (SELECT * FROM (${decontamSummaryAt(13)}) t)
       |SELECT * FROM k5 UNION ALL SELECT * FROM k8 UNION ALL SELECT * FROM k13
       |ORDER BY gram_n""".stripMargin

  /** q92's admission verdicts. q95 probes a bucketed index and q112
    * gates the index scan with a bloom filter: both change only the
    * physical plan, which the oracle cannot see, so this SQL checks all
    * three. */
  private lazy val admissionOracleSql: String =
    """WITH idx AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |    min(doc_id) AS keeper
      |  FROM documents WHERE doc_id % 5 <> 4 GROUP BY 1)
      |SELECT d.doc_id,
      | md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      | idx.keeper IS NOT NULL AS is_dup,
      | idx.keeper
      |FROM documents d
      |LEFT JOIN idx ON md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) = idx.fp
      |WHERE d.doc_id % 5 = 4""".stripMargin
}
