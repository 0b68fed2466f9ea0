package graft.ops

import graft.QuerySpec

/** The multimodal family's registered queries, each with the DuckDB SQL
  * that checks it. */
object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q31_media_meta", (s, d) => MultimodalOps.mediaMeta(s, d),
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'png'
        |      WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format,
        | CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS width,
        | CAST(240 + (doc_id % 4) * 120 AS INTEGER) AS height,
        | CAST((320 + (doc_id % 4) * 160) / 2 AS INTEGER) AS target_width,
        | CAST((240 + (doc_id % 4) * 120) / 2 AS INTEGER) AS target_height,
        | octet_length(encode(text)) AS n_bytes,
        | len(range(0, (doc_id % 120) + 1,
        |   CAST(greatest(1, ceil(((doc_id % 120) + 1) / 8.0)) AS BIGINT))) AS frames_sampled
        |FROM documents""".stripMargin),
    // q32: the stub decoder is a 16-bin byte histogram, so its
    // integer-exact observables are recomputable from the raw bytes:
    // hist_sum is 1.0 for any non-empty payload, and bin6_count is the
    // number of bytes with high nibble 6 — counted here by walking the
    // hex encoding two chars per byte (DuckDB has no BLOB slicing).
    QuerySpec("q32_multimodal_features", (s, d) => MultimodalOps.mediaFeatures(s, d),
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents)
        |SELECT doc_id,
        | CAST(CASE WHEN n = 0 THEN 0.0 ELSE 1.0 END AS DOUBLE) AS hist_sum,
        | CAST(len(list_filter(range(n),
        |   i -> substr(hx, CAST(i*2+1 AS INTEGER), 1) = '6')) AS BIGINT) AS bin6_count
        |FROM b""".stripMargin),
    // q98: the oracle recomputes the 16 quantized histogram levels
    // from the payload bytes (the q32 hex-walk generalized: one
    // unnest over byte positions, grouped by high nibble) and
    // brute-forces all pairs at L1 <= 2 — candidate generation is
    // engine-private, the SEMANTIC contract is the full pair set,
    // which the banding reaches exactly by pigeonhole
    QuerySpec("q98_neardup_media", (s, d) => MultimodalOps.nearDupMedia(s, d),
      """WITH b AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |g AS (SELECT doc_id, n, unnest(range(n)) AS i, hx FROM b),
        |counts AS (
        |  SELECT doc_id, any_value(n) AS n,
        |    strpos('0123456789abcdef', substr(hx, CAST(i*2+1 AS INT), 1)) - 1 AS nib,
        |    count(*) AS c
        |  FROM g GROUP BY doc_id, nib),
        |lv AS (SELECT doc_id, nib, least(255, (c * 256) // n) AS q FROM counts),
        |fl AS (
        |  SELECT d.doc_id, h.h, coalesce(lv.q, 0) AS q
        |  FROM (SELECT doc_id FROM documents) d
        |  CROSS JOIN (SELECT unnest(range(16)) AS h) h
        |  LEFT JOIN lv ON lv.doc_id = d.doc_id AND lv.nib = h.h)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(sum(abs(a.q - b.q)) AS BIGINT) AS dist
        |FROM fl a JOIN fl b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING sum(abs(a.q - b.q)) <= 2""".stripMargin),
    // q102: q98's level recompute split into batch/index slices, all
    // pairs brute-forced, per-batch-doc verdict aggregates (keeper and
    // best_dist are independent minima by contract)
    QuerySpec("q102_media_admission", (s, d) => MultimodalOps.mediaAdmission(s, d),
      """WITH b0 AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |g AS (SELECT doc_id, n, unnest(range(n)) AS i, hx FROM b0),
        |counts AS (
        |  SELECT doc_id, any_value(n) AS n,
        |    strpos('0123456789abcdef', substr(hx, CAST(i*2+1 AS INT), 1)) - 1 AS nib,
        |    count(*) AS c
        |  FROM g GROUP BY doc_id, nib),
        |lv AS (SELECT doc_id, nib, least(255, (c * 256) // n) AS q FROM counts),
        |fl AS (
        |  SELECT d.doc_id, h.h, coalesce(lv.q, 0) AS q
        |  FROM (SELECT doc_id FROM documents) d
        |  CROSS JOIN (SELECT unnest(range(16)) AS h) h
        |  LEFT JOIN lv ON lv.doc_id = d.doc_id AND lv.nib = h.h),
        |bb AS (SELECT * FROM fl WHERE doc_id % 5 = 4),
        |ii AS (SELECT * FROM fl WHERE doc_id % 5 <> 4),
        |hits AS (
        |  SELECT bb.doc_id, ii.doc_id AS idx_id,
        |    sum(abs(bb.q - ii.q)) AS dist
        |  FROM bb JOIN ii ON bb.h = ii.h
        |  GROUP BY bb.doc_id, ii.doc_id
        |  HAVING sum(abs(bb.q - ii.q)) <= 2),
        |v AS (
        |  SELECT doc_id, count(*) AS n_hits, min(idx_id) AS keeper,
        |    min(dist) AS best_dist
        |  FROM hits GROUP BY doc_id)
        |SELECT d.doc_id, v.n_hits IS NOT NULL AS is_dup,
        | CAST(coalesce(v.n_hits, 0) AS BIGINT) AS n_hits,
        | v.keeper, CAST(v.best_dist AS BIGINT) AS best_dist
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
        |LEFT JOIN v USING (doc_id)""".stripMargin),
  )
}
