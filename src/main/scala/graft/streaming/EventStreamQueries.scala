package graft.streaming

import graft.QuerySpec
import graft.ops.TextOps

/** The session queries, each with the DuckDB SQL that checks it. */
object EventStreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q33_sessionize", (s, d) => EventStream.sessionizeBatch(s, d),
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                        + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM ev),
        |numbered AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        | min(ts) AS session_start, max(ts) AS session_end,
        | count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM numbered GROUP BY user_id, session_seq""".stripMargin),
    // q85: session_window's end bound is EXCLUSIVE (last event + gap),
    // so an event landing exactly `gap` after its predecessor starts a
    // NEW session — hence `>=` in the twin's new-session flag where
    // q33's gaps-and-islands uses `>`, and session_evict = max(ts) + gap.
    QuerySpec("q85_session_window", (s, d) => EventStream.sessionizeNative(s, d),
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                        + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM ev),
        |numbered AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id,
        | min(ts) AS session_start,
        | max(ts) + INTERVAL 30 MINUTE AS session_evict,
        | count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM numbered GROUP BY user_id, session_seq""".stripMargin),
    // q240: the q33 session chain + rank-1 entry + any-purchase flag
    QuerySpec("q240_entry_conversion", (s, d) => EventStream.entryChannelConversion(s, d),
      s"""WITH ev AS (
         |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
         |flagged AS (
         |  SELECT *, CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |                        + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
         |  FROM ev),
         |numbered AS (
         |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flagged),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
         |    ORDER BY ts, event_id) AS srn
         |  FROM numbered),
         |per_session AS (
         |  SELECT user_id, session_seq,
         |    max(CASE WHEN srn = 1 THEN event_type END) AS entry,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |  FROM ranked GROUP BY 1, 2)
         |SELECT entry, count(*) AS n_sessions,
         |  CAST(sum(converted) AS BIGINT) AS n_converted,
         |  ${TextOps.roundAtSql(
              "CAST(sum(converted) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS conv_rate
         |FROM per_session GROUP BY entry ORDER BY entry""".stripMargin),
    // q245: the q33 session CTE + per-session ordered type lists,
    // triple-unnest adjacency, session reach via a per-session rollup
    QuerySpec("q245_session_paths", (s, d) => EventStream.sessionPathTrigrams(s, d),
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                        + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM ev),
        |numbered AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |seq AS (
        |  SELECT user_id, session_seq, list(event_type ORDER BY ts, event_id) AS et
        |  FROM numbered GROUP BY 1, 2),
        |tri AS (
        |  SELECT user_id, session_seq,
        |    unnest(list_transform(range(0, greatest(len(et) - 2, 0)), i -> et[i + 1])) AS t1,
        |    unnest(list_transform(range(0, greatest(len(et) - 2, 0)), i -> et[i + 2])) AS t2,
        |    unnest(list_transform(range(0, greatest(len(et) - 2, 0)), i -> et[i + 3])) AS t3
        |  FROM seq WHERE len(et) >= 3),
        |pc AS (
        |  SELECT t1, t2, t3, user_id, session_seq, count(*) AS c
        |  FROM tri GROUP BY 1, 2, 3, 4, 5)
        |SELECT t1, t2, t3, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_sessions
        |FROM pc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
  )
}
