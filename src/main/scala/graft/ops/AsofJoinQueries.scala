package graft.ops

import graft.QuerySpec

/** The as-of and interval join queries, each with the DuckDB SQL that
  * checks it. */
object AsofJoinQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q34_asof_join", (s, d) => AsofJoin.eventsToLatestOrder(s, d),
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        |     e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
        |FROM e ASOF JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin),
    QuerySpec("q41_interval_join", (s, d) => AsofJoin.eventPairsWithin(s, d),
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 4 HOUR
        | AND a.event_id <> b.event_id""".stripMargin),
    QuerySpec("q76_asof_forward", (s, d) => AsofJoin.ordersToNextEvent(s, d),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS event_id
        |           FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events) GROUP BY 1, 2),
        |     o AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, e.event_id, e.ts
        |FROM o ASOF JOIN e ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts""".stripMargin),
    // q154: q34's ASOF made LEFT + a staleness bound on the match —
    // stale/absent matches null out with matched = false
    QuerySpec("q154_asof_tolerance", (s, d) => AsofJoin.eventsToRecentOrderTolerant(s, d),
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        |     e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT e.event_id, e.user_id, e.ts,
        | CASE WHEN o.o_orderdate + INTERVAL 8400 DAYS >= e.ts
        |      THEN o.o_orderkey END AS o_orderkey,
        | CASE WHEN o.o_orderdate + INTERVAL 8400 DAYS >= e.ts
        |      THEN o.o_orderdate END AS o_orderdate,
        | coalesce(o.o_orderdate + INTERVAL 8400 DAYS >= e.ts, FALSE) AS matched
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin),
  )
}
