package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Sessionization over the `events` table.
  *
  * The reference's ingestion is chunk-streamed but batch-semantic —
  * HTTP chunks pipe through a parser into inserts with no watermarks,
  * windows, or state (reference harvest.js:19-51,77-85; SURVEY.md
  * §2b). The engine's session queries are gaps-and-islands forms the
  * oracle can check (q33, q240, q245 share `withSessionSeq`) plus
  * Spark's native `session_window` (q85), which also runs unchanged
  * on a watermarked stream.
  *
  * Scale notes: every session query is one user-keyed shuffle; on a
  * stream, session-window state is per-user and bounded by the
  * session gap (the watermark evicts closed sessions).
  */
object EventStream {

  /** Tag each event with `session_seq`, its session's ordinal within
    * the user: a new session starts after `gapMinutes` of inactivity,
    * in the deterministic (ts, event_id) order. */
  private def withSessionSeq(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession = when(
      col("ts") > lag(col("ts"), 1).over(w) + expr(s"INTERVAL $gapMinutes MINUTES"), 1
    ).otherwise(0)
    events.withColumn("session_seq",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** q33: batch sessionization (gaps-and-islands): a new session
    * starts after `gapMinutes` of inactivity. SQL-expressible for the
    * oracle. */
  def sessionizeBatch(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    withSessionSeq(Tables.events(spark, dir), gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))

  /** q240: session conversion by ENTRY channel — sessions from the
    * same 30-minute gaps-and-islands as [[sessionizeBatch]], each
    * labeled by its FIRST event's type, rolled up to sessions /
    * converted-sessions (contains a purchase) / conversion rate per
    * entry channel. The landing-page question q117's corpus funnel
    * and q237's journey attribution both skip: WHERE a session starts
    * predicts whether it converts, and entry channels with volume but
    * no conversion are the acquisition spend to cut.
    *
    * Exactness: entry = rank-1 row of the deterministic (ts,
    * event_id) session order; counts exact longs; rate one guarded
    * division under roundAt. Scale: ONE user-keyed shuffle feeds
    * sessionize, the entry rank and the per-session flag; the rollup
    * is channels-sized. */
  def entryChannelConversion(spark: SparkSession, dir: String,
                             gapMinutes: Int = 30): DataFrame = {
    val sess = withSessionSeq(Tables.events(spark, dir), gapMinutes)
    val ws = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val perSession = sess
      .withColumn("srn", row_number().over(ws))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(max(when(col("srn") === 1, col("event_type"))).as("entry"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
    perSession.groupBy(col("entry"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"))
      .select(col("entry"), col("n_sessions"), col("n_converted"),
        graft.ops.TextOps.roundAt(col("n_converted").cast("double") /
          col("n_sessions").cast("double"), 6).as("conv_rate"))
      .orderBy(col("entry"))
  }

  /** q245: top common 3-step event paths WITHIN sessions — the
    * sequence-mining readout between q133 (corpus transition matrix,
    * order 1, no session boundary) and q237 (whole-journey
    * attribution): which exact 3-step flows do users actually walk,
    * with both occurrence volume and session reach (a path can repeat
    * inside one looping session — n counts occurrences, n_sessions
    * counts sessions touched, and the gap between them is the loopiness
    * signal). Sessions are the same 30-minute gaps-and-islands as
    * [[sessionizeBatch]]; steps follow the deterministic (ts,
    * event_id) session order; trigrams never cross a session boundary.
    *
    * Exactness: all counts exact longs over a deterministic order.
    *
    * Scale: ONE user-keyed shuffle feeds sessionize and both lead
    * windows (same partitioning, no extra exchange); the rollup output
    * is types³-bounded — model-state-sized by construction. */
  def sessionPathTrigrams(spark: SparkSession, dir: String,
                          gapMinutes: Int = 30): DataFrame = {
    val sess = withSessionSeq(Tables.events(spark, dir), gapMinutes)
    val ws = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    sess
      .select(col("user_id"), col("session_seq"), col("event_type").as("t1"),
        lead(col("event_type"), 1).over(ws).as("t2"),
        lead(col("event_type"), 2).over(ws).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id"), col("session_seq")).as("n_sessions"))
      .orderBy(col("t1"), col("t2"), col("t3"))
  }

  /** Native session-window sessionization — Spark's built-in
    * `session_window(ts, gap)` instead of the hand-rolled
    * gaps-and-islands of [[sessionizeBatch]]: the same dynamic-gap
    * merge runs as ONE aggregation operator (and, on a stream with a
    * watermark, under incremental execution with state merging).
    * `session_window.end` is last-event + gap (the eviction bound),
    * NOT max(ts) — the DuckDB twin mirrors it as max(ts) + INTERVAL
    * gap. */
  def sessionizeNative(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_evict"),
        col("n_events"), col("total_value"))
}
