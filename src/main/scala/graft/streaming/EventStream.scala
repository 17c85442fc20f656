package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.WordCount

/** Structured Streaming surface: the reference engine is batch-only
  * (SURVEY §2.13 — its reader→mapper queues are intra-job pipelining,
  * not a streaming API), so these are the faithful-in-spirit streaming
  * forms of the same computations, built on the engine's own operators.
  *
  * Scale design: streaming aggregations keep per-key state in the state
  * store, partitioned by the grouping key across
  * `spark.sql.shuffle.partitions` tasks; watermarks bound state size by
  * evicting windows older than the allowed lateness. The word-count
  * stream is exactly the batch plan run incrementally: each micro-batch
  * task counts its lines' words in its own table before the one word
  * repartition, which already has the stateful aggregate's distribution.
  */
/** Input event for [[EventStream.sessionize]]. Case classes are
  * top-level (not nested in the object): encoder-generated code needs
  * public, directly-constructible classes.
  */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp)

/** A closed user session produced by [[EventStream.sessionize]]. */
case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Per-user open-session state for [[EventStream.sessionize]]. */
case class SessionState(start_us: Long, last_us: Long, n: Long)

object EventStream {

  /** Streaming word count over a text-file directory (the reference's
    * pipeline, incremental): new files appearing under `dir` flow
    * through tokenize → normalize → stateful count. Update output mode
    * emits changed (word, count) rows per trigger.
    */
  def wordCountStream(spark: SparkSession, dir: String): DataFrame =
    WordCount.count(spark.readStream.text(dir).where(col("value") =!= ""))

  /** Same pipeline over any streaming DataFrame with a `value` column
    * (e.g. a MemoryStream in tests, a socket/kafka source in prod).
    */
  def wordCount(lines: DataFrame): DataFrame = WordCount.count(lines)

  /** Event-time tumbling-window counts per event type with a watermark —
    * the streaming form of q15_events_hourly. State: one row per
    * (window, event_type); windows older than the 30 min watermark are
    * finalized and evicted.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window twin of [[hourlyCounts]] (1 h length, 15 min
    * slide): every event feeds 4 overlapping windows, so state holds
    * ~4× the window rows of the tumbling form inside the lateness
    * horizon — the overlap factor IS the state multiplier, the reason
    * production slides are as wide as the product tolerates.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"))


  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState) — the streaming form of q16_sessionize:
    * a >gap silence per user closes the session. State per user is O(1)
    * (start, last-seen, count).
    *
    * Timeouts are EVENT-TIME, anchored to the watermark: an idle user's
    * session closes when the watermark passes last_seen + gap. Do NOT
    * use ProcessingTimeTimeout here — it makes every trigger "have
    * work", so the query busy-loops empty batches and
    * `processAllAvailable` can never observe a quiesced stream.
    */
  def sessionize(
      spark: SparkSession,
      events: Dataset[UserEvent],
      gapMinutes: Int = 30,
      lateness: String = "0 seconds"): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start_us, s.last_us, s.n))
          } else {
            val sorted = rows.map(e => micros(e.ts)).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { ts =>
              cur match {
                case Some(s) if ts - s.last_us <= gapUs =>
                  cur = Some(s.copy(last_us = ts, n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, s.start_us, s.last_us, s.n)
                  cur = Some(SessionState(ts, ts, 1))
                case None =>
                  cur = Some(SessionState(ts, ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last_us + gapUs) / 1000L) // ms epoch
            }
            closed.reverseIterator
          }
      }
  }
}
