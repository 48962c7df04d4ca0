package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream. The
  * reference has no streaming surface (SURVEY §2.10) — this is the
  * Spark-native extension path: watermarked windowed aggregation and
  * custom session state via flatMapGroupsWithState. The same
  * transformations run on a batch DataFrame (Spark's unified API), so
  * the batch oracles in EventsQ validate the logic and the streaming
  * specs validate incremental execution.
  */
object EventStreams {

  case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  case class SessionState(start: Long, lastMs: Long, nEvents: Long)

  case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)

  /** Tumbling-window counts/sums with a watermark for late data.
    * Works on both readStream and batch DataFrames. */
  def windowedStats(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Per-window heavy hitters with bounded state — the streaming
    * shape of "top users per hour" on an unbounded stream. State per
    * window is one space-saving summary (O(capacity), see
    * [[graft.operators.TopK.spaceSaving]]), NOT a counter per
    * distinct user, so the query's state store stays flat however
    * many ids flow through; the watermark expires whole windows.
    * Works identically on a batch DataFrame (the stream==batch spec
    * twin), and is exact whenever a window's distinct ids fit
    * `capacity`. */
  def windowedHeavyHitters(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours", k: Int = 3,
      capacity: Int = 64): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(graft.operators.TopK.spaceSaving(k, capacity)(col("user_id"))
        .as("hh"))
      .select(col("window.start").as("window_start"),
        posexplode(col("hh")).as(Seq("i", "h")))
      .select(col("window_start"), (col("i") + 1).as("rnk"),
        col("h.id").as("user_id"), col("h.count").as("est_count"),
        col("h.err").as("max_err"))

  /** Streaming exact dedup — the incremental twin of
    * `operators.Dedup.exact`: drop rows whose key was already seen,
    * with state bounded by the watermark horizon
    * (dropDuplicatesWithinWatermark expires keys as the watermark
    * passes, so state is O(keys-per-horizon), not O(stream)). State
    * is hash-partitioned by the key columns — content hashes keep it
    * uniform at any scale. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based sessionization with explicit keyed state: a session
    * closes after `gapMs` of inactivity. State per user is O(1) —
    * the shape that scales to any key cardinality because state lives
    * in the state store, partitioned by user. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.lastMs <= gapMs =>
                cur = Some(s.copy(lastMs = t, nEvents = s.nEvents + 1))
              case Some(s) =>
                closed += Session(userId, s.start, s.lastMs, s.nEvents)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Production sessionization: event-time timeout driven by the
    * watermark, so a session also closes when the stream goes quiet —
    * not only when the user's next event arrives. State per key stays
    * O(1); timeouts fire as the watermark passes lastEvent + gap. */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.lastMs, s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(s.copy(lastMs = t, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed += Session(userId, s.start, s.lastMs, s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None => cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream. Stateless — no watermark, no join state: each micro-batch
    * hash-joins against the (broadcast) static side, and the static
    * table may be arbitrarily large relative to the batch. The
    * standard shape for user/product/profile enrichment in front of
    * windowed aggregation. */
  def enrichStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: attribute each view to the same
    * user's purchases from the preceding `intervalMs` — the online
    * feature-attribution shape. Both inputs carry watermarks and the
    * join condition bounds purchase_ts to a window ending at view_ts,
    * so Spark derives a state watermark for BOTH sides and evicts
    * joined state as event time advances — state is
    * O(events-per-horizon), never O(stream). Left-outer (the
    * default): a view with no qualifying purchase emits with nulls
    * once the watermark proves none can arrive; `joinType = "inner"`
    * emits matches as they form, with no watermark-gated null rows —
    * the variant whose bounded-input output is complete under any
    * micro-batching (q60 pins it against the DuckDB oracle). Works
    * identically on batch frames (unified API) — the spec checks
    * stream == batch. */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
      intervalMs: Long = 3600000L,
      watermark: String = "2 hours",
      joinType: String = "leftOuter"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    v.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("view_ts") &&
        col("purchase_ts") >=
          col("view_ts") - expr(s"INTERVAL $intervalMs MILLISECONDS"),
      joinType)
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  /** Flush still-open sessions (batch-mode helper for tests/backfill:
    * emits what sessionize holds in state at end-of-input). */
  def sessionizeBatch(events: Dataset[Event], gapMs: Long): DataFrame = {
    import events.sparkSession.implicits._
    val ds = events
    ds.groupByKey(_.user_id).flatMapGroups { (userId, rows) =>
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[Session]
      var cur: Option[SessionState] = None
      for (e <- sorted) {
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.lastMs <= gapMs =>
            cur = Some(s.copy(lastMs = t, nEvents = s.nEvents + 1))
          case Some(s) =>
            out += Session(userId, s.start, s.lastMs, s.nEvents)
            cur = Some(SessionState(t, t, 1))
          case None => cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach(s => out += Session(userId, s.start, s.lastMs, s.nEvents))
      out.result().iterator
    }.toDF()
  }
}
