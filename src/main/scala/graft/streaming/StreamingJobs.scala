package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming jobs (SURVEY.md §2B B38–B42, streaming-only
  * half). The windowed aggregations reuse the exact expressions of
  * queries.StreamingOps — batch/stream parity is the design, the same
  * plan with a watermark in front.
  *
  * Reference analog: the status-polling loops (backup.sh:140-156) are a
  * hand-rolled event stream consumer; here state lives in the engine's
  * checkpointed state store. At scale: state is keyed (user_id /
  * dedup key) and sharded across executors; watermarks bound state
  * growth — late events beyond the bound drop instead of accumulating.
  */
object StreamingJobs {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserRunningCount(user_id: Long, n_events: Long)

  /** B38/B41: tumbling 1h counts with a 10-minute watermark — events
    * later than the watermark bound are dropped from the aggregate. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** B40: session windows (30-minute gap) per user on a stream. */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** EXT: stream-static enrichment — the event stream joins a static
    * (or per-batch refreshed) dimension, then aggregates per window.
    * The stream-static join is STATELESS: no watermark state for the
    * join, only the windowed agg holds state; the dim side re-resolves
    * each micro-batch, which is what makes slowly-changing dimensions
    * work without restarts. Batch parity: queries.StreamingOps
    * .streamStaticJoin (oracle-checked). */
  def enrichedTumbling(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("c_mktsegment"),
        col("n"))

  /** EXT (r15): SALTED stream-static enrichment — the niche where
    * manual salting is the ONLY skew mitigation. A stream-static join
    * compiles ONCE into the streaming plan: AQE never re-plans it
    * (there are no runtime shuffle stats to adapt on inside a
    * micro-batch's fixed plan), so a hot user_id concentrates every
    * micro-batch on one reducer forever — the exact failure AQE's
    * skew=true split cures in batch (SCALE.md r14 A/B: AQE beats
    * manual salt 2.5–2.7× THERE, which is why the batch default keeps
    * AQE on and no batch query salts). Here the premise is inverted:
    * the dim is too large / too frequently refreshed to broadcast
    * (shuffle_hash-hinted to pin the shuffled form the premise
    * implies) and the plan is frozen, so spreading each fact row over
    * `numSalts` (key, salt) reducers — dim replicated ×numSalts, cheap
    * because it IS dim-sized — is the one lever left. Result ≡ the
    * plain stream-static join (StreamingSpec pins parity and the
    * no-broadcast plan shape); batch-parity oracle form:
    * queries.Relational.joinSkewSalt. */
  def saltedEnrichment(
      events: DataFrame, dim: DataFrame, numSalts: Int = 8): DataFrame =
    graft.engine.Skew.saltedJoin(
      events.withWatermark("ts", "10 minutes"),
      dim.hint("shuffle_hash"), Seq("user_id"), numSalts)
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("c_mktsegment"),
        col("n"))

  final case class SessionAcc(
      seq: Long, startSec: Long, lastSec: Long, n: Long)
  final case class UserSession(
      user_id: Long, session_seq: Long, n_events: Long,
      duration_sec: Long, is_bounce: Boolean)

  /** EXT: streaming sessionization WITH SESSION IDENTITY — the exact
    * twin of the batch gaps-and-islands query (q_event_sessions,
    * EventOps.scala): per-user keyed state carries the open session;
    * a row whose second-floored gap from the previous exceeds `gapSec`
    * closes it (emitting the same (user_id, session_seq, n_events,
    * duration_sec, is_bounce) row the batch query derives, with the
    * same 1-based seq numbering), and an event-time timeout closes a
    * session no later row ever touches once the watermark passes
    * last + gap. `session_window` (sessionize above) gives the
    * window-keyed aggregate but no stable per-user ordinal — identity
    * is what downstream joins key on, hence the keyed-state form.
    *
    * Semantics parity with batch: gaps compare FLOOR-SECONDS
    * (unix_seconds in batch; floorDiv(ms,1000) here), in-batch rows
    * sort by (ts, event_id) — the batch window's total order — and
    * duration is lastSec - startSec. State is ONE open session per
    * user (O(users), watermark-bounded by the timeout); at 100 TB
    * state shards by user across executors like every keyed-state job
    * here. Cross-batch ordering relies on per-user event-time-ordered
    * arrival, as runningCountPerUser does; a production deployment
    * puts a watermark-bounded reorder buffer in front. */
  def sessionizeWithIds(
      events: Dataset[Event], gapSec: Long = 1800L): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    def close(userId: Long, st: SessionAcc): UserSession =
      UserSession(userId, st.seq, st.n, st.lastSec - st.startSec, st.n == 1)
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: no further row can extend it
            val st = state.get
            state.remove()
            Iterator(close(userId, st))
          } else {
            val out = Seq.newBuilder[UserSession]
            var cur = state.getOption
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val sec = Math.floorDiv(e.ts.getTime, 1000L)
              cur = cur match {
                case Some(st) if sec - st.lastSec <= gapSec =>
                  Some(st.copy(lastSec = sec, n = st.n + 1))
                case Some(st) =>
                  out += close(userId, st)
                  Some(SessionAcc(st.seq + 1, sec, sec, 1))
                case None =>
                  Some(SessionAcc(1, sec, sec, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // Clamp the close-timeout to AFTER the current watermark:
              // a micro-batch spanning more than the gap (normal in
              // catch-up/backfill — an sf5 replay hit it on its first
              // real run, r9) advances the watermark past
              // last+gap for users whose events sit early in the batch,
              // and an unclamped setTimeoutTimestamp then throws
              // IllegalArgumentException and KILLS THE QUERY. Clamped,
              // the stale session closes via the timeout path on the
              // next watermark advance — same emission semantics,
              // one-batch later delivery for already-expired sessions.
              val candidate = (st.lastSec + gapSec) * 1000L + 1000L
              state.setTimeoutTimestamp(
                math.max(candidate, state.getCurrentWatermarkMs() + 1000L))
            }
            out.result().iterator
          }
      }
  }

  /** r13: the SAME sessionization on Spark 4's `transformWithState` —
    * the new arbitrary-stateful API ("state v2") that succeeds
    * `[flat]mapGroupsWithState`: NAMED typed state slots from a
    * handle (value/list/map, each with optional TTL), explicit
    * event-time TIMERS instead of the single per-key timeout, and a
    * RocksDB-backed runtime (the API refuses the HDFS toy store — the
    * production posture is mandatory, not optional). The processor
    * reproduces [[sessionizeWithIds]]'s SessionAcc semantics exactly
    * — same fold, same watermark-clamped close timer, one-timer-at-a-
    * time via delete+register (timers accumulate across batches in
    * this API where setTimeoutTimestamp replaced) — and StreamingSpec
    * pins output parity between the two APIs on the same input, so
    * they are interchangeable implementations of the one operator. */
  final class SessionProcessor(gapSec: Long)
      extends StatefulProcessor[Long, Event, UserSession] {
    @transient private var state: ValueState[SessionAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionAcc](
        "session", Encoders.product[SessionAcc], TTLConfig.NONE)

    private def close(userId: Long, st: SessionAcc): UserSession =
      UserSession(userId, st.seq, st.n, st.lastSec - st.startSec, st.n == 1)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserSession] = {
      val out = Seq.newBuilder[UserSession]
      var cur = if (state.exists()) Some(state.get()) else None
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val sec = Math.floorDiv(e.ts.getTime, 1000L)
        cur = cur match {
          case Some(st) if sec - st.lastSec <= gapSec =>
            Some(st.copy(lastSec = sec, n = st.n + 1))
          case Some(st) =>
            out += close(userId, st)
            Some(SessionAcc(st.seq + 1, sec, sec, 1))
          case None =>
            Some(SessionAcc(1, sec, sec, 1))
        }
      }
      cur.foreach { st =>
        state.update(st)
        // one live timer per key: this API's timers ACCUMULATE (no
        // setTimeoutTimestamp overwrite semantics), so replace the
        // previous close timer; clamp past the watermark for the same
        // batch-spans-more-than-the-gap reason as sessionizeWithIds
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        val candidate = (st.lastSec + gapSec) * 1000L + 1000L
        getHandle.registerTimer(
          math.max(candidate, tv.getCurrentWatermarkInMs() + 1000L))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(
        userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[UserSession] =
      if (state.exists()) {
        val st = state.get()
        state.clear()
        Iterator(close(userId, st))
      } else Iterator.empty
  }

  /** [[sessionizeWithIds]] on the transformWithState runtime (requires
    * the RocksDB state store provider). */
  def sessionizeTws(
      events: Dataset[Event], gapSec: Long = 1800L): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** B42a: stateful exact dedup by event_id with bounded state — the
    * streaming form of dropDuplicates where the watermark ages keys out. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** B43: stream-stream interval join — for every error event, the
    * click events by the same user in the preceding 5 minutes. Both
    * sides carry watermarks and the join condition bounds event time
    * on both sides, so the state store retains only the 5-minute
    * (+watermark slack) click buffer per user — the condition is what
    * makes unbounded-stream ⋈ unbounded-stream finite-state. Batch
    * parity: queries.StreamingOps.streamJoin runs the same predicate
    * as a plain interval join (oracle-checked). */
  def clicksBeforeErrors(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val e = errors.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_ts"))
    e.join(c, expr(
      """c_user = user_id
         AND click_ts >= error_ts - INTERVAL 5 MINUTES
         AND click_ts < error_ts"""))
      .select(col("user_id"), col("error_id"), col("error_ts"),
        col("click_id"), col("click_ts"))
  }

  /** B42b: arbitrary keyed state — running event count per user via
    * flatMapGroupsWithState (the mapGroupsWithState family). */
  def runningCountPerUser(events: Dataset[Event]): Dataset[UserRunningCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, UserRunningCount](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Long]) =>
          val prior = state.getOption.getOrElse(0L)
          val total = prior + rows.size
          state.update(total)
          Iterator(UserRunningCount(userId, total))
      }
  }

  final case class LastView(view_id: Long, ts_us: Long)
  final case class Attribution(
      event_id: Long, user_id: Long,
      attr_view_id: Option[Long], gap_us: Option[Long])

  /** EXT: streaming last-touch attribution — the online twin of
    * q_event_attribution: per-user keyed state carries the most recent
    * view; each purchase is credited to it when within the lookback.
    * Within a micro-batch rows are sorted by (ts, event_id) before the
    * sequential pass — the same total order as the batch query — so a
    * view landing after a purchase in the SAME batch does not
    * attribute it. Cross-batch correctness relies on the source
    * delivering batches in event-time order for a user (as
    * runningCountPerUser's count does); a production deployment would
    * add a watermark-bounded reorder buffer in front. State is one
    * (view_id, ts) pair per user — O(users), not O(events). */
  def lastTouchAttribution(
      events: Dataset[Event],
      lookbackUs: Long = 7L * 86400L * 1000000L): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastView, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[LastView]) =>
          var last = state.getOption
          val out = Seq.newBuilder[Attribution]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val tsUs = e.ts.getTime * 1000L
            if (e.event_type == "view") {
              last = Some(LastView(e.event_id, tsUs))
            } else {
              val attr = last.filter(v => tsUs - v.ts_us <= lookbackUs)
              out += Attribution(e.event_id, userId,
                attr.map(_.view_id), attr.map(v => tsUs - v.ts_us))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
