package graft.streaming

import graft.enrich.Enrich
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Structured Streaming surface (SURVEY.md §2.B streaming rows):
  * processing-time enrichment against a refreshing HTTP cache, event-time
  * watermark windows, and custom keyed state.
  *
  * The enrichment mapping (SURVEY.md §7.3): Flink reloads its lookup cache
  * on a timer thread; in Spark the stream-static join re-plans the static
  * side every micro-batch, and the source's TTL [[graft.sources.http.SnapshotCache]]
  * decides whether that re-plan re-fetches. The broadcast relation is
  * built once per snapshot load and reused by every micro-batch within
  * the interval. Invariants preserved: ≤1 fetch per refresh interval,
  * staleness ≤ interval, refresh failure fails the stream (no
  * stale-serving).
  */
object Streams {

  /** Processing-time enrichment of an unbounded stream against a cached
    * lookup table (the reference's core use case, README.md:106-133).
    * Reuse across micro-batches is keyed by snapshot load, so a batch never
    * sees a relation older than the TTL allows. `lookup` must be the raw
    * HTTP-source frame: persisting it would pin one snapshot and defeat
    * refresh. */
  def enrich(stream: DataFrame, lookup: DataFrame, condition: org.apache.spark.sql.Column,
             joinType: String = "left"): DataFrame =
    Enrich.lookupJoin(stream, lookup, condition, joinType)

  /** Event-time tumbling/sliding window aggregation with watermark
    * (ref declares the same watermark shape: FlinkHttpConnectorExample.scala:85).
    * The value sum accumulates in decimal so partial-aggregate merge order
    * (partitions × micro-batches) can't perturb the emitted double. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     windowDuration: String, slide: Option[String] = None): DataFrame = {
    val w = slide.map(s => window(col(tsCol), windowDuration, s))
      .getOrElse(window(col(tsCol), windowDuration))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Event-time session windows with watermark: gap-based sessionization
    * via `session_window` — windows merge while events arrive within `gap`
    * of the session, close when the watermark passes session end. The
    * batch shape of the same expression is oracle-checked as q35. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
                    gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup bounded by the watermark: each key is emitted
    * once; dedup state for keys older than the horizon is evicted, so
    * state stays bounded on an unbounded stream — the streaming shape of
    * [[graft.ops.Dedup.exact]] for continuous ingestion (dedup on the
    * document fingerprint upstream of a training pipeline). */
  def dedupWithinWatermark(docs: DataFrame, keyCol: String, tsCol: String,
                           watermark: String): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Keyed running state via mapGroupsWithState: running count + sum per
    * user — the custom-state escape hatch (KeyValueGroupedDataset). */
  def runningUserStats(events: Dataset[UserEvent]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[UserEvent], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(userId, 0L, 0.0))
          val batch = it.toSeq
          val next = UserStat(userId, prev.n + batch.size, prev.sum + batch.map(_.value).sum)
          state.update(next)
          next
      }
  }

  /** The same running stats on the arbitrary-state v2 API
    * (`transformWithState`, Spark 4): typed state handles with TTL and
    * timers, RocksDB-backed state store. Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider` on the session. */
  def runningUserStatsV2(events: Dataset[UserEvent]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Idle-session close via processing-time timers: a key's stats are
    * emitted only when no event has arrived for `gapMs` — the timer form
    * of session windows, for sinks that want exactly one record per
    * closed session. */
  def idleSessionClose(events: Dataset[UserEvent], gapMs: Long): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new IdleSessionProcessor(gapMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Running stats whose keyed state EXPIRES `ttlMs` after its last
    * update: the state-TTL form of the v2 API — on an unbounded key space
    * (e.g. per-document fingerprints) state stays bounded without any
    * explicit cleanup logic; a key silent for longer than the TTL restarts
    * from zero. TTL is processing-time based, hence TimeMode.ProcessingTime. */
  def runningUserStatsTtl(events: Dataset[UserEvent], ttlMs: Long): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlUserStatsProcessor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Session close on WATERMARK passage (event-time timers): each batch
    * re-arms the key's timer at max-event-ts + gapMs; when the event-time
    * watermark crosses it, the closed session is emitted and state
    * cleared. Deterministic replay (driven by data timestamps, not wall
    * clock) — the event-time counterpart of [[idleSessionClose]].
    * `events` must carry a watermark on `ts` before grouping. */
  def sessionCloseOnWatermark(events: Dataset[TimedEvent], gapMs: Long,
                              watermarkDelay: String = "0 seconds"): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new EventTimeSessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** StatefulProcessor form of the running per-user stats: one ValueState
  * per key, no TTL, no timers — the minimal v2-state shape. */
final class UserStatsProcessor
    extends StatefulProcessor[Long, UserEvent, UserStat] {
  @transient private var state: ValueState[UserStat] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserStat]("stat",
      Encoders.product[UserStat], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                               timerValues: TimerValues): Iterator[UserStat] = {
    val prev = if (state.exists()) state.get() else UserStat(key, 0L, 0.0)
    val batch = rows.toSeq
    val next = UserStat(key, prev.n + batch.size, prev.sum + batch.map(_.value).sum)
    state.update(next)
    Iterator.single(next)
  }
}

/** Timer-driven processor: every batch with events renews the key's idle
  * timer; the timer firing (no events for gapMs) emits the session total
  * and clears state — the registerTimer/handleExpiredTimer surface of the
  * v2 state API. */
final class IdleSessionProcessor(gapMs: Long)
    extends StatefulProcessor[Long, UserEvent, UserStat] {
  @transient private var state: ValueState[UserStat] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserStat]("sess",
      Encoders.product[UserStat], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                               timerValues: TimerValues): Iterator[UserStat] = {
    val prev = if (state.exists()) state.get() else UserStat(key, 0L, 0.0)
    val batch = rows.toSeq
    state.update(UserStat(key, prev.n + batch.size, prev.sum + batch.map(_.value).sum))
    // renew the idle timer: drop any pending timer, arm a fresh one
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + gapMs)
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[UserStat] = {
    val out = if (state.exists()) Iterator.single(state.get()) else Iterator.empty
    state.clear()
    out
  }
}

/** [[UserStatsProcessor]] with a TTL-bounded value state: the store
  * evicts (and `exists()` stops seeing) values not updated for `ttlMs` —
  * the declarative state-retention knob of the v2 API. */
final class TtlUserStatsProcessor(ttlMs: Long)
    extends StatefulProcessor[Long, UserEvent, UserStat] {
  @transient private var state: ValueState[UserStat] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserStat]("stat",
      Encoders.product[UserStat], TTLConfig(java.time.Duration.ofMillis(ttlMs)))
  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                               timerValues: TimerValues): Iterator[UserStat] = {
    val prev = if (state.exists()) state.get() else UserStat(key, 0L, 0.0)
    val batch = rows.toSeq
    val next = UserStat(key, prev.n + batch.size, prev.sum + batch.map(_.value).sum)
    state.update(next)
    Iterator.single(next)
  }
}

/** Event-time timer processor: handleInputRows re-arms the key's timer at
  * max-event-ts + gapMs; the timer expires when the WATERMARK (not the
  * wall clock) passes it, emitting the session and clearing state —
  * deterministic under replay. */
final class EventTimeSessionProcessor(gapMs: Long)
    extends StatefulProcessor[Long, TimedEvent, UserStat] {
  @transient private var state: ValueState[UserStat] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserStat]("sess",
      Encoders.product[UserStat], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
                               timerValues: TimerValues): Iterator[UserStat] = {
    val prev = if (state.exists()) state.get() else UserStat(key, 0L, 0.0)
    val batch = rows.toSeq
    state.update(UserStat(key, prev.n + batch.size, prev.sum + batch.map(_.value).sum))
    val maxTs = batch.map(_.ts.getTime).max
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(maxTs + gapMs)
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[UserStat] = {
    val out = if (state.exists()) Iterator.single(state.get()) else Iterator.empty
    state.clear()
    out
  }
}

final case class UserEvent(user_id: Long, event_type: String, value: Double)
final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
final case class UserStat(user_id: Long, n: Long, sum: Double)
