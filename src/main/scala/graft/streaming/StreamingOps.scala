package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming parity for the reference's sink semantics
  * (SURVEY.md §2b streaming tail). The reference couples a count trigger
  * (sink.batch-size) with a private wait/notify flusher thread waking
  * every sink.flush-interval (ClickHouseBatchExecutor.java:82-123); in
  * Spark the micro-batch boundary IS the time trigger
  * (Trigger.ProcessingTime), and the count trigger lives in the
  * per-partition writer — same delivery contract, engine-managed.
  */
/** One changelog record in the keyed-state stream. */
case class ChangeRecord(key: Long, op: String, value: Double)

/** A changelog record with event time (for timer-based state expiry). */
case class TimedChange(key: Long, op: String, value: Double,
    ts: java.sql.Timestamp)

/** Live collapsing net state for one key. */
case class NetState(key: Long, net: Long)

/** One emitted high-watermark alert (prevMax None on the first alert). */
case class Alert(key: Long, value: Double, prevMax: Option[Double])

case class ItemEvent(key: Long, item: String)

/** Current top-k items for a key, ordered by (count DESC, item ASC). */
case class TopItems(key: Long, items: Seq[String])

case class RollingSum(key: Long, n: Int, sum: Double)

object StreamingOps {

  /** Changelog op -> collapsing sign (R10): I/+U add, -U/D retract —
    * the ONE definition shared by every keyed-state net computation.
    */
  def opSign(op: String): Long =
    if (op == "I" || op == "+U") 1L else -1L

  /** stream_tumbling_watermark: event-time tumbling window counts with a
    * watermark bounding state; late rows beyond the watermark are dropped
    * (stream_late_data_drop).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, watermark: String,
      window_ : String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension table — the standard lookup-join shape (the static side is
    * re-read per batch and broadcast when small; no state is kept).
    */
  def enrich(stream: DataFrame, dim: DataFrame,
      joinKeys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), joinKeys)

  /** stream_dedup_state: stateful exact dedup on a key with watermarked
    * state eviction — the streaming analog of ReplacingMergeTree's
    * "first write wins within the state horizon" (R11).
    */
  def dedupByKey(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** stream_dedup_ttl: key-only dedup with bounded state — duplicates of
    * a key are dropped while the key's state lives, and the state is
    * evicted once the watermark passes its event time plus the delay
    * (Flink's `Deduplication` with state TTL). Unlike dedupByKey the
    * event time is NOT part of the identity: a key re-arriving with a
    * new timestamp inside the horizon is still a duplicate, and the
    * same key after eviction is accepted again — the bounded-memory
    * contract that makes streaming dedup survive an unbounded stream.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      watermark: String, keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Custom keyed state: a live per-key collapsing net count maintained
    * with flatMapGroupsWithState — the streaming materialization of the
    * CollapsingMergeTree semantic (R10): state += sign(op) per record,
    * emitting the running net on every update. This is what the
    * ClickHouse server does at merge time, held as Spark operator state.
    */
  def collapsingNetStateStream(
      changelog: org.apache.spark.sql.Dataset[ChangeRecord])
      : org.apache.spark.sql.Dataset[NetState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = changelog.sparkSession
    import spark.implicits._
    changelog.groupByKey(_.key)
      .flatMapGroupsWithState[Long, NetState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, records: Iterator[ChangeRecord],
         state: GroupState[Long]) =>
          val delta = records.map(r => StreamingOps.opSign(r.op)).sum
          val net = state.getOption.getOrElse(0L) + delta
          state.update(net)
          Iterator(NetState(key, net))
      }
  }

  /** Stream-stream interval join (Flink's interval join, the canonical
    * upstream of the reference sink): left rows matched to right rows of
    * the same key whose event time falls in [left.ts - lower, left.ts].
    * Both sides carry watermarks so Spark bounds the join state — the
    * same state-retention contract Flink derives from the interval
    * bounds. Column requirements: both frames expose `user_id` and a
    * timestamp column named by ts{Left,Right}.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      tsLeft: String, tsRight: String, watermark: String,
      lower: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsLeft, watermark)
    val r = right.withWatermark(tsRight, watermark)
    l.join(r,
      l("user_id") === r("user_id") &&
      r(tsRight) <= l(tsLeft) &&
      r(tsRight) >= l(tsLeft) - expr(s"INTERVAL $lower"),
      joinType)
      .drop(r("user_id"))
  }

  /** Left-outer stream-stream interval join: unmatched left rows are
    * emitted null-padded once the watermark proves no matching right row
    * can still arrive (the interval bound is the state horizon) — the
    * Flink left interval join's late-null-emission semantics,
    * engine-managed by Spark's outer-join watermark protocol.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      tsLeft: String, tsRight: String, watermark: String,
      lower: String): DataFrame =
    intervalJoin(left, right, tsLeft, tsRight, watermark, lower,
      joinType = "left_outer")

  /** Full-outer stream-stream interval join: unmatched rows from BOTH
    * sides emit null-padded once the watermark closes their interval —
    * the complete outer-join matrix Flink's interval join exposes, with
    * Spark's watermark protocol bounding state on both sides. Unlike
    * the inner/left variants the key survives as `join_key` =
    * coalesce(left, right): dropping the right key would orphan
    * right-only rows (their left key is null).
    */
  def intervalJoinFullOuter(left: DataFrame, right: DataFrame,
      tsLeft: String, tsRight: String, watermark: String,
      lower: String): DataFrame = {
    val l = left.withWatermark(tsLeft, watermark)
    val r = right.withWatermark(tsRight, watermark)
    l.join(r,
        l("user_id") === r("user_id") &&
        r(tsRight) <= l(tsLeft) &&
        r(tsRight) >= l(tsLeft) - expr(s"INTERVAL $lower"),
        "full_outer")
      .withColumn("join_key", coalesce(l("user_id"), r("user_id")))
      .drop(l("user_id")).drop(r("user_id"))
  }

  /** Keyed state with an event-time TIMER (Flink ProcessFunction timer
    * parity): per-key running net that emits a FINAL record only when
    * the watermark passes last-event-time + gap — the state expires and
    * the result is released exactly once, like a Flink timer callback.
    * Input rows: (key, op, value, eventTime).
    */
  def expiringNetState(
      changelog: org.apache.spark.sql.Dataset[TimedChange], gapMs: Long)
      : org.apache.spark.sql.Dataset[NetState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = changelog.sparkSession
    import spark.implicits._
    changelog
      // milliseconds verbatim: integer seconds would truncate the
      // allowed lateness below the timer gap (0s for sub-second gaps)
      .withWatermark("ts", s"$gapMs milliseconds")
      .as[TimedChange]
      .groupByKey(_.key)
      // state = (net, max event time seen) — the timer must always be
      // armed from the MAX ts across batches: re-arming from only the
      // current batch would let a late-but-valid out-of-order record
      // pull an armed timer earlier and expire the session before
      // last-event-time + gap
      .flatMapGroupsWithState[(Long, Long), NetState](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, records: Iterator[TimedChange],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // the timer fired: release the final net and drop the state
            val net = state.getOption.map(_._1).getOrElse(0L)
            state.remove()
            Iterator(NetState(key, net))
          } else {
            val rs = records.toSeq
            val delta = rs.map(r => StreamingOps.opSign(r.op)).sum
            val (net0, maxTs0) = state.getOption.getOrElse((0L, 0L))
            val maxTs = math.max(maxTs0, rs.map(_.ts.getTime).max)
            state.update((net0 + delta, maxTs))
            state.setTimeoutTimestamp(maxTs + gapMs)
            Iterator.empty
          }
      }
  }

  /** High-watermark alerting on the Spark-4 transformWithState API
    * (the arbitrary-state v2 operator): per key, emit an alert when a
    * reading exceeds the running maximum by at least `delta` — the
    * debounced threshold-crossing detector behind rate/limit alerts.
    * State is ONE double per key in a named ValueState, checkpointed
    * by the RocksDB state store (the provider transformWithState
    * requires); the running max advances on every reading, alerted or
    * not, so a slow creep never re-alerts but a genuine jump does.
    */
  def highWatermarkAlerts(
      readings: org.apache.spark.sql.Dataset[ChangeRecord], delta: Double)
      : org.apache.spark.sql.Dataset[Alert] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = readings.sparkSession
    import spark.implicits._
    readings.groupByKey(_.key)
      .transformWithState(new HighWatermarkProcessor(delta),
        TimeMode.None(), OutputMode.Update())
  }

  /** expiringNetState re-expressed on transformWithState: per-key
    * running net released ONCE by an explicit event-time timer when the
    * watermark passes last-event-time + gap — the v2 replica of the
    * flatMapGroupsWithState timer contract above (same re-arm-from-max
    * rule), showing the explicit registerTimer/handleExpiredTimer
    * protocol instead of GroupStateTimeout.
    */
  def expiringNetStateV2(
      changelog: org.apache.spark.sql.Dataset[TimedChange], gapMs: Long)
      : org.apache.spark.sql.Dataset[NetState] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = changelog.sparkSession
    import spark.implicits._
    changelog
      .withWatermark("ts", s"$gapMs milliseconds")
      .as[TimedChange]
      .groupByKey(_.key)
      .transformWithState(new SessionNetProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-key streaming top-k on transformWithState MAP state: a named
    * MapState[item → count] accumulates across batches, and each batch
    * with input for a key re-emits that key's current top-k (count
    * DESC, item ASC — a total order) in update mode. The state is one
    * entry per distinct item PER KEY — the RocksDB-backed map the
    * v2 API exists for; a ValueState holding the whole map would
    * rewrite every entry on every update.
    */
  def streamTopKItems(events: org.apache.spark.sql.Dataset[ItemEvent],
      k: Int): org.apache.spark.sql.Dataset[TopItems] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.key)
      .transformWithState(new TopKItemsProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Sliding-window rolling sum over the last `window` readings per key
    * on transformWithState LIST state: the buffer is a bounded ring —
    * append, trim to the last `window` via put(), emit (n, sum) per
    * reading. The detector shape behind "alert when the last N
    * readings sum past X" with state bounded at N values per key.
    */
  def rollingWindowSum(readings: org.apache.spark.sql.Dataset[ChangeRecord],
      window: Int): org.apache.spark.sql.Dataset[RollingSum] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = readings.sparkSession
    import spark.implicits._
    readings.groupByKey(_.key)
      .transformWithState(new RollingSumProcessor(window),
        TimeMode.None(), OutputMode.Update())
  }

  /** stream_update_sink: session-window event counts per user emitted in
    * update mode — the retract/upsert-producing aggregation shape the
    * reference's README feeds into the sink (README.md:6-11).
    */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
      gap: String, keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events"))
}

/** transformWithState processor for highWatermarkAlerts: a named
  * ValueState holds the per-key running max; rows iterate in batch
  * order, alerting on jumps ≥ delta over the last known max.
  */
class HighWatermarkProcessor(delta: Double)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ChangeRecord, Alert] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}

  @transient private var maxSeen: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxSeen = getHandle.getValueState[Double](
      "maxSeen", Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[ChangeRecord],
      timerValues: TimerValues): Iterator[Alert] = {
    val out = Seq.newBuilder[Alert]
    rows.foreach { r =>
      if (!maxSeen.exists()) {
        out += Alert(key, r.value, None) // first reading establishes the baseline
        maxSeen.update(r.value)
      } else {
        val prev = maxSeen.get()
        if (r.value >= prev + delta) out += Alert(key, r.value, Some(prev))
        if (r.value > prev) maxSeen.update(r.value)
      }
    }
    out.result().iterator
  }
}

/** transformWithState processor for expiringNetStateV2: net and
  * max-event-time in two ValueStates; ONE event-time timer per key,
  * always re-armed from the max ts seen (the same rule as
  * expiringNetState — re-arming from the current batch alone would let
  * an out-of-order record fire the session early). The expired-timer
  * callback releases the final net exactly once and clears the state.
  */
class SessionNetProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, TimedChange, NetState] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}

  @transient private var net: ValueState[Long] = _
  @transient private var maxTs: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    net = getHandle.getValueState[Long](
      "net", Encoders.scalaLong, TTLConfig.NONE)
    maxTs = getHandle.getValueState[Long](
      "maxTs", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[TimedChange],
      timerValues: TimerValues): Iterator[NetState] = {
    var delta = 0L
    var batchMax = 0L
    rows.foreach { r =>
      delta += StreamingOps.opSign(r.op)
      batchMax = math.max(batchMax, r.ts.getTime)
    }
    val net0 = if (net.exists()) net.get() else 0L
    val max0 = if (maxTs.exists()) maxTs.get() else 0L
    val maxNow = math.max(max0, batchMax)
    net.update(net0 + delta)
    maxTs.update(maxNow)
    // exactly one armed timer per key: drop any stale one, re-arm at
    // last-event-time + gap
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(maxNow + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[NetState] = {
    val finalNet = if (net.exists()) net.get() else 0L
    net.clear(); maxTs.clear()
    Iterator.single(NetState(key, finalNet))
  }
}

/** transformWithState processor for streamTopKItems: MapState holds
  * item → count for the key; each input batch bumps counts and emits
  * ONE TopItems row with the key's current top-k under the total order
  * (count DESC, item ASC).
  */
class TopKItemsProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ItemEvent, TopItems] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TTLConfig, TimerValues}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[ItemEvent],
      timerValues: TimerValues): Iterator[TopItems] = {
    rows.foreach { r =>
      val prev = if (counts.containsKey(r.item)) counts.getValue(r.item)
                 else 0L
      counts.updateValue(r.item, prev + 1L)
    }
    val top = counts.iterator().toSeq
      .sortBy { case (item, n) => (-n, item) }
      .take(k).map(_._1)
    Iterator.single(TopItems(key, top))
  }
}

/** transformWithState processor for rollingWindowSum: ListState as a
  * bounded ring buffer — append the reading, trim to the newest
  * `window` values with put(), emit the window size and sum per
  * reading.
  */
class RollingSumProcessor(window: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ChangeRecord, RollingSum] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TTLConfig, TimerValues}

  @transient private var recent: ListState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    recent = getHandle.getListState[Double](
      "recent", Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[ChangeRecord],
      timerValues: TimerValues): Iterator[RollingSum] = {
    val out = Seq.newBuilder[RollingSum]
    rows.foreach { r =>
      val kept = (recent.get().toSeq :+ r.value).takeRight(window)
      recent.put(kept.toArray)
      out += RollingSum(key, kept.size, kept.sum)
    }
    out.result().iterator
  }
}
