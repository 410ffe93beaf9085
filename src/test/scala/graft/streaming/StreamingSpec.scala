package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.sink.dsv2.MemorySinkRegistry

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

/** Streaming parity (SURVEY.md §2b tail): MemoryStream-driven checks of
  * watermarked windows, late-data drop, stateful dedup, and streams
  * written through `writeStream.format("clickhouse-style")`.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Runs each feed step as its own micro-batch (processAllAvailable in
    * between) — without the barrier, MemoryStream folds every addData
    * into one batch and the watermark never advances mid-test.
    */
  private def runToMemory(df: org.apache.spark.sql.DataFrame,
      name: String, mode: String)(feed: (() => Unit)*): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      feed.foreach { step => step(); q.processAllAvailable() }
    } finally q.stop()
  }

  test("stream_tumbling_watermark: windowed counts emitted on close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val agg = StreamingOps.tumblingCounts(mem.toDF(), "ts",
      watermark = "10 minutes", window_ = "5 minutes")
    runToMemory(agg, "tumbling_out", "append")(
      () => mem.addData(Ev(1, ts(1), 1, 1.0), Ev(2, ts(3), 1, 1.0),
        Ev(3, ts(7), 2, 1.0)),
      // advance event time far enough to close the earlier windows
      () => mem.addData(Ev(4, ts(40), 1, 1.0)))
    val got = spark.table("tumbling_out")
      .orderBy("window_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    assert(got.toSeq == Seq(("2024-01-01 10:00:00.0", 2L),
      ("2024-01-01 10:05:00.0", 1L)))
  }

  test("stream_late_data_drop: rows behind the watermark are discarded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val agg = StreamingOps.tumblingCounts(mem.toDF(), "ts",
      watermark = "5 minutes", window_ = "5 minutes")
    runToMemory(agg, "late_out", "append")(
      () => mem.addData(Ev(1, ts(1), 1, 1.0)),
      () => mem.addData(Ev(2, ts(45), 1, 1.0)), // watermark -> 10:40
      () => mem.addData(Ev(3, ts(2), 1, 1.0)),  // late: dropped
      () => mem.addData(Ev(4, ts(55), 1, 1.0))) // flush remaining windows
    val n0 = spark.table("late_out")
      .filter(col("window_start") === ts(0)).select("n")
      .collect().map(_.getLong(0))
    assert(n0.toSeq == Seq(1L)) // the late row did not bump the count
  }

  test("stream_dedup_state: duplicate (key, ts) delivered twice counts once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val dedup = StreamingOps.dedupByKey(mem.toDF(), "ts", "10 minutes",
      Seq("event_id"))
    runToMemory(dedup, "dedup_out", "append")(
      () => mem.addData(Ev(1, ts(1), 1, 1.0), Ev(1, ts(1), 1, 1.0)),
      () => mem.addData(Ev(1, ts(1), 1, 1.0)), // dup across batches
      () => mem.addData(Ev(2, ts(2), 1, 1.0)))
    assert(spark.table("dedup_out").count() == 2)
  }

  test("stream_dedup_ttl: key-only dedup, state evicted past the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val dedup = StreamingOps.dedupWithinWatermark(mem.toDF(), "ts",
      "10 minutes", Seq("event_id"))
    runToMemory(dedup, "dedup_ttl_out", "append")(
      // same key, DIFFERENT ts, inside the horizon: still a duplicate
      () => mem.addData(Ev(1, ts(1), 1, 1.0), Ev(1, ts(2), 1, 1.0)),
      () => mem.addData(Ev(1, ts(3), 1, 1.0)),
      // advance the watermark far past key 1's state (+10 min delay)
      () => mem.addData(Ev(2, ts(55), 1, 1.0)),
      // key 1 re-arrives AFTER eviction: accepted as a fresh row
      () => mem.addData(Ev(1, ts(59), 1, 1.0)))
    val out = spark.table("dedup_ttl_out")
    assert(out.count() == 3, out.collect().mkString(", "))
    assert(out.filter($"event_id" === 1).count() == 2)
  }

  /** A writer of `df` to the clickhouse-style sink's memory endpoint. */
  private def toSink(df: org.apache.spark.sql.DataFrame, table: String,
      mode: String): DataStreamWriter[Row] = {
    MemorySinkRegistry.clearTable(table)
    df.writeStream.format("clickhouse-style")
      .outputMode(mode)
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", table)
      .option("primary-key", "user_id")
      .option("graft.executor", "memory")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString)
  }

  test("stream_append_sink: micro-batches drive the buffered sink (R4/R9)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "op", "value")
    // the trigger interval carries the reference's flush-interval
    val q = toSink(df, "t_append_sink", "append")
      .option("sink.batch-size", "2")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      mem.addData((1L, "I", 1.0), (2L, "D", 2.0), (3L, "+U", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = MemorySinkRegistry.allFor("t_append_sink").flatMap(_._2)
    // insert-only mode (no collapsing/replacing field): the D row is dropped
    assert(rows.map(_.getLong(0)).sorted == Seq(1L, 3L))
  }

  test("stream-static enrichment join (broadcast lookup per batch)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    val joined = StreamingOps.enrich(mem.toDF(), dim, Seq("user_id"))
      .select("event_id", "tier")
    runToMemory(joined, "enrich_out", "append")(
      () => mem.addData(Ev(10, ts(1), 1, 1.0), Ev(11, ts(2), 2, 1.0),
        Ev(12, ts(3), 99, 1.0))) // 99 has no dim row -> dropped (inner)
    val got = spark.table("enrich_out").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((10L, "gold"), (11L, "silver")))
  }

  test("flatMapGroupsWithState: live collapsing net state per key (R10)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[ChangeRecord]
    val net = StreamingOps.collapsingNetStateStream(mem.toDS())
    runToMemory(net.toDF(), "net_out", "update")(
      () => mem.addData(ChangeRecord(1, "I", 1.0), ChangeRecord(1, "+U", 2.0),
        ChangeRecord(2, "I", 5.0)),
      () => mem.addData(ChangeRecord(1, "-U", 1.0), ChangeRecord(2, "D", 5.0)))
    // latest emission per key reflects cumulative state across batches
    val latest = spark.table("net_out").groupBy("key")
      .agg(org.apache.spark.sql.functions.min("net").as("net"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == Map(1L -> 1L, 2L -> 0L)) // key1: +1+1-1, key2: +1-1
  }

  test("file-source streaming: parquet ingest through agg into the sink") {
    // end-to-end: readStream over a parquet directory (the 100 TB ingest
    // shape), per-user counts in update mode, appended through the
    // clickhouse-style sink — the full pipeline a production deployment runs
    import org.apache.spark.sql.functions.{count, lit}
    val src = java.nio.file.Files.createTempDirectory("graft-fstream")
    import spark.implicits._
    Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema("user_id LONG, value DOUBLE")
      .parquet(src.toString)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val q = toSink(stream, "t_file_agg", "update").start()
    try q.processAllAvailable() finally q.stop()
    val rows = MemorySinkRegistry.allFor("t_file_agg").flatMap(_._2)
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows == Seq((1L, 2L), (2L, 1L)))
  }

  test("stream-stream interval join matches only in-window purchases") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamingOps.intervalJoin(
      clicks.toDF().withColumnRenamed("ts", "c_ts")
        .withColumnRenamed("event_id", "c_id"),
      purchases.toDF().withColumnRenamed("ts", "p_ts")
        .withColumnRenamed("event_id", "p_id"),
      tsLeft = "c_ts", tsRight = "p_ts",
      watermark = "30 minutes", lower = "10 minutes")
      .select("c_id", "p_id")
    runToMemory(joined, "interval_out", "append")(
      () => purchases.addData(Ev(100, ts(0), 1, 9.0), // 5 min before click
        Ev(101, ts(30), 1, 9.0)),                     // 25 min after click
      () => clicks.addData(Ev(1, ts(5), 1, 1.0)),
      // advance both watermarks so the join state closes
      () => { clicks.addData(Ev(2, ts(59), 9, 1.0))
              purchases.addData(Ev(102, ts(59), 9, 9.0)) })
    val got = spark.table("interval_out").orderBy("c_id", "p_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // click 1 matches only purchase 100 (within [ts-10m, ts]); the
    // purchase 25 min later never matches; the watermark rows match
    // each other (same instant)
    assert(got.toSeq == Seq((1L, 100L), (2L, 102L)))
  }

  test("left-outer interval join emits unmatched rows null-padded " +
      "after the watermark closes the bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamingOps.intervalJoinLeftOuter(
      clicks.toDF().withColumnRenamed("ts", "c_ts")
        .withColumnRenamed("event_id", "c_id"),
      purchases.toDF().withColumnRenamed("ts", "p_ts")
        .withColumnRenamed("event_id", "p_id"),
      tsLeft = "c_ts", tsRight = "p_ts",
      watermark = "10 minutes", lower = "10 minutes")
      .select("c_id", "p_id")
    runToMemory(joined, "interval_outer_out", "append")(
      () => purchases.addData(Ev(100, ts(0), 1, 9.0)),
      () => clicks.addData(Ev(1, ts(5), 1, 1.0),   // matches purchase 100
        Ev(2, ts(5), 2, 1.0)),                     // no purchase: null row
      // push both watermarks far past click time + bound so the engine
      // can PROVE no matching purchase can still arrive for click 2
      () => { clicks.addData(Ev(3, ts(120), 9, 1.0))
              purchases.addData(Ev(102, ts(120), 9, 9.0)) })
    val got = spark.table("interval_outer_out").orderBy("c_id")
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // click 1 matched; click 2 emitted null-padded ONLY after the
    // watermark passed its interval bound; click 3 matched at the
    // same instant
    assert(got.toSeq == Seq((1L, 100L), (2L, -1L), (3L, 102L)))
  }

  test("full-outer interval join null-pads BOTH sides, key preserved") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamingOps.intervalJoinFullOuter(
      clicks.toDF().withColumnRenamed("ts", "c_ts")
        .withColumnRenamed("event_id", "c_id"),
      purchases.toDF().withColumnRenamed("ts", "p_ts")
        .withColumnRenamed("event_id", "p_id"),
      tsLeft = "c_ts", tsRight = "p_ts",
      watermark = "10 minutes", lower = "10 minutes")
      .select("join_key", "c_id", "p_id")
    runToMemory(joined, "interval_full_out", "append")(
      () => purchases.addData(
        Ev(100, ts(0), 1, 9.0),    // matched by click 1
        Ev(101, ts(5), 3, 9.0)),   // no click: right-only null row
      () => clicks.addData(
        Ev(1, ts(5), 1, 1.0),      // matches purchase 100
        Ev(2, ts(5), 2, 1.0)),     // no purchase: left-only null row
      // advance both watermarks far past every open interval
      () => { clicks.addData(Ev(3, ts(120), 9, 1.0))
              purchases.addData(Ev(102, ts(120), 9, 9.0)) })
    val got = spark.table("interval_full_out").orderBy("join_key")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // key survives on BOTH null-padded sides via coalesce
    assert(got.toSeq == Seq(
      (1L, 1L, 100L),    // matched
      (2L, 2L, -1L),     // left-only: no purchase for key 2
      (3L, -1L, 101L),   // right-only: no click for key 3
      (9L, 3L, 102L)),   // the watermark-advancing pair matches itself
      got.mkString(", "))
  }

  test("event-time timer expires keyed state and emits the final net") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[TimedChange]
    val net = StreamingOps.expiringNetState(mem.toDS(), gapMs = 5 * 60000)
    runToMemory(net.toDF(), "expire_out", "append")(
      () => mem.addData(TimedChange(1, "I", 1.0, ts(0)),
        TimedChange(1, "+U", 1.0, ts(1)),
        TimedChange(2, "I", 5.0, ts(1)),
        TimedChange(2, "D", 5.0, ts(2))),
      // watermark far past key 1 and 2's timers -> both expire
      () => mem.addData(TimedChange(9, "I", 0.0, ts(59))),
      // one more batch so the timer fires on the advanced watermark
      () => mem.addData(TimedChange(9, "I", 0.0, ts(59))))
    val got = spark.table("expire_out").orderBy("key")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // finals released exactly once per expired key: 1 -> +1+1, 2 -> +1-1
    assert(got.toSeq == Seq((1L, 2L), (2L, 0L)))
  }

  test("stream_update_sink: session-window counts (append on close)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val agg = StreamingOps.sessionCounts(mem.toDF(), "ts", "10 minutes",
      gap = "5 minutes", keyCol = "user_id")
    // Spark 4 supports session windows in append mode only: sessions
    // emit when the watermark passes their close.
    runToMemory(agg, "session_out", "append")(
      () => mem.addData(Ev(1, ts(1), 7, 1.0), Ev(2, ts(3), 7, 1.0)),
      () => mem.addData(Ev(3, ts(30), 7, 1.0)),
      () => mem.addData(Ev(4, ts(55), 7, 1.0)))
    val sessions = spark.table("session_out")
      .orderBy("session_start").collect().map(_.getLong(2))
    assert(sessions.take(2).toSeq == Seq(2L, 1L))
  }

  /** transformWithState requires the RocksDB state store; scope the
    * provider override to one test so the rest of the suite keeps the
    * default HDFS-backed provider.
    */
  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: high-watermark alerts debounce small creep") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[ChangeRecord]
      val alerts = StreamingOps.highWatermarkAlerts(mem.toDS(), delta = 5.0)
      runToMemory(alerts.toDF(), "hwm_out", "update")(
        () => mem.addData(ChangeRecord(1, "I", 10.0)),  // baseline -> alert
        () => mem.addData(ChangeRecord(1, "I", 12.0)),  // creep: no alert
        () => mem.addData(ChangeRecord(1, "I", 17.0)),  // 12 -> 17: alert
        () => mem.addData(ChangeRecord(1, "I", 18.0)),  // creep: no alert
        () => mem.addData(ChangeRecord(2, "I", 1.0)))   // new key baseline
      val got = spark.table("hwm_out")
        .orderBy("key", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      assert(got.toSeq == Seq(
        (1L, 10.0, None), (1L, 17.0, Some(12.0)), (2L, 1.0, None)))
    }
  }

  test("transformWithState: MapState top-k items per key across batches") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[ItemEvent]
      val top = StreamingOps.streamTopKItems(mem.toDS(), k = 2)
      runToMemory(top.toDF(), "topk_out", "update")(
        () => mem.addData(ItemEvent(1, "apple"), ItemEvent(1, "pear"),
          ItemEvent(1, "apple"), ItemEvent(2, "kiwi")),
        () => mem.addData(ItemEvent(1, "plum"), ItemEvent(1, "plum"),
          ItemEvent(1, "plum")))
      // update mode: take the LAST emission per key
      val rows = spark.table("topk_out").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList))
      // key 1 emitted twice: first (apple 2, pear 1), then plum=3 wins
      val key1 = rows.filter(_._1 == 1L)
      assert(key1.toSeq == Seq((1L, List("apple", "pear")),
        (1L, List("plum", "apple"))))
      assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, List("kiwi"))))
    }
  }

  test("transformWithState: ListState bounded ring gives sliding sums") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[ChangeRecord]
      val roll = StreamingOps.rollingWindowSum(mem.toDS(), window = 3)
      runToMemory(roll.toDF(), "roll_out", "update")(
        () => mem.addData(ChangeRecord(7, "I", 1.0),
          ChangeRecord(7, "I", 2.0)),
        () => mem.addData(ChangeRecord(7, "I", 4.0),
          ChangeRecord(7, "I", 8.0)))
      val got = spark.table("roll_out").collect()
        .map(r => (r.getInt(1), r.getDouble(2))).toSeq
      // window 3: sums 1, 3, then 7 (1+2+4), 14 (2+4+8) - state trimmed
      assert(got == Seq((1, 1.0), (2, 3.0), (3, 7.0), (3, 14.0)))
    }
  }

  test("transformWithState: event-time timer releases the final net (v2)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[TimedChange]
      val net = StreamingOps.expiringNetStateV2(mem.toDS(), gapMs = 5 * 60000)
      runToMemory(net.toDF(), "expire_v2_out", "append")(
        () => mem.addData(TimedChange(1, "I", 1.0, ts(0)),
          TimedChange(1, "+U", 1.0, ts(1)),
          TimedChange(2, "I", 5.0, ts(1)),
          TimedChange(2, "D", 5.0, ts(2))),
        // watermark far past both keys' timers -> both expire
        () => mem.addData(TimedChange(9, "I", 0.0, ts(59))),
        // one more batch so the timers fire on the advanced watermark
        () => mem.addData(TimedChange(9, "I", 0.0, ts(59))))
      val got = spark.table("expire_v2_out").orderBy("key")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // finals exactly once per expired key, same as the v1 operator
      assert(got.toSeq == Seq((1L, 2L), (2L, 0L)))
    }
  }
}
