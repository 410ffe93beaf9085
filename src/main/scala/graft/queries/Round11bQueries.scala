package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-11 second batch: the remaining ClickHouse behavioral-analytics
  * combinators a reference user reaches for (r10 verdict #4) —
  * windowFunnel's strict modes, the TIME-BOUNDED sequenceMatch, and the
  * groupArrayMoving* family. All per-user work stays keyed on user_id
  * (windows or conditional-min joins), so nothing here is a corpus-level
  * product.
  *
  *  - q_sequence_match_timed: ClickHouse
  *    `sequenceMatch('(?1)(?t<3600)(?2)')(ts, view, click)` — the
  *    pattern-ADJACENT pair semantics: conditions 1 and 2 must be
  *    adjacent in the subsequence of events matching ANY condition
  *    (a view or click between them breaks adjacency; unrelated event
  *    types are invisible, per the CH doc example), with the gap under
  *    3600 s. One lead() over the filtered per-user stream gives both
  *    sequenceMatch (exists) and sequenceCount (adjacent pairs never
  *    overlap). Ordering pinned by (ts, event_id) on both engines.
  *  - q_funnel_strict_order: windowFunnel(1h, 'strict_order')
  *    (view→click→purchase): an intervening event of ANY other kind
  *    stops the chain (CH doc: A→B→D→C scores 2), i.e. matched steps
  *    must be CONSECUTIVE events in the user's full stream. lead(type,
  *    1/2) + lead(us, 1/2) per anchor view, max level over anchors,
  *    level histogram — directly comparable to q_window_funnel's
  *    default-mode histogram.
  *  - q_funnel_strict_dedup: windowFunnel(1h, 'strict_deduplication'):
  *    a REPEAT of an already-matched condition interrupts the chain —
  *    a second view strictly between anchor and click kills step 2, a
  *    view or click strictly between click and purchase kills step 3
  *    (ties at the boundary do not interrupt: the gap tests are
  *    strict, pinned identically in the oracle). Conditional-min
  *    user-keyed joins, same skeleton as q_window_funnel.
  *  - q_group_array_moving: groupArrayMovingSum(7)/MovingAvg(7) over
  *    the per-type daily value series — the long-form (event_type,
  *    day) rows of the arrays CH would return, decimal-routed; the
  *    7-row window is rowsBetween(-6, 0) ordered by day.
  */
object Round11bQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_sequence_match_timed" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val W = 3600L * 1000000L
      val vc = Tables(s, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val adj = vc
        .withColumn("nxt_type", lead(col("event_type"), 1).over(w))
        .withColumn("nxt_us", lead(col("us"), 1).over(w))
        // when/otherwise, not a bare boolean cast: a user's LAST event
        // has NULL lead columns, and sum/max must see 0 there (the
        // oracle's CASE ... ELSE 0 never yields NULL)
        .withColumn("hit",
          when(col("event_type") === "view" && col("nxt_type") === "click" &&
            col("nxt_us") - col("us") < lit(W), 1L).otherwise(0L))
      val perUser = adj.groupBy("user_id")
        .agg(sum(col("hit")).as("n_matches"),
          max((col("event_type") === "view").cast("int")).as("has_v"),
          max((col("event_type") === "click").cast("int")).as("has_c"))
      perUser.agg(
        count(lit(1)).as("n_users_with_vc_events"),
        sum(when(col("n_matches") > 0, 1L).otherwise(0L))
          .as("n_users_matched"),
        sum(col("n_matches")).as("total_matches"),
        max(col("n_matches")).as("max_matches_per_user"),
        sum(when(col("has_v") === 1 && col("has_c") === 1, 1L)
          .otherwise(0L)).as("n_users_with_both"))
    }),

    "q_funnel_strict_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val W = 3600L * 1000000L
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      // strict_order: the chain must be CONSECUTIVE events — any other
      // event between steps stops it (CH: A->B->D->C scores 2)
      val scored = ev
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("u1", lead(col("us"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .withColumn("u2", lead(col("us"), 2).over(w))
        .filter(col("event_type") === "view")
        .select(col("user_id"),
          when(col("t1") === "click" && col("u1") <= col("us") + lit(W),
            when(col("t2") === "purchase" && col("u2") <= col("us") + lit(W),
              3).otherwise(2)).otherwise(1).as("lvl"))
      val best = scored.groupBy("user_id").agg(max(col("lvl")).as("best"))
      ev.select("user_id").distinct()
        .join(best, Seq("user_id"), "left")
        .select(coalesce(col("best"), lit(0)).as("level"))
        .groupBy("level").agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    }),

    "q_funnel_strict_dedup" -> ((s, dir) => {
      val W = 3600L * 1000000L
      val ev = graft.CacheScope.retain(Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us")))
      val anchors = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("a1"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("v_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"))
      // step 2: earliest qualifying click AND the earliest repeat view
      // after the anchor — a repeat view strictly before the click
      // interrupts (strict_deduplication)
      val s2 = anchors.join(clicks, Seq("user_id"), "left")
        .groupBy("user_id", "a1")
        .agg(min(when(col("c_us") > col("a1") &&
          col("c_us") <= col("a1") + lit(W), col("c_us"))).as("c1"))
        .join(views, Seq("user_id"), "left")
        .groupBy("user_id", "a1", "c1")
        .agg(min(when(col("v_us") > col("a1"), col("v_us"))).as("rv"))
        .select(col("user_id"), col("a1"),
          when(col("c1").isNotNull &&
            (col("rv").isNull || col("rv") >= col("c1")), col("c1"))
            .as("t2"))
      // step 3: earliest qualifying purchase after t2 — a view OR click
      // strictly between t2 and the purchase interrupts
      val s3 = s2.join(purchases, Seq("user_id"), "left")
        .groupBy("user_id", "a1", "t2")
        .agg(min(when(col("p_us") > col("t2") &&
          col("p_us") <= col("a1") + lit(W), col("p_us"))).as("p1"))
        .join(views.union(clicks.toDF("user_id", "v_us")),
          Seq("user_id"), "left")
        .groupBy("user_id", "a1", "t2", "p1")
        .agg(min(when(col("v_us") > col("t2"), col("v_us"))).as("rvc"))
        .select(col("user_id"),
          when(col("p1").isNotNull &&
            (col("rvc").isNull || col("rvc") >= col("p1")), 3)
            .when(col("t2").isNotNull, 2).otherwise(1).as("lvl"))
      val best = s3.groupBy("user_id").agg(max(col("lvl")).as("best"))
      ev.select("user_id").distinct()
        .join(best, Seq("user_id"), "left")
        .select(coalesce(col("best"), lit(0)).as("level"))
        .groupBy("level").agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    }),

    "q_group_array_moving" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("value").cast(dec).as("v"))
        .groupBy("event_type", "d")
        .agg(sum(col("v")).as("daily"))
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(-6, 0)
      daily
        .withColumn("mov_sum7", sum(col("daily")).over(w))
        .withColumn("mov_n", count(lit(1)).over(w))
        .select(col("event_type"), col("d"),
          col("daily").cast("string").cast("double").as("daily"),
          col("mov_sum7").cast("string").cast("double").as("mov_sum7"),
          // moving average = the string-routed double sum / exact int
          // count: ONE IEEE division on identical operands in both
          // engines (decimal-division scale rules differ between them)
          (col("mov_sum7").cast("string").cast("double") / col("mov_n"))
            .as("mov_avg7"))
        .orderBy("event_type", "d")
    }))

  val oracle: Map[String, String] = Map(

    "q_sequence_match_timed" ->
      """WITH vc AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type IN ('view', 'click')
        |), adj AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER w AS nxt_type,
        |    lead(us) OVER w - us AS gap
        |  FROM vc
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), per_user AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'view' AND nxt_type = 'click'
        |      AND gap < 3600000000 THEN 1 ELSE 0 END) AS n_matches,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c
        |  FROM adj GROUP BY user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users_with_vc_events,
        |  CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_matched,
        |  CAST(SUM(n_matches) AS BIGINT) AS total_matches,
        |  CAST(MAX(n_matches) AS BIGINT) AS max_matches_per_user,
        |  CAST(SUM(CASE WHEN has_v = 1 AND has_c = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_users_with_both
        |FROM per_user""".stripMargin,

    "q_funnel_strict_order" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events
        |), led AS (
        |  SELECT user_id, event_type, us,
        |    lead(event_type, 1) OVER w AS t1, lead(us, 1) OVER w AS u1,
        |    lead(event_type, 2) OVER w AS t2, lead(us, 2) OVER w AS u2
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), scored AS (
        |  SELECT user_id,
        |    CASE WHEN t1 = 'click' AND u1 <= us + 3600000000 THEN
        |      CASE WHEN t2 = 'purchase' AND u2 <= us + 3600000000
        |        THEN 3 ELSE 2 END
        |    ELSE 1 END AS lvl
        |  FROM led WHERE event_type = 'view'
        |), best AS (
        |  SELECT user_id, MAX(lvl) AS best FROM scored GROUP BY user_id
        |)
        |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT COALESCE(b.best, 0) AS level
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN best b USING (user_id)
        |) GROUP BY level ORDER BY level""".stripMargin,

    "q_funnel_strict_dedup" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), anchors AS (
        |  SELECT user_id, us AS a1 FROM ev WHERE event_type = 'view'
        |), s2 AS (
        |  SELECT q.user_id, q.a1,
        |    CASE WHEN q.c1 IS NOT NULL AND (r.rv IS NULL OR r.rv >= q.c1)
        |      THEN q.c1 END AS t2
        |  FROM (
        |    SELECT a.user_id, a.a1,
        |      MIN(CASE WHEN c.us > a.a1 AND c.us <= a.a1 + 3600000000
        |        THEN c.us END) AS c1
        |    FROM anchors a LEFT JOIN
        |      (SELECT user_id, us FROM ev WHERE event_type = 'click') c
        |      ON a.user_id = c.user_id
        |    GROUP BY a.user_id, a.a1
        |  ) q LEFT JOIN (
        |    SELECT a.user_id, a.a1,
        |      MIN(CASE WHEN v.us > a.a1 THEN v.us END) AS rv
        |    FROM anchors a LEFT JOIN
        |      (SELECT user_id, us FROM ev WHERE event_type = 'view') v
        |      ON a.user_id = v.user_id
        |    GROUP BY a.user_id, a.a1
        |  ) r ON q.user_id = r.user_id AND q.a1 = r.a1
        |), s3 AS (
        |  SELECT q.user_id,
        |    CASE WHEN q.p1 IS NOT NULL AND (r.rvc IS NULL OR r.rvc >= q.p1)
        |      THEN 3 WHEN q.t2 IS NOT NULL THEN 2 ELSE 1 END AS lvl
        |  FROM (
        |    SELECT s.user_id, s.a1, s.t2,
        |      MIN(CASE WHEN p.us > s.t2 AND p.us <= s.a1 + 3600000000
        |        THEN p.us END) AS p1
        |    FROM s2 s LEFT JOIN
        |      (SELECT user_id, us FROM ev WHERE event_type = 'purchase') p
        |      ON s.user_id = p.user_id
        |    GROUP BY s.user_id, s.a1, s.t2
        |  ) q LEFT JOIN (
        |    SELECT s.user_id, s.a1, s.t2,
        |      MIN(CASE WHEN x.us > s.t2 THEN x.us END) AS rvc
        |    FROM s2 s LEFT JOIN
        |      (SELECT user_id, us FROM ev
        |       WHERE event_type IN ('view', 'click')) x
        |      ON s.user_id = x.user_id
        |    GROUP BY s.user_id, s.a1, s.t2
        |  ) r ON q.user_id = r.user_id AND q.a1 = r.a1
        |    AND q.t2 IS NOT DISTINCT FROM r.t2
        |), best AS (
        |  SELECT user_id, MAX(lvl) AS best FROM s3 GROUP BY user_id
        |)
        |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT COALESCE(b.best, 0) AS level
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN best b USING (user_id)
        |) GROUP BY level ORDER BY level""".stripMargin,

    "q_group_array_moving" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS daily
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), moved AS (
        |  SELECT event_type, d, daily,
        |    SUM(daily) OVER w AS mov_sum7,
        |    COUNT(*) OVER w AS mov_n
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, d,
        |  CAST(CAST(daily AS VARCHAR) AS DOUBLE) AS daily,
        |  CAST(CAST(mov_sum7 AS VARCHAR) AS DOUBLE) AS mov_sum7,
        |  CAST(CAST(mov_sum7 AS VARCHAR) AS DOUBLE) / mov_n AS mov_avg7
        |FROM moved ORDER BY event_type, d""".stripMargin)
}
