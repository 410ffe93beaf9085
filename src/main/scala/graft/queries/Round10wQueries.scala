package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch w: conversion-latency analytics — how long the
  * view→purchase journey takes, the figure a growth team reads next to
  * the funnel levels (windowFunnel tells you IF users convert;
  * this batch tells you WHEN). Latencies are integer SECONDS derived
  * from epoch micros by `div`, so every figure is exact.
  *
  *  - q_conversion_latency_hist: log2-bucketed histogram of first-view
  *    → first-purchase-after latency.
  *  - q_conversion_latency_quantiles: exact DISCRETE p50/p90 latency
  *    per activity stratum — the value AT rank (n+1)/2 resp.
  *    (9n+9)/10, an actual data point both engines select identically
  *    (interpolated percentiles of doubles would not mirror).
  *  - q_step_latency_compare: median view→click vs click→purchase step
  *    latency over each user's first chain (batch 10u's anchor
  *    machinery) — which hop loses the time.
  *
  * Scale posture: per-user struct-min reductions anchor the chains
  * (one shuffle on the user key); exact ranks come from
  * GlobalRank.withGroupRank — a bare Window.partitionBy(stratum) over
  * raw rows would sort everything in 4 tasks at 100×, the r4
  * scale-killer class the utility exists to purge.
  */
object Round10wQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))

  /** Per converting user: first view, first purchase strictly after it
    * (total (us, event_id) order), latency in whole seconds, and the
    * activity stratum (the scale-invariant thresholds of batch 10s).
    */
  private def latencies(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val firstView = e.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min(struct(col("us"), col("event_id"))).as("v"))
      .select(col("user_id"), col("v.us").as("v_us"),
        col("v.event_id").as("v_id"))
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("us") > col("v_us") ||
        (col("us") === col("v_us") && col("event_id") > col("v_id")))
      .groupBy("user_id")
      .agg(min(struct(col("us"), col("event_id"))).as("p"))
      .select(col("user_id"), col("p.us").as("p_us"))
    val counts = e.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    firstPurchase
      .join(firstView, Seq("user_id"))
      .join(counts, Seq("user_id"))
      .withColumn("latency_s", expr("(p_us - v_us) div 1000000L"))
      .withColumn("stratum",
        when(col("n_events") <= 60, 0)
          .when(col("n_events") <= 66, 1)
          .when(col("n_events") <= 73, 2)
          .otherwise(3))
      .select("user_id", "latency_s", "stratum")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_conversion_latency_hist" -> ((s, dir) => {
      latencies(s, dir)
        .withColumn("bucket", length(bin(col("latency_s") + 1)) - 1)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_users"),
          min(col("latency_s")).as("min_s"),
          max(col("latency_s")).as("max_s"))
        .orderBy("bucket")
    }),

    "q_conversion_latency_quantiles" -> ((s, dir) => {
      val base = graft.CacheScope.retain(latencies(s, dir))
      val ranked = graft.operators.GlobalRank.withGroupRank(
        base, Seq("stratum"), col("latency_s"), col("user_id"), "rk")
      val ns = base.groupBy("stratum").agg(count(lit(1)).as("n"))
      val p50Pos = expr("(n + 1) div 2")
      val p90Pos = expr("(n * 9 + 9) div 10")
      ranked.join(broadcast(ns), Seq("stratum"))
        .filter(col("rk") === p50Pos || col("rk") === p90Pos)
        .groupBy("stratum")
        .agg(max(col("n")).as("n"),
          max(when(col("rk") === p50Pos, col("latency_s"))).as("p50_s"),
          max(when(col("rk") === p90Pos, col("latency_s"))).as("p90_s"))
        .orderBy("stratum")
    }),

    "q_step_latency_compare" -> ((s, dir) => {
      val e = graft.CacheScope.retain(ev(s, dir))
      val firstView = e.filter(col("event_type") === "view")
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"))).as("v"))
        .select(col("user_id"), col("v.us").as("v_us"),
          col("v.event_id").as("v_id"))
      val firstClick = e.filter(col("event_type") === "click")
        .join(firstView, Seq("user_id"))
        .filter(col("us") > col("v_us") ||
          (col("us") === col("v_us") && col("event_id") > col("v_id")))
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"))).as("c"))
        .select(col("user_id"), col("c.us").as("c_us"),
          col("c.event_id").as("c_id"))
      val firstPurchase = e.filter(col("event_type") === "purchase")
        .join(firstClick, Seq("user_id"))
        .filter(col("us") > col("c_us") ||
          (col("us") === col("c_us") && col("event_id") > col("c_id")))
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"))).as("p"))
        .select(col("user_id"), col("p.us").as("p_us"))
      val steps = firstClick.join(firstView, Seq("user_id"))
        .select(col("user_id"), lit("1_view_to_click").as("step"),
          expr("(c_us - v_us) div 1000000L").as("latency_s"))
        .unionByName(firstPurchase.join(firstClick, Seq("user_id"))
          .select(col("user_id"), lit("2_click_to_purchase").as("step"),
            expr("(p_us - c_us) div 1000000L").as("latency_s")))
      val base = graft.CacheScope.retain(steps)
      val ranked = graft.operators.GlobalRank.withGroupRank(
        base, Seq("step"), col("latency_s"), col("user_id"), "rk")
      val ns = base.groupBy("step").agg(count(lit(1)).as("n"))
      val p50Pos = expr("(n + 1) div 2")
      ranked.join(broadcast(ns), Seq("step"))
        .filter(col("rk") === p50Pos)
        .groupBy("step")
        .agg(max(col("n")).as("n"),
          max(col("latency_s")).as("p50_s"))
        .orderBy("step")
    }))

  private val latSql =
    """e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events
      |), fv AS (
      |  SELECT user_id,
      |    MIN(struct_pack(us := us, event_id := event_id)) AS v
      |  FROM e WHERE event_type = 'view' GROUP BY user_id
      |), fv2 AS (
      |  SELECT user_id, v.us AS v_us, v.event_id AS v_id FROM fv
      |), fp AS (
      |  SELECT e.user_id,
      |    MIN(struct_pack(us := e.us, event_id := e.event_id)) AS p
      |  FROM e JOIN fv2 ON e.user_id = fv2.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND (e.us > fv2.v_us
      |      OR (e.us = fv2.v_us AND e.event_id > fv2.v_id))
      |  GROUP BY e.user_id
      |), cnt AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM e GROUP BY 1
      |), lat AS (
      |  SELECT fp.user_id, (fp.p.us - fv2.v_us) // 1000000 AS latency_s,
      |    CASE WHEN cnt.n_events <= 60 THEN 0
      |      WHEN cnt.n_events <= 66 THEN 1
      |      WHEN cnt.n_events <= 73 THEN 2 ELSE 3 END AS stratum
      |  FROM fp
      |  JOIN fv2 ON fp.user_id = fv2.user_id
      |  JOIN cnt ON fp.user_id = cnt.user_id
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_conversion_latency_hist" ->
      s"""WITH $latSql
         |SELECT CAST(LENGTH(BIN(latency_s + 1)) - 1 AS INTEGER)
         |    AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  MIN(latency_s) AS min_s, MAX(latency_s) AS max_s
         |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_conversion_latency_quantiles" ->
      s"""WITH $latSql, ranked AS (
         |  SELECT stratum, latency_s,
         |    row_number() OVER (PARTITION BY stratum
         |      ORDER BY latency_s, user_id) AS rk
         |  FROM lat
         |), ns AS (
         |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM lat GROUP BY 1
         |)
         |SELECT r.stratum, MAX(ns.n) AS n,
         |  MAX(CASE WHEN r.rk = (ns.n + 1) // 2
         |    THEN r.latency_s END) AS p50_s,
         |  MAX(CASE WHEN r.rk = (ns.n * 9 + 9) // 10
         |    THEN r.latency_s END) AS p90_s
         |FROM ranked r JOIN ns ON r.stratum = ns.stratum
         |WHERE r.rk = (ns.n + 1) // 2 OR r.rk = (ns.n * 9 + 9) // 10
         |GROUP BY r.stratum ORDER BY r.stratum""".stripMargin,

    "q_step_latency_compare" ->
      s"""WITH $latSql, fc AS (
         |  SELECT e.user_id,
         |    MIN(struct_pack(us := e.us, event_id := e.event_id)) AS c
         |  FROM e JOIN fv2 ON e.user_id = fv2.user_id
         |  WHERE e.event_type = 'click'
         |    AND (e.us > fv2.v_us
         |      OR (e.us = fv2.v_us AND e.event_id > fv2.v_id))
         |  GROUP BY e.user_id
         |), fc2 AS (
         |  SELECT user_id, c.us AS c_us, c.event_id AS c_id FROM fc
         |), fpc AS (
         |  SELECT e.user_id,
         |    MIN(struct_pack(us := e.us, event_id := e.event_id)) AS p
         |  FROM e JOIN fc2 ON e.user_id = fc2.user_id
         |  WHERE e.event_type = 'purchase'
         |    AND (e.us > fc2.c_us
         |      OR (e.us = fc2.c_us AND e.event_id > fc2.c_id))
         |  GROUP BY e.user_id
         |), steps AS (
         |  SELECT fc2.user_id, '1_view_to_click' AS step,
         |    (fc2.c_us - fv2.v_us) // 1000000 AS latency_s
         |  FROM fc2 JOIN fv2 ON fc2.user_id = fv2.user_id
         |  UNION ALL
         |  SELECT fpc.user_id, '2_click_to_purchase',
         |    (fpc.p.us - fc2.c_us) // 1000000
         |  FROM fpc JOIN fc2 ON fpc.user_id = fc2.user_id
         |), ranked AS (
         |  SELECT step, latency_s,
         |    row_number() OVER (PARTITION BY step
         |      ORDER BY latency_s, user_id) AS rk
         |  FROM steps
         |), ns AS (
         |  SELECT step, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM steps GROUP BY 1
         |)
         |SELECT r.step, MAX(ns.n) AS n,
         |  MAX(CASE WHEN r.rk = (ns.n + 1) // 2
         |    THEN r.latency_s END) AS p50_s
         |FROM ranked r JOIN ns ON r.step = ns.step
         |WHERE r.rk = (ns.n + 1) // 2
         |GROUP BY r.step ORDER BY r.step""".stripMargin)
}
