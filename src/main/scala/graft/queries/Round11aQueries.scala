package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-11 first batch: TEMPORAL band joins written the way users
  * actually write them — raw TimestampType/DateType columns compared
  * against INTERVAL literals, no pre-conversion to epoch micros —
  * planned scale-safe by the extended [[graft.plans.BandJoinRewrite]]
  * (r10 verdict #1: the integral-only rule left
  * `abs(a.ts - b.ts) <= INTERVAL '60' SECOND` to
  * BroadcastNestedLoopJoin; the temporal normalization pre-pass now
  * maps these shapes into the epoch-micros bucket machinery).
  *
  *  - q_ts_band_join_auto: the q_range_join_auto semantics (all
  *    view→purchase pairs within ±60 s) on RAW timestamps — identical
  *    output values to q_range_join_auto, so the two keys cross-check
  *    the normalization end to end.
  *  - q_ts_between_join_auto: the asymmetric band on raw timestamps
  *    via `between(ts - INTERVAL '30' SECOND, ts + INTERVAL '90'
  *    SECOND)` — TimestampAddInterval bound-pair recognition
  *    (cross-checks q_between_join_auto).
  *  - q_date_band_join_auto: DateType symmetric band — urgent orders
  *    placed within ±1 day of each other (SubtractDates vs a DAY
  *    interval), self-join with the `key <` residual kept intact,
  *    yearly pair counts.
  *  - q_date_between_join_auto: DateType bound pair via
  *    date_sub/date_add — urgent orders with a 2-HIGH order dated
  *    within [-1, +2] days, yearly counts (DateAdd/DateSub
  *    recognition).
  */
object Round11aQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value"), col("ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ts_band_join_auto" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("ts").as("v_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("ts").as("p_ts"),
          col("value").as("p_value"))
      // the shape users actually type: raw timestamps vs an INTERVAL —
      // BandJoinRewrite normalizes to epoch micros and bucket-joins
      views.join(purchases,
          abs(col("p_ts") - col("v_ts")) <= expr("INTERVAL '60' SECOND"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_ts_between_join_auto" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("ts").as("v_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("ts").as("p_ts"),
          col("value").as("p_value"))
      purchases.join(views,
          col("p_ts").between(col("v_ts") - expr("INTERVAL '30' SECOND"),
            col("v_ts") + expr("INTERVAL '90' SECOND")))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_date_band_join_auto" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      val a = o.select(col("o_orderkey").as("ka"), col("d").as("da"))
      val b = o.select(col("o_orderkey").as("kb"), col("d").as("db"))
      // DateType band (SubtractDates vs a DAY interval) + the key<
      // residual conjunct the rewrite must carry through untouched
      a.join(b,
          abs(col("da") - col("db")) <= expr("INTERVAL '1' DAY") &&
            col("ka") < col("kb"))
        .groupBy(year(col("da")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("ka")).as("n_orders"))
        .orderBy("yr")
    }),

    "q_date_between_join_auto" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("ku"), to_date(col("o_orderdate")).as("du"))
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey").as("kh"), to_date(col("o_orderdate")).as("dh"))
      // DateAdd/DateSub bound-pair shape: high order dated within
      // [-1, +2] days of the urgent order
      urgent.join(high,
          col("dh").between(date_sub(col("du"), 1), date_add(col("du"), 2)))
        .groupBy(year(col("du")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("ku")).as("n_urgent"),
          countDistinct(col("kh")).as("n_high"))
        .orderBy("yr")
    }))

  val oracle: Map[String, String] = Map(

    "q_ts_band_join_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM v JOIN p
        |    ON abs(p_us - v_us) <= 60000000
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_matched,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin,

    "q_ts_between_join_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM p JOIN v
        |    ON p_us BETWEEN v_us - 30000000 AND v_us + 90000000
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_matched,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin,

    "q_date_band_join_auto" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |)
        |SELECT CAST(year(a.d) AS BIGINT) AS yr,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT a.o_orderkey) AS BIGINT) AS n_orders
        |FROM o a JOIN o b
        |  ON abs(a.d - b.d) <= 1 AND a.o_orderkey < b.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_date_between_join_auto" ->
      """WITH u AS (
        |  SELECT o_orderkey AS ku, CAST(o_orderdate AS DATE) AS du FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |), h AS (
        |  SELECT o_orderkey AS kh, CAST(o_orderdate AS DATE) AS dh FROM orders
        |  WHERE o_orderpriority = '2-HIGH'
        |)
        |SELECT CAST(year(du) AS BIGINT) AS yr,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT ku) AS BIGINT) AS n_urgent,
        |  CAST(COUNT(DISTINCT kh) AS BIGINT) AS n_high
        |FROM u JOIN h ON dh BETWEEN du - 1 AND du + 2
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
