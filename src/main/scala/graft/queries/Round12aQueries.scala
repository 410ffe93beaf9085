package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-12 first batch: TimestampNTZ band joins (r11 verdict #4).
  * TimestampNTZ is the second timestamp flavor a real event table
  * ships with (wall-clock readings with no zone — exactly how the
  * events parquet itself is physically encoded in the NTZ testdata
  * generations); r11's [[graft.plans.BandJoinRewrite]] deliberately
  * skipped it, so a user with NTZ event tables fell back to the
  * quadratic BroadcastNestedLoopJoin. The rule now maps NTZ operands
  * through the zero-cost [[graft.plans.NtzMicros]] reinterpretation
  * (same Long-micros representation, wall-clock epoch), and these two
  * keys drive the naive user shapes through it end to end:
  *
  *  - q_ntz_band_join_auto: `abs(p_ts - v_ts) <= INTERVAL '45' SECOND`
  *    on raw timestamp_ntz columns — symmetric band.
  *  - q_ntz_between_join_auto: `p_ts.between(v_ts - 20s, v_ts + 70s)`
  *    on raw timestamp_ntz — the TimestampAddInterval bound pair.
  *
  * The session zone is pinned UTC, so the `cast(ts as timestamp_ntz)`
  * here is a micros-identity and DuckDB's naive TIMESTAMP arithmetic
  * (epoch_us) mirrors it bitwise.
  */
object Round12aQueries {

  /** events with ts reinterpreted as wall-clock NTZ (exact under the
    * pinned-UTC session zone).
    */
  private def evNtz(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value"), col("ts").cast("timestamp_ntz").as("ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ntz_band_join_auto" -> ((s, dir) => {
      val e = evNtz(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("ts").as("v_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("ts").as("p_ts"),
          col("value").as("p_value"))
      // raw NTZ columns vs an INTERVAL — BandJoinRewrite normalizes
      // through NtzMicros and bucket-joins; plan contract pins bnlj=0
      views.join(purchases,
          abs(col("p_ts") - col("v_ts")) <= expr("INTERVAL '45' SECOND"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_ntz_between_join_auto" -> ((s, dir) => {
      val e = evNtz(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("ts").as("v_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("ts").as("p_ts"),
          col("value").as("p_value"))
      purchases.join(views,
          col("p_ts").between(col("v_ts") - expr("INTERVAL '20' SECOND"),
            col("v_ts") + expr("INTERVAL '70' SECOND")))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }))

  val oracle: Map[String, String] = Map(

    "q_ntz_band_join_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM v JOIN p
        |    ON abs(p_us - v_us) <= 45000000
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_matched,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin,

    "q_ntz_between_join_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM p JOIN v
        |    ON p_us BETWEEN v_us - 20000000 AND v_us + 70000000
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_matched,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin)
}
