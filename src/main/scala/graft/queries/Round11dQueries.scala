package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-11 fourth batch: DECIMAL band joins through the naive API —
  * the duplicate-payment / price-band shapes. A DecimalType is a scaled
  * integer, and the extended [[graft.plans.BandJoinRewrite]] normalizes
  * `abs(a.price − b.price) ≤ 5.00` (decimal literal) into the unscaled-
  * Long bucket machinery, so the natural formulation plans as a
  * ±1-bucket hash join instead of a BroadcastNestedLoopJoin.
  *
  *  - q_price_band_join_auto: corpus-wide pairs of orders whose totals
  *    agree within ±1.00 — the duplicate-payment screen written the
  *    naive way (SQL decimal literal), with the `key <` residual.
  *  - q_price_between_join_auto: the asymmetric decimal bound pair —
  *    order totals in [a − 0.50, a + 2.50] — via between() on
  *    decimal-cast columns.
  */
object Round11dQueries {

  private def priced(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_totalprice").cast("decimal(12,2)").as("p"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_price_band_join_auto" -> ((s, dir) => {
      val o = priced(s, dir)
      val a = o.select(col("k").as("ka"), col("p").as("pa"))
      val b = o.select(col("k").as("kb"), col("p").as("pb"))
      // the naive decimal band + key residual — BandJoinRewrite maps it
      // to unscaled-Long buckets (width 100 at scale 2)
      a.join(b,
          abs(col("pa") - col("pb")) <= expr("CAST(1.00 AS DECIMAL(3,2))") &&
            col("ka") < col("kb"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("ka")).as("n_orders_a"),
          min(abs(col("pa") - col("pb"))).cast("string").cast("double")
            .as("min_gap"),
          max(abs(col("pa") - col("pb"))).cast("string").cast("double")
            .as("max_gap"))
    }),

    "q_price_between_join_auto" -> ((s, dir) => {
      val o = priced(s, dir)
      val a = o.select(col("k").as("ka"), col("p").as("pa"))
      val b = o.select(col("k").as("kb"), col("p").as("pb"))
      b.join(a,
          col("pb").between(
            col("pa") - expr("CAST(0.50 AS DECIMAL(3,2))"),
            col("pa") + expr("CAST(2.50 AS DECIMAL(3,2))")) &&
            col("ka") =!= col("kb"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("kb")).as("n_orders_b"),
          sum((col("pb") - col("pa")).cast("decimal(18,2)"))
            .cast("string").cast("double").as("sum_signed_gap"))
    }))

  val oracle: Map[String, String] = Map(

    "q_price_band_join_auto" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS p
        |  FROM orders
        |), pairs AS (
        |  SELECT a.k AS ka, abs(a.p - b.p) AS gap
        |  FROM o a JOIN o b
        |    ON abs(a.p - b.p) <= CAST(1.00 AS DECIMAL(3,2))
        |    AND a.k < b.k
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT ka) AS BIGINT) AS n_orders_a,
        |  CAST(CAST(MIN(gap) AS VARCHAR) AS DOUBLE) AS min_gap,
        |  CAST(CAST(MAX(gap) AS VARCHAR) AS DOUBLE) AS max_gap
        |FROM pairs""".stripMargin,

    "q_price_between_join_auto" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS p
        |  FROM orders
        |), pairs AS (
        |  SELECT b.k AS kb, b.p - a.p AS gap
        |  FROM o b JOIN o a
        |    ON b.p BETWEEN a.p - CAST(0.50 AS DECIMAL(3,2))
        |      AND a.p + CAST(2.50 AS DECIMAL(3,2))
        |    AND a.k <> b.k
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT kb) AS BIGINT) AS n_orders_b,
        |  CAST(CAST(SUM(CAST(gap AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_signed_gap
        |FROM pairs""".stripMargin)
}
