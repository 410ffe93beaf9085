package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-10 batch p: market-data bar analytics over the order stream —
  * OHLC candles, volume-weighted average price, and Bollinger bands,
  * the three primitives a financial mart derives from a trade table.
  *
  * Determinism: open/close are selected by row_number over the TOTAL
  * intra-day order (timestamp, then order key) — never first()/last()
  * on an unpinned frame. Every money aggregate runs in DECIMAL
  * (order-free exact sums); ratios cross to double through the VARCHAR
  * route (correctly-rounded parse on both engines) and divide once.
  * Bollinger variance is the exact integer-rational form
  * (m·Σc² − (Σc)²)/m² computed in decimal, so σ is one IEEE sqrt of a
  * deterministic double.
  *
  * Scale posture: the only data-sized operations are per-day partial
  * aggregates / per-day windows (shuffle key = day). The rolling
  * 7-day window runs on the DAY SPINE — the bounded time domain
  * (~2.4k rows per decade, metadata-sized), the same bounded-spine
  * pattern as the weighted-quantile bucket cum.
  *
  *  - q_ohlc_daily: daily open/high/low/close/volume candles (last
  *    90 days — the dashboard slice).
  *  - q_vwap_daily: daily VWAP from lineitem price×quantity, exact
  *    decimal numerator/denominator.
  *  - q_bollinger_daily: 7-day rolling mean ± 2σ over the daily close
  *    spine (last 90 days).
  */
object Round10pQueries {

  /** Daily close: the last order of each day in (ts, key) total order. */
  private def dailyClose(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_orderdate").as("ts"), col("o_orderkey"),
        col("o_totalprice"))
    val wDesc = Window.partitionBy("day")
      .orderBy(col("ts").desc, col("o_orderkey").desc)
    o.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("day"), col("o_totalprice").cast(dec).as("c"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ohlc_daily" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("day"),
          col("o_orderdate").as("ts"), col("o_orderkey"),
          col("o_totalprice").as("p"))
      val wAsc = Window.partitionBy("day")
        .orderBy(col("ts"), col("o_orderkey"))
      val wDesc = Window.partitionBy("day")
        .orderBy(col("ts").desc, col("o_orderkey").desc)
      o.withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy("day")
        .agg(max(when(col("rn_a") === 1, col("p"))).as("open"),
          max(col("p")).as("high"),
          min(col("p")).as("low"),
          max(when(col("rn_d") === 1, col("p"))).as("close"),
          count(lit(1)).as("volume"),
          sum(col("p").cast(dec)).cast("string").cast("double")
            .as("turnover"))
        .orderBy(col("day").desc)
        .limit(90)
    }),

    "q_vwap_daily" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(to_date(col("l_shipdate")).as("day"),
          (col("l_extendedprice").cast(dec) * col("l_quantity").cast(dec))
            .as("pq"),
          col("l_quantity").cast(dec).as("q"))
        .groupBy("day")
        .agg(sum(col("pq")).cast("string").cast("double").as("num"),
          sum(col("q")).cast("string").cast("double").as("den"),
          count(lit(1)).as("n_lines"))
        .withColumn("vwap", expr("try_divide(num, den)"))
        .select("day", "n_lines", "num", "den", "vwap")
        .orderBy(col("day").desc)
        .limit(90)
    }),

    "q_bollinger_daily" -> ((s, dir) => {
      val close = dailyClose(s, dir)
      // the 7-day frame over the bounded day spine: exact decimal
      // sufficient statistics, variance as (m*ssq - s^2) / m^2
      val w7 = Window.orderBy("day").rowsBetween(-6, 0)
      close
        .withColumn("m", count(lit(1)).over(w7))
        // narrow the window sums back to value-fitting precisions so
        // the cross products stay inside 38 digits on BOTH engines
        // (DuckDB errors on decimal widths beyond 38; values are
        // bounded by 7 closes <= 6e5 so nothing truncates)
        .withColumn("s", sum(col("c")).over(w7).cast(DecimalType(18, 2)))
        .withColumn("ssq",
          sum(col("c") * col("c")).over(w7).cast(DecimalType(24, 4)))
        .withColumn("var_num",
          (col("m") * col("ssq") - col("s") * col("s"))
            .cast("string").cast("double"))
        .withColumn("mean", col("s").cast("string").cast("double")
          / col("m").cast("double"))
        .withColumn("sd", sqrt(col("var_num")
          / (col("m") * col("m")).cast("double")))
        .withColumn("upper", col("mean") + lit(2.0) * col("sd"))
        .withColumn("lower", col("mean") - lit(2.0) * col("sd"))
        .select(col("day"), col("m"),
          col("c").cast("string").cast("double").as("close"),
          col("mean"), col("sd"), col("upper"), col("lower"))
        .orderBy(col("day").desc)
        .limit(90)
    }))

  private val closeSql =
    """ranked AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS c,
      |    row_number() OVER (PARTITION BY CAST(o_orderdate AS DATE)
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), closes AS (
      |  SELECT day, c FROM ranked WHERE rn = 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_ohlc_daily" ->
      """WITH r AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, o_totalprice AS p,
        |    row_number() OVER (PARTITION BY CAST(o_orderdate AS DATE)
        |      ORDER BY o_orderdate, o_orderkey) AS rn_a,
        |    row_number() OVER (PARTITION BY CAST(o_orderdate AS DATE)
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
        |  FROM orders
        |)
        |SELECT day,
        |  MAX(CASE WHEN rn_a = 1 THEN p END) AS open,
        |  MAX(p) AS high,
        |  MIN(p) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN p END) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS volume,
        |  CAST(CAST(SUM(CAST(p AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |    AS turnover
        |FROM r GROUP BY day
        |ORDER BY day DESC LIMIT 90""".stripMargin,

    "q_vwap_daily" ->
      """WITH d AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |      AS num,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS den,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT day, n_lines, num, den, num / NULLIF(den, 0) AS vwap
        |FROM d ORDER BY day DESC LIMIT 90""".stripMargin,

    "q_bollinger_daily" ->
      s"""WITH $closeSql, roll AS (
         |  SELECT day, c,
         |    COUNT(*) OVER w7 AS m,
         |    CAST(SUM(c) OVER w7 AS DECIMAL(18,2)) AS s,
         |    CAST(SUM(c * c) OVER w7 AS DECIMAL(24,4)) AS ssq
         |  FROM closes
         |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
         |    AND CURRENT ROW)
         |), stats AS (
         |  SELECT day, CAST(m AS BIGINT) AS m,
         |    CAST(CAST(c AS VARCHAR) AS DOUBLE) AS close,
         |    CAST(CAST(s AS VARCHAR) AS DOUBLE) AS s_d,
         |    CAST(CAST(m * ssq - s * s AS VARCHAR) AS DOUBLE) AS var_num
         |  FROM roll
         |)
         |SELECT day, m, close,
         |  s_d / CAST(m AS DOUBLE) AS mean,
         |  sqrt(var_num / CAST(m * m AS DOUBLE)) AS sd,
         |  s_d / CAST(m AS DOUBLE)
         |    + 2.0 * sqrt(var_num / CAST(m * m AS DOUBLE)) AS upper,
         |  s_d / CAST(m AS DOUBLE)
         |    - 2.0 * sqrt(var_num / CAST(m * m AS DOUBLE)) AS lower
         |FROM stats ORDER BY day DESC LIMIT 90""".stripMargin)
}
