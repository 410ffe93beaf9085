package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-12 sixth batch: the ClickHouse time-series aggregate tail —
  * counter deltas, timing-resolution quantiles, and exponential
  * smoothing.
  *
  *  - q_delta_sum_timestamp: CH `deltaSumTimestamp(value, ts)` — the
  *    timestamp-ordered positive-delta sum per event_type (counter
  *    increase net of resets), plus increase/decrease tallies. Deltas
  *    of DECIMAL(18,2) values are exact decimals, so the per-type sums
  *    are exact — no float accumulation anywhere. The window is
  *    per-type-partitioned with the (ts, event_id) total order; at
  *    100 TB each partition is one counter's stream, never the corpus.
  *  - q_quantile_timing: CH `quantileTiming` — the fixed-resolution
  *    timing-histogram quantile over per-user inter-event gaps (ms):
  *    exact 1 ms bins under 1024 ms, 64 ms bins to 30 s, clamped at
  *    30 000 (CH's documented overflow value). Quantiles are
  *    rank-selected from cumulative bin counts — all integer, and the
  *    bin CATALOG is bounded (≤ ~1500 rows by construction at any
  *    corpus size), so the cumulative window never sees data-scale
  *    rows.
  *  - q_exp_moving_avg: CH `exponentialMovingAverage` — α = 1/2 EMA
  *    over each event_type's 24-hour mean-value series. Hourly means
  *    come from exact decimal sums (ONE string-routed division each);
  *    the 24-step recurrence acc' = acc/2 + x/2 folds in hour order
  *    over a collected ≤24-element list — halving is EXACT in binary
  *    floating point, and the fold order is pinned, so the result
  *    matches DuckDB's identical list_reduce bitwise.
  */
object Round12fQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_delta_sum_timestamp" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy("us", "event_id")
      val ev = Tables(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value").cast(dec).as("v"))
        .withColumn("delta", col("v") - lag(col("v"), 1).over(w))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(when(col("delta") > 0, col("delta"))), lit(0)
            .cast(dec)).cast(DecimalType(28, 2)).as("delta_sum"),
          sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_increases"),
          sum(when(col("delta") < 0, 1L).otherwise(0L)).as("n_decreases"))
        .withColumn("delta_sum", d(col("delta_sum")))
        .orderBy("event_type")
    }),

    "q_quantile_timing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gaps = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", lead(col("us"), 1).over(wU) - col("us"))
        .filter(col("gap_us").isNotNull)
        // gaps are non-negative under the (us, event_id) total order, so
        // integer div == floor division == DuckDB's //
        .select(expr(
          "CASE WHEN gap_us div 1000 >= 30000 THEN 30000L " +
            "WHEN gap_us div 1000 < 1024 THEN gap_us div 1000 " +
            "ELSE ((gap_us div 1000) div 64) * 64 END").as("bin"))
      // bin catalog is bounded (≤ 1024 + 453 + 1 rows) — the cumulative
      // window runs over the catalog, not the corpus
      val cum = gaps.groupBy("bin").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0)))
      val tot = gaps.agg(count(lit(1)).as("n"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= ceil(col("n") * 0.5).cast("long"),
            col("bin"))).as("q50_ms"),
          min(when(col("cum") >= ceil(col("n") * 0.9).cast("long"),
            col("bin"))).as("q90_ms"),
          min(when(col("cum") >= ceil(col("n") * 0.99).cast("long"),
            col("bin"))).as("q99_ms"))
    }),

    "q_exp_moving_avg" -> ((s, dir) => {
      val hourly = Tables(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("h"))
        .agg((d(sum(col("value").cast(dec)).cast(DecimalType(28, 2))) /
          count(lit(1))).as("hv"))
      hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          aggregate(
            array_sort(collect_list(struct(col("h"), col("hv")))),
            lit(0.0),
            (acc, x) => acc / lit(2.0) + x.getField("hv") / lit(2.0))
            .as("ema"),
          max(struct(col("h"), col("hv"))).getField("hv").as("last_hv"))
        .orderBy("event_type")
    }))

  val oracle: Map[String, String] = Map(

    "q_delta_sum_timestamp" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |), de AS (
        |  SELECT event_type,
        |    v - lag(v) OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS delta
        |  FROM ev
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(CAST(CAST(COALESCE(
        |    SUM(CASE WHEN delta > 0 THEN delta END),
        |    CAST(0 AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS VARCHAR)
        |    AS DOUBLE) AS delta_sum,
        |  CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_increases,
        |  CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_decreases
        |FROM de GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_quantile_timing" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL
        |), gaps AS (
        |  SELECT lead(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) - us AS gap_us
        |  FROM ev
        |), bins AS (
        |  SELECT CASE WHEN gap_us // 1000 >= 30000 THEN 30000
        |    WHEN gap_us // 1000 < 1024 THEN gap_us // 1000
        |    ELSE ((gap_us // 1000) // 64) * 64 END AS bin
        |  FROM gaps WHERE gap_us IS NOT NULL
        |), cum AS (
        |  SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum
        |  FROM (SELECT bin, COUNT(*) AS c FROM bins GROUP BY bin)
        |), tot AS (SELECT COUNT(*) AS n FROM bins)
        |SELECT CAST(MAX(t.n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.5) AS BIGINT)
        |    THEN bin END) AS BIGINT) AS q50_ms,
        |  CAST(MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.9) AS BIGINT)
        |    THEN bin END) AS BIGINT) AS q90_ms,
        |  CAST(MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.99) AS BIGINT)
        |    THEN bin END) AS BIGINT) AS q99_ms
        |FROM cum, tot t""".stripMargin,

    "q_exp_moving_avg" ->
      """WITH hourly AS (
        |  SELECT event_type, hour(ts) AS h,
        |    CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS hv
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY event_type, hour(ts)
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  list_reduce([CAST(0.0 AS DOUBLE)] ||
        |    COALESCE(list(hv ORDER BY h), []),
        |    (a, x) -> a / 2.0 + x / 2.0) AS ema,
        |  MAX(struct_pack(h := h, hv := hv)).hv AS last_hv
        |FROM hourly GROUP BY event_type ORDER BY event_type""".stripMargin)
}
