package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5q batch: windowed-imputation and event-timeline primitives —
  * the remaining window-function surface (PERCENT_RANK, IGNORE NULLS
  * imputation), equi-width bucketing, the nearest-neighbor as-of
  * variant, and per-state dwell time.
  *
  *  - q_percent_rank: relative standing within a group (the missing
  *    sibling of q_window_ntile / q_window_cume_dist)
  *  - q_locf_fill: last-observation-carried-forward imputation over a
  *    deterministic missingness mask (telemetry gap repair)
  *  - q_width_bucket: equi-width histogram via Spark's WIDTH_BUCKET,
  *    oracle mirrored as floor arithmetic (DuckDB lacks the function)
  *  - q_asof_nearest: nearest purchase to each click in either time
  *    direction, ties to the earlier side (sensor-alignment asof)
  *  - q_state_dwell: microseconds spent in each event-type state
  *    (lead-diff per user, aggregated per state)
  *
  * Determinism rules (see Round5Queries): integer microsecond
  * arithmetic, mirrored single divisions, window orders total per
  * partition via (ts/us, event_id).
  */
object Round5qQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PERCENT_RANK of suppliers by account balance within their
    // nation: (rank−1)/(n−1), the normalized standing that survives
    // group-size differences (both engines define the n=1 group as
    // 0.0). Window partitioned by nation — scales with nation count;
    // (s_acctbal, s_suppkey) makes the order total.
    "q_percent_rank" -> ((s, dir) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          percent_rank().over(w).as("pct_rank"))
        .orderBy("s_nationkey", "s_suppkey")
    }),

    // Last-observation-carried-forward: a deterministic missingness
    // mask (event_id % 7 == 0) nulls the reading, then the
    // user-partitioned IGNORE NULLS window carries the previous
    // observation forward — the telemetry-repair primitive (leading
    // missing rows stay null: nothing to carry). One shuffle on
    // user_id; the mask and the fill share the sort.
    "q_locf_fill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("value_masked",
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value")))
        .withColumn("value_filled",
          last(col("value_masked"), ignoreNulls = true).over(w))
        .select("user_id", "event_id", "us", "value_masked",
          "value_filled")
        .orderBy("user_id", "event_id")
    }),

    // Equi-width histogram of order totals via WIDTH_BUCKET(v, 0,
    // 600000, 20). DuckDB has no width_bucket, so the oracle mirrors
    // Spark's exact float semantics — trunc(n·(v−lo)/(hi−lo)) + 1,
    // multiply BEFORE divide (read from WidthBucket bytecode) — so
    // the two engines round identically; o_totalprice never leaves
    // [lo, hi), so the 0 / n+1 overflow buckets stay empty. One
    // combine aggregate to ≤ 22 rows.
    "q_width_bucket" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(width_bucket(col("o_totalprice"),
          lit(0d), lit(600000d), lit(20L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_orders"))
        .orderBy("bucket")),

    // Nearest-neighbor as-of: for every click, the purchase closest in
    // event time in EITHER direction (backward wins distance ties) —
    // the alignment rule for sampled sensors where "latest before" is
    // wrong half the time. Composes the backward and forward
    // IGNORE NULLS windows over ONE union + ONE user-partitioned sort
    // (side orders purchases before clicks at equal us so a same-
    // instant purchase lands in both windows with distance 0).
    "q_asof_nearest" -> ((s, dir) => {
      val e = Tables(s, dir, "events").withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), lit(1).as("side"),
          col("event_id"), lit(null).cast("double").as("p_value"),
          lit(null).cast("long").as("p_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), lit(0).as("side"),
          col("event_id"), col("value").as("p_value"),
          col("us").as("p_us"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("us"), col("side"), col("event_id"))
      val back = ord
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = ord
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val prevUs = last(col("p_us"), ignoreNulls = true).over(back)
      val prevVal = last(col("p_value"), ignoreNulls = true).over(back)
      val nextUs = first(col("p_us"), ignoreNulls = true).over(fwd)
      val nextVal = first(col("p_value"), ignoreNulls = true).over(fwd)
      val takeBack: Column = nextUs.isNull ||
        (prevUs.isNotNull &&
          (col("us") - prevUs) <= (nextUs - col("us")))
      clicks.unionByName(purchases)
        .select(col("user_id"), col("us"), col("side"), col("event_id"),
          when(takeBack, prevUs).otherwise(nextUs)
            .as("nearest_purchase_us"),
          when(takeBack, prevVal).otherwise(nextVal)
            .as("nearest_purchase_value"))
        .filter(col("side") === 1)
        .withColumn("dist_us",
          abs(col("us") - col("nearest_purchase_us")))
        .select(col("user_id"), col("event_id"), col("us").as("click_us"),
          col("nearest_purchase_us"), col("nearest_purchase_value"),
          col("dist_us"))
        .orderBy("user_id", "event_id")
    }),

    // Dwell time per state: how long each user sits in each event_type
    // before the next event (lead-diff in exact microseconds, last
    // event of a user has no dwell), aggregated per state — the
    // time-in-state report behind engagement and funnel-latency
    // dashboards. One user-partitioned sort, one combine aggregate;
    // the mean is a single mirrored division.
    "q_state_dwell" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("dwell_us", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dwell_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_stays"),
          sum("dwell_us").as("total_dwell_us"),
          max("dwell_us").as("max_dwell_us"))
        .withColumn("mean_dwell_us",
          col("total_dwell_us").cast("double") / col("n_stays"))
        .select("event_type", "n_stays", "total_dwell_us",
          "max_dwell_us", "mean_dwell_us")
        .orderBy("event_type")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_percent_rank" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        |  PERCENT_RANK() OVER (PARTITION BY s_nationkey
        |    ORDER BY s_acctbal, s_suppkey) AS pct_rank
        |FROM supplier
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "q_locf_fill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
        |      AS value_masked
        |  FROM events
        |)
        |SELECT user_id, event_id, us, value_masked,
        |  LAST_VALUE(value_masked IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_filled
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q_width_bucket" ->
      """SELECT CAST(FLOOR(20.0 * (o_totalprice - 0.0) / 600000.0)
        |    AS BIGINT) + 1 AS bucket,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_asof_nearest" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
        |    value
        |  FROM events
        |), u AS (
        |  SELECT user_id, us, 1 AS side, event_id,
        |    CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS BIGINT) AS p_us
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, us, 0 AS side, event_id, value, us
        |  FROM e WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT user_id, us, side, event_id,
        |    LAST_VALUE(p_us IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY us, side, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS prev_us,
        |    LAST_VALUE(p_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY us, side, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS prev_val,
        |    FIRST_VALUE(p_us IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY us, side, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_us,
        |    FIRST_VALUE(p_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY us, side, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_val
        |  FROM u
        |), n AS (
        |  SELECT user_id, us, side, event_id,
        |    CASE WHEN next_us IS NULL OR (prev_us IS NOT NULL
        |        AND us - prev_us <= next_us - us)
        |      THEN prev_us ELSE next_us END AS nearest_purchase_us,
        |    CASE WHEN next_us IS NULL OR (prev_us IS NOT NULL
        |        AND us - prev_us <= next_us - us)
        |      THEN prev_val ELSE next_val END AS nearest_purchase_value
        |  FROM w
        |)
        |SELECT user_id, event_id, us AS click_us, nearest_purchase_us,
        |  nearest_purchase_value,
        |  ABS(us - nearest_purchase_us) AS dist_us
        |FROM n WHERE side = 1
        |ORDER BY user_id, event_id""".stripMargin,

    "q_state_dwell" ->
      """WITH d AS (
        |  SELECT event_type,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts)
        |      AS dwell_us
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n_stays,
        |  CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
        |  CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us,
        |  CAST(SUM(dwell_us) AS DOUBLE) / COUNT(*) AS mean_dwell_us
        |FROM d WHERE dwell_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
  )
}
