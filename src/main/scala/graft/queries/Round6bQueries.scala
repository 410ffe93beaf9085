package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6b batch: engagement and market-structure metrics.
  *
  *  - q_dau_wau: weekly engagement stickiness (mean daily actives over
  *    weekly actives — the DAU/WAU product metric)
  *  - q_anomaly_days: daily-volume anomalies via the all-INTEGER
  *    comparison 28·vol > 5·trailing7sum (no FP mean, no threshold
  *    drift between engines)
  *  - q_rolling_slope: trailing-7-observation OLS trend slope per
  *    event type from integer sufficient statistics (Σy, Σdy, Σd, Σd²
  *    as window sums; one final division)
  *  - q_hhi_supplier: per-nation supplier revenue concentration (HHI)
  *    with the sum of squared cents in DECIMAL(38,0) — exact integer
  *    arithmetic far past long range
  */
object Round6bQueries {

  private def epochDay(c: org.apache.spark.sql.Column) =
    call_function("div", unix_micros(c), lit(86400000000L))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Weekly stickiness: DAU summed over the week's days vs the week's
    // distinct actives. Two exact-distinct aggregates (per-day, then
    // per-week over (week, user) pairs) and one mirrored division
    // chain. Stickiness 1.0 = the same users every day; 1/7 = full
    // churn within the week.
    "q_dau_wau" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"), epochDay(col("ts")).as("day"))
        .withColumn("week", call_function("div", col("day"), lit(7L)))
      val dau = e.groupBy("week", "day")
        .agg(countDistinct(col("user_id")).as("dau"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_days"), sum("dau").as("sum_dau"))
      val wau = e.groupBy("week")
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "week")
        .select(col("week"), col("n_days"), col("sum_dau"), col("wau"),
          (col("sum_dau").cast("double") / col("n_days") / col("wau"))
            .as("stickiness"))
        .orderBy("week")
    }),

    // Volume anomalies: a day is anomalous when its volume exceeds
    // 1.25× the trailing-7-day mean — as the all-integer comparison
    // 28·vol > 5·trailing7sum, so both engines agree bitwise (the
    // synthetic volume is near-uniform; a 2× gate never fires).
    // Requires a full 7-day history window; the trailing window is
    // per-type over the bounded day domain.
    "q_anomaly_days" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .select(col("event_type"), epochDay(col("ts")).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("vol"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("trail7", sum(col("vol")).over(w))
        .withColumn("n_hist", count(col("vol")).over(w))
        .filter(col("n_hist") === 7L &&
          col("vol") * 28L > col("trail7") * 5L)
        .select("event_type", "day", "vol", "trail7")
        .orderBy("event_type", "day")
    }),

    // Trailing trend slope: OLS over the last 7 (day, volume)
    // observations per event type. All four sufficient statistics are
    // integer window sums (days and counts are longs); the slope is
    // ONE double division of two exact longs, so the oracle matches
    // bitwise. Days need not be consecutive — the regression is over
    // the observations' actual day coordinates.
    "q_rolling_slope" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .select(col("event_type"), epochDay(col("ts")).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, 0)
      daily
        .withColumn("n", count(col("y")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sd", sum(col("day")).over(w))
        .withColumn("sdy", sum(col("day") * col("y")).over(w))
        .withColumn("sdd", sum(col("day") * col("day")).over(w))
        .filter(col("n") === 7L)
        .select(col("event_type"), col("day"), col("y"),
          ((col("n") * col("sdy") - col("sd") * col("sy")).cast("double")
            / (col("n") * col("sdd") - col("sd") * col("sd")))
            .as("slope7"))
        .orderBy("event_type", "day")
    }),

    // Supplier concentration per nation: HHI = Σ shareᵢ² over supplier
    // revenue shares. The numerator Σ centsᵢ² accumulates in
    // DECIMAL(38,0) — centsᵢ² alone is ~10¹⁸ at sf0.1 and the SUM
    // overflows a long well before the corpus does — so the whole
    // computation is exact integer arithmetic until the single final
    // division. Also reports the top-supplier share (max/total).
    "q_hhi_supplier" -> ((s, dir) => {
      val rev = Tables(s, dir, "lineitem")
        .select(col("l_suppkey"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents"))
        .groupBy("l_suppkey").agg(sum("cents").as("cents"))
      val sup = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nat = Tables(s, dir, "nation").select("n_nationkey", "n_name")
      rev.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("cents")).as("total_cents"),
          max(col("cents")).as("max_cents"),
          sum(col("cents").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("cents").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("sq_cents"))
        .select(col("n_name"), col("n_suppliers"), col("total_cents"),
          (col("sq_cents").cast("double")
            / (col("total_cents").cast("double")
              * col("total_cents").cast("double"))).as("hhi"),
          (col("max_cents").cast("double") / col("total_cents"))
            .as("top_share"))
        .orderBy("n_name")
    }))

  val oracle: Map[String, String] = Map(

    "q_dau_wau" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 86400000000) // 7 AS week
        |  FROM events
        |), d AS (
        |  SELECT week, day, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS dau
        |  FROM e GROUP BY 1, 2
        |), dw AS (
        |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dau) AS BIGINT) AS sum_dau
        |  FROM d GROUP BY 1
        |), w AS (
        |  SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM e GROUP BY 1
        |)
        |SELECT dw.week, dw.n_days, dw.sum_dau, w.wau,
        |  CAST(dw.sum_dau AS DOUBLE) / dw.n_days / w.wau AS stickiness
        |FROM dw JOIN w USING (week) ORDER BY dw.week""".stripMargin,

    "q_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS vol
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT *,
        |    CAST(SUM(vol) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
        |      AS trail7,
        |    CAST(COUNT(vol) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
        |      AS n_hist
        |  FROM daily
        |)
        |SELECT event_type, day, vol, trail7
        |FROM t WHERE n_hist = 7 AND vol * 28 > trail7 * 5
        |ORDER BY event_type, day""".stripMargin,

    "q_rolling_slope" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, day, y,
        |    CAST(COUNT(y) OVER win AS BIGINT) AS n,
        |    CAST(SUM(y) OVER win AS BIGINT) AS sy,
        |    CAST(SUM(day) OVER win AS BIGINT) AS sd,
        |    CAST(SUM(day * y) OVER win AS BIGINT) AS sdy,
        |    CAST(SUM(day * day) OVER win AS BIGINT) AS sdd
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, day, y,
        |  CAST(n * sdy - sd * sy AS DOUBLE) / (n * sdd - sd * sd)
        |    AS slope7
        |FROM t WHERE n = 7
        |ORDER BY event_type, day""".stripMargin,

    "q_hhi_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT n.n_name, rev.cents
        |  FROM rev
        |  JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |), a AS (
        |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents,
        |    CAST(MAX(cents) AS BIGINT) AS max_cents,
        |    CAST(SUM(CAST(cents AS DECIMAL(38, 0))
        |      * CAST(cents AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
        |      AS sq_cents
        |  FROM j GROUP BY 1
        |)
        |SELECT n_name, n_suppliers, total_cents,
        |  CAST(sq_cents AS DOUBLE)
        |    / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE))
        |    AS hhi,
        |  CAST(max_cents AS DOUBLE) / total_cents AS top_share
        |FROM a ORDER BY n_name""".stripMargin)
}
