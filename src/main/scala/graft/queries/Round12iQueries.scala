package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-12 ninth batch: CH `retention`, `quantileBFloat16`, and the
  * finance-series recurrences (Wilder RSI, MACD).
  *
  *  - q_retention_conditions: CH `retention(cond1, cond2, cond3)` —
  *    per-user condition flags (view as the base, then click /
  *    purchase gated on the base), summed to cohort counts + ratios.
  *  - q_quantile_bfloat16: CH `quantileBFloat16` — values truncated to
  *    8 significant bits (the bfloat16 mantissa) on the EXACT integer
  *    cents domain (bit-length via `bin()`, floor-div by 2^(e−7)),
  *    then rank-selected quantiles off the bounded truncated grid
  *    (≤128 buckets per octave). Truncation is monotone, so
  *    quantile∘trunc = trunc∘quantile — the ≤2⁻⁷ relative-error bound
  *    is a THEOREM and rides inside the hash as bound_ok.
  *  - q_rsi_wilder: 14-day Wilder RSI per event type over the daily
  *    mean value series — gain/loss EMAs are two SINGLE-DOUBLE
  *    written-order folds over the bounded day catalog (the
  *    DuckDB-portable fold shape; see Round12h on why coupled struct
  *    accumulators are not).
  *  - q_macd_signal: MACD(12, 26) + 9-period signal over the daily
  *    order-value series. The (e12, e26, sig) recurrence IS coupled —
  *    portability comes from the 1-ELEMENT-LIST idiom on the DuckDB
  *    side (`a[1].field` reads are unambiguously the previous state,
  *    unlike bare struct_pack cross-field reads which flip old/new
  *    between steps) while Spark's functional `aggregate` lambda reads
  *    old fields naturally; sig re-derives the new EMAs inline by
  *    expression duplication, identically in both engines.
  *
  * 100 TB posture: retention is a two-level map-combinable aggregate;
  * the quantile grid and both day series are BOUNDED catalogs (grid ≤
  * ~5k cells, days = calendar span), so every window/fold input is
  * O(catalog), never O(corpus).
  */
object Round12iQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_retention_conditions" -> ((s, dir) => {
      val ev = Tables(s, dir, "events").filter(col("user_id").isNotNull)
      val perUser = ev.groupBy("user_id").agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("c1"),
        max(when(col("event_type") === "click", 1).otherwise(0)).as("c2"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("c3"))
      // CH retention semantics: r1 = cond1; r_k = cond1 AND cond_k
      perUser.agg(
          count(lit(1)).as("n_users"),
          sum(col("c1")).as("r1"),
          sum(col("c1") * col("c2")).as("r2"),
          sum(col("c1") * col("c3")).as("r3"))
        .withColumn("ratio2",
          when(col("r1") > 0, col("r2").cast("double") /
            col("r1").cast("double")))
        .withColumn("ratio3",
          when(col("r1") > 0, col("r3").cast("double") /
            col("r1").cast("double")))
    }),

    "q_quantile_bfloat16" -> ((s, dir) => {
      val cents = Tables(s, dir, "lineitem")
        .select((col("l_extendedprice").cast(dec) * 100)
          .cast("long").as("c"))
      // truncate to 8 significant bits: e = bitlength−1, step = 2^(e−7)
      val b16 = cents
        .withColumn("e", length(bin(col("c"))) - 1)
        .withColumn("step",
          when(col("e") > 7, expr("shiftleft(1L, cast(e - 7 as int))"))
            .otherwise(lit(1L)))
        .withColumn("v", expr("c div step") * col("step"))
      def ranked(vals: DataFrame, vc: String): DataFrame = {
        // Total count = the cumulative sum's final value: an unbounded
        // second frame over the SAME sorted grid (one WindowExec, one
        // sort, computes both), replacing a separate full re-scan +
        // 1-row aggregate of `vals` per ranked() call — 2 extra
        // lineitem scans per run (r13, guide §1.2). The unpartitioned
        // window itself stays: its input is the DISTINCT-cents grid,
        // bounded by the fixed price DOMAIN (~10^7 values at any
        // corpus size — the Round12f bin-catalog argument), and the
        // measured 2-level bucketed alternative (the Round12e idiom)
        // ran 2.4x slower here (3.55 vs 1.50 s warm: an extra grid
        // exchange + join against a catalog of ~110 price buckets).
        val cum = vals.groupBy(vc).agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(Window.orderBy(vc)
            .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("n", sum(col("cnt")).over(Window.orderBy(vc)
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        cum.agg(
          max(col("n")).as("n"),
          min(when(col("cum") >= ceil(col("n") * 0.5).cast("long"),
            col(vc))).as("q50"),
          min(when(col("cum") >= ceil(col("n") * 0.9).cast("long"),
            col(vc))).as("q90"),
          min(when(col("cum") >= ceil(col("n") * 0.99).cast("long"),
            col(vc))).as("q99"))
      }
      val qb = ranked(b16.select(col("v")), "v")
      val qx = ranked(cents.select(col("c")), "c")
        .select(col("q50").as("q50x"))
      qb.crossJoin(broadcast(qx))
        .select(col("n"),
          (col("q50").cast("double") / 100.0).as("q50_b16"),
          (col("q90").cast("double") / 100.0).as("q90_b16"),
          (col("q99").cast("double") / 100.0).as("q99_b16"),
          (col("q50x").cast("double") / 100.0).as("q50_exact"),
          (col("q50x") - col("q50") >= 0 &&
            (col("q50x") - col("q50")).cast("double") <=
              col("q50x").cast("double") / 128.0).as("bound_ok"))
    }),

    "q_rsi_wilder" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg((d(sum(col("value").cast(dec)).cast(DecimalType(28, 2))) /
          count(lit(1))).as("hv"))
      val deltas = daily
        .withColumn("delta", col("hv") - lag(col("hv"), 1).over(
          Window.partitionBy("event_type").orderBy("day")))
        .filter(col("delta").isNotNull)
        .withColumn("gain", when(col("delta") > 0, col("delta"))
          .otherwise(lit(0.0)))
        .withColumn("loss", when(col("delta") < 0, -col("delta"))
          .otherwise(lit(0.0)))
      deltas.groupBy("event_type").agg(
          count(lit(1)).as("n_days"),
          aggregate(array_sort(collect_list(struct(col("day"),
            col("gain")))), lit(0.0),
            (a, x) => a * lit(13.0 / 14.0) +
              x.getField("gain") / lit(14.0)).as("avg_gain"),
          aggregate(array_sort(collect_list(struct(col("day"),
            col("loss")))), lit(0.0),
            (a, x) => a * lit(13.0 / 14.0) +
              x.getField("loss") / lit(14.0)).as("avg_loss"))
        .withColumn("rsi",
          when(col("avg_loss") > 0,
            lit(100.0) - lit(100.0) /
              (lit(1.0) + col("avg_gain") / col("avg_loss")))
            .otherwise(when(col("avg_gain") > 0, lit(100.0))
              .otherwise(lit(50.0))))
        .orderBy("event_type")
    }),

    "q_macd_signal" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((d(sum(col("o_totalprice").cast(dec))
          .cast(DecimalType(38, 2))) / count(lit(1))).as("dv"))
      def e12n(a: Column, v: Column): Column =
        a.getField("e12") * lit(11.0 / 13.0) + v * lit(2.0 / 13.0)
      def e26n(a: Column, v: Column): Column =
        a.getField("e26") * lit(25.0 / 27.0) + v * lit(2.0 / 27.0)
      daily.agg(
          count(lit(1)).as("n_days"),
          aggregate(
            array_sort(collect_list(struct(col("day"), col("dv")))),
            struct(lit(0.0).as("e12"), lit(0.0).as("e26"),
              lit(0.0).as("sig")),
            (a, x) => struct(
              e12n(a, x.getField("dv")).as("e12"),
              e26n(a, x.getField("dv")).as("e26"),
              (a.getField("sig") * lit(0.8) +
                (e12n(a, x.getField("dv")) - e26n(a, x.getField("dv")))
                  * lit(0.2)).as("sig"))).as("acc"))
        .select(col("n_days"),
          col("acc.e12").as("ema12"),
          col("acc.e26").as("ema26"),
          (col("acc.e12") - col("acc.e26")).as("macd"),
          col("acc.sig").as("signal"),
          (col("acc.e12") - col("acc.e26") - col("acc.sig"))
            .as("histogram"))
    }))

  val oracle: Map[String, String] = Map(

    "q_retention_conditions" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), agg AS (
        |  SELECT COUNT(*) AS n_users, SUM(c1) AS r1,
        |    SUM(c1 * c2) AS r2, SUM(c1 * c3) AS r3
        |  FROM pu
        |)
        |SELECT CAST(n_users AS BIGINT) AS n_users,
        |  CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
        |  CAST(r3 AS BIGINT) AS r3,
        |  CASE WHEN r1 > 0 THEN CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE)
        |    END AS ratio2,
        |  CASE WHEN r1 > 0 THEN CAST(r3 AS DOUBLE) / CAST(r1 AS DOUBLE)
        |    END AS ratio3
        |FROM agg""".stripMargin,

    "q_quantile_bfloat16" ->
      """WITH cents AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS c
        |  FROM lineitem
        |), b16 AS (
        |  SELECT c, length(bin(c)) - 1 AS e,
        |    CASE WHEN length(bin(c)) - 1 > 7
        |      THEN CAST(1 AS BIGINT) << (length(bin(c)) - 1 - 7)
        |      ELSE CAST(1 AS BIGINT) END AS step
        |  FROM cents
        |), tv AS (
        |  SELECT (c // step) * step AS v FROM b16
        |), cumb AS (
        |  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum
        |  FROM (SELECT v, COUNT(*) AS cnt FROM tv GROUP BY v)
        |), totb AS (SELECT COUNT(*) AS n FROM tv),
        |qb AS (
        |  SELECT MAX(t.n) AS n,
        |    MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.5) AS BIGINT)
        |      THEN v END) AS q50,
        |    MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.9) AS BIGINT)
        |      THEN v END) AS q90,
        |    MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.99) AS BIGINT)
        |      THEN v END) AS q99
        |  FROM cumb, totb t
        |), cumx AS (
        |  SELECT c, SUM(cnt) OVER (ORDER BY c) AS cum
        |  FROM (SELECT c, COUNT(*) AS cnt FROM cents GROUP BY c)
        |), qx AS (
        |  SELECT MIN(CASE WHEN cum >= CAST(ceil(t.n * 0.5) AS BIGINT)
        |    THEN c END) AS q50x
        |  FROM cumx, totb t
        |)
        |SELECT CAST(qb.n AS BIGINT) AS n,
        |  CAST(qb.q50 AS DOUBLE) / 100.0 AS q50_b16,
        |  CAST(qb.q90 AS DOUBLE) / 100.0 AS q90_b16,
        |  CAST(qb.q99 AS DOUBLE) / 100.0 AS q99_b16,
        |  CAST(qx.q50x AS DOUBLE) / 100.0 AS q50_exact,
        |  (qx.q50x - qb.q50 >= 0 AND
        |   CAST(qx.q50x - qb.q50 AS DOUBLE) <=
        |     CAST(qx.q50x AS DOUBLE) / 128.0) AS bound_ok
        |FROM qb, qx""".stripMargin,

    "q_rsi_wilder" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS hv
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY event_type, CAST(ts AS DATE)
        |), de AS (
        |  SELECT event_type, day,
        |    hv - lag(hv) OVER (PARTITION BY event_type ORDER BY day)
        |      AS delta
        |  FROM daily
        |), gl AS (
        |  SELECT event_type, day,
        |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
        |    CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
        |  FROM de WHERE delta IS NOT NULL
        |), agg AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    list_reduce([CAST(0.0 AS DOUBLE)] ||
        |      COALESCE(list(gain ORDER BY day), []),
        |      (a, x) -> a * (13.0 / 14.0) + x / 14.0) AS avg_gain,
        |    list_reduce([CAST(0.0 AS DOUBLE)] ||
        |      COALESCE(list(loss ORDER BY day), []),
        |      (a, x) -> a * (13.0 / 14.0) + x / 14.0) AS avg_loss
        |  FROM gl GROUP BY event_type
        |)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  avg_gain, avg_loss,
        |  CASE WHEN avg_loss > 0 THEN
        |    100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
        |  WHEN avg_gain > 0 THEN 100.0 ELSE 50.0 END AS rsi
        |FROM agg ORDER BY event_type""".stripMargin,

    "q_macd_signal" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS dv
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)
        |), agg AS (
        |  SELECT COUNT(*) AS n_days,
        |    list_reduce(
        |      [[struct_pack(e12 := CAST(0.0 AS DOUBLE),
        |         e26 := CAST(0.0 AS DOUBLE),
        |         sig := CAST(0.0 AS DOUBLE))]] ||
        |      COALESCE(list_transform(list(dv ORDER BY day), v ->
        |        [struct_pack(e12 := v, e26 := CAST(0.0 AS DOUBLE),
        |          sig := CAST(0.0 AS DOUBLE))]), []),
        |      (a, x) -> [struct_pack(
        |        e12 := a[1].e12 * (11.0 / 13.0) + x[1].e12 * (2.0 / 13.0),
        |        e26 := a[1].e26 * (25.0 / 27.0) + x[1].e12 * (2.0 / 27.0),
        |        sig := a[1].sig * 0.8 +
        |          ((a[1].e12 * (11.0 / 13.0) + x[1].e12 * (2.0 / 13.0)) -
        |           (a[1].e26 * (25.0 / 27.0) + x[1].e12 * (2.0 / 27.0)))
        |            * 0.2)]) AS acc
        |  FROM daily
        |)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |  acc[1].e12 AS ema12, acc[1].e26 AS ema26,
        |  acc[1].e12 - acc[1].e26 AS macd,
        |  acc[1].sig AS signal,
        |  acc[1].e12 - acc[1].e26 - acc[1].sig AS histogram
        |FROM agg""".stripMargin)
}
