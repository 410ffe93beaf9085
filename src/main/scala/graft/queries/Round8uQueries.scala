package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 twenty-first batch: the forecasting/monitoring loop over the
  * daily order-count series — backtest, changepoint, online smoother.
  *
  *  - q_forecast_backtest: walk-forward evaluation of the three
  *    classical baselines (naive y[t-1], seasonal-naive y[t-7], drift)
  *    over the last 28 days of a 64-day zero-filled series: MAE over
  *    all days, MAPE over nonzero-actual days. The sanity floor any
  *    real forecaster must beat.
  *  - q_changepoint_binseg: one step of binary-segmentation changepoint
  *    detection — the split k minimizing SSE_left + SSE_right, with the
  *    variance-reduction gain vs the unsplit series. SSE from integer
  *    sum/sumsq prefixes (sse = sumsq - sum^2/n), so the argmin
  *    compares exactly-derived doubles.
  *  - q_ewma_alert: alpha=1/2 exponentially-weighted moving average as
  *    an online level estimator, one-step-ahead residuals, and a
  *    +-50%-of-level alert flag per day. Dyadic alpha means every
  *    weight is a power of two (1/shiftleft — never libm pow), and the
  *    weighted sum folds in day order for bit stability.
  *
  * Series construction is the q_haar_energy pattern: one combine
  * aggregate over orders, zero-filled against a broadcast day spine;
  * every later step is day-domain-bounded (<= 64x64 pair frames).
  */
object Round8uQueries {

  /** Zero-filled daily order-count series, idx in [0, len). */
  private def series(s: SparkSession, dir: String, len: Int): DataFrame = {
    val start = broadcast(Tables(s, dir, "orders")
      .agg(min("o_orderdate").as("d0")))
    val days = Tables(s, dir, "orders").crossJoin(start)
      .select(datediff(col("o_orderdate"), col("d0")).cast("long")
        .as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
    broadcast(s.range(len).select(col("id").as("idx")))
      .join(days, col("idx") === col("d"), "left")
      .select(col("idx"), coalesce(col("c"), lit(0L)).as("v"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_forecast_backtest" -> ((s, dir) => {
      val sr = graft.CacheScope.retain(series(s, dir, 64))
      def at(off: Int, as: String) = sr.select(
        (col("idx") + off).as(s"j$as"), col("v").as(as))
      val joined = sr.filter(col("idx") >= 36)
        .join(broadcast(at(1, "lag1")), col("idx") === col("jlag1"))
        .join(broadcast(at(7, "lag7")), col("idx") === col("jlag7"))
        .crossJoin(broadcast(sr.filter(col("idx") === 0)
          .select(col("v").as("v0"))))
      // drift forecast from origin t-1: y[t-1] + (y[t-1]-y[0])/(t-1)
      val preds = joined.select(col("idx"), col("v"),
        col("lag1").cast("double").as("p_naive"),
        col("lag7").cast("double").as("p_snaive"),
        (col("lag1").cast("double") +
          (col("lag1") - col("v0")).cast("double") /
            (col("idx") - 1).cast("double")).as("p_drift"))
      def arm(p: String, name: String) = preds
        .select(col("idx"), col("v"), col(p).as("p"))
        .agg(count(lit(1)).as("n_days"),
          // try_divide: an empty backtest window (a 1-day corpus) or a
          // zero-valued horizon must yield NULL scores, not ANSI errors
          try_divide(sortedFold(collect_list(struct(col("idx"),
            abs(col("v").cast("double") - col("p")).as("e"))), "e"),
            count(lit(1)).cast("double")).as("mae"),
          sum(when(col("v") > 0, 1L).otherwise(0L)).as("n_mape_days"),
          try_divide(sortedFold(collect_list(struct(col("idx"),
            when(col("v") > 0,
              abs(col("v").cast("double") - col("p")) /
                col("v").cast("double")).otherwise(lit(0.0)).as("r"))),
            "r"),
            sum(when(col("v") > 0, 1L).otherwise(0L)).cast("double"))
            .as("mape"))
        .select(lit(name).as("method"), col("n_days"), col("mae"),
          col("n_mape_days"), col("mape"))
      arm("p_naive", "naive")
        .unionByName(arm("p_snaive", "snaive"))
        .unionByName(arm("p_drift", "drift"))
        .orderBy("method")
    }),

    "q_changepoint_binseg" -> ((s, dir) => {
      val sr = graft.CacheScope.retain(series(s, dir, 64))
      val ks = broadcast(s.range(4, 61).select(col("id").as("k")))
      def sse(n: Column, sm: Column, sq: Column): Column =
        sq.cast("double") -
          sm.cast("double") * sm.cast("double") / n.cast("double")
      val perK = sr.crossJoin(ks)
        .groupBy("k")
        .agg(
          sum(when(col("idx") < col("k"), 1L).otherwise(0L)).as("nl"),
          sum(when(col("idx") < col("k"), col("v")).otherwise(0L))
            .as("sl"),
          sum(when(col("idx") < col("k"), col("v") * col("v"))
            .otherwise(0L)).as("ql"),
          sum(when(col("idx") >= col("k"), 1L).otherwise(0L)).as("nr"),
          sum(when(col("idx") >= col("k"), col("v")).otherwise(0L))
            .as("sr"),
          sum(when(col("idx") >= col("k"), col("v") * col("v"))
            .otherwise(0L)).as("qr"))
        .select(col("k"), col("nl"), col("nr"),
          sse(col("nl"), col("sl"), col("ql")).as("sse_left"),
          sse(col("nr"), col("sr"), col("qr")).as("sse_right"))
        .select(col("k"), col("nl"), col("nr"), col("sse_left"),
          col("sse_right"),
          (col("sse_left") + col("sse_right")).as("sse_split"))
      val base = broadcast(sr.agg(count(lit(1)).as("n0"),
          sum("v").as("s0"), sum(col("v") * col("v")).as("q0"))
        .select(sse(col("n0"), col("s0"), col("q0")).as("sse_total")))
      perK.crossJoin(base)
        .select(col("k").as("split_k"), col("nl").as("n_left"),
          col("nr").as("n_right"), col("sse_left"), col("sse_right"),
          col("sse_total"),
          (col("sse_total") - col("sse_split")).as("gain"))
        .orderBy(col("gain").desc, col("split_k").asc)
        .limit(1)
    }),

    // 63-day series so every weight exponent stays below 63 (1L<<63
    // would wrap negative in both engines).
    "q_ewma_alert" -> ((s, dir) => {
      val sr = graft.CacheScope.retain(series(s, dir, 63))
      val ew = sr.as("tt").crossJoin(broadcast(sr.as("ii")))
        .filter(col("ii.idx") <= col("tt.idx"))
        .select(col("tt.idx").as("tx"), col("ii.idx").as("i"),
          col("ii.v").as("vi"))
        .withColumn("w", lit(1.0) /
          call_function("shiftleft", lit(1L),
            when(col("i") === 0, col("tx"))
              .otherwise(col("tx") - col("i") + 1).cast("int"))
            .cast("double"))
        .groupBy("tx")
        .agg(sortedFold(collect_list(struct(col("i"),
          (col("vi").cast("double") * col("w")).as("term"))), "term")
          .as("ewma"))
      val out = sr
        .join(ew, col("idx") === col("tx"))
        .join(ew.select((col("tx") + 1).as("nx"),
          col("ewma").as("ewma_prev")), col("idx") === col("nx"), "left")
        .select(col("idx").as("t"), col("v"), col("ewma"),
          col("ewma_prev"),
          (col("v").cast("double") - col("ewma_prev")).as("resid"))
      out.select(col("t"), col("v"), col("ewma"), col("ewma_prev"),
          col("resid"),
          when(col("ewma_prev").isNotNull &&
            abs(col("resid")) > lit(0.5) * col("ewma_prev"), "alert")
            .otherwise("ok").as("status"))
        .orderBy("t")
    }),
  )

  private val seriesSql = (len: Int) =>
    s"""d0 AS (SELECT MIN(o_orderdate) AS d0 FROM orders),
       |days AS (
       |  SELECT CAST(date_diff('day', d0.d0, o_orderdate) AS BIGINT)
       |    AS d, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM orders, d0 GROUP BY 1
       |), series AS (
       |  SELECT u.i AS idx, COALESCE(days.c, 0) AS v
       |  FROM unnest(range(0, $len)) u(i)
       |  LEFT JOIN days ON days.d = u.i
       |)""".stripMargin

  private def armSql(p: String, name: String): String =
    s"""SELECT '$name' AS method, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  list_reduce([CAST(0 AS DOUBLE)] ||
       |    list(abs(CAST(v AS DOUBLE) - $p) ORDER BY idx),
       |    (a, q) -> a + q) / CAST(COUNT(*) AS DOUBLE) AS mae,
       |  CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_mape_days,
       |  list_reduce([CAST(0 AS DOUBLE)] ||
       |    list(CASE WHEN v > 0
       |      THEN abs(CAST(v AS DOUBLE) - $p) / CAST(v AS DOUBLE)
       |      ELSE 0.0 END ORDER BY idx), (a, q) -> a + q) /
       |    CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    AS mape
       |FROM preds""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_forecast_backtest" ->
      s"""WITH ${seriesSql(64)}, preds AS (
         |  SELECT s.idx AS idx, s.v AS v,
         |    CAST(l1.v AS DOUBLE) AS p_naive,
         |    CAST(l7.v AS DOUBLE) AS p_snaive,
         |    CAST(l1.v AS DOUBLE) + CAST(l1.v - s0.v AS DOUBLE) /
         |      CAST(s.idx - 1 AS DOUBLE) AS p_drift
         |  FROM series s
         |  JOIN series l1 ON s.idx = l1.idx + 1
         |  JOIN series l7 ON s.idx = l7.idx + 7
         |  CROSS JOIN (SELECT v FROM series WHERE idx = 0) s0
         |  WHERE s.idx >= 36
         |)
         |SELECT * FROM (
         |  ${armSql("p_naive", "naive")}
         |  UNION ALL
         |  ${armSql("p_snaive", "snaive")}
         |  UNION ALL
         |  ${armSql("p_drift", "drift")}
         |) ORDER BY method""".stripMargin,

    "q_changepoint_binseg" ->
      s"""WITH ${seriesSql(64)}, ks AS (
         |  SELECT u.i AS k FROM unnest(range(4, 61)) u(i)
         |), perk AS (
         |  SELECT k,
         |    CAST(SUM(CASE WHEN idx < k THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nl,
         |    CAST(SUM(CASE WHEN idx < k THEN v ELSE 0 END) AS BIGINT)
         |      AS sl,
         |    CAST(SUM(CASE WHEN idx < k THEN v * v ELSE 0 END)
         |      AS BIGINT) AS ql,
         |    CAST(SUM(CASE WHEN idx >= k THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nr,
         |    CAST(SUM(CASE WHEN idx >= k THEN v ELSE 0 END) AS BIGINT)
         |      AS sr,
         |    CAST(SUM(CASE WHEN idx >= k THEN v * v ELSE 0 END)
         |      AS BIGINT) AS qr
         |  FROM series, ks GROUP BY k
         |), costs AS (
         |  SELECT k, nl, nr,
         |    CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
         |      / CAST(nl AS DOUBLE) AS sse_left,
         |    CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
         |      / CAST(nr AS DOUBLE) AS sse_right
         |  FROM perk
         |), base AS (
         |  SELECT CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) *
         |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS sse_total
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         |    CAST(SUM(v) AS BIGINT) AS s0,
         |    CAST(SUM(v * v) AS BIGINT) AS q0 FROM series)
         |)
         |SELECT k AS split_k, nl AS n_left, nr AS n_right,
         |  sse_left, sse_right, base.sse_total AS sse_total,
         |  base.sse_total - (sse_left + sse_right) AS gain
         |FROM costs, base
         |ORDER BY gain DESC, split_k ASC LIMIT 1""".stripMargin,

    "q_ewma_alert" ->
      s"""WITH ${seriesSql(63)}, ew AS (
         |  SELECT tt.idx AS tx,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(CAST(ii.v AS DOUBLE) * (1.0 / CAST(
         |        (CAST(1 AS BIGINT) << CAST(CASE WHEN ii.idx = 0
         |          THEN tt.idx ELSE tt.idx - ii.idx + 1 END AS INT))
         |        AS DOUBLE)) ORDER BY ii.idx), (a, q) -> a + q) AS ewma
         |  FROM series tt JOIN series ii ON ii.idx <= tt.idx
         |  GROUP BY tt.idx
         |)
         |SELECT s.idx AS t, s.v AS v, e.ewma AS ewma,
         |  ep.ewma AS ewma_prev,
         |  CAST(s.v AS DOUBLE) - ep.ewma AS resid,
         |  CASE WHEN ep.ewma IS NOT NULL AND
         |    abs(CAST(s.v AS DOUBLE) - ep.ewma) > 0.5 * ep.ewma
         |    THEN 'alert' ELSE 'ok' END AS status
         |FROM series s
         |JOIN ew e ON s.idx = e.tx
         |LEFT JOIN ew ep ON s.idx = ep.tx + 1
         |ORDER BY t""".stripMargin,
  )
}
