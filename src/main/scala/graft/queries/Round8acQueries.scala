package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 twenty-ninth batch: queueing-theory capacity planning over
  * the event stream — what a streaming-ingest operator computes before
  * sizing executors and sinks.
  *
  *  - q_backlog_lindley: Lindley-recursion backlog of a single server
  *    consuming the per-minute arrival series at capacity c =
  *    ceil(1.2x mean rate): B_m = S_m - min(0, min_{k<=m} S_k) with
  *    S the prefix sum of (arrivals - c). The max-backlog / busy-
  *    minute summary is THE lag metric for an under-provisioned
  *    consumer. Prefix sums and running minima ride the bounded
  *    512-minute domain join — the recursion is decomposed, never
  *    sequentially folded over rows.
  *  - q_erlang_b: Erlang-B blocking probability for c in {8,16,32}
  *    servers at the measured arrival rate x 30 s mean service: the
  *    classic B_k = aB/(k+aB) recurrence evaluated as an identical
  *    higher-order fold in both engines (bounded k, not data-sized).
  *  - q_autoscale_plan: per-hour-of-day worker recommendation
  *    ceil(rate * service / utilization) from the 30-day hourly
  *    profile — the autoscaler's schedule table (service 30 s,
  *    target utilization 0.7 as literal modeling constants).
  */
object Round8acQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_backlog_lindley" -> ((s, dir) => {
      val t0 = broadcast(Tables(s, dir, "events").agg(min("ts").as("t0")))
      val arr = Tables(s, dir, "events").crossJoin(t0)
        // integer `div`, not `/`+cast: Spark casts double->long by
        // truncation but DuckDB CAST rounds — div avoids the divergence
        .select(expr("(unix_micros(ts) - unix_micros(t0)) div 60000000")
          .as("m"))
        .filter(col("m") < 512)
        .groupBy("m").agg(count(lit(1)).as("a"))
      val series = graft.CacheScope.retain(
        broadcast(s.range(512).select(col("id").as("m")))
          .join(arr, Seq("m"), "left")
          .select(col("m"), coalesce(col("a"), lit(0L)).as("a")))
      val cap = broadcast(series.agg(sum("a").as("tot"))
        .select(col("tot"),
          ceil(lit(1.2) * col("tot").cast("double") / lit(512.0))
            .cast("long").as("c")))
      // S_m and min-prefix via the bounded domain self-join
      val d = series.crossJoin(cap).select(col("m"),
        (col("a") - col("c")).as("d"), col("c"), col("tot"))
      val pre = d.as("x")
        .join(broadcast(d.select(col("m").as("j"), col("d").as("dj"))),
          col("j") <= col("m"))
        .groupBy(col("m"), col("c"), col("tot"))
        .agg(sum("dj").as("s"))
      val runmin = pre.as("p")
        .join(broadcast(pre.select(col("m").as("j"), col("s").as("sj"))),
          col("j") <= col("m"))
        .groupBy(col("m"), col("c"), col("tot"), col("s"))
        .agg(least(min("sj"), lit(0L)).as("minpre"))
        .select(col("m"), col("c"), col("tot"),
          (col("s") - col("minpre")).as("backlog"))
      runmin.groupBy("c", "tot")
        .agg(count(lit(1)).as("n_minutes"),
          // lexicographic max picks max backlog, then the SMALLEST
          // minute via the negated tie field
          max(struct(col("backlog"), (-col("m")).as("negm"))).as("mx"),
          sum(when(col("backlog") > 0, 1L).otherwise(0L))
            .as("n_busy_minutes"),
          max(when(col("m") === 511, col("backlog")))
            .as("final_backlog"))
        .select(col("c").as("capacity_per_min"),
          col("tot").as("total_arrivals"), col("n_minutes"),
          col("mx.backlog").as("max_backlog"),
          (-col("mx.negm")).as("minute_of_max"),
          col("n_busy_minutes"), col("final_backlog"))
    }),

    "q_erlang_b" -> ((s, dir) => {
      val span = broadcast(Tables(s, dir, "events")
        .agg(count(lit(1)).as("n"), min("ts").as("t0"),
          max("ts").as("t1"))
        .select(col("n"),
          // try_divide: a zero-width time span (all events at one
          // instant) has no defined rate — NULL, like DuckDB's x/0
          try_divide(col("n").cast("double"),
            (unix_micros(col("t1")) - unix_micros(col("t0")))
              .cast("double") / lit(1000000.0)).as("lambda")))
      val cs = broadcast(s.range(3).select(
        element_at(array(lit(8), lit(16), lit(32)),
          (col("id") + 1).cast("int")).as("c")))
      span.crossJoin(cs)
        .select(col("c"), col("lambda"),
          (col("lambda") * lit(30.0)).as("offered_a"))
        .select(col("c"), col("lambda"), col("offered_a"),
          aggregate(sequence(lit(1), col("c")), lit(1.0),
            (acc, k) => col("offered_a") * acc /
              (k.cast("double") + col("offered_a") * acc))
            .as("erlang_b"))
        .select(col("*"),
          (col("lambda") * lit(3600.0) * col("erlang_b"))
            .as("blocked_per_hour"))
        .orderBy("c")
    }),

    "q_autoscale_plan" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(hour(col("ts")).as("h"), to_date(col("ts")).as("d"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("d")).as("n_days"))
        .select(col("h").as("hour_of_day"), col("n_events"),
          col("n_days"),
          (col("n_events").cast("double") / col("n_days").cast("double"))
            .as("rate_per_hour"))
        .select(col("*"),
          // workers = ceil(rate/3600 * service 30 s / util 0.7)
          ceil(col("rate_per_hour") / lit(3600.0) * lit(30.0) /
            lit(0.7)).cast("long").as("workers"))
        .orderBy("hour_of_day")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_backlog_lindley" ->
      """WITH t0 AS (SELECT MIN(ts) AS t0 FROM events),
        |arr AS (
        |  SELECT CAST(date_diff('microseconds', t0.t0, ts) AS BIGINT)
        |      // 60000000 AS m,
        |    CAST(COUNT(*) AS BIGINT) AS a
        |  FROM events, t0
        |  WHERE CAST(date_diff('microseconds', t0.t0, ts) AS BIGINT)
        |      // 60000000 < 512
        |  GROUP BY 1
        |), series AS (
        |  SELECT u.i AS m, COALESCE(arr.a, 0) AS a
        |  FROM unnest(range(0, 512)) u(i)
        |  LEFT JOIN arr ON arr.m = u.i
        |), cap AS (
        |  SELECT CAST(SUM(a) AS BIGINT) AS tot,
        |    CAST(ceil(1.2 * CAST(SUM(a) AS DOUBLE) / 512.0) AS BIGINT)
        |      AS c
        |  FROM series
        |), d AS (
        |  SELECT m, a - cap.c AS d, cap.c AS c, cap.tot AS tot
        |  FROM series, cap
        |), pre AS (
        |  SELECT x.m AS m, x.c AS c, x.tot AS tot,
        |    CAST(SUM(j.d) AS BIGINT) AS s
        |  FROM d x JOIN d j ON j.m <= x.m
        |  GROUP BY x.m, x.c, x.tot
        |), runmin AS (
        |  SELECT p.m AS m, p.c AS c, p.tot AS tot,
        |    p.s - least(CAST(MIN(j.s) AS BIGINT), 0) AS backlog
        |  FROM pre p JOIN pre j ON j.m <= p.m
        |  GROUP BY p.m, p.c, p.tot, p.s
        |)
        |SELECT c AS capacity_per_min, tot AS total_arrivals,
        |  CAST(COUNT(*) AS BIGINT) AS n_minutes,
        |  CAST(MAX(backlog) AS BIGINT) AS max_backlog,
        |  CAST(MIN(CASE WHEN backlog = (SELECT MAX(backlog) FROM runmin)
        |    THEN m END) AS BIGINT) AS minute_of_max,
        |  CAST(SUM(CASE WHEN backlog > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_busy_minutes,
        |  CAST(MAX(CASE WHEN m = 511 THEN backlog END) AS BIGINT)
        |    AS final_backlog
        |FROM runmin GROUP BY c, tot""".stripMargin,

    "q_erlang_b" ->
      """WITH span AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS DOUBLE) /
        |      (CAST(CAST(date_diff('microseconds', MIN(ts), MAX(ts))
        |        AS BIGINT) AS DOUBLE) / 1000000.0) AS lambda
        |  FROM events
        |), cs AS (SELECT unnest([8, 16, 32]) AS c)
        |SELECT CAST(cs.c AS INT) AS c, span.lambda AS lambda,
        |  span.lambda * 30.0 AS offered_a,
        |  list_reduce([CAST(1 AS DOUBLE)] ||
        |    list_transform(range(1, cs.c + 1), k -> CAST(k AS DOUBLE)),
        |    (acc, k) -> (span.lambda * 30.0) * acc /
        |      (k + (span.lambda * 30.0) * acc)) AS erlang_b,
        |  span.lambda * 3600.0 * list_reduce([CAST(1 AS DOUBLE)] ||
        |    list_transform(range(1, cs.c + 1), k -> CAST(k AS DOUBLE)),
        |    (acc, k) -> (span.lambda * 30.0) * acc /
        |      (k + (span.lambda * 30.0) * acc)) AS blocked_per_hour
        |FROM span CROSS JOIN cs
        |ORDER BY c""".stripMargin,

    "q_autoscale_plan" ->
      """SELECT CAST(hour(ts) AS INT) AS hour_of_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(COUNT(*) AS DOUBLE) /
        |    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
        |    AS rate_per_hour,
        |  CAST(ceil(CAST(COUNT(*) AS DOUBLE) /
        |    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE) / 3600.0 *
        |    30.0 / 0.7) AS BIGINT) AS workers
        |FROM events
        |GROUP BY hour(ts)
        |ORDER BY hour_of_day""".stripMargin,
  )
}
