package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 fourth batch: sequential/temporal analytics — interval
  * algebra, streak mining, order statistics over time.
  *
  *  - q_interval_coverage: union length of overlapping per-user event
  *    intervals (the "actual engaged time" metric; naive sum double-
  *    counts overlap)
  *  - q_runs_test: Wald-Wolfowitz runs test on daily revenue vs its
  *    median — is the series random or trending/mean-reverting?
  *  - q_max_drawdown: per-part max peak-to-trough price decline (the
  *    running-max formulation, one pass)
  *  - q_streak_days: longest consecutive-day activity streak per user
  *    (calendar gaps-and-islands)
  *  - q_rank_movers: week-over-week brand revenue-rank movers
  *    (group-ranked, never a per-week single partition)
  *  - q_new_repeat_revenue: weekly revenue split into first-order vs
  *    repeat customers
  *
  * Determinism: integer sufficient statistics (micros, cents, day
  * counts); doubles only in final mirrored expressions over exact
  * BIGINTs. Bounded-frame windows (daily series, weekly brand table)
  * are commented where they ride a post-aggregate frame whose size is
  * calendar- or catalog-bounded, not data-bounded.
  */
object Round7dQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Union length of overlapping 5-minute event intervals per user:
    // incremental coverage of interval [s, e) against the running max
    // end of everything earlier is greatest(0, e - greatest(s, prev)),
    // summed per user — the single-pass merge-overlaps identity, no
    // island enumeration needed. Window partitions by user_id (high
    // cardinality, scales). Top-20 by engaged time.
    "q_interval_coverage" -> ((s, dir) => {
      val winUs = 5L * 60 * 1000 * 1000
      val byStart = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val iv = Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("e", col("us") + winUs)
        .withColumn("prev_max",
          coalesce(max("e").over(
            byStart.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cover",
          greatest(lit(0L), col("e") - greatest(col("us"), col("prev_max"))))
      iv.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("cover").as("covered_us"))
        .withColumn("dedup_ratio",
          col("covered_us").cast("double") /
            (col("n_events") * winUs))
        .orderBy(col("covered_us").desc, col("user_id"))
        .limit(20)
    }),

    // Wald-Wolfowitz runs test on daily order revenue vs its lower
    // median: R runs of above/below, expected mu = 1 + 2ab/n, var =
    // 2ab(2ab-n)/(n^2(n-1)), z = (R-mu)/sigma. The daily series and
    // everything after it is calendar-bounded (one row per day), so
    // the ordered windows ride a frame whose size the data volume
    // cannot grow — only the initial daily aggregate scales.
    "q_runs_test" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      val byCents = Window.orderBy(col("cents"), col("day"))
      val byDay = Window.orderBy("day")
      val med = daily
        .withColumn("rk", row_number().over(byCents))
        .withColumn("n", count(lit(1)).over(
          byDay.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("med", max(when(
          col("rk") === call_function("div", col("n") + 1, lit(2L)),
          col("cents"))).over(
          byDay.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      val signed = med
        .withColumn("above", (col("cents") > col("med")).cast("int"))
        .withColumn("run_start",
          when(lag(col("above"), 1).over(byDay).isNull ||
            lag(col("above"), 1).over(byDay) =!= col("above"), 1L)
            .otherwise(0L))
      signed.agg(
          count(lit(1)).as("n_days"),
          sum("above").cast("long").as("n_above"),
          (count(lit(1)) - sum("above")).cast("long").as("n_below"),
          sum("run_start").as("n_runs"))
        .withColumn("mu", lit(1.0) +
          (col("n_above") * col("n_below") * 2).cast("double") /
            col("n_days"))
        .withColumn("z", {
          val twoAb = (col("n_above") * col("n_below") * 2).cast("double")
          val n = col("n_days").cast("double")
          val varr = twoAb * (twoAb - n) / (n * n * (n - 1))
          when(col("n_above") === 0 || col("n_below") === 0, lit(0.0))
            .otherwise((col("n_runs").cast("double") - col("mu")) /
              sqrt(varr))
        })
    }),

    // Max drawdown per part over its line-price series in ship order:
    // running peak via an unbounded-preceding max window (partitioned
    // by part — high cardinality), drawdown = peak - price, one max
    // per part. Integer cents end to end. Top-20 by drawdown.
    "q_max_drawdown" -> ((s, dir) => {
      val byShip = Window.partitionBy("l_partkey")
        .orderBy(col("day"), col("l_orderkey"), col("l_linenumber"))
      Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("day"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents"))
        .withColumn("peak", max("cents").over(
          byShip.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_points"),
          max(col("peak") - col("cents")).as("max_drawdown"),
          max("peak").as("peak_cents"))
        .orderBy(col("max_drawdown").desc, col("l_partkey"))
        .limit(20)
    }),

    // Longest consecutive-day activity streak per user: distinct
    // (user, day), anchor = day - row_number (constant within a
    // consecutive run — the calendar gaps-and-islands identity),
    // streak = island size, keep each user's best. All windows
    // partition by user_id. Top-20 by (streak, user).
    "q_streak_days" -> ((s, dir) => {
      val byDay = Window.partitionBy("user_id").orderBy("day")
      Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("anchor",
          date_sub(col("day"), row_number().over(byDay)))
        .groupBy("user_id", "anchor")
        .agg(count(lit(1)).as("streak"))
        .groupBy("user_id")
        .agg(max("streak").as("best_streak"))
        .orderBy(col("best_streak").desc, col("user_id"))
        .limit(20)
    }),

    // Week-over-week brand revenue-rank movers: weekly brand cents,
    // rank within week via GlobalRank.withGroupRank (range-bucketed —
    // never one task per week), adjacent weeks joined on brand, top-10
    // by |rank delta|. The weekly brand table is catalog x calendar
    // bounded, but the rank machinery scales anyway.
    "q_rank_movers" -> ((s, dir) => {
      val part = broadcast(Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_brand")))
      // weekly feeds the group-rank machinery (quantile probe + rank
      // plan) AND both sides of the adjacent-week self-join: retained
      // so the lineitem join + aggregate derives once
      val weekly = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(to_date(date_trunc("week", col("l_shipdate"))).as("week"),
          col("p_brand"))
        .agg(sum(floor(col("l_extendedprice") * 100.0).cast("long"))
          .as("cents"))
        .withColumn("neg", -col("cents")))
      val ranked = graft.CacheScope.retain(
        graft.operators.GlobalRank.withGroupRank(
          weekly, Seq("week"), col("neg"), col("p_brand"), "rnk"))
      ranked.as("cur").join(ranked.as("prev"),
          col("cur.p_brand") === col("prev.p_brand") &&
            datediff(col("cur.week"), col("prev.week")) === 7)
        .select(col("cur.week").as("week"),
          col("cur.p_brand").as("p_brand"),
          col("prev.rnk").as("rank_prev"),
          col("cur.rnk").as("rank_cur"),
          (col("prev.rnk") - col("cur.rnk")).as("delta"))
        .orderBy(abs(col("delta")).desc, col("p_brand"), col("week"))
        .limit(10)
    }),

    // Weekly revenue split by customer tenure: an order is "new" when
    // it falls on its customer's first-ever order day, else repeat.
    // First day via a min window over the customer partition (high
    // cardinality); the weekly rollup is calendar-bounded.
    "q_new_repeat_revenue" -> ((s, dir) => {
      val byCust = Window.partitionBy("o_custkey")
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_orderdate").cast("date").as("day"),
          floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
        .withColumn("first_day", min("day").over(byCust))
        .withColumn("is_new", (col("day") === col("first_day")).cast("int"))
      o.groupBy(to_date(date_trunc("week", col("day"))).as("week"))
        .agg(sum(when(col("is_new") === 1, col("cents")).otherwise(0L))
            .as("rev_new"),
          sum(when(col("is_new") === 0, col("cents")).otherwise(0L))
            .as("rev_repeat"),
          sum("is_new").cast("long").as("n_new_orders"),
          sum(lit(1) - col("is_new")).cast("long").as("n_repeat_orders"))
        .withColumn("new_share",
          col("rev_new").cast("double") /
            (col("rev_new") + col("rev_repeat")))
        .orderBy("week")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_interval_coverage" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    epoch_us(ts) + 300000000 AS e
        |  FROM events
        |), c AS (
        |  SELECT user_id, us, e,
        |    COALESCE(MAX(e) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prev_max
        |  FROM iv
        |)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(GREATEST(0, e - GREATEST(us, prev_max))) AS BIGINT)
        |    AS covered_us,
        |  CAST(SUM(GREATEST(0, e - GREATEST(us, prev_max))) AS DOUBLE)
        |    / (COUNT(*) * 300000000) AS dedup_ratio
        |FROM c GROUP BY 1
        |ORDER BY covered_us DESC, user_id LIMIT 20""".stripMargin,

    "q_runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), m AS (
        |  SELECT day, cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, day) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM daily
        |), med AS (
        |  SELECT day, cents,
        |    MAX(CASE WHEN rk = (n + 1) // 2 THEN cents END) OVER ()
        |      AS med
        |  FROM m
        |), signed AS (
        |  SELECT day,
        |    CASE WHEN cents > med THEN 1 ELSE 0 END AS above
        |  FROM med
        |), runs AS (
        |  SELECT above,
        |    CASE WHEN LAG(above) OVER (ORDER BY day) IS NULL
        |      OR LAG(above) OVER (ORDER BY day) <> above
        |      THEN 1 ELSE 0 END AS run_start
        |  FROM signed
        |), agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(above) AS BIGINT) AS n_above,
        |    CAST(COUNT(*) - SUM(above) AS BIGINT) AS n_below,
        |    CAST(SUM(run_start) AS BIGINT) AS n_runs
        |  FROM runs
        |)
        |SELECT n_days, n_above, n_below, n_runs,
        |  1.0 + CAST(n_above * n_below * 2 AS DOUBLE) / n_days AS mu,
        |  CASE WHEN n_above = 0 OR n_below = 0 THEN 0.0
        |    ELSE (CAST(n_runs AS DOUBLE) -
        |      (1.0 + CAST(n_above * n_below * 2 AS DOUBLE) / n_days))
        |      / sqrt(CAST(n_above * n_below * 2 AS DOUBLE)
        |        * (CAST(n_above * n_below * 2 AS DOUBLE)
        |           - CAST(n_days AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
        |           * (CAST(n_days AS DOUBLE) - 1)))
        |  END AS z
        |FROM agg""".stripMargin,

    "q_max_drawdown" ->
      """WITH s AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber,
        |    CAST(l_shipdate AS DATE) AS day,
        |    CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        |  FROM lineitem
        |), p AS (
        |  SELECT l_partkey, cents,
        |    MAX(cents) OVER (PARTITION BY l_partkey
        |      ORDER BY day, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM s
        |)
        |SELECT l_partkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown,
        |  CAST(MAX(peak) AS BIGINT) AS peak_cents
        |FROM p GROUP BY 1
        |ORDER BY max_drawdown DESC, l_partkey LIMIT 20""".stripMargin,

    "q_streak_days" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), a AS (
        |  SELECT user_id,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INT) AS anchor
        |  FROM ud
        |), st AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak
        |  FROM a GROUP BY user_id, anchor
        |)
        |SELECT user_id, CAST(MAX(streak) AS BIGINT) AS best_streak
        |FROM st GROUP BY 1
        |ORDER BY best_streak DESC, user_id LIMIT 20""".stripMargin,

    "q_rank_movers" ->
      """WITH weekly AS (
        |  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
        |    p_brand,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT week, p_brand,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY week
        |      ORDER BY cents DESC, p_brand) AS BIGINT) AS rnk
        |  FROM weekly
        |)
        |SELECT c.week, c.p_brand,
        |  p.rnk AS rank_prev, c.rnk AS rank_cur,
        |  p.rnk - c.rnk AS delta
        |FROM ranked c JOIN ranked p
        |  ON c.p_brand = p.p_brand AND c.week - p.week = 7
        |ORDER BY abs(p.rnk - c.rnk) DESC, c.p_brand, c.week
        |LIMIT 10""".stripMargin,

    "q_new_repeat_revenue" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |    CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents,
        |    MIN(CAST(o_orderdate AS DATE))
        |      OVER (PARTITION BY o_custkey) AS first_day
        |  FROM orders
        |), c AS (
        |  SELECT CAST(date_trunc('week', day) AS DATE) AS week,
        |    CASE WHEN day = first_day THEN 1 ELSE 0 END AS is_new,
        |    cents
        |  FROM o
        |)
        |SELECT week,
        |  CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
        |    AS BIGINT) AS rev_new,
        |  CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END)
        |    AS BIGINT) AS rev_repeat,
        |  CAST(SUM(is_new) AS BIGINT) AS n_new_orders,
        |  CAST(SUM(1 - is_new) AS BIGINT) AS n_repeat_orders,
        |  CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
        |    AS DOUBLE) / SUM(cents) AS new_share
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
}
