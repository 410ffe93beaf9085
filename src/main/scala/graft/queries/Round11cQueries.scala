package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DetMath
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-11 third batch: four more analytics surfaces a ClickHouse-sink
  * user expects, each absent from the inventory until now.
  *
  *  - q_min_max_map: CH `minMap`/`maxMap` — per-key element-wise
  *    min/max maps (event_type → hour → min/max value), in the same
  *    long-form encoding q_summap_pivot pinned for map-typed
  *    combinators (scalar columns + per-type cardinality).
  *  - q_group_bitmap_ops: CH `groupBitmapAnd/Or/Xor` cardinalities over
  *    per-weekday user bitmaps — users active EVERY weekday (AND), ANY
  *    weekday (OR), an ODD number of weekdays (XOR), computed as exact
  *    distinct-set arithmetic (count distinct weekdays per user), which
  *    is what the bitmap ops measure.
  *  - q_cramers_v: the CH `cramersV` / `theilsU` association pair over
  *    the (o_orderpriority × o_orderstatus) contingency table — chi²,
  *    Cramér's V, and BOTH directed Theil's U coefficients. Float sums
  *    fold over key-sorted term lists (written order, 15/5/3 terms) and
  *    every logarithm is DetMath.dln, so the doubles match DuckDB
  *    bitwise.
  *  - q_sequence_timed_sweep: the `(?1)(?t<W)(?2)` selectivity curve at
  *    W ∈ {60 s, 600 s, 3600 s} — ONE lead() pass scores all three
  *    windows (the gap is computed once; three conditional sums), the
  *    join-window-vs-match-rate table a funnel owner reads before
  *    pinning W.
  */
object Round11cQueries {

  /** Written-order fold of `term` over rows sorted by `key`: the
    * cross-engine-deterministic float sum for handful-sized term sets.
    */
  private def sortedSum(key: Column, term: Column): Column =
    aggregate(array_sort(collect_list(struct(key.as("k"), term.as("t")))),
      lit(0.0), (acc, x) => acc + x.getField("t"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_min_max_map" -> ((s, dir) => {
      // ts IS NOT NULL like the sibling time-keyed keys: a NULL hour
      // group would ORDER differently across engines (Spark nulls
      // first, DuckDB nulls last) under the positional comparator
      val hourly = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("event_type"), hour(col("ts")).cast("long").as("h"),
          col("value").cast(dec).as("v"))
        .groupBy("event_type", "h")
        .agg(min(col("v")).cast("string").cast("double").as("vmin"),
          max(col("v")).cast("string").cast("double").as("vmax"),
          count(col("v")).as("n_vals"))
      val card = hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"))
      hourly.join(card, "event_type")
        .select(col("event_type"), col("h"), col("vmin"), col("vmax"),
          col("n_vals"), col("n_hours"))
        .orderBy("event_type", "h")
    }),

    "q_group_bitmap_ops" -> ((s, dir) => {
      val perUser = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("user_id"), dayofweek(col("ts")).as("wd"))
        .distinct()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_days"))
      perUser.agg(
        count(lit(1)).as("n_users_or"),
        sum(when(col("n_days") === 7, 1L).otherwise(0L)).as("n_users_and"),
        sum(when(pmod(col("n_days"), lit(2)) === 1, 1L).otherwise(0L))
          .as("n_users_xor"),
        max(col("n_days")).as("max_days"),
        sum(col("n_days")).as("sum_memberships"))
    }),

    "q_cramers_v" -> ((s, dir) => {
      val cells = graft.CacheScope.retain(Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("p"),
          col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("c")))
      val rows = cells.groupBy("p").agg(sum(col("c")).as("r"))
      val cols = cells.groupBy("st").agg(sum(col("c")).as("cc"))
      val nR = cells.agg(sum(col("c")).as("n"),
        countDistinct(col("p")).as("np"),
        countDistinct(col("st")).as("nst"))
      // chi2 terms: (c - e)^2 / e with e = r*cc/n (r*cc exact long;
      // one double division each) — folded in (p, st) order
      val chi2F = cells.join(rows, "p").join(cols, "st")
        .crossJoin(broadcast(nR))
        .withColumn("e", (col("r") * col("cc")).cast("double")
          / col("n").cast("double"))
        .withColumn("term",
          (col("c").cast("double") - col("e")) *
            (col("c").cast("double") - col("e")) / col("e"))
        .agg(sortedSum(struct(col("p"), col("st")), col("term"))
          .as("chi2"),
          sortedSum(struct(col("p"), col("st")),
            col("c").cast("double") * DetMath.dln(col("c"))).as("s_cell"))
      val sR = rows.agg(sortedSum(col("p"),
        col("r").cast("double") * DetMath.dln(col("r"))).as("s_r"))
      val sC = cols.agg(sortedSum(col("st"),
        col("cc").cast("double") * DetMath.dln(col("cc"))).as("s_c"))
      chi2F.crossJoin(broadcast(sR)).crossJoin(broadcast(sC))
        .crossJoin(broadcast(nR))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("hx", DetMath.dln(col("n")) - col("s_r") / col("nd"))
        .withColumn("hy", DetMath.dln(col("n")) - col("s_c") / col("nd"))
        .withColumn("hx_given_y", (col("s_c") - col("s_cell")) / col("nd"))
        .withColumn("hy_given_x", (col("s_r") - col("s_cell")) / col("nd"))
        // guards mirror NULLIF: a single-category table has
        // min(np,nst)=1 (V undefined) and H=0 exactly when the dln DAG
        // cancels (U undefined); Spark's double/0.0 would be NaN where
        // DuckDB yields NULL
        .select(col("n"), col("chi2"),
          when(least(col("np"), col("nst")) > 1,
            sqrt(col("chi2") / (col("nd") *
              (least(col("np"), col("nst")) - 1).cast("double"))))
            .as("cramers_v"),
          when(col("hx") > 0,
            (col("hx") - col("hx_given_y")) / col("hx")).as("theils_u_xy"),
          when(col("hy") > 0,
            (col("hy") - col("hy_given_x")) / col("hy")).as("theils_u_yx"))
    }),

    "q_sequence_timed_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vc = Tables(s, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val adj = vc
        .withColumn("nxt_type", lead(col("event_type"), 1).over(w))
        .withColumn("gap", lead(col("us"), 1).over(w) - col("us"))
        .withColumn("is_vc",
          col("event_type") === "view" && col("nxt_type") === "click")
      def hit(sec: Long): Column =
        when(col("is_vc") && col("gap") < lit(sec * 1000000L), 1L)
          .otherwise(0L)
      val perUser = adj.groupBy("user_id")
        .agg(sum(hit(60)).as("m60"), sum(hit(600)).as("m600"),
          sum(hit(3600)).as("m3600"))
      perUser.agg(
          sum(when(col("m60") > 0, 1L).otherwise(0L)).as("u60"),
          sum(col("m60")).as("t60"),
          sum(when(col("m600") > 0, 1L).otherwise(0L)).as("u600"),
          sum(col("m600")).as("t600"),
          sum(when(col("m3600") > 0, 1L).otherwise(0L)).as("u3600"),
          sum(col("m3600")).as("t3600"))
        .selectExpr("stack(3, 60L, u60, t60, 600L, u600, t600, " +
          "3600L, u3600, t3600) as (window_sec, n_users_matched, " +
          "total_matches)")
        .orderBy("window_sec")
    }))

  private def lnSumCte(name: String, from: String, key: String,
      weight: String): String =
    // weight * dln(weight) terms folded in key order (list ORDER BY)
    s"""${DetMath.lnCtesSql(s"${name}_ln", from, s"$key, $weight", weight,
         "lnw")},
       |$name AS (
       |  SELECT list_reduce(
       |    [CAST(0.0 AS DOUBLE)] ||
       |      COALESCE(list(CAST($weight AS DOUBLE) * lnw ORDER BY $key),
       |        []),
       |    (a, b) -> a + b) AS s
       |  FROM ${name}_ln
       |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_min_max_map" ->
      """WITH hourly AS (
        |  SELECT event_type, hour(ts) AS h,
        |    CAST(CAST(MIN(CAST(value AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS vmin,
        |    CAST(CAST(MAX(CAST(value AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS vmax,
        |    CAST(COUNT(value) AS BIGINT) AS n_vals
        |  FROM events WHERE ts IS NOT NULL
        |  GROUP BY event_type, hour(ts)
        |), card AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
        |  FROM hourly GROUP BY event_type
        |)
        |SELECT h.event_type, h.h, h.vmin, h.vmax, h.n_vals, c.n_hours
        |FROM hourly h JOIN card c USING (event_type)
        |ORDER BY h.event_type, h.h""".stripMargin,

    "q_group_bitmap_ops" ->
      """WITH per_user AS (
        |  SELECT user_id, COUNT(*) AS n_days FROM (
        |    SELECT DISTINCT user_id, dayofweek(ts) AS wd FROM events
        |    WHERE ts IS NOT NULL
        |  ) GROUP BY user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users_or,
        |  CAST(SUM(CASE WHEN n_days = 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_and,
        |  CAST(SUM(CASE WHEN n_days % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_xor,
        |  CAST(MAX(n_days) AS BIGINT) AS max_days,
        |  CAST(SUM(n_days) AS BIGINT) AS sum_memberships
        |FROM per_user""".stripMargin,

    "q_cramers_v" -> {
      val cellLn = lnSumCte("cell_s", "cells", "p, st", "c")
      val rowLn = lnSumCte("row_s", "rows_t", "p", "r")
      val colLn = lnSumCte("col_s", "cols_t", "st", "cc")
      val nLn = DetMath.lnCtesSql("n_ln", "n_t", "n, np, nst", "n", "ln_n")
      s"""WITH cells AS (
         |  SELECT o_orderpriority AS p, o_orderstatus AS st,
         |    COUNT(*) AS c
         |  FROM orders GROUP BY 1, 2
         |), rows_t AS (
         |  SELECT p, SUM(c) AS r FROM cells GROUP BY p
         |), cols_t AS (
         |  SELECT st, SUM(c) AS cc FROM cells GROUP BY st
         |), n_t AS (
         |  SELECT SUM(c) AS n, COUNT(DISTINCT p) AS np,
         |    COUNT(DISTINCT st) AS nst
         |  FROM cells
         |), chi AS (
         |  SELECT list_reduce(
         |    [CAST(0.0 AS DOUBLE)] || COALESCE(list(
         |      (CAST(c AS DOUBLE) -
         |        CAST(r * cc AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      (CAST(c AS DOUBLE) -
         |        CAST(r * cc AS DOUBLE) / CAST(n AS DOUBLE)) /
         |      (CAST(r * cc AS DOUBLE) / CAST(n AS DOUBLE))
         |      ORDER BY p, st), []),
         |    (a, b) -> a + b) AS chi2
         |  FROM cells JOIN rows_t USING (p) JOIN cols_t USING (st), n_t
         |), $cellLn, $rowLn, $colLn, $nLn, ents AS (
         |  SELECT n_t.n, n_t.np, n_t.nst, chi.chi2,
         |    CAST(n_t.n AS DOUBLE) AS nd,
         |    n_ln.ln_n - row_s.s / CAST(n_t.n AS DOUBLE) AS hx,
         |    n_ln.ln_n - col_s.s / CAST(n_t.n AS DOUBLE) AS hy,
         |    (col_s.s - cell_s.s) / CAST(n_t.n AS DOUBLE) AS hxy,
         |    (row_s.s - cell_s.s) / CAST(n_t.n AS DOUBLE) AS hyx
         |  FROM chi, cell_s, row_s, col_s, n_ln, n_t
         |)
         |SELECT CAST(n AS BIGINT) AS n, chi2,
         |  CASE WHEN LEAST(np, nst) > 1 THEN
         |    sqrt(chi2 / (nd * CAST(LEAST(np, nst) - 1 AS DOUBLE)))
         |  END AS cramers_v,
         |  CASE WHEN hx > 0 THEN (hx - hxy) / hx END AS theils_u_xy,
         |  CASE WHEN hy > 0 THEN (hy - hyx) / hy END AS theils_u_yx
         |FROM ents""".stripMargin
    },

    "q_sequence_timed_sweep" ->
      """WITH vc AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type IN ('view', 'click')
        |), adj AS (
        |  SELECT user_id,
        |    event_type = 'view' AND lead(event_type) OVER w = 'click'
        |      AS is_vc,
        |    lead(us) OVER w - us AS gap
        |  FROM vc
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), per_user AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN is_vc AND gap < 60000000 THEN 1 ELSE 0 END)
        |      AS m60,
        |    SUM(CASE WHEN is_vc AND gap < 600000000 THEN 1 ELSE 0 END)
        |      AS m600,
        |    SUM(CASE WHEN is_vc AND gap < 3600000000 THEN 1 ELSE 0 END)
        |      AS m3600
        |  FROM adj GROUP BY user_id
        |), agg AS (
        |  SELECT
        |    SUM(CASE WHEN m60 > 0 THEN 1 ELSE 0 END) AS u60,
        |    SUM(m60) AS t60,
        |    SUM(CASE WHEN m600 > 0 THEN 1 ELSE 0 END) AS u600,
        |    SUM(m600) AS t600,
        |    SUM(CASE WHEN m3600 > 0 THEN 1 ELSE 0 END) AS u3600,
        |    SUM(m3600) AS t3600
        |  FROM per_user
        |)
        |SELECT CAST(window_sec AS BIGINT) AS window_sec,
        |  CAST(n_users_matched AS BIGINT) AS n_users_matched,
        |  CAST(total_matches AS BIGINT) AS total_matches
        |FROM (
        |  SELECT 60 AS window_sec, u60 AS n_users_matched,
        |    t60 AS total_matches FROM agg
        |  UNION ALL SELECT 600, u600, t600 FROM agg
        |  UNION ALL SELECT 3600, u3600, t3600 FROM agg
        |) ORDER BY window_sec""".stripMargin)
}
