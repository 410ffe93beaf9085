package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-9 first batch: ClickHouse aggregate-combinator semantics.
  * The reference is a ClickHouse sink (SURVEY §0); the queries its
  * users feed it are written against ClickHouse's behavioral-analytics
  * aggregates. This batch re-expresses the three canonical ones as
  * Spark-native plans:
  *
  *  - q_window_funnel: windowFunnel(1h)(view -> click -> purchase) per
  *    user: EVERY view is a candidate anchor, each anchor's chain is
  *    greedy (earliest next step strictly after the previous, all
  *    within anchor+1h — CH's strict_increase mode), and the user's
  *    level is the max over anchors — the level histogram. (r9 ADVICE:
  *    the first cut anchored only at the user's FIRST view, which can
  *    under-report a user whose first window expires but whose later
  *    view completes the funnel; CH windowFunnel scans all candidate
  *    first-step events.) Anchors x steps resolve in two user_id-keyed
  *    left joins with conditional min aggregates — per-user fan-out is
  *    views-per-user x clicks-per-user, blocked by the user key like
  *    q_funnel_steps, never a corpus-level product.
  *  - q_sequence_count_vc: sequenceCount('v .* c') — non-overlapping
  *    view-then-click matches per user, counted with one
  *    regexp_extract_all over the canonical per-user letter sequence
  *    (sort_array fixes collect_list's nondeterministic order; the
  *    pattern 'v[^c]*c' is RE2-safe and scans left-to-right
  *    non-overlapping identically in Java regex and DuckDB's RE2).
  *  - q_summap_pivot: sumMap(hour -> value) per event type — the
  *    per-key map sum materialized as its sorted entry list
  *    (event_type, h, hv) plus the per-type entry cardinality
  *    (n_hours), i.e. the long-form encoding of the map. Inner
  *    groupBy(type, hour) is 5x24 groups; the cardinality join
  *    aggregates 24 rows per type, never the scan. (r9 verdict #1:
  *    the first cut emitted parallel hours[]/sums[] ARRAY columns,
  *    which the driver's checker cannot sort — unverifiable output
  *    shape. Same combinator semantics, scalar columns only;
  *    OutputShapeSpec now bans top-level ARRAY/MAP/STRUCT outputs.)
  */
object Round9aQueries {

  private val letter =
    when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "purchase", "p")
      .when(col("event_type") === "signup", "s")
      .when(col("event_type") === "error", "e")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_window_funnel" -> ((s, dir) => {
      val WindowUs = 3600L * 1000000L // 1 hour
      val ev = graft.CacheScope.retain(Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us")))
      // every view is an anchor; per anchor the greedy chain takes the
      // earliest click strictly after the anchor, then the earliest
      // purchase strictly after that click, all within anchor+1h. The
      // conditional min INSIDE the aggregate (not a join filter) keeps
      // anchors with no qualifying step — they still score level 1.
      val anchors = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("t1"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"))
      val withClick = anchors.join(clicks, Seq("user_id"), "left")
        .groupBy("user_id", "t1")
        .agg(min(when(col("c_us") > col("t1") &&
          col("c_us") <= col("t1") + lit(WindowUs), col("c_us"))).as("t2"))
      val perAnchor = withClick.join(purchases, Seq("user_id"), "left")
        .groupBy("user_id", "t1", "t2")
        .agg(min(when(col("p_us") > col("t2") &&
          col("p_us") <= col("t1") + lit(WindowUs), col("p_us"))).as("t3"))
        .select(col("user_id"),
          when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2).otherwise(1).as("lvl"))
      val bestPerUser = perAnchor.groupBy("user_id")
        .agg(max(col("lvl")).as("best"))
      val levels = ev.select("user_id").distinct()
        .join(bestPerUser, Seq("user_id"), "left")
        .select(coalesce(col("best"), lit(0)).as("level"))
      levels.groupBy("level").agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    }),

    "q_sequence_count_vc" -> ((s, dir) => {
      val seqs = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), letter.as("l"))
        .groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("l")))),
          x => x.getField("l")), "").as("seq"))
        .select(col("user_id"),
          size(regexp_extract_all(col("seq"), lit("v[^c]*c"), lit(0)))
            .as("n_vc"),
          size(regexp_extract_all(col("seq"), lit("e+"), lit(0)))
            .as("n_error_runs"))
      seqs.agg(
        count(lit(1)).as("n_users"),
        sum(col("n_vc").cast("long")).as("total_vc_matches"),
        sum(when(col("n_vc") > 0, 1L).otherwise(0L)).as("users_with_vc"),
        max(col("n_vc").cast("long")).as("max_vc_per_user"),
        sum(col("n_error_runs").cast("long")).as("total_error_runs"))
    }),

    "q_summap_pivot" -> ((s, dir) => {
      val hourly = Tables(s, dir, "events")
        // long hour: the oracle checker's integer-width tolerance does
        // not reach inside list elements, and DuckDB's hour() is BIGINT
        .select(col("event_type"), hour(col("ts")).cast("long").as("h"),
          col("value").cast(dec).as("v"))
        .groupBy("event_type", "h")
        // decimal -> string -> double: correctly rounded on both
        // engines (DuckDB's direct decimal cast can sit 1 ulp off —
        // the CORRECTNESS_sf0001 class)
        .agg(sum(col("v")).cast("string").cast("double").as("hv"))
      val card = hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"))
      hourly.join(card, "event_type")
        .select(col("event_type"), col("h"), col("hv"), col("n_hours"))
        .orderBy("event_type", "h")
    }))

  val oracle: Map[String, String] = Map(

    "q_window_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), anchors AS (
        |  SELECT user_id, us AS t1 FROM ev WHERE event_type = 'view'
        |), with_click AS (
        |  SELECT a.user_id, a.t1,
        |    MIN(CASE WHEN c.us > a.t1 AND c.us <= a.t1 + 3600000000
        |      THEN c.us END) AS t2
        |  FROM anchors a LEFT JOIN
        |    (SELECT user_id, us FROM ev WHERE event_type = 'click') c
        |    ON a.user_id = c.user_id
        |  GROUP BY a.user_id, a.t1
        |), per_anchor AS (
        |  SELECT w.user_id,
        |    CASE WHEN MIN(CASE WHEN p.us > w.t2
        |        AND p.us <= w.t1 + 3600000000 THEN p.us END) IS NOT NULL
        |      THEN 3 WHEN w.t2 IS NOT NULL THEN 2 ELSE 1 END AS lvl
        |  FROM with_click w LEFT JOIN
        |    (SELECT user_id, us FROM ev WHERE event_type = 'purchase') p
        |    ON w.user_id = p.user_id
        |  GROUP BY w.user_id, w.t1, w.t2
        |), best AS (
        |  SELECT user_id, MAX(lvl) AS best FROM per_anchor GROUP BY user_id
        |)
        |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT COALESCE(b.best, 0) AS level
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN best b USING (user_id)
        |) GROUP BY level ORDER BY level""".stripMargin,

    "q_sequence_count_vc" ->
      """WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' WHEN 'error' THEN 'e' END, ''
        |      ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id
        |), counted AS (
        |  SELECT user_id,
        |    length(regexp_extract_all(seq, 'v[^c]*c')) AS n_vc,
        |    length(regexp_extract_all(seq, 'e+')) AS n_error_runs
        |  FROM seqs
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n_vc) AS BIGINT) AS total_vc_matches,
        |  CAST(SUM(CASE WHEN n_vc > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_with_vc,
        |  CAST(MAX(n_vc) AS BIGINT) AS max_vc_per_user,
        |  CAST(SUM(n_error_runs) AS BIGINT) AS total_error_runs
        |FROM counted""".stripMargin,

    "q_summap_pivot" ->
      """WITH hourly AS (
        |  SELECT event_type, hour(ts) AS h,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS hv
        |  FROM events GROUP BY event_type, hour(ts)
        |), card AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
        |  FROM hourly GROUP BY event_type
        |)
        |SELECT h.event_type, h.h, h.hv, c.n_hours
        |FROM hourly h JOIN card c USING (event_type)
        |ORDER BY h.event_type, h.h""".stripMargin)
}
