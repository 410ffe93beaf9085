package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-10 first batch: keyless band joins written the NAIVE way —
  * `a.join(b, abs(a.ts - b.ts) <= W)` with no equi-keys — and planned
  * scale-safe by [[graft.plans.BandJoinRewrite]] (r9 verdict #2: the
  * bucket-equi-join decomposition lived only inside
  * q_bucketed_range_join's hand-written code; a user writing the
  * natural formulation still got Spark's BroadcastNestedLoopJoin).
  * Every query here states the O(|a|·|b|) formulation and relies on the
  * injected optimizer rule to produce the ±1-bucket hash join;
  * BandJoinRewriteSpec pins the plan (no BNLJ, no cartesian) and the
  * plan contract freezes it.
  *
  *  - q_range_join_auto: the q_bucketed_range_join semantics (all
  *    view→purchase pairs within ±60 s corpus-wide) via the naive API —
  *    same oracle shape, so the two keys cross-check each other.
  *  - q_band_join_residual_auto: naive band join carrying an extra
  *    non-equi residual conjunct (purchase value above a threshold) —
  *    proves the rewrite preserves sibling conjuncts untouched.
  *  - q_band_join_width_sweep: pair counts at three band widths
  *    (15 s / 30 s / 60 s) — the selectivity curve a pipeline owner
  *    reads before picking a join window; three naive joins, three
  *    rewrites, one union of 1-row aggregates.
  *  - q_between_join_auto: the ASYMMETRIC band via the between() API —
  *    purchases from 30 s before to 90 s after each view
  *    (`p_us.between(v_us - 30s, v_us + 90s)`): the bound-PAIR shape
  *    of the rewrite (right side shifted by lo, bucket width hi - lo).
  */
object Round10aQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("us"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_range_join_auto" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("us").as("v_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("us").as("p_us"),
          col("value").as("p_value"))
      // the naive formulation — BandJoinRewrite turns this into a
      // ±1-bucket equi-join; without the extension it is a BNLJ
      views.join(purchases, abs(col("p_us") - col("v_us")) <= 60L * 1000000L)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_band_join_residual_auto" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("us").as("v_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("us").as("p_us"),
          col("value").as("p_value"))
      // band + a sibling residual conjunct in ONE join condition: the
      // rewrite must keep `p_value > 100` as residual, not drop it
      views.join(purchases,
          abs(col("p_us") - col("v_us")) <= 60L * 1000000L &&
            col("p_value") > 100.0)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          min(col("p_value")).cast(dec).cast("string").cast("double")
            .as("min_value"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_between_join_auto" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("us").as("v_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("us").as("p_us"),
          col("value").as("p_value"))
      // the naive asymmetric formulation — BandJoinRewrite detects the
      // bound pair and decomposes it; stock Spark plans a BNLJ
      purchases.join(views,
          col("p_us").between(col("v_us") - 30L * 1000000L,
            col("v_us") + 90L * 1000000L))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(dec))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_band_join_width_sweep" -> ((s, dir) => {
      val e = graft.CacheScope.retain(ev(s, dir))
      val views = e.filter(col("event_type") === "view")
        .select(col("us").as("v_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("us").as("p_us"))
      val sweeps = Seq(15L, 30L, 60L).map { sec =>
        views.join(purchases,
            abs(col("p_us") - col("v_us")) <= sec * 1000000L)
          .agg(count(lit(1)).as("n_pairs"))
          .select(lit(sec).as("band_sec"), col("n_pairs"))
      }
      sweeps.reduce(_ unionByName _)
        .withColumn("pairs_per_sec",
          col("n_pairs").cast("double") / col("band_sec").cast("double"))
        .orderBy("band_sec")
    }))

  val oracle: Map[String, String] = Map(

    "q_range_join_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM v JOIN p
        |    ON abs(p_us - v_us) <= 60000000
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_matched,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin,

    "q_band_join_residual_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM v JOIN p
        |    ON abs(p_us - v_us) <= 60000000 AND p_value > 100
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(CAST(CAST(MIN(p_value) AS DECIMAL(18,2)) AS VARCHAR)
        |    AS DOUBLE) AS min_value,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin,

    "q_between_join_auto" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us, value AS p_value FROM e
        |  WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT vid, pid, p_value FROM p JOIN v
        |    ON p_us BETWEEN v_us - 30000000 AND v_us + 90000000
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_views_matched,
        |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_matched,
        |  CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM pairs""".stripMargin,

    "q_band_join_width_sweep" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us FROM events
        |), v AS (SELECT us AS v_us FROM e WHERE event_type = 'view'),
        |p AS (SELECT us AS p_us FROM e WHERE event_type = 'purchase'),
        |widths AS (SELECT UNNEST([15, 30, 60]) AS band_sec),
        |counted AS (
        |  SELECT w.band_sec, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM widths w, v, p
        |  WHERE abs(p.p_us - v.v_us) <= w.band_sec * 1000000
        |  GROUP BY w.band_sec
        |)
        |SELECT CAST(w.band_sec AS BIGINT) AS band_sec,
        |  COALESCE(c.n_pairs, 0) AS n_pairs,
        |  CAST(COALESCE(c.n_pairs, 0) AS DOUBLE)
        |    / CAST(w.band_sec AS DOUBLE) AS pairs_per_sec
        |FROM widths w LEFT JOIN counted c USING (band_sec)
        |ORDER BY band_sec""".stripMargin)
}
