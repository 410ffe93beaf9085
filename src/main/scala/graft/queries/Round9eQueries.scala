package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 fifth batch: KEYLESS temporal joins — the three shapes that
  * have no equi-key to shuffle on, where a naive plan is a cartesian
  * with a residual band predicate (the classic Spark range-join trap).
  * Each is re-expressed with the bucket-equi-join decomposition: time
  * quantizes to buckets of the band width, one side expands to its
  * ±1-bucket neighborhood, the join is a plain hash join on the bucket
  * key, and the band predicate is a residual filter — output linear,
  * cartesian=0 in the plan contract.
  *
  *  - q_bucketed_range_join: all view→purchase pairs within ±60 s
  *    corpus-wide (no user key). |p−v| ≤ W ⇒ the purchase's bucket is
  *    in the view's {b−1,b,b+1}, so each pair is found exactly once on
  *    the purchase's bucket.
  *  - q_nearest_event_join: each view's NEAREST purchase within ±60 s
  *    (min |gap|, purchase id tie-break) — bucketed candidates, then a
  *    per-view argmin.
  *  - q_asof_global: keyless as-of — every view matched to the latest
  *    purchase at-or-before it, unbounded lookback, WITHOUT a global
  *    sort: per-hour-bucket windows find in-bucket predecessors, and
  *    views that precede every in-bucket purchase fall back to a
  *    running maximum over the tiny per-bucket summary (broadcast
  *    back) — the block decomposition the engine uses for global
  *    ranks, applied to as-of.
  */
object Round9eQueries {

  private val BandUs = 60L * 1000000L // ±60 s

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("us"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_bucketed_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("us").as("v_us"),
          call_function("div", col("us"), lit(BandUs)).as("b"))
        .select(col("vid"), col("v_us"),
          explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bk"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("us").as("p_us"),
          col("value").as("p_value"), call_function("div", col("us"), lit(BandUs)).as("bk"))
      views.join(purchases, "bk")
        .filter(abs(col("p_us") - col("v_us")) <= BandUs)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vid")).as("n_views_matched"),
          countDistinct(col("pid")).as("n_purchases_matched"),
          sum(col("p_value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("string").cast("double").as("sum_value"))
    }),

    "q_nearest_event_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("us").as("v_us"),
          call_function("div", col("us"), lit(BandUs)).as("b"))
        .select(col("vid"), col("v_us"),
          explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bk"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("us").as("p_us"),
          call_function("div", col("us"), lit(BandUs)).as("bk"))
      val w = Window.partitionBy("vid")
        .orderBy(col("gap").asc, col("pid").asc)
      val nearest = views.join(purchases, "bk")
        .filter(abs(col("p_us") - col("v_us")) <= BandUs)
        .select(col("vid"), col("pid"),
          abs(col("p_us") - col("v_us")).as("gap"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
      nearest.agg(count(lit(1)).as("n_matched"),
        sum(col("gap")).as("sum_gap_us"),
        max(col("gap")).as("max_gap_us"),
        sum(when(col("gap") === 0, 1L).otherwise(0L)).as("n_simultaneous"))
    }),

    "q_asof_global" -> ((s, dir) => {
      val HourUs = 3600L * 1000000L
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("us").as("p_us"), call_function("div", col("us"), lit(HourUs)).as("hb"))
        .transform(graft.CacheScope.retain)
      // tiny per-hour summary: the latest purchase in each hour bucket,
      // then the running "latest so far STRICTLY BEFORE this bucket" —
      // a window over the bounded bucket table, not the corpus
      val blocks = purchases.groupBy("hb").agg(max(col("p_us")).as("blk_max"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("us").as("v_us"),
          call_function("div", col("us"), lit(HourUs)).as("hb"))
      // "latest purchase in any STRICTLY EARLIER hour" per VIEW bucket
      // (a view's own bucket may hold no purchase, so the prefix must
      // cover view buckets too): union the view bucket ids into the
      // purchase bucket summary, collapse to ONE row per bucket, and
      // take a running max over rows strictly before each bucket — a
      // single window over the bounded bucket table, O(B log B), not
      // the O(B^2) broadcast theta-join of the first cut (r9 verdict
      // #3: a decade of hourly buckets is ~87k rows, B^2 ~ 7.7e9 BNLJ
      // comparisons). The window is single-partition by construction,
      // but over the BUCKET table (time-domain-bounded), never the
      // corpus — the same block decomposition as GlobalRank.
      val vBuckets = views.select(col("hb")).distinct()
      val allBuckets = blocks
        .unionByName(vBuckets.withColumn("blk_max",
          lit(null).cast("long")))
        .groupBy("hb").agg(max(col("blk_max")).as("blk_max"))
      val prevW = Window.orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, -1)
      val blockPrefix = allBuckets
        .withColumn("prev_max", max(col("blk_max")).over(prevW))
        .select(col("hb"), col("prev_max"))
      // in-bucket predecessor: co-partition views and purchases by hour
      // bucket; late purchases null out INSIDE the aggregate so every
      // view keeps its row (a filter would drop views whose bucket only
      // has later purchases)
      val inBucket = views.join(purchases, Seq("hb"), "left")
        .groupBy(col("vid"), col("v_us"), col("hb"))
        .agg(max(when(col("p_us") <= col("v_us"), col("p_us")))
          .as("in_bucket_pred"))
      val matched = inBucket
        .join(broadcast(blockPrefix), Seq("hb"), "left")
        .select(col("vid"), col("v_us"),
          coalesce(col("in_bucket_pred"), col("prev_max")).as("asof_us"))
      matched.agg(
        count(lit(1)).as("n_views"),
        sum(when(col("asof_us").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("asof_us").isNotNull, col("v_us") - col("asof_us"))
          .otherwise(0L)).as("sum_lag_us"),
        max(when(col("asof_us").isNotNull, col("v_us") - col("asof_us")))
          .as("max_lag_us"))
    }))

  val oracle: Map[String, String] = Map(

    "q_bucketed_range_join" ->
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

    "q_nearest_event_join" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, us AS p_us FROM e
        |  WHERE event_type = 'purchase'
        |), nearest AS (
        |  SELECT vid, gap FROM (
        |    SELECT v.vid, abs(p.p_us - v.v_us) AS gap,
        |      ROW_NUMBER() OVER (PARTITION BY v.vid
        |        ORDER BY abs(p.p_us - v.v_us) ASC, p.pid ASC) AS rnk
        |    FROM v JOIN p ON abs(p.p_us - v.v_us) <= 60000000)
        |  WHERE rnk = 1
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_us,
        |  CAST(SUM(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_simultaneous
        |FROM nearest""".stripMargin,

    "q_asof_global" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT event_id AS vid, us AS v_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT us AS p_us FROM e WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT vid, v_us,
        |    (SELECT MAX(p_us) FROM p WHERE p_us <= v_us) AS asof_us
        |  FROM v
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_views,
        |  CAST(SUM(CASE WHEN asof_us IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN asof_us IS NOT NULL THEN v_us - asof_us
        |    ELSE 0 END) AS BIGINT) AS sum_lag_us,
        |  CAST(MAX(CASE WHEN asof_us IS NOT NULL THEN v_us - asof_us END)
        |    AS BIGINT) AS max_lag_us
        |FROM m""".stripMargin)
}
