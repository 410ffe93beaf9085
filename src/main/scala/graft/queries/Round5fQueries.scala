package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5f batch: skew forensics and exact-cardinality primitives —
  * the pre-join audits a 100 TB shuffle plan depends on: heavy-hitter
  * key detection through the bounded top-k aggregator, exact distinct
  * counting via 64-bit bucket bitmaps (the roaring-bitmap idea as a
  * query), a forward as-of join (next-event attribution), and
  * capped sessionization (gap sessions split at a max duration).
  *
  * Determinism rules (see Round5Queries): integer bit arithmetic and
  * counts; the only double is one share division mirrored literally.
  */
object Round5fQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Heavy-hitter audit — the skew report read before choosing a join
    // strategy (salt? broadcast the hot keys separately?): top-20
    // customers by order count plus each key's integer-exact skew
    // evidence (n·n_keys vs total: >1 means hotter than uniform). The
    // per-key counts combine map-side; the global top-20 runs through
    // the bounded TopKAggregator, so the final shuffle carries at most
    // 20 rows per partition — never a sort of all keys.
    "q_heavy_hitters" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAggregator(20))
      val counts = Tables(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      val stats = counts.agg(sum("n").as("total"),
        count(lit(1)).as("n_keys"))
      counts
        .agg(topk(col("n").cast("double"), col("o_custkey")).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "e")))
        .select((col("pos") + 1).as("rnk"),
          col("e.id").as("o_custkey"),
          col("e.score").cast("long").as("n_orders"))
        .join(broadcast(stats))
        .withColumn("skew_num", col("n_orders") * col("n_keys"))
        .withColumn("share",
          col("n_orders").cast("double") / col("total"))
        .select("rnk", "o_custkey", "n_orders", "total", "n_keys",
          "skew_num", "share")
        .orderBy("rnk")
    }),

    // Exact distinct users per event type via bucket bitmaps — the
    // bitmap-index answer to COUNT(DISTINCT) at scale: bucket
    // user_id/63, set bit user_id%63 (63-wide, not 64: DuckDB's
    // checked shift refuses 1<<63 even unsigned), OR the bitmaps per
    // (type, bucket), popcount and sum. Compared to countDistinct's
    // expand, the shuffle carries one long per occupied bucket, and
    // the bitmaps re-merge across days/partitions losslessly — the
    // property HLL trades away.
    "q_bitmap_distinct" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"),
          call_function("div", col("user_id"), lit(63L)).as("bucket"),
          expr("shiftleft(1L, cast(pmod(user_id, 63) as int))").as("bit"))
        .groupBy("event_type", "bucket")
        .agg(expr("bit_or(bit)").as("bitmap"))
        .groupBy("event_type")
        .agg(sum(bit_count(col("bitmap")).cast("long")).as("n_users"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")),

    // Forward as-of join — next-purchase attribution: for every click,
    // the first purchase at-or-after it (event-time order, ties broken
    // by event id). Same union + one-partitioned-window design as the
    // backward q_asof_join — both sides co-partition on user_id and
    // the window replaces an O(n²) inequality join.
    "q_asof_forward" -> ((s, dir) => {
      val e = Tables(s, dir, "events").withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), lit(0).as("side"),
          col("event_id"), col("value").as("click_value"),
          lit(null).cast("double").as("p_value"),
          lit(null).cast("long").as("p_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), lit(1).as("side"),
          col("event_id"), lit(null).cast("double").as("click_value"),
          col("value").as("p_value"), col("us").as("p_us"))
      val w = Window.partitionBy("user_id")
        .orderBy("us", "side", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionByName(purchases)
        .withColumn("next_purchase_value",
          first(col("p_value"), ignoreNulls = true).over(w))
        .withColumn("next_purchase_us",
          first(col("p_us"), ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .select(col("user_id"), col("event_id"),
          col("us").as("click_us"), col("click_value"),
          col("next_purchase_value"), col("next_purchase_us"))
        .orderBy("user_id", "event_id")
    }),

    // Capped sessionization — 30-minute-gap sessions additionally
    // split at a 60-minute hard cap from session start (the "session
    // can't run forever" rule analytics SDKs apply): sub-session =
    // (ts − session_start) / cap, all integer microseconds. Both
    // windows partition by user_id — one sort serves the lag, the
    // running sum, and the session-start min.
    "q_sessionize_cap" -> ((s, dir) => {
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000 * 1000
      val capUs = 60L * 60 * 1000 * 1000
      val sess = Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byTime))
        .withColumn("is_new",
          (col("prev_us").isNull ||
            col("us") - col("prev_us") > gapUs).cast("int"))
        .withColumn("session_id", sum(col("is_new")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy("user_id", "session_id")
      sess
        .withColumn("sess_start", min(col("us")).over(bySess))
        .withColumn("sub_id", call_function("div",
          col("us") - col("sess_start"), lit(capUs)))
        .groupBy("user_id", "session_id", "sub_id")
        .agg(count(lit(1)).as("n_events"),
          min("us").as("start_us"), max("us").as("end_us"))
        .orderBy("user_id", "session_id", "sub_id")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_heavy_hitters" ->
      """WITH c AS (
        |  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1
        |), s AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c
        |), r AS (
        |  SELECT o_custkey, n,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, o_custkey) AS rnk
        |  FROM c
        |)
        |SELECT r.rnk, r.o_custkey, r.n AS n_orders, s.total, s.n_keys,
        |  r.n * s.n_keys AS skew_num,
        |  CAST(r.n AS DOUBLE) / s.total AS share
        |FROM r, s WHERE r.rnk <= 20 ORDER BY r.rnk""".stripMargin,

    "q_bitmap_distinct" ->
      """WITH b AS (
        |  SELECT event_type, user_id // 63 AS bucket,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bitmap
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type,
        |  CAST(SUM(bit_count(bitmap)) AS BIGINT) AS n_users,
        |  COUNT(*) AS n_buckets
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_asof_forward" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
        |  FROM events
        |),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.user_id, c.event_id, c.us AS click_us,
        |    c.value AS click_value,
        |    p.value AS p_value, p.us AS p_us,
        |    ROW_NUMBER() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY p.us, p.event_id) AS rn
        |  FROM c LEFT JOIN p
        |    ON c.user_id = p.user_id AND p.us >= c.us
        |)
        |SELECT user_id, event_id, click_us, click_value,
        |  p_value AS next_purchase_value, p_us AS next_purchase_us
        |FROM j WHERE rn = 1
        |ORDER BY user_id, event_id""".stripMargin,

    "q_sessionize_cap" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, us,
        |    CAST(SUM(CASE WHEN prev_us IS NULL
        |        OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM g
        |), t AS (
        |  SELECT user_id, session_id, us,
        |    (us - MIN(us) OVER (PARTITION BY user_id, session_id))
        |      // 3600000000 AS sub_id
        |  FROM s
        |)
        |SELECT user_id, session_id, sub_id, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        |FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
  )
}
