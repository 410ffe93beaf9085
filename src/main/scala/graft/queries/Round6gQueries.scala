package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6g batch: distribution profiles — quick-read shape summaries
  * over the order book.
  *
  *  - q_order_linecount_dist: lines-per-order histogram with share
  *  - q_weekend_effect: weekend vs weekday order volume/revenue per
  *    year (epoch-day arithmetic, no engine DOW convention)
  *  - q_repeat_interval_bands: re-order gap bands (0–7 / 8–30 / 31–90
  *    / 90+ days) — the retention cadence histogram
  *  - q_price_spread_brand: retail price min/max/spread per brand
  */
object Round6gQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Lines-per-order histogram: exact counts, one mirrored share
    // division. The classic fan-out profile a join planner sanity-
    // checks against.
    "q_order_linecount_dist" -> ((s, dir) => {
      val perOrder = Tables(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
      val tot = perOrder.agg(count(lit(1)).as("n_orders"))
      perOrder.groupBy("n_lines").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share", col("n").cast("double") / col("n_orders"))
        .select("n_lines", "n", "n_orders", "share")
        .orderBy("n_lines")
    }),

    // Weekend effect: order count and cents by weekend/weekday per
    // year. Day-of-week from epoch-day arithmetic ((d + 4) mod 7,
    // 0 = Sunday — the same convention q_date_spine pins), weekend =
    // Saturday(6) or Sunday(0).
    "q_weekend_effect" -> ((s, dir) => {
      val d = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
      val dow = pmod(d + 4, lit(7))
      Tables(s, dir, "orders")
        .select(year(to_date(col("o_orderdate"))).as("yr"),
          (dow === 0 || dow === 6).as("is_weekend"),
          floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
        .groupBy("yr", "is_weekend")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .withColumn("avg_cents",
          col("sum_cents").cast("double") / col("n_orders"))
        .orderBy("yr", "is_weekend")
    }),

    // Re-order cadence bands: consecutive-order day gaps per customer
    // (high-cardinality partition window) histogrammed into the bands
    // a lifecycle team acts on.
    "q_repeat_interval_bands" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("epoch_day", "o_orderkey")
      val gaps = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .as("epoch_day"))
        .withColumn("next_day", lead(col("epoch_day"), 1).over(w))
        .filter(col("next_day").isNotNull)
        .select((col("next_day") - col("epoch_day")).cast("long")
          .as("gap"))
      val banded = gaps.withColumn("band",
        when(col("gap") <= 7L, "a_0_7")
          .when(col("gap") <= 30L, "b_8_30")
          .when(col("gap") <= 90L, "c_31_90")
          .otherwise("d_90_plus"))
      val tot = gaps.agg(count(lit(1)).as("n_gaps"))
      banded.groupBy("band").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share", col("n").cast("double") / col("n_gaps"))
        .select("band", "n", "n_gaps", "share")
        .orderBy("band")
    }),

    // Price positioning per brand: retail price min/max/spread in
    // cents (exact integers after FLOOR quantization).
    "q_price_spread_brand" -> ((s, dir) =>
      Tables(s, dir, "part")
        .select(col("p_brand"),
          floor(col("p_retailprice") * 100.0).cast("long").as("cents"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          min("cents").as("min_cents"),
          max("cents").as("max_cents"))
        .withColumn("spread_cents", col("max_cents") - col("min_cents"))
        .orderBy("p_brand")))

  val oracle: Map[String, String] = Map(

    "q_order_linecount_dist" ->
      """WITH po AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM po)
        |SELECT po.n_lines, CAST(COUNT(*) AS BIGINT) AS n, tot.n_orders,
        |  CAST(COUNT(*) AS DOUBLE) / tot.n_orders AS share
        |FROM po, tot GROUP BY po.n_lines, tot.n_orders
        |ORDER BY po.n_lines""".stripMargin,

    "q_weekend_effect" ->
      """WITH o AS (
        |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
        |    ((CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) + 4) % 7)
        |      IN (0, 6) AS is_weekend,
        |    CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
        |  FROM orders
        |)
        |SELECT yr, is_weekend, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS avg_cents
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_repeat_interval_bands" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day
        |  FROM orders
        |), g AS (
        |  SELECT LEAD(epoch_day) OVER (PARTITION BY o_custkey
        |    ORDER BY epoch_day, o_orderkey) - epoch_day AS gap
        |  FROM o
        |), gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
        |banded AS (
        |  SELECT CASE WHEN gap <= 7 THEN 'a_0_7'
        |    WHEN gap <= 30 THEN 'b_8_30'
        |    WHEN gap <= 90 THEN 'c_31_90'
        |    ELSE 'd_90_plus' END AS band
        |  FROM gg
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps FROM gg)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n, tot.n_gaps,
        |  CAST(COUNT(*) AS DOUBLE) / tot.n_gaps AS share
        |FROM banded, tot GROUP BY band, tot.n_gaps
        |ORDER BY band""".stripMargin,

    "q_price_spread_brand" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(MIN(CAST(FLOOR(p_retailprice * 100.0) AS BIGINT))
        |    AS BIGINT) AS min_cents,
        |  CAST(MAX(CAST(FLOOR(p_retailprice * 100.0) AS BIGINT))
        |    AS BIGINT) AS max_cents,
        |  CAST(MAX(CAST(FLOOR(p_retailprice * 100.0) AS BIGINT))
        |    AS BIGINT)
        |  - CAST(MIN(CAST(FLOOR(p_retailprice * 100.0) AS BIGINT))
        |    AS BIGINT) AS spread_cents
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)
}
