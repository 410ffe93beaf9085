package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5n batch: exact rolling distinct counts via bitmap algebra —
  * the window-function form of the q_bitmap_distinct idea (bit_or is
  * associative AND idempotent, so bitmaps compose across overlapping
  * frames where plain counts can't) — and the chi-square independence
  * cells for the (lang × source) corpus association audit.
  *
  * Determinism rules (see Round5Queries): integer bit arithmetic and
  * counts; each double is a single division mirrored literally.
  */
object Round5nQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Rolling 7-day active users, EXACT — the metric usually
    // surrendered to HLL because COUNT(DISTINCT) doesn't compose
    // across overlapping windows. Bitmaps do: per (day, user-bucket)
    // bit_or bitmaps (one long per occupied bucket), a RANGE frame
    // bit_or over the trailing 7 days per bucket, popcount-sum per
    // day. The window input is pre-aggregated to days×buckets — time-
    // bounded at any corpus size — and every step is associative +
    // idempotent, so re-partitioning never changes the answer.
    "q_rolling_distinct_users" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .select(
          datediff(to_date(col("ts")), lit("1970-01-01")).as("epoch_day"),
          call_function("div", col("user_id"), lit(63L)).as("bucket"),
          expr("shiftleft(1L, cast(pmod(user_id, 63) as int))").as("bit"))
        .groupBy("epoch_day", "bucket")
        .agg(expr("bit_or(bit)").as("bm"),
          bit_count(expr("bit_or(bit)")).cast("long").as("day_users"))
      val trailing = Window.partitionBy("bucket").orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
      daily
        .withColumn("rbm", expr("bit_or(bm)").over(trailing))
        .groupBy("epoch_day")
        .agg(sum(bit_count(col("rbm")).cast("long")).as("rolling_7d_users"),
          sum("day_users").as("day_user_slots"))
        .orderBy("epoch_day")
    }),

    // Chi-square independence cells for (lang × source) — is the
    // corpus's language mix independent of ingest source? Per cell:
    // observed count, the integer-exact deviation numerator
    // o·T − r·c (zero iff independent), and the cell's chi-square
    // contribution ((o·T − r·c)² as exact integer, divided once by
    // r·c·T — the only FP op, mirrored). No order-dependent double
    // sum: the global statistic is the consumer's fold, the report
    // stays deterministic per cell.
    "q_chi2_cells" -> ((s, dir) => {
      val cells = Tables(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("lang").agg(sum("o").as("r"))
      val colsT = cells.groupBy("source").agg(sum("o").as("c"))
      val total = cells.agg(sum("o").as("t"))
      cells
        .join(broadcast(rows), "lang")
        .join(broadcast(colsT), "source")
        .join(broadcast(total))
        .withColumn("dev_num", col("o") * col("t") - col("r") * col("c"))
        .withColumn("chi2_contrib",
          (col("dev_num") * col("dev_num")).cast("double") /
            (col("r") * col("c") * col("t")))
        .select("lang", "source", "o", "r", "c", "t", "dev_num",
          "chi2_contrib")
        .orderBy("lang", "source")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_rolling_distinct_users" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) AS INT) AS epoch_day,
        |    user_id // 63 AS bucket,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bm,
        |    bit_count(bit_or(CAST(1 AS BIGINT)
        |      << CAST(user_id % 63 AS INT))) AS day_users
        |  FROM events GROUP BY 1, 2
        |), rolled AS (
        |  SELECT epoch_day, day_users,
        |    bit_or(bm) OVER (PARTITION BY bucket ORDER BY epoch_day
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rbm
        |  FROM daily
        |)
        |SELECT epoch_day,
        |  CAST(SUM(bit_count(rbm)) AS BIGINT) AS rolling_7d_users,
        |  CAST(SUM(day_users) AS BIGINT) AS day_user_slots
        |FROM rolled GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_chi2_cells" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS o
        |  FROM documents GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1
        |), c AS (
        |  SELECT source, CAST(SUM(o) AS BIGINT) AS c
        |  FROM cells GROUP BY 1
        |), t AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM cells)
        |SELECT cells.lang, cells.source, cells.o, r.r, c.c, t.t,
        |  cells.o * t.t - r.r * c.c AS dev_num,
        |  CAST((cells.o * t.t - r.r * c.c)
        |    * (cells.o * t.t - r.r * c.c) AS DOUBLE)
        |    / (r.r * c.c * t.t) AS chi2_contrib
        |FROM cells JOIN r USING (lang) JOIN c USING (source), t
        |ORDER BY cells.lang, cells.source""".stripMargin,
  )
}
