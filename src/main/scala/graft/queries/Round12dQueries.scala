package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 fourth batch: interval ALGEBRA over the session sweep —
  * the two capacity questions `q_max_intersections`' peak number
  * doesn't answer:
  *
  *  - q_interval_length_sum: CH `intervalLengthSum` — per start day,
  *    the UNION length of the 5-minute sessions (micros covered by at
  *    least one open session). Segments between consecutive sweep
  *    boundaries carry their open-count; the union is the exact
  *    integer sum of segment lengths where open > 0 — overlap counted
  *    once, which is the point of the function.
  *  - q_concurrency_histogram: time-at-each-concurrency-level per day
  *    (how long were exactly k sessions open) — the capacity-planning
  *    distribution behind the peak; its total time equals the day's
  *    boundary span and its k≥1 mass equals the union length
  *    (both identities spec-pinned, the k-weighted mass equals
  *    n_sessions × 300 s).
  *
  * Same scale posture as the sweep: day-partitioned boundary windows
  * under the total (t, delta, event_id) order, all-integer micros.
  */
object Round12dQueries {

  /** Per-day sweep segments: (day, open, seg_len) where `open` is the
    * session count over [t, next_t). The last boundary of a day has no
    * successor — its open count is 0 by construction (every +1 has its
    * −1 300 s later, same day or not: ends landing past midnight still
    * sweep within the START day's partition, a deliberate per-start-day
    * semantic shared with q_max_intersections).
    */
  private def segments(s: SparkSession, dir: String): DataFrame = {
    val ses = Tables(s, dir, "events")
      .filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val bounds = ses.select(col("day"), col("event_id"),
      explode(array(
        struct(col("us").as("t"), lit(1L).as("delta")),
        struct((col("us") + 300000000L).as("t"),
          lit(-1L).as("delta")))).as("b"))
      .select(col("day"), col("b.t").as("t"), col("b.delta").as("delta"),
        col("event_id"))
    val w = Window.partitionBy("day").orderBy("t", "delta", "event_id")
    bounds
      .withColumn("open", sum(col("delta")).over(w))
      .withColumn("seg_len",
        coalesce(lead(col("t"), 1).over(w) - col("t"), lit(0L)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_interval_length_sum" -> ((s, dir) =>
      segments(s, dir)
        .groupBy("day")
        .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
          sum(when(col("open") > 0, col("seg_len")).otherwise(0L))
            .as("union_us"),
          sum(when(col("open") > 0, lit(1L)).otherwise(0L))
            .as("n_covered_segments"))
        // covered micros can never exceed naive (overlap-double-counted)
        // micros: the saving IS the overlap mass — emitted for the hash
        .withColumn("naive_us", col("n_sessions") * 300000000L)
        .withColumn("overlap_saved_us", col("naive_us") - col("union_us"))
        .orderBy("day")),

    "q_concurrency_histogram" -> ((s, dir) =>
      segments(s, dir)
        .filter(col("open") > 0 && col("seg_len") > 0)
        .groupBy("day", "open")
        .agg(sum(col("seg_len")).as("time_at_level_us"),
          count(lit(1)).as("n_segments"))
        .orderBy("day", "open")))

  private val segCte =
    """WITH ses AS (
      |  SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS us, event_id
      |  FROM events WHERE ts IS NOT NULL
      |), bounds AS (
      |  SELECT day, us AS t, 1 AS delta, event_id FROM ses
      |  UNION ALL
      |  SELECT day, us + 300000000 AS t, -1 AS delta, event_id FROM ses
      |), seg AS (
      |  SELECT day,
      |    SUM(delta) OVER w AS open,
      |    COALESCE(lead(t) OVER w - t, 0) AS seg_len
      |  FROM bounds
      |  WINDOW w AS (PARTITION BY day ORDER BY t, delta, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_interval_length_sum" -> (segCte +
      """
        |SELECT day, CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions,
        |  CAST(SUM(CASE WHEN open > 0 THEN seg_len ELSE 0 END) AS BIGINT)
        |    AS union_us,
        |  CAST(SUM(CASE WHEN open > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_covered_segments,
        |  CAST(COUNT(*) // 2 * 300000000 AS BIGINT) AS naive_us,
        |  CAST(COUNT(*) // 2 * 300000000
        |    - SUM(CASE WHEN open > 0 THEN seg_len ELSE 0 END) AS BIGINT)
        |    AS overlap_saved_us
        |FROM seg GROUP BY day ORDER BY day""".stripMargin),

    "q_concurrency_histogram" -> (segCte +
      """
        |SELECT day, CAST(open AS BIGINT) AS open,
        |  CAST(SUM(seg_len) AS BIGINT) AS time_at_level_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM seg WHERE open > 0 AND seg_len > 0
        |GROUP BY day, open ORDER BY day, open""".stripMargin))
}
