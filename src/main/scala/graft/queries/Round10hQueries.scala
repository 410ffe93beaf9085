package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 seventh batch: event-time hygiene — the watermark-policy
  * audits a streaming deployment runs over its own history to pick
  * `withWatermark` bounds (stream_* capabilities implement the policy;
  * these queries SIZE it from replayed data).
  *
  * Arrival order is the event_id sequence; event time is ts. The
  * running "max event time seen so far" (the watermark's driver) is
  * computed with the engine's block decomposition — per-block maxima,
  * one running window over the BOUNDED block table, in-block prefix
  * windows partitioned by block — never a single-partition window over
  * the corpus. A sentinel of -1e18 us stands in for "no earlier
  * arrival" (comfortably below any epoch and overflow-safe under ANSI).
  *
  *  - q_late_event_audit: late-event counts/rates at watermark delays
  *    of 0 / 30 / 120 s — the coverage side of the policy curve.
  *  - q_lateness_histogram: log2-bucketed lateness magnitudes per
  *    delay — HOW late the late events are (sizes the state the policy
  *    would have to hold to catch them).
  *  - q_late_by_user: per-user watermarks (the keyed-stream variant,
  *    one window partitioned by user), decile histogram of per-user
  *    late rates — division-free bucketing ((10*late) div n).
  */
object Round10hQueries {

  private val Sentinel = -1000000000000000000L // -1e18 us
  private val BlockSz = 4096L

  /** Per event: (event_id, us, prefix) where prefix = max event time
    * among STRICTLY earlier arrivals (Sentinel when none) — block
    * decomposed.
    */
  private def withPrefix(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        call_function("div", col("event_id"), lit(BlockSz)).as("bk"))
    val blocks = ev.groupBy("bk").agg(max(col("us")).as("blk_max"))
    val wPrev = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = blocks
      .withColumn("prev_max", max(col("blk_max")).over(wPrev))
      .select(col("bk"), col("prev_max"))
    val wIn = Window.partitionBy("bk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("in_prefix", max(col("us")).over(wIn))
      .join(prev, "bk")
      .select(col("event_id"), col("us"),
        greatest(coalesce(col("in_prefix"), lit(Sentinel)),
          coalesce(col("prev_max"), lit(Sentinel))).as("prefix"))
  }

  /** The same block-decomposed prefix as DuckDB CTEs ending in
    * `pref(event_id, us, prefix)`.
    */
  private def prefixSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, epoch_us(ts) AS us, event_id // $BlockSz AS bk
       |  FROM events
       |), blocks AS (
       |  SELECT bk, MAX(us) AS blk_max FROM ev GROUP BY bk
       |), prev AS (
       |  SELECT bk, MAX(blk_max) OVER (ORDER BY bk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM blocks
       |), pref AS (
       |  SELECT e.event_id, e.us,
       |    GREATEST(COALESCE(MAX(e.us) OVER (PARTITION BY e.bk
       |      ORDER BY e.event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      $Sentinel),
       |      COALESCE(p.prev_max, $Sentinel)) AS prefix
       |  FROM ev e JOIN prev p ON e.bk = p.bk
       |)""".stripMargin

  private val Delays = Seq(0L, 30L, 120L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_late_event_audit" -> ((s, dir) => {
      val pref = graft.CacheScope.retain(withPrefix(s, dir))
      val spine = {
        import s.implicits._
        Delays.toDF("watermark_sec")
      }
      pref.join(broadcast(spine))
        .select(col("watermark_sec"), col("us"), col("prefix"),
          (col("us") < col("prefix") - col("watermark_sec") * 1000000L)
            .cast("long").as("late"))
        .groupBy("watermark_sec")
        .agg(count(lit(1)).as("n_events"),
          sum(col("late")).as("n_late"),
          max(when(col("late") === 1,
            col("prefix") - col("watermark_sec") * 1000000L - col("us")))
            .as("max_excess_us"))
        .select(col("watermark_sec"), col("n_events"), col("n_late"),
          when(col("n_events") > 0, col("n_late").cast("double")
            / col("n_events").cast("double")).as("late_rate"),
          col("max_excess_us"))
        .orderBy("watermark_sec")
    }),

    "q_lateness_histogram" -> ((s, dir) => {
      val pref = graft.CacheScope.retain(withPrefix(s, dir))
      val spine = {
        import s.implicits._
        Delays.toDF("watermark_sec")
      }
      pref.join(broadcast(spine))
        .select(col("watermark_sec"),
          (col("prefix") - col("watermark_sec") * 1000000L - col("us"))
            .as("excess"))
        .filter(col("excess") > 0)
        .groupBy(col("watermark_sec"),
          (length(bin(col("excess"))) - 1).cast("int").as("log2_excess_us"))
        .agg(count(lit(1)).as("n_late"))
        .orderBy("watermark_sec", "log2_excess_us")
    }),

    "q_late_by_user" -> ((s, dir) => {
      val W = 30L * 1000000L
      val wu = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val perUser = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prefix",
          coalesce(max(col("us")).over(wu), lit(Sentinel)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum((col("us") < col("prefix") - W).cast("long")).as("n_late"))
      perUser
        .groupBy(expr("(10 * n_late) div n").cast("int").as("rate_decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
        .orderBy("rate_decile")
    }))

  val oracle: Map[String, String] = Map(

    "q_late_event_audit" ->
      s"""$prefixSql,
         |spine AS (SELECT UNNEST([0, 30, 120]) AS watermark_sec),
         |flagged AS (
         |  SELECT s.watermark_sec, p.us, p.prefix,
         |    CASE WHEN p.us < p.prefix - s.watermark_sec * 1000000
         |      THEN 1 ELSE 0 END AS late
         |  FROM pref p, spine s
         |)
         |SELECT CAST(watermark_sec AS BIGINT) AS watermark_sec,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(late) AS BIGINT) AS n_late,
         |  CASE WHEN COUNT(*) > 0 THEN CAST(SUM(late) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) END AS late_rate,
         |  CAST(MAX(CASE WHEN late = 1
         |    THEN prefix - watermark_sec * 1000000 - us END) AS BIGINT)
         |    AS max_excess_us
         |FROM flagged GROUP BY watermark_sec
         |ORDER BY watermark_sec""".stripMargin,

    "q_lateness_histogram" ->
      s"""$prefixSql,
         |spine AS (SELECT UNNEST([0, 30, 120]) AS watermark_sec),
         |ex AS (
         |  SELECT s.watermark_sec,
         |    p.prefix - s.watermark_sec * 1000000 - p.us AS excess
         |  FROM pref p, spine s
         |)
         |SELECT CAST(watermark_sec AS BIGINT) AS watermark_sec,
         |  CAST(LENGTH(BIN(excess)) - 1 AS INTEGER) AS log2_excess_us,
         |  CAST(COUNT(*) AS BIGINT) AS n_late
         |FROM ex WHERE excess > 0
         |GROUP BY 1, 2 ORDER BY watermark_sec, log2_excess_us""".stripMargin,

    "q_late_by_user" ->
      s"""WITH per_ev AS (
         |  SELECT user_id,
         |    COALESCE(MAX(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      $Sentinel) AS prefix,
         |    epoch_us(ts) AS us
         |  FROM events
         |), per_user AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN us < prefix - 30000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_late
         |  FROM per_ev GROUP BY user_id
         |)
         |SELECT CAST((10 * n_late) // n AS INTEGER) AS rate_decile,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(n) AS BIGINT) AS n_events
         |FROM per_user GROUP BY 1 ORDER BY rate_decile""".stripMargin)
}
