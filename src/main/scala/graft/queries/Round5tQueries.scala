package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5t batch: event-stream economics — the time-integral,
  * set-algebra, and credit-assignment ops behind engagement and
  * marketing marts.
  *
  *  - q_time_weighted_avg: dwell-weighted mean reading per state (the
  *    step-function integral sensor analytics needs, NOT the naive
  *    row mean that over-weights chatty periods)
  *  - q_bitmap_intersect: audience-overlap matrix computed entirely in
  *    the bitmap domain (bit_or → AND → popcount), verified against
  *    the oracle's distinct-join ground truth — different algorithm,
  *    same answer
  *  - q_linear_attribution: purchase value split equally across the
  *    clicks in the preceding 7 days (linear multi-touch attribution)
  *
  * Determinism: cross-row double sums are avoided entirely — weighted
  * products quantize through FLOOR to exact longs (FLOOR of the same
  * IEEE product is identical in both engines, no decimal rounding-mode
  * hazard), bitmaps are pure integer algebra, and every division is
  * mirrored 1:1.
  */
object Round5tQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Time-weighted average: each event's value holds until the user's
    // next event (dwell microseconds, last event holds nothing), so
    // the mean weights each reading by how long it was current.
    // Per-row products value·dwell quantize via FLOOR to longs — the
    // cross-row sum is then exact integer arithmetic in any order (the
    // sub-unit truncation is the documented quantization, identical in
    // both engines). One user-partitioned sort + one combine aggregate.
    "q_time_weighted_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("dwell_us", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dwell_us").isNotNull)
        .withColumn("wv",
          floor(col("value") * col("dwell_us")).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_stays"),
          sum("dwell_us").as("total_dwell_us"),
          sum("wv").as("sum_weighted"))
        // try_divide: all-identical timestamps make every dwell 0 —
        // the average is undefined (NULL, DuckDB's x/0)
        .withColumn("time_weighted_avg",
          try_divide(col("sum_weighted").cast("double"),
            col("total_dwell_us")))
        .select("event_type", "n_stays", "total_dwell_us",
          "sum_weighted", "time_weighted_avg")
        .orderBy("event_type")
    }),

    // Audience overlap entirely in the bitmap domain: users pack into
    // 63-bit words keyed by (event_type, bucket); |A∩B| is popcount of
    // the ANDed words summed over buckets, Jaccard from the per-type
    // cardinalities. The oracle computes the same matrix by joining
    // distinct (type, user) rows — the bitmap result must equal the
    // set-theoretic ground truth exactly. At scale the bitmaps are the
    // design: per-type audiences compress to |users|/63 words, the
    // pairwise step moves words, never user ids.
    "q_bitmap_intersect" -> ((s, dir) => {
      val bm = Tables(s, dir, "events")
        .select(col("event_type"),
          call_function("div", col("user_id"), lit(63L)).as("bucket"),
          expr("shiftleft(1L, cast(pmod(user_id, 63) as int))").as("bit"))
        .groupBy("event_type", "bucket")
        .agg(expr("bit_or(bit)").as("bmap"))
      val sizes = bm.groupBy("event_type")
        .agg(sum(bit_count(col("bmap")).cast("long")).as("n_users"))
      val inter = bm.as("x").join(bm.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.event_type") < col("y.event_type"))
        .select(col("x.event_type").as("ta"),
          col("y.event_type").as("tb"),
          bit_count(expr("x.bmap & y.bmap")).cast("long").as("c"))
        .groupBy("ta", "tb").agg(sum("c").as("n_common"))
      inter
        .join(sizes.withColumnRenamed("event_type", "ta")
          .withColumnRenamed("n_users", "n_a"), Seq("ta"))
        .join(sizes.withColumnRenamed("event_type", "tb")
          .withColumnRenamed("n_users", "n_b"), Seq("tb"))
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
          col("n_common"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")))
            .as("jaccard"))
        .orderBy("ta", "tb")
    }),

    // Linear multi-touch attribution: each purchase's value splits
    // equally across that user's clicks in the preceding 7 days
    // (purchases with no qualifying click stay unattributed). Credits
    // quantize to micro-units via FLOOR (value/k is ONE mirrored
    // division, the floor makes the cross-row sum exact), aggregated
    // to the click's day — the daily revenue-credit ledger. The
    // purchase×click pairing is a per-user interval join: equi on
    // user_id, range on the click window — co-partitioned at scale.
    "q_linear_attribution" -> ((s, dir) => {
      val week = 7L * 86400000000L
      val e = Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"),
          col("event_id").as("p_id"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"),
          col("event_id").as("c_id"))
      val paired = purchases.join(clicks, Seq("user_id"))
        .filter(col("c_us") >= col("p_us") - week &&
          col("c_us") < col("p_us"))
      val k = Window.partitionBy("p_id")
      paired
        .withColumn("k", count(lit(1)).over(k))
        .withColumn("credit_micro",
          floor(col("value") / col("k") * 1000000.0).cast("long"))
        .withColumn("day",
          call_function("div", col("c_us"), lit(86400000000L)))
        .groupBy("day")
        .agg(count(lit(1)).as("n_credits"),
          sum("credit_micro").as("credit_micro_total"))
        .withColumn("credit_total",
          col("credit_micro_total").cast("double") / lit(1000000.0))
        .select("day", "n_credits", "credit_micro_total", "credit_total")
        .orderBy("day")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_time_weighted_avg" ->
      """WITH d AS (
        |  SELECT event_type, value,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts)
        |      AS dwell_us
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n_stays,
        |  CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
        |  CAST(SUM(CAST(FLOOR(value * dwell_us) AS BIGINT)) AS BIGINT)
        |    AS sum_weighted,
        |  CAST(SUM(CAST(FLOOR(value * dwell_us) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(dwell_us) AS BIGINT) AS time_weighted_avg
        |FROM d WHERE dwell_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_bitmap_intersect" ->
      """WITH du AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |), sizes AS (
        |  SELECT event_type, COUNT(*) AS n_users FROM du GROUP BY 1
        |), inter AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    COUNT(*) AS n_common
        |  FROM du a JOIN du b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT i.ta, i.tb, sa.n_users AS n_a, sb.n_users AS n_b,
        |  i.n_common,
        |  CAST(i.n_common AS DOUBLE)
        |    / (sa.n_users + sb.n_users - i.n_common) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.event_type = i.ta
        |JOIN sizes sb ON sb.event_type = i.tb
        |ORDER BY ta, tb""".stripMargin,

    "q_linear_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS us
        |  FROM events
        |), paired AS (
        |  SELECT p.event_id AS p_id, p.value, c.us AS c_us
        |  FROM e p JOIN e c
        |    ON p.user_id = c.user_id
        |    AND p.event_type = 'purchase' AND c.event_type = 'click'
        |    AND c.us >= p.us - 604800000000 AND c.us < p.us
        |), credited AS (
        |  SELECT c_us,
        |    CAST(FLOOR(value / (COUNT(*) OVER (PARTITION BY p_id))
        |      * 1000000.0) AS BIGINT) AS credit_micro
        |  FROM paired
        |)
        |SELECT c_us // 86400000000 AS day, COUNT(*) AS n_credits,
        |  CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_total,
        |  CAST(SUM(credit_micro) AS DOUBLE) / 1000000.0 AS credit_total
        |FROM credited GROUP BY 1 ORDER BY day""".stripMargin,
  )
}
