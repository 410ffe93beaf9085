package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch u: three more ClickHouse aggregate-function analogs,
  * continuing the combinator-parity series (windowFunnel, retention,
  * sumMap, uniqUpTo, sequenceCount in earlier rounds) — re-expressed
  * exactly, not approximately:
  *
  *  - q_bounding_ratio: CH `boundingRatio(t, v)` per event type — the
  *    slope between the chronologically first and last points,
  *    (v_last − v_first)/(t_last − t_first). Endpoints are selected by
  *    row_number over the TOTAL (ts, event_id) order; value snapped to
  *    integer cents, time in epoch micros, one final double division.
  *  - q_delta_sum: CH `deltaSum(v)` per user — the sum of POSITIVE
  *    consecutive increments in time order (counter-reset-aware
  *    accumulation). Lag window inside the user partition; exact cents.
  *  - q_sequence_next_node: CH `sequenceNextNode` — the distribution
  *    of the event that FOLLOWS each user's first view→click chain
  *    (what windowFunnel's levels deliberately do not tell you).
  *
  * Scale posture: every window partitions by its natural key (event
  * type / user); outputs are alphabet-sized or user-bounded counts.
  */
object Round10uQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_bounding_ratio" -> ((s, dir) => {
      val e = ev(s, dir)
      val wAsc = Window.partitionBy("event_type")
        .orderBy(col("us"), col("event_id"))
      val wDesc = Window.partitionBy("event_type")
        .orderBy(col("us").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(when(col("rn_a") === 1, col("cents"))).as("first_cents"),
          max(when(col("rn_a") === 1, col("us"))).as("first_us"),
          max(when(col("rn_d") === 1, col("cents"))).as("last_cents"),
          max(when(col("rn_d") === 1, col("us"))).as("last_us"))
        .withColumn("bounding_ratio",
          expr("try_divide(last_cents - first_cents, last_us - first_us)"))
        .select("event_type", "n", "first_cents", "last_cents",
          "first_us", "last_us", "bounding_ratio")
        .orderBy("event_type")
    }),

    "q_delta_sum" -> ((s, dir) => {
      val e = ev(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      e.withColumn("prev", lag(col("cents"), 1).over(w))
        .withColumn("inc",
          when(col("prev").isNotNull && col("cents") > col("prev"),
            col("cents") - col("prev")).otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("inc")).as("delta_sum_cents"))
        .orderBy(col("delta_sum_cents").desc, col("user_id"))
        .limit(50)
    }),

    "q_sequence_next_node" -> ((s, dir) => {
      val e = ev(s, dir)
      // first view per user, first click strictly after it, then the
      // next event strictly after that click in (us, event_id) order
      val firstView = e.filter(col("event_type") === "view")
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"))).as("v"))
        .select(col("user_id"), col("v.us").as("v_us"),
          col("v.event_id").as("v_id"))
      val firstClick = e.filter(col("event_type") === "click")
        .join(firstView, Seq("user_id"))
        .filter(col("us") > col("v_us") ||
          (col("us") === col("v_us") && col("event_id") > col("v_id")))
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"))).as("c"))
        .select(col("user_id"), col("c.us").as("c_us"),
          col("c.event_id").as("c_id"))
      val next = e.join(firstClick, Seq("user_id"))
        .filter(col("us") > col("c_us") ||
          (col("us") === col("c_us") && col("event_id") > col("c_id")))
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"), col("event_type")))
          .as("nx"))
        .select(col("user_id"), col("nx.event_type").as("next_type"))
      next.groupBy("next_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("next_type")
    }))

  private val evSql =
    """e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_bounding_ratio" ->
      s"""WITH $evSql, r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY us, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY us DESC, event_id DESC) AS rn_d
         |  FROM e
         |)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  MAX(CASE WHEN rn_a = 1 THEN cents END) AS first_cents,
         |  MAX(CASE WHEN rn_d = 1 THEN cents END) AS last_cents,
         |  MAX(CASE WHEN rn_a = 1 THEN us END) AS first_us,
         |  MAX(CASE WHEN rn_d = 1 THEN us END) AS last_us,
         |  (MAX(CASE WHEN rn_d = 1 THEN cents END)
         |    - MAX(CASE WHEN rn_a = 1 THEN cents END))
         |   / NULLIF(MAX(CASE WHEN rn_d = 1 THEN us END)
         |    - MAX(CASE WHEN rn_a = 1 THEN us END), 0) AS bounding_ratio
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_delta_sum" ->
      s"""WITH $evSql, lagged AS (
         |  SELECT user_id, cents,
         |    lag(cents) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id) AS prev
         |  FROM e
         |)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN prev IS NOT NULL AND cents > prev
         |    THEN cents - prev ELSE 0 END) AS BIGINT) AS delta_sum_cents
         |FROM lagged GROUP BY user_id
         |ORDER BY delta_sum_cents DESC, user_id LIMIT 50""".stripMargin,

    "q_sequence_next_node" ->
      s"""WITH $evSql, fv AS (
         |  SELECT user_id, MIN(struct_pack(us := us, event_id := event_id)) AS v
         |  FROM e WHERE event_type = 'view' GROUP BY user_id
         |), fv2 AS (
         |  SELECT user_id, v.us AS v_us, v.event_id AS v_id FROM fv
         |), fc AS (
         |  SELECT e.user_id, MIN(struct_pack(us := e.us, event_id := e.event_id)) AS c
         |  FROM e JOIN fv2 ON e.user_id = fv2.user_id
         |  WHERE e.event_type = 'click'
         |    AND (e.us > fv2.v_us
         |      OR (e.us = fv2.v_us AND e.event_id > fv2.v_id))
         |  GROUP BY e.user_id
         |), fc2 AS (
         |  SELECT user_id, c.us AS c_us, c.event_id AS c_id FROM fc
         |), nx AS (
         |  SELECT e.user_id,
         |    MIN(struct_pack(us := e.us, event_id := e.event_id, event_type := e.event_type)) AS m
         |  FROM e JOIN fc2 ON e.user_id = fc2.user_id
         |  WHERE e.us > fc2.c_us
         |    OR (e.us = fc2.c_us AND e.event_id > fc2.c_id)
         |  GROUP BY e.user_id
         |)
         |SELECT nx.m.event_type AS next_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_users
         |FROM nx GROUP BY 1 ORDER BY 1""".stripMargin)
}
