package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6c batch: platform operations — the audits a data platform
  * runs about ITSELF.
  *
  *  - q_skew_metrics: per-join-key row-distribution skew for the three
  *    lineitem key candidates (max/mean factor + hot-key counts via
  *    integer cross-multiplication)
  *  - q_seasonal_index: monthly seasonal index per event type
  *    (month·12 / total — the classic BI seasonality ratio)
  *  - q_cold_start_users: what each user's FIRST event is (tie-broken
  *    min without min_by-over-struct, which the two engines order
  *    differently)
  *  - q_freshness_lag: per-type ingest freshness vs the newest event
  *    (integer microsecond lag)
  *  - q_hour_profile: hour-of-day activity profile per event type
  *
  * All-integer cores; one mirrored division per output row at most.
  */
object Round6cQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Shuffle-skew audit over candidate join keys: rows per key, the
    // max/mean skew factor, and how many keys are >10× the mean — with
    // the mean never materialized as FP: a key is hot iff
    // cnt·n_keys > 10·total (exact longs). One row per candidate key.
    "q_skew_metrics" -> ((s, dir) => {
      def audit(keyCol: String): DataFrame = {
        val counts = Tables(s, dir, "lineitem")
          .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
        val stats = counts.agg(count(lit(1)).as("n_keys"),
          sum(col("c")).as("total_rows"), max(col("c")).as("max_rows"))
        counts.crossJoin(broadcast(stats))
          .agg(max(col("n_keys")).as("n_keys"),
            max(col("total_rows")).as("total_rows"),
            max(col("max_rows")).as("max_rows"),
            sum(when(col("c") * col("n_keys") > col("total_rows") * 10L,
              1L).otherwise(0L)).as("n_hot_keys"))
          .select(lit(keyCol).as("key_col"), col("n_keys"),
            col("total_rows"), col("max_rows"), col("n_hot_keys"),
            ((col("max_rows") * col("n_keys")).cast("double")
              / col("total_rows")).as("skew_factor"))
      }
      audit("l_orderkey").unionAll(audit("l_partkey"))
        .unionAll(audit("l_suppkey"))
        .orderBy("key_col")
    }),

    // Seasonal index: month's volume against a uniform-month baseline
    // (index = cnt·12 / type total — >1 means a hot month). Month from
    // the event timestamp's calendar month; both engines read the same
    // parquet micros so the calendar math mirrors.
    "q_seasonal_index" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"), month(col("ts")).as("mo"))
        .groupBy("event_type", "mo").agg(count(lit(1)).as("n"))
        .withColumn("type_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("event_type")))
        .select(col("event_type"), col("mo"), col("n"), col("type_total"),
          ((col("n") * 12L).cast("double") / col("type_total"))
            .as("seasonal_index"))
        .orderBy("event_type", "mo")),

    // Cold-start analysis: the type of each user's first-ever event
    // (ties on ts broken by event_id), then the distribution over
    // types. First = the event matching the user's min ts AND, within
    // that instant, the min event_id — two scalar-min joins, no
    // struct-ordered aggregates (engines disagree on struct
    // comparison corners).
    "q_cold_start_users" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val firstTs = e.groupBy("user_id").agg(min("us").as("min_us"))
        .withColumnRenamed("user_id", "uid_f")
      val atFirst = e.join(firstTs,
        col("user_id") === col("uid_f") && col("us") === col("min_us"))
        .select(col("user_id").as("uid"), col("event_id"), col("event_type"))
      val firstId = atFirst.groupBy("uid").agg(min("event_id").as("min_eid"))
        .withColumnRenamed("uid", "uid2")
      val firstType = atFirst.join(firstId,
        col("uid") === col("uid2") && col("event_id") === col("min_eid"))
        .select(col("event_type"))
      val total = firstType.agg(count(lit(1)).as("n_users"))
      firstType.groupBy("event_type").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("event_type"), col("n"), col("n_users"),
          (col("n").cast("double") / col("n_users")).as("share"))
        .orderBy("event_type")
    }),

    // Ingest freshness: per-type newest event vs the global newest,
    // lag in whole minutes (integer microsecond arithmetic).
    "q_freshness_lag" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val perType = e.groupBy("event_type").agg(max("us").as("max_us"))
      val global = e.agg(max("us").as("global_us"))
      perType.crossJoin(broadcast(global))
        .select(col("event_type"), col("max_us"), col("global_us"),
          call_function("div", col("global_us") - col("max_us"),
            lit(60000000L)).as("lag_minutes"))
        .orderBy("event_type")
    }),

    // Hour-of-day profile: volume and within-type share per hour,
    // hour from epoch-microseconds modulo arithmetic (UTC, no session
    // timezone involvement on either engine).
    "q_hour_profile" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"),
          pmod(call_function("div", unix_micros(col("ts")),
            lit(3600000000L)), lit(24L)).as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
        .withColumn("type_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("event_type")))
        .select(col("event_type"), col("hr"), col("n"),
          (col("n").cast("double") / col("type_total")).as("share"))
        .orderBy("event_type", "hr")))

  val oracle: Map[String, String] = Map(

    "q_skew_metrics" -> {
      def one(k: String) =
        s"""SELECT '$k' AS key_col,
           |  CAST(MAX(n_keys) AS BIGINT) AS n_keys,
           |  CAST(MAX(total_rows) AS BIGINT) AS total_rows,
           |  CAST(MAX(max_rows) AS BIGINT) AS max_rows,
           |  CAST(SUM(CASE WHEN c * n_keys > total_rows * 10 THEN 1
           |    ELSE 0 END) AS BIGINT) AS n_hot_keys,
           |  CAST(MAX(max_rows) * MAX(n_keys) AS DOUBLE)
           |    / MAX(total_rows) AS skew_factor
           |FROM (
           |  SELECT c, CAST(COUNT(*) OVER () AS BIGINT) AS n_keys,
           |    CAST(SUM(c) OVER () AS BIGINT) AS total_rows,
           |    CAST(MAX(c) OVER () AS BIGINT) AS max_rows
           |  FROM (SELECT $k, CAST(COUNT(*) AS BIGINT) AS c
           |        FROM lineitem GROUP BY 1))""".stripMargin
      s"""SELECT * FROM (
         |${one("l_orderkey")}
         |UNION ALL
         |${one("l_partkey")}
         |UNION ALL
         |${one("l_suppkey")}
         |) ORDER BY key_col""".stripMargin
    },

    "q_seasonal_index" ->
      """WITH m AS (
        |  SELECT event_type, CAST(month(ts) AS INT) AS mo,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, mo, n,
        |  CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS type_total,
        |  CAST(n * 12 AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS seasonal_index
        |FROM m ORDER BY event_type, mo""".stripMargin,

    "q_cold_start_users" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), ft AS (
        |  SELECT user_id, MIN(us) AS min_us FROM e GROUP BY 1
        |), af AS (
        |  SELECT e.user_id AS uid, e.event_id, e.event_type
        |  FROM e JOIN ft ON e.user_id = ft.user_id AND e.us = ft.min_us
        |), fi AS (
        |  SELECT uid, MIN(event_id) AS min_eid FROM af GROUP BY 1
        |), first_t AS (
        |  SELECT af.event_type
        |  FROM af JOIN fi ON af.uid = fi.uid AND af.event_id = fi.min_eid
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM first_t)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, tot.n_users,
        |  CAST(COUNT(*) AS DOUBLE) / tot.n_users AS share
        |FROM first_t, tot GROUP BY event_type, tot.n_users
        |ORDER BY event_type""".stripMargin,

    "q_freshness_lag" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us FROM events
        |), p AS (
        |  SELECT event_type, CAST(MAX(us) AS BIGINT) AS max_us
        |  FROM e GROUP BY 1
        |), g AS (SELECT CAST(MAX(us) AS BIGINT) AS global_us FROM e)
        |SELECT p.event_type, p.max_us, g.global_us,
        |  (g.global_us - p.max_us) // 60000000 AS lag_minutes
        |FROM p, g ORDER BY p.event_type""".stripMargin,

    "q_hour_profile" ->
      """WITH h AS (
        |  SELECT event_type,
        |    ((epoch_us(ts) // 3600000000) % 24 + 24) % 24 AS hr
        |  FROM events
        |), g AS (
        |  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM h GROUP BY 1, 2
        |)
        |SELECT event_type, hr, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS share
        |FROM g ORDER BY event_type, hr""".stripMargin)
}
