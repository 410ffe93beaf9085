package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoinOps
import graft.Tables

/** Round-5v batch: queries served by the NATIVE custom operators —
  * the custom-LogicalPlan/SparkStrategy/SparkPlan stack, driven
  * through the DuckDB oracle gate like every declarative query.
  *
  *  - q_asof_native: the as-of attribution query executed by
  *    AsOfJoinExec (per-partition merge) instead of the union+window
  *    rewrite — same oracle as q_asof_join (DuckDB's native ASOF LEFT
  *    JOIN), so the custom operator is held to the same cross-engine
  *    bar as the declarative plans.
  *  - q_asof_native_forward: the forward direction of the same
  *    operator (first purchase at-or-after each click), against
  *    q_asof_forward's independent LEFT JOIN + ROW_NUMBER oracle.
  *  - q_dq_constraints: a Deequ-style data-quality constraint suite —
  *    completeness, uniqueness, range, and domain checks computed in
  *    ONE scan and emitted as a long-format (constraint, metric,
  *    passed) report.
  */
object Round5vQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_asof_native" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          col("us").as("click_us"), col("value").as("click_value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("us").as("p_us"), col("value").as("p_value"))
      AsOfJoinOps.asofJoin(clicks, purchases,
          leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
          leftTime = "click_us", rightTime = "p_us",
          rightTieBreak = Seq("p_id"))
        .select(col("user_id"), col("event_id"), col("click_us"),
          col("click_value"),
          col("p_value").as("last_purchase_value"),
          col("p_us").as("last_purchase_us"))
        .orderBy("user_id", "event_id")
    }),

    "q_asof_native_forward" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          col("us").as("click_us"), col("value").as("click_value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("us").as("p_us"), col("value").as("p_value"))
      AsOfJoinOps.asofJoin(clicks, purchases,
          leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
          leftTime = "click_us", rightTime = "p_us",
          rightTieBreak = Seq("p_id"), direction = "forward")
        .select(col("user_id"), col("event_id"), col("click_us"),
          col("click_value"),
          col("p_value").as("next_purchase_value"),
          col("p_us").as("next_purchase_us"))
        .orderBy("user_id", "event_id")
    }),

    // Data-quality constraint suite over documents, Deequ-style: ONE
    // combine aggregate computes every metric (a distinct-count for
    // uniqueness is the only extra exchange), then the wide row
    // explodes to the long-format report a DQ gate consumes. Metrics
    // are single mirrored divisions over exact counts; thresholds are
    // integer comparisons.
    "q_dq_constraints" -> ((s, dir) => {
      val wide = Tables(s, dir, "documents").agg(
        count(lit(1)).as("n"),
        count(col("text")).as("nonnull_text"),
        countDistinct(col("doc_id")).as("distinct_ids"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("lang").isin("en", "es", "fr", "zh", "de").cast("long"))
          .as("lang_ok"))
      def c(name: String, metric: Column, passed: Column): Column =
        struct(lit(name).as("check_name"), metric.as("metric"),
          passed.as("passed"))
      // try_divide: the n = 0 (empty table) audit reports NULL rates
      // (DuckDB's x/0), with the pass flags still well-defined
      wide.select(explode(array(
          c("completeness_text",
            try_divide(col("nonnull_text").cast("double"), col("n")),
            col("nonnull_text") === col("n")),
          c("uniqueness_doc_id",
            try_divide(col("distinct_ids").cast("double"), col("n")),
            col("distinct_ids") === col("n")),
          c("range_n_chars",
            col("max_chars").cast("double"),
            col("min_chars") >= 1 && col("max_chars") <= 100000),
          c("domain_lang",
            try_divide(col("lang_ok").cast("double"), col("n")),
            col("lang_ok") === col("n")))).as("r"))
        .select(col("r.check_name").as("check_name"),
          col("r.metric").as("metric"), col("r.passed").as("passed"))
        .orderBy("check_name")
    }),
  )

  val oracle: Map[String, String] = Map(

    // identical to q_asof_join's oracle: DuckDB's native ASOF LEFT
    // JOIN is the independent implementation both operators must match
    "q_asof_native" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    value
        |  FROM events
        |),
        |clicks AS (SELECT * FROM e WHERE event_type = 'click'),
        |purch  AS (SELECT * FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id, c.us AS click_us,
        |  c.value AS click_value,
        |  p.value AS last_purchase_value,
        |  p.us AS last_purchase_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.us >= p.us
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    // identical to q_asof_forward's oracle: independent LEFT JOIN +
    // ROW_NUMBER formulation of first-at-or-after
    "q_asof_native_forward" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    value
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

    "q_dq_constraints" ->
      """WITH w AS (
        |  SELECT COUNT(*) AS n,
        |    COUNT(text) AS nonnull_text,
        |    COUNT(DISTINCT doc_id) AS distinct_ids,
        |    CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |    CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        |    CAST(SUM(CASE WHEN lang IN ('en','es','fr','zh','de')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS lang_ok
        |  FROM documents
        |)
        |SELECT * FROM (
        |  SELECT 'completeness_text' AS check_name,
        |    CAST(nonnull_text AS DOUBLE) / n AS metric,
        |    nonnull_text = n AS passed FROM w
        |  UNION ALL
        |  SELECT 'uniqueness_doc_id',
        |    CAST(distinct_ids AS DOUBLE) / n, distinct_ids = n FROM w
        |  UNION ALL
        |  SELECT 'range_n_chars', CAST(max_chars AS DOUBLE),
        |    min_chars >= 1 AND max_chars <= 100000 FROM w
        |  UNION ALL
        |  SELECT 'domain_lang', CAST(lang_ok AS DOUBLE) / n,
        |    lang_ok = n FROM w
        |) ORDER BY check_name""".stripMargin,
  )
}
