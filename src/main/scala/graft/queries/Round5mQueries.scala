package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5m batch: normalization dedup (the cheapest real-world dedup
  * level above exact-hash), classifier evaluation (language-ID
  * confusion matrix against the labeled column), a generated calendar
  * dimension joined to fact coverage (the date-spine utility), and the
  * SCD-2 point-in-time query (how many versions were active at instant
  * T — the time-travel read over effective ranges).
  *
  * Determinism rules (see Round5Queries): integer µs/epoch-day
  * arithmetic and counts; the only doubles are mirrored single
  * divisions.
  */
object Round5mQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Normalization dedup — lowercase, strip non-alphanumerics,
    // collapse runs of spaces, THEN hash: catches the trivially-edited
    // duplicates (case, punctuation, spacing) exact-hash misses, at
    // exact-hash cost. Same 64-char-key shuffle posture as dedup_exact;
    // n_distinct_raw > 1 within a cluster = normalization did real work.
    "dedup_normalized" -> ((s, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables(s, dir, "documents")
        .withColumn("h", sha2(norm, 256))
        .groupBy("h")
        .agg(min("doc_id").as("keep_id"),
          count(lit(1)).as("n_members"),
          countDistinct(sha2(col("text"), 256)).as("n_distinct_raw"))
        .select("keep_id", "n_members", "n_distinct_raw")
        .orderBy("keep_id")
    }),

    // Language-ID confusion matrix — the heuristic classifier
    // (lang_id's marker-word argmax) evaluated against the labeled
    // lang column: (actual, predicted) counts plus per-cell share of
    // the actual row (the one mirrored division). The eval harness any
    // classifier in the pipeline gets before its output feeds routing.
    "q_langid_confusion" -> ((s, dir) => {
      val pred = PipelineQueries.queries("lang_id")(s, dir)
        .select(col("doc_id"), col("lang_guess"))
      val cells = Tables(s, dir, "documents").select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy(col("lang").as("actual"),
          col("lang_guess").as("predicted"))
        .agg(count(lit(1)).as("n"))
      val rowTotals = cells.groupBy("actual")
        .agg(sum("n").as("n_actual"))
      cells.join(broadcast(rowTotals), "actual")
        .withColumn("row_share", col("n").cast("double") / col("n_actual"))
        .select("actual", "predicted", "n", "n_actual", "row_share")
        .orderBy("actual", "predicted")
    }),

    // Date spine — the generated calendar dimension (one row per day
    // of 1995) left-joined to order counts with zero fill: the
    // coverage report that distinguishes "no data" from "no row".
    // Day-of-week from epoch-day arithmetic ((d + 4) mod 7, 0=Sunday)
    // — never an engine-specific DOW convention. The spine generates
    // distributed (explode of a sequence), facts pre-aggregate to
    // ~#days before the join.
    "q_date_spine" -> ((s, dir) => {
      val spine = s.range(1).select(explode(expr(
          "sequence(to_date('1995-01-01'), to_date('1995-12-31'), " +
            "interval 1 day)")).as("d"))
        .select(datediff(col("d"), lit("1970-01-01")).as("epoch_day"),
          year(col("d")).as("yr"), quarter(col("d")).as("qtr"),
          month(col("d")).as("mo"), dayofmonth(col("d")).as("dom"))
        .withColumn("dow", pmod(col("epoch_day") + 4, lit(7)))
      val facts = Tables(s, dir, "orders")
        .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .as("epoch_day"))
        .groupBy("epoch_day").agg(count(lit(1)).as("n_orders"))
      spine.join(facts, Seq("epoch_day"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .select("epoch_day", "yr", "qtr", "mo", "dom", "dow", "n_orders")
        .orderBy("epoch_day")
    }),

    // SCD-2 point-in-time counts — the time-travel read: per-user
    // effective ranges from the changelog (q_scd2_ranges's lead
    // window), probed at three deterministic instants (25/50/75% lerp
    // of the global event-time span, integral arithmetic): how many
    // versions were active at each T. Ranges are user-partitioned; the
    // probes are a broadcast 3-row table; the probe join is a
    // range-containment filter per row — linear, never row×row.
    "q_scd2_asof_counts" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("event_id")
      val ranges = Tables(s, dir, "events")
        .withColumn("from_us", unix_micros(col("ts")))
        .withColumn("to_us", lead(col("from_us"), 1).over(byUser))
      val span = Tables(s, dir, "events")
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi"))
      val probes = span.select(explode(array(Seq(1, 2, 3).map(k =>
          (col("lo") + call_function("div",
            (col("hi") - col("lo")) * k, lit(4L))).as(s"p$k")): _*))
          .as("probe_us"))
      ranges.join(broadcast(probes),
          col("from_us") <= col("probe_us") &&
            (col("to_us").isNull || col("to_us") > col("probe_us")))
        .groupBy("probe_us")
        .agg(count(lit(1)).as("n_active"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("probe_us")
    }),
  )

  val oracle: Map[String, String] = Map(

    "dedup_normalized" ->
      """WITH n AS (
        |  SELECT doc_id, sha256(text) AS raw_h,
        |    sha256(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
        |      AS h
        |  FROM documents
        |)
        |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_members,
        |  COUNT(DISTINCT raw_h) AS n_distinct_raw
        |FROM n GROUP BY h ORDER BY keep_id""".stripMargin,

    "q_langid_confusion" -> {
      val langIdSql = PipelineQueries.oracle("lang_id")
      s"""WITH pred AS (
         |$langIdSql
         |), cells AS (
         |  SELECT d.lang AS actual, p.lang_guess AS predicted,
         |    COUNT(*) AS n
         |  FROM documents d JOIN pred p USING (doc_id)
         |  GROUP BY 1, 2
         |), rt AS (
         |  SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
         |  FROM cells GROUP BY 1
         |)
         |SELECT c.actual, c.predicted, c.n, rt.n_actual,
         |  CAST(c.n AS DOUBLE) / rt.n_actual AS row_share
         |FROM cells c JOIN rt USING (actual)
         |ORDER BY c.actual, c.predicted""".stripMargin
    },

    "q_date_spine" ->
      """WITH spine AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS INT)
        |      AS epoch_day,
        |    CAST(year(d) AS INT) AS yr, CAST(quarter(d) AS INT) AS qtr,
        |    CAST(month(d) AS INT) AS mo,
        |    CAST(day(d) AS INT) AS dom
        |  FROM (SELECT UNNEST(generate_series(DATE '1995-01-01',
        |    DATE '1995-12-31', INTERVAL 1 DAY))::DATE AS d)
        |), facts AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS INT) AS epoch_day,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1
        |)
        |SELECT s.epoch_day, s.yr, s.qtr, s.mo, s.dom,
        |  CAST((s.epoch_day + 4) % 7 AS INT) AS dow,
        |  COALESCE(f.n_orders, 0) AS n_orders
        |FROM spine s LEFT JOIN facts f USING (epoch_day)
        |ORDER BY s.epoch_day""".stripMargin,

    "q_scd2_asof_counts" ->
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS from_us,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS to_us
        |  FROM events
        |), span AS (
        |  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
        |  FROM events
        |), p AS (
        |  SELECT UNNEST([lo + (hi - lo) * 1 // 4,
        |                 lo + (hi - lo) * 2 // 4,
        |                 lo + (hi - lo) * 3 // 4]) AS probe_us
        |  FROM span
        |)
        |SELECT p.probe_us, COUNT(*) AS n_active,
        |  COUNT(DISTINCT r.user_id) AS n_users
        |FROM r JOIN p ON r.from_us <= p.probe_us
        |  AND (r.to_us IS NULL OR r.to_us > p.probe_us)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
