package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch s: uplift modeling over a deterministic md5-coin
  * experiment — per-stratum incremental conversion lift, the Qini
  * curve (the uplift analog of the gains chart), and the sample-ratio
  * mismatch guardrail every experimentation platform runs first.
  *
  * Assignment is the repo's md5-coin idiom (hex prefix of
  * md5(user_id), 50/50), strata are pre-treatment activity quartiles
  * (event-count thresholds 60/66/73 — the per-user event count is
  * scale-INVARIANT in this corpus, ~67 at every sf, so the same
  * thresholds quarter the population at all test scales), outcome = the user has a purchase event.
  * Every rate and lift is an exact integer rational crossed to double
  * by one correctly-rounded division (try_divide ⇔ x/NULLIF); the
  * Qini prefix runs over the 4-row stratum spine ranked by measured
  * uplift (double ranking of exact rationals — bitwise cross-engine,
  * stratum id tie-break).
  *
  * Scale posture: one events pass builds (user, stratum, treated,
  * converted); everything after is arithmetic on the 4×2 cell table.
  *
  *  - q_uplift_by_segment: per-stratum t/c conversion rates + uplift.
  *  - q_qini_curve: cumulative incremental conversions at each
  *    uplift-ranked stratum prefix.
  *  - q_srm_check: per-stratum sample-ratio-mismatch chi-square
  *    (n_t − n_c)²/(n_t + n_c) with the |z| > 3 flag.
  */
object Round10sQueries {

  /** Per-user experiment rows: stratum (activity quartile by fixed
    * thresholds), md5-coin treatment, conversion flag.
    */
  private def cohort(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val perUser = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max((col("event_type") === "purchase").cast("int")).as("converted"))
    perUser
      .withColumn("stratum",
        when(col("n_events") <= 60, 0)
          .when(col("n_events") <= 66, 1)
          .when(col("n_events") <= 73, 2)
          .otherwise(3))
      .withColumn("treated",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2L)) === 1)
  }

  /** The 4-row stratum cell table with t/c counts and conversions. */
  private def cells(s: SparkSession, dir: String): DataFrame =
    cohort(s, dir).groupBy("stratum")
      .agg(count(when(col("treated"), 1)).as("n_t"),
        coalesce(sum(when(col("treated"), col("converted"))), lit(0L))
          .as("conv_t"),
        count(when(!col("treated"), 1)).as("n_c"),
        coalesce(sum(when(!col("treated"), col("converted"))), lit(0L))
          .as("conv_c"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_uplift_by_segment" -> ((s, dir) => {
      cells(s, dir)
        .withColumn("rate_t", expr("try_divide(conv_t, n_t)"))
        .withColumn("rate_c", expr("try_divide(conv_c, n_c)"))
        .withColumn("uplift", col("rate_t") - col("rate_c"))
        .select("stratum", "n_t", "conv_t", "n_c", "conv_c",
          "rate_t", "rate_c", "uplift")
        .orderBy("stratum")
    }),

    "q_qini_curve" -> ((s, dir) => {
      val ranked = cells(s, dir)
        .withColumn("uplift",
          expr("try_divide(conv_t, n_t) - try_divide(conv_c, n_c)"))
      // prefix over the 4-row stratum spine, best-uplift-first
      val w = Window.orderBy(col("uplift").desc, col("stratum"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .withColumn("k", row_number().over(
          Window.orderBy(col("uplift").desc, col("stratum"))))
        .withColumn("cum_n_t", sum(col("n_t")).over(w))
        .withColumn("cum_conv_t", sum(col("conv_t")).over(w))
        .withColumn("cum_n_c", sum(col("n_c")).over(w))
        .withColumn("cum_conv_c", sum(col("conv_c")).over(w))
        // Qini(k) = cumulative treated conversions − control
        // conversions scaled to the treated exposure
        .withColumn("qini", col("cum_conv_t").cast("double")
          - col("cum_conv_c").cast("double")
            * expr("try_divide(cum_n_t, cum_n_c)"))
        .select("k", "stratum", "uplift", "cum_n_t", "cum_conv_t",
          "cum_n_c", "cum_conv_c", "qini")
        .orderBy("k")
    }),

    "q_srm_check" -> ((s, dir) => {
      cells(s, dir)
        .withColumn("chi2", expr(
          "try_divide((n_t - n_c) * (n_t - n_c), n_t + n_c)"))
        .withColumn("srm_flag", col("chi2") > lit(9.0))
        .select("stratum", "n_t", "n_c", "chi2", "srm_flag")
        .orderBy("stratum")
    }))

  private val cellsSql =
    """pu AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS converted
      |  FROM events GROUP BY 1
      |), cohort AS (
      |  SELECT user_id, converted,
      |    CASE WHEN n_events <= 60 THEN 0 WHEN n_events <= 66 THEN 1
      |      WHEN n_events <= 73 THEN 2 ELSE 3 END AS stratum,
      |    CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
      |      string_split_regex(
      |        substring(md5(CAST(user_id AS VARCHAR)), 1, 8), ''),
      |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |      (acc, v) -> acc * 16 + v) % 2 AS BIGINT) = 1 AS treated
      |  FROM pu
      |), cells AS (
      |  SELECT stratum,
      |    CAST(COUNT(CASE WHEN treated THEN 1 END) AS BIGINT) AS n_t,
      |    CAST(COALESCE(SUM(CASE WHEN treated THEN converted END), 0)
      |      AS BIGINT) AS conv_t,
      |    CAST(COUNT(CASE WHEN NOT treated THEN 1 END) AS BIGINT) AS n_c,
      |    CAST(COALESCE(SUM(CASE WHEN NOT treated THEN converted END), 0)
      |      AS BIGINT) AS conv_c
      |  FROM cohort GROUP BY 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_uplift_by_segment" ->
      s"""WITH $cellsSql
         |SELECT stratum, n_t, conv_t, n_c, conv_c,
         |  conv_t / NULLIF(n_t, 0) AS rate_t,
         |  conv_c / NULLIF(n_c, 0) AS rate_c,
         |  conv_t / NULLIF(n_t, 0) - conv_c / NULLIF(n_c, 0) AS uplift
         |FROM cells ORDER BY stratum""".stripMargin,

    "q_qini_curve" ->
      s"""WITH $cellsSql, ranked AS (
         |  SELECT *,
         |    conv_t / NULLIF(n_t, 0) - conv_c / NULLIF(n_c, 0) AS uplift,
         |    row_number() OVER ord AS k,
         |    SUM(n_t) OVER cum AS cum_n_t,
         |    SUM(conv_t) OVER cum AS cum_conv_t,
         |    SUM(n_c) OVER cum AS cum_n_c,
         |    SUM(conv_c) OVER cum AS cum_conv_c
         |  FROM cells
         |  WINDOW ord AS (ORDER BY conv_t / NULLIF(n_t, 0)
         |      - conv_c / NULLIF(n_c, 0) DESC, stratum),
         |    cum AS (ORDER BY conv_t / NULLIF(n_t, 0)
         |      - conv_c / NULLIF(n_c, 0) DESC, stratum
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT k, stratum, uplift,
         |  CAST(cum_n_t AS BIGINT) AS cum_n_t,
         |  CAST(cum_conv_t AS BIGINT) AS cum_conv_t,
         |  CAST(cum_n_c AS BIGINT) AS cum_n_c,
         |  CAST(cum_conv_c AS BIGINT) AS cum_conv_c,
         |  CAST(cum_conv_t AS DOUBLE) - CAST(cum_conv_c AS DOUBLE)
         |    * (cum_n_t / NULLIF(cum_n_c, 0)) AS qini
         |FROM ranked ORDER BY k""".stripMargin,

    "q_srm_check" ->
      s"""WITH $cellsSql
         |SELECT stratum, n_t, n_c,
         |  ((n_t - n_c) * (n_t - n_c)) / NULLIF(n_t + n_c, 0) AS chi2,
         |  ((n_t - n_c) * (n_t - n_c)) / NULLIF(n_t + n_c, 0) > 9.0
         |    AS srm_flag
         |FROM cells ORDER BY stratum""".stripMargin)
}
