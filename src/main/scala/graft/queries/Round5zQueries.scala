package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5z batch: BI / operations analytics.
  *
  *  - q_session_funnel_regex: MATCH_RECOGNIZE-style behavior patterns —
  *    per-user event sequences as letter strings, RE2-safe regex counts
  *    (view→click→buy, signup-first, double-error, repeat-buyer)
  *  - q_order_cycle_time: days between consecutive orders per market
  *    segment (the re-order cadence metric)
  *  - q_pareto_8020: minimal top-customer set covering 80% of revenue,
  *    with the global cumulative sum computed by the BLOCK-DECOMPOSED
  *    prefix sum (no full-corpus window)
  *  - q_abc_class: A/B/C part classification at 80/95% cumulative
  *    revenue, same machinery
  *  - q_word_len_profile: per-language average word length and
  *    long-word share
  *
  * Pareto/ABC thresholds stay integer (5·cum ≥ 4·total instead of
  * cum/total ≥ 0.8); money quantizes to cents via FLOOR before any
  * cross-row sum. Regexes avoid lookarounds — DuckDB's RE2 has none,
  * so only patterns both engines implement identically are used.
  */
object Round5zQueries {

  /** Scale-safe global prefix sum over exactly-ranked rows: rank blocks
    * of 1024 cumulate internally (window PARTITIONED by block), block
    * offsets come from a window over the ≤n/1024-row block summary —
    * the same decomposition q_sequence_gaps uses for cross-partition
    * adjacency. `rankCol` must be a dense unique 1-based rank.
    */
  private def withPrefixSum(df: DataFrame, rankCol: String,
      valCol: String, cumCol: String): DataFrame = {
    val inBlock = df
      .withColumn("__ps_b",
        call_function("div", col(rankCol) - 1L, lit(1024L)))
      .withColumn("__ps_in",
        sum(col(valCol)).over(Window.partitionBy("__ps_b")
          .orderBy(rankCol)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = inBlock.groupBy("__ps_b")
      .agg(sum(col(valCol)).as("__ps_tot"))
      .withColumn("__ps_off",
        coalesce(sum(col("__ps_tot")).over(Window.orderBy("__ps_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__ps_b", "__ps_off")
    inBlock.join(broadcast(offsets), "__ps_b")
      .withColumn(cumCol, col("__ps_in") + col("__ps_off"))
      .drop("__ps_b", "__ps_in")
  }

  /** event_type → one letter; all five types mapped explicitly so both
    * engines build identical sequences. */
  private val letter =
    when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "purchase", "p")
      .when(col("event_type") === "signup", "s")
      .when(col("event_type") === "error", "e")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Behavior-pattern counts over per-user event-letter sequences
    // (ordered by ts, event_id — a total order). The sequence builds
    // with sort_array over (ts, event_id, letter) structs + a
    // transform/array_join — collect_list order is NOT deterministic,
    // the sort is what makes the string canonical. Patterns are
    // RE2-safe (no lookaround): funnel completion v.*c.*p, signup-led
    // onboarding ^s, double error ee, repeat buyer p.*p.
    "q_session_funnel_regex" -> ((s, dir) => {
      val seqs = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          letter.as("l"))
        .groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("l")))),
          x => x.getField("l")), "").as("seq"))
      seqs.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("seq").rlike("v.*c.*p"), 1L).otherwise(0L))
          .as("n_view_click_buy"),
        sum(when(col("seq").rlike("^s"), 1L).otherwise(0L))
          .as("n_signup_first"),
        sum(when(col("seq").rlike("ee"), 1L).otherwise(0L))
          .as("n_double_error"),
        sum(when(col("seq").rlike("p.*p"), 1L).otherwise(0L))
          .as("n_repeat_buyer"))
    }),

    // Re-order cadence: day gaps between consecutive orders of the same
    // customer (lead over the per-customer date order — a
    // high-cardinality partition key), rolled up per market segment
    // with one mirrored division. Customers with one order contribute
    // no gap — exactly what a cadence metric wants.
    "q_order_cycle_time" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("epoch_day", "o_orderkey")
      val gaps = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .as("epoch_day"))
        .withColumn("next_day", lead(col("epoch_day"), 1).over(w))
        .filter(col("next_day").isNotNull)
        .select(col("o_custkey"),
          (col("next_day") - col("epoch_day")).cast("long").as("gap"))
      gaps
        .join(Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("sum_gap_days"))
        .withColumn("avg_gap_days",
          col("sum_gap_days").cast("double") / col("n_gaps"))
        .orderBy("c_mktsegment")
    }),

    // Pareto: how many top customers cover 80% of revenue. Revenue
    // quantizes to cents per order (FLOOR — exact long), customers rank
    // by (revenue DESC, custkey) through GlobalRank, the cumulative sum
    // runs block-decomposed (no full-corpus window), and the 80%
    // threshold is the INTEGER comparison 5·cum ≥ 4·total. One row:
    // population, total cents, n_top80, and the population share.
    "q_pareto_8020" -> ((s, dir) => {
      val rev = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      val ranked = graft.operators.GlobalRank.withRank(
        rev, -col("cents"), col("o_custkey"), "rk")
      val cum = withPrefixSum(ranked, "rk", "cents", "cum_cents")
      val tot = rev.agg(sum(col("cents")).as("total_cents"),
        count(lit(1)).as("n_customers"))
      cum.crossJoin(broadcast(tot))
        .filter(col("cum_cents") * 5L >= col("total_cents") * 4L)
        .agg(min(col("rk")).as("n_top80"),
          max(col("n_customers")).as("n_customers"),
          max(col("total_cents")).as("total_cents"))
        // the isNotNull filter mirrors the oracle's empty-input shape:
        // no customers -> ZERO rows, not one row of NULLs
        .filter(col("n_top80").isNotNull)
        .select(col("n_customers"), col("total_cents"), col("n_top80"),
          try_divide(col("n_top80").cast("double"), col("n_customers"))
            .as("top_share"))
    }),

    // ABC inventory classification: parts ranked by lineitem revenue;
    // class A = within the first 80% of cumulative revenue (5·cum ≤
    // 4·total, inclusive boundary), B = within 95% (20·cum ≤ 19·total),
    // C = the tail. Same prefix-sum decomposition; per-class counts and
    // revenue share.
    "q_abc_class" -> ((s, dir) => {
      // rev feeds GlobalRank (quantile probe + rank plan) and the
      // corpus-total aggregate: retained so the lineitem aggregation
      // derives once
      val rev = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(floor(col("l_extendedprice") * 100.0).cast("long"))
          .as("cents")))
      val ranked = graft.operators.GlobalRank.withRank(
        rev, -col("cents"), col("l_partkey"), "rk")
      val cum = withPrefixSum(ranked, "rk", "cents", "cum_cents")
      val tot = rev.agg(sum(col("cents")).as("total_cents"))
      cum.crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum_cents") * 5L <= col("total_cents") * 4L, "A")
            .when(col("cum_cents") * 20L <= col("total_cents") * 19L, "B")
            .otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("cents")).as("class_cents"),
          max(col("total_cents")).as("tc"))
        .withColumn("rev_share",
          col("class_cents").cast("double") / col("tc"))
        .select("abc_class", "n_parts", "class_cents", "rev_share")
        .orderBy("abc_class")
    }),

    // Lexical profile per language: average word length and the share
    // of long words (> 6 chars) — integer sums (chars, words, longs)
    // with two mirrored divisions.
    "q_word_len_profile" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"),
          explode(graft.functions.TextFunctions.words(col("text")))
            .as("word"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("n_chars"),
          sum(when(length(col("word")) > 6, 1L).otherwise(0L))
            .as("n_long"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_long"),
          (col("n_chars").cast("double") / col("n_words"))
            .as("avg_word_len"),
          (col("n_long").cast("double") / col("n_words"))
            .as("long_share"))
        .orderBy("lang")))

  val oracle: Map[String, String] = Map(

    "q_session_funnel_regex" ->
      """WITH s AS (
        |  SELECT user_id, string_agg(
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |      WHEN 'error' THEN 'e' END,
        |    '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_buy,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, '^s')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_first,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'ee')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_double_error,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'p.*p')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_buyer
        |FROM s""".stripMargin,

    "q_order_cycle_time" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day
        |  FROM orders
        |), g AS (
        |  SELECT o_custkey,
        |    LEAD(epoch_day) OVER (PARTITION BY o_custkey
        |      ORDER BY epoch_day, o_orderkey) - epoch_day AS gap
        |  FROM o
        |)
        |SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(g.gap) AS BIGINT) AS sum_gap_days,
        |  CAST(CAST(SUM(g.gap) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS avg_gap_days
        |FROM g JOIN customer c ON g.o_custkey = c.c_custkey
        |WHERE g.gap IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pareto_8020" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT *,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey)
        |      AS BIGINT) AS rk,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM rev
        |), t AS (
        |  SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
        |    CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM rev
        |)
        |SELECT t.n_customers, t.total_cents,
        |  CAST(MIN(r.rk) AS BIGINT) AS n_top80,
        |  CAST(CAST(MIN(r.rk) AS BIGINT) AS DOUBLE) / t.n_customers
        |    AS top_share
        |FROM r, t WHERE r.cum_cents * 5 >= t.total_cents * 4
        |GROUP BY t.n_customers, t.total_cents""".stripMargin,

    "q_abc_class" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1
        |), r AS (
        |  SELECT *,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM rev
        |), t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM rev),
        |c AS (
        |  SELECT CASE
        |      WHEN r.cum_cents * 5 <= t.total_cents * 4 THEN 'A'
        |      WHEN r.cum_cents * 20 <= t.total_cents * 19 THEN 'B'
        |      ELSE 'C' END AS abc_class,
        |    r.cents, t.total_cents
        |  FROM r, t
        |)
        |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(cents) AS BIGINT) AS class_cents,
        |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / MAX(total_cents)
        |    AS rev_share
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_word_len_profile" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word
        |  FROM documents
        |), a AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(length(word)) AS BIGINT) AS n_chars,
        |    CAST(SUM(CASE WHEN length(word) > 6 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_long
        |  FROM w GROUP BY 1
        |)
        |SELECT lang, n_words, n_chars, n_long,
        |  CAST(n_chars AS DOUBLE) / n_words AS avg_word_len,
        |  CAST(n_long AS DOUBLE) / n_words AS long_share
        |FROM a ORDER BY lang""".stripMargin)
}
