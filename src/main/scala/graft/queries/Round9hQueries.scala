package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words
import graft.operators.GlobalRank
import graft.Tables

/** Round-9 eighth batch: coverage and uncertainty estimators — the
  * "how much haven't we seen" questions a corpus owner asks before
  * trusting any census:
  *
  *  - q_capture_recapture: Chapman's capture–recapture estimate of the
  *    active-customer population from two overlapping captures (odd-
  *    vs even-orderkey orders), scored against the true distinct count
  *    — the dedup-coverage / population-completeness estimator.
  *  - q_chao1_vocab: Chao1 lower-bound estimate of TOTAL vocabulary
  *    size from the frequency-of-frequencies (f1 singletons, f2
  *    doubletons; bias-corrected form f1(f1−1)/(2(f2+1))) — the
  *    unseen-species mass behind Heaps-law extrapolation.
  *  - q_quantile_ci: distribution-free 95% confidence interval for the
  *    MEDIAN order price via order statistics (ranks n/2 ± 1.96·√n/2),
  *    values fetched by exact global rank — no bootstrap, no resample.
  *
  * Scale posture: captures aggregate per custkey before any join;
  * frequency-of-frequencies is two map-side-combined aggregations;
  * the quantile ranks come from GlobalRank (range-bucketed distributed
  * rank — no single-partition window). All estimator arithmetic is a
  * handful of mirrored double ops over exact integers.
  */
object Round9hQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_capture_recapture" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").select(col("o_custkey"),
        (col("o_orderkey") % 2 === 1).as("odd"))
      val per = o.groupBy("o_custkey").agg(
        max(when(col("odd"), 1L).otherwise(0L)).as("in1"),
        max(when(!col("odd"), 1L).otherwise(0L)).as("in2"))
      per.agg(
          sum("in1").as("n1"), sum("in2").as("n2"),
          sum(col("in1") * col("in2")).as("m"),
          count(lit(1)).as("true_n"))
        .select(col("n1"), col("n2"), col("m"), col("true_n"),
          ((col("n1") + 1L).cast("double") * (col("n2") + 1L).cast("double")
            / (col("m") + 1L).cast("double") - lit(1.0)).as("chapman_est"))
        .withColumn("coverage_ratio",
          col("chapman_est") / col("true_n").cast("double"))
    }),

    "q_chao1_vocab" -> ((s, dir) => {
      val freq = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(explode(words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      freq.agg(
          count(lit(1)).as("v_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"),
          sum("c").as("n_tokens"))
        .select(col("v_obs"), col("f1"), col("f2"), col("n_tokens"),
          (col("v_obs").cast("double") +
            col("f1").cast("double") * (col("f1") - 1L).cast("double")
              / (lit(2.0) * (col("f2") + 1L).cast("double")))
            .as("chao1_est"))
        .withColumn("unseen_share",
          (col("chao1_est") - col("v_obs").cast("double"))
            / col("chao1_est"))
    }),

    "q_quantile_ci" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("price"))
      val ranked = GlobalRank.withRank(o, col("price"), col("o_orderkey"),
        "rnk").transform(graft.CacheScope.retain)
      val n = broadcast(ranked.agg(count(lit(1)).as("n")))
      // distribution-free median CI: ranks around n/2 at z=1.96
      val bounds = n.select(col("n"),
        greatest(lit(1L),
          floor(col("n").cast("double") * 0.5
            - lit(1.96) * sqrt(col("n").cast("double") * 0.25)).cast("long"))
          .as("rank_lo"),
        least(col("n"),
          ceil(col("n").cast("double") * 0.5
            + lit(1.96) * sqrt(col("n").cast("double") * 0.25)).cast("long")
            + 1L).as("rank_hi"),
        call_function("div", col("n") + 1L, lit(2L)).as("rank_med"))
      ranked.crossJoin(broadcast(bounds))
        .filter(col("rnk") === col("rank_lo") ||
          col("rnk") === col("rank_med") || col("rnk") === col("rank_hi"))
        .groupBy("n", "rank_lo", "rank_med", "rank_hi")
        .agg(
          max(when(col("rnk") === col("rank_lo"), col("price")))
            .cast("double").as("ci_lo"),
          max(when(col("rnk") === col("rank_med"), col("price")))
            .cast("double").as("median"),
          max(when(col("rnk") === col("rank_hi"), col("price")))
            .cast("double").as("ci_hi"))
    }))

  val oracle: Map[String, String] = Map(

    "q_capture_recapture" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS in1,
        |    MAX(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS in2
        |  FROM orders GROUP BY o_custkey
        |), agg AS (
        |  SELECT CAST(SUM(in1) AS BIGINT) AS n1,
        |    CAST(SUM(in2) AS BIGINT) AS n2,
        |    CAST(SUM(in1 * in2) AS BIGINT) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS true_n
        |  FROM per
        |)
        |SELECT n1, n2, m, true_n,
        |  CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
        |    / CAST(m + 1 AS DOUBLE) - 1.0 AS chapman_est,
        |  (CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
        |    / CAST(m + 1 AS DOUBLE) - 1.0) / CAST(true_n AS DOUBLE)
        |    AS coverage_ratio
        |FROM agg""".stripMargin,

    "q_chao1_vocab" ->
      """WITH freq AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w
        |), agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens
        |  FROM freq
        |)
        |SELECT v_obs, f1, f2, n_tokens,
        |  CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE)
        |    * CAST(f1 - 1 AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE))
        |    AS chao1_est,
        |  (CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE)
        |    * CAST(f1 - 1 AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE))
        |    - CAST(v_obs AS DOUBLE))
        |  / (CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE)
        |    * CAST(f1 - 1 AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE)))
        |    AS unseen_share
        |FROM agg""".stripMargin,

    "q_quantile_ci" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders
        |), ranked AS (
        |  SELECT price,
        |    ROW_NUMBER() OVER (ORDER BY price, o_orderkey) AS rnk
        |  FROM o
        |), b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    GREATEST(1, CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) * 0.5
        |      - 1.96 * sqrt(CAST(COUNT(*) AS DOUBLE) * 0.25)) AS BIGINT))
        |      AS rank_lo,
        |    LEAST(COUNT(*), CAST(CEIL(CAST(COUNT(*) AS DOUBLE) * 0.5
        |      + 1.96 * sqrt(CAST(COUNT(*) AS DOUBLE) * 0.25)) AS BIGINT)
        |      + 1) AS rank_hi,
        |    CAST((COUNT(*) + 1) // 2 AS BIGINT) AS rank_med
        |  FROM ranked
        |)
        |SELECT b.n, b.rank_lo, b.rank_med, b.rank_hi,
        |  CAST(MAX(CASE WHEN rnk = rank_lo THEN price END) AS DOUBLE)
        |    AS ci_lo,
        |  CAST(MAX(CASE WHEN rnk = rank_med THEN price END) AS DOUBLE)
        |    AS median,
        |  CAST(MAX(CASE WHEN rnk = rank_hi THEN price END) AS DOUBLE)
        |    AS ci_hi
        |FROM ranked, b
        |WHERE rnk IN (rank_lo, rank_med, rank_hi)
        |GROUP BY b.n, b.rank_lo, b.rank_med, b.rank_hi""".stripMargin)
}
