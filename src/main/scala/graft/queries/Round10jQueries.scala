package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DetMath
import graft.Tables

/** Round-10 eighth batch: training-mix token-budget planning — the
  * allocator that turns per-source token counts + quality weights into
  * a sampling plan for a fixed token budget (the step between corpus
  * stats and q_temperature_mix's mixing weights).
  *
  * The waterfill is EXACT integer arithmetic end to end: budget
  * B = (total tokens) div 2, per-source cap = 2 epochs, three unrolled
  * proportional-fill rounds (alloc += leftover * w div W_uncapped,
  * clamped at the cap) — every round is one tiny aggregate broadcast
  * back over the per-source frame, so the plan is two scans of
  * documents plus bounded-size planning joins regardless of corpus
  * size. Whole tokens only: `div`, never float shares.
  *
  *  - q_token_budget_fit: the per-source allocation table after 3
  *    rounds (tokens, weight, cap, alloc, epochs).
  *  - q_epoch_plan: the one-row plan summary — fresh vs repeated
  *    tokens, effective epochs, budget utilization.
  *  - q_mix_kl_drift: per-source KL contribution of the planned mix
  *    vs the natural mix, p*(ln p - ln q) via DetMath.dln over the
  *    exact integer counts — emitted PER SOURCE (no cross-source
  *    float sum; the max-contribution row is the deterministic
  *    headline).
  */
object Round10jQueries {

  /** Per-source allocation after 3 waterfill rounds:
    * (source, tokens, weight, cap, alloc).
    */
  private def waterfill(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("uniq"))
      .groupBy("source")
      .agg(sum(col("tok")).as("tokens"), sum(col("uniq")).as("weight"))
      .withColumn("cap", col("tokens") * 2)
    val g0 = perSrc.agg(sum(col("tokens")).as("t_tot"),
      sum(col("weight")).as("w_tot"))
    val r1 = perSrc.join(broadcast(g0))
      .withColumn("budget", expr("t_tot div 2"))
      .withColumn("alloc",
        least(col("cap"), expr("(budget * weight) div w_tot")))
      .select(col("source"), col("tokens"), col("weight"), col("cap"),
        col("budget"), col("alloc"))
    val refill = (df: DataFrame) => {
      val g = df.agg(sum(col("alloc")).as("a_sum"),
        sum(when(col("alloc") < col("cap"), col("weight"))
          .otherwise(0L)).as("w_open"))
      df.join(broadcast(g))
        .withColumn("alloc",
          when(col("alloc") >= col("cap") || col("w_open") <= 0,
            col("alloc"))
            .otherwise(least(col("cap"), col("alloc") +
              expr("((budget - a_sum) * weight) div w_open"))))
        .select(col("source"), col("tokens"), col("weight"), col("cap"),
          col("budget"), col("alloc"))
    }
    refill(refill(r1))
  }

  /** The waterfill as DuckDB CTEs ending in `r3(source, tokens, weight,
    * cap, budget, alloc)`.
    */
  private def waterfillSql: String = {
    def refill(i: Int): String =
      s"""g$i AS (
         |  SELECT CAST(SUM(alloc) AS BIGINT) AS a_sum,
         |    CAST(SUM(CASE WHEN alloc < cap THEN weight ELSE 0 END)
         |      AS BIGINT) AS w_open
         |  FROM r$i
         |), r${i + 1} AS (
         |  SELECT source, tokens, weight, cap, budget,
         |    CASE WHEN alloc >= cap OR w_open <= 0 THEN alloc
         |      ELSE LEAST(cap, alloc + ((budget - a_sum) * weight) // w_open)
         |    END AS alloc
         |  FROM r$i, g$i
         |)""".stripMargin
    s"""WITH per_src AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
       |    CAST(SUM(len(list_distinct(string_split(text, ' '))))
       |      AS BIGINT) AS weight
       |  FROM documents GROUP BY source
       |), g0 AS (
       |  SELECT CAST(SUM(tokens) AS BIGINT) AS t_tot,
       |    CAST(SUM(weight) AS BIGINT) AS w_tot FROM per_src
       |), r1 AS (
       |  SELECT source, tokens, weight, tokens * 2 AS cap,
       |    t_tot // 2 AS budget,
       |    LEAST(tokens * 2, ((t_tot // 2) * weight) // w_tot) AS alloc
       |  FROM per_src, g0
       |), ${refill(1)}, ${refill(2)}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_token_budget_fit" -> ((s, dir) =>
      waterfill(s, dir)
        .select(col("source"), col("tokens"), col("weight"), col("cap"),
          col("alloc"),
          when(col("tokens") > 0, col("alloc").cast("double")
            / col("tokens").cast("double")).as("epochs"))
        .orderBy("source")),

    "q_epoch_plan" -> ((s, dir) =>
      waterfill(s, dir)
        .select(col("budget"), col("tokens"), col("alloc"),
          least(col("alloc"), col("tokens")).as("fresh"),
          greatest(col("alloc") - col("tokens"), lit(0L)).as("repeated"))
        .agg(max(col("budget")).as("budget"),
          sum(col("tokens")).as("corpus_tokens"),
          sum(col("alloc")).as("allocated"),
          sum(col("fresh")).as("fresh_tokens"),
          sum(col("repeated")).as("repeated_tokens"))
        .select(col("budget"), col("corpus_tokens"), col("allocated"),
          col("fresh_tokens"), col("repeated_tokens"),
          (col("allocated").cast("double")
            / col("budget").cast("double")).as("budget_utilization"),
          (col("allocated").cast("double")
            / col("corpus_tokens").cast("double")).as("effective_epochs"))),

    "q_mix_kl_drift" -> ((s, dir) => {
      val wf = waterfill(s, dir).filter(col("alloc") > 0)
      val g = wf.agg(sum(col("alloc")).as("a_tot"),
        sum(col("tokens")).as("t_tot"))
      val withLn = wf.join(broadcast(g))
        .withColumn("p", col("alloc").cast("double")
          / col("a_tot").cast("double"))
        .withColumn("q", col("tokens").cast("double")
          / col("t_tot").cast("double"))
        .withColumn("contrib",
          (col("alloc").cast("double") / col("a_tot").cast("double")) *
            (DetMath.dln(col("alloc")) - DetMath.dln(col("a_tot"))
              - DetMath.dln(col("tokens")) + DetMath.dln(col("t_tot"))))
      withLn.select(col("source"), col("alloc"), col("tokens"),
        col("p"), col("q"), col("contrib"))
        .orderBy("source")
    }))

  val oracle: Map[String, String] = Map(

    "q_token_budget_fit" ->
      s"""$waterfillSql
         |SELECT source, tokens, weight, cap, alloc,
         |  CASE WHEN tokens > 0 THEN CAST(alloc AS DOUBLE)
         |    / CAST(tokens AS DOUBLE) END AS epochs
         |FROM r3 ORDER BY source""".stripMargin,

    "q_epoch_plan" ->
      s"""$waterfillSql,
         |summary AS (
         |  SELECT CAST(MAX(budget) AS BIGINT) AS budget,
         |    CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
         |    CAST(SUM(alloc) AS BIGINT) AS allocated,
         |    CAST(SUM(LEAST(alloc, tokens)) AS BIGINT) AS fresh_tokens,
         |    CAST(SUM(GREATEST(alloc - tokens, 0)) AS BIGINT)
         |      AS repeated_tokens
         |  FROM r3
         |)
         |SELECT budget, corpus_tokens, allocated, fresh_tokens,
         |  repeated_tokens,
         |  CAST(allocated AS DOUBLE) / CAST(budget AS DOUBLE)
         |    AS budget_utilization,
         |  CAST(allocated AS DOUBLE) / CAST(corpus_tokens AS DOUBLE)
         |    AS effective_epochs
         |FROM summary""".stripMargin,

    "q_mix_kl_drift" ->
      s"""$waterfillSql,
         |wf AS (
         |  SELECT r3.source, r3.alloc, r3.tokens, g.a_tot, g.t_tot
         |  FROM (SELECT * FROM r3 WHERE alloc > 0) r3,
         |    (SELECT CAST(SUM(alloc) AS BIGINT) AS a_tot,
         |       CAST(SUM(tokens) AS BIGINT) AS t_tot
         |     FROM r3 WHERE alloc > 0) g
         |),
         |${DetMath.lnCtesSql("ln_a", "wf",
            "source, alloc, tokens, a_tot, t_tot", "alloc", "ln_alloc")},
         |${DetMath.lnCtesSql("ln_at", "ln_a",
            "source, alloc, tokens, a_tot, t_tot, ln_alloc", "a_tot",
            "ln_atot")},
         |${DetMath.lnCtesSql("ln_t", "ln_at",
            "source, alloc, tokens, a_tot, t_tot, ln_alloc, ln_atot",
            "tokens", "ln_tok")},
         |${DetMath.lnCtesSql("ln_tt", "ln_t",
            "source, alloc, tokens, a_tot, t_tot, ln_alloc, ln_atot, ln_tok",
            "t_tot", "ln_ttot")}
         |SELECT source, alloc, tokens,
         |  CAST(alloc AS DOUBLE) / CAST(a_tot AS DOUBLE) AS p,
         |  CAST(tokens AS DOUBLE) / CAST(t_tot AS DOUBLE) AS q,
         |  (CAST(alloc AS DOUBLE) / CAST(a_tot AS DOUBLE))
         |    * (ln_alloc - ln_atot - ln_tok + ln_ttot) AS contrib
         |FROM ln_tt ORDER BY source""".stripMargin)
}
