package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5HeadSql, sortedFold}

/** Round-8 fifteenth batch: the dlnD ops — weighted sampling without
  * replacement, mixture entropy, and in-engine model inference.
  *
  *  - q_gumbel_topk: Efraimidis–Spirakis weighted sampling without
  *    replacement via Gumbel keys — per language, the top-5 docs by
  *    dlnD(weight) - dlnD(-ln u) with length weights and md5 uniforms.
  *    THE distributed one-pass weighted-sample algorithm (a TopK per
  *    group, no sequential draw), now expressible because both ln
  *    calls are DetMath-deterministic.
  *  - q_mixture_entropy: Shannon entropy (and perplexity) of the
  *    temperature-weighted language mixture at each tau — the
  *    companion number to q_temperature_sweep's effective count
  *    (entropy is what the "temperature" is actually tuning).
  *  - q_lr_score: batch inference of a fixed logistic model over
  *    (TTR, capped-length) features — per-language rank-pick stats of
  *    the predicted probability and the pass@0.5 count. The shape of
  *    every "run the quality classifier over the corpus" job, with
  *    the sigmoid built from dexp so scores hash-match.
  *
  * Determinism: all logs/exps via DetMath (dln exact on integers,
  * dlnD on 2^-32-quantized doubles, dexp); Gumbel uniforms are md5
  * integers in [1, 2^31-1] so -ln u is strictly positive; folds in
  * key order; quantile picks by rank.
  */
object Round8oQueries {

  private val Ln2 = 0.6931471805599453

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gumbel-key weighted top-5 per language, weight = n_chars.
    "q_gumbel_topk" -> ((s, dir) => {
      import graft.functions.DetMath.{dln, dlnD}
      val a = conv(substring(md5(concat(lit("gum"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") %
        2147483647L + 1
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("ua", a)
        .withColumn("neg_ln_u",
          lit(31.0) * lit(Ln2) - dln(col("ua")))
        .withColumn("gkey",
          dlnD(col("n_chars").cast("double")) - dlnD(col("neg_ln_u")))
      val byK = Window.partitionBy("lang")
        .orderBy(col("gkey").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(byK))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("n_chars"), col("gkey"))
        .orderBy("lang", "rk")
    }),

    // H(tau) = -sum_l p_l dlnD(p_l); perplexity = dexp(H).
    "q_mixture_entropy" -> ((s, dir) => {
      import graft.functions.DetMath.{dexp, dlnD, withDln, withDexp}
      val ns = Tables(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_l"))
      // staged dln/dexp: identical IEEE DAG, linear plan tree — see
      // q_temperature_sweep (guide §3.3 planning cost)
      val w = graft.CacheScope.retain(
        withDexp(
          withDln(ns.crossJoin(broadcast(s.range(1).select(explode(array(
            lit(25), lit(50), lit(75), lit(100))).as("tau")))),
            col("n_l"), "__lnn"),
          col("tau").cast("double") / 100 * col("__lnn"), "wt")
        .select(col("tau"), col("lang"), col("wt")))
      val z = w.groupBy("tau")
        .agg(sortedFold(collect_list(struct(col("lang"), col("wt"))),
          "wt").as("z"))
      val ent = w.join(broadcast(z), "tau")
        .select(col("tau"),
          struct(col("lang"),
            (lit(0.0) - (col("wt") / col("z")) *
              dlnD(col("wt") / col("z"))).as("term")).as("st"))
        .groupBy("tau")
        .agg(sortedFold(collect_list(col("st")), "term")
          .as("entropy_nats"))
      ent.select(col("tau"), col("entropy_nats"),
          dexp(col("entropy_nats")).as("perplexity"))
        .orderBy("tau")
    }),

    // Fixed logistic model p = sigmoid(-2 + 3*ttr + 1.5*min(len,100)/100)
    // over every doc; per-language rank stats + pass@0.5.
    "q_lr_score" -> ((s, dir) => {
      import graft.functions.DetMath.dexp
      val ws = split(col("text"), " ")
      val feat = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("uniq"))
        .select(col("doc_id"), col("lang"),
          (lit(-2.0) +
            lit(3.0) * (col("uniq").cast("double") / col("n_tokens")) +
            lit(1.5) * (least(col("n_tokens"), lit(100L)).cast("double")
              / 100)).as("z"))
      val d = dexp(abs(col("z")))
      val scored = feat.select(col("doc_id"), col("lang"),
        when(col("z") >= 0, d / (d + 1))
          .otherwise(lit(1.0) / (lit(1.0) + d)).as("p"))
      val byL = Window.partitionBy("lang")
      val ranked = scored
        .withColumn("rn", row_number().over(
          byL.orderBy(col("p"), col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(byL))
      ranked.groupBy("lang").agg(
          max("n_docs").as("n_docs"),
          sum(when(col("p") >= 0.5, 1L).otherwise(0L)).cast("long")
            .as("n_pass"),
          min("p").as("min_p"),
          max(when(col("rn") === ((col("n_docs") + 1) / 2).cast("long"),
            col("p"))).as("median_p"),
          max("p").as("max_p"))
        .orderBy("lang")
    }),
  )

  import graft.functions.DetMath.{lnCtesSql, lnDCtesSql, expCtesSql}

  val oracle: Map[String, String] = Map(
    "q_gumbel_topk" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, lang, n_chars,
         |    ${md5HeadSql("'gum' || CAST(doc_id AS VARCHAR)")}
         |      % 2147483647 + 1 AS ua
         |  FROM documents
         |), ${lnCtesSql("d1", "d0", "doc_id, lang, n_chars, ua", "ua",
             "lnu")},
         |d2 AS (
         |  SELECT doc_id, lang, n_chars,
         |    31.0 * 6.931471805599453e-1 - lnu AS neg_ln_u
         |  FROM d1
         |),
         |${lnDCtesSql("d3", "d2", "doc_id, lang, n_chars, neg_ln_u",
             "CAST(n_chars AS DOUBLE)", "lnw")},
         |${lnDCtesSql("d4", "d3", "doc_id, lang, n_chars, lnw",
             "neg_ln_u", "lnnl")},
         |keyed AS (
         |  SELECT doc_id, lang, n_chars, lnw - lnnl AS gkey FROM d4
         |), ranked AS (
         |  SELECT lang, doc_id, n_chars, gkey,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY gkey DESC, doc_id) AS rk
         |  FROM keyed
         |)
         |SELECT lang, rk, doc_id, n_chars, gkey
         |FROM ranked WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "q_mixture_entropy" ->
      s"""WITH ns0 AS (
         |  SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
         |), ${lnCtesSql("ns", "ns0", "lang, n_l", "n_l", "lnn")},
         |grid AS (
         |  SELECT t.tau, ns.lang,
         |    CAST(t.tau AS DOUBLE) / 100 * ns.lnn AS x
         |  FROM ns, (SELECT unnest([25, 50, 75, 100]) AS tau) t
         |), ${expCtesSql("w", "grid", "tau, lang, x", "x", "wt")},
         |z AS (
         |  SELECT tau, list_reduce([CAST(0 AS DOUBLE)] ||
         |    list(wt ORDER BY lang), (a, v) -> a + v) AS z
         |  FROM w GROUP BY tau
         |), sh AS (
         |  SELECT w.tau, w.lang, w.wt / z.z AS p
         |  FROM w JOIN z ON w.tau = z.tau
         |),
         |${lnDCtesSql("shl", "sh", "tau, lang, p", "p", "lnp")},
         |ent AS (
         |  SELECT tau, list_reduce([CAST(0 AS DOUBLE)] ||
         |    list(0.0 - p * lnp ORDER BY lang), (a, v) -> a + v)
         |    AS entropy_nats
         |  FROM shl GROUP BY tau
         |), ${expCtesSql("fin", "ent", "tau, entropy_nats",
             "entropy_nats", "perplexity")}
         |SELECT tau, entropy_nats, perplexity FROM fin
         |ORDER BY tau""".stripMargin,

    "q_lr_score" ->
      s"""WITH feat AS (
         |  SELECT doc_id, lang,
         |    -2.0 + 3.0 *
         |      (CAST(len(list_distinct(string_split(text, ' ')))
         |          AS DOUBLE)
         |        / CAST(len(string_split(text, ' ')) AS BIGINT))
         |    + 1.5 * (CAST(LEAST(CAST(len(string_split(text, ' '))
         |          AS BIGINT), CAST(100 AS BIGINT)) AS DOUBLE) / 100)
         |      AS z
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, lang, z, abs(z) AS az FROM feat
         |), ${expCtesSql("ex", "g", "doc_id, lang, z, az", "az", "d")},
         |scored AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN z >= 0 THEN d / (d + 1)
         |      ELSE 1.0 / (1.0 + d) END AS p
         |  FROM ex
         |), ranked AS (
         |  SELECT lang, doc_id, p,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p, doc_id)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY lang) AS n_docs
         |  FROM scored
         |)
         |SELECT lang, MAX(n_docs) AS n_docs,
         |  CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass,
         |  MIN(p) AS min_p,
         |  MAX(CASE WHEN rn = (n_docs + 1) // 2 THEN p END)
         |    AS median_p,
         |  MAX(p) AS max_p
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
