package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 fourteenth batch: sampling-temperature planning, classifier
  * thresholding, and softmax weighting — the DetMath.dexp batch (the
  * exp-shaped ops every mixture/sampling layer needs, previously
  * inexpressible under the bitwise-oracle discipline).
  *
  *  - q_temperature_sweep: the multilingual sampling-temperature curve
  *    (mT5/XLM-R style): per tau in {0.25, 0.5, 0.75, 1.0}, each
  *    language's sampling share p_l ∝ n_l^tau and the mixture's
  *    effective language count 1/sum p^2 — the table a data-mixing
  *    decision actually reads (tau=1 mirrors the corpus; lower tau
  *    flattens toward uniform).
  *  - q_threshold_sweep: precision/recall/F1 of the integer
  *    type-token-ratio score against a length pseudo-label at four
  *    thresholds — the operating-point table for a quality-gate
  *    classifier (q_f1_macro scores ONE threshold; this exposes the
  *    curve).
  *  - q_softmax_weights: per-language softmax(score/T) importance
  *    weights over docs — max weight, argmax doc, and top-3 weight
  *    concentration. The "is my weighted sampler collapsing onto a
  *    few documents" audit for score-weighted data selection.
  *
  * Determinism: n^tau = dexp(tau * dln(n)) with both transcendentals
  * from DetMath's shared IEEE DAGs; shares and softmax sums fold in
  * key order; threshold cells are BIGINT with guarded mirrored
  * divisions; argmax/top-3 are rank picks.
  */
object Round8nQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // p_l(tau) = exp(tau * ln n_l) / Z_tau; effective_n = 1/sum p^2.
    "q_temperature_sweep" -> ((s, dir) => {
      import graft.functions.DetMath.{withDln, withDexp}
      val ns = Tables(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_l"))
      // staged dln/dexp (r12, guide §3.3): the nested Column form built
      // a ~9,000-node expression tree (dexp re-inlines its argument —
      // here a full dln — 14×); measured 2.2 s wall on 0.5 s of task
      // time, all Catalyst. The staged form is the identical IEEE DAG
      // through named projection attributes — bitwise-equal wt.
      val w = graft.CacheScope.retain(
        withDexp(
          withDln(ns.crossJoin(broadcast(s.range(1).select(explode(array(
            lit(25), lit(50), lit(75), lit(100))).as("tau")))),
            col("n_l"), "__lnn"),
          col("tau").cast("double") / 100 * col("__lnn"), "wt")
        .select(col("tau"), col("lang"), col("n_l"), col("wt")))
      val z = w.groupBy("tau")
        .agg(sortedFold(collect_list(struct(col("lang"), col("wt"))),
          "wt").as("z"))
      val shares = graft.CacheScope.retain(w.join(broadcast(z), "tau")
        .select(col("tau"), col("lang"), col("n_l"),
          (col("wt") / col("z")).as("share")))
      val eff = shares.groupBy("tau")
        .agg((lit(1.0) / sortedFold(collect_list(struct(col("lang"),
          (col("share") * col("share")).as("s2"))), "s2"))
          .as("effective_n"))
      shares.join(broadcast(eff), "tau")
        .select(col("tau"), col("lang"), col("n_l"), col("share"),
          col("effective_n"))
        .orderBy("tau", "lang")
    }),

    // Operating-point table: integer TTR score >= thr vs the length
    // pseudo-label; P/R/F1 with guarded denominators.
    "q_threshold_sweep" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("uniq"))
        .select(col("doc_id"),
          ((lit(100) * col("uniq")) / col("n_tokens")).cast("long")
            .as("score"),
          when(col("n_tokens") >= 55, 1L).otherwise(0L).as("label"))
      val cells = scored
        .crossJoin(broadcast(s.range(1).select(explode(array(
          lit(35L), lit(45L), lit(55L), lit(65L))).as("thr"))))
        .groupBy("thr").agg(
          sum(when(col("score") >= col("thr") && col("label") === 1, 1L)
            .otherwise(0L)).cast("long").as("tp"),
          sum(when(col("score") >= col("thr") && col("label") === 0, 1L)
            .otherwise(0L)).cast("long").as("fp"),
          sum(when(col("score") < col("thr") && col("label") === 1, 1L)
            .otherwise(0L)).cast("long").as("fn"))
      cells.select(col("thr"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")))
            .otherwise(lit(0.0)).as("precision"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")))
            .otherwise(lit(0.0)).as("recall"),
          when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
            (lit(2) * col("tp")).cast("double") /
              (lit(2) * col("tp") + col("fp") + col("fn")))
            .otherwise(lit(0.0)).as("f1"))
        .orderBy("thr")
    }),

    // Per-language softmax(score/25) weights: max weight + argmax doc
    // + top-3 concentration via explicit rank picks.
    "q_softmax_weights" -> ((s, dir) => {
      import graft.functions.DetMath.dexp
      val ws = split(col("text"), " ")
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("uniq"))
        .select(col("doc_id"), col("lang"),
          dexp(((lit(100) * col("uniq")) / col("n_tokens")).cast("long")
            .cast("double") / 25).as("wt"))
      val zed = graft.CacheScope.retain(scored
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sortedFold(collect_list(struct(col("doc_id"), col("wt"))),
            "wt").as("z")))
      val byW = Window.partitionBy("lang")
        .orderBy(col("wt").desc, col("doc_id"))
      val ranked = scored.withColumn("rn", row_number().over(byW))
        .filter(col("rn") <= 3)
        .join(zed, "lang")
        .select(col("lang"), col("rn"), col("doc_id"),
          (col("wt") / col("z")).as("w"))
      ranked.groupBy("lang").agg(
          max(when(col("rn") === 1, col("doc_id"))).as("top_doc"),
          max(when(col("rn") === 1, col("w"))).as("max_w"),
          (coalesce(max(when(col("rn") === 1, col("w"))), lit(0.0)) +
            coalesce(max(when(col("rn") === 2, col("w"))), lit(0.0)) +
            coalesce(max(when(col("rn") === 3, col("w"))), lit(0.0)))
            .as("top3_share"))
        .join(zed.select("lang", "n_docs"), "lang")
        .select(col("lang"), col("n_docs"), col("top_doc"),
          col("max_w"), col("top3_share"))
        .orderBy("lang")
    }),
  )

  import graft.functions.DetMath.{lnCtesSql, expCtesSql}

  val oracle: Map[String, String] = Map(
    "q_temperature_sweep" ->
      s"""WITH ns0 AS (
         |  SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
         |), ${lnCtesSql("ns", "ns0", "lang, n_l", "n_l", "lnn")},
         |grid AS (
         |  SELECT t.tau, ns.lang, ns.n_l,
         |    CAST(t.tau AS DOUBLE) / 100 * ns.lnn AS x
         |  FROM ns, (SELECT unnest([25, 50, 75, 100]) AS tau) t
         |), ${expCtesSql("w", "grid", "tau, lang, n_l, x", "x", "wt")},
         |z AS (
         |  SELECT tau, list_reduce([CAST(0 AS DOUBLE)] ||
         |    list(wt ORDER BY lang), (a, v) -> a + v) AS z
         |  FROM w GROUP BY tau
         |), shares AS (
         |  SELECT w.tau, w.lang, w.n_l, w.wt / z.z AS share
         |  FROM w JOIN z ON w.tau = z.tau
         |), eff AS (
         |  SELECT tau, 1.0 / list_reduce([CAST(0 AS DOUBLE)] ||
         |    list(share * share ORDER BY lang), (a, v) -> a + v)
         |    AS effective_n
         |  FROM shares GROUP BY tau
         |)
         |SELECT s.tau, s.lang, s.n_l, s.share, e.effective_n
         |FROM shares s JOIN eff e ON s.tau = e.tau
         |ORDER BY s.tau, s.lang""".stripMargin,

    "q_threshold_sweep" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS uniq
        |  FROM documents
        |), scored AS (
        |  SELECT doc_id, (100 * uniq) // n_tokens AS score,
        |    CASE WHEN n_tokens >= 55 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS label
        |  FROM d
        |), cells AS (
        |  SELECT t.thr,
        |    CAST(SUM(CASE WHEN score >= t.thr AND label = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN score >= t.thr AND label = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN score < t.thr AND label = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM scored,
        |    (SELECT CAST(x AS BIGINT) AS thr
        |     FROM (SELECT unnest([35, 45, 55, 65]) AS x)) t
        |  GROUP BY t.thr
        |)
        |SELECT thr, tp, fp, fn,
        |  CASE WHEN tp + fp > 0
        |    THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END
        |    AS precision,
        |  CASE WHEN tp + fn > 0
        |    THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0
        |    THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
        |    ELSE 0.0 END AS f1
        |FROM cells ORDER BY thr""".stripMargin,

    "q_softmax_weights" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    (100 * CAST(len(list_distinct(string_split(text, ' ')))
         |        AS BIGINT))
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS score
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, lang, CAST(score AS DOUBLE) / 25 AS x FROM d
         |), ${expCtesSql("sw", "g", "doc_id, lang, x", "x", "wt")},
         |zed AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(wt ORDER BY doc_id), (a, v) -> a + v) AS z
         |  FROM sw GROUP BY lang
         |), ranked AS (
         |  SELECT sw.lang, sw.doc_id, sw.wt / zed.z AS w,
         |    ROW_NUMBER() OVER (PARTITION BY sw.lang
         |      ORDER BY sw.wt DESC, sw.doc_id) AS rn
         |  FROM sw JOIN zed ON sw.lang = zed.lang
         |)
         |SELECT r.lang, MAX(zed.n_docs) AS n_docs,
         |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS top_doc,
         |  MAX(CASE WHEN rn = 1 THEN w END) AS max_w,
         |  COALESCE(MAX(CASE WHEN rn = 1 THEN w END), 0.0)
         |    + COALESCE(MAX(CASE WHEN rn = 2 THEN w END), 0.0)
         |    + COALESCE(MAX(CASE WHEN rn = 3 THEN w END), 0.0)
         |    AS top3_share
         |FROM ranked r JOIN zed ON r.lang = zed.lang
         |WHERE rn <= 3
         |GROUP BY r.lang ORDER BY r.lang""".stripMargin,
  )
}
