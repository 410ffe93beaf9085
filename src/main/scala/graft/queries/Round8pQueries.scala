package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 sixteenth batch: feature selection, embedding whitening,
  * and class balancing — the model-prep layer.
  *
  *  - q_feature_mi: mutual information of three cheap doc features
  *    (TTR-score bucket, token-length bucket, char-length bucket)
  *    with the length pseudo-label — the feature-selection ranking
  *    run before training a quality classifier. Integer contingency
  *    cells, DetMath.dln logs, folds in cell order.
  *  - q_whitening_stats: per-dimension mean / variance / whitening
  *    scale 1/sqrt(var + 1e-6) over the embedding corpus — the
  *    whitening transform estimation (retrieval embeddings are
  *    routinely whitened before cosine search). Block-tree per-dim
  *    sums; E[x^2] - mean^2 with mirrored operand order.
  *  - q_class_weights: per-language class weights two ways — inverse
  *    frequency n/(k*n_c) and the effective-number-of-samples weight
  *    (1-b)/(1-b^n_c) with b = 0.999 (Cui et al.), b^n computed as
  *    1/dexp(n_c * -dlnD(b)). The rebalancing table a trainer
  *    consumes when classes are skewed.
  */
object Round8pQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MI(feature_bucket; label) per feature, ranked. All counts
    // BIGINT; log-ratio = dln(n) + dln(nij) - dln(ai) - dln(bj).
    "q_feature_mi" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      val ws = split(col("text"), " ")
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("uniq"))
        .select(col("doc_id"),
          when(col("n_tokens") >= 55, 1L).otherwise(0L).as("label"),
          (((lit(100) * col("uniq")) / col("n_tokens")).cast("long") /
            20).cast("long").as("f_ttr"),
          (col("n_tokens") / 40).cast("long").as("f_toklen"),
          (col("n_chars") / 150).cast("long").as("f_charlen"))
      val long = base.select(col("label"),
        explode(array(
          struct(lit("f_ttr").as("feature"), col("f_ttr").as("bin")),
          struct(lit("f_toklen").as("feature"),
            col("f_toklen").as("bin")),
          struct(lit("f_charlen").as("feature"),
            col("f_charlen").as("bin")))).as("fx"))
        .select(col("fx.feature").as("feature"), col("fx.bin").as("bin"),
          col("label"))
      val cells = graft.CacheScope.retain(long
        .groupBy("feature", "bin", "label")
        .agg(count(lit(1)).as("nij")))
      val ai = cells.groupBy("feature", "bin")
        .agg(sum("nij").cast("long").as("ai"))
      val bj = cells.groupBy("feature", "label")
        .agg(sum("nij").cast("long").as("bj"))
      val tot = broadcast(cells.groupBy("feature")
        .agg(sum("nij").cast("long").as("n"))
        .withColumn("lnt", dln(col("n"))))
      val mi = cells.join(ai, Seq("feature", "bin"))
        .join(bj, Seq("feature", "label"))
        .join(tot, "feature")
        .select(col("feature"),
          struct(col("bin"), col("label"),
            ((col("nij").cast("double") / col("n")) *
              (col("lnt") + dln(col("nij")) - dln(col("ai")) -
                dln(col("bj")))).as("term")).as("st"))
        .groupBy("feature")
        .agg(sortedFold(collect_list(col("st")), "term").as("mi"))
      val nbins = cells.select("feature", "bin").distinct()
        .groupBy("feature").agg(count(lit(1)).as("n_bins"))
      mi.join(nbins, "feature")
        .select(col("feature"), col("n_bins"), col("mi"))
        .orderBy(col("mi").desc, col("feature"))
    }),

    // Per-dim whitening stats via the 1024-row block tree.
    "q_whitening_stats" -> ((s, dir) => {
      val comps = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim0", "comp")))
        .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
          expr("vec_id div 1024").as("blk"),
          col("comp").cast("double").as("x"))
      val sums = comps.groupBy("dim", "blk")
        .agg(sortedFold(collect_list(struct(col("vec_id"), col("x"))),
          "x").as("bs"),
          sortedFold(collect_list(struct(col("vec_id"),
            (col("x") * col("x")).as("x2"))), "x2").as("bs2"),
          count(lit(1)).as("bn"))
      sums.groupBy("dim")
        .agg(sortedFold(collect_list(struct(col("blk"), col("bs"))),
            "bs").as("sx"),
          sortedFold(collect_list(struct(col("blk"), col("bs2"))),
            "bs2").as("sx2"),
          sum("bn").cast("long").as("n"))
        .select(col("dim"), col("n"),
          (col("sx") / col("n")).as("mean"),
          (col("sx2") / col("n") -
            (col("sx") / col("n")) * (col("sx") / col("n"))).as("var"))
        .withColumn("scale",
          lit(1.0) / sqrt(col("var") + lit(1.0e-6)))
        .orderBy("dim")
    }),

    // Inverse-frequency and effective-number-of-samples weights per
    // language; b^n = 1/dexp(n * -dlnD(b)), b = 0.999.
    "q_class_weights" -> ((s, dir) => {
      import graft.functions.DetMath.{dexp, dlnD}
      val ns = Tables(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_c"))
      val tot = broadcast(ns.agg(sum("n_c").cast("long").as("n"),
        count(lit(1)).as("k")))
      val bPow = lit(1.0) / dexp(col("n_c").cast("double") *
        (lit(0.0) - dlnD(lit(0.999))))
      ns.crossJoin(tot)
        .select(col("lang"), col("n_c"), col("n"), col("k"),
          (col("n").cast("double") / (col("k") * col("n_c")))
            .as("inv_freq_w"),
          ((lit(1.0) - 0.999) / (lit(1.0) - bPow)).as("eff_num_w"))
        .orderBy("lang")
    }),
  )

  import graft.functions.DetMath.{lnCtesSql, lnDCtesSql, expCtesSql}

  val oracle: Map[String, String] = Map(
    "q_feature_mi" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST(len(string_split(text, ' ')) AS BIGINT)
         |      >= 55 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |      AS label,
         |    ((100 * CAST(len(list_distinct(string_split(text, ' ')))
         |        AS BIGINT))
         |      // CAST(len(string_split(text, ' ')) AS BIGINT)) // 20
         |      AS f_ttr,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) // 40
         |      AS f_toklen,
         |    n_chars // 150 AS f_charlen
         |  FROM documents
         |), long AS (
         |  SELECT 'f_ttr' AS feature, f_ttr AS bin, label FROM base
         |  UNION ALL
         |  SELECT 'f_toklen', f_toklen, label FROM base
         |  UNION ALL
         |  SELECT 'f_charlen', f_charlen, label FROM base
         |), cells0 AS (
         |  SELECT feature, bin, label, COUNT(*) AS nij
         |  FROM long GROUP BY 1, 2, 3
         |), ${lnCtesSql("cells", "cells0", "feature, bin, label, nij",
             "nij", "lnn")},
         |ai0 AS (
         |  SELECT feature, bin, CAST(SUM(nij) AS BIGINT) AS ai
         |  FROM cells0 GROUP BY 1, 2
         |), ${lnCtesSql("ai", "ai0", "feature, bin, ai", "ai", "lna")},
         |bj0 AS (
         |  SELECT feature, label, CAST(SUM(nij) AS BIGINT) AS bj
         |  FROM cells0 GROUP BY 1, 2
         |), ${lnCtesSql("bj", "bj0", "feature, label, bj", "bj",
             "lnb")},
         |tot0 AS (
         |  SELECT feature, CAST(SUM(nij) AS BIGINT) AS n
         |  FROM cells0 GROUP BY 1
         |), ${lnCtesSql("tot", "tot0", "feature, n", "n", "lnt")},
         |mi AS (
         |  SELECT c.feature, list_reduce([CAST(0 AS DOUBLE)] || list(
         |    (CAST(c.nij AS DOUBLE) / t.n)
         |      * (t.lnt + c.lnn - a.lna - b.lnb)
         |    ORDER BY c.bin, c.label), (x, v) -> x + v) AS mi
         |  FROM cells c
         |  JOIN ai a ON c.feature = a.feature AND c.bin = a.bin
         |  JOIN bj b ON c.feature = b.feature AND c.label = b.label
         |  JOIN tot t ON c.feature = t.feature
         |  GROUP BY c.feature
         |), nbins AS (
         |  SELECT feature, COUNT(*) AS n_bins FROM (
         |    SELECT DISTINCT feature, bin FROM cells0) GROUP BY feature
         |)
         |SELECT m.feature, nb.n_bins, m.mi
         |FROM mi m JOIN nbins nb ON m.feature = nb.feature
         |ORDER BY m.mi DESC, m.feature""".stripMargin,

    "q_whitening_stats" ->
      """WITH comps AS (
        |  SELECT vec_id, u.d AS dim, vec_id // 1024 AS blk,
        |    CAST(embedding[u.d] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, 65)) AS u(d)
        |), sums AS (
        |  SELECT dim, blk,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(x ORDER BY vec_id), (a, q) -> a + q) AS bs,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(x * x ORDER BY vec_id), (a, q) -> a + q) AS bs2,
        |    COUNT(*) AS bn
        |  FROM comps GROUP BY 1, 2
        |), agg AS (
        |  SELECT dim,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(bs ORDER BY blk), (a, q) -> a + q) AS sx,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(bs2 ORDER BY blk), (a, q) -> a + q) AS sx2,
        |    CAST(SUM(bn) AS BIGINT) AS n
        |  FROM sums GROUP BY dim
        |)
        |SELECT dim, n, sx / n AS mean,
        |  sx2 / n - (sx / n) * (sx / n) AS var,
        |  1.0 / sqrt(sx2 / n - (sx / n) * (sx / n) + 1.0e-6) AS scale
        |FROM agg ORDER BY dim""".stripMargin,

    "q_class_weights" ->
      s"""WITH ns AS (
         |  SELECT lang, COUNT(*) AS n_c FROM documents GROUP BY lang
         |), tot AS (
         |  SELECT CAST(SUM(n_c) AS BIGINT) AS n, COUNT(*) AS k FROM ns
         |), g0 AS (
         |  SELECT ns.lang, ns.n_c, tot.n, tot.k FROM ns, tot
         |),
         |${lnDCtesSql("g1", "g0", "lang, n_c, n, k", "0.999", "lnb")},
         |g2 AS (
         |  SELECT lang, n_c, n, k,
         |    CAST(n_c AS DOUBLE) * (0.0 - lnb) AS xp
         |  FROM g1
         |), ${expCtesSql("g3", "g2", "lang, n_c, n, k, xp", "xp",
             "ex")}
         |SELECT lang, n_c, n, k,
         |  CAST(n AS DOUBLE) / (k * n_c) AS inv_freq_w,
         |  (CAST(1 AS DOUBLE) - 0.999) / (1.0 - 1.0 / ex) AS eff_num_w
         |FROM g3 ORDER BY lang""".stripMargin,
  )
}
