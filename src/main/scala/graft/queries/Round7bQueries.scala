package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 second batch: corpus-lifecycle diagnostics — the operations
  * an ingest/dedup/decontam pipeline runs BETWEEN snapshots rather
  * than on one frozen corpus.
  *
  *  - dedup_incremental: new-batch dedup against the standing corpus
  *    (the nightly-ingest shape: drop vs old, then first-wins within
  *    the batch)
  *  - quality_decile_dup: duplication rate by document-length decile —
  *    does low-quality (short) content duplicate more?
  *  - decontam_token_mass: contaminated TOKEN mass per source, not
  *    just doc counts (a 1% doc rate hiding 20% of tokens is the case
  *    doc-level reporting misses)
  *  - dedup_span_coverage: per-language share of 8-token windows that
  *    are duplicated corpus-wide (the boilerplate rate document-level
  *    dedup leaves behind)
  *  - vocab_marginal_gain: marginal new-vocabulary contribution per
  *    source under a fixed source order (which feeds still grow the
  *    vocabulary?)
  *  - q_growth_accounting: weekly active users decomposed into
  *    new / retained / resurrected (the standard growth-accounting
  *    identity: the three classes partition WAU exactly)
  *
  * Determinism: integer sufficient statistics; each double is one
  * mirrored division of exact BIGINTs. Decile boundaries use the
  * explicit floor((rank-1)*10/n)+1 formula in both engines (same as
  * curriculum_phase) so no NTILE remainder convention can diverge.
  */
object Round7bQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Incremental-ingest dedup: docs with doc_id % 5 == 0 are the
    // arriving batch, the rest the standing corpus. A new doc is
    // dropped if its content hash exists in the corpus (equi-join on
    // the hash — work scales with the BATCH, never old x new), else
    // first-by-doc_id wins within the batch (window over the hash
    // partition the join already shuffled by — no extra exchange).
    // The old-hash side is NOT broadcast: at 100 TB the standing
    // corpus's hash set is the big side; the shuffle is on the
    // high-cardinality hash, so it scales and cannot skew.
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val old = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select("h").distinct()
      val nw = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val flagged = nw
        .join(old.withColumn("in_old", lit(1)), Seq("h"), "left")
        .withColumn("rn",
          row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      flagged
        .withColumn("dup_old", col("in_old").isNotNull)
        .withColumn("dup_new", col("in_old").isNull && col("rn") > 1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("dup_old"), 1L).otherwise(0L)).as("n_dup_vs_old"),
          sum(when(col("dup_new"), 1L).otherwise(0L)).as("n_dup_within"),
          sum(when(!col("dup_old") && !col("dup_new"), 1L).otherwise(0L))
            .as("n_ingested"))
        .withColumn("dup_rate",
          (col("n_dup_vs_old") + col("n_dup_within")).cast("double") /
            col("n_new"))
        .orderBy("source")
    }),

    // Duplication rate by length decile: global token-count rank via
    // GlobalRank (no single-partition window), decile from the
    // explicit floor formula, dup flag from a count over the
    // content-hash partition. Short-doc deciles duplicating more is
    // the classic boilerplate signature; the cross informs whether a
    // length floor and dedup are redundant filters or complementary.
    "quality_decile_dup" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"),
          md5(col("text")).as("h"))
      val withNd = base.withColumn("nd",
        count(lit(1)).over(Window.partitionBy("h")))
      val ranked = graft.operators.GlobalRank.withRank(
        withNd, col("tok"), col("doc_id"), "rnk")
      val n = broadcast(base.agg(count(lit(1)).as("n_total")))
      ranked.crossJoin(n)
        .withColumn("decile",
          (floor(((col("rnk") - 1) * 10).cast("double") / col("n_total"))
            + 1).cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum("tok").as("tok_total"))
        .withColumn("dup_rate",
          col("n_dup_docs").cast("double") / col("n_docs"))
        .orderBy("decile")
    }),

    // Contaminated token mass per source: decontam_ngram's inverted-
    // index join marks the contaminated docs (any shared 5-gram with
    // the % 50 held-out surrogate); this rolls the verdict up to the
    // TOKEN mass each source would lose. Work still scales with
    // matching grams (broadcast bench-gram list), plus one corpus
    // token-count scan.
    "decontam_token_mass" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val grams = PipelineQueries.spread(s, docs)
        .select(col("doc_id"),
          explode(call_function("graft_shingles5", col("text"))).as("gram"))
      val bench = broadcast(
        grams.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select("gram").distinct())
      val contam = grams.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .join(bench, "gram")
        .select("doc_id").distinct()
        .withColumn("is_contam", lit(1))
      docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .join(contam, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_contam").isNotNull, 1L).otherwise(0L))
            .as("n_contam"),
          sum("tok").as("tok_total"),
          sum(when(col("is_contam").isNotNull, col("tok")).otherwise(0L))
            .as("tok_contam"))
        .withColumn("contam_share",
          col("tok_contam").cast("double") / col("tok_total"))
        .orderBy("source")
    }),

    // Per-language duplicated-span coverage: share of distinct 8-token
    // windows that occur in more than one place corpus-wide (the
    // dedup_passage machinery aggregated to the corpus-health grain).
    // The window-hash partition is high-cardinality; the per-language
    // rollup is 5 rows.
    "dedup_span_coverage" -> ((s, dir) => {
      val toks = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 8)
      val wins = toks.select(col("doc_id"), col("lang"),
          explode(expr("transform(sequence(1, size(tk) - 7), " +
            "i -> md5(concat_ws(' ', slice(tk, i, 8))))")).as("h"))
        .distinct()
      wins
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
        .withColumn("dup_share",
          col("n_dup_windows").cast("double") / col("n_windows"))
        .orderBy("lang")
    }),

    // Marginal vocabulary gain per source under the fixed alphabetical
    // source order: each term is attributed to its MIN(source) — one
    // vocabulary-keyed aggregate — and the cumulative vocab is a
    // prefix sum over the per-source frame, which is bounded by source
    // cardinality (20 rows here, thousands at most in any corpus), so
    // the ordered window over it is a driver-scale frame, not a data
    // window.
    "vocab_marginal_gain" -> ((s, dir) => {
      val first = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(min("source").as("first_src"))
      val per = first.groupBy("first_src")
        .agg(count(lit(1)).as("n_new_terms"))
      // nulls LAST everywhere order matters: terms seen only in
      // NULL-source docs form a real group, and Spark's default asc
      // ordering puts nulls FIRST where DuckDB puts them LAST — the
      // running total would diverge
      per.withColumn("cum_vocab",
          sum("n_new_terms").over(Window.orderBy(
            col("first_src").asc_nulls_last)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("first_src").asc_nulls_last)
    }),

    // Weekly growth accounting: WAU decomposed into new (first-ever
    // week), retained (also active exactly one week earlier), and
    // resurrected (returning after a gap). The three classes partition
    // weekly active users, so the identity n_active = n_new +
    // n_retained + n_resurrected is checkable row by row. All windows
    // partition by user_id — high-cardinality, scales.
    "q_growth_accounting" -> ((s, dir) => {
      val uw = Tables(s, dir, "events")
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("week")
      uw.withColumn("first_w", min("week").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prev_w", lag(col("week"), 1).over(w))
        .withColumn("cls",
          when(col("week") === col("first_w"), lit("new"))
            .when(datediff(col("week"), col("prev_w")) === 7,
              lit("retained"))
            .otherwise(lit("resurrected")))
        .groupBy("week")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
        .orderBy("week")
    }),
  )

  val oracle: Map[String, String] = Map(

    "dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents
        |), old AS (
        |  SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0
        |), nw AS (
        |  SELECT d.source, (old.h IS NOT NULL) AS dup_old,
        |    ROW_NUMBER() OVER (PARTITION BY d.h ORDER BY d.doc_id)
        |      AS rn
        |  FROM d LEFT JOIN old ON d.h = old.h
        |  WHERE d.doc_id % 5 = 0
        |), cls AS (
        |  SELECT source, dup_old,
        |    (NOT dup_old AND rn > 1) AS dup_new
        |  FROM nw
        |)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN dup_old THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_vs_old,
        |  CAST(SUM(CASE WHEN dup_new THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_within,
        |  CAST(SUM(CASE WHEN NOT dup_old AND NOT dup_new THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_ingested,
        |  CAST(SUM(CASE WHEN dup_old OR dup_new THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,

    "quality_decile_dup" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    md5(text) AS h
        |  FROM documents
        |), nd AS (
        |  SELECT doc_id, tok,
        |    COUNT(*) OVER (PARTITION BY h) AS nd,
        |    ROW_NUMBER() OVER (ORDER BY tok, doc_id) AS rnk,
        |    COUNT(*) OVER () AS n_total
        |  FROM b
        |)
        |SELECT
        |  CAST(FLOOR(CAST((rnk - 1) * 10 AS DOUBLE) / n_total) + 1
        |    AS INT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(SUM(tok) AS BIGINT) AS tok_total,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS dup_rate
        |FROM nd GROUP BY 1 ORDER BY 1""".stripMargin,

    "decontam_token_mass" ->
      s"""WITH ${Pipeline2Queries.grams5Cte},
         |g AS (SELECT doc_id, unnest(s) AS gram FROM g5),
         |bench AS (
         |  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
         |), contam AS (
         |  SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)
         |  WHERE doc_id % 50 <> 0
         |), d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents WHERE doc_id % 50 <> 0
         |)
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contam,
         |  CAST(SUM(tok) AS BIGINT) AS tok_total,
         |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN tok
         |    ELSE 0 END) AS BIGINT) AS tok_contam,
         |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN tok
         |    ELSE 0 END) AS DOUBLE) / SUM(tok) AS contam_share
         |FROM d LEFT JOIN contam c USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_span_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS tk
        |  FROM documents
        |), wins AS (
        |  SELECT DISTINCT doc_id, lang,
        |    md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS h
        |  FROM (SELECT doc_id, lang, tk,
        |          unnest(generate_series(1, len(tk) - 7)) AS i
        |        FROM toks WHERE len(tk) >= 8)
        |), counted AS (
        |  SELECT lang, COUNT(*) OVER (PARTITION BY h) AS nd FROM wins
        |)
        |SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS dup_share
        |FROM counted GROUP BY 1 ORDER BY 1""".stripMargin,

    "vocab_marginal_gain" ->
      """WITH f AS (
        |  SELECT u.term, MIN(source) AS first_src
        |  FROM documents d,
        |    UNNEST(string_split(d.text, ' ')) AS u(term)
        |  GROUP BY 1
        |), p AS (
        |  SELECT first_src, CAST(COUNT(*) AS BIGINT) AS n_new_terms
        |  FROM f GROUP BY 1
        |)
        |SELECT first_src, n_new_terms,
        |  CAST(SUM(n_new_terms) OVER (ORDER BY first_src
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_vocab
        |FROM p ORDER BY 1""".stripMargin,

    "q_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events
        |), cls AS (
        |  SELECT week,
        |    CASE
        |      WHEN week = MIN(week) OVER (PARTITION BY user_id
        |        ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) THEN 'new'
        |      WHEN week - LAG(week) OVER (PARTITION BY user_id
        |        ORDER BY week) = 7 THEN 'retained'
        |      ELSE 'resurrected'
        |    END AS cls
        |  FROM uw
        |)
        |SELECT week,
        |  CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resurrected
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin)
}
