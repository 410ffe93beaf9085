package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6j batch: corpus statistics II — diversity, vocabulary growth,
  * and cross-language structure over the documents table.
  *
  *  - q_simpson_diversity: Gini–Simpson diversity of the unigram AND
  *    bigram distributions per language (the no-logarithm entropy
  *    stand-in: 1 − Σp² from exact integer counts)
  *  - q_heaps_law: vocabulary-growth curve — distinct vocab after each
  *    10%-of-corpus checkpoint via first-occurrence bucketing (one
  *    pass, no per-checkpoint rescans)
  *  - q_vocab_overlap_langs: pairwise vocabulary Jaccard between
  *    languages (the contamination/shared-boilerplate matrix)
  *  - q_token_position_bias: mean normalized in-document position of
  *    the 10 most frequent tokens (Σpos / Σ(len−1) in exact integers —
  *    do some tokens systematically open or close documents?)
  *
  * Determinism: integer sufficient statistics everywhere; each double
  * is one mirrored division (or subtraction of one division).
  */
object Round6jQueries {

  private def toks(s: SparkSession, dir: String): DataFrame =
    PipelineQueries.spread(s, Tables(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gini-Simpson diversity 1 - sum(p^2) for unigrams and bigrams per
    // language, plus their ratio. sum(n^2) and N^2 are exact BIGINTs;
    // the two divisions are the only doubles. Bigrams come from
    // zipping the token array with itself shifted (slice) — one scan,
    // no self-join. At 100x: two explode+count aggregations partitioned
    // by (lang, term) — the canonical map-side-combine shape.
    "q_simpson_diversity" -> ((s, dir) => {
      val base = toks(s, dir)
      val uni = base.select(col("lang"), explode(col("ts")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("n"))
        .groupBy("lang").agg(sum("n").as("n_uni"),
          sum(col("n") * col("n")).as("ss_uni"))
      val bi = base
        .select(col("lang"), explode(
          zip_with(
            slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
            slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0))),
            (a, b) => concat_ws(" ", a, b))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("n"))
        .groupBy("lang").agg(sum("n").as("n_bi"),
          sum(col("n") * col("n")).as("ss_bi"))
      uni.join(bi, "lang")
        .withColumn("simpson_uni",
          lit(1.0) - col("ss_uni").cast("double") /
            (col("n_uni") * col("n_uni")))
        .withColumn("simpson_bi",
          lit(1.0) - col("ss_bi").cast("double") /
            (col("n_bi") * col("n_bi")))
        .select("lang", "n_uni", "ss_uni", "simpson_uni",
          "n_bi", "ss_bi", "simpson_bi")
        .orderBy("lang")
    }),

    // Heaps-law vocabulary growth: order docs by doc_id, checkpoint
    // every 10% of the corpus, and report |vocab| seen up to each
    // checkpoint. One pass: each term's FIRST occurrence doc (min
    // doc_id) is bucketed into its decile, then a 10-row running sum.
    // The naive form (10 rescans with doc_id <= cut) reads the corpus
    // 10 times; this reads it once.
    "q_heaps_law" -> ((s, dir) => {
      val base = toks(s, dir)
      val nDocs = broadcast(base.agg(max("doc_id").as("max_id")))
      val firstSeen = base
        .select(col("doc_id"), explode(col("ts")).as("term"))
        .groupBy("term").agg(min("doc_id").as("first_doc"))
      val tokCum = base
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_toks"))
        .crossJoin(nDocs)
        .select((floor(col("doc_id") * 10 / (col("max_id") + 1)) + 1)
          .cast("long").as("decile"), col("n_toks"))
        .groupBy("decile").agg(sum("n_toks").as("toks_in_decile"))
      val vocabNew = firstSeen.crossJoin(nDocs)
        .select((floor(col("first_doc") * 10 / (col("max_id") + 1)) + 1)
          .cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_terms"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      tokCum.join(vocabNew, Seq("decile"), "left")
        .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
        // 10-row frame: the unpartitioned window is a deliberate
        // single-task sort over exactly 10 rows, not a data-sized one
        .withColumn("cum_tokens", sum("toks_in_decile").over(w))
        .withColumn("cum_vocab", sum("new_terms").over(w))
        .select("decile", "toks_in_decile", "new_terms",
          "cum_tokens", "cum_vocab")
        .orderBy("decile")
    }),

    // Pairwise vocabulary Jaccard between languages. Vocab sets are
    // distinct (lang, term); the intersection comes from a term
    // self-join (lang_a < lang_b) and the union by inclusion-
    // exclusion. The matrix is |langs|^2 tiny; the join shuffles on
    // the high-cardinality term key.
    "q_vocab_overlap_langs" -> ((s, dir) => {
      val vocab = toks(s, dir)
        .select(col("lang"), explode(col("ts")).as("term"))
        .distinct()
      val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("vs"))
      val inter = vocab.as("a")
        .join(vocab.as("b"),
          col("a.term") === col("b.term") &&
            col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes.select(col("lang").as("lang_a"),
          col("vs").as("va"))), "lang_a")
        .join(broadcast(sizes.select(col("lang").as("lang_b"),
          col("vs").as("vb"))), "lang_b")
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("va") + col("vb") - col("n_common")))
        .select("lang_a", "lang_b", "va", "vb", "n_common", "jaccard")
        .orderBy("lang_a", "lang_b")
    }),

    // Positional bias of the 10 most frequent tokens: mean normalized
    // position defined as sum(pos) / sum(len-1) over all occurrences
    // (pos 0-based, len the doc's token count; docs of length 1
    // excluded as positionless). 0.5 = uniform, < 0.5 = opens
    // documents, > 0.5 = closes them. Both sums are exact BIGINTs from
    // one posexplode pass; top-10 terms resolved by (count desc, term).
    "q_token_position_bias" -> ((s, dir) => {
      val pos = toks(s, dir)
        .filter(size(col("ts")) > 1)
        .select(size(col("ts")).cast("long").as("len"),
          posexplode(col("ts")).as(Seq("pos", "term")))
      val agg = pos.groupBy("term").agg(
        count(lit(1)).as("n_occ"),
        sum(col("pos").cast("long")).as("sum_pos"),
        sum(col("len") - 1).as("sum_span"))
      agg.orderBy(col("n_occ").desc, col("term")).limit(10)
        .withColumn("mean_rel_pos",
          col("sum_pos").cast("double") / col("sum_span"))
        .select("term", "n_occ", "sum_pos", "sum_span", "mean_rel_pos")
        .orderBy(col("n_occ").desc, col("term"))
    }))

  val oracle: Map[String, String] = Map(

    "q_simpson_diversity" ->
      """WITH toks AS (
        |  SELECT d.lang, u.term
        |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS u(term)
        |), uni AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_uni,
        |    CAST(SUM(n * n) AS BIGINT) AS ss_uni
        |  FROM (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM toks GROUP BY 1, 2)
        |  GROUP BY 1
        |), bt AS (
        |  SELECT d.lang,
        |    ts[i] || ' ' || ts[i + 1] AS term
        |  FROM (SELECT lang, string_split(text, ' ') AS ts
        |        FROM documents) d,
        |    UNNEST(range(1, len(ts))) AS r(i)
        |), bi AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_bi,
        |    CAST(SUM(n * n) AS BIGINT) AS ss_bi
        |  FROM (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM bt GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT uni.lang, uni.n_uni, uni.ss_uni,
        |  1.0 - CAST(uni.ss_uni AS DOUBLE) / (uni.n_uni * uni.n_uni)
        |    AS simpson_uni,
        |  bi.n_bi, bi.ss_bi,
        |  1.0 - CAST(bi.ss_bi AS DOUBLE) / (bi.n_bi * bi.n_bi)
        |    AS simpson_bi
        |FROM uni JOIN bi ON uni.lang = bi.lang
        |ORDER BY uni.lang""".stripMargin,

    "q_heaps_law" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), nd AS (SELECT MAX(doc_id) AS max_id FROM base),
        |toks AS (
        |  SELECT b.doc_id, u.term
        |  FROM base b, UNNEST(b.ts) AS u(term)
        |), first_seen AS (
        |  SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY 1
        |), tok_cum AS (
        |  SELECT CAST(FLOOR(b.doc_id * 10 / (nd.max_id + 1)) + 1
        |      AS BIGINT) AS decile,
        |    CAST(SUM(len(b.ts)) AS BIGINT) AS toks_in_decile
        |  FROM base b, nd GROUP BY 1
        |), vocab_new AS (
        |  SELECT CAST(FLOOR(f.first_doc * 10 / (nd.max_id + 1)) + 1
        |      AS BIGINT) AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS new_terms
        |  FROM first_seen f, nd GROUP BY 1
        |)
        |SELECT t.decile, t.toks_in_decile,
        |  COALESCE(v.new_terms, 0) AS new_terms,
        |  CAST(SUM(t.toks_in_decile) OVER (ORDER BY t.decile) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(SUM(COALESCE(v.new_terms, 0)) OVER (ORDER BY t.decile)
        |    AS BIGINT) AS cum_vocab
        |FROM tok_cum t LEFT JOIN vocab_new v ON t.decile = v.decile
        |ORDER BY t.decile""".stripMargin,

    "q_vocab_overlap_langs" ->
      """WITH vocab AS (
        |  SELECT DISTINCT d.lang, u.term
        |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS u(term)
        |), sizes AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS vs
        |  FROM vocab GROUP BY 1
        |), inter AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM vocab a JOIN vocab b
        |    ON a.term = b.term AND a.lang < b.lang
        |  GROUP BY 1, 2
        |)
        |SELECT i.lang_a, i.lang_b, sa.vs AS va, sb.vs AS vb,
        |  i.n_common,
        |  CAST(i.n_common AS DOUBLE) / (sa.vs + sb.vs - i.n_common)
        |    AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.lang_a = sa.lang
        |JOIN sizes sb ON i.lang_b = sb.lang
        |ORDER BY i.lang_a, i.lang_b""".stripMargin,

    "q_token_position_bias" ->
      """WITH base AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents
        |), pos AS (
        |  SELECT CAST(len(ts) AS BIGINT) AS len,
        |    CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS pos,
        |    unnest(ts) AS term
        |  FROM base WHERE len(ts) > 1
        |), agg AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |    CAST(SUM(pos) AS BIGINT) AS sum_pos,
        |    CAST(SUM(len - 1) AS BIGINT) AS sum_span
        |  FROM pos GROUP BY 1
        |)
        |SELECT term, n_occ, sum_pos, sum_span,
        |  CAST(sum_pos AS DOUBLE) / sum_span AS mean_rel_pos
        |FROM agg
        |ORDER BY n_occ DESC, term LIMIT 10""".stripMargin)
}
