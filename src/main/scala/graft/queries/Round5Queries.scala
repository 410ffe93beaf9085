package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dotD, normD}
import graft.Tables

/** Round-5 batch: the retrieval side of a training-data pipeline —
  * keyword search (BM25), index construction (posting lists), and
  * hybrid rank fusion (RRF over a lexical and a semantic retriever).
  * Curation pipelines run these constantly: retrieval-based
  * decontamination, quality-probe queries, and hybrid dedup audits all
  * need a scored lexical index next to the ANN index the repo already
  * has (ann_ivf_topk / ann_pq_topk).
  *
  * Determinism rules follow term_tfidf: no `ln` (libm-dependent, not
  * bitwise-reproducible across engines) — BM25 uses the log-free odds
  * idf (N - df + 0.5)/(df + 0.5), monotone in df like the standard
  * Robertson idf; and no aggregation-order-dependent double sums — the
  * per-term BM25 contributions are pivoted to columns and added in
  * fixed written order, and RRF adds exactly two terms in written
  * order. Posting lists use the bounded TopKAggregator (8-entry
  * buffer), not collect_list: at 100 TB a common term's full posting
  * list is the corpus, and an index build emits it sharded — the
  * bounded head is the shape that survives scale.
  */
object Round5Queries {

  private val queryTerms = Seq("hash", "join", "vector")

  /** BM25-scored documents for [[queryTerms]] (k1=1.2, b=0.75):
    * one filtered explode + one aggregation for tf, a broadcast df/stats
    * join, and a fixed-order pivot sum — no shuffle ever carries more
    * than (doc, query-term) rows, so the plan is a scan plus two tiny
    * aggregations at any corpus size.
    */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val docs = PipelineQueries.spread(s, Tables(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
    // corpus stats: exact integers, broadcast as one row; avgdl enters
    // the formula as dl*n_docs/sum_dl so no early lossy division
    val stats = broadcast(docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("sum_dl")))
    // dl rides the explode (functionally dependent on doc_id), so tf
    // needs no join back to a per-doc length table
    // tf feeds both the document-frequency aggregate and the scoring
    // join: retained so the corpus tokenize + explode runs once, not
    // once per consumer (the tf OUTPUT is tiny — docs x query terms —
    // but its derivation is a full-corpus scan)
    val tf = graft.CacheScope.retain(docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf")))
    val df = broadcast(tf.groupBy("term").agg(count(lit(1)).as("df")))
    val contrib = tf.join(df, "term").crossJoin(stats)
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)))
      .withColumn("c",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") * col("n_docs")) / col("sum_dl"))))
    contrib.groupBy("doc_id").agg(
        max(when(col("term") === "hash", col("c"))).as("c_hash"),
        max(when(col("term") === "join", col("c"))).as("c_join"),
        max(when(col("term") === "vector", col("c"))).as("c_vector"))
      .select(col("doc_id"),
        (coalesce(col("c_hash"), lit(0.0)) +
          coalesce(col("c_join"), lit(0.0)) +
          coalesce(col("c_vector"), lit(0.0))).as("score"))
  }

  /** Rank 1..n over a PRE-LIMITED frame: TakeOrdered bounds the input
    * to `n` rows before the single-partition row_number window, so the
    * window sorts n rows, never the corpus (contrast the banned
    * unbounded global window — see GlobalRank).
    */
  private def rankTop(dfIn: DataFrame, n: Int, ord: Seq[Column],
                      rankCol: String): DataFrame =
    dfIn.orderBy(ord: _*).limit(n)
      .withColumn(rankCol, row_number().over(Window.orderBy(ord: _*)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 top-20 for a fixed conjunctive keyword query — the lexical
    // retrieval primitive (quality probes, retrieval-based decontam).
    "q_bm25_topk" -> ((s, dir) =>
      bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(20)),

    // Inverted-index construction: per term, document frequency,
    // collection frequency, and the 8 smallest posting doc_ids via the
    // bounded TopKAggregator (score=-doc_id keeps smallest; exact — doc
    // ids are far below 2^53). The full-list shape (collect_list) is
    // deliberately absent: an index build at 100 TB emits postings
    // sharded, and only bounded heads travel through a single agg.
    "q_inverted_index" -> ((s, dir) => {
      val bottom8 = udaf(new graft.functions.TopKAggregator(8))
      PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) >= 2)
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .groupBy("term").agg(
          count(lit(1)).as("df"),
          sum(col("tf")).as("cf"),
          bottom8(-col("doc_id").cast("double"), col("doc_id")).as("p"))
        .select(col("term"), col("df"), col("cf"),
          array_join(transform(col("p"),
            e => e.getField("id").cast("string")), ",").as("postings_head"))
        .orderBy("term")
    }),

    // Reciprocal-rank fusion (k=60) of the lexical (BM25 top-50) and
    // semantic (cosine-vs-probe top-50) retrievers — the hybrid-search
    // shape. Both arms bound their rank windows by pre-limiting; the
    // fusion itself is a full outer join of two 50-row lists.
    "q_rrf_fusion" -> ((s, dir) => {
      val lex = rankTop(bm25Scored(s, dir), 50,
          Seq(col("score").desc, col("doc_id")), "r_lex")
        .select(col("doc_id"), col("r_lex"))
      val e = Tables(s, dir, "embeddings")
      val probe = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe")))
      val sem = rankTop(
          e.crossJoin(probe).filter(col("vec_id") =!= 0)
            .select(col("vec_id").as("doc_id"),
              (dotD(col("embedding"), col("pe")) /
                (normD(col("embedding")) * normD(col("pe")))).as("sim")),
          50, Seq(col("sim").desc, col("doc_id")), "r_sem")
        .select(col("doc_id"), col("r_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)))
            .as("rrf"),
          col("r_lex"), col("r_sem"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    }),

    // Temperature-based data mixing (tau=2): per-language sampling
    // weights proportional to (n_lang/N)^(1/tau) — the upsample-the-
    // tails mixture used when assembling multilingual training sets.
    // 1/tau = 0.5 makes the exponent an IEEE-exact sqrt (`pow` is
    // libm-dependent and not bitwise-reproducible; sqrt is correctly
    // rounded everywhere). The cross-group normalizer is a FOLD over
    // the lang-sorted weight list, not a plain double sum — aggregation
    // order is scheduler-dependent, fold order is written down. Doc
    // selection is a deterministic md5-fraction Bernoulli against the
    // per-lang rate, so n_sampled is exactly reproducible; at 100 TB
    // the weights are a broadcast row and sampling is a stateless
    // filter on the scan.
    "q_temperature_mix" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // ONE corpus-wide combine shuffle produces the 5-row lang counts;
      // the total, the fold normalizer, and the per-lang rates all
      // derive from that single collected row (folds, not re-scans —
      // the naive formulation re-aggregates the corpus once per branch)
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val rates = broadcast(byLang
        .agg(array_sort(collect_list(struct(col("lang"), col("n_docs"))))
          .as("ln"))
        .withColumn("n_total", aggregate(col("ln"), lit(0L),
          (acc, x) => acc + x.getField("n_docs")))
        .withColumn("total_w", aggregate(col("ln"), lit(0.0),
          (acc, x) => acc +
            sqrt(x.getField("n_docs").cast("double") / col("n_total"))))
        .select(explode(col("ln")).as("e"),
          col("n_total"), col("total_w"))
        .select(col("e.lang").as("lang"),
          col("e.n_docs").as("n_docs"),
          (sqrt(col("e.n_docs").cast("double") / col("n_total")) /
            col("total_w")).as("weight"),
          col("n_total"))
        .withColumn("rate", least(lit(1.0),
          col("weight") * col("n_total") / col("n_docs")))
        .select("lang", "n_docs", "weight", "rate"))
      val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long").cast("double") / lit(4294967296.0)
      docs.select(col("lang"), frac.as("frac"))
        .join(rates, "lang")
        .groupBy("lang").agg(
          max(col("n_docs")).as("n_docs"), // constant per lang
          max(col("weight")).as("weight"),
          sum(when(col("frac") < col("rate"), 1L).otherwise(0L))
            .as("n_sampled"))
        .orderBy("lang")
    }),

    // BPE tokenizer APPLY (the encode counterpart of bpe_merge_step's
    // train step): the top-3 adjacent-pair merges are derived from the
    // corpus, broadcast as one pivoted row, and applied to every word's
    // spaced-char form in rank order via three nested replaces (both
    // engines replace left-to-right non-overlapping — the BPE rule).
    // Output is the per-doc token count before/after — the statistic a
    // pipeline needs to budget sequence lengths under a tokenizer. At
    // 100 TB: one combine shuffle for pair counts, then a stateless
    // broadcast map over the scan.
    "bpe_apply" -> ((s, dir) => {
      // retained: the pair-count arm and the encode pass both explode
      // the corpus into words otherwise (r13, guide §1.2 — two full
      // scan+split+explode passes for one word frame)
      val words = graft.CacheScope.retain(
        PipelineQueries.spread(s, Tables(s, dir, "documents"))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
      val pairCnt = words.filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
      val top3 = rankTop(pairCnt, 3,
        Seq(col("cnt").desc, col("pair")), "rn")
      val merges = broadcast(top3.agg(
        max(when(col("rn") === 1, col("pair"))).as("m1"),
        max(when(col("rn") === 2, col("pair"))).as("m2"),
        max(when(col("rn") === 3, col("pair"))).as("m3")))
      def pat(m: Column): Column =
        concat_ws(" ", substring(m, 1, 1), substring(m, 2, 1))
      val spaced = concat_ws(" ", split(col("w"), ""))
      words.crossJoin(merges)
        .withColumn("enc",
          replace(
            replace(
              replace(spaced, pat(col("m1")), col("m1")),
              pat(col("m2")), col("m2")),
            pat(col("m3")), col("m3")))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("n_chars"),
          sum(size(split(col("enc"), " "))).as("n_tokens"))
        .orderBy("doc_id")
    }),
  )

  /** The BM25 scored-docs CTE mirrored in DuckDB (see bm25Scored for
    * the op-order contract — every double op is written in the same
    * order and associativity as the Spark expression tree).
    */
  private val bm25Cte =
    """tf AS (
      |  SELECT doc_id, dl, term, COUNT(*) AS tf
      |  FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |      unnest(string_split(text, ' ')) AS term
      |    FROM documents
      |  ) WHERE term IN ('hash', 'join', 'vector')
      |  GROUP BY 1, 2, 3
      |),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
      |  FROM documents
      |),
      |contrib AS (
      |  SELECT tf.doc_id, tf.term,
      |    (CAST(n_docs AS DOUBLE) - df + 0.5)
      |      / (df + CAST(0.5 AS DOUBLE))
      |      * (tf * CAST(2.2 AS DOUBLE)) /
      |      (tf + 1.2 * (0.25 + 0.75 *
      |        (CAST(dl AS DOUBLE) * n_docs) / sum_dl)) AS c
      |  FROM tf JOIN dfreq USING (term), stats
      |),
      |bm25 AS (
      |  SELECT doc_id,
      |    COALESCE(MAX(CASE WHEN term = 'hash' THEN c END), 0.0)
      |    + COALESCE(MAX(CASE WHEN term = 'join' THEN c END), 0.0)
      |    + COALESCE(MAX(CASE WHEN term = 'vector' THEN c END), 0.0)
      |      AS score
      |  FROM contrib GROUP BY doc_id
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_bm25_topk" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, score FROM bm25
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_inverted_index" ->
      """SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 8), ',')
        |    AS postings_head
        |FROM (
        |  SELECT term, doc_id, COUNT(*) AS tf
        |  FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents
        |  ) WHERE len(term) >= 2
        |  GROUP BY 1, 2
        |)
        |GROUP BY term ORDER BY term""".stripMargin,

    "q_rrf_fusion" ->
      s"""WITH $bm25Cte,
         |lex AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
         |  FROM bm25 QUALIFY r_lex <= 50
         |),
         |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
         |sem AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r_sem
         |  FROM (
         |    SELECT vec_id AS doc_id,
         |      ${PipelineQueries.dotSql("embedding", "pe")} /
         |        (${PipelineQueries.normSql("embedding")} *
         |          ${PipelineQueries.normSql("pe")}) AS sim
         |    FROM embeddings, p WHERE vec_id <> 0
         |  ) QUALIFY r_sem <= 50
         |)
         |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         |  COALESCE(CAST(1 AS DOUBLE) / (60 + r_lex), 0.0)
         |  + COALESCE(CAST(1 AS DOUBLE) / (60 + r_sem), 0.0) AS rrf,
         |  r_lex, r_sem
         |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "q_temperature_mix" ->
      """WITH n AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
        |),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM n),
        |w AS (
        |  SELECT lang, n_docs,
        |    sqrt(CAST(n_docs AS DOUBLE) / n_total) AS w
        |  FROM n, tot
        |),
        |tw AS (
        |  SELECT list_reduce(
        |    [CAST(0 AS DOUBLE)] || list_transform(
        |      list_sort(list(struct_pack(lang := lang, w := w))),
        |      s -> s.w),
        |    (acc, v) -> acc + v) AS total_w
        |  FROM w
        |),
        |rates AS (
        |  SELECT lang, n_docs, w / total_w AS weight,
        |    LEAST(CAST(1 AS DOUBLE), w / total_w * n_total / n_docs)
        |      AS rate
        |  FROM w, tot, tw
        |),
        |frac AS (
        |  SELECT lang,
        |    CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
        |      string_split_regex(
        |        substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (acc, v) -> acc * 16 + v) AS DOUBLE)
        |      / CAST(4294967296 AS DOUBLE) AS frac
        |  FROM documents
        |)
        |SELECT f.lang, MAX(n_docs) AS n_docs, MAX(weight) AS weight,
        |  CAST(SUM(CASE WHEN frac < rate THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sampled
        |FROM frac f JOIN rates r ON f.lang = r.lang
        |GROUP BY f.lang ORDER BY f.lang""".stripMargin,

    "bpe_apply" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |),
        |pairs AS (
        |  SELECT pair, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |      i -> substr(w, CAST(i AS INT), 2))) AS pair
        |    FROM words WHERE len(w) >= 2
        |  ) GROUP BY 1
        |),
        |top3 AS (
        |  SELECT pair, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rn
        |  FROM pairs QUALIFY rn <= 3
        |),
        |m AS (
        |  SELECT MAX(CASE WHEN rn = 1 THEN pair END) AS m1,
        |    MAX(CASE WHEN rn = 2 THEN pair END) AS m2,
        |    MAX(CASE WHEN rn = 3 THEN pair END) AS m3
        |  FROM top3
        |),
        |enc AS (
        |  SELECT doc_id, w,
        |    replace(
        |      replace(
        |        replace(
        |          array_to_string(string_split_regex(w, ''), ' '),
        |          substr(m1, 1, 1) || ' ' || substr(m1, 2, 1), m1),
        |        substr(m2, 1, 1) || ' ' || substr(m2, 2, 1), m2),
        |      substr(m3, 1, 1) || ' ' || substr(m3, 2, 1), m3) AS enc
        |  FROM words, m
        |)
        |SELECT doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(len(w)) AS BIGINT) AS n_chars,
        |  CAST(SUM(len(string_split(enc, ' '))) AS BIGINT) AS n_tokens
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
