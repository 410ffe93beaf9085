package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5Head, md5HeadSql}

/** Round-5b batch: corpus-assembly operators — the steps between "docs
  * are scored and deduped" and "tokens reach the trainer": sequence
  * packing into fixed context windows, rarity-based quality scoring,
  * canonical-doc selection per duplicate cluster, and deterministic
  * bounded per-group sampling.
  *
  * Determinism rules (see Round5Queries): no libm transcendentals, no
  * aggregation-order-dependent double sums — every double fold runs
  * over a sorted list in written order, mirrored exactly in the DuckDB
  * oracle; routing decisions are md5-based, never RNG-state-based.
  */
object Round5bQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sequence packing, concat-then-chunk style (the GPT-line
    // pretraining layout): docs are concatenated in doc_id order within
    // an md5-routed shard and the token stream is chunked at a 512-token
    // context budget; each doc reports the first/last window it lands in
    // and how many it spans. All integer arithmetic (running sums +
    // integral division) — bitwise-oracled. At 100 TB the shard count is
    // the parallelism knob: each shard's running sum is an independent
    // partitioned window, and no shuffle carries more than (doc, tok).
    "seq_pack_plan" -> ((s, dir) => {
      val budget = 512L
      val docs = Tables(s, dir, "documents")
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("shard", pmod(md5Head(
          concat(lit("pack"), col("doc_id").cast("string"))), lit(8)))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs
        .withColumn("cum_before", coalesce(sum(col("tok")).over(w), lit(0L)))
        .withColumn("pack_first",
          call_function("div", col("cum_before"), lit(budget)))
        .withColumn("pack_last",
          call_function("div", col("cum_before") + col("tok") - 1,
            lit(budget)))
        .select(col("doc_id"), col("shard"), col("tok"),
          col("pack_first"), col("pack_last"),
          (col("pack_last") - col("pack_first") + 1).as("spans"))
        .orderBy("doc_id")
    }),

    // Rarity-weighted quality proxy: mean inverse document frequency of
    // a doc's tokens — the no-model stand-in for "perplexity-ish
    // surprisal" (rare-vocabulary docs score high, boilerplate scores
    // low). The per-doc double sum folds over the token-SORTED (term,
    // df) list so the summation order is written down, not
    // scheduler-dependent; df and n_docs are exact integers. At scale:
    // one explode + vocab-partitioned join + per-doc bounded collect.
    "q_idf_surprisal" -> ((s, dir) => {
      val docs = PipelineQueries.spread(s, Tables(s, dir, "documents"))
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val df = toks.distinct().groupBy("term")
        .agg(count(lit(1)).as("df"))
      val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      toks.join(df, "term")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          array_sort(collect_list(struct(col("term"), col("df"))))
            .as("tl"))
        .crossJoin(nDocs)
        .select(col("doc_id"), col("n_tokens"),
          (aggregate(col("tl"), lit(0.0), (acc, x) =>
            acc + col("n_docs").cast("double") / x.getField("df")) /
            col("n_tokens")).as("surprisal"))
        .orderBy("doc_id")
    }),

    // Canonical-doc selection: exact-duplicate clusters keyed by the
    // content fingerprint keep ONE representative — the longest text,
    // then the smallest doc_id (what a dedup pass actually emits:
    // keep-best, not keep-arbitrary). Both windows share one
    // fingerprint-partitioned exchange; the fingerprint is
    // high-cardinality so the partitioning scales with the corpus.
    "dedup_keep_best" -> ((s, dir) => {
      val fp = md5(lower(col("text")))
      val w = Window.partitionBy("fp")
      val docs = Tables(s, dir, "documents")
        .withColumn("fp", fp)
        .withColumn("n_dups", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
      docs.filter(col("rn") === 1)
        .select("doc_id", "fp", "n_dups")
        .orderBy("doc_id")
    }),

    // Deterministic k-per-group sample (the audit/eval-split primitive):
    // the 5 docs with the smallest md5 coin per (lang, source), via the
    // bounded TopKAggregator — partial aggregation caps the shuffle at
    // k rows/group/partition, vs a window sort moving every row of
    // every group. rk is the within-group rank (buffer is kept sorted
    // by (coin ASC, doc_id ASC)).
    "sample_reservoir" -> ((s, dir) => {
      val bottom5 = udaf(new graft.functions.TopKAggregator(5))
      Tables(s, dir, "documents")
        .withColumn("h",
          md5Head(concat(lit("rsv"), col("doc_id").cast("string"))))
        .groupBy("lang", "source")
        .agg(bottom5(-col("h").cast("double"), col("doc_id")).as("p"))
        .select(col("lang"), col("source"),
          posexplode(transform(col("p"), e => e.getField("id"))))
        .select(col("lang"), col("source"),
          (col("pos") + 1).as("rk"), col("col").as("doc_id"))
        .orderBy("lang", "source", "rk")
    }),
  )

  val oracle: Map[String, String] = Map(

    "seq_pack_plan" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    ${md5HeadSql("'pack' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, shard, tok,
         |    -- DuckDB SUM(BIGINT) widens to HUGEINT; narrow it back so
         |    -- the // results stay int64 like Spark's
         |    CAST(COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS cum_before
         |  FROM d
         |)
         |SELECT doc_id, shard, tok,
         |  cum_before // 512 AS pack_first,
         |  (cum_before + tok - 1) // 512 AS pack_last,
         |  (cum_before + tok - 1) // 512 - cum_before // 512 + 1 AS spans
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_idf_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |),
        |df AS (
        |  SELECT term, COUNT(*) AS df FROM (
        |    SELECT DISTINCT doc_id, term FROM toks
        |  ) GROUP BY 1
        |),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    list_sort(list(struct_pack(term := t.term, df := df.df)))
        |      AS tl
        |  FROM toks t JOIN df ON t.term = df.term
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens,
        |  list_reduce([CAST(0 AS DOUBLE)] || list_transform(tl,
        |    x -> CAST(n_docs AS DOUBLE) / x.df),
        |    (acc, v) -> acc + v) / n_tokens AS surprisal
        |FROM per, n ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" ->
      """SELECT doc_id, md5(lower(text)) AS fp,
        |  CAST(COUNT(*) OVER (PARTITION BY md5(lower(text))) AS BIGINT)
        |    AS n_dups
        |FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(lower(text))
        |  ORDER BY n_chars DESC, doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "sample_reservoir" ->
      s"""WITH h AS (
         |  SELECT lang, source, doc_id,
         |    ${md5HeadSql("'rsv' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |)
         |SELECT lang, source,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
         |    ORDER BY h, doc_id) AS INT) AS rk,
         |  doc_id
         |FROM h
         |QUALIFY rk <= 5
         |ORDER BY lang, source, rk""".stripMargin,
  )
}
