package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 sixth batch: corpus provenance and pipeline self-evaluation.
  *
  *  - dedup_syndication: per-source share of docs whose exact content
  *    also appears under ANOTHER source (syndicated/mirrored content)
  *  - quality_compress_proxy: distinct/total char-4-gram ratio per doc
  *    — the compressibility proxy quality gates threshold on (low
  *    ratio = repetitive/templated text)
  *  - q_blocking_quality: evaluate two dedup blocking schemes
  *    ((lang,source) vs simhash-prefix) on block census AND recall of
  *    the LSH candidate set — the choose-your-blocking audit run
  *    BEFORE committing a 100 TB pair join to one scheme
  *  - q_user_feature_vector: per-user behavioral feature assembly in
  *    one pass (the feature-engineering op a training table feeds on)
  *  - corpus_summary_card: the one-row dataset card (docs, tokens,
  *    languages, dup rate, length moments)
  *
  * Determinism: integer sufficient statistics, mirrored single
  * divisions; block keys and cluster ids are exact hashes.
  */
object Round7fQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-source syndication rate: a doc is syndicated when its exact
    // content hash also appears under a different source. Cluster
    // source-cardinality via one hash-keyed aggregate, joined back on
    // the same hash partitioning.
    "dedup_syndication" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val cl = d.groupBy("h")
        .agg(count_distinct(col("source")).as("ns"))
      d.join(cl, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_syndicated"))
        .withColumn("syndication_rate",
          col("n_syndicated").cast("double") / col("n_docs"))
        .orderBy("source")
    }),

    // Compressibility proxy: distinct char-4-grams / total char-4-grams
    // per doc. Templated or repetitive text reuses its 4-grams and
    // scores low; natural text stays near 1. Zero joins — one explode
    // + per-doc aggregate (the explode is the corpus CPU pass `spread`
    // parallelizes).
    "quality_compress_proxy" -> ((s, dir) => {
      val g = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .filter(length(col("text")) >= 4)
        .select(col("doc_id"),
          explode(expr("transform(sequence(1, length(text) - 3), " +
            "i -> substring(text, i, 4))")).as("g4"))
      g.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count_distinct(col("g4")).as("n_distinct"))
        .withColumn("compress_ratio",
          col("n_distinct").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    }),

    // Blocking-scheme evaluation: scheme A blocks on (lang, source),
    // scheme B on the simhash top byte (256 content-derived blocks).
    // For each: block count, candidate-pair mass Sigma c(c-1)/2 (the
    // join the scheme would run), and recall of the MinHash-LSH
    // candidate set (the pairs a real near-dup pass needs the scheme
    // to keep co-blocked). The census costs two aggregates; recall
    // costs two broadcast joins of the (small) LSH pair list — the
    // whole audit is cheap enough to run BEFORE choosing the 100 TB
    // blocking key.
    "q_blocking_quality" -> ((s, dir) => {
      val docs = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
      val keys = graft.CacheScope.retain(
        PipelineQueries.simhashed(s, dir)
          .withColumn("k_a", concat(col("lang"), lit("|"), col("source")))
          .withColumn("k_b", call_function("shiftright",
            col("simhash"), lit(8)).cast("string"))
          .select("doc_id", "k_a", "k_b"))
      val bands = docs.select(col("doc_id"),
        posexplode(call_function("graft_minhash_bands", col("sh")))
          .as(Seq("band_idx", "band_key")))
      val truth = graft.CacheScope.retain(bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct())
      def audit(key: String, name: String): DataFrame = {
        val census = keys.groupBy(col(key)).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("c") * (col("c") - 1) / 2).cast("long")
              .as("block_pairs"))
        val recall = truth
          .join(keys.select(col("doc_id").as("a_id"),
            col(key).as("ka")), "a_id")
          .join(keys.select(col("doc_id").as("b_id"),
            col(key).as("kb")), "b_id")
          .agg(count(lit(1)).as("truth_pairs"),
            sum(when(col("ka") === col("kb"), 1L).otherwise(0L))
              .as("co_blocked"))
        census.crossJoin(recall).select(lit(name).as("scheme"),
          col("n_blocks"), col("block_pairs"), col("truth_pairs"),
          col("co_blocked"),
          (col("co_blocked").cast("double") / col("truth_pairs"))
            .as("recall"))
      }
      audit("k_a", "lang_source").unionAll(audit("k_b", "simhash_prefix"))
        .orderBy("scheme")
    }),

    // One-pass per-user behavioral feature vector: counts by type,
    // activity span, active days, mean inter-event gap and purchase
    // rate (two mirrored divisions). The feature table an ML training
    // join consumes; everything reduces in a single user-keyed
    // aggregate.
    "q_user_feature_vector" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), to_date(col("ts")).as("day"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n_views"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          count_distinct(col("day")).as("active_days"),
          min("us").as("first_us"), max("us").as("last_us"))
        .withColumn("mean_gap_us",
          when(col("n_events") > 1,
            (col("last_us") - col("first_us")).cast("double") /
              (col("n_events") - 1)).otherwise(lit(0.0)))
        .withColumn("purchase_rate",
          col("n_purchases").cast("double") / col("n_events"))
        .orderBy("user_id")
    }),

    // The one-row dataset card: corpus size, vocabulary-bearing token
    // mass, language/source cardinalities, exact-dup rate, mean doc
    // length. Two aggregates (corpus scan + hash-cluster scan) joined
    // on nothing — a bounded, broadcastable summary.
    "corpus_summary_card" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("tok"))
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"))
      val dups = d.groupBy("h").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("c") - 1).as("n_dup_docs"))
      base.crossJoin(broadcast(dups))
        .withColumn("dup_rate",
          col("n_dup_docs").cast("double") / col("n_docs"))
        .withColumn("mean_doc_tokens",
          col("n_tokens").cast("double") / col("n_docs"))
        .select("n_docs", "n_tokens", "n_chars", "n_langs", "n_sources",
          "n_clusters", "n_dup_docs", "dup_rate", "mean_doc_tokens")
    }),
  )

  val oracle: Map[String, String] = Map(

    "dedup_syndication" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents
        |), cl AS (
        |  SELECT h, COUNT(DISTINCT source) AS ns FROM d GROUP BY 1
        |)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_syndicated,
        |  CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS syndication_rate
        |FROM d JOIN cl USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "quality_compress_proxy" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(text) - 2),
        |      i -> substring(text, i, 4))) AS g4
        |  FROM documents WHERE length(text) >= 4
        |)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(COUNT(DISTINCT g4) AS BIGINT) AS n_distinct,
        |  CAST(COUNT(DISTINCT g4) AS DOUBLE) / COUNT(*)
        |    AS compress_ratio
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_blocking_quality" ->
      s"""${PipelineQueries.bandsCte},
         |${PipelineQueries.simhashCte},
         |truth AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id
         |), keys AS (
         |  SELECT doc_id, lang || '|' || source AS k_a,
         |    CAST(simhash >> 8 AS VARCHAR) AS k_b
         |  FROM sim
         |), audit_a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |    CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS block_pairs
         |  FROM (SELECT k_a, COUNT(*) AS c FROM keys GROUP BY 1)
         |), audit_b AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |    CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS block_pairs
         |  FROM (SELECT k_b, COUNT(*) AS c FROM keys GROUP BY 1)
         |), rec_a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS truth_pairs,
         |    CAST(SUM(CASE WHEN ka.k_a = kb.k_a THEN 1 ELSE 0 END)
         |      AS BIGINT) AS co_blocked
         |  FROM truth t
         |  JOIN keys ka ON ka.doc_id = t.a_id
         |  JOIN keys kb ON kb.doc_id = t.b_id
         |), rec_b AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS truth_pairs,
         |    CAST(SUM(CASE WHEN ka.k_b = kb.k_b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS co_blocked
         |  FROM truth t
         |  JOIN keys ka ON ka.doc_id = t.a_id
         |  JOIN keys kb ON kb.doc_id = t.b_id
         |)
         |SELECT 'lang_source' AS scheme, a.n_blocks, a.block_pairs,
         |  r.truth_pairs, r.co_blocked,
         |  CAST(r.co_blocked AS DOUBLE) / r.truth_pairs AS recall
         |FROM audit_a a, rec_a r
         |UNION ALL
         |SELECT 'simhash_prefix', b.n_blocks, b.block_pairs,
         |  r.truth_pairs, r.co_blocked,
         |  CAST(r.co_blocked AS DOUBLE) / r.truth_pairs
         |FROM audit_b b, rec_b r
         |ORDER BY scheme""".stripMargin,

    "q_user_feature_vector" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |    CAST(ts AS DATE) AS day
        |  FROM events
        |), a AS (
        |  SELECT user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_views,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_clicks,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_purchases,
        |    CAST(COUNT(DISTINCT day) AS BIGINT) AS active_days,
        |    CAST(MIN(us) AS BIGINT) AS first_us,
        |    CAST(MAX(us) AS BIGINT) AS last_us
        |  FROM e GROUP BY 1
        |)
        |SELECT user_id, n_events, n_views, n_clicks, n_purchases,
        |  active_days, first_us, last_us,
        |  CASE WHEN n_events > 1
        |    THEN CAST(last_us - first_us AS DOUBLE) / (n_events - 1)
        |    ELSE 0.0 END AS mean_gap_us,
        |  CAST(n_purchases AS DOUBLE) / n_events AS purchase_rate
        |FROM a ORDER BY user_id""".stripMargin,

    "corpus_summary_card" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, n_chars, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents
        |), base AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM d
        |), dups AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |    CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
        |  FROM (SELECT h, COUNT(*) AS c FROM d GROUP BY 1)
        |)
        |SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
        |  n_clusters, n_dup_docs,
        |  CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_rate,
        |  CAST(n_tokens AS DOUBLE) / n_docs AS mean_doc_tokens
        |FROM base, dups""".stripMargin)
}
