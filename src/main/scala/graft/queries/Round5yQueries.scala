package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words
import graft.Tables

/** Round-5y batch: corpus statistics — the lexical health metrics a
  * training-data pipeline tracks per ingest batch.
  *
  *  - q_hapax_ratio: per-source token/type/hapax counts, hapax share
  *    and type-token ratio (vocabulary richness)
  *  - q_ttr_segments: mean segmental TTR over fixed 50-token segments
  *    (the length-debiased richness metric; plain TTR decays with doc
  *    length so cross-source comparison needs fixed windows)
  *  - q_term_burstiness: variance-to-mean ratio of per-doc counts for
  *    the highest-df terms — bursty topical terms vs uniform function
  *    words (Church & Gale burstiness, from integer sufficient stats)
  *  - q_sequence_gaps: top-20 largest gaps in the order-key space via
  *    the BUCKETED decomposition (in-bucket lead windows + a bounded
  *    bucket-summary window), oracle = the naive global-window form —
  *    proving the scale-safe plan computes the same gaps
  *  - q_zipf_check: rank×frequency table for the top-50 words (Zipf's
  *    product stays integer — no log-log fit needed to eyeball the law)
  *
  * Cross-row arithmetic is integer everywhere; doubles only in final
  * mirrored per-row trees.
  */
object Round5yQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Vocabulary richness per source. Two combine aggregates: (source,
    // word) counts — the heavy one, partitioned on a high-cardinality
    // compound key — then a per-source rollup of exact longs.
    "q_hapax_ratio" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"), explode(words(col("text"))).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          (col("n_hapax").cast("double") / col("n_types"))
            .as("hapax_share"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"))
        .orderBy("source")
    }),

    // Mean segmental TTR (MSTTR-50) per language: each doc splits into
    // floor(n/50) full 50-token segments, distinct-type counts per
    // segment SUM AS INTEGERS within the doc (an aggregate fold over
    // the segment index sequence — zero shuffle, zero explode), so the
    // per-language metric is one exact Σtypes / Σ(50·segments)
    // division. The trailing partial segment is excluded by
    // construction — that is what makes MSTTR length-unbiased.
    "q_ttr_segments" -> ((s, dir) => {
      val k = call_function("div", size(col("ws")).cast("long"), lit(50L))
      val typesSum = when(col("k") > 0L,
        aggregate(sequence(lit(0L), col("k") - 1L), lit(0L),
          (acc, i) => acc +
            size(array_distinct(slice(col("ws"),
              (i * 50L + 1L).cast("int"), lit(50)))).cast("long")))
        .otherwise(0L)
      Tables(s, dir, "documents")
        .select(col("lang"), words(col("text")).as("ws"))
        .withColumn("k", k)
        .select(col("lang"), col("k"), typesSum.as("types_sum"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("k")).as("n_segments"),
          sum(col("types_sum")).as("sum_types"))
        .select(col("lang"), col("n_docs"), col("n_segments"),
          col("sum_types"),
          when(col("n_segments") > 0L,
            col("sum_types").cast("double") / (col("n_segments") * 50L))
            .as("msttr"))
        .orderBy("lang")
    }),

    // Burstiness of the 20 highest-df terms: variance-to-mean ratio of
    // per-doc counts WITH zeros (docs not containing the term), from
    // integer sufficient statistics only — N, Σx, Σx² — so the VMR
    // tree is one mirrored IEEE expression per term. VMR ≈ 1 means
    // Poisson scatter (function words); VMR >> 1 means topical
    // clumping. Ordered by (df DESC, word) — a total order.
    "q_term_burstiness" -> ((s, dir) => {
      val perDoc = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      val nDocs = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val stats = perDoc.groupBy("word")
        .agg(count(lit(1)).as("df"),
          sum(col("cnt")).as("s1"),
          sum(col("cnt") * col("cnt")).as("s2"))
        .orderBy(col("df").desc, col("word")).limit(20)
      val m = col("s1").cast("double") / col("n_docs")
      stats.crossJoin(broadcast(nDocs))
        .select(col("word"), col("df"), col("s1"), col("s2"),
          m.as("mean_count"),
          ((col("s2").cast("double") / col("n_docs") - m * m) / m)
            .as("vmr"))
        .orderBy(col("df").desc, col("word"))
    }),

    // Largest gaps in the order-key space, found WITHOUT a global
    // window: keys bucket by div 4096, in-bucket gaps come from a
    // lead window PARTITIONED on the bucket id, and gaps that cross
    // bucket boundaries (including runs of wholly-empty buckets) come
    // from a lead over the per-bucket (min, max) summary — a table
    // bounded by keyspace/4096, the only unpartitioned window. The
    // DuckDB oracle is the naive global-window form, so correctness of
    // the decomposition is checked cross-engine. Missing-id detection
    // over a 100 TB ingest is exactly this shape. The id space under
    // audit is the FILLED orders (o_orderstatus = 'F') — the synthetic
    // o_orderkey column itself is dense, so the subset is what gives
    // the detector real gaps to find.
    "q_sequence_gaps" -> ((s, dir) => {
      val keys = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"),
          call_function("div", col("o_orderkey"), lit(4096L)).as("b"))
      val wIn = Window.partitionBy("b").orderBy("k")
      val internal = keys
        .withColumn("nk", lead(col("k"), 1).over(wIn))
        .filter(col("nk") - col("k") > 1L)
        .select((col("k") + 1L).as("gap_start"),
          (col("nk") - col("k") - 1L).as("gap_len"))
      val summary = keys.groupBy("b")
        .agg(min("k").as("mn"), max("k").as("mx"))
      val boundary = summary
        .withColumn("next_mn", lead(col("mn"), 1).over(Window.orderBy("b")))
        .filter(col("next_mn") - col("mx") > 1L)
        .select((col("mx") + 1L).as("gap_start"),
          (col("next_mn") - col("mx") - 1L).as("gap_len"))
      internal.unionAll(boundary)
        .orderBy(col("gap_len").desc, col("gap_start"))
        .limit(20)
    }),

    // Zipf's law check data: top-50 words with popularity rank,
    // frequency, and the rank×frequency product (constant-ish under
    // Zipf — and exactly integer, so no log-log regression enters the
    // oracle), plus the cumulative corpus share of the top ranks.
    "q_zipf_check" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val total = counts.agg(sum(col("freq")).as("n_total"))
      val top = counts.orderBy(col("freq").desc, col("word")).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("word")))
            .cast("long"))
      top.withColumn("cum_freq",
          sum(col("freq")).over(Window.orderBy("rank")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("word"), col("freq"),
          (col("rank") * col("freq")).as("rank_freq"),
          col("cum_freq"),
          (col("cum_freq").cast("double") / col("n_total"))
            .as("cum_share"))
        .orderBy("rank")
    }))

  val oracle: Map[String, String] = Map(

    "q_hapax_ratio" ->
      """WITH wc AS (
        |  SELECT source, word, COUNT(*) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY 1, 2
        |), a AS (
        |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM wc GROUP BY 1
        |)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  CAST(n_hapax AS DOUBLE) / n_types AS hapax_share,
        |  CAST(n_types AS DOUBLE) / n_tokens AS ttr
        |FROM a ORDER BY source""".stripMargin,

    "q_ttr_segments" ->
      """WITH d AS (
        |  SELECT lang, string_split(text, ' ') AS ws FROM documents
        |), seg AS (
        |  SELECT lang, CAST(len(ws) // 50 AS BIGINT) AS k,
        |    CASE WHEN len(ws) // 50 > 0 THEN
        |      list_reduce([CAST(0 AS BIGINT)] ||
        |        list_transform(range(len(ws) // 50),
        |          i -> CAST(len(list_distinct(
        |            ws[i * 50 + 1 : i * 50 + 50])) AS BIGINT)),
        |        (a, b) -> a + b)
        |    ELSE 0 END AS types_sum
        |  FROM d
        |), a AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(k) AS BIGINT) AS n_segments,
        |    CAST(SUM(types_sum) AS BIGINT) AS sum_types
        |  FROM seg GROUP BY 1
        |)
        |SELECT lang, n_docs, n_segments, sum_types,
        |  CASE WHEN n_segments > 0
        |    THEN CAST(sum_types AS DOUBLE) / (n_segments * 50) END
        |    AS msttr
        |FROM a ORDER BY lang""".stripMargin,

    "q_term_burstiness" ->
      """WITH pd AS (
        |  SELECT doc_id, word, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY 1, 2
        |), st AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(cnt) AS BIGINT) AS s1,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS s2
        |  FROM pd GROUP BY 1
        |  ORDER BY df DESC, word LIMIT 20
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT word, df, s1, s2,
        |  CAST(s1 AS DOUBLE) / n_docs AS mean_count,
        |  (CAST(s2 AS DOUBLE) / n_docs
        |    - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs))
        |    / (CAST(s1 AS DOUBLE) / n_docs) AS vmr
        |FROM st, n ORDER BY df DESC, word""".stripMargin,

    "q_sequence_gaps" ->
      """WITH g AS (
        |  SELECT o_orderkey AS k,
        |    LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS nk
        |  FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT k + 1 AS gap_start, nk - k - 1 AS gap_len
        |FROM g WHERE nk - k > 1
        |ORDER BY gap_len DESC, gap_start LIMIT 20""".stripMargin,

    "q_zipf_check" ->
      """WITH c AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY 1
        |), top AS (
        |  SELECT word, freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS BIGINT)
        |      AS rank
        |  FROM c ORDER BY freq DESC, word LIMIT 50
        |), cum AS (
        |  SELECT *, CAST(SUM(freq) OVER (ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_freq
        |  FROM top
        |), tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_total FROM c)
        |SELECT rank, word, freq, rank * freq AS rank_freq, cum_freq,
        |  CAST(cum_freq AS DOUBLE) / n_total AS cum_share
        |FROM cum, tot ORDER BY rank""".stripMargin)
}
