package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch q: inverted-index PLANNING over the document corpus —
  * the posting-list geometry, delta-encoding budget, and skip-pointer
  * layout a search/retrieval shard computes before it writes an index.
  * (The retrieval SCORING side — tf-idf, BM25 — landed in earlier
  * rounds; this batch is the storage planner that sits under it.)
  *
  * All figures are integers or exact rationals of integers: gap bit
  * widths via length(bin(gap)) (the DetMath exponent idiom), mean gaps
  * as (last − first)/(df − 1), skip intervals as floor(sqrt(df)) (IEEE
  * sqrt of an exact integer, correctly rounded on both engines).
  *
  * Scale posture: postings are DISTINCT (term, doc) pairs — one
  * explode + distinct, shuffled on the term key exactly like the real
  * index build; the per-term lag window runs inside the term
  * partition, which is the physical layout of a posting list (real
  * shards additionally split giant terms into blocks; the vocabulary
  * here is bounded, documented). Outputs are vocabulary-sized.
  *
  *  - q_posting_gaps: per-term posting-list geometry (df, id span,
  *    exact mean gap).
  *  - q_index_bits_plan: Elias-gamma delta-encoding budget per term
  *    (2·floor(log2 gap)+1 bits summed) vs fixed 32-bit postings.
  *  - q_skip_pointer_plan: classic √df skip layout + worst-case scan
  *    cost (skips + one interval).
  */
object Round10qQueries {

  /** Distinct (term, doc_id) postings. */
  private def postings(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .distinct()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_posting_gaps" -> ((s, dir) => {
      postings(s, dir)
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .withColumn("mean_gap",
          expr("try_divide(last_id - first_id, df - 1)"))
        .select("term", "df", "first_id", "last_id", "mean_gap")
        .orderBy("term")
    }),

    "q_index_bits_plan" -> ((s, dir) => {
      val w = Window.partitionBy("term").orderBy("doc_id")
      val gaps = postings(s, dir)
        .withColumn("prev", lag(col("doc_id"), 1).over(w))
        // first posting stores the raw id (32-bit slot); deltas store
        // Elias-gamma(gap) = 2*floor(log2 gap) + 1 bits; gap >= 1
        .withColumn("gap", col("doc_id") - col("prev"))
        .withColumn("bits", when(col("prev").isNull, lit(32L))
          .otherwise(lit(2L) * (length(bin(col("gap"))) - 1) + 1))
      gaps.groupBy("term")
        .agg(count(lit(1)).as("df"),
          sum(col("bits")).as("bits_delta"),
          (count(lit(1)) * 32L).as("bits_fixed"))
        .withColumn("compression",
          expr("try_divide(bits_fixed, bits_delta)"))
        .select("term", "df", "bits_delta", "bits_fixed", "compression")
        .orderBy("term")
    }),

    "q_skip_pointer_plan" -> ((s, dir) => {
      postings(s, dir)
        .groupBy("term")
        .agg(count(lit(1)).as("df"))
        .withColumn("skip_len", floor(sqrt(col("df").cast("double")))
          .cast("long"))
        .withColumn("n_skips", expr("df div skip_len"))
        .withColumn("worst_scan", col("n_skips") + col("skip_len"))
        .select("term", "df", "skip_len", "n_skips", "worst_scan")
        .orderBy("term")
    }))

  private val postingsSql =
    """postings AS (
      |  SELECT DISTINCT doc_id, w AS term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents
      |  ) WHERE w <> ''
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_posting_gaps" ->
      s"""WITH $postingsSql
         |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
         |  (MAX(doc_id) - MIN(doc_id)) / NULLIF(COUNT(*) - 1, 0)
         |    AS mean_gap
         |FROM postings GROUP BY term ORDER BY term""".stripMargin,

    "q_index_bits_plan" ->
      s"""WITH $postingsSql, gaps AS (
         |  SELECT term, doc_id,
         |    doc_id - lag(doc_id) OVER (PARTITION BY term
         |      ORDER BY doc_id) AS gap
         |  FROM postings
         |), bits AS (
         |  SELECT term,
         |    CASE WHEN gap IS NULL THEN 32
         |      ELSE 2 * (LENGTH(BIN(gap)) - 1) + 1 END AS b
         |  FROM gaps
         |)
         |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |  CAST(SUM(b) AS BIGINT) AS bits_delta,
         |  CAST(COUNT(*) * 32 AS BIGINT) AS bits_fixed,
         |  (COUNT(*) * 32) / NULLIF(SUM(b), 0) AS compression
         |FROM bits GROUP BY term ORDER BY term""".stripMargin,

    "q_skip_pointer_plan" ->
      s"""WITH $postingsSql, df AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM postings GROUP BY term
         |)
         |SELECT term, df,
         |  CAST(floor(sqrt(CAST(df AS DOUBLE))) AS BIGINT) AS skip_len,
         |  df // CAST(floor(sqrt(CAST(df AS DOUBLE))) AS BIGINT)
         |    AS n_skips,
         |  df // CAST(floor(sqrt(CAST(df AS DOUBLE))) AS BIGINT)
         |    + CAST(floor(sqrt(CAST(df AS DOUBLE))) AS BIGINT)
         |    AS worst_scan
         |FROM df ORDER BY term""".stripMargin)
}
