package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 fifth batch: text policy gates — the per-document screening
  * pass a training-data pipeline runs between dedup and sampling:
  * lexicon flag rates, PII-pattern prevalence, and the combined
  * gate-matrix dashboard that says WHICH gate combinations are cutting
  * how much of the corpus.
  *
  * All three are single-scan, integer-count queries: token membership
  * and regex counts aggregate exactly; ratios are division-free where
  * they gate (k*flagged > tokens) and mirrored single divisions where
  * they report.
  *
  *  - q_lexicon_score: per-source flagged-token mass against a
  *    broadcast lexicon (the blocklist-rate report).
  *  - q_pii_prevalence: regex-class counts over the event props payload
  *    (digit-run lengths, structural chars) per event type — the
  *    PII-pattern census that sizes a masking pass (pii_mask is the
  *    masking itself).
  *  - q_policy_gate_matrix: four per-doc gates (length, repetition,
  *    exact-dup, stopword mass) -> 16-cell bitmask histogram.
  */
object Round10eQueries {

  private val Lexicon = Seq("slow", "dup", "big", "fast")
  private def lexSql = Lexicon.map(w => s"'$w'").mkString("[", ", ", "]")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_lexicon_score" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val lex = array(Lexicon.map(lit): _*)
      val perDoc = Tables(s, dir, "documents")
        .select(col("source"),
          size(ws).cast("long").as("n_tokens"),
          size(filter(ws, w => array_contains(lex, w))).cast("long")
            .as("n_flagged"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens"),
          sum(col("n_flagged")).as("flagged"),
          sum(when(col("n_flagged") * 10 > col("n_tokens"), 1L)
            .otherwise(0L)).as("n_docs_over_10pct"))
        .select(col("source"), col("n_docs"), col("tokens"), col("flagged"),
          when(col("tokens") > 0,
            col("flagged").cast("double") / col("tokens").cast("double"))
            .as("flag_rate"),
          col("n_docs_over_10pct"))
        .orderBy("source")
    }),

    "q_pii_prevalence" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"),
          regexp_count(col("props"), lit("[0-9]{3,}")).cast("long")
            .as("long_runs"),
          regexp_count(col("props"), lit("\\b[0-9]{1,2}\\b")).cast("long")
            .as("short_runs"),
          (col("props").isNotNull &&
            col("props").startsWith("{")).cast("long").as("structured"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("long_runs")).as("digit_runs_3plus"),
          sum(col("short_runs")).as("digit_runs_short"),
          sum(col("structured")).as("n_structured"))
        .select(col("event_type"), col("n_events"),
          col("digit_runs_3plus"), col("digit_runs_short"),
          col("n_structured"),
          when(col("n_events") > 0, col("digit_runs_3plus").cast("double")
            / col("n_events").cast("double")).as("long_runs_per_event"))
        .orderBy("event_type")),

    "q_policy_gate_matrix" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val byHash = Window.partitionBy(sha2(col("text"), 256))
      val stop = array(lit("the"), lit("a"))
      val gates = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(ws).cast("long").as("n_tok"),
          size(array_distinct(ws)).cast("long").as("n_uniq"),
          size(filter(ws, w => array_contains(stop, w))).cast("long")
            .as("n_stop"))
        .withColumn("g_first",
          (col("doc_id") === min(col("doc_id")).over(byHash)).cast("int"))
        .select(
          (col("n_tok") >= 10).cast("int").as("g_len"),
          (col("n_uniq") * 2 >= col("n_tok")).cast("int").as("g_rep"),
          col("g_first"),
          (col("n_stop") * 5 <= col("n_tok")).cast("int").as("g_stop"))
      gates
        .groupBy((col("g_len") * 8 + col("g_rep") * 4 + col("g_first") * 2
          + col("g_stop")).as("gate_mask"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("passes_all", (col("gate_mask") === 15).cast("int"))
        .orderBy("gate_mask")
    }))

  val oracle: Map[String, String] = Map(

    "q_lexicon_score" ->
      s"""WITH per_doc AS (
         |  SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      x -> list_contains($lexSql, x))) AS BIGINT) AS n_flagged
         |  FROM documents
         |)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
         |  CAST(SUM(n_flagged) AS BIGINT) AS flagged,
         |  CASE WHEN SUM(n_tokens) > 0 THEN
         |    CAST(SUM(n_flagged) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
         |  END AS flag_rate,
         |  CAST(SUM(CASE WHEN n_flagged * 10 > n_tokens THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_over_10pct
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,

    "q_pii_prevalence" ->
      """WITH per_ev AS (
        |  SELECT event_type,
        |    CAST(len(regexp_extract_all(props, '[0-9]{3,}')) AS BIGINT)
        |      AS long_runs,
        |    CAST(len(regexp_extract_all(props, '\b[0-9]{1,2}\b')) AS BIGINT)
        |      AS short_runs,
        |    CASE WHEN props IS NOT NULL AND props LIKE '{%' THEN 1
        |      ELSE 0 END AS structured
        |  FROM events
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(long_runs) AS BIGINT) AS digit_runs_3plus,
        |  CAST(SUM(short_runs) AS BIGINT) AS digit_runs_short,
        |  CAST(SUM(structured) AS BIGINT) AS n_structured,
        |  CASE WHEN COUNT(*) > 0 THEN
        |    CAST(SUM(long_runs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |  END AS long_runs_per_event
        |FROM per_ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_policy_gate_matrix" ->
      """WITH gates AS (
        |  SELECT
        |    CASE WHEN len(string_split(text, ' ')) >= 10 THEN 1 ELSE 0 END
        |      AS g_len,
        |    CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
        |      >= len(string_split(text, ' ')) THEN 1 ELSE 0 END AS g_rep,
        |    CASE WHEN doc_id = MIN(doc_id) OVER
        |      (PARTITION BY sha256(text)) THEN 1 ELSE 0 END AS g_first,
        |    CASE WHEN len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the', 'a'], x))) * 5
        |      <= len(string_split(text, ' ')) THEN 1 ELSE 0 END AS g_stop
        |  FROM documents
        |)
        |SELECT g_len * 8 + g_rep * 4 + g_first * 2 + g_stop AS gate_mask,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CASE WHEN g_len * 8 + g_rep * 4 + g_first * 2 + g_stop = 15
        |    THEN 1 ELSE 0 END AS passes_all
        |FROM gates GROUP BY g_len, g_rep, g_first, g_stop
        |ORDER BY gate_mask""".stripMargin)
}
