package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 batch: training-pipeline planning + behavioral mining
  * operators that round out the curriculum/sharding/diagnostic surface.
  *
  *  - curriculum_phase: per-language curriculum quartiles (shortest->
  *    longest docs) without a lang-partitioned window — the phase
  *    assignment a length-curriculum training run feeds from
  *  - q_token_mass_coverage: how much of the corpus token mass the
  *    top-10/100/1000 terms cover (the vocab-truncation planning curve;
  *    1 - coverage is the OOV rate of a k-term vocabulary)
  *  - dedup_lsh_cost_audit: per-band bucket census of the MinHash/LSH
  *    banding — candidate-pair mass Sigma c(c-1)/2 per band BEFORE
  *    running the pair join (the join-size prediction that decides
  *    whether banding parameters survive the corpus)
  *  - q_session_paths: top-10 session event-type paths (gap
  *    sessionization -> ordered path string -> frequency)
  *  - multimodal_shard_manifest: balanced output-shard manifest for
  *    binary payloads via size-rank round-robin (greedy bin packing's
  *    deterministic cousin: sort by size desc, deal rank mod n)
  *  - q_dormant_reactivated: weekly count of users returning from a
  *    >= 2-day dormancy (the re-engagement metric)
  *
  * Determinism: integer sufficient statistics everywhere; every double
  * is one mirrored division of exact BIGINTs. Rank-dependent outputs
  * ride GlobalRank (exact for any bucket boundary vector).
  */
object Round7Queries {

  private def bandKeys(sh: Column): Column =
    call_function("graft_minhash_bands", sh)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-language curriculum quartile by document length: phase 1 =
    // shortest quarter, phase 4 = longest. The rank comes from
    // GlobalRank.withGroupRank, NOT Window.partitionBy(lang) — a
    // 5-value partition column is one task per language sorting the
    // whole language at 100x (the skew class the r5 window queries
    // died of). phase = floor((rank-1)*4/n)+1 is written out in both
    // engines instead of NTILE so no engine-specific remainder
    // distribution can diverge.
    "curriculum_phase" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val ranked = graft.operators.GlobalRank.withGroupRank(
        docs, Seq("lang"), col("n_chars"), col("doc_id"), "rnk")
      val sizes = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      ranked.join(broadcast(sizes), "lang")
        .withColumn("phase",
          (floor(((col("rnk") - 1) * 4).cast("double") / col("n_lang")) + 1)
            .cast("int"))
        .groupBy("lang", "phase")
        .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars_total"))
        .orderBy("lang", "phase")
    }),

    // Token-mass coverage of the top-k terms, k in {10, 100, 1000}:
    // term counts (one explode + combine agg), exact global rank by
    // (count desc, term), then a single conditional aggregate — no
    // cumulative window over the full vocabulary. 1 - share_k is the
    // OOV occurrence rate of a k-term vocab, which is what tokenizer
    // truncation planning actually needs.
    "q_token_mass_coverage" -> ((s, dir) => {
      val tc = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
      val ranked = graft.operators.GlobalRank.withRank(
        tc, -col("c"), col("term"), "rnk")
      def mass(k: Int): Column =
        sum(when(col("rnk") <= k, col("c"))).as(s"mass_$k")
      val agg = ranked.agg(
        sum("c").as("total"), mass(10), mass(100), mass(1000))
      agg.select(col("total"),
        col("mass_10"),
        (col("mass_10").cast("double") / col("total")).as("share_10"),
        col("mass_100"),
        (col("mass_100").cast("double") / col("total")).as("share_100"),
        col("mass_1000"),
        (col("mass_1000").cast("double") / col("total")).as("share_1000"))
    }),

    // LSH banding cost audit: per band, the bucket census that PREDICTS
    // the candidate-pair join size — Sigma c(c-1)/2 over bucket sizes c
    // (exactly the pairs dedup_minhash_pairs will enumerate), plus max
    // bucket and singleton share. This is the guardrail a 100 TB run
    // checks BEFORE launching the pair join: a skewed band (one giant
    // bucket) shows up here as cand_pairs exploding, at census cost
    // (two combine aggregates), not at join cost.
    "dedup_lsh_cost_audit" -> ((s, dir) => {
      val buckets = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
        .select(posexplode(bandKeys(col("sh"))).as(Seq("band_idx", "band_key")))
        .groupBy("band_idx", "band_key").agg(count(lit(1)).as("c"))
      buckets.groupBy("band_idx").agg(
        count(lit(1)).as("n_buckets"),
        max("c").as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("cand_pairs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("singletons"))
        .orderBy("band_idx")
    }),

    // Top-10 session event-type paths: 30-min-gap sessionization (the
    // q_session_gap idiom), each session reduced to its ordered
    // "a->b->c" path, paths counted. The per-session collect is bounded
    // by session length (gap-capped), and the path group-by key is
    // high-cardinality — both scale; the top-10 is
    // TakeOrderedAndProject, not a global sort.
    "q_session_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000 * 1000
      Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byTime))
        .withColumn("is_new",
          (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
            .cast("int"))
        .withColumn("session_id", sum(col("is_new")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(array_sort(collect_list(
          struct(col("us").as("u"), col("event_id").as("e"),
            col("event_type").as("t")))).as("evs"))
        .select(array_join(
          transform(col("evs"), e => e.getField("t")), "->").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    }),

    // Balanced output-shard manifest for opaque binary payloads:
    // size-rank round-robin — rank docs by payload bytes desc (exact,
    // via GlobalRank), shard = (rank-1) mod 16. Deterministic, one
    // pass, and within max/min payload of perfectly balanced (the
    // biggest 16 payloads land on 16 different shards, and so on down
    // the ranking) — the shard plan a multimodal export job feeds to
    // its writers. skew_x16 = 16*bytes/corpus reads 1.0 = perfect.
    "multimodal_shard_manifest" -> ((s, dir) => {
      val sized = Tables(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
      val ranked = graft.operators.GlobalRank.withRank(
        sized, -col("n_bytes"), col("doc_id"), "rnk")
      val total = broadcast(
        sized.agg(sum(col("n_bytes").cast("long")).as("corpus_bytes")))
      ranked.withColumn("shard", ((col("rnk") - 1) % 16).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bytes").cast("long")).as("bytes_total"),
          max("n_bytes").as("bytes_max"))
        .crossJoin(total)
        .withColumn("skew_x16",
          (col("bytes_total") * 16).cast("double") / col("corpus_bytes"))
        .select("shard", "n_docs", "bytes_total", "bytes_max", "skew_x16")
        .orderBy("shard")
    }),

    // Weekly re-engagement: events whose same-user predecessor is
    // >= 2 days older mark a reactivation; count reactivations and
    // distinct reactivated users per ISO week. (The synthetic stream
    // spans one month at hourly per-user cadence — a 14-day bar and a
    // monthly grain would both collapse to a single vacuous row; 2
    // days / weekly is its dormancy analogue.) user_id is the window
    // partition key — high-cardinality, scales.
    "q_dormant_reactivated" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val dormantUs = 2L * 24 * 3600 * 1000 * 1000
      Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byTime))
        .filter(col("prev_us").isNotNull &&
          col("us") - col("prev_us") >= dormantUs)
        .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(count(lit(1)).as("n_reactivations"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("week")
    }),
  )

  val oracle: Map[String, String] = Map(

    "curriculum_phase" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rnk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM documents
        |)
        |SELECT lang,
        |  CAST(FLOOR(CAST((rnk - 1) * 4 AS DOUBLE) / n_lang) + 1 AS INT)
        |    AS phase,
        |  CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_token_mass_coverage" ->
      """WITH tc AS (
        |  SELECT u.term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS u(term)
        |  GROUP BY 1
        |), r AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk
        |  FROM tc
        |), a AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN rnk <= 10 THEN c END) AS BIGINT) AS mass_10,
        |    CAST(SUM(CASE WHEN rnk <= 100 THEN c END) AS BIGINT) AS mass_100,
        |    CAST(SUM(CASE WHEN rnk <= 1000 THEN c END) AS BIGINT) AS mass_1000
        |  FROM r
        |)
        |SELECT total, mass_10,
        |  CAST(mass_10 AS DOUBLE) / total AS share_10,
        |  mass_100,
        |  CAST(mass_100 AS DOUBLE) / total AS share_100,
        |  mass_1000,
        |  CAST(mass_1000 AS DOUBLE) / total AS share_1000
        |FROM a""".stripMargin,

    "dedup_lsh_cost_audit" ->
      s"""${PipelineQueries.bandsCte},
         |buckets AS (
         |  SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM bands GROUP BY 1, 2
         |)
         |SELECT band_idx,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(MAX(c) AS BIGINT) AS max_bucket,
         |  CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS cand_pairs,
         |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS singletons
         |FROM buckets GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev_us IS NULL
        |         OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0
        |    END AS is_new
        |  FROM g
        |), sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM flagged
        |), paths AS (
        |  SELECT string_agg(event_type, '->' ORDER BY ts, event_id)
        |    AS path
        |  FROM sessions GROUP BY user_id, session_id
        |)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,

    "multimodal_shard_manifest" ->
      """WITH sized AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS INT)
        |    AS n_bytes
        |  FROM documents
        |), ranked AS (
        |  SELECT n_bytes,
        |    ROW_NUMBER() OVER (ORDER BY n_bytes DESC, doc_id) AS rnk
        |  FROM sized
        |), tot AS (
        |  SELECT CAST(SUM(n_bytes) AS BIGINT) AS corpus_bytes FROM sized
        |)
        |SELECT CAST((rnk - 1) % 16 AS INT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
        |  CAST(MAX(n_bytes) AS INT) AS bytes_max,
        |  CAST(CAST(SUM(n_bytes) AS BIGINT) * 16 AS DOUBLE) / corpus_bytes
        |    AS skew_x16
        |FROM ranked, tot GROUP BY 1, corpus_bytes ORDER BY 1""".stripMargin,

    "q_dormant_reactivated" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |)
        |SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  CAST(COUNT(*) AS BIGINT) AS n_reactivations,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM g
        |WHERE prev_us IS NOT NULL
        |  AND epoch_us(ts) - prev_us >= 172800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
