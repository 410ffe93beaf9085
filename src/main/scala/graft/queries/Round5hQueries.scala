package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5h batch: changelog compaction (the minimal-delta emit a
  * ClickHouse-style sink would love to receive), an event-time disorder
  * audit (the measurement behind choosing a watermark), n-gram novelty
  * scoring (corpus-order originality — a quality/diversity signal),
  * a two-phase Pareto skyline, and a split-bias audit over the
  * deterministic md5 train/val/test routing.
  *
  * Determinism rules (see Round5Queries): integer microseconds and
  * counts; every double surfaced is a single division mirrored
  * literally in the oracle.
  */
object Round5hQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Changelog compaction — the net per-key delta of the window, the
    // emit that turns N ops/key into at most one row downstream (what
    // the reference's ClickHouse tables do lazily at merge time,
    // computed eagerly): key appeared and vanished → NONE; first op I →
    // net I; pre-existing key ending in D → net D; otherwise net +U.
    // last_val is the value of the last state-bearing (I/+U) op,
    // picked by a max-over-struct (event_id is the version — unique, so
    // deterministic); the whole query is one map-side-combinable
    // aggregate per key, no window sort.
    "q_changelog_compact" -> ((s, dir) =>
      graft.operators.ChangelogOps.withDerivedOp(Tables(s, dir, "events"))
        .groupBy("user_id")
        .agg(
          min_by(col("op"), col("event_id")).as("first_op"),
          max_by(col("op"), col("event_id")).as("last_op"),
          max(when(col("op").isin("I", "+U"),
            struct(col("event_id"), col("value")))).as("lastst"),
          count(lit(1)).as("n_ops"))
        .withColumn("net_op",
          when(col("first_op") === "I" && col("last_op") === "D", "NONE")
            .when(col("first_op") === "I", "I")
            .when(col("last_op") === "D", "D")
            .otherwise("+U"))
        .select(col("user_id"), col("first_op"), col("last_op"),
          col("net_op"), col("lastst.value").as("last_val"), col("n_ops"))
        .orderBy("user_id")),

    // Event-time disorder audit — the measurement that justifies a
    // watermark: per user (arrival order = event_id), how far behind
    // the running event-time high-water mark does each event arrive,
    // and how many would a 10-minute watermark drop? All windows
    // partition on user_id — nothing sorts globally — and the output
    // aggregates to one row per event type. Integer microseconds.
    "q_disorder_audit" -> ((s, dir) => {
      val arrival = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("hwm", max(col("us")).over(
          arrival.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("disorder_us",
          greatest(coalesce(col("hwm") - col("us"), lit(0L)), lit(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("disorder_us") > 0, 1L).otherwise(0L))
            .as("n_disordered"),
          sum(when(col("disorder_us") > 600L * 1000 * 1000, 1L)
            .otherwise(0L)).as("n_late_10min"),
          max("disorder_us").as("max_disorder_us"))
        .orderBy("event_type")
    }),

    // N-gram novelty — per-doc originality in corpus order: the share
    // of a doc's distinct word-3-grams whose FIRST corpus occurrence
    // (min doc_id) is this doc. Low novelty = boilerplate/near-dup
    // tail; the signal a diversity-weighted sampler consumes. Gram
    // explode + min-combine + join back on the gram key — the gram
    // partitioning carries both sides; only docs with ≥1 gram appear
    // (mirrored by the oracle).
    "q_ngram_novelty" -> ((s, dir) => {
      val grams = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("graft_shingles", col("text"))).as("g"))
      val firsts = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    }),

    // Pareto skyline of parts on (price min, size max) — two-phase so
    // no all-pairs dominance join ever runs: reduce to one max-size per
    // distinct price (combine shuffle), prefix-max over the price-sorted
    // group list, then join the per-price verdicts back. A part is
    // dominated iff a strictly cheaper price reached ≥ its size, or its
    // own price group holds a strictly larger size. The ordered window
    // runs over DISTINCT PRICES (domain-bounded, not row-bounded); at
    // 100× the same prefix-max distributes via range-bucketed offsets
    // (GlobalRank's construction). Pure comparisons — no FP arithmetic.
    "q_skyline" -> ((s, dir) => {
      val parts = Tables(s, dir, "part")
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
      val perPrice = parts.groupBy("p_retailprice")
        .agg(max("p_size").as("gmax"))
        .withColumn("prefix_max",
          max(col("gmax")).over(Window.orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, -1)))
      parts.join(perPrice, "p_retailprice")
        .filter((col("prefix_max").isNull ||
            col("prefix_max") < col("p_size")) &&
          col("gmax") <= col("p_size"))
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    }),

    // Split-bias audit — does the deterministic md5 train/val/test
    // routing (sample_split's exact rule) stay language-neutral? Per
    // (split, lang): observed count, the integer-exact deviation
    // n_cell·total − n_split·n_lang (zero iff perfectly proportional;
    // cross-multiplied so no division decides), and the one mirrored
    // share ratio. Broadcast 1-row/stats joins — no second data pass.
    "q_split_bias_audit" -> ((s, dir) => {
      val routed = Tables(s, dir, "documents")
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .withColumn("split",
          when(col("h") < "c", "train")
            .when(col("h") < "e", "val")
            .otherwise("test"))
      val cells = routed.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_cell"))
      val bySplit = cells.groupBy("split").agg(sum("n_cell").as("n_split"))
      val byLang = cells.groupBy("lang").agg(sum("n_cell").as("n_lang"))
      val total = cells.agg(sum("n_cell").as("total"))
      cells
        .join(broadcast(bySplit), "split")
        .join(broadcast(byLang), "lang")
        .join(broadcast(total))
        .withColumn("dev_num",
          col("n_cell") * col("total") - col("n_split") * col("n_lang"))
        .withColumn("share",
          col("n_cell").cast("double") / col("n_split"))
        .select("split", "lang", "n_cell", "n_split", "n_lang",
          "total", "dev_num", "share")
        .orderBy("split", "lang")
    }),
  )

  private val opCte =
    """e AS (
      |  SELECT *, CASE CAST(event_id % 4 AS INT)
      |    WHEN 0 THEN 'I' WHEN 1 THEN '-U' WHEN 2 THEN '+U' ELSE 'D'
      |  END AS op FROM events
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_changelog_compact" ->
      s"""WITH $opCte,
         |a AS (
         |  SELECT user_id,
         |    arg_min(op, event_id) AS first_op,
         |    arg_max(op, event_id) AS last_op,
         |    arg_max(value, event_id)
         |      FILTER (WHERE op IN ('I', '+U')) AS last_val,
         |    COUNT(*) AS n_ops
         |  FROM e GROUP BY 1
         |)
         |SELECT user_id, first_op, last_op,
         |  CASE WHEN first_op = 'I' AND last_op = 'D' THEN 'NONE'
         |       WHEN first_op = 'I' THEN 'I'
         |       WHEN last_op = 'D' THEN 'D'
         |       ELSE '+U' END AS net_op,
         |  last_val, n_ops
         |FROM a ORDER BY user_id""".stripMargin,

    "q_disorder_audit" ->
      """WITH w AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events
        |), d AS (
        |  SELECT event_type,
        |    GREATEST(COALESCE(hwm - us, 0), 0) AS disorder_us
        |  FROM w
        |)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_disordered,
        |  CAST(SUM(CASE WHEN disorder_us > 600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_10min,
        |  MAX(disorder_us) AS max_disorder_us
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ')
        |      for i in range(1, len(ws)-1)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents)
        |), g AS (
        |  SELECT doc_id, UNNEST(s) AS g FROM sh
        |), f AS (
        |  SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY 1
        |)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS novelty
        |FROM g JOIN f USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_skyline" ->
      """SELECT p_partkey, p_brand, p_retailprice, p_size
        |FROM part x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part y
        |  WHERE y.p_retailprice <= x.p_retailprice
        |    AND y.p_size >= x.p_size
        |    AND (y.p_retailprice < x.p_retailprice
        |         OR y.p_size > x.p_size)
        |)
        |ORDER BY p_retailprice, p_partkey""".stripMargin,

    "q_split_bias_audit" ->
      """WITH r AS (
        |  SELECT lang,
        |    CASE
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |        THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
        |        THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents
        |), c AS (
        |  SELECT split, lang, COUNT(*) AS n_cell FROM r GROUP BY 1, 2
        |), s AS (
        |  SELECT split, CAST(SUM(n_cell) AS BIGINT) AS n_split
        |  FROM c GROUP BY 1
        |), l AS (
        |  SELECT lang, CAST(SUM(n_cell) AS BIGINT) AS n_lang
        |  FROM c GROUP BY 1
        |), t AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS total FROM c)
        |SELECT c.split, c.lang, c.n_cell, s.n_split, l.n_lang, t.total,
        |  c.n_cell * t.total - s.n_split * l.n_lang AS dev_num,
        |  CAST(c.n_cell AS DOUBLE) / s.n_split AS share
        |FROM c JOIN s USING (split) JOIN l USING (lang), t
        |ORDER BY c.split, c.lang""".stripMargin,
  )
}
