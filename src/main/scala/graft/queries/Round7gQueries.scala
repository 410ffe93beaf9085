package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 seventh batch: sequence mining, LSH tuning, demand classes,
  * concurrency.
  *
  *  - q_skipgram_sequences: top within-3 event-type sequences per user
  *    stream (adjacent-only transition tables miss the A.._..B motifs)
  *  - dedup_band_tuning_curve: the LSH (bands x rows) cost curve from
  *    ONE signature matrix — candidate-pair mass per config, computed
  *    before committing a corpus to one banding
  *  - q_xyz_variability: XYZ demand-variability classes from exact
  *    integer moments (4n·Σq² vs 5(Σq)² — the CV thresholds as pure
  *    BIGINT comparisons, no sqrt, no FP)
  *  - q_peak_concurrency: per-user peak overlapping-interval count via
  *    the +1/−1 sweep, rolled into a corpus histogram
  *
  * Determinism: integer sufficient statistics and hash keys; the one
  * double column is a mirrored division.
  */
object Round7gQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Within-3 skip-gram sequence motifs: (type_t, type_{t+k}) for
    // k = 1..3 over each user's time-ordered stream, counted
    // corpus-wide. Adjacent-only transition matrices (q_markov_
    // transition) miss A-?-B motifs with an interloper; the three
    // leads ride ONE user-partitioned window sort. Top-20 is
    // TakeOrdered, not a global sort.
    "q_skipgram_sequences" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val withLeads = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"))
        .withColumn("n1", lead(col("a"), 1).over(w))
        .withColumn("n2", lead(col("a"), 2).over(w))
        .withColumn("n3", lead(col("a"), 3).over(w))
      withLeads.select(col("a"),
          explode(array(col("n1"), col("n2"), col("n3"))).as("b"))
        .filter(col("b").isNotNull)
        .groupBy("a", "b").agg(count(lit(1)).as("n_motifs"))
        .orderBy(col("n_motifs").desc, col("a"), col("b"))
        .limit(20)
    }),

    // LSH banding cost curve: for every (bands x rows) factorization
    // of the 8-hash signature — (1,8), (2,4), (4,2), (8,1) — the
    // bucket census and candidate-pair mass Sigma c(c-1)/2 that
    // banding would generate. One MinHash pass (retained), four
    // bounded aggregates; the curve is how b/r gets CHOSEN before a
    // 100 TB pair join locks in a config. More bands = more recall =
    // more candidate pairs; this prices the trade.
    "dedup_band_tuning_curve" -> ((s, dir) => {
      val sigs = graft.CacheScope.retain(
        PipelineQueries.spread(s, Tables(s, dir, "documents"))
          .withColumn("sh", call_function("graft_shingles", col("text")))
          .select(col("doc_id"),
            call_function("graft_minhash_sig", col("sh")).as("sig")))
      def config(b: Int, r: Int): DataFrame = {
        val keys: Seq[Column] = (0 until b).map { i =>
          md5(concat((0 until r).map(j =>
            element_at(col("sig"), i * r + j + 1)): _*))
        }
        sigs.select(col("doc_id"),
            posexplode(array(keys: _*)).as(Seq("band_idx", "band_key")))
          .groupBy("band_idx", "band_key").agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("c") * (col("c") - 1) / 2).cast("long")
              .as("cand_pairs"),
            max("c").as("max_bucket"))
          .select(lit(b).as("n_bands"), lit(r).as("rows_per_band"),
            col("n_buckets"), col("cand_pairs"), col("max_bucket"))
      }
      config(1, 8).unionAll(config(2, 4)).unionAll(config(4, 2))
        .unionAll(config(8, 1))
        .orderBy("n_bands")
    }),

    // XYZ demand-variability classes per part from weekly quantity
    // series: n weeks, Sigma q, Sigma q² reduce per part; cv² =
    // n·Sq2/(Sq)² − 1 classifies X (cv < 0.5 ⟺ 4n·Sq2 < 5·Sq²),
    // Y (cv < 1 ⟺ n·Sq2 < 2·Sq²), else Z — every threshold a pure
    // BIGINT comparison, so no sqrt and no FP can flip a class.
    // Output is the per-class census with revenue share.
    "q_xyz_variability" -> ((s, dir) => {
      val weekly = Tables(s, dir, "lineitem")
        .groupBy(col("l_partkey"),
          to_date(date_trunc("week", col("l_shipdate"))).as("week"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val perPart = weekly.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sq2"))
      perPart
        .withColumn("cls",
          when(col("sq") === 0, lit("Z"))
            .when(col("n") * col("sq2") * 4 < col("sq") * col("sq") * 5,
              lit("X"))
            .when(col("n") * col("sq2") < col("sq") * col("sq") * 2,
              lit("Y"))
            .otherwise(lit("Z")))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("sq").as("total_qty"))
        .withColumn("part_share", col("n_parts").cast("double") /
          sum("n_parts").over(Window.partitionBy()))
        .orderBy("cls")
    }),

    // Per-user peak interval concurrency: each 5-minute event interval
    // contributes (+1 at start, −1 at end); the running sum over the
    // user's merged point stream peaks at the max overlap. Ends sort
    // before starts at the same instant (half-open intervals), which
    // the (t, delta) order encodes since −1 < +1. Rolled into a
    // corpus histogram of per-user peaks — the "how parallel is one
    // user's activity" distribution.
    "q_peak_concurrency" -> ((s, dir) => {
      val winUs = 5L * 60 * 1000 * 1000
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"))
      val points = ev.select(col("user_id"), col("us").as("t"),
          lit(1L).as("delta"), col("event_id"))
        .unionAll(ev.select(col("user_id"), (col("us") + winUs).as("t"),
          lit(-1L).as("delta"), col("event_id")))
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("delta"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      points
        .withColumn("depth", sum("delta").over(w))
        .groupBy("user_id").agg(max("depth").as("peak"))
        .groupBy("peak").agg(count(lit(1)).as("n_users"))
        .orderBy("peak")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_skipgram_sequences" ->
      """WITH l AS (
        |  SELECT event_type AS a,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS n1,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS n2,
        |    LEAD(event_type, 3) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS n3
        |  FROM events
        |), pairs AS (
        |  SELECT a, n1 AS b FROM l WHERE n1 IS NOT NULL
        |  UNION ALL SELECT a, n2 FROM l WHERE n2 IS NOT NULL
        |  UNION ALL SELECT a, n3 FROM l WHERE n3 IS NOT NULL
        |)
        |SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_motifs
        |FROM pairs GROUP BY 1, 2
        |ORDER BY n_motifs DESC, a, b LIMIT 20""".stripMargin,

    "dedup_band_tuning_curve" -> {
      val mh = (0 until 8).map(j =>
        s"list_min(list_transform(s, x -> md5('$j:' || x))) AS mh$j")
        .mkString(",\n    ")
      def cfg(b: Int, r: Int): String = {
        val keys = (0 until b).map { i =>
          val parts = (0 until r).map(j => s"mh${i * r + j}").mkString(" || ")
          s"SELECT doc_id, $i AS band_idx, md5($parts) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""SELECT $b AS n_bands, $r AS rows_per_band,
           |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
           |  CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS cand_pairs,
           |  CAST(MAX(c) AS BIGINT) AS max_bucket
           |FROM (
           |  SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM ($keys)
           |  GROUP BY 1, 2
           |)""".stripMargin
      }
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(ws[i:i+2], ' ')
         |      for i in range(1, len(ws)-1)]) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents)
         |), sig AS (
         |  SELECT doc_id, $mh
         |  FROM sh
         |)
         |SELECT * FROM (
         |${cfg(1, 8)}
         |UNION ALL ${cfg(2, 4)}
         |UNION ALL ${cfg(4, 2)}
         |UNION ALL ${cfg(8, 1)}
         |) ORDER BY n_bands""".stripMargin
    },

    "q_xyz_variability" ->
      """WITH weekly AS (
        |  SELECT l_partkey,
        |    CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2
        |), per_part AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sq,
        |    CAST(SUM(q * q) AS BIGINT) AS sq2
        |  FROM weekly GROUP BY 1
        |), classed AS (
        |  SELECT sq,
        |    CASE WHEN sq = 0 THEN 'Z'
        |      WHEN n * sq2 * 4 < sq * sq * 5 THEN 'X'
        |      WHEN n * sq2 < sq * sq * 2 THEN 'Y'
        |      ELSE 'Z' END AS cls
        |  FROM per_part
        |)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(sq) AS BIGINT) AS total_qty,
        |  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER ()
        |    AS part_share
        |FROM classed GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_peak_concurrency" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |), points AS (
        |  SELECT user_id, us AS t, CAST(1 AS BIGINT) AS delta, event_id
        |  FROM ev
        |  UNION ALL
        |  SELECT user_id, us + 300000000, CAST(-1 AS BIGINT), event_id
        |  FROM ev
        |), depths AS (
        |  SELECT user_id,
        |    SUM(delta) OVER (PARTITION BY user_id
        |      ORDER BY t, delta, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |  FROM points
        |), peaks AS (
        |  SELECT user_id, CAST(MAX(depth) AS BIGINT) AS peak
        |  FROM depths GROUP BY 1
        |)
        |SELECT peak, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM peaks GROUP BY 1 ORDER BY 1""".stripMargin)
}
