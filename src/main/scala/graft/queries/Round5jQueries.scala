package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5j batch: behavior modeling and distribution reporting —
  * the Markov transition matrix over per-user event sequences (the
  * no-ML user-behavior model), exact ECDF evaluation at fixed
  * thresholds, the co-purchase graph's degree distribution in
  * power-of-two buckets (the skew fingerprint of the graph), time-to-
  * convert between click and next purchase, and a log2 length
  * histogram of documents (the context-window sizing report).
  *
  * Determinism rules (see Round5Queries): integer microseconds, counts
  * and bit arithmetic; every double is a single division mirrored
  * literally in the oracle. log2 buckets come from binary string
  * length (never libm log).
  */
object Round5jQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Markov transition matrix — P(next event type | current) per
    // (from, to) pair from per-user event-time sequences: bigram counts
    // via one user-partitioned lag window, row-normalized by the
    // from-state total (the one division, mirrored). The window sorts
    // each user's events once; the matrix is |types|² rows at any
    // corpus size.
    "q_markov_transition" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val bigrams = Tables(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = bigrams.groupBy("from_type")
        .agg(sum("n").as("n_from"))
      bigrams.join(broadcast(totals), "from_type")
        .withColumn("p", col("n").cast("double") / col("n_from"))
        .select("from_type", "to_type", "n", "n_from", "p")
        .orderBy("from_type", "to_type")
    }),

    // Exact ECDF of event value per type at five fixed thresholds —
    // the calibration report behind any "p99 alert" threshold choice:
    // one conditional-sum scan per type, one mirrored division per
    // fence. Pre-aggregated before anything wide; output is
    // |types|×5 rows.
    "q_value_ecdf" -> ((s, dir) => {
      val fences = Seq(10.0, 50.0, 100.0, 500.0, 1000.0)
      val exprs = count(lit(1)).as("n") +:
        fences.zipWithIndex.map { case (f, i) =>
          sum(when(col("value") <= f, 1L).otherwise(0L)).as(s"le_$i")
        }
      val agg = Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(exprs.head, exprs.tail: _*)
      val long = fences.zipWithIndex.map { case (f, i) =>
        agg.select(col("event_type"), lit(f).as("fence"),
          col(s"le_$i").as("n_le"), col("n"))
      }.reduce(_.unionAll(_))
      long.withColumn("ecdf", col("n_le").cast("double") / col("n"))
        .orderBy("event_type", "fence")
    }),

    // Degree distribution of the co-purchase graph in power-of-two
    // buckets — the skew fingerprint read before joining on a graph
    // key: bucket = bit-length of the degree (never libm log2), with
    // node counts and the degree-mass per bucket. Reuses the per-order
    // pair generation (bounded by lines-per-order); two combine
    // shuffles after that.
    "q_degree_dist" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      // e feeds both unionAll branches of the degree table: retained so
      // the self-join + distinct derives once (see graph_triangles)
      val e = graft.CacheScope.retain(li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct())
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      deg.withColumn("bucket", (length(bin(col("d"))) - 1).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"),
          sum("d").as("degree_mass"),
          min("d").as("min_d"), max("d").as("max_d"))
        .orderBy("bucket")
    }),

    // Time-to-convert — per event type pair (click → first purchase
    // at-or-after, per user): conversion count, mean lag in exact
    // integer microseconds (sum/count — the one division), max lag.
    // Reuses the forward as-of construction: one user-partitioned
    // window, no inequality join.
    "q_time_to_convert" -> ((s, dir) => {
      val e = Tables(s, dir, "events").withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), lit(0).as("side"),
          col("event_id"), lit(null).cast("long").as("p_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), lit(1).as("side"),
          col("event_id"), col("us").as("p_us"))
      val w = Window.partitionBy("user_id")
        .orderBy("us", "side", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionByName(purchases)
        .withColumn("next_p_us",
          first(col("p_us"), ignoreNulls = true).over(w))
        .filter(col("side") === 0 && col("next_p_us").isNotNull)
        .withColumn("lag_us", col("next_p_us") - col("us"))
        .agg(count(lit(1)).as("n_converted"),
          sum("lag_us").as("total_lag_us"),
          max("lag_us").as("max_lag_us"))
        .withColumn("mean_lag_us",
          col("total_lag_us").cast("double") / col("n_converted"))
    }),

    // Document length histogram in log2 buckets — the context-window
    // sizing report (how much of the corpus fits 2^k chars): bucket =
    // bit-length of n_chars, integer-exact; share is the one mirrored
    // division per bucket.
    "q_len_log2_hist" -> ((s, dir) => {
      val h = Tables(s, dir, "documents")
        .withColumn("bucket", (length(bin(col("n_chars"))) - 1).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      val total = h.agg(sum("n_docs").as("total"))
      h.join(broadcast(total))
        .withColumn("share", col("n_docs").cast("double") / col("total"))
        .select("bucket", "n_docs", "min_chars", "max_chars", "total",
          "share")
        .orderBy("bucket")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_markov_transition" ->
      """WITH b AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM b WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1
        |)
        |SELECT c.from_type, c.to_type, c.n, tot.n_from,
        |  CAST(c.n AS DOUBLE) / tot.n_from AS p
        |FROM c JOIN tot USING (from_type)
        |ORDER BY c.from_type, c.to_type""".stripMargin,

    "q_value_ecdf" -> {
      val fences = Seq(10.0, 50.0, 100.0, 500.0, 1000.0)
      val arms = fences.map(f =>
        s"""SELECT event_type, CAST($f AS DOUBLE) AS fence,
           |  CAST(SUM(CASE WHEN value <= $f THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_le,
           |  COUNT(*) AS n
           |FROM events GROUP BY 1""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH long AS (
         |$arms
         |)
         |SELECT event_type, fence, n_le, n,
         |  CAST(n_le AS DOUBLE) / n AS ecdf
         |FROM long ORDER BY event_type, fence""".stripMargin
    },

    "q_degree_dist" ->
      """WITH e AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |), deg AS (
        |  SELECT v, COUNT(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e
        |  ) GROUP BY 1
        |)
        |SELECT CAST(strlen(printf('%b', d)) - 1 AS INT) AS bucket,
        |  COUNT(*) AS n_nodes,
        |  CAST(SUM(d) AS BIGINT) AS degree_mass,
        |  MIN(d) AS min_d, MAX(d) AS max_d
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_to_convert" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events
        |),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.user_id, c.event_id, c.us,
        |    MIN(p.us) AS next_p_us
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.us >= c.us
        |  GROUP BY 1, 2, 3
        |)
        |SELECT COUNT(*) AS n_converted,
        |  CAST(SUM(next_p_us - us) AS BIGINT) AS total_lag_us,
        |  MAX(next_p_us - us) AS max_lag_us,
        |  CAST(SUM(next_p_us - us) AS DOUBLE) / COUNT(*) AS mean_lag_us
        |FROM j""".stripMargin,

    "q_len_log2_hist" ->
      """WITH h AS (
        |  SELECT CAST(strlen(printf('%b', n_chars)) - 1 AS INT) AS bucket,
        |    COUNT(*) AS n_docs,
        |    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |  FROM documents GROUP BY 1
        |), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM h)
        |SELECT h.bucket, h.n_docs, h.min_chars, h.max_chars, t.total,
        |  CAST(h.n_docs AS DOUBLE) / t.total AS share
        |FROM h, t ORDER BY h.bucket""".stripMargin,
  )
}
