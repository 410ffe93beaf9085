package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5e batch: embedding-store maintenance — the audits a 100 TB
  * vector corpus runs before serving: int8 quantization planning
  * (per-dimension ranges/scales), dead-dimension detection, label
  * balance for eval-set construction, and the dup-cluster size
  * histogram that tells you whether dedup is worth running.
  *
  * Determinism rules (see Round5Queries): float→double widening is
  * exact, min/max/counts are order-independent, and the only rounded
  * ops are single double divisions mirrored literally in the oracle.
  */
object Round5eQueries {

  /** (dim, x) points: one row per embedding coordinate, position
    * 0-based, value widened float→double (exact). The explode is
    * rows×64 but each point is 12 bytes and the downstream aggregates
    * combine map-side to 64 groups — the shuffle moves O(dims) rows
    * per partition, not O(rows×dims).
    */
  private def points(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Int8 quantization plan — per-dimension [lo, hi] range and the
    // (hi-lo)/255 scale an affine int8 codec stores per dim. min/max
    // over exact float values widened to double; the subtraction of
    // two floats is exactly representable in double, so the single
    // division is the only rounding and both engines agree bitwise.
    // This is the compression step that turns a 256-byte vector into
    // 64 bytes + 2 floats at 100 TB.
    "q_embedding_quantize" -> ((s, dir) =>
      points(s, dir)
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          min("x").as("lo"), max("x").as("hi"))
        .withColumn("scale", (col("hi") - col("lo")) / 255)
        .orderBy("dim")),

    // Dead-dimension detection — dims where >95% of coordinates sit
    // within ±0.05 of zero carry no signal and can be dropped before
    // indexing. The 95% gate is cross-multiplied (n_small*20 > n*19)
    // to stay integer-exact; max_abs documents how dead the dim is.
    "q_dead_dims" -> ((s, dir) =>
      points(s, dir)
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("x")) < 0.05, 1L).otherwise(0L)).as("n_small"),
          max(abs(col("x"))).as("max_abs"))
        .withColumn("dead", col("n_small") * 20 > col("n") * 19)
        .orderBy("dim")),

    // Label balance audit — class distribution vs uniform for
    // stratified eval-set construction: per-label count, the
    // integer-exact deviation |n·k − total| (zero iff perfectly
    // uniform), and the share as one double division. The stats row
    // (total, k) broadcasts — no second pass over the data.
    "q_label_balance" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val stats = e.agg(count(lit(1)).as("total"),
        countDistinct(col("label")).as("k"))
      e.groupBy("label").agg(count(lit(1)).as("n"))
        .join(broadcast(stats))
        .withColumn("dev_num", abs(col("n") * col("k") - col("total")))
        .withColumn("share", col("n").cast("double") / col("total"))
        .select("label", "n", "total", "k", "dev_num", "share")
        .orderBy("label")
    }),

    // Dup-cluster size histogram — the power-law report that decides
    // whether a dedup pass pays for itself: exact-dup clusters by
    // content hash, then the distribution of cluster sizes (how many
    // singletons, how many 5-way dups, how many docs each bucket
    // holds). Two hash aggregates, both map-side combined; nothing
    // about the plan changes at 100×.
    "dedup_cluster_hist" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy("cluster_size")),
  )

  val oracle: Map[String, String] = Map(

    "q_embedding_quantize" ->
      """WITH p AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |)
        |SELECT dim, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi,
        |  (MAX(x) - MIN(x)) / 255 AS scale
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dead_dims" ->
      """WITH p AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |)
        |SELECT dim, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN abs(x) < CAST(0.05 AS DOUBLE) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_small,
        |  MAX(abs(x)) AS max_abs,
        |  CAST(SUM(CASE WHEN abs(x) < CAST(0.05 AS DOUBLE) THEN 1 ELSE 0 END)
        |    AS BIGINT) * 20 > COUNT(*) * 19 AS dead
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_label_balance" ->
      """WITH s AS (
        |  SELECT COUNT(*) AS total, COUNT(DISTINCT label) AS k
        |  FROM embeddings
        |)
        |SELECT label, COUNT(*) AS n, s.total, s.k,
        |  abs(COUNT(*) * s.k - s.total) AS dev_num,
        |  CAST(COUNT(*) AS DOUBLE) / s.total AS share
        |FROM embeddings, s
        |GROUP BY label, s.total, s.k ORDER BY label""".stripMargin,

    "dedup_cluster_hist" ->
      """WITH cl AS (
        |  SELECT md5(text) AS fp, COUNT(*) AS cluster_size
        |  FROM documents GROUP BY 1
        |)
        |SELECT cluster_size, COUNT(*) AS n_clusters,
        |  cluster_size * COUNT(*) AS n_docs
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
