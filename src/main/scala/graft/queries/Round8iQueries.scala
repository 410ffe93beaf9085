package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5Head, md5HeadSql, sortedFold}

/** Round-8 ninth batch: coreset planning, private releases, and skew
  * mitigation planning.
  *
  *  - q_coreset_weights: sensitivity-sampling statistics for coreset
  *    construction over the k-means partition — per centroid, the
  *    cluster's share of total squared distance and its maximum
  *    single-vector sensitivity (d^2_i / sum d^2). The numbers that
  *    size an importance-sampled coreset (Bachem/Lucic-style) before
  *    clustering a corpus too big to touch twice.
  *  - q_dp_count_release: per-source counts released with
  *    deterministic Laplace(1) noise — the md5-uniform's ln routes
  *    through DetMath.dln on its integer numerator, so the "draw" is
  *    a reproducible function of the source name. The
  *    differential-privacy-shaped release layer of a curation report
  *    (audit form: true count and noise shown side by side).
  *  - q_salt_plan: the skew-mitigation planner — per join key,
  *    salt = ceil(c / 256) splits and the resulting max partition
  *    share; top-10 hottest keys plus the global before/after maxima.
  *    The plan a salted join (q_salted_join) should be derived FROM.
  *
  * Determinism: distances fold per vector in dim order and aggregate
  * by block tree / per-cluster sorted folds; Laplace magnitudes are
  * 31*ln2 - dln(a) over md5 integers; the salt plan is pure BIGINT
  * ceil-division.
  *
  * Scale: centroids broadcast, one corpus scan for assignment; the
  * release and plan queries reduce to one row per source/key with
  * map-side combine and bounded TopK.
  */
object Round8iQueries {

  private val Ln2 = 0.6931471805599453

  // the coalesce pins the NULL-key hash: without it Spark's concat
  // null-propagates (NULL head) while DuckDB's [0] || NULL list-concat
  // quietly evaluates to 0 — a NULL group key is a real group
  private def sourceKey(prefix: String): Column =
    concat(lit(prefix), coalesce(col("source").cast("string"), lit("")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Coreset sensitivity stats per k-means cell. d2 folds in dim
    // order; the global sum-of-d2 goes through the 1024-row block
    // tree; per-cell folds are cell-bounded.
    "q_coreset_weights" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("ce")))
      val d2 = aggregate(zip_with(col("embedding"), col("ce"), (x, c) =>
        (x.cast("double") - c.cast("double")) *
          (x.cast("double") - c.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      val byV = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
      val assign = graft.CacheScope.retain(e.crossJoin(cents)
        .select(col("vec_id"), col("centroid_id"), d2.as("d2"))
        .withColumn("rn", row_number().over(byV))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("centroid_id"), col("d2")))
      val tot = broadcast(assign
        .withColumn("blk", expr("vec_id div 1024"))
        .groupBy("blk")
        .agg(sortedFold(collect_list(struct(col("vec_id"), col("d2"))),
          "d2").as("bs"))
        .agg(sortedFold(collect_list(struct(col("blk"), col("bs"))),
          "bs").as("sum_d2_tot")))
      assign.groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vecs"),
          sortedFold(collect_list(struct(col("vec_id"), col("d2"))),
            "d2").as("sum_d2_c"),
          max("d2").as("max_d2"))
        .crossJoin(tot)
        .select(col("centroid_id"), col("n_vecs"), col("sum_d2_c"),
          // try_divide: an all-identical corpus has zero total spread —
          // shares are NULL (DuckDB's x/0), not an ANSI error
          try_divide(col("sum_d2_c"), col("sum_d2_tot")).as("d2_share"),
          try_divide(col("max_d2"), col("sum_d2_tot"))
            .as("max_sensitivity"))
        .orderBy("centroid_id")
    }),

    // Laplace(1)-noised per-source counts, deterministic draws:
    // sign and magnitude from md5 of the source name, ln via dln.
    "q_dp_count_release" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      Tables(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .withColumn("sgn",
          (md5Head(sourceKey("dpsign")) % 2) * 2 - 1)
        .withColumn("a",
          md5Head(sourceKey("dpmag")) % 2147483648L + 1)
        .select(col("source"), col("cnt"),
          (col("sgn") * (lit(31) * lit(Ln2) - dln(col("a"))))
            .as("noise"),
          (col("cnt") + col("sgn") * (lit(31) * lit(Ln2) -
            dln(col("a")))).as("noisy_count"))
        .orderBy("source")
    }),

    // Skew planner: per-key salt = ceil(c/256), top-10 hottest keys
    // with the global before/after max partition sizes.
    "q_salt_plan" -> ((s, dir) => {
      val plan = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("k"))
        .agg(count(lit(1)).as("c"))
        .withColumn("salt", ((col("c") + 255) / 256).cast("long"))
        .withColumn("max_after",
          ((col("c") + col("salt") - 1) / col("salt")).cast("long")))
      val tot = broadcast(plan.agg(max("c").as("max_before"),
        max("max_after").as("max_after_all")))
      graft.operators.GlobalRank.withRank(plan, -col("c"), col("k"),
          "rk")
        .filter(col("rk") <= 10)
        .crossJoin(tot)
        .select(col("rk").cast("long").as("rk"), col("k"), col("c"),
          col("salt"), col("max_after"), col("max_before"),
          col("max_after_all"))
        .orderBy("rk")
    }),
  )

  import graft.functions.DetMath.lnCtesSql

  val oracle: Map[String, String] = Map(
    "q_coreset_weights" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding AS ce
        |  FROM embeddings WHERE vec_id < 8
        |), dists AS (
        |  SELECT v.vec_id, c.centroid_id,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list_transform(range(1, 65), i ->
        |        (CAST(v.embedding[i] AS DOUBLE)
        |          - CAST(c.ce[i] AS DOUBLE)) *
        |        (CAST(v.embedding[i] AS DOUBLE)
        |          - CAST(c.ce[i] AS DOUBLE))),
        |      (a, q) -> a + q) AS d2
        |  FROM embeddings v, c
        |), assign AS (
        |  SELECT vec_id, centroid_id, d2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY d2, centroid_id) AS rn FROM dists
        |  ) WHERE rn = 1
        |), blocks AS (
        |  SELECT vec_id // 1024 AS blk,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(d2 ORDER BY vec_id), (a, q) -> a + q) AS bs
        |  FROM assign GROUP BY 1
        |), tot AS (
        |  SELECT list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(bs ORDER BY blk), (a, q) -> a + q) AS sum_d2_tot
        |  FROM blocks
        |), cells AS (
        |  SELECT centroid_id, COUNT(*) AS n_vecs,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(d2 ORDER BY vec_id), (a, q) -> a + q) AS sum_d2_c,
        |    MAX(d2) AS max_d2
        |  FROM assign GROUP BY centroid_id
        |)
        |SELECT centroid_id, n_vecs, sum_d2_c,
        |  sum_d2_c / t.sum_d2_tot AS d2_share,
        |  max_d2 / t.sum_d2_tot AS max_sensitivity
        |FROM cells, tot t ORDER BY centroid_id""".stripMargin,

    "q_dp_count_release" ->
      s"""WITH pc AS (
         |  SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
         |), noise0 AS (
         |  SELECT source, cnt,
         |    (${md5HeadSql("'dpsign' || COALESCE(CAST(source AS VARCHAR), '')")} % 2)
         |      * 2 - 1 AS sgn,
         |    ${md5HeadSql("'dpmag' || COALESCE(CAST(source AS VARCHAR), '')")}
         |      % 2147483648 + 1 AS a
         |  FROM pc
         |), ${lnCtesSql("noise", "noise0", "source, cnt, sgn, a", "a",
             "lna")}
         |SELECT source, cnt,
         |  sgn * (31 * 6.931471805599453e-1 - lna) AS noise,
         |  cnt + sgn * (31 * 6.931471805599453e-1 - lna)
         |    AS noisy_count
         |FROM noise ORDER BY source""".stripMargin,

    "q_salt_plan" ->
      """WITH kc AS (
        |  SELECT l_suppkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1
        |), plan AS (
        |  SELECT k, c, (c + 255) // 256 AS salt,
        |    (c + ((c + 255) // 256) - 1) // ((c + 255) // 256)
        |      AS max_after
        |  FROM kc
        |), top AS (
        |  SELECT k, c, salt, max_after,
        |    ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rk
        |  FROM plan
        |), tot AS (
        |  SELECT MAX(c) AS max_before, MAX(max_after) AS max_after_all
        |  FROM plan
        |)
        |SELECT t.rk, t.k, t.c, t.salt, t.max_after,
        |  o.max_before, o.max_after_all
        |FROM top t, tot o WHERE t.rk <= 10 ORDER BY t.rk""".stripMargin,
  )
}
