package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5HeadSql, sortedFold}

/** Round-8 fifth batch: the sketch/linear-algebra layer an optimizer
  * and an embedding pipeline sit on.
  *
  *  - q_sketch_join_size: self-join size (F2 = sum c^2 over key counts)
  *    estimated two ways against the exact answer — a depth-4 width-256
  *    Count-Min inner product (min over rows of sum-of-squared bucket
  *    counts; always an overestimate, by ~N^2/w) and a depth-4 AMS
  *    tug-of-war sign sketch (mean of Z_r^2, unbiased but high
  *    variance at depth 4). The audit that says WHICH sketch to trust
  *    for join planning at which width.
  *  - q_jl_distortion: Johnson-Lindenstrauss audit — project 64-dim
  *    embeddings to 16 dims with a deterministic md5-parity +-1 matrix
  *    and report the squared-distance ratio distribution over all
  *    pairs of the first 50 vectors (exact rank picks). The measured
  *    answer to "how much ANN recall does a 4x cheaper embedding buy".
  *  - q_pca_power: 3-step power iteration on the uncentered second
  *    moment X'X of the embedding corpus: top eigenvalue estimate
  *    (||X'X v||) and the 5 largest-|loading| dimensions. The
  *    variance-structure probe (which dims dominate, is the spectrum
  *    flat) run before choosing PQ sub-spaces or quantization budgets.
  *
  * Determinism: sketch estimates are pure BIGINT arithmetic; JL and
  * PCA double sums fold over explicitly ordered lists — per-vector
  * dims in index order, cross-vector sums via the fixed-block tree
  * (vec_id-sorted folds within 1024-row blocks, then block-sorted
  * folds — embedding_kmeans_update's shape), so the FP result is a
  * written-down function of the data, not the schedule.
  *
  * Scale: Count-Min/AMS buckets are (depth x width) cells regardless
  * of input size — the textbook mergeable-sketch shape; JL pairs are
  * the bounded audit arm (50 vectors) of a projection that itself is
  * one map; PCA moves (dim x block) partial sums, never vectors, and
  * 1024-row blocks keep every fold bounded at any corpus size.
  */
object Round8eQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // F2 sketch audit. All integer: key counts, bucket counts, squared
    // sums; the two final ratios are mirrored divisions.
    "q_sketch_join_size" -> ((s, dir) => {
      val keyc = graft.CacheScope.retain(
        Tables(s, dir, "lineitem").groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("c")))
      val exact = keyc.agg(sum(col("c") * col("c")).cast("long")
        .as("exact_f2"))
      val rowsR = keyc.select(col("k"), col("c"),
        explode(sequence(lit(0), lit(3))).as("r"))
      val bucket = conv(substring(md5(concat(col("r").cast("string"),
        lit(":"), col("k").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 256
      val cmsEst = rowsR.withColumn("b", bucket)
        .groupBy("r", "b").agg(sum("c").cast("long").as("cnt"))
        .groupBy("r").agg(sum(col("cnt") * col("cnt")).cast("long")
          .as("est"))
        .agg(min("est").as("cms_est"))
      val sgn = when(substring(md5(concat(lit("ams"),
        col("r").cast("string"), lit(":"), col("k").cast("string"))),
        1, 1) < "8", col("c")).otherwise(-col("c"))
      val amsSum = rowsR.withColumn("sc", sgn)
        .groupBy("r").agg(sum("sc").cast("long").as("z"))
        .agg(sum(col("z") * col("z")).cast("long").as("ams_sum"))
      exact.crossJoin(broadcast(cmsEst)).crossJoin(broadcast(amsSum))
        .select(col("exact_f2"), col("cms_est"),
          (col("ams_sum").cast("double") / 4).as("ams_est"),
          (col("cms_est").cast("double") / col("exact_f2"))
            .as("cms_ratio"),
          ((col("ams_sum").cast("double") / 4) / col("exact_f2"))
            .as("ams_ratio"))
    }),

    // JL projection distortion over all 1225 pairs of the first 50
    // vectors. The +-1 matrix is md5(d:j) parity — both engines derive
    // the identical matrix without storing one.
    "q_jl_distortion" -> ((s, dir) => {
      val sgn = (d: Column, j: Column) =>
        when(substring(md5(concat(d.cast("string"), lit(":"),
          j.cast("string"))), 1, 1) < "8", lit(1.0)).otherwise(lit(-1.0))
      val base = graft.CacheScope.retain(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 50)
          .select(col("vec_id"),
            col("embedding"),
            transform(sequence(lit(0), lit(15)), j =>
              aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, d) =>
                acc + element_at(col("embedding"), d).cast("double") *
                  sgn(d, j)) / 4).as("y")))
      val a = base.select(col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("y").as("ya"))
      val b = base.select(col("vec_id").as("b_id"),
        col("embedding").as("eb"), col("y").as("yb"))
      val ratios = a.join(broadcast(b), col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (aggregate(zip_with(col("ea"), col("eb"), (x, yv) =>
            (x.cast("double") - yv.cast("double")) *
              (x.cast("double") - yv.cast("double"))),
            lit(0.0), (acc, v) => acc + v)).as("d2o"),
          (aggregate(zip_with(col("ya"), col("yb"), (x, yv) =>
            (x - yv) * (x - yv)), lit(0.0), (acc, v) => acc + v))
            .as("d2p"))
        // identical vectors (d2o = 0) have no defined distortion —
        // excluded on BOTH engines (a NULL ratio would rank nulls-first
        // in Spark but nulls-last in DuckDB)
        .filter(col("d2o") > 0)
        .select(col("a_id"), col("b_id"),
          (col("d2p") / col("d2o")).as("ratio"))
      val ranked = graft.operators.GlobalRank.withRank(ratios,
        col("ratio"), col("a_id") * 50 + col("b_id"), "rn")
      val n = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n)).groupBy().agg(
        max("n").as("n_pairs"),
        min("ratio").as("min_ratio"),
        max(when(col("rn") === ((col("n") + 1) / 2).cast("long"),
          col("ratio"))).as("median_ratio"),
        max(when(col("rn") === ((col("n") * 9 + 9) / 10).cast("long"),
          col("ratio"))).as("p90_ratio"),
        max("ratio").as("max_ratio"))
    }),

    // 3-step power iteration: v0 = ones/8, v_{i} = X'(X v_{i-1})
    // normalized. Per-dim sums go through the 1024-row block tree.
    "q_pca_power" -> ((s, dir) => {
      val e = graft.CacheScope.retain(Tables(s, dir, "embeddings")
        .select("vec_id", "embedding"))
      var v: DataFrame = s.range(1)
        .select(array((1 to 64).map(_ => lit(0.125)): _*).as("v"))
      var u: DataFrame = null
      var nF: DataFrame = null
      for (_ <- 1 to 3) {
        val sF = e.crossJoin(broadcast(v)).select(col("vec_id"),
          aggregate(zip_with(col("embedding"), col("v"),
            (x, y) => x.cast("double") * y), lit(0.0),
            (acc, x) => acc + x).as("s"))
        val terms = e.join(sF, "vec_id")
          .select(col("vec_id"), col("s"),
            posexplode(col("embedding")).as(Seq("dim0", "comp")))
          .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
            expr("vec_id div 1024").as("blk"),
            (col("comp").cast("double") * col("s")).as("term"))
        u = graft.CacheScope.retain(terms.groupBy("dim", "blk")
          .agg(sortedFold(collect_list(struct(col("vec_id"),
            col("term"))), "term").as("bs"))
          .groupBy("dim")
          .agg(aggregate(transform(array_sort(collect_list(
            struct(col("blk"), col("bs")))), _.getField("bs")),
            lit(0.0), (acc, x) => acc + x).as("ud")))
        nF = u.agg(sqrt(aggregate(transform(array_sort(collect_list(
          struct(col("dim"), col("ud")))),
          x => x.getField("ud") * x.getField("ud")),
          lit(0.0), (acc, x) => acc + x)).as("nrm"))
        v = u.crossJoin(broadcast(nF)).groupBy("nrm")
          .agg(sort_array(collect_list(struct(col("dim"), col("ud"))))
            .as("uds"))
          .select(transform(col("uds"),
            x => x.getField("ud") / col("nrm")).as("v"))
      }
      val loadings = u.crossJoin(broadcast(nF))
        .select(col("dim").cast("int").as("dim"),
          (col("ud") / col("nrm")).as("loading"),
          col("nrm").as("lambda"))
        .withColumn("al", abs(col("loading")))
        .orderBy(col("al").desc, col("dim")).limit(5)
      loadings
        .withColumn("rk", row_number().over(
          Window.orderBy(col("al").desc, col("dim"))))
        .select(col("rk"), col("dim"), col("loading"), col("lambda"))
        .orderBy("rk")
    }),
  )

  /** One unrolled power-iteration CTE block (reads v{i-1}, defines
    * s{i}, ub{i}, u{i}, n{i}, v{i}) — the exact operation DAG of the
    * Spark loop body above.
    */
  private def pcaIterCte(i: Int): String = {
    val p = i - 1
    s"""s$i AS (
       |  SELECT e.vec_id, list_reduce([CAST(0 AS DOUBLE)] ||
       |    list_transform(range(1, 65), d ->
       |      CAST(e.embedding[d] AS DOUBLE) * v.v[d]),
       |    (a, x) -> a + x) AS s
       |  FROM embeddings e, v$p v
       |), ub$i AS (
       |  SELECT x.dim, x.blk,
       |    list_reduce([CAST(0 AS DOUBLE)] ||
       |      list(x.term ORDER BY x.vec_id), (a, q) -> a + q) AS bs
       |  FROM (
       |    SELECT e.vec_id, u.d AS dim, e.vec_id // 1024 AS blk,
       |      CAST(e.embedding[u.d] AS DOUBLE) * s.s AS term
       |    FROM embeddings e JOIN s$i s ON s.vec_id = e.vec_id,
       |         unnest(range(1, 65)) AS u(d)
       |  ) x GROUP BY x.dim, x.blk
       |), u$i AS (
       |  SELECT dim, list_reduce([CAST(0 AS DOUBLE)] ||
       |    list(bs ORDER BY blk), (a, q) -> a + q) AS ud
       |  FROM ub$i GROUP BY dim
       |), n$i AS (
       |  SELECT sqrt(list_reduce([CAST(0 AS DOUBLE)] ||
       |    list(ud * ud ORDER BY dim), (a, q) -> a + q)) AS nrm
       |  FROM u$i
       |), v$i AS (
       |  SELECT list_transform(list(ud ORDER BY dim), x -> x / MAX(nrm))
       |    AS v
       |  FROM u$i, n$i GROUP BY ALL
       |)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_sketch_join_size" ->
      s"""WITH keyc AS (
         |  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1
         |), exact AS (
         |  SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM keyc
         |), rows_r AS (
         |  SELECT k, c, r FROM keyc, unnest(range(0, 4)) AS u(r)
         |), cmsb AS (
         |  SELECT r,
         |    ${md5HeadSql("CAST(r AS VARCHAR) || ':' || CAST(k AS VARCHAR)")}
         |      % 256 AS b,
         |    CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM rows_r GROUP BY 1, 2
         |), cms_r AS (
         |  SELECT r, CAST(SUM(cnt * cnt) AS BIGINT) AS est
         |  FROM cmsb GROUP BY r
         |), ams_r AS (
         |  SELECT r, CAST(SUM(CASE WHEN
         |      substring(md5('ams' || CAST(r AS VARCHAR) || ':'
         |        || CAST(k AS VARCHAR)), 1, 1) < '8'
         |      THEN c ELSE -c END) AS BIGINT) AS z
         |  FROM rows_r GROUP BY r
         |), agg AS (
         |  SELECT (SELECT MIN(est) FROM cms_r) AS cms_est,
         |    (SELECT CAST(SUM(z * z) AS BIGINT) FROM ams_r) AS ams_sum
         |)
         |SELECT e.f2 AS exact_f2, a.cms_est,
         |  CAST(a.ams_sum AS DOUBLE) / 4 AS ams_est,
         |  CAST(a.cms_est AS DOUBLE) / e.f2 AS cms_ratio,
         |  (CAST(a.ams_sum AS DOUBLE) / 4) / e.f2 AS ams_ratio
         |FROM exact e, agg a""".stripMargin,

    "q_jl_distortion" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50
        |), proj AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 16), j ->
        |      list_reduce([CAST(0 AS DOUBLE)] ||
        |        list_transform(range(1, 65), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CASE WHEN substring(md5(CAST(d AS VARCHAR) || ':'
        |              || CAST(j AS VARCHAR)), 1, 1) < '8'
        |            THEN 1.0 ELSE -1.0 END)),
        |        (acc, v) -> acc + v) / 4) AS y
        |  FROM base
        |), pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list_transform(range(1, 65), d ->
        |        (CAST(a.embedding[d] AS DOUBLE)
        |          - CAST(b.embedding[d] AS DOUBLE)) *
        |        (CAST(a.embedding[d] AS DOUBLE)
        |          - CAST(b.embedding[d] AS DOUBLE))),
        |      (acc, v) -> acc + v) AS d2o,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list_transform(range(1, 17), j ->
        |        (pa.y[j] - pb.y[j]) * (pa.y[j] - pb.y[j])),
        |      (acc, v) -> acc + v) AS d2p
        |  FROM base a JOIN base b ON a.vec_id < b.vec_id
        |  JOIN proj pa ON pa.vec_id = a.vec_id
        |  JOIN proj pb ON pb.vec_id = b.vec_id
        |), ranked AS (
        |  SELECT d2p / d2o AS ratio,
        |    ROW_NUMBER() OVER (ORDER BY d2p / d2o, a_id, b_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM pairs WHERE d2o > 0
        |)
        |SELECT MAX(n) AS n_pairs, MIN(ratio) AS min_ratio,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN ratio END)
        |    AS median_ratio,
        |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN ratio END)
        |    AS p90_ratio,
        |  MAX(ratio) AS max_ratio
        |FROM ranked""".stripMargin,

    "q_pca_power" ->
      s"""WITH v0 AS (
         |  SELECT list_transform(range(1, 65), d -> CAST(0.125 AS DOUBLE))
         |    AS v
         |),
         |${pcaIterCte(1)},
         |${pcaIterCte(2)},
         |${pcaIterCte(3)},
         |load AS (
         |  SELECT u.dim, u.ud / n.nrm AS loading FROM u3 u, n3 n
         |), ranked AS (
         |  SELECT dim, loading,
         |    ROW_NUMBER() OVER (ORDER BY abs(loading) DESC, dim) AS rk
         |  FROM load
         |)
         |SELECT CAST(r.rk AS INT) AS rk, CAST(r.dim AS INT) AS dim,
         |  r.loading, n.nrm AS lambda
         |FROM ranked r, n3 n WHERE r.rk <= 5 ORDER BY rk""".stripMargin,
  )
}
