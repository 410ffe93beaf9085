package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-11 fifth batch: the ClickHouse statistical-test / time-series
  * functions still absent from the inventory.
  *
  *  - q_welch_ttest: CH `welchTTest`/`studentTTest` — Welch's t and the
  *    Welch–Satterthwaite df (plus the pooled Student variant) between
  *    the md5 A/B user splits on purchase values. Sufficient statistics
  *    (n, Σx, Σx²) are EXACT decimals pivoted into named columns; every
  *    floating step after that is one mirrored expression tree over
  *    string-routed operands, so t and df match DuckDB bitwise. The
  *    p-value needs an incomplete-beta special function — out of the
  *    deterministic-DAG contract, so the key emits the statistics a
  *    test harness thresholds on (CH itself documents t-distribution
  *    lookup as the caller's step for small n).
  *  - q_lttb_downsample: CH `largestTriangleThreeBuckets` — LTTB
  *    downsampling of the daily revenue series to 30 points, in the
  *    PARALLEL bucket-mean-anchor formulation (each bucket selects the
  *    point maximizing the triangle area against the NEIGHBOR BUCKET
  *    MEANS rather than the previously-selected point — the standard
  *    parallelization of LTTB: selections become independent, one
  *    window pass, no sequential 30-step chain; first/last points kept
  *    verbatim like the reference algorithm).
  *  - q_tukey_fences: CH `seriesOutliersDetectTukey` — per-type Tukey
  *    IQR fences with EXACT type-1 order statistics (rank-selected
  *    q1/q3, never interpolated — the q_mad_outliers discipline), fence
  *    = 1.5·IQR, outlier counts both sides.
  */
object Round11eQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_welch_ttest" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        // the q_ab_test_z arms: first md5 hex char splits users
        .withColumn("g",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            0L).otherwise(1L))
        .withColumn("v", col("value").cast(dec))
      // exact sufficient statistics, pivoted into NAMED columns (the
      // cross-group float-sum rule): Σx, Σx² as wide decimals
      val stats = ev.agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === 0, col("v"))).cast(DecimalType(28, 2))
          .as("s1"),
        sum(when(col("g") === 1, col("v"))).cast(DecimalType(28, 2))
          .as("s2"),
        sum(when(col("g") === 0, (col("v") * col("v"))
          .cast(DecimalType(38, 4)))).cast(DecimalType(38, 4)).as("q1"),
        sum(when(col("g") === 1, (col("v") * col("v"))
          .cast(DecimalType(38, 4)))).cast(DecimalType(38, 4)).as("q2"))
      // one mirrored IEEE tree from here: means, unbiased variances,
      // Welch t / Welch–Satterthwaite df, pooled Student t
      stats
        .withColumn("m1", d(col("s1")) / col("n1"))
        .withColumn("m2", d(col("s2")) / col("n2"))
        .withColumn("v1",
          when(col("n1") > 1,
            (d(col("q1")) - d(col("s1")) * d(col("s1")) / col("n1"))
              / (col("n1") - 1)))
        .withColumn("v2",
          when(col("n2") > 1,
            (d(col("q2")) - d(col("s2")) * d(col("s2")) / col("n2"))
              / (col("n2") - 1)))
        .withColumn("se2", col("v1") / col("n1") + col("v2") / col("n2"))
        .withColumn("t_welch",
          when(col("se2") > 0, (col("m1") - col("m2")) / sqrt(col("se2"))))
        .withColumn("df_welch",
          when(col("se2") > 0 && col("n1") > 1 && col("n2") > 1,
            col("se2") * col("se2") /
              ((col("v1") / col("n1")) * (col("v1") / col("n1"))
                / (col("n1") - 1) +
               (col("v2") / col("n2")) * (col("v2") / col("n2"))
                / (col("n2") - 1))))
        .withColumn("sp2",
          when(col("n1") + col("n2") > 2,
            ((col("n1") - 1) * col("v1") + (col("n2") - 1) * col("v2"))
              / (col("n1") + col("n2") - 2)))
        .withColumn("t_student",
          when(col("sp2") > 0,
            (col("m1") - col("m2")) /
              sqrt(col("sp2") * (lit(1.0) / col("n1") + lit(1.0) / col("n2")))))
        .select(col("n1"), col("n2"), (col("m1") - col("m2")).as("mean_diff"),
          col("t_welch"), col("df_welch"), col("t_student"),
          (col("n1") + col("n2") - 2).as("df_student"))
    }),

    "q_lttb_downsample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nBuckets = 30
      val daily = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(dec)).as("rev"))
        .select(expr("unix_date(day)").cast("long").as("x"),
          d(col("rev")).as("y"))
      // rank-bucket the ordered series: first/last points are their own
      // buckets (kept verbatim), interior points spread over n-2
      val nR = daily.agg(count(lit(1)).as("n"))
      val ranked = daily.crossJoin(broadcast(nR))
        .withColumn("rn", row_number().over(Window.orderBy("x")))
        .withColumn("b",
          when(col("rn") === 1, lit(0L))
            .when(col("rn") === col("n"), lit(nBuckets - 1L))
            .otherwise(expr(s"(rn - 2) * ${nBuckets - 2} div (n - 2) + 1")))
      // bucket means: x sum is exact integer; the y mean folds the
      // bucket's handful of doubles in x order (cross-engine float-sum
      // rule), ONE division each
      val bucketMeans = ranked.groupBy("b")
        .agg((aggregate(array_sort(collect_list(struct(col("x"), col("y")))),
            lit(0.0), (acc, p) => acc + p.getField("y"))
            / count(lit(1))).as("my"),
          (sum(col("x")).cast("double") / count(lit(1))).as("mx"))
      val withNbrs = bucketMeans
        .withColumn("prev_mx", lag(col("mx"), 1).over(Window.orderBy("b")))
        .withColumn("prev_my", lag(col("my"), 1).over(Window.orderBy("b")))
        .withColumn("next_mx", lead(col("mx"), 1).over(Window.orderBy("b")))
        .withColumn("next_my", lead(col("my"), 1).over(Window.orderBy("b")))
      // triangle area against neighbor-bucket means (parallel LTTB);
      // edge buckets keep their single endpoint (area NULL -> rank 1)
      val scored = ranked.join(withNbrs, "b")
        .withColumn("area",
          abs((col("prev_mx") - col("next_mx")) * (col("y") - col("prev_my"))
            - (col("prev_mx") - col("x")) * (col("next_my") - col("prev_my"))))
        .withColumn("rk", row_number().over(Window.partitionBy("b")
          .orderBy(col("area").desc_nulls_last, col("x").asc)))
      scored.filter(col("rk") === 1)
        .select(col("b"), col("x").as("sel_x"), col("y").as("sel_y"),
          col("area"))
        .orderBy("b")
    }),

    "q_tukey_fences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast(dec).as("v"))
      // exact type-1 order statistics: q1 at ceil(n/4), q3 at
      // ceil(3n/4) under the value total order (ties are equal values,
      // so any stable order yields the same VALUE)
      val ranked = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("v")))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val qs = ranked
        .filter(col("rn") === ceil(col("n") / 4.0) ||
          col("rn") === ceil(col("n") * 3.0 / 4.0))
        .groupBy("event_type")
        .agg(min(col("v")).as("q1v"), max(col("v")).as("q3v"),
          max(col("n")).as("n"))
      val fenced = qs
        .withColumn("iqr", d(col("q3v")) - d(col("q1v")))
        .withColumn("lo", d(col("q1v")) - lit(1.5) * col("iqr"))
        .withColumn("hi", d(col("q3v")) + lit(1.5) * col("iqr"))
      ev.join(fenced, "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          d(max(col("q1v"))).as("q1"), d(max(col("q3v"))).as("q3"),
          max(col("iqr")).as("iqr"),
          sum(when(d(col("v")) < col("lo"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(d(col("v")) > col("hi"), 1L).otherwise(0L))
            .as("n_above"))
        .orderBy("event_type")
    }))

  val oracle: Map[String, String] = Map(

    "q_welch_ttest" ->
      """WITH ev AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 0 ELSE 1 END AS g
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |), stats AS (
        |  SELECT
        |    SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n2,
        |    CAST(SUM(CASE WHEN g = 0 THEN v END) AS DECIMAL(28,2)) AS s1,
        |    CAST(SUM(CASE WHEN g = 1 THEN v END) AS DECIMAL(28,2)) AS s2,
        |    CAST(SUM(CASE WHEN g = 0
        |      THEN CAST(v * v AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS q1,
        |    CAST(SUM(CASE WHEN g = 1
        |      THEN CAST(v * v AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS q2
        |  FROM ev
        |), m AS (
        |  SELECT n1, n2,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n1 AS m1,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n2 AS m2,
        |    CASE WHEN n1 > 1 THEN
        |      (CAST(CAST(q1 AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
        |          * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n1) / (n1 - 1)
        |    END AS v1,
        |    CASE WHEN n2 > 1 THEN
        |      (CAST(CAST(q2 AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
        |          * CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n2) / (n2 - 1)
        |    END AS v2
        |  FROM stats
        |), se AS (
        |  SELECT *, v1 / n1 + v2 / n2 AS se2,
        |    CASE WHEN n1 + n2 > 2 THEN
        |      ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
        |    END AS sp2
        |  FROM m
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  m1 - m2 AS mean_diff,
        |  CASE WHEN se2 > 0 THEN (m1 - m2) / sqrt(se2) END AS t_welch,
        |  CASE WHEN se2 > 0 AND n1 > 1 AND n2 > 1 THEN
        |    se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |      + (v2 / n2) * (v2 / n2) / (n2 - 1))
        |  END AS df_welch,
        |  CASE WHEN sp2 > 0 THEN (m1 - m2)
        |    / sqrt(sp2 * (1.0 / n1 + 1.0 / n2)) END AS t_student,
        |  CAST(n1 + n2 - 2 AS BIGINT) AS df_student
        |FROM se""".stripMargin,

    "q_lttb_downsample" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1
        |), ranked AS (
        |  SELECT x, y,
        |    row_number() OVER (ORDER BY x) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM daily
        |), bucketed AS (
        |  SELECT x, y,
        |    CASE WHEN rn = 1 THEN 0
        |      WHEN rn = n THEN 29
        |      ELSE CAST((rn - 2) * 28 // (n - 2) + 1 AS BIGINT) END AS b
        |  FROM ranked
        |), means AS (
        |  SELECT b,
        |    list_reduce([CAST(0.0 AS DOUBLE)]
        |      || COALESCE(list(y ORDER BY x), []), (a, c) -> a + c)
        |      / COUNT(*) AS my,
        |    CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mx
        |  FROM bucketed GROUP BY b
        |), nbrs AS (
        |  SELECT b,
        |    lag(mx) OVER (ORDER BY b) AS prev_mx,
        |    lag(my) OVER (ORDER BY b) AS prev_my,
        |    lead(mx) OVER (ORDER BY b) AS next_mx,
        |    lead(my) OVER (ORDER BY b) AS next_my
        |  FROM means
        |), scored AS (
        |  SELECT p.b, p.x, p.y,
        |    abs((n.prev_mx - n.next_mx) * (p.y - n.prev_my)
        |      - (n.prev_mx - p.x) * (n.next_my - n.prev_my)) AS area,
        |    row_number() OVER (PARTITION BY p.b
        |      ORDER BY abs((n.prev_mx - n.next_mx) * (p.y - n.prev_my)
        |        - (n.prev_mx - p.x) * (n.next_my - n.prev_my))
        |        DESC NULLS LAST, p.x ASC) AS rk
        |  FROM bucketed p JOIN nbrs n USING (b)
        |)
        |SELECT CAST(b AS BIGINT) AS b, CAST(x AS BIGINT) AS sel_x,
        |  y AS sel_y, area
        |FROM scored WHERE rk = 1 ORDER BY b""".stripMargin,

    "q_tukey_fences" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL
        |), ranked AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev
        |), qs AS (
        |  SELECT event_type, MIN(v) AS q1v, MAX(v) AS q3v, MAX(n) AS n
        |  FROM ranked
        |  WHERE rn = CAST(ceil(n / 4.0) AS BIGINT)
        |    OR rn = CAST(ceil(n * 3.0 / 4.0) AS BIGINT)
        |  GROUP BY event_type
        |), fenced AS (
        |  SELECT event_type, n, q1v, q3v,
        |    CAST(CAST(q3v AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(q1v AS VARCHAR) AS DOUBLE) AS iqr,
        |    CAST(CAST(q1v AS VARCHAR) AS DOUBLE) - 1.5 *
        |      (CAST(CAST(q3v AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(q1v AS VARCHAR) AS DOUBLE)) AS lo,
        |    CAST(CAST(q3v AS VARCHAR) AS DOUBLE) + 1.5 *
        |      (CAST(CAST(q3v AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(q1v AS VARCHAR) AS DOUBLE)) AS hi
        |  FROM qs
        |)
        |SELECT e.event_type, CAST(MAX(f.n) AS BIGINT) AS n,
        |  CAST(CAST(MAX(f.q1v) AS VARCHAR) AS DOUBLE) AS q1,
        |  CAST(CAST(MAX(f.q3v) AS VARCHAR) AS DOUBLE) AS q3,
        |  MAX(f.iqr) AS iqr,
        |  CAST(SUM(CASE WHEN CAST(CAST(e.v AS VARCHAR) AS DOUBLE) < f.lo
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN CAST(CAST(e.v AS VARCHAR) AS DOUBLE) > f.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM ev e JOIN fenced f USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
}
