package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Round-6d batch: product/returns analytics and exact-arithmetic
  * embedding quality gates.
  *
  *  - q_return_rate_brand: return-flag share per part brand
  *  - q_part_supplier_coverage: how many distinct suppliers serve each
  *    part (supply-chain redundancy histogram)
  *  - q_brand_mix_shift: per-brand revenue share pre/post 1998 and the
  *    absolute shift (assortment drift)
  *  - q_engagement_depth: events-per-user depth bands (bounce → power
  *    user)
  *  - q_embedding_outliers: 2σ outliers of the quantized squared norm
  *    with the ENTIRE z-gate in integer/decimal arithmetic —
  *    (n·v − S)² > 4·(n·Q − S²) — so the oracle matches bitwise with
  *    no FP mean/stddev anywhere
  */
object Round6dQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Returns by brand: R-flag line share per p_brand (the product-
    // quality ranking a merchandiser reads first). Fact joins the
    // 2k-row part dim via broadcast; counts exact, one division.
    "q_return_rate_brand" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_returnflag"))
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
        .withColumn("return_rate",
          col("n_returned").cast("double") / col("n_lines"))
        .orderBy("p_brand")),

    // Supply redundancy: distinct suppliers per part (from observed
    // lineitem pairs), histogrammed — parts with one supplier are the
    // single-point-of-failure list.
    "q_part_supplier_coverage" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("k_suppliers"))
        .groupBy("k_suppliers")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("k_suppliers")),

    // Assortment drift: per-brand revenue share before/after 1998 and
    // |Δshare|. Cents-quantized integer sums; the two shares and the
    // gap are mirrored per-row doubles (no cross-brand FP reduction —
    // the per-brand table IS the deliverable, like q_calibration_bins).
    "q_brand_mix_shift" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents"))
      val withDate = li.join(Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      val byBrand = withDate
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(when(col("o_orderdate") < "1998-01-01", col("cents"))
            .otherwise(0L)).as("cents1"),
          sum(when(col("o_orderdate") >= "1998-01-01", col("cents"))
            .otherwise(0L)).as("cents2"))
      val tot = byBrand.agg(sum("cents1").as("t1"), sum("cents2").as("t2"))
      byBrand.crossJoin(broadcast(tot))
        // try_divide: a single-era corpus zeroes one side's total —
        // that era's shares are NULL (DuckDB's x/0)
        .withColumn("share1", try_divide(col("cents1").cast("double"),
          col("t1")))
        .withColumn("share2", try_divide(col("cents2").cast("double"),
          col("t2")))
        .withColumn("abs_shift", abs(col("share1") - col("share2")))
        .select("p_brand", "cents1", "cents2", "share1", "share2",
          "abs_shift")
        .orderBy("p_brand")
    }),

    // Engagement depth: users histogrammed into 20-event-wide lifetime
    // activity bands (band_lo = 20·⌊n/20⌋), with population share —
    // the depth distribution a retention team watches shift left.
    "q_engagement_depth" -> ((s, dir) => {
      val perUser = Tables(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      val banded = perUser.withColumn("band_lo",
        call_function("div", col("n_events"), lit(20L)) * 20L)
      val tot = perUser.agg(count(lit(1)).as("n_users"),
        min("n_events").as("min_events"),
        max("n_events").as("max_events"))
      banded.groupBy("band_lo").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share", col("n").cast("double") / col("n_users"))
        .select("band_lo", "n", "n_users", "min_events", "max_events",
          "share")
        .orderBy("band_lo")
    }),

    // Embedding-norm outliers with NO floating point anywhere in the
    // gate: each vector's squared norm quantizes per element to milli-
    // units (v = Σ floor(xᵢ·1000)² — exact longs), population moments
    // are S = Σv and Q = Σv² in DECIMAL(38,0) (Q overflows a long at
    // 2k vectors already), and the 2σ z-gate is the integer comparison
    // (n·v − S)² > 4·(n·Q − S²). Emits the outlier vectors.
    "q_embedding_outliers" -> ((s, dir) => {
      val vExpr = aggregate(col("embedding"), lit(0L),
        (acc, x) => {
          val m = floor(x.cast("double") * 1000.0).cast("long")
          acc + m * m
        })
      val base = Tables(s, dir, "embeddings")
        .select(col("vec_id"), vExpr.as("v"))
      val d38 = DecimalType(38, 0)
      val stats = base.agg(count(lit(1)).as("n"),
        sum(col("v").cast(d38)).as("s"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("q"))
      base.crossJoin(broadcast(stats))
        .withColumn("lhs",
          (col("n").cast(d38) * col("v").cast(d38) - col("s"))
            * (col("n").cast(d38) * col("v").cast(d38) - col("s")))
        .withColumn("rhs",
          lit(4).cast(d38) * (col("n").cast(d38) * col("q")
            - col("s") * col("s")))
        .filter(col("lhs") > col("rhs"))
        .select(col("vec_id"), col("v").as("sq_norm_milli2"))
        .orderBy("vec_id")
    }))

  val oracle: Map[String, String] = Map(

    "q_return_rate_brand" ->
      """SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  CAST(CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0
        |    END) AS BIGINT) AS DOUBLE) / COUNT(*) AS return_rate
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_part_supplier_coverage" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |), k AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS k_suppliers
        |  FROM ps GROUP BY 1
        |)
        |SELECT k_suppliers, CAST(COUNT(*) AS BIGINT) AS n_parts
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_brand_mix_shift" ->
      """WITH b AS (
        |  SELECT p.p_brand,
        |    CAST(SUM(CASE WHEN o.o_orderdate < '1998-01-01'
        |      THEN CAST(FLOOR(l.l_extendedprice * 100.0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS cents1,
        |    CAST(SUM(CASE WHEN o.o_orderdate >= '1998-01-01'
        |      THEN CAST(FLOOR(l.l_extendedprice * 100.0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS cents2
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(cents1) AS BIGINT) AS t1,
        |    CAST(SUM(cents2) AS BIGINT) AS t2
        |  FROM b
        |)
        |SELECT b.p_brand, b.cents1, b.cents2,
        |  CAST(b.cents1 AS DOUBLE) / t.t1 AS share1,
        |  CAST(b.cents2 AS DOUBLE) / t.t2 AS share2,
        |  ABS(CAST(b.cents1 AS DOUBLE) / t.t1
        |    - CAST(b.cents2 AS DOUBLE) / t.t2) AS abs_shift
        |FROM b, t ORDER BY b.p_brand""".stripMargin,

    "q_engagement_depth" ->
      """WITH pu AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1
        |), banded AS (
        |  SELECT (n_events // 20) * 20 AS band_lo FROM pu
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(MIN(n_events) AS BIGINT) AS min_events,
        |    CAST(MAX(n_events) AS BIGINT) AS max_events
        |  FROM pu
        |)
        |SELECT band_lo, CAST(COUNT(*) AS BIGINT) AS n, tot.n_users,
        |  tot.min_events, tot.max_events,
        |  CAST(COUNT(*) AS DOUBLE) / tot.n_users AS share
        |FROM banded, tot
        |GROUP BY band_lo, tot.n_users, tot.min_events, tot.max_events
        |ORDER BY band_lo""".stripMargin,

    "q_embedding_outliers" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
        |        * CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)))
        |      AS BIGINT) AS v
        |  FROM embeddings
        |), st AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT))
        |      AS HUGEINT) AS q
        |  FROM base
        |)
        |SELECT b.vec_id, b.v AS sq_norm_milli2
        |FROM base b, st
        |WHERE (st.n * CAST(b.v AS HUGEINT) - st.s)
        |    * (st.n * CAST(b.v AS HUGEINT) - st.s)
        |  > 4 * (st.n * st.q - st.s * st.s)
        |ORDER BY b.vec_id""".stripMargin)
}
