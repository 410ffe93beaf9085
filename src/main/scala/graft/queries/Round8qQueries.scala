package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold
import graft.functions.VectorFunctions.dotD

/** Round-8 seventeenth batch: multiscale signals, kernel two-sample
  * testing, and sequential monitoring.
  *
  *  - q_haar_energy: 3-level Haar wavelet decomposition of the daily
  *    order-count series (64-day window, missing days zero-filled) —
  *    energy per detail level. Localizes WHERE variance lives
  *    (day-to-day noise vs weekly structure) the way q_autocorr /
  *    q_seasonal_index cannot. Integer inputs make every Haar
  *    coefficient an exact dyadic rational — bitwise determinism for
  *    free.
  *  - q_mmd_poly: kernel two-sample test — squared maximum mean
  *    discrepancy between label-0 and label-1 embeddings under the
  *    polynomial kernel (1 + x.y/64)^2, on the 100-per-group audit
  *    arm. The distribution-shift test that sees differences in
  *    SHAPE, not just mean (q_centroid_shift's blind spot).
  *  - q_sprt_monitor: Wald's sequential probability ratio test over
  *    the event stream (H0 p=0.4 vs H1 p=0.6 for value>50, error
  *    bounds alpha=beta=0.05): the first crossing of +-ln(19) and
  *    the decision. THE optimal early-stopping monitor — block-
  *    decomposed prefix sums, no single-partition window over events.
  *
  * Determinism: Haar folds pair-ordered; MMD means fold in pair-id
  * order; SPRT log-likelihood increments are literal constants
  * (ln(1.5), ln 19) shared by both engines, and all cumulative counts
  * are integers.
  */
object Round8qQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Haar: series -> (avg, det) pairs three times; energy per level.
    "q_haar_energy" -> ((s, dir) => {
      val start = broadcast(Tables(s, dir, "orders")
        .agg(min("o_orderdate").as("d0")))
      val days = Tables(s, dir, "orders").crossJoin(start)
        .select(datediff(col("o_orderdate"), col("d0")).cast("long")
          .as("d"))
        .groupBy("d").agg(count(lit(1)).as("c"))
      val series = broadcast(s.range(64).select(col("id").as("idx")))
        .join(days, col("idx") === col("d"), "left")
        .select(col("idx"), coalesce(col("c"), lit(0L)).cast("double")
          .as("v"))
      def level(in: DataFrame): DataFrame = in
        .groupBy((col("idx") / 2).cast("long").as("gidx"))
        .agg(
          (sortedFold(collect_list(struct(col("idx"), col("v"))), "v")
            / 2).as("avg_v"),
          (sortedFold(collect_list(struct(col("idx"),
            when(col("idx") % 2 === 0, col("v"))
              .otherwise(-col("v")).as("sv"))), "sv") / 2).as("det_v"))
        .select(col("gidx").as("idx"), col("avg_v"), col("det_v"))
      var cur = series
      val energies = (1 to 3).map { lvl =>
        val lv = graft.CacheScope.retain(level(cur))
        cur = lv.select(col("idx"), col("avg_v").as("v"))
        lv.agg(count(lit(1)).as("n_coeffs"),
            sortedFold(collect_list(struct(col("idx"),
              (col("det_v") * col("det_v")).as("e"))), "e")
              .as("energy"))
          .select(lit(lvl).as("level"), col("n_coeffs"), col("energy"))
      }
      energies.reduce(_ unionByName _).orderBy("level")
    }),

    // MMD^2 under (1 + x.y/64)^2 between the first 100 vectors of
    // labels 0 and 1.
    "q_mmd_poly" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val byL = Window.partitionBy("label").orderBy("vec_id")
      val g = graft.CacheScope.retain(e.filter(col("label").isin(0, 1))
        .withColumn("rn", row_number().over(byL))
        .filter(col("rn") <= 100)
        .select(col("label"), col("vec_id"), col("embedding")))
      def side(l: Int, asId: String, asE: String) =
        g.filter(col("label") === l)
          .select(col("vec_id").as(asId), col("embedding").as(asE))
      val kern = (a: Column, b: Column) => {
        val k0 = lit(1.0) + dotD(a, b) / 64
        k0 * k0
      }
      // full cross product INCLUDING the diagonal — the biased MMD
      // estimator, matching the oracle's plain label-filtered product
      def meanK(x: DataFrame, xid: String, xe: String, y: DataFrame,
          yid: String, ye: String) =
        x.crossJoin(broadcast(y))
          .select((col(xid) * 100000 + col(yid)).as("pid"),
            kern(col(xe), col(ye)).as("kv"))
          // try_divide: an absent label class makes the pair set empty
          // — the kernel mean is NULL (DuckDB's x/0), never ANSI error
          .agg(try_divide(
            sortedFold(collect_list(struct(col("pid"), col("kv"))),
              "kv"), count(lit(1))).as("m"))
      val a1 = side(0, "a_id", "ea"); val a2 = side(0, "b_id", "eb")
      val b1 = side(1, "c_id", "ec"); val b2 = side(1, "d_id", "ed")
      val mA = meanK(a1, "a_id", "ea", a2, "b_id", "eb")
        .withColumnRenamed("m", "m_aa")
      val mB = meanK(b1, "c_id", "ec", b2, "d_id", "ed")
        .withColumnRenamed("m", "m_bb")
      val mX = meanK(a1, "a_id", "ea", b1, "c_id", "ec")
        .withColumnRenamed("m", "m_ab")
      val nA = g.filter(col("label") === 0).agg(count(lit(1)).as("n_a"))
      val nB = g.filter(col("label") === 1).agg(count(lit(1)).as("n_b"))
      nA.crossJoin(broadcast(nB)).crossJoin(broadcast(mA))
        .crossJoin(broadcast(mB)).crossJoin(broadcast(mX))
        .select(col("n_a"), col("n_b"), col("m_aa"), col("m_bb"),
          col("m_ab"),
          (col("m_aa") + col("m_bb") - lit(2.0) * col("m_ab"))
            .as("mmd2"))
    }),

    // SPRT with literal LLR increments; block-decomposed prefix sums.
    "q_sprt_monitor" -> ((s, dir) => {
      val ranked = graft.CacheScope.retain(
        graft.operators.GlobalRank.withRank(
          Tables(s, dir, "events")
            .select(col("event_id"),
              when(col("value") > 50, 1L).otherwise(0L).as("sc")),
          col("event_id"), col("event_id"), "rn")
        .withColumn("tb", expr("(rn - 1) div 1024")))
      val wIn = Window.partitionBy("tb").orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val btot = ranked.groupBy("tb")
        .agg(sum("sc").cast("long").as("bsum"),
          count(lit(1)).as("bcnt"))
      val boff = btot.as("a")
        .join(broadcast(btot.as("b")), col("b.tb") < col("a.tb"), "left")
        .groupBy(col("a.tb").as("tb"))
        .agg(coalesce(sum(col("b.bsum")), lit(0L)).as("soff"))
      val cum = ranked
        .withColumn("win", sum("sc").over(wIn))
        .join(broadcast(boff), "tb")
        .select(col("rn"), (col("win") + col("soff")).as("ns"))
        .select(col("rn"), col("ns"), (col("rn") - col("ns")).as("nf"))
      // ln(0.6/0.4) and ln(19) as shared literal constants
      val llr = cum.select(col("rn"), col("ns"), col("nf"),
        (col("ns") * lit(0.4054651081081644) +
          col("nf") * lit(-0.4054651081081644)).as("l"))
      val crossed = llr
        .withColumn("dec",
          when(col("l") >= 2.9444389791664403, "accept_h1")
            .when(col("l") <= -2.9444389791664403, "accept_h0"))
        .filter(col("dec").isNotNull)
      val firstRn = broadcast(crossed.agg(min("rn").as("rn")))
      crossed.join(firstRn, "rn")
        .select(col("rn").as("n_obs"), col("ns").as("n_success"),
          col("dec").as("decision"), col("l").as("llr_at"))
    }),
  )

  private val dotSql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1,65), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val oracle: Map[String, String] = Map(
    "q_haar_energy" ->
      """WITH days AS (
        |  SELECT CAST(date_diff('day',
        |      (SELECT MIN(o_orderdate) FROM orders), o_orderdate)
        |      AS BIGINT) AS d,
        |    COUNT(*) AS c
        |  FROM orders GROUP BY 1
        |), series AS (
        |  SELECT u.i AS idx, CAST(COALESCE(days.c, 0) AS DOUBLE) AS v
        |  FROM unnest(range(0, 64)) u(i)
        |  LEFT JOIN days ON days.d = u.i
        |), l1 AS (
        |  SELECT idx // 2 AS idx,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(v ORDER BY idx), (a, q) -> a + q) / 2 AS avg_v,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(CASE WHEN idx % 2 = 0 THEN v ELSE -v END
        |        ORDER BY idx), (a, q) -> a + q) / 2 AS det_v
        |  FROM series GROUP BY idx // 2
        |), l2 AS (
        |  SELECT idx // 2 AS idx,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(avg_v ORDER BY idx), (a, q) -> a + q) / 2 AS avg_v,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(CASE WHEN idx % 2 = 0 THEN avg_v ELSE -avg_v END
        |        ORDER BY idx), (a, q) -> a + q) / 2 AS det_v
        |  FROM l1 GROUP BY idx // 2
        |), l3 AS (
        |  SELECT idx // 2 AS idx,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(avg_v ORDER BY idx), (a, q) -> a + q) / 2 AS avg_v,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(CASE WHEN idx % 2 = 0 THEN avg_v ELSE -avg_v END
        |        ORDER BY idx), (a, q) -> a + q) / 2 AS det_v
        |  FROM l2 GROUP BY idx // 2
        |)
        |SELECT 1 AS level, COUNT(*) AS n_coeffs,
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(det_v * det_v ORDER BY idx), (a, q) -> a + q)
        |    AS energy
        |FROM l1
        |UNION ALL
        |SELECT 2, COUNT(*),
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(det_v * det_v ORDER BY idx), (a, q) -> a + q)
        |FROM l2
        |UNION ALL
        |SELECT 3, COUNT(*),
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(det_v * det_v ORDER BY idx), (a, q) -> a + q)
        |FROM l3
        |ORDER BY level""".stripMargin,

    "q_mmd_poly" ->
      s"""WITH g AS (
         |  SELECT label, vec_id, embedding FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY label
         |      ORDER BY vec_id) AS rn
         |    FROM embeddings WHERE label IN (0, 1)
         |  ) WHERE rn <= 100
         |), ka AS (
         |  SELECT x.vec_id * 100000 + y.vec_id AS pid,
         |    (1.0 + ${dotSql("x.embedding", "y.embedding")} / 64)
         |      * (1.0 + ${dotSql("x.embedding", "y.embedding")} / 64)
         |      AS kv
         |  FROM g x, g y WHERE x.label = 0 AND y.label = 0
         |), kb AS (
         |  SELECT x.vec_id * 100000 + y.vec_id AS pid,
         |    (1.0 + ${dotSql("x.embedding", "y.embedding")} / 64)
         |      * (1.0 + ${dotSql("x.embedding", "y.embedding")} / 64)
         |      AS kv
         |  FROM g x, g y WHERE x.label = 1 AND y.label = 1
         |), kx AS (
         |  SELECT x.vec_id * 100000 + y.vec_id AS pid,
         |    (1.0 + ${dotSql("x.embedding", "y.embedding")} / 64)
         |      * (1.0 + ${dotSql("x.embedding", "y.embedding")} / 64)
         |      AS kv
         |  FROM g x, g y WHERE x.label = 0 AND y.label = 1
         |), m AS (
         |  SELECT
         |    (SELECT list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(kv ORDER BY pid), (a, q) -> a + q) / COUNT(*)
         |      FROM ka) AS m_aa,
         |    (SELECT list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(kv ORDER BY pid), (a, q) -> a + q) / COUNT(*)
         |      FROM kb) AS m_bb,
         |    (SELECT list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(kv ORDER BY pid), (a, q) -> a + q) / COUNT(*)
         |      FROM kx) AS m_ab,
         |    (SELECT COUNT(*) FROM g WHERE label = 0) AS n_a,
         |    (SELECT COUNT(*) FROM g WHERE label = 1) AS n_b
         |)
         |SELECT n_a, n_b, m_aa, m_bb, m_ab,
         |  m_aa + m_bb - 2.0 * m_ab AS mmd2
         |FROM m""".stripMargin,

    "q_sprt_monitor" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN value > 50 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS sc,
        |    ROW_NUMBER() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |), cum AS (
        |  SELECT rn, CAST(SUM(sc) OVER (ORDER BY rn) AS BIGINT) AS ns
        |  FROM e
        |), llr AS (
        |  SELECT rn, ns, rn - ns AS nf,
        |    ns * 4.054651081081644e-1
        |      + (rn - ns) * (-4.054651081081644e-1) AS l
        |  FROM cum
        |), crossed AS (
        |  SELECT rn, ns, l,
        |    CASE WHEN l >= 2.9444389791664403 THEN 'accept_h1'
        |         WHEN l <= -2.9444389791664403 THEN 'accept_h0' END
        |      AS dec
        |  FROM llr
        |)
        |SELECT rn AS n_obs, ns AS n_success, dec AS decision,
        |  l AS llr_at
        |FROM crossed
        |WHERE dec IS NOT NULL
        |  AND rn = (SELECT MIN(rn) FROM crossed WHERE dec IS NOT NULL)
        |""".stripMargin,
  )
}
