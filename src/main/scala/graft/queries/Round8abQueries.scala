package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{dec, md5Head, md5HeadSql}

/** Round-8 twenty-eighth batch: estimation-quality audits — the three
  * places a cost-based optimizer's guesses meet reality.
  *
  *  - q_selectivity_independence: the independence assumption scored —
  *    sel(A AND B) vs sel(A)·sel(B) for three predicate pairs, with
  *    the correlation factor actual/estimated that CBOs silently
  *    assume is 1. One scan, indicator sums only.
  *  - q_histogram_selectivity: range-predicate selectivity estimated
  *    from a 10-bucket equi-width histogram (uniform-within-bucket
  *    interpolation) vs the true selectivity, at three cutoffs — the
  *    error the optimizer's histogram actually carries.
  *  - q_sample_aqp_eval: approximate-query-processing audit: COUNT /
  *    MEAN per return flag estimated from a deterministic 1% md5 row
  *    sample, scaled up and scored against the exact answer. The
  *    sampling-error table that decides whether a 100 TB scan can be
  *    replaced by a 1 TB one.
  *
  * Determinism: indicator/count arithmetic is integral; histogram
  * bucket indices and interpolation shares are identical per-row
  * double DAGs; sample membership is the md5-head coin; money sums
  * ride DECIMAL(18,2).
  */
object Round8abQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_selectivity_independence" -> ((s, dir) => {
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax"))
      def pair(name: String, a: Column, b: Column): DataFrame = li
        .agg(count(lit(1)).as("n"),
          sum(when(a, 1L).otherwise(0L)).as("ca"),
          sum(when(b, 1L).otherwise(0L)).as("cb"),
          sum(when(a && b, 1L).otherwise(0L)).as("cab"))
        // try_divide: an empty table (n = 0) or a never-true predicate
        // (sel_est = 0) makes the ratios NULL, like DuckDB's x/0
        .select(lit(name).as("pair"), col("n"),
          try_divide(col("ca").cast("double"), col("n").cast("double"))
            .as("sel_a"),
          try_divide(col("cb").cast("double"), col("n").cast("double"))
            .as("sel_b"),
          (try_divide(col("ca").cast("double"), col("n").cast("double")) *
            try_divide(col("cb").cast("double"), col("n").cast("double")))
            .as("sel_est"),
          try_divide(col("cab").cast("double"), col("n").cast("double"))
            .as("sel_actual"))
        .select(col("*"),
          try_divide(col("sel_actual"), col("sel_est")).as("corr_factor"))
      pair("1_flag_status", col("l_returnflag") === "R",
          col("l_linestatus") === "F")
        .unionByName(pair("2_qty_price", col("l_quantity") > 25,
          col("l_extendedprice") > 50000))
        .unionByName(pair("3_disc_tax", col("l_discount") > 0.05,
          col("l_tax") > 0.05))
        .orderBy("pair")
    }),

    "q_histogram_selectivity" -> ((s, dir) => {
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .select(col("l_extendedprice").as("x")))
      val b = broadcast(li.agg(min("x").as("lo"), max("x").as("hi"))
        .select(col("lo"), ((col("hi") - col("lo")) / lit(10.0))
          .as("w")))
      val hist = li.crossJoin(b)
        .select(least(floor((col("x") - col("lo")) / col("w")), lit(9L))
          .cast("long").as("bkt"))
        .groupBy("bkt").agg(count(lit(1)).as("cnt"))
      val tot = broadcast(li.agg(count(lit(1)).as("n")))
      val cuts = broadcast(s.range(3).select(
        element_at(array(lit(25000.0), lit(50000.0), lit(75000.0)),
          (col("id") + 1).cast("int")).as("c")))
      // uniform-within-bucket interpolation for P(x > c)
      val est = hist.crossJoin(cuts).crossJoin(b)
        .select(col("c"), col("cnt"), col("bkt"),
          least(floor((col("c") - col("lo")) / col("w")), lit(9L))
            .cast("long").as("cbkt"),
          ((col("lo") + (col("bkt") + 1).cast("double") * col("w") -
            col("c")) / col("w")).as("part_frac"))
        .groupBy("c")
        .agg(aggregate(transform(array_sort(collect_list(struct(
            col("bkt"),
            when(col("bkt") > col("cbkt"), col("cnt").cast("double"))
              .when(col("bkt") === col("cbkt"),
                col("cnt").cast("double") * col("part_frac"))
              .otherwise(lit(0.0)).as("term")))), _.getField("term")),
          lit(0.0), (acc, v) => acc + v).as("est_cnt"))
      val actual = li.crossJoin(cuts)
        .groupBy("c")
        .agg(sum(when(col("x") > col("c"), 1L).otherwise(0L))
          .as("act_cnt"))
      est.join(actual, "c").crossJoin(tot)
        .select(col("c").as("cutoff"),
          (col("est_cnt") / col("n").cast("double")).as("est_sel"),
          (col("act_cnt").cast("double") / col("n").cast("double"))
            .as("actual_sel"))
        .select(col("*"),
          abs(col("est_sel") - col("actual_sel")).as("abs_err"))
        .orderBy("cutoff")
    }),

    "q_sample_aqp_eval" -> ((s, dir) => {
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          md5Head(concat(lit("aqp:"), col("l_orderkey"), lit(":"),
            col("l_linenumber"), lit(":"), col("l_partkey"), lit(":"),
            col("l_suppkey"), lit(":"),
            col("l_quantity").cast("long"))).as("h")))
      val exact = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_actual"),
          sum(col("l_extendedprice").cast(dec)).as("s_actual"))
      val samp = li.filter(col("h") % 100 === 0)
        .groupBy(col("l_returnflag").as("sf"))
        .agg(count(lit(1)).as("n_samp"),
          sum(col("l_extendedprice").cast(dec)).as("s_samp"))
      exact.join(samp, col("l_returnflag") === col("sf"))
        .select(col("l_returnflag"), col("n_actual"),
          (col("n_samp") * 100).as("n_est"),
          (col("s_actual").cast("double") /
            col("n_actual").cast("double")).as("mean_actual"),
          (col("s_samp").cast("double") / col("n_samp").cast("double"))
            .as("mean_est"))
        .select(col("*"),
          (abs((col("n_est") - col("n_actual")).cast("double")) /
            col("n_actual").cast("double")).as("count_rel_err"),
          (abs(col("mean_est") - col("mean_actual")) /
            col("mean_actual")).as("mean_rel_err"))
        .orderBy("l_returnflag")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_selectivity_independence" -> Seq(
        ("1_flag_status", "l_returnflag = 'R'", "l_linestatus = 'F'"),
        ("2_qty_price", "l_quantity > 25", "l_extendedprice > 50000"),
        ("3_disc_tax", "l_discount > 0.05", "l_tax > 0.05"))
      .map { case (name, a, b) =>
        s"""SELECT '$name' AS pair, n, sel_a, sel_b, sel_est,
           |  sel_actual, sel_actual / sel_est AS corr_factor
           |FROM (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN $a THEN 1 ELSE 0 END) AS DOUBLE) /
           |      CAST(COUNT(*) AS DOUBLE) AS sel_a,
           |    CAST(SUM(CASE WHEN $b THEN 1 ELSE 0 END) AS DOUBLE) /
           |      CAST(COUNT(*) AS DOUBLE) AS sel_b,
           |    CAST(SUM(CASE WHEN $a THEN 1 ELSE 0 END) AS DOUBLE) /
           |      CAST(COUNT(*) AS DOUBLE) *
           |      (CAST(SUM(CASE WHEN $b THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(COUNT(*) AS DOUBLE)) AS sel_est,
           |    CAST(SUM(CASE WHEN ($a) AND ($b) THEN 1 ELSE 0 END)
           |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS sel_actual
           |  FROM lineitem
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY pair"),

    "q_histogram_selectivity" ->
      """WITH b AS (
        |  SELECT MIN(l_extendedprice) AS lo,
        |    (MAX(l_extendedprice) - MIN(l_extendedprice)) / 10.0 AS w
        |  FROM lineitem
        |), hist AS (
        |  SELECT CAST(least(floor((l_extendedprice - b.lo) / b.w), 9)
        |    AS BIGINT) AS bkt, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem, b GROUP BY 1
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
        |cuts AS (SELECT unnest([CAST(25000.0 AS DOUBLE),
        |  CAST(50000.0 AS DOUBLE), CAST(75000.0 AS DOUBLE)]) AS c),
        |est AS (
        |  SELECT c, list_reduce([CAST(0 AS DOUBLE)] || list(CASE
        |    WHEN bkt > cbkt THEN CAST(cnt AS DOUBLE)
        |    WHEN bkt = cbkt THEN CAST(cnt AS DOUBLE) * part_frac
        |    ELSE 0.0 END ORDER BY bkt), (a, q) -> a + q) AS est_cnt
        |  FROM (
        |    SELECT cuts.c AS c, hist.cnt AS cnt, hist.bkt AS bkt,
        |      CAST(least(floor((cuts.c - b.lo) / b.w), 9) AS BIGINT)
        |        AS cbkt,
        |      (b.lo + CAST(hist.bkt + 1 AS DOUBLE) * b.w - cuts.c) / b.w
        |        AS part_frac
        |    FROM hist CROSS JOIN cuts CROSS JOIN b
        |  ) GROUP BY c
        |), act AS (
        |  SELECT cuts.c AS c,
        |    CAST(SUM(CASE WHEN l_extendedprice > cuts.c THEN 1 ELSE 0
        |      END) AS BIGINT) AS act_cnt
        |  FROM lineitem CROSS JOIN cuts GROUP BY cuts.c
        |)
        |SELECT est.c AS cutoff,
        |  est.est_cnt / CAST(tot.n AS DOUBLE) AS est_sel,
        |  CAST(act.act_cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)
        |    AS actual_sel,
        |  abs(est.est_cnt / CAST(tot.n AS DOUBLE) -
        |    CAST(act.act_cnt AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |    AS abs_err
        |FROM est JOIN act ON est.c = act.c CROSS JOIN tot
        |ORDER BY cutoff""".stripMargin,

    "q_sample_aqp_eval" ->
      s"""WITH li AS (
         |  SELECT l_returnflag, l_extendedprice,
         |    ${md5HeadSql("'aqp:' || CAST(l_orderkey AS VARCHAR) || " +
             "':' || CAST(l_linenumber AS VARCHAR) || ':' || " +
             "CAST(l_partkey AS VARCHAR) || ':' || " +
             "CAST(l_suppkey AS VARCHAR) || ':' || " +
             "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)")} AS h
         |  FROM lineitem
         |), exact AS (
         |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_actual,
         |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_actual
         |  FROM li GROUP BY l_returnflag
         |), samp AS (
         |  SELECT l_returnflag AS sf, CAST(COUNT(*) AS BIGINT) AS n_samp,
         |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_samp
         |  FROM li WHERE h % 100 = 0 GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, n_actual,
         |  CAST(n_samp * 100 AS BIGINT) AS n_est,
         |  CAST(s_actual AS DOUBLE) / CAST(n_actual AS DOUBLE)
         |    AS mean_actual,
         |  CAST(s_samp AS DOUBLE) / CAST(n_samp AS DOUBLE) AS mean_est,
         |  abs(CAST(n_samp * 100 - n_actual AS DOUBLE)) /
         |    CAST(n_actual AS DOUBLE) AS count_rel_err,
         |  abs(CAST(s_samp AS DOUBLE) / CAST(n_samp AS DOUBLE) -
         |    CAST(s_actual AS DOUBLE) / CAST(n_actual AS DOUBLE)) /
         |    (CAST(s_actual AS DOUBLE) / CAST(n_actual AS DOUBLE))
         |    AS mean_rel_err
         |FROM exact JOIN samp ON l_returnflag = sf
         |ORDER BY l_returnflag""".stripMargin,
  )
}
