package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-8 twenty-second batch: the query-planning layer — semi-join
  * programs, cardinality-model evaluation, lookup-cache sizing.
  *
  *  - q_semijoin_program: Yannakakis-style full reducer over the
  *    acyclic customer–orders–lineitem chain (BUILDING segment):
  *    semi-join DOWN the chain first so the fact table shrinks before
  *    any wide join runs, then join back UP and aggregate revenue per
  *    nation. Same result as the plain join (the oracle), but the
  *    plan never materializes a row that the final answer drops — at
  *    100 TB the semi-join reduction is the difference between
  *    shuffling the full lineitem and shuffling the ~1/5 that
  *    survives.
  *  - q_cardinality_model_eval: the System-R estimator |R|*|S| /
  *    max(ndv_R, ndv_S) scored against the TRUE size of three FK
  *    joins, with the q-error the CBO literature grades by. The
  *    engine auditing its own planner statistics.
  *  - q_lookup_cache_plan: lookup-join cache sizing (the dimension-
  *    cache the reference's JDBC sink family pairs with): hit rate of
  *    an "N hottest keys" cache for N in {64, 256, 1024} from the
  *    customer-key frequency distribution. Ranking runs through the
  *    block-decomposed GlobalRank — no single-partition window over
  *    the key domain.
  *
  * Determinism: revenue sums ride DECIMAL(18,2) (exact, order-free);
  * everything else is integer counting until per-row final division.
  */
object Round8vQueries {

  private def discPrice: Column =
    col("l_extendedprice").cast(dec) *
      (lit(1).cast(dec) - col("l_discount").cast(dec))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_semijoin_program" -> ((s, dir) => {
      val cust = graft.CacheScope.retain(Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_nationkey"))
      // reduce DOWN the join tree: orders ⋉ customer, lineitem ⋉ orders
      val ord = graft.CacheScope.retain(Tables(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey"))
      val li = Tables(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), discPrice.as("rev"))
      // join back UP: every row now survives to the output
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(countDistinct("o_orderkey").as("n_orders"),
          // sum the scale-4 decimal product directly — dsum would
          // re-round it to scale 2 and drift off the oracle
          sum(col("rev")).cast("double").as("revenue"))
        .orderBy("c_nationkey")
    }),

    "q_cardinality_model_eval" -> ((s, dir) => {
      def eval(left: DataFrame, lk: String, right: DataFrame, rk: String,
          name: String): DataFrame = {
        val ls = left.agg(count(lit(1)).as("n_left"),
          countDistinct(col(lk)).as("ndv_left"))
        val rs = right.agg(count(lit(1)).as("n_right"),
          countDistinct(col(rk)).as("ndv_right"))
        val actual = left.join(right, col(lk) === col(rk))
          .agg(count(lit(1)).as("actual_rows"))
        ls.crossJoin(broadcast(rs)).crossJoin(broadcast(actual))
          .select(lit(name).as("join_name"), col("n_left"),
            col("n_right"), col("ndv_left"), col("ndv_right"),
            // cast BEFORE multiplying: a long×long product overflows
            // past ~3e9-row tables; double×double never does
            // try_divide: empty inputs zero the NDVs and the actual
            // row counts — estimates and q-errors go NULL (DuckDB x/0)
            try_divide(
              col("n_left").cast("double") * col("n_right").cast("double"),
              greatest(col("ndv_left"), col("ndv_right")).cast("double"))
              .as("est_rows"),
            col("actual_rows"))
          .select(col("*"),
            greatest(
              try_divide(col("est_rows"), col("actual_rows").cast("double")),
              try_divide(col("actual_rows").cast("double"), col("est_rows")))
              .as("q_error"))
      }
      eval(Tables(s, dir, "orders").select(col("o_custkey").as("lk")), "lk",
          Tables(s, dir, "customer").select(col("c_custkey").as("rk")), "rk",
          "orders-customer")
        .unionByName(eval(
          Tables(s, dir, "lineitem").select(col("l_orderkey").as("lk")), "lk",
          Tables(s, dir, "orders").select(col("o_orderkey").as("rk")), "rk",
          "lineitem-orders"))
        .unionByName(eval(
          Tables(s, dir, "lineitem").select(col("l_partkey").as("lk")), "lk",
          Tables(s, dir, "part").select(col("p_partkey").as("rk")), "rk",
          "lineitem-part"))
        .orderBy("join_name")
    }),

    "q_lookup_cache_plan" -> ((s, dir) => {
      val freq = Tables(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
      val ranked = graft.CacheScope.retain(
        graft.operators.GlobalRank.withRank(freq,
          -col("cnt"), col("o_custkey"), "rnk"))
      val one = ranked.agg(
        count(lit(1)).as("n_keys"), sum("cnt").as("total_lookups"),
        sum(when(col("rnk") <= 64, col("cnt")).otherwise(0L)).as("h64"),
        sum(when(col("rnk") <= 256, col("cnt")).otherwise(0L))
          .as("h256"),
        sum(when(col("rnk") <= 1024, col("cnt")).otherwise(0L))
          .as("h1024"))
      one.select(col("n_keys"), col("total_lookups"), expr(
          "stack(3, 64L, h64, 256L, h256, 1024L, h1024) " +
            "AS (cache_k, hits)"))
        .select(col("cache_k"), col("n_keys"), col("total_lookups"),
          col("hits"),
          (col("hits").cast("double") /
            col("total_lookups").cast("double")).as("hit_rate"))
        .orderBy("cache_k")
    }),
  )

  private val discSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  private def cardSql(lt: String, lk: String, rt: String, rk: String,
      name: String): String =
    s"""SELECT '$name' AS join_name,
       |  CAST((SELECT COUNT(*) FROM $lt) AS BIGINT) AS n_left,
       |  CAST((SELECT COUNT(*) FROM $rt) AS BIGINT) AS n_right,
       |  CAST((SELECT COUNT(DISTINCT $lk) FROM $lt) AS BIGINT)
       |    AS ndv_left,
       |  CAST((SELECT COUNT(DISTINCT $rk) FROM $rt) AS BIGINT)
       |    AS ndv_right,
       |  CAST((SELECT COUNT(*) FROM $lt) AS DOUBLE) *
       |    CAST((SELECT COUNT(*) FROM $rt)
       |    AS DOUBLE) / CAST(greatest(
       |      (SELECT COUNT(DISTINCT $lk) FROM $lt),
       |      (SELECT COUNT(DISTINCT $rk) FROM $rt)) AS DOUBLE)
       |    AS est_rows,
       |  CAST((SELECT COUNT(*) FROM $lt JOIN $rt ON $lk = $rk)
       |    AS BIGINT) AS actual_rows""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_semijoin_program" ->
      s"""SELECT c_nationkey,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
         |  CAST(SUM($discSql) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY c_nationkey
         |ORDER BY c_nationkey""".stripMargin,

    "q_cardinality_model_eval" ->
      s"""SELECT join_name, n_left, n_right, ndv_left, ndv_right,
         |  est_rows, actual_rows,
         |  greatest(est_rows / CAST(actual_rows AS DOUBLE),
         |    CAST(actual_rows AS DOUBLE) / est_rows) AS q_error
         |FROM (
         |  ${cardSql("orders", "o_custkey", "customer", "c_custkey",
              "orders-customer")}
         |  UNION ALL
         |  ${cardSql("lineitem", "l_orderkey", "orders", "o_orderkey",
              "lineitem-orders")}
         |  UNION ALL
         |  ${cardSql("lineitem", "l_partkey", "part", "p_partkey",
              "lineitem-part")}
         |) ORDER BY join_name""".stripMargin,

    "q_lookup_cache_plan" ->
      """WITH freq AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, o_custkey)
        |    AS rnk
        |  FROM freq
        |), one AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS total_lookups,
        |    CAST(SUM(CASE WHEN rnk <= 64 THEN cnt ELSE 0 END)
        |      AS BIGINT) AS h64,
        |    CAST(SUM(CASE WHEN rnk <= 256 THEN cnt ELSE 0 END)
        |      AS BIGINT) AS h256,
        |    CAST(SUM(CASE WHEN rnk <= 1024 THEN cnt ELSE 0 END)
        |      AS BIGINT) AS h1024
        |  FROM ranked
        |)
        |SELECT k.cache_k AS cache_k, one.n_keys AS n_keys,
        |  one.total_lookups AS total_lookups,
        |  CASE k.cache_k WHEN 64 THEN h64 WHEN 256 THEN h256
        |    ELSE h1024 END AS hits,
        |  CAST(CASE k.cache_k WHEN 64 THEN h64 WHEN 256 THEN h256
        |    ELSE h1024 END AS DOUBLE) / CAST(one.total_lookups AS DOUBLE)
        |    AS hit_rate
        |FROM one, (SELECT CAST(u.i AS BIGINT) AS cache_k
        |  FROM unnest([64, 256, 1024]) u(i)) k
        |ORDER BY cache_k""".stripMargin,
  )
}
