package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch t: offline recommender evaluation on a TEMPORAL
  * holdout — train the item-item co-occurrence model (batch 10l's
  * shape) on orders before 2000-01-01, score hit-rate@3 on the test
  * period, against the top-popularity baseline every recsys eval is
  * benchmarked on. The split is by order DATE, the leakage-safe
  * protocol (a random split would leak future co-purchases into
  * training).
  *
  * All metrics are integer counts and exact-rational rates. The rec
  * model is per-item top-3 by (support desc, neighbor asc) — a
  * row_number inside the item partition, total tie order.
  *
  * Scale posture: train pairs shuffle on the order key then the pair
  * key (bounded-basket quadratic, 10l); the rec table is ≤ 3 rows per
  * catalog item and joins to test baskets by broadcast; the
  * popularity set is 3 rows. Hit detection is an equi-join back to
  * the test basket on (order, neighbor) — never basket × catalog.
  *
  *  - q_rec_holdout_hitrate: hit-rate@3 of the co-occurrence recs on
  *    the test window.
  *  - q_rec_popularity_baseline: hit-rate@3 of the global-popularity
  *    recommender on the same protocol.
  *  - q_rec_catalog_coverage: catalog/test coverage of the rec table
  *    (the classic accuracy-vs-coverage tradeoff audit).
  */
object Round10tQueries {

  private val Split = "2000-01-01"

  /** Distinct (order, part) baskets restricted to one side of the
    * temporal split.
    */
  private def baskets(s: SparkSession, dir: String,
                      train: Boolean): DataFrame = {
    val o = Tables(s, dir, "orders")
      .filter(if (train) col("o_orderdate") < lit(Split)
              else col("o_orderdate") >= lit(Split))
      .select(col("o_orderkey"))
    Tables(s, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
  }

  /** Per-item top-3 train neighbors by (cooc desc, neighbor asc). */
  private def recs(train: DataFrame): DataFrame = {
    val l = train.select(col("o"), col("p").as("a"))
    val r = train.select(col("o"), col("p").as("b"))
    val pairs = l.join(r, Seq("o"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
    val w = Window.partitionBy("a")
      .orderBy(col("cooc").desc, col("b"))
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("a", "b", "cooc", "rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_rec_holdout_hitrate" -> ((s, dir) => {
      val train = graft.CacheScope.retain(baskets(s, dir, train = true))
      val test = graft.CacheScope.retain(baskets(s, dir, train = false))
      // the model feeds both the coverage denominator and the hit
      // join — retain it or the pair build runs twice
      val model = graft.CacheScope.retain(recs(train))
      val testItems = test.select(col("o"), col("p").as("a"))
      val covered = testItems
        .join(model.select("a").distinct(), Seq("a"), "left_semi")
      val hits = testItems
        .join(model.select(col("a"), col("b")), Seq("a"))
        .join(test.select(col("o"), col("p").as("b")), Seq("o", "b"),
          "left_semi")
        .select("o", "a").distinct()
      val n = testItems.agg(count(lit(1)).as("n_test_items"))
      val nc = covered.agg(count(lit(1)).as("n_covered"))
      val nh = hits.agg(count(lit(1)).as("n_hits"))
      n.crossJoin(broadcast(nc)).crossJoin(broadcast(nh))
        .withColumn("hitrate_covered", expr("try_divide(n_hits, n_covered)"))
        .withColumn("hitrate_all", expr("try_divide(n_hits, n_test_items)"))
    }),

    "q_rec_popularity_baseline" -> ((s, dir) => {
      val train = graft.CacheScope.retain(baskets(s, dir, train = true))
      val test = graft.CacheScope.retain(baskets(s, dir, train = false))
      val pop = train.groupBy(col("p"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("p"))
        .limit(3)
        .select(col("p").as("pop_p"))
      // per test basket: popular items present + whether the anchor
      // item is itself one of them
      val popInBasket = test
        .join(broadcast(pop), col("p") === col("pop_p"))
        .groupBy("o").agg(count(lit(1)).as("n_pop"))
      val testItems = test.select(col("o"), col("p").as("a"))
        .join(popInBasket, Seq("o"), "left")
        .withColumn("n_pop", coalesce(col("n_pop"), lit(0L)))
        .join(broadcast(pop), col("a") === col("pop_p"), "left")
        .withColumn("a_is_pop", col("pop_p").isNotNull)
      // hit: some popular item OTHER than the anchor is in the basket
      val flagged = testItems.withColumn("hit",
        (col("n_pop") - when(col("a_is_pop"), 1).otherwise(0)) > 0)
      flagged.agg(count(lit(1)).as("n_test_items"),
          coalesce(sum(col("hit").cast("long")), lit(0L)).as("n_hits"))
        .withColumn("hitrate", expr("try_divide(n_hits, n_test_items)"))
    }),

    "q_rec_catalog_coverage" -> ((s, dir) => {
      val train = graft.CacheScope.retain(baskets(s, dir, train = true))
      val test = graft.CacheScope.retain(baskets(s, dir, train = false))
      val catalog = Tables(s, dir, "part")
        .agg(countDistinct(col("p_partkey")).as("n_catalog"))
      // an item has >= 1 rec iff it appears in ANY train pair, i.e.
      // iff some basket holds it together with a second distinct item
      // — so the coverage census needs neither the pair join nor the
      // top-3 window: multi-item baskets -> semi join -> distinct.
      // Linear, and ~8x faster than materializing the pair table.
      val multi = train.groupBy("o").agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2).select("o")
      val reccedItems = graft.CacheScope.retain(
        train.join(multi, Seq("o"), "left_semi")
          .select(col("p").as("a")).distinct())
      val nRec = reccedItems.agg(count(lit(1)).as("n_recced"))
      val testDistinct = test.select("p").distinct()
      val nTest = testDistinct.agg(count(lit(1)).as("n_test_distinct"))
      val nTestCov = testDistinct
        .join(reccedItems, col("p") === col("a"), "left_semi")
        .agg(count(lit(1)).as("n_test_covered"))
      catalog.crossJoin(broadcast(nRec))
        .crossJoin(broadcast(nTest)).crossJoin(broadcast(nTestCov))
        .withColumn("catalog_coverage", expr("try_divide(n_recced, n_catalog)"))
        .withColumn("test_coverage",
          expr("try_divide(n_test_covered, n_test_distinct)"))
    }))

  private val baseSql =
    s"""train AS (
       |  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
       |  FROM lineitem l JOIN orders r ON l.l_orderkey = r.o_orderkey
       |  WHERE r.o_orderdate < TIMESTAMP '$Split 00:00:00'
       |), test AS (
       |  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
       |  FROM lineitem l JOIN orders r ON l.l_orderkey = r.o_orderkey
       |  WHERE r.o_orderdate >= TIMESTAMP '$Split 00:00:00'
       |), pairs AS (
       |  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS cooc
       |  FROM train x JOIN train y ON x.o = y.o AND x.p <> y.p
       |  GROUP BY 1, 2
       |), model AS (
       |  SELECT a, b, cooc, rk FROM (
       |    SELECT a, b, cooc, row_number() OVER (PARTITION BY a
       |      ORDER BY cooc DESC, b) AS rk
       |    FROM pairs
       |  ) WHERE rk <= 3
       |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_rec_holdout_hitrate" ->
      s"""WITH $baseSql, ti AS (
         |  SELECT o, p AS a FROM test
         |), covered AS (
         |  SELECT ti.o, ti.a FROM ti
         |  WHERE ti.a IN (SELECT DISTINCT a FROM model)
         |), hits AS (
         |  SELECT DISTINCT ti.o, ti.a
         |  FROM ti
         |  JOIN model m ON m.a = ti.a
         |  JOIN test tb ON tb.o = ti.o AND tb.p = m.b
         |)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ti) AS n_test_items,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM covered) AS n_covered,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
         |  (SELECT COUNT(*) FROM hits)
         |    / NULLIF((SELECT COUNT(*) FROM covered), 0)
         |    AS hitrate_covered,
         |  (SELECT COUNT(*) FROM hits)
         |    / NULLIF((SELECT COUNT(*) FROM ti), 0) AS hitrate_all""".stripMargin,

    "q_rec_popularity_baseline" ->
      s"""WITH $baseSql, pop AS (
         |  SELECT p AS pop_p FROM (
         |    SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM train GROUP BY 1
         |    ORDER BY n DESC, p LIMIT 3
         |  )
         |), pib AS (
         |  SELECT t.o, CAST(COUNT(*) AS BIGINT) AS n_pop
         |  FROM test t JOIN pop ON t.p = pop.pop_p
         |  GROUP BY 1
         |), ti AS (
         |  SELECT t.o, t.p AS a,
         |    COALESCE(pib.n_pop, 0) AS n_pop,
         |    t.p IN (SELECT pop_p FROM pop) AS a_is_pop
         |  FROM test t LEFT JOIN pib ON t.o = pib.o
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_test_items,
         |  CAST(COALESCE(SUM(CASE WHEN
         |    n_pop - (CASE WHEN a_is_pop THEN 1 ELSE 0 END) > 0
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
         |  COALESCE(SUM(CASE WHEN
         |    n_pop - (CASE WHEN a_is_pop THEN 1 ELSE 0 END) > 0
         |    THEN 1 ELSE 0 END), 0) / NULLIF(COUNT(*), 0) AS hitrate
         |FROM ti""".stripMargin,

    "q_rec_catalog_coverage" ->
      s"""WITH $baseSql, ri AS (
         |  SELECT DISTINCT a FROM model
         |), td AS (
         |  SELECT DISTINCT p FROM test
         |)
         |SELECT
         |  (SELECT CAST(COUNT(DISTINCT p_partkey) AS BIGINT) FROM part)
         |    AS n_catalog,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ri) AS n_recced,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM td) AS n_test_distinct,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM td
         |     WHERE td.p IN (SELECT a FROM ri)) AS n_test_covered,
         |  (SELECT COUNT(*) FROM ri)
         |    / NULLIF((SELECT COUNT(DISTINCT p_partkey) FROM part), 0)
         |    AS catalog_coverage,
         |  (SELECT COUNT(*) FROM td WHERE td.p IN (SELECT a FROM ri))
         |    / NULLIF((SELECT COUNT(*) FROM td), 0) AS test_coverage""".stripMargin)
}
