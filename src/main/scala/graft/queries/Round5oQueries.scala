package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5o batch: iterative graph decomposition and bipartite scoring
  * — k-core peeling (the degeneracy structure that separates the dense
  * core from the fringe before any expensive graph algorithm runs) and
  * two HITS iterations over the customer→part purchase bipartite graph
  * in integer fixed-point (hub/authority scores, the bipartite
  * counterpart of the existing PageRank), plus weekday seasonality
  * from pure epoch-day arithmetic.
  *
  * Determinism rules (see Round5Queries): the iterative ops are
  * integer fixed-point (exactly associative — deterministic under any
  * aggregation order, like graph_pagerank); doubles are mirrored
  * single divisions.
  */
object Round5oQueries {

  /** Distinct undirected co-purchase edges (a < b), as Round5g —
    * delegates to the shared builder (r12: the per-order grouped pair
    * expansion replaced the self-join in ONE place).
    */
  private def coEdges(s: SparkSession, dir: String): DataFrame =
    Round5gQueries.coEdges(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // k-core peeling audit — three rounds of removing degree-<50 nodes
    // from the co-purchase graph (k=50 bites on this dense graph where
    // k=2 would not), reporting nodes/edges surviving each round. The
    // fixed-point of this peeling IS the 50-core; three rounds bound
    // the work deterministically and show the convergence trajectory —
    // the structure a pipeline inspects before running anything
    // quadratic on the "dense part". Each round is one degree
    // aggregate + two semi joins on the shrinking edge set.
    "q_kcore_peel" -> ((s, dir) => {
      val k = 50
      // Each round reads the previous round's edges THREE times (degree
      // aggregate + two semi joins), so an unpersisted chain recomputes
      // the base co-purchase join 3^rounds times — 27× here, and the
      // resulting mega-plan degraded every later query in the r5 sweep.
      // Persist each level instead; Bench/Verify clearCache() between
      // queries bounds the blocks' lifetime to this query.
      //
      // Lineage adjudication (r13, verdict r12 #2 — cold vs steady,
      // DebugJobs cold/steady walls at the same HEAD):
      //   retain rounds + SMJ semis (r12 shape):   15.1 / 3.74 s
      //   localCheckpoint rounds + SMJ semis:      15.1 / 6.78 s
      //   localCheckpoint rounds + SHUFFLE_HASH:   18.4 / 6.62 s
      //   retain rounds + SHUFFLE_HASH (kept):     15.0 / 2.46 s
      // The r12 premise that eager checkpoints halve the cold pass no
      // longer reproduces after the coEdges rewrite (cold is the same
      // 15 s either way, mostly JIT + the one-time graph build); what
      // checkpoints DO cost now is the steady pass re-deriving every
      // round (~1-2 s/round) that the retained frames read from cache.
      // Retain wins BOTH axes, so it stays.
      var edges = coEdges(s, dir)
        .transform(graft.CacheScope.retain)
      val rounds = (1 to 3).map { round =>
        val deg = edges.select(col("a").as("v"))
          .unionAll(edges.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select("v")
        // SHUFFLE_HASH, keep as build side (r13, guide §3.1): sort-merge
        // sorted the 1.2M-edge stream on BOTH semi joins every round;
        // hash-building the ≤|V| keep side streams the edges through
        // unsorted (steady 3.74 → 2.46 s, table above). Not broadcast:
        // keep grows with |V| (the LPA label-table scale argument).
        edges = edges
          .join(keep.withColumnRenamed("v", "a").hint("SHUFFLE_HASH"),
            Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("v", "b").hint("SHUFFLE_HASH"),
            Seq("b"), "left_semi")
          .transform(graft.CacheScope.retain)
        val stats = edges.agg(count(lit(1)).as("n_edges"))
        val nodes = edges.select(col("a").as("v"))
          .unionAll(edges.select(col("b").as("v"))).distinct()
          .agg(count(lit(1)).as("n_nodes"))
        stats.join(nodes).withColumn("round", lit(round))
      }
      rounds.reduce(_.unionByName(_))
        .select("round", "n_nodes", "n_edges")
        .orderBy("round")
    }),

    // Two HITS iterations over the customer→part purchase bipartite
    // graph, integer fixed-point (scores scaled by 1000, `div` for the
    // normalizing division — exactly associative, so deterministic
    // under any aggregation order, like graph_pagerank): authority(p)
    // = Σ hub(c) over buyers, hub(c) = Σ auth(p) over bought parts,
    // rescaled each half-step by the max (cross-multiplied integer
    // arithmetic). Top-10 authorities by (score, partkey). Edges are
    // the distinct (custkey, partkey) purchase pairs — one shuffle to
    // build, re-used across the four half-steps.
    "q_hits_bipartite" -> ((s, dir) => {
      // each half-step reads its raw-score subtree twice (the scores
      // and their max), so an unpersisted 4-half-step chain doubles the
      // lineage each step — persist the edge set and each raw-score
      // level (same reasoning as q_kcore_peel; clearCache between
      // queries bounds the blocks to this query)
      import org.apache.spark.storage.StorageLevel
      val edges = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .transform(graft.CacheScope.retain)
      // hub = 1000 for every customer initially
      var hubs = edges.select("c").distinct()
        .withColumn("h", lit(1000L))
      var auths: DataFrame = null
      for (_ <- 1 to 2) {
        val rawA = edges.join(hubs, "c")
          .groupBy("p").agg(sum("h").as("ra"))
          .transform(graft.CacheScope.retain)
        val maxA = rawA.agg(max("ra").as("ma"))
        auths = rawA.join(broadcast(maxA))
          .select(col("p"), call_function("div",
            col("ra") * 1000L, col("ma")).as("a"))
        val rawH = edges.join(auths, "p")
          .groupBy("c").agg(sum("a").as("rh"))
          .transform(graft.CacheScope.retain)
        val maxH = rawH.agg(max("rh").as("mh"))
        hubs = rawH.join(broadcast(maxH))
          .select(col("c"), call_function("div",
            col("rh") * 1000L, col("mh")).as("h"))
      }
      auths.orderBy(col("a").desc, col("p")).limit(10)
        .select(col("p").as("l_partkey"), col("a").as("authority"))
    }),

    // Weekday seasonality — order volume and revenue share by day of
    // week, DOW from epoch-day arithmetic ((d+4) mod 7, 0=Sunday; no
    // engine DOW convention): the load-shaping report behind cluster
    // scheduling. One combine aggregate to 7 rows.
    "q_weekday_seasonality" -> ((s, dir) => {
      val d = org.apache.spark.sql.types.DecimalType(18, 2)
      val byDow = Tables(s, dir, "orders")
        .withColumn("dow", pmod(
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")) + 4,
          lit(7)))
        .groupBy("dow")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(d)).cast("double").as("revenue"))
      val total = byDow.agg(sum("n_orders").as("total_orders"))
      byDow.join(broadcast(total))
        .withColumn("order_share",
          col("n_orders").cast("double") / col("total_orders"))
        .select("dow", "n_orders", "revenue", "total_orders",
          "order_share")
        .orderBy("dow")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_kcore_peel" -> {
      // three explicit peeling rounds as nested CTEs (k = 50)
      def peel(src: String, dst: String): String =
        s"""$dst AS (
           |  SELECT e.a, e.b FROM $src e
           |  WHERE e.a IN (SELECT v FROM (
           |      SELECT v, COUNT(*) AS d FROM (
           |        SELECT a AS v FROM $src UNION ALL SELECT b FROM $src
           |      ) GROUP BY 1) WHERE d >= 50)
           |    AND e.b IN (SELECT v FROM (
           |      SELECT v, COUNT(*) AS d FROM (
           |        SELECT a AS v FROM $src UNION ALL SELECT b FROM $src
           |      ) GROUP BY 1) WHERE d >= 50)
           |)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |), ${peel("e0", "e1")}, ${peel("e1", "e2")}, ${peel("e2", "e3")}
         |SELECT 1 AS round,
         |  (SELECT COUNT(DISTINCT v) FROM
         |    (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)) AS n_nodes,
         |  (SELECT COUNT(*) FROM e1) AS n_edges
         |UNION ALL SELECT 2,
         |  (SELECT COUNT(DISTINCT v) FROM
         |    (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)),
         |  (SELECT COUNT(*) FROM e2)
         |UNION ALL SELECT 3,
         |  (SELECT COUNT(DISTINCT v) FROM
         |    (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)),
         |  (SELECT COUNT(*) FROM e3)
         |ORDER BY round""".stripMargin
    },

    "q_hits_bipartite" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), h0 AS (
        |  SELECT DISTINCT c, CAST(1000 AS BIGINT) AS h FROM edges
        |), ra1 AS (
        |  SELECT p, CAST(SUM(h) AS BIGINT) AS ra
        |  FROM edges JOIN h0 USING (c) GROUP BY 1
        |), a1 AS (
        |  SELECT p, ra * 1000 // (SELECT MAX(ra) FROM ra1) AS a FROM ra1
        |), rh1 AS (
        |  SELECT c, CAST(SUM(a) AS BIGINT) AS rh
        |  FROM edges JOIN a1 USING (p) GROUP BY 1
        |), h1 AS (
        |  SELECT c, rh * 1000 // (SELECT MAX(rh) FROM rh1) AS h FROM rh1
        |), ra2 AS (
        |  SELECT p, CAST(SUM(h) AS BIGINT) AS ra
        |  FROM edges JOIN h1 USING (c) GROUP BY 1
        |), a2 AS (
        |  SELECT p, ra * 1000 // (SELECT MAX(ra) FROM ra2) AS a FROM ra2
        |)
        |SELECT p AS l_partkey, CAST(a AS BIGINT) AS authority
        |FROM a2 ORDER BY a DESC, p LIMIT 10""".stripMargin,

    "q_weekday_seasonality" ->
      """WITH d AS (
        |  SELECT CAST((date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) + 4) % 7 AS INT) AS dow,
        |    o_totalprice
        |  FROM orders
        |), b AS (
        |  SELECT dow, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM d GROUP BY 1
        |), t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total_orders
        |         FROM b)
        |SELECT b.dow, b.n_orders, b.revenue, t.total_orders,
        |  CAST(b.n_orders AS DOUBLE) / t.total_orders AS order_share
        |FROM b, t ORDER BY b.dow""".stripMargin,
  )
}
