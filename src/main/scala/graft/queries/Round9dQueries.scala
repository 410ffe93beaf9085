package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 fourth batch: graph-mining depth on the part co-purchase
  * graph — seeded ranking, cohesive-subgraph peeling, and link
  * prediction; the three ops a graph platform layers over the CC /
  * PageRank / triangle base the engine already has.
  *
  *  - q_ppr_seeds: personalized PageRank (2 steps, restart mass pinned
  *    to the seed set pk % 20 = 0) in the engine's exact integer-`div`
  *    rank arithmetic (graph_pagerank's determinism trick) — top-20.
  *  - q_ktruss_support: 4-truss peeling — per-edge triangle support,
  *    drop edges with support < 2, recount on the survivor graph, drop
  *    again (2 rounds ≈ the truss fixed point on this graph; the
  *    per-round census is the output, so convergence is observable).
  *  - q_link_pred_cn: common-neighbor link prediction — non-adjacent
  *    pairs ranked by shared-neighbor count with preferential-
  *    attachment (d_u·d_w) tie-break, top-20. All-integer scores.
  *
  * Scale posture: the edge list is the only big frame (retained once,
  * CacheScope); wedge enumeration is oriented from the lexicographic
  * lower endpoint (the co-purchase graph is near-regular — the
  * degree-oriented O(√m) variant lives in graph_triangles and applies
  * unchanged if degrees skew); supports/scores shuffle edge keys,
  * never adjacency lists.
  */
object Round9dQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ppr_seeds" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edgesW = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") =!= col("y.pk"))
        .groupBy(col("x.pk").as("src"), col("y.pk").as("dst"))
        .agg(count(lit(1)).as("w"))
      val edgesD = edgesW
        .join(edgesW.groupBy("src").agg(sum(col("w")).as("deg")), "src")
        .transform(graft.CacheScope.retain)
      // restart mass lives ONLY on the seed set (pk % 20 = 0) — the
      // "personalized" in PPR; everything else starts and restarts at 0
      val restart = when(col("node") % 20 === 0, lit(150000000L))
        .otherwise(lit(0L))
      val ranks0 = Tables(s, dir, "part").select(col("p_partkey").as("node"))
        .withColumn("r", when(col("node") % 20 === 0, lit(1000000000L))
          .otherwise(lit(0L)))
      def step(ranks: DataFrame): DataFrame =
        edgesD.join(ranks, col("src") === col("node"))
          .select(col("dst"), (col("w") * expr("r div deg")).as("contrib"))
          .groupBy("dst")
          .agg(expr("(85 * sum(contrib)) div 100").as("prop"))
          .select(col("dst").as("node"), col("prop"))
          .withColumn("r", restart + col("prop"))
          .select("node", "r")
      step(step(ranks0))
        .filter(col("r") > 0)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
    }),

    "q_ktruss_support" -> ((s, dir) => {
      // edges travel as ONE packed long (a << 32 | b) through the
      // triangle enumeration (r11 verdict #2): the support-counting
      // shuffle is the single heaviest in the repo and at scale-stress
      // 100x its sort+spill footprint is what breaks the sandbox disk —
      // halving the row width (2 longs + join-key columns -> 1 long)
      // halves it. Wedge endpoints and closing-edge keys are recovered
      // with shift/mask bit ops (codegen'd, no extra columns). The pack
      // is guarded: node ids outside [0, 2^31) fail loud rather than
      // silently collide (weak-scaling replicas keep ids < 10^9 by the
      // ScaleStress ShiftUnit choice).
      val m = lit(0xFFFFFFFFL)
      val packed = when(
        col("a") >= 0 && col("a") < lit(1L << 31) &&
          col("b") >= 0 && col("b") < lit(1L << 32),
        shiftleft(col("a"), 32).bitwiseOR(col("b")))
        .otherwise(raise_error(concat(lit("ktruss edge pack overflow: "),
          col("a").cast("string"), lit(","), col("b").cast("string")))
          .cast("long"))
      val e0 = graft.CacheScope.retain(
        Round5gQueries.coEdges(s, dir).select(packed.as("pe")))
      def triangles(e: DataFrame): DataFrame =
        // wedges at the lexicographic lower endpoint a = pe >> 32:
        // (a,b),(a,c) with b<c; the closing edge (b,c) makes the
        // triangle — each triangle found exactly once.
        // closing-edge probe is a SHUFFLE_HASH join with the EDGE side
        // as build: the wedge side is Σd²/2 rows — the largest frame in
        // the repo — and a sort-merge join would SORT it (the 100×
        // spill that broke the r11 sandbox run was mostly wedge sort
        // files). Hash-building the edge side streams wedges through
        // unsorted: same result, roughly half the spill.
        e.as("x").join(e.as("y"),
            shiftright(col("x.pe"), 32) === shiftright(col("y.pe"), 32) &&
              col("x.pe").bitwiseAND(m) < col("y.pe").bitwiseAND(m))
          .select(col("x.pe").as("pe1"), col("y.pe").as("pe2"))
          .join(e.as("z").hint("SHUFFLE_HASH"),
            shiftleft(col("pe1").bitwiseAND(m), 32)
              .bitwiseOR(col("pe2").bitwiseAND(m)) === col("z.pe"))
          .select(col("pe1"), col("pe2"), col("z.pe").as("pe3"))
      // r13 (guide §2.3 / verdict r12 #3): the second peel round used to
      // RE-ENUMERATE triangles on the survivor graph — but round 1 only
      // removes ~5 % of edges at sf0.1 (1.196M → 1.134M) and ~98 % of
      // triangles survive (1.884M → 1.852M), so that second wedge join
      // (the heaviest frame in the repo) redid ~98 % of its work for a
      // ~2 % delta. Support is decremented INCREMENTALLY instead: a
      // triangle of e1 is exactly a triangle of e0 with no removed edge,
      // so sup1(e) = sup0(e) − #(dead triangles containing e), where
      // dead = tri0 rows with ≥1 edge in the removed set (~33k of 1.88M
      // at sf0.1). The triangle list is retained once (3 packed longs/
      // row — the same rows the old shape streamed through its explode)
      // and feeds sup0 AND the dead-triangle filter; the removed set is
      // probed with a SHUFFLE_HASH semi join (removed grows with |E|, so
      // no broadcast — the LPA label-table scale argument).
      val tris = triangles(e0).transform(graft.CacheScope.retain)
      val sup0 = tris
        .select(explode(array(col("pe1"), col("pe2"), col("pe3"))).as("pe"))
        .groupBy("pe").agg(count(lit(1)).as("sup"))
        .transform(graft.CacheScope.retain)
      // 4-truss: every edge needs support >= k-2 = 2. Every sup0 key IS
      // an e0 edge (triangle edges come from e0) and keys are unique
      // after the groupBy, so the kept-edge COUNTS need no join back to
      // e0 — only `removed` still probes e0 (for edges in no triangle).
      val kept = sup0.filter(col("sup") >= 2)
      // removed = edges peeled in round 1 (sup < 2 OR in no triangle)
      val removed = e0.join(kept.hint("SHUFFLE_HASH"),
        Seq("pe"), "left_anti")
      // dead triangles: any of the 3 edges removed; struct-distinct so a
      // triangle losing 2+ edges still decrements each survivor once
      val dead = tris
        .select(struct(col("pe1"), col("pe2"), col("pe3")).as("t"),
          explode(array(col("pe1"), col("pe2"), col("pe3"))).as("pe"))
        .join(removed.hint("SHUFFLE_HASH"), Seq("pe"), "left_semi")
        .select("t").distinct()
      val dec = dead
        .select(explode(array(col("t.pe1"), col("t.pe2"), col("t.pe3")))
          .as("pe"))
        .groupBy("pe").agg(count(lit(1)).as("dec"))
      // e2 = kept edges whose decremented support stays >= 2
      val c2 = kept
        .join(dec.hint("SHUFFLE_HASH"), Seq("pe"), "left")
        .filter(col("sup") - coalesce(col("dec"), lit(0L)) >= 2)
        .agg(count(lit(1)).as("n_edges_2"))
      val c0 = e0.agg(count(lit(1)).as("n_edges_0"))
      val t0 = sup0.agg(coalesce(sum("sup"), lit(0L)).as("support_total_0"))
      val c1 = kept.agg(count(lit(1)).as("n_edges_1"))
      c0.crossJoin(broadcast(t0)).crossJoin(broadcast(c1))
        .crossJoin(broadcast(c2))
    }),

    "q_link_pred_cn" -> ((s, dir) => {
      val e = graft.CacheScope.retain(Round5gQueries.coEdges(s, dir))
      // undirected adjacency: both orientations
      val adj = e.select(col("a").as("v"), col("b").as("n"))
        .unionAll(e.select(col("b").as("v"), col("a").as("n")))
        .transform(graft.CacheScope.retain)
      val deg = adj.groupBy("v").agg(count(lit(1)).as("d"))
      // candidates for a SEED COHORT (u % 100 = 0, ~1% of nodes): the
      // production shape — recommendations are computed per active
      // batch, never all-pairs (the unrestricted 2-hop set is Σd²;
      // measured 21.8 s vs 3.9 s here at sf0.1, and it only worsens
      // with scale). Wedge (u, v, w): u seed, v shared neighbor.
      // seed side broadcast (guide §3.1): the filter keeps ~1% of adj
      // (the seed cohort's wedges' outer legs), so broadcasting it
      // replaces the sort-merge shuffle+sort of the FULL 4.8M-row
      // bidirectional adjacency on the middle vertex with a broadcast
      // hash probe; the wedge rows still partial-aggregate map-side
      // before the (u, w) exchange. Results identical — the seed filter
      // references only the x side and was already pushed below the join.
      val cand = broadcast(adj.as("x").filter(col("x.n") % 100 === 0))
        .join(adj.as("y"),
          col("x.v") === col("y.v") && col("x.n") =!= col("y.n"))
        .groupBy(col("x.n").as("u"), col("y.n").as("w"))
        .agg(count(lit(1)).as("cn"))
        // drop pairs that are already edges (coEdges is a<b canonical);
        // SHUFFLE_HASH: sort-merge sorted the multi-million-row
        // candidate side for a probe against a 1.2M-row edge set (§3.1)
        .join(e.hint("SHUFFLE_HASH"),
          least(col("u"), col("w")) === col("a") &&
          greatest(col("u"), col("w")) === col("b"), "left_anti")
      // deg is a ≤|nodes| aggregate (~20k rows): broadcast both lookups
      // instead of sort-merging the candidate frame twice (§3.1)
      cand
        .join(broadcast(deg.select(col("v").as("u"), col("d").as("du"))), "u")
        .join(broadcast(deg.select(col("v").as("w"), col("d").as("dw"))), "w")
        .select(col("u"), col("w"), col("cn"),
          (col("du") * col("dw")).as("pa"))
        .orderBy(col("cn").desc, col("pa").desc, col("u"), col("w"))
        .limit(20)
    }))

  /** coEdges mirror: distinct co-purchase pairs a<b. */
  private val edgeCte =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), e AS (
      |  SELECT DISTINCT x.pk AS a, y.pk AS b
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_ppr_seeds" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT x.pk AS src, y.pk AS dst, COUNT(*) AS w
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk <> y.pk
        |  GROUP BY x.pk, y.pk
        |), deg AS (SELECT src, SUM(w) AS deg FROM edges GROUP BY 1),
        |r0 AS (
        |  SELECT p_partkey AS node,
        |    CAST(CASE WHEN p_partkey % 20 = 0 THEN 1000000000
        |      ELSE 0 END AS BIGINT) AS r
        |  FROM part
        |), s1 AS (
        |  SELECT e.dst AS node,
        |    CAST(CASE WHEN e.dst % 20 = 0 THEN 150000000 ELSE 0 END
        |      + (85 * SUM(e.w * (r0.r // d.deg))) // 100 AS BIGINT) AS r
        |  FROM edges e
        |  JOIN deg d ON e.src = d.src
        |  JOIN r0 ON e.src = r0.node
        |  GROUP BY e.dst
        |), s2 AS (
        |  SELECT e.dst AS node,
        |    CAST(CASE WHEN e.dst % 20 = 0 THEN 150000000 ELSE 0 END
        |      + (85 * SUM(e.w * (s1.r // d.deg))) // 100 AS BIGINT) AS r
        |  FROM edges e
        |  JOIN deg d ON e.src = d.src
        |  JOIN s1 ON e.src = s1.node
        |  GROUP BY e.dst
        |)
        |SELECT node, r FROM s2 WHERE r > 0
        |ORDER BY r DESC, node LIMIT 20""".stripMargin,

    "q_ktruss_support" -> (edgeCte +
      """, tri0 AS (
        |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        |), sup0 AS (
        |  SELECT a, b, COUNT(*) AS sup FROM (
        |    SELECT ta AS a, tb AS b FROM tri0
        |    UNION ALL SELECT ta, tc FROM tri0
        |    UNION ALL SELECT tb, tc FROM tri0
        |  ) GROUP BY a, b
        |), e1 AS (
        |  SELECT e.a, e.b FROM e JOIN sup0 USING (a, b) WHERE sup >= 2
        |), tri1 AS (
        |  SELECT x.a AS ta, x.b AS tb, y.b AS tc
        |  FROM e1 x JOIN e1 y ON x.a = y.a AND x.b < y.b
        |  JOIN e1 z ON z.a = x.b AND z.b = y.b
        |), sup1 AS (
        |  SELECT a, b, COUNT(*) AS sup FROM (
        |    SELECT ta AS a, tb AS b FROM tri1
        |    UNION ALL SELECT ta, tc FROM tri1
        |    UNION ALL SELECT tb, tc FROM tri1
        |  ) GROUP BY a, b
        |), e2 AS (
        |  SELECT e1.a, e1.b FROM e1 JOIN sup1 USING (a, b) WHERE sup >= 2
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges_0,
        |  (SELECT CAST(COALESCE(SUM(sup), 0) AS BIGINT) FROM sup0)
        |    AS support_total_0,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges_1,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS n_edges_2""".stripMargin),

    "q_link_pred_cn" -> (edgeCte +
      """, adj AS (
        |  SELECT a AS v, b AS n FROM e
        |  UNION ALL SELECT b AS v, a AS n FROM e
        |), deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM adj GROUP BY v),
        |cand AS (
        |  SELECT x.n AS u, y.n AS w, CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM adj x JOIN adj y ON x.v = y.v AND x.n <> y.n
        |  WHERE x.n % 100 = 0
        |  GROUP BY x.n, y.n
        |), nonedge AS (
        |  SELECT c.u, c.w, c.cn FROM cand c
        |  LEFT JOIN e ON LEAST(c.u, c.w) = e.a AND GREATEST(c.u, c.w) = e.b
        |  WHERE e.a IS NULL
        |)
        |SELECT ne.u, ne.w, ne.cn, du.d * dw.d AS pa
        |FROM nonedge ne
        |JOIN deg du ON ne.u = du.v
        |JOIN deg dw ON ne.w = dw.v
        |ORDER BY ne.cn DESC, pa DESC, ne.u, ne.w LIMIT 20""".stripMargin))
}
