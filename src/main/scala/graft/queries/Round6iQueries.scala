package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6i batch: second-order graph structure over the part
  * co-purchase graph (edges from [[Round5gQueries.coEdges]]).
  *
  *  - q_local_clustering: top-20 nodes by local clustering coefficient
  *    from an explicit triangle LISTING (degree-oriented, so the
  *    enumeration stays wedge-bounded at scale)
  *  - q_degree_assortativity: degree–degree Pearson r across edges
  *    from exact integer sufficient statistics
  *  - q_rich_club: rich-club coefficient phi(k) over four degree
  *    thresholds in a single conditional-sum pass (do hubs
  *    preferentially connect to hubs?)
  *  - q_brand_subgraph_density: per-brand induced-subgraph edge
  *    density (intra-brand co-purchase cohesion)
  *
  * Determinism: all sums are BIGINT (counts, quantized weights); each
  * double is a final division mirrored in the oracle.
  */
object Round6iQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-node clustering coefficient, top-20 (TakeOrdered — only 20
    // rows leave the executors). Triangles are
    // LISTED (not just counted) via the degree-ordered orientation:
    // each oriented edge (u,v) intersects out-adjacency lists, and the
    // exploded common neighbor w yields the triangle {u,v,w} exactly
    // once. Each vertex of the triangle gets +1; cc(v) = 2T(v) /
    // (d(v)(d(v)-1)); degree-1 nodes (cc undefined) are excluded.
    // Scale: out-degrees are O(sqrt(m))-bounded by the orientation, so
    // the intersect payloads stay small; the explode materializes only
    // true triangles (3 rows each), never the wedge set.
    "q_local_clustering" -> ((s, dir) => {
      // e and deg both feed multiple consumers (orientation joins, the
      // final degree filter): retained once instead of re-deriving the
      // lineitem self-join + distinct per consumer (see graph_triangles)
      val e = graft.CacheScope.retain(Round5gQueries.coEdges(s, dir))
      val deg = graft.CacheScope.retain(
        e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d")))
      val keyed = e
        .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
      val oriented = keyed.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
        .select(col("o.src").as("src"), col("o.dst").as("dst"))
      val adjOut = oriented.groupBy(col("src").as("u"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      // one explode per triangle VERTEX: the apex list is concatenated
      // with the two endpoints and flattened in a single pass, so the
      // expensive listing subtree is evaluated exactly once (a triple
      // unionAll over the same subtree would recompute the joins 3x —
      // measured 20.7 s vs 7 s at sf0.1). The intersection itself is the
      // primitive sorted-merge (graft_lsorted_intersect) over lists
      // sorted once per node — array_intersect's per-row boxed hash set
      // dominated this query's 117 s of task CPU at sf0.1.
      val triVerts = oriented
        .join(adjOut, col("src") === col("u"))
        .join(adjOut.select(col("u").as("u2"), col("nbrs").as("nbrs2")),
          col("dst") === col("u2"), "left")
        .select(col("src"), col("dst"),
          call_function("graft_lsorted_intersect", col("nbrs"),
            coalesce(col("nbrs2"), array().cast("array<bigint>"))).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(explode(concat(array(col("src"), col("dst")),
          col("ws"))).as("v"),
          size(col("ws")).as("nw"), col("src"), col("dst"))
        // endpoints count once per apex; each apex counts once
        .select(col("v"),
          when(col("v") === col("src") || col("v") === col("dst"),
            col("nw")).otherwise(lit(1)).as("w0"))
      val perNode = triVerts
        .groupBy("v").agg(sum(col("w0").cast("long")).as("tri"))
      deg.filter(col("d") >= 2)
        .join(perNode, Seq("v"), "left")
        .withColumn("tri", coalesce(col("tri"), lit(0L)))
        .withColumn("cc", (col("tri") * 2).cast("double") /
          (col("d") * (col("d") - 1)))
        .orderBy(col("cc").desc, col("v"))
        .limit(20)
        .select("v", "d", "tri", "cc")
    }),

    // Degree assortativity: Pearson correlation between endpoint
    // degrees over the edge list taken in BOTH orientations (the
    // standard symmetric definition — makes sum(x)=sum(y) and needs no
    // orientation convention). All six sufficient statistics are exact
    // BIGINTs; r is computed once in double at the end. At 100x this
    // is two broadcast-degree joins + one global integer aggregate.
    "q_degree_assortativity" -> ((s, dir) => {
      // e feeds the degree table and both edge orientations; deg joins
      // twice — retain both (see graph_triangles)
      val e = graft.CacheScope.retain(Round5gQueries.coEdges(s, dir))
      val deg = graft.CacheScope.retain(
        e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d")))
      val both = e.select(col("a").as("x"), col("b").as("y"))
        .unionAll(e.select(col("b").as("x"), col("a").as("y")))
      val pairs = both
        .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
        .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
        .select(col("dx"), col("dy"))
      val s6 = pairs.agg(
        count(lit(1)).as("n"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      // try_divide: a regular graph (all degrees equal — e.g. a single
      // edge) has zero degree variance — r undefined (NULL, DuckDB x/0)
      s6.withColumn("assortativity",
        try_divide(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
             .cast("double"))))
        .select("n", "sx", "sxy", "sxx", "syy", "assortativity")
    }),

    // Rich-club coefficient (Colizza et al. 2006): for each degree
    // threshold k, the edge density among nodes with degree > k —
    // phi(k) = 2 * E_k / (N_k * (N_k - 1)). Do hubs preferentially
    // co-purchase with hubs? One degree join on each endpoint, then a
    // SINGLE conditional-sum pass over the edge list evaluates all four
    // thresholds at once (no per-k rescans) — exact integer counts,
    // one mirrored division per row. At 100x: two high-cardinality
    // hash joins plus a 4-row aggregate; nothing quadratic.
    "q_rich_club" -> ((s, dir) => {
      // e feeds deg + the threshold join; deg joins on both endpoints
      // and aggregates node counts — retain both (see graph_triangles)
      val e = graft.CacheScope.retain(Round5gQueries.coEdges(s, dir))
      val deg = graft.CacheScope.retain(
        e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d")))
      val ks = Seq(60L, 100L, 140L, 180L)
      val keyed = e
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      val eCols = ks.map(k => sum(when(col("da") > k && col("db") > k, 1L)
        .otherwise(0L)).as(s"e_$k"))
      val nCols = ks.map(k => sum(when(col("d") > k, 1L).otherwise(0L))
        .as(s"n_$k"))
      val edgeCounts = keyed.agg(eCols.head, eCols.tail: _*)
      val nodeCounts = deg.agg(nCols.head, nCols.tail: _*)
      // one row -> 4 rows via a single explode (a 4-way unionAll would
      // carry the aggregate subtree 4x through the plan)
      edgeCounts.crossJoin(broadcast(nodeCounts))
        .select(explode(array(ks.map(k =>
          struct(lit(k).as("k"), col(s"n_$k").as("n_nodes"),
            col(s"e_$k").as("n_edges"))): _*)).as("r"))
        .select(col("r.k").as("k"), col("r.n_nodes").as("n_nodes"),
          col("r.n_edges").as("n_edges"))
        // the isNotNull filter mirrors the oracle's grouped shape: an
        // edgeless graph emits no threshold rows
        .filter(col("n_nodes").isNotNull)
        .withColumn("phi",
          when(col("n_nodes") < 2, lit(0.0))
            .otherwise((col("n_edges") * 2).cast("double") /
              (col("n_nodes") * (col("n_nodes") - 1))))
        .orderBy("k")
    }),

    // Induced-subgraph density per brand: nodes = parts of the brand
    // that appear in the graph, intra-edges = co-purchase edges with
    // BOTH endpoints in the brand; density = 2e / (n(n-1)). The brand
    // dimension is a broadcast; edges shuffle once on the part key.
    "q_brand_subgraph_density" -> ((s, dir) => {
      // e feeds the node census and the intra-brand edge count —
      // retained so the lineitem self-join + distinct runs once
      val e = graft.CacheScope.retain(Round5gQueries.coEdges(s, dir))
      val brand = broadcast(Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_brand")))
      val nodes = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v"))).distinct()
        .join(brand, col("v") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n_nodes"))
      val intra = e
        .join(brand.select(col("p_partkey").as("a"),
          col("p_brand").as("ba")), "a")
        .join(brand.select(col("p_partkey").as("b"),
          col("p_brand").as("bb")), "b")
        .filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("p_brand"))
        .agg(count(lit(1)).as("n_intra"))
      nodes.join(intra, Seq("p_brand"), "left")
        .withColumn("n_intra", coalesce(col("n_intra"), lit(0L)))
        .withColumn("density",
          when(col("n_nodes") < 2, lit(0.0))
            .otherwise((col("n_intra") * 2).cast("double") /
              (col("n_nodes") * (col("n_nodes") - 1))))
        .select("p_brand", "n_nodes", "n_intra", "density")
        .orderBy("p_brand")
    }))

  private val edgeCte =
    """e AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |), deg AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT a AS v FROM e UNION ALL SELECT b FROM e
      |  ) GROUP BY 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_local_clustering" ->
      s"""WITH $edgeCte, tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), pernode AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT u AS v FROM tri UNION ALL
        |    SELECT v FROM tri UNION ALL
        |    SELECT w FROM tri
        |  ) GROUP BY 1
        |)
        |SELECT deg.v, deg.d,
        |  CAST(COALESCE(pernode.tri, 0) AS BIGINT) AS tri,
        |  CAST(COALESCE(pernode.tri, 0) * 2 AS DOUBLE) /
        |    (deg.d * (deg.d - 1)) AS cc
        |FROM deg LEFT JOIN pernode ON deg.v = pernode.v
        |WHERE deg.d >= 2
        |ORDER BY cc DESC, deg.v LIMIT 20""".stripMargin,

    "q_degree_assortativity" ->
      s"""WITH $edgeCte, both_dir AS (
        |  SELECT a AS x, b AS y FROM e
        |  UNION ALL SELECT b, a FROM e
        |), p AS (
        |  SELECT dx.d AS dx, dy.d AS dy
        |  FROM both_dir
        |  JOIN deg dx ON both_dir.x = dx.v
        |  JOIN deg dy ON both_dir.y = dy.v
        |), s6 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dx) AS BIGINT) AS sx,
        |    CAST(SUM(dy) AS BIGINT) AS sy,
        |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
        |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |    CAST(SUM(dy * dy) AS BIGINT) AS syy
        |  FROM p
        |)
        |SELECT n, sx, sxy, sxx, syy,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
        |FROM s6""".stripMargin,

    "q_rich_club" ->
      s"""WITH $edgeCte, keyed AS (
        |  SELECT da.d AS da, db.d AS db
        |  FROM e JOIN deg da ON e.a = da.v
        |         JOIN deg db ON e.b = db.v
        |), ks AS (
        |  SELECT CAST(k AS BIGINT) AS k
        |  FROM (VALUES (60), (100), (140), (180)) t(k)
        |), ec AS (
        |  SELECT ks.k, CAST(SUM(CASE WHEN keyed.da > ks.k
        |    AND keyed.db > ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
        |  FROM ks, keyed GROUP BY ks.k
        |), nc AS (
        |  SELECT ks.k, CAST(SUM(CASE WHEN deg.d > ks.k
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes
        |  FROM ks, deg GROUP BY ks.k
        |)
        |SELECT ec.k, nc.n_nodes, ec.n_edges,
        |  CASE WHEN nc.n_nodes < 2 THEN 0.0
        |    ELSE CAST(ec.n_edges * 2 AS DOUBLE) /
        |      (nc.n_nodes * (nc.n_nodes - 1)) END AS phi
        |FROM ec JOIN nc ON ec.k = nc.k
        |ORDER BY ec.k""".stripMargin,

    "q_brand_subgraph_density" ->
      s"""WITH $edgeCte, nodes AS (
        |  SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM (SELECT DISTINCT v FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e)) nv
        |  JOIN part p ON nv.v = p.p_partkey
        |  GROUP BY 1
        |), intra AS (
        |  SELECT pa.p_brand, CAST(COUNT(*) AS BIGINT) AS n_intra
        |  FROM e
        |  JOIN part pa ON e.a = pa.p_partkey
        |  JOIN part pb ON e.b = pb.p_partkey
        |  WHERE pa.p_brand = pb.p_brand
        |  GROUP BY 1
        |)
        |SELECT nodes.p_brand, nodes.n_nodes,
        |  COALESCE(intra.n_intra, 0) AS n_intra,
        |  CASE WHEN nodes.n_nodes < 2 THEN 0.0
        |    ELSE CAST(COALESCE(intra.n_intra, 0) * 2 AS DOUBLE) /
        |      (nodes.n_nodes * (nodes.n_nodes - 1)) END AS density
        |FROM nodes LEFT JOIN intra ON nodes.p_brand = intra.p_brand
        |ORDER BY 1""".stripMargin)
}
