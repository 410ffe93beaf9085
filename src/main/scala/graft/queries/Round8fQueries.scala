package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold
import graft.functions.VectorFunctions.dotD

/** Round-8 sixth batch: clustering evaluation, contrastive mining, and
  * community quality.
  *
  *  - q_adjusted_rand: adjusted Rand index AND normalized mutual
  *    information between the 8-seed k-means assignment and the true
  *    labels — the pair-counting and information-theoretic clustering
  *    scores (purity alone is gameable by many tiny clusters; ARI/NMI
  *    are the standard correctives). NMI's logarithms route through
  *    DetMath.dln on integer counts.
  *  - q_hard_negatives: contrastive-pair mining for embedding-model
  *    training — per benchmark probe, the most similar same-label
  *    corpus vector (positive) and most similar different-label vector
  *    (hard negative), with the margin between them. Negative margins
  *    flag probes whose neighborhood is label-confused.
  *  - q_graph_modularity: weighted modularity of the brand partition
  *    over the part co-purchase graph — Q = w_in/W - sum_c (d_c/W)^2,
  *    computed as one integer numerator over W^2. The "is this
  *    partition better than random" score for any community layer.
  *
  * Determinism: contingency tables, edge weights, and degrees are
  * BIGINT; ARI and modularity are integer sufficient statistics with
  * mirrored final divisions; NMI folds dln terms in (cluster, label)
  * order; similarity argmaxes are row_number picks with vec_id ties.
  *
  * Scale: the contingency table is (clusters x labels) cells; probes
  * broadcast (bench suites are tiny) against one corpus scan; the
  * co-purchase multigraph pre-aggregates to weighted distinct edges
  * once (the graph_pagerank shape) and the brand map broadcasts.
  */
object Round8fQueries {

  private def pairs2(c: Column): Column = (c * (c - 1) / 2).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ARI + NMI of kmeans-vs-labels. Assignment argmin mirrors the
    // oracle's direct (x-c)^2 fold; every count is BIGINT; NMI logs are
    // DetMath.dln of integer counts folded in table order.
    "q_adjusted_rand" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      val e = Tables(s, dir, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("ce")))
      val d2 = aggregate(zip_with(col("embedding"), col("ce"), (x, c) =>
        (x.cast("double") - c.cast("double")) *
          (x.cast("double") - c.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      val byD = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
      val assign = e.crossJoin(cents)
        .select(col("vec_id"), col("label"), col("centroid_id"),
          d2.as("d2"))
        .withColumn("rn", row_number().over(byD))
        .filter(col("rn") === 1)
      val cont = graft.CacheScope.retain(assign
        .groupBy(col("centroid_id").as("ci"), col("label").as("lj"))
        .agg(count(lit(1)).as("nij")))
      val rowm = graft.CacheScope.retain(cont.groupBy("ci")
        .agg(sum("nij").cast("long").as("ai")))
      val colm = graft.CacheScope.retain(cont.groupBy("lj")
        .agg(sum("nij").cast("long").as("bj")))
      val tot = broadcast(cont.agg(sum("nij").cast("long").as("n"))
        .withColumn("lnt", dln(col("n"))))
      val sFrame = broadcast(
        cont.agg(sum(pairs2(col("nij"))).cast("long").as("sij"))
          .crossJoin(rowm.agg(sum(pairs2(col("ai"))).cast("long")
            .as("sa"), count(lit(1)).as("n_clusters")))
          .crossJoin(colm.agg(sum(pairs2(col("bj"))).cast("long")
            .as("sb"), count(lit(1)).as("n_labels")))
          .crossJoin(tot.select(col("n"), pairs2(col("n")).as("sn"))))
      val mi = cont
        .join(broadcast(rowm.withColumn("lna", dln(col("ai")))), "ci")
        .join(broadcast(colm.withColumn("lnb", dln(col("bj")))), "lj")
        .crossJoin(tot)
        .select(col("ci"), col("lj"),
          ((col("nij").cast("double") / col("n")) *
            (col("lnt") + dln(col("nij")) - col("lna") - col("lnb")))
            .as("term"))
        .agg(sortedFold(collect_list(struct(col("ci"), col("lj"),
          col("term"))), "term").as("mi"))
      val ha = rowm.withColumn("lna", dln(col("ai"))).crossJoin(tot)
        .select(col("ci"),
          ((col("ai").cast("double") / col("n")) *
            (col("lnt") - col("lna"))).as("term"))
        .agg(sortedFold(collect_list(struct(col("ci"), col("term"))),
          "term").as("h_a"))
      val hb = colm.withColumn("lnb", dln(col("bj"))).crossJoin(tot)
        .select(col("lj"),
          ((col("bj").cast("double") / col("n")) *
            (col("lnt") - col("lnb"))).as("term"))
        .agg(sortedFold(collect_list(struct(col("lj"), col("term"))),
          "term").as("h_b"))
      val exp = col("sa").cast("double") * col("sb") / col("sn")
      sFrame.crossJoin(broadcast(mi)).crossJoin(broadcast(ha))
        .crossJoin(broadcast(hb))
        // try_divide: trivial partitions (one cluster = one label =
        // everything) zero both denominators — ARI/NMI are undefined
        // there (NULL, DuckDB's x/0)
        .select(col("n"), col("n_clusters"), col("n_labels"),
          try_divide(col("sij").cast("double") - exp,
            (col("sa").cast("double") + col("sb")) / 2 - exp).as("ari"),
          try_divide(col("mi"), sqrt(col("h_a") * col("h_b"))).as("nmi"))
    }),

    // Hard-negative mining: per bench probe (vec_id < 16), argmax-sim
    // same-label and different-label corpus vectors and the margin.
    "q_hard_negatives" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val probes = broadcast(e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("p_id"), col("label").as("p_label"),
          col("embedding").as("pe"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("np")))
      val corpus = e.filter(col("vec_id") >= 16)
        .select(col("vec_id"), col("label"), col("embedding"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("nc"))
      val sims = graft.CacheScope.retain(corpus.crossJoin(probes)
        .select(col("p_id"), col("p_label"), col("vec_id"), col("label"),
          try_divide(dotD(col("embedding"), col("pe")),
            col("nc") * col("np")).as("sim")))
      val byP = Window.partitionBy("p_id")
        .orderBy(col("sim").desc, col("vec_id"))
      val pos = sims.filter(col("label") === col("p_label"))
        .withColumn("rn", row_number().over(byP)).filter(col("rn") === 1)
        .select(col("p_id"), col("vec_id").as("pos_id"),
          col("sim").as("pos_sim"))
      val neg = sims.filter(col("label") =!= col("p_label"))
        .withColumn("rn", row_number().over(byP)).filter(col("rn") === 1)
        .select(col("p_id"), col("vec_id").as("neg_id"),
          col("sim").as("neg_sim"))
      pos.join(neg, "p_id")
        .select(col("p_id").as("probe_id"), col("pos_id"),
          col("pos_sim"), col("neg_id"), col("neg_sim"),
          (col("pos_sim") - col("neg_sim")).as("margin"))
        .orderBy("probe_id")
    }),

    // Weighted modularity of the brand partition over the co-purchase
    // graph. One integer numerator over W^2: (w_in*W - sum_c d_c^2)/W^2.
    "q_graph_modularity" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = graft.CacheScope.retain(
        li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") =!= col("y.pk"))
        .groupBy(col("x.pk").as("src"), col("y.pk").as("dst"))
        .agg(count(lit(1)).as("w")))
      val comm = graft.CacheScope.retain(Tables(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("c")))
      val commA = comm.select(col("node").as("anode"), col("c").as("ac"))
      val commB = comm.select(col("node").as("bnode"), col("c").as("bc"))
      val tot = edges.agg(sum("w").cast("long").as("big_w"))
      val win = edges.join(broadcast(commA), col("src") === col("anode"))
        .join(broadcast(commB),
          col("dst") === col("bnode") && col("ac") === col("bc"))
        .agg(sum("w").cast("long").as("w_in"))
      val dsum = edges.join(broadcast(commA), col("src") === col("anode"))
        .groupBy("ac").agg(sum("w").cast("long").as("d"))
        .agg(sum(col("d") * col("d")).cast("long").as("sum_d2"),
          count(lit(1)).as("n_comm"))
      tot.crossJoin(broadcast(win)).crossJoin(broadcast(dsum))
        .select(col("n_comm"), col("big_w").as("w_total"),
          col("w_in").as("w_within"),
          ((col("w_in").cast("double") * col("big_w") - col("sum_d2")) /
            (col("big_w").cast("double") * col("big_w")))
            .as("modularity"))
    }),
  )

  import graft.functions.DetMath.lnCtesSql

  private val dotSql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1,65), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val oracle: Map[String, String] = Map(
    "q_adjusted_rand" ->
      s"""WITH c AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce
         |  FROM embeddings WHERE vec_id < 8
         |), dists AS (
         |  SELECT v.vec_id, v.label, c.centroid_id,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list_transform(range(1, 65), i ->
         |        (CAST(v.embedding[i] AS DOUBLE)
         |          - CAST(c.ce[i] AS DOUBLE)) *
         |        (CAST(v.embedding[i] AS DOUBLE)
         |          - CAST(c.ce[i] AS DOUBLE))),
         |      (a, q) -> a + q) AS d2
         |  FROM embeddings v, c
         |), assign AS (
         |  SELECT vec_id, label, centroid_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY d2, centroid_id) AS rn FROM dists
         |  ) WHERE rn = 1
         |), cont0 AS (
         |  SELECT centroid_id AS ci, label AS lj, COUNT(*) AS nij
         |  FROM assign GROUP BY 1, 2
         |), ${lnCtesSql("cont", "cont0", "ci, lj, nij", "nij", "lnn")},
         |rowm0 AS (
         |  SELECT ci, CAST(SUM(nij) AS BIGINT) AS ai FROM cont0
         |  GROUP BY ci
         |), ${lnCtesSql("rowm", "rowm0", "ci, ai", "ai", "lna")},
         |colm0 AS (
         |  SELECT lj, CAST(SUM(nij) AS BIGINT) AS bj FROM cont0
         |  GROUP BY lj
         |), ${lnCtesSql("colm", "colm0", "lj, bj", "bj", "lnb")},
         |tot0 AS (
         |  SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cont0
         |), ${lnCtesSql("tot", "tot0", "n", "n", "lnt")},
         |s AS (
         |  SELECT
         |    (SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT)
         |      FROM cont0) AS sij,
         |    (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT)
         |      FROM rowm0) AS sa,
         |    (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT)
         |      FROM colm0) AS sb,
         |    (SELECT CAST((n * (n - 1)) // 2 AS BIGINT) FROM tot0) AS sn,
         |    (SELECT n FROM tot0) AS n,
         |    (SELECT COUNT(*) FROM rowm0) AS n_clusters,
         |    (SELECT COUNT(*) FROM colm0) AS n_labels
         |), mi AS (
         |  SELECT list_reduce([CAST(0 AS DOUBLE)] || list(
         |    (CAST(nij AS DOUBLE) / s.n) * (t.lnt + lnn - lna - lnb)
         |    ORDER BY ci, lj), (a, q) -> a + q) AS mi
         |  FROM cont JOIN rowm USING (ci) JOIN colm USING (lj), s, tot t
         |  GROUP BY ALL
         |), ha AS (
         |  SELECT list_reduce([CAST(0 AS DOUBLE)] || list(
         |    (CAST(ai AS DOUBLE) / s.n) * (t.lnt - lna) ORDER BY ci),
         |    (a, q) -> a + q) AS h_a
         |  FROM rowm, s, tot t GROUP BY ALL
         |), hb AS (
         |  SELECT list_reduce([CAST(0 AS DOUBLE)] || list(
         |    (CAST(bj AS DOUBLE) / s.n) * (t.lnt - lnb) ORDER BY lj),
         |    (a, q) -> a + q) AS h_b
         |  FROM colm, s, tot t GROUP BY ALL
         |)
         |SELECT s.n, s.n_clusters, s.n_labels,
         |  (CAST(s.sij AS DOUBLE) - CAST(s.sa AS DOUBLE) * s.sb / s.sn) /
         |  ((CAST(s.sa AS DOUBLE) + s.sb) / 2
         |    - CAST(s.sa AS DOUBLE) * s.sb / s.sn) AS ari,
         |  mi.mi / sqrt(ha.h_a * hb.h_b) AS nmi
         |FROM s, mi, ha, hb""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS p_id, label AS p_label, embedding AS pe,
         |    sqrt(${dotSql("embedding", "embedding")}) AS np
         |  FROM embeddings WHERE vec_id < 16
         |), corpus AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nc
         |  FROM embeddings WHERE vec_id >= 16
         |), sims AS (
         |  SELECT p.p_id, p.p_label, c.vec_id, c.label,
         |    ${dotSql("c.embedding", "p.pe")} / (c.nc * p.np) AS sim
         |  FROM corpus c, probes p
         |), pos AS (
         |  SELECT p_id, vec_id AS pos_id, sim AS pos_sim FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id
         |      ORDER BY sim DESC, vec_id) AS rn
         |    FROM sims WHERE label = p_label) WHERE rn = 1
         |), neg AS (
         |  SELECT p_id, vec_id AS neg_id, sim AS neg_sim FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id
         |      ORDER BY sim DESC, vec_id) AS rn
         |    FROM sims WHERE label <> p_label) WHERE rn = 1
         |)
         |SELECT pos.p_id AS probe_id, pos.pos_id, pos.pos_sim,
         |  neg.neg_id, neg.neg_sim, pos.pos_sim - neg.neg_sim AS margin
         |FROM pos JOIN neg ON pos.p_id = neg.p_id
         |ORDER BY probe_id""".stripMargin,

    "q_graph_modularity" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT x.pk AS src, y.pk AS dst, COUNT(*) AS w
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk <> y.pk
        |  GROUP BY 1, 2
        |), comm AS (
        |  SELECT p_partkey AS node, p_brand AS c FROM part
        |), tot AS (
        |  SELECT CAST(SUM(w) AS BIGINT) AS big_w FROM edges
        |), win AS (
        |  SELECT CAST(SUM(e.w) AS BIGINT) AS w_in
        |  FROM edges e JOIN comm a ON e.src = a.node
        |  JOIN comm b ON e.dst = b.node AND a.c = b.c
        |), deg AS (
        |  SELECT c.c, CAST(SUM(e.w) AS BIGINT) AS d
        |  FROM edges e JOIN comm c ON e.src = c.node GROUP BY c.c
        |), dsum AS (
        |  SELECT CAST(SUM(d * d) AS BIGINT) AS sum_d2,
        |    COUNT(*) AS n_comm
        |  FROM deg
        |)
        |SELECT d.n_comm, t.big_w AS w_total, w.w_in AS w_within,
        |  (CAST(w.w_in AS DOUBLE) * t.big_w - d.sum_d2)
        |    / (CAST(t.big_w AS DOUBLE) * t.big_w) AS modularity
        |FROM tot t, win w, dsum d""".stripMargin,
  )
}
