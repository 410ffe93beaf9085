package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold
import graft.functions.VectorFunctions.dotD

/** Round-8 thirteenth batch: late-interaction retrieval, residual
  * quantization, and capacity planning.
  *
  *  - q_colbert_maxsim: ColBERT-style late interaction — score each
  *    label group by sum over the 16 benchmark probes of the MAX
  *    cosine to any group member. MaxSim rewards groups that cover
  *    every probe rather than averaging them away — the multi-vector
  *    retrieval scoring single-vector similarity_topk cannot express.
  *  - q_residual_quantize: two-stage residual VQ (RVQ) — quantize to
  *    the 8 coarse centroids, then quantize the RESIDUAL against an
  *    8-anchor second codebook; report cell occupancy and the total
  *    squared reconstruction error. The compression ladder between
  *    q_embedding_quantize (scalar) and ann_pq_topk (product).
  *  - q_partition_advisor: the capacity planner — exact per-table
  *    byte estimates under a declared width model (8 bytes per
  *    numeric/date column, actual string lengths), and the 64 MiB
  *    shuffle partition count each table needs. The number
  *    spark.sql.shuffle.partitions should be derived from, computed
  *    from the data instead of guessed.
  *
  * Determinism: MaxSim folds per-probe maxima in probe order;
  * RVQ distances fold in dim order with argmin rank picks and the
  * block-tree total; the advisor is pure BIGINT (string lengths
  * summed exactly, ceil-division partitions).
  */
object Round8mQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MaxSim(label) = sum over probes of max member cosine; top-10
    // labels. Probes broadcast; one corpus scan; per-(probe,label)
    // max is a combine aggregate.
    "q_colbert_maxsim" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val probes = broadcast(e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("p_id"), col("embedding").as("pe"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("np")))
      val corpus = e.filter(col("vec_id") >= 16)
        .select(col("label"), col("embedding"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("nc"))
      val sims = corpus.crossJoin(probes)
        .select(col("p_id"), col("label"),
          (dotD(col("embedding"), col("pe")) / (col("nc") * col("np")))
            .as("sim"))
        .groupBy("p_id", "label").agg(max("sim").as("mx"))
      val scored = sims.groupBy("label")
        .agg(sortedFold(collect_list(struct(col("p_id"), col("mx"))),
          "mx").as("maxsim"))
      graft.operators.GlobalRank.withRank(scored, -col("maxsim"),
          col("label"), "rk0")
        .filter(col("rk0") <= 10)
        .select(col("label"), col("maxsim"),
          col("rk0").cast("long").as("rk"))
        .orderBy("rk")
    }),

    // RVQ: coarse argmin to 8 centroids, residual argmin to the
    // 8 anchors built from vecs 8..15's own residuals; cell census +
    // block-tree total squared error.
    "q_residual_quantize" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val c1 = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c1_id"), col("embedding").as("ce")))
      val d2 = aggregate(zip_with(col("embedding"), col("ce"), (x, c) =>
        (x.cast("double") - c.cast("double")) *
          (x.cast("double") - c.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      val byV = Window.partitionBy("vec_id").orderBy("d2", "c1_id")
      val a1 = e.crossJoin(c1)
        .select(col("vec_id"), col("embedding"), col("c1_id"),
          d2.as("d2"))
        .withColumn("rn", row_number().over(byV))
        .filter(col("rn") === 1)
      val resid = graft.CacheScope.retain(a1
        .join(c1.withColumnRenamed("c1_id", "cid2"),
          col("c1_id") === col("cid2"))
        .select(col("vec_id"), col("c1_id"),
          zip_with(col("embedding"), col("ce"),
            (x, c) => x.cast("double") - c.cast("double")).as("r")))
      val cb2 = broadcast(resid
        .filter(col("vec_id") >= 8 && col("vec_id") <= 15)
        .select(col("vec_id").as("c2_id"), col("r").as("anchor")))
      val e2 = aggregate(zip_with(col("r"), col("anchor"), (x, c) =>
        (x - c) * (x - c)), lit(0.0), (acc, v) => acc + v)
      val byV2 = Window.partitionBy("vec_id").orderBy("e2", "c2_id")
      val a2 = graft.CacheScope.retain(resid.crossJoin(cb2)
        .select(col("vec_id"), col("c1_id"), col("c2_id"), e2.as("e2"))
        .withColumn("rn", row_number().over(byV2))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c1_id"), col("c2_id"), col("e2")))
      val tot = broadcast(a2
        .withColumn("blk", expr("vec_id div 1024"))
        .groupBy("blk")
        .agg(sortedFold(collect_list(struct(col("vec_id"), col("e2"))),
          "e2").as("bs"))
        .agg(sortedFold(collect_list(struct(col("blk"), col("bs"))),
          "bs").as("err2")))
      a2.groupBy("c1_id", "c2_id").agg(count(lit(1)).as("n_vecs"))
        .crossJoin(tot)
        .select(col("c1_id"), col("c2_id"), col("n_vecs"),
          col("err2").as("total_err2"))
        .orderBy("c1_id", "c2_id")
    }),

    // 64 MiB shuffle-partition advisor over four tables, exact BIGINT
    // byte model: 8 bytes per numeric/timestamp column + exact string
    // lengths.
    "q_partition_advisor" -> ((s, dir) => {
      def est(name: String, numCols: Int, strCols: Seq[String]) = {
        val strBytes = strCols.map(c => length(col(c)).cast("long"))
          .reduceOption(_ + _).getOrElse(lit(0L))
        Tables(s, dir, name).select(
          (lit(8L * numCols) + strBytes).as("row_bytes"))
          .agg(count(lit(1)).as("n_rows"),
            sum("row_bytes").cast("long").as("est_bytes"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("est_bytes"))
      }
      val all = est("lineitem", 9, Seq("l_returnflag", "l_linestatus"))
        .unionByName(est("orders", 4,
          Seq("o_orderstatus", "o_orderpriority")))
        .unionByName(est("events", 4, Seq("event_type", "props")))
        .unionByName(est("documents", 2,
          Seq("text", "lang", "source")))
      all.select(col("table_name"), col("n_rows"), col("est_bytes"),
          greatest(lit(1L),
            ((col("est_bytes") + 67108863) / 67108864).cast("long"))
            .as("partitions_64mb"))
        .withColumn("rows_per_partition",
          ((col("n_rows") + col("partitions_64mb") - 1) /
            col("partitions_64mb")).cast("long"))
        .orderBy("table_name")
    }),
  )

  private val dotSql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1,65), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val oracle: Map[String, String] = Map(
    "q_colbert_maxsim" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS p_id, embedding AS pe,
         |    sqrt(${dotSql("embedding", "embedding")}) AS np
         |  FROM embeddings WHERE vec_id < 16
         |), corpus AS (
         |  SELECT label, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nc
         |  FROM embeddings WHERE vec_id >= 16
         |), sims AS (
         |  SELECT p.p_id, c.label,
         |    MAX(${dotSql("c.embedding", "p.pe")} / (c.nc * p.np)) AS mx
         |  FROM corpus c, probes p GROUP BY p.p_id, c.label
         |), scored AS (
         |  SELECT label,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(mx ORDER BY p_id), (a, v) -> a + v) AS maxsim
         |  FROM sims GROUP BY label
         |)
         |SELECT label, maxsim,
         |  ROW_NUMBER() OVER (ORDER BY maxsim DESC, label) AS rk
         |FROM scored QUALIFY rk <= 10 ORDER BY rk""".stripMargin,

    "q_residual_quantize" ->
      """WITH c1 AS (
        |  SELECT vec_id AS c1_id, embedding AS ce
        |  FROM embeddings WHERE vec_id < 8
        |), d1 AS (
        |  SELECT v.vec_id, v.embedding, c.c1_id,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list_transform(range(1, 65), i ->
        |        (CAST(v.embedding[i] AS DOUBLE)
        |          - CAST(c.ce[i] AS DOUBLE)) *
        |        (CAST(v.embedding[i] AS DOUBLE)
        |          - CAST(c.ce[i] AS DOUBLE))),
        |      (a, q) -> a + q) AS d2
        |  FROM embeddings v, c1 c
        |), a1 AS (
        |  SELECT vec_id, embedding, c1_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY d2, c1_id) AS rn FROM d1
        |  ) WHERE rn = 1
        |), resid AS (
        |  SELECT a.vec_id, a.c1_id,
        |    list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        - CAST(c.ce[i] AS DOUBLE)) AS r
        |  FROM a1 a JOIN c1 c ON a.c1_id = c.c1_id
        |), cb2 AS (
        |  SELECT vec_id AS c2_id, r AS anchor FROM resid
        |  WHERE vec_id BETWEEN 8 AND 15
        |), d2s AS (
        |  SELECT v.vec_id, v.c1_id, b.c2_id,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list_transform(range(1, 65), i ->
        |        (v.r[i] - b.anchor[i]) * (v.r[i] - b.anchor[i])),
        |      (a, q) -> a + q) AS e2
        |  FROM resid v, cb2 b
        |), a2 AS (
        |  SELECT vec_id, c1_id, c2_id, e2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY e2, c2_id) AS rn FROM d2s
        |  ) WHERE rn = 1
        |), blocks AS (
        |  SELECT vec_id // 1024 AS blk,
        |    list_reduce([CAST(0 AS DOUBLE)] ||
        |      list(e2 ORDER BY vec_id), (a, q) -> a + q) AS bs
        |  FROM a2 GROUP BY 1
        |), tot AS (
        |  SELECT list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(bs ORDER BY blk), (a, q) -> a + q) AS err2
        |  FROM blocks
        |)
        |SELECT a.c1_id, a.c2_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  MAX(t.err2) AS total_err2
        |FROM a2 a, tot t GROUP BY a.c1_id, a.c2_id
        |ORDER BY a.c1_id, a.c2_id""".stripMargin,

    "q_partition_advisor" ->
      """WITH est AS (
        |  SELECT 'documents' AS table_name, COUNT(*) AS n_rows,
        |    CAST(SUM(8 * 2 + length(text) + length(lang)
        |      + length(source)) AS BIGINT) AS est_bytes
        |  FROM documents
        |  UNION ALL
        |  SELECT 'events', COUNT(*),
        |    CAST(SUM(8 * 4 + length(event_type) + length(props))
        |      AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'lineitem', COUNT(*),
        |    CAST(SUM(8 * 9 + length(l_returnflag)
        |      + length(l_linestatus)) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', COUNT(*),
        |    CAST(SUM(8 * 4 + length(o_orderstatus)
        |      + length(o_orderpriority)) AS BIGINT)
        |  FROM orders
        |)
        |SELECT table_name, n_rows, est_bytes,
        |  GREATEST(CAST(1 AS BIGINT),
        |    (est_bytes + 67108863) // 67108864) AS partitions_64mb,
        |  (n_rows + GREATEST(CAST(1 AS BIGINT),
        |    (est_bytes + 67108863) // 67108864) - 1)
        |    // GREATEST(CAST(1 AS BIGINT),
        |      (est_bytes + 67108863) // 67108864) AS rows_per_partition
        |FROM est ORDER BY table_name""".stripMargin,
  )
}
