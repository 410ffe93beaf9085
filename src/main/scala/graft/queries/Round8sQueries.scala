package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold
import graft.functions.VectorFunctions.{cosine, dotD}

/** Round-8 nineteenth batch: retrieval-quality evaluation of the
  * compressed-embedding routes a 100 TB vector store actually deploys.
  *
  *  - q_matryoshka_recall: recall@10 of 16-dim-PREFIX cosine retrieval
  *    against full 64-dim exact cosine, over 20 probes. The
  *    Matryoshka-representation question: how much of the ranking
  *    survives a 4x dimensionality cut (4x less scan bandwidth, 4x
  *    more vectors per cache line)?
  *  - q_binary_hamming_recall: recall@10 of 1-bit sign-quantized
  *    Hamming retrieval (64 dims -> 64 bits, 32x compression) against
  *    exact cosine — the binary-quantization rerank-candidate route.
  *  - q_map_eval: mean average precision@10 with same-label relevance
  *    — the label-aware retrieval metric alongside the rank-agnostic
  *    recall family (q_ndcg_eval ranks grades, MAP weights early
  *    precision).
  *
  * All three fan 20 broadcast probes across the vector table (never a
  * vector x vector product), rank per-probe with row_number over a
  * probe-partitioned window (10-row partitions), and reduce to one
  * audit row. At 100 TB the same shape holds: probes broadcast, the
  * scan is the cost, the shuffle carries 10 rows per probe.
  *
  * Determinism: dot products are the codegen'd left-to-right fold
  * paired with DuckDB list_sum; Hamming counts and relevance are
  * integers; per-probe AP sums fold in rank order, the MAP fold in
  * probe order (sortedFold / list_reduce ORDER BY pairing).
  */
object Round8sQueries {

  /** (probe_id, pe, plabel) x (neighbor_id, embedding, nlabel) scored
    * frame: 20 broadcast probes against every other vector.
    */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val probes = broadcast(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("label").as("plabel")))
    e.crossJoin(probes).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("plabel"),
        col("vec_id").as("neighbor_id"), col("label").as("nlabel"),
        col("embedding"), col("pe"))
  }

  private def top10(df: DataFrame, by: Column*): DataFrame =
    df.withColumn("rnk", row_number().over(
        Window.partitionBy("probe_id").orderBy(by: _*)))
      .filter(col("rnk") <= 10)

  /** hits over exact-top-10 x approx-top-10 -> one audit row. */
  private def recallRow(exact: DataFrame, approx: DataFrame,
      probes: DataFrame): DataFrame = {
    val hits = exact
      .join(approx.select(col("probe_id").as("p2"),
        col("neighbor_id").as("n2")),
        col("probe_id") === col("p2") &&
          col("neighbor_id") === col("n2"))
      .agg(count(lit(1)).as("hits"))
    probes.agg(countDistinct(col("probe_id")).as("n_probes"))
      .crossJoin(broadcast(hits))
      .select(col("n_probes"), col("hits"),
        try_divide(col("hits").cast("double"),
          lit(10.0) * col("n_probes").cast("double"))
          .as("recall_at_10"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_matryoshka_recall" -> ((s, dir) => {
      val sc = graft.CacheScope.retain(scored(s, dir)
        .select(col("probe_id"), col("neighbor_id"),
          cosine(col("embedding"), col("pe")).as("sim"),
          try_divide(
            dotD(slice(col("embedding"), 1, 16), slice(col("pe"), 1, 16)),
            sqrt(dotD(slice(col("embedding"), 1, 16),
              slice(col("embedding"), 1, 16))) *
              sqrt(dotD(slice(col("pe"), 1, 16),
                slice(col("pe"), 1, 16)))).as("sim16")))
      val exact = top10(sc, col("sim").desc, col("neighbor_id").asc)
        .select("probe_id", "neighbor_id")
      val pref = top10(sc, col("sim16").desc, col("neighbor_id").asc)
        .select("probe_id", "neighbor_id")
      recallRow(exact, pref, sc)
    }),

    "q_binary_hamming_recall" -> ((s, dir) => {
      val sc = graft.CacheScope.retain(scored(s, dir)
        .select(col("probe_id"), col("neighbor_id"),
          cosine(col("embedding"), col("pe")).as("sim"),
          aggregate(zip_with(col("embedding"), col("pe"),
            (x, y) => when((x > lit(0f)) =!= (y > lit(0f)), 1)
              .otherwise(0)),
            lit(0), (acc, v) => acc + v).as("ham")))
      val exact = top10(sc, col("sim").desc, col("neighbor_id").asc)
        .select("probe_id", "neighbor_id")
      val ham = top10(sc, col("ham").asc, col("neighbor_id").asc)
        .select("probe_id", "neighbor_id")
      recallRow(exact, ham, sc)
    }),

    "q_map_eval" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val labelCnt = broadcast(e.groupBy("label")
        .agg(count(lit(1)).as("lc")))
      val ranked = top10(
        scored(s, dir).select(col("probe_id"), col("plabel"),
          col("neighbor_id"), col("nlabel"),
          cosine(col("embedding"), col("pe")).as("sim")),
        col("sim").desc, col("neighbor_id").asc)
      val rel = ranked
        .withColumn("rel",
          when(col("nlabel") === col("plabel"), 1L).otherwise(0L))
        .withColumn("cumrel", sum("rel").over(
          Window.partitionBy("probe_id").orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ap = rel.groupBy("probe_id", "plabel")
        .agg(sortedFold(collect_list(struct(col("rnk"),
          when(col("rel") === 1L,
            col("cumrel").cast("double") / col("rnk").cast("double"))
            .otherwise(lit(0.0)).as("p"))), "p").as("psum"))
        .join(labelCnt, col("plabel") === col("label"))
        .select(col("probe_id"),
          // greatest(…, 1): a singleton label class would make the AP
          // denominator 0 — Spark yields NaN, DuckDB NULL — so both
          // sides clamp to 1 and agree
          (col("psum") /
            greatest(least(col("lc") - 1, lit(10L)), lit(1L))
              .cast("double")).as("ap"))
      ap.agg(count(lit(1)).as("n_probes"),
          sortedFold(collect_list(struct(col("probe_id"), col("ap"))),
            "ap").as("apsum"))
        .select(col("n_probes"),
          try_divide(col("apsum"), col("n_probes").cast("double"))
            .as("map_at_10"))
    }),
  )

  private def dotSql(a: String, b: String, lo: Int, hi: Int): String =
    s"list_sum(list_transform(range($lo, $hi), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def normSql(a: String, lo: Int, hi: Int): String =
    s"sqrt(${dotSql(a, a, lo, hi)})"

  private def simSql(a: String, b: String): String =
    s"${dotSql(a, b, 1, 65)} / (${normSql(a, 1, 65)} * ${normSql(b, 1, 65)})"

  private val scoredSqlPrefix =
    """pr AS (
      |  SELECT vec_id AS probe_id, embedding AS pe, label AS plabel
      |  FROM embeddings WHERE vec_id < 20
      |)""".stripMargin

  private def recallSql(approxExpr: String, approxOrder: String): String =
    s"""WITH $scoredSqlPrefix, sc AS (
       |  SELECT probe_id, vec_id AS neighbor_id,
       |    ${simSql("embedding", "pe")} AS sim,
       |    $approxExpr AS ax
       |  FROM embeddings, pr WHERE vec_id <> probe_id
       |), ex AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY probe_id ORDER BY sim DESC, neighbor_id ASC)
       |      AS rnk FROM sc) WHERE rnk <= 10
       |), ax AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY probe_id ORDER BY ax $approxOrder,
       |        neighbor_id ASC) AS rnk FROM sc) WHERE rnk <= 10
       |), np AS (
       |  SELECT CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS n_probes
       |  FROM pr
       |), h AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS hits
       |  FROM ex JOIN ax ON ex.probe_id = ax.probe_id
       |    AND ex.neighbor_id = ax.neighbor_id
       |)
       |SELECT np.n_probes AS n_probes, h.hits AS hits,
       |  CAST(h.hits AS DOUBLE) / (10.0 * CAST(np.n_probes AS DOUBLE))
       |    AS recall_at_10
       |FROM np, h""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_matryoshka_recall" -> recallSql(
      s"${dotSql("embedding", "pe", 1, 17)} / " +
        s"(${normSql("embedding", 1, 17)} * ${normSql("pe", 1, 17)})",
      "DESC"),

    "q_binary_hamming_recall" -> recallSql(
      "CAST(list_sum(list_transform(range(1, 65), i -> " +
        "CASE WHEN (embedding[i] > 0) <> (pe[i] > 0) THEN 1 ELSE 0 " +
        "END)) AS BIGINT)",
      "ASC"),

    "q_map_eval" ->
      s"""WITH $scoredSqlPrefix, lc AS (
         |  SELECT label, CAST(COUNT(*) AS BIGINT) AS lc
         |  FROM embeddings GROUP BY label
         |), sc AS (
         |  SELECT probe_id, plabel, vec_id AS neighbor_id,
         |    label AS nlabel, ${simSql("embedding", "pe")} AS sim
         |  FROM embeddings, pr WHERE vec_id <> probe_id
         |), ranked AS (
         |  SELECT probe_id, plabel, neighbor_id, nlabel, rnk FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 10
         |), rel AS (
         |  SELECT probe_id, plabel, rnk,
         |    CASE WHEN nlabel = plabel THEN 1 ELSE 0 END AS rel,
         |    CAST(SUM(CASE WHEN nlabel = plabel THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY probe_id ORDER BY rnk
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cumrel
         |  FROM ranked
         |), ap AS (
         |  SELECT probe_id, plabel,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(CASE WHEN rel = 1
         |        THEN CAST(cumrel AS DOUBLE) / CAST(rnk AS DOUBLE)
         |        ELSE 0.0 END ORDER BY rnk), (a, q) -> a + q) AS psum
         |  FROM rel GROUP BY probe_id, plabel
         |), apr AS (
         |  SELECT ap.probe_id AS probe_id,
         |    ap.psum / CAST(greatest(least(lc.lc - 1, 10), 1) AS DOUBLE) AS apv
         |  FROM ap JOIN lc ON ap.plabel = lc.label
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         |  list_reduce([CAST(0 AS DOUBLE)] ||
         |    list(apv ORDER BY probe_id), (a, q) -> a + q) /
         |    CAST(COUNT(*) AS DOUBLE) AS map_at_10
         |FROM apr""".stripMargin,
  )
}
