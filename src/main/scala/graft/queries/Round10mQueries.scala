package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch m: fuzzy string matching on the codegen'd
  * [[graft.expressions.JaroWinkler]] expression — record-linkage
  * primitives whose scores are BITWISE-identical to DuckDB's built-in
  * `jaro_winkler_similarity` (the expression mirrors its exact
  * arithmetic order; Round10xQueriesSpec pins the battery, and these
  * oracles compare ~740k scored pairs cell-by-cell at sf0.1-shape).
  *
  * Scale posture: fuzzy matching NEVER runs all-pairs — every query
  * blocks first (equi-join on a block key: id-range for entity ids,
  * first token for catalog names), then scores only within blocks, the
  * standard record-linkage decomposition. The expression codegens into
  * the join stage, so scoring stays inside WholeStageCodegen.
  *
  *  - q_jw_blocked_pairs: within-block (custkey div 100) pair scores,
  *    bucketed floor(jw·1000) histogram — the score-distribution audit
  *    that sizes a linkage threshold.
  *  - q_jw_topk: the 30 most-similar distinct customer-name pairs
  *    (score >= 0.9 prefilter) — ranked match candidates.
  *  - q_jw_part_dedup: catalog near-dup names — DISTINCT part names
  *    blocked by first word, pairs with jw >= 0.8.
  */
object Round10mQueries {

  private def customers(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name").as("name"))
      .withColumn("blk", expr("k div 100"))
  }

  private def jw = (a: String, b: String) =>
    expr(s"graft_jaro_winkler($a, $b)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_jw_blocked_pairs" -> ((s, dir) => {
      val c = customers(s, dir)
      val l = c.select(col("blk"), col("k").as("k_a"),
        col("name").as("name_a"))
      val r = c.select(col("blk"), col("k").as("k_b"),
        col("name").as("name_b"))
      l.join(r, Seq("blk"))
        .filter(col("k_a") < col("k_b"))
        .withColumn("bucket",
          floor(jw("name_a", "name_b") * lit(1000.0)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket")
    }),

    "q_jw_topk" -> ((s, dir) => {
      val c = customers(s, dir)
      val l = c.select(col("blk"), col("k").as("k_a"),
        col("name").as("name_a"))
      val r = c.select(col("blk"), col("k").as("k_b"),
        col("name").as("name_b"))
      l.join(r, Seq("blk"))
        .filter(col("k_a") < col("k_b"))
        .withColumn("jw", jw("name_a", "name_b"))
        .filter(col("jw") >= 0.9)
        .select("name_a", "name_b", "jw")
        .orderBy(col("jw").desc, col("name_a"), col("name_b"))
        .limit(30)
    }),

    "q_jw_part_dedup" -> ((s, dir) => {
      val names = Tables(s, dir, "part")
        .select(col("p_name").as("name")).distinct()
        .withColumn("w1", split_part(col("name"), lit(" "), lit(1)))
      val l = names.select(col("w1"), col("name").as("name_a"))
      val r = names.select(col("w1"), col("name").as("name_b"))
      l.join(r, Seq("w1"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw", jw("name_a", "name_b"))
        .filter(col("jw") >= 0.8)
        .select("w1", "name_a", "name_b", "jw")
        .orderBy(col("jw").desc, col("name_a"), col("name_b"))
    }))

  private val custPairsSql =
    """c AS (
      |  SELECT c_custkey AS k, c_name AS name, c_custkey // 100 AS blk
      |  FROM customer
      |), pairs AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |    jaro_winkler_similarity(a.name, b.name) AS jw
      |  FROM c a JOIN c b ON a.blk = b.blk AND a.k < b.k
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_jw_blocked_pairs" ->
      s"""WITH $custPairsSql
         |SELECT CAST(floor(jw * 1000.0) AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_jw_topk" ->
      s"""WITH $custPairsSql
         |SELECT name_a, name_b, jw FROM pairs
         |WHERE jw >= 0.9
         |ORDER BY jw DESC, name_a, name_b LIMIT 30""".stripMargin,

    "q_jw_part_dedup" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name AS name FROM part
        |), blocked AS (
        |  SELECT split_part(name, ' ', 1) AS w1, name FROM names
        |)
        |SELECT a.w1, a.name AS name_a, b.name AS name_b,
        |  jaro_winkler_similarity(a.name, b.name) AS jw
        |FROM blocked a JOIN blocked b
        |  ON a.w1 = b.w1 AND a.name < b.name
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.8
        |ORDER BY jw DESC, name_a, name_b""".stripMargin)
}
