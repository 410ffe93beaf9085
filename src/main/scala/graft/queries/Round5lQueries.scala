package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5l batch: evaluation and planning metrics that close loops
  * opened by earlier operators — cluster purity (did the kmeans
  * clustering recover the labels? the semantic-dedup quality gate) and
  * the join-size audit (predict a self-join's output cardinality from
  * per-key counts BEFORE shuffling anything — the Σc² identity every
  * skew-aware planner runs, verified here against the actual join).
  *
  * Determinism rules (see Round5Queries): integer counts; each double
  * is a single division mirrored literally in the oracle.
  */
object Round5lQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cluster purity — composes embedding_kmeans_assign with the label
    // column: per assigned centroid, member count, majority label
    // (ties to the smallest label — total order, so deterministic),
    // and purity = majority share (the one mirrored division). The
    // quality gate a semantic-dedup pipeline checks before trusting
    // cluster-level decisions. Costs one broadcast-assign pass plus
    // two combine aggregates over (centroid, label) — 8×k rows.
    "q_cluster_purity" -> ((s, dir) => {
      val assign = Round3bQueries.queries("embedding_kmeans_assign")(s, dir)
        .select("vec_id", "centroid_id")
      val labeled = assign.join(
        Tables(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
      val cells = labeled.groupBy("centroid_id", "label")
        .agg(count(lit(1)).as("n_label"))
      cells.groupBy("centroid_id")
        .agg(sum("n_label").as("n_members"),
          max_by(col("label"), struct(col("n_label"), -col("label")))
            .as("majority_label"),
          max("n_label").as("n_majority"),
          count(lit(1)).as("n_distinct_labels"))
        .withColumn("purity",
          col("n_majority").cast("double") / col("n_members"))
        .orderBy("centroid_id")
    }),

    // Join-size audit — predict the lineitem⋈lineitem self-join's
    // output cardinality on l_partkey from per-key counts alone
    // (Σ c(k)² — one combine shuffle over keys, no data joined), with
    // the actual join count alongside proving the identity, plus the
    // skew evidence a planner acts on: the hottest key's contribution
    // and its share. At 100 TB the prediction arm is the ONLY thing
    // that runs before strategy choice; the verification arm exists
    // because this is a correctness-checked engine.
    "q_join_size_audit" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select("l_partkey")
      // counts feeds both arms: retained so the 600k-row groupBy runs once
      val counts = graft.CacheScope.retain(
        li.groupBy("l_partkey").agg(count(lit(1)).as("c")))
      val predicted = counts.agg(
        sum(col("c") * col("c")).as("predicted_rows"),
        count(lit(1)).as("n_keys"),
        max(col("c") * col("c")).as("max_key_rows"))
      // verification arm, aggregated-before-the-join (guide §2.3/§3.1):
      // the old shape broadcast ALL 600k non-distinct keys and counted
      // the ~18M materialized join rows on the single-row-group scan
      // task; probing the raw rows against the per-key count table and
      // summing c gives the identical count — each lineitem row matches
      // its own key's count row exactly once, so sum(c) = Σ_k c_k² =
      // count(lineitem ⋈ lineitem). coalesce keeps the empty-input
      // answer at 0, matching the oracle's COUNT(*). NOTE (ADVICE r12):
      // since both arms read the same retained `counts` aggregate, they
      // are no longer INDEPENDENT audits — a defect in the groupBy count
      // would corrupt both identically. The arm that stays independent
      // of `counts` is the raw `li` probe stream; full independence is
      // delegated to the DuckDB oracle, which recomputes both sides
      // from the parquet.
      val actual = li.join(broadcast(counts), "l_partkey")
        .agg(coalesce(sum(col("c")), lit(0L)).as("actual_rows"))
      predicted.join(broadcast(actual))
        .withColumn("max_key_share",
          col("max_key_rows").cast("double") / col("predicted_rows"))
        .select("predicted_rows", "actual_rows", "n_keys",
          "max_key_rows", "max_key_share")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_cluster_purity" -> {
      val assignSql = Round3bQueries.oracle("embedding_kmeans_assign")
      s"""WITH assign AS (
         |$assignSql
         |), labeled AS (
         |  SELECT a.centroid_id, e.label
         |  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
         |), cells AS (
         |  SELECT centroid_id, label, COUNT(*) AS n_label
         |  FROM labeled GROUP BY 1, 2
         |), ranked AS (
         |  SELECT centroid_id, label, n_label,
         |    ROW_NUMBER() OVER (PARTITION BY centroid_id
         |      ORDER BY n_label DESC, label) AS rn,
         |    SUM(n_label) OVER (PARTITION BY centroid_id) AS n_members,
         |    MAX(n_label) OVER (PARTITION BY centroid_id) AS n_majority,
         |    COUNT(*) OVER (PARTITION BY centroid_id)
         |      AS n_distinct_labels
         |  FROM cells
         |)
         |SELECT centroid_id, CAST(n_members AS BIGINT) AS n_members,
         |  label AS majority_label,
         |  CAST(n_majority AS BIGINT) AS n_majority,
         |  CAST(n_distinct_labels AS BIGINT) AS n_distinct_labels,
         |  CAST(n_majority AS DOUBLE) / n_members AS purity
         |FROM ranked WHERE rn = 1 ORDER BY centroid_id""".stripMargin
    },

    "q_join_size_audit" ->
      """WITH c AS (
        |  SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1
        |), p AS (
        |  SELECT CAST(SUM(c * c) AS BIGINT) AS predicted_rows,
        |    COUNT(*) AS n_keys,
        |    CAST(MAX(c * c) AS BIGINT) AS max_key_rows
        |  FROM c
        |), a AS (
        |  SELECT COUNT(*) AS actual_rows
        |  FROM lineitem x JOIN lineitem y USING (l_partkey)
        |)
        |SELECT p.predicted_rows, a.actual_rows, p.n_keys,
        |  p.max_key_rows,
        |  CAST(p.max_key_rows AS DOUBLE) / p.predicted_rows
        |    AS max_key_share
        |FROM p, a""".stripMargin,
  )
}
