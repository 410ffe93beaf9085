package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.VectorFunctions.{dotD, normD}
import graft.queries.QueryKit.dec

/** Round-3 second batch: the statistical-aggregate surface (moments,
  * correlation, regression — the profiling pass a corpus runs before
  * training), distribution windows (cume_dist / percent_rank), the
  * UNPIVOT reshape, and three more training-pipeline operators:
  * per-document repetition quality signals (Gopher-style max-token /
  * repeated-bigram fractions), corpus bigram collocations by lift, and
  * decode-batch planning (packing byte-range chunks into bounded decode
  * batches — the batch shape a mapPartitions media decoder consumes).
  *
  * Exactness contract: every statistic is computed from EXACT decimal /
  * integer sums first; floating point enters only in a final arithmetic
  * tree written identically in the Spark expression and the DuckDB
  * oracle, so IEEE-754 evaluation is bitwise-identical on both sides
  * (same trick as term_tfidf's single mirrored division).
  *
  * Scale posture: the moment/corr/regr queries are single-scan partial
  * aggregates (six decimal sums cross the shuffle, never rows); the
  * repetition signals are per-row higher-order-function folds with NO
  * shuffle at all; collocations explode to (token, token) pairs and
  * aggregate with map-side combine; decode batching is a window over a
  * task-key partition — each is linear and shuffle-minimal at 100 TB.
  */
object Round3bQueries {

  // exact 2-dp decimal casts: l_quantity is integral 1..50, prices are
  // exact 2-decimal values (FIXTURES.md) — these casts are lossless
  private val qtyDec  = col("l_quantity").cast(DecimalType(9, 2))
  private val prcDec  = col("l_extendedprice").cast(DecimalType(12, 2))

  /** The six exact sufficient statistics of (x=quantity, y=price) per
    * group — one scan, partial-aggregated; products stay within
    * decimal(38) at any scale factor.
    */
  private def sufficientStats(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(qtyDec).as("sx"),
      sum(qtyDec * qtyDec).as("sxx"),
      sum(prcDec).as("sy"),
      sum(prcDec * prcDec).as("syy"),
      sum(qtyDec * prcDec).as("sxy"))

  // double views of the exact sums — the only lossy step, mirrored.
  // The conversion routes decimal -> string -> double (r9): both
  // engines parse decimal strings correctly rounded, while DuckDB's
  // direct scaled-int128 -> double cast lands 1 ulp off for some
  // values (observed at sf0.001: SUM(price²) for flag A reads
  // ...5.869 direct vs ...5.868 correctly rounded, which poisoned
  // std_price/corr_xy in the degenerate-domain sweep). Spark's own
  // decimal -> double is correctly rounded either way, so this only
  // pins the oracle side; the string hop is on 3 rows, not the scan.
  private val nD   = col("n").cast("double")
  private val sxD  = col("sx").cast("string").cast("double")
  private val sxxD = col("sxx").cast("string").cast("double")
  private val syD  = col("sy").cast("string").cast("double")
  private val syyD = col("syy").cast("string").cast("double")
  private val sxyD = col("sxy").cast("string").cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sample moments from exact sums: mean, var, stddev per return
    // flag. var = (n·Σx² − (Σx)²) / (n·(n−1)) evaluated in doubles over
    // exact decimal sums — the shuffle moves 6 numbers per group, and
    // the FP tree is written identically in the oracle.
    "q_stats_moments" -> ((s, dir) =>
      sufficientStats(Tables(s, dir, "lineitem"))
        .select(col("l_returnflag"), col("n"),
          (sxD / nD).as("mean_qty"),
          ((nD * sxxD - sxD * sxD) / (nD * (nD - lit(1.0))))
            .as("var_qty"),
          sqrt((nD * sxxD - sxD * sxD) / (nD * (nD - lit(1.0))))
            .as("std_qty"),
          (syD / nD).as("mean_price"),
          sqrt((nD * syyD - syD * syD) / (nD * (nD - lit(1.0))))
            .as("std_price"))
        .orderBy("l_returnflag")),

    // Pearson correlation + least-squares regression of price on
    // quantity, from the same six exact sums (no second pass, no
    // built-in corr/regr_slope whose summation order is engine-
    // dependent): slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²).
    "q_corr_regr" -> ((s, dir) =>
      sufficientStats(Tables(s, dir, "lineitem"))
        .select(col("l_returnflag"), col("n"),
          ((nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD))
            .as("slope"),
          ((syD - (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD)
            * sxD) / nD).as("intercept"),
          ((nD * sxyD - sxD * syD) /
            (sqrt(nD * sxxD - sxD * sxD) * sqrt(nD * syyD - syD * syD)))
            .as("corr_xy"))
        .orderBy("l_returnflag")),

    // Distribution-position windows: percent_rank (rank−1)/(n−1) and
    // cume_dist (#peers ≤ current)/n per priority class — both exact
    // rationals evaluated as one FP division with identical operands in
    // both engines. The window shuffles once on its partition key.
    "q_window_cume_dist" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    }),

    // UNPIVOT reshape: per-region wide metrics melted to (metric,
    // value) rows — the inverse of q_pivot. Metrics are exact sums cast
    // to double; avg is the one mirrored division.
    "q_unpivot" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val cust = Tables(s, dir, "customer")
      val nat = Tables(s, dir, "nation")
      val reg = Tables(s, dir, "region")
      orders
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          sum(col("o_totalprice").cast(dec)).cast("double").as("total"),
          count(lit(1)).cast("double").as("cnt"))
        .withColumn("avg_price", col("total") / col("cnt"))
        .unpivot(Array(col("r_name")),
          Array(col("total"), col("cnt"), col("avg_price")),
          "metric", "value")
        .orderBy("r_name", "metric")
    }),

    // Gopher-style repetition quality signals, zero-shuffle: per doc
    // the max-token fraction (mode frequency / n) and the repeated-
    // bigram fraction (1 − distinct bigrams / total bigrams), computed
    // entirely with higher-order array functions inside one projection
    // — no explode, no aggregation, codegen end to end. The quality
    // gate every 100 TB corpus applies before training.
    "quality_repetition" -> ((s, dir) =>
      // O(distinct·n) per-row folds: spread the single-file scan first
      PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tokens", size(col("ws")))
        .withColumn("top_cnt",
          array_max(transform(array_distinct(col("ws")),
            w => size(filter(col("ws"), x => x === w)))))
        // guarded: sequence(1, 0) would infer a NEGATIVE step for a
        // 1-token doc (same trap as multimodal_chunk_plan's zero-byte
        // guard) and element_at(ws, 0) errors under ANSI
        .withColumn("dbi",
          when(size(col("ws")) > 1,
            size(array_distinct(transform(
              sequence(lit(1), size(col("ws")) - 1),
              i => concat(element_at(col("ws"), i), lit(" "),
                element_at(col("ws"), i + 1))))))
            .otherwise(lit(0)))
        .select(col("doc_id"), col("n_tokens"),
          (col("top_cnt").cast("double") / col("n_tokens").cast("double"))
            .as("top_tok_frac"),
          when(col("n_tokens") > 1,
            lit(1.0) - col("dbi").cast("double") /
              (col("n_tokens") - 1).cast("double"))
            .otherwise(lit(0.0)).as("bigram_rep"))
        .orderBy("doc_id")),

    // Corpus bigram collocations: top-20 adjacent pairs by count, with
    // a lift score (N·c(xy))/(c(x)·c(y)) from exact counts — the
    // collocation table an n-gram LM / tokenizer-training pass needs.
    // Pairs explode once and aggregate with map-side combine; the
    // unigram count table (vocabulary-sized, small by Heaps' law
    // relative to the corpus) broadcasts back onto the pair counts.
    "token_collocations" -> ((s, dir) => {
      val ws = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val pairs = ws
        .filter(size(col("ws")) > 1)
        .select(explode(transform(
          sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      val uni = ws
        .select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      // total pair count from the ALREADY-aggregated bigram table —
      // summing counts over the vocabulary-sized bi, not a third
      // scan+explode of the corpus
      val nTotal = bi.agg(sum(col("c_xy")).as("n_pairs"))
      bi.join(broadcast(uni.withColumnRenamed("w", "w1")
            .withColumnRenamed("c", "c_x")), "w1")
        .join(broadcast(uni.withColumnRenamed("w", "w2")
            .withColumnRenamed("c", "c_y")), "w2")
        .crossJoin(broadcast(nTotal))
        .select(col("w1"), col("w2"), col("c_xy"),
          (col("n_pairs").cast("double") * col("c_xy").cast("double") /
            (col("c_x").cast("double") * col("c_y").cast("double")))
            .as("lift"))
        .orderBy(col("c_xy").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // One BPE merge step (the tokenizer-training primitive): count all
    // adjacent character pairs inside words, pick the most frequent
    // (ties by pair text), and apply the merge corpus-wide, reporting
    // merges per document. Pair counts shuffle map-side-combined on the
    // pair; the winning pair broadcasts back over the corpus; the merge
    // count per word is the exact non-overlapping-replace length delta
    // (both engines replace left-to-right), integer-divided — no FP
    // anywhere. At 100 TB each training iteration is one combine
    // shuffle of (pair, count) rows plus a broadcast.
    "bpe_merge_step" -> ((s, dir) => {
      // the exploded word table feeds BOTH the pair-count aggregate and
      // the merge application — persist so the split/explode runs once
      // per pass (a real BPE trainer caches its word corpus across all
      // merge iterations for the same reason)
      val words = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .transform(graft.CacheScope.retain)
      val pairs = words.select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"))
      val top = broadcast(
        pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .select("pair"))
      words.crossJoin(top)
        .withColumn("m", expr(
          "(length(w) - length(replace(w, pair, ''))) div 2"))
        .groupBy("doc_id", "pair")
        .agg(sum(col("m")).as("n_merges"))
        .orderBy("doc_id")
    }),

    // K-means assignment step (the E-step of Lloyd's algorithm, and the
    // partitioner of semantic-dedup clustering): each vector assigned
    // to its nearest of 8 broadcast centroids by squared euclidean
    // distance d² = |v|² − 2·v·c + |c|², with both norms precomputed
    // once per row/centroid so the cross product evaluates ONE dot per
    // pair. At 100 TB: centroids always broadcast (k·dim floats), the
    // scan streams, and the argmin is a tiny per-key window — no
    // shuffle of vector payloads at all beyond the output sort.
    "embedding_kmeans_assign" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("ce"),
          dotD(col("embedding"), col("embedding")).as("n2c")))
      val vecs = e.select(col("vec_id"), col("embedding"),
        dotD(col("embedding"), col("embedding")).as("n2v"))
      val w = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
      vecs.crossJoin(cents)
        .select(col("vec_id"), col("centroid_id"),
          (col("n2v") - lit(2.0) * dotD(col("embedding"), col("ce"))
            + col("n2c")).as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("vec_id")
    }),

    // Decode-batch planning: pack the byte-range chunks of
    // multimodal_chunk_plan into bounded decode batches (≤64 KiB of
    // payload per batch) within a decode task (doc_id mod 8 — the
    // partition a mapPartitions decoder would own). batch =
    // (running_bytes − 1) div budget over the task's chunk order; the
    // output is the (task, batch) manifest with chunk count and bytes —
    // exactly the batch shape a vectorized decoder consumes. One window
    // shuffle on the task key; integer arithmetic throughout.
    "multimodal_decode_batches" -> ((s, dir) => {
      val chunks = Tables(s, dir, "documents")
        .withColumn("n_bytes", octet_length(col("text")))
        .withColumn("n_chunks", expr("(n_bytes + 999) div 1000"))
        .filter(col("n_bytes") > 0)
        .select(col("doc_id"), col("n_bytes"),
          posexplode(sequence(lit(0L), col("n_chunks") - 1))
            .as(Seq("chunk_idx", "chunk_no")))
        .withColumn("chunk_len",
          least(lit(1000L), col("n_bytes") - col("chunk_no") * 1000))
        .withColumn("task", pmod(col("doc_id"), lit(8)))
      val w = Window.partitionBy("task").orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunks
        .withColumn("cum_bytes", sum(col("chunk_len")).over(w))
        .withColumn("batch_id", expr("(cum_bytes - 1) div 65536"))
        .groupBy("task", "batch_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_len")).as("batch_bytes"))
        .orderBy("task", "batch_id")
    })
  )

  // ---------------------------------------------------------------- oracle

  // the shared exact-sums CTE, written once; DuckDB's decimal sums are
  // exact like Spark's, so the double casts see identical values
  private val statsCte =
    """WITH a AS (
      |  SELECT l_returnflag,
      |    count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(9,2))) AS sx,
      |    sum(CAST(l_quantity AS DECIMAL(9,2))
      |      * CAST(l_quantity AS DECIMAL(9,2))) AS sxx,
      |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
      |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
      |    sum(CAST(l_quantity AS DECIMAL(9,2))
      |      * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
      |  FROM lineitem GROUP BY l_returnflag
      |),
      |d AS (
      |  SELECT l_returnflag, n,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
      |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
      |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
      |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd,
      |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
      |  FROM a
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_stats_moments" -> (statsCte +
      """
        |SELECT l_returnflag, n,
        |  sxd / nd AS mean_qty,
        |  (nd * sxxd - sxd * sxd) / (nd * (nd - 1.0)) AS var_qty,
        |  sqrt((nd * sxxd - sxd * sxd) / (nd * (nd - 1.0))) AS std_qty,
        |  syd / nd AS mean_price,
        |  sqrt((nd * syyd - syd * syd) / (nd * (nd - 1.0))) AS std_price
        |FROM d ORDER BY l_returnflag""".stripMargin),

    "q_corr_regr" -> (statsCte +
      """
        |SELECT l_returnflag, n,
        |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
        |  (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
        |    * sxd) / nd AS intercept,
        |  (nd * sxyd - sxd * syd) /
        |    (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))
        |    AS corr_xy
        |FROM d ORDER BY l_returnflag""".stripMargin),

    "q_window_cume_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin,

    "q_unpivot" ->
      """WITH m AS (
        |  SELECT r_name,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total,
        |    CAST(count(*) AS DOUBLE) AS cnt
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name
        |),
        |m2 AS (SELECT r_name, total, cnt, total / cnt AS avg_price FROM m)
        |SELECT r_name, metric, value
        |FROM m2 UNPIVOT (value FOR metric IN (total, cnt, avg_price))
        |ORDER BY r_name, metric""".stripMargin,

    "quality_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |),
        |c AS (
        |  SELECT doc_id, len(ws) AS n_tokens,
        |    list_max(list_transform(list_distinct(ws),
        |      w -> len(list_filter(ws, x -> x = w)))) AS top_cnt,
        |    len(list_distinct(list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i + 1]))) AS dbi
        |  FROM w
        |)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS top_tok_frac,
        |  CASE WHEN n_tokens > 1
        |    THEN 1.0 - CAST(dbi AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
        |    ELSE 0.0 END AS bigram_rep
        |FROM c ORDER BY doc_id""".stripMargin,

    "token_collocations" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
        |  FROM w WHERE len(ws) > 1
        |),
        |pairs AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM p),
        |bi AS (SELECT w1, w2, count(*) AS c_xy FROM pairs GROUP BY 1, 2),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1
        |),
        |n AS (SELECT count(*) AS n_pairs FROM pairs)
        |SELECT w1, w2, c_xy,
        |  CAST(n_pairs AS DOUBLE) * CAST(c_xy AS DOUBLE) /
        |    (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)) AS lift
        |FROM bi
        |JOIN uni ux ON bi.w1 = ux.w
        |JOIN uni uy ON bi.w2 = uy.w
        |CROSS JOIN n
        |ORDER BY c_xy DESC, w1, w2
        |LIMIT 20""".stripMargin,

    "bpe_merge_step" ->
      """WITH w0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |),
        |w2 AS (SELECT doc_id, w FROM w0 WHERE length(w) >= 2),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM w2
        |),
        |top AS (
        |  SELECT pair FROM (
        |    SELECT pair, count(*) AS cnt FROM p GROUP BY 1
        |  ) ORDER BY cnt DESC, pair LIMIT 1
        |)
        |SELECT doc_id, pair,
        |  CAST(sum((length(w) - length(replace(w, pair, ''))) // 2)
        |    AS BIGINT) AS n_merges
        |FROM w2, top GROUP BY 1, 2
        |ORDER BY doc_id""".stripMargin,

    "embedding_kmeans_assign" -> {
      // the ONE dot-product fold definition shared with PipelineQueries'
      // oracles — identical operand order keeps IEEE results bitwise
      def dot(a: String, b: String): String =
        s"list_sum(list_transform(range(1,65), i -> " +
          s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
      s"""WITH c AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce,
         |    ${dot("embedding", "embedding")} AS n2c
         |  FROM embeddings WHERE vec_id < 8
         |),
         |v AS (
         |  SELECT vec_id, embedding,
         |    ${dot("embedding", "embedding")} AS n2v
         |  FROM embeddings
         |),
         |d AS (
         |  SELECT vec_id, centroid_id,
         |    n2v - 2.0 * ${dot("embedding", "ce")} + n2c AS d2
         |  FROM v, c
         |),
         |r AS (
         |  SELECT vec_id, centroid_id, d2,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, centroid_id) AS rn
         |  FROM d
         |)
         |SELECT vec_id, centroid_id, d2 FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    },

    "multimodal_decode_batches" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n_bytes
        |  FROM documents WHERE octet_length(encode(text)) > 0
        |),
        |ch AS (
        |  SELECT doc_id,
        |    CAST(unnest(range(0, (n_bytes + 999) // 1000)) AS INT)
        |      AS chunk_idx,
        |    LEAST(1000,
        |      n_bytes - unnest(range(0, (n_bytes + 999) // 1000)) * 1000)
        |      AS chunk_len,
        |    doc_id % 8 AS task
        |  FROM b
        |),
        |cum AS (
        |  SELECT task, chunk_len,
        |    CAST(sum(chunk_len) OVER (PARTITION BY task
        |      ORDER BY doc_id, chunk_idx
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bytes
        |  FROM ch
        |)
        |SELECT task, (cum_bytes - 1) // 65536 AS batch_id,
        |  count(*) AS n_chunks,
        |  CAST(sum(chunk_len) AS BIGINT) AS batch_bytes
        |FROM cum GROUP BY 1, 2
        |ORDER BY task, batch_id""".stripMargin
  )
}
