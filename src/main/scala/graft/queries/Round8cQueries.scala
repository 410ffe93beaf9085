package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.{dotD, sqDistD}

/** Round-8 third batch: embedding-pipeline depth — the composed ANN
  * production shape, semantic decontamination, and clustering quality.
  *
  *  - ann_ivfpq_topk: IVF coarse routing + PQ ADC scan WITHIN the
  *    probed cells — the composition production ANN systems actually
  *    run (FAISS IVF-PQ shape): route the probe to the top-2 nearest
  *    cell centroids, then rank only those cells' members by 8-byte
  *    PQ code distance. ann_ivf_topk exact-searches the probed cells;
  *    ann_pq_topk ADC-scans the whole corpus; this one does neither.
  *  - decontam_embedding: semantic benchmark decontamination — corpus
  *    vectors whose max cosine to ANY benchmark-probe vector clears a
  *    threshold, reported per label. The embedding-space complement to
  *    decontam_ngram (paraphrased contamination that n-gram overlap
  *    misses).
  *  - q_emb_centroid_purity: label purity of the k-means assignment
  *    (majority-label share per centroid) — the clustering-quality
  *    metric that says whether semantic-dedup partitions track labels.
  *
  * Scale: benchmark sets and codebooks broadcast (bench suites are
  * tiny); the corpus is scanned once per query; ADC scans move 8-byte
  * codes, never 64-float payloads; all rankings are bounded TopK or
  * per-key windows over cell-sized partitions.
  */
object Round8cQueries {

  /** Top-2 IVF cells for the vec_id=0 probe: label-cell centroids from
    * the explicit vec_id-ordered fold (bitwise-stable mean), ranked by
    * centroid cosine. Identical construction to ann_ivf_topk.
    */
  private def topCells(e: DataFrame, probe: DataFrame): DataFrame = {
    val cents = e.groupBy("label").agg(
        sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
          .as("vs"),
        count(lit(1)).as("n"))
      .select(col("label"),
        transform(sequence(lit(1), lit(64)), i =>
          aggregate(col("vs"), lit(0.0), (acc, v) =>
            acc + element_at(v.getField("embedding"), i).cast("double"))
            / col("n")).as("c"))
    val cellSims = cents.crossJoin(probe).select(col("label"),
      (aggregate(zip_with(col("c"), col("pe"),
          (x, y) => x * y.cast("double")), lit(0.0), (a, v) => a + v) /
        (sqrt(aggregate(transform(col("c"), x => x * x), lit(0.0),
          (a, v) => a + v)) *
         sqrt(aggregate(zip_with(col("pe"), col("pe"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
          (a, v) => a + v)))).as("csim"))
    broadcast(cellSims.orderBy(col("csim").desc, col("label").asc).limit(2)
      .select("label"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IVF-PQ: coarse-route to 2 cells, ADC-rank their members by 8-byte
    // PQ codes. Codes are built only for probed-cell members (at 100 TB
    // codes are precomputed; here the restriction keeps the encode
    // work cell-bounded too); anchors and the ADC table stay global and
    // broadcast.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val m = 8; val subDim = 8; val k = 16
      val e = Tables(s, dir, "embeddings")
      val probe = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe")))
      val cells = topCells(e, probe)
      val subArr = array((0 until m).map(i =>
        slice(col("embedding"), i * subDim + 1, subDim)): _*)
      // sub-vectors: anchors from the global first-k vectors; member
      // sub-vectors only from the probed cells
      val anchors = broadcast(e.filter(col("vec_id") < k)
        .select(col("vec_id"), posexplode(subArr).as(Seq("sub", "subv")))
        .select(col("vec_id").cast("int").as("cid"), col("sub"),
          col("subv").as("av")))
      val memberSubs = e.join(cells, "label")
        .select(col("vec_id"), posexplode(subArr).as(Seq("sub", "subv")))
      val byDist = Window.partitionBy("vec_id", "sub")
        .orderBy("d2", "cid")
      val codes = memberSubs.join(anchors, "sub")
        .withColumn("d2", sqDistD(col("subv"), col("av")))
        .withColumn("rn", row_number().over(byDist))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("cid").as("code"))
      val probeSubs = broadcast(e.filter(col("vec_id") === 0)
        .select(posexplode(subArr).as(Seq("sub", "pv"))))
      val adc = broadcast(anchors.join(probeSubs, "sub")
        .select(col("sub"), col("cid"), sqDistD(col("pv"), col("av")).as("pd")))
      codes.join(adc,
          codes("sub") === adc("sub") && col("code") === col("cid"))
        .groupBy("vec_id")
        .agg(aggregate(
          transform(array_sort(collect_list(
            struct(codes("sub").as("sub"), col("pd").as("pd")))),
            _.getField("pd")),
          lit(0.0), (acc, v) => acc + v).as("adist"))
        .filter(col("vec_id") =!= 0)
        .orderBy(col("adist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // Semantic decontamination census: per label, how many corpus
    // vectors (vec_id >= 16) sit within cosine 0.35 of ANY benchmark
    // probe (vec_id < 16). Bench side broadcasts; per-vector max-sim is
    // a combine aggregate (max is order-independent, and the sim
    // formula is operand-order-mirrored in the oracle, so the doubles
    // are bitwise equal). Threshold probed in DuckDB: 20 hits at
    // sf0.01 (66 at 0.30, 2 at 0.40).
    "decontam_embedding" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bench = broadcast(e.filter(col("vec_id") < 16)
        .select(col("embedding").as("be"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("nb")))
      val corpus = e.filter(col("vec_id") >= 16)
        .select(col("vec_id"), col("label"), col("embedding"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("na"))
      corpus.crossJoin(bench)
        .select(col("vec_id"), col("label"),
          (dotD(col("embedding"), col("be")) / (col("na") * col("nb")))
            .as("sim"))
        .groupBy("vec_id", "label").agg(max(col("sim")).as("max_sim"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("max_sim") >= 0.35, 1L).otherwise(0L))
            .as("n_contaminated"))
        .withColumn("contam_rate",
          col("n_contaminated").cast("double") / col("n_vecs"))
        .orderBy("label")
    }),

    // k-means assignment purity: assign every vector to its nearest of
    // the 8 seed centroids (identical argmin to embedding_kmeans_assign)
    // and report the majority-label share per centroid. Ties break to
    // the smaller label — deterministic in both engines.
    "q_emb_centroid_purity" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("ce"),
          dotD(col("embedding"), col("embedding")).as("n2c")))
      val vecs = e.select(col("vec_id"), col("label"), col("embedding"),
        dotD(col("embedding"), col("embedding")).as("n2v"))
      val byD = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
      val assign = vecs.crossJoin(cents)
        .select(col("vec_id"), col("label"), col("centroid_id"),
          (col("n2v") - lit(2.0) * dotD(col("embedding"), col("ce"))
            + col("n2c")).as("d2"))
        .withColumn("rn", row_number().over(byD))
        .filter(col("rn") === 1)
      val counts = assign.groupBy("centroid_id", "label")
        .agg(count(lit(1)).as("cnt"))
      val byCnt = Window.partitionBy("centroid_id")
        .orderBy(col("cnt").desc, col("label"))
      val major = counts.withColumn("rn", row_number().over(byCnt))
        .filter(col("rn") === 1)
        .select(col("centroid_id"), col("label").as("majority_label"),
          col("cnt").as("n_majority"))
      val totals = counts.groupBy("centroid_id")
        .agg(sum(col("cnt")).cast("long").as("n_vecs"))
      major.join(totals, "centroid_id")
        .withColumn("purity",
          col("n_majority").cast("double") / col("n_vecs"))
        .select("centroid_id", "n_vecs", "majority_label", "n_majority",
          "purity")
        .orderBy("centroid_id")
    }),
  )

  val oracle: Map[String, String] = {
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1,65), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    val sq8 = (a: String, b: String) =>
      s"""list_sum(list_transform(range(1, 9), i ->
         |      (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |      (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
    Map(
      "ann_ivfpq_topk" ->
        s"""WITH vs AS (
           |  SELECT label, list(embedding ORDER BY vec_id) AS vs,
           |    COUNT(*) AS n
           |  FROM embeddings GROUP BY label
           |), cent AS (
           |  SELECT label,
           |    [list_sum(list_transform(vs, v -> CAST(v[i] AS DOUBLE))) / n
           |      FOR i IN range(1, 65)] AS c
           |  FROM vs
           |), p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
           |cs AS (
           |  SELECT label,
           |    list_sum(list_transform(range(1,65), i ->
           |      c[i] * CAST(pe[i] AS DOUBLE)))
           |    / (sqrt(list_sum(list_transform(range(1,65), i ->
           |        c[i] * c[i])))
           |      * sqrt(list_sum(list_transform(range(1,65), i ->
           |        CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)))))
           |      AS csim
           |  FROM cent, p
           |), top_cells AS (
           |  SELECT label FROM cs ORDER BY csim DESC, label ASC LIMIT 2
           |), sv AS (
           |  SELECT vec_id, s.sub,
           |    embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS subv
           |  FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s
           |), anch AS (
           |  SELECT CAST(vec_id AS INT) AS cid, sub, subv AS av
           |  FROM sv WHERE vec_id < 16
           |), msv AS (
           |  SELECT v.vec_id, v.sub, v.subv
           |  FROM sv v JOIN embeddings e ON e.vec_id = v.vec_id
           |  JOIN top_cells t ON e.label = t.label
           |), d AS (
           |  SELECT v.vec_id, v.sub, a.cid,
           |    ${sq8("v.subv", "a.av")} AS d2
           |  FROM msv v JOIN anch a ON v.sub = a.sub
           |), codes AS (
           |  SELECT vec_id, sub, cid AS code FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
           |      ORDER BY d2, cid) AS rn
           |    FROM d
           |  ) WHERE rn = 1
           |), adc AS (
           |  SELECT a.sub, a.cid,
           |    ${sq8("p.subv", "a.av")} AS pd
           |  FROM anch a JOIN sv p ON p.sub = a.sub AND p.vec_id = 0
           |)
           |SELECT c.vec_id, list_sum(list(pd ORDER BY c.sub)) AS adist
           |FROM codes c JOIN adc ON c.sub = adc.sub AND c.code = adc.cid
           |WHERE c.vec_id <> 0
           |GROUP BY c.vec_id
           |ORDER BY adist ASC, vec_id ASC
           |LIMIT 10""".stripMargin,

      "decontam_embedding" ->
        s"""WITH bench AS (
           |  SELECT embedding AS be,
           |    sqrt(${dot("embedding", "embedding")}) AS nb
           |  FROM embeddings WHERE vec_id < 16
           |), corpus AS (
           |  SELECT vec_id, label, embedding,
           |    sqrt(${dot("embedding", "embedding")}) AS na
           |  FROM embeddings WHERE vec_id >= 16
           |), sims AS (
           |  SELECT vec_id, label,
           |    MAX(${dot("embedding", "be")} / (na * nb)) AS max_sim
           |  FROM corpus, bench
           |  GROUP BY 1, 2
           |)
           |SELECT label, COUNT(*) AS n_vecs,
           |  CAST(SUM(CASE WHEN max_sim >= 0.35 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_contaminated,
           |  CAST(SUM(CASE WHEN max_sim >= 0.35 THEN 1 ELSE 0 END)
           |    AS DOUBLE) / COUNT(*) AS contam_rate
           |FROM sims GROUP BY 1 ORDER BY label""".stripMargin,

      "q_emb_centroid_purity" ->
        s"""WITH c AS (
           |  SELECT vec_id AS centroid_id, embedding AS ce,
           |    ${dot("embedding", "embedding")} AS n2c
           |  FROM embeddings WHERE vec_id < 8
           |), v AS (
           |  SELECT vec_id, label, embedding,
           |    ${dot("embedding", "embedding")} AS n2v
           |  FROM embeddings
           |), d AS (
           |  SELECT vec_id, label, centroid_id,
           |    n2v - 2.0 * ${dot("embedding", "ce")} + n2c AS d2
           |  FROM v, c
           |), assign AS (
           |  SELECT vec_id, label, centroid_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY d2, centroid_id) AS rn
           |    FROM d
           |  ) WHERE rn = 1
           |), counts AS (
           |  SELECT centroid_id, label, COUNT(*) AS cnt
           |  FROM assign GROUP BY 1, 2
           |), major AS (
           |  SELECT centroid_id, label AS majority_label,
           |    cnt AS n_majority
           |  FROM (
           |    SELECT *, row_number() OVER (PARTITION BY centroid_id
           |      ORDER BY cnt DESC, label) AS rn
           |    FROM counts
           |  ) WHERE rn = 1
           |), totals AS (
           |  SELECT centroid_id, CAST(SUM(cnt) AS BIGINT) AS n_vecs
           |  FROM counts GROUP BY 1
           |)
           |SELECT m.centroid_id, t.n_vecs, m.majority_label, m.n_majority,
           |  CAST(m.n_majority AS DOUBLE) / t.n_vecs AS purity
           |FROM major m JOIN totals t USING (centroid_id)
           |ORDER BY centroid_id""".stripMargin,
    )
  }
}
