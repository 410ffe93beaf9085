package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5s batch: corpus curation mechanics — unsupervised keyword
  * extraction (RAKE), embedding-distribution drift between splits, and
  * integer water-filling budget allocation across sources.
  *
  *  - q_rake_keywords: stopword-delimited candidate phrases scored by
  *    Σ degree(w)/freq(w) (RAKE), top-20 corpus-wide
  *  - q_centroid_shift: per-label cosine between the split-A and
  *    split-B mean embedding (the train/holdout drift monitor)
  *  - q_budget_alloc: two-pass capped proportional allocation of a
  *    token budget across sources (the mixture planner's integer core)
  *
  * Determinism: RAKE's cross-word double sum folds over word-sorted
  * lists; centroid means use the fixed-block tree reduction from
  * embedding_kmeans_update and the cross-dim products fold dim-sorted;
  * the allocator is pure integer `div` arithmetic.
  */
object Round5sQueries {

  private val stopwords = Seq("the", "of", "and", "a", "to", "in", "is",
    "on", "for", "with", "as", "by", "an", "be", "at")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RAKE keyword extraction: candidate phrases are maximal runs of
    // non-stopword tokens (the rn-difference islands trick on token
    // positions); each word scores degree/frequency where degree sums
    // the lengths of every phrase the word occurrence sits in, and a
    // phrase scores the sum of its words' scores — folded over the
    // word-SORTED member list so the double addition order is pinned.
    // Top-20 corpus-wide. Every stage is a partitioned window or a
    // combine aggregate on high-cardinality keys (doc, term).
    "q_rake_keywords" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .withColumn("term", lower(col("term")))
        .filter(length(col("term")) > 0)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val members = toks
        .filter(!col("term").isInCollection(stopwords))
        .withColumn("grp", col("pos") - row_number().over(w))
      val phrases = members.groupBy("doc_id", "grp")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("term")))),
            x => x.getField("term")), " ").as("phrase"),
          count(lit(1)).as("plen"))
      val withLen = members.join(phrases, Seq("doc_id", "grp"))
      val wordStats = withLen.groupBy("term")
        .agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
      withLen.join(wordStats, "term")
        .groupBy("doc_id", "grp", "phrase", "plen")
        .agg(array_sort(collect_list(
          struct(col("term"), col("deg"), col("freq")))).as("ws"))
        .select(col("doc_id"), col("phrase"), col("plen"),
          aggregate(col("ws"), lit(0.0), (acc, x) =>
            acc + x.getField("deg").cast("double") / x.getField("freq"))
            .as("score"))
        .orderBy(col("score").desc, col("doc_id"), col("phrase"))
        .limit(20)
    }),

    // Embedding drift: cosine between each label's mean vector in the
    // deterministic A split vs the B split — the "did the holdout move"
    // monitor run before trusting eval numbers. Per-dim means use the
    // fixed-block tree reduction (vec_id-sorted folds within 1024-row
    // blocks, then block-sorted folds — embedding_kmeans_update's
    // deterministic FP-sum shape); the cross-dim dot/norm sums fold
    // over the dim-SORTED (ma, mb) list. Labels present in only one
    // split drop out (inner join) — there is no drift to measure.
    "q_centroid_shift" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .withColumn("split",
          when(substring(md5(col("vec_id").cast("string")), 1, 1) < "8",
            "a").otherwise("b"))
      val means = e
        .select(col("label"), col("split"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "comp")))
        .withColumn("blk", expr("vec_id div 1024"))
        .groupBy("label", "split", "dim", "blk")
        .agg(expr("aggregate(array_sort(collect_list(struct(vec_id, comp))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x.comp AS DOUBLE))")
          .as("bs"), count(lit(1)).as("bn"))
        .groupBy("label", "split", "dim")
        .agg(expr("aggregate(array_sort(collect_list(struct(blk, bs))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.bs)").as("sm"),
          sum("bn").as("n"))
        .select(col("label"), col("split"), col("dim"),
          (col("sm") / col("n")).as("mean_v"))
      val ma = means.filter(col("split") === "a")
        .select(col("label"), col("dim"), col("mean_v").as("ma"))
      val mb = means.filter(col("split") === "b")
        .select(col("label"), col("dim"), col("mean_v").as("mb"))
      val counts = e.groupBy("label").agg(
        sum((col("split") === "a").cast("long")).as("n_a"),
        sum((col("split") === "b").cast("long")).as("n_b"))
      ma.join(mb, Seq("label", "dim"))
        .groupBy("label")
        .agg(array_sort(collect_list(
          struct(col("dim"), col("ma"), col("mb")))).as("dl"))
        .select(col("label"),
          aggregate(col("dl"),
            struct(lit(0.0).as("dot"), lit(0.0).as("na2"),
              lit(0.0).as("nb2")),
            (acc, x) => struct(
              (acc.getField("dot") +
                x.getField("ma") * x.getField("mb")).as("dot"),
              (acc.getField("na2") +
                x.getField("ma") * x.getField("ma")).as("na2"),
              (acc.getField("nb2") +
                x.getField("mb") * x.getField("mb")).as("nb2")))
            .as("f"))
        .join(counts, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          (col("f.dot") / (sqrt(col("f.na2")) * sqrt(col("f.nb2"))))
            .as("cos_shift"))
        .orderBy("label")
    }),

    // Water-filling budget allocation: spend a token budget (half the
    // corpus) across sources — pass 1 gives every source min(capacity,
    // fair share), pass 2 spreads the leftover proportionally to
    // remaining capacity (integer floor, so the plan under-spends by
    // at most n_sources tokens — the auditable invariant). Capacity is
    // the n_chars/4 token proxy. All exact longs; three 1-row
    // broadcast joins, no shuffle beyond the per-source aggregate.
    "q_budget_alloc" -> ((s, dir) => {
      val caps = Tables(s, dir, "documents")
        .select(col("source"),
          call_function("div", col("n_chars"), lit(4L)).as("tok"))
        .groupBy("source").agg(sum("tok").as("cap"))
      val tot = caps.agg(sum("cap").as("cap_total"),
        count(lit(1)).as("n_sources"))
      val p1 = caps.crossJoin(broadcast(tot))
        .withColumn("target",
          call_function("div", col("cap_total"), lit(2L)))
        .withColumn("share",
          call_function("div", col("target"), col("n_sources")))
        .withColumn("alloc1", least(col("cap"), col("share")))
        .withColumn("rem_cap", col("cap") - col("alloc1"))
      val spent = p1.agg(sum("alloc1").as("spent1"),
        sum("rem_cap").as("rem_total"))
      p1.crossJoin(broadcast(spent))
        .withColumn("leftover", col("target") - col("spent1"))
        // rem_total = 0 (every source cap-filled in phase 1) must make
        // the proportional div NULL, not an ANSI error: least() then
        // ignores the NULL on both engines (DuckDB's // by 0 is NULL)
        .withColumn("alloc2", least(col("rem_cap"),
          when(col("rem_total") =!= 0,
            call_function("div", col("leftover") * col("rem_cap"),
              col("rem_total")))))
        .select(col("source"), col("cap"), col("alloc1"), col("alloc2"),
          (col("alloc1") + col("alloc2")).as("final_alloc"),
          try_divide((col("alloc1") + col("alloc2")).cast("double"),
            col("cap")).as("fill_ratio"))
        .orderBy("source")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_rake_keywords" -> {
      val stopList = stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, u.pos, lower(u.term) AS term FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      string_split(text, ' '),
         |      (x, i) -> struct_pack(pos := i - 1, term := x))) AS u
         |    FROM documents)
         |  WHERE length(u.term) > 0
         |), members AS (
         |  SELECT doc_id, pos, term,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS grp
         |  FROM toks WHERE term NOT IN ($stopList)
         |), phrases AS (
         |  SELECT doc_id, grp,
         |    array_to_string(list_transform(
         |      list_sort(list(struct_pack(pos := pos, term := term))),
         |      x -> x.term), ' ') AS phrase,
         |    COUNT(*) AS plen
         |  FROM members GROUP BY 1, 2
         |), wl AS (
         |  SELECT m.doc_id, m.grp, m.term, p.phrase, p.plen
         |  FROM members m JOIN phrases p
         |    ON m.doc_id = p.doc_id AND m.grp = p.grp
         |), ws AS (
         |  SELECT term, CAST(SUM(plen) AS BIGINT) AS deg,
         |    COUNT(*) AS freq
         |  FROM wl GROUP BY 1
         |), scored AS (
         |  SELECT wl.doc_id, wl.grp, wl.phrase, wl.plen,
         |    list_sort(list(struct_pack(term := wl.term, deg := ws.deg,
         |      freq := ws.freq))) AS wsl
         |  FROM wl JOIN ws ON wl.term = ws.term
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT doc_id, phrase, plen,
         |  list_reduce([CAST(0 AS DOUBLE)] || list_transform(wsl,
         |    x -> CAST(x.deg AS DOUBLE) / x.freq),
         |    (acc, v) -> acc + v) AS score
         |FROM scored
         |ORDER BY score DESC, doc_id, phrase LIMIT 20""".stripMargin
    },

    "q_centroid_shift" ->
      """WITH e AS (
        |  SELECT label, vec_id, embedding,
        |    CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'a' ELSE 'b' END AS split
        |  FROM embeddings
        |), comps AS (
        |  SELECT label, split, vec_id, u.dim, u.comp,
        |    vec_id // 1024 AS blk
        |  FROM (SELECT label, split, vec_id,
        |    unnest(list_transform(embedding,
        |      (x, i) -> struct_pack(dim := i - 1, comp := x))) AS u
        |    FROM e)
        |), blocks AS (
        |  SELECT label, split, dim, blk,
        |    list_reduce([CAST(0 AS DOUBLE)] || list_transform(
        |      list_sort(list(struct_pack(vec_id := vec_id, comp := comp))),
        |      x -> CAST(x.comp AS DOUBLE)),
        |      (acc, v) -> acc + v) AS bs,
        |    COUNT(*) AS bn
        |  FROM comps GROUP BY 1, 2, 3, 4
        |), means AS (
        |  SELECT label, split, dim,
        |    list_reduce([CAST(0 AS DOUBLE)] || list_transform(
        |      list_sort(list(struct_pack(blk := blk, bs := bs))),
        |      x -> x.bs), (acc, v) -> acc + v)
        |    / CAST(SUM(bn) AS BIGINT) AS mean_v
        |  FROM blocks GROUP BY 1, 2, 3
        |), wide AS (
        |  SELECT a.label, a.dim, a.mean_v AS ma, b.mean_v AS mb
        |  FROM means a JOIN means b
        |    ON a.label = b.label AND a.dim = b.dim
        |  WHERE a.split = 'a' AND b.split = 'b'
        |), folded AS (
        |  SELECT label,
        |    list_reduce(
        |      [[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]]
        |      || list_transform(
        |        list_sort(list(struct_pack(dim := dim, ma := ma,
        |          mb := mb))),
        |        x -> [x.ma, x.mb, CAST(0 AS DOUBLE)]),
        |      (acc, v) -> [acc[1] + v[1] * v[2],
        |        acc[2] + v[1] * v[1], acc[3] + v[2] * v[2]]) AS f
        |  FROM wide GROUP BY 1
        |), counts AS (
        |  SELECT label,
        |    CAST(SUM(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM e GROUP BY 1
        |)
        |SELECT f.label, c.n_a, c.n_b,
        |  f.f[1] / (sqrt(f.f[2]) * sqrt(f.f[3])) AS cos_shift
        |FROM folded f JOIN counts c ON f.label = c.label
        |ORDER BY f.label""".stripMargin,

    "q_budget_alloc" ->
      """WITH caps AS (
        |  SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(cap) AS BIGINT) AS cap_total,
        |    COUNT(*) AS n_sources
        |  FROM caps
        |), p1 AS (
        |  SELECT source, cap,
        |    cap_total // 2 AS target,
        |    LEAST(cap, (cap_total // 2) // n_sources) AS alloc1,
        |    cap - LEAST(cap, (cap_total // 2) // n_sources) AS rem_cap
        |  FROM caps, tot
        |), spent AS (
        |  SELECT CAST(SUM(alloc1) AS BIGINT) AS spent1,
        |    CAST(SUM(rem_cap) AS BIGINT) AS rem_total
        |  FROM p1
        |)
        |SELECT source, cap, alloc1,
        |  LEAST(rem_cap, ((target - spent1) * rem_cap) // rem_total)
        |    AS alloc2,
        |  alloc1 + LEAST(rem_cap, ((target - spent1) * rem_cap)
        |    // rem_total) AS final_alloc,
        |  CAST(alloc1 + LEAST(rem_cap, ((target - spent1) * rem_cap)
        |    // rem_total) AS DOUBLE) / cap AS fill_ratio
        |FROM p1, spent ORDER BY source""".stripMargin,
  )
}
