package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Group C (SURVEY.md §2b + north-star extensions): the operators a
  * large-scale LLM training-data pipeline needs — deduplication (exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine), similarity
  * search (brute-force top-k, kNN join, sign-LSH-bucketed self-join), and
  * text analysis (language ID, quality scoring, token counting,
  * fingerprinting) — over the `documents` / `embeddings` tables.
  *
  * Scale posture (100 TB): every pairwise operator is either blocked
  * (LSH band buckets, sign buckets, lang×source blocks) or explicitly a
  * small-n baseline; nothing collects to the driver; similarity folds are
  * higher-order Catalyst expressions, not UDFs.
  */
object PipelineQueries {

  /** 4 LSH band keys from the shingle set (codegen'd one-pass MinHash). */
  private def bandKeys(sh: Column): Column =
    call_function("graft_minhash_bands", sh)

  private[queries] def interSize(a: Column, b: Column): Column =
    call_function("graft_array_intersect_size", a, b)

  /** documents/embeddings are small single-file parquets — one scan
    * partition, so expression-heavy transforms (md5 shingling, folds)
    * would run on ONE core. Spread them across the cluster first; the
    * shuffle of a few thousand rows is noise next to the per-row work.
    * At 100 TB the scan arrives already partitioned and this is a no-op
    * cost-wise (AQE coalesces), but the intent — parallelize CPU-bound
    * row work — is the same.
    */
  private[queries] def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Optimization fence: Catalyst pushes a post-join threshold filter into
    * the join condition, re-evaluating the expensive similarity/intersect
    * expression up to 3x per candidate pair (once in the condition, once
    * per projection). A nondeterministic projection blocks predicate
    * pushdown (PushPredicateThroughNonJoin requires deterministic
    * projects) — but ONLY while the nondeterministic column is still
    * referenced: ColumnPruning deletes an unused fence column, the
    * project turns deterministic again, and the filter slides into the
    * join (observed on similarity_self_join_dedup: 1.5s → 5.9s). So the
    * filter itself must reference the fence via an always-true conjunct
    * the optimizer cannot fold away — NOT `isNotNull` (the id is
    * non-nullable, so null-check simplification rewrites that to TRUE
    * and the fence evaporates again) but `>= 0`, which holds for every
    * monotonically_increasing_id value yet is not provable statically.
    * The fence column is dropped right after. Results are unchanged and
    * the expensive expression is computed exactly once per pair.
    */
  private[queries] def fencedFilter(df: DataFrame, cond: Column): DataFrame =
    df.withColumn("__fence", monotonically_increasing_id())
      .filter(cond && col("__fence") >= 0)
      .drop("__fence")

  /** 16-bit SimHash per doc from md5-nibble bits of distinct words —
    * shared by dedup_simhash and the Hamming-pair query (the blocking
    * columns ride along; they are functionally dependent on doc_id so
    * the extra grouping keys change nothing).
    */
  private[queries] def simhashed(s: SparkSession, dir: String): DataFrame = {
    val exploded = spread(s, Tables(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(words(col("text")))).as("wd"))
      .withColumn("hh", md5(col("wd")))
    val withNibs = (1 to 4).foldLeft(exploded) { (df, p) =>
      df.withColumn(s"n$p", md5Nibble(col("hh"), p))
    }
    val bitSums = (0 until 16).map { i =>
      sum(shiftright(col(s"n${i / 4 + 1}"), i % 4)
        .bitwiseAND(lit(1)) * 2 - 1).as(s"s$i")
    }
    withNibs.groupBy("doc_id", "lang", "source")
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until 16).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select("doc_id", "lang", "source", "simhash")
  }

  /** DuckDB CTE chain ending in `sim(doc_id, lang, source, simhash)` —
    * the oracle mirror of [[simhashed]].
    */
  private[queries] val simhashCte: String = {
    val nibs = (1 to 4).map(p =>
      s"strpos('0123456789abcdef', substring(hh, $p, 1)) - 1 AS n$p")
      .mkString(",\n    ")
    val sums = (0 until 16).map(i =>
      s"SUM((((n${i / 4 + 1} >> ${i % 4}) & 1) * 2 - 1)) AS s$i")
      .mkString(",\n    ")
    val hash = (0 until 16).map(i =>
      s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""w AS (
       |  SELECT doc_id, lang, source,
       |    unnest(list_distinct(string_split(text, ' '))) AS wd
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, lang, source, md5(wd) AS hh FROM w
       |), n AS (
       |  SELECT doc_id, lang, source,
       |    $nibs
       |  FROM h
       |), sums AS (
       |  SELECT doc_id, lang, source,
       |    $sums
       |  FROM n GROUP BY doc_id, lang, source
       |), sim AS (
       |  SELECT doc_id, lang, source, CAST($hash AS BIGINT) AS simhash
       |  FROM sums
       |)""".stripMargin
  }

  /** Language marker words (from the synthetic 31-word vocabulary) used by
    * the n-gram-heuristic language ID. Arbitrary but fixed; the oracle SQL
    * interpolates the same lists.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "fast", "data"),
    "de" -> Seq("window", "group", "table"),
    "es" -> Seq("filter", "row", "key"),
    "fr" -> Seq("stream", "batch", "merge"),
    "zh" -> Seq("vector", "hash", "scan"))

  private val stopwords = Seq("the", "a")

  private val minhashSeeds = 0 until 8 // 8 hashes, 4 bands of 2
  private val lshDims = Seq(1, 17, 33, 49) // sign-bucket probe dimensions

  /** Normalized embeddings with a precomputed norm (computed with the
    * exact fold the oracle mirrors).
    */
  private def withNorm(e: DataFrame): DataFrame =
    e.withColumn("nrm", normD(col("embedding")))

  // try_divide, not `/`: a zero-norm vector must yield sim = NULL (the
  // DuckDB division-by-zero semantic), not an ANSI arithmetic error —
  // the adversarial fixture holds an all-zero embedding
  private def simExpr(a: Column, b: Column, na: Column, nb: Column): Column =
    try_divide(dotD(a, b), na * nb)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup via content-hash groupBy — the 100 TB-safe shape
    // (shuffle on a 64-char key, never on the document body).
    "dedup_exact" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // Per-document cluster assignment for exact dedup: every doc mapped
    // to the smallest doc_id sharing its content — the table a pipeline
    // joins against to drop duplicates. Partitioned by the content hash,
    // not the body, so the shuffle key is 64 chars at any scale.
    "dedup_cluster_labels" -> ((s, dir) => {
      val byHash = Window.partitionBy(sha2(col("text"), 256))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          min(col("doc_id")).over(byHash).as("cluster_id"))
        .withColumn("is_dup", (col("doc_id") =!= col("cluster_id")).cast("int"))
        .orderBy("doc_id")
    }),

    "text_stats" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "source")),

    "token_count" -> ((s, dir) => {
      val ws = words(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(ws).as("n_tokens"),
          size(array_distinct(ws)).as("n_uniq_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_tokens"),
          length(col("text")).as("n_chars_text"))
        .orderBy("doc_id")
    }),

    // n-gram-heuristic language ID: score = |distinct tokens ∩ markers|,
    // argmax with fixed precedence (en > de > es > fr > zh).
    "lang_id" -> ((s, dir) => {
      val uniq = array_distinct(words(col("text")))
      val scored = Tables(s, dir, "documents").withColumns(
        markers.map { case (l, ms) =>
          s"s_$l" -> size(array_intersect(uniq,
            array(ms.map(lit): _*)))
        }.toMap)
      val langs = markers.map(_._1)
      val guess = langs.init.zipWithIndex.foldRight(
          lit(langs.last): Column) { case ((l, i), elseCol) =>
        val ge = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(ge, lit(l)).otherwise(elseCol)
      }
      scored.withColumn("lang_guess", guess)
        .withColumn("correct",
          (col("lang_guess") === col("lang")).cast("int"))
        .select("doc_id", "lang_guess", "correct")
        .orderBy("doc_id")
    }),

    // Quality scoring: length score + stopword ratio + type-token ratio.
    "quality_score" -> ((s, dir) => {
      val ws = words(col("text"))
      Tables(s, dir, "documents")
        .withColumn("n_tokens", size(ws))
        .withColumn("n_uniq", size(array_distinct(ws)))
        .withColumn("n_stop", size(filter(ws,
          w => stopwords.map(sw => w === sw).reduce(_ || _))))
        .withColumn("ttr", col("n_uniq") / col("n_tokens"))
        .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
        .withColumn("len_score", least(lit(1.0), col("n_tokens") / 50.0))
        .withColumn("quality",
          lit(0.4) * col("len_score") + lit(0.3) * (lit(1) - col("stop_ratio"))
            + lit(0.3) * col("ttr"))
        .select("doc_id", "n_tokens", "ttr", "stop_ratio", "quality")
        .orderBy("doc_id")
    }),

    // Corpus token frequencies: explode + count + top-k (the word-count
    // shape every data pipeline starts from).
    "q_top_words" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(10)),

    // Array primitives over the token array.
    "q_array_funcs" -> ((s, dir) => {
      val ws = words(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          element_at(ws, 1).as("first_word"),
          element_at(ws, -1).as("last_word"),
          array_contains(ws, "the").cast("int").as("has_the"),
          size(array_remove(ws, "a")).as("n_no_a"))
        .orderBy("doc_id")
    }),

    // Polynomial rolling hash over characters (document fingerprint);
    // codegen'd one-pass byte fold, == the declarative char fold on ASCII.
    "doc_fingerprint" -> ((s, dir) =>
      spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("graft_poly_hash", col("text")).as("fp"))
        .orderBy("doc_id")),

    // MinHash signatures + LSH banding (long format: one row per band).
    "dedup_minhash_lsh" -> ((s, dir) => {
      val sh = call_function("graft_shingles", col("text"))
      spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", sh)
        .select(col("doc_id"),
          posexplode(bandKeys(col("sh"))).as(Seq("band_idx", "band_key")))
        .orderBy("doc_id", "band_idx")
    }),

    // Candidate pairs sharing any LSH band, confirmed by exact Jaccard.
    // No self-join: group rows by band bucket and enumerate pairs inside
    // each bucket — ONE MinHash pass, one shuffle, and the pair space is
    // exactly the LSH candidate set (buckets are near-singletons unless
    // documents really collide). This is the shape that survives scale:
    // work is proportional to Σ bucket², never n².
    "dedup_minhash_pairs" -> ((s, dir) => {
      // Narrow band table (doc_id, band_idx, band_key — ~50 B/row) cached
      // once: the MinHash pass runs exactly once, the self-join moves no
      // shingle payloads, and the candidate set is tiny by construction.
      val docs = spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
      // retain, not a raw .cache(): the scope releases it after the
      // consuming action, and plan-only sweeps can drain it (r6 #3 — a
      // bare cache here was the one registration releaseAll couldn't see)
      val bands = graft.CacheScope.retain(docs
        .select(col("doc_id"),
          posexplode(bandKeys(col("sh"))).as(Seq("band_idx", "band_key"))))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val sa = docs.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
      val sb = docs.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
      // broadcast the (tiny) candidate list so the shingled docs stream
      // through both joins without shuffling their arrays
      sa.join(broadcast(cand), "a_id").join(sb, "b_id")
        // |A∪B| = |A|+|B|-|A∩B|: one set op per pair instead of two
        .withColumn("inter", interSize(col("sh_a"), col("sh_b")))
        .withColumn("jacc", col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jacc") >= 0.5)
        .select("a_id", "b_id", "jacc")
        .orderBy("a_id", "b_id")
    }),

    // 16-bit SimHash from md5-nibble bits of distinct words (shared
    // construction: see simhashed).
    "dedup_simhash" -> ((s, dir) =>
      simhashed(s, dir)
        .select("doc_id", "simhash")
        .orderBy("doc_id")),

    // n-gram Jaccard near-dup pairs, blocked by (lang, source) so the
    // pair count stays ~(block size)^2 * #blocks, not n^2. (lang, source)
    // is low-cardinality, so at 100x one block (en/web) would dominate
    // the corpus and its pairs would land in ONE task — tile salting
    // fixes that: each doc gets a bucket in [0, B); the pair with
    // buckets (x, y) is computed exactly once, in tile
    // (min(x,y), max(x,y)); each row is replicated to the ~B/2 tiles
    // it can appear in. Same pair set (the oracle is unchanged), but
    // the quadratic work is spread over ~B^2/2 tasks per block instead
    // of one.
    //
    // B is derived from the DATA, per block (r5 ask #8 / r6 verdict #6):
    // B_blk = ceil(c_blk / T) keeps every tile at <= T^2 candidate
    // pairs no matter how large a block grows — the old constant B=8
    // under-split a dominant block at 100x (tile pairs ~ (c/8)^2 grows
    // quadratically) and over-replicated tiny blocks. The block census
    // is the same Sigma-c^2 machinery q_join_size_audit uses for its
    // prediction arm, here broadcast back onto the rows as a COLUMN, so
    // the choice is fully distributed — no driver-side collect.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val T = 256 // target bucket rows: per-tile pair work <= T^2
      val base = spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
        .select("doc_id", "lang", "source", "sh")
      val blocks = base.groupBy("lang", "source")
        .agg(count(lit(1)).as("c"))
        .select(col("lang"), col("source"),
          greatest(lit(1), ceil(col("c") / T)).cast("int").as("nb"))
      // merge hint: broadcasting the shingled side would build it
      // single-threaded on the driver; SMJ keeps both sides parallel.
      val docs = base.join(broadcast(blocks), Seq("lang", "source"))
        .withColumn("bk", pmod(xxhash64(col("doc_id")), col("nb")).cast("int"))
        .select("doc_id", "lang", "source", "sh", "bk", "nb")
      // tile (tp, tq), tp <= tq: the left side owns row-bucket tp and
      // fans out over tq >= bk; the right side owns tq, fanning tp <= bk.
      // A pair with buckets x < y matches only as (left=x, right=y);
      // x = y lands on the diagonal tile where doc_id < doc_id dedups.
      val a = docs.select(col("*"), col("bk").as("tp"),
        explode(sequence(col("bk"), col("nb") - 1)).as("tq")).hint("merge")
      val b = docs.select(col("*"), col("bk").as("tq"),
        explode(sequence(lit(0), col("bk"))).as("tp")).hint("merge")
      a.as("a").join(b.as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.tp") === col("b.tp") && col("a.tq") === col("b.tq") &&
          (col("a.bk") < col("b.bk") ||
            (col("a.bk") === col("b.bk") &&
              col("a.doc_id") < col("b.doc_id"))))
        .withColumn("inter", interSize(col("a.sh"), col("b.sh")))
        // try_divide: two EMPTY shingle sets (0/1-word docs) make the
        // union 0 — NULL jaccard (DuckDB's x/0), dropped by the filter
        .withColumn("jacc", try_divide(col("inter"),
          size(col("a.sh")) + size(col("b.sh")) - col("inter")))
        .transform(fencedFilter(_, col("jacc") >= 0.02))
        // off-diagonal tiles pair by bucket, not doc order: canonicalize
        .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"),
          col("jacc"))
        .orderBy("a_id", "b_id")
    }),

    // Brute-force cosine top-k for a single probe vector (ANN baseline).
    "similarity_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val probe = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe")))
      e.crossJoin(probe)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          try_divide(dotD(col("embedding"), col("pe")),
            normD(col("embedding")) * normD(col("pe"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // kNN join: top-5 neighbors for each of the first 20 probes — the
    // broadcast-probes pattern that scales to many queries at once.
    "similarity_knn_join" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val probes = broadcast(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      e.crossJoin(probes)
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          try_divide(dotD(col("embedding"), col("pe")),
            normD(col("embedding")) * normD(col("pe"))).as("sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "rnk", "neighbor_id", "sim")
        .orderBy("probe_id", "rnk")
    }),

    // Near-dup pairs above a cosine threshold — small-n exact baseline
    // (the LSH-bucketed variant below is the at-scale path).
    "similarity_self_join_dedup" -> ((s, dir) => {
      // spread (guide §2.5): the BNLJ streams its left side with the
      // scan's partitioning, and the sf parquet is ONE row group — the
      // whole n²/2 pair space evaluated on a single task (measured wall
      // ≈ total task time). Round-robin to all cores first.
      val n = withNorm(spread(s, Tables(s, dir, "embeddings")))
      val a = n.select(col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = n.select(col("vec_id").as("b_id"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("sim",
          simExpr(col("ea"), col("eb"), col("na"), col("nb")))
        .transform(fencedFilter(_, col("sim") > 0.35))
        .select("a_id", "b_id", "sim")
        .orderBy("a_id", "b_id")
    }),

    // Sign-LSH-bucketed near-dup self-join: pairs only within a 4-bit
    // sign bucket (16-way partition of the space) — the join that
    // survives 100×, unlike the exact all-pairs product.
    "similarity_lsh_bucketed" -> ((s, dir) => {
      val n = withNorm(Tables(s, dir, "embeddings"))
        .withColumn("bucket", signBucket(col("embedding"), lshDims))
      val a = n.select(col("bucket"), col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = n.select(col("bucket").as("bucket_b"),
        col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.join(b, col("bucket") === col("bucket_b") &&
          col("a_id") < col("b_id"))
        .withColumn("sim",
          simExpr(col("ea"), col("eb"), col("na"), col("nb")))
        .transform(fencedFilter(_, col("sim") > 0.3))
        .select("bucket", "a_id", "b_id", "sim")
        .orderBy("bucket", "a_id", "b_id")
    }),

    // IVF-style ANN: coarse quantization by label cell — centroid per
    // cell, probe the top-nprobe nearest cells, exact-search only inside
    // them. The centroid fold runs in explicit vec_id order so both
    // engines produce bitwise-identical means.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val probe = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe")))
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
      val topCells = broadcast(
        cellSims.orderBy(col("csim").desc, col("label").asc).limit(2)
          .select("label"))
      val w = Window.orderBy(col("sim").desc, col("neighbor_id").asc)
      withNorm(e).join(topCells, "label")
        .crossJoin(probe)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("neighbor_id"),
          (dotD(col("embedding"), col("pe")) /
            (col("nrm") * sqrt(dotD(col("pe"), col("pe"))))).as("sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("rnk", "neighbor_id", "sim")
        .orderBy("rnk")
    }),

    // Multimodal plumbing: opaque binary payload + typed metadata. The
    // synthetic corpus has no real media, so the "payload" is the utf-8
    // encoding of the text; schema/partitioning/metadata extraction is
    // the real, tested part (decode stubs live in multimodal/).
    "multimodal_binary_meta" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          md5(col("text")).as("payload_md5"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .orderBy("doc_id")),
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL
  // ---------------------------------------------------------------------

  /** Distinct word-3-gram shingles per doc (DuckDB list comprehension). */
  private[queries] val shinglesCte =
    """sh AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |      for i in range(1, len(ws)-1)]) AS s
      |  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS ws
      |        FROM documents)
      |)""".stripMargin

  private def mhCols: String = minhashSeeds.map(j =>
    s"list_min(list_transform(s, x -> md5('$j:' || x))) AS mh$j")
    .mkString(",\n    ")

  private[queries] val bandsCte =
    s"""WITH $shinglesCte,
       |sig AS (
       |  SELECT doc_id,
       |    $mhCols
       |  FROM sh
       |),
       |bands AS (
       |  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
       |  UNION ALL
       |  SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
       |)""".stripMargin

  /** Exact double dot product of two FLOAT[] columns, left-to-right. */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1,65), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def simSql(a: String, b: String, na: String, nb: String): String =
    s"${dotSql(a, b)} / ($na * $nb)"

  private[queries] def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  private def markerList(l: String): String =
    markers.toMap.apply(l).map(w => s"'$w'").mkString("[", ", ", "]")

  val oracle: Map[String, String] = Map(

    "dedup_exact" ->
      """SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "dedup_cluster_labels" ->
      """SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY sha256(text)) AS cluster_id,
        |  CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY sha256(text))
        |    AS INT) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT)
        |    AS n_uniq_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT)
        |    AS n_alpha_tokens,
        |  CAST(length(text) AS INT) AS n_chars_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "lang_id" -> {
      val scores = markers.map { case (l, _) =>
        s"len(list_intersect(uniq, ${markerList(l)})) AS s_$l"
      }.mkString(",\n    ")
      val langs = markers.map(_._1)
      val guess = langs.init.zipWithIndex.reverse.foldLeft(s"'${langs.last}'") {
        case (elseSql, (l, i)) =>
          val ge = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"CASE WHEN $ge THEN '$l' ELSE $elseSql END"
      }
      s"""WITH u AS (
         |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS uniq
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, lang,
         |    $scores
         |  FROM u
         |), g AS (
         |  SELECT doc_id, lang, $guess AS lang_guess FROM sc
         |)
         |SELECT doc_id, lang_guess,
         |  CASE WHEN lang_guess = lang THEN 1 ELSE 0 END AS correct
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "quality_score" ->
      """WITH b AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(ws) AS n_tokens,
        |    len(list_distinct(ws)) AS n_uniq,
        |    len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS n_stop
        |  FROM b
        |)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  n_uniq / n_tokens AS ttr,
        |  n_stop / n_tokens AS stop_ratio,
        |  0.4 * least(1.0, n_tokens / 50.0)
        |    + 0.3 * (1 - n_stop / n_tokens)
        |    + 0.3 * (n_uniq / n_tokens) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_top_words" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 10""".stripMargin,

    "q_array_funcs" ->
      """SELECT doc_id,
        |  ws[1] AS first_word,
        |  ws[-1] AS last_word,
        |  CAST(list_contains(ws, 'the') AS INT) AS has_the,
        |  CAST(len(list_filter(ws, w -> w <> 'a')) AS INT) AS n_no_a
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    [CAST(0 AS BIGINT)] ||
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$bandsCte
         |SELECT doc_id, band_idx, band_key FROM bands
         |ORDER BY doc_id, band_idx""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""$bandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id
         |),
         |j AS (
         |  SELECT a_id, b_id,
         |    len(list_intersect(sa.s, sb.s)) AS inter,
         |    len(sa.s) AS la, len(sb.s) AS lb
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = a_id
         |  JOIN sh sb ON sb.doc_id = b_id
         |)
         |SELECT a_id, b_id, inter / (la + lb - inter) AS jacc
         |FROM j WHERE inter / (la + lb - inter) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |j AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_intersect(a.s, b.s)) AS inter,
         |    len(a.s) AS la, len(b.s) AS lb
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source
         |    AND a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id, inter / (la + lb - inter) AS jacc
         |FROM j WHERE inter / (la + lb - inter) >= 0.02
         |ORDER BY a_id, b_id""".stripMargin,

    "similarity_topk" ->
      s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id,
         |  ${simSql("embedding", "pe", normSql("embedding"), normSql("pe"))}
         |    AS sim
         |FROM embeddings, p WHERE vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "similarity_knn_join" ->
      s"""WITH pr AS (
         |  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
         |  WHERE vec_id < 20
         |), s AS (
         |  SELECT probe_id, vec_id AS neighbor_id,
         |    ${simSql("embedding", "pe", normSql("embedding"), normSql("pe"))}
         |      AS sim
         |  FROM embeddings, pr WHERE vec_id <> probe_id
         |), r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rnk
         |  FROM s
         |)
         |SELECT probe_id, rnk, neighbor_id, sim FROM r WHERE rnk <= 5
         |ORDER BY probe_id, rnk""".stripMargin,

    "similarity_self_join_dedup" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} > 0.35
         |ORDER BY a_id, b_id""".stripMargin,

    "similarity_lsh_bucketed" -> {
      val bucket = lshDims.zipWithIndex.map { case (d, j) =>
        s"(CASE WHEN embedding[$d] > 0 THEN ${1 << (lshDims.length - 1 - j)} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
         |    $bucket AS bucket
         |  FROM embeddings
         |)
         |SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
         |FROM n a JOIN n b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} > 0.3
         |ORDER BY a.bucket, a_id, b_id""".stripMargin
    },

    "ann_ivf_topk" ->
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
         |), search AS (
         |  SELECT e.vec_id AS neighbor_id,
         |    ${dotSql("e.embedding", "pe")}
         |    / (${normSql("e.embedding")} * ${normSql("pe")}) AS sim
         |  FROM embeddings e, top_cells t, p
         |  WHERE e.label = t.label AND e.vec_id <> 0
         |), ranked AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY sim DESC, neighbor_id ASC)
         |    AS rnk, neighbor_id, sim
         |  FROM search
         |)
         |SELECT rnk, neighbor_id, sim FROM ranked WHERE rnk <= 5
         |ORDER BY rnk""".stripMargin,

    "multimodal_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  CAST(ascii(substring(text, 1, 1)) AS INT) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
