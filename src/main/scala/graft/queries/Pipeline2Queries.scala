package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.GlobalRank

/** Group C continued (round 2): the remaining training-data-pipeline
  * operators — benchmark decontamination (inverted-index n-gram overlap),
  * containment near-dup (subset duplication the symmetric Jaccard
  * misses), SimHash Hamming-distance pairing, embedding norm audit, and
  * rank-based length filtering.
  *
  * Scale posture: decontamination is an exploded equi-join on the gram
  * (an inverted index — work ∝ matching grams, never candidate² ), the
  * pair queries reuse the blocked self-join shape, and nothing collects
  * to the driver.
  */
object Pipeline2Queries {

  // shared with PipelineQueries (same package): table loading with
  // expression registration, the spread/fence scale workarounds, the
  // intersect-size expression, and the SimHash construction + its
  // oracle CTE — one definition each, used by both groups
  import PipelineQueries.{fencedFilter, interSize, simhashCte, simhashed,
    spread}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Benchmark decontamination: candidate docs sharing any 5-gram with
    // the benchmark set (doc_id % 50 == 0 as the held-out surrogate).
    // Exploded grams equi-join on the gram string — an inverted index,
    // the only decontamination shape that survives 100 TB: work scales
    // with the number of MATCHING grams, never candidates × benchmarks.
    // The (small) distinct benchmark-gram list broadcasts.
    "decontam_ngram" -> ((s, dir) => {
      val grams = spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          explode(call_function("graft_shingles5", col("text")))
            .as("gram"))
      val bench = broadcast(
        grams.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select("gram").distinct())
      grams.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .join(bench, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    }),

    // Containment near-dup: inter / min(|A|,|B|) — catches a short doc
    // pasted inside a longer one, which symmetric Jaccard dilutes away.
    // Same blocked merge-join shape as dedup_ngram_jaccard.
    "dedup_containment" -> ((s, dir) => {
      val docs = spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
        .select("doc_id", "lang", "source", "sh")
        .hint("merge")
      docs.as("a").join(docs.as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("inter", interSize(col("a.sh"), col("b.sh")))
        // try_divide: an empty shingle set zeroes the min — NULL
        // containment (DuckDB's x/0), dropped by the threshold filter
        .withColumn("cont", try_divide(col("inter"),
          least(size(col("a.sh")), size(col("b.sh")))))
        .transform(fencedFilter(_, col("cont") >= 0.05))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("cont"))
        .orderBy("a_id", "b_id")
    }),

    // Near-dup pairs by SimHash Hamming distance <= 3 — the constant-
    // width signature variant of MinHash: one 16-bit int per doc, pair
    // test is xor+popcount (no array payloads move through the join).
    // Blocked by (lang, source) like the other pair queries.
    "simhash_hamming_pairs" -> ((s, dir) => {
      val sh = simhashed(s, dir).hint("merge")
      sh.as("a").join(sh.as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("hamming",
          expr("bit_count(a.simhash ^ b.simhash)").cast("int"))
        .filter(col("hamming") <= 3)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("hamming"))
        .orderBy("a_id", "b_id")
    }),

    // Embedding norm audit: per-vector L2 norm (exact left-to-right
    // double fold; sqrt is IEEE-exact) — the sanity pass before any
    // cosine index is built.
    "embedding_norms" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          normD(col("embedding")).as("l2norm"))
        .orderBy("vec_id")),

    // Length filter at the 95th percentile, rank-selected: keep docs
    // with (rn-1)/(n-1) <= 0.95 under the (n_chars, doc_id) total order
    // — pure integer arithmetic ((rn-1)*20 <= (n-1)*19), no engine-
    // specific percentile interpolation. The rank comes from
    // GlobalRank.withRank (range-bucketed, window PARTITIONED by
    // bucket), not a single-partition global window — the exact same
    // rank values, computable on a 1000-executor cluster; the total
    // count rides in on a broadcast 1-row aggregate.
    "doc_len_p95" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val total = d.groupBy().agg(count(lit(1)).as("n"))
      GlobalRank.withRank(d, col("n_chars"), col("doc_id"), "rn")
        .crossJoin(broadcast(total))
        .filter((col("rn") - 1) * 20 <= (col("n") - 1) * 19)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // Product-quantization ANN: 64-d vectors split into 8 subspaces of
    // 8 dims; each subvector encoded as the id of its nearest anchor
    // (vectors 0-15 serve as the deterministic sampled codebook); query
    // distance is the ADC sum of precomputed probe->anchor subdistances.
    // The index shrinks each vector to 8 bytes — the compressed-domain
    // complement of IVF cell probing (ann_ivf_topk): at 100 TB the scan
    // touches codes, never raw floats, and the 128-entry ADC table
    // broadcasts. Every distance is the same left-to-right double fold
    // in both engines; argmin ties break on (dist, anchor id); the final
    // per-vector sum folds in explicit subspace order.
    "ann_pq_topk" -> ((s, dir) => {
      val m = 8; val subDim = 8; val k = 16
      val subArr = array((0 until m).map(i =>
        slice(col("embedding"), i * subDim + 1, subDim)): _*)
      val subs = Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(subArr).as(Seq("sub", "subv")))
      val anchors = broadcast(subs.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cid"), col("sub"),
          col("subv").as("av")))
      val byDist = Window.partitionBy("vec_id", "sub")
        .orderBy("d2", "cid")
      val codes = subs.join(anchors, "sub")
        // codegen'd Σ(a-b)² — bitwise-identical to the declarative
        // zip_with/aggregate fold (VectorSqDistSpec proves it) but it
        // keeps the encode stage inside whole-stage codegen
        .withColumn("d2", sqDistD(col("subv"), col("av")))
        .withColumn("rn", row_number().over(byDist))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("cid").as("code"))
      // ADC table: probe subvector -> every anchor, 128 rows, broadcast
      val probe = subs.filter(col("vec_id") === 0)
        .select(col("sub"), col("subv").as("pv"))
      val adc = broadcast(anchors.join(probe, "sub")
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

    // Corpus-driven stopword discovery: document frequency of every
    // distinct token, top-20 by df — the first pass of any quality/
    // filtering pipeline. Explode-then-count; the shuffle key is the
    // token, work ∝ corpus token count.
    "stopword_discovery" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val total = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      spread(s, docs)
        .select(explode(array_distinct(words(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df"))
        .crossJoin(total)
        .withColumn("df_ratio", col("df").cast("double") / col("n_docs"))
        .select("token", "df", "df_ratio")
        .orderBy(col("df").desc, col("token"))
        .limit(20)
    }),

    // Deterministic train/val/test split: the first hex digit of
    // md5(doc_id) routes 12/16 - 2/16 - 2/16. Pure hash, no RNG state —
    // reproducible on any cluster at any parallelism, and joinable as a
    // split-assignment table.
    "sample_split" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .withColumn("split",
          when(col("h") < "c", "train")
            .when(col("h") < "e", "val")
            .otherwise("test"))
        .select("doc_id", "h", "split")
        .orderBy("doc_id")),

    // Transitive dedup clusters: connected components over the
    // MinHash-LSH near-dup pair graph, labels = min doc_id per
    // component. Pregel-style min-label propagation — each iteration is
    // one distributed join (edges are tiny next to docs), the driver
    // only checks convergence. The fixed point is iteration-order
    // independent, so the result is deterministic; the oracle computes
    // the same closure with a recursive CTE. This is the step that
    // turns pairwise near-dup hits into droppable duplicate groups.
    "dedup_cc_labels" -> ((s, dir) => {
      import org.apache.spark.storage.StorageLevel
      // near-dup edges: LSH candidates confirmed at Jaccard >= 0.5
      // (same construction as dedup_minhash_pairs)
      val docs = spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
      val bands = docs
        .select(col("doc_id"),
          posexplode(call_function("graft_minhash_bands", col("sh")))
            .as(Seq("band_idx", "band_key")))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val sa = docs.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
      val sb = docs.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
      val edges = sa.join(broadcast(cand), "a_id").join(sb, "b_id")
        .withColumn("inter", interSize(col("sh_a"), col("sh_b")))
        .filter(col("inter") / (size(col("sh_a")) + size(col("sh_b"))
          - col("inter")) >= 0.5)
        .select("a_id", "b_id")
        .transform(graft.CacheScope.retain)
      val bidir = edges.union(
          edges.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .transform(graft.CacheScope.retain)
      // min-label propagation to the fixed point. Leaked MEMORY_AND_DISK
      // blocks are bounded by the superstep count (one persisted `next`
      // per iteration, O(log diameter) iterations thanks to the pointer
      // jump below) plus edges/bidir; the sweep harnesses clearCache()
      // between queries, and mid-query unpersist reproduced the r3
      // ContextCleaner stall (see the note at the end of this query).
      var labels = Tables(s, dir, "documents")
        .select(col("doc_id"), col("doc_id").as("lbl"))
        .transform(graft.CacheScope.retain)
      var converged = false
      var iter = 0
      while (!converged) {
        val viaNeighbors = bidir
          .join(labels, bidir("b_id") === labels("doc_id"))
          .groupBy(col("a_id").as("doc_id"))
          .agg(min(col("lbl")).as("nlbl"))
        val m1 = labels.join(viaNeighbors, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lbl").as("old"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        // pointer jump (path halving): also adopt the label OF the
        // label — every label is itself a doc_id, so one extra self-join
        // halves pointer chains and convergence drops from O(diameter)
        // supersteps to O(log diameter). Labels only ever decrease and
        // are bounded by the component minimum, so the fixed point — and
        // the oracle — are unchanged.
        val p = m1.select(col("doc_id").as("p_id"), col("lbl").as("p_lbl"))
        // the old label rides along so the convergence check is a
        // filter-count over THIS persisted result — not a second
        // shuffle join of next against labels per iteration
        val next = m1.join(p, m1("lbl") === p("p_id"), "left")
          .select(col("doc_id"), col("old"),
            least(col("lbl"), coalesce(col("p_lbl"), col("lbl"))).as("lbl"))
          .transform(graft.CacheScope.retain)
        val changed = next.filter(col("lbl") =!= col("old")).count()
        labels = next.select("doc_id", "lbl")
        iter += 1
        System.err.println(s"[dedup_cc_labels] superstep $iter: $changed moved")
        converged = changed == 0
      }
      // The final read serves straight from the persisted fixed point.
      // No explicit unpersist / localCheckpoint here: issuing block-
      // removal RPCs while AQE is still materializing stages reproduced
      // the r3 stall signature (everything idle, the ContextCleaner
      // parked in removeBroadcast, AQE's event queue never served —
      // 60-160 s holes on a 2-superstep run). The caches are a few MB;
      // once the returned plan is unreferenced the GC-driven
      // ContextCleaner reclaims them asynchronously — the same lifecycle
      // every other cached intermediate in the suite relies on.
      labels.withColumn("is_dup",
          (col("doc_id") =!= col("lbl")).cast("int"))
        .select(col("doc_id"), col("lbl").as("cluster_id"), col("is_dup"))
        .orderBy("doc_id")
    }),

    // MinHash accuracy audit: estimated Jaccard (signature agreement /
    // 8 hashes) against the exact shingle Jaccard for every LSH
    // candidate pair — the error measurement that justifies the
    // signature size. Both metrics are exact rationals in doubles.
    "minhash_estimate" -> ((s, dir) => {
      val docs = spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
      val sigs = docs.select(col("doc_id"), col("sh"),
        call_function("graft_minhash_sig", col("sh")).as("sig"))
      val bands = docs.select(col("doc_id"),
        posexplode(call_function("graft_minhash_bands", col("sh")))
          .as(Seq("band_idx", "band_key")))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val aa = sigs.select(col("doc_id").as("a_id"),
        col("sh").as("sh_a"), col("sig").as("sig_a"))
      val bb = sigs.select(col("doc_id").as("b_id"),
        col("sh").as("sh_b"), col("sig").as("sig_b"))
      aa.join(broadcast(cand), "a_id").join(bb, "b_id")
        .withColumn("n_agree",
          size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), b => b)))
        .withColumn("est_jacc", col("n_agree") / lit(8))
        .withColumn("inter", interSize(col("sh_a"), col("sh_b")))
        .withColumn("exact_jacc", col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .select("a_id", "b_id", "n_agree", "est_jacc", "exact_jacc")
        .orderBy("a_id", "b_id")
    }),

    // Byte-range chunk plan for opaque binary payloads: the table a
    // distributed decoder consumes — (doc, chunk_idx, offset, length)
    // rows in fixed 1000-byte strides. Pure arithmetic + explode; the
    // actual decode stays a stub (multimodal/), but this is the real
    // partition-planning step a 100 TB media pipeline shuffles on.
    "multimodal_chunk_plan" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("n_bytes", octet_length(col("text")))
        .withColumn("n_chunks", expr("(n_bytes + 999) div 1000"))
        // zero-byte payloads plan zero chunks: without this guard,
        // sequence(0, -1) infers a NEGATIVE step and yields [0, -1] —
        // two bogus rows where the oracle's range(0, 0) yields none
        // (same trap as TextFunctions.shingles' short-doc guard)
        .filter(col("n_bytes") > 0)
        .select(col("doc_id"), col("n_bytes"),
          posexplode(sequence(lit(0L), col("n_chunks") - 1))
            .as(Seq("chunk_idx", "chunk_no")))
        .withColumn("offset", col("chunk_no") * 1000)
        .withColumn("chunk_len",
          least(lit(1000L), col("n_bytes") - col("offset")))
        .select("doc_id", "chunk_idx", "offset", "chunk_len")
        .orderBy("doc_id", "chunk_idx")),

    // PII scrubbing: digit runs in the JSON payload masked to '#'
    // before the text ever leaves the pipeline — the redaction pass a
    // training corpus runs before tokenization. Pure regex, one scan.
    "pii_mask" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "#").as("masked"),
          regexp_count(col("props"), lit("[0-9]+")).as("n_masked_runs"))
        .orderBy("event_id")),

    // Corpus-health dashboard: exact-duplicate rate per (lang, source)
    // — the partition-level metric that decides which sources get
    // dropped or re-crawled. Reuses the content-hash window; the
    // shuffle key stays the 64-char hash.
    "dup_rate_by_source" -> ((s, dir) => {
      val byHash = Window.partitionBy(sha2(col("text"), 256))
      Tables(s, dir, "documents")
        .withColumn("is_dup",
          (col("doc_id") =!= min(col("doc_id")).over(byHash)).cast("long"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).as("n_dups"),
          (sum(col("is_dup")).cast("double") / count(lit(1)))
            .as("dup_rate"))
        .orderBy("lang", "source")
    }),

    // Quality filter funnel: how many docs survive each successive
    // gate (min length -> min tokens -> lexical diversity) — the
    // observability readout every filtering pipeline reports. One scan,
    // conditional sums, exact integers.
    "filter_funnel" -> ((s, dir) => {
      val ws = words(col("text"))
      val g1 = col("n_chars") >= 100
      val g2 = size(ws) >= 30
      val g3 = (size(array_distinct(ws)).cast("double") / size(ws)) >= 0.3
      Tables(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(g1.cast("long")).as("n_len_ok"),
          sum((g1 && g2).cast("long")).as("n_tok_ok"),
          sum((g1 && g2 && g3).cast("long")).as("n_diverse_ok"),
          (sum((g1 && g2 && g3).cast("long")).cast("double") /
            count(lit(1))).as("keep_rate"))
        .orderBy("lang")
    }),

    // Vocabulary coverage: build a top-20 token vocabulary (by corpus
    // frequency) and measure per-document coverage — the feasibility
    // check before tokenizer training. Counts are exact integers; the
    // ratio is one double division. The vocab is a broadcast semi-join
    // side; per-doc work is a token explode, linear in corpus size.
    "vocab_coverage" -> ((s, dir) => {
      val docs = spread(s, Tables(s, dir, "documents"))
      val toks = docs.select(col("doc_id"),
        explode(words(col("text"))).as("token"))
      // aggregate the explode ONCE into per-(doc, term) counts; the
      // vocab ranking, the per-doc totals, and the in-vocab sums all
      // derive from this small table instead of re-exploding the corpus
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val vocab = broadcast(tf.groupBy("token")
        .agg(sum(col("tf")).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20).select("token").withColumn("in_v", lit(1)))
      tf.join(vocab, Seq("token"), "left")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          coalesce(sum(when(col("in_v") === 1, col("tf"))), lit(0L))
            .as("n_in_vocab"))
        .withColumn("coverage",
          col("n_in_vocab").cast("double") / col("n_tokens"))
        .select("doc_id", "n_tokens", "n_in_vocab", "coverage")
        .orderBy("doc_id")
    }),

    // TF-IDF-style term weighting without transcendentals: score =
    // tf * N / df as one exact division (ln() is libm-dependent and
    // not bitwise-reproducible across engines). Top term per document
    // by (score, term) — the keyword-extraction primitive.
    "term_tfidf" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val total = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      // ONE hash exchange for the whole query: repartition by doc_id
      // up front — HashPartitioning(doc_id) satisfies the clustering of
      // groupBy(doc_id, term) AND of the per-doc rank window, so neither
      // inserts its own shuffle, and ReuseExchange shares the exchange
      // between the tf and df branches. df used to fall out of tf as a
      // partition-by-term window count, but the vocabulary is tiny
      // relative to the corpus (synthetic: ~31 terms), so that window
      // sorted the whole (doc, term) table across at most |vocab|
      // partitions — a skew that only worsens with corpus size (r8
      // bench: 19 s of task time, adjudicated weak). A vocab-sized
      // countDistinct broadcast back onto tf is the same value with no
      // skewed sort and full parallelism.
      val toks = docs.repartition(col("doc_id"))
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
      val df = broadcast(toks.groupBy("term")
        .agg(countDistinct("doc_id").as("df")))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val byScore = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .crossJoin(total)
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df"))
        .withColumn("rn", row_number().over(byScore))
        .filter(col("rn") === 1)
        .select("doc_id", "term", "tf", "df", "score")
        .orderBy("doc_id")
    }),
  )

  /** Distinct word-5-gram shingles per doc (mirrors graft_shingles5). */
  private[queries] val grams5Cte =
    """g5 AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(ws[i:i+4], ' ')
      |      for i in range(1, len(ws)-3)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents)
      |)""".stripMargin

  private val shingles3Cte =
    """sh AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |      for i in range(1, len(ws)-1)]) AS s
      |  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS ws
      |        FROM documents)
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "decontam_ngram" ->
      s"""WITH $grams5Cte,
         |g AS (SELECT doc_id, unnest(s) AS gram FROM g5),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM g JOIN bench USING (gram)
         |WHERE doc_id % 50 <> 0
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH $shingles3Cte,
         |j AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_intersect(a.s, b.s)) AS inter,
         |    len(a.s) AS la, len(b.s) AS lb
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source
         |    AND a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id, inter / LEAST(la, lb) AS cont
         |FROM j WHERE inter / LEAST(la, lb) >= 0.05
         |ORDER BY a_id, b_id""".stripMargin,

    "simhash_hamming_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sim a JOIN sim b
         |  ON a.lang = b.lang AND a.source = b.source
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "embedding_norms" ->
      """SELECT vec_id, label,
        |  sqrt(list_sum(list_transform(range(1,65), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |    AS l2norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "doc_len_p95" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM documents
        |)
        |SELECT doc_id, n_chars FROM r
        |WHERE (rn - 1) * 20 <= (n - 1) * 19
        |ORDER BY doc_id""".stripMargin,

    "ann_pq_topk" -> {
      val sq = (a: String, b: String) =>
        s"""list_sum(list_transform(range(1, 9), i ->
           |      (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
           |      (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
      s"""WITH sv AS (
         |  SELECT vec_id, s.sub,
         |    embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS subv
         |  FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s
         |),
         |anch AS (
         |  SELECT CAST(vec_id AS INT) AS cid, sub, subv AS av
         |  FROM sv WHERE vec_id < 16
         |),
         |d AS (
         |  SELECT v.vec_id, v.sub, a.cid,
         |    ${sq("v.subv", "a.av")} AS d2
         |  FROM sv v JOIN anch a ON v.sub = a.sub
         |),
         |codes AS (
         |  SELECT vec_id, sub, cid AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |),
         |adc AS (
         |  SELECT a.sub, a.cid,
         |    ${sq("p.subv", "a.av")} AS pd
         |  FROM anch a JOIN sv p ON p.sub = a.sub AND p.vec_id = 0
         |)
         |SELECT c.vec_id, list_sum(list(pd ORDER BY c.sub)) AS adist
         |FROM codes c JOIN adc ON c.sub = adc.sub AND c.code = adc.cid
         |WHERE c.vec_id <> 0
         |GROUP BY c.vec_id
         |ORDER BY adist ASC, vec_id ASC
         |LIMIT 10""".stripMargin
    },

    "stopword_discovery" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
        |    AS token
        |  FROM documents
        |),
        |d AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT token, df, CAST(df AS DOUBLE) / n_docs AS df_ratio
        |FROM d, n
        |ORDER BY df DESC, token
        |LIMIT 20""".stripMargin,

    "sample_split" ->
      """SELECT doc_id,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
        |  CASE
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
        |      THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // The recursive CTE enumerates every (node, reachable-node) pair of
    // the near-dup graph; MIN over reachables == the propagation fixed
    // point. Edge derivation mirrors dedup_minhash_pairs exactly.
    "dedup_cc_labels" -> {
      val mh = (0 until 8).map(j =>
        s"list_min(list_transform(s, x -> md5('$j:' || x))) AS mh$j")
        .mkString(",\n    ")
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(ws[i:i+2], ' ')
         |      for i in range(1, len(ws)-1)]) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents)
         |),
         |sig AS (
         |  SELECT doc_id,
         |    $mh
         |  FROM sh
         |),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id
         |),
         |edges AS (
         |  SELECT a_id, b_id FROM cand
         |  JOIN sh sa ON sa.doc_id = a_id
         |  JOIN sh sb ON sb.doc_id = b_id
         |  WHERE len(list_intersect(sa.s, sb.s)) /
         |    (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
         |    >= 0.5
         |),
         |bidir AS (
         |  SELECT a_id, b_id FROM edges
         |  UNION ALL SELECT b_id, a_id FROM edges
         |),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a_id, reach.r FROM reach JOIN bidir e
         |    ON e.b_id = reach.id
         |)
         |SELECT id AS doc_id, MIN(r) AS cluster_id,
         |  CAST(id <> MIN(r) AS INT) AS is_dup
         |FROM reach GROUP BY id
         |ORDER BY doc_id""".stripMargin
    },

    "minhash_estimate" -> {
      val mh = (0 until 8).map(j =>
        s"list_min(list_transform(s, x -> md5('$j:' || x))) AS mh$j")
        .mkString(",\n    ")
      val agree = (0 until 8).map(j =>
        s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(ws[i:i+2], ' ')
         |      for i in range(1, len(ws)-1)]) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents)
         |),
         |sig AS (
         |  SELECT doc_id, s,
         |    $mh
         |  FROM sh
         |),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id,
         |  CAST($agree AS INT) AS n_agree,
         |  CAST($agree AS INT) / 8 AS est_jacc,
         |  len(list_intersect(a.s, b.s)) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |    AS exact_jacc
         |FROM cand
         |JOIN sig a ON a.doc_id = a_id
         |JOIN sig b ON b.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin
    },

    "multimodal_chunk_plan" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n_bytes
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(unnest(range(0, (n_bytes + 999) // 1000)) AS INT)
        |    AS chunk_idx,
        |  unnest(range(0, (n_bytes + 999) // 1000)) * 1000 AS "offset",
        |  LEAST(1000,
        |    n_bytes - unnest(range(0, (n_bytes + 999) // 1000)) * 1000)
        |    AS chunk_len
        |FROM b
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "pii_mask" ->
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT)
        |    AS n_masked_runs
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "dup_rate_by_source" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY sha256(text))
        |      AS BIGINT) AS is_dup
        |  FROM documents
        |)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
        |  CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM d GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "filter_funnel" ->
      """WITH g AS (
        |  SELECT lang,
        |    CAST(n_chars >= 100 AS BIGINT) AS g1,
        |    CAST(len(string_split(text, ' ')) >= 30 AS BIGINT) AS g2,
        |    CAST(CAST(len(list_distinct(string_split(text, ' ')))
        |        AS DOUBLE) / len(string_split(text, ' ')) >= 0.3
        |      AS BIGINT) AS g3
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(g1) AS BIGINT) AS n_len_ok,
        |  CAST(SUM(g1 * g2) AS BIGINT) AS n_tok_ok,
        |  CAST(SUM(g1 * g2 * g3) AS BIGINT) AS n_diverse_ok,
        |  CAST(SUM(g1 * g2 * g3) AS DOUBLE) / COUNT(*) AS keep_rate
        |FROM g GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
        |    ORDER BY cnt DESC, token LIMIT 20
        |  )
        |),
        |tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
        |inv AS (
        |  SELECT doc_id, COUNT(*) AS n_in_vocab FROM tok
        |  WHERE token IN (SELECT token FROM vocab)
        |  GROUP BY 1
        |)
        |SELECT t.doc_id, t.n_tokens,
        |  COALESCE(i.n_in_vocab, 0) AS n_in_vocab,
        |  CAST(COALESCE(i.n_in_vocab, 0) AS DOUBLE) / t.n_tokens
        |    AS coverage
        |FROM tot t LEFT JOIN inv i ON t.doc_id = i.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "term_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (
        |  SELECT term, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1
        |),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC,
        |        tf.term) AS rn
        |  FROM tf JOIN df USING (term), n
        |)
        |SELECT doc_id, term, tf, df, score FROM s WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
  )
}
