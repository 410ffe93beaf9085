package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global rank / ntile without a single-partition Window.
  *
  * `Window.orderBy(...)` with no partition moves every row to ONE
  * partition — the classic scale-killer: at 100 TB that task simply never
  * finishes. This helper computes the IDENTICAL exact rank the global
  * window would produce, distributively, the way a distributed sort does:
  *
  *   1. range-bucket rows by approx-quantile boundaries of the sort
  *      metric (boundary quality affects only balance, NEVER correctness:
  *      equal metric values always land in the same bucket, and bucket id
  *      is monotone in the metric);
  *   2. row_number within each bucket (Window PARTITIONED by bucket —
  *      parallel, spill-safe);
  *   3. offset each bucket by the total count of all earlier buckets
  *      (a ≤`buckets`-row aggregate, combined via a broadcast non-equi
  *      self-join — no window at all);
  *   4. rank = offset + in-bucket row_number.
  *
  * The boundary vector is an IN-PLAN 1-row `percentile_approx` aggregate
  * broadcast back onto the rows (r13, guide §1.2/§7.3): it used to be a
  * separate `approxQuantile` ACTION, which cost every ranked query a
  * driver round-trip, an extra job's scheduling latency, and an eager
  * re-derivation of the input frame before the real plan ever started —
  * ~40 query keys paid it. Same Greenwald-Khanna sketch class, same ≤31
  * doubles (now riding a broadcast exchange instead of a collect).
  * Determinism: ranks are exact for ANY boundary vector, so even if the
  * sketch shifted between runs the output would not — which is also why
  * swapping the sketch implementation cannot change results.
  */
object GlobalRank {

  private def probeArray(buckets: Int): Column =
    array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)

  /** The in-plan boundary vector of `mCol` (array<double>, ascending,
    * may hold duplicates — harmless, see rank-exactness note above):
    * one `percentile_approx` over the same frame the caller buckets.
    * accuracy 10000 = the old approxQuantile's 1e-4..1e-3 error class.
    */
  private def boundsAgg(withM: DataFrame, mCols: Seq[String],
                        buckets: Int): DataFrame =
    withM.groupBy().agg(
      percentile_approx(col(mCols.head).cast("double"),
        probeArray(buckets), lit(10000)).as(s"__gr_bounds_${mCols.head}"),
      mCols.tail.map(m =>
        percentile_approx(col(m).cast("double"),
          probeArray(buckets), lit(10000)).as(s"__gr_bounds_$m")): _*)

  /** Adds `rankCol` = exact 1-based global rank under
    * (metric ASC, tie ASC). For DESC metrics pass the negated column.
    * `metric` must be numeric (cast dates to days first).
    */
  def withRank(df: DataFrame, metric: Column, tie: Column,
               rankCol: String, buckets: Int = 32): DataFrame = {
    val mCol = "__gr_metric"
    val bCol = "__gr_bucket"
    val rCol = "__gr_rn"
    val withM = df.withColumn(mCol, metric.cast("double"))
    val bucketed = withM
      .crossJoin(broadcast(boundsAgg(withM, Seq(mCol), buckets)))
      .withColumn(bCol, graft.expressions.RankExpressions.bucketOf(
        col(s"__gr_bounds_$mCol"), col(mCol)))
      .drop(s"__gr_bounds_$mCol")
    // ONE exchange serves both consumers (guide §2.4 "two operations
    // keyed the same way can share one exchange"): the window needs
    // hashpartitioning(bucket) and the per-bucket counts group by the
    // same key, so an explicit repartition lets ReuseExchange fold the
    // two branch exchanges — and their duplicated scan+bucket subtrees —
    // into one (r13; before, the counts branch re-scanned and
    // re-bucketed the input and shuffled it a second time)
    val parted = bucketed.repartition(col(bCol))
    val wb = Window.partitionBy(bCol).orderBy(col(mCol), tie)
    val ranked = parted.withColumn(rCol, row_number().over(wb))
    // per-bucket counts (≤ `buckets` rows) -> cumulative offset of all
    // strictly-earlier buckets via broadcast non-equi self-join
    val counts = parted.groupBy(col(bCol)).agg(count(lit(1)).as("__gr_n"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")),
        col(s"b.$bCol") < col(s"a.$bCol"), "left")
      .groupBy(col(s"a.$bCol").as(bCol))
      .agg(coalesce(sum(col("b.__gr_n")), lit(0L)).as("__gr_off"))
    ranked
      .join(broadcast(offsets), bCol)
      .withColumn(rankCol, (col("__gr_off") + col(rCol)).cast("long"))
      .drop(mCol, bCol, rCol, "__gr_off")
  }

  /** Exact 1-based rank WITHIN each group under (metric ASC, tie ASC),
    * with no low-cardinality-partition window: a `Window.partitionBy
    * (group)` on a 5-value group column is the same scale-killer as the
    * unpartitioned window — each group is one task sorting millions of
    * rows at 100×. Same range-bucket design as [[withRank]], windows
    * partitioned by (group, bucket); the boundary vector is GLOBAL
    * (one in-plan percentile_approx) — correctness holds for ANY boundary
    * vector, per-group boundaries would only improve balance when group
    * distributions diverge wildly. Offsets: per-(group, bucket) counts
    * (≤ groups·buckets rows) cumulated within group via a broadcast
    * non-equi self-join on the bucket id.
    */
  def withGroupRank(df: DataFrame, groups: Seq[String], metric: Column,
      tie: Column, rankCol: String, buckets: Int = 32): DataFrame = {
    val mCol = "__gr_metric"
    val bCol = "__gr_bucket"
    val rCol = "__gr_rn"
    val withM = df.withColumn(mCol, metric.cast("double"))
    val bucketed = withM
      .crossJoin(broadcast(boundsAgg(withM, Seq(mCol), buckets)))
      .withColumn(bCol, graft.expressions.RankExpressions.bucketOf(
        col(s"__gr_bounds_$mCol"), col(mCol)))
      .drop(s"__gr_bounds_$mCol")
    val gCols = groups.map(col)
    // shared exchange for the window and the counts branch, as in
    // withRank (guide §2.4)
    val parted = bucketed.repartition(gCols :+ col(bCol): _*)
    val wb = Window.partitionBy(gCols :+ col(bCol): _*)
      .orderBy(col(mCol), tie)
    val ranked = parted.withColumn(rCol, row_number().over(wb))
    val counts = parted.groupBy(gCols :+ col(bCol): _*)
      .agg(count(lit(1)).as("__gr_n"))
    // group-key equality is NULL-SAFE (<=>): a NULL group key is a
    // legitimate group (adversarial fixture: documents with a NULL
    // source) — the original equi-joins silently DROPPED those rows
    // from the ranked output
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")),
        groups.map(g => col(s"a.$g") <=> col(s"b.$g"))
          .reduceOption(_ && _).map(_ && col(s"b.$bCol") < col(s"a.$bCol"))
          .getOrElse(col(s"b.$bCol") < col(s"a.$bCol")), "left")
      .groupBy(groups.map(g => col(s"a.$g").as(g)) :+
        col(s"a.$bCol").as(bCol): _*)
      .agg(coalesce(sum(col("b.__gr_n")), lit(0L)).as("__gr_off"))
    val joinCond = (groups.map(g => col(s"r.$g") <=> col(s"o.$g")) :+
      (col(s"r.$bCol") === col(s"o.$bCol"))).reduce(_ && _)
    ranked.as("r")
      .join(broadcast(offsets.as("o")), joinCond)
      .select(ranked.columns.map(c => col(s"r.$c")) :+
        col("o.__gr_off"): _*)
      .withColumn(rankCol, (col("__gr_off") + col(rCol)).cast("long"))
      .drop(mCol, bCol, rCol, "__gr_off")
  }

  /** SQL NTILE(k) bucket from an exact 1-based rank and the group size n:
    * the first (n mod k) buckets take ceil(n/k) rows, the rest floor(n/k)
    * — bitwise the window function's assignment, computed closed-form.
    * All divisions are integral (IntegralDivide, SQL `div`): a double
    * round-trip is exact only below 2^53, and this operator's whole
    * point is staying exact at any row count. Operands are non-negative
    * so truncating div == floor.
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val q = idiv(n, lit(k.toLong))             // base bucket size
    val r = (n % k).cast("long")               // buckets that take q+1
    val big = (q + 1) * r                      // rows covered by big buckets
    when(rank <= big, idiv(rank - 1, q + lit(1L)) + 1)
      .otherwise(r + idiv(rank - lit(1L) - big, greatest(q, lit(1L))) + 1)
      .cast("int")
  }

  /** Exact global NTILE(k) under (metric ASC, tie ASC) with no
    * single-partition window: rank via `withRank`, total count via a
    * broadcast 1-row aggregate, bucket via `ntileFromRank`.
    */
  def withNtile(df: DataFrame, metric: Column, tie: Column,
                outCol: String, k: Int, buckets: Int = 32): DataFrame = {
    val ranked = withRank(df, metric, tie, "__gr_rank", buckets)
    // count the INPUT, not the ranked frame: ranks are 1:1 with input
    // rows, and counting `ranked` would plant the whole rank subtree
    // (windows, bounds aggregate, offset joins) under this aggregate
    // too — pure planning weight (r13, guide §3.3)
    val total = df.groupBy().agg(count(lit(1)).as("__gr_total"))
    ranked.crossJoin(broadcast(total))
      .withColumn(outCol,
        ntileFromRank(col("__gr_rank"), col("__gr_total"), k))
      .drop("__gr_rank", "__gr_total")
  }

  /** Exact NTILE(k) for SEVERAL metrics over one DataFrame in one plan:
    * boundary sketches for ALL metrics come from a single in-plan 1-row
    * aggregate, the per-metric windows chain over the same base (each is a
    * bucket-partitioned reshuffle of the row set, never a duplicated
    * upstream subtree), and ALL per-bucket counts, all cumulative
    * offsets, and the grand total come from ONE 1-row aggregate that is
    * broadcast ONCE after the windows. The r4 shape derived a separate
    * counts subtree + broadcast self-join per metric; column pruning
    * specialized each branch's upstream aggregate so exchange reuse
    * never fired and the static plan carried 3 redundant base scans
    * (q_rfm_segments: 27 shuffles / 15 broadcasts → 8 / 2 here).
    * Offsets are looked up closed-form: bucket counts are pivoted into
    * ≤`buckets` columns of the stats row, the offset of bucket i is the
    * written-order sum of the earlier columns, and each row reads its
    * own via `element_at` — no join keys, no per-metric frames.
    *
    * `metrics` maps an EXISTING numeric, ASC-directional column name
    * (negate beforehand for DESC) to its output ntile column.
    */
  def withNtiles(df: DataFrame, metrics: Seq[(String, String)],
                 tie: Column, k: Int, buckets: Int = 32): DataFrame = {
    val mNames = metrics.map(_._1).distinct
    // boundary sketches for ALL metrics from ONE in-plan 1-row aggregate
    // (was one driver-side approxQuantile action — r13, see class doc)
    val bounds = boundsAgg(df, mNames, buckets)
    // shared projection: every metric's bucket id computed once
    val bucketed = metrics.foldLeft(df.crossJoin(broadcast(bounds))) {
      case (acc, (m, out)) =>
        acc.withColumn(s"__gr_b_$out", graft.expressions.RankExpressions
          .bucketOf(col(s"__gr_bounds_$m"), col(m).cast("double")))
    }.drop(mNames.map(m => s"__gr_bounds_$m"): _*)
    // ONE 1-row stats aggregate: per-metric per-bucket counts + total.
    // Bucket ids are 0..buckets-1 (≤31 boundaries), a statically bounded
    // pivot column list, exact in longs. Duplicate boundaries just leave
    // their id's count at 0 — rank exactness is id-labeling-invariant.
    val countCols = metrics.flatMap { case (_, out) =>
      (0 until buckets).map(i =>
        sum(when(col(s"__gr_b_$out") === i, 1L).otherwise(0L))
          .as(s"__gr_c_${out}_$i"))
    }
    // Cumulative offsets are folded into ARRAY columns HERE, on the
    // 1-row frame, via a single higher-order `aggregate` running-sum —
    // O(1) generated code, interpreted lambda over ≤`buckets` elements
    // of one row. Two rejected codegen-hostile forms: inlining per-bucket
    // add-chains into the per-row projection, and materializing each
    // cum_i as its own O(i) fold — both make the prefix sums a ~32-deep
    // nest of shared subexpressions, and whole-stage codegen's
    // subexpression-elimination state recursion grows EXPONENTIALLY in
    // that depth (observed: >2 GB generated-source string at B=32).
    val stats = metrics.foldLeft(
      bucketed.groupBy().agg(count(lit(1)).as("__gr_total"), countCols: _*)
    ) { case (acc, (_, out)) =>
        val countsArr = array(
          (0 until buckets).map(i => col(s"__gr_c_${out}_$i")): _*)
        // running sum [0, c0, c0+c1, ...]; drop the grand total at the
        // end — element i (1-based i+1) is the offset of bucket i
        acc.withColumn(s"__gr_cum_$out",
          slice(aggregate(countsArr, array(lit(0L)),
            (a, x) => concat(a, array(element_at(a, -1) + x))),
            1, buckets))
    }.select(col("__gr_total") +:
      metrics.map { case (_, out) => col(s"__gr_cum_$out") }: _*)
    // per-metric in-bucket row numbers: window PARTITIONED by bucket
    val ranked = metrics.foldLeft(bucketed) { case (acc, (m, out)) =>
      val b = s"__gr_b_$out"
      acc.withColumn(s"__gr_rn_$out", row_number()
        .over(Window.partitionBy(col(b)).orderBy(col(m), tie)))
    }
    // rank = offset-of-earlier-buckets + in-bucket row number, with the
    // offset read out of the broadcast stats row (element_at is 1-based)
    val withScores = metrics.foldLeft(ranked.crossJoin(broadcast(stats))) {
      case (acc, (_, out)) =>
        acc.withColumn(out, ntileFromRank(
          element_at(col(s"__gr_cum_$out"), col(s"__gr_b_$out") + 1) +
            col(s"__gr_rn_$out"),
          col("__gr_total"), k))
    }
    val aux = metrics.flatMap { case (_, out) =>
      Seq(s"__gr_b_$out", s"__gr_rn_$out", s"__gr_cum_$out") } ++
      Seq("__gr_total")
    withScores.drop(aux: _*)
  }
}
