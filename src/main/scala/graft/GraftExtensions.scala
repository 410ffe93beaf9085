package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions._

/** Session-extension entry point: the ONLY place the graft functions,
  * optimizer rules and the as-of planner strategy enter a session.
  * Available in any session created with
  *   spark.sql.extensions=graft.GraftExtensions
  * or SparkSession.builder().withExtensions(new GraftExtensions) — the
  * deployment-config analog of the reference's SPI factory discovery.
  * GraftSession.build installs it in every harness session; nothing
  * registers functions or strategies per query.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot",
        "_FUNC_(a, b) - double dot product of two float arrays"),
      (exprs: Seq[Expression]) => VectorDotProduct(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_vec_sqdist"),
      info("graft_vec_sqdist",
        "_FUNC_(a, b) - squared euclidean distance of two float arrays"),
      (exprs: Seq[Expression]) => VectorSqDist(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "_FUNC_(text) - distinct word 3-gram shingles"),
      (exprs: Seq[Expression]) => ShingleArray(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_minhash_bands"),
      info("graft_minhash_bands",
        "_FUNC_(shingles) - 4 MinHash LSH band keys"),
      (exprs: Seq[Expression]) => MinhashBandKeys(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_array_intersect_size"),
      info("graft_array_intersect_size",
        "_FUNC_(a, b) - |A intersect B| for string arrays"),
      (exprs: Seq[Expression]) => ArrayIntersectSize(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_shingles5"),
      info("graft_shingles5",
        "_FUNC_(text) - distinct word 5-gram shingles"),
      (exprs: Seq[Expression]) => ShingleArray(exprs.head, n = 5)))
    e.injectFunction((FunctionIdentifier("graft_poly_hash"),
      info("graft_poly_hash",
        "_FUNC_(text) - polynomial rolling hash of the utf-8 bytes"),
      (exprs: Seq[Expression]) => StringPolyHash(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig",
        "_FUNC_(shingles) - 8-slot MinHash signature"),
      (exprs: Seq[Expression]) => MinhashSignature(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "_FUNC_(a, b) - Jaro-Winkler similarity (DuckDB-compatible)"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_bloom_might_contain"),
      info("graft_bloom_might_contain",
        "_FUNC_(bloom, key) - membership probe against a bloom bitmap"),
      (exprs: Seq[Expression]) => BloomMightContain(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_bounds_bucket"),
      info("graft_bounds_bucket",
        "_FUNC_(bounds, value) - count of boundaries strictly below value"),
      (exprs: Seq[Expression]) => BoundsBucket(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_lsorted_intersect_size"),
      info("graft_lsorted_intersect_size",
        "_FUNC_(a, b) - |A intersect B| for sorted long arrays"),
      (exprs: Seq[Expression]) => LongSortedIntersectSize(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_lsorted_intersect"),
      info("graft_lsorted_intersect",
        "_FUNC_(a, b) - A intersect B for sorted long arrays"),
      (exprs: Seq[Expression]) => LongSortedIntersect(exprs(0), exprs(1))))
    // declarative aggregate(zip_with(...)) dot folds are rewritten to the
    // codegen'd VectorDotProduct — identical results, ~100x per pair
    e.injectOptimizerRule(_ => graft.plans.VectorizeDotFold)
    // keyless |x - y| <= W band joins are decomposed into +/-1-bucket
    // equi-joins (hash join + residual) instead of Spark's
    // BroadcastNestedLoopJoin — identical rows, linear instead of
    // quadratic comparisons (r9 verdict #2)
    e.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    // the native as-of join operator (custom LogicalPlan -> SparkPlan)
    e.injectPlannerStrategy(_ => graft.operators.AsOfJoinStrategy)
  }
}
