package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType(FloatType) embedding columns, built from
  * codegen-friendly higher-order functions (`zip_with` + `aggregate`) —
  * no UDFs, so Catalyst can still prune/push around them and the exact
  * fold order is deterministic (left-to-right), which the DuckDB oracle
  * reproduces with list_transform + list_sum.
  *
  * Elements are cast to double *before* multiply so both engines run the
  * identical IEEE op sequence at the identical precision.
  */
object VectorFunctions {

  /** Left-to-right double dot product of two float arrays, via the
    * codegen'd VectorDotProduct expression (graft_vec_dot, injected by
    * GraftExtensions).
    * Bitwise-identical to the interpreted fold in [[dotFold]].
    */
  def dotD(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecDot(a, b)

  /** Interpreted reference implementation of [[dotD]] using only built-in
    * higher-order functions — kept for equivalence testing.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Left-to-right squared euclidean distance Σ(a−b)² via the codegen'd
    * VectorSqDist expression (graft_vec_sqdist, injected by
    * GraftExtensions).
    * Bitwise-identical to [[sqDistFold]].
    */
  def sqDistD(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecSqDist(a, b)

  /** Interpreted reference implementation of [[sqDistD]] — kept for
    * equivalence testing.
    */
  def sqDistFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, v) => acc + v)

  /** Cosine similarity in doubles; NULL on zero vectors via try_divide —
    * the DuckDB x/0 semantic, so zero-norm inputs (present in the
    * adversarial fixture) degrade identically on both engines instead
    * of raising ANSI DIVIDE_BY_ZERO.
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dotD(a, b), normD(a) * normD(b))

  /** Sign-LSH bucket from k fixed probe dimensions: bit j = (v[dim_j] > 0).
    * A deterministic, SQL-reproducible stand-in for random-hyperplane LSH:
    * with zero-mean embeddings each bit splits the space roughly in half,
    * giving 2^k buckets that bound the pairwise-join blowup at scale.
    */
  def signBucket(v: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, j) =>
      when(element_at(v, d) > 0f, lit(1 << (dims.length - 1 - j)))
        .otherwise(lit(0))
    }.reduce(_ + _)
}
