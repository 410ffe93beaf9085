package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Range-bucket id from an in-plan boundary vector: the number of
  * boundaries strictly below `value` — i.e. exactly what GlobalRank's
  * literal chain `sum_i(when(value > lit(b_i), 1).otherwise(0))`
  * computed back when the boundaries were collected to the driver by a
  * separate approxQuantile ACTION. With the boundaries now a broadcast
  * 1-row `percentile_approx` aggregate (r13: one fewer job per ranked
  * key), the comparison count must run against an ARRAY column; the
  * declarative forms (`size(filter(bounds, b -> value > b))` or an
  * `aggregate` fold) run the lambda interpreter per row, so this is the
  * codegen'd equivalent — same preference-order-(b) rationale as
  * [[VectorDotProduct]].
  *
  * Comparison semantics are exactly Spark's `>` on doubles
  * (`SQLOrderingUtil.compareDoubles`: NaN greater than everything,
  * -0.0 == 0.0) so a NaN metric lands in the TOP bucket just as it did
  * under the literal chain — GlobalRank's rank-exactness only needs the
  * bucket id to be monotone under the window's sort order, and that
  * order puts NaN last. NULL on a null child (the Column wrapper
  * coalesces to bucket 0: a null METRIC summed to 0 through the
  * `otherwise(0)` arms, and a null BOUNDS array — zero non-null input
  * rows — meant "no boundaries", also bucket 0). A null ELEMENT cannot
  * occur in percentile_approx output but contributes 0, like its
  * `when(...)` arm would.
  */
case class BoundsBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(boundsAny: Any, valueAny: Any): Any = {
    val bounds = boundsAny.asInstanceOf[ArrayData]
    val v = valueAny.asInstanceOf[Double]
    val n = bounds.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!bounds.isNullAt(i) &&
          org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(v, bounds.getDouble(i)) > 0) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, v) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val mayBeNull = left.dataType match {
        case ArrayType(_, cn) => cn
        case _ => true
      }
      val nullGuard = if (mayBeNull) s"!$b.isNullAt($i) && " else ""
      s"""
         |int $n = $b.numElements();
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${nullGuard}org.apache.spark.sql.catalyst.util.SQLOrderingUtil
         |        .compareDoubles($v, $b.getDouble($i)) > 0) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RankExpressions {

  private val FnName = "graft_bounds_bucket"

  /** Bucket id of `value` against the sorted boundary array `bounds`,
    * 0 when either side is NULL (resolved through GraftExtensions).
    */
  def bucketOf(bounds: Column, value: Column): Column =
    org.apache.spark.sql.functions.coalesce(
      call_function(FnName, bounds, value),
      org.apache.spark.sql.functions.lit(0))
}
