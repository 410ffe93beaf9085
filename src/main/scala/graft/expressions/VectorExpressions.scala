package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two array<float|double> columns
  * (any combination — r13 widened it from float-only so the SPANN/IVF
  * centroid arms' float x double and double x double cosine folds run
  * codegen'd too).
  *
  * The declarative equivalent (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * is semantically identical but runs the lambda interpreter per element —
  * ~12 us per 64-dim pair, which dominated the pairwise-similarity bench.
  * This expression emits a tight codegen loop (~100 ns/pair) while keeping
  * the exact same left-to-right double accumulation — a float element is
  * widened to double exactly where the lambda's cast sat, a double
  * element is used as-is — so results stay bitwise identical to the
  * interpreted fold and to the DuckDB oracle's list_transform/list_sum.
  *
  * This is preference order (b) from SURVEY.md §7: a custom Catalyst
  * Expression only where the built-in formulation can't hit the required
  * throughput; no custom LogicalPlan/Strategy is needed.
  */
case class VectorDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // (AbstractDataType/ExpectsInputTypes are private[sql], so the type
  // contract is enforced here instead.)
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall { e =>
      e.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  // NULL on ragged lengths or a null element (see below), regardless of
  // child nullability
  override def nullable: Boolean = true

  /** Exactly the declarative fold's semantics, so the VectorizeDotFold
    * rewrite can never change results: zip_with pads the shorter array
    * with nulls and null propagates through the fold, so a LENGTH
    * MISMATCH or any NULL ELEMENT yields NULL — not a partial or
    * zero-padded product.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lF = isFloat(left)
    val rF = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lF) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rF) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // the null-element check is emitted only when an input MAY hold
      // nulls (static schema knowledge): the hot path — non-null
      // same-dim embeddings — keeps the tight two-load loop
      val mayBeNull = Seq(left, right).exists(_.dataType match {
        case ArrayType(_, cn) => cn
        case _ => false
      })
      val nullElemCheck =
        if (mayBeNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val xv = if (isFloat(left)) s"(double) $a.getFloat($i)"
               else s"$a.getDouble($i)"
      val yv = if (isFloat(right)) s"(double) $b.getFloat($i)"
               else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElemCheck
         |    $acc += $xv * $yv;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared euclidean distance over two ArrayType(FloatType)
  * columns — Σ(aᵢ−bᵢ)², the PQ/k-means workhorse. Same contract as
  * [[VectorDotProduct]]: the exact left-to-right double fold of the
  * declarative `aggregate(zip_with(a, b, (x,y) -> (x−y)·(x−y)), 0d, +)`
  * — bitwise-identical to the interpreted lambda and to the DuckDB
  * oracle's list_transform/list_sum — and NULL on ragged lengths or a
  * null element, exactly as null propagates through that fold.
  */
case class VectorSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall { e =>
      e.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val mayBeNull = Seq(left, right).exists(_.dataType match {
        case ArrayType(_, cn) => cn
        case _ => false
      })
      val nullElemCheck =
        if (mayBeNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElemCheck
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  private val FnName = "graft_vec_dot"
  private val SqFnName = "graft_vec_sqdist"

  /** Column API for the dot product (resolved through GraftExtensions). */
  def vecDot(a: Column, b: Column): Column = call_function(FnName, a, b)

  /** Column API for squared distance (resolved through GraftExtensions). */
  def vecSqDist(a: Column, b: Column): Column =
    call_function(SqFnName, a, b)
}
