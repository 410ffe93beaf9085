package graft.expressions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `graft_bloom_might_contain(key, filterBytes)` — membership probe of a
  * long key against a serialized `org.apache.spark.util.sketch
  * .BloomFilter` carried as a foldable binary literal.
  *
  * This is the manual form of runtime semi-join reduction: build the
  * filter over the (small, post-filter) build side's join keys once on
  * the driver, then prune the probe side's scan BEFORE its shuffle —
  * at 100 TB the fact rows that cannot join are dropped at the scan for
  * the cost of shipping ~1 MB of bits to each task, instead of
  * shuffling them. No false negatives, so downstream joins keep exact
  * semantics; false positives are eliminated by the real join.
  *
  * The filter deserializes once per JVM task (lazy, from the literal),
  * and codegen probes it through a reference object — no per-row
  * deserialization, no UDF.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint key, got ${left.dataType.simpleString}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable binary filter argument")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType

  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(key: Any, bytes: Any): Any =
    bloom.mightContainLong(key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (key, _) =>
      s"${ev.value} = $ref.mightContainLong($key);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
