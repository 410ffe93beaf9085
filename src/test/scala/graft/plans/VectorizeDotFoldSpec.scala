package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.expressions.VectorDotProduct
import graft.functions.VectorFunctions

/** VectorizeDotFold rewrites the declarative aggregate(zip_with(...))
  * dot fold into the codegen'd VectorDotProduct, and ONLY that exact
  * shape — variations must pass through untouched. (Value equivalence
  * of the two forms is property-tested in VectorExpressionsSpec; this
  * spec covers the rewrite itself.)
  */
class VectorizeDotFoldSpec extends AnyFunSuite with SparkSuite {

  private def embeddings = {
    graft.Tables(spark, sf0001, "embeddings")
  }

  private def countDots(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    var n = 0
    plan.transformAllExpressions {
      case v: VectorDotProduct => n += 1; v
    }
    n
  }

  test("the declarative dot fold is rewritten to VectorDotProduct") {
    val df = embeddings.select(
      VectorFunctions.dotFold(col("embedding"), col("embedding")).as("d"))
    val rewritten = VectorizeDotFold(df.queryExecution.analyzed)
    assert(countDots(df.queryExecution.analyzed) == 0)
    assert(countDots(rewritten) == 1, rewritten.treeString)
  }

  test("float x double and double x double folds rewrite and evaluate " +
      "bitwise-identically (r13 widening)") {
    val e = embeddings
    // the SPANN/IVF shapes: float embedding x double centroid, and
    // double x double centroid norms
    val dArr = transform(col("embedding"), x => x.cast("double") * 2.0)
    val fd = aggregate(
      zip_with(col("embedding"), dArr, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)
    val dd = aggregate(
      zip_with(dArr, dArr, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val df = e.select(col("vec_id"), fd.as("fd"), dd.as("dd"))
    val rewritten = VectorizeDotFold(df.queryExecution.analyzed)
    assert(countDots(rewritten) == 2, rewritten.treeString)
    // bitwise equivalence: run the plan through the session (rule
    // installed via GraftExtensions) vs the fold evaluated with the
    // rule disabled by shape (re-spelled so it cannot match: biased
    // zero then subtracted is NOT used — instead compare against the
    // interpreted evaluation of the same lambda via a non-matching
    // reversed accumulator, acc + v spelled v + acc)
    val interp = e.select(col("vec_id"),
        aggregate(zip_with(col("embedding"), dArr,
          (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => v + acc)
          .as("fd"),
        aggregate(zip_with(dArr, dArr, (x, y) => x * y),
          lit(0.0), (acc, v) => v + acc).as("dd"))
      .orderBy("vec_id").collect()
    val fast = df.orderBy("vec_id").collect()
    assert(fast.length == interp.length && fast.length > 0)
    fast.zip(interp).foreach { case (x, y) =>
      Seq(1, 2).foreach { i =>
        assert(java.lang.Double.doubleToLongBits(x.getDouble(i)) ==
          java.lang.Double.doubleToLongBits(y.getDouble(i)),
          s"vec ${x.getLong(0)} col $i: ${x.getDouble(i)} vs ${y.getDouble(i)}")
      }
    }
  }

  test("non-matching folds pass through untouched") {
    // subtraction instead of multiply: not a dot product
    val sub = embeddings.select(
      aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") - y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("d"))
    assert(countDots(VectorizeDotFold(sub.queryExecution.analyzed)) == 0)
    // different zero: a biased fold, must not rewrite
    val biased = embeddings.select(
      aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(1.0), (acc, v) => acc + v).as("d"))
    assert(countDots(VectorizeDotFold(biased.queryExecution.analyzed)) == 0)
  }

  test("ragged and null-element arrays yield NULL in both forms") {
    import spark.implicits._
    // (ragged lengths, null element, clean pair) — the declarative fold
    // returns NULL for the first two (zip_with null padding propagates);
    // VectorDotProduct must match or the rewrite changes results
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1f), Some(2f)),
        Seq[Option[Float]](Some(1f))),
      (2L, Seq[Option[Float]](Some(1f), None),
        Seq[Option[Float]](Some(1f), Some(2f))),
      (3L, Seq[Option[Float]](Some(2f), Some(3f)),
        Seq[Option[Float]](Some(4f), Some(5f)))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        VectorFunctions.dotFold(col("a"), col("b")).as("fold"),
        VectorFunctions.dotD(col("a"), col("b")).as("fast"))
      .orderBy("id").collect()
    out.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"null disagreement on id=${r.getLong(0)}: $r")
      if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2))
    }
    assert(out(0).isNullAt(1) && out(1).isNullAt(1) && !out(2).isNullAt(1))
  }

  test("rewritten plan evaluates identically to the declarative form") {
    // end-to-end: run both the interpreted fold and the expression the
    // rule substitutes; bitwise-equal doubles on every row
    val a = embeddings.select(col("vec_id"),
        VectorFunctions.dotFold(col("embedding"), col("embedding")).as("d"))
      .orderBy("vec_id").collect()
    val b = embeddings.select(col("vec_id"),
        VectorFunctions.dotD(col("embedding"), col("embedding")).as("d"))
      .orderBy("vec_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(java.lang.Double.doubleToLongBits(x.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(y.getDouble(1)))
    }
  }
}
