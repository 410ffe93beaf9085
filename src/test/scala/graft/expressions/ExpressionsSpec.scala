package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** The custom expressions exist purely for speed; each must be
  * bit-identical to the declarative built-in formulation it replaced
  * (which is also what the DuckDB oracle mirrors).
  */
class ExpressionsSpec extends AnyFunSuite with SparkSuite {

  test("VectorDotProduct == interpreted zip_with/aggregate fold, bitwise") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(50)(
      (Array.fill(64)(rnd.nextFloat() * 2 - 1),
       Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.map { case (a, b) => (a.toSeq, b.toSeq) }.toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dotD(col("a"), col("b")).as("fast"),
      VectorFunctions.dotFold(col("a"), col("b")).as("ref")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("VectorSqDist == interpreted fold, bitwise; null on ragged/null") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(50)(
      (Array.fill(64)(rnd.nextFloat() * 2 - 1),
       Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.map { case (a, b) => (a.toSeq, b.toSeq) }.toDF("a", "b")
    val rows = df.select(
      VectorFunctions.sqDistD(col("a"), col("b")).as("fast"),
      VectorFunctions.sqDistFold(col("a"), col("b")).as("ref")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // ragged lengths yield NULL in both forms (zip_with pads with null,
    // null propagates through the fold)
    val edge = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
    val r = edge.select(
      VectorFunctions.sqDistD(col("a"), col("b")).as("fast"),
      VectorFunctions.sqDistFold(col("a"), col("b")).as("ref")).collect()
    assert(r.head.isNullAt(0) && r.head.isNullAt(1))
  }

  test("VectorDotProduct rejects non-float-array input") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    assertThrows[Exception](
      df.select(VectorExpressions.vecDot(col("a"), col("b"))).collect())
  }

  test("ShingleArray == array_distinct(transform(...slice...))") {
    import spark.implicits._
    val texts = Seq(
      "the fast key order sort table scan merge",
      "a b c",      // exactly n words -> 1 shingle
      "a b",        // fewer than n -> empty
      "x x x x x")  // duplicate shingles -> distinct
    val df = texts.toDF("text")
    val rows = df.select(
      call_function("graft_shingles", col("text")).as("fast"),
      array_distinct(TextFunctions.shingles(
        TextFunctions.words(col("text")), 3)).as("ref")).collect()
    rows.foreach { r =>
      // ShingleArray emits the same SET, sorted (its documented contract)
      assert(r.getSeq[String](0) == r.getSeq[String](1).sorted)
    }
  }

  test("MinhashBandKeys == declarative md5 min + band md5 formulation") {
    import spark.implicits._
    val df = Seq("the fast key order sort table scan merge part window")
      .toDF("text")
      .withColumn("sh", call_function("graft_shingles", col("text")))
    val declared = array((0 until 4).map { b =>
      md5(concat(
        TextFunctions.minhash(col("sh"), 2 * b),
        TextFunctions.minhash(col("sh"), 2 * b + 1)))
    }: _*)
    val r = df.select(
      call_function("graft_minhash_bands", col("sh")).as("fast"),
      declared.as("ref")).collect().head
    assert(r.getSeq[String](0) == r.getSeq[String](1))
  }

  test("MinhashSignature == declarative per-seed md5 min formulation") {
    import spark.implicits._
    val df = Seq("the fast key order sort table scan merge part window",
        "a b") // fewer than 3 words -> empty shingles -> 8 nulls
      .toDF("text")
      .withColumn("sh", call_function("graft_shingles", col("text")))
    val declared = array((0 until 8).map(j =>
      TextFunctions.minhash(col("sh"), j)): _*)
    df.select(call_function("graft_minhash_sig", col("sh")).as("fast"),
        declared.as("ref")).collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("ArrayIntersectSize == size(array_intersect) on sorted-set input") {
    import spark.implicits._
    // contract: inputs are sorted and duplicate-free (ShingleArray output)
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("x")),
      (Seq.empty[String], Seq("x")),
      (Seq("a", "b", "z"), Seq("a", "b", "c", "z")))
    val df = cases.toDF("a", "b")
    val rows = df.select(
      call_function("graft_array_intersect_size", col("a"), col("b"))
        .as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("registered expressions are reachable from SQL text") {
    val r = spark.sql(
      """SELECT graft_vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |                     array(cast(3.0 as float), cast(4.0 as float)))
        |  AS dot,
        |  graft_array_intersect_size(array('a','b'), array('b','c')) AS i,
        |  size(graft_shingles('a b c d')) AS ns""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0 && r.getInt(1) == 1 && r.getInt(2) == 2)
  }

  test("GraftExtensions wires every expression into a fresh extension set") {
    // the extension is the only doorway: nothing registers per query, so
    // every function must resolve in the built session AND in a new
    // session derived from it
    val names = Seq("graft_vec_dot", "graft_vec_sqdist", "graft_shingles",
      "graft_minhash_bands", "graft_array_intersect_size",
      "graft_shingles5", "graft_poly_hash", "graft_minhash_sig",
      "graft_jaro_winkler", "graft_bloom_might_contain",
      "graft_bounds_bucket", "graft_lsorted_intersect_size",
      "graft_lsorted_intersect")
    val fresh = spark.newSession()
    for (s <- Seq(spark, fresh); n <- names)
      assert(s.catalog.functionExists(n), s"$n does not resolve")
    // ... and the as-of strategy arrives the same way, not through
    // experimental.extraStrategies
    assert(fresh.experimental.extraStrategies.isEmpty)
    val plan = graft.SparkEntry.queries("q_asof_native")(fresh, sf0001)
      .queryExecution.executedPlan
    assert(plan.collect { case a: graft.operators.AsOfJoinExec => a }
      .nonEmpty, plan.toString)
    assert(fresh.experimental.extraStrategies.isEmpty)
    graft.CacheScope.releaseAll(fresh)
  }

  test("fingerprint matches a hand-rolled polynomial hash") {
    import spark.implicits._
    val text = "ab c"
    val expected = text.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    val got = Seq(text).toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).collect().head.getLong(0)
    assert(got == expected)
  }

  test("StringPolyHash == declarative char fold on ASCII text") {
    import spark.implicits._
    val texts = Seq("the fast key order", "a", "", "x y z 123")
    val rows = texts.toDF("text").select(
      call_function("graft_poly_hash", col("text")).as("fast"),
      TextFunctions.fingerprint(col("text")).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ShardTopology parses explicit node lists") {
    import graft.sink.{ShardNode, ShardTopology}
    assert(ShardTopology.parse("h1:9000, h2:9001") ==
      Seq(ShardNode(1, "h1", 9000), ShardNode(2, "h2", 9001)))
    assert(ShardNode(1, "h1", 8123).jdbcUrl("db") ==
      "jdbc:clickhouse://h1:8123/db")
    assertThrows[IllegalArgumentException](ShardTopology.parse("h1"))
  }
}
