package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Heavy-loop text expressions for the dedup operators.
  *
  * Semantics are IDENTICAL to the declarative formulations they replace
  * (and to the DuckDB oracle); these exist because the built-in
  * higher-order functions run an interpreted lambda per element and md5()
  * builds a fresh MessageDigest per call — ~70x slower on the
  * 3.9M-element MinHash workload. One eval call here amortizes the digest
  * and avoids per-element expression-tree evaluation, which is the
  * difference between a shingle pass that scales and one that doesn't.
  * (CodegenFallback is fine: all the work is inside a single eval.)
  */
object TextExpressions {

  private val hexDigits = "0123456789abcdef".toCharArray

  private[expressions] def hex(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(bytes(i) & 0xf).toByte
      i += 1
    }
    out
  }

  /** Per-seed MinHash minima as raw md5 digests: mins(j) = min over
    * array elements of md5(prefix_j ++ bytes), null-safe per element,
    * all-null result for an empty array. Shared by MinhashBandKeys and
    * MinhashSignature so the signature and the band keys can never
    * diverge.
    */
  private[expressions] def minhashMins(arr: ArrayData, md: MessageDigest,
      prefixes: Array[Array[Byte]]): Array[Array[Byte]] = {
    val numHashes = prefixes.length
    val n = arr.numElements()
    val mins = new Array[Array[Byte]](numHashes)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val sBytes = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < numHashes) {
          md.reset()
          md.update(prefixes(j))
          md.update(sBytes)
          val d = md.digest()
          if (mins(j) == null ||
              java.util.Arrays.compareUnsigned(d, mins(j)) < 0) {
            mins(j) = d
          }
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  private val FnNames = Seq("graft_jaro_winkler", "graft_minhash_bands",
    "graft_array_intersect_size", "graft_shingles", "graft_shingles5",
    "graft_poly_hash", "graft_minhash_sig")

  /** Checks that the session resolves the text functions. It registers
    * nothing: [[graft.GraftExtensions]] injects them into every session
    * built by GraftSession.build.
    */
  def register(spark: SparkSession): Unit = {
    val missing = FnNames.filterNot(spark.catalog.functionExists)
    require(missing.isEmpty, s"text functions ${missing.mkString(", ")} " +
      "do not resolve: build the session with GraftSession.build " +
      "(spark.sql.extensions=graft.GraftExtensions)")
  }
}

/** Polynomial rolling hash h = (h*31 + byte) % M over the utf-8 bytes of a
  * string — identical to the character fold
  * aggregate(split(text, ''), 0L, (h, c) -> (h*31 + ascii(c)) % M) for
  * ASCII text (byte == codepoint), and to the oracle's
  * list_reduce([0] || codes, ...). One eval per document instead of one
  * interpreted lambda step per character.
  */
case class StringPolyHash(child: Expression, mod: Long = 1000000007L)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31 + (bytes(i) & 0xff)) % mod
      i += 1
    }
    h
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Distinct word n-gram shingles straight from the text — same SET as
  * array_distinct(transform(sequence(0, size(w)-n), i ->
  * concat_ws(' ', slice(w, i+1, n)))) over split(text, ' '), and as the
  * oracle's list_distinct([array_to_string(ws[i:i+2],' ') for i in ...]).
  * Output is SORTED (unsigned byte order): element order never matters to
  * the consumers (min-hash, set sizes), and sortedness lets the pairwise
  * intersection run as a zero-allocation merge instead of a per-pair
  * HashSet (~30x on the near-dup joins). Fewer than n words -> empty.
  */
case class ShingleArray(child: Expression, n: Int = 3)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    val ws = text.split(UTF8String.fromString(" "), -1)
    val out = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= ws.length - n) {
      var g = ws(i)
      var k = 1
      while (k < n) {
        g = UTF8String.concat(g, sep, ws(i + k))
        k += 1
      }
      out.add(g)
      i += 1
    }
    val arr = out.toArray(new Array[UTF8String](out.size))
    java.util.Arrays.sort(arr, null) // UTF8String: unsigned byte order
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All MinHash band keys of a shingle array in one pass.
  *
  * For j in 0..7:  mh_j = min over shingles s of md5("<j>:" + s) (hex).
  * For b in 0..3:  band_b = md5(hex(mh_2b) || hex(mh_2b+1)) (hex).
  *
  * Equivalent one-md5-expression-per-element formulation:
  *   array_min(transform(sh, s => md5(concat(lit(j + ":"), s))))
  * and DuckDB: list_min(list_transform(s, x -> md5('j:' || x))).
  * Lexicographic min of fixed-width lowercase hex == unsigned byte-wise
  * min of the raw digests, so only winners get hex-encoded.
  *
  * An empty shingle set yields all-null band keys — the same as the
  * declarative form (array_min over empty -> null, md5(null) -> null) and
  * the oracle; null keys never join (NULL = NULL is false in both
  * engines), so shingle-less docs form no candidate pairs.
  */
case class MinhashBandKeys(child: Expression,
    numHashes: Int = 8, bandSize: Int = 2)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  // digest amortized across rows but held per-THREAD, not per-instance:
  // the usual "one deserialized copy per task" assumption breaks under
  // driver-side evaluation or subexpression-elimination reuse, where one
  // instance may be evaluated concurrently — a shared MessageDigest would
  // interleave updates and silently corrupt band keys (same pattern as
  // Spark's own hash expressions)
  @transient private lazy val md =
    ThreadLocal.withInitial[MessageDigest](() =>
      MessageDigest.getInstance("MD5"))
  @transient private lazy val prefixes =
    Array.tabulate(numHashes)(j => s"$j:".getBytes("UTF-8"))

  override def nullSafeEval(input: Any): Any = {
    val md = this.md.get()
    val mins = TextExpressions.minhashMins(
      input.asInstanceOf[ArrayData], md, prefixes)
    val numBands = numHashes / bandSize
    val bands = new Array[Any](numBands)
    if (mins(0) != null) {
      var b = 0
      while (b < numBands) {
        md.reset()
        var k = 0
        while (k < bandSize) {
          md.update(TextExpressions.hex(mins(b * bandSize + k)))
          k += 1
        }
        bands(b) = UTF8String.fromBytes(TextExpressions.hex(md.digest()))
        b += 1
      }
    } // else: no shingles -> all band keys null (see scaladoc)
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The 8 MinHash values themselves as lowercase hex strings — the
  * signature MinhashBandKeys condenses into band keys, exposed for
  * signature-agreement Jaccard estimation. Identical per-hash semantics
  * (mh_j = min over shingles of md5("<j>:" + s)); empty shingle set
  * yields 8 nulls (array_min over empty -> null).
  */
case class MinhashSignature(child: Expression, numHashes: Int = 8)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  @transient private lazy val md =
    ThreadLocal.withInitial[MessageDigest](() =>
      MessageDigest.getInstance("MD5"))
  @transient private lazy val prefixes =
    Array.tabulate(numHashes)(j => s"$j:".getBytes("UTF-8"))

  override def nullSafeEval(input: Any): Any = {
    val md = this.md.get()
    val mins = TextExpressions.minhashMins(
      input.asInstanceOf[ArrayData], md, prefixes)
    val out = new Array[Any](numHashes)
    var j = 0
    while (j < numHashes) {
      if (mins(j) != null)
        out(j) = UTF8String.fromBytes(TextExpressions.hex(mins(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Jaro–Winkler similarity over the raw utf-8 bytes of two strings —
  * bitwise-identical to DuckDB's `jaro_winkler_similarity` (the oracle
  * side), pinned by an empirical battery in Round10xQueriesSpec:
  *
  *  - either side empty -> 0.0 (INCLUDING both empty — not 1.0);
  *  - match window = max(len)/2 − 1 (floored, min 0), first-unmatched
  *    scan ascending;
  *  - m = 0 -> 0.0; transpositions t = (mismatched aligned matches)/2
  *    with FLOORED integer division (rapidfuzz semantics — an odd
  *    mismatch count rounds down, e.g. jw("ab##bdb2","#ab") =
  *    0.6805555555555555, not the float-half 0.625);
  *  - jaro = (m/l1 + m/l2 + (m − t)/m) / 3 evaluated left-to-right;
  *  - Winkler boost ONLY when jaro > 0.7: jaro + p·0.1·(1 − jaro) with
  *    common prefix p ≤ 4, products left-to-right.
  *
  * The arithmetic ORDER is part of the contract — every step is a
  * correctly-rounded IEEE op on exact integers or their quotients, so
  * evaluating in the same order as the oracle engine makes the double
  * bitwise-reproducible (same determinism rule as DetMath). Byte-wise
  * comparison equals code-point comparison for the ASCII name/text
  * columns this engine scores; like the built-in levenshtein it is
  * byte-oriented on multi-byte input.
  *
  * Runs per candidate PAIR inside blocked fuzzy-match joins, so it
  * codegens as a static call that keeps the surrounding
  * WholeStageCodegen span fused (same rationale as ArrayIntersectSize).
  */
object JaroWinklerFn {
  def jw(sa: UTF8String, sb: UTF8String): Double = {
    val a = sa.getBytes
    val b = sb.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max((if (l1 > l2) l1 else l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && a(i) == b(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var tFull = 0
    var j2 = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j2)) j2 += 1
        if (a(i) != b(j2)) tFull += 1
        j2 += 1
      }
      i += 1
    }
    val md = m.toDouble
    val t = (tFull / 2).toDouble
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro > 0.7) {
      val maxP = math.min(4, math.min(l1, l2))
      var p = 0
      while (p < maxP && a(p) == b(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerFn.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.JaroWinklerFn.jw($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| over SORTED distinct string arrays (ShingleArray output) — the
  * value of size(array_intersect(a, b)) computed as a two-pointer merge:
  * no per-pair hash set, no allocation, ~200 byte-compares per call.
  * DuckDB mirror: len(list_intersect(a, b)) (order-insensitive, so the
  * sortedness requirement is invisible to the oracle). Inputs MUST be
  * sorted ascending and duplicate-free; both producers in this codebase
  * (ShingleArray) guarantee it.
  *
  * Unlike the per-document expressions above, this one runs PER CANDIDATE
  * PAIR inside join stages (containment/jaccard/LSH-confirm), so
  * CodegenFallback would both pay boxed eval dispatch per pair and split
  * the surrounding WholeStageCodegen span; doGenCode keeps the join
  * stage fused and emits the identical two-pointer merge inline.
  */
case class ArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val na = xa.numElements()
    val nb = xb.numElements()
    var i = 0
    var j = 0
    var count = 0
    while (i < na && j < nb) {
      val c = xa.getUTF8String(i).compareTo(xb.getUTF8String(j))
      if (c == 0) { count += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    count
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |int $cnt = 0;
         |while ($i < $na && $j < $nb) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
