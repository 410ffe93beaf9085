package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, udf}

/** Order-insensitive digest of a result: the row count plus the sum of a
  * 40-bit hash of each row's canonical text. Doubles are rounded to 9
  * significant digits first, so a float sum that changes its association
  * order between runs still digests the same. 40 bits keep the sum of up
  * to 2^23 rows inside a Long, which ANSI mode would otherwise reject.
  */
object Digest {
  val SignificantDigits = 9

  /** Canonical text of one value, stable across the external types Spark
    * hands out for the same SQL value (java.sql vs java.time dates).
    */
  def canonical(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canonical(b.bigDecimal)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(SignificantDigits))
      .stripTrailingZeros.toPlainString

  /** 40-bit hash of a row's canonical text (two 32-bit murmur lanes). */
  def rowHash(r: Row): Long = {
    val s = canonical(r)
    ((MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5be0cd19).toLong & 0xffffffffL)) &
      ((1L << 40) - 1)
  }

  def render(rows: Long, hashSum: Long): String = f"$rows:$hashSum%016x"

  /** Digest of rows held by the driver (the form of [[frame]] for batches
    * of rows), hashed batch-parallel.
    */
  def ofRows(rows: Iterable[Row]): String = ofBatches(Seq(rows.toSeq))

  def ofBatches(batches: Seq[Seq[Row]]): String = {
    val parts = java.util.Arrays.asList(batches: _*).parallelStream()
      .map[Array[Long]](b => Array(b.size.toLong, b.iterator.map(rowHash).sum))
      .toArray
    render(parts.map(_.asInstanceOf[Array[Long]](0)).sum,
      parts.map(_.asInstanceOf[Array[Long]](1)).sum)
  }

  private val hashUdf = udf((r: Row) => rowHash(r))

  /** A one-row frame whose single action computes the digest of `df`;
    * every column feeds the hash, so none is pruned away.
    */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.select(hashUdf(struct(named.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s"))
  }

  /** Collect a [[frame]]. */
  def collect(digestFrame: DataFrame): String = {
    val r = digestFrame.collect().head // collect() reuses the frame's planned query
    render(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
