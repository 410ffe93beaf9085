package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.sink.{BufferedRetryWriter, GraftSinkOptions, StatementExecutor, WriteMode}
import graft.sink.dsv2.{GraftDataWriter, MemorySinkRegistry}

/** Layer probes of the traced run: single-thread loops over the sink's
  * row path, and the text kernels over the document corpus.
  */
object Probes {
  val ProbeRows = 50000
  val Reps = 5

  private final class Discard extends StatementExecutor {
    override def executeBatch(rows: Seq[Row]): Unit = ()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median wall ms of `Reps` runs of `f`, after one untimed run. */
  private def timeMs(f: => Any): Double = {
    f
    median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
  }

  /** ns per row of GraftDataWriter (collapsing mode mapping, which calls
    * toExternalRow), of toExternalRow alone, of BufferedRetryWriter and of
    * MemorySinkRegistry.Exec, over pre-collected changelog rows.
    */
  def sink(changelog: DataFrame): Map[String, Double] = {
    val schema = changelog.schema
    val rows: Array[InternalRow] =
      changelog.limit(ProbeRows).queryExecution.toRdd.map(_.copy()).collect()
    val n = rows.length.toDouble
    val opts = GraftSinkOptions.fromMap(
      SinkWorkload.sinkOptions("perfbench_probe", "collapsing") - "primary-key" - "graft.executor")
    val mapNs = timeMs {
      val w = new GraftDataWriter(new BufferedRetryWriter(new Discard, opts.batchSize, opts.maxRetries),
        schema, opts, WriteMode.Collapsing)
      rows.foreach(w.write)
      w.commit()
    } * 1e6 / n
    var sinkHole = 0L
    val convertNs = timeMs {
      rows.foreach(r => sinkHole += GraftDataWriter.toExternalRow(r, schema).length)
    } * 1e6 / n
    val external = rows.map(r => GraftDataWriter.toExternalRow(r, schema))
    var buffer: BufferedRetryWriter = null
    val bufferNs = timeMs {
      buffer = new BufferedRetryWriter(new Discard, 10000, opts.maxRetries)
      external.foreach(buffer.write)
      buffer.close()
    } * 1e6 / n
    val batches = external.grouped(10000).map(_.toSeq).toSeq
    val execNs = timeMs {
      val exec = new MemorySinkRegistry.Exec("perfbench_probe", 0)
      batches.foreach(exec.executeBatch)
      MemorySinkRegistry.clearTable("perfbench_probe")
    } * 1e6 / n
    require(sinkHole > 0)
    Map("sink.map_ns_per_row" -> mapNs, "sink.convert_ns_per_row" -> convertNs,
      "sink.buffer_ns_per_row" -> bufferNs, "sink.exec_ns_per_row" -> execNs,
      "sink.flushes" -> buffer.flushCount.toDouble, "sink.attempts" -> buffer.attemptCount.toDouble)
  }

  /** ms per pass of each text kernel over 8 copies of the documents. */
  def kernels(spark: SparkSession, data: String, cpus: Int): Map[String, Double] = {
    graft.expressions.TextExpressions.register(spark)
    val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
      .crossJoin(spark.range(8).toDF("copy")).repartition(cpus).cache()
    val sh = docs.select(col("doc_id"), col("copy"),
      call_function("graft_shingles", col("text")).as("sh")).cache()
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.doc_id") + 1 === col("b.doc_id") && col("a.copy") === col("b.copy"))
      .select(col("a.sh").as("x"), col("b.sh").as("y")).cache()
    Seq(docs, sh, pairs).foreach(_.count())
    val out = Map(
      "kernel.shingles_ms" -> timeMs(docs.select(
        sum(size(call_function("graft_shingles", col("text"))))).collect()),
      "kernel.minhash_bands_ms" -> timeMs(sh.select(
        sum(size(call_function("graft_minhash_bands", col("sh"))))).collect()),
      "kernel.intersect_ms" -> timeMs(pairs.select(
        sum(call_function("graft_array_intersect_size", col("x"), col("y")))).collect()))
    Seq(pairs, sh, docs).foreach(_.unpersist())
    out
  }
}
