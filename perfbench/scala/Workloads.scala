package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.ChangelogOps
import graft.sink.dsv2.MemorySinkRegistry

object SinkWorkload {
  val Pk: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val Modes: Seq[String] = Seq("insert_only", "collapsing", "replacing")

  /** The seeded changelog over lineitem: every row an `I`; a seeded ~10 %
    * of keys also a `-U`/`+U` pair (the `+U` with a new quantity) and
    * another ~10 % a `D`. A decimal(12,2) and a date column ride along so
    * row conversion covers the expensive types.
    */
  def changelog(spark: SparkSession, data: String, seed: Long): DataFrame = {
    val li = spark.read.parquet(s"$data/lineitem.parquet")
      .withColumn("l_amount", col("l_extendedprice").cast("decimal(12,2)"))
      .withColumn("l_shipday", col("l_shipdate").cast("date"))
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withColumn("b", pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
        lit(seed)), lit(100L)))
    val upd = li.filter(col("b") < 10)
    li.withColumn("op", lit(ChangelogOps.Insert))
      .unionByName(upd.withColumn("op", lit(ChangelogOps.UpdateBefore)))
      .unionByName(upd.withColumn("l_quantity", col("l_quantity") + 1)
        .withColumn("op", lit(ChangelogOps.UpdateAfter)))
      .unionByName(li.filter(col("b") >= 10 && col("b") < 20)
        .withColumn("op", lit(ChangelogOps.Delete)))
      .drop("b")
  }

  /** Writer options of one mode; collapsing clusters on the PK (hash). */
  def sinkOptions(table: String, mode: String): Map[String, String] = {
    val pk = Pk.mkString(",")
    Map("url" -> "clickhouse://localhost:8123", "table-name" -> table,
      "sink.batch-size" -> "100000", "graft.executor" -> "memory",
      "primary-key" -> pk) ++ (mode match {
      case "collapsing" => Map("table.collapsing.field" -> "sign",
        "sink.partition-strategy" -> "hash", "sink.partition-key" -> pk)
      case "replacing" => Map("table.replacing.field" -> "is_deleted")
      case _ => Map.empty[String, String]
    })
  }

  def rowsOf(table: String): Long = MemorySinkRegistry.allFor(table).map(_._2.size.toLong).sum
}

/** `sink`: batch DSv2 writes in the three modes (order rotated per round),
  * a read-back of the collapsing table through GraftScan, and an
  * AvailableNow stream of one-file epochs into the same sink.
  */
final class SinkWorkload(run: Run) extends Workload {
  import SinkWorkload._
  private val spark = run.spark
  private val cfg = run.cfg
  /** Stream source files, one per epoch; the warm-up takes two per epoch. */
  val Epochs = 8
  val WarmupFilesPerEpoch = 2
  private val epochs = new EpochListener
  spark.streams.addListener(epochs)

  private var changelog: DataFrame = _
  private var readSchema: StructType = _
  private var expectRows: Map[String, Long] = Map.empty
  private var netDigest = ""
  private var streamDigest = ""
  private var pushedExpect: Seq[Row] = Nil
  private val flushes = mutable.Map.empty[String, Long]
  private val epochPhases = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var scanExchanges = -1
  private var scanRowsRead = -1L
  private def streamSrc = s"${cfg.work}/stream_src"
  private def table(mode: String) = s"perfbench_$mode"

  override def setup(): Unit = {
    changelog = run.setupPhase("changelog") {
      val df = SinkWorkload.changelog(spark, cfg.data, cfg.seed)
        .repartition(cfg.cpus).persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    run.setupPhase("expected")(expected())
    run.setupPhase("stream_source")(
      changelog.repartition(Epochs).write.mode("overwrite").parquet(streamSrc))
    run.setupPhase("warmup")(round(-1))
  }

  /** The outputs every round must reproduce, computed from the changelog
    * without the sink.
    */
  private def expected(): Unit = {
    val byOp = changelog.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val total = byOp.values.sum
    expectRows = Map("insert_only" -> (byOp(ChangelogOps.Insert) + byOp(ChangelogOps.UpdateAfter)),
      "collapsing" -> total, "replacing" -> total)
    readSchema = StructType(changelog.schema.fields.filterNot(_.name == "op") :+
      StructField("sign", IntegerType, nullable = false))
    netDigest = Digest.collect(Digest.frame(ChangelogOps.collapsingNetState(changelog, Pk)))
    val signed = ChangelogOps.withSign(changelog)
    pushedExpect = signed.groupBy("l_returnflag").agg(sum("sign"), count(lit(1)))
      .collect().sortBy(_.getString(0)).toSeq
    streamDigest = Digest.collect(Digest.frame(signed.drop("op")))
  }

  override def round(r: Int): Unit = {
    val k = math.floorMod(r + cfg.seed, Modes.size.toLong).toInt
    (Modes.drop(k) ++ Modes.take(k)).foreach(write)
    readback()
    MemorySinkRegistry.clearTable(table("collapsing"))
    stream(r)
  }

  private def write(mode: String): Unit = {
    val t = table(mode)
    MemorySinkRegistry.clearTable(t)
    run.op(s"write $mode", "write") {
      changelog.write.format("clickhouse-style").options(sinkOptions(t, mode))
        .mode("append").save()
    } { _ =>
      val n = rowsOf(t)
      if (n == expectRows(mode)) None else Some(s"wrote $n rows, expected ${expectRows(mode)}")
    }
    flushes(mode) = MemorySinkRegistry.allFor(t).size.toLong
    if (mode != "collapsing") MemorySinkRegistry.clearTable(t)
  }

  /** Per-key net state of the collapsing table, plus one aggregate the
    * scan takes over (grouped by a non-key column, so it is pushed).
    */
  private def readback(): Unit =
    run.op("readback", "read") {
      val (df, rollup, pushedAgg) = run.tracer.span("build", "build") {
        val df = spark.read.format("clickhouse-style").schema(readSchema)
          .options(sinkOptions(table("collapsing"), "collapsing")).load()
        (df, Digest.frame(df.groupBy(Pk.map(col): _*).agg(sum("sign").as("net"))),
          df.groupBy("l_returnflag").agg(sum("sign"), count(lit(1))))
      }
      val net = run.tracer.span("execute", "exec")(Digest.collect(rollup))
      val pushed = run.tracer.span("execute", "exec")(pushedAgg.collect())
        .sortBy(_.getString(0)).toSeq
      (rollup, net, pushed)
    } { case (_, net, pushed) =>
      if (net != netDigest) Some(s"net state $net, expected $netDigest")
      else if (pushed != pushedExpect) Some(s"pushed aggregate $pushed, expected $pushedExpect")
      else None
    }.foreach { case (rollup, _, _) =>
      val plan = rollup.queryExecution.executedPlan
      scanExchanges = plan.collect { case e: ShuffleExchangeLike => e }.size - 1 // digest's own
      scanRowsRead = plan.collect { case b: BatchScanExec => b }
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    }

  private def stream(r: Int): Unit = {
    val t = "perfbench_stream"
    val filesPerEpoch = if (r < 0) WarmupFilesPerEpoch else 1
    MemorySinkRegistry.clearTable(t)
    epochs.drainAll()
    run.op("stream", "stream", sampled = false) {
      spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", filesPerEpoch.toString)
        .parquet(streamSrc)
        .writeStream.format("clickhouse-style").options(sinkOptions(t, "collapsing"))
        .option("checkpointLocation", s"${cfg.work}/checkpoint_$r")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } { _ =>
      val got = Digest.ofBatches(MemorySinkRegistry.allFor(t).map(_._2))
      if (got != streamDigest) Some(s"stream holds $got, expected $streamDigest") else None
    }
    MemorySinkRegistry.clearTable(t)
    run.drainListeners()
    val eps = epochs.drainAll().filter(_.rows > 0)
    val expectEpochs = Epochs / filesPerEpoch
    run.check("stream epochs")(
      if (eps.size == expectEpochs) None else Some(s"${eps.size} epochs, expected $expectEpochs"))
    val streamOp = run.lastOpId
    eps.foreach { e =>
      run.sample(OpSample(s"epoch ${e.batchId}", "epoch", e.triggerMs.toDouble, -1))
      if (r >= 0) epochPhases += e.durations
      if (streamOp >= 0) addEpochSpans(streamOp, e)
    }
  }

  /** The engine reports phase durations only; they run back to back in
    * this order, so the spans are laid out from the trigger start.
    */
  private def addEpochSpans(streamOp: Int, e: Epoch): Unit = {
    val tr = run.tracer
    val id = tr.newId()
    tr.add(Span(id, streamOp, id, s"epoch ${e.batchId}", "epoch", e.startMs, e.startMs + e.triggerMs))
    var t = e.startMs
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach { p =>
        e.durations.get(p).foreach { d =>
          tr.add(Span(tr.newId(), id, id, p, "phase", t, t + d))
          t += d
        }
      }
  }

  override def detail(): Map[String, Any] = Map(
    "rows_written" -> expectRows,
    "rows_in" -> expectRows("collapsing"),
    "rows_dropped" -> (expectRows("collapsing") - expectRows("insert_only")),
    "flushes" -> flushes,
    "scan_exchanges" -> scanExchanges, "scan_rows_read" -> scanRowsRead,
    "epoch_phases" -> epochPhases.toList)

  override def probes(): Map[String, Double] =
    Probes.sink(changelog) ++ Probes.kernels(spark, cfg.data, cfg.cpus)
}

/** `engine`: the query engine and the LLM-data pipeline. One round runs
  * every query key once and the pipeline once (`PipelineRun.run`, then
  * `incremental` against the state that run persisted), each from an
  * empty cache, in an order shuffled by the seed. A query op is build
  * (the builder returns its DataFrame), plan (force the executed plan)
  * and execute (the digest); a pipeline op's layer calls are its ledger
  * stages. The corpus is fixed, so the seed only moves the order.
  */
final class EngineWorkload(run: Run) extends Workload {
  import graft.PipelineRun
  private val spark = run.spark
  private val cfg = run.cfg
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q_tpch_q1", "q_tpch_q5"),
    "changelog" -> Seq("collapsing_net_state", "changelog_normalize"),
    "window" -> Seq("q_asof_native", "q_session_gap"),
    "text" -> Seq("dedup_minhash_pairs"),
    "vector" -> Seq("embedding_kmeans_update"),
    "rank" -> Seq("q_kmv_distinct"))
  val Keys: Seq[String] = Families.flatMap(_._2)
  val Pipeline = "pipeline"
  private val builders = graft.SparkEntry.queries
  private val warm = mutable.Map.empty[String, String]
  private val stageSecs = mutable.ArrayBuffer.empty[(String, String, Double)]
  private def out = s"${cfg.work}/pipeline"

  override def setup(): Unit = run.setupPhase("warmup") {
    Keys.foreach(runKey(_, warmup = true))
    pipeline(-1)
  }

  override def round(r: Int): Unit =
    new scala.util.Random(cfg.seed * 1000003L + r).shuffle(Keys :+ Pipeline).foreach {
      case Pipeline => pipeline(r)
      case k => runKey(k, warmup = false)
    }

  private def runKey(k: String, warmup: Boolean): Unit = {
    spark.catalog.clearCache()
    val tr = run.tracer
    run.op(k, "query") {
      val df = tr.span("build", "build")(builders(k)(spark, cfg.data))
      val d = Digest.frame(df)
      tr.span("plan", "plan")(d.queryExecution.executedPlan)
      tr.span("execute", "exec")(Digest.collect(d))
    } { got =>
      if (warmup) { warm(k) = got; run.pinned(s"query.$k", got) }
      else if (!warm.get(k).contains(got)) Some(s"$k: $got, warm-up gave ${warm.get(k)}")
      else None
    }
  }

  private def pipeline(r: Int): Unit = {
    ledgerOp("run", r)(PipelineRun.run(spark, cfg.data, out))
    ledgerOp("incremental", r)(PipelineRun.incremental(spark, cfg.data, out,
      stateDir = Some(s"$out/state")))
  }

  private def ledgerOp(mode: String, r: Int)(body: => Seq[PipelineRun.StageResult]): Unit = {
    spark.catalog.clearCache()
    val res = run.op(s"pipeline_$mode", "pipeline")(body)(ledger => check(mode, ledger))
    res.foreach { ledger =>
      if (r >= 0) ledger.foreach(s => stageSecs += ((mode, s.stage, s.secs)))
      if (run.lastOpId >= 0) {
        // the ledger has durations only; its stages run back to back
        val op = run.tracer.all.find(_.id == run.lastOpId).get
        var t = op.start
        ledger.foreach { s =>
          run.tracer.add(Span(run.tracer.newId(), op.id, op.id, s.stage, "stage_ledger",
            t, t + s.secs * 1000))
          t += s.secs * 1000
        }
      }
    }
  }

  /** Every stage reconciles and feeds the next; kept counts match pins. */
  private def check(mode: String, ledger: Seq[PipelineRun.StageResult]): Option[String] = {
    val problems = ledger.zipWithIndex.flatMap { case (s, i) =>
      val chain = if (i > 0 && s.docsIn != ledger(i - 1).docsKept)
        Some(s"${s.stage} reads ${s.docsIn}, previous stage kept ${ledger(i - 1).docsKept}")
      else None
      val balance = if (s.docsKept < 0 || s.docsKept + s.docsDropped != s.docsIn || s.docsKept > s.docsIn)
        Some(s"${s.stage}: in ${s.docsIn} != kept ${s.docsKept} + dropped ${s.docsDropped}")
      else None
      chain.toSeq ++ balance ++ run.pinned(s"pipeline.$mode.${s.stage}", s.docsKept.toString)
    }
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  override def detail(): Map[String, Any] = Map(
    "families" -> Families.map { case (f, ks) => f -> ks }.toMap,
    "stage_secs" -> stageSecs.map { case (m, s, x) => Map("mode" -> m, "stage" -> s, "secs" -> x) }.toList)

  override def probes(): Map[String, Double] =
    Probes.sink(SinkWorkload.changelog(spark, cfg.data, cfg.seed)) ++
      Probes.kernels(spark, cfg.data, cfg.cpus)
}
