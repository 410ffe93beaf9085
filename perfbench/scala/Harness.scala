package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: builds the session, sets up and warms up one
  * workload, runs measured rounds until `--seconds` have passed, and
  * writes the raw samples, checks and spans as one JSON file. run.py
  * turns that file into the metrics.
  *
  *   perfbench.Harness --workload sink --seed 1 --seconds 10 --trace 0
  *     --data <corpus dir> --work <scratch dir> --out <result.json>
  *     --cpus <slots> [--expected <pins.json>] [--pin 1]
  */
object Harness {

  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      expected: Option[String], pin: Boolean, cpus: Int)

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"), m.get("expected"),
      m.get("pin").contains("1"), m("cpus").toInt)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val run = new Run(cfg)
    val w: Workload = cfg.workload match {
      case "sink" => new SinkWorkload(run)
      case "engine" => new EngineWorkload(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = try run.execute(w) finally run.spark.stop()
    val f = new java.io.File(cfg.out)
    java.nio.file.Files.writeString(f.toPath, Json.render(result))
  }
}

/** One measured op of a round. */
final case class OpSample(name: String, kind: String, ms: Double, opId: Int) {
  def json: Map[String, Any] = Map("name" -> name, "kind" -> kind, "ms" -> ms, "op" -> opId)
}

/** A workload: set-up (inputs, expected outputs, the untimed warm-up)
  * and one measured round. Each round runs its ops through [[Run.op]].
  */
trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  /** Workload-specific figures for the trace file and the summary. */
  def detail(): Map[String, Any]
  /** Extra per-layer probes, run once after the traced rounds. */
  def probes(): Map[String, Double] = Map.empty
}

final class Run(val cfg: Harness.Config) {
  private val sessionStart = System.nanoTime()
  val spark: SparkSession = graft.GraftSession.build(cpus = cfg.cpus.toString,
    appName = s"perfbench-${cfg.workload}")
  private val sessionS = (System.nanoTime() - sessionStart) / 1e9
  val tracer = new Tracer
  val jobs = new JobListener(tracer)
  if (cfg.trace) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(new PlanListener(tracer))
  }

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var samples = mutable.ArrayBuffer.empty[OpSample]
  private var workMs = 0.0 // time inside ops this round, checks excluded
  private var liveHeapPeak = 0L
  private val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Pinned outputs, keyed "<workload>.<name>". */
  val expected: Map[String, String] = cfg.expected.map { p =>
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }.getOrElse(Map.empty)
  /** Observed outputs, written out so run.py can pin them. */
  val observed = mutable.LinkedHashMap.empty[String, String]

  /** Compare an output with its pin and record it as observed; with
    * `--pin 1` only record it.
    */
  def pinned(key: String, value: String): Option[String] = {
    observed(key) = value
    if (cfg.pin) None
    else expected.get(key) match {
      case Some(v) if v == value => None
      case Some(v) => Some(s"$key: got $value, pinned $v")
      case None => Some(s"$key: no pinned value (got $value)")
    }
  }

  /** Run one op: counted as attempted, timed, traced as an op span with
    * its own job group; an exception or a failed `check` counts it as
    * failed. The check runs after the clock stops. Every op starts on a
    * freshly collected heap, so no op pays for its predecessor's garbage;
    * the live heap measured there is the heap figure.
    */
  def op[T](name: String, kind: String, sampled: Boolean = true)(body: => T)(
      check: T => Option[String]): Option[T] = {
    attempted += 1
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    var opId = -1
    val t0 = System.nanoTime()
    val res = try {
      val v = tracer.span(name, kind, isOp = true) {
        opId = tracer.currentOp
        if (tracer.enabled) spark.sparkContext.setJobGroup(s"op-$opId", name)
        try body finally if (tracer.enabled) spark.sparkContext.clearJobGroup()
      }
      Right(v)
    } catch { case e: Throwable => Left(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    workMs += ms
    lastOpId = opId
    res.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) =>
        if (sampled) samples += OpSample(name, kind, ms, opId)
        Some(v)
      case Left(msg) =>
        fail(msg)
        None
    }
  }

  private val setupPhases = mutable.LinkedHashMap("session" -> sessionS)

  /** Time one step of the set-up (reported next to `setup_s`). */
  def setupPhase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupPhases(name) = (System.nanoTime() - t0) / 1e9
  }

  /** Span id of the last op, -1 when it ran untraced. */
  var lastOpId = -1

  /** A sample measured by someone else (an epoch reported by the engine). */
  def sample(s: OpSample): Unit = samples += s

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg.take(500)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Count a check that is not tied to one timed op. */
  def check(what: String)(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach(p => fail(s"$what: $p"))
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def drainListeners(): Unit =
    org.apache.spark.graft.GraftSparkInternals.drainListenerBus(spark.sparkContext, 30000)

  def execute(w: Workload): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    liveHeapPeak = 0L
    // a traced run measures rounds untraced, traced, traced, untraced, ...
    // (ABBA, so a drift over the run cancels out of the tracing overhead
    // when four rounds fit; at least one of each)
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var r = 0
    while (r < (if (cfg.trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = cfg.trace && (r % 4 == 1 || r % 4 == 2)
      tracer.enabled = traced
      samples = mutable.ArrayBuffer.empty
      workMs = 0.0
      val (gc0, jit0) = (gcMs, jitMs)
      val start = tracer.now
      val t0 = System.nanoTime()
      tracer.span(s"round $r", "round")(w.round(r))
      val wallMs = (System.nanoTime() - t0) / 1e6
      rounds += Map("round" -> r, "traced" -> traced, "start" -> start,
        "wall_ms" -> wallMs, "work_ms" -> workMs, "gc_ms" -> (gcMs - gc0), "jit_ms" -> (jitMs - jit0),
        "ops" -> samples.map(_.json).toList)
      r += 1
    }
    tracer.enabled = false
    drainListeners()
    val probes = if (cfg.trace) w.probes() else Map.empty[String, Double]
    Map("workload" -> cfg.workload, "seed" -> cfg.seed, "slots" -> cfg.cpus,
      "setup_s" -> setupS, "setup_phases" -> setupPhases, "heap_peak_mb" -> liveHeapPeak / 1048576.0,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toList,
      "rounds" -> rounds.toList, "detail" -> w.detail(), "probes" -> probes,
      "observed" -> observed,
      "exec" -> jobs.synchronized(jobs.perOp.map { case (k, v) => k.toString -> v.json }.toMap),
      "spans" -> tracer.all.map(_.json))
  }
}
