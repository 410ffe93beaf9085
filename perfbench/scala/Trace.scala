package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for the
  * driver's own spans), so spans from the driver clock and from Spark's
  * listener events line up. `op` is the id of the op span it belongs to,
  * -1 for spans above the op level.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    kind: String, start: Double, end: Double) {
  def json: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "op" -> op, "name" -> name, "kind" -> kind, "start" -> start,
    "end" -> end)
}

/** In-memory span recorder. Driver spans nest on a stack (the harness is
  * single-threaded); listener threads append finished spans through
  * [[add]]. Nothing is written until the run ends. When disabled, [[span]]
  * only runs its body.
  */
final class Tracer {
  @volatile var enabled = false
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, op id)
  private var nextId = 0

  def now: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def currentOp: Int = if (stack.isEmpty) -1 else stack.top._2

  /** The op now open, readable from listener threads. */
  @volatile var openOp: Int = -1

  def newId(): Int = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Record `body` as a span; `isOp` starts a new op (and job group). */
  def span[T](name: String, kind: String, isOp: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = if (stack.isEmpty) -1 else stack.top._1
      val op = if (isOp) id else currentOp
      stack.push((id, op))
      if (isOp) openOp = id
      val start = now
      try body
      finally {
        stack.pop()
        if (isOp) openOp = currentOp
        add(Span(id, parent, op, name, kind, start, now))
      }
    }
}

/** Per-task totals of a set of Spark jobs. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskRunMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  def json: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_run_ms" -> taskRunMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill)
}

/** Spark job, stage and task events of the traced ops: jobs and stages
  * become spans under the op whose job group they carry, and task
  * metrics add up per op. Jobs in a group of their own (a stream's
  * micro-batches) go to the op open when they start.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Int, Double)] // job -> (op, start)
  private val stageOp = mutable.Map.empty[Int, (Int, Int)] // stage -> (op, job span)
  private val jobSpan = mutable.Map.empty[Int, Int]
  val perOp = mutable.Map.empty[Int, ExecTotals]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)
      .getOrElse(if (tracer.enabled) tracer.openOp else -1)

  private def totals(op: Int): ExecTotals = perOp.getOrElseUpdate(op, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op >= 0) {
      val sid = tracer.newId()
      jobStart(e.jobId) = (op, e.time.toDouble)
      jobSpan(e.jobId) = sid
      totals(op).jobs += 1
      e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, (op, sid)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, start) =>
      tracer.add(Span(jobSpan(e.jobId), op, op, s"job ${e.jobId}", "job",
        start, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { case (op, parent) =>
      totals(op).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Span(tracer.newId(), parent, op, s"stage ${info.stageId}",
          "stage", s.toDouble, c.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      val t = totals(op)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.taskRunMs += m.executorRunTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Catalyst phase times of every action (analysis, optimization,
  * planning), as spans. The listener runs after the action, so the op is
  * found later by time containment (parent -1 until then).
  */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracer.enabled) qe.tracker.phases.foreach { case (phase, p) =>
      tracer.add(Span(tracer.newId(), -1, -1, phase, "catalyst",
        p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One micro-batch as the engine reported it. */
final case class Epoch(batchId: Long, startMs: Double, rows: Long,
    durations: Map[String, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Collects every micro-batch progress; `recentProgress` keeps only the
  * last 100, so the listener is the only complete record.
  */
final class EpochListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Epoch]
  def drainAll(): Seq[Epoch] = synchronized { val r = buf.toList; buf.clear(); r }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized { buf += Epoch(p.batchId, start, p.numInputRows, d) }
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
