package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into one layer, timed from the benchmark's side.
  * Times are wall-clock milliseconds (fractional) since the epoch, so
  * spans recorded here line up with the phase and micro-batch times
  * Spark reports in its listener events. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, round: Int,
    op: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Spans are only recorded while `on`; they are
  * written out once, when the run ends. */
final class Tracer {
  @volatile var on = false
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String, round: Int, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), name, round, op, nowMs, 0)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  /** A span timed by Spark (a planning phase, a micro-batch): its parent
    * is the innermost recorded span of the same round whose interval
    * contains it, among spans named in `parents`. */
  def external(name: String, startMs: Double, endMs: Double,
      parents: Set[String]): Unit = {
    val p = spans.filter(s => parents(s.name) && s.startMs <= startMs + 1 &&
      endMs <= s.endMs + 1).sortBy(_.durMs).headOption
    p.foreach(par =>
      spans += Span(spans.size, par.id, name, par.round, par.op, startMs, endMs))
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children of one span do not overlap here: calls are
    * sequential on the driver thread, and Spark's phases and micro-batches
    * are sequential within their parent). */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c =>
        math.max(0.0, math.min(c.endMs, s.endMs) - math.max(c.startMs, s.startMs))).sum
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }
}

/** Per-round totals of Spark's task and stage metrics. Jobs are
  * attributed through local properties the driver sets before each call
  * (round, operation, phase); the streaming engine's thread inherits them
  * when the query starts, so micro-batch jobs land in their round too. */
final class TaskTotals extends SparkListener {
  final class Acc {
    var jobs, eagerJobs, stages, singleTaskStages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill,
      inputBytes, inputRows = 0L
  }
  private val jobRound = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val acc = mutable.HashMap.empty[Int, Acc]

  private def roundOfStage(stageId: Int): Int =
    stageJob.get(stageId).flatMap(jobRound.get).getOrElse(-1)
  private def at(round: Int) = acc.getOrElseUpdate(round, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val round = p.flatMap(x => Option(x.getProperty(TaskTotals.RoundKey)))
      .map(_.toInt).getOrElse(-1)
    val phase = p.flatMap(x => Option(x.getProperty(TaskTotals.PhaseKey)))
      .getOrElse("")
    jobRound(e.jobId) = round
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    val a = at(round)
    a.jobs += 1
    if (phase == "build") a.eagerJobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = at(roundOfStage(e.stageInfo.stageId))
    a.stages += 1
    if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = at(roundOfStage(e.stageId))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
    }
  }

  def round(r: Int): Acc = synchronized(acc.getOrElse(r, new Acc))
}

object TaskTotals {
  val RoundKey = "perfbench.round"
  val PhaseKey = "perfbench.phase"
}

/** Catalyst phase times of every executed query, from the query's own
  * planning tracker, with the phases' wall-clock bounds. */
final class PlanPhases extends QueryExecutionListener {
  import PlanPhases.Phase
  private val got = mutable.ArrayBuffer.empty[Phase]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (n, p) => got += Phase(n, p.startTimeMs, p.endTimeMs) }
  }
  def all: Seq[Phase] = synchronized(got.toSeq)
}

object PlanPhases {
  final case class Phase(name: String, startMs: Long, endMs: Long)
}

/** Every micro-batch progress report of every streaming query. */
final class BatchProgress extends StreamingQueryListener {
  import StreamingQueryListener._
  private val got = mutable.LinkedHashMap.empty[(java.util.UUID, Long), StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    got((e.progress.runId, e.progress.batchId)) = e.progress
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = synchronized(got.values.toSeq)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
