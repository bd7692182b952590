package svcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is the request or round it belongs
  * to; `parent` is 0 for the op's root span. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
  thread: String, start: Long, end: Long)

/** Spans recorded by the benchmark around its own calls into the
  * service's layers. Only ops started with `traced = true` record
  * anything; every span tags the Spark jobs it triggers with a job group
  * named after the span, so [[SparkStats]] can attribute them. */
final class Tracer(sc: SparkContext) {

  import Tracer.Frame

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil
  }

  /** Run `body` as op `opId`'s root span when `traced`, else as is. */
  def op[T](name: String, opId: Long, traced: Boolean)(body: => T): T =
    if (traced) enter(name, opId)(body) else body

  /** A layer span inside the current op; a no-op outside a traced op. */
  def span[T](name: String)(body: => T): T = stack.get match {
    case Nil => body
    case f :: _ => enter(name, f.op)(body)
  }

  private def enter[T](name: String, opId: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    stack.set(Frame(id, opId) :: outer)
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, outer.headOption.fold(0L)(_.id), name, opId,
        Thread.currentThread.getName, t0, t1))
      stack.set(outer)
      outer match {
        case Nil => sc.clearJobGroup()
        case f :: _ => sc.setJobGroup(s"span-${f.id}", "", interruptOnCancel = false)
      }
    }
  }
}

object Tracer {
  private final case class Frame(id: Long, op: Long)
}

/** Spark-side counters of a measured window, from a listener and a
  * query-execution listener the benchmark registers itself. Counts only
  * while `recording`; per-span job and task totals come from the job
  * groups [[Tracer]] sets. */
final class SparkStats extends SparkListener with QueryExecutionListener {

  @volatile var recording = false

  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill = 0L
  var resultBytes, peakExecMem = 0L
  var planMs, queries, aqeUpdates = 0L
  /** (launch, finish) epoch millis of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val spanJobs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val spanTaskMs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val stageSpan = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      jobs += 1
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("span-")).map(_.drop(5).toLong)
        .foreach { sid =>
          spanJobs(sid) = spanJobs(sid) + 1
          e.stageIds.foreach(stageSpan(_) = sid)
        }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (recording) stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (recording) {
      tasks += 1
      if (e.reason != Success) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        resultBytes += m.resultSize
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        stageSpan.get(e.stageId).foreach(sid =>
          spanTaskMs(sid) = spanTaskMs(sid) + m.executorRunTime)
      }
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { if (recording) aqeUpdates += 1 }
    case _ =>
  }

  private val planPhases = Set(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  private def record(qe: QueryExecution): Unit = synchronized {
    if (recording) {
      queries += 1
      planMs += qe.tracker.phases.collect {
        case (k, v) if planPhases(k) => v.durationMs
      }.sum
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
    durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
    exception: Exception): Unit = record(qe)

  /** Milliseconds of [from, to] during which no task was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    var covered = 0L
    var reach = from
    taskIntervals.sortBy(_._1).foreach { case (s0, e0) =>
      val s = math.max(s0, reach)
      val e = math.min(e0, to)
      if (e > s) { covered += e - s; reach = e }
    }
    math.max(0L, (to - from) - covered)
  }
}
