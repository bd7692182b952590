package graft.tools

import graft.{GraftSession, SharedMemos, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The profiling tool: runs declared query keys (a `count()`, as
  * graft.Bench times them) or `shared:` memo primes on the harness
  * session and reports, per name, what it cost layer by layer — wall
  * time, planning time, jobs, stages, tasks, shuffle bytes, spill, peak
  * execution memory, and the shape of each action's final (post-AQE)
  * plan — with one line per job (duration, first graft call site) and
  * one per stage (tasks, spill, peak memory, shuffle).
  *
  * `runMain graft.tools.Probe <sfDir> <key|shared:label>..`
  */
object Probe {

  final case class Job(id: Int, seconds: Double, site: String)

  final case class Stage(id: Int, site: String, tasks: Int, memSpill: Long,
    diskSpill: Long, peakExec: Long, shuffleRead: Long, shuffleWrite: Long)

  /** Node counts of one action's executed plan. */
  final case class Shape(exchanges: Int, sorts: Int, broadcasts: Int,
    cartesian: Boolean, bnlj: Boolean)

  /** One measured name; `seconds` is -1 when it failed (`error`). */
  final case class Record(name: String, seconds: Double,
    error: Option[String], planningMs: Long, jobs: Seq[Job],
    stages: Seq[Stage], shapes: Seq[Shape]) {
    def tasks: Int = stages.map(_.tasks).sum
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def memSpill: Long = stages.map(_.memSpill).sum
    def diskSpill: Long = stages.map(_.diskSpill).sum
    def peakExec: Long = stages.map(_.peakExec).maxOption.getOrElse(0L)
    def exchanges: Int = shapes.map(_.exchanges).sum
    def sorts: Int = shapes.map(_.sorts).sum
    def broadcasts: Int = shapes.map(_.broadcasts).sum
    def flags: Seq[String] =
      Seq("CARTESIAN" -> shapes.exists(_.cartesian),
        "BNLJ" -> shapes.exists(_.bnlj)).collect { case (f, true) => f }

    def lines: Seq[String] = {
      def mb(v: Long): String = f"${v / 1048576.0}%.1f"
      jobs.map(j => f"[job] ${j.id}%4d ${j.seconds}%7.2f s  ${j.site}") ++
        stages.map(s => f"[stage] ${s.id}%4d tasks=${s.tasks}%3d " +
          f"spillMem=${mb(s.memSpill)}%8s MB spillDisk=${mb(s.diskSpill)}%8s MB " +
          f"peakExec=${mb(s.peakExec)}%8s MB shufR=${mb(s.shuffleRead)}%8s MB " +
          f"shufW=${mb(s.shuffleWrite)}%8s MB  ${s.site}") ++
        error.map(e => s"[probe] $name failed: $e") :+
        (f"[probe] $name%-28s $seconds%.2f s planning=$planningMs ms " +
          s"jobs=${jobs.size} stages=${stages.size} tasks=$tasks " +
          s"shufR=${mb(shuffleRead)} MB shufW=${mb(shuffleWrite)} MB " +
          s"spillMem=${mb(memSpill)} MB spillDisk=${mb(diskSpill)} MB " +
          s"peakExec=${mb(peakExec)} MB actions=${shapes.size} " +
          s"exchange=$exchanges sort=$sorts bcastExchange=$broadcasts" +
          flags.map(" " + _).mkString)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = GraftSession.harness()
    sweep(spark, dir, args.tail.toSeq).foreach(_.lines.foreach(println))
    graft.operators.TextQueries.clearCaches(spark)
    spark.stop()
  }

  /** The one timing loop (Probe, graft.Bench, ScaleBench): an untimed q20
    * run (JIT, codegen and parquet footers, so the first measured name
    * does not pay them), then each name once through [[measure]], in
    * order. */
  def sweep(spark: SparkSession, dir: String, names: Seq[String]): Seq[Record] = {
    try SparkEntry.queries("q20_agg_pricing")(spark, dir).count()
    catch { case _: Throwable => }
    names.map(measure(spark, dir, _))
  }

  /** Runs `name` once with a listener scoped to it. Counters are read
    * after the listener bus has delivered every event of the run. Any
    * Throwable, fatal ones included, makes the name read -1 with its
    * message, so one line that overflows the stack or the heap cannot
    * end a sweep without its total. */
  def measure(spark: SparkSession, dir: String, name: String): Record = {
    val rec = new Recorder
    DatasetBridge.drainListenerBus(spark) // earlier events stay unseen
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val t0 = System.nanoTime()
    val error =
      try {
        if (name.startsWith("shared:"))
          SharedMemos.primes(dir).toMap.apply(name)(spark)
        else SparkEntry.queries(name)(spark, dir).count()
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    try DatasetBridge.drainListenerBus(spark)
    finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
    rec.record(name, if (error.isEmpty) seconds else -1.0, error)
  }

  /** First graft frame of a call site, past this package. */
  private def graftFrame(callSite: String): Option[String] =
    callSite.split("\n")
      .find(l => l.contains("graft.") && !l.contains("graft.tools."))

  private def shape(plan: SparkPlan): Shape = {
    var ex, so, bc = 0
    var cart, bnlj = false
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bc += 1
        case _: SortExec => so += 1
        case _: CartesianProductExec => cart = true
        case _: BroadcastNestedLoopJoinExec => bnlj = true
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => p.children.foreach(walk); p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    Shape(ex, so, bc, cart, bnlj)
  }

  private final class Recorder extends SparkListener
    with QueryExecutionListener {
    private val jobStarts = mutable.Map.empty[Int, (Long, String)]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val stages = mutable.Map.empty[Int, Stage]
    private val shapes = mutable.ArrayBuffer.empty[Shape]
    private var planningMs = 0L
    private val executions =
      mutable.Map.empty[Long, SparkListenerSQLExecutionStart]

    /** A SQL job's stages may be submitted from AQE's own threads, so
      * the call site its SQL execution started with comes first. */
    private def site(info: StageInfo, props: java.util.Properties): String = {
      val exec = Option(props)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong))
      exec.flatMap(x => graftFrame(x.details))
        .orElse(graftFrame(info.details))
        .orElse(exec.map(_.description)).getOrElse(info.name)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { executions(x.executionId) = x }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) =
        (e.time, e.stageInfos.headOption.map(site(_, e.properties))
          .getOrElse("?"))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, s) =>
        jobs += Job(e.jobId, (e.time - t0) / 1e3, s)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val i = e.stageInfo
        stages(i.stageId) =
          Stage(i.stageId, site(i, e.properties), 0, 0, 0, 0, 0, 0)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { s =>
        stages(e.stageId) = s.copy(tasks = s.tasks + 1,
          memSpill = s.memSpill + m.memoryBytesSpilled,
          diskSpill = s.diskSpill + m.diskBytesSpilled,
          peakExec = math.max(s.peakExec, m.peakExecutionMemory),
          shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten)
      }
    }

    private def action(qe: QueryExecution): Unit = synchronized {
      planningMs += qe.tracker.phases.collect {
        case (k, v) if PlanningPhases(k) => v.durationMs
      }.sum
      shapes += shape(qe.executedPlan)
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      action(qe)

    override def onFailure(f: String, qe: QueryExecution,
      e: Exception): Unit = action(qe)

    def record(name: String, seconds: Double,
      error: Option[String]): Record = synchronized {
      Record(name, seconds, error, planningMs, jobs.sortBy(_.id).toSeq,
        stages.values.filter(_.tasks > 0).toSeq.sortBy(_.id), shapes.toSeq)
    }
  }

  private val PlanningPhases = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    Set(ANALYSIS, OPTIMIZATION, PLANNING)
  }
}
