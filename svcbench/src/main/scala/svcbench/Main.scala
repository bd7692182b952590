package svcbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.GraftSession

/** One measured op as the record keeps it. `t` is its start and `lat`
  * its latency in seconds, with the heap sample's pause removed. */
final case class OpRec(i: Long, client: Int, kind: String, t: Double,
  lat: Double, ok: Boolean, err: String, traced: Boolean, rowsIn: Long,
  check: Map[String, Any])

/** Runs one workload in one JVM and writes the run record.
  *
  * Usage: `svcbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <data dir> <out dir> <cores>`
  *
  * Set-up (session, table registration, serial warm-up)
  * is timed from JVM start; writing derived inputs that do not exist
  * yet is not. The measured window then runs the workload's closed-loop
  * clients for `seconds`, then on until it holds the workload's minimum
  * number of ops, rounded up to whole blocks. With tracing on,
  * even-numbered ops are traced and odd ones are not, so the record
  * carries the tracing overhead of the same window. */
object Main {

  private val pauseNs = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  private val heapMb = new ConcurrentLinkedQueue[Double]()
  private val storageBytes = new ConcurrentLinkedQueue[Long]()
  private val explicitGcMs = new AtomicLong(0)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Live heap after a full GC, in MB, and the block-manager storage in
    * use; the pause is charged to no op. */
  private def sampleHeap(sc: org.apache.spark.SparkContext): Unit = {
    val t0 = System.nanoTime()
    storageBytes.add(sc.getExecutorMemoryStatus.values.map {
      case (max, free) => max - free }.sum)
    // listeners still holding finished queries' plans release them once
    // their events are processed
    org.apache.spark.svcbench.Bus.drain(sc)
    val g0 = gcMs
    // collect until the heap stops shrinking: each collection lets
    // Spark's cleaner release more (broadcasts and shuffle state of
    // dropped plans), which only the next collection frees
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var last = Long.MaxValue
    var now = { System.gc(); used }
    var n = 1
    while (n < 6 && last - now > (1L << 20)) {
      Thread.sleep(200)
      last = now
      now = { System.gc(); used }
      n += 1
    }
    heapMb.add(now / 1048576.0)
    explicitGcMs.addAndGet(gcMs - g0)
    pauseNs.set(pauseNs.get + System.nanoTime() - t0)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, data, out, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val work = s"$out/work"
    new File(work).mkdirs()

    val t0 = System.nanoTime()
    val spark = GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val stats = new SparkStats
    if (trace) {
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
    }
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, data, work, seed, tracer,
      () => tracer.span("bench.heap_sample")(sampleHeap(spark.sparkContext)))
    val w = Workloads(name, ctx)

    def runOp(i: Long, client: Int, traced: Boolean, origin: Long): OpRec = {
      pauseNs.set(0L)
      val s = System.nanoTime()
      val res = Try(tracer.op(w.unit, i, traced)(w.op(i)))
      val lat = (System.nanoTime() - s - pauseNs.get) / 1e9
      val t = (s - origin) / 1e9
      res match {
        case Success(o) => OpRec(i, client, o.kind, t, lat, ok = true, null,
          traced, o.rowsIn, o.check)
        case Failure(e) => OpRec(i, client, "error", t, lat, ok = false,
          e.toString.take(500), traced, 0L, Map.empty)
      }
    }

    val p0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setupPhases = w.setup()
    val w0 = System.nanoTime()
    val warm = (1 to w.warmupOps).map(j => runOp(-j.toLong, 0, traced = false, w0))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - prepareS
    heapMb.clear()
    storageBytes.clear()

    // measured window
    System.gc()
    org.apache.spark.svcbench.Bus.drain(spark.sparkContext)
    stats.recording = trace
    val next = new AtomicLong(0)
    val ops = new ConcurrentLinkedQueue[OpRec]()
    val gc0 = gcMs
    explicitGcMs.set(0)
    val winStartMs = System.currentTimeMillis()
    val ws = System.nanoTime()
    val deadline = ws + (seconds * 1e9).toLong
    // the first op index taken after the deadline fixes the end of the
    // window: at least `minOps` (two when tracing, so that one op is
    // traced and one is not), rounded up to a whole block
    val minOps = if (trace) math.max(w.minOps, 2) else w.minOps
    val stopAt = new AtomicLong(Long.MaxValue)
    def take(): Long = {
      val i = next.getAndIncrement()
      if (System.nanoTime() >= deadline) {
        val end = math.max(i, minOps.toLong)
        stopAt.compareAndSet(Long.MaxValue, (end + w.block - 1) / w.block * w.block)
      }
      i
    }
    val threads = (0 until w.clients).map { cl =>
      val th = new Thread(() => {
        var i = take()
        while (i < stopAt.get) {
          ops.add(runOp(i, cl, traced = trace && i % 2 == 0, ws))
          i = take()
        }
      }, s"client-$cl")
      th.start()
      th
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - ws) / 1e9
    val winEndMs = System.currentTimeMillis()
    val gcS = (gcMs - gc0 - explicitGcMs.get) / 1000.0
    org.apache.spark.svcbench.Bus.drain(spark.sparkContext)
    stats.recording = false
    if (w.clients > 1) sampleHeap(spark.sparkContext)

    val opList = ops.asScala.toSeq.sortBy(_.i)
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "unit" -> w.unit, "clients" -> w.clients,
      "endpoints" -> ServiceMix.endpoints,
      "telemetry" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_cpus" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled")),
      "setup" -> (setupPhases ++ Map(
        "jvm_to_main_s" -> (mainMs - jvmStartMs) / 1000.0,
        "session_s" -> sessionS, "warmup_s" -> warmupS,
        "prepare_s" -> prepareS,
        "warmup_ops" -> w.warmupOps, "total_s" -> setupS)),
      "facts" -> w.facts,
      "warmup" -> warm.map(opMap),
      "ops" -> opList.map(opMap),
      "window" -> Map("wall_s" -> wallS, "gc_s" -> gcS,
        "heap_samples_mb" -> heapMb.asScala.toSeq,
        "storage_samples_bytes" -> storageBytes.asScala.toSeq),
      "spark" -> (if (trace) sparkMap(stats, winStartMs, winEndMs, cores)
        else Map.empty),
      "layers" -> (if (trace) layers(tracer, stats) else Map.empty))
    write(s"$out/record.json", Json.encode(record))
    if (trace) write(s"$out/spans.jsonl", tracer.spans.asScala.toSeq
      .sortBy(_.start).map(s => Json.encode(Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "thread" -> s.thread, "start_s" -> (s.start - ws) / 1e9,
        "end_s" -> (s.end - ws) / 1e9))).mkString("", "\n", "\n"))
    spark.stop()
  }

  private def opMap(o: OpRec): Map[String, Any] = Map("i" -> o.i,
    "client" -> o.client, "kind" -> o.kind, "t" -> o.t, "lat" -> o.lat,
    "ok" -> o.ok, "err" -> o.err, "traced" -> o.traced, "rows_in" -> o.rowsIn,
    "check" -> o.check)

  private def sparkMap(s: SparkStats, from: Long, to: Long, cores: Int)
  : Map[String, Any] = s.synchronized {
    Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "failed_tasks" -> s.failedTasks, "task_run_s" -> s.taskRunMs / 1000.0,
      "task_cpu_s" -> s.taskCpuNs / 1e9,
      "shuffle_read_bytes" -> s.shuffleRead,
      "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
      "result_bytes" -> s.resultBytes, "peak_exec_mem_bytes" -> s.peakExecMem,
      "plan_s" -> s.planMs / 1000.0, "queries" -> s.queries,
      "aqe_replans" -> s.aqeUpdates,
      "driver_only_s" -> s.idleMs(from, to) / 1000.0,
      "window_s" -> (to - from) / 1000.0, "cores" -> cores)
  }

  /** Per span name over the traced ops: calls, total and self seconds,
    * and the Spark jobs and task seconds tagged with that span. */
  private def layers(t: Tracer, s: SparkStats): Map[String, Any] = {
    val spans = t.spans.asScala.toSeq
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(x => x.end - x.start).sum).toMap
    s.synchronized {
      spans.groupBy(_.name).map { case (n, ss) =>
        n -> Map(
          "calls" -> ss.size,
          "ops" -> ss.map(_.op).distinct.size,
          "total_s" -> ss.map(x => x.end - x.start).sum / 1e9,
          "self_s" -> ss.map(x => x.end - x.start - childNs.getOrElse(x.id, 0L))
            .sum / 1e9,
          "jobs" -> ss.map(x => s.spanJobs(x.id)).sum,
          "task_s" -> ss.map(x => s.spanTaskMs(x.id)).sum / 1000.0)
      }
    }
  }

  private def write(path: String, text: String): Unit = {
    val pw = new PrintWriter(path, "UTF-8")
    try pw.write(text) finally pw.close()
  }
}
