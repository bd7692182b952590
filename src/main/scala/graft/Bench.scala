package graft

import tools.Probe

/** The throughput sweep: every `shared:` memo prime (label order), then
  * every declared key (sorted), each timed once through [[Probe.measure]]
  * after an untimed warm-up. `value` is the sum of the sweep's lines, so
  * it equals `value_raw`. Pollution is detected, not patched: the start
  * gate, the loadavg/calibration telemetry and `hot_vs_history` let a
  * reader tell a polluted run from a slow one.
  *
  * Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_BENCH_DETAIL (the
  * companion file), SPARK_GRAFT_CPUS (via [[GraftSession.harness]]).
  */
object Bench {

  /** First three fields of /proc/loadavg (1/5/15-min run-queue), or
    * NaNs off-Linux — lets a reader machine-detect a load-polluted run
    * (three rounds of recorded benches were dominated by box load). */
  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq(Double.NaN, Double.NaN, Double.NaN) }

  @volatile private var calibSink = 0L

  /** Fixed single-threaded integer work (~tens of ms idle): wall time
    * scales with CPU contention, so calib_ms_pre/post calibrate the
    * box's state independent of any Spark plan. */
  private def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x += (x ^ i) * 2654435761L + i; i += 1 }
    calibSink = x
    (System.nanoTime() - t0) / 1e6
  }

  /** A string as the body of a JSON string literal (quote and
    * backslash escaped), as BENCH_DETAIL writes the `sf` path. */
  private def jsonEsc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"")

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Sum of the lines that did not fail (a failed line reads -1). */
  private def total(lines: Seq[Probe.Record]): Double =
    lines.map(_.seconds).filter(_ >= 0).sum

  /** Per-line history from the PREVIOUS BENCH_DETAIL at the same path
    * (the committed idle sweep): line → seconds, read from its `queries`
    * map only. Empty when the file is absent/unreadable, or was written
    * on another core count or scale factor (a file without `cpus`
    * predates the field and counts as another core count). */
  private[graft] def readHistory(path: String, cpus: Int,
    sfDir: String): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path))
      val sameCpus = "\"cpus\":([0-9]+)".r.findFirstMatchIn(txt)
        .exists(_.group(1).toInt == cpus)
      val sameSf = "\"sf\":\"((?:[^\"\\\\]|\\\\.)*)\"".r.findFirstMatchIn(txt)
        .exists(_.group(1) == jsonEsc(sfDir))
      val queries = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(txt)
      if (!(sameCpus && sameSf)) Map.empty
      else queries.toSeq.flatMap(q =>
        "\"((?:q|shared:)[A-Za-z0-9_]+)\":(-?[0-9]+(?:\\.[0-9]+)?)".r
          .findAllMatchIn(q.group(1))
          .map(m => m.group(1) -> m.group(2).toDouble)).toMap
    } catch { case _: Throwable => Map.empty }

  /** One line's layers, from its [[Probe.Record]]: job, stage and task
    * counts, planning time, shuffle/spill/peak bytes, and the final
    * plans' exchange/sort/broadcast counts and CARTESIAN/BNLJ flags. */
  private def layers(r: Probe.Record): String =
    Seq("jobs" -> r.jobs.size, "stages" -> r.stages.size,
      "tasks" -> r.tasks, "planning_ms" -> r.planningMs,
      "shuffle_read_bytes" -> r.shuffleRead,
      "shuffle_write_bytes" -> r.shuffleWrite,
      "spill_mem_bytes" -> r.memSpill, "spill_disk_bytes" -> r.diskSpill,
      "peak_exec_bytes" -> r.peakExec, "exchanges" -> r.exchanges,
      "sorts" -> r.sorts, "broadcasts" -> r.broadcasts,
      "cartesian" -> r.flags.contains("CARTESIAN"),
      "bnlj" -> r.flags.contains("BNLJ"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** The BENCH_DETAIL text: every line under its full name, with its
    * seconds in `queries` and its layers in `layers`, the lines more
    * than 2.5× and more than 1 s over their history (`hot`), the
    * telemetry fields `tele`, and the total. n_queries counts keys;
    * the shared: lines ride n_shared. */
  private[graft] def detail(sfDir: String, cpus: Int,
    lines: Seq[Probe.Record], hot: Seq[String], tele: String): String = {
    def obj(v: Probe.Record => String): String =
      lines.map(r => "\"" + r.name + "\":" + v(r)).mkString("{", ",", "}")
    val nShared = lines.count(_.name.startsWith("shared:"))
    s"""{"sf":"${jsonEsc(sfDir)}","cpus":$cpus,""" +
      s""""n_queries":${lines.size - nShared},"n_shared":$nShared,""" +
      s""""queries":${obj(r => f3(r.seconds))},"layers":${obj(layers)},""" +
      s""""hot_vs_history":${hot.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""unit":"sec",$tele,"metric":"total",""" +
      s""""value_raw":${f3(total(lines))},"value":${f3(total(lines))}}""" + "\n"
  }

  def main(args: Array[String]): Unit = {
    // Start gate (r12 finding: two rounds shipped the headline artifact
    // from a box at loadavg_pre >= 3): while the 1- or 5-min run queue
    // is above 1.5, sleep in 30 s steps for up to 5 min; if the box
    // never quiets, proceed, and the telemetry says so.
    var loadWaitS = 0
    while (loadWaitS < 300 &&
           loadavg().take(2).exists(l => !l.isNaN && l > 1.5)) {
      Thread.sleep(30000); loadWaitS += 30
    }
    val loadPre = loadavg()
    val calibPre = calibMs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    // GraftSession also pins the UTC session timezone — without it a
    // non-UTC box would plan different timestamp predicate boundaries
    // than the verified runs and benchmark a different workload
    val spark = GraftSession.harness()
    // the harness runs one shuffle partition per core
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // history must be read BEFORE this run overwrites the file
    val history = readHistory(detailPath, cpus, sfDir)
    // Shared memos first, each under its own `shared:` label, so every
    // key line is memo-warm instead of charging a family build to
    // whichever key sweeps first (the r11 attribution finding).
    val lines = Probe.sweep(spark, sfDir,
      SharedMemos.primes(sfDir).map(_._1) ++ SparkEntry.queries.keys.toSeq.sorted)
    val loadPost = loadavg()
    val calibPost = calibMs()
    val hot = lines.collect { case r if r.seconds >= 0 && history.get(r.name)
      .exists(h => h > 0 && r.seconds > 2.5 * h && r.seconds - h > 1.0) => r.name }
    def fl(v: Double): String =
      if (v.isNaN) "null" else "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // idle box ≈ load1 ≪ nproc and calib_ms_pre ≈ calib_ms_post
    val tele = s""""loadavg_wait_s":$loadWaitS,""" +
      s""""loadavg_pre":[${loadPre.map(fl).mkString(",")}],""" +
      s""""loadavg_post":[${loadPost.map(fl).mkString(",")}],""" +
      s""""calib_ms_pre":${fl(calibPre)},"calib_ms_post":${fl(calibPost)},""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory / 1048576}"""
    // written before the inline print so a teardown failure cannot eat it
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      detail(sfDir, cpus, lines, hot, tele))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // The harness that reads this line keeps only a ~3 KB tail of stdout
    // (BENCH_r02/r10 lost clipped lines), so the inline line carries the worst-N slice under
    // short keys, and the telemetry and total sit at its END (BENCH_r08
    // lost the loadavg fields when they led the line). It goes out last,
    // after teardown, in a finally so a teardown failure cannot eat it.
    def shortKey(k: String): String =
      if (k.startsWith("shared:")) k else k.takeWhile(_ != '_')
    val qs = lines.filter(_.seconds >= 0).sortBy(-_.seconds).take(InlineWorstN)
      .map(r => "\"" + shortKey(r.name) + "\":" + f3(r.seconds))
      .mkString("{", ",", "}")
    try {
      graft.operators.TextQueries.clearCaches(spark)
      spark.stop()
    } finally {
      val nShared = lines.count(_.name.startsWith("shared:"))
      println(s"""{"sf":"${jsonEsc(sfDir)}","n_queries":${lines.size - nShared},"n_shared":$nShared,"queries_inline":"worst$InlineWorstN","detail_file":"${jsonEsc(detailPath)}","queries":$qs,"unit":"sec",$tele,"metric":"total","value_raw":${f3(total(lines))},"value":${f3(total(lines))}}""")
      System.out.flush()
    }
  }

  /** How many per-line entries ride the inline JSON (worst-first, both
    * q-keys and shared: lines): 25 short keys ≈ 0.5 KB, leaving the
    * driver's ~3 KB stdout tail ample room for the totals + telemetry
    * that must survive capture; the full map lives in the
    * `detail_file` companion. */
  private val InlineWorstN = 25
}
