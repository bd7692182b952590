package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dev tool: write each named query's `.explain("formatted")` output to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan evidence files
  * the optimization rounds commit under plans/r<N>/.
  *
  * `runMain graft.tools.PlanDump <sfDir> <outDir> <tag> q.. q..`
  * (no query names = all declared queries). Uses the bench session
  * config so the captured plan is the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val s = graft.GraftSession.harness()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(s, dir)
        // queryExecution.explainString gives exactly what
        // .explain("formatted") prints, without stdout capture
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
        println(s"[plandump] wrote ${n}_$tag.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    s.stop()
  }
}
