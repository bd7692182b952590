package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names — local-iteration
    // filter; the driver always calls with two args = full dump]
    val (sfDir, outDir) = (args(0), args(1))
    // filter(_.nonEmpty): an interpolated-but-unset shell variable as
    // the third arg ("") must mean "full dump", not "match nothing"
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").filter(_.nonEmpty).toSet
      else Set.empty
    // GraftSession pins extensions, UTC, and µs-int64 parquet timestamps
    // (the driver's pyarrow read then has DuckDB's exact timestamp unit)
    val spark = GraftSession.harness()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // fail closed: a query that dies BEFORE its write must not leave
      // a previous run's parquet behind for the driver to hash as if
      // this run produced it
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release the session-keyed hash/pair caches (the documented
    // lifecycle for hosts that cycle sessions — and the usage example)
    graft.operators.TextQueries.clearCaches(spark)
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }
}
