package graft

import org.apache.spark.sql.SparkSession

/** One-call session setup for library users: a `SparkSession.Builder`
  * preloaded with the configuration every operator in this library
  * assumes, so `GraftSession.builder().master(...).getOrCreate()` is a
  * working starting point on a laptop or a cluster.
  *
  * What it pins and why:
  *  - `spark.sql.extensions = graft.plans.GraftExtensions` — registers
  *    the codegen text/vector expressions and the TopKPerGroup strategy
  *    (every operator degrades to a runtime fallback without it, but
  *    the extension path is the planned one).
  *  - UTC session timezone + µs-int64 parquet timestamps — the [D4]
  *    portability convention; results hash identically across engines.
  *  - AQE with skew-join handling on — at 100 TB the runtime re-plan
  *    (broadcast-when-small, skew split) is load-bearing, and the
  *    library's join shapes are written assuming it.
  *
  * What it deliberately does NOT set: `master`, memory sizing, and
  * `spark.sql.shuffle.partitions` — those are deployment decisions
  * ([[harness]] pins partitions = cores; a cluster should size them
  * to data volume or let AQE coalesce).
  */
object GraftSession {

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")

  /** A ready local session for exploration/tests: `local[cores]` with
    * shuffle partitions = cores. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors())
  : SparkSession = {
    require(cores > 0, "cores must be positive")
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The session of every harness main (Bench, Verify, the tools):
    * [[local]] on `SPARK_GRAFT_CPUS` cores, or on every core of the
    * machine when the variable is unset, logging at WARN. */
  def harness(): SparkSession = {
    val s = local(sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
