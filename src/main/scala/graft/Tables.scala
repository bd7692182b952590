package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.expr

/** Explicit schemas for the ten driver-generated parquet tables
  * (FIXTURES.md). Pinning the StructType (instead of relying on footer
  * inference) keeps types deterministic across scale factors and lets the
  * vectorized parquet reader prune columns aggressively — at 100 TB the
  * scan is the dominant cost, so every query should load only via
  * [[Tables.load]] and immediately `select` the columns it needs.
  */
object Tables {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val schemas: Map[String, StructType] = Map(
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> st("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  )

  /** Redistribute a scan across the cluster before CPU-heavy per-row work
    * (tokenization, hashing, vector math, join fan-out). A scan whose
    * split count is below the cluster parallelism — one coalesced file,
    * one row group — would otherwise run ALL downstream narrow compute in
    * that same handful of tasks. Hash-partitioning on the table's key is
    * deterministic under retries and costs one shuffle of the raw rows;
    * when the scan already has enough splits (the many-file production
    * case) this returns the input untouched, so pipelines can apply it
    * unconditionally.
    */
  def spread(df: DataFrame, key: String): DataFrame =
    spreadCached(df, key, None)

  /** Per-(session, probe key) cache of the spread decision: the
    * `df.rdd.getNumPartitions` probe instantiates the scan's physical
    * RDD — file listing + a codegen compile — and its result is then
    * DISCARDED (only the returned logical plan survives), so paying it
    * on every load of the same fixture table burned ~100 ms × every
    * documents/embeddings query in a sweep (r14 finding). The split
    * count of a fixture path only changes when the file set changes,
    * which within one session the other caches already assume. */
  private val spreadDecisions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Long, java.lang.Boolean)]()

  private def spreadCached(df: DataFrame, key: String,
    cacheKey: Option[String]): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val enough = cacheKey match {
      case Some(ck) =>
        // same hygiene as loadedFrames (r14 ADVICE): stopped sessions
        // are swept, and the decision carries the fixture mtime so a
        // regenerated fixture with a different split count re-probes
        // instead of keeping the stale spread choice — superseded
        // mtimes are replaced in place, so the map stays bounded by
        // (live sessions × fixture paths)
        spreadDecisions.keySet.removeIf(_._1.sparkContext.isStopped)
        val mt = fixtureMtime(ck)
        spreadDecisions.compute((df.sparkSession, ck), (_, prev) =>
          if (prev != null && prev._1 == mt) prev
          else (mt, Boolean.box(df.rdd.getNumPartitions >= want))
        )._2.booleanValue()
      case None => df.rdd.getNumPartitions >= want
    }
    if (enough) df
    else df.repartition(want, org.apache.spark.sql.functions.col(key))
  }

  /** Primary keys of the tables whose pipelines do heavy per-row compute
    * and therefore load via [[loadSpread]]. */
  private val spreadKeys = Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** [[load]] + [[spread]] for the compute-heavy corpus tables; other
    * tables load unchanged. */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    spreadKeys.get(name)
      .map(spreadCached(df, _, Some(s"$sfDir/$name.parquet")))
      .getOrElse(df)
  }

  /** Register every table as a temp view so `spark.sql("SELECT ...")`
    * works directly against the lake — the analog of the reference's
    * SQL-template entry point (its REST layer interpolates dimensions
    * into SQL and pushes it to the warehouse; here Catalyst is the
    * warehouse). Also registers the custom graft_* expressions. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    schemas.keys.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
  }

  /** The events schema with `ts` as the raw int64, for reading legacy
    * parquet TIMESTAMP(NANOS) files (which Spark 4's reader refuses as a
    * timestamp type). */
  private val eventsNanosSchema: StructType =
    StructType(schemas("events").map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f                   => f
    })

  /** Per-(path, mtime) cache of the events footer probe — one
    * driver-side footer read per distinct fixture state. Keying on the
    * directory's mtime invalidates the decision when a fixture is
    * regenerated within one JVM (a test-harness regen would otherwise
    * keep the stale unit and read the new file wrong). */
  private val eventsTsNanos =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Fixture-state fingerprint for the driver-side caches: the max
    * lastModified across the path AND its direct children. A bare
    * directory mtime misses an in-place file rewrite (the directory
    * inode only changes on add/remove — r14 ADVICE), so a regenerated
    * fixture would silently serve the stale cached frame; taking the
    * max over the data files catches both cases. One flat listFiles —
    * fixture tables are single files or flat part-file directories. */
  private def fixtureMtime(path: String): Long = {
    val f = new java.io.File(path)
    val kids = f.listFiles()
    if (kids == null) f.lastModified()
    else kids.foldLeft(f.lastModified())((m, k) => math.max(m, k.lastModified()))
  }

  /** True when the parquet footer stores `ts` as TIMESTAMP(NANOS). With
    * `nanosAsLong` set, schema inference surfaces a NANOS column as
    * LongType while µs/ms columns infer as a timestamp type — so the
    * inferred type IS the footer's unit, and the read path branches on
    * ground truth instead of assuming what the generator wrote. The
    * inference runs on the isolated [[nanosSession]], which carries
    * `nanosAsLong`, so the caller's session conf is never written and a
    * thread planning on it concurrently cannot see a flipped value. */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    val key = path + "@" + fixtureMtime(path)
    eventsTsNanos.computeIfAbsent(key, _ =>
      Boolean.box(nanosSession(spark).read.parquet(path).schema
        .find(_.name == "ts").exists(_.dataType == LongType)))
  }

  /** Per-(session, path, mtime) cache of the loaded frame: each
    * `spark.read.parquet` call builds a fresh InMemoryFileIndex
    * (directory listing + footer handling, ~13 ms measured) and a
    * sweep issues ~1000 loads of the same ten fixture paths — pure
    * driver fixed cost. The logical plan is immutable, so sharing one
    * frame across consumers is safe; the mtime key invalidates on
    * in-JVM fixture regeneration (the eventsTsNanos convention). The
    * legacy-NANOS events branch is deliberately NOT cached — its
    * child-session conf mirror must run per load (TablesSpec contract). */
  private val loadedFrames =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Long, DataFrame)]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Every pipeline entry point loads through here — registering the
    // graft_* expressions once per call keeps them available to any query
    // without per-operator boilerplate (createOrReplaceTempFunction is
    // idempotent and cheap).
    graft.functions.GraftFunctions.register(spark)
    val path = s"$sfDir/$name.parquet"
    if (name == "events" && tsIsNanos(spark, path)) {
      // Legacy TIMESTAMP(NANOS) fixture: read nanos as long and `div` to
      // µs — truncation toward zero, which is exactly DuckDB's ns→µs
      // conversion (verified: DuckDB maps -1500 ns → -1 µs, not floor's
      // -2), so values compare equal even for pre-epoch timestamps.
      // The scan is planned against the isolated nanos child session so
      // the SHARED session's conf is never mutated — the parquet reader
      // re-reads `nanosAsLong` from its owning session at execution
      // time, so a plain set-here/restore-after would break the read.
      nanosSession(spark).read.schema(eventsNanosSchema).parquet(path)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    } else {
      // bound the map by LIVE sessions (the nanosSessions hygiene rule);
      // the mtime rides the VALUE (not the key) so a regenerated
      // fixture replaces its superseded entry in place instead of
      // accumulating one entry per regeneration (r14 ADVICE)
      loadedFrames.keySet.removeIf(_._1.sparkContext.isStopped)
      val mt = fixtureMtime(path)
      loadedFrames.compute((spark, path), (_, prev) =>
        if (prev != null && prev._1 == mt) prev
        else (mt, spark.read.schema(schemas(name)).parquet(path)))._2
    }
  }

  /** One isolated child session per host session, memoized: shares the
    * SparkContext and cached data but owns its SQL conf, so setting
    * `nanosAsLong` here is invisible to the host (the conf-hygiene
    * contract TablesSpec pins). The graft_* expressions are registered
    * on the child too — function registries are per-session, and the
    * frames built here resolve later expressions against their owning
    * session. */
  private val nanosSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  private def nanosSession(spark: SparkSession): SparkSession = {
    // hygiene for a long-lived JVM hosting many sessions: entries whose
    // SparkContext has stopped can never be used again — drop them so
    // the map is bounded by the LIVE session count, not session churn
    nanosSessions.keySet.removeIf(h => h.sparkContext.isStopped)
    val child = nanosSessions.computeIfAbsent(spark, { host =>
      val ns = host.newSession()
      graft.functions.GraftFunctions.register(ns)
      ns
    })
    // re-mirror the host's runtime SQL conf on EVERY use, not just at
    // creation — a host-side change after the child was memoized (e.g.
    // spark.sql.session.timeZone) must reach the child, or the events
    // frames planned here would silently diverge from the host's other
    // scans. getAll is a driver-side map copy; this path only runs for
    // legacy-NANOS events fixtures, so the cost is per-load, tiny.
    spark.conf.getAll.foreach { case (k, v) =>
      try if (child.conf.getOption(k) != Some(v)) child.conf.set(k, v)
      catch { case _: Exception => () }
    }
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    child
  }
}
