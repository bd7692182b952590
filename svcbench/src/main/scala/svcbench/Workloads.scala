package svcbench

import java.io.File
import java.sql.Timestamp

import scala.util.Random

import graft.{Caches, Tables}
import graft.api.{DedupOps, EtlService, PqOps, TextOps}
import graft.sources.LakeWriter
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one op (a request or a round) hands back to the runner: its
  * kind, the input rows it consumed, and the values the checker needs. */
final case class OpOut(kind: String, rowsIn: Long, check: Map[String, Any])

/** Shared state of a run. `table` is the service's table lookup, traced
  * as the `Tables.load` layer. `heapSample` takes the live heap after a
  * full GC; the runner removes its time from the op's latency. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
  val seed: Long, val tracer: Tracer, val heapSample: () => Unit) {

  def table(name: String): DataFrame =
    tracer.span("Tables.load")(Tables.load(spark, data, name))

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A generator for one purpose: the same (seed, salt) always draws
    * the same values. */
  def rng(salt: Long): Random = new Random(seed * 1000003L + salt)
}

trait Workload {
  /** Closed-loop clients sharing the session. */
  def clients: Int
  /** Serial ops run before the measured window, charged to set-up. */
  def warmupOps: Int
  /** The measured window ends on a multiple of this many ops. */
  def block: Int = 1
  /** The measured window holds at least this many ops. */
  def minOps: Int
  /** Root span name of an op. */
  def unit: String
  /** Write derived inputs that do not exist yet; not part of set-up. */
  def prepare(): Unit = ()
  /** Register tables and draw parameters; returns named set-up phases (s). */
  def setup(): Map[String, Double]
  def op(i: Long): OpOut
  /** Constants the checker needs (parameters, input sizes). */
  def facts: Map[String, Any] = Map.empty

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "service_mix" => new ServiceMix(c)
    case "lake_etl" => new LakeEtl(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def dirBytes(f: File): (Long, Long) =
    if (f.isFile) (f.length, if (f.getName.startsWith("part-")) 1L else 0L)
    else Option(f.listFiles).getOrElse(Array.empty[File]).map(dirBytes)
      .foldLeft((0L, 0L)) { case ((b, n), (b1, n1)) => (b + b1, n + n1) }
}

object ServiceMix {
  val endpoints = Vector("revenueByOrderDate", "nationSummary",
    "topCustomers", "eventActivity", "supplierRevenue", "partTypeShare",
    "returnedItems", "marketShare", "searchDocuments")
}

/** The nine read endpoints of [[EtlService]], called by two closed-loop
  * clients that share one session. The call stream is seeded and comes
  * in blocks of nine: every block calls each endpoint once, in a seeded
  * order, with seeded parameters drawn from the fixture's real domains. */
final class ServiceMix(c: Ctx) extends Workload {
  val clients = 2
  val warmupOps = 9
  override val block = 9
  val minOps = 27
  val unit = "request"

  import ServiceMix.endpoints

  private val svc = new EtlService(c.spark)
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val eventTypes = Vector("click", "error", "purchase", "signup", "view")
  private var vocab = Vector.empty[String]
  private var probeIds, nEmbeddings = 0L

  override def facts: Map[String, Any] = Map("embeddings" -> nEmbeddings)

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    // the service registers its tables serially at start
    Tables.schemas.keys.toSeq.sorted.foreach(c.table)
    val docs = c.table("documents")
    // query terms come from 20 seeded documents
    vocab = docs.orderBy(xxhash64(col("doc_id"), lit(c.seed))).limit(20)
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .orderBy("w").limit(200).collect().map(_.getString(0)).toVector
    nEmbeddings = c.table("embeddings").count()
    probeIds = math.min(docs.count(), nEmbeddings)
    Map("register_s" -> secs(t0))
  }

  private def month(y0: Int, idx: Int): String =
    f"${y0 + idx / 12}%04d-${idx % 12 + 1}%02d-01 00:00:00"

  /** A window of 1..12 whole months inside a domain of `n` months. */
  private def months(r: Random, y0: Int, n: Int): (String, String) = {
    val s = r.nextInt(n - 1)
    (month(y0, s), month(y0, math.min(s + 1 + r.nextInt(12), n)))
  }

  /** The `i`-th call of the stream (negative `i`: the warm-up stream).
    * An endpoint's optional filter is set in every other block, so any
    * two consecutive blocks call it once with and once without. */
  def call(i: Long): (String, Map[String, Any]) = {
    val block = Math.floorDiv(i, 9L)
    val order = c.rng(0x5e55L * 7919L + block).shuffle(endpoints)
    val ep = order(Math.floorMod(i, 9L).toInt)
    val r = c.rng(0x9a7aL * 104729L + i)
    val filtered = Math.floorMod(block + endpoints.indexOf(ep), 2L) == 0
    def opt[T](v: => T): Option[T] = if (filtered) Some(v) else None
    val p: Map[String, Any] = ep match {
      case "revenueByOrderDate" =>
        val (f, u) = months(r, 1995, 80)
        Map("from" -> f, "until" -> u,
          "segment" -> opt(segments(r.nextInt(5))))
      case "nationSummary" =>
        Map("region" -> opt(regions(r.nextInt(5))))
      case "topCustomers" =>
        val (f, u) = months(r, 1995, 80)
        Map("from" -> f, "until" -> u, "k" -> Seq(10, 20, 50)(r.nextInt(3)))
      case "eventActivity" =>
        val d = 1 + r.nextInt(28)
        Map("from" -> f"2024-01-$d%02d 00:00:00",
          "until" -> f"2024-01-${d + 1 + r.nextInt(3)}%02d 00:00:00",
          "event_type" -> opt(eventTypes(r.nextInt(5))))
      case "supplierRevenue" =>
        val (f, u) = months(r, 1995, 83)
        Map("from" -> f, "until" -> u,
          "nation" -> opt(s"NATION_${r.nextInt(25)}"))
      case "partTypeShare" =>
        val (f, u) = months(r, 1995, 83)
        Map("from" -> f, "until" -> u,
          "brand" -> opt(s"Brand#${1 + r.nextInt(5)}"))
      case "returnedItems" =>
        val (f, u) = months(r, 1995, 80)
        Map("from" -> f, "until" -> u, "k" -> Seq(10, 20, 50)(r.nextInt(3)))
      case "marketShare" =>
        val (f, u) = months(r, 1995, 80)
        Map("from" -> f, "until" -> u)
      case "searchDocuments" =>
        val terms = r.shuffle(vocab).take(2 + r.nextInt(2))
        Map("terms" -> terms, "probe_id" -> (r.nextDouble() * probeIds).toLong,
          "k" -> Seq(10, 20)(r.nextInt(2)))
    }
    (ep, p)
  }

  private def build(ep: String, p: Map[String, Any]): DataFrame = {
    def ts(k: String) = Timestamp.valueOf(p(k).asInstanceOf[String])
    def str(k: String) = p(k).asInstanceOf[Option[String]]
    def int(k: String) = p(k).asInstanceOf[Int]
    val t = c.table _
    ep match {
      case "revenueByOrderDate" =>
        svc.revenueByOrderDate(t("orders"), t("lineitem"), ts("from"),
          ts("until"), str("segment"), str("segment").map(_ => t("customer")))
      case "nationSummary" =>
        svc.nationSummary(t("customer"), t("nation"), t("region"), str("region"))
      case "topCustomers" =>
        svc.topCustomers(t("orders"), t("customer"), ts("from"), ts("until"),
          int("k"))
      case "eventActivity" =>
        svc.eventActivity(t("events"), ts("from"), ts("until"),
          str("event_type"))
      case "supplierRevenue" =>
        svc.supplierRevenue(t("lineitem"), t("supplier"), t("nation"),
          ts("from"), ts("until"), str("nation"))
      case "partTypeShare" =>
        svc.partTypeShare(t("lineitem"), t("part"), ts("from"), ts("until"),
          str("brand"))
      case "returnedItems" =>
        svc.returnedItems(t("lineitem"), t("orders"), t("customer"),
          t("nation"), ts("from"), ts("until"), int("k"))
      case "marketShare" =>
        svc.marketShare(t("lineitem"), t("orders"), t("customer"),
          t("nation"), t("region"), t("part"), ts("from"), ts("until"))
      case "searchDocuments" =>
        svc.searchDocuments(t("documents"), t("embeddings"),
          p("terms").asInstanceOf[Seq[String]],
          p("probe_id").asInstanceOf[Long], k = int("k"))
    }
  }

  def op(i: Long): OpOut = {
    val (ep, p) = call(i)
    val df = c.span(s"EtlService.$ep")(build(ep, p))
    val rs = c.span("spark.collect")(df.collect())
    OpOut(ep, 0L, Map("endpoint" -> ep, "params" -> p,
      "columns" -> df.columns.toSeq, "rows" -> rs.toSeq.map(_.toSeq)))
  }
}

/** The reference's COPY → transform → UNLOAD core, one round at a time:
  * COPY the staged CSV lineitem and JSON orders into the lake, apply a
  * seeded CDC changeset to customer, build the SCD-2 history of events,
  * join and UNLOAD by year, read one year back, audit integrity. The
  * round then curates the documents ([[Curation]]) and refreshes the
  * models from the copied tables ([[ModelRefresh]]), so that the text,
  * dedup, graph, ML and vector layers are measured with the lake's, one
  * after another, each on the round's critical path. */
final class LakeEtl(c: Ctx) extends Workload {
  val clients = 1
  val warmupOps = 1
  val minOps = 1
  val unit = "round"

  private val svc = new EtlService(c.spark)
  private val stage = s"${c.data}/stage"
  private val lake = s"${c.work}/lake"
  private val curation = new Curation(c, s"$lake/documents")
  private val models = new ModelRefresh(c)
  private var updates, deletes, inserts = Seq.empty[Long]
  private var readYear = 0
  private var inputRows = 0L
  private var inputBytes = 0L

  /** The staged CSV lineitem and JSON orders the rounds COPY. They are
    * inputs, derived from the fixture alone, so they are written once
    * per fixture directory and outside set-up time. */
  override def prepare(): Unit =
    if (!new File(s"$stage/_READY").exists()) {
      LakeWriter.unloadCsv(c.table("lineitem"), s"$stage/lineitem")
      LakeWriter.unloadJson(c.table("orders"), s"$stage/orders")
      new File(s"$stage/_READY").createNewFile()
    }

  override def facts: Map[String, Any] = Map("updates" -> updates.size,
    "inserts" -> inserts.size, "deletes" -> deletes.size, "year" -> readYear,
    "input_rows" -> inputRows, "input_bytes" -> inputBytes) ++
    curation.facts ++ models.facts

  def setup(): Map[String, Double] = {
    val r = c.rng(0x1a4eL)
    val nCust = c.table("customer").count()
    val picked = r.shuffle((0L until nCust).toVector).take((nCust / 15).toInt)
    updates = picked.take(picked.size * 5 / 8)
    deletes = picked.drop(updates.size).take(picked.size / 8)
    inserts = (0 until picked.size / 4).map(j => nCust + 1000L * r.nextInt(50) + j)
    readYear = 1995 + r.nextInt(7)
    val tables = Seq("lineitem", "orders", "customer", "events", "part",
      "supplier", "documents", "embeddings")
    inputRows = tables.map(c.table(_).count()).sum + updates.size +
      inserts.size + deletes.size
    inputBytes = (Seq(s"$stage/lineitem", s"$stage/orders") ++
      tables.drop(2).map(n => s"${c.data}/$n.parquet"))
      .map(p => Workloads.dirBytes(new File(p))._1).sum
    curation.setup()
    models.setup()
    Map.empty
  }

  private def changes: DataFrame = {
    import c.spark.implicits._
    val up = (updates ++ inserts).map(k => (k, "U", s"Customer#cdc$k", k % 997 + 0.5))
    val del = deletes.map(k => (k, "D", "", 0.0))
    (up ++ del).toDF("c_custkey", "op", "c_name", "c_acctbal")
  }

  /** COPY: parse the staged text into the lake's parquet table; returns
    * the table and its row count. */
  private def copy(name: String, format: String): (DataFrame, Long) =
    c.span("LakeWriter.copy") {
      val df = svc.load(s"${name}_staged", s"$stage/$name",
        Tables.schemas(name), format)
      svc.export(df, s"$lake/$name")
      val t = svc.load(name, s"$lake/$name", Tables.schemas(name))
      (t, t.count())
    }

  private def readBack(path: String, aggs: Column*): Row =
    c.spark.read.parquet(path).agg(aggs.head, aggs.tail: _*).head()

  def op(i: Long): OpOut = {
    val (li, nLi) = copy("lineitem", "csv")
    val (ord, nOrd) = copy("orders", "json")
    val merged = c.span("EtlService.applyChanges") {
      val base = c.table("customer").select("c_custkey", "c_name", "c_acctbal")
      svc.export(svc.applyChanges(base, changes, "c_custkey",
        Seq("c_name", "c_acctbal")), s"$lake/customer")
      readBack(s"$lake/customer", count(lit(1)), sum(col("changed")))
    }
    val scd = c.span("EtlService.scdHistory") {
      svc.export(svc.scdHistory(c.table("events"), "user_id", "ts",
        "event_id", Seq("event_type", "value")), s"$lake/user_scd")
      readBack(s"$lake/user_scd", count(lit(1)), sum(col("is_current")))
    }
    c.span("LakeWriter.unload") {
      LakeWriter.unloadPartitioned(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("o_custkey"), col("o_orderdate"),
            year(col("o_orderdate")).as("yr")),
        s"$lake/sales", Seq("yr"))
    }
    val (sales, back) = c.span("LakeWriter.readback") {
      val df = c.spark.read.parquet(s"$lake/sales")
      (df.count(), df.filter(col("yr") === readYear).count())
    }
    val audit = c.span("EtlService.integrityAudit") {
      svc.integrityAudit(ord, li, c.table("customer"), c.table("part"),
        c.table("supplier")).collect()
    }
    val curated = curation.run()
    val refreshed = models.run(li, ord)
    c.heapSample()
    c.span("Caches.clear")(Caches.clear(c.spark))
    val (bytes, files) = Workloads.dirBytes(new File(lake))
    OpOut("round", inputRows, Map(
      "copy_rows" -> Map("lineitem" -> nLi, "orders" -> nOrd),
      "merge_rows" -> merged.getLong(0), "merge_changed" -> merged.getLong(1),
      "scd_rows" -> scd.getLong(0), "scd_current" -> scd.getLong(1),
      "sales_rows" -> sales, "readback_rows" -> back,
      "audit" -> audit.map(r => r.getString(0) -> r.getLong(1)).toMap,
      "bytes_read" -> inputBytes, "bytes_written" -> bytes,
      "files_written" -> files,
      "rows_written" -> (nLi + nOrd + merged.getLong(0) + scd.getLong(0) +
        sales + curated("clean").asInstanceOf[Long])) ++ curated ++ refreshed)
  }
}

/** The curation chain over documents, as stages of a lake round:
  * quality gate, MinHash-LSH near-dup pairs at Jaccard 0.6, cluster
  * resolution, decontamination against a seeded held-out source, UNLOAD
  * by language. Every stage is an api call, not a memoized query key,
  * and the round ends with `Caches.clear`, so every round does the full
  * work. */
final class Curation(c: Ctx, out: String) {
  private val heldOut = s"src${c.rng(0xc0a7L).nextInt(20)}"
  private var nDocs = 0L

  def facts: Map[String, Any] = Map("held_out" -> heldOut)

  def setup(): Unit = nDocs = c.table("documents").count()

  def run(): Map[String, Any] = {
    // each stage is persisted and counted, as a pipeline reporting its
    // counts would; the round's `Caches.clear` releases them
    def stage(df: DataFrame): (DataFrame, Long) = {
      val p = Caches.persistTracked(df)
      (p, p.count())
    }
    val docs = c.span("Tables.load")(
      Tables.loadSpread(c.spark, c.data, "documents"))
    val (kept, nKept) = c.span("TextOps.qualityScore")(stage(
      TextOps.qualityScore(docs, "text")
        .filter(col("n_tok") >= 20 && col("quality") >= 0.3)
        .select("doc_id", "text", "lang", "source")))
    val (pairs, nPairs) = c.span("DedupOps.minhashLshPairs")(stage(
      DedupOps.minhashLshPairs(kept, "doc_id", "text", 0.6)))
    val (clusters, keepers) = c.span("DedupOps.clusterResolve") {
      val (cl, _) = stage(DedupOps.clusterResolve(kept, "doc_id",
        pairs.select("id_lo", "id_hi")))
      (cl.agg(countDistinct(col("cluster_id"))).head().getLong(0),
        kept.join(cl.filter(col("keep") === 1).select("doc_id"), "doc_id"))
    }
    val (clean, nClean) = c.span("TextOps.decontaminate")(stage(
      TextOps.decontaminate(
          keepers.filter(col("source") =!= heldOut), "doc_id", "text",
          docs.filter(col("source") === heldOut), "text")
        .filter(col("contaminated") === 0).select("doc_id")))
    c.span("LakeWriter.unload") {
      LakeWriter.unloadPartitioned(
        keepers.join(clean, "doc_id").select("doc_id", "source", "text", "lang"),
        out, Seq("lang"))
    }
    Map("docs" -> nDocs, "kept" -> nKept, "pairs" -> nPairs,
      "clusters" -> clusters, "clean" -> nClean)
  }
}

/** The iterative model builds, as stages of a lake round:
  * random-walk-with-restart related parts, label-propagation part
  * communities and item-CF recommendations over a seeded sixteenth of
  * the orders, IVF-PQ training plus seeded probes over every embedding, and
  * the perceptron quality gate over every document. Parameters are drawn
  * once per run, so every round must return the same results. */
final class ModelRefresh(c: Ctx) {
  import ModelRefresh._

  private val slice = c.rng(0x30deL).nextInt(Slices)
  private val svc = new EtlService(c.spark)
  private var seedPart = 0L
  private var customers, probes = Seq.empty[Long]

  def facts: Map[String, Any] = Map("seed_part" -> seedPart,
    "customers" -> customers.size, "probes" -> probes)

  private def inSlice(key: String): Column =
    pmod(col(key), lit(Slices.toLong)) === slice

  def setup(): Unit = {
    def draw(df: DataFrame, key: String, n: Int): Seq[Long] =
      df.select(key).distinct().orderBy(xxhash64(col(key), lit(c.seed)))
        .limit(n).collect().map(_.getLong(0)).toSeq.sorted
    seedPart = draw(c.table("lineitem").filter(inSlice("l_orderkey")),
      "l_partkey", 1).head
    customers = draw(c.table("orders").filter(inSlice("o_orderkey")),
      "o_custkey", 50)
    probes = draw(c.table("embeddings"), "vec_id", 20)
  }

  def run(lineitem: DataFrame, orders: DataFrame): Map[String, Any] = {
    import c.spark.implicits._
    val li = lineitem.filter(inSlice("l_orderkey"))
    val related = c.span("EtlService.relatedParts")(
      svc.relatedParts(li, seedPart, 10, iters = 2).collect())
    val comm = c.span("EtlService.partCommunities")(
      svc.partCommunities(li).agg(count(lit(1)),
        countDistinct(col("community"))).head())
    val recs = c.span("EtlService.recommendations")(
      svc.recommendations(li, orders.filter(inSlice("o_orderkey")), 5,
        customers = Some(customers.toDF("c_custkey"))).collect())
    val ann = c.span("PqOps.ivfPqSearch") {
      val emb = c.table("embeddings")
      val pr = emb.filter(col("vec_id").isin(probes: _*))
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      // 8 cells and 16 sub-quantizers of 16 centroids, each trained for
      // two Lloyd rounds on a quarter of the vectors; every cell probed,
      // 64 shortlisted and re-ranked exactly to the top 10
      PqOps.ivfPqSearch(emb, "vec_id", "embedding", 64, 8, 2, 16, 16, 2,
        pr, 8, 64, 10, trainOneIn = 4).select("probe_id", "vec_id").collect()
    }
    val quality = c.span("EtlService.qualityScores")(
      svc.qualityScores(c.table("documents")).agg(count(lit(1)),
        sum(when(col("score") > 0, 1).otherwise(0))).head())
    Map("related" -> related.map(_.getLong(0)).toSeq,
      "communities" -> Seq(comm.getLong(0), comm.getLong(1)),
      "recs" -> recs.length,
      "ann" -> ann.map(r => (r.getLong(0), r.getLong(1))).sorted
        .map { case (p, v) => Seq(p, v) }.toSeq,
      "quality" -> Seq(quality.getLong(0), quality.getLong(1)))
  }
}

object ModelRefresh {
  /** The graph models read one of this many slices of the orders. */
  val Slices = 16
}
