package graft.api

import java.sql.Timestamp

import graft.Dets.{decAvg, decSumD}
import graft.sources.LakeWriter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's ETL-microservice surface, re-expressed Spark-first: a
  * service object whose "endpoints" are parameterized analytic queries
  * over a star schema, plus the load (COPY) and export (UNLOAD) legs
  * around them. The reference interpolates request parameters into SQL
  * template strings and pushes them to the warehouse; here every
  * parameter binds as a typed `Column` predicate on a declarative plan,
  * which is both injection-proof and optimizer-visible — a date range
  * lands in the parquet scan's PushedFilters (asserted in
  * EtlServiceSpec), so at 100 TB a one-month endpoint call reads one
  * month of row groups, not the table.
  *
  * The service is schema-light: endpoints take the DataFrames they query
  * (pre-registered via [[load]] or passed directly), so the same
  * endpoints run against raw lake files, bucketed managed tables, or
  * temp views without code changes.
  */
final class EtlService(spark: SparkSession) {

  private val views = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** COPY leg: register a lake file set as a named service table.
    * `format` ∈ parquet|csv|json; explicit schema always (inference
    * scans twice and is nondeterministic). */
  def load(name: String, path: String, schema: StructType,
    format: String = "parquet"): DataFrame = {
    val df = format match {
      case "parquet" => spark.read.schema(schema).parquet(path)
      case "csv" => LakeWriter.copyCsv(spark, path, schema)
      case "json" => LakeWriter.copyJson(spark, path, schema)
      case other => throw new IllegalArgumentException(
        s"unsupported load format: $other")
    }
    views.put(name, df)
    df
  }

  /** Register an already-built DataFrame as a service table. */
  def register(name: String, df: DataFrame): Unit = views.put(name, df)

  def table(name: String): DataFrame = views.getOrElse(name,
    throw new IllegalArgumentException(s"table not loaded: $name"))

  /** UNLOAD leg: export an endpoint result to the lake, partitioned for
    * pruned read-back. */
  def export(df: DataFrame, out: String, partitionCols: Seq[String] = Nil): Unit =
    if (partitionCols.isEmpty) df.write.mode("overwrite").parquet(out)
    else LakeWriter.unloadPartitioned(df, out, partitionCols)

  // ---- parameterized endpoints (the reference's HTTP query surface) ----

  /** Optional equality filter: absent parameter = no predicate at all
    * (not a pass-through literal), so the optimizer sees only real
    * constraints. */
  private def eqOpt(c: String, v: Option[String]): Column =
    v.map(col(c) === _).getOrElse(lit(true))

  /** Revenue rollup between order dates, optionally narrowed to one
    * market segment — the classic date-range endpoint. The date range
    * binds on the `orders` scan; the join to `lineitem` broadcasts or
    * shuffles per AQE. */
  def revenueByOrderDate(orders: DataFrame, lineitem: DataFrame,
    from: Timestamp, until: Timestamp, segment: Option[String] = None,
    customer: Option[DataFrame] = None): DataFrame = {
    require(!until.before(from), "until must be >= from")
    val o0 = orders.filter(col("o_orderdate") >= lit(from) &&
      col("o_orderdate") < lit(until))
    val o = (segment, customer) match {
      case (Some(_), None) => throw new IllegalArgumentException(
        "segment filter needs the customer table")
      case (None, Some(_)) => throw new IllegalArgumentException(
        "customer table given without a segment — drop it or pass segment")
      case (Some(seg), Some(c)) => o0.join(
        broadcast(c.filter(col("c_mktsegment") === seg).select("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      case (None, None) => o0
    }
    o.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        decSumD(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("month")
  }

  /** Per-nation account health for one region (dimension-parameter
    * endpoint): customer/supplier counts and balances. Dims broadcast. */
  def nationSummary(customer: DataFrame, nation: DataFrame, region: DataFrame,
    regionName: Option[String] = None): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(eqOpt("r_name", regionName))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
      .agg(count(lit(1)).as("n_cust"),
        decSumD(col("c_acctbal")).as("sum_bal"),
        decAvg(col("c_acctbal")).as("avg_bal"))
      .orderBy("region", "nation")

  /** Top-k customers by open-order value within a date range — the
    * ranked-list endpoint. Bounded result via the per-group top-k
    * operator (k rows total, never a full sort). */
  def topCustomers(orders: DataFrame, customer: DataFrame,
    from: Timestamp, until: Timestamp, k: Int): DataFrame = {
    require(k > 0 && k <= 10000, "k must be in (0, 10000]")
    val spend = orders
      .filter(col("o_orderdate") >= lit(from) &&
        col("o_orderdate") < lit(until))
      .groupBy("o_custkey")
      .agg(decSumD(col("o_totalprice")).as("spend"),
        count(lit(1)).as("n_orders"))
    // left join: a spender missing from the customer dim (partial dim
    // load, wider order range than the snapshot) must still hold its
    // rank — an inner join would silently leave a gap in ranks 1..k
    graft.plans.GraftOps.topKPerGroup(spend, Seq(lit(1)),
      Seq(col("spend").desc, col("o_custkey").asc), k, rankName = "rank")
      .join(customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("rank"), col("o_custkey").as("custkey"), col("c_name"),
        col("spend"), col("n_orders"))
      .orderBy("rank")
  }

  /** Event activity in a half-open time window, bucketed hourly per
    * event type — the operational-metrics endpoint. */
  def eventActivity(events: DataFrame, from: Timestamp, until: Timestamp,
    eventType: Option[String] = None): DataFrame = {
    require(!until.before(from), "until must be >= from")
    events
      .filter(col("ts") >= lit(from) && col("ts") < lit(until) &&
        eqOpt("event_type", eventType))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSumD(col("value")).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Per-nation supplier shipping summary within a ship-date range,
    * optionally narrowed to one nation — the supply-side endpoint. The
    * date range binds on the lineitem scan; both dims broadcast. */
  def supplierRevenue(lineitem: DataFrame, supplier: DataFrame,
    nation: DataFrame, from: Timestamp, until: Timestamp,
    nationName: Option[String] = None): DataFrame = {
    require(!until.before(from), "until must be >= from")
    lineitem
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.filter(eqOpt("n_name", nationName))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        decSumD(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        decSumD(col("l_quantity")).as("qty"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy("nation")
  }

  /** Hybrid document search — the retrieval endpoint: BM25 over a
    * caller-supplied term bag fused with dense cosine ranks around a
    * probe embedding by reciprocal-rank fusion (Σ 1/(rrfK + rank)),
    * top `k` results. `docs` needs (doc_id, text); `embeddings`
    * (vec_id, embedding) aligned with doc ids. Both rank lists are
    * `depth`-bounded by their top-k operators (bounded-heap BM25,
    * broadcast-probe cosine), so fusion touches ≤ 2·depth rows no
    * matter the corpus size. The probe's OWN document is excluded from
    * both legs — the dense leg cannot rank it (self-cosine is trivially
    * 1) and leaving it in the lexical leg alone would let it compete
    * with half its evidence stripped; "find documents like this one"
    * should never return the document itself. */
  def searchDocuments(docs: DataFrame, embeddings: DataFrame,
    terms: Seq[String], probeId: Long, depth: Int = 50, k: Int = 20,
    rrfK: Int = 60): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(depth > 0 && k > 0 && k <= depth * 2,
      "need depth > 0 and 0 < k <= 2*depth")
    val bm = TextOps.bm25(docs.filter(col("doc_id") =!= probeId),
      "doc_id", "text", terms, depth)
      .select(col("id"), col("rank").as("r_a"))
    val probes = embeddings.filter(col("vec_id") === probeId)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cos = VectorOps.cosineTopK(
      embeddings, "vec_id", "embedding", probes, depth)
      .select(col("id"), col("rn").as("r_b"))
    VectorOps.rrfFuse(bm, cos, rrfK, k)
      .select(col("id").as("doc_id"), col("r_a").as("r_bm"),
        col("r_b").as("r_cos"), col("rrf6"), col("rank"))
      .orderBy("rank")
  }

  /** Revenue share by part type within a ship-date range, optionally one
    * brand — the category-mix endpoint (TPC-H promo-share shape,
    * generalized to every type). The share divides exact decimal sums —
    * the window total is an unbounded frame over the post-aggregation
    * rows (one per part type), so the window input is tiny no matter the
    * fact-table size — and only the final division happens in double. */
  def partTypeShare(lineitem: DataFrame, part: DataFrame,
    from: Timestamp, until: Timestamp,
    brand: Option[String] = None): DataFrame = {
    require(!until.before(from), "until must be >= from")
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .join(broadcast(part.filter(eqOpt("p_brand", brand))
        .select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type").as("part_type"))
      .agg(graft.Dets.decSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("rev_dec"),
        count(lit(1)).as("n_lines"))
    rev
      .withColumn("__tot",
        sum(col("rev_dec")).over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
      .select(col("part_type"),
        col("rev_dec").cast("double").as("revenue"),
        col("n_lines"),
        round(col("rev_dec").cast("double") / col("__tot").cast("double"), 4)
          .as("share"))
      .orderBy("part_type")
  }

  /** The "customers who bought X also bought" endpoint: parts related
    * to `seed` in the co-purchase graph, ranked either by random-walk-
    * with-restart mass (`method = "rwr"` — the walk-based closeness
    * that sees multi-hop structure, [[GraphOps.randomWalkRestart]]) or
    * by direct weighted co-purchase count (`method = "cooc"` — one
    * filter + top-k, no iteration). `minSupport` floors the edge
    * relation like q227's backbone (a single shared order is noise on
    * a dense co-occurrence graph); the pair build is the per-order
    * self-join ([[GraphOps.pairWeights]]) — Σ|order|² with order size
    * schema-bounded, never |corpus|². Returns (p_partkey, score) — RWR
    * mass at 6dp or the co-purchase count as a double. */
  def relatedParts(lineitem: DataFrame, seed: Long, k: Int,
    method: String = "rwr", minSupport: Long = 1L,
    iters: Int = 3): DataFrame = {
    require(k > 0 && iters > 0 && minSupport >= 1, "need k, iters, support >= 1")
    val undw = GraphOps.pairWeights(lineitem, "l_orderkey", "l_partkey")
      .filter(col("w") >= minSupport)
    method match {
      case "rwr" =>
        val seedDf = undw.sparkSession.range(1).select(lit(seed).as("v"))
        GraphOps.randomWalkRestart(undw, "x", "y", "w", seedDf, 0.85, iters)
          .filter(col("v") =!= seed)
          .orderBy(col("pr").desc, col("v").asc).limit(k)
          .select(col("v").as("p_partkey"), col("pr").as("score"))
      case "cooc" =>
        GraphOps.directed(undw, "x", "y", Some("w"))
          .filter(col("u") === seed)
          .orderBy(col("w").desc, col("v").asc).limit(k)
          .select(col("v").as("p_partkey"), col("w").cast("double").as("score"))
      case other => throw new IllegalArgumentException(
        s"unsupported method: $other (rwr|cooc)")
    }
  }

  /** Part communities by weighted label propagation over the
    * support-floored co-purchase backbone — the catalog-clustering
    * endpoint ([[GraphOps.labelPropagation]] does the rounds). Returns
    * (p_partkey, community). */
  def partCommunities(lineitem: DataFrame, minSupport: Long = 2L,
    iters: Int = 2): DataFrame =
    GraphOps.labelPropagation(
        GraphOps.pairWeights(lineitem, "l_orderkey", "l_partkey")
          .filter(col("w") >= minSupport), "x", "y", "w", iters)
      .select(col("v").as("p_partkey"), col("label").as("community"))

  /** Assortment-gap suggestions: part pairs NOT co-purchased on the
    * support-floored backbone but sharing strong common neighbours,
    * ranked by Adamic–Adar ([[GraphOps.adamicAdar]] — q227's verified
    * kernel). Returns (px, py, cn, aa6). */
  def linkSuggestions(lineitem: DataFrame, k: Int,
    minSupport: Long = 2L): DataFrame =
    GraphOps.adamicAdar(
      GraphOps.pairWeights(lineitem, "l_orderkey", "l_partkey")
        .filter(col("w") >= minSupport).select("x", "y"), "x", "y", k)

  /** Per-customer recommendations — the item-CF serving endpoint
    * (q253's scoring path as a service call): each customer's distinct
    * purchased parts vote for their top-`nbrK` weighted-Jaccard
    * neighbours ([[GraphOps.itemNeighbors]] — integer 1e-4 scores, so
    * the per-customer sums are order-invariant int64), already-bought
    * parts are excluded, and the top-`k` survive per customer. Returns
    * (o_custkey, rec, score, rank). Pass `customers` to restrict the
    * fan-out to a request's customer set (the service-call shape —
    * the model is reusable across calls; only the bounded candidate
    * join reruns). */
  def recommendations(lineitem: DataFrame, orders: DataFrame, k: Int,
    nbrK: Int = 10, minSupport: Long = 2L,
    customers: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && nbrK > 0, "need k > 0 and nbrK > 0")
    val nbr = GraphOps.itemNeighbors(
      GraphOps.pairWeights(lineitem, "l_orderkey", "l_partkey")
        .filter(col("w") >= minSupport), "x", "y", "w", nbrK)
    val ords = customers.fold(orders)(c =>
      orders.join(c.select(col(c.columns.head).as("o_custkey")),
        Seq("o_custkey"), "left_semi"))
    val bought = ords.select("o_custkey", "o_orderkey")
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey")), Seq("o_orderkey"))
      .select("o_custkey", "l_partkey").distinct()
    GraphOps.itemCfScores(bought, "o_custkey", "l_partkey", nbr, k)
  }

  /** Train-and-score quality endpoint — the learned curation gate as a
    * service call: distill the rule gate's labels into a linear model
    * ([[MlOps.perceptronTrace]] over [[TextOps.qualityFeatures]] —
    * integer-exact, `iters` mean-gradient passes) and return every
    * document scored with the trained weights: (all doc columns,
    * n_tok, keep, features, score) where score is the integer margin
    * (> 0 = predicted keep). Zero-token documents are outside the
    * feature domain and are not returned (the q235 contract). The
    * caller chooses the gate: `filter(col("score") > 0)` for the
    * learned gate, or compare against `keep` for an agreement audit
    * (the q237 rollup). */
  def qualityScores(documents: DataFrame, textCol: String = "text",
    iters: Int = 3): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val features = Seq("f_ntok", "f_wlen", "f_ttr", "f_stop")
    val feats = TextOps.qualityFeatures(documents, textCol)
    MlOps.linearScore(feats, features, MlOps.perceptronWeights(
      MlOps.perceptronTrace(feats, features, "keep", iters)))
  }

  /** Referential-integrity audit over the relational lake — the data-
    * quality endpoint an ETL service runs after each load: one row per
    * check, counting rows that violate a foreign-key or coverage
    * expectation. Each check is a single anti join on its key with a
    * map-side-collapsing count, so no check ever materializes (or
    * shuffles) the violating rows themselves. A left-anti join can only
    * broadcast its RIGHT side, so just the checks whose right side is a
    * dimension broadcast (orders_without_customer); the checks probing
    * against a fact table (orders, lineitem on the right) shuffle — but
    * both sides are projected to their single 8-byte key first, so the
    * exchange moves keys, never rows. Six independent one-row jobs — at
    * any scale each is bounded by one scan of its larger side. */
  def integrityAudit(orders: DataFrame, lineitem: DataFrame,
    customer: DataFrame, part: DataFrame, supplier: DataFrame): DataFrame = {
    def check(name: String, left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame =
      left.select(col(leftKey))
        .join(right.select(col(rightKey).as(leftKey)), Seq(leftKey),
          "left_anti")
        .agg(count(lit(1)).as("n_bad"))
        .select(lit(name).as("check_name"), col("n_bad"))
    Seq(
      check("customers_without_orders", customer, "c_custkey",
        orders, "o_custkey"),
      check("lineitems_without_order", lineitem, "l_orderkey",
        orders, "o_orderkey"),
      check("orders_without_customer", orders, "o_custkey",
        customer, "c_custkey"),
      check("orders_without_lineitems", orders, "o_orderkey",
        lineitem, "l_orderkey"),
      check("parts_never_shipped", part, "p_partkey",
        lineitem, "l_partkey"),
      check("suppliers_never_shipped", supplier, "s_suppkey",
        lineitem, "l_suppkey")
    ).reduce(_ unionByName _).orderBy("check_name")
  }

  /** Top-k customers by revenue lost to returned items within an
    * order-date range — the returned-items report (TPC-H Q10 shape).
    * Scale shape: the return-flag filter and the date range both land
    * in PushedFilters on their fact scans BEFORE the one fact-fact key
    * join; the per-customer rollup decimal-sums exactly; ranking runs
    * through the bounded-heap top-k on a constant group (k rows cross
    * the exchange, never a full sort); only the k winners join the
    * customer/nation dims (left joins — a customer missing from a
    * partial dim load must keep its rank, not vanish and leave a gap
    * in 1..k). */
  def returnedItems(lineitem: DataFrame, orders: DataFrame,
    customer: DataFrame, nation: DataFrame,
    from: Timestamp, until: Timestamp, k: Int): DataFrame =
    returnedItemsReport(
      returnedLossAgg(lineitem, orders, from, until), customer, nation, k)

  /** [[returnedItems]]'s keyed partial: (o_custkey, lost_dec, n_lines)
    * with the revenue still DECIMAL. Exposed because the partial is
    * associative — decimal sums and counts re-aggregate exactly — so
    * the micro-batch reporting cadence
    * ([[graft.streaming.EventStreams.aggSnapshot]]) can fold one
    * partial per arriving fact batch and derive the report at any
    * point with [[returnedItemsReport]]. */
  def returnedLossAgg(lineitem: DataFrame, orders: DataFrame,
    from: Timestamp, until: Timestamp): DataFrame = {
    val o = orders
      .filter(col("o_orderdate") >= lit(from) &&
        col("o_orderdate") < lit(until))
      .select("o_orderkey", "o_custkey")
    val li = lineitem.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(graft.Dets.decSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("lost_dec"),
        count(lit(1)).as("n_lines"))
  }

  /** Finish a (re-)aggregated [[returnedLossAgg]] partial to the ranked
    * report. Ranks on the DOUBLE image of the loss (custkey tie-break)
    * exactly like the one-shot path, so incremental and batch runs
    * produce identical rows. */
  def returnedItemsReport(lost: DataFrame, customer: DataFrame,
    nation: DataFrame, k: Int): DataFrame = {
    require(k > 0 && k <= 10000, "k must be in (0, 10000]")
    graft.plans.GraftOps.topKPerGroup(
        lost.withColumn("lost_revenue", col("lost_dec").cast("double"))
          .drop("lost_dec"),
        Seq(lit(1)),
        Seq(col("lost_revenue").desc, col("o_custkey").asc), k,
        rankName = "rank")
      .join(customer.select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("rank"), col("o_custkey").as("custkey"), col("c_name"),
        col("n_name").as("nation"), col("lost_revenue"), col("n_lines"))
      .orderBy("rank")
  }

  /** CDC MERGE apply — the batch `MERGE INTO` verb: apply a changeset
    * of upserts and deletes to a snapshot. `changes` carries (keyCol,
    * op ∈ {U, D}, the snapshot's attribute columns for upserts);
    * matched U rows replace the snapshot row, unmatched U rows insert,
    * D rows delete, keys absent from the changeset pass through.
    *
    * Scale shape: ONE full-outer equi-join on the snapshot key — both
    * sides pre-projected, no window, no second pass; at 100 TB this is
    * the standard co-partitionable merge (bucket both sides on the key
    * and the exchange disappears). The op column decides per row with
    * plain projections, so the whole apply is codegen. */
  def applyChanges(base: DataFrame, changes: DataFrame, keyCol: String,
    attrCols: Seq[String]): DataFrame = {
    val ch = changes.select(col(keyCol) +: col("op") +:
      attrCols.map(c => col(c).as(s"__c_$c")): _*)
    base.join(ch, Seq(keyCol), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col(keyCol) +: attrCols.map(c =>
        when(col("op") === "U", col(s"__c_$c")).otherwise(col(c)).as(c))
        :+ when(col("op") === "U", lit(1)).otherwise(lit(0))
          .cast("int").as("changed"): _*)
  }

  /** SCD Type-2 history build — the dimension-versioning ETL verb: an
    * append-only change feed (one row per observed state) becomes the
    * warehouse's slowly-changing-dimension table, one validity interval
    * per version: (key, version, valid_from, valid_to, attributes...),
    * `valid_to` NULL on the current row. Ordering ties on the feed's
    * sequence column so replays version identically.
    *
    * Scale shape: one window over (key) ordered by (ts, seq) — a single
    * hash exchange on the dimension key and a per-key sort; no joins,
    * no second pass (lead() closes each interval from the next row).
    * Dimension keys are many and small, so the window parallelizes
    * across the exchange like any keyed agg. */
  def scdHistory(changes: DataFrame, keyCol: String, tsCol: String,
    seqCol: String, attrCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(seqCol).asc)
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_raw", lead(col(tsCol), 1).over(w))
      .select(Seq(col(keyCol), col("version"),
        graft.Dets.tsOut(col(tsCol)).as("valid_from"),
        graft.Dets.tsOut(col("valid_to_raw")).as("valid_to"),
        when(col("valid_to_raw").isNull, 1).otherwise(0)
          .cast("int").as("is_current")) ++ attrCols.map(col): _*)
  }

  /** Market share by (customer region, part type, order year) — the
    * multi-dimensional reporting endpoint (category mix crossed with
    * geography over time). Scale shape: the date range binds on the
    * `orders` scan (PushedFilters); orders⋈lineitem is the one fact-fact
    * shuffle, on the 8-byte order key with both sides pre-projected to
    * the columns the rollup needs; part/nation/region broadcast;
    * customer is key-projected before its join so AQE can broadcast it
    * when it fits and shuffle bare keys when it doesn't. The share
    * window partitions over (region, year) on post-aggregation rows —
    * |regions|·|years|·|types| rows, dimension-bounded no matter the
    * fact size — and only the final division happens in double. */
  def marketShare(lineitem: DataFrame, orders: DataFrame,
    customer: DataFrame, nation: DataFrame, region: DataFrame,
    part: DataFrame, from: Timestamp, until: Timestamp): DataFrame =
    marketShareReport(marketShareAgg(
      lineitem, orders, customer, nation, region, part, from, until))

  /** [[marketShare]]'s keyed partial: (region, part_type, yr, rev_dec)
    * with the revenue still DECIMAL. Associative like
    * [[returnedLossAgg]] — the micro-batch reporting cadence folds one
    * partial per arriving fact batch
    * ([[graft.streaming.EventStreams.aggSnapshot]]) and derives the
    * share report at any point with [[marketShareReport]]. */
  def marketShareAgg(lineitem: DataFrame, orders: DataFrame,
    customer: DataFrame, nation: DataFrame, region: DataFrame,
    part: DataFrame, from: Timestamp, until: Timestamp): DataFrame = {
    require(!until.before(from), "until must be >= from")
    val o = orders
      .filter(col("o_orderdate") >= lit(from) &&
        col("o_orderdate") < lit(until))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = lineitem
      .select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("p_type").as("part_type"),
        year(col("o_orderdate")).as("yr"))
      .agg(graft.Dets.decSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("rev_dec"))
  }

  /** Finish a (re-)aggregated [[marketShareAgg]] partial to the share
    * report — the window runs over dimension-bounded post-aggregation
    * rows and only the final division happens in double. */
  def marketShareReport(rev: DataFrame): DataFrame =
    rev
      .withColumn("__tot",
        sum(col("rev_dec")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("region"), col("yr"))))
      .select(col("region"), col("part_type"), col("yr"),
        col("rev_dec").cast("double").as("revenue"),
        round(col("rev_dec").cast("double") / col("__tot").cast("double"), 4)
          .as("share"))
      .orderBy("region", "yr", "part_type")
}
