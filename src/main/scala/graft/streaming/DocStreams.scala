package graft.streaming

import graft.api.{DedupOps, TextOps, VectorOps}
import graft.functions.{GraftFunctions, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming topologies over a document stream — the online halves of
  * the batch corpus pipelines (q60/q66's dedup family).
  *
  * Scale notes: state is keyed by a single 64-bit signature, so the
  * dedup state store is one long per distinct signature inside the
  * watermark horizon — bounded by arrival rate × horizon, not corpus
  * size, and hash-partitioned across executors like any keyed state.
  */
object DocStreams {

  /** Online near-duplicate filter: drops an arriving document whose
    * MinHash signature key was already seen within the watermark
    * horizon, keeping the first arrival. Two documents collide exactly
    * when ALL `nHashes` MinHash signatures match — the deterministic
    * streaming analog of the batch LSH candidate rule with every row in
    * one band (high precision: matches are near-certain duplicates; a
    * lower-similarity pair is left for the periodic batch q77 pass —
    * the standard online-filter + offline-compaction split).
    *
    * The signature folds to ONE long key via the band-key fold
    * (bands=1, rows=nHashes), so the state row is a single long, not an
    * array. Requires an event-time column `tsCol` for the watermark.
    */
  def nearDupFilter(docs: DataFrame, tsCol: String, textCol: String,
    watermark: String, nHashes: Int = 16): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val keyed = docs.withWatermark(tsCol, watermark)
      .withColumn("__sig_key", sigKey(textCol, nHashes))
    // an empty document has a null signature key; null keys would all
    // collide as one state-store entry, so empties bypass the dedup
    // branch and pass through unfiltered
    keyed.filter(col("__sig_key").isNotNull)
      .dropDuplicatesWithinWatermark("__sig_key")
      .unionByName(keyed.filter(col("__sig_key").isNull))
      .drop("__sig_key")
  }

  /** The whole-signature dedup key: MinHash the distinct whitespace
    * tokens, fold all slots into ONE band key. Column-composed
    * (call_function binds columns by value), so any text column name
    * works. */
  private def sigKey(textCol: String, nHashes: Int) =
    element_at(DedupOps.bandKeys(TextOps.tokenHashes(col(textCol)),
      nHashes, 1), 1)

  /** Online SEMANTIC near-duplicate filter — the embedding-side
    * sibling of [[nearDupFilter]]: drops an arriving vector whose full
    * sign pattern over `nPlanes` seeded Gaussian hyperplanes (the q102
    * sign-LSH construction, all planes folded into ONE deep band) was
    * already seen within the watermark horizon, keeping the first
    * arrival. Two vectors collide only when ALL plane signs agree — an
    * event whose probability rises steeply with cosine, so matches are
    * near-certain semantic duplicates and lower-similarity pairs are
    * left for the periodic batch pass (q110/q225 SemDeDup — the same
    * online-filter + offline-compaction split as the text filters).
    * State is one long per distinct sign pattern in the horizon. The
    * planes are splitmix64-seeded pure functions of (seed, plane, dim)
    * [D1], identical to the batch q102 family, so the stream and the
    * batch replay keep the same survivors. NULL embeddings pass
    * through unfiltered (their dot — and key — is NULL). */
  def semanticDupFilter(emb: DataFrame, tsCol: String, vecCol: String,
    dim: Int, watermark: String, nPlanes: Int = 16,
    seed: Long = 42L): DataFrame = {
    require(dim > 0 && nPlanes > 0 && nPlanes <= 62,
      "need dim > 0 and 0 < nPlanes <= 62")
    GraftFunctions.register(emb.sparkSession)
    val key = VectorOps.signKey(col(vecCol),
      VectorOps.gaussianPlanes(nPlanes, dim, seed))
    // gate the key on the vector's nullity: a NULL embedding's dot is
    // NULL, which the otherwise(0L) arms would silently fold to sig 0 —
    // colliding every NULL row with each other AND with genuine
    // all-negative-sign vectors. NULL in → NULL sig → the pass-through
    // branch below, the documented contract shared with
    // exact/nearDupFilter.
    val keyed = emb.withWatermark(tsCol, watermark)
      .withColumn("__sig", when(col(vecCol).isNotNull, key))
    keyed.filter(col("__sig").isNotNull)
      .dropDuplicatesWithinWatermark("__sig")
      .unionByName(keyed.filter(col("__sig").isNull))
      .drop("__sig")
  }

  /** Online exact-duplicate filter: drops an arriving document whose
    * exact content was already seen within the watermark horizon,
    * keeping the first arrival — the streaming sibling of the batch
    * q60/`DedupOps.exactGroups` keep rule. The state key is the
    * (content hash, length) pair — 12 bytes per distinct document in
    * the horizon, never the text itself (the same
    * shuffle-the-hash-not-the-document rule the batch exchange
    * follows). Hash collisions at equal length are the only error
    * mode (astronomically rare; the batch compaction pass re-resolves
    * them exactly — the standard online-filter + offline-compaction
    * split, same as [[nearDupFilter]]). NULL-text documents pass
    * through unfiltered (their hash is NULL); empty strings dedup like
    * any other content. */
  def exactDupFilter(docs: DataFrame, tsCol: String, textCol: String,
    watermark: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    // only NULL text bypasses (its hash is NULL and NULL keys would all
    // collide as one state entry); empty strings are exact duplicates
    // of each other and dedup like any content — charhash("") is the
    // non-null seed, matching the batch exactGroups grouping
    val keyed = docs.withWatermark(tsCol, watermark)
      .withColumn("__h", call_function("graft_charhash", col(textCol)))
      .withColumn("__hlen", length(col(textCol)))
    keyed.filter(col("__h").isNotNull)
      .dropDuplicatesWithinWatermark("__h", "__hlen")
      .unionByName(keyed.filter(col("__h").isNull))
      .drop("__h", "__hlen")
  }

  /** Online curation gate — the STATELESS prefix of the batch curation
    * run (q116) applied to an arriving document stream: the
    * [[graft.api.TextOps.qualityRules]] projection plus benchmark
    * decontamination against a static held-out eval suite. The eval
    * suite's deduplicated n-gram hash set is folded into ONE sorted
    * array row and attached by a broadcast stream-static equi-join on a
    * constant key, so contamination is a per-row `array_intersect` —
    * no state store, no watermark, append-mode safe (benchmarks are
    * MBs; the one-row gram array broadcasts like any dim). Appends
    * (n_tok, flags, n_hits, contaminated, keep); `keep` = quality
    * rules pass ∧ not contaminated. The stateful dedup stages chain
    * behind it via [[nearDupFilter]] — together they form the online
    * half of the batch q116 composition, and the batch/stream agreement
    * is spec-asserted (StreamingSpec).
    *
    * `learnedWeights` (optional) adds the TRAINED stage behind the
    * rules: q235's bias-first weight vector applied per row via
    * [[graft.api.TextOps.qualityRulesScored]] — a handful of literals
    * folded into the projection (the 1-row-broadcast shape collapsed
    * to constants: no state, no join), appending the integer margin
    * `score` (NULL for zero-token rows, outside the feature domain)
    * and `keep_learned` = keep ∧ score > 0. The batch sibling is
    * q237's scored rollup; batch/stream agreement is spec-asserted. */
  def curationGate(docs: DataFrame, textCol: String,
    evalDocs: DataFrame, evalTextCol: String, n: Int = 8,
    learnedWeights: Option[Seq[Long]] = None): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    def grams(c: org.apache.spark.sql.Column) =
      call_function("graft_ngram_hashes",
        call_function("graft_token_hashes", TextFunctions.tokens(c)), lit(n))
    val evalSet = evalDocs
      .select(explode(grams(col(evalTextCol))).as("g"))
      .agg(sort_array(collect_set(col("g"))).as("__ev"))
      .withColumn("__one", lit(1))
    val ruled = learnedWeights match {
      case Some(w) => TextOps.qualityRulesScored(docs, textCol, w)
      case None    => TextOps.qualityRules(docs, textCol)
    }
    val gated = ruled
      .withColumn("__g", grams(col(textCol)))
      .withColumn("__one", lit(1))
      .join(broadcast(evalSet), "__one")
      .withColumn("n_hits",
        size(array_intersect(col("__g"), col("__ev"))).cast("long"))
      .withColumn("contaminated",
        when(col("n_hits") > 0, 1).otherwise(0).cast("int"))
      .withColumn("keep",
        when(col("keep") === 1 && col("n_hits") === 0, 1).otherwise(0)
          .cast("int"))
      .drop("__g", "__ev", "__one")
    if (learnedWeights.isEmpty) gated
    else gated.withColumn("keep_learned",
      when(col("keep") === 1 && col("score") > 0, 1).otherwise(0)
        .cast("int"))
  }

  /** Streaming read path of the q229 cross-modal bridge: semantic
    * top-k search over the CURATION SURVIVORS of an arriving document
    * stream, maintained as an incremental snapshot (the rolling-WAU
    * foldSnapshot pattern). Arriving documents pass the online
    * exact-dup filter (first arrival per content — the streaming
    * analog of the batch min-id keep rule: identical when arrival
    * order follows the id order, which a replayed corpus satisfies)
    * and the caller's quality predicate `keepExpr`; survivors bridge
    * to their embedding by id (stream-static equi-join), score against
    * the BROADCAST probe set inside the fold, and merge into the
    * per-probe top-k snapshot.
    *
    * The merge is EXACT because per-probe top-k is a mergeable
    * aggregate: topk(prev ∪ topk(batch)) = topk(all), with the same
    * (cos desc, id asc) total order as the batch kernel — so once the
    * whole corpus has streamed, the snapshot equals the batch q229
    * ranking bit-for-bit (StreamingSpec pins the agreement). State
    * per micro-batch: the dedup store (one 12-byte key per distinct
    * content in the watermark horizon) plus a k·|probes|-row snapshot
    * generation — both bounded, never corpus-sized. At 100 TB the
    * per-batch brute scoring swaps for an IVF probe over the survivor
    * index exactly as the batch path does (q70/q229 note); the fold
    * contract is unchanged. */
  def semanticSearchStream(docs: DataFrame, tsCol: String, idCol: String,
    textCol: String, keepExpr: org.apache.spark.sql.Column,
    emb: DataFrame, embIdCol: String, vecCol: String,
    probes: DataFrame, k: Int, watermark: String, snapshotRoot: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val survivors = exactDupFilter(docs, tsCol, textCol, watermark)
      .filter(keepExpr)
      .select(col(idCol).as("vec_id"))
    val embN = emb.select(col(embIdCol).as("vec_id"),
      col(vecCol).as("embedding"))
    val prb = probes.select(col("probe_id"), col("pe"))
    EventStreams.foldSnapshot(survivors, snapshotRoot) { (prev, batch) =>
      val part = VectorOps.cosineTopK(batch.join(embN, Seq("vec_id")),
          "vec_id", "embedding", prb, k)
        .select(col("probe_id"), col("id").as("vec_id"),
          col("cos").as("cos4"))
      val all = prev match {
        case Some(p) => p.select("probe_id", "vec_id", "cos4")
          .unionByName(part)
        case None => part
      }
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos4").desc, col("vec_id").asc)
      all.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    }
  }

  /** Incremental Count-Min sketch over the document token stream — the
    * streaming sibling of the gated q244 batch sketch: each arriving
    * micro-batch's token occurrences explode into the SAME CmsD×CmsW
    * affine cell grid (`SketchQueries.cmsBuckets` — one definition of
    * the geometry), and cell counts are RE-SUMMABLE, so the folded
    * snapshot equals the one-shot batch grid bit-for-bit at any fold
    * point (StreamingSpec pins it). State: ≤ CmsD·CmsW = 2048 cells
    * REGARDLESS of vocabulary — the fixed-memory property that makes
    * CMS the streaming frequency sketch (KMV state grows with groups;
    * this never grows at all). */
  def cmsStream(docs: DataFrame, textCol: String, snapshotRoot: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    EventStreams.aggSnapshot(docs, snapshotRoot, Seq("r", "b")) { batch =>
      batch.select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
        .select(explode(graft.operators.SketchQueries.cmsBuckets(
          expr(TextFunctions.charHash("tok")))).as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(count(lit(1)).as("c"))
    }

  /** Probe a [[cmsStream]] snapshot for a token watchlist: (tok,
    * cms_est) with q244's one-sided MIN-over-cells estimate. A cell
    * the snapshot never touched counts as 0 (left join + coalesce) —
    * an absent cell means NO occurrence hashed there, so the min is 0,
    * not "min over present cells" (which would over-estimate unseen
    * tokens). */
  def cmsReport(snapshot: DataFrame, tokens: Seq[String]): DataFrame = {
    val s = snapshot.sparkSession
    import s.implicits._
    val pb = tokens.toDF("tok")
      .select(col("tok"), explode(graft.operators.SketchQueries.cmsBuckets(
        expr(TextFunctions.charHash("tok")))).as("rb"))
      .select(col("tok"), col("rb.r").as("r"), col("rb.b").as("b"))
    broadcast(pb).join(snapshot, Seq("r", "b"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
      .orderBy("tok")
  }

  /** Batch model of [[nearDupFilter]]'s steady state: the documents that
    * survive when the whole corpus is replayed oldest-first — first
    * arrival (min ts, doc_id tie-break) per signature key. Used by specs
    * to assert stream/batch convergence, and usable directly as the
    * backfill compaction for a corpus at rest. */
  def nearDupKeepSet(docs: DataFrame, tsCol: String, idCol: String,
    textCol: String, nHashes: Int = 16): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.withColumn("__sig_key", sigKey(textCol, nHashes))
    val w = Window.partitionBy("__sig_key")
      .orderBy(col(tsCol).asc, col(idCol).asc)
    keyed.filter(col("__sig_key").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__sig_key")
      .unionByName(keyed.filter(col("__sig_key").isNull).drop("__sig_key"))
  }
}
