package graft.operators

import graft.{Dets, Tables}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.Sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline ETL operators beyond per-document scoring:
  * near-dup CLUSTER resolution (q77 — pairs alone don't dedup a corpus;
  * you need connected components and a keep decision), deterministic
  * train/val/test hash-splitting (q78), token-budget sequence packing
  * (q79), stratified per-group sampling (q80), and latest-wins upsert
  * compaction of an event log into a snapshot (q81 — the classic
  * incremental-ETL merge the reference microservice performs between its
  * staging and serving layers).
  *
  * Scale notes:
  *  - q77 resolves clusters with [[graft.api.DedupOps.clusterResolve]]:
  *    connected components by star contraction over the near-dup edge
  *    list, each round one hook aggregate plus one contraction join on
  *    a shrinking edge set. A 100 TB corpus would swap the edge list
  *    for q66's LSH candidates and keep this loop unchanged.
  *  - q78/q79/q80 are pure projection + window work: they shuffle once on
  *    the partition key (lang) and stay inside whole-stage codegen. The
  *    split/sample hashes are the engine-portable rolling hashes from
  *    TextFunctions, so assignment is reproducible across engines and
  *    cluster sizes — the property a training pipeline actually needs
  *    from a splitter.
  *  - q81 is one window over the event log partitioned by user: at scale
  *    this is the merge step of incremental compaction (dedup-by-key,
  *    latest wins), shuffling each key group once.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.loadSpread(s, dir, n)

  /** Session-memoized (doc_id, source, __tk) tokenized projection — the
    * curation-run compositions' quality and decontamination stages both
    * start from the token array, and BOTH compositions (q116 exact,
    * q118 LSH) run in one gate session, so the corpus tokenizes once
    * per (session, dir) instead of four times. Released by
    * [[graft.operators.TextQueries.clearCaches]]. */
  private[graft] def docsTok(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"pipeline.docstok:$dir") {
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokens(col("text")).as("__tk"))
    }

  private[graft] val PackBudget = 2048L
  private val SampleK = 20

  /** q277's per-source token budget — ~40% of a source's fixture
    * token mass, so the cut is a real selection. */
  private val TokBudget = 600L
  private val Spread = 2654435761L
  private val ChunkWidth = 100
  private val ChunkStride = 90
  private val DecontamN = 8
  private val MixTotal = 200
  private val MixWeights = Map(
    "en" -> 0.4, "de" -> 0.2, "zh" -> 0.2, "fr" -> 0.1, "es" -> 0.1)
  // oracle CASE arms derived from the same weights the Spark op binds
  private val MixCase = MixWeights.toSeq.sorted.map { case (k, w) =>
    s"WHEN '$k' THEN ${(w * MixTotal).toLong}"
  }.mkString(" ")

  /** The resolved q77 component relation (doc_id, cluster_id, keep)
    * over the 0.6 near-dup pairs, memoized per (session, dir) — five
    * consumers (q77, q116, q278, q325, q327) each re-ran the
    * star-contraction before r14; primed under
    * shared:text_pairs06_cc (AFTER the pair table's own line in label
    * order, so the pair build cost stays on its line). */
  private[graft] def clusters06(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"pipeline.cc06:$dir") {
      graft.api.DedupOps.clusterResolve(
        t(s, dir, "documents"), "doc_id",
        TextQueries.nearDupPairs(s, dir, 0.6).select("id_lo", "id_hi"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Connected components over the q61 near-dup pairs: cluster_id is the
    // min doc_id reachable through the near-dup relation; keep = 1 on the
    // cluster representative. Singletons keep themselves.
    "q77_dedup_cluster" -> ((s, dir) =>
      clusters06(s, dir).orderBy("doc_id")),

    // Token-budget mixture — q92 mixes by DOCUMENT counts; a real
    // pretraining mix allocates TOKENS per domain: each source keeps
    // docs in the shared spread-hash order while its exclusive
    // cumulative token count stays under the budget (soft by at most
    // the last document — the q79 boundary convention, so no document
    // is ever silently truncated mid-text). One keyed window per
    // source, parallel in sources.
    "q277_token_budget_mix" -> ((s, dir) =>
      graft.api.PipelineOps.tokenBudgetMix(
        t(s, dir, "documents"), "source", "doc_id", "text", TokBudget)
        .select("source", "doc_id", "n_tok", "cum_before")
        .orderBy("source", "doc_id")),

    // Dedup observability — the report a curation run reads AFTER
    // clustering: the near-dup cluster-size histogram (how much of the
    // corpus is duplicated, and in what shape — many pairs vs a few
    // giant components redistribute the dedup savings completely).
    // Composes q77's clusters; two tiny aggs after the CC labels.
    "q278_dedup_cluster_sizes" -> ((s, dir) =>
      clusters06(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum("cluster_size").as("n_docs"))
        .orderBy("cluster_size")),

    // Chunking: fixed token windows (width 100, stride 90 = 10-token
    // overlap) per doc — the "split long documents into training
    // sequences" op. Emits scalar columns only: chunk ordinal, token
    // count, and a rolling fingerprint of the chunk's token hashes (the
    // oracle folds identically), not the chunk text itself.
    "q83_chunk_tokens" -> ((s, dir) =>
      graft.api.PipelineOps.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", ChunkWidth, ChunkStride)
        .select(col("id").as("doc_id"), col("chunk_id"),
          col("n_in_chunk"), col("fp"))
        .orderBy("doc_id", "chunk_id")),

    // Sub-document dedup audit: per source, how many of its q83 chunks
    // are fingerprint-duplicates of another chunk in the same source —
    // the chunk-granularity redundancy a doc-level dedup (q60/q66)
    // cannot see. One equi-join of chunks to the (doc_id, source)
    // projection (co-keyed shuffle) and one hash agg with an exact
    // COUNT(DISTINCT fp); the chunk table never carries text, only
    // 8-byte fingerprints.
    "q109_chunk_dedup" -> ((s, dir) => {
      val ch = graft.api.PipelineOps.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", ChunkWidth, ChunkStride)
      val src = t(s, dir, "documents")
        .select(col("doc_id").as("id"), col("source"))
      ch.join(src, "id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("fp")).as("n_unique"),
          round(lit(1d)
            - countDistinct(col("fp")).cast("double") / count(lit(1)), 4)
            .as("dup_rate4"))
        .orderBy("source")
    }),

    // Deterministic content-hash split: the same document lands in the
    // same split on any engine, any cluster size, any run.
    "q78_train_split" -> ((s, dir) =>
      graft.api.PipelineOps.trainSplit(t(s, dir, "documents"), "text")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")),

    // Token-budget packing: contiguous doc_id-ordered sharding per lang
    // where bin b holds the docs whose preceding cumulative token count
    // fits below b × budget — the deterministic "pack documents into
    // training sequences" assignment.
    "q79_pack_tokens" -> ((s, dir) =>
      graft.api.PipelineOps.packTokens(
        t(s, dir, "documents"), "lang", "doc_id", "text", PackBudget)
        .select("doc_id", "lang", "n_tok", "bin")
        .orderBy("doc_id")),

    // Packing-efficiency audit of the q79 assignment — the fill-rate
    // report a sequence-packing owner reads before trusting a budget
    // (slack tokens are wasted compute; overshoot is the documented
    // ≤-one-document boundary convention, measured here instead of
    // assumed): per lang, bin count, token totals, the extreme bin
    // fills, slack vs overshoot token mass, and the overall fill
    // permille ([D5] truncating over exact integers). Two keyed aggs
    // over the q79 relation — nothing beyond what the packing itself
    // already scans.
    "q349_pack_efficiency" -> ((s, dir) => {
      val bins = graft.api.PipelineOps.packTokens(
          t(s, dir, "documents"), "lang", "doc_id", "text", PackBudget)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"))
      bins.groupBy("lang").agg(
          count(lit(1)).as("n_bins"),
          sum(col("nd")).as("n_docs"),
          sum(col("nt")).as("n_tok"),
          max(col("nt")).as("max_bin_tok"),
          min(col("nt")).as("min_bin_tok"),
          sum(greatest(lit(0L), lit(PackBudget) - col("nt")))
            .as("slack_tok"),
          sum(greatest(lit(0L), col("nt") - lit(PackBudget)))
            .as("over_tok"))
        .withColumn("fill_pm",
          expr(s"1000 * n_tok div (n_bins * $PackBudget)"))
        .orderBy("lang")
    }),

    // Stratified deterministic sample: K docs per lang, ordered by a
    // multiplicative-spread hash of the key (pseudo-random but exactly
    // reproducible), doc_id tie-break.
    "q80_sample_stratified" -> ((s, dir) =>
      graft.api.PipelineOps.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id", SampleK)
        // the oracle emits rk as INT (pre-TopK output schema) — keep it
        .select(col("lang"), col("doc_id"), col("rk").cast("int").as("rk"))
        .orderBy("lang", "rk")),

    // Weighted mixture sample: the domain-mixing assignment — each lang
    // contributes floor(weight × total) docs, chosen in spread-hash
    // order (same hash family as q80, so the two samplers agree on
    // ordering). Weights embedded identically in the oracle.
    "q92_mixture_sample" -> ((s, dir) =>
      graft.api.PipelineOps.mixtureSample(
        t(s, dir, "documents"), "lang", "doc_id", MixWeights, MixTotal)
        .select(col("lang"), col("doc_id"), col("rk").cast("int").as("rk"))
        .orderBy("lang", "rk")),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): each
    // order draws key = u^(1/w) from its deterministic hash-uniform
    // u ∈ (0,1) and weight w = totalprice; the global top-20 keys ARE
    // the weighted sample. One pass + a bounded top-k
    // (TakeOrderedAndProject) — the distributed weighted-reservoir
    // verb (price-proportional sampling for curriculum/mixture
    // construction). The hash-uniform derives from the shared
    // graft_charhash family, embedded identically in the oracle.
    "q221_weighted_sample" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          expr("graft_charhash(cast(o_orderkey as string))").as("h"))
        .withColumn("u", (col("h") + 1).cast("double") / 1000000008.0)
        .withColumn("skey", pow(col("u"), lit(1.0) / col("o_totalprice")))
        .orderBy(col("skey").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice"),
          round(col("skey") * 1e6, 4).as("skey_ppm"))),

    // Curriculum interleave — the ORDER a training run consumes the
    // curated corpus in: within each source rank docs best-first by
    // the q72 quality score (doc_id tie-break), then the global
    // training position interleaves sources round-robin by that rank
    // (every source's best doc precedes any source's second-best), so
    // early training sees the highest-quality, maximally source-mixed
    // prefix. The per-source ranking is a keyed window (parallel in
    // sources); the GLOBAL position runs through the partition-offset
    // ranker (GlobalRank — no single-task window at any corpus size).
    "q272_curriculum_order" -> ((s, dir) => {
      val q = graft.api.TextOps.qualityScore(t(s, dir, "documents"), "text")
        .filter(col("n_tok") >= 1)
        .select(col("doc_id"), col("source"), col("quality"))
      val ranked = q.withColumn("src_rank",
        row_number().over(Window.partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id").asc)))
      graft.functions.GlobalRank.rowNumber(ranked,
          Seq(col("src_rank").asc, col("source").asc))
        .select(col("rn").as("train_pos"), col("doc_id"), col("source"),
          col("src_rank"), col("quality").as("quality4"))
        .orderBy("train_pos")
    }),

    // Latest-wins upsert: compact the append-only event log to one row
    // per user — the newest event by (ts, event_id). Same semantics as
    // the incremental foreachBatch path (EventStreams.upsertSnapshot).
    "q81_upsert_latest" -> ((s, dir) =>
      graft.streaming.EventStreams.latestWins(Tables.load(s, dir, "events"))
        .select(col("user_id"), Dets.tsOut(col("ts")).as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")),

    // Benchmark decontamination: src0 documents play the held-out eval
    // suite; every other document is scored by its distinct 8-gram
    // overlap with that suite. The eval gram set broadcasts (benchmarks
    // are MBs, corpora are TBs).
    // Dedup token savings — how many TOKENS the q77 dedup pass
    // actually removes (the number a training-budget owner asks for —
    // doc counts undersell dedup when duplicates skew long): total
    // docs/tokens, dropped docs/tokens (cluster non-survivors), and
    // the savings permille [D5]. One keyed agg over the memoized
    // component relation joined to per-doc token counts.
    "q327_dup_savings" -> ((s, dir) => {
      val cl = clusters06(s, dir)
      val ntok = t(s, dir, "documents").select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("ntok"))
      cl.join(ntok, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep") === 0, 1L).otherwise(0L)).as("n_dropped"),
          sum(col("ntok")).as("n_tokens"),
          sum(when(col("keep") === 0, col("ntok")).otherwise(0L))
            .as("tokens_dropped"))
        .select(col("n_docs"), col("n_dropped"), col("n_tokens"),
          col("tokens_dropped"),
          expr("(1000L * tokens_dropped) div n_tokens").as("savings_pm"))
    }),

    // Near-dup cluster SOURCE purity — are q77's duplicate clusters
    // source-local or cross-source? (lang purity is 1000 by
    // construction — the pair relation blocks on lang; SOURCE is the
    // attribute clusters genuinely span.) The governance row behind
    // "which sources copy from each other": per multi-doc cluster the
    // majority-source share in exact permille [D5], reported as the
    // cluster census (count, docs, fully-pure clusters, mean purity).
    // Keyed aggs over the resolved component relation only.
    "q325_cluster_purity" -> ((s, dir) => {
      val cl = clusters06(s, dir)
      val sizes = cl
        .join(t(s, dir, "documents").select("doc_id", "source"),
          Seq("doc_id"))
        .groupBy("cluster_id", "source").agg(count(lit(1)).as("nl"))
      sizes.groupBy("cluster_id")
        .agg(sum(col("nl")).as("sz"), max(col("nl")).as("nmaj"))
        .filter(col("sz") >= 2)
        .select(col("sz"), col("nmaj"),
          expr("(1000L * nmaj) div sz").as("purity_pm"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
          sum(when(col("purity_pm") === 1000L, 1L).otherwise(0L))
            .as("n_pure"),
          round(sum(col("purity_pm")).cast("double")
            / count(lit(1)).cast("double"), 4).as("mean_purity_pm4"))
    }),

    // Train/test split LEAKAGE audit — near-duplicate pairs that CROSS
    // the q78 hash split: the generalization-integrity check run
    // before trusting any held-out metric (a test doc whose near-dup
    // sits in train inflates every eval; q90 decontaminates against an
    // EXTERNAL benchmark, this audits the split itself). One keyed agg
    // over the memoized same-lang near-dup pair table (the q61/q77
    // relation) with the split labels attached by two equi-joins;
    // pair-symmetric via least/greatest so each (split, split) cell
    // counts once.
    "q323_split_leakage" -> ((s, dir) => {
      val sp = graft.api.PipelineOps
        .trainSplit(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("split"))
      TextQueries.nearDupPairs(s, dir, 0.6)
        .join(sp.select(col("doc_id").as("id_lo"), col("split").as("sa")),
          Seq("id_lo"))
        .join(sp.select(col("doc_id").as("id_hi"), col("split").as("sb")),
          Seq("id_hi"))
        .groupBy(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    }),

    // Incremental dedup — the PRODUCTION dedup shape q66/q77 batch
    // over the whole corpus: yesterday's corpus (the seeded polyMix
    // even half) is sketched as the index, the new batch (odd half)
    // joins its band keys against that index ONLY, and each delta doc
    // reports its match count + best base match (permille Jaccard,
    // integer-exact (1000·inter) div uni, rank ties on min base id).
    // At 100 TB the increment pays O(delta × collisions), never
    // O(corpus²) candidate surface; the split being a pure hash of the
    // data keeps the whole verdict relation hash-gated [D1].
    // Duplication–length bias audit — the fairness check behind every
    // near-dup DROP policy: if duplication concentrates in short (or
    // long) documents, dedup silently reshapes the LENGTH distribution
    // of the surviving corpus. Per pair-degree bucket (0 / 1 / 2 / 3+
    // near-dup partners at the q61 threshold), document count and the
    // [D5] integer-staged mean character length. Rides the
    // session-shared verified pair table (shared:text_pairs06 — zero
    // new pair work); one degree agg + one broadcast-size left join.
    "q378_dup_length_bias" -> ((s, dir) => {
      val pairs = TextQueries.nearDupPairs(s, dir, 0.6)
      val deg = pairs.select(col("id_lo").as("doc_id"))
        .unionAll(pairs.select(col("id_hi").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .join(deg, Seq("doc_id"), "left")
        .withColumn("bucket",
          when(col("deg").isNull, "0").when(col("deg") === 1, "1")
            .when(col("deg") === 2, "2").otherwise("3+"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("s_chars"))
        .select(col("bucket"), col("n_docs"),
          expr("(2 * s_chars + n_docs) div (2 * n_docs)")
            .as("mean_chars"))
        .orderBy("bucket")
    }),

    "q315_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val hm = GraphQueries.HashM
      val flag = pmod(GraphQueries.polyMix(
        pmod(col("doc_id"), lit(hm))), lit(2L))
      val base = docs.filter(flag === 0L)
      val delta = docs.filter(flag === 1L)
      val pairs = graft.api.DedupOps.minhashLshAgainst(
          base, delta, "doc_id", "text", 0.6)
        .withColumn("jac_pm", expr("(1000L * inter) div uni"))
      // r14: n_matches as a count-over-partition window in the SAME
      // exchange as the rank — the earlier groupBy + join-back
      // evaluated the candidate+verify pair join twice and paid one
      // more shuffle; match groups are delta-keyed and bounded, so the
      // window partition is never a hot key
      val w = Window.partitionBy("id_delta")
        .orderBy(col("jac_pm").desc, col("id_base").asc)
      pairs.withColumn("rn", row_number().over(w))
        .withColumn("n_matches",
          count(lit(1)).over(Window.partitionBy("id_delta")))
        .filter(col("rn") === 1)
        .select(col("id_delta"), col("n_matches"), col("id_base"),
          col("jac_pm"))
        .orderBy("id_delta")
    }),

    "q90_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.api.TextOps.decontaminate(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", DecontamN)
        .orderBy("doc_id")
    }),

    // Intra-document repetition (the Gopher-style duplicate-ngram
    // quality signal): per-row expression work only.
    "q91_repetition" -> ((s, dir) =>
      graft.api.TextOps.repetitionScore(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Dataset card: the per-source corpus summary a curated release
    // ships with — doc/token counts, language spread, exact-duplicate
    // rate, mean length — plus the ROLLUP grand-total row. One pass;
    // the two COUNT(DISTINCT)s expand the rollup (3× the input rows
    // pre-aggregation), which is the standard cost of exact distincts
    // and still map-side partial-aggregated.
    "q99_dataset_card" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_toks",
          size(TextFunctions.tokens(col("text"))).cast("long"))
        .rollup("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_uniq"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_toks").as("n_tokens"),
          Dets.decAvg(col("n_chars")).as("avg_chars"),
          // grouping() tags the rollup total — a genuine NULL source
          // group (or one literally named 'TOTAL') must stay
          // distinguishable (it is only valid inside the agg list)
          grouping(col("source")).as("g_src"))
        .select(when(col("g_src") === 1, lit("TOTAL"))
          .otherwise(col("source")).as("source"),
          col("n_docs"), col("n_uniq"),
          round((col("n_docs") - col("n_uniq")).cast("double")
            / col("n_docs"), 4).as("dup_rate"),
          col("n_langs"), col("n_tokens"), col("avg_chars"),
          col("g_src"))
        // g_src tie-break: a source literally named 'TOTAL' would
        // otherwise tie the sort key and make row order
        // partition-dependent (oracle orders by the GROUPING flag too)
        .orderBy("source", "g_src")
        .drop("g_src")),

    // Cross-source near-dup leakage matrix: for every source pair, the
    // number of near-dup edges (q61's jac ≥ 0.6 relation) crossing it —
    // the "is collection B already inside collection A" curation
    // question, asked on near-duplicates because curated corpora rarely
    // share byte-exact texts (this fixture has zero; q60 proves it).
    // The corpus-sized work is the shared cached pair table; attaching
    // sources is two joins against the (doc_id, source) projection and
    // the matrix itself is |sources|² rows. Diagonal rows
    // (source_lo = source_hi) count intra-source near-dups.
    "q100_source_overlap" -> ((s, dir) =>
      sourceOverlap(s, dir,
        TextQueries.nearDupPairs(s, dir, 0.6).select("id_lo", "id_hi"))),

    // q100 on the 100 TB edge source: identical composition, but the
    // near-dup relation comes from q66's banded MinHash-LSH candidate
    // generation (verified at jac ≥ 0.6) instead of the exact blocked
    // quadratic scan — the edge build is bucket-joins + verify-on-
    // candidates, never all-pairs. The oracle replays the full LSH
    // pipeline (lshEdgeCteSql), so the gate is exact, not
    // recall-assumed.
    "q119_overlap_lsh" -> ((s, dir) =>
      sourceOverlap(s, dir,
        SketchQueries.lshNearDupPairs(s, dir, 0.6, Some("lang"))
          .select("id_lo", "id_hi"))),

    // End-to-end curation run: the composed keep-list a corpus release
    // actually ships — quality rules (q104), exact-dup keeper (q60),
    // near-dup cluster representative (q77), and benchmark
    // decontamination (q90) evaluated per document, each surfaced as
    // its own flag so the run reports WHY a doc dropped, keep = all
    // pass. src0 plays the held-out eval suite and is never kept
    // (f_eval tags it; its f_clean defaults clean since it is not
    // scored against itself). Every stage is the already-gated
    // operator's own API; the composition adds only doc_id equi-joins,
    // so the scale shape is the union of the stages' shapes.
    "q116_curation_run" -> ((s, dir) =>
      curationRun(s, dir, clusters06(s, dir))),

    // q116 on the 100 TB edge source (the q110 pattern, text modality):
    // the near-dup stage consumes q66's MinHash-LSH edge set at
    // jac ≥ 0.6 instead of the exact quadratic scan, so every stage of
    // the composed run is the scale shape — bucketed candidates, hash
    // exchanges, broadcast eval grams. Oracle replays the LSH candidate
    // generation exactly.
    "q118_curation_lsh" -> ((s, dir) =>
      curationRun(s, dir, graft.api.DedupOps.clusterResolve(
        t(s, dir, "documents"), "doc_id",
        SketchQueries.lshNearDupPairs(s, dir, 0.6, Some("lang"))
          .select("id_lo", "id_hi"))))
  )

  /** q100/q119's composition, parameterized on the near-dup edge
    * source: attach each edge endpoint's source (two co-keyed joins
    * against the (doc_id, source) projection) and count edges per
    * unordered source pair — the "is collection B already inside
    * collection A" leakage matrix, |sources|² rows. */
  private def sourceOverlap(s: SparkSession, dir: String,
    edges: DataFrame): DataFrame = {
    val src = t(s, dir, "documents").select("doc_id", "source")
    edges
      .join(src.select(col("doc_id").as("id_lo"),
        col("source").as("s_lo")), "id_lo")
      .join(src.select(col("doc_id").as("id_hi"),
        col("source").as("s_hi")), "id_hi")
      .select(least(col("s_lo"), col("s_hi")).as("source_lo"),
        greatest(col("s_lo"), col("s_hi")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_lo", "source_hi")
  }

  /** q116/q118's composition, parameterized on the near-dup edge
    * source (exact blocked scan for the oracle-mirroring form, MinHash-
    * LSH candidates for the scale form — the same parameterization q110
    * proved on the embedding modality). Every stage is the already-
    * gated operator's own API; the composition adds only doc_id
    * equi-joins, so the scale shape is the union of the stages'
    * shapes. */
  /** `nearCl` is the RESOLVED component relation (doc_id, keep) of
    * the run's near-dup edge source — q116 passes the shared
    * clusters06 memo, q118 resolves its lang-LSH edges inline. */
  private def curationRun(s: SparkSession, dir: String,
    nearCl: DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    // The quality and decontamination stages both start from the token
    // array; they read the session-cached tokenized projection, so the
    // corpus tokenizes once across both stages AND both compositions
    // (the exact-dup stage hashes raw text and the near-dup stage
    // consumes the session-cached pair tables, so neither
    // re-tokenizes either).
    val dt = docsTok(s, dir)
    val qual = graft.api.TextOps.qualityRulesFromTokens(dt, "__tk")
      .select(col("doc_id"), col("keep").as("f_quality"))
    val exactKeep = graft.api.DedupOps.exactGroups(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"), lit(1).as("f_exact"))
    val nearKeep = nearCl
      .select(col("doc_id"), col("keep").as("f_near"))
    val clean = graft.api.TextOps.decontaminateFromTokens(
        dt.filter(col("source") =!= "src0"), "doc_id", "__tk",
        dt.filter(col("source") === "src0"), "__tk", DecontamN)
      .select(col("doc_id"),
        (lit(1) - col("contaminated")).cast("int").as("f_clean"))
    docs.select(col("doc_id"), col("source"))
      .join(qual, "doc_id")
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearKeep, "doc_id")
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("source") === "src0", 1).otherwise(0)
          .cast("int").as("f_eval"),
        col("f_quality"),
        coalesce(col("f_exact"), lit(0)).cast("int").as("f_exact"),
        col("f_near"),
        coalesce(col("f_clean"), lit(1)).cast("int").as("f_clean"),
        when(col("source") =!= "src0" && col("f_quality") === 1 &&
          coalesce(col("f_exact"), lit(0)) === 1 &&
          col("f_near") === 1 &&
          coalesce(col("f_clean"), lit(1)) === 1, 1).otherwise(0)
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** CTE chain ending in `ct(doc_id, n_grams, n_hits, contaminated)` —
    * the q90 decontamination replay (src0 as the held-out eval suite),
    * shared with q116's composed curation run so both gate one
    * definition. */
  private def decontamCteSql: String =
    s"""g AS (
       |  SELECT doc_id, source,
       |    ${Sql.ngramHashes(Sql.tokenHashes(Sql.tokens("text")), DecontamN)} AS gr
       |  FROM documents
       |), ev AS (
       |  SELECT DISTINCT unnest(gr) AS g FROM g WHERE source = 'src0'
       |), corp AS (
       |  SELECT doc_id, gr FROM g WHERE source <> 'src0'
       |), hits AS (
       |  SELECT doc_id, COUNT(DISTINCT cg.g) AS n_hits
       |  FROM (SELECT doc_id, unnest(gr) AS g FROM corp) cg
       |  JOIN ev ON cg.g = ev.g
       |  GROUP BY doc_id
       |), ct AS (
       |  SELECT c.doc_id, CAST(len(c.gr) AS BIGINT) AS n_grams,
       |    COALESCE(h.n_hits, 0) AS n_hits,
       |    CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
       |      AS contaminated
       |  FROM corp c LEFT JOIN hits h ON c.doc_id = h.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // the shared quadratic pair replay + the same degree buckets and
    // [D5] mean staging
    "q378_dup_length_bias" ->
      s"""WITH ${TextQueries.nearDupEdgeSql},
         |deg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM (SELECT id_lo AS doc_id FROM e
         |        UNION ALL SELECT id_hi AS doc_id FROM e) z
         |  GROUP BY 1),
         |b AS (
         |  SELECT CASE WHEN deg IS NULL THEN '0'
         |              WHEN deg = 1 THEN '1'
         |              WHEN deg = 2 THEN '2' ELSE '3+' END AS bucket,
         |         n_chars
         |  FROM documents LEFT JOIN deg USING (doc_id)),
         |a AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s_chars
         |  FROM b GROUP BY 1)
         |SELECT bucket, n_docs,
         |       CAST((2 * s_chars + n_docs) // (2 * n_docs) AS BIGINT)
         |         AS mean_chars
         |FROM a ORDER BY bucket ASC NULLS FIRST""".stripMargin,

    // the q77 recursive-components replay + per-doc token counts
    "q327_dup_savings" ->
      s"""WITH RECURSIVE ${TextQueries.nearDupEdgeSql},
         |ed AS (SELECT id_lo AS src, id_hi AS dst FROM e
         |       UNION SELECT id_hi, id_lo FROM e),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM d
         |  UNION
         |  SELECT ed.dst, r.lab FROM reach r JOIN ed ON ed.src = r.node
         |),
         |cl AS (SELECT node AS doc_id,
         |              CASE WHEN MIN(lab) = node THEN 1 ELSE 0 END
         |                AS keep
         |       FROM reach GROUP BY node),
         |nt AS (SELECT doc_id,
         |              CAST(len(${Sql.tokens("text")}) AS BIGINT) AS ntok
         |       FROM documents),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN keep = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_dropped,
         |         CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |         CAST(SUM(CASE WHEN keep = 0 THEN ntok ELSE 0 END)
         |           AS BIGINT) AS tokens_dropped
         |  FROM cl JOIN nt USING (doc_id))
         |SELECT n_docs, n_dropped, n_tokens, tokens_dropped,
         |       (1000 * tokens_dropped) // n_tokens AS savings_pm
         |FROM m""".stripMargin,

    // the q77 recursive-components replay + the source census
    "q325_cluster_purity" ->
      s"""WITH RECURSIVE ${TextQueries.nearDupEdgeSql},
         |ed AS (SELECT id_lo AS src, id_hi AS dst FROM e
         |       UNION SELECT id_hi, id_lo FROM e),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM d
         |  UNION
         |  SELECT ed.dst, r.lab FROM reach r JOIN ed ON ed.src = r.node
         |),
         |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
         |       FROM reach GROUP BY node),
         |sz AS (
         |  SELECT cl.cluster_id, d2.source, CAST(COUNT(*) AS BIGINT)
         |           AS nl
         |  FROM cl JOIN documents d2 ON d2.doc_id = cl.doc_id
         |  GROUP BY 1, 2),
         |per AS (
         |  SELECT cluster_id, CAST(SUM(nl) AS BIGINT) AS sz,
         |         CAST(MAX(nl) AS BIGINT) AS nmaj
         |  FROM sz GROUP BY 1),
         |pp AS (
         |  SELECT sz, nmaj, (1000 * nmaj) // sz AS purity_pm
         |  FROM per WHERE sz >= 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       CAST(SUM(sz) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN purity_pm = 1000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_pure,
         |       ROUND(CAST(SUM(purity_pm) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE), 4) AS mean_purity_pm4
         |FROM pp""".stripMargin,

    "q77_dedup_cluster" ->
      s"""WITH RECURSIVE ${TextQueries.nearDupEdgeSql},
         |ed AS (SELECT id_lo AS src, id_hi AS dst FROM e
         |       UNION SELECT id_hi, id_lo FROM e),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM d
         |  UNION
         |  SELECT ed.dst, r.lab FROM reach r JOIN ed ON ed.src = r.node
         |)
         |SELECT node AS doc_id, MIN(lab) AS cluster_id,
         |       CAST(CASE WHEN MIN(lab) = node THEN 1 ELSE 0 END AS INT) AS keep
         |FROM reach GROUP BY node
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "q83_chunk_tokens" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${Sql.tokens("text")} AS tk,
         |         len(${Sql.tokens("text")}) AS n_tok
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, tk,
         |         unnest(range(0, n_tok, $ChunkStride)) AS start
         |  FROM t WHERE n_tok > 0
         |)
         |SELECT doc_id, CAST(start // $ChunkStride AS INT) AS chunk_id,
         |       CAST(len(tk[start + 1 : start + $ChunkWidth]) AS INT)
         |         AS n_in_chunk,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(tk[start + 1 : start + $ChunkWidth],
         |           t -> ${Sql.charHash("t")})),
         |         (a, h) -> (a * 31 + h) % ${TextFunctions.BandMod}) AS fp
         |FROM s
         |ORDER BY doc_id ASC NULLS FIRST, chunk_id ASC NULLS FIRST""".stripMargin,

    "q109_chunk_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, ${Sql.tokens("text")} AS tk,
         |         len(${Sql.tokens("text")}) AS n_tok
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, source, tk,
         |         unnest(range(0, n_tok, $ChunkStride)) AS start
         |  FROM t WHERE n_tok > 0
         |), ch AS (
         |  SELECT source,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(tk[start + 1 : start + $ChunkWidth],
         |             t -> ${Sql.charHash("t")})),
         |           (a, h) -> (a * 31 + h) % ${TextFunctions.BandMod}) AS fp
         |  FROM s)
         |SELECT source, COUNT(*) AS n_chunks,
         |       COUNT(DISTINCT fp) AS n_unique,
         |       ROUND(1 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 4)
         |         AS dup_rate4
         |FROM ch GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q78_train_split" ->
      s"""SELECT doc_id, ${Sql.charHash("text")} % 10 AS bucket,
         |       CASE WHEN ${Sql.charHash("text")} % 10 < 8 THEN 'train'
         |            WHEN ${Sql.charHash("text")} % 10 = 8 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "q79_pack_tokens" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |         CAST(len(${Sql.tokens("text")}) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT doc_id, lang, n_tok,
         |       CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang
         |         ORDER BY doc_id ASC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |            AS BIGINT) // $PackBudget AS bin
         |FROM q ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // the efficiency replay: the q79 bin assignment + the same two
    // rollups, truncating fill permille
    "q349_pack_efficiency" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |         CAST(len(${Sql.tokens("text")}) AS BIGINT) AS n_tok
         |  FROM documents),
         |p AS (
         |  SELECT lang, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang
         |           ORDER BY doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |              AS BIGINT) // $PackBudget AS bin
         |  FROM q),
         |bins AS (
         |  SELECT lang, bin, COUNT(*) AS nd,
         |         CAST(SUM(n_tok) AS BIGINT) AS nt
         |  FROM p GROUP BY 1, 2),
         |per AS (
         |  SELECT lang, COUNT(*) AS n_bins,
         |         CAST(SUM(nd) AS BIGINT) AS n_docs,
         |         CAST(SUM(nt) AS BIGINT) AS n_tok,
         |         MAX(nt) AS max_bin_tok, MIN(nt) AS min_bin_tok,
         |         CAST(SUM(GREATEST(0, $PackBudget - nt)) AS BIGINT)
         |           AS slack_tok,
         |         CAST(SUM(GREATEST(0, nt - $PackBudget)) AS BIGINT)
         |           AS over_tok
         |  FROM bins GROUP BY 1)
         |SELECT lang, CAST(n_bins AS BIGINT) AS n_bins, n_docs, n_tok,
         |       max_bin_tok, min_bin_tok, slack_tok, over_tok,
         |       CAST(1000 * n_tok // (n_bins * $PackBudget) AS BIGINT)
         |         AS fill_pm
         |FROM per
         |ORDER BY lang ASC NULLS FIRST""".stripMargin,

    "q80_sample_stratified" ->
      s"""SELECT lang, doc_id,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |         ORDER BY ((doc_id % ${TextFunctions.HashMod}) * $Spread) % ${TextFunctions.HashMod} ASC,
         |                  doc_id ASC) AS INT) AS rk
         |FROM documents
         |QUALIFY rk <= $SampleK
         |ORDER BY lang ASC NULLS FIRST, rk ASC NULLS FIRST""".stripMargin,

    "q221_weighted_sample" -> {
      val h = graft.functions.TextFunctions.Sql
        .charHash("CAST(o_orderkey AS VARCHAR)")
      """WITH k AS (
        |  SELECT o_orderkey, o_totalprice,
        |    POW((HS + 1) / 1000000008.0, 1.0 / o_totalprice) AS skey
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |       ROUND(skey * 1e6, 4) AS skey_ppm
        |FROM k
        |ORDER BY skey DESC NULLS LAST, o_orderkey ASC
        |LIMIT 20""".stripMargin.replace("HS", h)
    },

    "q92_mixture_sample" ->
      s"""SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
         |  SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ((doc_id % ${TextFunctions.HashMod}) * $Spread)
         |               % ${TextFunctions.HashMod} ASC, doc_id ASC) AS rk,
         |    CASE lang $MixCase ELSE 0 END AS quota
         |  FROM documents) x
         |WHERE rk <= quota
         |ORDER BY lang ASC NULLS FIRST, rk ASC NULLS FIRST""".stripMargin,

    // same spread-hash order, exclusive window cumsum, soft-budget cut
    "q277_token_budget_mix" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |         CAST(len(${Sql.tokens("text")}) AS BIGINT) AS n_tok,
         |         ((doc_id % ${TextFunctions.HashMod}) * $Spread)
         |           % ${TextFunctions.HashMod} AS h
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
         |           ORDER BY h ASC, doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM d)
         |SELECT source, doc_id, n_tok, cum_before
         |FROM c WHERE cum_before < $TokBudget
         |ORDER BY source ASC NULLS FIRST, doc_id ASC NULLS FIRST"""
        .stripMargin,

    // q77's recursive closure, then the size histogram
    "q278_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${TextQueries.nearDupEdgeSql},
         |ed AS (SELECT id_lo AS src, id_hi AS dst FROM e
         |       UNION SELECT id_hi, id_lo FROM e),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM d
         |  UNION
         |  SELECT ed.dst, r.lab FROM reach r JOIN ed ON ed.src = r.node),
         |cl AS (SELECT node, MIN(lab) AS cluster_id FROM reach
         |       GROUP BY node),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl
         |       GROUP BY cluster_id)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size
         |ORDER BY cluster_size ASC NULLS FIRST""".stripMargin,

    // the q72 quality formula (shared definition), keyed rank, then
    // the interleave position over the unique (src_rank, source) order
    "q272_curriculum_order" ->
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |         CAST(len(${Sql.tokens("text")}) AS BIGINT) AS n_tok,
         |         CAST(len(${Sql.tokenSet("text")}) AS BIGINT) AS n_uniq
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, source,
         |         ROUND(least(CAST(1 AS DOUBLE), n_tok / 50.0)
         |               * (CAST(n_uniq AS DOUBLE) / n_tok), 4) AS quality4
         |  FROM q WHERE n_tok >= 1),
         |rk AS (
         |  SELECT doc_id, source, quality4,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY quality4 DESC, doc_id ASC) AS INT) AS src_rank
         |  FROM sc)
         |SELECT ROW_NUMBER() OVER (ORDER BY src_rank ASC, source ASC)
         |         AS train_pos,
         |       doc_id, source, src_rank, quality4
         |FROM rk
         |ORDER BY train_pos ASC NULLS FIRST""".stripMargin,

    "q81_upsert_latest" ->
      """SELECT user_id, ts AS last_ts, event_type AS last_type,
        |       value AS last_value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) = 1
        |ORDER BY user_id ASC NULLS FIRST""".stripMargin,

    // the shared near-dup edge replay + the q78 split CTE; symmetric
    // least/greatest cells
    "q323_split_leakage" ->
      s"""WITH ${TextQueries.nearDupEdgeSql},
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN ${Sql.charHash("text")} % 10 < 8 THEN 'train'
         |              WHEN ${Sql.charHash("text")} % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents)
         |SELECT LEAST(sa.split, sb.split) AS split_a,
         |       GREATEST(sa.split, sb.split) AS split_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       LEAST(sa.split, sb.split) != GREATEST(sa.split, sb.split)
         |         AS leaky
         |FROM e JOIN sp sa ON sa.doc_id = e.id_lo
         |       JOIN sp sb ON sb.doc_id = e.id_hi
         |GROUP BY 1, 2, 4
         |ORDER BY split_a ASC NULLS FIRST, split_b ASC NULLS FIRST""".stripMargin,

    // the shared full-corpus LSH replay restricted to cross-side
    // pairs via the SAME polyMix split; integer-exact permille from
    // the replay's token sets
    "q315_incremental_dedup" -> {
      val flagSql = s"(${GraphQueries.polyMixSql(
        GraphQueries.pmodSql("doc_id"))}) % 2"
      s"""WITH ${SketchQueries.lshEdgeCteSql(0.6)},
         |fl AS (SELECT doc_id, $flagSql AS fl FROM documents),
         |pd AS (
         |  SELECT CASE WHEN fa.fl = 1 THEN e.id_lo ELSE e.id_hi END
         |           AS id_delta,
         |         CASE WHEN fa.fl = 1 THEN e.id_hi ELSE e.id_lo END
         |           AS id_base
         |  FROM e JOIN fl fa ON fa.doc_id = e.id_lo
         |         JOIN fl fb ON fb.doc_id = e.id_hi
         |  WHERE fa.fl + fb.fl = 1),
         |pj AS (
         |  SELECT pd.id_delta, pd.id_base,
         |         (1000 * CAST(len(list_intersect(da.toks, db.toks))
         |            AS BIGINT))
         |           // CAST(len(list_distinct(da.toks || db.toks))
         |            AS BIGINT) AS jac_pm
         |  FROM pd JOIN d da ON da.doc_id = pd.id_delta
         |          JOIN d db ON db.doc_id = pd.id_base),
         |nm AS (SELECT id_delta, CAST(COUNT(*) AS BIGINT) AS n_matches
         |       FROM pj GROUP BY 1),
         |rk AS (
         |  SELECT id_delta, id_base, jac_pm,
         |         ROW_NUMBER() OVER (PARTITION BY id_delta
         |           ORDER BY jac_pm DESC, id_base ASC) AS rn
         |  FROM pj)
         |SELECT rk.id_delta, nm.n_matches, rk.id_base, rk.jac_pm
         |FROM rk JOIN nm USING (id_delta)
         |WHERE rn = 1
         |ORDER BY id_delta ASC NULLS FIRST""".stripMargin
    },

    "q90_decontam" ->
      s"""WITH $decontamCteSql
         |SELECT doc_id, n_grams, n_hits, contaminated FROM ct
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "q91_repetition" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${Sql.tokenHashes(Sql.tokens("text"))} AS hs
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_tok,
         |    ${Sql.ngramHashes("hs", 2)} AS b2,
         |    ${Sql.ngramHashes("hs", 3)} AS b3
         |  FROM h)
         |SELECT doc_id, n_tok,
         |  CASE WHEN len(b2) = 0 THEN NULL
         |       ELSE ROUND(1 - CAST(len(list_distinct(b2)) AS DOUBLE) / len(b2), 4)
         |  END AS dup2_frac,
         |  CASE WHEN len(b3) = 0 THEN NULL
         |       ELSE ROUND(1 - CAST(len(list_distinct(b3)) AS DOUBLE) / len(b3), 4)
         |  END AS dup3_frac
         |FROM g
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "q99_dataset_card" ->
      s"""WITH d AS (
         |  SELECT source, lang, text, n_chars,
         |         CAST(len(${Sql.tokens("text")}) AS BIGINT) AS n_toks
         |  FROM documents)
         |SELECT CASE WHEN GROUPING(source) = 1 THEN 'TOTAL'
         |            ELSE source END AS source,
         |       COUNT(*) AS n_docs,
         |       COUNT(DISTINCT text) AS n_uniq,
         |       ROUND(CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE)
         |             / COUNT(*), 4) AS dup_rate,
         |       COUNT(DISTINCT lang) AS n_langs,
         |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
         |             / COUNT(*), 4) AS avg_chars
         |FROM d GROUP BY ROLLUP(source)
         |ORDER BY 1 ASC NULLS FIRST, GROUPING(source) ASC""".stripMargin,

    "q100_source_overlap" ->
      sourceOverlapOracleSql(TextQueries.nearDupEdgeSql),

    "q119_overlap_lsh" ->
      sourceOverlapOracleSql(
        SketchQueries.lshEdgeCteSql(0.6, langBlocked = true)),

    "q116_curation_run" ->
      curationRunOracleSql(TextQueries.nearDupEdgeSql),

    "q118_curation_lsh" ->
      curationRunOracleSql(
        SketchQueries.lshEdgeCteSql(0.6, langBlocked = true))
  )

  /** q100/q119's shared oracle replay, parameterized on the edge CTE
    * (exact quadratic / LSH candidate generation) — both edge CTEs end
    * in `e(id_lo, id_hi, jac)`. */
  private def sourceOverlapOracleSql(edgeCte: String): String =
    s"""WITH $edgeCte,
       |sp AS (
       |  SELECT LEAST(da.source, db.source) AS source_lo,
       |         GREATEST(da.source, db.source) AS source_hi
       |  FROM e JOIN documents da ON e.id_lo = da.doc_id
       |         JOIN documents db ON e.id_hi = db.doc_id)
       |SELECT source_lo, source_hi, COUNT(*) AS n_pairs
       |FROM sp GROUP BY source_lo, source_hi
       |ORDER BY source_lo ASC NULLS FIRST, source_hi ASC NULLS FIRST"""
      .stripMargin

  /** q116/q118's composed replay: near-dup closure (q77's recursive CTE
    * over the parameterized edge set `e`, vertex set `d`), quality
    * rules (q104's shared CTE), exact keepers, and the decontamination
    * chain (q90's shared CTE), joined per doc. */
  private def curationRunOracleSql(edgeCte: String): String =
    s"""WITH RECURSIVE $edgeCte,
       |${CurationQueries.qualityRuleCteSql},
       |$decontamCteSql,
       |ek AS (SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY text),
       |ed2 AS (SELECT id_lo AS src, id_hi AS dst FROM e
       |        UNION SELECT id_hi, id_lo FROM e),
       |reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM d
       |  UNION
       |  SELECT ed2.dst, r.lab FROM reach r JOIN ed2 ON ed2.src = r.node
       |),
       |nk AS (SELECT node AS doc_id,
       |              CASE WHEN MIN(lab) = node THEN 1 ELSE 0 END AS f_near
       |       FROM reach GROUP BY node)
       |SELECT dd.doc_id,
       |  CAST(CASE WHEN dd.source = 'src0' THEN 1 ELSE 0 END AS INT)
       |    AS f_eval,
       |  CAST(CASE WHEN qr.r_len AND qr.r_wordlen AND qr.r_stop
       |            AND qr.r_ttr THEN 1 ELSE 0 END AS INT) AS f_quality,
       |  CAST(CASE WHEN ek.keep_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
       |    AS f_exact,
       |  CAST(nk.f_near AS INT) AS f_near,
       |  CAST(COALESCE(1 - ct.contaminated, 1) AS INT) AS f_clean,
       |  CAST(CASE WHEN dd.source != 'src0'
       |            AND qr.r_len AND qr.r_wordlen AND qr.r_stop AND qr.r_ttr
       |            AND ek.keep_id IS NOT NULL
       |            AND nk.f_near = 1
       |            AND COALESCE(ct.contaminated, 0) = 0
       |       THEN 1 ELSE 0 END AS INT) AS keep
       |FROM documents dd
       |JOIN qr ON dd.doc_id = qr.doc_id
       |LEFT JOIN ek ON dd.doc_id = ek.keep_id
       |JOIN nk ON dd.doc_id = nk.doc_id
       |LEFT JOIN ct ON dd.doc_id = ct.doc_id
       |ORDER BY dd.doc_id ASC NULLS FIRST""".stripMargin
}
