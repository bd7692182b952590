package graft.operators

import graft.{Dets, Tables}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.Sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.12 corpus-curation operators (round 3) — the second tier of
  * training-data pipeline ops on the `documents` table:
  *
  *  - q103 bigram-LM surprisal (the 2-gram extension of q98's unigram
  *    perplexity filter),
  *  - q104 rule-based quality gating (Gopher-style bounds as an
  *    auditable flag bitmask),
  *  - q105 per-source length quantiles (distributed exact percentiles
  *    via GlobalRank.cumSum — the q46 machinery on a second domain),
  *  - q106 top-k n-grams per source (the bounded-heap TopKPerGroup
  *    operator on corpus n-gram counts),
  *  - q107 temperature-scaled mixture planning (per-source sampling
  *    weights and epoch counts for a token budget).
  *
  * Scale notes: every per-document score is a pure projection over the
  * token array (codegen, zero shuffle). Bigrams/trigrams are built
  * ARRAY-LOCALLY with `transform(sequence(...))` over adjacent
  * positions — no per-token window, no (doc, pos) shuffle; the only
  * exchanges are the hash aggs on n-gram keys, which collapse
  * occurrences to the (bounded) vocabulary before any join, exactly
  * like q98. q105 inherits cumSum's range-bucketed parallelism; q106
  * bounds its shuffle to k rows per (source, partition).
  */
object CurationQueries {
  import Dets._

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.loadSpread(s, dir, n)

  private val NovelN = 8

  /** q122 boilerplate-prefix length (tokens). */
  private val PrefixK = 8

  /** q123 PMI support floor and list depth. */
  private val PmiMinCount = 5
  private val PmiTopK = 50

  /** q235 training steps (weight updates); the trace has PercIters + 1
    * rows. Mirrored in the oracle's unrolled CTEs. */
  private[graft] val PercIters = 3

  /** The q235 feature columns, in trace order. */
  private[graft] val PercFeatures = Seq("f_ntok", "f_wlen", "f_ttr", "f_stop")

  /** Adjacent-pair (w1, w2) bigrams, built inside the token array.
    * Spark's `sequence(1, 0)` is the DESCENDING [1, 0] — not empty —
    * so docs with < 2 tokens must be filtered before the transform
    * (DuckDB's `range` is empty there; the filter makes both engines
    * drop bigram-less docs identically). */
  private def bigrams(docs: DataFrame): DataFrame =
    docs.withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('w1', toks[i-1], 'w2', toks[i]))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bigram-LM mean surprisal per doc: surprisal(w1 w2) =
    // ln(cf(w1) / bf(w1, w2)) with cf the count of w1 as a bigram
    // context (= sum of bf over its continuations — NOT the unigram
    // count, which also counts doc-final tokens that condition
    // nothing). Two hash aggs collapse token occurrences to distinct
    // bigrams before the occurrence join; per-occurrence terms are
    // 6dp-quantized and decimal-summed (q98's [D2] pattern) so the
    // score is partition-invariant.
    "q103_bigram_surprisal" -> ((s, dir) => {
      // Occurrences pre-collapse to (doc_id, bigram, c) with one hash
      // agg BEFORE any join — within-doc bigram repeats are common in
      // natural text, so the joined row count drops from corpus
      // occurrences to per-doc distinct bigrams. The bigram strings are
      // then DROPPED: all downstream joins/aggs key on 64-bit xxhash64
      // keys (h2 = hash of the pair, h1 = hash of the context), so the
      // shuffles move two longs instead of two strings. A merge needs
      // the full (h1, h2) composite to collide between distinct
      // bigrams — at vocabulary scale (≤ ~1e9 types) that chance is
      // negligible, and the sf0.01 oracle hash-compare would surface
      // one loudly.
      val occ =
        bigrams(t(s, dir, "documents"))
          .select(col("doc_id"), xxhash64(col("w1")).as("h1"),
            xxhash64(col("w1"), col("w2")).as("h2"))
          .groupBy("doc_id", "h1", "h2")
          .agg(count(lit(1)).as("c"))
      val bf = occ.groupBy("h1", "h2").agg(sum("c").as("bf"))
      // Fold the context total into a per-BIGRAM term table before
      // touching occurrences: bf⋈cf is a vocabulary-sized join (both
      // sides collapse to distinct bigrams/contexts), so occ pays ONE
      // occurrence-sized join against it instead of two. The occ agg
      // subtree appears on both sides of the plan; ReuseExchange
      // computes its shuffle once (no persist barrier needed — and no
      // InMemoryRelation blocking AQE's runtime join planning).
      val term = bf.join(bf.groupBy("h1").agg(sum("bf").as("cf")), Seq("h1"))
        .select(col("h1"), col("h2"),
          round(log(col("cf").cast("double") / col("bf")), 6).cast(Dec)
            .as("term"))
      occ.join(term, Seq("h1", "h2"))
        .groupBy("doc_id")
        // Σ_occurrences term == Σ_distinct term·c exactly (term is a
        // 6dp decimal, c integral), so the decimal sum — and the final
        // double division — match the per-occurrence oracle bit-for-bit
        .agg(sum(col("c")).as("n_bigrams"),
          round(sum(col("term") * col("c")).cast("double")
            / sum(col("c")), 4).as("surprisal4"))
        .orderBy("doc_id")
    }),

    // Gopher-style rule gate: token-count bounds, mean-token-length
    // band, minimum stopword share, minimum type-token ratio — each
    // rule integer-exact (cross-multiplied, no float ratios) and
    // surfaced as a bit in `flags` so a curation run can report WHY a
    // doc was dropped, not just that it was. The projection itself is
    // the shared TextOps.qualityRules — the same stateless expression
    // tree the streaming curation gate runs on an arriving stream.
    // Quantile normalization of the quality score across sources — the
    // batch-effect correction applied before mixing corpora: each
    // source's raw score distribution maps onto the GLOBAL score
    // distribution by rank (a doc at within-source quantile u gets the
    // global score at quantile u), so a source whose scorer runs hot
    // or cold stops distorting the mixture's quality cut. Pure rank
    // arithmetic: global rank gr = ((2r−1)·N) div (2·n_s) + 1 — integer
    // end to end, no interpolation formula to drift across engines;
    // the normalized value is PICKED from the pool, never computed.
    // Per-source ranks are keyed windows; the global pool ranking runs
    // through the partition-offset GlobalRank (no single-task window).
    "q279_quantile_norm" -> ((s, dir) => {
      val sc = graft.api.TextOps
        .qualityScore(t(s, dir, "documents"), "text")
        .filter(col("n_tok") >= 1)
        .select(col("doc_id"), col("source"), col("quality"))
      val rk = sc.withColumn("r",
        row_number().over(Window.partitionBy("source")
          .orderBy(col("quality").asc, col("doc_id").asc)))
      val ns = sc.groupBy("source").agg(count(lit(1)).as("ns"))
      val (pool, n) = graft.functions.GlobalRank.rowNumberWithTotal(
        sc.select(col("quality"), col("doc_id")),
        Seq(col("quality").asc, col("doc_id").asc))
      val ref = pool.select(col("rn").as("gr"),
        col("quality").as("norm_q4"))
      rk.join(broadcast(ns), "source")
        .withColumn("gr",
          // the (2r−1)·N product is staged through decimal(38,0): as
          // int64 it wraps silently once the corpus passes ~2.1e9
          // scored docs (r and N both ~N); IntegralDivide on decimals
          // still returns BIGINT, so gr's type — and the join — are
          // unchanged. All operands are positive, so div == floor and
          // the DuckDB HUGEINT replay agrees bit for bit.
          expr(s"((2 * cast(r as decimal(38,0)) - 1) * ${n}L)" +
            " div (2 * ns) + 1"))
        .join(ref, "gr")
        .select(col("doc_id"), col("source"),
          col("quality").as("quality4"), col("norm_q4"))
        .orderBy("doc_id")
    }),

    // k-anonymity audit — the release-governance check a dataset runs
    // before publication: group by the quasi-identifier tuple
    // (lang, source, length band) and flag every class smaller than
    // k = 5, whose members a re-identification join could single out.
    // The audit emits ALL classes with sizes (the at-risk flag is the
    // action signal; suppression/generalization would target those
    // rows). One map-side-combinable agg over QI-bounded groups —
    // constant output at any corpus size.
    "q275_kanon_audit" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 200").as("len_band"))
        .groupBy("lang", "source", "len_band")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("at_risk",
          when(col("n_docs") < 5, 1).otherwise(0).cast("int"))
        .orderBy("lang", "source", "len_band")),

    "q104_quality_rules" -> ((s, dir) =>
      graft.api.TextOps.qualityRules(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tok", "flags", "keep")
        .orderBy("doc_id")),

    // Exact per-source length percentiles (p50/p90 of n_chars) via the
    // distributed histogram cumsum — the q46 quartile machinery reused
    // on a second (table, group, order) binding. The value histogram
    // collapses hard here (n_chars domain is bounded); thresholds use
    // the same integer ceil arithmetic as q46.
    "q105_len_quantiles" -> ((s, dir) => {
      val hist = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      graft.functions.GlobalRank.cumSum(hist, "source", "n_chars", "cnt")
        .groupBy("source")
        .agg(
          min(when(col("cum") * 2 >= col("n"), col("n_chars"))).as("p50"),
          min(when(col("cum") * 10 >= col("n") * 9, col("n_chars")))
            .as("p90"))
        .orderBy("source")
    }),

    // Top-3 trigrams per source by corpus count (tie-break: trigram
    // text asc — total order). Trigrams are array-local strings; the
    // count agg collapses to the trigram vocabulary map-side, and the
    // custom TopKPerGroup operator bounds the final shuffle to k rows
    // per (source, partition) — no full window sort anywhere.
    "q106_topk_ngrams" -> ((s, dir) => {
      val tri = t(s, dir, "documents")
        .withColumn("toks", TextFunctions.tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(toks) - 2), " +
            "i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))"))
          .as("tri"))
      val cnt = tri.groupBy("source", "tri").agg(count(lit(1)).as("cnt"))
      graft.plans.GraftOps.topKPerGroup(cnt, Seq(col("source")),
          Seq(col("cnt").desc, col("tri").asc), 3)
        .orderBy("source", "rn")
    }),

    // Shared-prefix boilerplate detection: documents opening with the
    // same first-PrefixK tokens (headers, licence stanzas, template
    // intros — the boilerplate signal a curation pipeline strips or
    // downweights at document level). The group key is a bounded
    // string (≤ PrefixK tokens), the hash agg collapses map-side to
    // distinct prefixes, and only prefixes shared by ≥ 2 docs survive
    // — output-sized by the amount of boilerplate, not the corpus.
    "q122_boilerplate_prefix" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, PrefixK),
            " ").as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("source")).as("n_sources"),
          min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix"))),

    // Adjacent-bigram pointwise mutual information over corpus counts —
    // collocation mining (tokenizer-merge and phrase audits): pmi =
    // ln(p(w1,w2) / (p(w1)·p(w2))) with a support floor of PmiMinCount.
    // Both count tables are vocabulary-sized hash aggs (occurrences
    // collapse map-side); the two corpus totals attach as one-row
    // broadcasts; the final top-PmiTopK on (pmi4 desc, w1, w2) compiles
    // to TakeOrderedAndProject — no global sort. The pmi expression's
    // association order is mirrored exactly in the oracle (every
    // product/division is correctly rounded IEEE, so identical trees
    // give identical doubles).
    "q123_pmi_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val uni = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("uc"))
      val bgAll = bigrams(docs).groupBy("w1", "w2")
        .agg(count(lit(1)).as("bc"))
      val n1 = broadcast(uni.agg(sum(col("uc")).cast("double").as("n1")))
      val n2 = broadcast(bgAll.agg(sum(col("bc")).cast("double").as("n2")))
      bgAll.filter(col("bc") >= PmiMinCount)
        .join(uni.select(col("w").as("w1"), col("uc").as("uc1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("uc").as("uc2")), Seq("w2"))
        .crossJoin(n1).crossJoin(n2)
        .select(col("w1"), col("w2"), col("bc"),
          round(log(col("bc").cast("double") * col("n1") * col("n1")
            / (col("n2") * col("uc1") * col("uc2"))), 4).as("pmi4"))
        .orderBy(col("pmi4").desc, col("w1"), col("w2"))
        .limit(PmiTopK)
    }),

    // Corpus n-gram novelty — the diversity/staleness signal a crawl
    // pipeline tracks per ingestion batch: of a document's DISTINCT
    // 8-gram fingerprints, how many appear in NO earlier document
    // (attribution by min doc_id — deterministic, order-free)?
    // Boilerplate-heavy or re-crawled docs score near 0. Scale shape:
    // one distinct-gram explode (64-bit keys), a gram-vocabulary
    // collapse to first_doc = MIN(doc_id), and an occurrence join keyed
    // on the gram hash — the q98/q103 vocabulary-collapse-first
    // pattern; every gram is attributed to exactly ONE document, so
    // Σ n_novel = |corpus gram vocabulary| (asserted in PipelineSpec).
    "q121_gram_novelty" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, dir, "documents")
      val dg = docs.select(col("doc_id"), array_distinct(
        call_function("graft_ngram_hashes",
          call_function("graft_token_hashes",
            TextFunctions.tokens(col("text"))), lit(NovelN))).as("gr"))
      val occ = dg.select(col("doc_id"), explode(col("gr")).as("g"))
      val first = occ.groupBy("g").agg(min("doc_id").as("first_doc"))
      val nov = occ.join(first, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
            .as("n_novel"))
      docs.select("doc_id").join(nov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(safeDiv(coalesce(col("n_novel"), lit(0L)).cast("double"),
            coalesce(col("n_distinct"), lit(0L))), 4).as("novelty4"))
        .orderBy("doc_id")
    }),

    // Trainable quality classifier — the LEARNED curation stage the
    // rule gate (q104) and the LM-surprisal gates (q98/q103) bracket:
    // a batch perceptron distilling the q104 keep label into a linear
    // model over four integer features (token count + permille
    // word-length / type-token / stopword ratios). PercIters
    // mean-gradient steps, each ONE full pass collapsing to a single
    // aggregate row (map-side partials, no shuffle) — the irreducible
    // batch-training shape at 100 TB — with the tiny weight vector
    // folded back as literals (the PQ-codebook bounded-driver
    // convention). INTEGER-EXACT end to end ([D5]: sign-explicit
    // truncating division for the 1/N learning rate), so the oracle's
    // unrolled CTEs replay every weight and misclassification count
    // bit-for-bit. Output: the training trace, one row per step. The
    // trace memoizes per (session, dir) — q237 scores with the same
    // trained model, so a session answering both pays ONE training run
    // (the PQ-codebook convention).
    "q235_quality_perceptron" -> ((s, dir) => percTrace(s, dir)),

    // The trained classifier APPLIED — the report a curation run reads
    // before trusting a learned gate: score every document with the
    // final q235 weights (integer margin; > 0 = predicted keep) and
    // roll up per (lang, source) the predicted-keep count, the q104
    // rule-keep count, and their agreement. One projection + one
    // map-side-combinable aggregation over the feature view; the
    // weights fold in as literals from the memoized trace. Zero-token
    // documents are outside the feature domain (q235 contract) and so
    // outside this report.
    // McNemar's test between the repo's two quality gates — the
    // paired-classifier comparison a pipeline runs before SWAPPING
    // gates (q237 reports agreement; this tests whether the
    // DISAGREEMENTS are one-sided): over the same documents, b =
    // rule-keep ∧ learned-drop, c = rule-drop ∧ learned-keep, χ² =
    // (b−c)²/(b+c) on the discordant pairs only. One projection + one
    // global agg over the shared feature view with the memoized
    // trained weights folded in as literals; the statistic is a
    // shared-string double formula over exact integer counts, NULL
    // when the gates never disagree.
    "q298_mcnemar_gates" -> ((s, dir) => {
      percScored(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0 && col("keep") === 1, 1L)
            .otherwise(0L)).as("n_both_keep"),
          sum(when(col("score") <= 0 && col("keep") =!= 1, 1L)
            .otherwise(0L)).as("n_both_drop"),
          sum(when(col("score") <= 0 && col("keep") === 1, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("score") > 0 && col("keep") =!= 1, 1L)
            .otherwise(0L)).as("c"))
        .select(col("n_docs"), col("n_both_keep"), col("n_both_drop"),
          col("b"), col("c"), expr(McnemarFormula.chi6).as("mcnemar6"))
    }),

    // Chance-corrected agreement between the same two gates — q298
    // tests whether the disagreements are one-sided; this measures how
    // much the gates agree BEYOND chance (Cohen's kappa) and the full
    // four-cell association (Matthews correlation): the pair of
    // numbers a curation team reads before trusting one gate as the
    // other's stand-in. Same single projection + global 2×2 agg over
    // the shared feature view; both statistics are shared-string
    // double formulas over the exact integer cells — kappa NULL when
    // chance agreement is already 1 (both gates constant), MCC NULL
    // when any marginal is empty.
    "q299_gate_kappa" -> ((s, dir) => {
      percScored(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0 && col("keep") === 1, 1L)
            .otherwise(0L)).as("ka"),
          sum(when(col("score") <= 0 && col("keep") =!= 1, 1L)
            .otherwise(0L)).as("kd"),
          sum(when(col("score") <= 0 && col("keep") === 1, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("score") > 0 && col("keep") =!= 1, 1L)
            .otherwise(0L)).as("c"))
        .select(col("n_docs"), (col("ka") + col("kd")).as("n_agree"),
          col("b"), col("c"), expr(KappaFormula.kappa6).as("kappa6"),
          expr(KappaFormula.mcc6).as("mcc6"))
    }),

    // Information gain per quality feature — the FEATURE-SELECTION
    // readout of the q235 family (q251 measures linear correlation
    // between features; this measures how much each feature, binarized
    // at its integer mean, actually tells you about the keep label):
    // IG = MI(feature_hi; keep) over the per-feature 2×2 grid, the
    // q201 mutual-information shape applied to the model's own inputs.
    // The mean threshold is the EXACT integer comparison v·n > Σv (no
    // float mean); per-cell MI terms are 6dp-quantized and decimal-
    // summed [D2]; counts stage through DOUBLE before any product (n²
    // overflows int64 past ~3e9 docs).
    "q305_info_gain" -> ((s, dir) => {
      val feats = graft.api.TextOps
        .qualityFeatures(t(s, dir, "documents"), "text")
      val fv = feats.select(col("keep"), expr(
        "stack(4, 'f_ntok', f_ntok, 'f_wlen', f_wlen, " +
          "'f_ttr', f_ttr, 'f_stop', f_stop) as (feature, v)"))
      val tot = fv.groupBy("feature")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val cells = fv.join(broadcast(tot), Seq("feature"))
        .groupBy(col("feature"),
          (col("v") * col("n") > col("sv")).cast("long").as("hi"),
          (col("keep") === 1).cast("long").as("yy"))
        .agg(count(lit(1)).as("n_xy"))
      val nx = cells.groupBy("feature", "hi").agg(sum("n_xy").as("n_x"))
      val ny = cells.groupBy("feature", "yy").agg(sum("n_xy").as("n_y"))
      val na = cells.groupBy("feature").agg(sum("n_xy").as("n_all"))
      cells.join(nx, Seq("feature", "hi")).join(ny, Seq("feature", "yy"))
        .join(broadcast(na), Seq("feature"))
        .withColumn("term",
          round((col("n_xy").cast("double") / col("n_all").cast("double"))
            * log((col("n_xy").cast("double") * col("n_all").cast("double"))
              / (col("n_x").cast("double") * col("n_y").cast("double"))),
            6).cast(Dec))
        .groupBy("feature")
        .agg(coalesce(sum(when(col("hi") === 1, col("n_xy"))), lit(0L))
          .as("n_hi"),
          round(sum(col("term")).cast("double"), 4).as("ig4"))
        .orderBy("feature")
    }),

    // Per-language gate health with uncertainty — the keep-rate of the
    // q104 rules gate PLUS its Wilson-score lower bound (z = 1.96):
    // the governance row a curation dashboard alerts on, where a small
    // stratum's 100% keep-rate must NOT read as healthy (its Wilson
    // floor says how little that rate is worth). One projection + one
    // keyed agg; the bound is a shared-string IEEE tree over the exact
    // (k, n) integers.
    "q316_wilson_gate" -> ((s, dir) =>
      graft.api.TextOps
        .qualityFeatures(t(s, dir, "documents"), "text")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep") === 1, 1L).otherwise(0L)).as("k"))
        .select(col("lang"), col("n"), col("k"),
          expr(WilsonFormula.rate6).as("rate6"),
          expr(WilsonFormula.lo6).as("wilson_lo6"))
        .orderBy("lang")),

    // Differentially-private release counts — per-source document
    // counts with Laplace(1/ε) noise, ε = 1: the privacy-preserving
    // telemetry shape (publish corpus composition without exact
    // counts). The "randomness" is the SEEDED inverse-CDF draw from
    // the polyMix hash of the source name — a pure function of the
    // data [D1], so the released noisy counts are themselves
    // hash-gated rows (the q226/q297 seeded-sampling convention
    // applied to noise); u ∈ (0,1) exactly via (2h+1)/(2M).
    "q318_dp_counts" -> ((s, dir) => {
      val hm = GraphQueries.HashM
      t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("h", GraphQueries.polyMix(
          expr(TextFunctions.charHash("source"))))
        .withColumn("u",
          (col("h") * 2 + 1).cast("double") / lit(2.0 * hm))
        .select(col("source"), col("n_docs"),
          expr(DpFormula.noise6).as("noise6"),
          expr(DpFormula.noisy6).as("noisy6"))
        .orderBy("source")
    }),

    "q237_quality_score_rollup" -> ((s, dir) => {
      percScored(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pred_keep"),
          sum(col("keep").cast("long")).as("n_rule_keep"),
          sum(when((col("score") > 0) === (col("keep") === 1), 1L)
            .otherwise(0L)).as("n_agree"))
        .orderBy("lang", "source")
    }),

    // Calibration of the trained classifier by margin decile — the
    // "is the learned score monotone in label rate" audit read before
    // thresholding a learned gate: rank every scored document globally
    // (score desc, doc_id ties [D2]) through the partition-offset
    // ranker (GlobalRank — no single-task window), bucket into integer
    // deciles by pure rank arithmetic, and report per decile the doc
    // count, the q104 rule-keep count, and the margin range. All
    // integers end to end; one ranking pass + one agg.
    "q241_quality_calibration" -> ((s, dir) => {
      val scored = percScored(s, dir)
        .select(col("doc_id"), col("keep"), col("score"))
      val (ranked, n) = graft.functions.GlobalRank.rowNumberWithTotal(
        scored, Seq(col("score").desc, col("doc_id").asc))
      ranked
        .withColumn("decile",
          expr(s"(rn - 1) * 10 div ${n}L + 1").cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast("long")).as("n_rule_keep"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy("decile")
    }),

    // Exact ROC AUC of the trained classifier, per language — the one
    // threshold-free discrimination metric the q235/q237/q241 family
    // still lacked (calibration says "is the score monotone"; AUC says
    // "does it rank keeps above drops at all"), split by lang so it
    // doubles as the fairness audit of a learned gate. Computed in the
    // Mann–Whitney rank-sum form over the SCORE HISTOGRAM (the q186
    // machinery): per lang, 2·U = Σ_s c1(s)·(2·cum0(<s) + c0(s))
    // counts pos-beats-neg pairs twice and score ties once — all
    // INTEGER-EXACT, no per-pair join, no per-doc sort; auc_pm is the
    // [D5] truncating permille. One histogram agg + one
    // range-partitioned cumulative sum; at 1e9 docs/lang 2·U tops out
    // near 2e18, inside int64 (past that, the q186 decimal staging).
    "q249_quality_auc" -> ((s, dir) => {
      val h = percScored(s, dir)
        .groupBy("lang", "score")
        .agg(sum(col("keep").cast("long")).as("c1"),
          sum(lit(1L) - col("keep").cast("long")).as("c0"))
      val r = graft.functions.GlobalRank.cumSum(h, "lang", "score", "c0")
      r.groupBy("lang")
        .agg(sum(col("c1")).as("n_pos"), sum(col("c0")).as("n_neg"),
          sum(col("c1") * (lit(2L) * (col("cum") - col("c0")) + col("c0")))
            .as("u2"))
        .select(col("lang"), col("n_pos"), col("n_neg"), col("u2"),
          when(col("n_pos") === 0 || col("n_neg") === 0,
            lit(null).cast("long"))
            .otherwise(expr("(1000L * u2) div (2L * n_pos * n_neg)"))
            .as("auc_pm"))
        .orderBy("lang")
    }),

    // Pearson correlation matrix over the q235 feature set, in ONE
    // corpus pass — the collinearity diagnostic read before trusting
    // (or pruning) a linear model's features: all 4 sums, 4 squares,
    // and 6 cross-products accumulate in a single map-side-combinable
    // aggregate (the irreducible one-scan moment-matrix shape at
    // 100 TB; the per-row products stay far inside int64 — permille
    // ratios are ≤ ~2·10⁴ and doc token counts ≤ ~10⁹ keep x·y under
    // 2^63 — and the sums are exact DECIMAL(38,0) [D2]); the six pair
    // rows then fold out
    // of the ONE materialized aggregate row (localCheckpoint, so the
    // corpus is not re-scanned per pair). corr = (n·Sxy − Sx·Sy) /
    // √(n·Sxx − Sx²)·√(n·Syy − Sy²), every inner term an exact
    // integer on both engines (HUGEINT on the oracle side, q186
    // convention), the one float formula rounded to 6dp [D3]; a
    // zero-variance feature reports NULL, not a crashed stage.
    "q251_feature_corr" -> ((s, dir) => {
      val fs = PercFeatures
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val f = graft.api.TextOps
        .qualityFeatures(t(s, dir, "documents"), "text")
      val aggs = count(lit(1)).cast("decimal(38,0)").as("n") +:
        (fs.map(a => sum(d38(col(a))).as(s"s_$a")) ++
          (for { i <- fs.indices; j <- i until fs.size }
            yield sum(d38(col(fs(i)) * col(fs(j))))
              .as(s"p_${fs(i)}_${fs(j)}")))
      val m = f.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
      def varOf(a: String) =
        col("n") * col(s"p_${a}_$a") - col(s"s_$a") * col(s"s_$a")
      val pairs = for {
        i <- fs.indices; j <- i + 1 until fs.size
      } yield {
        val (a, b) = (fs(i), fs(j))
        m.select(lit(a).as("fa"), lit(b).as("fb"),
          col("n").cast("long").as("n_docs"),
          when(varOf(a) > 0 && varOf(b) > 0,
            round((col("n") * col(s"p_${a}_$b")
              - col(s"s_$a") * col(s"s_$b")).cast("double")
              / (sqrt(varOf(a).cast("double"))
                * sqrt(varOf(b).cast("double"))), 6))
            .as("corr6"))
      }
      pairs.reduce(_ unionByName _).orderBy("fa", "fb")
    }),

    // Cronbach's alpha (Cronbach 1951, public textbook) over the
    // quality rubric's three permille ratio items (f_wlen, f_ttr,
    // f_stop) — the internal-consistency scalar a rubric owner gates
    // on before trusting a composite quality score: q251 reports the
    // pairwise correlations, alpha says whether the items jointly
    // measure ONE latent trait (α = k/(k−1)·(1 − Σvar_i/var_total)
    // over the item and total-score variances). ONE exact integer
    // moment row (Σx, Σx² per item, Σrow, Σrow² for the total,
    // decimal-staged) — the 1/n factors cancel, so alpha and the
    // population variances are each a single shared-string IEEE tree
    // (CronbachFormula) over those sums; a constant total score
    // reports NULL, not a crashed stage.
    "q361_cronbach_alpha" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val f = graft.api.TextOps
        .qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("f_wlen").as("x1"), col("f_ttr").as("x2"),
          col("f_stop").as("x3"))
        .withColumn("xt", col("x1") + col("x2") + col("x3"))
      f.agg(count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
          sum(col("x3")).as("s3"),
          sum(d38(col("x1")) * col("x1")).as("q1"),
          sum(d38(col("x2")) * col("x2")).as("q2"),
          sum(d38(col("x3")) * col("x3")).as("q3"),
          sum(col("xt")).as("st"),
          sum(d38(col("xt")) * col("xt")).as("qt"))
        .select(col("n").as("n_docs"),
          expr(CronbachFormula.v6("1")).as("var_wlen6"),
          expr(CronbachFormula.v6("2")).as("var_ttr6"),
          expr(CronbachFormula.v6("3")).as("var_stop6"),
          expr(CronbachFormula.vt6).as("var_tot6"),
          expr(CronbachFormula.alpha4).as("alpha4"))
    }),

    // Average precision of the trained quality classifier, per
    // language — the PR-side companion of q249's ROC AUC (AUC is
    // prevalence-blind; AP is the number that moves when keeps are
    // rare, which is exactly the curation regime), reported next to
    // the prevalence baseline a random ranker would score. Step-
    // interpolated at score-threshold granularity over the SAME score
    // histogram as q249 (no per-doc sort): AP = Σ_s (c1_s/n_pos) ·
    // P(≥s) with both cumulatives from the distributed cumSum (two
    // passes over the bounded histogram); per-threshold terms
    // 8dp-quantized + decimal-summed [D2], divisions all-double (no
    // int64 product can overflow). A language with zero keeps has no
    // defined AP and drops (mirrored WHERE on both engines).
    "q365_avg_precision" -> ((s, dir) => {
      val h = percScored(s, dir)
        .groupBy("lang", "score")
        .agg(sum(col("keep").cast("long")).as("c1"),
          sum(lit(1L) - col("keep").cast("long")).as("c0"))
      val cp = graft.functions.GlobalRank.cumSum(h, "lang", "score", "c1")
        .select(col("lang"), col("score"), col("cum").as("cum1"),
          col("n").as("n_pos"))
      val ca = graft.functions.GlobalRank.cumSum(
          h.withColumn("call", col("c1") + col("c0")),
          "lang", "score", "call")
        .select(col("lang"), col("score"), col("c1"), col("c0"),
          col("call"), col("cum").as("cuma"), col("n").as("n_all"))
      ca.join(cp, Seq("lang", "score"))
        .filter(col("n_pos") > 0)
        .withColumn("t8", round(
          col("c1").cast("double")
            * (col("n_pos") - (col("cum1") - col("c1"))).cast("double")
            / ((col("n_all") - (col("cuma") - col("call"))).cast("double")
              * col("n_pos").cast("double")), 8).cast("decimal(38,8)"))
        .groupBy("lang")
        .agg(max(col("n_pos")).as("n_pos"),
          (max(col("n_all")) - max(col("n_pos"))).as("n_neg"),
          round(sum(col("t8")).cast("double"), 6).as("ap6"))
        .select(col("lang"), col("n_pos"), col("n_neg"), col("ap6"),
          round(col("n_pos").cast("double")
            / (col("n_pos") + col("n_neg")).cast("double"), 6).as("prev6"))
        .orderBy("lang")
    }),

    // Temperature-scaled (τ = 0.5) data-mixture plan: per-source
    // sampling weight w_i = sqrt(c_i) / Σ sqrt(c_j) over token counts,
    // and the epochs of source i a budget of Σ c_j tokens implies
    // (epochs_i = budget · w_i / c_i — upsampling small sources, the
    // standard low-resource rebalance). The per-source sqrt is
    // 6dp-quantized to a decimal so the Σ is order-independent; the
    // one-row totals attach via broadcast. safeDiv: a source whose
    // docs are all empty has c_i = 0 at scale — its epochs are NULL,
    // not a crashed stage.
    "q107_mixture_plan" -> ((s, dir) => {
      val c = t(s, dir, "documents")
        .withColumn("toks", TextFunctions.tokens(col("text")))
        .groupBy("source")
        .agg(sum(size(col("toks")).cast("long")).as("n_tokens"))
        .withColumn("sq",
          round(sqrt(col("n_tokens").cast("double")), 6).cast(Dec))
      val tot = c.agg(sum(col("sq")).cast("double").as("tot"),
        sum(col("n_tokens")).as("budget"))
      c.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          round(safeDiv(col("sq").cast("double"), col("tot")), 4)
            .as("weight4"),
          round(safeDiv(
            col("budget").cast("double") * col("sq").cast("double"),
            col("tot") * col("n_tokens").cast("double")), 4).as("epochs4"))
        .orderBy("source")
    }),

    // Brier score + Murphy decomposition of the gate's rank-calibrated
    // forecast — the PROPER-SCORING companion of q241's calibration
    // table and q249's AUC (Brier 1950, Murphy 1973 — public
    // textbook): the forecast for a document is its score's
    // descending-rank percentile p = (N − rn + 1)/N (the monotone,
    // parameter-free probability the margin implies), the outcome the
    // q104 rule keep; Brier = Σ(p − y)²/N with the decile-binned
    // reliability/resolution/uncertainty split. Everything reduces to
    // exact integer moments — the squared residual numerators stage
    // through decimal(38,0) ((pnum − y·N)² tops int64 past ~2e6 docs)
    // — the per-bin double terms are 6dp-quantized + decimal-summed
    // [D2], and the closing formulas are shared-string IEEE trees
    // (BrierFormula). Rides the memoized q235 training; one
    // distributed rank pass + two keyed aggs over 10 bin rows.
    "q333_brier_gate" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val scored = percScored(s, dir)
        .select(col("doc_id"), col("keep"), col("score"))
      val (ranked, n) = graft.functions.GlobalRank.rowNumberWithTotal(
        scored, Seq(col("score").desc, col("doc_id").asc))
      val per = ranked
        .withColumn("decile",
          expr(s"(rn - 1) * 10 div ${n}L + 1").cast("int"))
        .withColumn("pnum", lit(n) - col("rn") + 1)
        .withColumn("y", col("keep").cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("nk"), sum(col("pnum")).as("sp"),
          sum(col("y")).as("sy"),
          sum(d38(col("pnum") - col("y") * lit(n))
            * (col("pnum") - col("y") * lit(n))).as("se2"))
      val g1 = per.agg(sum(col("sy")).as("syy"),
        sum(col("se2").cast(Dec)).as("se2t"))
      val terms = per.crossJoin(broadcast(g1))
        .withColumn("nn", lit(n))
        .withColumn("ra", d38(col("sp")) - d38(col("sy")) * lit(n))
        .withColumn("rb",
          d38(col("sy")) * lit(n) - d38(col("nk")) * col("syy"))
        .select(col("nn"), col("syy"), col("se2t"),
          round(col("ra").cast("double") * col("ra").cast("double")
            / col("nk").cast("double"), 6).cast(Dec).as("relt"),
          round(col("rb").cast("double") * col("rb").cast("double")
            / col("nk").cast("double"), 6).cast(Dec).as("rest"))
      terms.groupBy("nn", "syy", "se2t")
        .agg(sum(col("relt")).as("relsum"), sum(col("rest")).as("ressum"))
        .select(col("nn").as("n_docs"), col("syy").as("n_keep"),
          expr(BrierFormula.brier6).as("brier6"),
          expr(BrierFormula.rel6).as("rel6"),
          expr(BrierFormula.res6).as("res6"),
          expr(BrierFormula.unc6).as("unc6"))
    })
  )

  /** q333's Brier/Murphy trees over the exact moments (nn = N, syy =
    * Σy, se2t = Σ(pnum − yN)², relsum/ressum = the decile-binned
    * 6dp-quantized squared-gap sums) — shared text, one IEEE tree
    * each. All four are /N³ or /N² scalings of exact sums. */
  private[operators] object BrierFormula {
    private val n = "CAST(nn AS DOUBLE)"
    private val n3 = s"($n * $n * $n)"
    val brier6: String = s"round(CAST(se2t AS DOUBLE) / $n3, 6)"
    val rel6: String = s"round(CAST(relsum AS DOUBLE) / $n3, 6)"
    val res6: String = s"round(CAST(ressum AS DOUBLE) / $n3, 6)"
    val unc6: String = s"round(CAST(syy AS DOUBLE) " +
      s"* ($n - CAST(syy AS DOUBLE)) / ($n * $n), 6)"
  }

  private val sqlToks = Sql.tokens("text")

  /** CTE chain ending in `qr(doc_id, n_tok, r_len, r_wordlen, r_stop,
    * r_ttr)` — the q104 rule evaluation, shared with q116's composed
    * curation run so both gate one rule definition. */
  private[operators] def qualityRuleCteSql: String =
    s"""qm AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
       |         -- COALESCE: list_sum([]) is NULL in DuckDB, while the
       |         -- Spark side's aggregate() starts from a 0 seed
       |         CAST(COALESCE(list_sum(list_transform(toks,
       |              t -> length(t))), 0) AS BIGINT) AS sum_len,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |         CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a'))
       |              AS BIGINT) AS n_stop
       |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents) qd
       |), qr AS (
       |  SELECT doc_id, n_tok,
       |         (n_tok >= 20 AND n_tok <= 100000) AS r_len,
       |         (sum_len >= n_tok * 3 AND sum_len <= n_tok * 8) AS r_wordlen,
       |         (n_stop * 50 >= n_tok) AS r_stop,
       |         (n_types * 5 >= n_tok) AS r_ttr
       |  FROM qm)""".stripMargin

  /** The q235 training trace, memoized per (session, dir) via
    * Caches.memo — a tiny (PercIters + 1)-row frame, but each build is
    * PercIters + 1 full corpus passes. */
  private[graft] def percTrace(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"perc:$dir:$PercIters") {
      graft.api.MlOps.perceptronTrace(
        graft.api.TextOps.qualityFeatures(t(s, dir, "documents"), "text"),
        PercFeatures, "keep", PercIters)
    }

  /** The q104 feature view scored with the final weights of the
    * memoized q235 training (an appended integer margin `score`). */
  private def percScored(s: SparkSession, dir: String): DataFrame =
    graft.api.MlOps.linearScore(
      graft.api.TextOps.qualityFeatures(t(s, dir, "documents"), "text"),
      PercFeatures, graft.api.MlOps.perceptronWeights(percTrace(s, dir)))

  /** The unrolled q235 training replay: features from the shared q104
    * rule CTEs, then per step t a margin/misclassification projection
    * (m_t), a one-row gradient aggregate (e_t), and the updated weight
    * row (w_{t+1}) — pure BIGINT arithmetic, with the 1/N learning
    * rate as a sign-explicit truncating division (DuckDB's `//` floors
    * on negatives, Spark's `div` truncates — the CASE removes the
    * ambiguity). */
  private val PercXs = Seq("x0", "x1", "x2", "x3", "x4")
  private val PercWs = Seq("b", "w1", "w2", "w3", "w4")

  /** The shared CTE chain of the q235/q237 oracles: the q104 rule CTEs,
    * the integer feature relation `ft` (with lang/source riding along
    * for the q237 rollup), the zero weight row `w0`, and per step t the
    * margin projection m_t, gradient aggregate e_t, and updated weight
    * row w_{t+1}. */
  private def percCtesSql: String = {
    val xs = PercXs
    val ws = PercWs
    def tdiv(g: String, n: String) =
      s"CASE WHEN $n = 0 THEN 0 WHEN $g < 0 THEN -((-($g)) // $n) " +
        s"ELSE ($g) // $n END"
    val w0 = s"w0 AS (SELECT ${ws.map(w => s"CAST(0 AS BIGINT) AS $w")
      .mkString(", ")})"
    val steps = (0 to PercIters).map { t =>
      val margin = ws.zip(xs).map { case (w, x) => s"w.$w * ft.$x" }
        .mkString(" + ")
      val gsums = xs.zipWithIndex.map { case (x, i) =>
        s"CAST(SUM(CASE WHEN mis = 1 THEN y * $x ELSE 0 END) AS BIGINT)" +
          s" AS g$i"
      }.mkString(",\n           ")
      val me =
        s"""m$t AS (
           |  SELECT ft.*, CASE WHEN ft.y * ($margin) <= 0
           |               THEN 1 ELSE 0 END AS mis
           |  FROM ft CROSS JOIN w$t w),
           |e$t AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |         CAST(SUM(mis) AS BIGINT) AS n_mis,
           |           $gsums
           |  FROM m$t)""".stripMargin
      if (t == PercIters) me
      else {
        val upd = ws.zipWithIndex.map { case (w, i) =>
          s"w.$w + ${tdiv(s"e.g$i", "e.n")} AS $w"
        }.mkString(",\n         ")
        me +
          s""",
             |w${t + 1} AS (
             |  SELECT $upd
             |  FROM w$t w CROSS JOIN e$t e)""".stripMargin
      }
    }
    s"""$qualityRuleCteSql,
       |ft AS (
       |  SELECT qm.doc_id, d.lang, d.source,
       |         CAST(CASE WHEN qr.r_len AND qr.r_wordlen AND qr.r_stop
       |              AND qr.r_ttr THEN 1 ELSE -1 END AS BIGINT) AS y,
       |         CAST(1 AS BIGINT) AS x0,
       |         qm.n_tok AS x1,
       |         qm.sum_len * 1000 // qm.n_tok AS x2,
       |         qm.n_types * 1000 // qm.n_tok AS x3,
       |         qm.n_stop * 1000 // qm.n_tok AS x4
       |  FROM qm JOIN qr ON qm.doc_id = qr.doc_id
       |  JOIN documents d ON d.doc_id = qm.doc_id
       |  WHERE qm.n_tok >= 1),
       |$w0,
       |${steps.mkString(",\n")}""".stripMargin
  }

  private def perceptronOracleSql: String = {
    val outNames = "w_bias" +: PercFeatures.map("w_" + _)
    val rows = (0 to PercIters).map { t =>
      val wsel = PercWs.zip(outNames).map { case (w, o) => s"w.$w AS $o" }
        .mkString(", ")
      s"""SELECT CAST($t AS BIGINT) AS step, e.n_mis, $wsel
         |FROM e$t e CROSS JOIN w$t w""".stripMargin
    }
    s"""WITH $percCtesSql
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY step ASC NULLS FIRST""".stripMargin
  }

  /** The q237 replay: the same chain up to the FINAL weight row, then
    * the integer margin per document and the per-(lang, source)
    * agreement rollup. */
  /** q298's McNemar statistic over the exact discordant counts b/c —
    * shared text, one IEEE tree (OlsFormula convention); (b−c)² ≥ 0 so
    * no −0.0 normalization. NULL when the gates never disagree. */
  private[operators] object McnemarFormula {
    val chi6 = "CASE WHEN b + c > 0 THEN " +
      "round((CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) " +
      "* (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) " +
      "/ CAST(b + c AS DOUBLE), 6) END"
  }

  /** q299's chance-corrected agreement statistics over the exact 2×2
    * cells (ka = both-keep, kd = both-drop, b, c) — shared texts, one
    * IEEE tree each (OlsFormula convention). kappa = (po − pe)/(1 −
    * pe) guarded on 1 − pe > 0; MCC's four marginal products are
    * staged through DOUBLE before multiplying (n⁴ overflows int64 past
    * n ≈ 55k documents). */
  private[operators] object KappaFormula {
    private val po = "(CAST(ka AS DOUBLE) + CAST(kd AS DOUBLE)) " +
      "/ CAST(n_docs AS DOUBLE)"
    private val pe = "(CAST(ka + b AS DOUBLE) * CAST(ka + c AS DOUBLE) " +
      "+ CAST(c + kd AS DOUBLE) * CAST(b + kd AS DOUBLE)) " +
      "/ (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))"
    val kappa6: String = s"CASE WHEN n_docs > 0 AND ($pe) < 1.0 THEN " +
      s"round((($po) - ($pe)) / (1.0 - ($pe)), 6) END"
    val mcc6: String = "CASE WHEN (ka + b) > 0 AND (ka + c) > 0 " +
      "AND (b + kd) > 0 AND (c + kd) > 0 THEN " +
      "round((CAST(ka AS DOUBLE) * CAST(kd AS DOUBLE) " +
      "- CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) " +
      "/ sqrt(CAST(ka + b AS DOUBLE) * CAST(ka + c AS DOUBLE) " +
      "* CAST(b + kd AS DOUBLE) * CAST(c + kd AS DOUBLE)), 6) END"
  }

  /** The q299 replay: the chain to the final weight row, the 2×2 cell
    * agg, and the SAME kappa/MCC formula texts. */
  private def kappaOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.y, ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(CASE WHEN score > 0 AND y = 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS ka,
       |         CAST(SUM(CASE WHEN score <= 0 AND y != 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS kd,
       |         CAST(SUM(CASE WHEN score <= 0 AND y = 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN score > 0 AND y != 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM sc)
       |SELECT n_docs, ka + kd AS n_agree, b, c,
       |       ${KappaFormula.kappa6} AS kappa6,
       |       ${KappaFormula.mcc6} AS mcc6
       |FROM m""".stripMargin
  }

  /** q318's Laplace(1) inverse-CDF over the seeded uniform `u` —
    * shared texts, one IEEE tree each: X = −sgn(u−½)·ln(1−2|u−½|)
    * (scale b = 1/ε = 1). u = ½ maps to exactly 0. */
  private[operators] object DpFormula {
    private val lap = "(CASE WHEN u >= 0.5 THEN -1.0 ELSE 1.0 END) " +
      "* ln(1.0 - 2.0 * abs(u - 0.5))"
    val noise6: String = s"round($lap, 6)"
    val noisy6: String = s"round(CAST(n_docs AS DOUBLE) + ($lap), 6)"
  }

  /** The q318 replay: identical charHash→polyMix seed chain, the same
    * (2h+1)/(2M) uniform, and the SAME Laplace texts. */
  private def dpCountsOracleSql: String = {
    val hm = GraphQueries.HashM
    s"""WITH ps AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |hx AS (
       |  SELECT source, n_docs,
       |         ${GraphQueries.polyMixSql(Sql.charHash("source"))} AS h
       |  FROM ps),
       |ux AS (
       |  SELECT source, n_docs,
       |         CAST(2 * h + 1 AS DOUBLE) / (2.0 * $hm) AS u
       |  FROM hx)
       |SELECT source, n_docs,
       |       ${DpFormula.noise6} AS noise6,
       |       ${DpFormula.noisy6} AS noisy6
       |FROM ux
       |ORDER BY source ASC NULLS FIRST""".stripMargin
  }

  /** q316's Wilson-score interval over the exact (k, n) gate counts —
    * shared texts, one IEEE tree each; z = 1.96 as a literal. The
    * lower bound is the standard
    * (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n). */
  private[operators] object WilsonFormula {
    private val z = "1.96"
    private val p = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    private val nd = "CAST(n AS DOUBLE)"
    val rate6: String = s"round($p, 6)"
    val lo6: String = s"round(($p + $z * $z / (2.0 * $nd) " +
      s"- $z * sqrt($p * (1.0 - $p) / $nd " +
      s"+ $z * $z / (4.0 * $nd * $nd))) " +
      s"/ (1.0 + $z * $z / $nd), 6)"
  }

  /** The q316 replay: the shared ft relation's per-lang 2-count agg
    * and the SAME rate/Wilson texts. */
  private def wilsonOracleSql: String =
    s"""WITH $percCtesSql,
       |m AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS k
       |  FROM ft GROUP BY 1)
       |SELECT lang, n, k,
       |       ${WilsonFormula.rate6} AS rate6,
       |       ${WilsonFormula.lo6} AS wilson_lo6
       |FROM m
       |ORDER BY lang ASC NULLS FIRST""".stripMargin

  /** The q305 replay: the shared ft feature relation unpivoted to
    * (feature, v, y) rows, the exact integer mean-threshold binarize,
    * and the q201 MI term tree over the per-feature 2×2 grid. */
  private def infoGainOracleSql: String =
    s"""WITH $percCtesSql,
       |fv AS (
       |  SELECT y, 'f_ntok' AS feature, x1 AS v FROM ft UNION ALL
       |  SELECT y, 'f_wlen' AS feature, x2 AS v FROM ft UNION ALL
       |  SELECT y, 'f_ttr' AS feature, x3 AS v FROM ft UNION ALL
       |  SELECT y, 'f_stop' AS feature, x4 AS v FROM ft),
       |tot AS (
       |  SELECT feature, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(v) AS BIGINT) AS sv
       |  FROM fv GROUP BY 1),
       |cells AS (
       |  SELECT fv.feature,
       |         CAST(CASE WHEN fv.v * tot.n > tot.sv THEN 1 ELSE 0 END
       |           AS BIGINT) AS hi,
       |         CAST(CASE WHEN fv.y = 1 THEN 1 ELSE 0 END AS BIGINT)
       |           AS yy,
       |         CAST(COUNT(*) AS BIGINT) AS n_xy
       |  FROM fv JOIN tot USING (feature) GROUP BY 1, 2, 3),
       |nx AS (SELECT feature, hi, CAST(SUM(n_xy) AS BIGINT) AS n_x
       |       FROM cells GROUP BY 1, 2),
       |ny AS (SELECT feature, yy, CAST(SUM(n_xy) AS BIGINT) AS n_y
       |       FROM cells GROUP BY 1, 2),
       |na AS (SELECT feature, CAST(SUM(n_xy) AS BIGINT) AS n_all
       |       FROM cells GROUP BY 1),
       |tm AS (
       |  SELECT c.feature, c.hi, c.n_xy,
       |         ROUND((CAST(c.n_xy AS DOUBLE) / CAST(na.n_all AS DOUBLE))
       |           * ln((CAST(c.n_xy AS DOUBLE) * CAST(na.n_all AS DOUBLE))
       |             / (CAST(nx.n_x AS DOUBLE) * CAST(ny.n_y AS DOUBLE))),
       |           6) AS term
       |  FROM cells c
       |  JOIN nx ON nx.feature = c.feature AND nx.hi = c.hi
       |  JOIN ny ON ny.feature = c.feature AND ny.yy = c.yy
       |  JOIN na ON na.feature = c.feature)
       |SELECT feature,
       |       CAST(COALESCE(SUM(CASE WHEN hi = 1 THEN n_xy END), 0)
       |         AS BIGINT) AS n_hi,
       |       ROUND(CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 4)
       |         AS ig4
       |FROM tm GROUP BY 1
       |ORDER BY feature ASC NULLS FIRST""".stripMargin

  /** The q298 replay: the same chain to the final weight row, then the
    * global 2×2 agreement table and the SAME χ² formula text. */
  private def mcnemarOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.y, ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(CASE WHEN score > 0 AND y = 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
       |         CAST(SUM(CASE WHEN score <= 0 AND y != 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
       |         CAST(SUM(CASE WHEN score <= 0 AND y = 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN score > 0 AND y != 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM sc)
       |SELECT n_docs, n_both_keep, n_both_drop, b, c,
       |       ${McnemarFormula.chi6} AS mcnemar6
       |FROM m""".stripMargin
  }

  private def scoreRollupOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.lang, ft.source, ft.y, ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_pred_keep,
       |       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_rule_keep,
       |       CAST(SUM(CASE WHEN (score > 0) = (y = 1) THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_agree
       |FROM sc GROUP BY 1, 2
       |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin
  }

  /** The q241 replay: the same chain to the final weight row, then a
    * global ROW_NUMBER ranking and integer decile arithmetic. */
  /** The q333 replay: the shared perceptron chain to the final weight
    * row, the same global rank → percentile forecast, the same exact
    * integer residual/gap moments (HUGEINT staging), and the SAME
    * BrierFormula trees. */
  private def brierOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.doc_id, CASE WHEN ft.y = 1 THEN 1 ELSE 0 END AS y,
       |         ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w),
       |rk AS (
       |  SELECT doc_id, y, score,
       |         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn,
       |         COUNT(*) OVER () AS n
       |  FROM sc),
       |per AS (
       |  SELECT CAST((rn - 1) * 10 // n + 1 AS INT) AS decile,
       |         MAX(n) AS n, COUNT(*) AS nk,
       |         SUM(n - rn + 1) AS sp, SUM(y) AS sy,
       |         SUM(CAST(n - rn + 1 - y * n AS HUGEINT)
       |           * (n - rn + 1 - y * n)) AS se2
       |  FROM rk GROUP BY 1),
       |g1 AS (
       |  SELECT MAX(n) AS nn, SUM(sy) AS syy,
       |         SUM(CAST(se2 AS DECIMAL(38,6))) AS se2t
       |  FROM per),
       |terms AS (
       |  SELECT nn, syy, se2t, nk,
       |         CAST(sp AS HUGEINT) - CAST(sy AS HUGEINT) * nn AS ra,
       |         CAST(sy AS HUGEINT) * nn - CAST(nk AS HUGEINT) * syy AS rb
       |  FROM per CROSS JOIN g1),
       |agg AS (
       |  SELECT nn, syy, se2t,
       |         SUM(CAST(round(CAST(ra AS DOUBLE) * CAST(ra AS DOUBLE)
       |           / CAST(nk AS DOUBLE), 6) AS DECIMAL(38,6))) AS relsum,
       |         SUM(CAST(round(CAST(rb AS DOUBLE) * CAST(rb AS DOUBLE)
       |           / CAST(nk AS DOUBLE), 6) AS DECIMAL(38,6))) AS ressum
       |  FROM terms GROUP BY 1, 2, 3)
       |SELECT CAST(nn AS BIGINT) AS n_docs, CAST(syy AS BIGINT) AS n_keep,
       |       ${BrierFormula.brier6} AS brier6,
       |       ${BrierFormula.rel6} AS rel6,
       |       ${BrierFormula.res6} AS res6,
       |       ${BrierFormula.unc6} AS unc6
       |FROM agg""".stripMargin
  }

  private def calibrationOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.doc_id, ft.y, ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w),
       |rk AS (
       |  SELECT doc_id, y, score,
       |         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn,
       |         COUNT(*) OVER () AS n
       |  FROM sc)
       |SELECT CAST((rn - 1) * 10 // n + 1 AS INT) AS decile,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_rule_keep,
       |       MIN(score) AS min_score, MAX(score) AS max_score
       |FROM rk GROUP BY 1
       |ORDER BY decile ASC NULLS FIRST""".stripMargin
  }

  /** The q249 replay: the same chain to the final weight row, then the
    * per-(lang, score) histogram, a window cumulative of the negative
    * counts, and the integer rank-sum 2·U — HUGEINT staging for the
    * products, BIGINT casts at the end (the q186 oracle convention). */
  private def aucOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.lang, CASE WHEN ft.y = 1 THEN 1 ELSE 0 END AS keep,
       |         ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w),
       |h AS (
       |  SELECT lang, score, SUM(keep) AS c1, SUM(1 - keep) AS c0
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT lang, c1, c0,
       |         SUM(c0) OVER (PARTITION BY lang ORDER BY score ASC) AS cum
       |  FROM h),
       |a AS (
       |  SELECT lang, SUM(c1) AS n_pos, SUM(c0) AS n_neg,
       |         SUM(CAST(c1 AS HUGEINT) * (2 * (cum - c0) + c0)) AS u2
       |  FROM r GROUP BY 1)
       |SELECT lang, CAST(n_pos AS BIGINT) AS n_pos,
       |       CAST(n_neg AS BIGINT) AS n_neg,
       |       CAST(u2 AS BIGINT) AS u2,
       |       CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |            ELSE (1000 * u2) // (2 * n_pos * n_neg) END AS BIGINT)
       |         AS auc_pm
       |FROM a ORDER BY lang ASC NULLS FIRST""".stripMargin
  }

  /** The q365 replay: the q249 scored-histogram chain, both cumulatives
    * as window sums, the same all-double 8dp step terms decimal-summed,
    * and the mirrored n_pos > 0 drop. */
  private def avgPrecisionOracleSql: String = {
    val margin = PercWs.zip(PercXs).map { case (w, x) => s"w.$w * ft.$x" }
      .mkString(" + ")
    s"""WITH $percCtesSql,
       |sc AS (
       |  SELECT ft.lang, CASE WHEN ft.y = 1 THEN 1 ELSE 0 END AS keep,
       |         ($margin) AS score
       |  FROM ft CROSS JOIN w$PercIters w),
       |h AS (
       |  SELECT lang, score, CAST(SUM(keep) AS BIGINT) AS c1,
       |         CAST(SUM(1 - keep) AS BIGINT) AS c0
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT lang, score, c1, c0,
       |         SUM(c1) OVER (PARTITION BY lang ORDER BY score ASC)
       |           AS cum1,
       |         SUM(c1 + c0) OVER (PARTITION BY lang ORDER BY score ASC)
       |           AS cuma,
       |         SUM(c1) OVER (PARTITION BY lang) AS n_pos,
       |         SUM(c1 + c0) OVER (PARTITION BY lang) AS n_all
       |  FROM h),
       |terms AS (
       |  SELECT lang, n_pos, n_all,
       |         CAST(ROUND(CAST(c1 AS DOUBLE)
       |           * CAST(n_pos - (cum1 - c1) AS DOUBLE)
       |           / (CAST(n_all - (cuma - (c1 + c0)) AS DOUBLE)
       |              * CAST(n_pos AS DOUBLE)), 8) AS DECIMAL(38,8)) AS t8
       |  FROM r WHERE n_pos > 0),
       |a AS (
       |  SELECT lang, CAST(MAX(n_pos) AS BIGINT) AS n_pos,
       |         CAST(MAX(n_all) - MAX(n_pos) AS BIGINT) AS n_neg,
       |         ROUND(CAST(SUM(t8) AS DOUBLE), 6) AS ap6
       |  FROM terms GROUP BY 1)
       |SELECT lang, n_pos, n_neg, ap6,
       |       ROUND(CAST(n_pos AS DOUBLE)
       |             / CAST(n_pos + n_neg AS DOUBLE), 6) AS prev6
       |FROM a ORDER BY lang ASC NULLS FIRST""".stripMargin
  }

  /** The q251 replay: the q104 rule CTE's raw counts re-derived into
    * the four integer features, one HUGEINT moment-matrix aggregate,
    * and the six pair rows unioned out of it — the q186 staging
    * convention (exact int128 inner terms, one double formula, 6dp). */
  /** q361's population-variance and alpha trees over the exact moment
    * sums (n, s1..s3, q1..q3 item Σx/Σx², st/qt total-score Σ/Σx²) —
    * shared text, one IEEE tree each. The k/(k−1) factor is the 3-item
    * literal 1.5; NULL on a constant total score. */
  private[operators] object CronbachFormula {
    private val nD = "CAST(n AS DOUBLE)"
    private def vnum(i: String) =
      s"($nD * CAST(q$i AS DOUBLE) " +
        s"- CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE))"
    private val vtnum =
      s"($nD * CAST(qt AS DOUBLE) " +
        s"- CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"
    def v6(i: String): String = s"round(${vnum(i)} / ($nD * $nD), 6)"
    val vt6: String = s"round($vtnum / ($nD * $nD), 6)"
    val alpha4: String =
      s"CASE WHEN $vtnum != 0 THEN round(1.5 * (1.0 - " +
        s"(${vnum("1")} + ${vnum("2")} + ${vnum("3")}) / $vtnum), 4) END"
  }

  private def featureCorrOracleSql: String = {
    val fs = PercFeatures
    val fexpr = Map(
      "f_ntok" -> "qm.n_tok",
      "f_wlen" -> "qm.sum_len * 1000 // qm.n_tok",
      "f_ttr" -> "qm.n_types * 1000 // qm.n_tok",
      "f_stop" -> "qm.n_stop * 1000 // qm.n_tok")
    val msums = fs.map(a => s"SUM(CAST($a AS HUGEINT)) AS s_$a") ++
      (for { i <- fs.indices; j <- i until fs.size }
        yield s"SUM(CAST(${fs(i)} AS HUGEINT) * ${fs(j)})" +
          s" AS p_${fs(i)}_${fs(j)}")
    def varOf(a: String) = s"(n * p_${a}_$a - s_$a * s_$a)"
    val rows = for { i <- fs.indices; j <- i + 1 until fs.size } yield {
      val (a, b) = (fs(i), fs(j))
      s"""SELECT '$a' AS fa, '$b' AS fb, CAST(n AS BIGINT) AS n_docs,
         |  CASE WHEN ${varOf(a)} > 0 AND ${varOf(b)} > 0 THEN
         |    ROUND(CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE)
         |      / (SQRT(CAST(${varOf(a)} AS DOUBLE))
         |         * SQRT(CAST(${varOf(b)} AS DOUBLE))), 6)
         |  END AS corr6
         |FROM m""".stripMargin
    }
    s"""WITH $qualityRuleCteSql,
       |ftx AS (
       |  SELECT ${fs.map(a => s"${fexpr(a)} AS $a").mkString(", ")}
       |  FROM qm WHERE qm.n_tok >= 1),
       |m AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |         ${msums.mkString(",\n         ")}
       |  FROM ftx)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY fa ASC NULLS FIRST, fb ASC NULLS FIRST""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the q72 quality formula, per-source and global rank CTEs, the
    // same integer gr arithmetic, the picked pool value
    "q279_quantile_norm" ->
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
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY quality4 ASC, doc_id ASC) AS r
         |  FROM sc),
         |ns AS (SELECT source, COUNT(*) AS ns FROM sc GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n FROM sc),
         |pool AS (
         |  SELECT quality4, ROW_NUMBER() OVER (
         |    ORDER BY quality4 ASC, doc_id ASC) AS gr
         |  FROM sc)
         |SELECT rk.doc_id, rk.source, rk.quality4, p.quality4 AS norm_q4
         |FROM rk JOIN ns USING (source) CROSS JOIN nt
         |JOIN pool p ON p.gr =
         |  ((2 * CAST(rk.r AS HUGEINT) - 1) * nt.n) // (2 * ns.ns) + 1
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // n_chars is non-negative so // matches Spark div here
    "q275_kanon_audit" ->
      """SELECT lang, source, n_chars // 200 AS len_band,
        |       COUNT(*) AS n_docs,
        |       CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INT)
        |         AS at_risk
        |FROM documents
        |GROUP BY 1, 2, 3
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST,
        |         len_band ASC NULLS FIRST""".stripMargin,

    "q235_quality_perceptron" -> perceptronOracleSql,
    "q237_quality_score_rollup" -> scoreRollupOracleSql,
    "q298_mcnemar_gates" -> mcnemarOracleSql,
    "q299_gate_kappa" -> kappaOracleSql,
    "q305_info_gain" -> infoGainOracleSql,
    "q316_wilson_gate" -> wilsonOracleSql,
    "q318_dp_counts" -> dpCountsOracleSql,
    "q241_quality_calibration" -> calibrationOracleSql,
    "q249_quality_auc" -> aucOracleSql,
    "q365_avg_precision" -> avgPrecisionOracleSql,
    "q251_feature_corr" -> featureCorrOracleSql,
    // the same rule-stat CTE, permille items, HUGEINT moment row, and
    // the SAME CronbachFormula trees
    "q361_cronbach_alpha" ->
      s"""WITH $qualityRuleCteSql,
         |ftx AS (
         |  SELECT qm.sum_len * 1000 // qm.n_tok AS x1,
         |         qm.n_types * 1000 // qm.n_tok AS x2,
         |         qm.n_stop * 1000 // qm.n_tok AS x3
         |  FROM qm WHERE qm.n_tok >= 1),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(x1) AS BIGINT) AS s1,
         |         CAST(SUM(x2) AS BIGINT) AS s2,
         |         CAST(SUM(x3) AS BIGINT) AS s3,
         |         SUM(CAST(x1 AS HUGEINT) * x1) AS q1,
         |         SUM(CAST(x2 AS HUGEINT) * x2) AS q2,
         |         SUM(CAST(x3 AS HUGEINT) * x3) AS q3,
         |         CAST(SUM(x1 + x2 + x3) AS BIGINT) AS st,
         |         SUM(CAST(x1 + x2 + x3 AS HUGEINT) * (x1 + x2 + x3))
         |           AS qt
         |  FROM ftx)
         |SELECT n AS n_docs,
         |       ${CronbachFormula.v6("1")} AS var_wlen6,
         |       ${CronbachFormula.v6("2")} AS var_ttr6,
         |       ${CronbachFormula.v6("3")} AS var_stop6,
         |       ${CronbachFormula.vt6} AS var_tot6,
         |       ${CronbachFormula.alpha4} AS alpha4
         |FROM m""".stripMargin,
    "q333_brier_gate" -> brierOracleSql,
    // Zipped unnest pairs adjacent tokens; DuckDB's range(1, n) is
    // empty for n <= 1 so bigram-less docs drop with no guard.
    "q103_bigram_surprisal" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |         unnest(toks[2:len(toks)]) AS w2
         |  FROM d WHERE len(toks) >= 2
         |), bf AS (SELECT w1, w2, COUNT(*) AS bf FROM bg GROUP BY w1, w2),
         |cf AS (SELECT w1, SUM(bf) AS cf FROM bf GROUP BY w1)
         |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
         |       ROUND(CAST(SUM(CAST(ROUND(ln(CAST(cf.cf AS DOUBLE) / bf.bf), 6)
         |                          AS DECIMAL(38,6))) AS DOUBLE)
         |             / COUNT(*), 4) AS surprisal4
         |FROM bg JOIN bf USING (w1, w2) JOIN cf USING (w1)
         |GROUP BY bg.doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "q122_boilerplate_prefix" ->
      s"""WITH p AS (
         |  SELECT doc_id, source,
         |         array_to_string(list_slice($sqlToks, 1, $PrefixK), ' ')
         |           AS prefix
         |  FROM documents)
         |SELECT prefix, COUNT(*) AS n_docs,
         |       COUNT(DISTINCT source) AS n_sources,
         |       MIN(doc_id) AS first_doc
         |FROM p GROUP BY prefix HAVING COUNT(*) >= 2
         |ORDER BY n_docs DESC NULLS LAST, prefix ASC NULLS FIRST""".stripMargin,

    "q123_pmi_pairs" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |tk AS (SELECT unnest(toks) AS w FROM d),
         |uni AS (SELECT w, COUNT(*) AS uc FROM tk GROUP BY w),
         |bg AS (
         |  SELECT unnest(toks[1:len(toks)-1]) AS w1,
         |         unnest(toks[2:len(toks)]) AS w2
         |  FROM d WHERE len(toks) >= 2
         |), bcnt AS (SELECT w1, w2, COUNT(*) AS bc FROM bg GROUP BY w1, w2),
         |t1 AS (SELECT CAST(SUM(uc) AS DOUBLE) AS n1 FROM uni),
         |t2 AS (SELECT CAST(SUM(bc) AS DOUBLE) AS n2 FROM bcnt)
         |SELECT b.w1, b.w2, b.bc,
         |       ROUND(ln(CAST(b.bc AS DOUBLE) * t1.n1 * t1.n1
         |             / (t2.n2 * u1.uc * u2.uc)), 4) AS pmi4
         |FROM bcnt b
         |JOIN uni u1 ON b.w1 = u1.w
         |JOIN uni u2 ON b.w2 = u2.w, t1, t2
         |WHERE b.bc >= $PmiMinCount
         |ORDER BY pmi4 DESC NULLS LAST, w1 ASC NULLS FIRST,
         |         w2 ASC NULLS FIRST
         |LIMIT $PmiTopK""".stripMargin,

    "q104_quality_rules" ->
      s"""WITH $qualityRuleCteSql
         |SELECT doc_id, n_tok,
         |       CAST(CASE WHEN r_len THEN 1 ELSE 0 END
         |            + CASE WHEN r_wordlen THEN 2 ELSE 0 END
         |            + CASE WHEN r_stop THEN 4 ELSE 0 END
         |            + CASE WHEN r_ttr THEN 8 ELSE 0 END AS INTEGER) AS flags,
         |       CAST(CASE WHEN r_len AND r_wordlen AND r_stop AND r_ttr
         |            THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM qr ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "q105_len_quantiles" ->
      """WITH h AS (
        |  SELECT source, n_chars, COUNT(*) AS cnt
        |  FROM documents GROUP BY source, n_chars
        |), c AS (
        |  SELECT source, n_chars,
        |         SUM(cnt) OVER (PARTITION BY source
        |           ORDER BY n_chars ASC) AS cum,
        |         SUM(cnt) OVER (PARTITION BY source) AS n
        |  FROM h)
        |SELECT source,
        |       MIN(CASE WHEN cum * 2 >= n THEN n_chars END) AS p50,
        |       MIN(CASE WHEN cum * 10 >= n * 9 THEN n_chars END) AS p90
        |FROM c GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q106_topk_ngrams" ->
      s"""WITH d AS (SELECT source, $sqlToks AS toks FROM documents),
         |tri AS (
         |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri
         |  FROM d
         |), c AS (SELECT source, tri, COUNT(*) AS cnt FROM tri
         |         GROUP BY source, tri)
         |SELECT source, tri, cnt, rn FROM (
         |  SELECT source, tri, cnt,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY cnt DESC NULLS LAST, tri ASC NULLS FIRST) AS rn
         |  FROM c) x
         |WHERE rn <= 3
         |ORDER BY source ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    "q121_gram_novelty" ->
      s"""WITH dg AS (
         |  SELECT doc_id, list_distinct(
         |    ${Sql.ngramHashes(Sql.tokenHashes(Sql.tokens("text")), NovelN)})
         |    AS gr
         |  FROM documents
         |), occ AS (SELECT doc_id, unnest(gr) AS g FROM dg),
         |fst AS (SELECT g, MIN(doc_id) AS first_doc FROM occ GROUP BY g),
         |nv AS (
         |  SELECT o.doc_id, COUNT(*) AS n_distinct,
         |         CAST(SUM(CASE WHEN o.doc_id = f.first_doc
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM occ o JOIN fst f ON o.g = f.g GROUP BY o.doc_id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(nv.n_distinct, 0) AS BIGINT) AS n_distinct,
         |       CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |       ROUND(CASE WHEN COALESCE(nv.n_distinct, 0) != 0
         |             THEN CAST(COALESCE(nv.n_novel, 0) AS DOUBLE)
         |                  / nv.n_distinct END, 4) AS novelty4
         |FROM documents d LEFT JOIN nv ON d.doc_id = nv.doc_id
         |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin,

    "q107_mixture_plan" ->
      s"""WITH c AS (
         |  SELECT source, CAST(SUM(len($sqlToks)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), c2 AS (
         |  SELECT source, n_tokens,
         |         CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6)
         |              AS DECIMAL(38,6)) AS sq
         |  FROM c
         |), t AS (SELECT CAST(SUM(sq) AS DOUBLE) AS tot,
         |                CAST(SUM(n_tokens) AS BIGINT) AS budget FROM c2)
         |SELECT source, n_tokens,
         |       -- zero guards mirror the Spark side's safeDiv: an
         |       -- all-empty source (n_tokens = 0) yields NULL, not NaN
         |       ROUND(CASE WHEN tot != 0
         |             THEN CAST(sq AS DOUBLE) / tot END, 4) AS weight4,
         |       ROUND(CASE WHEN tot * CAST(n_tokens AS DOUBLE) != 0
         |             THEN CAST(budget AS DOUBLE) * CAST(sq AS DOUBLE)
         |                  / (tot * CAST(n_tokens AS DOUBLE)) END, 4)
         |         AS epochs4
         |FROM c2 CROSS JOIN t ORDER BY source ASC NULLS FIRST""".stripMargin
  )
}
