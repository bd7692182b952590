package graft.operators

import graft.{Dets, Tables}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.Sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.13 corpus-distribution statistics + hybrid retrieval (round 3):
  *
  *  - q112 per-source unigram KL divergence vs the corpus distribution
  *    (domain-shift screening: which collection looks least like the
  *    whole),
  *  - q113 Zipf rank-frequency slope per source (corpus-health check:
  *    natural text sits near −1; generated/boilerplate text flattens),
  *  - q114 first-merge BPE pair counts (the tokenizer-training step:
  *    adjacent character-pair frequencies over the word vocabulary),
  *  - q115 reciprocal-rank-fusion hybrid retrieval (BM25 top-k fused
  *    with embedding-cosine top-k — the standard lexical+dense blend).
  *
  * Scale notes: q112/q113/q114 all collapse token occurrences to the
  * (bounded) vocabulary with map-side partial hash aggs BEFORE any join
  * or ranking — the shuffled row count is vocabulary-sized, not
  * corpus-sized. q113's per-source top-100 runs through the bounded-heap
  * TopKPerGroup operator (k rows per partition shuffled, no window
  * sort). q114 is vocabulary-local: pair explosion happens per DISTINCT
  * word weighted by its corpus count, so a word repeated a billion times
  * costs one row. q115's two rank lists are k-row bounded by
  * construction; the fusion join and final window touch ≤ 2k rows.
  */
object CorpusStatsQueries {
  import Dets._

  /** q283's per-half drift list depth. */
  private val DriftK = 20

  /** q273's Hill order-statistic depth — the fixture's per-source
    * vocabulary is ~31 types (deliberately shared), so the order
    * statistics must sit inside it; a natural corpus would run k in
    * the thousands with the same plan. */
  private val HillK = 20

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.loadSpread(s, dir, n)

  private def srcTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("source"),
      explode(TextFunctions.tokens(col("text"))).as("tok"))

  private val RrfK = 60
  private val RrfDepth = 50
  private val RrfOut = 20

  /** q393's MSTTR segment length (tokens per full segment); docs with
    * fewer tokens than one full segment are excluded — the defining
    * property of MSTTR vs plain TTR. Declared before the oracle map
    * interpolates. */
  private val SegLen = 25

  /** q236 merge rounds, mirrored in the oracle's unrolled CTEs. A real
    * tokenizer training run loops the SAME per-round plan ~30k times;
    * three unrolled rounds gate the loop body exactly (the q153/q231
    * unrolled-iteration convention). */
  private[graft] val BpeRounds = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-document CHARACTER entropy rolled up per lang — the
    // byte-level quality signal (Shannon entropy in bits over the
    // doc's character distribution) that catches mojibake, repeated-
    // char spam, and charset collapse before any tokenizer runs: the
    // char-granularity sibling of q48's token entropy and one more
    // quality-scoring dimension for the curation tier. Each doc's
    // −Σ p·log₂p stages every (char, doc) term as a ppb-quantized
    // integer (p = c/n an exact rational, one IEEE log2 both engines,
    // round, THEN the sum — order-free [D2]); the per-lang mean is
    // the truncating-div integer stage [D5]. Scale: one char-explode
    // (linear in bytes — the cost any byte-level filter pays), two
    // hash aggs, a lang-bounded rollup.
    "q383_char_entropy" -> ((s, dir) => {
      val ch = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n"),
          explode(split(col("text"), "")).as("c"))
        .filter(length(col("c")) > 0)
      val perDoc = ch.groupBy("doc_id", "lang", "n", "c")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("p", col("cnt").cast("double") / col("n"))
        .groupBy("doc_id", "lang")
        .agg((-sum(round(col("p") * log2(col("p")) * 1e9).cast("long")))
          .as("hppb"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("hppb")).as("sh"),
          min(col("hppb")).as("mn"), max(col("hppb")).as("mx"))
        .select(col("lang"), col("n_docs"),
          round(expr("sh div n_docs").cast("double") / 1e9, 6)
            .as("mean_h6"),
          round(col("mn").cast("double") / 1e9, 6).as("min_h6"),
          round(col("mx").cast("double") / 1e9, 6).as("max_h6"))
        .orderBy("lang")
    }),

    // Mean segmental type-token ratio per lang (MSTTR, Johnson 1944 —
    // the public length-robust lexical-diversity measure): plain TTR
    // collapses as docs grow (types saturate), so comparing langs or
    // sources by raw TTR confounds diversity with length; MSTTR
    // averages TTR over fixed 25-token segments instead. Per-doc
    // segment sums are pure array math (transform over the bounded
    // segment index — no explode), both ratios stage as exact integer
    // ppm with truncating div [D5]; emitted next to the plain TTR so
    // the length bias is visible in one row. Docs under one full
    // segment are excluded (the MSTTR contract).
    "q393_msttr" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokens(col("text")).as("tk"))
        .withColumn("ntok", size(col("tk")).cast("long"))
        .withColumn("nseg", expr(s"ntok div $SegLen"))
        .filter(col("nseg") >= 1)
        .withColumn("sd", aggregate(
          transform(sequence(lit(0L), col("nseg") - 1),
            i => size(array_distinct(
              slice(col("tk"), (i * SegLen + 1).cast("int"),
                lit(SegLen)))).cast("long")),
          lit(0L), (a, x) => a + x))
        .withColumn("mp", expr(s"(sd * 1000000) div (nseg * $SegLen)"))
        .withColumn("tp", expr(
          "(CAST(size(array_distinct(tk)) AS BIGINT) * 1000000) div ntok"))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("mp")).as("smp"), sum(col("tp")).as("stp"))
        .select(col("lang"), col("n_docs"),
          round(expr("(smp div n_docs)").cast("double") / 1e6, 6)
            .as("msttr6"),
          round(expr("(stp div n_docs)").cast("double") / 1e6, 6)
            .as("ttr6"))
        .orderBy("lang")
    }),

    // Per-source token diversity indices — the corpus-health triple a
    // curation dashboard reads next to q48's entropy: unbiased Simpson
    // (1 − Σn_i(n_i−1)/(N(N−1)), the collision probability of two
    // draws without replacement), Berger–Parker dominance (top type's
    // share), and type richness. ONE hash agg to the (source, token)
    // grid, a second to the per-source moments — every ingredient an
    // exact integer (decimal staging for Σn(n−1)); both ratios are
    // shared-string double formulas (DivFormula), NULL-guarded for a
    // single-token source.
    "q293_diversity" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(d38(col("c")) * (col("c") - 1)).as("s2"),
          max(col("c")).as("cmax"))
        .select(col("source"), col("n_tok"), col("n_types"),
          expr(DivFormula.simpson6).as("simpson6"),
          expr(DivFormula.bp6).as("bp6"))
        .orderBy("source")
    }),

    // Lexical-richness triple — Yule's K characteristic (the
    // repeated-vocabulary concentration 10⁴·(Σc²−N)/N², famously
    // length-insensitive), hapax share (types seen once / types), and
    // raw TTR, per source: the AUTHORSHIP-style fingerprint a curation
    // dashboard reads next to q293's diversity indices (q293 measures
    // draw-collision probability; K measures the tail's repetition
    // structure). Same two hash aggs as q293; Σc² decimal-staged
    // (overflows int64 past ~3e9 occurrences of one type); all three
    // ratios shared-string double formulas (LexFormula).
    "q303_yules_k" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(d38(col("c")) * col("c")).as("s2"))
        .select(col("source"), col("n_tok"), col("n_types"), col("hapax"),
          expr(LexFormula.ttr6).as("ttr6"),
          expr(LexFormula.hapax6).as("hapax6"),
          expr(LexFormula.yule4).as("yule4"))
        .orderBy("source")
    }),

    // Unseen-vocabulary mass per source — Good–Turing coverage
    // (1 − V1/N: the probability mass of types NOT yet seen) and the
    // Chao1 richness estimate of the TRUE vocabulary size (V +
    // V1²/2V2; bias-corrected V + V1(V1−1)/2 when no doubletons):
    // q304 fits how vocabulary grows, this says how much is still
    // missing — the pair a corpus planner reads together. Same
    // (source, token) grid as q303; singleton/doubleton counts are
    // exact integers; both estimates shared-string IEEE trees
    // (UnseenFormula).
    "q326_unseen_mass" -> ((s, dir) => {
      srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("v1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("v2"))
        .select(col("source"), col("n_tok"), col("n_types"),
          col("v1"), col("v2"),
          expr(UnseenFormula.coverage6).as("coverage6"),
          expr(UnseenFormula.chao1_2).as("chao1_2"))
        .orderBy("source")
    }),

    // Heaps' law fit — vocabulary growth V(N) ≈ K·N^β measured at 10
    // document-prefix checkpoints (docs ordered by doc_id), the
    // corpus-scaling diagnostic that says how much NEW vocabulary
    // another 10× of data buys. Each type collapses to its FIRST-
    // occurrence document rank (one hash agg — the prefix vocabulary
    // at any cut is then a count of first-ranks ≤ cut, no per-prefix
    // rescan); checkpoints are a 10-row broadcast literal (documented
    // BNLJ, constant fan-out). β and ln K come from the q113 log-log
    // OLS machinery: ln's 6dp-quantized, moment sums decimal-staged
    // [D2], one fixed double formula each, riding every checkpoint
    // row (q201 convention).
    "q304_heaps_law" -> ((s, dir) => {
      val docToks = t(s, dir, "documents").select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val docN = docToks.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
      val (pool, dTot) = graft.functions.GlobalRank.rowNumberWithTotal(
        docN, Seq(col("doc_id").asc))
      val ranked = pool.select(col("rn"), col("doc_id"), col("ntok"))
      val first = docToks
        .join(ranked.select("doc_id", "rn"), Seq("doc_id"))
        .groupBy("tok").agg(min(col("rn")).as("frn"))
      val cps = ranked.limit(1).select(
        explode(sequence(lit(1L), lit(10L))).as("cp"))
        .select(col("cp"), expr(s"cp * ${dTot}L div 10L").as("cut"))
      val vs = first.crossJoin(broadcast(cps))
        .filter(col("frn") <= col("cut"))
        .groupBy("cp").agg(count(lit(1)).as("n_types"))
      val ns = ranked.crossJoin(broadcast(cps))
        .filter(col("rn") <= col("cut"))
        .groupBy("cp").agg(sum(col("ntok")).as("n_tok"))
      val xy = ns.join(vs, Seq("cp"))
        .select(col("cp"), col("n_tok"), col("n_types"),
          round(log(col("n_tok").cast("double")), 6).as("x"),
          round(log(col("n_types").cast("double")), 6).as("y"))
      val fit = xy.agg(count(lit(1)).as("n"),
          sum(col("x").cast(Dec)).as("sx"),
          sum(col("y").cast(Dec)).as("sy"),
          sum(round(col("x") * col("y"), 6).cast(Dec)).as("sxy"),
          sum(round(col("x") * col("x"), 6).cast(Dec)).as("sxx"))
        .select(
          round(safeDiv(
            col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"),
            col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 4)
            .as("beta4"),
          round(safeDiv(
            col("sy").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sxy").cast("double"),
            col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 4)
            .as("lnk4"))
      xy.crossJoin(broadcast(fit))
        .select(col("cp"), col("n_tok"), col("n_types"),
          col("beta4"), col("lnk4"))
        .orderBy("cp")
    }),

    // Distinctive terms per source by prior-smoothed log-odds — the
    // "Fightin' Words" report (Monroe et al. 2008, public method): per
    // (source, word), the log-odds delta of the word in this source vs
    // the REST of the corpus under an informative Dirichlet prior
    // α_w = 100·corpus-share, z-scaled by its estimated variance;
    // top-5 per source. The curation answer to "what IS this source,
    // lexically" — q307 says how far sources are apart, this names
    // the words doing it. One grid + three bounded attach joins;
    // ranking on the integer micro-z through the bounded-heap
    // TopKPerGroup operator (no window, no float sort key [D3]).
    "q319_log_odds" -> ((s, dir) => {
      val stf = srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
      val sn = stf.groupBy("source").agg(sum(col("c")).as("sn"))
      val cf = stf.groupBy("tok").agg(sum(col("c")).as("cf"))
      val tot = cf.agg(sum(col("cf")).as("cn"))
      val scored = stf.join(broadcast(sn), Seq("source"))
        .join(cf, Seq("tok"))
        .crossJoin(broadcast(tot))
        .withColumn("z_micro", expr(LogOddsFormula.zMicro))
        .withColumn("delta6", expr(LogOddsFormula.delta6))
      graft.plans.GraftOps.topKPerGroup(scored, Seq(col("source")),
        Seq(col("z_micro").desc, col("tok").asc), 5, rankName = "rk")
        .select(col("source"), col("tok"), col("c").as("n_in_source"),
          col("z_micro"), col("delta6"))
        .orderBy(col("source").asc, col("z_micro").desc, col("tok").asc)
    }),

    // Dunning log-likelihood keyness (Dunning 1993, public method) of
    // the focus source vs the REST of the corpus — the G² significance
    // ranking corpus linguistics uses next to q319's "Fightin' Words"
    // effect-size view (log-odds says HOW distinctive a word is; G²
    // says how much EVIDENCE the corpus has for it — a rare word can
    // out-score on odds yet carry no evidence): per token the 2×2
    // table (a = focus count, b = rest count, column totals), G² =
    // 2·[a·ln(a/E_a) + b·ln(b/E_b)], x·ln(x/E) → 0 at x = 0. One
    // (side, token) grid + a one-row totals broadcast; G² ranks as an
    // INTEGER micro value through the bounded-heap TopKPerGroup
    // ([D3], the q319 convention); the over/under direction is the
    // decimal-staged cross-product sign (no a/ta float compare).
    "q370_keyness_g2" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val tf = srcTokens(s, dir)
        .withColumn("g",
          when(col("source") === KeynessFocus, 0).otherwise(1))
        .groupBy("g", "tok").agg(count(lit(1)).as("c"))
      val a = tf.filter(col("g") === 0)
        .select(col("tok"), col("c").as("a"))
      val b = tf.filter(col("g") === 1)
        .select(col("tok"), col("c").as("b"))
      val grid = a.join(b, Seq("tok"), "full_outer")
        .select(col("tok"), coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0L)).as("b"))
      val tot = grid.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      val scored = grid.crossJoin(broadcast(tot))
        .withColumn("g2_micro", expr(KeynessFormula.micro))
        .withColumn("overused",
          (d38(col("a")) * col("tb") > d38(col("b")) * col("ta"))
            .cast("int"))
      graft.plans.GraftOps.topKPerGroup(scored, Seq(lit(1)),
        Seq(col("g2_micro").desc, col("tok").asc), KeynessK,
        rankName = "rk")
        .select(col("tok"), col("a").as("n_focus"), col("b").as("n_rest"),
          round(col("g2_micro").cast("double") / 1e6, 6).as("g2_6"),
          col("overused"))
        .orderBy(col("g2_6").desc, col("tok").asc)
    }),

    // Burrows' Delta — the classic authorship-attribution distance
    // between source pairs (Burrows 2002, public method): z-score each
    // source's relative frequency of the corpus's top-50 marker words
    // against the cross-source distribution, then Delta = mean |Δz|.
    // Complements q288's JSD (distribution divergence) with the
    // STYLOMETRIC distance that weights every marker word equally
    // regardless of raw frequency. The corpus collapses to the
    // (source, token) grid once; everything after lives on the
    // sources×50 marker grid (bounded broadcast, documented BNLJ).
    // Frequencies are 8dp-quantized; cross-source moments are exact
    // decimal sums; z and the final mean are shared-string IEEE trees
    // with zero-variance words contributing z = 0 [D2].
    "q307_burrows_delta" -> ((s, dir) => {
      val stf = srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
      val sn = stf.groupBy("source").agg(sum(col("c")).as("n"))
      val top = stf.groupBy("tok").agg(sum(col("c")).as("cw"))
        .orderBy(col("cw").desc, col("tok").asc).limit(BdWords)
        .select("tok")
      val grid = sn.crossJoin(broadcast(top))
        .join(stf, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          round(coalesce(col("c"), lit(0L)).cast("double")
            / col("n").cast("double"), 8).as("f8"))
      val wm = grid.groupBy("tok").agg(count(lit(1)).as("k"),
        sum(col("f8").cast("decimal(38,8)")).as("sf"),
        sum(round(col("f8") * col("f8"), 16).cast("decimal(38,16)"))
          .as("sff"))
      val z = grid.join(broadcast(wm), Seq("tok"))
        .select(col("source"), col("tok"), expr(BdFormula.z6).as("z6"))
      val za = z.select(col("source").as("sa"), col("tok"),
        col("z6").as("za"))
      val zb = z.select(col("source").as("sb"), col("tok"),
        col("z6").as("zb"))
      za.join(zb, Seq("tok")).filter(col("sa") < col("sb"))
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_words"),
          round(sum(round(abs(col("za") - col("zb")), 6).cast(Dec))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("delta6"))
        .orderBy("sa", "sb")
    }),

    // Jensen–Shannon divergence between every source PAIR's unigram
    // distributions — the symmetric, bounded cousin of q112's KL and
    // the standard corpus-mixture distance a curation run reads before
    // blending sources. JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2;
    // a token absent from one side contributes only the other side's
    // term (0·ln0 = 0), expressed as the zero-token filter + CASE
    // guards identically on both engines. The corpus collapses to the
    // (source, token) grid in one hash agg; the pair×vocabulary domain
    // is bounded (pairs × token types — both fixed-cardinality here,
    // and at 100 TB the vocabulary cap is the operator's stated
    // contract, q112's scale note); per-term doubles are 6dp-quantized
    // then decimal-summed [D2], the formula STRING shared with the
    // oracle (JsdFormula).
    "q288_js_divergence" -> ((s, dir) => {
      val stf = srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("stf"))
      val sn = stf.groupBy("source").agg(sum("stf").as("n"))
      val pairs = sn.select(col("source").as("sa"), col("n").as("na"))
        .join(broadcast(sn.select(col("source").as("sb"),
          col("n").as("nb"))), col("sa") < col("sb"))
      val vocab = stf.select("tok").distinct()
      val a = stf.select(col("source").as("sa"), col("tok"),
        col("stf").as("ca"))
      val b = stf.select(col("source").as("sb"), col("tok"),
        col("stf").as("cb"))
      pairs.crossJoin(broadcast(vocab))
        .join(a, Seq("sa", "tok"), "left")
        .join(b, Seq("sb", "tok"), "left")
        .withColumn("ca", coalesce(col("ca"), lit(0L)))
        .withColumn("cb", coalesce(col("cb"), lit(0L)))
        .filter(col("ca") + col("cb") > 0)
        .withColumn("term", expr(JsdFormula.term6).cast(Dec))
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_types"),
          round(sum(col("term")).cast("double"), 4).as("jsd4"))
        .orderBy("sa", "sb")
    }),

    // KL(P_source ‖ P_corpus) over unigrams: Σ_t p_t · ln(p_t / q_t)
    // with p_t = tf_src/N_src and q_t = tf_corpus/N_corpus. Every token
    // of a source is also in the corpus, so q_t > 0 and no smoothing is
    // needed. Per-type terms are 6dp-quantized and decimal-summed [D2]
    // (order-independent), and the double expression shapes mirror the
    // oracle exactly: p·ln((stf·cn)/(ctf·sn)). Shuffles touch only the
    // (source, token) and token vocabularies; totals attach broadcast.
    // Per-source language-mix entropy + effective language count —
    // the DIVERSITY row of a dataset card (public Shannon/Hill-number
    // textbook): H = −Σ p ln p over each source's language shares and
    // eff = e^H, the "how many languages is this source REALLY"
    // number a mixture planner reads next to q107's weights (q120
    // grades the language CLASSIFIER; this profiles the labels
    // themselves). One (source, lang) grid + a per-source total
    // attach; per-cell −p·ln p terms 6dp-quantized + decimal-summed
    // [D2] (single-language sources die to an exact 0 in the decimal
    // cast, the q339 convention); eff one exp at the end.
    "q381_lang_mix_entropy" -> ((s, dir) => {
      val g = t(s, dir, "documents").groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
      val tot = g.groupBy("source").agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_langs"))
      g.join(tot, Seq("source"))
        .withColumn("term", round(-(col("c").cast("double")
            / col("n").cast("double"))
          * log(col("c").cast("double") / col("n").cast("double")), 6)
          .cast(Dec))
        .groupBy("source")
        .agg(max(col("n")).as("n_docs"), max(col("n_langs")).as("n_langs"),
          sum(col("term")).as("hd"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          round(col("hd").cast("double"), 6).as("h6"),
          round(exp(col("hd").cast("double")), 4).as("eff_langs4"))
        .orderBy("source")
    }),

    "q112_kl_source" -> ((s, dir) => {
      val stf = srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("stf"))
      val srcN = stf.groupBy("source").agg(sum("stf").as("sn"))
      val ctf = stf.groupBy("tok").agg(sum("stf").as("ctf"))
      val tot = ctf.agg(sum("ctf").as("cn"))
      stf.join(ctf, "tok").join(broadcast(srcN), "source")
        .crossJoin(broadcast(tot))
        .withColumn("term", round(
          (col("stf").cast("double") / col("sn").cast("double")) *
            log((col("stf").cast("double") * col("cn").cast("double")) /
              (col("ctf").cast("double") * col("sn").cast("double"))), 6)
          .cast(Dec))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"),
          round(sum(col("term")).cast("double"), 4).as("kl4"))
        .orderBy("source")
    }),

    // Zipf slope per source: OLS fit of ln(count) on ln(rank) over the
    // top-100 tokens (rank order: count desc, token asc — total). The
    // count agg collapses to the vocabulary map-side; the top-100 cut
    // is the bounded-heap operator; the regression sums run over ≤ 100
    // 6dp-quantized decimals per source, so the slope is exact and
    // partition-invariant up to the final double division [D2].
    "q113_zipf_slope" -> ((s, dir) => {
      val cnt = srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("cnt"))
      val top = graft.plans.GraftOps.topKPerGroup(cnt, Seq(col("source")),
        Seq(col("cnt").desc, col("tok").asc), 100, rankName = "rk")
      val xy = top.select(col("source"),
        round(log(col("rk").cast("double")), 6).as("x"),
        round(log(col("cnt").cast("double")), 6).as("y"))
      xy.groupBy("source")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x").cast(Dec)).as("sx"),
          sum(col("y").cast(Dec)).as("sy"),
          sum(round(col("x") * col("y"), 6).cast(Dec)).as("sxy"),
          sum(round(col("x") * col("x"), 6).cast(Dec)).as("sxx"))
        .select(col("source"), col("n_terms"),
          round(safeDiv(
            col("n_terms").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"),
            col("n_terms").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 4)
            .as("slope4"))
        .orderBy("source")
    }),

    // Hill tail-index estimator — the heavy-tail diagnostic on the
    // OTHER side of q113's Zipf OLS (the OLS fits the whole top-100
    // log-log line; Hill estimates the tail exponent alpha from the
    // k upper order statistics alone, the standard extreme-value
    // estimator): 1/alpha = (1/k) Σ_{i<=k} ln(X_(i) / X_(k+1)) over
    // per-source token frequencies, k = 20. Same bounded-heap top-k
    // cut as q113 (ties cannot move the value: a tie spanning the k
    // boundary has X_(i) = X_(k+1), contributing ln 1 = 0); each ln is
    // 6dp-quantized and decimal-summed [D2], so the estimate is exact
    // up to the final double division. alpha NULL when the top-k is
    // constant (denominator 0 — no tail information, and the output
    // says so rather than Inf).
    "q273_hill_tail" -> ((s, dir) => {
      val cnt = srcTokens(s, dir).groupBy("source", "tok")
        .agg(count(lit(1)).as("cnt"))
      val top = graft.plans.GraftOps.topKPerGroup(cnt, Seq(col("source")),
        Seq(col("cnt").desc, col("tok").asc), HillK + 1, rankName = "rk")
      val xk1 = top.filter(col("rk") === HillK + 1)
        .select(col("source"), col("cnt").as("x_k1"))
      val sm = top.filter(col("rk") <= HillK)
        .groupBy("source")
        .agg(count(lit(1)).as("k"),
          sum(round(log(col("cnt").cast("double")), 6).cast(Dec))
            .as("slog"))
      sm.join(xk1, "source")
        .withColumn("den",
          col("slog").cast("double")
            - col("k") * round(log(col("x_k1").cast("double")), 6))
        .select(col("source"), col("k"), col("x_k1"),
          round(col("den") / col("k"), 6).as("hill_inv6"),
          round(Dets.safeDiv(col("k").cast("double"), col("den")), 6)
            .as("alpha6"))
        .orderBy("source")
    }),

    // Vocabulary drift monitor — the distribution-shift check between
    // two corpus slices (here the deterministic doc_id parity halves;
    // in production, yesterday vs today): each half's top-20 tokens by
    // frequency, full-outer-joined on the token so the report shows
    // rank movement (delta), new entrants (rank_a NULL) and dropouts
    // (rank_b NULL) in one relation. Token counts collapse map-side to
    // the (half, vocabulary) grid; the top-20 cut is the bounded-heap
    // operator; the drift join touches ≤ 40 rows at any corpus size.
    "q283_vocab_drift" -> ((s, dir) => {
      val cnt = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(2)).as("half"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("half", "tok").agg(count(lit(1)).as("cnt"))
      val top = graft.plans.GraftOps.topKPerGroup(cnt, Seq(col("half")),
        Seq(col("cnt").desc, col("tok").asc), DriftK, rankName = "rk")
      val a = top.filter(col("half") === 0)
        .select(col("tok"), col("rk").as("rank_a"))
      val b = top.filter(col("half") === 1)
        .select(col("tok"), col("rk").as("rank_b"))
      a.join(b, Seq("tok"), "full_outer")
        .select(col("tok"), col("rank_a"), col("rank_b"),
          (col("rank_a") - col("rank_b")).as("delta"))
        .orderBy("tok")
    }),

    // First BPE merge step: adjacent character-pair counts over the word
    // vocabulary, each pair weighted by its word's corpus frequency —
    // top-20 pairs (count desc, pair asc). The occurrence → vocabulary
    // collapse happens FIRST, so the pair explosion is per distinct
    // word; the global top-20 compiles to TakeOrderedAndProject.
    "q114_bpe_pairs" -> ((s, dir) => {
      val words = srcTokens(s, dir).groupBy(col("tok").as("w"))
        .agg(count(lit(1)).as("wcnt"))
        .filter(length(col("w")) >= 2)
      words.select(col("wcnt"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair")
        .agg(sum("wcnt").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    }),

    // Multi-step BPE merge training (round 10) — the actual
    // tokenizer-training loop q114 only took the first step of: per
    // round, count adjacent symbol pairs over the frequency-weighted
    // word vocabulary, merge the argmax pair (count desc, pair asc
    // [D2]) at every non-overlapping occurrence (left-to-right within
    // runs — relationally: match-run parity via two ROW_NUMBER
    // windows, which only differs from trivial matching when the pair
    // is a self-pair like (a,a) on "aaa"), rebuild + recompact the
    // symbol sequences, repeat. Everything is vocabulary-local: a word
    // repeated a billion times costs one symbol sequence weighted by
    // its count; each round is one window chain over (w ORDER BY pos)
    // + one vocabulary-sized pair agg, the symbol relation kept per
    // round by graft.Iterate (Sequential — the round's own symbol
    // count fills it) so round k never replays rounds 1..k−1; the
    // argmax pair is a bounded driver finish (ONE row per round)
    // folded back as literals. Output: the merge table (round, pair,
    // weighted count) plus the total weighted symbol count after each
    // merge — the invariant that proves the merge was applied (drops
    // by exactly cnt per round).
    "q236_bpe_merges" -> ((s, dir) => bpeArtifacts(s, dir)._1),

    // The tokenizer loop CLOSED (round 10): q236 trains the merges,
    // this APPLIES them — the corpus word vocabulary re-tokenized
    // through the learned merge sequence, reported as the top-20
    // post-merge symbols (occurrence-weighted, with symbol length
    // riding along so the emerged multi-character subwords are
    // visible). Training and application share ONE loop body
    // (bpeRun / the shared oracle CTE chain), which is the point: a
    // real tokenizer build runs this exact per-round plan ~30k times,
    // and the apply side touches only the VOCABULARY relation
    // (words × wcnt), never the corpus — at 100 TB the corpus pass is
    // the one word-count, everything after is vocabulary-sized.
    "q262_bpe_apply" -> ((s, dir) => {
      bpeArtifacts(s, dir)._2
        .groupBy("sym")
        .agg(sum(col("wcnt")).as("n_occ"),
          countDistinct(col("w")).as("n_words"))
        .select(col("sym"), length(col("sym")).cast("long").as("sym_len"),
          col("n_occ"), col("n_words"))
        .orderBy(col("n_occ").desc, col("sym").asc)
        .limit(20)
    }),

    // Tokenizer fertility per language — symbols per word token AFTER
    // the q236-trained merges (the metric tokenizer teams watch per
    // language: high fertility = the vocabulary underserves that
    // language). The trained symbol relation (shared bpeRun — the
    // q236/q262 loop body) collapses to symbols-per-word once; the
    // per-(lang, word) occurrence grid weights it; both sums exact
    // integers, one final rounded ratio. Words shorter than 2 chars
    // are outside the merge machinery's domain (q262 contract) and are
    // excluded from BOTH sums identically.
    "q317_fertility" -> ((s, dir) => {
      val nsym = bpeArtifacts(s, dir)._2
        .groupBy("w").agg(count(lit(1)).as("nsym"))
      val lw = t(s, dir, "documents").select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      lw.join(nsym, Seq("w"))
        .groupBy("lang")
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("nsym")).as("n_symbols"))
        .select(col("lang"), col("n_tokens"), col("n_symbols"),
          round(col("n_symbols").cast("double")
            / col("n_tokens").cast("double"), 6).as("fertility6"))
        .orderBy("lang")
    }),

    // Hybrid retrieval by reciprocal-rank fusion: the pinned BM25 query
    // (q94's term bag) and a pinned dense probe (embedding of vec_id 0,
    // embeddings align 1:1 with doc_ids) each produce a depth-50 rank
    // list; fused score = Σ 1/(60 + rank) over the lists a doc appears
    // in, top-20 by fused score (doc_id tie-break). The whole
    // composition IS the EtlService retrieval endpoint — one
    // implementation, two gated parameter bindings (this and q117).
    "q115_hybrid_rrf" -> ((s, dir) =>
      new graft.api.EtlService(s).searchDocuments(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        TfidfQueries.Bm25Terms, probeId = 0L, depth = RrfDepth,
        k = RrfOut, rrfK = RrfK)),

    // Split-balance audit — is the q78 hash split EXCHANGEABLE at the
    // token level? Jensen–Shannon divergence between the train side
    // (buckets 0–7) and the held-out side (8–9) of the unigram
    // distribution, with doc/token totals: q323 audits near-dup
    // LEAKAGE across the split, this audits distributional SKEW (a
    // content-correlated hash would show here first). Reuses q288's
    // JsdFormula term verbatim; the vocabulary collapses to per-token
    // conditional (train, heldout) counts in ONE hash agg — no vocab
    // cross-join; terms 6dp-quantized + decimal-summed [D2]. One
    // corpus scan.
    "q348_split_balance" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val dd = t(s, dir, "documents")
        .withColumn("tr",
          (call_function("graft_charhash", col("text")) % 10 < 8)
            .cast("long"))
      val toks = dd.select(col("tr"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val cells = toks.groupBy("tok")
        .agg(sum(col("tr")).as("ca"), sum(lit(1L) - col("tr")).as("cb"))
      val tot = cells.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("n_types"))
      val docs = dd.agg(sum(col("tr")).as("n_train_docs"),
        sum(lit(1L) - col("tr")).as("n_heldout_docs"))
      cells.crossJoin(broadcast(tot))
        .withColumn("term", expr(JsdFormula.term6).cast(Dec))
        .groupBy("na", "nb", "n_types")
        .agg(round(sum(col("term")).cast("double"), 4).as("jsd4"))
        .crossJoin(broadcast(docs))
        .select(col("n_train_docs"), col("n_heldout_docs"),
          col("na").as("n_train_toks"), col("nb").as("n_heldout_toks"),
          col("n_types"), col("jsd4"))
    })
  )

  /** The q236 training loop: `rounds` BPE merges over a (w, wcnt) word
    * vocabulary, returning the merge trace
    * (round, s1, s2, cnt, n_sym_after). Symbol sequences live as
    * (w, wcnt, pos, sym) rows; per round: adjacency self-join → pair
    * counts → argmax (driver, 1 row) → non-overlapping match set (run
    * parity) → rebuild with recompacted positions. Integer counts
    * only — exact on any layout [D1]. Stops early if no pair remains. */
  private[graft] def bpeMergeTrace(s: SparkSession, words: DataFrame,
    rounds: Int): DataFrame = bpeRun(s, words, rounds)._1

  /** The symbol relation (w, wcnt, pos, sym) AFTER the trained merges
    * — the APPLY side of the tokenizer loop, consumed by q262. Shares
    * [[bpeRun]] with the trace. */
  private[graft] def bpeFinalSymbols(s: SparkSession, words: DataFrame,
    rounds: Int): DataFrame = bpeRun(s, words, rounds)._2

  /** ONE training run per (session, dir) for the q236/q262/q317
    * consumers: both [[bpeRun]] outputs memoized through Caches
    * (released by the session clear); building either builds both, so
    * the loop's driver round-trips and checkpoints run once however
    * many keys read the artifacts (bench primes it under
    * shared:bpe_train). */
  private[graft] def bpeArtifacts(s: SparkSession, dir: String)
  : (DataFrame, DataFrame) = {
    var pair: (DataFrame, DataFrame) = null
    def built(): (DataFrame, DataFrame) = {
      if (pair == null) {
        val words = srcTokens(s, dir).groupBy(col("tok").as("w"))
          .agg(count(lit(1)).as("wcnt"))
          .filter(length(col("w")) >= 2)
        pair = bpeRun(s, words, BpeRounds)
      }
      pair
    }
    val tr = graft.Caches.memo(s, s"bpetrace:$dir:$BpeRounds")(built()._1)
    val sy = graft.Caches.memo(s, s"bpesyms:$dir:$BpeRounds")(built()._2)
    (tr, sy)
  }

  private def bpeRun(s: SparkSession, words: DataFrame,
    rounds: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("w").orderBy("pos")
    var sdf = graft.Iterate.keep(
      words.select(col("w"), col("wcnt"),
        posexplode(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("w"), col("wcnt"),
        (col("p0") + 1).cast("long").as("pos"), col("sym")),
      graft.Iterate.Sequential)
    val trace = Seq.newBuilder[(Long, String, String, Long, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      // r15: the round is ONE window chain over (w ORDER BY pos)
      // instead of the former adjacency self-join on (w, pos) plus the
      // match/consumed/next-symbol join fan (≈6 exchanges → 1). The
      // adjacent pair is lead(sym); positions are consecutive
      // (recompacted by row_number each round), so the old pos−rank
      // run arithmetic becomes lag/running-count bookkeeping in the
      // same window pass. Semantics preserved exactly:
      //  - pair counts: lead pairs where lead is non-null == the
      //    (w, pos)⋈(w, pos+1) inner join rows, same Σ wcnt;
      //  - left-to-right non-overlap: k = rank-among-matches minus the
      //    rank at the run's first member (+1) == the old row_number
      //    within (w, pos − rank); runs are maximal blocks of
      //    CONSECUTIVE match starts, and pos − rank was strictly
      //    increasing across runs, so run identity matches;
      //  - a kept match concatenates its lead symbol; the following
      //    position (lag(kept)) is consumed; positions recompact.
      val withNext = sdf.withColumn("sym2", lead(col("sym"), 1).over(wOrd))
      val best = withNext.filter(col("sym2").isNotNull)
        .groupBy("sym", "sym2")
        .agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym").asc, col("sym2").asc)
        .limit(1).collect().headOption
      best match {
        case None => dry = true
        case Some(b) =>
          val (s1, s2, cnt) =
            (b.getString(0), b.getString(1), b.getLong(2))
          val isM = col("sym") === lit(s1) && col("sym2") === lit(s2)
          val ann = withNext
            .withColumn("im", isM)
            .withColumn("mrn", sum(when(col("im"), 1L).otherwise(0L))
              .over(wOrd.rowsBetween(Window.unboundedPreceding,
                Window.currentRow)))
            .withColumn("runFirst",
              col("im") && !coalesce(lag(col("im"), 1).over(wOrd),
                lit(false)))
            .withColumn("mrn0", last(when(col("runFirst"), col("mrn")),
              ignoreNulls = true)
              .over(wOrd.rowsBetween(Window.unboundedPreceding,
                Window.currentRow)))
            .withColumn("keep",
              col("im") && (col("mrn") - col("mrn0")) % 2 === 0)
            .withColumn("consumed",
              coalesce(lag(col("keep"), 1).over(wOrd), lit(false)))
          sdf = graft.Iterate.keep(ann
            .filter(!col("consumed"))
            .select(col("w"), col("wcnt"), col("pos"),
              when(col("keep"), concat(col("sym"), col("sym2")))
                .otherwise(col("sym")).as("sym"))
            .withColumn("pos", row_number().over(wOrd).cast("long")),
            graft.Iterate.Sequential)
          val nAfter = sdf.agg(sum(col("wcnt")).as("n"))
            .collect().head.getLong(0)
          trace += ((r.toLong, s1, s2, cnt, nAfter))
      }
      r += 1
    }
    import s.implicits._
    (trace.result()
      .toDF("round", "s1", "s2", "cnt", "n_sym_after")
      .coalesce(1).orderBy("round"), sdf)
  }

  private val sqlToks = Sql.tokens("text")

  /** q293's diversity ratios over the exact per-source moments
    * (n_tok, s2 = Σn_i(n_i−1), cmax) — shared text, one IEEE tree
    * (OlsFormula convention); both ∈ [0,1], no −0.0 risk. */
  /** q307's marker-word pool size. */
  private val BdWords = 50

  /** q319's log-odds z over the grid counts (c in-source, cf corpus,
    * sn source total, cn corpus total) with the informative Dirichlet
    * prior α_w = A0·cf/cn (Monroe et al. 2008 "Fightin' Words", public
    * method) — shared texts, one IEEE tree each. The integer
    * micro-scaled z is the SORT key ([D3]: rank on an integer derived
    * identically on both engines, never on a raw double); guards NULL
    * the degenerate all-one-word denominators. */
  /** q370's focus source and top-k cut. Declared before the oracle
    * map's interpolation sites (the q362 init-order lesson). */
  private val KeynessFocus = "src0"
  private val KeynessK = 15

  /** q370's G² as an integer MICRO value (×1e6, the z_micro ranking
    * convention): 2·[a·ln(a(T)/ (ta(a+b))) + b·ln(b(T)/(tb(a+b)))]
    * over the exact 2×2 counts, each zero-count arm exactly 0 —
    * shared text, one IEEE tree. */
  private[operators] object KeynessFormula {
    private def arm(x: String, tx: String) =
      s"CASE WHEN $x > 0 THEN CAST($x AS DOUBLE) " +
        s"* ln(CAST($x AS DOUBLE) " +
        s"* (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) " +
        s"/ (CAST($tx AS DOUBLE) " +
        s"* (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))) ELSE 0.0 END"
    val micro: String =
      s"CAST(round(2000000.0 * (${arm("a", "ta")} + ${arm("b", "tb")})) " +
        "AS BIGINT)"
  }

  private[operators] object LogOddsFormula {
    private val A0 = "100.0"
    private val ai = s"($A0 * CAST(cf AS DOUBLE) / CAST(cn AS DOUBLE))"
    private val t1n = s"(CAST(c AS DOUBLE) + $ai)"
    private val t1d = s"(CAST(sn AS DOUBLE) + $A0 - CAST(c AS DOUBLE) " +
      s"- $ai)"
    private val t2n = s"(CAST(cf - c AS DOUBLE) + $ai)"
    private val t2d = s"(CAST(cn - sn AS DOUBLE) + $A0 " +
      s"- CAST(cf - c AS DOUBLE) - $ai)"
    private val delta = s"(ln($t1n / $t1d) - ln($t2n / $t2d))"
    private val z =
      s"($delta / sqrt(1.0 / $t1n + 1.0 / $t2n))"
    private val guard = s"$t1d > 0 AND $t2d > 0"
    val zMicro: String =
      s"CASE WHEN $guard THEN CAST(round($z * 1000000.0) AS BIGINT) END"
    val delta6: String = s"CASE WHEN $guard THEN round($delta, 6) END"
  }

  /** q307's per-(source, word) z-score over the exact decimal moments
    * (f8 the 8dp relative frequency, sf/sff its decimal sum / sum of
    * 16dp squares across sources, k the source count) — shared text,
    * one IEEE tree. A word with zero cross-source variance carries z =
    * 0 (every source identical ⇒ it separates nothing). */
  private[operators] object BdFormula {
    private val mu = "(CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))"
    private val vr = s"(CAST(sff AS DOUBLE) / CAST(k AS DOUBLE) " +
      s"- $mu * $mu)"
    val z6: String = s"CASE WHEN $vr > 0 THEN " +
      s"round((f8 - $mu) / sqrt($vr), 6) ELSE 0.0 END"
  }

  /** q326's unseen-mass estimators over the exact (n_tok, n_types,
    * v1, v2) moments — shared texts, one IEEE tree each. Good–Turing
    * coverage = 1 − V1/N (Good 1953); Chao1 = V + V1²/(2·V2), falling
    * back to the bias-corrected V + V1(V1−1)/2 when V2 = 0 (Chao
    * 1984) — both public textbook estimators. */
  private[operators] object UnseenFormula {
    val coverage6: String = "round(1.0 - CAST(v1 AS DOUBLE) " +
      "/ CAST(n_tok AS DOUBLE), 6)"
    val chao1_2: String = "round(CAST(n_types AS DOUBLE) + " +
      "CASE WHEN v2 > 0 THEN CAST(v1 AS DOUBLE) * CAST(v1 AS DOUBLE) " +
      "/ (2.0 * CAST(v2 AS DOUBLE)) " +
      "ELSE CAST(v1 AS DOUBLE) * CAST(v1 - 1 AS DOUBLE) / 2.0 END, 2)"
  }

  /** q303's lexical-richness ratios over the exact per-source moments
    * (n_tok, n_types, hapax, s2 = Σc²) — shared texts, one IEEE tree
    * each. K's 10⁴ scale is the classic presentation; NULL on a
    * single-token source (no repetition structure to measure). */
  private[operators] object LexFormula {
    val ttr6 = "round(CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)"
    val hapax6 =
      "round(CAST(hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)"
    val yule4 = "CASE WHEN n_tok > 1 THEN " +
      "round(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tok AS DOUBLE)) " +
      "/ (CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)), 4) END"
  }

  private[operators] object DivFormula {
    val simpson6 = "CASE WHEN n_tok > 1 THEN round(1 - CAST(s2 AS DOUBLE)" +
      " / (CAST(n_tok AS DOUBLE) * CAST(n_tok - 1 AS DOUBLE)), 6) END"
    val bp6 = "round(CAST(cmax AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)"
  }

  /** q288's per-token JSD term over the exact count columns (ca/cb
    * token counts, na/nb source totals) — one text through Spark
    * `expr()` and the oracle, so both engines form the identical IEEE
    * tree (OlsFormula convention). The CASE guards realize the
    * 0·ln0 = 0 convention for one-sided tokens. */
  private[operators] object JsdFormula {
    private val pa = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
    private val pb = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
    val term6 =
      s"round(0.5 * ((CASE WHEN ca > 0 THEN $pa * ln(2 * $pa / ($pa + $pb))" +
        s" ELSE CAST(0 AS DOUBLE) END) + (CASE WHEN cb > 0 THEN" +
        s" $pb * ln(2 * $pb / ($pa + $pb)) ELSE CAST(0 AS DOUBLE) END)), 6)"
  }

  /** The unrolled q236 replay: per round, a pair-count CTE, a one-row
    * argmax, the run-parity non-overlap match set, and the rebuilt +
    * recompacted symbol relation. Pure integer counts and string
    * concats — bit-identical by construction. */
  /** The shared q236/q262 CTE chain: word vocabulary, character
    * symbols, and per-round (pair counts → argmax → run-parity match
    * set → rebuilt relation) — ONE definition of training AND
    * application, ending in `s$BpeRounds`. */
  private def bpeCtesSql: String = {
    val rounds = (1 to BpeRounds).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""pc$r AS (
         |  SELECT a.sym AS s1, b.sym AS s2,
         |         CAST(SUM(a.wcnt) AS BIGINT) AS cnt
         |  FROM $prev a JOIN $prev b ON b.w = a.w AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |bp$r AS (SELECT s1, s2, cnt FROM pc$r
         |         ORDER BY cnt DESC NULLS LAST, s1 ASC, s2 ASC LIMIT 1),
         |mt$r AS (
         |  SELECT a.w, a.pos
         |  FROM $prev a JOIN $prev b ON b.w = a.w AND b.pos = a.pos + 1
         |  CROSS JOIN bp$r p
         |  WHERE a.sym = p.s1 AND b.sym = p.s2),
         |mg$r AS (
         |  SELECT w, pos FROM (
         |    SELECT w, pos, ROW_NUMBER() OVER (
         |      PARTITION BY w, pos - rn ORDER BY pos) AS k
         |    FROM (SELECT w, pos, ROW_NUMBER() OVER (
         |            PARTITION BY w ORDER BY pos) AS rn FROM mt$r) x) y
         |  WHERE k % 2 = 1),
         |s$r AS (
         |  SELECT w, wcnt,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos)
         |              AS BIGINT) AS pos, sym
         |  FROM (
         |    SELECT s.w, s.wcnt, s.pos,
         |           CASE WHEN m.pos IS NOT NULL THEN s.sym || nx.sym
         |                ELSE s.sym END AS sym
         |    FROM $prev s
         |    LEFT JOIN mg$r m ON m.w = s.w AND m.pos = s.pos
         |    LEFT JOIN mg$r m2 ON m2.w = s.w AND m2.pos = s.pos - 1
         |    LEFT JOIN $prev nx ON m.pos IS NOT NULL AND nx.w = s.w
         |                       AND nx.pos = s.pos + 1
         |    WHERE m2.pos IS NULL) z),
         |ns$r AS (SELECT CAST(SUM(wcnt) AS BIGINT) AS n FROM s$r)"""
        .stripMargin
    }
    s"""wv AS (
       |  SELECT tok AS w, COUNT(*) AS wcnt
       |  FROM (SELECT unnest($sqlToks) AS tok FROM documents) x
       |  GROUP BY tok
       |  HAVING length(tok) >= 2),
       |s0 AS (
       |  SELECT w, wcnt, CAST(pos AS BIGINT) AS pos,
       |         substr(w, CAST(pos AS INT), 1) AS sym
       |  FROM (SELECT w, wcnt, unnest(range(1, length(w) + 1)) AS pos
       |        FROM wv) p),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def bpeOracleSql: String = {
    val out = (1 to BpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, bp$r.s1, bp$r.s2, bp$r.cnt,
         |       ns$r.n AS n_sym_after
         |FROM bp$r CROSS JOIN ns$r""".stripMargin
    }
    s"""WITH $bpeCtesSql
       |${out.mkString("\nUNION ALL\n")}
       |ORDER BY round ASC NULLS FIRST""".stripMargin
  }

  /** The q262 replay: the SAME chain (the argmax re-derives the same
    * merges), finished by the symbol census over the post-merge
    * relation. */
  private def bpeApplyOracleSql: String =
    s"""WITH $bpeCtesSql
       |SELECT sym, CAST(length(sym) AS BIGINT) AS sym_len,
       |       CAST(SUM(wcnt) AS BIGINT) AS n_occ,
       |       COUNT(DISTINCT w) AS n_words
       |FROM s$BpeRounds GROUP BY 1
       |ORDER BY n_occ DESC NULLS LAST, sym ASC NULLS FIRST
       |LIMIT 20""".stripMargin

  val oracle: Map[String, String] = Map(

    // the same tokenizer, 1-based list slices mirroring Spark's slice,
    // identical ppm integer staging and truncating-div lang means
    "q393_msttr" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, ${Sql.tokens("text")} AS tk
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS ntok,
         |         CAST(len(tk) // $SegLen AS BIGINT) AS nseg, tk
         |  FROM d WHERE len(tk) // $SegLen >= 1),
         |seg AS (
         |  SELECT lang, nseg, ntok,
         |         CAST(list_sum(list_transform(range(0, nseg),
         |           i -> len(list_distinct(
         |             tk[CAST(i * $SegLen + 1 AS BIGINT) :
         |                CAST(i * $SegLen + $SegLen AS BIGINT)]))))
         |           AS BIGINT) AS sd,
         |         CAST(len(list_distinct(tk)) AS BIGINT) AS nd
         |  FROM w),
         |p AS (
         |  SELECT lang, (sd * 1000000) // (nseg * $SegLen) AS mp,
         |         (nd * 1000000) // ntok AS tp
         |  FROM seg)
         |SELECT lang, COUNT(*) AS n_docs,
         |       ROUND(CAST(CAST(SUM(mp) AS BIGINT) // COUNT(*)
         |                  AS DOUBLE) / 1e6, 6) AS msttr6,
         |       ROUND(CAST(CAST(SUM(tp) AS BIGINT) // COUNT(*)
         |                  AS DOUBLE) / 1e6, 6) AS ttr6
         |FROM p GROUP BY 1 ORDER BY lang ASC NULLS FIRST""".stripMargin,

    // the same per-(doc, char) ppb-quantized entropy terms (one IEEE
    // log2, round, then order-free integer sums) and truncating-div
    // lang mean
    "q383_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n,
        |         unnest(string_split(text, '')) AS c
        |  FROM documents),
        |pc AS (
        |  SELECT doc_id, lang, n, c, COUNT(*) AS cnt
        |  FROM ch WHERE len(c) > 0 GROUP BY 1, 2, 3, 4),
        |pd AS (
        |  SELECT doc_id, lang,
        |         -CAST(SUM(CAST(ROUND(
        |             (CAST(cnt AS DOUBLE) / n)
        |             * log2(CAST(cnt AS DOUBLE) / n) * 1e9)
        |           AS BIGINT)) AS BIGINT) AS hppb
        |  FROM pc GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |       ROUND(CAST(CAST(SUM(hppb) AS BIGINT) // COUNT(*)
        |                  AS DOUBLE) / 1e9, 6) AS mean_h6,
        |       ROUND(CAST(MIN(hppb) AS DOUBLE) / 1e9, 6) AS min_h6,
        |       ROUND(CAST(MAX(hppb) AS DOUBLE) / 1e9, 6) AS max_h6
        |FROM pd GROUP BY 1 ORDER BY lang ASC NULLS FIRST""".stripMargin,

    // the balance replay: same charHash split rule (q78's), same
    // conditional cells, the SAME JsdFormula term
    "q348_split_balance" ->
      s"""WITH dd AS (
         |  SELECT CASE WHEN ${Sql.charHash("text")} % 10 < 8
         |         THEN 1 ELSE 0 END AS tr, text
         |  FROM documents),
         |toks AS (SELECT tr, unnest(${Sql.tokens("text")}) AS tok FROM dd),
         |cells AS (
         |  SELECT tok, CAST(SUM(tr) AS BIGINT) AS ca,
         |         CAST(SUM(1 - tr) AS BIGINT) AS cb
         |  FROM toks GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
         |         CAST(SUM(cb) AS BIGINT) AS nb,
         |         COUNT(*) AS n_types
         |  FROM cells),
         |docs AS (
         |  SELECT CAST(SUM(tr) AS BIGINT) AS n_train_docs,
         |         CAST(SUM(1 - tr) AS BIGINT) AS n_heldout_docs
         |  FROM dd),
         |j AS (
         |  SELECT na, nb, n_types,
         |         ROUND(CAST(SUM(CAST(${JsdFormula.term6}
         |           AS DECIMAL(38,6))) AS DOUBLE), 4) AS jsd4
         |  FROM cells, tot GROUP BY 1, 2, 3)
         |SELECT n_train_docs, n_heldout_docs, na AS n_train_toks,
         |       nb AS n_heldout_toks, CAST(n_types AS BIGINT) AS n_types,
         |       jsd4
         |FROM j, docs""".stripMargin,
    "q236_bpe_merges" -> bpeOracleSql,
    "q262_bpe_apply" -> bpeApplyOracleSql,

    // the shared merge-replay chain; symbols-per-word weighted by the
    // per-(lang, word) grid, both length-≥2 filters identical
    "q317_fertility" ->
      s"""WITH $bpeCtesSql,
         |ns AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nsym
         |       FROM s$BpeRounds GROUP BY 1),
         |lw AS (
         |  SELECT lang, tok AS w, COUNT(*) AS cnt
         |  FROM (SELECT lang, unnest($sqlToks) AS tok FROM documents) x
         |  WHERE length(tok) >= 2
         |  GROUP BY 1, 2)
         |SELECT lw.lang, CAST(SUM(lw.cnt) AS BIGINT) AS n_tokens,
         |       CAST(SUM(lw.cnt * ns.nsym) AS BIGINT) AS n_symbols,
         |       ROUND(CAST(SUM(lw.cnt * ns.nsym) AS DOUBLE)
         |         / CAST(SUM(lw.cnt) AS DOUBLE), 6) AS fertility6
         |FROM lw JOIN ns USING (w)
         |GROUP BY 1
         |ORDER BY lang ASC NULLS FIRST""".stripMargin,
    // identical grid + moment aggs + the SAME ratio formula texts
    // the identical grid + attach joins and the SAME prior/z texts;
    // QUALIFY mirrors the bounded-heap top-5
    "q319_log_odds" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok),
         |sn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS sn
         |       FROM st GROUP BY 1),
         |cf AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cf
         |       FROM st GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS cn FROM cf),
         |sc AS (
         |  SELECT st.source, st.tok, st.c, sn.sn, cf.cf, tot.cn
         |  FROM st JOIN sn USING (source) JOIN cf USING (tok)
         |  CROSS JOIN tot),
         |z AS (
         |  SELECT source, tok, CAST(c AS BIGINT) AS n_in_source,
         |         ${LogOddsFormula.zMicro} AS z_micro,
         |         ${LogOddsFormula.delta6} AS delta6
         |  FROM sc)
         |SELECT source, tok, n_in_source, z_micro, delta6 FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY z_micro DESC NULLS LAST, tok ASC NULLS FIRST)
         |    AS rk
         |  FROM z) q
         |WHERE rk <= 5
         |ORDER BY source ASC NULLS FIRST, z_micro DESC NULLS LAST,
         |         tok ASC NULLS FIRST""".stripMargin,

    // the same two-side grid + one-row totals, the SAME micro-G² tree,
    // HUGEINT cross-product direction, ROW_NUMBER heap mirror
    "q370_keyness_g2" ->
      s"""WITH st AS (
         |  SELECT CASE WHEN source = '$KeynessFocus' THEN 0 ELSE 1 END
         |           AS g, tok, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT tok,
         |         CAST(COALESCE(SUM(CASE WHEN g = 0 THEN c END), 0)
         |           AS BIGINT) AS a,
         |         CAST(COALESCE(SUM(CASE WHEN g = 1 THEN c END), 0)
         |           AS BIGINT) AS b
         |  FROM st GROUP BY 1),
         |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
         |               CAST(SUM(b) AS BIGINT) AS tb FROM grid),
         |sc AS (
         |  SELECT tok, a, b,
         |         ${KeynessFormula.micro} AS g2_micro,
         |         CAST(CASE WHEN CAST(a AS HUGEINT) * tb
         |                      > CAST(b AS HUGEINT) * ta
         |              THEN 1 ELSE 0 END AS INTEGER) AS overused
         |  FROM grid CROSS JOIN tot)
         |SELECT tok, a AS n_focus, b AS n_rest,
         |       ROUND(CAST(g2_micro AS DOUBLE) / 1e6, 6) AS g2_6,
         |       overused
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    ORDER BY g2_micro DESC NULLS LAST, tok ASC NULLS FIRST)
         |    AS rk
         |  FROM sc) q
         |WHERE rk <= $KeynessK
         |ORDER BY g2_6 DESC NULLS LAST, tok ASC NULLS FIRST""".stripMargin,

    // identical marker pool, 8dp frequency grid, decimal moments, and
    // the SAME z / mean-|Δz| trees
    "q307_burrows_delta" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok),
         |sn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
         |       FROM st GROUP BY 1),
         |top AS (
         |  SELECT tok FROM (
         |    SELECT tok, SUM(c) AS cw FROM st GROUP BY 1)
         |  ORDER BY cw DESC NULLS LAST, tok ASC LIMIT $BdWords),
         |grid AS (
         |  SELECT sn.source, top.tok,
         |         ROUND(CAST(COALESCE(st.c, 0) AS DOUBLE)
         |           / CAST(sn.n AS DOUBLE), 8) AS f8
         |  FROM sn CROSS JOIN top
         |  LEFT JOIN st ON st.source = sn.source AND st.tok = top.tok),
         |wm AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS k,
         |         CAST(SUM(CAST(f8 AS DECIMAL(38,8))) AS DECIMAL(38,8))
         |           AS sf,
         |         CAST(SUM(CAST(ROUND(f8 * f8, 16) AS DECIMAL(38,16)))
         |           AS DECIMAL(38,16)) AS sff
         |  FROM grid GROUP BY 1),
         |z AS (
         |  SELECT g.source, g.tok, ${BdFormula.z6} AS z6
         |  FROM grid g JOIN wm ON wm.tok = g.tok)
         |SELECT a.source AS sa, b.source AS sb,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       ROUND(CAST(SUM(CAST(ROUND(abs(a.z6 - b.z6), 6)
         |           AS DECIMAL(38,6))) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE), 6) AS delta6
         |FROM z a JOIN z b ON b.tok = a.tok AND a.source < b.source
         |GROUP BY 1, 2
         |ORDER BY sa ASC NULLS FIRST, sb ASC NULLS FIRST""".stripMargin,

    // the identical grid + singleton/doubleton moments + SAME texts
    "q326_unseen_mass" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok),
         |m AS (
         |  SELECT source,
         |         CAST(SUM(c) AS BIGINT) AS n_tok,
         |         CAST(COUNT(*) AS BIGINT) AS n_types,
         |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS v1,
         |         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS v2
         |  FROM st GROUP BY source)
         |SELECT source, n_tok, n_types, v1, v2,
         |       ${UnseenFormula.coverage6} AS coverage6,
         |       ${UnseenFormula.chao1_2} AS chao1_2
         |FROM m
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    // identical (source, token) grid + moments + SAME ratio texts;
    // HUGEINT stages Σc² like q293's Σc(c−1)
    "q303_yules_k" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok),
         |m AS (
         |  SELECT source,
         |         CAST(SUM(c) AS BIGINT) AS n_tok,
         |         CAST(COUNT(*) AS BIGINT) AS n_types,
         |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS hapax,
         |         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
         |  FROM st GROUP BY source)
         |SELECT source, n_tok, n_types, hapax,
         |       ${LexFormula.ttr6} AS ttr6,
         |       ${LexFormula.hapax6} AS hapax6,
         |       ${LexFormula.yule4} AS yule4
         |FROM m
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    // identical first-occurrence collapse, 10-point prefix grid, and
    // the q113 log-log OLS moment chain (mirrored formula trees)
    "q304_heaps_law" ->
      s"""WITH dt AS (
         |  SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |dn AS (SELECT doc_id, COUNT(*) AS ntok FROM dt GROUP BY 1),
         |rk AS (SELECT doc_id, ntok,
         |              ROW_NUMBER() OVER (ORDER BY doc_id ASC) AS rn
         |       FROM dn),
         |dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM dn),
         |fo AS (
         |  SELECT dt.tok, MIN(rk.rn) AS frn
         |  FROM dt JOIN rk ON rk.doc_id = dt.doc_id
         |  GROUP BY 1),
         |cps AS (
         |  SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS cp),
         |cuts AS (
         |  SELECT cp, cp * dd.d // 10 AS cut FROM cps CROSS JOIN dd),
         |vs AS (
         |  SELECT cuts.cp, CAST(COUNT(*) AS BIGINT) AS n_types
         |  FROM fo JOIN cuts ON fo.frn <= cuts.cut GROUP BY 1),
         |ns AS (
         |  SELECT cuts.cp, CAST(SUM(rk.ntok) AS BIGINT) AS n_tok
         |  FROM rk JOIN cuts ON rk.rn <= cuts.cut GROUP BY 1),
         |xy AS (
         |  SELECT ns.cp, ns.n_tok, vs.n_types,
         |         ROUND(ln(CAST(ns.n_tok AS DOUBLE)), 6) AS x,
         |         ROUND(ln(CAST(vs.n_types AS DOUBLE)), 6) AS y
         |  FROM ns JOIN vs ON vs.cp = ns.cp),
         |s AS (
         |  SELECT COUNT(*) AS n,
         |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6)))
         |           AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6)))
         |           AS DOUBLE) AS sxx
         |  FROM xy),
         |fit AS (
         |  SELECT ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx != 0
         |           THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
         |                / (CAST(n AS DOUBLE) * sxx - sx * sx) END, 4)
         |           AS beta4,
         |         ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx != 0
         |           THEN (sy * sxx - sx * sxy)
         |                / (CAST(n AS DOUBLE) * sxx - sx * sx) END, 4)
         |           AS lnk4
         |  FROM s)
         |SELECT xy.cp, xy.n_tok, xy.n_types, fit.beta4, fit.lnk4
         |FROM xy CROSS JOIN fit
         |ORDER BY cp ASC NULLS FIRST""".stripMargin,

    "q293_diversity" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok),
         |m AS (
         |  SELECT source,
         |         CAST(SUM(c) AS BIGINT) AS n_tok,
         |         CAST(COUNT(*) AS BIGINT) AS n_types,
         |         CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT)
         |           AS s2,
         |         CAST(MAX(c) AS BIGINT) AS cmax
         |  FROM st GROUP BY source)
         |SELECT source, n_tok, n_types,
         |       ${DivFormula.simpson6} AS simpson6,
         |       ${DivFormula.bp6} AS bp6
         |FROM m
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    // the identical (source, token) grid, pair×vocab domain, CASE-
    // guarded one-sided terms, and the SAME JSD term text
    "q288_js_divergence" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS stf
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok
         |), sn AS (SELECT source, SUM(stf) AS n FROM st GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
         |  FROM sn a JOIN sn b ON a.source < b.source),
         |vocab AS (SELECT DISTINCT tok FROM st),
         |j AS (
         |  SELECT d.sa, d.sb, d.na, d.nb,
         |         COALESCE(a.stf, 0) AS ca, COALESCE(b.stf, 0) AS cb
         |  FROM (SELECT * FROM pairs CROSS JOIN vocab) d
         |  LEFT JOIN st a ON a.source = d.sa AND a.tok = d.tok
         |  LEFT JOIN st b ON b.source = d.sb AND b.tok = d.tok
         |  WHERE COALESCE(a.stf, 0) + COALESCE(b.stf, 0) > 0)
         |SELECT sa, sb, COUNT(*) AS n_types,
         |       ROUND(CAST(SUM(CAST(${JsdFormula.term6}
         |         AS DECIMAL(38,6))) AS DOUBLE), 4) AS jsd4
         |FROM j GROUP BY sa, sb
         |ORDER BY sa ASC NULLS FIRST, sb ASC NULLS FIRST""".stripMargin,

    // the same (source, lang) grid, 6dp decimal entropy terms, one exp
    "q381_lang_mix_entropy" ->
      """WITH g AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
        |         CAST(COUNT(*) AS BIGINT) AS n_langs
        |  FROM g GROUP BY 1),
        |a AS (
        |  SELECT g.source, MAX(tot.n) AS n_docs,
        |         MAX(tot.n_langs) AS n_langs,
        |         SUM(CAST(ROUND(-(CAST(g.c AS DOUBLE)
        |           / CAST(tot.n AS DOUBLE))
        |           * ln(CAST(g.c AS DOUBLE) / CAST(tot.n AS DOUBLE)), 6)
        |           AS DECIMAL(38,6))) AS hd
        |  FROM g JOIN tot USING (source) GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_langs AS BIGINT) AS n_langs,
        |       ROUND(CAST(hd AS DOUBLE), 6) AS h6,
        |       ROUND(EXP(CAST(hd AS DOUBLE)), 4) AS eff_langs4
        |FROM a ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q112_kl_source" ->
      s"""WITH st AS (
         |  SELECT source, tok, COUNT(*) AS stf
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok
         |), sn AS (SELECT source, SUM(stf) AS sn FROM st GROUP BY source),
         |ct AS (SELECT tok, SUM(stf) AS ctf FROM st GROUP BY tok),
         |tt AS (SELECT SUM(ctf) AS cn FROM ct)
         |SELECT st.source, COUNT(*) AS n_types,
         |       ROUND(CAST(SUM(CAST(ROUND(
         |         (CAST(stf AS DOUBLE) / CAST(sn AS DOUBLE))
         |         * ln((CAST(stf AS DOUBLE) * CAST(cn AS DOUBLE))
         |              / (CAST(ctf AS DOUBLE) * CAST(sn AS DOUBLE))), 6)
         |         AS DECIMAL(38,6))) AS DOUBLE), 4) AS kl4
         |FROM st JOIN ct USING (tok) JOIN sn USING (source) CROSS JOIN tt
         |GROUP BY st.source
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    // two ROW_NUMBER top-20 CTEs on the parity halves + FULL OUTER
    "q283_vocab_drift" ->
      s"""WITH c AS (
         |  SELECT doc_id % 2 AS half, tok, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY 1, 2
         |), top AS (
         |  SELECT half, tok,
         |         ROW_NUMBER() OVER (PARTITION BY half
         |           ORDER BY cnt DESC NULLS LAST, tok ASC NULLS FIRST)
         |           AS rk
         |  FROM c
         |  QUALIFY rk <= $DriftK
         |), a AS (SELECT tok, rk AS rank_a FROM top WHERE half = 0),
         |b AS (SELECT tok, rk AS rank_b FROM top WHERE half = 1)
         |SELECT COALESCE(a.tok, b.tok) AS tok, a.rank_a, b.rank_b,
         |       a.rank_a - b.rank_b AS delta
         |FROM a FULL OUTER JOIN b ON a.tok = b.tok
         |ORDER BY tok ASC NULLS FIRST""".stripMargin,

    // same top-(k+1) cut, the Hill sum staged exactly as q113's moments
    "q273_hill_tail" ->
      s"""WITH c AS (
         |  SELECT source, tok, COUNT(*) AS cnt
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok
         |), top AS (
         |  SELECT source, cnt,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY cnt DESC NULLS LAST, tok ASC NULLS FIRST) AS rk
         |  FROM c
         |  QUALIFY rk <= ${HillK + 1}
         |), xk AS (
         |  SELECT source, CAST(cnt AS BIGINT) AS x_k1 FROM top
         |  WHERE rk = ${HillK + 1}
         |), sm AS (
         |  SELECT source, COUNT(*) AS k,
         |         CAST(SUM(CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 6)
         |                  AS DECIMAL(38,6))) AS DOUBLE) AS slog
         |  FROM top WHERE rk <= $HillK GROUP BY source
         |), d AS (
         |  SELECT sm.source, sm.k, xk.x_k1,
         |         sm.slog - sm.k * ROUND(ln(CAST(xk.x_k1 AS DOUBLE)), 6)
         |           AS den
         |  FROM sm JOIN xk USING (source))
         |SELECT source, k, x_k1,
         |       ROUND(den / k, 6) AS hill_inv6,
         |       ROUND(CASE WHEN den != 0
         |                  THEN CAST(k AS DOUBLE) / den END, 6) AS alpha6
         |FROM d
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q113_zipf_slope" ->
      s"""WITH c AS (
         |  SELECT source, tok, COUNT(*) AS cnt
         |  FROM (SELECT source, unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY source, tok
         |), top AS (
         |  SELECT source, cnt,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY cnt DESC NULLS LAST, tok ASC NULLS FIRST) AS rk
         |  FROM c
         |  QUALIFY rk <= 100
         |), xy AS (
         |  SELECT source, ROUND(ln(CAST(rk AS DOUBLE)), 6) AS x,
         |         ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS y
         |  FROM top
         |), s AS (
         |  SELECT source, COUNT(*) AS n_terms,
         |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
         |  FROM xy GROUP BY source)
         |SELECT source, n_terms,
         |       ROUND(CASE WHEN CAST(n_terms AS DOUBLE) * sxx - sx * sx != 0
         |         THEN (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
         |              / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) END, 4)
         |         AS slope4
         |FROM s ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q114_bpe_pairs" ->
      s"""WITH w AS (
         |  SELECT tok AS w, COUNT(*) AS wcnt
         |  FROM (SELECT unnest($sqlToks) AS tok FROM documents) x
         |  GROUP BY tok
         |  HAVING length(tok) >= 2
         |), p AS (
         |  SELECT unnest(list_transform(range(1, length(w)),
         |           i -> substr(w, CAST(i AS INT), 2))) AS pair, wcnt
         |  FROM w)
         |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
         |FROM p GROUP BY pair
         |ORDER BY cnt DESC NULLS LAST, pair ASC NULLS FIRST
         |LIMIT 20""".stripMargin,

    "q115_hybrid_rrf" -> {
      val cosSql = Sql.cosine("p.pe", "b.embedding")
      s"""WITH ${TfidfQueries.bm25RankCteSql(excludeId = Some(0L))},
         |bm AS (SELECT id, rank AS r_bm FROM bmr WHERE rank <= $RrfDepth),
         |p AS (SELECT vec_id AS probe_id, embedding AS pe
         |      FROM embeddings WHERE vec_id = 0),
         |cr AS (
         |  SELECT id, rn AS r_cos FROM (
         |    SELECT b.vec_id AS id,
         |           ROW_NUMBER() OVER (
         |             ORDER BY ROUND($cosSql, 4) DESC NULLS LAST,
         |                      b.vec_id ASC NULLS FIRST) AS rn
         |    FROM p CROSS JOIN embeddings b
         |    WHERE b.vec_id != p.probe_id) x
         |  WHERE rn <= $RrfDepth
         |), f AS (
         |  SELECT COALESCE(bm.id, cr.id) AS doc_id, bm.r_bm, cr.r_cos,
         |         ROUND(COALESCE(1.0 / ($RrfK + CAST(bm.r_bm AS DOUBLE)), 0)
         |             + COALESCE(1.0 / ($RrfK + CAST(cr.r_cos AS DOUBLE)), 0), 6)
         |           AS rrf6
         |  FROM bm FULL OUTER JOIN cr ON bm.id = cr.id)
         |SELECT doc_id, r_bm, r_cos, rrf6,
         |       CAST(ROW_NUMBER() OVER (ORDER BY rrf6 DESC NULLS LAST,
         |                               doc_id ASC NULLS FIRST) AS INT) AS rank
         |FROM f
         |QUALIFY rank <= $RrfOut
         |ORDER BY rank ASC NULLS FIRST""".stripMargin
    }
  )
}
