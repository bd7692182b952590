package graft.api

import graft.Dets.safeDiv
import graft.functions.{GraftFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-facing text-analysis and text-dedup operators over ARBITRARY
  * DataFrames — the library surface behind the `documents`-table queries
  * in [[graft.operators.TextQueries]] / [[graft.operators.TfidfQueries]]
  * (which bind these to the test schema and are hash-verified against the
  * DuckDB oracle at every gate run).
  *
  * Conventions:
  *  - every op takes the input DataFrame plus the COLUMN NAMES it should
  *    read, and appends/returns deterministic columns — no fixed schema;
  *  - all hashing is the engine-portable rolling hash family from
  *    [[graft.functions.TextFunctions]] (64-bit integer ops only), so
  *    results are reproducible across engines and cluster sizes;
  *  - everything stays inside whole-stage codegen (native expressions
  *    from [[graft.functions.GraftFunctions]], no Scala UDFs, no
  *    interpreted higher-order-function lambdas on per-token paths).
  *
  * Pair-generating ops follow a shared shape: build one small hash row
  * per document ([[tokenHashTable]]), self-join blocked on a coarse key,
  * and verify candidates with the codegen sorted-merge intersect. For
  * corpora where even the blocked self-join is too wide, use the
  * MinHash/LSH candidate generation in [[DedupOps.minhashLshPairs]] and
  * keep the same verify step.
  */
object TextOps {

  /** One row per document: (`id`, `block`, `hs`) where `hs` is the SORTED
    * array of distinct-token rolling hashes — the compact representative
    * every pair op compares instead of the raw text. Sorting makes the
    * pairwise intersect a linear merge (`graft_sorted_intersect`).
    * `blockCol` is the candidate-blocking key (e.g. language); pass a
    * constant column to disable blocking. */
  def tokenHashTable(docs: DataFrame, idCol: String, textCol: String,
    blockCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"), col(blockCol).as("block"),
      tokenHashes(col(textCol)).as("hs"))
  }

  /** The sorted distinct-token hash array of a text column: the `hs` of
    * [[tokenHashTable]], the MinHash input of
    * [[DedupOps.minhashSignature]], and both sides of every
    * [[jaccardVerify]]. `sort_array`, not `array_sort`: the latter
    * sorts through an interpreted comparator lambda, and the hashes
    * carry no NULLs, so both orders agree. */
  private[graft] def tokenHashes(text: Column): Column =
    sort_array(
      call_function("graft_token_hashes", TextFunctions.tokenSet(text)))

  /** The exact token-set Jaccard verify of candidate pairs carrying sorted
    * hash arrays `hs_a`/`hs_b`: appends the intersection and union sizes
    * as exact longs (`inter`, `uni`) and `jac` = inter / uni in double,
    * and keeps the pairs at `jac` ≥ `minJac`. The one verify of
    * [[nearDupPairs]], [[DedupOps.minhashLshPairs]] and
    * [[DedupOps.minhashLshAgainst]]. */
  private[graft] def jaccardVerify(pairs: DataFrame, minJac: Double)
  : DataFrame = pairs
    .withColumn("inter", call_function("graft_sorted_intersect",
      col("hs_a"), col("hs_b")).cast("long"))
    .withColumn("uni",
      (size(col("hs_a")) + size(col("hs_b"))).cast("long") - col("inter"))
    .withColumn("jac",
      safeDiv(col("inter").cast("double"), col("uni").cast("double")))
    .filter(col("jac") >= minJac)

  /** The containment verify of [[containmentPairs]] and
    * [[containmentPairsPrefix]]: `c_lo` = |A∩B|/|A| and `c_hi` =
    * |A∩B|/|B| over `hs_a`/`hs_b`, kept where either reaches `minCont`. */
  private def containmentVerify(pairs: DataFrame, minCont: Double)
  : DataFrame = pairs
    .withColumn("inter", call_function("graft_sorted_intersect",
      col("hs_a"), col("hs_b")).cast("double"))
    .withColumn("c_lo", safeDiv(col("inter"), size(col("hs_a"))))
    .withColumn("c_hi", safeDiv(col("inter"), size(col("hs_b"))))
    .filter(greatest(col("c_lo"), col("c_hi")) >= minCont)
    .select("id_lo", "id_hi", "c_lo", "c_hi")

  /** Exact near-duplicate pairs from a [[tokenHashTable]]: same block,
    * `id_lo < id_hi`, token-set Jaccard ≥ `minJac`. Returns
    * (id_lo, id_hi, jac). The size-ratio prune
    * (J(A,B) ≤ min|A|,|B| / max|A|,|B|) skips the merge-intersect for
    * most pairs without changing the result set. */
  def nearDupPairs(hashed: DataFrame, minJac: Double): DataFrame =
    jaccardVerify(blockedPairs(hashed)
      .filter(safeDiv(least(size(col("hs_a")), size(col("hs_b"))).cast("double"),
        greatest(size(col("hs_a")), size(col("hs_b")))) >= minJac), minJac)
      .select(col("id_lo"), col("id_hi"), col("jac"))

  /** Containment pairs from a [[tokenHashTable]]: catches what Jaccard
    * misses — a short document quoted whole inside a long one has high
    * |A∩B|/|A| but low Jaccard. No size-ratio prune applies (the smaller
    * side can always be fully contained). Returns
    * (id_lo, id_hi, c_lo, c_hi) where `c_lo` = |A∩B|/|A|. */
  def containmentPairs(hashed: DataFrame, minCont: Double): DataFrame =
    containmentVerify(blockedPairs(hashed), minCont)

  /** [[containmentPairs]]' 100 TB form — same result set, never a
    * blocked quadratic scan. Prefix filtering (the classic
    * similarity-join bound): if max(|A∩B|/|A|, |A∩B|/|B|) ≥ t, then
    * the direction-qualifying side X misses at most ⌊(1−t)·|X|⌋ of its
    * tokens in the other doc, so at least one of X's
    * ⌊(1−t)·|X|⌋ + 1 RAREST tokens (global order: df asc, hash asc —
    * total, deterministic) appears in the other doc. Candidates are
    * therefore prefix(X) ⨝ postings(Y) on (block, token) — exact
    * recall by construction, no false negatives — and only candidates
    * pay the sorted-merge intersect verify.
    *
    * Scale shape: the per-doc prefix window parallelizes in the doc
    * count (token sets are small); the candidate join keys on RARE
    * tokens, so postings lists stay short except where true duplicate
    * mass makes the output itself large (output-sensitive, the best
    * possible). The verify joins attach the two hash arrays by id —
    * co-keyed shuffles, broadcast under AQE when they fit. */
  def containmentPairsPrefix(hashed: DataFrame, minCont: Double)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // posts feeds the df count, the prefix window, and the candidate
    // postings side — persist so the corpus-wide explode runs once, not
    // three times (the minhashLshPairs pattern); tracked so clearCaches
    // releases it (builders can't unpersist — the action runs later)
    val posts = graft.Caches.persistTracked(
      hashed.select(col("id"), col("block"),
        size(col("hs")).as("n"), explode(col("hs")).as("h")))
    val dfreq = posts.groupBy("block", "h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id")
      .orderBy(col("df").asc, col("h").asc)
    // Prefix size from the INTEGER intersection bound: a direction
    // qualifies iff inter ≥ ⌈t·n⌉, so at most n − ⌈t·n⌉ tokens may be
    // missing and the prefix needs n − ⌈t·n⌉ + 1. Never compute t·n in
    // floating point: ⌊(1−t)·n⌋ undersizes ((1 − 0.9)·30 = 2.9999…96),
    // ⌈t·n⌉ oversizes (0.9·30 = 27.000…004 ceils to 28), and any fixed
    // epsilon nudge stops dominating the rounding error once n is large
    // enough (abs err of t·n grows ~1e-16·t·n, crossing 1e-9 near
    // n ≈ 1e7 — exactly the corpus sizes this path exists for). The
    // threshold instead becomes its shortest decimal representation
    // (BigDecimal.valueOf = Double.toString round-trip) and t·n is
    // DECIMAL arithmetic — exact for any n, so ⌈t·n⌉ is exact.
    val tDec = lit(java.math.BigDecimal.valueOf(minCont))
    val prefix = posts.join(dfreq, Seq("block", "h"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("n") - ceil(tDec * col("n")) + lit(1))
      .select(col("id").as("id_x"), col("block"), col("h"))
    val cand = prefix
      .join(posts.select(col("id").as("id_y"), col("block"), col("h")),
        Seq("block", "h"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_lo"),
        greatest(col("id_x"), col("id_y")).as("id_hi"))
      .distinct()
    val la = hashed.select(col("id").as("id_lo"), col("hs").as("hs_a"))
    val lb = hashed.select(col("id").as("id_hi"), col("hs").as("hs_b"))
    containmentVerify(cand.join(la, "id_lo").join(lb, "id_hi"), minCont)
  }

  private def blockedPairs(hashed: DataFrame): DataFrame = {
    val a = hashed.select(col("id").as("id_lo"), col("block"),
      col("hs").as("hs_a"))
    val b = hashed.select(col("id").as("id_hi"), col("block").as("block_b"),
      col("hs").as("hs_b"))
    a.join(b, col("block") === col("block_b") && col("id_lo") < col("id_hi"))
  }

  /** N-gram-profile language identification over a self-labeled corpus:
    * build a top-`profileSize` distinct-token profile per language from
    * `langCol`, then predict for every document the language whose
    * profile it shares the most distinct tokens with. Returns
    * (id, pred_lang, score). The exploded (id, lang, token) table feeds
    * both the profile build and the scoring join, so it is persisted and
    * tokenization runs once. Both rankings run through the bounded-heap
    * top-k operator — the profile build is skew-prone (one group per
    * language) and the per-doc argmax needs no full sort. */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
    langCol: String, profileSize: Int = 20): DataFrame = {
    val doctok = graft.Caches.persistTracked(docs
      .select(col(idCol).as("__id"), col(langCol).as("__lang"),
        explode(TextFunctions.tokenSet(col(textCol))).as("tok")))
    val prof = graft.plans.GraftOps.topKPerGroup(
      doctok.groupBy(col("__lang").as("plang"), col("tok"))
        .agg(count(lit(1)).as("cnt")),
      Seq(col("plang")),
      Seq(col("cnt").desc, col("tok").asc), profileSize, rankName = "rk")
      .select("plang", "tok")
    val score = doctok.select("__id", "tok").join(prof, "tok")
      .groupBy("__id", "plang")
      .agg(count(lit(1)).as("score"))
    graft.plans.GraftOps.topKPerGroup(score,
      Seq(col("__id")),
      Seq(col("score").desc, col("plang").asc), 1, rankName = "rk")
      .select(col("__id").as("id"), col("plang").as("pred_lang"), col("score"))
  }

  /** Heuristic quality signals, appended per row: token count `n_tok`,
    * distinct count `n_uniq`, type-token ratio `ttr`, `avg_tok_len`, and
    * a length-damped composite `quality` in [0,1]. Pure projection —
    * codegen, no shuffle, linear scan at any scale. */
  def qualityScore(docs: DataFrame, textCol: String,
    fullLengthTokens: Int = 50): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__tk", TextFunctions.tokens(col(textCol)))
      .withColumn("n_tok", size(col("__tk")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("__tk"))).cast("long"))
      .withColumn("__sum_len", expr("CAST(graft_sum_lengths(__tk) AS BIGINT)"))
      .withColumn("ttr",
        round(safeDiv(col("n_uniq").cast("double"), col("n_tok")), 4))
      .withColumn("avg_tok_len",
        round(safeDiv(col("__sum_len").cast("double"), col("n_tok")), 4))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tok") / fullLengthTokens.toDouble) *
          safeDiv(col("n_uniq").cast("double"), col("n_tok")), 4))
      .drop("__tk", "__sum_len")
  }

  /** Gopher-style rule gate as a pure projection, appended per row:
    * `n_tok` plus an integer `flags` bitmask (1 token-count band,
    * 2 mean-token-length band, 4 stopword share, 8 type-token ratio)
    * and `keep` = all rules pass. Every rule is integer-exact
    * (cross-multiplied, no float ratios), so the verdict is
    * engine-portable. Stateless — the same projection runs on a batch
    * corpus (q104) or an arriving stream
    * ([[graft.streaming.DocStreams.curationGate]]). */
  def qualityRules(docs: DataFrame, textCol: String): DataFrame =
    qualityRulesFromTokens(
      docs.withColumn("__tk", TextFunctions.tokens(col(textCol))), "__tk")
      .drop("__tk")

  /** [[qualityRules]] over a PRE-TOKENIZED column — the shared-scan form
    * for composed pipelines (q116/q118's curation run) where several
    * stages read one persisted `(id, …, tokens)` projection instead of
    * each re-tokenizing the corpus. Same rules, same flag bits; the
    * token column passes through untouched. */
  def qualityRulesFromTokens(docs: DataFrame, toksCol: String): DataFrame =
    ruleStats(docs, toksCol)
      .drop("__sum_len", "__n_types", "__n_stop",
        "__r_len", "__r_wordlen", "__r_stop", "__r_ttr")

  /** The shared rule evaluation behind [[qualityRulesFromTokens]] and
    * [[qualityFeatures]]: token stats, per-rule booleans, the flags
    * bitmask, and the composite keep — internals still attached (the
    * public entry points project what they need, so both gate ONE rule
    * definition). */
  private def ruleStats(docs: DataFrame, toksCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val tk = col(toksCol)
    docs
      .withColumn("n_tok", size(tk).cast("long"))
      .withColumn("__sum_len",
        call_function("graft_sum_lengths", tk).cast("long"))
      .withColumn("__n_types", size(array_distinct(tk)).cast("long"))
      // codegen form of "count of 'the' + count of 'a'" — an
      // interpreted filter() lambda on the per-token hot path would
      // violate this file's no-HOF convention (the bm25 tf trick)
      .withColumn("__n_stop",
        ((size(tk) - size(array_remove(tk, lit("the"))))
          + (size(tk) - size(array_remove(tk, lit("a")))))
          .cast("long"))
      .withColumn("__r_len", col("n_tok") >= 20 && col("n_tok") <= 100000)
      .withColumn("__r_wordlen", col("__sum_len") >= col("n_tok") * 3 &&
        col("__sum_len") <= col("n_tok") * 8)
      .withColumn("__r_stop", col("__n_stop") * 50 >= col("n_tok"))
      .withColumn("__r_ttr", col("__n_types") * 5 >= col("n_tok"))
      .withColumn("flags",
        (when(col("__r_len"), 1).otherwise(0)
          + when(col("__r_wordlen"), 2).otherwise(0)
          + when(col("__r_stop"), 4).otherwise(0)
          + when(col("__r_ttr"), 8).otherwise(0)).cast("int"))
      .withColumn("keep",
        when(col("__r_len") && col("__r_wordlen") && col("__r_stop")
          && col("__r_ttr"), 1).otherwise(0).cast("int"))
  }

  /** Integer feature view for the LEARNED quality classifier
    * ([[MlOps.perceptronTrace]]): per document the q104 rule label
    * `keep` plus four integer-exact features — `f_ntok` (token count),
    * and the permille ratios `f_wlen` (mean token length × 1000),
    * `f_ttr` (type/token ratio × 1000), `f_stop` (stopword share ×
    * 1000), each a truncating integer division of the same stats the
    * rule gate reads (non-negative operands, so `div` agrees between
    * engines with no floor-vs-trunc ambiguity). Zero-token documents
    * are dropped (their ratios are undefined; the rule gate rejects
    * them anyway at the n_tok ≥ 20 bound). */
  def qualityFeatures(docs: DataFrame, textCol: String): DataFrame =
    ruleStats(
      docs.withColumn("__tk", TextFunctions.tokens(col(textCol))), "__tk")
      .filter(col("n_tok") >= 1)
      .withColumn("f_ntok", col("n_tok"))
      .withColumn("f_wlen", expr("__sum_len * 1000L div n_tok"))
      .withColumn("f_ttr", expr("__n_types * 1000L div n_tok"))
      .withColumn("f_stop", expr("__n_stop * 1000L div n_tok"))
      .drop("__tk", "__sum_len", "__n_types", "__n_stop",
        "__r_len", "__r_wordlen", "__r_stop", "__r_ttr", "flags")

  /** [[qualityRules]] PLUS the learned linear margin — the single-pass
    * rule+score view an ONLINE gate applies
    * ([[graft.streaming.DocStreams.curationGate]]'s learned stage;
    * q235 trains the weights, q237 is the batch report): appends
    * `score` = w·(1, f_ntok, f_wlen, f_ttr, f_stop) as an integer
    * margin, NULL for zero-token documents (outside the feature
    * domain — the q235 contract; such rows already fail the length
    * rule). Weights are bias-first, the
    * [[graft.api.MlOps.perceptronTrace]] layout. Stateless per-row —
    * stream-safe; ONE [[ruleStats]] evaluation feeds both the rule
    * columns and the margin's feature terms, so the applied gate can
    * never drift from the trained feature definition. */
  def qualityRulesScored(docs: DataFrame, textCol: String,
    weights: Seq[Long]): DataFrame = {
    require(weights.size == 5,
      s"need 5 weights (bias, f_ntok, f_wlen, f_ttr, f_stop), " +
        s"got ${weights.size}")
    val margin = lit(weights(0)) +
      col("n_tok") * lit(weights(1)) +
      expr("__sum_len * 1000L div n_tok") * lit(weights(2)) +
      expr("__n_types * 1000L div n_tok") * lit(weights(3)) +
      expr("__n_stop * 1000L div n_tok") * lit(weights(4))
    ruleStats(
      docs.withColumn("__tk", TextFunctions.tokens(col(textCol))), "__tk")
      .withColumn("score", when(col("n_tok") >= 1, margin))
      .drop("__tk", "__sum_len", "__n_types", "__n_stop",
        "__r_len", "__r_wordlen", "__r_stop", "__r_ttr")
  }

  /** Token-count estimators, appended per row: whitespace tokens `n_ws`,
    * alphabetic runs `n_alpha`, and the chars/4 BPE estimate `bpe_est`.
    * `charCountCol` names a precomputed character-count column; when
    * absent the text length is used. */
  def tokenCounts(docs: DataFrame, textCol: String,
    charCountCol: Option[String] = None): DataFrame =
    docs
      .withColumn("n_ws",
        size(TextFunctions.tokens(col(textCol))).cast("long"))
      .withColumn("n_alpha",
        // case-insensitive: "THE CAT" has 2 alphabetic runs, not 0
        regexp_count(col(textCol), lit("[A-Za-z]+")).cast("long"))
      .withColumn("bpe_est",
        ceil(charCountCol.map(col).getOrElse(length(col(textCol))) / 4.0)
          .cast("long"))

  /** Deterministic rolling-hash fingerprint `fp` of the text, appended.
    * Engine-portable (x31 mod 1e9+7 over chars, seed 7): any SQL engine
    * with BIGINT arithmetic reproduces it exactly. */
  def fingerprint(docs: DataFrame, textCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    // call_function binds the column by value — any column name works
    docs.withColumn("fp", call_function("graft_charhash", col(textCol)))
  }

  /** Highest-TF-IDF term per document: tokenize, count term frequency per
    * (doc, term) and document frequency per term — two map-side partial
    * aggregations joined on the term, the corpus size attached as a
    * broadcast single-row aggregate — then take the per-doc argmax through
    * the bounded-heap top-k. Returns (id, top_term, tfidf). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val tok = docs.select(col(idCol).as("__id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    // tf feeds both the df-count and the final join; persist so the
    // tokenize+explode+agg chain runs once
    val tf = graft.Caches.persistTracked(
      tok.groupBy("__id", "tok").agg(count(lit(1)).as("cnt")))
    tfidfTopTermsOfTf(tf, docs.agg(count(lit(1)).as("n_docs")))
  }

  /** [[tfidfTopTerms]] over a PREBUILT term-frequency table
    * (__id, tok, cnt) and a one-row (n_docs) corpus count — the same
    * df-count/join/argmax recipe with the tokenize pass factored out,
    * so a host that already shares a (doc, term) table (the
    * shared:tfidf_doctf memo) doesn't re-tokenize. */
  def tfidfTopTermsOfTf(tf: DataFrame, nDocs: DataFrame): DataFrame = {
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    graft.plans.GraftOps.topKPerGroup(
      tf.join(df, "tok").crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("cnt") * log(col("n_docs").cast("double") / col("df")), 4))
        .select("__id", "tok", "tfidf"),
      Seq(col("__id")),
      Seq(col("tfidf").desc, col("tok").asc), 1)
      .select(col("__id").as("id"), col("tok").as("top_term"), col("tfidf"))
  }

  /** BM25 relevance ranking against a fixed bag of query `terms`: the
    * top `k` documents containing at least one term, scored with the
    * standard Robertson/Sparck-Jones formulation
    * (idf = ln(1 + (N − df + ½)/(df + ½)), tf saturation `k1`, length
    * normalization `b`). Returns (id, score4, rank).
    *
    * Shape for scale: per-term tf is `size(tk) − size(array_remove(tk,
    * term))` — native codegen expressions, no explode, no interpreted
    * lambdas — so scoring is a pure map over the corpus; the corpus
    * statistics (N, Σdl, per-term df) reduce to ONE row broadcast back;
    * the final rank is the bounded-heap top-k, partial per partition.
    * Nothing shuffles more than one row except the k-row result.
    *
    * Determinism [D2][D3]: each per-term score is quantized to 6dp and
    * summed as DECIMAL — order-independent — and the rank orders by that
    * exact decimal (id tie-break), never by a raw double. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
    terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75)
  : DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k > 0 && k <= 100000, "k must be in (0, 100000]")
    val tfBoost = k1 + 1
    val bComp = 1 - b
    val base = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))
    val withTf = terms.indices.foldLeft(base) { (d, i) =>
      d.withColumn(s"tf_$i", (size(col("tk")) -
        size(array_remove(col("tk"), lit(terms(i))))).cast("long"))
    }.drop("tk")
    val stats = withTf.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +: terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))): _*)
    val scored = withTf
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val termScores = terms.indices.map { i =>
      val tfD = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      round(idf * (tfD * lit(tfBoost)) / (tfD + lit(k1) *
        (lit(bComp) + lit(b) * col("dl").cast("double") / col("avgdl"))), 6)
        .cast(graft.Dets.Dec)
    }
    val dec = scored.withColumn("score_dec", termScores.reduce(_ + _))
    graft.plans.GraftOps.topKPerGroup(dec, Seq(lit(1)),
      Seq(col("score_dec").desc, col("id").asc), k, rankName = "rank")
      .select(col("id"),
        round(col("score_dec").cast("double"), 4).as("score4"),
        col("rank").cast("int").as("rank"))
  }

  /** Word-bigram-shingle Jaccard pairs: same blocking/verify shape as
    * [[nearDupPairs]] but over hashed "a b" shingles
    * (`graft_bigram_hashes` folds each shingle straight to its hash — no
    * concatenated-string materialization). Returns (id_lo, id_hi, jac). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
    blockCol: String, minJac: Double): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val hashed = docs
      .withColumn("__tk", TextFunctions.tokens(col(textCol)))
      .filter(size(col("__tk")) >= 2)
      .withColumn("hs",
        array_sort(array_distinct(expr("graft_bigram_hashes(__tk)"))))
      .select(col(idCol).as("id"), col(blockCol).as("block"), col("hs"))
    // both self-join sides read this chain; persist so the shingle
    // hashing runs once (one small row of sorted hashes per doc)
    nearDupPairs(graft.Caches.persistTracked(hashed), minJac)
  }

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct token `n`-grams also occur anywhere in `evalDocs` (the
    * held-out benchmark/eval suite), and whether any do. Returns the
    * corpus `idCol` plus (n_grams, n_hits, contaminated) where n_grams
    * counts the document's n-gram POSITIONS (len−n+1) and n_hits its
    * DISTINCT overlapping grams.
    *
    * Scale shape: the eval gram set is built once, deduplicated, and
    * broadcast — benchmark suites are MBs, corpora are TBs, so the
    * corpus side stays a narrow scan→explode→broadcast-semi path with
    * no corpus-sized shuffle before the per-doc count (whose input is
    * only the HITS, a tiny fraction of the gram stream). Gram hashing
    * is the codegen `graft_ngram_hashes` window fold over
    * `graft_token_hashes` — engine-portable 64-bit arithmetic, so the
    * contamination verdict is reproducible on any engine. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
    evalDocs: DataFrame, evalTextCol: String, n: Int = 8): DataFrame =
    decontaminateFromTokens(
      docs.withColumn("__dtk", TextFunctions.tokens(col(textCol))),
      idCol, "__dtk",
      evalDocs.withColumn("__dtk", TextFunctions.tokens(col(evalTextCol))),
      "__dtk", n)

  /** [[decontaminate]] over PRE-TOKENIZED columns — the shared-scan form
    * for composed pipelines where the corpus (and typically the eval
    * suite, a filtered view of the same frame) already carries a
    * persisted token array. Same gram hashing, same output columns. */
  def decontaminateFromTokens(docs: DataFrame, idCol: String,
    toksCol: String, evalDocs: DataFrame, evalToksCol: String,
    n: Int = 8): DataFrame = {
    require(n >= 2, "n-gram width must be >= 2")
    GraftFunctions.register(docs.sparkSession)
    def grams(df: DataFrame, c: String) = df.withColumn("__g",
      call_function("graft_ngram_hashes",
        call_function("graft_token_hashes", col(c)), lit(n)))
    val evalG = grams(evalDocs, evalToksCol)
      .select(explode(col("__g")).as("g")).distinct()
    val corpus = grams(docs, toksCol)
      .select(col(idCol), size(col("__g")).cast("long").as("n_grams"),
        col("__g"))
    val hits = corpus
      .select(col(idCol), explode(col("__g")).as("g"))
      .join(broadcast(evalG), "g")
      .groupBy(idCol)
      .agg(countDistinct(col("g")).as("n_hits"))
    corpus.drop("__g")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) > 0, 1).otherwise(0)
          .cast("int").as("contaminated"))
  }

  /** Bloom-filter decontamination — the scale path for [[decontaminate]]
    * when even the deduplicated eval gram SET is awkward to broadcast as
    * rows: the eval grams are folded into a Bloom filter (`fpp` false-
    * positive rate, ~1.4 MB per million grams at 0.1%) and the corpus
    * gram stream probes it with no join at all. One-sided error: every
    * truly contaminated document is flagged (no false negatives — the
    * property decontamination actually needs); a ~fpp fraction of clean
    * grams can inflate n_hits. Same output columns as [[decontaminate]];
    * spec-asserted superset equivalence (no relational oracle — Bloom
    * bit layout isn't engine-portable).
    *
    * The probe is a Scala UDF — the deliberate exception to the no-UDF
    * rule, as Spark exposes no public might_contain expression; the
    * filter object serializes once into the task closure. */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
    evalDocs: DataFrame, evalTextCol: String, n: Int = 8,
    fpp: Double = 0.001): DataFrame = {
    require(n >= 2, "n-gram width must be >= 2")
    GraftFunctions.register(docs.sparkSession)
    def grams(df: DataFrame, c: String) = df.withColumn("__g",
      call_function("graft_ngram_hashes",
        call_function("graft_token_hashes", TextFunctions.tokens(col(c))),
        lit(n)))
    val evalG = grams(evalDocs, evalTextCol)
      .select(explode(col("__g")).as("g")).distinct()
    // expected-items sizing needs one count over the (small) eval set
    val nGrams = math.max(1L, evalG.count())
    val bf = evalG.stat.bloomFilter("g", nGrams, fpp)
    val mightContain = udf((h: Long) => bf.mightContainLong(h))
    val corpus = grams(docs, textCol)
      .select(col(idCol), size(col("__g")).cast("long").as("n_grams"),
        col("__g"))
    val hits = corpus
      .select(col(idCol), explode(col("__g")).as("g"))
      .filter(mightContain(col("g")))
      .groupBy(idCol)
      .agg(countDistinct(col("g")).as("n_hits"))
    corpus.drop("__g")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) > 0, 1).otherwise(0)
          .cast("int").as("contaminated"))
  }

  /** Intra-document repetition scoring (the Gopher-style quality
    * signal): fraction of the document's word bigrams / trigrams that
    * are duplicates of an earlier occurrence. Returns `idCol` plus
    * (n_tok, dup2_frac, dup3_frac), fractions rounded to 4dp and NULL
    * when the document is too short to have any such n-gram — pure
    * per-row expression work (codegen window folds + array_distinct),
    * no joins, no shuffle beyond the caller's. */
  def repetitionScore(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    def dupFrac(g: String): Column = {
      val sz = size(col(g))
      when(sz > 0, round(
        lit(1) - size(array_distinct(col(g))).cast("double") / sz, 4))
    }
    docs
      .withColumn("__hs",
        call_function("graft_token_hashes", TextFunctions.tokens(col(textCol))))
      .withColumn("__g2", call_function("graft_ngram_hashes", col("__hs"), lit(2)))
      .withColumn("__g3", call_function("graft_ngram_hashes", col("__hs"), lit(3)))
      .select(col(idCol), size(col("__hs")).cast("long").as("n_tok"),
        dupFrac("__g2").as("dup2_frac"), dupFrac("__g3").as("dup3_frac"))
  }
}
