package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of the session-shared memoized builds (pair tables, LSH
  * edge sets, tokenized projections, trained artifacts) under a STABLE
  * benchmark label each.
  *
  * Why this exists: the r11 bench audit found that per-key timings
  * absorbed family build costs by sweep-order accident — q153 paid the
  * co-purchase pair build for the whole graph family, q118 the LSH edge
  * table, q267 the integer-PQ training — so per-key deltas across
  * rounds were noise whenever the sweep order (or the memo state)
  * changed. [[Bench]] now primes every entry here BEFORE its timed
  * per-key loop and charges each build to its own `shared:<name>` line
  * in BENCH_DETAIL; the per-key lines are then memo-warm by definition
  * and comparable round over round.
  *
  * The list must stay in sync with the `Caches.memo` call sites that
  * are consumed by MORE than one query key (single-consumer memos can
  * keep paying inside their own key — attribution is already right).
  * Each thunk materializes the memoized frame(s) with a `count()`,
  * which is exactly the first-consumer cost the sweep used to charge.
  */
object SharedMemos {

  private def force(df: DataFrame): Unit = { df.count(); () }

  /** (label, prime) pairs, label-sorted; labels are JSON-map keys in
    * BENCH_DETAIL so they match `[a-z0-9_]+` after the `shared:`
    * prefix and never change meaning across rounds. */
  def primes(dir: String): Seq[(String, SparkSession => Unit)] = Seq[
    (String, SparkSession => Unit)](
    // co-purchase weighted pair table — the whole graph family
    // (q153/q227/q228/q230/q231/q234/q238/q242/q248/q253/q280, basket
    // q167/q171)
    "shared:copurchase_pairw" ->
      (s => force(operators.CoPurchase.pairW(s, dir))),
    // q132 PQ production-layout training (codebooks + encoded corpus)
    "shared:pq_prod_train" -> (s => {
      val (cb, codes) = operators.VectorQueries.pqProdArtifacts(s, dir)
      force(cb); force(codes)
    }),
    // q134 IVF+PQ training (centroids, residual codebooks, codes)
    "shared:ivfpq_train" -> (s => {
      val (cents, cb, codes) = operators.VectorQueries.ivfPqArtifacts(s, dir)
      force(cents); force(cb); force(codes)
    }),
    // q267/q268/q284 integer-PQ training artifacts (one training run)
    "shared:pqint_train" -> (s => {
      val (trace, cents, codes) =
        operators.VectorQueries.pqIntArtifacts(s, dir)
      force(trace); force(cents); force(codes)
    }),
    // q285/q359 integer-PQ training at the production (16,16,4)
    // geometry — the tree's most expensive training memo, shared by
    // the recall gate and the code-health readout since r13
    "shared:pqprodint_train" -> (s => {
      val (trace, cents, codes) =
        operators.VectorQueries.pqProdIntArtifacts(s, dir)
      force(trace); force(cents); force(codes)
    }),
    // item-CF serving neighbour lists (q253 holdout, q324 coverage)
    "shared:cf_neighbors" ->
      (s => force(operators.GraphQueries.cfNeighbors(s, dir))),
    // oriented-census triangle rows (q165 count, q308 per-vertex)
    "shared:tri_census" ->
      (s => force(operators.GraphQueries.triRows(s, dir))),
    // unweighted co-purchase degree table (q165/q292/q308/q340 +
    // landmarkBfs hub pick) — r14: one build instead of five 2·m
    // shuffles
    "shared:graph_degrees" ->
      (s => force(operators.CoPurchase.undDegrees(s, dir))),
    // 2-round LPA community labels (q230/q280/q291) — r14: one
    // iteration run instead of three
    "shared:lpa_labels" ->
      (s => force(operators.GraphQueries.lpaLabels(s, dir))),
    // BPE training run: merge trace + final symbols (q236/q262/q317)
    "shared:bpe_train" -> (s => {
      val (tr, sy) = operators.CorpusStatsQueries.bpeArtifacts(s, dir)
      force(tr); force(sy)
    }),
    // three-landmark multi-source BFS levels (q164, q232, q290)
    "shared:landmark_bfs" ->
      (s => force(operators.GraphQueries.landmarkBfs(s, dir))),
    // per-(doc, term) frequency table — the retrieval family's shared
    // tokenize pass (q75/q95/q139/q266/q309/q337/q342/q379) — r15: one
    // explode+agg instead of seven
    "shared:tfidf_doctf" ->
      (s => force(operators.TfidfQueries.docTf(s, dir))),
    // per-doc sorted token-hash table (q61/q77/q82/q90/q100/q109/...)
    "shared:text_hashed" ->
      (s => force(operators.TextQueries.hashedDocs(s, dir))),
    // n-gram-profile language predictions (q71, q120)
    "shared:text_langpred" ->
      (s => force(operators.TextQueries.langPred(s, dir))),
    // exact near-dup pair table at 0.6 (q61/q77/q100/q116/q278 chain)
    "shared:text_pairs06" ->
      (s => force(operators.TextQueries.nearDupPairs(s, dir, 0.6))),
    // resolved 0.6-pair components (q77/q116/q278/q325/q327) — r14:
    // one star-contraction instead of five; label sorts AFTER
    // text_pairs06 so the pair build cost stays on its own line
    "shared:text_pairs06_cc" ->
      (s => force(operators.PipelineQueries.clusters06(s, dir))),
    // MinHash-LSH pair table, unblocked 0.5 (q66, q255)
    "shared:lsh_pairs05" ->
      (s => force(operators.SketchQueries.lshNearDupPairs(s, dir, 0.5))),
    // MinHash-LSH pair table, lang-blocked 0.6 (q118, q119)
    "shared:lsh_pairs06_lang" -> (s => force(
      operators.SketchQueries.lshNearDupPairs(s, dir, 0.6, Some("lang")))),
    // blocked Jaro–Winkler match pairs (q205, q215, q269)
    "shared:jw_pairs" ->
      (s => force(operators.JoinQueries.jwPairs(s, dir))),
    // tokenized documents projection (q116/q118 curation compositions)
    "shared:pipeline_docstok" ->
      (s => force(operators.PipelineQueries.docsTok(s, dir))),
    // perceptron training trace (q235/q237/q241/q249/q251 + streaming)
    "shared:perc_trace" ->
      (s => force(operators.CurationQueries.percTrace(s, dir)))
  ).sortBy(_._1)
}
