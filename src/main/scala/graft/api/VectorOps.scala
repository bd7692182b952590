package graft.api

import graft.Dets.safeDiv
import graft.functions.{CentroidAggregator, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-facing embedding/vector operators over ARBITRARY DataFrames with
  * a float-array column — similarity search, near-dup pairs, centroids.
  * These back the hash-verified q62/q63/q69/q70 queries (see
  * [[graft.operators.VectorQueries]] for the bindings); the persisted
  * two-stage ANN index lives in [[graft.sources.IvfIndex]].
  *
  * All dot products run through the codegen `graft_dot` expression (a
  * primitive float loop inside whole-stage codegen), and squared norms
  * are computed ONCE per row before any pair join, so each candidate
  * pair costs one dot product, not three.
  */
object VectorOps {

  /** cos(a, b) from precomputed squared norms — THE cosine formulation
    * every consumer (queries, IVF index) must share: association order
    * is part of the determinism contract with the oracles. */
  private[graft] def cosWith(a: String, b: String, n2a: String,
    n2b: String): Column =
    safeDiv(expr(s"graft_dot($a, $b)"), sqrt(col(n2a)) * sqrt(col(n2b)))

  /** `corpus` plus a squared-norm column `n2` — compute once, reuse in
    * every pair op below. */
  def withNorm(corpus: DataFrame, vecCol: String): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // call_function binds the column by value — any column name works
    corpus.withColumn("n2",
      call_function("graft_dot", col(vecCol), col(vecCol)))
  }

  /** Hard-negative mining — the contrastive-training companion of
    * [[cosineTopK]]: each probe's `k` nearest corpus vectors with a
    * DIFFERENT label (columns `probe_id`, `probe_label`, `pe` on the
    * probe side), i.e. the confusable-but-wrong examples a retrieval
    * or classification model should be trained against. Same scale
    * contract as the plain ranking: probes broadcast, the corpus is
    * scanned ONCE and never shuffles, the label exclusion rides the
    * broadcast join predicate (not a post-filter, so excluded rows
    * never enter the heap), and the bounded-heap top-k caps each scan
    * partition at k rows per probe. NULL labels follow SQL three-
    * valued logic on both engines: a NULL-label candidate (or probe)
    * is never a hard negative. Returns (probe_id, id, cos, rn). */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
    labelCol: String, probes: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus, vecCol)
    val p = withNorm(
        probes.select(col("probe_id"), col("probe_label"), col("pe")), "pe")
      .select(col("probe_id"), col("probe_label"), col("pe"),
        col("n2").as("pn2"))
    graft.plans.GraftOps.topKPerGroup(
      broadcast(p).join(c, col(idCol) =!= col("probe_id") &&
          col(labelCol) =!= col("probe_label"))
        .withColumn("cos", round(cosWith("pe", vecCol, "pn2", "n2"), 4))
        .select(col("probe_id"), col(idCol).as("id"), col("cos")),
      Seq(col("probe_id")), Seq(col("cos").desc, col("id").asc), k)
  }

  /** Exact top-`k` cosine neighbours in `corpus` for every row of
    * `probes` (columns `probe_id`, `pe`). Returns
    * (probe_id, id, cos, rn). The probe set broadcasts — the corpus
    * never shuffles — and ranking runs through the bounded-heap top-k
    * operator, so each scan partition contributes at most k rows per
    * probe to the final exchange. Cosines are rounded to 4dp with the
    * corpus id as tie-break, making the result deterministic. */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
    probes: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus, vecCol)
    val p = withNorm(probes.select(col("probe_id"), col("pe")), "pe")
      .select(col("probe_id"), col("pe"), col("n2").as("pn2"))
    graft.plans.GraftOps.topKPerGroup(
      broadcast(p).join(c, col(idCol) =!= col("probe_id"))
        .withColumn("cos", round(cosWith("pe", vecCol, "pn2", "n2"), 4))
        .select(col("probe_id"), col(idCol).as("id"), col("cos")),
      Seq(col("probe_id")),
      Seq(col("cos").desc, col("id").asc), k)
  }

  /** Per-vector kNN density: the mean rounded cosine to a vector's `k`
    * nearest neighbours WITHIN its `blockCol` group — the SemDeDup-style
    * redundancy-pressure signal (dense neighbourhoods ⇒ duplicative
    * regions worth pruning or downsampling). The blocking column is the
    * scale contract: density never goes corpus-quadratic because the
    * pair scan is an equi-join on `blockCol` (a label, an IVF cell id
    * from [[graft.sources.IvfIndex]], or an LSH bucket), so the cost is
    * Σ |block|² over blocks the caller already bounded, not |corpus|².
    * Ranking rounds cosines to 4dp with the neighbour id as tie-break
    * and runs through the bounded-heap top-k keyed on (id, block) — so
    * an id that appears in SEVERAL blocks (multi-probe LSH, overlapping
    * cells) gets an independent k-heap per block instead of its blocks
    * competing in one heap; the mean decimal-sums the rounded cosines
    * [D2], so the score is partition-invariant. Returns
    * (id, blockCol, k_nn, density4), one row per (id, block) the id
    * occurs in, with k_nn < k in undersized blocks. */
  def knnDensity(emb: DataFrame, idCol: String, vecCol: String,
    blockCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val c = graft.Caches.persistTracked(
      withNorm(emb.select(col(idCol), col(vecCol), col(blockCol)), vecCol))
    val l = c.select(col(blockCol), col(idCol).as("__a"),
      col(vecCol).as("__va"), col("n2").as("__na"))
    val r = c.select(col(blockCol), col(idCol).as("__b"),
      col(vecCol).as("__vb"), col("n2").as("__nb"))
    val pairs = l.join(r, Seq(blockCol))
      .filter(col("__a") =!= col("__b"))
      .withColumn("cos", round(cosWith("__va", "__vb", "__na", "__nb"), 4))
      .select(col(blockCol), col("__a"), col("__b"), col("cos"))
    graft.plans.GraftOps.topKPerGroup(pairs, Seq(col("__a"), col(blockCol)),
        Seq(col("cos").desc, col("__b").asc), k)
      .groupBy(col("__a"), col(blockCol))
      .agg(count(lit(1)).as("k_nn"),
        round(sum(col("cos").cast(graft.Dets.Dec)).cast("double")
          / count(lit(1)), 4).as("density4"))
      .select(col("__a").as("id"), col(blockCol), col("k_nn"),
        col("density4"))
  }

  /** Reciprocal-rank fusion of two bounded rank lists — the standard
    * lexical ⊕ dense retrieval blend. `a` needs columns (id, r_a), `b`
    * (id, r_b); fused score = Σ 1/(rrfK + rank) over the lists the id
    * appears in, rounded to 6dp, top `outK` by (score desc, id asc).
    * Returns (id, r_a, r_b, rrf6, rank) with absent ranks NULL.
    *
    * Both inputs are depth-bounded by construction (they come from
    * bm25/cosineTopK-style top-k operators), so the full-outer fusion
    * join touches ≤ 2·depth rows. The final rank runs through the
    * bounded-heap top-k on a constant group (the bm25 global-rank
    * shape) rather than a no-PARTITION row_number window: the plan is
    * then self-evidently bounded — each partition contributes at most
    * `outK` rows to the final exchange — and the driver log stays free
    * of WindowExec single-partition warnings that are indistinguishable
    * from a real scale problem in log review. */
  def rrfFuse(a: DataFrame, b: DataFrame, rrfK: Int, outK: Int)
  : DataFrame = {
    require(rrfK > 0 && outK > 0, "rrfK and outK must be positive")
    val fused = a.join(b, Seq("id"), "full_outer")
      .withColumn("rrf6", round(
        coalesce(lit(1.0) / (lit(rrfK).cast("double")
          + col("r_a").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK).cast("double")
            + col("r_b").cast("double")), lit(0.0)), 6))
    graft.plans.GraftOps.topKPerGroup(fused, Seq(lit(1)),
      Seq(col("rrf6").desc, col("id").asc), outK, rankName = "rank")
      .withColumn("rank", col("rank").cast("int"))
      .select("id", "r_a", "r_b", "rrf6", "rank")
  }

  /** All corpus pairs with cosine ≥ `minCos` (id_lo < id_hi) — embedding
    * near-dup detection. Brute-force O(n²) pair scan with the broadcast
    * build side: exact and fine while one side's (id, vector, norm) rows
    * broadcast; past that, block by an IVF cell id (build one with
    * [[graft.sources.IvfIndex.build]]) and run this per cell. */
  def cosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
    minCos: Double): DataFrame = {
    val c = withNorm(corpus, vecCol)
    val a = c.select(col(idCol).as("id_lo"), col(vecCol).as("pe"),
      col("n2").as("pn2"))
    val b = c.select(col(idCol).as("id_hi"), col(vecCol), col("n2"))
    broadcast(a).join(b, col("id_lo") < col("id_hi"))
      .withColumn("cos", round(cosWith("pe", vecCol, "pn2", "n2"), 4))
      .filter(col("cos") >= minCos)
      .select("id_lo", "id_hi", "cos")
  }

  /** Random-hyperplane LSH near-dup pairs — the sub-quadratic path for
    * [[cosinePairs]]' O(n²) scan. Each vector gets `bands` sign-pattern
    * keys (one long per band of `planesPerBand` hyperplane sign bits);
    * candidates come from an equi-join on (band, key) — vectors in the
    * same bucket have all `planesPerBand` signs equal, an event whose
    * probability rises steeply with cosine — and only candidates pay
    * the exact verify at `minCos`. Cross-band duplicate candidates are
    * eliminated WITHOUT a distinct shuffle by the first-matching-band
    * rule (as in the MinHash LSH pipeline).
    *
    * The hyperplanes are splitmix64-seeded Gaussian draws — pure
    * functions of (seed, plane, dim), so the same pairs emerge on any
    * engine, any cluster size, any run. Sign bits are computed by
    * `graft_dot` against literal plane vectors — all codegen, no
    * shuffle until the band join.
    *
    * Recall/cost tuning — BOTH depend on the operating threshold, and
    * sign-LSH cannot escape its ρ exponent: P(candidate) =
    * 1-(1-(1-θ/π)^planesPerBand)^bands for angle θ, and the best
    * achievable candidate work at the recall target scales ~n^(1+ρ)
    * with ρ = ln(1/p₁)/ln(1/p₂), p₁/p₂ the per-plane agreement at the
    * threshold/at cos 0. High-cosine near-dup (0.9+, ρ ≈ 0.2) affords
    * deep bands (8 bits × a few tables) with tiny buckets. Moderate
    * thresholds pay more: at cos 0.35, ρ ≈ 0.71, and the 4 × 16
    * defaults (measured 0.93 recall at sf0.1, RecallAuditSpec; the old
    * 8 × 4 defaults measured 0.10) collide uncorrelated pairs at
    * ~1/16 per band — markedly cheaper than all-pairs only when the
    * corpus has real structure, NOT a free lunch on isotropic data.
    * Past that regime, block by an IVF cell
    * ([[graft.sources.IvfIndex]]) and pair within cells instead.
    *
    * The banded sketch table is persisted for its two consumers and
    * released with the session (same lifecycle as
    * [[DedupOps.minhashLshPairs]]). */
  def cosineLshPairs(corpus: DataFrame, idCol: String, vecCol: String,
    dim: Int, minCos: Double, planesPerBand: Int = 4, bands: Int = 16,
    seed: Long = 42L): DataFrame = {
    require(dim > 0 && planesPerBand > 0 && planesPerBand <= 62 && bands > 0,
      "need dim > 0, 0 < planesPerBand <= 62, bands > 0")
    val planes = gaussianPlanes(bands * planesPerBand, dim, seed)
      .grouped(planesPerBand).toSeq
    val d = graft.Caches.persistTracked(withNorm(corpus, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("__v"), col("n2"),
        array(planes.map(signKey(col(vecCol), _)): _*).as("bks")))
    val va = d.select(col("id").as("id_lo"), col("__v").as("v_a"),
      col("n2").as("n2_a"))
    val vb = d.select(col("id").as("id_hi"), col("__v").as("v_b"),
      col("n2").as("n2_b"))
    DedupOps.bandCollisionPairs(d, bands)
      .join(broadcast(va), "id_lo").join(broadcast(vb), "id_hi")
      .withColumn("cos", round(cosWith("v_a", "v_b", "n2_a", "n2_b"), 4))
      .filter(col("cos") >= minCos)
      .select("id_lo", "id_hi", "cos")
  }

  /** The hyperplane sign key of `vec`: bit i set iff its dot with
    * `planes(i)` is ≥ 0 — one long per band of
    * [[cosineLshPairs]], and the whole-signature key of
    * [[graft.streaming.DocStreams.semanticDupFilter]]. Codegen
    * `graft_dot` against literal planes; the caller registers the
    * graft functions. */
  private[graft] def signKey(vec: Column, planes: Array[Array[Float]])
  : Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(call_function("graft_dot", vec, typedLit(p)) >= 0d, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Deterministic Gaussian hyperplanes: Box–Muller over splitmix64
    * uniforms, seeded per (plane, dim) — identical on every run/engine.
    * `private[graft]` so the q102 oracle can embed the same planes as
    * SQL literals (the same replay pattern q66 uses for the MinHash
    * constants). */
  private[graft] def gaussianPlanes(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    import graft.functions.TextFunctions.mix64
    def unit(x: Long): Double = // uniform in (0, 1]
      ((x >>> 11) + 1).toDouble / (1L << 53).toDouble
    Array.tabulate(n, dim) { (p, i) =>
      val u1 = unit(mix64(seed + p.toLong * 1000003L + i))
      val u2 = unit(mix64(seed + p.toLong * 1000003L + i + 500000L))
      (math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)).toFloat
    }
  }

  /** Per-group mean vector via the typed [[CentroidAggregator]] UDAF
    * (vector-add merge — commutative, so partial aggregation across
    * partitions is exact). Returns (group, centroid, n). */
  def centroids(corpus: DataFrame, groupCol: String, vecCol: String,
    dim: Int): DataFrame = {
    val centroid = udaf(new CentroidAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    corpus.groupBy(col(groupCol).as("group"))
      .agg(centroid(col(vecCol)).as("centroid"), count(lit(1)).as("n"))
  }

  /** Scalar min-max quantization of a float-vector column to `levels`+1
    * integer codes per dimension — the 4× (float32→int8) compression
    * step of a vector-lake ETL. Two passes: per-dimension corpus
    * min/max reduce to ONE row (64-group hash agg, map-side partial)
    * broadcast back, then a pure map emits the code array and the
    * reconstruction error. Returns (id, codes, rmse4). Min/max are
    * exact (no float arithmetic), the code rounding and the error fold
    * are association-pinned, so the result is cluster-size- and
    * engine-independent. A constant dimension (mx = mn) codes to 0.
    * Per-element work is HOF-lambda (interpreted) like q42's norms —
    * acceptable because it is a flat map with no shuffle; a codegen
    * kernel à la `graft_dot` is the drop-in if this ever dominates a
    * profile. */
  def quantizeMinMax(corpus: DataFrame, idCol: String, vecCol: String,
    dim: Int, levels: Int = 255): DataFrame = {
    require(dim > 0 && levels > 0, "need positive dim and levels")
    val flat = corpus.select(
      posexplode(col(vecCol)).as(Seq("pos", "x")))
    val stats = flat.groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    val packed = stats
      .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("a"),
        array_sort(collect_list(struct(col("pos"), col("mx")))).as("b"))
      .select(expr("transform(a, s -> s.mn)").as("mns"),
        expr("transform(b, s -> s.mx)").as("mxs"))
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(packed))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${dim - 1}), i ->
           |  CASE WHEN mxs[i] = mns[i] THEN 0
           |  ELSE CAST(round((CAST(v[i] AS DOUBLE) - mns[i])
           |       / (mxs[i] - mns[i]) * $levels) AS INT) END)""".stripMargin))
      .withColumn("rmse4", expr(
        s"""round(sqrt(aggregate(transform(sequence(0, ${dim - 1}), i ->
           |  pow(CAST(v[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE)
           |      / $levels * (mxs[i] - mns[i])), 2D)),
           |  0D, (a, x) -> a + x)), 4)""".stripMargin))
      .select(col("id"), col("codes"), col("rmse4"))
  }

  /** MMR (maximal-marginal-relevance) diversified re-rank of a probe's
    * shortlist: greedily pick `k` results maximizing
    * `rel(c) − λ · max_{s ∈ selected} sim(c, s)` — the standard
    * redundancy-suppressing finisher over a similarity shortlist.
    *
    * Distributed shape: the `depth`-deep shortlist comes from
    * [[cosineTopK]] (corpus scanned once, never shuffled) and the
    * depth² candidate-pair cosines from one broadcast self-join; the
    * greedy selection itself is inherently sequential, so it runs on
    * the driver over those ≤ depth² rounded scalars — a BOUNDED
    * driver finish (depth ≤ 1024 enforced), the q77-cutover pattern.
    * Determinism: rel/sim are the 4dp-rounded shared cosine; the score
    * is `rel − λ·maxSim` (exact double ops on rounded operands) and
    * ties break on the smaller id; with λ a dyadic rational the score
    * is mathematically a 5-decimal value, so the emitted
    * `round(score, 5)` sits on the grid in every engine.
    * Returns (rank, id, score5). */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String,
    probe: DataFrame, depth: Int, k: Int, lambdaDiv: Double): DataFrame = {
    require(k >= 1 && depth >= k && depth <= 1024,
      "need 1 <= k <= depth <= 1024 (bounded driver finish)")
    // single-probe contract: cosineTopK's shortlist drops the probe
    // identity, so a multi-row probe would blend shortlists into one
    // meaningless ranking — fail loudly instead (limit(2) bounds the
    // guard's cost regardless of probe size)
    require(probe.limit(2).count() == 1,
      "mmrRerank expects exactly ONE probe row; rerank per probe " +
        "(the shortlist and greedy state are per-query)")
    val short = cosineTopK(corpus, idCol, vecCol, probe, depth)
      .select(col("id"), col("cos").as("rel"))
    // alias the corpus id before the semi-join: with idCol == "id" the
    // raw `col(idCol) === col("id")` would be an ambiguous
    // self-reference
    val c = withNorm(corpus, vecCol)
      .withColumn("__corpus_id", col(idCol))
    val side = c.join(short.select(col("id").as("__short_id")),
        col("__corpus_id") === col("__short_id"))
      .select(col("__corpus_id").as("id"), col(vecCol).as("v"), col("n2"))
    val sims = side.select(col("id").as("ia"), col("v").as("va"),
        col("n2").as("na"))
      .join(broadcast(side.select(col("id").as("ib"), col("v").as("vb"),
        col("n2").as("nb"))), col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(cosWith("va", "vb", "na", "nb"), 4).as("sim"))
    val rel = short.collect().map(r => r.getLong(0) -> r.getDouble(1))
    val simM = sims.collect().flatMap { r =>
      val (a, b, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      Seq((a, b) -> s, (b, a) -> s)
    }.toMap
    var selected = Vector.empty[Long]
    val out = Vector.newBuilder[(Int, Long, Double)]
    val pool = scala.collection.mutable.LinkedHashMap(rel: _*)
    for (rank <- 1 to k if pool.nonEmpty) {
      val (bestId, bestScore) = pool.iterator.map { case (id, r) =>
        val pen = if (selected.isEmpty) 0.0
          else selected.map(s => simM.getOrElse((id, s), 0.0)).max
        id -> (r - lambdaDiv * pen)
      }.reduceLeft { (x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
      }
      selected :+= bestId
      pool.remove(bestId)
      out += ((rank,
        bestId,
        BigDecimal(bestScore)
          .setScale(5, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      ()
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    out.result().toDF("rank", "id", "score5")
      .select(col("rank").cast("long").as("rank"), col("id"),
        col("score5"))
  }
}
