package graft

import graft.operators.{SketchQueries, TextQueries, VectorQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured recall audits at sf0.1: every bucketed/approximate candidate
  * generator vs its exact sibling (the SURVEY §9 audit the round-3
  * verdict called for).
  *
  * All the LSH-family generators verify EXACT similarity on their
  * candidates, so their pair sets are subsets of the exact relation by
  * construction — asserted here — and recall (|approx| / |exact|) is the
  * one number that can silently regress when banding parameters, hash
  * kernels, or blocking change. These tests pin it to a measured floor
  * at the largest local scale factor; the measured values are recorded
  * in BENCH_NOTES.md.
  *
  * q111 (prefix-filtered containment) is NOT probabilistic — the prefix
  * bound guarantees every qualifying pair survives candidate generation
  * — so its audit asserts exact set equality, not a floor.
  */
class RecallAuditSpec extends SparkSpec {
  private val Sf01 = "/root/testdata/sf0.1"

  override def afterAll(): Unit = {
    // release the sf0.1-sized memoized pair/hash tables this suite
    // built — the session is shared JVM-wide across suites, and leaving
    // them cached would squeeze storage for whatever runs next (later
    // suites rebuild their own sf0.001 entries lazily if cleared)
    TextQueries.clearCaches(spark)
    super.afterAll()
  }

  /** Assert `approx` ⊆ `exact` on (id_lo, id_hi) and return
    * (|approx|, |exact|, recall). */
  private def pairRecall(name: String, approx: DataFrame, exact: DataFrame)
  : (Long, Long, Double) = {
    val a = approx.select("id_lo", "id_hi").cache()
    val e = exact.select("id_lo", "id_hi").cache()
    val na = a.count()
    val ne = e.count()
    val extra = a.except(e).count()
    assert(extra == 0,
      s"$name: $extra pairs outside the exact relation (must be a subset)")
    val recall = if (ne == 0) 1.0 else na.toDouble / ne
    info(f"$name: $na of $ne exact pairs, recall $recall%.4f")
    a.unpersist(); e.unpersist()
    (na, ne, recall)
  }

  test("MinHash-LSH near-dup recall >= 0.9 vs exact scan (sf0.1, jac 0.6, lang-blocked)") {
    // the q118/q119 operating point: banded candidates + exact verify vs
    // the exact blocked quadratic, identical threshold and blocking
    val exact = TextQueries.nearDupPairs(spark, Sf01, 0.6)
    val lsh = SketchQueries.lshNearDupPairs(spark, Sf01, 0.6, Some("lang"))
    val (_, ne, recall) = pairRecall("minhash-lsh", lsh, exact)
    assert(ne > 0, "fixture produced no exact near-dup pairs — audit is vacuous")
    assert(recall >= 0.9, f"MinHash-LSH recall $recall%.4f below 0.9")
  }

  test("hyperplane-LSH embedding near-dup recall >= 0.9 vs brute force (sf0.1, cos 0.35)") {
    val emb = Tables.loadSpread(spark, Sf01, "embeddings")
    val exact = graft.api.VectorOps.cosinePairs(
      emb, "vec_id", "embedding", 0.35)
    // q102's production banding (shallow bands × many tables — the
    // sign-LSH regime a cos-0.35 threshold requires; see VectorQueries)
    val lsh = graft.api.VectorOps.cosineLshPairs(
      emb, "vec_id", "embedding", 64, 0.35,
      VectorQueries.LshPlanesPerBand, VectorQueries.LshBands)
    val (_, ne, recall) = pairRecall("hyperplane-lsh", lsh, exact)
    assert(ne > 0, "fixture produced no exact cosine pairs — audit is vacuous")
    assert(recall >= 0.9, f"hyperplane-LSH recall $recall%.4f below 0.9")
  }

  test("prefix-filtered containment == exact scan (sf0.1, cont 0.9) — recall exactly 1.0") {
    val hashed = graft.api.TextOps.tokenHashTable(
      Tables.loadSpread(spark, Sf01, "documents"), "doc_id", "text", "lang")
      .cache()
    val exact = graft.api.TextOps.containmentPairs(hashed, 0.9)
    val prefix = graft.api.TextOps.containmentPairsPrefix(hashed, 0.9)
    val (na, ne, recall) = pairRecall("prefix-containment", prefix, exact)
    assert(ne > 0, "fixture produced no containment pairs — audit is vacuous")
    assert(na == ne && recall == 1.0,
      s"prefix filtering lost pairs: $na of $ne — the bound is broken")
    hashed.unpersist()
  }

  test("q70 IVF ANN top-3 overlap vs exact ranks >= 0.3 (sf0.1, 10 probes)") {
    // q70's two-stage search (label cells, nprobe 2 of 10) vs q62's
    // exact brute-force ranks. The fixture's embeddings are only weakly
    // clustered by label (the exact pair histogram tops out at cos
    // ~0.6), so label-cell IVF is intrinsically lossy here — measured
    // 0.30 / 0.40 / 0.50 at nprobe 2 / 4 / 5 (RecallProbe). The floor
    // pins the measured value; the quality-tunable path is the learned
    // quantizer below.
    val ann = VectorQueries.queries("q70_ann_ivf")(spark, Sf01)
      .select("probe_id", "vec_id").cache()
    val exact = VectorQueries.queries("q62_sim_topk")(spark, Sf01)
      .filter(col("rn") <= 3).select("probe_id", "vec_id").cache()
    val nExact = exact.count()
    assert(nExact == 30, s"expected 10 probes x top-3, got $nExact")
    val overlap = ann.join(exact, Seq("probe_id", "vec_id")).count()
    val frac = overlap.toDouble / nExact
    info(f"ivf-ann: $overlap of $nExact exact top-3 recovered, overlap $frac%.4f")
    assert(frac >= 0.3, f"IVF top-3 overlap $frac%.4f below 0.3")
    ann.unpersist(); exact.unpersist()
  }

  test("PQ two-stage top-3 overlap vs exact L2 >= 0.8 (sf0.1, m=16, shortlist 32)") {
    // q132's pipeline (ADC shortlist + exact re-rank) vs the exact
    // squared-L2 brute force on the same probes. After the refine step
    // the overlap IS the shortlist recall — ADC-only top-3 measured
    // 0.07-0.33 across layouts (PQ's fine ordering quantizes away
    // near-ties; PqProbe sweep), which is why the shipped search
    // re-ranks. The floor pins the measured two-stage value honestly.
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.loadSpread(spark, Sf01, "embeddings")
    val ann = VectorQueries.queries("q132_pq_adc")(spark, Sf01)
      .select("probe_id", "vec_id").cache()
    val embN = emb.withColumn("n2", expr("graft_dot(embedding, embedding)"))
    val probes = embN.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("n2").as("pn2"))
    val exact = graft.plans.GraftOps.topKPerGroup(
      broadcast(probes).crossJoin(embN)
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("l2", round(col("pn2") + col("n2")
          - lit(2d) * expr("graft_dot(pe, embedding)"), 6))
        .select("probe_id", "vec_id", "l2"),
      Seq(col("probe_id")), Seq(col("l2").asc, col("vec_id").asc), 3)
      .select("probe_id", "vec_id").cache()
    val nExact = exact.count()
    assert(nExact == 30, s"expected 10 probes x top-3, got $nExact")
    val overlap = ann.join(exact, Seq("probe_id", "vec_id")).count()
    val frac = overlap.toDouble / nExact
    info(f"pq-adc: $overlap of $nExact exact L2 top-3 recovered, overlap $frac%.4f")
    // seeded-deterministic measured value: 0.8333 (r4-r10); the floor
    // sits one result-row under it so only a real regression trips
    assert(frac >= 0.8, f"PQ two-stage top-3 overlap $frac%.4f below 0.8")
    ann.unpersist(); exact.unpersist()
  }

  test("IVFPQ residual two-stage top-3 overlap vs exact L2 >= 0.8 (sf0.1, 8 cells, nprobe 6)") {
    // q134's composed pipeline vs the same exact brute force. The
    // coarse quantizer is the recall cap on this weakly-clustered
    // fixture (cell recall ~0.77 at nprobe 4, the IvfIndex finding);
    // probing 6 of 8 cells recovers flat PQ's 0.833 with the pruning
    // machinery fully exercised.
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.loadSpread(spark, Sf01, "embeddings")
    val ann = VectorQueries.queries("q134_ivfpq")(spark, Sf01)
      .select("probe_id", "vec_id").cache()
    val embN = emb.withColumn("n2", expr("graft_dot(embedding, embedding)"))
    val probes = embN.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("n2").as("pn2"))
    val exact = graft.plans.GraftOps.topKPerGroup(
      broadcast(probes).crossJoin(embN)
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("l2", round(col("pn2") + col("n2")
          - lit(2d) * expr("graft_dot(pe, embedding)"), 6))
        .select("probe_id", "vec_id", "l2"),
      Seq(col("probe_id")), Seq(col("l2").asc, col("vec_id").asc), 3)
      .select("probe_id", "vec_id").cache()
    val nExact = exact.count()
    assert(nExact == 30, s"expected 10 probes x top-3, got $nExact")
    val overlap = ann.join(exact, Seq("probe_id", "vec_id")).count()
    val frac = overlap.toDouble / nExact
    info(f"ivfpq: $overlap of $nExact exact L2 top-3 recovered, overlap $frac%.4f")
    // measured 0.8333 (= flat PQ, the coarse quantizer fully recovered)
    assert(frac >= 0.8, f"IVFPQ top-3 overlap $frac%.4f below 0.8")
    ann.unpersist(); exact.unpersist()
  }

  test("learned OPQ (OPQ-NP): identity init == flat PQ 0.833; rotation reduces the quantization objective") {
    // q132's exact code budget (m=16, ksub=16, 4 Lloyd rounds,
    // shortlist 32) through the OPQ-NP alternation (PqOps.opqTrain —
    // procrustes R-update seeded from identity). Two pinned facts:
    //  (1) at alternations=1 the learned family CONTAINS flat PQ —
    //      top-3 overlap must equal flat's measured 0.833, so the
    //      rotation path never costs anything at the same budget;
    //  (2) at alternations=3 the learned R is a REAL rotation
    //      (off-identity) and must strictly reduce the quantization
    //      error Σ‖Rx − q(Rx)‖² — the objective OPQ optimizes
    //      (measured 681.4 → 653.3 on this fixture, −4.1%); top-3
    //      overlap floor 0.7 (measured 0.767 — this fixture's
    //      embeddings are isotropic, so the error win does not move
    //      the 30-sample overlap beyond noise; correlated production
    //      embeddings are where the rotation pays in recall too).
    // Probe sweep (incl. fixed seeded rotations 0.67-0.73 — measurably
    // WORSE, which is why the shipped rotation is learned, not random)
    // in BENCH_NOTES.md.
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.loadSpread(spark, Sf01, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val embN = emb.withColumn("n2", expr("graft_dot(embedding, embedding)"))
    val probesN = embN.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("n2").as("pn2"))
    val exact = graft.plans.GraftOps.topKPerGroup(
      broadcast(probesN).crossJoin(embN)
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("l2", round(col("pn2") + col("n2")
          - lit(2d) * expr("graft_dot(pe, embedding)"), 6))
        .select("probe_id", "vec_id", "l2"),
      Seq(col("probe_id")), Seq(col("l2").asc, col("vec_id").asc), 3)
      .select("probe_id", "vec_id").cache()
    val nExact = exact.count()
    assert(nExact == 30, s"expected 10 probes x top-3, got $nExact")
    def overlapOf(ann: org.apache.spark.sql.DataFrame): Double =
      ann.select("probe_id", "vec_id")
        .join(exact, Seq("probe_id", "vec_id")).count().toDouble / nExact
    val (m, ksub, iters, shortK) = (VectorQueries.PqM,
      VectorQueries.PqKsub, VectorQueries.PqIters, VectorQueries.PqShortK)
    // (1) identity member == flat PQ
    val (r1, cb1, codes1) = graft.api.PqOps.opqTrain(
      emb, "vec_id", "embedding", 64, m, ksub, iters, alternations = 1)
    assert(r1.isEmpty, "alternations=1 must keep the identity rotation")
    val err1 = graft.api.PqOps.quantizationError(
      r1, cb1, codes1, emb, "vec_id", "embedding", 64, m)
    val frac1 = overlapOf(graft.api.PqOps.opqSearchWith(
      r1, cb1, codes1, emb, "vec_id", "embedding", probes, 64, m, shortK, 3))
    info(f"opq alternations=1 (== flat): overlap $frac1%.4f, err $err1%.1f")
    assert(frac1 >= 0.833,
      f"identity-init OPQ overlap $frac1%.4f below flat PQ's 0.833")
    // (2) learned rotation strictly improves the objective
    val (r3, cb3, codes3) = graft.api.PqOps.opqTrain(
      emb, "vec_id", "embedding", 64, m, ksub, iters, alternations = 3)
    assert(r3.isDefined, "alternations=3 must learn a rotation")
    val err3 = graft.api.PqOps.quantizationError(
      r3, cb3, codes3, emb, "vec_id", "embedding", 64, m)
    val frac3 = overlapOf(graft.api.PqOps.opqSearchWith(
      r3, cb3, codes3, emb, "vec_id", "embedding", probes, 64, m, shortK, 3))
    info(f"opq alternations=3: overlap $frac3%.4f, err $err3%.1f")
    assert(err3 < err1,
      f"learned rotation must reduce quantization error: $err3%.1f vs $err1%.1f")
    // measured 0.7667 on this isotropic fixture (the rotation trades a
    // little top-3 overlap for a strictly better quantization objective)
    assert(frac3 >= 0.75, f"learned-OPQ overlap $frac3%.4f below 0.75")
    exact.unpersist()
  }

  test("IvfIndex default (trained k-means cells): top-3 overlap >= 0.75 (sf0.1, k=8, nprobe=4)") {
    // the DEFAULT index path (buildTrained, round 10): a TRAINED
    // quantizer instead of the label column — k-means cells align with
    // the data's actual geometry and roughly double the label-cell
    // overlap (measured 0.7667 at k=8 nprobe=4 vs 0.40 for label cells
    // at the same nprobe)
    val emb = Tables.loadSpread(spark, Sf01, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("ivf_recall").toString
    graft.sources.IvfIndex.buildTrained(
      emb, root, "vec_id", "embedding", 64, k = 8, iters = 4)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val ann = graft.sources.IvfIndex.search(spark, root, probes, 4, 3)
      .select("probe_id", "vec_id")
    val exact = VectorQueries.queries("q62_sim_topk")(spark, Sf01)
      .filter(col("rn") <= 3).select("probe_id", "vec_id")
    val overlap = ann.join(exact, Seq("probe_id", "vec_id")).count()
    val frac = overlap / 30.0
    info(f"ivf-kmeans: $overlap of 30 exact top-3 recovered, overlap $frac%.4f")
    assert(frac >= 0.75, f"k-means IVF top-3 overlap $frac%.4f below 0.75")
  }

  test("q226 sampled-edge census estimates q165 exact triangles within 25%") {
    // DOULION estimator audit (the q45/q22 sketch-vs-exact pattern):
    // seeded hash sampling makes the estimate a pure function of the
    // data, so this is a fixed measured value, not a flaky draw. The
    // 25% band is the pinned observation at sf0.001 (p=1/2 keeps ~1/8
    // of triangles; relative error shrinks ~1/√(T·p³) as T grows, so
    // larger fixtures only tighten it).
    val exact = graft.operators.GraphQueries
      .queries("q165_triangles")(spark, Sf)
      .head.getAs[Long]("n_triangles")
    val approx = graft.operators.GraphQueries
      .queries("q226_triangles_approx")(spark, Sf).head
    val est = approx.getAs[Double]("est_triangles")
    val relErr = math.abs(est - exact) / exact.toDouble
    info(f"triangles exact=$exact est=$est%.1f relErr=$relErr%.4f " +
      s"(edges sampled ${approx.getAs[Long]("n_edges_sampled")})")
    assert(relErr <= 0.25,
      f"sampled census rel. error $relErr%.4f above pinned 0.25 band")
  }

  test("q228 apex-sampled link prediction: subset invariants vs the exact full-graph scores") {
    import graft.operators.{CoPurchase, GraphQueries}
    // exact full-graph common-neighbour/AA reference (the un-floored
    // wedge enumeration q228 exists to avoid at scale — fine at
    // sf0.001's ~1.6M wedges)
    val und = CoPurchase.und(spark, Sf)
    val ed = CoPurchase.directedW(spark, Sf).select("u", "v")
    val deg = ed.groupBy("u").agg(count(lit(1)).as("d"))
    val invlog = deg.filter(col("d") >= 2).select(col("u"),
      round(lit(1d) / log(col("d").cast("double")), 6).as("il"))
    val e1 = ed.join(invlog, Seq("u"))
      .select(col("u"), col("v").as("px"), col("il"))
    val e2 = ed.select(col("u"), col("v").as("py"))
    val exact = e1.join(e2, Seq("u")).filter(col("px") < col("py"))
      .groupBy("px", "py")
      .agg(count(lit(1)).as("cn_x"), sum(col("il")).as("aa_x"))
      .localCheckpoint(true)
    val sampled = GraphQueries
      .queries("q228_link_pred_sampled")(spark, Sf).localCheckpoint(true)
    // (a) every reported pair is genuinely unconnected
    assert(sampled.join(und.select(col("x").as("px"), col("y").as("py")),
      Seq("px", "py"), "left_semi").count() == 0,
      "sampled output contains a connected pair")
    // (b) apex sampling thins wedges, never invents them: each pair
    // exists in the exact relation with cn_sampled ≤ exact cn and
    // aa_est/p⁻¹ ≤ exact aa (within the 6dp rounding slack)
    val j = sampled.join(exact, Seq("px", "py"), "left").collect()
    assert(j.forall(!_.isNullAt(j.head.fieldIndex("cn_x"))),
      "sampled pair missing from the exact wedge relation")
    val invP = GraphQueries.ApexSampleMod.toDouble / GraphQueries.ApexSampleKeep
    j.foreach { r =>
      assert(r.getAs[Long]("cn_sampled") <= r.getAs[Long]("cn_x"),
        s"cn_sampled exceeds exact cn: $r")
      assert(r.getAs[Double]("aa_est") / invP
        <= r.getAs[Double]("aa_x") + 1e-4,
        s"sampled AA partial sum exceeds exact AA: $r")
    }
    // (c) top-30 overlap with the exact unconnected ranking. The
    // sample is a pure function of the data (polyMix apex hash), so
    // this is a fixed measured value: 2/30 at sf0.001 with p = 1/32
    // (≈6 of ~200 apexes survive — a thin sample CAN rank few of the
    // exact top pairs; the estimator's contract is the HT-unbiased
    // scores (b), not ranking recall). The ≥ 1 floor plus
    // non-emptiness makes a silent estimator collapse (e.g. a sampling
    // predicate that matches nothing and passes (a)/(b) vacuously)
    // fail loudly instead of info-logging a zero.
    assert(sampled.count() > 0, "apex-sampled output is empty")
    val exactTop = exact
      .join(und.select(col("x").as("px"), col("y").as("py")),
        Seq("px", "py"), "left_anti")
      .orderBy(col("aa_x").desc, col("px").asc, col("py").asc)
      .limit(30)
    val overlap = sampled.select("px", "py")
      .join(exactTop.select("px", "py"), Seq("px", "py"), "left_semi")
      .count()
    info(s"q228 top-30 overlap with exact ranking: $overlap / 30")
    // floor = the measured seeded value (2/30, stable across rounds —
    // the draw is deterministic on this fixture, so a drop below it
    // means the sampling predicate or the estimator changed, which the
    // hash gate would also catch but this localizes): a 1/30 floor
    // would not catch a broken predicate that still lets one pair
    // through
    assert(overlap >= 2,
      s"top-30 overlap $overlap below the measured seeded value of 2")
  }
}
