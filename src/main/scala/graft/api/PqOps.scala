package graft.api

import scala.jdk.CollectionConverters._

import graft.functions.{CentroidAggregator, Codebook, GraftFunctions, PqKernels, TextFunctions}
import graft.sources.IvfIndex
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Product quantization + asymmetric-distance (ADC) search — the
  * memory-resident ANN path that complements [[graft.sources.IvfIndex]]
  * at 100 TB: instead of pruning WHICH vectors to score (IVF cells), PQ
  * compresses EVERY vector to `m` small codes (m bytes at ksub ≤ 256)
  * so the whole corpus's codes fit in a fraction of the raw footprint,
  * and a probe scores candidates by summing m table-looked-up
  * sub-distances instead of touching any raw vector.
  *
  * Scale shape: training runs on the deterministic spread-hash sample
  * (`trainOneIn`, the IvfIndex convention). A sample that fits
  * [[IvfIndex.DriverBaseBytes]] (rows × (dim·8 + 8) bytes, the doubles
  * the driver holds) is collected once and trained on the driver; a larger
  * one trains all m subspaces together in one distributed job per Lloyd
  * round. The model (codebooks, IVF cell centroids) is a driver-built
  * local relation. Encoding is one map over the corpus
  * (`graft_l2_codes`, no shuffle, no broadcast build); flat PQ explodes
  * it to (id, j, code), IVF-PQ keeps (id, cell, codes array<int>). ADC
  * search broadcasts the |probes|·m·ksub distance tables and never
  * moves the codes.
  *
  * One kernel object, [[graft.functions.PqKernels]], holds the
  * arithmetic of the driver loops and of the `graft_*` expressions that
  * apply the model, so both sides agree by construction.
  *
  * Determinism [D2]: sub-distances are 6dp-rounded and decimal-summed;
  * assignment and ranking tie-break on (code, id); centroids are the
  * exact decimal means of [[CentroidAggregator]]; seeding is the
  * multiplicative-spread id hash — bit-identical on any partition
  * layout or cluster size.
  */
object PqOps {

  /** (keys..., j, sv) subvector table: vector split into `m` slices of
    * `dim / m` components. */
  private def subvectorsKeyed(df: DataFrame, keyCols: Seq[String],
    vecCol: String, dim: Int, m: Int): DataFrame = {
    val sub = dim / m
    df.select(keyCols.map(col) :+ explode(expr(
        s"transform(sequence(0, ${m - 1}), j -> " +
          s"named_struct('j', CAST(j AS INT), 'sv', " +
          s"slice($vecCol, j*$sub+1, $sub)))")).as("x"): _*)
      .select(keyCols.map(col) :+ col("x.j").as("j") :+
        col("x.sv").as("sv"): _*)
  }

  /** (id, j, sv) subvector table. */
  private def subvectors(emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, m: Int): DataFrame =
    subvectorsKeyed(emb.select(col(idCol).as("id"), col(vecCol).as("v")),
      Seq("id"), "v", dim, m)

  /** Squared L2 between a subvector and a centroid via three dot
    * products, 6dp-rounded so assignment and ADC rank identically on
    * any engine. */
  private def l2sq(sv: String, cent: String): Column =
    round(call_function("graft_dot", col(sv), col(sv))
      - lit(2d) * call_function("graft_dot", col(sv), col(cent))
      + call_function("graft_dot", col(cent), col(cent)), 6)

  /** The codebook table (j, code, cent) as the kernel's [[Codebook]]:
    * subspace j's codes ascending. */
  private def codebook(cb: Array[(Int, Int, Array[Double])], m: Int,
    sub: Int): Codebook = {
    val byJ = (0 until m).map(j => cb.filter(_._1 == j).sortBy(_._2))
    new Codebook(sub, byJ.map(_.map(_._3).toArray).toArray,
      byJ.map(_.map(_._2).toArray).toArray)
  }

  private def collectCb(cb: DataFrame): Array[(Int, Int, Array[Double])] =
    cb.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))

  /** `name`(x, sub, cents, codes) with the codebook as literals. */
  private def codebookCall(name: String, x: Column, cb: Codebook): Column =
    call_function(name, x, lit(cb.sub),
      typedLit(cb.cents.map(_.map(_.toSeq).toSeq).toSeq),
      typedLit(cb.codes.map(_.toSeq).toSeq))

  private val CbSchema = StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("cent", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** A driver-built codebook as a local relation (j, code, cent). */
  private def codebookFrame(spark: SparkSession,
    cb: Array[(Int, Int, Array[Double])]): DataFrame =
    spark.createDataFrame(
      cb.toSeq.map { case (j, c, v) => Row(j, c, v.toSeq) }.asJava, CbSchema)

  /** Train the m per-subspace codebooks: (j, code, cent array<double>),
    * a local relation built on the driver. Each subspace seeds from its
    * own `ksub` DISTINCT subvector patterns — the patterns whose
    * smallest carrying id hash-scatters first. Per-subspace
    * distinctness matters: seeding every subspace from the same ksub
    * corpus rows plants duplicate centroids wherever those rows
    * coincide in a subspace, the argmin tie-break starves the
    * duplicates and the cells die. `iters` Lloyd rounds run on the
    * sampled base, all subspaces at once. */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, m: Int, ksub: Int, iters: Int, trainOneIn: Int = 1): DataFrame =
    pqCodebooksWithin(emb, idCol, vecCol, dim, m, ksub, iters, trainOneIn,
      IvfIndex.DriverBaseBytes)

  /** [[pqCodebooks]] against an explicit driver budget (specs pass 0 to
    * force the cluster path). */
  private[graft] def pqCodebooksWithin(emb: DataFrame, idCol: String,
    vecCol: String, dim: Int, m: Int, ksub: Int, iters: Int, trainOneIn: Int,
    budget: Long): DataFrame = {
    require(dim > 0 && m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub > 0 && iters >= 0 && trainOneIn >= 1,
      "need ksub > 0, iters >= 0, trainOneIn >= 1")
    GraftFunctions.register(emb.sparkSession)
    codebookFrame(emb.sparkSession, pqFit(IvfIndex.trainSample(
      emb.select(col(idCol).as("id"), col(vecCol).as("v")), trainOneIn),
      dim, m, ksub, iters, budget))
  }

  /** Codebook training over a sampled (id, v) base. When the base fits
    * `budget` ([[IvfIndex.collectWithin]]) it is collected once and
    * seeding and every Lloyd round run on the driver ([[pqFitLocal]]);
    * otherwise [[pqFitCluster]] runs one distributed job per round.
    * Both use the [[PqKernels]] arithmetic and [[CentroidAggregator]],
    * so they agree exactly (ApiSpec runs both on one base). */
  private def pqFit(base: DataFrame, dim: Int, m: Int, ksub: Int,
    iters: Int, budget: Long): Array[(Int, Int, Array[Double])] =
    IvfIndex.collectWithin(base, dim, budget) match {
      case Some(rows) => pqFitLocal(() => rows.iterator, m, dim / m, ksub, iters)
      case None => pqFitCluster(base, dim, m, ksub, iters)
    }

  /** Driver-side codebook training, the cluster rounds' arithmetic:
    *  - seeds: per subspace, group the slices by value — -0.0 read as
    *    0.0 and every NaN as one, as Spark normalizes floating grouping
    *    keys — keep each pattern's smallest id, and take the `ksub`
    *    patterns first by (id hash, id); code = rank − 1, cent = the
    *    normalized pattern;
    *  - each Lloyd round: every row's codes by [[PqKernels.l2Codes]],
    *    then per (j, code) the decimal-mean centroid of its slices; a
    *    code no row chose disappears.
    * `rows` yields the base afresh on each of its m + iters passes. */
  private def pqFitLocal(rows: () => Iterator[(Long, Array[Double])], m: Int,
    sub: Int, ksub: Int, iters: Int): Array[(Int, Int, Array[Double])] = {
    var cb: Array[(Int, Int, Array[Double])] = (0 until m).flatMap { j =>
      val first = scala.collection.mutable.HashMap.empty[Seq[Long],
        (Long, Array[Double])]
      rows().foreach { case (id, x) =>
        val sv = PqKernels.slice(x, j, sub)
          .map(d => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d)
        val key = sv.toSeq.map(java.lang.Double.doubleToLongBits)
        if (first.get(key).forall(_._1 > id)) first(key) = (id, sv)
      }
      first.values.toSeq.sortBy { case (kid, _) => (IvfIndex.idHash(kid), kid) }
        .take(ksub).zipWithIndex.map { case ((_, sv), r) => (j, r, sv) }
    }.toArray
    var it = 0
    while (it < iters) {
      val book = codebook(cb, m, sub)
      cb = PqKernels.centroids(rows().flatMap { case (_, x) =>
        val codes = PqKernels.l2Codes(x, book)
        Iterator.tabulate(m)(j => ((j, codes(j)), PqKernels.slice(x, j, sub)))
      }, sub).map { case ((j, c), cent) => (j, c, cent) }.toArray
      it += 1
    }
    cb
  }

  /** The cluster rounds, for a base over the driver budget: the base is
    * checkpointed; the seeds are one bounded heap per subspace over the
    * distinct (j, slice) patterns; each Lloyd round is ONE distributed
    * job — the `graft_l2_codes` map feeding the exact decimal-mean
    * centroid aggregation, collected for the next round's literals and
    * re-sorted by (j, code) so the literal layout never depends on
    * partition order [D1]. */
  private def pqFitCluster(sampled: DataFrame, dim: Int, m: Int, ksub: Int,
    iters: Int): Array[(Int, Int, Array[Double])] = {
    val sub = dim / m
    val base = sampled.localCheckpoint(true)
    val seedCb = graft.plans.GraftOps.topKPerGroup(
      subvectorsKeyed(base, Seq("id"), "v", dim, m)
        .groupBy(col("j"), col("sv")).agg(min(col("id")).as("__kid"))
        .withColumn("__h", IvfIndex.idHash(col("__kid"))),
      Seq(col("j")), Seq(col("__h").asc, col("__kid").asc), ksub,
      rankName = "__rk")
      .select(col("j"), (col("__rk") - 1).cast("int").as("code"),
        col("sv").cast("array<double>").as("cent"))
    var cb = collectCb(seedCb)
    val centroid = udaf(new CentroidAggregator(sub),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    var it = 0
    while (it < iters) {
      cb = collectCb(base
        .select(col("v"), posexplode(codebookCall("graft_l2_codes", col("v"),
          codebook(cb, m, sub))).as(Seq("j", "code")))
        .groupBy("j", "code")
        .agg(centroid(slice(col("v"), col("j") * sub + 1, lit(sub))
          .cast("array<float>")).as("cent")))
        .sortBy(e => (e._1, e._2))
      it += 1
    }
    cb
  }

  /** Encode the corpus: (id, j, code) — m rows per vector, the
    * compressed representation ADC searches against. The codebook is
    * the bounded model table: it collects to the driver once and the
    * encode is one `graft_l2_codes` map exploded by subspace — no
    * shuffle and no broadcast build at any corpus size. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, m: Int, cb: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol).as("id"), posexplode(codebookCall("graft_l2_codes",
        col(vecCol), codebook(collectCb(cb), m, dim / m))).as(Seq("j", "code")))
  }

  /** ADC top-k: per probe, rank ids by the sum of table-looked-up
    * sub-distances (asc, id tie-break). `probes` needs (probe_id, pe).
    * Returns (probe_id, vec_id, adc6, rank). The probe distance table
    * (|probes|·m·ksub rows) broadcasts; the codes never move.
    *
    * `excludeSelf` (default true) drops candidates whose id equals the
    * probe's id — the self-match exclusion for probes drawn FROM the
    * corpus, which therefore assumes probe_id shares the corpus id
    * space. External probe sets whose probe ids numerically collide
    * with corpus vec_ids must pass `excludeSelf = false`, or a
    * legitimate neighbor is silently dropped. */
  def pqAdcTopK(codes: DataFrame, cb: DataFrame, probes: DataFrame,
    dim: Int, m: Int, k: Int, excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    GraftFunctions.register(codes.sparkSession)
    val ptab = subvectors(probes, "probe_id", "pe", dim, m)
      .withColumnRenamed("id", "probe_id")
      .join(broadcast(cb), Seq("j"))
      .select(col("probe_id"), col("j"), col("code"),
        l2sq("sv", "cent").as("d"))
    val joined = codes.join(broadcast(ptab), Seq("j", "code"))
    val scores = (if (excludeSelf) joined.filter(col("id") =!= col("probe_id"))
      else joined)
      .groupBy("probe_id", "id")
      .agg(round(sum(col("d").cast(graft.Dets.Dec)).cast("double"), 6)
        .as("adc6"))
    graft.plans.GraftOps.topKPerGroup(scores, Seq(col("probe_id")),
        Seq(col("adc6").asc, col("id").asc), k, rankName = "rank")
      .select(col("probe_id"), col("id").as("vec_id"), col("adc6"),
        col("rank"))
      .orderBy("probe_id", "rank")
  }

  /** Two-stage PQ search — ADC shortlist of `shortK` candidates, then
    * EXACT squared-L2 re-rank of just those to top `k` (the standard
    * refine step: PQ's coarse ordering is strong but its fine ordering
    * quantizes away near-ties, so production PQ search re-scores a
    * small shortlist against the raw vectors — |probes|·shortK rows,
    * never the corpus). `emb` is the raw table the codes were built
    * from. Returns (probe_id, vec_id, l2sq6, rank). `excludeSelf` as in
    * [[pqAdcTopK]]: probes are assumed to share the corpus id space. */
  def pqSearch(codes: DataFrame, cb: DataFrame, emb: DataFrame,
    idCol: String, vecCol: String, probes: DataFrame,
    dim: Int, m: Int, shortK: Int, k: Int,
    excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && shortK >= k, "need shortK >= k > 0")
    rerank(pqAdcTopK(codes, cb, probes, dim, m, shortK, excludeSelf)
      .select("probe_id", "vec_id"), emb, idCol, vecCol, probes, k)
  }

  /** Exact squared-L2 re-rank of a (probe_id, vec_id) shortlist against
    * the raw vectors — |shortlist| rows joined, never the corpus. */
  private def rerank(short: DataFrame, emb: DataFrame, idCol: String,
    vecCol: String, probes: DataFrame, k: Int): DataFrame = {
    val cand = short
      .join(emb.select(col(idCol).as("vec_id"), col(vecCol).as("__cv")),
        Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("l2sq6", round(
        call_function("graft_dot", col("__cv"), col("__cv"))
          - lit(2d) * call_function("graft_dot", col("pe"), col("__cv"))
          + call_function("graft_dot", col("pe"), col("pe")), 6))
      .select("probe_id", "vec_id", "l2sq6")
    graft.plans.GraftOps.topKPerGroup(cand, Seq(col("probe_id")),
        Seq(col("l2sq6").asc, col("vec_id").asc), k, rankName = "rank")
      .select("probe_id", "vec_id", "l2sq6", "rank")
      .orderBy("probe_id", "rank")
  }

  /** x → R·x as a codegen column: element i = graft_dot(R_i, x),
    * 6dp-rounded so every engine and partition layout trains and
    * encodes on identical rotated values [D2]. */
  def rotateCol(vecCol: String, rot: Array[Array[Double]]): Column =
    array(rot.map(r =>
      round(call_function("graft_dot", typedLit(r), col(vecCol)), 6)): _*)

  /** Jacobi eigendecomposition of a small symmetric matrix (the
    * rotation update's 64×64 — driver-side, deterministic: fixed sweep
    * order, fixed tolerance). Returns (eigenvalues, eigenvector
    * COLUMNS as rows of the second array transposed convention:
    * v(i)(k) = component i of eigenvector k). */
  private def symEig(a0: Array[Array[Double]])
  : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, k) => if (i == k) 1d else 0d)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-22) {
      off = 0d
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-13) {
            val theta = (a(q)(q) - a(p)(p)) / (2d * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1d)) match {
                case 0d => 1d / (theta + math.sqrt(theta * theta + 1d))
                case x => x
              }
            val c = 1d / math.sqrt(t * t + 1d)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Procrustes solution R = argmax tr(R·M) over orthonormal R, via
    * SVD(M) = U·S·Vᵀ → R = V·Uᵀ (the OPQ-NP rotation update).
    * Singular triplets come from the Jacobi eigendecomposition of
    * MᵀM; a rank-deficient M (σ ≈ 0) keeps the caller's previous R
    * rather than emitting a junk basis. */
  private def procrustes(mm: Array[Array[Double]])
  : Option[Array[Array[Double]]] = {
    val n = mm.length
    val mtm = Array.tabulate(n, n) { (i, k) =>
      var s = 0d; var r = 0; while (r < n) { s += mm(r)(i) * mm(r)(k); r += 1 }
      s
    }
    val (ev, vm) = symEig(mtm)
    val sigma = ev.map(x => math.sqrt(math.max(x, 0d)))
    if (sigma.exists(_ < 1e-9)) return None
    // U columns: M·v_k / σ_k
    val u = Array.ofDim[Double](n, n)
    var k = 0
    while (k < n) {
      var i = 0
      while (i < n) {
        var s = 0d; var r = 0
        while (r < n) { s += mm(i)(r) * vm(r)(k); r += 1 }
        u(i)(k) = s / sigma(k)
        i += 1
      }
      k += 1
    }
    // R = V·Uᵀ (rows of R applied as x' = R·x)
    Some(Array.tabulate(n, n) { (i, kk) =>
      var s = 0d; var r = 0
      while (r < n) { s += vm(i)(r) * u(kk)(r); r += 1 }
      s
    })
  }

  /** Learned OPQ rotation (OPQ-NP, Ge et al. — public method): alternate
    * codebook training in the rotated space with the procrustes
    * R-update that maximizes agreement between the rotated data and
    * its quantized reconstruction. Seeded from the IDENTITY rotation,
    * so alternation 1's codebooks ARE flat PQ's and every subsequent
    * update can only reduce quantization error — on isotropic data the
    * learned R stays near identity (measured here: random rotations
    * LOSE ~0.1-0.17 top-3 overlap on this fixture, the learned R does
    * not), on correlated data it recovers the full OPQ win.
    *
    * Distributed shape per alternation: one codebook training
    * (pqCodebooks), one encode, and ONE 256-group aggregation of
    * per-(subspace, code) raw-x centroids — the update matrix
    * M = Σᵢ xᵢ·ŷᵢᵀ folds to Σ_{j,c} (nₗ·x̄ₗ)·centₗᵀ over the code
    * groups, so the driver sees m·ksub rows, never data. Returns
    * (R, codebooks, codes) for [[opqSearchWith]]. */
  def opqTrain(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
    m: Int, ksub: Int, iters: Int, alternations: Int, trainOneIn: Int = 1)
  : (Option[Array[Array[Double]]], DataFrame, DataFrame) = {
    require(alternations >= 1, "need alternations >= 1")
    GraftFunctions.register(emb.sparkSession)
    val sub = dim / m
    var rot: Option[Array[Array[Double]]] = None // None = identity
    def rotated: DataFrame = rot match {
      case Some(r) => emb.select(col(idCol).as("id"),
        rotateCol(vecCol, r).as("rv"))
      // identity trains on the raw floats — NOT the rotated path's 6dp
      // quantization — so alternation 1 is bit-identical to flat PQ
      // (measured: rounding here alone cost 0.833 → 0.800 overlap)
      case None => emb.select(col(idCol).as("id"), col(vecCol).as("rv"))
    }
    var cb: DataFrame = null
    var codes: DataFrame = null
    val centroid = udaf(new CentroidAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    var a = 0
    while (a < alternations) {
      val rEmb = rotated.localCheckpoint(true)
      cb = pqCodebooks(rEmb, "id", "rv", dim, m, ksub, iters, trainOneIn)
      codes = pqEncode(rEmb, "id", "rv", dim, m, cb)
      if (a < alternations - 1) {
        // M = Σ_{j,c} (n·x̄)·centᵀ — x̄ is the RAW-space mean of the
        // group (4dp decimal mean via the aggregator: deterministic,
        // and ample precision for a rotation update)
        val xm = codes
          .join(emb.select(col(idCol).as("id"), col(vecCol).as("__x")),
            Seq("id"))
          .groupBy("j", "code")
          .agg(centroid(col("__x").cast("array<float>")).as("xmean"),
            count(lit(1)).as("n"))
          .collect()
        val cbRows = cb.collect().map(r => (r.getInt(0), r.getInt(1)) ->
          r.getSeq[Double](2).toArray).toMap
        val mm = Array.ofDim[Double](dim, dim)
        xm.foreach { r =>
          val j = r.getInt(0); val code = r.getInt(1)
          val mean = r.getSeq[Double](2).toArray
          val n = r.getLong(3).toDouble
          cbRows.get((j, code)).foreach { cent =>
            var t = 0
            while (t < sub) {
              val q = j * sub + t
              val y = cent(t)
              var p = 0
              while (p < dim) { mm(p)(q) += n * mean(p) * y; p += 1 }
              t += 1
            }
          }
        }
        procrustes(mm).foreach(r => rot = Some(r))
      }
      a += 1
    }
    (rot, cb, codes)
  }

  /** Total squared quantization error Σᵢ‖R·xᵢ − q(R·xᵢ)‖² of a trained
    * (rotation, codebook, codes) triple — the objective OPQ minimizes;
    * the audit metric that shows what a learned rotation buys at a
    * fixed code budget. One pass: subvector table ⋈ codes ⋈ broadcast
    * codebooks, 6dp sub-distances decimal-summed [D2]. */
  def quantizationError(rot: Option[Array[Array[Double]]], cb: DataFrame,
    codes: DataFrame, emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, m: Int): Double = {
    GraftFunctions.register(emb.sparkSession)
    val rEmb = rot match {
      case Some(r) => emb.select(col(idCol).as("id"),
        rotateCol(vecCol, r).as("rv"))
      case None => emb.select(col(idCol).as("id"), col(vecCol).as("rv"))
    }
    subvectors(rEmb, "id", "rv", dim, m)
      .join(codes, Seq("id", "j"))
      .join(broadcast(cb), Seq("j", "code"))
      .agg(sum(l2sq("sv", "cent").cast(graft.Dets.Dec)).as("e"))
      .head().getDecimal(0).doubleValue()
  }

  /** Two-stage search against [[opqTrain]] artifacts: ADC shortlist in
    * the learned-rotation space (`rot = None` ⇒ identity: probes pass
    * through raw, matching the raw-float identity training), exact
    * re-rank on raw vectors. */
  def opqSearchWith(rot: Option[Array[Array[Double]]], cb: DataFrame,
    codes: DataFrame, emb: DataFrame, idCol: String, vecCol: String,
    probes: DataFrame, dim: Int, m: Int, shortK: Int, k: Int): DataFrame = {
    require(k > 0 && shortK >= k, "need shortK >= k > 0")
    GraftFunctions.register(emb.sparkSession)
    val rProbes = rot match {
      case Some(r) => probes.select(col("probe_id"),
        rotateCol("pe", r).as("pe"))
      case None => probes.select("probe_id", "pe")
    }
    rerank(pqAdcTopK(codes, cb, rProbes, dim, m, shortK)
      .select("probe_id", "vec_id"), emb, idCol, vecCol, probes, k)
  }

  /** Decimal-mean cell centroids over an (id, cell) assignment:
    * (cell, cent array<double>) — the IVF+PQ coarse centroids the
    * residuals are taken against. */
  def cellCentroids(emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, cells: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    centroidsByCell(emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(cells, Seq("id")), dim)
  }

  private def centroidsByCell(assigned: DataFrame, dim: Int): DataFrame = {
    val centroid = udaf(new CentroidAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    assigned.groupBy("cell")
      .agg(centroid(col("v").cast("array<float>")).as("cent"))
  }

  /** Residual corpus (id, cell, res): v − centroid(cell) — what the
    * IVF+PQ codebooks train on and the codes encode. */
  def residuals(emb: DataFrame, idCol: String, vecCol: String,
    cells: DataFrame, cents: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(cells, Seq("id"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("id"), col("cell"),
        call_function("graft_vsub", col("v"), col("cent")).as("res"))
  }

  /** IVF+PQ (residual) two-stage search — the composed 100 TB ANN
    * layout: a coarse quantizer of `kCells` learned cells prunes WHICH
    * ids are scored (only codes in the probe's `nprobe` nearest cells
    * participate), and PQ codes the RESIDUAL (vector − cell centroid),
    * which is tighter-distributed than raw vectors so the same code
    * budget quantizes finer. ADC runs per (probe, cell) with the
    * probe's residual against that cell, shortlists `shortK`, and the
    * exact re-rank finishes to top `k`.
    *
    * Scale shape: [[ivfPqTrain]] builds the model — on the driver when
    * the 1-in-`trainOneIn` training sample fits
    * [[IvfIndex.DriverBaseBytes]] — and encodes the corpus in one map;
    * at query time the probe side broadcasts |probes|·nprobe distance
    * tables of m·ksub entries, and each code row in a probed cell is
    * scored by `graft_adc_sum` in the same map — the corpus's raw
    * vectors surface only in the |probes|·shortK re-rank join.
    * Everything deterministic [D2]: decimal-mean centroids,
    * 6dp-rounded distances summed as exact decimals, (cell, code, id)
    * tie-breaks. Sessions answering many probe batches should train
    * once with [[ivfPqTrain]], persist the codes, and search with
    * [[ivfPqSearchWith]]. */
  def ivfPqSearch(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
    kCells: Int, cellIters: Int, m: Int, ksub: Int, pqIters: Int,
    probes: DataFrame, nprobe: Int, shortK: Int, k: Int,
    trainOneIn: Int = 1): DataFrame = {
    val (cents, cb, codes) = ivfPqTrain(emb, idCol, vecCol, dim, kCells,
      cellIters, m, ksub, pqIters, trainOneIn)
    // the encode map runs once, into block storage: left lazy, the
    // search's codegen'd join would evaluate it inside the match loop,
    // once per (code row, probe of its cell)
    ivfPqSearchWith(cents, cb, codes.localCheckpoint(true), emb, idCol,
      vecCol, dim, m, probes, nprobe, shortK, k)
  }

  /** The IVF+PQ model and encoded corpus: `cents` (cell, cent) and `cb`
    * (j, code, cent) as local relations built on the driver, and
    * `codes` (id, cell, codes array<int>, subspace j at position j) as
    * one lazy map over the corpus.
    *
    *  - The coarse cells are [[IvfIndex.kmeansFit]]'s: on the driver
    *    when the sample fits [[IvfIndex.DriverBaseBytes]], else the
    *    per-round cluster jobs.
    *  - `cents` are the decimal means of the final assignment over the
    *    whole corpus, one aggregation job.
    *  - The codebooks train on the sample's residuals against `cents`.
    *    On the driver path the driver already holds the sample and
    *    derives each row's residual afresh on every training pass, so
    *    it never holds a second copy; the cluster path samples the
    *    residual map ([[pqCodebooks]]'s branches, same budget).
    *  - Pass `codes` to [[ivfPqSearchWith]] persisted or checkpointed.
    *  - `codes` assigns, takes the residual and encodes in one pass:
    *    `graft_cos_argmax` → `graft_vsub` → `graft_l2_codes`.
    *
    * The same artifacts as [[IvfIndex.kmeansCells]] → [[cellCentroids]]
    * → [[residuals]] → [[pqCodebooks]] → [[pqEncode]], bit for bit
    * (ApiSpec), without their corpus⋈cells joins. */
  def ivfPqTrain(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
    kCells: Int, cellIters: Int, m: Int, ksub: Int, pqIters: Int,
    trainOneIn: Int = 1): (DataFrame, DataFrame, DataFrame) = {
    require(dim > 0 && m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub > 0 && pqIters >= 0, "need ksub > 0, pqIters >= 0")
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val sub = dim / m
    val (full, fit) = IvfIndex.kmeansFit(emb, idCol, vecCol, kCells,
      cellIters, dim, trainOneIn, IvfIndex.DriverBaseBytes)
    val assigned = IvfIndex.assignCells(full, fit.cells)
    val cents = centroidsByCell(assigned, dim).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val centOf = cents.toMap
    // the residual's centroid by cell id (ids are the dense seed
    // indexes; every assigned cell has a centroid)
    val centByCell = typedLit((0 to cents.map(_._1).max).map(c =>
      centOf.get(c).fold(Seq.empty[Double])(_.toSeq)))
    val residual = call_function("graft_vsub", col("v"),
      centByCell.getItem(col("cell")))
    val cb = fit.sample match {
      case Some(rows) =>
        val cellOf = IvfIndex.cellModel(fit.cells)
        val rowCent = rows.map(r => centOf(PqKernels.cosArgmax(r._2, cellOf)))
        pqFitLocal(() => rows.iterator.zip(rowCent.iterator).map {
          case ((id, v), c) => (id, Array.tabulate(v.length)(i => v(i) - c(i)))
        }, m, sub, ksub, pqIters)
      case None => pqFit(IvfIndex.trainSample(
          assigned.select(col("id"), residual.as("v")), trainOneIn),
        dim, m, ksub, pqIters, IvfIndex.DriverBaseBytes)
    }
    val codes = assigned.select(col("id"), col("cell"),
      codebookCall("graft_l2_codes", residual, codebook(cb, m, sub))
        .as("codes"))
    val centSchema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("cent", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    (spark.createDataFrame(
      cents.map { case (c, v) => Row(c, v.toSeq) }.asJava, centSchema),
      codebookFrame(spark, cb), codes)
  }

  /** [[ivfPqSearch]]'s query stage against trained artifacts: `cents`
    * (cell, cent), `cb` residual codebooks (j, code, cent) and `codes`
    * (id, cell, codes array<int>) encoded against that `cb`
    * ([[ivfPqTrain]]). Per probe, the `nprobe` nearest cells by exact
    * L2; per (probe, cell) the residual's distance table
    * (`graft_l2_table`), broadcast; each code row of a probed cell is
    * scored by `graft_adc_sum` — the DECIMAL(38,6) sum of its m table
    * entries — then shortlisted and re-ranked exactly. Pass `codes`
    * materialized (persisted or checkpointed): a lazy encode map is
    * re-evaluated per matching probe inside the join. Self-match
    * exclusion as in [[pqAdcTopK]]: probes share the corpus id space,
    * or pass `excludeSelf = false`. */
  def ivfPqSearchWith(cents: DataFrame, cb: DataFrame, codes: DataFrame,
    emb: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
    probes: DataFrame, nprobe: Int, shortK: Int, k: Int,
    excludeSelf: Boolean = true): DataFrame = {
    require(nprobe > 0 && k > 0 && shortK >= k,
      "need nprobe > 0 and shortK >= k > 0")
    GraftFunctions.register(emb.sparkSession)
    val book = codebook(collectCb(cb), m, dim / m)
    // probe cell selection by exact L2 to the centroids
    val psel = graft.plans.GraftOps.topKPerGroup(
      broadcast(probes).crossJoin(broadcast(cents))
        .withColumn("d2", round(
          call_function("graft_dot", col("pe"), col("pe"))
            - lit(2d) * call_function("graft_dot", col("pe"), col("cent"))
            + call_function("graft_dot", col("cent"), col("cent")), 6))
        .select(col("probe_id"), col("pe"), col("cell"), col("d2")),
      Seq(col("probe_id")), Seq(col("d2").asc, col("cell").asc), nprobe,
      rankName = "__cr")
    // per-(probe, cell) residual → ADC distance table, broadcast
    val ptab = psel.join(broadcast(cents), Seq("cell"))
      .select(col("probe_id"), col("cell"),
        codebookCall("graft_l2_table",
          call_function("graft_vsub", col("pe"), col("cent")), book).as("tab"))
    val joined = codes.join(broadcast(ptab), Seq("cell"))
    val scores = (if (excludeSelf) joined.filter(col("id") =!= col("probe_id"))
      else joined)
      .select(col("probe_id"), col("id"),
        round(call_function("graft_adc_sum", col("codes"), col("tab"))
          .cast("double"), 6).as("adc6"))
    val short = graft.plans.GraftOps.topKPerGroup(scores,
        Seq(col("probe_id")), Seq(col("adc6").asc, col("id").asc), shortK,
        rankName = "__r")
      .select(col("probe_id"), col("id").as("vec_id"))
    rerank(short, emb, idCol, vecCol, probes, k)
  }

  /** milli-quantize a float-vector column to int64 units — IEEE-exact
    * (`floor(double(x) · scale)`) in any engine, the [D5] staging step
    * shared by the integer trace path below and MlOps.kmeansTrace. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
    idName: String, scale: Long): DataFrame =
    df.select(col(idCol).cast("long").as(idName),
        expr(s"transform($vecCol, x -> " +
          s"cast(floor(cast(x as double) * ${scale}L) as bigint))")
          .as("__e"))
      .filter(col("__e").isNotNull)

  /** the integer squared-L2 kernel between the subvector column `sv`
    * and a codebook column `cv` — pure int64 zip_with/aggregate, no
    * floats anywhere. */
  private val intL2 = expr("aggregate(zip_with(sv, cv, " +
    "(x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)")

  /** Integer-exact PQ codebook training TRACE + final model — the
    * hash-gate trust anchor for the PQ family. [[pqCodebooks]] /
    * [[pqAdcTopK]] run the float production path (bounded by recall
    * floors in RecallAuditSpec); this replays the SAME per-subspace
    * Lloyd algorithm in 64-bit integer units so a SQL engine
    * reproduces every training round bit-exactly — the
    * MlOps.kmeansTrace [D5] conventions applied per subspace:
    *   - vectors milli-quantized ONCE (`floor(double(x)·scale)`),
    *     then split into `m` subvectors of `dim / m`; every distance,
    *     sum and centroid after that is int64;
    *   - seeds: the `ksub` rows with the smallest
    *     polyMix(pmod(id, M)) (ties by id) seed EVERY subspace,
    *     codes numbered in draw order — one portable draw, no RNG;
    *   - assignment ties break toward the lower code; the centroid
    *     update is the sign-explicit truncating per-dimension mean;
    *     an emptied code keeps its previous centroid.
    *
    * Returns (trace, cents, codes): `trace` = one row per
    * (round, j, code) with the member count and integer inertia of
    * that round's assignment (round r evaluated against the centroids
    * after r−1 updates); `cents` = the final (j, code, cv) integer
    * codebooks (the ones the last assignment used); `codes` = the
    * final (id, j, code) assignment.
    *
    * Scale shape (the kmeansTrace contract): per round ONE broadcast
    * of m·ksub centroid literals into a codegen'd zip_with kernel
    * over the subvector table — no join, ties broken inside
    * array_min — plus one (j, code, dim) partial agg folding to a
    * bounded m·ksub·(dim/m) driver-side update. With milli units the
    * per-row sub-distance stays ≤ (dim/m)·4e6·scale², so inertia
    * sums hold to ~1e9 rows per code before the inertia column would
    * need decimal staging. */
  def pqIntTrain(emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, m: Int, ksub: Int, iters: Int, scale: Long = 1000L)
  : (DataFrame, DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(ksub >= 1 && iters >= 1, "need ksub >= 1 and iters >= 1")
    val spark = emb.sparkSession
    val sub = dim / m
    val hashM = TextFunctions.HashMod
    val sv = subvectorsKeyed(quantized(emb, idCol, vecCol, "id", scale),
      Seq("id"), "__e", dim, m).localCheckpoint(true)
    val seedIds = quantized(emb, idCol, vecCol, "id", scale)
      .select(col("id"),
        graft.operators.GraphQueries.polyMix(pmod(col("id"), lit(hashM)))
          .as("__h"))
      .orderBy(col("__h").asc, col("id").asc).limit(ksub)
      .collect().map(_.getLong(0))
    // with fewer usable rows than ksub the codebooks would be missing
    // (j, code) keys and the assign kernel would die later with an
    // opaque NoSuchElementException — fail at the draw, with the count
    require(seedIds.length == ksub,
      s"pqIntTrain needs >= ksub=$ksub rows with non-null embeddings " +
        s"to seed each subspace codebook; corpus yielded ${seedIds.length}")
    val seedRank = seedIds.zipWithIndex.toMap
    var cents: Map[(Int, Int), Array[Long]] =
      sv.filter(col("id").isin(seedIds.map(Long.box): _*)).collect()
        .map(r => (r.getInt(1), seedRank(r.getLong(0))) ->
          r.getSeq[Long](2).toArray).toMap
    // one codegen'd kernel: the full m×ksub codebook rides a SINGLE
    // nested array literal (one plan node), the row's subspace selects
    // its ksub centroids and a transform/array_min computes the argmin
    // (dist asc, code asc — the tie-break is the struct field order).
    // The earlier form built a per-(j, code) literal-array when-chain —
    // m·ksub separate aggregate/zip_with subtrees — whose analysis +
    // codegen dominated training wall-clock at the production geometry
    // (measured r14: shared:pqprodint_train 42 s at sf0.1 with 4.3 MiB
    // task binaries; 256 kernels of this shape). Same integer math,
    // same tie-break, O(1) plan size in (m, ksub).
    def assigned: DataFrame = {
      val cLit = typedLit((0 until m).map(j =>
        (0 until ksub).map(c => cents((j, c)).toSeq)))
      sv.withColumn("__cbs", element_at(cLit, col("j") + 1))
        .withColumn("__a", array_min(expr(
          s"transform(sequence(0, ${ksub - 1}), c -> named_struct(" +
            "'dist', aggregate(zip_with(sv, __cbs[c], " +
            "(x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b), " +
            "'code', CAST(c AS INT)))")))
        .select(col("id"), col("j"), col("sv"),
          col("__a.code").as("code"), col("__a.dist").as("dist"))
    }
    // ONE distributed job per round: the (j, code, pos)-keyed stats agg
    // yields the centroid-update sums AND the round's trace numbers
    // (n_vecs / inertia = the pos-0 slice — dist repeats per exploded
    // position, so summing it where pos = 0 is the plain per-(j, code)
    // sum). The earlier loop evaluated each round's assignment TWICE
    // (sums collect + the trace's union member) and the final one a
    // third time for codes, and the iters-member union of assignment
    // plans was re-analyzed whole at every trace action; the trace rows
    // are m·ksub·iters bounded, so they assemble driver-side like the
    // final centroids (measured r14 with the kernel fix compounding:
    // shared:pqprodint_train 42 s → 3.3 s at sf0.1).
    val traceRows = Seq.newBuilder[Row]
    var lastAssign: DataFrame = null
    var r = 1
    while (r <= iters) {
      val a = assigned
      lastAssign = a
      val stats = a.select(col("j"), col("code"), col("dist"),
          posexplode(col("sv")))
        .groupBy("j", "code", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"),
          sum("dist").as("sd"))
        .collect()
      traceRows ++= stats.iterator
        .filter(_.getInt(2) == 0)
        .map(row => Row(r.toLong, row.getInt(0), row.getInt(1),
          row.getLong(4), row.getLong(5)))
      if (r < iters) {
        val sums = stats
          .map(row => (row.getInt(0), row.getInt(1), row.getInt(2)) ->
            (row.getLong(3), row.getLong(4))).toMap
        cents = cents.map { case ((j, c), old) =>
          (j, c) -> Array.tabulate(sub) { d =>
            sums.get((j, c, d)) match {
              // sign-explicit truncation toward zero: SQL floor-division
              // conventions differ on negatives, this form does not
              case Some((g, n)) if n > 0 =>
                if (g < 0) -((-g) / n) else g / n
              case _ => old(d)
            }
          }
        }
      }
      r += 1
    }
    val traceSchema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("n_vecs", LongType, nullable = false),
      StructField("inertia", LongType, nullable = false)))
    val traceDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        traceRows.result().sortBy(row =>
          (row.getLong(0), row.getInt(1), row.getInt(2))), 1), traceSchema)
    val centSchema = StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("cv", ArrayType(LongType, containsNull = false),
        nullable = false)))
    val centDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.toSeq.sortBy(_._1)
          .map { case ((j, c), v) => Row(j, c, v.toSeq) }, 1), centSchema)
    (traceDf.orderBy("round", "j", "code"),
      centDf,
      lastAssign.select(col("id"), col("j"), col("code")))
  }

  /** ADC ranking in EXACT integer units over [[pqIntTrain]]'s model:
    * probes are the corpus rows with id < `nProbes`, each ranked
    * against every OTHER vector by the summed per-subspace integer
    * sub-distance to the centroid of that vector's code — the
    * [[pqAdcTopK]] plan shape (the |probes|·m·ksub distance table
    * broadcasts into the codes, which never move; partial sums
    * collapse map-side; bounded-heap top-k) with the 6dp float table
    * replaced by the bit-replayable int64 one. */
  def pqIntAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
    dim: Int, m: Int, cents: DataFrame, codes: DataFrame,
    nProbes: Int, k: Int, scale: Long = 1000L): DataFrame = {
    val psv = subvectorsKeyed(
      quantized(emb.filter(col(idCol) < nProbes), idCol, vecCol,
        "probe_id", scale),
      Seq("probe_id"), "__e", dim, m)
    val pd = psv.join(broadcast(cents), Seq("j"))
      .select(col("probe_id"), col("j"), col("code"), intL2.as("pd"))
    val adc = codes.join(broadcast(pd), Seq("j", "code"))
      .filter(col("id") =!= col("probe_id"))
      .groupBy("probe_id", "id")
      .agg(sum("pd").as("adc"))
    graft.plans.GraftOps.topKPerGroup(adc, Seq(col("probe_id")),
        Seq(col("adc").asc, col("id").asc), k)
      .select(col("probe_id"), col("id").as("vec_id"), col("adc"),
        col("rn"))
      .orderBy("probe_id", "rn")
  }
}
