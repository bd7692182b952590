package graft.sources

import graft.functions.{CellModel, CentroidAggregator, GraftFunctions, PqKernels}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index over an embedding table.
  *
  * q70 builds its coarse quantizer inline on every run; for repeated
  * probe workloads the centroids and the cell assignment are the index —
  * build once, save as parquet, and every later search pays only
  * (a) a broadcast of |cells| centroids and (b) a scan of the `nprobe`
  * selected cells. Layout:
  *
  *   <root>/centroids/   (cell:int, cent:array<float>, cn2:double)
  *   <root>/assigned/    the input rows + their cell id, written
  *                       partitioned BY cell so a probe's fine search
  *                       reads only nprobe directories (partition
  *                       pruning does the cell selection — at 100 TB
  *                       this is the difference between scanning the
  *                       corpus and scanning ~nprobe/cells of it).
  *
  * The DEFAULT build path is [[buildTrained]]: Lloyd-iterated k-means
  * cells from a deterministic farthest-first seeding ([[kmeansCells]]),
  * which align with the data's actual geometry — measured top-3 recall
  * 0.77 at (k=8, nprobe=4) on the sf0.1 fixture vs 0.40 for label
  * cells at the same nprobe (RecallAuditSpec pins the trained floor).
  * [[build]] with an existing cell column remains for corpora whose
  * natural partitioning is already the right quantizer; the index
  * layout and search path are identical either way.
  */
object IvfIndex {

  /** Train-and-build in one call — the default index path: learn
    * `k` cells with [[kmeansCells]] (Lloyd on the deterministic
    * 1-in-`trainOneIn` sample; only the final assignment scans the
    * full corpus), then persist centroids + cell-partitioned rows via
    * [[build]]. */
  def buildTrained(emb: DataFrame, root: String, idCol: String = "vec_id",
    vecCol: String = "embedding", dim: Int = 64, k: Int = 8,
    iters: Int = 4, trainOneIn: Int = 1): Unit = {
    val cells = kmeansCells(emb, idCol, vecCol, k, iters, dim, trainOneIn)
    build(
      emb.join(cells, emb(idCol) === cells("id")).drop("id")
        .withColumnRenamed("cell", "__cell"),
      root, idCol, vecCol, "__cell", dim)
  }

  private def cosW(a: String, b: String, n2a: String, n2b: String): Column =
    graft.api.VectorOps.cosWith(a, b, n2a, n2b)

  /** Build and persist the index from an embedding table with columns
    * (idCol, vecCol, cellCol). `dim` must match the vector width — the
    * centroid aggregator averages exactly `dim` components (a shorter
    * buffer would silently truncate wider vectors). */
  def build(emb: DataFrame, root: String, idCol: String = "vec_id",
    vecCol: String = "embedding", cellCol: String = "label",
    dim: Int = 64): Unit = {
    require(dim > 0, "dim must be positive")
    GraftFunctions.register(emb.sparkSession)
    val centroid = udaf(new CentroidAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    val cents = emb.groupBy(col(cellCol).cast("int").as("cell"))
      .agg(centroid(col(vecCol)).as("cent"))
      .withColumn("cn2", expr("graft_dot(cent, cent)"))
    cents.write.mode("overwrite").parquet(s"$root/centroids")
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        col(cellCol).cast("int").as("cell"))
      .withColumn("n2", expr(s"graft_dot(embedding, embedding)"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/assigned")
  }

  /** Top-k cosine search against a persisted index: rank cells by
    * centroid cosine, fine-search the top `nprobe` cells only. `probes`
    * needs (probe_id, pe). Returns (probe_id, vec_id, cos4, rn). */
  def search(spark: SparkSession, root: String, probes: DataFrame,
    nprobe: Int, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val cents = spark.read.parquet(s"$root/centroids")
    val p = probes
      .withColumn("pn2", expr("graft_dot(pe, pe)"))
    val wCell = Window.partitionBy("probe_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val cellSel = broadcast(p).crossJoin(broadcast(cents))
      .withColumn("ccos", round(cosW("pe", "cent", "pn2", "cn2"), 4))
      .withColumn("crk", row_number().over(wCell))
      .filter(col("crk") <= nprobe)
      .select(col("probe_id").as("c_probe_id"), col("pe"), col("pn2"),
        col("cell"))
    // the cell filter lands on the partition column of `assigned`, so the
    // fine scan is partition-pruned to the nprobe selected directories
    val assigned = spark.read.parquet(s"$root/assigned")
    // fine ranking through TopKPerGroup: each pruned-cell scan partition
    // is cut to <=k rows per probe before the exchange, instead of
    // shuffling every scored candidate onto |probes| window tasks
    graft.plans.GraftOps.topKPerGroup(
      cellSel.join(assigned, cellSel("cell") === assigned("cell") &&
          col("vec_id") =!= col("c_probe_id"))
        .select(col("c_probe_id").as("probe_id"), col("pe"), col("pn2"),
          col("vec_id"), col("embedding"), col("n2"))
        .withColumn("cos4", round(cosW("pe", "embedding", "pn2", "n2"), 4))
        .select("probe_id", "vec_id", "cos4"),
      Seq(col("probe_id")),
      Seq(col("cos4").desc, col("vec_id").asc), k)
      .select("probe_id", "vec_id", "cos4", "rn")
  }

  /** Deterministic spherical Lloyd iteration: learn `k` cells from the
    * data instead of borrowing a label column. Returns (id, cell) —
    * feed it to [[build]] via `cellCol`.
    *
    * Seeding is farthest-first (the deterministic core of k-means++):
    * start from the row with the smallest multiplicative-spread hash of
    * its id, then k-1 times pick the vector whose nearest chosen seed is
    * farthest (min over seeds of cosine, id tie-break). Hash-scatter
    * seeding is NOT enough — two seeds landing in one true cluster
    * splits it while two other clusters merge, and Lloyd cannot recover
    * (observed in the spec before this).
    *
    * Scale shape ([[kmeansFit]]): a training base that fits the one
    * driver budget, [[DriverBaseBytes]] (rows × (dim·8 + 8) bytes, the
    * doubles the driver holds), is collected once and seeded and
    * iterated on the driver; a larger one pays one scan per seed and one
    * per Lloyd round. The cells are the model (k × dim doubles, the
    * quantizer itself, not data) and ride the plan as literals:
    * assignment is the
    * `graft_cos_argmax` map ([[graft.functions.PqKernels.cosArgmax]]),
    * one pass, no broadcast, no shuffle. Recomputation uses exact
    * decimal-mean centroids; an emptied cell simply disappears (k
    * shrinks, never crashes).
    *
    * `trainOneIn` is the 100 TB training path: seeding and Lloyd
    * iterations run on the deterministic 1-in-`trainOneIn`
    * spread-hash sample of the corpus (the quantizer only needs the
    * density shape, not every row — standard IVF practice), and ONLY
    * the final assignment scans the full corpus. 1 (default) trains on
    * everything; the sample is a pure id-hash predicate, so the same
    * ids train on any engine or cluster size. */
  def kmeansCells(emb: DataFrame, idCol: String, vecCol: String,
    k: Int, iters: Int, dim: Int, trainOneIn: Int = 1): DataFrame = {
    val (full, fit) = kmeansFit(emb, idCol, vecCol, k, iters, dim, trainOneIn,
      DriverBaseBytes)
    assignCells(full, fit.cells).select(col("id"), col("cell"))
  }

  /** A trained coarse quantizer: the farthest-first seed ids in pick
    * order, the Lloyd cells (cell, centroid) ascending by cell, and the
    * training base itself when it fitted the driver budget. */
  private[graft] final case class CellFit(seedIds: Seq[Long],
    cells: IndexedSeq[(Int, Array[Double])],
    sample: Option[Array[(Long, Array[Double])]])

  private[graft] def cellModel(cells: IndexedSeq[(Int, Array[Double])])
  : CellModel = new CellModel(cells.map(_._2).toArray, cells.map(_._1).toArray)

  /** (…, cell): each row's nearest cell by cosine, `graft_cos_argmax`
    * against the cells as literals — a pure map, no broadcast. */
  private[graft] def assignCells(df: DataFrame,
    cells: IndexedSeq[(Int, Array[Double])]): DataFrame =
    df.withColumn("cell", call_function("graft_cos_argmax", col("v"),
      typedLit(cells.map(_._2.toSeq)), typedLit(cells.map(_._1))))

  /** The spread-hash 1-in-`trainOneIn` training sample of an (id, …)
    * table — a pure id predicate, so the same ids train on any engine
    * or cluster size. */
  private[graft] def trainSample(df: DataFrame, trainOneIn: Int): DataFrame =
    if (trainOneIn == 1) df
    else df.filter(idHash(col("id")) % trainOneIn === 0)

  private val Spread = 2654435761L
  private val HashMod = graft.functions.TextFunctions.HashMod

  /** The multiplicative-spread id hash pmod(pmod(id, M)·spread, M). */
  private[graft] def idHash(id: Column): Column =
    pmod(pmod(id, lit(HashMod)) * Spread, lit(HashMod))

  /** [[idHash]] on the driver — Spark's long arithmetic wraps like
    * Java's, so the product is the same wrap. */
  private[graft] def idHash(id: Long): Long = {
    val m1 = ((id % HashMod) + HashMod) % HashMod
    val p = m1 * Spread
    ((p % HashMod) + HashMod) % HashMod
  }

  /** Seeds and Lloyd rounds over the sampled base; returns the
    * unsampled (id, v) corpus for the final assignment and the fit.
    *
    * Driver path: when the base fits `budget` ([[collectWithin]]) it is
    * collected once and seeding and every Lloyd round run on the
    * driver with the [[PqKernels]] arithmetic — the same functions the
    * `graft_cos_argmax` map runs on the executors, and the same
    * [[CentroidAggregator]] the cluster rounds aggregate with, so both
    * paths produce identical seeds and cells (ApiSpec runs both on one
    * base).
    *
    * Cluster path, for a base over the budget (only reachable when a
    * huge corpus trains unsampled): one sort-head job per farthest-first
    * seed, then one distributed job per Lloyd round — the
    * `graft_cos_argmax` map feeding the centroid aggregation, collected
    * for the next round's literals, re-sorted by cell so the literal
    * layout never depends on partition order [D1]. An emptied cell
    * disappears on both paths (k shrinks, never crashes). */
  private[graft] def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
    k: Int, iters: Int, dim: Int, trainOneIn: Int, budget: Long)
  : (DataFrame, CellFit) = {
    require(k > 0 && iters >= 0 && dim > 0, "need k > 0, iters >= 0, dim > 0")
    require(trainOneIn >= 1, "trainOneIn must be >= 1")
    GraftFunctions.register(emb.sparkSession)
    val full = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val sampled = trainSample(full, trainOneIn)
    collectWithin(sampled, dim, budget) match {
      case Some(rows) =>
        require(rows.nonEmpty,
          "kmeansCells needs a non-empty (sampled) embedding table")
        val seeds = seedDriver(rows, k)
        var cells = seeds.zipWithIndex.map { case ((_, v), i) => (i, v) }
        var it = 0
        while (it < iters) {
          val m = cellModel(cells)
          cells = PqKernels.centroids(
            rows.iterator.map(r => (PqKernels.cosArgmax(r._2, m), r._2)), dim)
          it += 1
        }
        (full, CellFit(seeds.map(_._1), cells, Some(rows)))
      case None =>
        // `full` is only checkpointed when it IS the training base: with
        // trainOneIn > 1 the full corpus is scanned exactly once (the
        // final assignment), so materializing every row up front would
        // pay a complete extra pass for zero reuse
        val base = sampled.withColumn("n2", expr("graft_dot(v, v)"))
          .localCheckpoint(true)
        val fit = clusterFit(base, k, iters, dim)
        (if (trainOneIn == 1) base.select("id", "v") else full, fit)
    }
  }

  private def clusterFit(base: DataFrame, k: Int, iters: Int, dim: Int)
  : CellFit = {
    def seedCos(s: Array[Double]): Column =
      graft.Dets.safeDiv(call_function("graft_dot", col("v"), typedLit(s)),
        sqrt(col("n2")) * math.sqrt(PqKernels.dot(s, s)))
    val first = base.withColumn("__h", idHash(col("id")))
      .orderBy(col("__h").asc, col("id").asc).select("id", "v").head(1)
    require(first.nonEmpty,
      "kmeansCells needs a non-empty (sampled) embedding table")
    val firstRow = first.head
    val seedIds = scala.collection.mutable.LinkedHashSet(firstRow.getLong(0))
    val seedBuf = scala.collection.mutable.ArrayBuffer(doubles(firstRow))
    var exhausted = false
    while (seedBuf.size < k && !exhausted) {
      // a zero-norm vector has NULL cosine to every seed; without the
      // coalesce it would sort NULLS FIRST and be re-picked as EVERY
      // remaining seed, collapsing the quantizer to one usable cell.
      // Treating NULL as +1 (nearest possible) makes zero vectors the
      // least attractive seed instead.
      val nearest = coalesce(
        seedBuf.toSeq.map(seedCos).reduce(greatest(_, _)), lit(1d))
      val next = base.withColumn("__near", nearest)
        .orderBy(col("__near").asc, col("id").asc).select("id", "v")
        .head()
      // fewer distinct useful rows than k: stop early with fewer cells
      // rather than silently duplicating seeds
      if (seedIds.add(next.getLong(0))) seedBuf += doubles(next)
      else exhausted = true
    }
    val centroid = udaf(new CentroidAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    var cells: IndexedSeq[(Int, Array[Double])] =
      seedBuf.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }
    var it = 0
    while (it < iters) {
      cells = assignCells(base, cells)
        .groupBy("cell")
        .agg(centroid(col("v").cast("array<float>")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toIndexedSeq
      it += 1
    }
    CellFit(seedIds.toSeq, cells, None)
  }

  /** The one byte budget of every driver-resident model base (the
    * k-means and PQ training bases), counted as the driver holds a base:
    * 8-byte doubles plus an 8-byte id per row. 65,536 rows of 64
    * doubles, about 32.5 MiB — the row cap the seeding collect had at
    * the fixtures' width. */
  private[graft] val DriverBaseBytes: Long = 65536L * (64 * 8 + 8)

  /** The (id, v) rows of `base` as doubles, when rows × (dim·8 + 8)
    * fits `budget` bytes. The ids are counted first — one past the row
    * cap, vectors pruned — so an over-budget base never ships a vector;
    * the vectors then come back through the typed encoder as primitive
    * double arrays. None over the budget, and when a vector or an
    * element is NULL (those keep the cluster path's NULL semantics). */
  private[graft] def collectWithin(base: DataFrame, dim: Int, budget: Long)
  : Option[Array[(Long, Array[Double])]] = {
    val cap = budget / (dim.toLong * 8 + 8)
    if (cap < 1 || base.select("id").limit(math.min(cap + 1, Int.MaxValue).toInt)
        .collect().length > cap) None
    else {
      val rows = base.select(col("id").cast("long"), col("v"))
        .map(r => (r.getLong(0),
          if (r.isNullAt(1) || r.getSeq[Any](1).contains(null)) null
          else doubles(r)))(
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
            (Long, Array[Double])]())
        .collect()
      if (rows.exists(_._2 == null)) None else Some(rows)
    }
  }

  /** A row's float or double vector (field 1) as doubles. */
  private def doubles(r: Row): Array[Double] = r.getSeq[Any](1).iterator.map {
    case f: Float => f.toDouble
    case d: Double => d
  }.toArray

  /** Farthest-first seeding over the collected base, the per-seed job
    * arithmetic of [[clusterFit]] step for step:
    *
    *  - first seed: min ([[idHash]], id);
    *  - per-seed cosine: graft_dot(v, s) / (sqrt(n2)·sqrt(s·s)), NULL
    *    when the denominator is 0 (safeDiv) — a row with no non-NULL
    *    cosine reads as +1 (the zero-norm rule);
    *  - nearest = greatest over seeds, next = min (nearest, id); a
    *    cosine is never -0.0 (a left fold from +0.0 cannot produce it),
    *    so java.lang.Double.compare orders them as the cluster sort;
    *  - a duplicate pick stops the loop early, like the seedIds guard
    *    on the job path. */
  private def seedDriver(rows: Array[(Long, Array[Double])], k: Int)
  : IndexedSeq[(Long, Array[Double])] = {
    val n2s = rows.map(r => PqKernels.dot(r._2, r._2))
    var fi = 0
    var i = 1
    while (i < rows.length) {
      val c = java.lang.Long.compare(idHash(rows(i)._1), idHash(rows(fi)._1))
      if (c < 0 || (c == 0 && rows(i)._1 < rows(fi)._1)) fi = i
      i += 1
    }
    val seedIds = scala.collection.mutable.Set(rows(fi)._1)
    val seeds = scala.collection.mutable.ArrayBuffer(rows(fi))
    var exhausted = false
    while (seeds.size < k && !exhausted) {
      val seedN2 = seeds.map(s => PqKernels.dot(s._2, s._2))
      var bi = -1
      var bNear = 0d
      var r = 0
      while (r < rows.length) {
        var near = 0d
        var any = false
        var j = 0
        while (j < seeds.length) {
          val den = math.sqrt(n2s(r)) * math.sqrt(seedN2(j))
          if (den != 0) {
            val c = PqKernels.dot(rows(r)._2, seeds(j)._2) / den
            if (!any || java.lang.Double.compare(c, near) > 0) {
              near = c; any = true
            }
          }
          j += 1
        }
        val nearF = if (any) near else 1.0
        val cmp = if (bi < 0) -1 else java.lang.Double.compare(nearF, bNear)
        if (cmp < 0 || (cmp == 0 && rows(r)._1 < rows(bi)._1)) {
          bi = r; bNear = nearF
        }
        r += 1
      }
      if (seedIds.add(rows(bi)._1)) seeds += rows(bi)
      else exhausted = true
    }
    seeds.toIndexedSeq
  }
}
