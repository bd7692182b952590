package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Relational model training — the learned-scorer stage of a curation
  * pipeline (the one stage the rule/surprisal gates q104/q98/q103 left
  * open: a TRAINABLE quality classifier distilled from labels).
  *
  * Everything here is INTEGER-EXACT by construction: features, labels,
  * margins, gradient sums, and weight updates are 64-bit integers, and
  * the one division per step (the mean-gradient learning rate 1/N)
  * truncates toward zero with the sign made explicit — so a SQL engine
  * replaying the unrolled steps reproduces the weights bit-for-bit
  * ([D5]; no float staging anywhere, unlike the 6dp-decimal pipelines
  * the iterative graph queries need).
  *
  * Scale shape: each training step is ONE full pass — a map-side
  * partial aggregation collapsing to a single row (no shuffle beyond
  * the 1-row combine), which is the irreducible cost of batch gradient
  * training at 100 TB. The feature projection is localCheckpointed
  * once so step k never replays the tokenization of steps 0..k−1; the
  * per-step weight vector (F+1 longs) is a bounded driver value folded
  * back into the next step's expressions as literals — the same
  * bounded-driver-finish convention as the PQ codebooks.
  */
object MlOps {

  /** Batch perceptron with mean-gradient updates, returning the full
    * training TRACE as a tiny DataFrame — one row per step `t`
    * (0..iters): `(step, n_mis, w_bias, w_<feature>...)` where the
    * weights are the model AFTER t updates and `n_mis` counts the
    * rows that model misclassifies (margin y·(w·x) ≤ 0; step 0 is the
    * zero model, so n_mis = N).
    *
    * Update rule per step: `w_j += trunc(Σ_mis y·x_j / N)` — the
    * classic perceptron gradient averaged over the training set so
    * weights stay bounded by iters × max|x| regardless of N (a raw
    * Σ update would overflow int64 margins near 10⁹ rows). `labelCol`
    * must be 0/1 (mapped to y = ±1); features must be integral and
    * non-negative. Rows with NULL label or features are dropped (a
    * NULL would poison every aggregate). N counts the TRAINING rows.
    */
  def perceptronTrace(df: DataFrame, featureCols: Seq[String],
    labelCol: String, iters: Int): DataFrame = {
    require(featureCols.nonEmpty && iters >= 0,
      "need at least one feature and iters >= 0")
    val spark = df.sparkSession
    val nW = featureCols.size + 1
    val y = (col(labelCol).cast("long") * 2 - 1).as("__y")
    val xs = lit(1L).as("__x0") +: featureCols.zipWithIndex.map {
      case (c, i) => col(c).cast("long").as(s"__x${i + 1}")
    }
    val f = df
      .filter(featureCols.map(col(_).isNotNull)
        .foldLeft(col(labelCol).isNotNull)(_ && _))
      .select(y +: xs: _*)
      .localCheckpoint(true)
    var w = Seq.fill(nW)(0L)
    val trace = Seq.newBuilder[Row]
    var t = 0
    while (t <= iters) {
      val margin = (0 until nW)
        .map(i => col(s"__x$i") * lit(w(i))).reduce(_ + _)
      val mis = col("__y") * margin <= 0
      val aggs =
        count(lit(1L)).as("n") +:
          sum(when(mis, 1L).otherwise(0L)).as("n_mis") +:
          (0 until nW).map(i =>
            sum(when(mis, col("__y") * col(s"__x$i")).otherwise(0L))
              .as(s"g$i"))
      val r = f.agg(aggs.head, aggs.tail: _*).head()
      trace += Row.fromSeq(t.toLong +: r.getAs[Long]("n_mis") +: w)
      if (t < iters) {
        val n = r.getAs[Long]("n")
        w = w.zipWithIndex.map { case (wi, i) =>
          val g = r.getAs[Long](s"g$i")
          // sign-explicit truncation toward zero: SQL floor-division
          // conventions differ on negatives, this form does not
          wi + (if (n == 0L) 0L else if (g < 0) -((-g) / n) else g / n)
        }
      }
      t += 1
    }
    val schema = StructType(
      StructField("step", LongType, nullable = false) ::
        StructField("n_mis", LongType, nullable = false) ::
        StructField("w_bias", LongType, nullable = false) ::
        featureCols.map(c =>
          StructField(s"w_$c", LongType, nullable = false)).toList)
    spark.createDataFrame(
      spark.sparkContext.parallelize(trace.result(), 1), schema)
  }

  /** Integer-exact unrolled Lloyd k-means over a float-vector column,
    * returning the per-round TRACE: one row per (round, cluster) with
    * the member count and the summed squared distance (inertia) of the
    * assignment that round — `round` r is evaluated against the
    * centroids after r−1 update steps.
    *
    * This is [[PqOps.pqIntTrain]] with one subspace, its trace
    * projected to (round, cl, n_vecs, inertia), so it keeps that
    * trainer's [D5] contract (the [[perceptronTrace]] conventions
    * applied to clustering): vectors milli-quantized once, int64
    * arithmetic after that, the `k` polyMix-smallest ids as seeds
    * (clusters numbered in draw order), ties toward the lower cluster,
    * the sign-explicit truncating mean, an empty cluster keeping its
    * centroid. `dim` is the first vector's. With fewer than `k` rows
    * with a vector it trains as many clusters as there are rows.
    *
    * Scale shape: one bounded read of up to `k` vector sizes (`dim` and
    * the cluster count), then the trainer's one job per round. */
  def kmeansTrace(df: DataFrame, idCol: String, vecCol: String,
    k: Int, iters: Int, scale: Long = 1000L): DataFrame = {
    require(k >= 1 && iters >= 1, "need k >= 1 and iters >= 1")
    val sizes = df.filter(col(vecCol).isNotNull).select(size(col(vecCol)))
      .limit(k).collect().map(_.getInt(0))
    // the trace's n_vecs/inertia come from each cluster's first
    // component, so a size-0 vector would silently vanish from the
    // counts — name the precondition instead
    require(sizes.headOption.exists(_ >= 1),
      s"kmeansTrace needs vectors of dim >= 1, got ${sizes.headOption}")
    val (trace, _, _) = PqOps.pqIntTrain(df, idCol, vecCol, sizes.head, 1,
      sizes.length, iters, scale)
    trace.select(col("round"), col("code").cast("long").as("cl"),
        col("n_vecs"), col("inertia"))
      .orderBy("round", "cl")
  }

  /** Score rows with a trained weight vector (bias first, then one
    * weight per feature, the [[perceptronTrace]] layout): appends the
    * integer margin `score` = w·(1, x...). Positive margin = keep. */
  def linearScore(df: DataFrame, featureCols: Seq[String],
    weights: Seq[Long]): DataFrame = {
    require(weights.size == featureCols.size + 1,
      s"need ${featureCols.size + 1} weights (bias first), got ${weights.size}")
    val margin = (lit(1L) * lit(weights.head) +:
      featureCols.zip(weights.tail).map { case (c, wi) =>
        col(c).cast("long") * lit(wi)
      }).reduce(_ + _)
    df.withColumn("score", margin)
  }
}
