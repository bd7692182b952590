package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Operator-semantics unit tests that the SQL oracle can't express:
  * HLL error bounds, session invariants, aggregator merge paths,
  * IVF search structure, dedup idempotence, and the cross-key
  * identities of the co-purchase graph and basket keys (q332, q334,
  * q340, q352, q358, q392 — all built on the `CoPurchase` tables). */
class OperatorSpec extends SparkSpec {

  test("q22 HLL estimate within documented error of exact distinct") {
    val approx = SparkEntry.queries("q22_agg_hll")(spark, Sf)
      .head.getLong(0).toDouble
    val exact = Tables.load(spark, Sf, "lineitem")
      .select(countDistinct(col("l_partkey"))).head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("q45 approx quantiles bracket the exact percentiles") {
    val li = Tables.load(spark, Sf, "lineitem")
    val rows = SparkEntry.queries("q45_approx_quantile")(spark, Sf).collect()
    rows.foreach { r =>
      val flag = r.getString(0)
      val prices = li.filter(col("l_returnflag") === flag)
        .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
      for ((p, i) <- Seq(0.25, 0.5, 0.75).zipWithIndex) {
        val approx = r.getDouble(i + 1)
        // GK with accuracy 10000 => rank error <= n/10000; generous 1% band
        val lo = prices(math.max(0, (prices.length * (p - 0.01)).toInt))
        val hi = prices(math.min(prices.length - 1,
          (prices.length * (p + 0.01)).toInt))
        assert(approx >= lo && approx <= hi,
          s"$flag p$p approx=$approx outside [$lo,$hi]")
      }
    }
  }

  test("q240 sampled quantiles land within rank band of the exact percentiles") {
    val li = Tables.load(spark, Sf, "lineitem")
    val rows = SparkEntry.queries("q240_sampled_quantiles")(spark, Sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      val prices = li.filter(col("l_returnflag") === flag)
        .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
      // a deterministic 1/16 sample of a ~2k-row group keeps ~130
      // rows, so the quantile RANK error sd is ~sqrt(p(1-p)/130) ≈
      // 4.4 points — a 15-point (~3 sd) band is robust to fixture
      // regen while still catching a broken sample predicate or
      // threshold arithmetic (those shift the rank by tens of points)
      for ((p, i) <- Seq(0.25, 0.5, 0.75).zipWithIndex) {
        val est = r.getDouble(i + 2)
        val lo = prices(math.max(0, (prices.length * (p - 0.15)).toInt))
        val hi = prices(math.min(prices.length - 1,
          (prices.length * (p + 0.15)).toInt))
        assert(est >= lo && est <= hi,
          s"$flag p$p sampled=$est outside rank band [$lo,$hi]")
      }
      // the sample is genuinely ~1/16 of the group (± 30%)
      val nSample = r.getLong(1).toDouble
      val frac = nSample * 16 / prices.length
      assert(frac > 0.7 && frac < 1.3,
        s"$flag sample fraction off: $nSample of ${prices.length}")
    }
  }

  test("q260 Shapley values satisfy the efficiency property within truncation") {
    import org.apache.spark.sql.functions._
    val phi = SparkEntry.queries("q260_shapley_attribution")(spark, Sf)
      .collect().map(_.getAs[Long]("shapley_ppm"))
    assert(phi.length == 4)
    // Σφ = v(full) − v(∅) exactly before the per-channel div-by-12
    // truncation; each of the 4 divisions truncates < 1 ppm, so the
    // identity holds within ±4 ppm. v(full)/v(∅) recomputed
    // independently from the same exposure/outcome windows.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val rn = Tables.loadSpread(spark, Sf, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
    val usr = rn.groupBy("user_id").agg(
      max(when(col("rn") <= 4 && col("event_type") =!= "purchase", 1L)
        .otherwise(0L)).as("any_chan"),
      max(when(col("rn") <= 4, 1L).otherwise(0L)).as("any_expo"),
      sum(when(col("rn") <= 4 && col("event_type") =!= "purchase", 1L)
        .otherwise(0L)).as("n_chan_events"),
      countDistinct(when(col("rn") <= 4
        && col("event_type") =!= "purchase", col("event_type")))
        .as("n_chan"),
      max(when(col("rn") > 4 && col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("conv"),
      max(when(col("rn") > 4, 1L).otherwise(0L)).as("in_exp"))
      .filter(col("in_exp") === 1L)
    def vOf(pred: org.apache.spark.sql.Column): Long = {
      val r = usr.filter(pred)
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc")).head()
      if (r.getLong(0) == 0) 0L else 1000000L * r.getLong(1) / r.getLong(0)
    }
    val vFull = vOf(col("n_chan") === 4)
    val vEmpty = vOf(col("n_chan") === 0)
    assert(math.abs(phi.sum - (vFull - vEmpty)) <= 4,
      s"sum=${phi.sum} vFull=$vFull vEmpty=$vEmpty")
  }

  test("q259 removal effects: every channel removal lowers conversion") {
    val rows = SparkEntry.queries("q259_markov_attribution")(spark, Sf)
      .collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (base, conv) =
        (r.getAs[Long]("base_ppm"), r.getAs[Long]("conv_ppm"))
      assert(base > 0 && conv >= 0 && conv <= base + 8,
        s"${r.getAs[String]("channel")}: base=$base conv=$conv")
    }
  }

  test("q52 sessions partition events and respect the 30-min gap") {
    val sessions = SparkEntry.queries("q52_win_session")(spark, Sf).collect()
    val events = Tables.load(spark, Sf, "events")
      .select("user_id", "ts").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getTimestamp(1).getTime).sorted).toMap
    // session_start/last_ts are timestamp_ntz -> LocalDateTime
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    // session counts per user sum to the user's event count
    val perUser = sessions.groupBy(_.getLong(0))
    perUser.foreach { case (user, rows) =>
      assert(rows.map(_.getLong(3)).sum == events(user).length.toLong)
    }
    // inter-session gap >= 30 min: next session_start - prev last_ts
    perUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(ms(_, 1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gapMs = ms(b, 1) - ms(a, 2)
          assert(gapMs >= 30 * 60 * 1000L, s"gap $gapMs ms")
        case _ =>
      }
    }
  }

  test("rolling hash is collision-free on the corpus vocabulary (all SFs)") {
    import graft.functions.TextFunctions
    graft.functions.GraftFunctions.register(spark)
    for (sf <- Seq(Sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val toks = Tables.load(spark, sf, "documents")
        .select(explode(TextFunctions.tokenSet(col("text"))).as("tok"))
        .distinct()
      val n = toks.count()
      val nh = toks.select(expr(TextFunctions.charHash("tok")).as("h"))
        .distinct().count()
      assert(n == nh, s"hash collision in vocabulary at $sf")
    }
  }

  test("q238 k-core peel reaches its fixpoint within the oracle's round cap") {
    // the oracle replays a FIXED CoreMaxRounds unroll of the peel, which
    // equals the early-exiting loop only if the loop stops within the
    // cap — so a run allowed four times the cap must find the same core
    import graft.operators.GraphQueries.{CoreK, CoreMaxRounds,
      LinkPredMinSupport}
    for (sf <- Seq(Sf, "/root/testdata/sf0.01")) {
      val und = graft.operators.CoPurchase.pairW(spark, sf)
        .filter(col("w") >= LinkPredMinSupport).select("x", "y")
      def core(maxRounds: Int) = graft.api.GraphOps
        .kCore(und, "x", "y", CoreK, maxRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(core(CoreMaxRounds) == core(4 * CoreMaxRounds),
        s"k-core peel not at its fixpoint after $CoreMaxRounds rounds at $sf")
    }
  }

  test("q60 exact dedup is idempotent") {
    val once = SparkEntry.queries("q60_dedup_exact")(spark, Sf)
    val again = once.groupBy("text")
      .agg(min(col("keep_id")).as("keep_id"), count(lit(1)).as("n"))
    assert(again.filter(col("n") > 1).isEmpty)
    assert(once.count() == once.select("text").distinct().count())
  }

  test("q31 last cumulative value equals the customer's total") {
    val run = SparkEntry.queries("q31_running_sum")(spark, Sf)
      .groupBy("o_custkey").agg(max(col("run_sum")).as("last_run"))
    val tot = Tables.load(spark, Sf, "orders").groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(Dets.Dec)).as("total"))
    val joined = run.join(tot, "o_custkey")
      .filter(col("last_run") =!= col("total"))
    assert(joined.isEmpty)
  }

  test("centroid aggregator: partial merge equals single-partition result") {
    import graft.functions.CentroidAggregator
    val agg = new CentroidAggregator(3)
    val vecs = Seq(Array(1.0f, 2.0f, 3.0f), Array(2.0f, 3.0f, 4.0f),
      Array(-1.0f, 0.5f, 0.25f))
    val whole = vecs.foldLeft(agg.zero)(agg.reduce)
    val split = agg.merge(
      vecs.take(1).foldLeft(agg.zero)(agg.reduce),
      vecs.drop(1).foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(whole).toSeq == agg.finish(split).toSeq)
    assert(agg.finish(whole).toSeq == Seq(0.6667, 1.8333, 2.4167))
  }

  test("q70 IVF returns 3 ranked neighbors per probe") {
    val rows = SparkEntry.queries("q70_ann_ivf")(spark, Sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.values.foreach { rs =>
      assert(rs.length == 3)
      val cos = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cos.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("persisted IVF index search equals the inline q70 result") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    val emb = Tables.load(spark, Sf, "embeddings")
    graft.sources.IvfIndex.build(emb, root)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val got = graft.sources.IvfIndex.search(spark, root, probes, 2, 3)
      .orderBy("probe_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val want = SparkEntry.queries("q70_ann_ivf")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // and the fine scan is partition-pruned: the selected-cells side must
    // drive a DYNAMIC pruning subquery on the assigned/ scan's partition
    // column ("PartitionFilters:" alone would be vacuous — every
    // partitioned scan prints an empty one)
    val q2 = graft.sources.IvfIndex.search(spark, root, probes, 2, 3)
    q2.collect()
    val plan = q2.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(cell"),
      s"expected a dynamic cell-pruning subquery on the fine scan, got:\n" +
        plan.split("\n").filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("kmeans cells learn the cluster structure and drive IVF search") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    def gauss() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = for {
      c <- 0 until 4; base = gauss(); i <- 0 until 12
    } yield (c * 100L + i,
      base.zip(gauss()).map { case (b, n) => b + 0.05f * n })
    val vecs = rows.toDF("vec_id", "embedding")
    val cells = graft.sources.IvfIndex.kmeansCells(
      vecs, "vec_id", "embedding", k = 4, iters = 3, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // deterministic across runs
    val again = graft.sources.IvfIndex.kmeansCells(
      vecs, "vec_id", "embedding", k = 4, iters = 3, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == again)
    // Lloyd iterations must separate the 4 true clusters: every true
    // cluster maps to exactly one learned cell
    val byTrue = cells.groupBy(_._1 / 100).map { case (t, m) =>
      t -> m.values.toSet
    }
    assert(byTrue.values.forall(_.size == 1), byTrue.toString)
    assert(byTrue.values.flatten.toSet.size == 4)
    // and the persisted index over the learned cells answers probes from
    // the right cluster: top-3 of a probe are its own cluster's members
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_km_").toString
    val withCell = vecs.join(
      graft.sources.IvfIndex.kmeansCells(
        vecs, "vec_id", "embedding", k = 4, iters = 3, dim = dim),
      col("vec_id") === col("id")).drop("id")
    graft.sources.IvfIndex.build(withCell, root, cellCol = "cell", dim = dim)
    val probes = vecs.filter(col("vec_id").isin(5L, 105L, 205L, 305L))
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val got = graft.sources.IvfIndex.search(spark, root, probes, 1, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 12)
    assert(got.forall { case (p, v) => p / 100 == v / 100 },
      s"cross-cluster neighbour: ${got.filter { case (p, v) => p / 100 != v / 100 }.toSeq}")
  }

  test("kmeans sampled training assigns the full corpus from sample-learned cells") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    def gauss() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = for {
      c <- 0 until 4; base = gauss(); i <- 0 until 12
    } yield (c * 100L + i,
      base.zip(gauss()).map { case (b, n) => b + 0.05f * n })
    val vecs = rows.toDF("vec_id", "embedding")
    // train the quantizer on the deterministic 1-in-3 spread-hash
    // sample, assign the FULL corpus — the 100 TB training path
    val cells = graft.sources.IvfIndex.kmeansCells(
      vecs, "vec_id", "embedding", k = 4, iters = 3, dim = dim,
      trainOneIn = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells.size == rows.size, "every corpus row must be assigned")
    // the sample-learned cells still separate the 4 true clusters
    val byTrue = cells.groupBy(_._1 / 100).map { case (t, m) =>
      t -> m.values.toSet
    }
    assert(byTrue.values.forall(_.size == 1), byTrue.toString)
    assert(byTrue.values.flatten.toSet.size == 4)
  }

  test("q66 LSH candidates contain every very-similar pair from q61") {
    // Jaccard >= 0.9 pairs collide in at least one band with 16/4/4 MinHash
    // with overwhelming probability (1-(1-s^4)^4 ~ 0.9997 at s=0.9).
    val exact = SparkEntry.queries("q61_dedup_near")(spark, Sf)
      .filter(col("jac4") >= 0.9)
      .select("id_lo", "id_hi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q66_minhash_lsh")(spark, Sf)
      .select("id_lo", "id_hi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.size <= math.max(1, exact.size / 20),
      s"LSH missed ${missed.size} of ${exact.size} high-sim pairs")
  }

  test("multimodal feature extraction preserves rows and batch shape") {
    import graft.sources.Multimodal
    import spark.implicits._
    val rows = (0L until 100L).map { i =>
      Multimodal.MediaRow(i, Array.fill((i % 7 + 1).toInt * 10)(i.toByte),
        "img", 640, 480)
    }
    val ds = spark.createDataset(rows).repartition(5)
    val feats = Multimodal.extractFeatures(ds).collect()
    assert(feats.length == 100)
    assert(feats.forall(_.feature.length == 8))
    assert(feats.forall(f => f.thumb_w == 64 && f.thumb_h == 48))
    // deterministic: same bytes -> same features
    val f0 = Multimodal.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(f0.map(_.feature.toSeq).toSeq ==
      feats.sortBy(_.media_id).map(_.feature.toSeq).toSeq)
    // frame sampling: bounded, 0-anchored, evenly spaced
    val frames = Multimodal.FakeDecoder.frameSampleMs(10000, 3000)
    assert(frames.toSeq == Seq(0L, 3000L, 6000L, 9000L))
    assert(Multimodal.FakeDecoder.frameSampleMs(0, 1000).toSeq == Seq(0L))
  }

  // ---- co-purchase graph and basket keys (the CoPurchase family) ----

  private def rows(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, Sf).collect()
  private def d(r: Row, c: String): Double = r.getAs[Double](c)
  private def l(r: Row, c: String): Long = r.getAs[Long](c)

  test("q332 edge-support mass equals 3x the q165 triangle census") {
    val sup = rows("q332_edge_support")
      .map(r => l(r, "support") * l(r, "n_edges")).sum
    val q165 = rows("q165_triangles").head
    assert(sup == 3L * l(q165, "n_triangles"),
      s"support mass $sup vs 3 x ${l(q165, "n_triangles")}")
    val edges = rows("q332_edge_support").map(r => l(r, "n_edges")).sum
    assert(edges == l(q165, "n_edges"))
  }

  test("q334 3-itemsets: canonical part order and the support floor") {
    rows("q334_itemsets3").foreach { r =>
      assert(l(r, "p1") < l(r, "p2") && l(r, "p2") < l(r, "p3"))
      assert(l(r, "support") >= 2L)
    }
  }

  test("q340 rich club: ladder counts shrink as the degree cut rises " +
    "and phi stays in [0, 1]") {
    val rs = rows("q340_rich_club").sortBy(_.getAs[Int]("k"))
    val ns = rs.map(r => l(r, "n_rich"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    rs.filter(r => !r.isNullAt(r.fieldIndex("phi6"))).foreach { r =>
      assert(d(r, "phi6") >= 0.0 && d(r, "phi6") <= 1.0)
    }
  }

  test("q352 scores exactly q334's triples with positive lifts") {
    val lifted = rows("q352_itemset_lift")
    val base = rows("q334_itemsets3")
    assert(lifted.length == base.length)
    assert(lifted.map(r => (l(r, "p1"), l(r, "p2"), l(r, "p3"),
      l(r, "support"))).toSet ==
      base.map(r => (l(r, "p1"), l(r, "p2"), l(r, "p3"),
        l(r, "support"))).toSet)
    lifted.foreach(r => assert(d(r, "lift4") > 0.0))
  }

  test("q358 basket-size mass equals the distinct (order, part) " +
    "incidence") {
    val mass = rows("q358_basket_size")
      .map(r => l(r, "n_items") * l(r, "n_orders")).sum
    val incidence = Tables.load(spark, Sf, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().count()
    assert(mass == incidence)
  }

  test("q392 conviction: NULL exactly on exceptionless rules, confidence bounded") {
    val rs = rows("q392_conviction")
    assert(rs.length == 20)
    rs.foreach { r =>
      val conf = r.getAs[Double]("conf6")
      assert(conf > 0 && conf <= 1)
      val convNull = r.isNullAt(r.fieldIndex("conviction4"))
      assert(convNull == (conf == 1.0),
        "conviction NULL iff the rule is exceptionless")
      if (!convNull) assert(r.getAs[Double]("conviction4") > 0)
    }
  }

}
