package graft

import graft.api.{DedupOps, PipelineOps, TextOps, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `graft.api` facade is schema-agnostic: every op here runs against
  * a DataFrame whose column names share NOTHING with the testdata tables
  * (the verified q6x/q7x/q8x bindings cover the documents/embeddings
  * schemas; this suite proves the ops are a library, not table-bound
  * queries). Expectations are computed brute-force in Scala.
  */
class ApiSpec extends SparkSpec {

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (101L, "the quick brown fox jumps over the lazy dog", "en"),
      (102L, "the quick brown fox jumps over the lazy cat", "en"),
      (103L, "entirely different words here altogether now", "en"),
      (104L, "le renard brun rapide saute par dessus le chien", "fr"),
      (105L, "le renard brun rapide saute par dessus le chat", "fr"),
      (106L, "", "en")
    ).toDF("key", "body", "tongue")
  }

  private def jaccard(a: String, b: String): Double = {
    val sa = a.split(" ").filter(_.nonEmpty).toSet
    val sb = b.split(" ").filter(_.nonEmpty).toSet
    if (sa.isEmpty || sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exactGroups resolves content-hash collisions exactly") {
    import spark.implicits._
    // "Aa" and "BB" collide under the 31-poly rolling hash (65*31 + 97
    // == 66*31 + 66) and share a length, forcing the rescue path; the
    // result must still group by true content.
    assert(graft.functions.TextHash.charHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("Aa")) ==
      graft.functions.TextHash.charHash(
        org.apache.spark.unsafe.types.UTF8String.fromString("BB")),
      "fixture strings must collide for this test to exercise the rescue")
    val docs = Seq((1L, "Aa"), (2L, "BB"), (3L, "Aa"), (4L, "plain"))
      .toDF("k", "c")
    val got = graft.api.DedupOps.exactGroups(docs, "k", "c")
      .orderBy("keep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 2L, "Aa"), (2L, 1L, "BB"), (4L, 1L, "plain")))
  }

  test("exactGroups keeps the NULL-content group (SQL GROUP BY semantics)") {
    import spark.implicits._
    // three-valued logic on the collision compare must not silently
    // drop NULL contents — they form one group like in SQL GROUP BY
    val docs = Seq((1L, Some("x y z")), (2L, None), (3L, None),
      (4L, Some("x y z"))).toDF("k", "c")
    val got = graft.api.DedupOps.exactGroups(docs, "k", "c")
      .orderBy("keep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2))))
    assert(got.toSeq == Seq((1L, 2L, Some("x y z")), (2L, 2L, None)))
  }

  test("nearDupPairs on a foreign schema matches brute-force Jaccard") {
    val hashed = TextOps.tokenHashTable(corpus, "key", "body", "tongue")
    val got = TextOps.nearDupPairs(hashed, 0.5)
      .select("id_lo", "id_hi", "jac")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2)))
    val want = (for {
      (ia, ta, la) <- rows; (ib, tb, lb) <- rows
      if la == lb && ia < ib
      j = jaccard(ta, tb) if j >= 0.5
    } yield (ia, ib,
      BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("decontaminate flags exactly the docs sharing an n-gram with eval") {
    import spark.implicits._
    // eval doc shares a verbatim 4-token span with 101/102 but not 103
    val eval = Seq((1L, "quick brown fox jumps across nothing")).toDF("e", "t")
    val got = TextOps.decontaminate(
      corpus.filter(col("key") =!= 106L), "key", "body", eval, "t", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).sortBy(_._1)
    def grams(s: String, n: Int) =
      s.split(" ").filter(_.nonEmpty).sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq
    val ev = grams("quick brown fox jumps across nothing", 4).toSet
    val rows = corpus.filter(col("key") =!= 106L).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = rows.map { case (id, t) =>
      val g = grams(t, 4)
      val hits = g.toSet.intersect(ev).size.toLong
      (id, g.size.toLong, hits, if (hits > 0) 1 else 0)
    }.sortBy(_._1).toSeq
    assert(got.toSeq == want)
    assert(got.count(_._4 == 1) == 2) // 101 and 102 only
  }

  test("repetitionScore measures duplicate n-gram fractions per row") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),      // bigrams: ab ba ab ba ab -> 2 distinct of 5
      (2L, "one two three four"), // all distinct
      (3L, "solo"),             // no bigrams -> NULL fracs
      (4L, "")
    ).toDF("k", "txt")
    val got = TextOps.repetitionScore(df, "k", "txt")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).sortBy(_._1)
    assert(got(0) == ((1L, 6L, Some(0.6), Some(0.5))))
    assert(got(1) == ((2L, 4L, Some(0.0), Some(0.0))))
    assert(got(2) == ((3L, 1L, None, None)))
    assert(got(3) == ((4L, 0L, None, None)))
  }

  test("containmentPairs finds a quoted subset across blocks off") {
    val one = corpus.withColumn("g", lit(1))
    val hashed = TextOps.tokenHashTable(
      one.filter(col("key").isin(101L, 103L)), "key", "body", "g")
    // 103's tokens are disjoint from 101's: no containment
    assert(TextOps.containmentPairs(hashed, 0.5).count() == 0)
    import spark.implicits._
    val quoted = Seq(
      (1L, "alpha beta gamma", 0),
      (2L, "alpha beta gamma plus much longer tail of words", 0))
      .toDF("key", "body", "g")
    val h2 = TextOps.tokenHashTable(quoted, "key", "body", "g")
    val r = TextOps.containmentPairs(h2, 0.9).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("c_lo") == 1.0) // short side fully contained
  }

  test("containmentPairsPrefix is result-identical to the exact scan") {
    // the prefix-filter bound guarantees exact recall, so the 100 TB
    // form must return precisely the quadratic scan's pair set — on
    // the real documents fixture, where near-dup mass makes the
    // candidate space non-trivial
    val hashed = TextOps.tokenHashTable(
      Tables.loadSpread(spark, Sf, "documents"), "doc_id", "text", "lang")
      .persist()
    try {
      val exact = TextOps.containmentPairs(hashed, 0.9)
        .orderBy("id_lo", "id_hi").collect().toSeq
      val pref = TextOps.containmentPairsPrefix(hashed, 0.9)
        .orderBy("id_lo", "id_hi").collect().toSeq
      assert(pref.nonEmpty, "fixture should contain containment pairs")
      assert(pref == exact)
    } finally hashed.unpersist()
  }

  test("languageId predicts the self-labeled language on clean strata") {
    val pred = TextOps.languageId(
      corpus.filter(length(col("body")) > 0), "key", "body", "tongue")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc shares more profile tokens with its own language
    assert(pred(101L) == "en" && pred(104L) == "fr" && pred(105L) == "fr")
  }

  test("qualityScore and tokenCounts append per-row signals") {
    val q = TextOps.qualityScore(corpus, "body")
      .select("key", "n_tok", "n_uniq", "quality")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(q(101L)._1 == 9 && q(101L)._2 == 8) // "the" repeats
    assert(q(106L) == ((0L, 0L, None))) // empty text: null quality, no throw
    val c = TextOps.tokenCounts(corpus, "body")
      .filter(col("key") === 101L).head()
    assert(c.getAs[Long]("n_ws") == 9)
    assert(c.getAs[Long]("bpe_est") == 11) // ceil(44/4.0)
  }

  test("minhashLshPairs candidates verify to a subset of exact pairs") {
    val exact = TextOps.nearDupPairs(
      TextOps.tokenHashTable(corpus, "key", "body", "tongue"), 0.5)
      .select("id_lo", "id_hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def lsh(numHashes: Int, bands: Int) = DedupOps.minhashLshPairs(
        corpus, "key", "body", 0.5, numHashes = numHashes, bands = bands)
      .select("id_lo", "id_hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 bands of 2 rows: a jac-0.8 pair misses all bands with prob
    // (1-0.8^2)^8 ≈ 3e-4 — and the minhash family is fixed, so the
    // outcome is deterministic, not flaky
    val lsh8 = lsh(16, 8)
    // the verify step guarantees soundness (no false positives)
    assert(lsh8.subsetOf(exact) && lsh8 == exact)
    // one band of all slots: a pair is a candidate iff its whole
    // signature agrees, so the relation is exactly the exact pairs with
    // equal signatures (2 slots, so the jac-0.78 pairs can collide)
    val sig = TextOps.tokenHashTable(corpus, "key", "body", "tongue")
      .select(col("id"), expr("graft_minhash(hs, 2)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val lsh1 = lsh(2, 1)
    assert(lsh1.subsetOf(exact) && lsh1.nonEmpty &&
      lsh1 == exact.filter { case (a, b) => sig(a) == sig(b) })
  }

  test("minhashLshPairs blockCol: exactly the unblocked relation cut to same-block pairs") {
    import spark.implicits._
    // doc 3 is doc 1's text in the OTHER block: the unblocked run must
    // pair them, the blocked run must never even make them a candidate
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy cat", "en"),
      (3L, "the quick brown fox jumps over the lazy dog", "fr"),
      (4L, "le renard brun rapide saute par dessus le chien", "fr"),
      (5L, "le renard brun rapide saute par dessus le chat", "fr")
    ).toDF("key", "body", "tongue")
    val block = Map(1L -> "en", 2L -> "en", 3L -> "fr", 4L -> "fr", 5L -> "fr")
    def pairs(df: DataFrame) = df.select("id_lo", "id_hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unb = pairs(DedupOps.minhashLshPairs(docs, "key", "body", 0.5,
      numHashes = 16, bands = 8))
    val blk = pairs(DedupOps.minhashLshPairs(docs, "key", "body", 0.5,
      numHashes = 16, bands = 8, blockCol = Some("tongue")))
    // block equality is pair-constant, so the first-band rule picks the
    // same band either way: blocked == unblocked ∩ same-block, exactly
    assert(blk == unb.filter { case (a, b) => block(a) == block(b) })
    assert(unb.contains((1L, 3L)) && !blk.contains((1L, 3L)),
      "cross-block dup must pair unblocked and be excluded blocked")
    assert(blk.contains((1L, 2L)) && blk.contains((4L, 5L)))
  }

  test("minhashLshAgainst: exactly the cross-side subset of the full " +
    "pair relation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "an entirely different sentence about databases"),
      (5L, "an entirely different sentence about databases too")
    ).toDF("key", "body")
    val base = docs.filter($"key" % 2 === 0)
    val delta = docs.filter($"key" % 2 === 1)
    // 8 bands of 2 rows, and one band of 2 slots (the lowest-band rule
    // with nothing below band 0)
    for ((numHashes, bands) <- Seq((16, 8), (2, 1))) {
      val full = DedupOps.minhashLshPairs(docs, "key", "body", 0.5,
        numHashes = numHashes, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inc = DedupOps.minhashLshAgainst(base, delta, "key", "body", 0.5,
        numHashes = numHashes, bands = bands)
        .collect()
        .map(r => (math.min(r.getLong(1), r.getLong(0)),
          math.max(r.getLong(1), r.getLong(0)))).toSet
      // same hash family + band geometry + verify ⇒ the incremental run
      // is EXACTLY the full relation cut to (even, odd) pairs
      assert(inc == full.filter { case (a, b) => (a + b) % 2 == 1 }, bands)
      // and it must produce a cross-side dup the full run knows about
      assert(inc.nonEmpty, bands)
    }
  }

  test("bm25 ranks term-bearing docs only, rare terms weigh more") {
    val r = TextOps.bm25(corpus, "key", "body", Seq("fox", "chien"), 10)
      .collect().sortBy(_.getAs[Int]("rank"))
    // only docs containing at least one query term appear
    assert(r.map(_.getAs[Long]("id")).toSet == Set(101L, 102L, 104L))
    assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    assert(r.forall(_.getAs[Double]("score4") > 0))
    // 'chien' is rarer (df 1 vs 2) at equal tf and length, so 104 wins
    assert(r.head.getAs[Long]("id") == 104L)
    // 101/102 tie exactly (same tf, same dl) and break by id
    val Seq(a, b) = r.tail.map(_.getAs[Long]("id")).toSeq
    assert(a == 101L && b == 102L)
  }

  test("simhashPairs equals the brute-force Hamming scan") {
    import spark.implicits._
    // ground truth: all-pairs popcount over the same fingerprints
    val sh = DedupOps.simhash(corpus, "body")
      .select(col("key"), col("simhash"))
    val a = sh.select(col("key").as("id_lo"), col("simhash").as("sa"))
    val b = sh.select(col("key").as("id_hi"), col("simhash").as("sb"))
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // radius generous enough that the near-identical en/fr pairs land;
    // 21 chunks of 2-3 bits collide heavily, which stresses exactly what
    // the pigeonhole scheme must survive (false candidates, no misses)
    val d = 20
    val brute = pairSet(a.crossJoin(b).filter(col("id_lo") < col("id_hi"))
      .withColumn("hd", expr("bit_count(sa ^ sb)").cast("int"))
      .filter(col("hd") <= d)
      .select("id_lo", "id_hi", "hd"))
    val chunked = pairSet(
      DedupOps.simhashPairs(corpus, "key", "body", maxDist = d))
    assert(chunked == brute && brute.nonEmpty)
    assert(!chunked.exists(p => p._1 == 106L || p._2 == 106L),
      "token-less rows must not pair")
  }

  test("clusterResolve keeps exactly one representative per cluster") {
    val pairs = TextOps.nearDupPairs(
      TextOps.tokenHashTable(corpus, "key", "body", "tongue"), 0.5)
      .select("id_lo", "id_hi")
    val labels = DedupOps.clusterResolve(corpus, "key", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(labels.length == corpus.count())
    // {101,102} and {104,105} cluster; min id keeps
    val byId = labels.map(l => l._1 -> ((l._2, l._3))).toMap
    assert(byId(101L) == ((101L, 1)) && byId(102L) == ((101L, 0)))
    assert(byId(104L) == ((104L, 1)) && byId(105L) == ((104L, 0)))
    assert(byId(103L) == ((103L, 1)) && byId(106L) == ((106L, 1)))
  }

  test("trainSplit buckets are content-determined and exhaustive") {
    val s = PipelineOps.trainSplit(corpus, "body", buckets = 10,
      trainBuckets = 8, valBuckets = 1)
      .select("key", "bucket", "split").collect()
    assert(s.forall { r =>
      val b = r.getLong(1)
      val exp = if (b < 8) "train" else if (b == 8) "val" else "test"
      b >= 0 && b < 10 && r.getString(2) == exp
    })
    // identical content -> identical bucket, both runs
    val again = PipelineOps.trainSplit(corpus, "body").select("key", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s.forall(r => again(r.getLong(0)) == r.getLong(1)))
  }

  test("stratifiedSample takes k per stratum deterministically") {
    val got = PipelineOps.stratifiedSample(corpus, "tongue", "key", 2)
      .groupBy("tongue").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en" -> 2L, "fr" -> 2L))
  }

  test("chunkTokens windows cover every token with the given stride") {
    val r = PipelineOps.chunkTokens(corpus, "key", "body", 4, 3)
      .filter(col("id") === 101L)
      .orderBy("chunk_id")
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    // 9 tokens, width 4, stride 3 -> starts 0,3,6 with sizes 4,4,3
    assert(r.toSeq == Seq((0, 4), (1, 4), (2, 3)))
    // empty doc emits nothing
    assert(PipelineOps.chunkTokens(corpus, "key", "body", 4, 3)
      .filter(col("id") === 106L).count() == 0)
  }

  test("latestWins compacts an arbitrary log schema") {
    import spark.implicits._
    val log = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("acct", "seq", "v")
    val got = PipelineOps.latestWins(log,
      Seq(col("acct")), Seq(col("seq").desc))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((1L, "b"), (2L, "c")))
  }

  test("cosineTopK and cosinePairs rank by exact cosine") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vid", "v")
    val probes = vecs.filter(col("vid") === 1L)
      .select(col("vid").as("probe_id"), col("v").as("pe"))
    val top = VectorOps.cosineTopK(vecs, "vid", "v", probes, 2)
      .orderBy("rn").collect().map(_.getLong(1))
    assert(top.toSeq == Seq(2L, 4L)) // 2 closest, then 4 beats orthogonal 3
    val pairs = VectorOps.cosinePairs(vecs, "vid", "v", 0.9)
      .select("id_lo", "id_hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("mmrRerank: idCol named 'id' works; multi-row probe is rejected") {
    import spark.implicits._
    // idCol == "id" used to be an ambiguous self-reference in the
    // shortlist semi-join; the aliased join must handle it
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 0.9f)))
      .toDF("id", "v")
    val probe = vecs.filter(col("id") === 1L)
      .select(col("id").as("probe_id"), col("v").as("pe"))
    val out = VectorOps.mmrRerank(vecs, "id", "v", probe,
      depth = 3, k = 2, lambdaDiv = 0.5)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 2L) // highest rel picked first
    // λ=0.5 penalty pushes the near-duplicate of 2 below the diverse 4
    assert(out(1).getLong(1) == 4L)
    // a blended multi-probe shortlist is meaningless — must fail loudly
    val twoProbes = vecs.limit(2)
      .select(col("id").as("probe_id"), col("v").as("pe"))
    val ex = intercept[IllegalArgumentException] {
      VectorOps.mmrRerank(vecs, "id", "v", twoProbes, 3, 2, 0.5)
    }
    assert(ex.getMessage.contains("ONE probe row"))
  }

  test("cosineLshPairs recovers clustered near-dups without the n^2 scan") {
    import spark.implicits._
    // 4 well-separated Gaussian base directions, 8 noisy copies each:
    // same-cluster cosines land ~0.98+, cross-cluster near 0. Fixed seed
    // => the assertion is deterministic, not flaky.
    val dim = 16
    val rnd = new scala.util.Random(7)
    def gauss() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = for {
      c <- 0 until 4
      base = gauss()
      i <- 0 until 8
    } yield {
      val noise = gauss()
      (c * 100L + i,
        base.zip(noise).map { case (b, n) => b + 0.07f * n })
    }
    val vecs = rows.toDF("vid", "v")
    val exact = VectorOps.cosinePairs(vecs, "vid", "v", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.cosineLshPairs(vecs, "vid", "v", dim, 0.9,
      planesPerBand = 8, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-verify step guarantees soundness; banding must recover
    // virtually all true pairs at this similarity
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty && lsh.size >= (exact.size * 9) / 10,
      s"LSH found ${lsh.size} of ${exact.size} pairs")
    // and no cross-cluster pair survives the verify
    assert(lsh.forall { case (a, b) => a / 100 == b / 100 })
  }

  test("quantizeMinMax codes hit the range ends and reconstruct") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, -1.0f, 5.0f)),
      (2L, Array(1.0f, 1.0f, 5.0f)),
      (3L, Array(0.5f, 0.0f, 5.0f))
    ).toDF("vid", "vec")
    val r = VectorOps.quantizeMinMax(vecs, "vid", "vec", 3)
      .collect().map(x => x.getLong(0) -> x.getSeq[Int](1)).toMap
    // per-dim min codes to 0, max to 255; the constant dim codes to 0
    assert(r(1L) == Seq(0, 0, 0))
    assert(r(2L) == Seq(255, 255, 0))
    assert(r(3L) == Seq(128, 128, 0)) // midpoint rounds half-up
    val err = VectorOps.quantizeMinMax(vecs, "vid", "vec", 3)
      .agg(max(col("rmse4"))).head().getDouble(0)
    assert(err < 0.01, s"reconstruction error too large: $err")
  }

  test("centroids averages per group") {
    import spark.implicits._
    val vecs = Seq(
      ("g1", Array(1f, 3f)), ("g1", Array(3f, 5f)), ("g2", Array(2f, 2f)))
      .toDF("grp", "v")
    val got = VectorOps.centroids(vecs, "grp", "v", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getSeq[Double](1).toSeq, r.getLong(2)))).toMap
    assert(got("g1") == ((Seq(2.0, 4.0), 2L)))
    assert(got("g2") == ((Seq(2.0, 2.0), 1L)))
  }

  test("mixtureSample fills per-stratum quotas in spread-hash order") {
    val weights = Map("en" -> 0.5, "fr" -> 0.5)
    val got = PipelineOps.mixtureSample(corpus, "tongue", "key", weights, 4)
      .select("tongue", "key", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force: quota = floor(0.5 * 4) = 2 per stratum, ordered by
    // the same spread hash the op uses, key tie-break
    val mod = 1000000007L
    def h(k: Long) = ((k % mod) * 2654435761L) % mod
    val want = corpus.collect()
      .map(r => (r.getString(2), r.getLong(0)))
      .groupBy(_._1).toSeq
      .flatMap { case (g, rows) =>
        rows.toSeq.map(_._2).sortBy(k => (h(k), k)).take(2).zipWithIndex
          .map { case (k, i) => (g, k, (i + 1).toLong) }
      }.toSet
    assert(got == want && got.size == 4)
    // a stratum absent from the weights contributes nothing
    val none = PipelineOps.mixtureSample(
      corpus, "tongue", "key", Map("en" -> 0.5), 2)
    assert(none.filter(col("tongue") === "fr").count() == 0)
  }

  test("decontaminateBloom is a no-false-negative superset of exact") {
    import spark.implicits._
    val eval = Seq((1L, "quick brown fox jumps across nothing")).toDF("e", "t")
    val docs = corpus.filter(col("key") =!= 106L)
    def byId(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    val exact = byId(TextOps.decontaminate(docs, "key", "body", eval, "t", 4))
    val bloom = byId(TextOps.decontaminateBloom(
      docs, "key", "body", eval, "t", 4))
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, (nGrams, nHits, contaminated)) =>
      val (bGrams, bHits, bCont) = bloom(id)
      assert(bGrams == nGrams)
      // one-sided error: hits can only be inflated by false positives
      assert(bHits >= nHits)
      assert(bCont >= contaminated)
    }
    // the exact path found real contamination and bloom kept it
    assert(exact.values.exists(_._3 == 1))
  }

  test("PqOps: codebook shape, full encoding, duplicate retrieval, determinism") {
    import spark.implicits._
    val dim = 8; val m = 4; val ksub = 4
    // 30 deterministic vectors + id 31 as an exact duplicate of id 7.
    // The modulus must exceed the id range: an (i*a % p) generator with
    // p < 31 repeats vectors (period p in i) and plants ACCIDENTAL
    // duplicates that steal the planted one's rank-1.
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(d => (((i * 97 + d * 31) % 101) - 50).toFloat / 25f)
    val rows = (1 to 30).map(i => (i.toLong, vec(i))) :+ (31L, vec(7))
    val emb = rows.toDF("vid", "v")
    val cb = graft.api.PqOps.pqCodebooks(emb, "vid", "v", dim, m, ksub, 2)
    val cbRows = cb.collect()
    // one codebook per (subspace, code), codes in range, cells non-empty
    assert(cbRows.length <= m * ksub && cbRows.nonEmpty)
    assert(cbRows.map(r => (r.getInt(0), r.getInt(1))).distinct.length
      == cbRows.length)
    assert(cbRows.forall { r =>
      r.getInt(0) >= 0 && r.getInt(0) < m &&
        r.getInt(1) >= 0 && r.getInt(1) < ksub &&
        r.getSeq[Double](2).length == dim / m
    })
    val codes = graft.api.PqOps.pqEncode(emb, "vid", "v", dim, m, cb)
    // every vector gets exactly one code per subspace
    val perId = codes.select(col("id"), size(col("codes"))).collect()
    assert(perId.map(_.getLong(0)).distinct.length == rows.length &&
      perId.length == rows.length && perId.forall(_.getInt(1) == m))
    // ADC: an exact duplicate's summed sub-distances equal the probe's
    // own quantization error, which lower-bounds EVERY candidate's ADC
    // (each probe subvector's own code is its argmin centroid) — so the
    // duplicate's ADC must equal the per-probe MINIMUM (other ids can
    // tie by landing on the same codes; ranks then break by id)
    val probes = emb.filter(col("vid").isin(7L, 31L))
      .select(col("vid").as("probe_id"), col("v").as("pe"))
    val full = graft.api.PqOps.pqAdcTopK(codes, cb, probes, dim, m,
        rows.length)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for ((probe, dup) <- Seq((7L, 31L), (31L, 7L))) {
      val mine = full.filter(_._1 == probe)
      val minAdc = mine.map(_._3).min
      val dupAdc = mine.find(_._2 == dup).map(_._3)
      assert(dupAdc.contains(minAdc),
        s"probe $probe: dup $dup adc $dupAdc != min $minAdc")
    }
    // two-stage search: the exact re-rank scores the duplicate at
    // L2 = 0, the unique minimum, so it MUST be rank 1 (no tie caveat)
    val refined = graft.api.PqOps.pqSearch(codes, cb, emb, "vid", "v",
        probes, dim, m, shortK = 10, k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(refined(7L) == 31L && refined(31L) == 7L,
      s"re-ranked top-1 should be the exact duplicate, got $refined")
    // bit-identical on a second full train+encode+search run
    // (partition-invariance [D2])
    val cb2 = graft.api.PqOps.pqCodebooks(emb, "vid", "v", dim, m, ksub, 2)
    val again = graft.api.PqOps.pqAdcTopK(
      graft.api.PqOps.pqEncode(emb, "vid", "v", dim, m, cb2),
      cb2, probes, dim, m, 3).collect().toSeq
    val first = graft.api.PqOps.pqAdcTopK(codes, cb, probes, dim, m, 3)
      .collect().toSeq
    assert(first == again)
  }

  private lazy val sf01Emb: DataFrame =
    Tables.load(spark, fixture("sf0.01"), "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("v"))

  test("IvfIndex.kmeansFit and PqOps.pqCodebooks: the driver and cluster " +
    "branches give identical seeds, cells, codebooks and codes") {
    import graft.api.PqOps
    import graft.sources.IvfIndex
    import spark.implicits._
    // exact duplicates (2 of 1, 9 of 8), signed zeros (3 is 1 with -0.0
    // where 1 has 0.0), a zero vector (NULL cosine to every seed), fewer
    // distinct rows than k (farthest-first stops early) and a slice of 6
    // within 6dp of 5's (its code ties at distance 0 and empties)
    val synth = Seq(
      (1L, Array(1f, 0f, 0.5f, -0.0f, 0.25f, 0.25f, 0f, 1f)),
      (2L, Array(1f, 0f, 0.5f, -0.0f, 0.25f, 0.25f, 0f, 1f)),
      (3L, Array(1f, -0.0f, 0.5f, 0f, 0.25f, 0.25f, -0.0f, 1f)),
      (4L, Array.fill(8)(0f)),
      (5L, Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)),
      (6L, Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1.0004f)),
      (7L, Array(-1f, 0f, -0.5f, 0f, -0.25f, -0.25f, 0f, -1f)),
      (8L, Array(0.5f, 0.5f, 0.5f, 0.5f, -0.5f, -0.5f, -0.5f, -0.5f)),
      (9L, Array(0.5f, 0.5f, 0.5f, 0.5f, -0.5f, -0.5f, -0.5f, -0.5f)),
      (10L, Array(0.2f, 0.1f, -0.3f, 0.4f, 0f, -0.0f, 0.6f, -0.2f)),
      (11L, Array(0.21f, 0.1f, -0.3f, 0.4f, -0.0f, 0f, 0.6f, -0.2f))
    ).toDF("vid", "v")
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for ((emb, dim, m, k, ksub, oneIn) <- Seq((sf01Emb, 64, 16, 8, 16, 1),
        (sf01Emb, 64, 16, 8, 16, 4), (synth, 8, 4, 10, 6, 1))) {
      val what = s"dim $dim, 1 in $oneIn"
      val fits = Seq(IvfIndex.DriverBaseBytes, 0L).map(b =>
        IvfIndex.kmeansFit(emb, "vid", "v", k, 2, dim, oneIn, b))
      val Seq((_, drv), (_, clu)) = fits
      assert(drv.sample.isDefined && clu.sample.isEmpty, what)
      assert(drv.seedIds == clu.seedIds, what)
      assert(drv.cells.map(c => (c._1, c._2.toSeq)) ==
        clu.cells.map(c => (c._1, c._2.toSeq)), what)
      val Seq(a0, a1) = fits.map { case (full, fit) =>
        rows(IvfIndex.assignCells(full, fit.cells).select("id", "cell"))
      }
      assert(a0 == a1, what)
      val codeCounts = Seq(0, 2).map { iters =>
        val Seq(cb0, cb1) = Seq(IvfIndex.DriverBaseBytes, 0L).map(b =>
          PqOps.pqCodebooksWithin(emb, "vid", "v", dim, m, ksub, iters, oneIn, b))
        assert(rows(cb0) == rows(cb1), s"$what, $iters rounds")
        assert(rows(PqOps.pqEncode(emb, "vid", "v", dim, m, cb0)) ==
          rows(PqOps.pqEncode(emb, "vid", "v", dim, m, cb1)),
          s"$what, $iters rounds")
        cb0.count()
      }
      if (emb eq synth)
        assert(drv.seedIds.size < k && drv.cells.size < drv.seedIds.size &&
          codeCounts(1) < codeCounts(0) && codeCounts(0) < m * ksub,
          s"the synthetic base must stop seeding early, empty a cell and " +
            s"a code: ${drv.seedIds.size} seeds, ${drv.cells.size} cells, " +
            s"codes $codeCounts")
    }
  }

  test("PqOps.ivfPqSearch equals its public pieces on the cluster path, " +
    "and is identical on 1 and 3 partitions") {
    import graft.api.PqOps
    import graft.sources.IvfIndex
    val (dim, cells, m, ksub, nprobe, shortK, k, oneIn) =
      (64, 8, 16, 16, 6, 32, 5, 4)
    val emb1 = sf01Emb.coalesce(1)
    val probes = emb1.filter(col("vid") < 8)
      .select(col("vid").as("probe_id"), col("v").as("pe"))
    def search(emb: DataFrame): Seq[org.apache.spark.sql.Row] =
      PqOps.ivfPqSearch(emb, "vid", "v", dim, cells, 2, m, ksub, 2, probes,
        nprobe, shortK, k, oneIn).collect().toSeq
    val got = search(emb1)
    assert(got.length == 8 * k)
    assert(search(emb1.repartition(3)) == got)
    val (full, fit) = IvfIndex.kmeansFit(emb1, "vid", "v", cells, 2, dim,
      oneIn, 0L)
    val assigned = IvfIndex.assignCells(full, fit.cells).select("id", "cell")
    val cents = PqOps.cellCentroids(emb1, "vid", "v", dim, assigned)
    val res = PqOps.residuals(emb1, "vid", "v", assigned, cents)
    val cb = PqOps.pqCodebooksWithin(res, "id", "res", dim, m, ksub, 2, oneIn, 0L)
    val codes = PqOps.pqEncode(res, "id", "res", dim, m, cb)
      .join(res.select("id", "cell"), Seq("id"))
      .localCheckpoint(true)
    assert(PqOps.ivfPqSearchWith(cents, cb, codes, emb1, "vid", "v", dim, m,
      probes, nprobe, shortK, k).collect().toSeq == got)
  }

  test("PqOps.pqIntTrain/pqIntAdcTopK: trace partition of the corpus, " +
    "duplicate retrieval, determinism") {
    import spark.implicits._
    val dim = 8; val m = 4; val ksub = 4; val iters = 3
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(d => (((i * 97 + d * 31) % 101) - 50).toFloat / 25f)
    val rows = (1 to 30).map(i => (i.toLong, vec(i))) :+ (31L, vec(7))
    val emb = rows.toDF("vid", "v")
    val (trace, cents, codes) =
      graft.api.PqOps.pqIntTrain(emb, "vid", "v", dim, m, ksub, iters)
    val tr = trace.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    // every (round, subspace)'s member counts PARTITION the corpus,
    // codes stay in range, integer inertia is non-negative
    for (r <- 1 to iters; j <- 0 until m) {
      val mine = tr.filter(x => x._1 == r && x._2 == j)
      assert(mine.map(_._4).sum == rows.length,
        s"round $r subspace $j counts ${mine.map(_._4).sum}")
      assert(mine.forall(x => x._3 >= 0 && x._3 < ksub && x._5 >= 0L))
    }
    // training converges on this fixture: the last round's total
    // inertia is no worse than the first's, in every subspace
    // (deterministic fixture — a regression here is a real one)
    for (j <- 0 until m) {
      def tot(r: Int) = tr.filter(x => x._1 == r && x._2 == j).map(_._5).sum
      assert(tot(iters) <= tot(1), s"subspace $j inertia grew")
    }
    // final model shape: one centroid per (subspace, code), subdim
    // components; one code per (id, subspace)
    val cbRows = cents.collect()
    assert(cbRows.length == m * ksub)
    assert(cbRows.forall(_.getSeq[Long](2).length == dim / m))
    val perId = codes.select(col("id"), size(col("codes"))).collect()
    assert(perId.map(_.getLong(0)).distinct.length == rows.length &&
      perId.length == rows.length && perId.forall(_.getInt(1) == m))
    // ADC in exact integer units: the planted duplicate (id 31 = id 7)
    // shares all of probe 7's codes, so its ADC equals the probe's own
    // quantization error — the per-probe MINIMUM (ties break by id)
    val adc = graft.api.PqOps.pqIntAdcTopK(emb, "vid", "v", dim, m,
        cents, codes, nProbes = 8, k = rows.length)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val p7 = adc.filter(_._1 == 7L)
    assert(p7.nonEmpty && p7.find(_._2 == 31L).map(_._3)
      .contains(p7.map(_._3).min))
    // bit-identical on a second full train+search run
    val (_, c2, k2) =
      graft.api.PqOps.pqIntTrain(emb, "vid", "v", dim, m, ksub, iters)
    val again = graft.api.PqOps.pqIntAdcTopK(emb, "vid", "v", dim, m,
      c2, k2, nProbes = 8, k = rows.length)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(adc.toSeq == again)
  }

  test("knnDensity keeps an independent k-heap per (id, block)") {
    import spark.implicits._
    // id 1 sits in BOTH blocks (the multi-probe-LSH / overlapping-cell
    // shape). A heap keyed on id alone would let its A-neighbours and
    // B-neighbours compete for the same k slots and leave k_nn = 1 per
    // block; the contract is an independent top-k within each block.
    val emb = Seq(
      (1L, "A", Array(1f, 0f)), (2L, "A", Array(1f, 1f)),
      (3L, "A", Array(0f, 1f)),
      (1L, "B", Array(1f, 0f)), (4L, "B", Array(3f, 4f)),
      (5L, "B", Array(-1f, 0f)), (6L, "B", Array(0f, -1f))
    ).toDF("vid", "blk", "v")
    val got = VectorOps.knnDensity(emb, "vid", "v", "blk", 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // brute force: per (id, block) rank co-block neighbours by
    // (round(cos,4) desc, id asc), take 2, mean the rounded cosines
    // with the same valueOf/HALF_UP rounding the operator uses
    val rows = Seq((1L, "A", (1.0, 0.0)), (2L, "A", (1.0, 1.0)),
      (3L, "A", (0.0, 1.0)), (1L, "B", (1.0, 0.0)), (4L, "B", (3.0, 4.0)),
      (5L, "B", (-1.0, 0.0)), (6L, "B", (0.0, -1.0)))
    def cos(a: (Double, Double), b: (Double, Double)): Double = {
      val d = a._1 * b._1 + a._2 * b._2
      val r = d / (math.sqrt(a._1 * a._1 + a._2 * a._2) *
        math.sqrt(b._1 * b._1 + b._2 * b._2))
      java.math.BigDecimal.valueOf(r)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val want = rows.map { case (id, blk, v) =>
      val top = rows.filter(o => o._2 == blk && o._1 != id)
        .map(o => (cos(v, o._3), o._1)).sortBy { case (c, oid) => (-c, oid) }
        .take(2)
      val mean = top.map(t => BigDecimal(t._1)).sum.toDouble / top.size
      (id, blk, top.size.toLong, java.math.BigDecimal.valueOf(mean)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    }.toSet
    assert(got == want)
    // every (id, block) got a full heap — the shared-heap bug would
    // leave id 1 with k_nn = 1 in each block
    assert(got.forall(_._3 == 2L))
    assert(got.count(_._1 == 1L) == 2)
  }

  test("GraphOps: census, Adamic-Adar and LPA on a foreign-schema edge list") {
    import spark.implicits._
    // one triangle (1,2,3) plus a pendant edge (3,4)
    val und = Seq((1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L), (3L, 4L, 1L))
      .toDF("src", "dst", "cnt")
    val (deg, tri) = graft.api.GraphOps.triangleCensus(und, "src", "dst")
    assert(tri.head.getAs[Long]("n_triangles") == 1L)
    assert(deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    // unconnected pairs through apex 3 (deg 3): (1,4) and (2,4), each
    // cn=1, aa = round(1/ln 3, 6) = 0.910239
    val aa = graft.api.GraphOps.adamicAdar(und, "src", "dst", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("cn"), r.getAs[Double]("aa6")))
    assert(aa.toSeq == Seq((1L, 4L, 1L, 0.910239), (2L, 4L, 1L, 0.910239)))
    // hand-run of two synchronous weighted rounds: the triangle's tie
    // breaks to the smallest label each round, the pendant follows —
    // everyone converges to label 1
    val lpa = graft.api.GraphOps
      .labelPropagation(und, "src", "dst", "cnt", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("hardNegatives excludes same-label and NULL-label candidates") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 0f), Some(0)),
      (2L, Array(1f, 0f), Some(0)),   // same label, identical vector
      (3L, Array(1f, 0.5f), Some(1)), // different label, close
      (4L, Array(1f, 0.1f), None),    // NULL label — 3VL drop
      (5L, Array(0f, 1f), Some(1))    // different label, orthogonal
    ).toDF("vec_id", "embedding", "label")
    val probes = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("pe"))
    val got = graft.api.VectorOps
      .hardNegatives(emb, "vec_id", "embedding", "label", probes, 5)
      .orderBy("rn").collect().map(_.getLong(1)).toSeq
    // the identical same-label vector (cos 1.0) and the closer
    // NULL-label vector must both be absent
    assert(got == Seq(3L, 5L))
  }

  test("GraphOps.weightedJaccard matches the hand-computed Ruzicka ratios") {
    import spark.implicits._
    // weighted triangle: S(1)=6, S(2)=6, S(3)=4; every pair shares one
    // apex with cmin=2 → (1,3): 2/8, (2,3): 2/8, (1,2): 2/10
    val und = Seq((1L, 2L, 4L), (1L, 3L, 2L), (2L, 3L, 2L))
      .toDF("a", "b", "n")
    val got = graft.api.GraphOps.weightedJaccard(und, "a", "b", "n", 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("cn"),
        r.getAs[Double]("wjac4"))).toSeq
    assert(got == Seq((1L, 3L, 1L, 0.25), (2L, 3L, 1L, 0.25),
      (1L, 2L, 1L, 0.2)))
  }

  test("GraphOps.itemNeighbors: per-item lists, integer 1e-4 scores, k bound") {
    import spark.implicits._
    // same weighted triangle as the weightedJaccard test: pair scores
    // (1,3) 0.25, (2,3) 0.25, (1,2) 0.2 → in 1e-4 units 2500/2500/2000
    val und = Seq((1L, 2L, 4L), (1L, 3L, 2L), (2L, 3L, 2L))
      .toDF("a", "b", "n")
    val all = graft.api.GraphOps.itemNeighbors(und, "a", "b", "n", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == Set(
      (1L, 3L, 2500L), (1L, 2L, 2000L),
      (2L, 3L, 2500L), (2L, 1L, 2000L),
      (3L, 1L, 2500L), (3L, 2L, 2500L)))
    // k = 1 keeps each item's best, ties toward the lower rec id
    val top1 = graft.api.GraphOps.itemNeighbors(und, "a", "b", "n", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top1 == Set((1L, 3L), (2L, 3L), (3L, 1L)))
  }

  test("GraphOps.multiSourceBfs: one frontier pass carries every landmark") {
    import spark.implicits._
    // path 1-2-3-4-5; landmarks {1, 5}, two hops each: vertex 3 is
    // reached at level 2 from BOTH sides, 4/2 stay one-sided
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(1L, 5L).toDF("src")
    val got = graft.api.GraphOps.multiSourceBfs(und, "a", "b", seeds, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      (1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2),
      (5L, 5L, 0), (5L, 4L, 1), (5L, 3L, 2)))
  }

  test("GraphOps.kCore peels the pendant chain and keeps the triangle") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5: the 2-core is exactly the
    // triangle (4 peels first, exposing 5... actually 5 peels first,
    // then 4 — two rounds), every member at within-core degree 2
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("p", "q")
    val core = graft.api.GraphOps.kCore(und, "p", "q", 2, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), core.toString)
    // a graph with no 3-core returns empty, not a crash
    val none = graft.api.GraphOps.kCore(
      Seq((1L, 2L), (2L, 3L)).toDF("p", "q"), "p", "q", 3, 5)
    assert(none.isEmpty)
  }

  test("MlOps.perceptronTrace: converges on separable foreign-schema data; linearScore agrees") {
    import spark.implicits._
    import graft.api.MlOps
    // linearly separable on sig_a vs sig_b (goods high-a/low-b); a NULL
    // feature row must be dropped from training, not poison the sums
    val df = Seq(
      (Some(100L), 5L, 1), (Some(90L), 7L, 1), (Some(80L), 6L, 1),
      (Some(10L), 50L, 0), (Some(20L), 60L, 0), (Some(15L), 55L, 0),
      (None: Option[Long], 99L, 1)
    ).toDF("sig_a", "sig_b", "good")
    val tr = MlOps.perceptronTrace(df, Seq("sig_a", "sig_b"), "good", 3)
      .orderBy("step").collect()
    assert(tr.length == 4)
    // step 0 is the zero model: every TRAINING row (6, not 7 — the
    // NULL-feature row is excluded) is misclassified
    assert(tr.head.getAs[Long]("n_mis") == 6L, tr.head.toString)
    // separable data: the mean-gradient step separates it immediately
    // (hand-check: g = (225, -147)/6 → w = (0, 37, -24), margins all
    // correctly signed), and zero misclassifications is an absorbing
    // state (empty gradient)
    assert(tr(1).getAs[Long]("n_mis") == 0L, tr(1).toString)
    assert(tr.last.getAs[Long]("n_mis") == 0L, tr.last.toString)
    assert(tr(1).getAs[Long]("w_sig_a") == 37L &&
      tr(1).getAs[Long]("w_sig_b") == -24L, tr(1).toString)
    // scoring with the final weights reproduces the final n_mis
    val w = Seq(tr.last.getAs[Long]("w_bias"),
      tr.last.getAs[Long]("w_sig_a"), tr.last.getAs[Long]("w_sig_b"))
    val mis = MlOps.linearScore(
        df.filter(col("sig_a").isNotNull), Seq("sig_a", "sig_b"), w)
      .filter((col("good") * 2 - 1) * col("score") <= 0).count()
    assert(mis == tr.last.getAs[Long]("n_mis"))
  }

  test("MlOps.kmeansTrace: separable foreign-schema clusters recover; inertia non-increasing") {
    import spark.implicits._
    // two tight clusters far apart in 2-d; any 2-means run must split
    // them and round-2 inertia must not exceed round-1 (Lloyd monotone
    // on the quantized grid)
    val df = Seq(
      (10L, Array(0.0f, 0.0f)), (11L, Array(0.1f, 0.0f)),
      (12L, Array(0.0f, 0.1f)),
      (20L, Array(5.0f, 5.0f)), (21L, Array(5.1f, 5.0f)),
      (22L, Array(5.0f, 5.1f))
    ).toDF("pid", "feat")
    // both seeds can land in one tight cluster (polyMix draw), so the
    // first update is still mixed — by round 3 (two updates) Lloyd
    // must have split the far clusters and collapsed the inertia
    val tr = graft.api.MlOps.kmeansTrace(df, "pid", "feat",
      k = 2, iters = 3).collect()
    assert(tr.length == 6, tr.mkString("; "))
    val r3 = tr.filter(_.getAs[Long]("round") == 3L)
    assert(r3.map(_.getAs[Long]("n_vecs")).sorted.toSeq == Seq(3L, 3L),
      tr.mkString("; "))
    val inertia = (1 to 3).map(r =>
      tr.filter(_.getAs[Long]("round") == r.toLong)
        .map(_.getAs[Long]("inertia")).sum)
    assert(inertia(1) <= inertia(0) && inertia(2) <= inertia(1),
      inertia.toString)
    // converged assignment: each cluster's inertia is the within-
    // cluster spread only (milli-units: 3 points pairwise 100 apart)
    assert(inertia(2) > 0L && inertia(2) < 100000L, inertia.toString)
  }

  test("GraphOps.randomWalkRestart: one hand-computed round in exact micro-units") {
    import spark.implicits._
    // star from vertex 1 with weights 3 and 1 → wdeg(1) = 4; after one
    // round the seed keeps the restart mass 0.15 and spreads 0.85
    // proportionally: 2 gets 0.85·(3/4) = 0.6375, 3 gets 0.85·(1/4)
    val und = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("s", "d", "m")
    val seed = und.agg(min(col("s")).as("v"))
    val r = graft.api.GraphOps
      .randomWalkRestart(und, "s", "d", "m", seed, 0.85, 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == Map(1L -> 0.15, 2L -> 0.6375, 3L -> 0.2125))
    // the walk is SPARSE: a vertex the walk has not reached carries no
    // row (no zero-filled universe)
    val und2 = Seq((1L, 2L, 1L), (3L, 4L, 1L)).toDF("s", "d", "m")
    val seed2 = und2.agg(min(col("s")).as("v"))
    val r2 = graft.api.GraphOps
      .randomWalkRestart(und2, "s", "d", "m", seed2, 0.85, 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r2 == Map(1L -> 0.15, 2L -> 0.85))
  }
}
