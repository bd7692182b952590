package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** §5.3 property-based checks: relational algebra against plain Scala
  * collections as the independent model, and invariances of the sketch
  * primitives. ScalaCheck generators sampled under fixed seeds (the
  * scalatest/scalacheck bridge artifact isn't available offline); few
  * cases each — every case is a Spark job. */
class PropertySpec extends SparkSpec {

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val smallInts = Gen.listOfN(30, Gen.choose(0, 15))

  test("union/intersect/except agree with Scala set algebra") {
    import spark.implicits._
    for ((xs, ys) <- cases(smallInts, 8).zip(cases(smallInts, 8).reverse)) {
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      assert(a.intersect(b).as[Int].collect().toSet == (xs.toSet & ys.toSet))
      assert(a.except(b).as[Int].collect().toSet == (xs.toSet -- ys.toSet))
      assert(a.union(b).distinct().as[Int].collect().toSet == (xs.toSet | ys.toSet))
    }
  }

  test("sorted-hash intersect cardinality equals model set intersection") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val words = Gen.listOfN(25, Gen.oneOf(
      "scan", "merge", "sort", "hash", "join", "table", "row", "key",
      "fast", "slow", "batch", "spark", "value", "agg", "col"))
    for ((xs, ys) <- cases(words, 8).zip(cases(words, 8).reverse)) {
      val df = Seq((xs.distinct, ys.distinct)).toDF("a", "b")
        .withColumn("ha", array_sort(expr(
          graft.functions.TextFunctions.tokenHashes("a"))))
        .withColumn("hb", array_sort(expr(
          graft.functions.TextFunctions.tokenHashes("b"))))
        .select(expr("graft_sorted_intersect(ha, hb)"))
      assert(df.head.getInt(0) == (xs.toSet & ys.toSet).size)
    }
  }

  test("prefix-filtered containment equals the exact scan on random corpora") {
    import spark.implicits._
    // defends the integer-derived prefix-size bound (n − ceil(t·n) + 1)
    // against rounding edge cases: thresholds where t·n is integral are
    // exactly where a float-derived bound goes wrong
    val vocab = Seq("scan", "merge", "sort", "hash", "join", "table",
      "row", "key", "fast", "slow", "batch", "spark", "value")
    val docGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(2, 12), Gen.oneOf("en", "fr")))
    val rnd = new scala.util.Random(13)
    for ((shape, round) <- cases(docGen, 2).zipWithIndex;
         t <- Seq(0.5, 0.8, 0.9)) {
      val docs = shape.zipWithIndex.map { case ((len, lang), i) =>
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "), lang)
      }.toDF("id", "body", "lang")
      val hashed = graft.api.TextOps.tokenHashTable(
        docs, "id", "body", "lang").persist()
      try {
        def pairs(df: org.apache.spark.sql.DataFrame) = df
          .select("id_lo", "id_hi")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = pairs(graft.api.TextOps.containmentPairs(hashed, t))
        val pref = pairs(
          graft.api.TextOps.containmentPairsPrefix(hashed, t))
        assert(pref == exact, s"round=$round t=$t: " +
          s"missing=${exact -- pref} extra=${pref -- exact}")
      } finally hashed.unpersist()
    }
  }

  test("minhash signature is invariant to token order") {
    import spark.implicits._
    val gen = Gen.listOfN(20, Gen.identifier.suchThat(_.nonEmpty))
    val rnd = new scala.util.Random(7)
    for (ws <- cases(gen, 6); toks = ws.distinct if toks.nonEmpty) {
      def sig(ts: Seq[String]) =
        Seq(Tuple1(ts)).toDF("toks")
          .withColumn("hs", expr(
            graft.functions.TextFunctions.tokenHashes("toks")))
          .select(expr(graft.functions.TextFunctions.minHashes("hs", 8)))
          .head.getSeq[Long](0)
      assert(sig(toks) == sig(rnd.shuffle(toks)))
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    val graphGen = for {
      n <- Gen.choose(1, 40)
      m <- Gen.choose(0, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, es.filter(e => e._1 != e._2))
    for ((n, es) <- cases(graphGen, 6)) {
      // model: union-find with min-id roots
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb)
          parent(math.max(ra, rb)) = lo }
      }
      val model = (0 until n.toInt).map(i => i.toLong -> find(i).toLong).toMap
      val nodes = (0L until n.toLong).toDF("id")
      val pairs = es.toDF("id_lo", "id_hi")
      // the default cutover finishes every spec graph on the driver; 0
      // runs contraction rounds to an empty edge set, 3 runs rounds and
      // then the driver finish on the residue
      for (cutover <- Seq(500000L, 0L, 3L)) {
        val got = graft.api.DedupOps
          .connectedComponents(nodes, pairs, cutover)
          .as[(Long, Long)].collect().toMap
        assert(got == model, s"n=$n edges=${es.size} cutover=$cutover")
      }
    }
  }

  test("dot product is symmetric and matches model on float vectors") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val vec = Gen.listOfN(16, Gen.choose(-100, 100).map(_ / 10.0f))
    for ((a, b) <- cases(vec, 8).zip(cases(vec, 8).reverse)) {
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(expr("graft_dot(a, b)"), expr("graft_dot(b, a)"))
      val r = df.head
      val model = a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y.toDouble }
      assert(r.getDouble(0) == model && r.getDouble(1) == model)
    }
  }

  test("jaro-winkler kernel matches pinned cross-engine values and model") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // Pinned against DuckDB jaro_winkler_similarity (probed 2026-08-14):
    // empty → 0, no-window short transpose → 0, integer-halved
    // transpositions, boost only above 0.7, prefix capped at 4.
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "", 0.0), ("", "", 0.0), ("ab", "ba", 0.0),
      ("abcdef", "bcadef", 0.9444444444444445),
      ("crate", "trace", 0.7333333333333334),
      ("abcdxxxx", "abcdyyyy", 0.6666666666666666),
      ("abcdefxx", "abcdefyy", 0.9),
      ("prefixaa", "prefixbb", 0.9))
    for ((a, b, want) <- pinned) {
      assert(graft.functions.TextHash.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b)) == want,
        s"kernel($a, $b)")
    }
    // The SQL expression path (codegen) agrees with the kernel, bitwise,
    // and stays in [0, 1] with jw(s, s) == 1 on random words.
    val word = Gen.listOfN(8,
      Gen.oneOf('a', 'b', 'c', 'd', 'k', 'z')).map(_.mkString)
    val pairs = cases(word, 24).zip(cases(word, 24).reverse)
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"), expr("graft_jaro_winkler(a, b)").as("jw"),
        expr("graft_jaro_winkler(a, a)").as("self"))
      .collect()
    for (r <- df) {
      val k = graft.functions.TextHash.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
      assert(r.getDouble(2) == k)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(3) == 1.0)
    }
  }

  test("counting filter: commonBytes matches the multiset reference and " +
    "lower-bounds edit distance") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def ref(a: String, b: String): Int = {
      val ca = a.getBytes("UTF-8").groupBy(identity).map {
        case (k, v) => k -> v.length
      }
      b.getBytes("UTF-8").groupBy(identity).map { case (k, v) =>
        math.min(v.length, ca.getOrElse(k, 0))
      }.sum
    }
    val word = Gen.listOfN(9, Gen.oneOf('a', 'b', 'c', 'z')).map(_.mkString)
    val base = cases(word, 40)
    val pairs = base.zip(base.reverse) ++
      base.map(w => (w, w.dropRight(2) + "qq")) ++
      Seq(("émile", "émilé"), ("", "x"), ("abc", "abc"))
    for ((a, b) <- pairs)
      assert(graft.functions.TextHash.commonBytes(u(a), u(b)) == ref(a, b),
        s"commonBytes($a, $b)")
    // the q141 prefilter's soundness: ed >= max(chars) - commonBytes,
    // so no true ed <= d pair is ever discarded — checked against
    // Spark's own levenshtein
    val df = pairs.toDF("a", "b").select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).as("ed"),
        (greatest(length(col("a")), length(col("b")))
          - expr("graft_common_bytes(a, b)")).as("bound"))
      .collect()
    for (r <- df)
      assert(r.getInt(3) <= r.getInt(2),
        s"bound ${r.getInt(3)} > ed ${r.getInt(2)} for " +
          s"(${r.getString(0)}, ${r.getString(1)})")
  }

  test("score-floored jaro-winkler never loses an above-floor pair") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // adversarial mix: near-identical pairs (must survive the bound),
    // shuffled same-multiset pairs (bound is maximal, score is not —
    // the case where a WRONG bound would be most tempting to trust),
    // disjoint-alphabet pairs (prunable), multi-byte UTF-8, and the
    // pinned cross-engine vectors
    val word = Gen.listOfN(10, Gen.oneOf('a', 'b', 'c', 'z')).map(_.mkString)
    val base = cases(word, 40)
    val pairs = base.zip(base.reverse) ++
      base.map(w => (w, w.reverse)) ++
      base.map(w => (w, w.dropRight(1) + "q")) ++
      Seq(("martha", "marhta"), ("dixon", "dicksonx"), ("ab", "ba"),
        ("émile", "émilé"), ("abcdef", "uvwxyz"), ("", "x"))
    for (cutoff <- Seq(0.5, 0.9399, 0.99); (a, b) <- pairs) {
      val full = graft.functions.TextHash.jaroWinkler(u(a), u(b))
      val gated = graft.functions.TextHash.jaroWinklerGte(u(a), u(b), cutoff)
      // the contract: exact above the floor, 0.0 allowed only below it
      assert(gated == full || (gated == 0.0 && full < cutoff),
        s"jwGte($a, $b, $cutoff) = $gated, full = $full")
      if (full >= cutoff) assert(gated == full)
    }
    // the SQL expression path agrees with the kernel, bitwise
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        expr("graft_jaro_winkler_gte(a, b, 0.9399D)").as("jw"))
      .collect()
    for (r <- df)
      assert(r.getDouble(2) == graft.functions.TextHash.jaroWinklerGte(
        u(r.getString(0)), u(r.getString(1)), 0.9399))
  }

  test("codegen text-hash kernels equal their HOF formulations") {
    import graft.functions.TextFunctions
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // Random token lists incl. multi-byte UTF-8 and an empty-string text;
    // the HOF forms are the semantics of record (and what the DuckDB
    // oracles replay), the graft_* kernels must match them exactly.
    val word = Gen.oneOf("alpha", "Beta7", "émile", "données", "日本語",
      "x", "zz-top", "€uro", "mixedCase", "under_score")
    val toksGen = Gen.listOfN(12, word)
    for (toks <- cases(toksGen, 10)) {
      val text = toks.mkString(" ")
      val df = Seq((text, toks)).toDF("text", "tk")
        .withColumn("fp_hof", expr(TextFunctions.charHash("text")))
        .withColumn("fp_gen", expr("graft_charhash(text)"))
        .withColumn("th_hof", expr(TextFunctions.tokenHashes("tk")))
        .withColumn("th_gen", expr("graft_token_hashes(tk)"))
        .withColumn("mh_hof", expr(TextFunctions.minHashes("th_hof", 16)))
        .withColumn("mh_gen", expr("graft_minhash(th_gen, 16)"))
        .withColumn("bk_hof", expr(
          s"transform(${TextFunctions.bandKeys("mh_hof", 4, 4)}, x -> x.bkey)"))
        .withColumn("bk_gen", expr("graft_band_keys(mh_gen, 4, 4)"))
        .withColumn("bg_hof", expr(
          "transform(transform(sequence(1, size(tk) - 1), " +
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))), " +
            s"t -> ${TextFunctions.charHash("t")})"))
        .withColumn("bg_gen", expr("graft_bigram_hashes(tk)"))
        .withColumn("sl_hof", expr(
          "aggregate(transform(tk, t -> length(t)), 0, (a, x) -> a + x)"))
        .withColumn("sl_gen", expr("graft_sum_lengths(tk)"))
        .withColumn("cf_hof", expr(
          s"aggregate(transform(tk, t -> ${TextFunctions.charHash("t")}), " +
            s"CAST(0 AS BIGINT), (a, h) -> (a * 31 + h) % ${TextFunctions.BandMod})"))
        .withColumn("cf_gen", expr("graft_chunk_fp(tk)"))
        .withColumn("n2_hof", expr(TextFunctions.ngramHashes("th_hof", 2)))
        .withColumn("n2_gen", expr("graft_ngram_hashes(th_gen, 2)"))
        .withColumn("n8_hof", expr(TextFunctions.ngramHashes("th_hof", 8)))
        .withColumn("n8_gen", expr("graft_ngram_hashes(th_gen, 8)"))
        .withColumn("n99_gen", expr("graft_ngram_hashes(th_gen, 99)"))
      val r = df.head
      assert(r.getLong(r.fieldIndex("fp_hof")) == r.getLong(r.fieldIndex("fp_gen")))
      assert(r.getSeq[Long](r.fieldIndex("th_hof")) ==
        r.getSeq[Long](r.fieldIndex("th_gen")))
      assert(r.getSeq[Long](r.fieldIndex("mh_hof")) ==
        r.getSeq[Long](r.fieldIndex("mh_gen")))
      assert(r.getSeq[Long](r.fieldIndex("bk_hof")) ==
        r.getSeq[Long](r.fieldIndex("bk_gen")))
      assert(r.getSeq[Long](r.fieldIndex("bg_hof")) ==
        r.getSeq[Long](r.fieldIndex("bg_gen")))
      assert(r.getInt(r.fieldIndex("sl_hof")) == r.getInt(r.fieldIndex("sl_gen")))
      assert(r.getLong(r.fieldIndex("cf_hof")) == r.getLong(r.fieldIndex("cf_gen")))
      assert(r.getSeq[Long](r.fieldIndex("n2_hof")) ==
        r.getSeq[Long](r.fieldIndex("n2_gen")))
      assert(r.getSeq[Long](r.fieldIndex("n8_hof")) ==
        r.getSeq[Long](r.fieldIndex("n8_gen")))
      assert(r.getSeq[Long](r.fieldIndex("n8_gen")).size == math.max(0, 12 - 7))
      // n wider than the array: empty, not an error
      assert(r.getSeq[Long](r.fieldIndex("n99_gen")).isEmpty)
    }
    // empty text: both pin the seed fingerprint 7 / empty aggregates
    val e = Seq(("", Seq.empty[String])).toDF("text", "tk")
      .withColumn("fp_hof", expr(TextFunctions.charHash("text")))
      .withColumn("fp_gen", expr("graft_charhash(text)"))
      .withColumn("mh_gen", expr("graft_minhash(graft_token_hashes(tk), 4)"))
      .withColumn("sl_gen", expr("graft_sum_lengths(tk)"))
      .withColumn("cf_gen", expr("graft_chunk_fp(tk)")).head
    assert(e.getLong(e.fieldIndex("fp_hof")) == 7L)
    assert(e.getLong(e.fieldIndex("fp_gen")) == 7L)
    assert(e.getSeq[Any](e.fieldIndex("mh_gen")) == Seq(null, null, null, null))
    assert(e.getInt(e.fieldIndex("sl_gen")) == 0)
    assert(e.getLong(e.fieldIndex("cf_gen")) == 0L)
  }

  test("simhash projection equals the explode/group-by formulation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val gen = Gen.listOfN(15, Gen.identifier.suchThat(_.nonEmpty))
    for ((toks, i) <- cases(gen, 6).zipWithIndex) {
      val df = Seq((i.toLong, toks.distinct)).toDF("doc_id", "toks")
        .withColumn("hs", expr("graft_token_hashes(toks)"))
      df.persist()
      val proj = df.filter(size(col("hs")) > 0)
        .select(col("doc_id"), expr("graft_simhash(hs, 61, 2654435761L)").as("sh"))
        .head.getLong(1)
      val exploded = df.select(col("doc_id"), explode(col("hs")).as("h"))
        .withColumn("h2", col("h") * 2654435761L)
        .select(col("doc_id"), col("h2"), explode(expr("sequence(0, 60)")).as("k"))
        .groupBy("doc_id", "k")
        .agg(sum(expr("CASE WHEN (shiftright(h2, k) & 1) = 1 THEN 1 ELSE -1 END"))
          .as("vote"))
        .groupBy("doc_id")
        .agg(sum(expr("CASE WHEN vote > 0 THEN shiftleft(CAST(1 AS BIGINT), k) " +
          "ELSE CAST(0 AS BIGINT) END")).as("simhash"))
        .head.getLong(1)
      df.unpersist()
      assert(proj == exploded)
    }
  }

  test("GraphOps census and Adamic-Adar agree with the plain-Scala model on random graphs") {
    import spark.implicits._
    // random subsets of the 8-vertex complete graph; the model
    // recomputes triangles by brute triple enumeration and AA with the
    // same round-6-then-exact-sum staging the engine declares
    val allPairs = (for {
      a <- 1L to 8L; b <- (a + 1) to 8L
    } yield (a, b)).toList
    val edgeSet = Gen.listOfN(allPairs.size, Gen.prob(0.45))
      .map(keep => allPairs.zip(keep).collect { case (p, true) => p })
    for (edges <- cases(edgeSet, 4) if edges.nonEmpty) {
      val und = edges.toDF("x", "y")
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      val vs = adj.keys.toSeq.sorted
      // triangles
      val wantTri = (for {
        a <- vs; b <- vs if a < b && adj(a)(b)
        c <- vs if b < c && adj(a)(c) && adj(b)(c)
      } yield 1).size.toLong
      val (_, tri) = graft.api.GraphOps.triangleCensus(und, "x", "y")
      assert(tri.head.getAs[Long]("n_triangles") == wantTri,
        s"census mismatch on $edges")
      // Adamic-Adar over unconnected pairs
      def il(v: Long): BigDecimal = BigDecimal.valueOf(1d / math.log(
        adj(v).size.toDouble)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val want = (for {
        p <- vs; q <- vs
        if p < q && !adj(p)(q)
        common = adj(p) & adj(q) if common.nonEmpty
      } yield (p, q) -> (common.size.toLong,
        common.toSeq.map(il).sum.toDouble)).toMap
      val got = graft.api.GraphOps.adamicAdar(und, "x", "y", 1000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getAs[Long]("cn"), r.getAs[Double]("aa6"))).toMap
      assert(got == want, s"AA mismatch on $edges")
    }
  }
  test("IVF/PQ kernels equal their SQL formulations") {
    import graft.functions.PqKernels
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val dim = 8; val sub = 4
    // coarse values so cosines, distances and ids tie; -0.0 components,
    // a zero vector and a NULL vector
    val comp = Gen.oneOf(-0.5f, -0.25f, -0.0f, 0.0f, 0.25f, 0.5f, 0.1f, 0.3f)
    val vecs = cases(Gen.listOfN(dim, comp), 60).map(_.toArray)
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((60L, Array.fill(dim)(0f)), (61L, null))
    val emb = rows.toDF("id", "v")
    // cells: a duplicate pair and a zero centroid; codes: subspace 1
    // lacks code 1
    val cents = Seq(Seq(0.25, 0.5, 0.0, -0.25, 0.1, 0.0, 0.3, 0.5),
      Seq(0.25, 0.5, 0.0, -0.25, 0.1, 0.0, 0.3, 0.5), Seq.fill(dim)(0.0),
      Seq(-0.5, 0.25, 0.3, 0.1, -0.25, 0.5, 0.0, -0.1))
    val cells = Seq(3, 1, 7, 2)
    val cbCents = Seq(
      Seq(Seq(0.25, 0.5, 0.0, -0.25), Seq(0.1, 0.1, 0.1, 0.1),
        Seq(0.0, 0.0, 0.0, 0.0), Seq(-0.5, -0.25, 0.3, 0.5)),
      Seq(Seq(0.25, 0.5, 0.0, -0.25), Seq(0.3, 0.3, -0.0, 0.1),
        Seq(0.25, 0.5, 0.0, -0.25)))
    val cbCodes = Seq(Seq(0, 1, 2, 3), Seq(0, 2, 3))
    val withLits = emb
      .withColumn("__cc", typedLit(cents)).withColumn("__cd", typedLit(cells))
      .withColumn("__c2", expr("transform(__cc, c -> graft_dot(c, c))"))
      .withColumn("n2", expr("graft_dot(v, v)"))
    val cos = withLits.select(col("id"),
      call_function("graft_cos_argmax", col("v"), typedLit(cents),
        typedLit(cells)).as("got"),
      expr("array_min(transform(sequence(0, size(__cd) - 1), i -> " +
        "named_struct('isn', CASE WHEN (sqrt(n2) * sqrt(__c2[i])) != 0D " +
        "THEN 0 ELSE 1 END, 'nc', coalesce(-round(CASE WHEN " +
        "(sqrt(n2) * sqrt(__c2[i])) != 0D THEN graft_dot(v, __cc[i]) / " +
        "(sqrt(n2) * sqrt(__c2[i])) END, 4), 0D), 'cell', __cd[i]))).cell")
        .as("want"))
      .collect()
    assert(cos.forall(r => r.getInt(1) == r.getInt(2)), cos.mkString("\n"))
    val cbLit = Seq(lit(sub), typedLit(cbCents), typedLit(cbCodes))
    val perJ = emb.select(col("id"), col("v"),
        posexplode(call_function("graft_l2_codes", (col("v") +: cbLit): _*))
          .as(Seq("j", "got")))
      .withColumn("sv", slice(col("v"), col("j") * sub + 1, lit(sub)))
      .withColumn("__cc", element_at(typedLit(cbCents), col("j") + 1))
      .withColumn("__cd", element_at(typedLit(cbCodes), col("j") + 1))
      .withColumn("__c2", expr("transform(__cc, c -> graft_dot(c, c))"))
      .withColumn("want", expr("array_min(transform(sequence(0, " +
        "size(__cd) - 1), i -> named_struct('d', round((graft_dot(sv, sv) - " +
        "2.0D * graft_dot(sv, __cc[i])) + __c2[i], 6), 'code', __cd[i]))).code"))
      .select("id", "j", "got", "want").collect()
    assert(perJ.length == rows.length * 2)
    assert(perJ.forall(r => r.getInt(2) == r.getInt(3)), perJ.mkString("\n"))
    // ADC: every row's codes scored against one probe's table, against
    // the DECIMAL(38,6) sum of the per-subspace 6dp distances; the 1e7
    // probe's terms pass 9.2e12, past the range of a Long of micros
    val small = Seq(0.3, -0.25, 0.1, 0.0, 0.5, 0.25, -0.5, 0.1)
    for (probe <- Seq(small, small.map(_ * 1e7))) {
      val adc = emb.select(col("id"),
          call_function("graft_l2_codes", (col("v") +: cbLit): _*).as("codes"))
        .withColumn("tab", call_function("graft_l2_table",
          (typedLit(probe) +: cbLit): _*))
        .withColumn("got", call_function("graft_adc_sum", col("codes"), col("tab")))
      val want = adc.select(col("id"), posexplode(col("codes")).as(Seq("j", "code")))
        .withColumn("qv", slice(typedLit(probe), col("j") * sub + 1, lit(sub)))
        .withColumn("cent", element_at(element_at(typedLit(cbCents), col("j") + 1),
          array_position(element_at(typedLit(cbCodes), col("j") + 1),
            col("code")).cast("int")))
        .withColumn("d", round(expr("graft_dot(qv, qv)") - lit(2d) *
          expr("graft_dot(qv, cent)") + expr("graft_dot(cent, cent)"), 6))
        .groupBy("id").agg(sum(col("d").cast(Dets.Dec)).as("want"))
      val both = adc.join(want, Seq("id")).select("id", "got", "want").collect()
      assert(both.length == rows.length)
      assert(both.forall(r => r.getDecimal(1) == r.getDecimal(2)),
        s"probe $probe\n" + both.mkString("\n"))
    }
    // integer PQ: the int64 kernels against the lambdas they replaced —
    // the intL2 distance, its argmin over (distance, code) and the
    // joined SUM of distances — on ties (duplicate centroids, coarse
    // components), negative components, a NULL element, a NULL vector
    // and a probe with a NULL element (a NULL table block)
    val intL2 = "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), " +
      "0L, (a, b) -> a + b)"
    val longVecs = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v ARRAY<BIGINT>")
    def longRows(vs: Seq[(Long, Seq[java.lang.Long])]) =
      spark.createDataFrame(java.util.Arrays.asList(
        vs.map { case (i, v) => org.apache.spark.sql.Row(i, v) }: _*), longVecs)
    val ivecs = cases(Gen.listOfN(dim, Gen.choose(-2L, 2L)), 60)
      .map(_.map(Long.box))
    val iemb = longRows(ivecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((60L, Seq[java.lang.Long](1L, null, -2L, 0L, 1L, 1L, -1L, 2L)),
        (61L, null)))
    val icents = Seq(
      Seq(Seq(1L, 0L, -1L, 2L), Seq(0L, 0L, 0L, 0L), Seq(1L, 0L, -1L, 2L),
        Seq(-2L, 1L, 1L, -1L)),
      Seq(Seq(2L, 2L, 0L, -1L), Seq(0L, -1L, 1L, 0L), Seq(2L, 2L, 0L, -1L)))
    val icbLit = Seq(lit(sub), typedLit(icents), typedLit(cbCodes))
    val centOf = element_at(element_at(typedLit(icents), col("j") + 1),
      array_position(element_at(typedLit(cbCodes), col("j") + 1),
        col("code")).cast("int"))
    def codesAgainstArgmin(cents: Seq[Seq[Seq[Long]]], codes: Seq[Seq[Int]]) = {
      val perJ = iemb.select(col("id"), col("v"), posexplode(call_function(
          "graft_l2_codes", col("v"), lit(sub), typedLit(cents), typedLit(codes)))
          .as(Seq("j", "got")))
        .withColumn("sv", slice(col("v"), col("j") * sub + 1, lit(sub)))
        .withColumn("__cc", element_at(typedLit(cents), col("j") + 1))
        .withColumn("__cd", element_at(typedLit(codes), col("j") + 1))
        .withColumn("want", expr("array_min(transform(sequence(0, " +
          "size(__cd) - 1), i -> named_struct('dist', aggregate(zip_with(sv, " +
          "__cc[i], (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b), " +
          "'code', __cd[i]))).code"))
        .select("id", "j", "got", "want").collect()
      assert(perJ.length == 62 * 2)
      assert(perJ.forall(r => r.getInt(2) == r.getInt(3)), perJ.mkString("\n"))
    }
    codesAgainstArgmin(icents, cbCodes)
    // a NULL distance sorts first: a centroid shorter than its subspace
    // (zip_with pads it with NULLs) beats every real distance
    codesAgainstArgmin(Seq(Seq(Seq(0L, 0L, 0L, 0L), Seq(2L, 2L, 2L)),
      Seq(Seq(1L, 1L, 1L, 1L))), Seq(Seq(0, 1), Seq(0)))
    val itab = iemb
      .withColumn("tab", call_function("graft_l2_table", (col("v") +: icbLit): _*))
      .select(col("id"), col("v"), col("tab"), explode(typedLit(
        for (j <- cbCodes.indices; c <- cbCodes(j)) yield (j, c))).as("jc"))
      .select(col("id"), col("jc._1").as("j"), col("jc._2").as("code"),
        element_at(col("tab"), col("jc._1") * 4 + col("jc._2") + 1).as("got"),
        slice(col("v"), col("jc._1") * sub + 1, lit(sub)).as("sv"))
      .withColumn("cv", centOf)
      .select(col("id"), col("got"), expr(intL2).as("want")).collect()
    assert(itab.length == 62 * 7)
    assert(itab.forall(r => r.get(1) == r.get(2)), itab.mkString("\n"))
    for (probe <- Seq(Seq[java.lang.Long](1L, -2L, 0L, 2L, -1L, 0L, 2L, 1L),
        Seq[java.lang.Long](0L, 1L, null, -1L, 2L, 2L, -2L, 0L))) {
      val pv = array(probe.map(x =>
        if (x == null) lit(null).cast("long") else lit(x.longValue)): _*)
      val adc = iemb.select(col("id"),
          call_function("graft_l2_codes", (col("v") +: icbLit): _*).as("codes"))
        .withColumn("got", call_function("graft_adc_sum", col("codes"),
          call_function("graft_l2_table", (pv +: icbLit): _*)))
      val want = adc.select(col("id"), posexplode(col("codes")).as(Seq("j", "code")))
        .withColumn("sv", slice(pv, col("j") * sub + 1, lit(sub)))
        .withColumn("cv", centOf)
        .groupBy("id").agg(sum(expr(intL2)).as("want"))
      val both = adc.join(want, Seq("id")).select("id", "got", "want").collect()
      assert(both.length == 62)
      assert(both.forall(r => r.get(1) == r.get(2)), s"probe $probe\n" +
        both.mkString("\n"))
    }
    // an overflowing product raises in the kernels and in the lambda,
    // and so does an overflowing ADC sum against the ANSI SUM
    def raises(run: => Any): Boolean =
      try { run; false } catch {
        case e: Throwable => Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
      }
    val huge = longRows(Seq((0L, Seq[java.lang.Long](4000000000L, 0L, 0L, 0L,
      0L, 0L, 0L, 0L))))
    for (fn <- Seq("graft_l2_codes", "graft_l2_table"))
      assert(raises(huge.select(call_function(fn, (col("v") +: icbLit): _*))
        .collect()), fn)
    assert(raises(huge.select(slice(col("v"), 1, sub).as("sv"),
      typedLit(icents(0)(1)).as("cv")).select(expr(intL2)).collect()))
    // (each sub-distance of the wide probe fits, their sum does not)
    val wide = typedLit(Seq(2200000000L, 0L, 0L, 0L, 2200000000L, 1L, 0L, 0L))
    val zeroCodes = longRows(Seq((0L, Seq.fill[java.lang.Long](dim)(0L))))
      .select(call_function("graft_l2_codes", (col("v") +: icbLit): _*)
        .as("codes"))
    assert(raises(zeroCodes.select(call_function("graft_adc_sum", col("codes"),
      call_function("graft_l2_table", (wide +: icbLit): _*))).collect()))
    assert(raises(zeroCodes
      .select(posexplode(col("codes")).as(Seq("j", "code")))
      .withColumn("sv", slice(wide, col("j") * sub + 1, lit(sub)))
      .withColumn("cv", centOf)
      .agg(sum(expr(intL2))).collect()))
    // the kernel's rounding against Spark's ROUND and the decimal cast,
    // on random magnitudes and on values a few ulps from a half
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(3000)((rnd.nextDouble() - 0.5) *
        math.pow(10, rnd.nextInt(12) - 6)) ++
      (0 until 3000).flatMap { i =>
        val h = (rnd.nextInt(2000000) - 1000000 + 0.5) / 1e6
        Seq(h, math.nextUp(h), math.nextDown(h), h / 100, -0.0)
      }
    val sparkRounded = xs.toDF("x")
      .select(col("x"), round(col("x"), 4), round(col("x"), 6),
        col("x").cast(Dets.Dec)).collect()
    sparkRounded.foreach { r =>
      val x = r.getDouble(0)
      assert(java.lang.Double.compare(PqKernels.round(x, 4), r.getDouble(1)) == 0, s"round4 $x")
      assert(java.lang.Double.compare(PqKernels.round(x, 6), r.getDouble(2)) == 0, s"round6 $x")
      assert(PqKernels.dec6(x) == r.getDecimal(3), s"dec6 $x")
    }
  }
}
