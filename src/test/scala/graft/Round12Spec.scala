package graft

/** Structural invariants for the round-12 session additions (q328–
  * q351) — value-level correctness is the DuckDB oracle's job; these
  * pin cross-metric identities and bounds the oracle can't see
  * (Kruskal–Wallis vs its tie correction, packing slack/overshoot
  * conservation, Fisher's index between its two factors, curve
  * monotonicity). The round's graph and basket keys (q332, q334,
  * q340, q352, q358) are checked in OperatorSpec with the rest of the
  * co-purchase family.
  * Everything runs at sf0.001 off the session-memoized relations, so
  * the whole suite costs seconds.
  */
class Round12Spec extends SparkSpec {

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, Sf).collect()

  private def d(r: org.apache.spark.sql.Row, c: String): Double =
    r.getAs[Double](c)
  private def l(r: org.apache.spark.sql.Row, c: String): Long =
    r.getAs[Long](c)

  test("q328 Kruskal-Wallis: H >= 0, tie correction only grows it, " +
    "and the rank grid covers every order") {
    val rs = rows("q328_kruskal_wallis")
    val nOrders = Tables.load(spark, Sf, "orders").count()
    assert(rs.forall(r => l(r, "n_total") == nOrders))
    assert(rs.map(r => l(r, "n_orders")).sum == nOrders)
    rs.foreach { r =>
      assert(d(r, "h4") >= 0.0)
      assert(d(r, "hc4") >= d(r, "h4"))
    }
  }

  test("q331 Brown-Forsythe: F >= 0 and group medians are positive " +
    "price cents") {
    val rs = rows("q331_brown_forsythe")
    assert(rs.nonEmpty)
    rs.foreach { r =>
      assert(d(r, "f4") >= 0.0)
      assert(l(r, "med_cents") > 0L)
      assert(d(r, "mean_absdev4") >= 0.0)
    }
  }

  test("q329 Atkinson lies in [0, 1): geomean never exceeds the mean") {
    rows("q329_atkinson").foreach { r =>
      val a = d(r, "atkinson6")
      assert(a >= 0.0 && a < 1.0, s"atkinson $a out of range")
    }
  }

  test("q330 readability: every word carries at least one syllable") {
    rows("q330_readability").foreach { r =>
      assert(l(r, "n_syll") >= l(r, "n_words"))
      assert(l(r, "n_words") > 0L)
    }
  }

  test("q333 Brier pieces are bounded: brier in [0,1], uncertainty " +
    "in [0, 0.25], reliability/resolution non-negative") {
    val r = rows("q333_brier_gate").head
    assert(d(r, "brier6") >= 0.0 && d(r, "brier6") <= 1.0)
    assert(d(r, "unc6") >= 0.0 && d(r, "unc6") <= 0.25)
    assert(d(r, "rel6") >= 0.0 && d(r, "res6") >= 0.0)
  }

  test("q337 success curve: hits nondecreasing in k, bounded by probes") {
    val rs = rows("q337_success_curve").sortBy(_.getAs[Int]("k"))
    val hits = rs.map(r => l(r, "hits"))
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b })
    assert(hits.last <= l(rs.head, "n_probes"))
  }

  test("q341 PQ code health: used + dead = ksub per subspace and every " +
    "subspace assigns the whole corpus") {
    val rs = rows("q341_pq_code_health")
    val assigned = rs.map(r => l(r, "n_assigned")).distinct
    assert(assigned.size == 1, s"unequal per-subspace masses: $assigned")
    rs.foreach { r =>
      assert(l(r, "n_used") + l(r, "n_dead") ==
        operators.VectorQueries.PqTrK.toLong)
      assert(l(r, "top_share_pm") >=
        1000L / operators.VectorQueries.PqTrK)
      assert(d(r, "h6") >= 0.0)
    }
  }

  test("q342 postings skew: percentile ladder is monotone") {
    val r = rows("q342_postings_skew").head
    assert(l(r, "df_p50") <= l(r, "df_p90"))
    assert(l(r, "df_p90") <= l(r, "df_p99"))
    assert(l(r, "df_p99") <= l(r, "df_max"))
    assert(l(r, "top10_pm") >= 0L && l(r, "top10_pm") <= 1000L)
  }

  test("q343/q351 share q276's arms; |g| <= |d| and MDE is positive") {
    val e = rows("q343_effect_size").head
    val p = rows("q351_mde_power").head
    val ab = rows("q276_ab_lift").head
    assert(l(e, "n_a") == l(ab, "n_a") && l(e, "n_b") == l(ab, "n_b"))
    assert(l(p, "n_a") == l(ab, "n_a"))
    assert(math.abs(d(e, "g4")) <= math.abs(d(e, "d4")) + 1e-9)
    assert(d(p, "mde4") > 0.0 && d(p, "se4") > 0.0)
  }

  test("q345 Fisher's index lies between Laspeyres and Paasche") {
    val r = rows("q345_price_index").head
    val (las, paa, fis) =
      (d(r, "laspeyres4"), d(r, "paasche4"), d(r, "fisher4"))
    assert(fis >= math.min(las, paa) - 1e-4)
    assert(fis <= math.max(las, paa) + 1e-4)
  }

  test("q346 Lorenz: cumulative share is nondecreasing and ends at " +
    "the whole pie") {
    val rs = rows("q346_lorenz").sortBy(_.getAs[Int]("decile"))
    val cums = rs.map(r => l(r, "cum_share_pm"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last == 1000L)
    // convexity of the curve: per-decile share nondecreasing in
    // ascending-spend decile order
    val shares = rs.map(r => l(r, "share_pm"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1 })
  }

  test("q347 breakpoint: split SSE never exceeds the total and the " +
    "segment sizes cover every day") {
    val r = rows("q347_breakpoint").head
    assert(d(r, "sse_split4") <= d(r, "sse_total4"))
    assert(d(r, "drop4") >= 0.0 && d(r, "drop4") <= 1.0)
    val days = Tables.load(spark, Sf, "orders")
      .select(org.apache.spark.sql.functions.date_trunc("day",
        org.apache.spark.sql.functions.col("o_orderdate")))
      .distinct().count()
    assert(l(r, "n_left") + l(r, "n_right") == days)
  }

  test("q348 split-balance JSD is bounded by ln 2") {
    val r = rows("q348_split_balance").head
    assert(d(r, "jsd4") >= 0.0 && d(r, "jsd4") <= 0.6932)
    assert(l(r, "n_train_toks") + l(r, "n_heldout_toks") > 0L)
  }

  test("q349 packing conserves tokens: n_tok = bins x budget - slack " +
    "+ overshoot, per lang") {
    rows("q349_pack_efficiency").foreach { r =>
      val lhs = l(r, "n_tok")
      val rhs = l(r, "n_bins") * operators.PipelineQueries.PackBudget -
        l(r, "slack_tok") +
        l(r, "over_tok")
      assert(lhs == rhs, s"token conservation broken: $lhs vs $rhs")
    }
  }

  test("q350 frontier: pairs and droppable docs shrink as the " +
    "threshold rises") {
    val rs = rows("q350_dedup_frontier")
      .sortBy(_.getAs[Int]("threshold_pm"))
    val ps = rs.map(r => l(r, "n_pairs"))
    val ds = rs.map(r => l(r, "n_droppable"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b })
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
    rs.foreach(r => assert(l(r, "n_droppable") <= l(r, "n_pairs")))
  }

  test("q335/q339: dispersion and entropies are non-negative and the " +
    "entropy rate never exceeds the largest per-state entropy") {
    val od = rows("q335_overdispersion").head
    assert(d(od, "disp4") >= 0.0 && d(od, "chi4") >= 0.0)
    val te = rows("q339_transition_entropy")
    val hs = te.map(r => d(r, "h6"))
    assert(hs.forall(_ >= 0.0))
    assert(d(te.head, "rate6") <= hs.max + 1e-9)
  }

  test("q353 elasticity covers every part with sales") {
    val sold = Tables.load(spark, Sf, "lineitem")
      .select("l_partkey").distinct().count()
    assert(rows("q353_elasticity").map(r => l(r, "n_parts")).sum == sold)
  }

  test("q354 reorder point sits z-sigmas above the mean") {
    rows("q354_safety_stock").foreach { r =>
      assert(d(r, "sd4") >= 0.0)
      assert(d(r, "safety4") >= 0.0)
      assert(math.abs(d(r, "rop4") - d(r, "mean4") - d(r, "safety4"))
        <= 2e-4)
    }
  }

  test("q355 census covers the whole corpus and q356's ladder is the " +
    "ceil monotone: halving the stride at most doubles the frames") {
    val nDocs = Tables.load(spark, Sf, "documents").count()
    assert(rows("q355_media_census").map(r => l(r, "n_media")).sum
      == nDocs)
    val fb = rows("q356_frame_budget")
      .map(r => (l(r, "stride_ms"), l(r, "total_frames"))).sortBy(_._1)
    val Array(f250, f500, f1000) = fb.map(_._2)
    assert(f250 >= f500 && f500 >= f1000)
    assert(f250 <= 2 * f500 && f500 <= 2 * f1000)
  }

  test("q357 partitions every sales day over exactly seven weekday " +
    "groups with a non-negative F") {
    val rs = rows("q357_weekday_anova")
    assert(rs.length == 7)
    assert(rs.forall(r => l(r, "n_groups") == 7L))
    assert(rs.forall(r => d(r, "f4") >= 0.0))
    val days = Tables.load(spark, Sf, "orders")
      .select(org.apache.spark.sql.functions.date_trunc("day",
        org.apache.spark.sql.functions.col("o_orderdate")))
      .distinct().count()
    assert(rs.map(r => l(r, "n_days")).sum == days)
  }
}
