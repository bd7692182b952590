package graft

import org.apache.spark.sql.Row

/** Round-14 cross-metric invariants — identities BETWEEN queries (or
  * internal to one result) that the per-key DuckDB oracle cannot see,
  * continuing the Round12/Round13 pattern. All on sf0.001.
  */
class Round14Spec extends SparkSpec {

  private def rows(k: String): Array[Row] =
    SparkEntry.queries(k)(spark, Sf).collect()

  test("q385 SPRT: final LLR is the exact integer identity over counts") {
    val r = rows("q385_sprt").head
    val n = r.getAs[Long]("n_events")
    val p = r.getAs[Long]("n_purchase")
    val llr = r.getAs[Long]("llr_final_ppm")
    // the ppm design constants (StatsQueries.Sprt*)
    assert(llr == p * 405465L + (n - p) * -57158L)
    // a crossing, if any, must sit outside the corridor with the
    // matching verdict
    if (!r.isNullAt(r.fieldIndex("cross_llr_ppm"))) {
      val c = r.getAs[Long]("cross_llr_ppm")
      assert(math.abs(c) >= 2944439L)
      assert(r.getAs[String]("decision") ==
        (if (c > 0) "accept_h1" else "accept_h0"))
    } else assert(r.getAs[String]("decision") == "continue")
  }

  test("q384 Jarque-Bera: JB recomputes from the emitted moments and p from JB") {
    rows("q384_jarque_bera").foreach { r =>
      val n = r.getAs[Long]("n_orders").toDouble
      val s = r.getAs[Double]("skew4")
      val k = r.getAs[Double]("kurt4")
      val jb = r.getAs[Double]("jb4")
      val p = r.getAs[Double]("p6")
      // 4dp-rounded inputs → recomputed JB within the rounding budget
      val jbRe = n / 6.0 * (s * s + k * k / 4.0)
      assert(math.abs(jbRe - jb) < n * 1e-3,
        s"jb drift: $jb vs $jbRe at n=$n")
      assert(p > 0 && p <= 1)
      assert(math.abs(p - math.exp(-jb / 2.0)) < 1e-3)
    }
  }

  test("q389 CCF: pair counts are lag-symmetric and coefficients bounded") {
    val m = rows("q389_ccf")
      .map(r => r.getAs[Int]("lag") ->
        (r.getAs[Long]("n_pairs"), Option(r.getAs[Any]("ccf4")))).toMap
    assert(m.keySet == (-7 to 7).toSet)
    (1 to 7).foreach(l => assert(m(l)._1 == m(-l)._1,
      s"asymmetric pair count at lag $l"))
    m.values.foreach { case (_, c) =>
      c.foreach(v => assert(math.abs(v.asInstanceOf[Double]) <= 1.0)) }
  }

  test("q383 char entropy: per-lang mean sits inside [min, max] and under log2(alphabet)") {
    rows("q383_char_entropy").foreach { r =>
      val (mn, mean, mx) = (r.getAs[Double]("min_h6"),
        r.getAs[Double]("mean_h6"), r.getAs[Double]("max_h6"))
      assert(mn >= 0 && mn <= mean && mean <= mx)
      // fixture text is lowercase words + spaces: alphabet well under 64
      assert(mx <= 6.0)
    }
  }

  test("q386 MCC: every one-vs-rest row partitions the same corpus, and tp+fn matches q120's row sums") {
    val mcc = rows("q386_mcc_langid")
    val tot = mcc.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fp")
      + r.getAs[Long]("fn") + r.getAs[Long]("tn")).distinct
    assert(tot.length == 1, s"confusion totals differ: ${tot.toSeq}")
    val q120 = rows("q120_lang_confusion")
      .groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    mcc.foreach { r =>
      val cls = r.getAs[String]("cls")
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") == q120(cls),
        s"class mass mismatch for $cls")
    }
  }

  test("q387 winnowing: density and sharing are internally consistent") {
    rows("q387_winnowing").foreach { r =>
      val (w, f, sh) = (r.getAs[Long]("n_windows"), r.getAs[Long]("n_fps"),
        r.getAs[Long]("n_shared_fp"))
      assert(f >= 1 && f <= w, "winnowing selects 1..n_windows fps")
      assert(sh <= f)
      val d = r.getAs[Double]("density4")
      assert(d > 0 && d <= 1)
    }
  }

  test("q388 deletion audit: fact-table counts nest the roster correctly") {
    val m = rows("q388_deletion_audit")
      .map(r => r.getAs[String]("tbl") ->
        (r.getAs[Long]("n_del_keys"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("purge_cents"))).toMap
    assert(m("customer")._3 == 0L)
    assert(m("orders")._1 <= m("customer")._1,
      "ordering customers are a subset of the roster")
    assert(m("lineitem")._1 == m("orders")._1,
      "every roster order has lineitems in this fixture")
    assert(m("lineitem")._2 >= m("orders")._2)
    assert(m("orders")._3 > 0 || m("orders")._2 == 0L)
  }

  test("q390 JL distortion: pair count is the id-stride census and the mean bounds under the max") {
    val r = rows("q390_jl_distortion").head
    val nEmb = Tables.load(spark, Sf, "embeddings").count()
    assert(r.getAs[Long]("n_pairs") == nEmb - 101L)
    assert(r.getAs[Double]("mean_gap4") <= r.getAs[Double]("max_gap4"))
    // 16 Gaussian dims keep cosine drift moderate — the JL point
    assert(r.getAs[Double]("max_gap4") < 1.0)
  }

  test("q391 eta-squared: both effect sizes bounded and omega <= eta") {
    val r = rows("q391_eta_squared").head
    val eta = r.getAs[Double]("eta2_6")
    val om = r.getAs[Double]("omega2_6")
    assert(eta >= 0 && eta <= 1)
    assert(om <= eta, "omega-squared is the shrunken estimator")
    assert(r.getAs[Long]("k") == 5L, "five market segments")
  }

  test("q393 MSTTR: both diversity ratios are valid proportions") {
    rows("q393_msttr").foreach { r =>
      val (m, t) = (r.getAs[Double]("msttr6"), r.getAs[Double]("ttr6"))
      assert(m > 0 && m <= 1 && t > 0 && t <= 1)
      assert(r.getAs[Long]("n_docs") > 0)
    }
  }

  test("q394 Friedman: five-treatment design, nonnegative statistic, valid p") {
    val r = rows("q394_friedman").head
    assert(r.getAs[Long]("k") == 5L)
    assert(r.getAs[Long]("b") >= 1 && r.getAs[Long]("b") <= 20)
    assert(r.getAs[Double]("chi2_4") >= 0.0)
    val p = r.getAs[Double]("p6")
    assert(p > 0 && p <= 1)
  }

  test("q395 MASE: the ratio recomputes from the emitted error means") {
    val r = rows("q395_mase").head
    val (n1, n7) = (r.getAs[Long]("n_naive"), r.getAs[Long]("n_seasonal"))
    assert(n1 > 0 && n7 > 0)
    val m1 = r.getAs[Long]("mae_naive_cents")
    val m7 = r.getAs[Long]("mae_seasonal_cents")
    assert(m1 > 0 && m7 > 0)
    // truncating-div means → recomputation within 1 cent of each mean
    val mase = r.getAs[Double]("mase4")
    assert(math.abs(mase - m7.toDouble / m1) < 0.01,
      s"mase $mase vs ${m7.toDouble / m1}")
  }

  test("q396 half-life: emitted only for a decaying fit, and positive") {
    val r = rows("q396_retention_half_life").head
    val slopeNull = r.isNullAt(r.fieldIndex("slope6"))
    val hlNull = r.isNullAt(r.fieldIndex("half_life_weeks4"))
    if (!slopeNull && r.getAs[Double]("slope6") < 0) {
      assert(!hlNull && r.getAs[Double]("half_life_weeks4") > 0)
    } else assert(hlNull, "non-decaying fit must not report a half-life")
  }

  test("q382 growth accounting: the churn identity holds on every emitted week (r13 advice fix)") {
    val weeks = rows("q382_growth_accounting")
      .map(r => r.getAs[Long]("week") ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("n_churned"))).toMap
    weeks.foreach { case (w, (_, ret, ch)) =>
      weeks.get(w - 1).foreach { case (prevActive, _, _) =>
        assert(ch == prevActive - ret,
          s"churned($w) != active(${w - 1}) - retained($w)")
      }
    }
  }
}
