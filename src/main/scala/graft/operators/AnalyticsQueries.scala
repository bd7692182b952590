package graft.operators

import graft.{Dets, Iterate, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational-analytics operators over the event log and order history —
  * the reporting queries the reference's microservice serves from its
  * aggregation endpoints: exact per-group mode (q47), activity-
  * concentration entropy (q48), ordered conversion funnels (q53) and
  * cohort retention (q54).
  *
  * Scale notes:
  *  - q47 is a hash aggregation to (group, value) counts — map-side
  *    combinable, so the shuffle carries distinct values, not rows —
  *    followed by the bounded-heap top-1, never a full per-group sort.
  *  - q48 aggregates to (type, hour) buckets first; the entropy terms
  *    are computed per bucket and decimal-summed (order-independent), so
  *    the only data-sized pass is the initial partial agg.
  *  - q53's three funnel stages are successive aggregate→equi-join
  *    rounds on user_id: each stage's output is one row per qualifying
  *    user (monotonically shrinking), and AQE broadcasts it back against
  *    the event scan once it fits — no window over the raw log.
  *  - q54 reduces the log to distinct (user, day) pairs before any join;
  *    the cohort table is one row per user. Both are tiny relative to
  *    the log at any scale; the final rollup groups (cohort, offset).
  */
object AnalyticsQueries {
  import Dets._

  /** q259 Markov-attribution geometry: the transient channel states
    * (every event type except the converting 'purchase') and the
    * K-step truncation of the absorption solve (the q153
    * fixed-iteration convention; residual transient mass after K = 8
    * rounds is a deterministic truncation both engines share).
    * Mirrored as literals in the oracle's unrolled CTEs. */
  private[graft] val MkChannels = Seq("click", "error", "signup", "view")
  private[graft] val MkRounds = 8

  /** q260 exposure/outcome windows (event positions per user): the
    * channel set comes from events 1..ShapExpo, conversion from
    * events ShapExpo+1..ShapOutcome. The split is load-bearing twice:
    * an UNBOUNDED window degenerates on this fixture (every user
    * converts eventually — v(S) = 10⁶ everywhere, all marginals
    * vanish), and measuring exposure and outcome in the SAME window
    * makes v(∅) tautologically 1 (an empty channel set before the
    * first purchase means the purchase came first). Exposure
    * preceding outcome is the methodologically honest form, and
    * bounded positions are also what a streaming fold could maintain
    * per user. */
  private[graft] val ShapExpo = 4
  private[graft] val ShapOutcome = 8

  /** q264 pre/post cut date. */
  private val DidCut = "1997-01-01"

  /** q371's unrolled power-iteration depth — enough for a handful of
    * well-connected states to mix to 8dp (probed at sf0.001/0.01);
    * the oracle unrolls the same count, so the two cannot drift. */
  private val MkvRounds = 12

  /** q396's fit depth: retention offsets 1..4 epoch-weeks — the whole
    * span the 30-day events fixture can populate. Declared before the
    * oracle map interpolates. */
  private val HlMaxOffset = 4

  /** q396's ln-linear OLS trees over the all-integer moments
    * (n, sx, sy, sxx, sxy with y pre-scaled by 1e8): slope in
    * ln-units/week, half-life = −ln2/slope, NULL on a non-decaying
    * or degenerate fit. */
  private[operators] object HlFormula {
    private val num =
      "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    private val den =
      "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    private val sl = s"(CASE WHEN $den > 0 THEN $num / $den / 1e8 END)"
    val slope6: String = s"round($sl, 6)"
    val hl4: String = s"round(CASE WHEN $sl < 0 THEN " +
      s"-0.6931471805599453 / ($sl) END, 4)"
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact per-group mode: the most frequent order priority per order
    // status, ties broken toward the smaller priority string. The
    // count table is a partial-aggregated hash agg; the argmax runs
    // through the bounded-heap top-k operator (k=1), so no group is
    // ever sorted whole.
    "q47_mode" -> ((s, dir) => {
      val cnt = t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      graft.plans.GraftOps.topKPerGroup(cnt,
        Seq(col("o_orderstatus")),
        Seq(col("cnt").desc, col("o_orderpriority").asc), 1, rankName = "rk")
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"))
        .orderBy("o_orderstatus")
    }),

    // Shannon entropy of each event type's hourly activity distribution
    // — "how bursty is this signal". Determinism: each bucket's term
    // -p·ln(p) is one fixed double formula (identical libm inputs on
    // both engines), quantized to 6dp and decimal-summed so the total
    // is independent of partition/merge order [D2-style].
    "q48_entropy" -> ((s, dir) => {
      val hb = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("nh"))
      val tot = hb.groupBy("event_type")
        .agg(sum("nh").as("n"), count(lit(1)).as("n_hours"))
      hb.join(tot, "event_type")
        .withColumn("p", col("nh").cast("double") / col("n"))
        .withColumn("term", round(-col("p") * log(col("p")), 6))
        .groupBy("event_type")
        .agg(max("n").as("n_events"), max("n_hours").as("n_hours"),
          round(sum(col("term").cast(Dec)).cast("double"), 4).as("entropy"))
        .orderBy("event_type")
    }),

    // OHLC bars: per (event_type, hour) the first/last event's value
    // (open/close, ordered by the total (ts, event_id) key) plus
    // high/low/count — the classic time-bar rollup, and the min_by/
    // max_by surface. One map-side-combinable hash agg, one shuffle;
    // values pass through without arithmetic, so no float drift.
    "q49_ohlc" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          max("value").as("high"), min("value").as("low"),
          count(lit(1)).as("n"))
        .select(col("event_type"), tsOut(col("hr")).as("hr"), col("open"),
          col("close"), col("high"), col("low"), col("n"))
        .orderBy("event_type", "hr")),

    // Ordered conversion funnel: users whose first signup precedes a
    // view precedes a purchase, strictly increasing in time. Stage k
    // counts users reaching step k; each stage is min(ts) over the
    // events after the previous stage's timestamp.
    //
    // Single scan, single shuffle: running mins over the per-user
    // time-ordered window stage the same t1/t2/t3 the self-join form
    // computes. At each row the running min of signup timestamps equals
    // the user's GLOBAL first-signup t1 whenever t1 <= row ts, and the
    // strict `>` makes the boundary row agree, so marking a view
    // qualified iff ts > running-t1 is exactly "ts > t1" — same argument
    // one level up for purchases vs the qualified-view running min. The
    // three Window ops share one partitioning+sort (one exchange), and
    // the per-user groupBy reuses that partitioning (no second shuffle)
    // — vs three events scans, three shuffles, and two joins before.
    "q53_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("event_type").isin("signup", "view", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("t1r",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t2c",
          when(col("event_type") === "view" && col("ts") > col("t1r"),
            col("ts")))
        .withColumn("t2r", min(col("t2c")).over(w))
        .withColumn("t3c",
          when(col("event_type") === "purchase" && col("ts") > col("t2r"),
            col("ts")))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("t1"),
          min(col("t2c")).as("t2"), min(col("t3c")).as("t3"))
        .filter(col("t1").isNotNull)
        .agg(count(lit(1)).as("n_signup"), count(col("t2")).as("n_view"),
          count(col("t3")).as("n_purchase"))
        .selectExpr("""stack(3,
            1, 'signup_first', n_signup,
            2, 'view_after_signup', n_view,
            3, 'purchase_after_view', n_purchase) AS (stage, step, n_users)""")
        .orderBy("stage")
    }),

    // Cohort retention: cohort = the day of a user's first event;
    // n_users = users from that cohort active again k days later
    // (k = 0..7). The activity table is distinct (user, day), so each
    // user contributes at most one row per (cohort, offset) and a plain
    // count is already a distinct-user count.
    "q54_retention" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val firstDay = e.groupBy("user_id")
        .agg(date_trunc("day", min("ts")).as("cohort"))
      val activity = e
        .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .distinct()
      activity.join(firstDay, Seq("user_id"))
        .withColumn("day_offset", datediff(col("d"), col("cohort")))
        .filter(col("day_offset") <= 7)
        .groupBy(col("cohort"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(tsOut(col("cohort")).as("cohort_day"), col("day_offset"),
          col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Clickstream transition matrix + top-3 next events per state: a
    // lag window per user (partitioned on user_id — per-user histories
    // are small at any corpus size, so the window parallelizes in the
    // user count) reduced to (prev, next) counts, then the bounded-heap
    // TopKPerGroup. (ts, event_id) is a total order, so lag is
    // deterministic under ties.
    "q108_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
      val cnt = tr.groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("cnt"))
      graft.plans.GraftOps.topKPerGroup(cnt, Seq(col("prev_type")),
          Seq(col("cnt").desc, col("event_type").asc), 3)
        .orderBy("prev_type", "rn")
    }),

    // Stationary distribution of the q108 event-transition chain by
    // unrolled power iteration (public textbook Markov-chain method) —
    // the "where do sessions END UP" readout next to q108's raw
    // transition counts and q339's entropies: p(i,j) = c_ij/c_i over
    // targets restricted to the prev-state space (so mass never leaks
    // to absorbing labels), π₀ uniform, π_{r+1}(j) = Σ_i π_r(i)·p(i,j)
    // for MkvRounds unrolled rounds — the q153/q267 bounded-iteration
    // convention; the state space is the bounded event-type
    // vocabulary, so every round is a tiny join + agg. Per-round
    // products 8dp-quantized + decimal-summed [D2] so both engines
    // replay bit-for-bit. Emitted per state next to the EMPIRICAL
    // occupancy with the |gap| and the chain's total-variation
    // distance attached (mixing ⇔ tv ≈ 0).
    "q371_markov_steady" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val cnt = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("c"))
      val states = cnt.select(col("prev_type").as("st")).distinct()
      val cnt2 = cnt.join(
        states.withColumnRenamed("st", "event_type"), Seq("event_type"))
      val rs = cnt2.groupBy("prev_type").agg(sum(col("c")).as("ct"))
      val p = cnt2.join(rs, Seq("prev_type"))
        .select(col("prev_type").as("i"), col("event_type").as("j"),
          round(col("c").cast("double") / col("ct").cast("double"), 8)
            .as("p8"))
      val kk = states.agg(count(lit(1)).as("k"))
      var pi = states.crossJoin(broadcast(kk))
        .select(col("st"),
          round(lit(1.0) / col("k").cast("double"), 8).as("pi"))
      for (_ <- 1 to MkvRounds) {
        pi = p.join(pi.select(col("st").as("i"), col("pi").as("pv")),
            Seq("i"))
          .groupBy("j")
          .agg(sum(round(col("pv") * col("p8"), 8)
            .cast("decimal(38,8)")).as("sp"))
          .select(col("j").as("st"),
            round(col("sp").cast("double"), 8).as("pi"))
      }
      val tot = rs.agg(sum(col("ct")).as("tot"))
      val emp = rs.crossJoin(broadcast(tot))
        .select(col("prev_type").as("st"),
          round(col("ct").cast("double") / col("tot").cast("double"), 8)
            .as("emp8"))
      val rows = states.join(pi, Seq("st"), "left")
        .select(col("st"), coalesce(col("pi"), lit(0.0)).as("pi8"))
        .join(emp, Seq("st"))
        .withColumn("gap8", round(abs(col("pi8") - col("emp8")), 8))
      val tv = rows.agg(round(
        sum(col("gap8").cast("decimal(38,8)")).cast("double") / 2.0, 6)
        .as("tv6"))
      rows.crossJoin(broadcast(tv))
        .select(col("st").as("state"), col("pi8").as("pi_steady8"),
          col("emp8"), col("gap8"), col("tv6"))
        .orderBy("state")
    }),

    // Per-user inter-event burstiness: gaps between consecutive events
    // (total order: ts, then event_id) in exact integer microseconds,
    // summarized as the mean gap in seconds and the coefficient of
    // variation (CV = σ/μ: ≫1 bursty, ≈1 Poisson-like, ≪1 metronomic)
    // — the arrival-pattern screen behind bot detection and session
    // tuning. Determinism: the first moment is an exact BIGINT µs sum;
    // the squared terms are 6dp-quantized seconds, decimal-summed [D2]
    // (q113's regression-sum pattern) — both partition-invariant. The
    // lag window partitions on user_id (parallel in the user count, no
    // global sort); a user whose gaps are all zero gets a NULL CV
    // (safeDiv), mirroring the oracle's CASE.
    "q125_event_burstiness" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      val meanS = col("sum_us").cast("double") / col("n_gaps") / lit(1e6)
      val varS = col("m2").cast("double") / col("n_gaps") - meanS * meanS
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(col("gap_us")).as("n_gaps"),
          sum(col("gap_us")).as("sum_us"),
          decSum(round((col("gap_us").cast("double") / lit(1e6))
            * (col("gap_us").cast("double") / lit(1e6)), 6)).as("m2"))
        .filter(col("n_gaps") >= 2)
        .select(col("user_id"), col("n_events"),
          round(meanS, 4).as("mean_gap4"),
          round(safeDiv(sqrt(greatest(varS, lit(0.0))), meanS), 4)
            .as("cv4"))
        .orderBy("user_id")
    }),

    // Cumulative user growth — the activation curve: users bucket to
    // their FIRST-seen day, and the running total of those buckets is
    // the distinct-users-to-date series. The per-user min and the
    // per-day count both collapse map-side; the cumulative sum runs
    // through the range-partitioned GlobalRank.cumSum (constant group)
    // over the day-bucket table — dimension-bounded rows, no
    // single-partition window over the corpus.
    "q142_user_growth" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .groupBy("user_id").agg(min(col("ts")).as("first_ts"))
        .select(unix_micros(date_trunc("day", col("first_ts")))
          .as("day_us"))
        .groupBy("day_us").agg(count(lit(1)).as("new_users"))
        .withColumn("g", lit(1))
      graft.functions.GlobalRank.cumSum(days, "g", "day_us", "new_users")
        .select(tsOut(timestamp_micros(col("day_us"))).as("day"),
          col("new_users"), col("cum").as("cum_users"))
        .orderBy("day")
    }),

    // Weekly growth accounting (the public product-analytics
    // decomposition: active(t) = new + retained + resurrected, with
    // churned(t) = active(t−1) − retained(t)) — the WHY behind q142's
    // cumulative curve and q177's WAU level: the same headline WAU can
    // hide healthy acquisition or a leaky bucket, and this splits it.
    // Per (user, epoch-week) active flags collapse first; each user's
    // week classifies by ONE lag window partitioned by user (parallel
    // in users, no global sort) against the user's first week;
    // churn rows come from the SAME lag by charging week w+1 when the
    // next active week isn't adjacent (gap ⇒ churned exactly once,
    // when the user went dark). Quick ratio = (new + resurrected) /
    // churned, NULL on a churn-free week (safeDiv). Weeks are epoch
    // integers (day_us div 7 days — engine-portable, q336 convention).
    // act FULL-OUTER churn (classes coalesced to 0) so a calendar week
    // with churn but zero actives — everyone went dark at once, or the
    // week after the final active week — still reports its churn row
    // and the identity churned(t) = active(t-1) - retained(t) holds on
    // every emitted week (r13 advice).
    "q382_growth_accounting" -> ((s, dir) => {
      val wk = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 604800000000L")
            .as("w"))
        .distinct()
      val uw = Window.partitionBy("user_id").orderBy("w")
      val lbl = wk
        .withColumn("pw", lag(col("w"), 1).over(uw))
        .withColumn("fw", min(col("w")).over(
          Window.partitionBy("user_id")))
        .withColumn("cls",
          when(col("w") === col("fw"), "new")
            .when(col("pw") === col("w") - 1, "retained")
            .otherwise("resurrected"))
      val act = lbl.groupBy("w").agg(
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
      // a user active in week w but not w+1 churns IN week w+1
      val churn = lbl
        .withColumn("nw", lead(col("w"), 1).over(uw))
        .filter(col("nw").isNull || col("nw") =!= col("w") + 1)
        .groupBy((col("w") + 1).as("w"))
        .agg(count(lit(1)).as("n_churned"))
      act.join(churn, Seq("w"), "full")
        .select(col("w").as("week"),
          (coalesce(col("n_new"), lit(0L))
            + coalesce(col("n_retained"), lit(0L))
            + coalesce(col("n_resurrected"), lit(0L))).as("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"),
          round(Dets.safeDiv(
            (coalesce(col("n_new"), lit(0L))
              + coalesce(col("n_resurrected"), lit(0L))).cast("double"),
            coalesce(col("n_churned"), lit(0L)).cast("double")), 4)
            .as("quick_ratio4"))
        .orderBy("week")
    }),

    // Last-touch revenue attribution: each purchase credits its value
    // to the most recent PRECEDING non-purchase event of the same user
    // ('none' when the purchase opens the stream). One keyed window
    // with an ignore-nulls last over the preceding frame — the
    // marketing-attribution verb, no self-join.
    "q138_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w).as("touch"))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          decSumD(col("value")).as("attributed"))
        .orderBy("touch")
    }),

    // Markov removal-effect attribution (round 10) — the multi-touch
    // upgrade of q138's last-touch credit, the standard data-driven
    // attribution model: user journeys (event streams truncated at the
    // first purchase) become a first-order Markov chain over channel
    // states with absorbing CONV (reaching a purchase) and END (stream
    // exhausted unconverted); a channel's credit is its REMOVAL
    // EFFECT — how much of the baseline K-step conversion probability
    // disappears when every transition into the channel is redirected
    // to END. The chain solve lives in EXACT INTEGER ppm ([D5]): p =
    // (10⁶·c) div rowsum, each of MkRounds unrolled rounds is
    // mass-vector × matrix with one truncating div per (scenario,
    // state), absorbing self-loops carry accumulated mass exactly.
    // Scale shape: the one data-sized pass is the per-user keyed
    // window extracting transitions; everything after operates on the
    // |states|² count matrix (bounded by the channel vocabulary), so
    // the five scenario solves cost |states|²·K tiny-join rows —
    // at 100 TB the solve cost is unchanged while the transition
    // extraction stays one window + one agg.
    "q259_markov_attribution" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val rn = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("rn", row_number().over(w))
      val pm = rn.groupBy("user_id")
        .agg(min(when(col("event_type") === "purchase", col("rn")))
          .as("pmin"), max(col("rn")).as("rmax"))
      val trunc = rn.join(pm, Seq("user_id"))
        .filter(col("pmin").isNull || col("rn") <= col("pmin"))
      val stepped = trunc
        .withColumn("src",
          coalesce(lag(col("event_type"), 1).over(w), lit("START")))
        .withColumn("dst",
          when(col("event_type") === "purchase", lit("CONV"))
            .otherwise(col("event_type")))
        .select("src", "dst")
      val endEdges = trunc
        .filter(col("pmin").isNull && col("rn") === col("rmax"))
        .select(col("event_type").as("src"), lit("END").as("dst"))
      val cnt = stepped.unionByName(endEdges)
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
      val rsum = cnt.groupBy("src").agg(sum(col("c")).as("rs"))
      val p = cnt.join(rsum, "src")
        .select(col("src").as("i"), col("dst").as("j"),
          expr("(1000000L * c) div rs").as("p"))
      val scen = (Seq("base") ++ MkChannels).toDF("sc")
      val loops = (Seq("base") ++ MkChannels)
        .flatMap(sc => Seq((sc, "CONV", "CONV", 1000000L),
          (sc, "END", "END", 1000000L)))
        .toDF("sc", "i", "j", "p")
      val m = p.crossJoin(broadcast(scen))
        .filter(col("sc") === "base" || col("i") =!= col("sc"))
        .withColumn("j2",
          when(col("sc") =!= "base" && col("j") === col("sc"), lit("END"))
            .otherwise(col("j")))
        .groupBy(col("sc"), col("i"), col("j2").as("j"))
        .agg(sum(col("p")).as("p"))
        .unionByName(loops)
        .localCheckpoint(true)
      val v0 = (Seq("base") ++ MkChannels)
        .map(sc => (sc, "START", 1000000L)).toDF("sc", "state", "mass")
      // the mass vector is Sequential round state. The per-round aliases
      // of m are REQUIRED with its lazy persist: the vector's lineage
      // contains m's attribute ids, so re-joining the raw m would be an
      // ambiguous self-join.
      val v = Iterate.rounds(v0, MkRounds, Iterate.Sequential) { (vr, _) =>
        val mr = m.select(col("sc").as("m_sc"), col("i").as("m_i"),
          col("j").as("m_j"), col("p").as("m_p"))
        vr.join(mr, vr("sc") === col("m_sc") && vr("state") === col("m_i"))
          .groupBy(col("m_sc").as("sc"), col("m_j").as("state"))
          .agg(expr("sum(mass * m_p) div 1000000L").as("mass"))
      }
      val conv = v.filter(col("state") === "CONV")
        .select(col("sc"), col("mass").as("conv_ppm"))
      val base = conv.filter(col("sc") === "base")
        .select(col("conv_ppm").as("base_ppm"))
      conv.filter(col("sc") =!= "base").crossJoin(broadcast(base))
        .select(col("sc").as("channel"), col("base_ppm"), col("conv_ppm"),
          expr("(1000L * (base_ppm - conv_ppm)) div base_ppm")
            .as("removal_pm"))
        .orderBy("channel")
    }),

    // Shapley-value attribution (round 10) — the coalition-game
    // counterpart of q259's Markov removal effect (the two standard
    // data-driven attribution models; real deployments run both and
    // compare): channel EXPOSURE is the set of non-purchase types in
    // each user's first ShapExpo events, the OUTCOME is whether a
    // purchase lands in events ShapExpo+1..ShapOutcome (see the
    // constants' note — exposure preceding outcome is what keeps the
    // game from degenerating into tautology on this fixture); users
    // with no event in the outcome window are outside the experiment.
    // The exposure set is a q182-style bitmask over the 4 channel
    // types; the empirical coalition value v(S) is
    // that mask's conversion rate in integer ppm ([D5] truncating;
    // coalitions no user exhibits value 0 — the standard empirical
    // convention, stated, not hidden); a channel's Shapley value is
    // the exactly-weighted marginal sum Σ_{S∌c} w(|S|)·(v(S∪c)−v(S))
    // with the n=4 weights as integer twelfths (3,1,1,3)/12, so the
    // whole game solves in int64 — Σ numerators = 12·(v(full)−v(∅))
    // by the efficiency property, an identity the truncation respects
    // to ±4 ppm. One data-sized window pass collapses to ≤16 mask
    // rows; the game is a 64-row broadcast join at any scale.
    "q260_shapley_attribution" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val rn = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= ShapOutcome)
      val aggs = MkChannels.zipWithIndex.map { case (c, i) =>
        max(when(col("rn") <= ShapExpo && col("event_type") === c,
          lit(1L << i)).otherwise(0L)).as(s"b$i")
      } ++ Seq(
        max(when(col("rn") > ShapExpo
          && col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"),
        max(when(col("rn") > ShapExpo, 1L).otherwise(0L)).as("in_exp"))
      val usr = rn
        .groupBy("user_id").agg(aggs.head, aggs.tail: _*)
        .filter(col("in_exp") === 1L)
        .select(MkChannels.indices.map(i => col(s"b$i"))
          .reduce(_ + _).as("mask"), col("conv"))
      val vobs = usr.groupBy("mask")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
        .select(col("mask"), expr("(1000000L * nc) div n").as("v"))
      val vAll = s.range(1 << MkChannels.size)
        .select(col("id").as("mask"))
        .join(vobs, Seq("mask"), "left")
        .select(col("mask"), coalesce(col("v"), lit(0L)).as("v"))
        .localCheckpoint(true)
      val chan = MkChannels.zipWithIndex
        .map { case (c, i) => (c, 1L << i) }.toDF("channel", "bit")
      val pairs = vAll.select(col("mask").as("s"), col("v").as("vs"))
        .crossJoin(broadcast(chan))
        .filter(expr("(s & bit) = 0"))
        .join(broadcast(vAll.select(col("mask").as("su"),
          col("v").as("vsu"))), expr("su = (s | bit)"))
        .withColumn("wnum", expr(
          "CASE bit_count(s) WHEN 0 THEN 3L WHEN 3 THEN 3L ELSE 1L END"))
      val phi = pairs.groupBy("channel")
        .agg(sum(expr("wnum * (vsu - vs)")).as("num"))
        .select(col("channel"), expr("num div 12L").as("shapley_ppm"))
      val tot = phi.agg(sum(col("shapley_ppm")).as("tot"))
      phi.crossJoin(broadcast(tot))
        .select(col("channel"), col("shapley_ppm"),
          when(col("tot") > 0,
            expr("(1000L * shapley_ppm) div tot"))
            .as("share_pm"))
        .orderBy("channel")
    }),

    // Difference-in-differences (round 10) — the causal-BI verb behind
    // every "did the change move the metric for THIS group" question:
    // per market segment (as treatment, all other segments the
    // control), the average order value before vs after the
    // 1997-01-01 cut, and DiD = (treat_post − treat_pre) −
    // (ctrl_post − ctrl_pre). Cell means live in exact MILLI-CENT
    // integers ([D5]: cents·1000 div n — four truncating divisions per
    // row, everything after pure int64 subtraction), so the estimate
    // replays bit-for-bit; the control complement derives from the
    // broadcast per-period totals (ctrl = all − segment), so ONE
    // orders pass feeds all five treatment rows.
    "q264_did" -> ((s, dir) => {
      val cells = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("segment")), Seq("o_custkey"))
        .select(col("segment"),
          (col("o_orderdate") >= lit(DidCut).cast("date")).as("post"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .groupBy("segment", "post")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      val tot = cells.groupBy("post")
        .agg(sum(col("n")).as("tn"), sum(col("sc")).as("ts"))
      val m = cells.join(broadcast(tot), Seq("post"))
        .select(col("segment"), col("post"),
          expr("(sc * 1000L) div n").as("mt"),
          // a segment owning the whole period has no control — NULL
          // mean, not a divide-by-zero (safeDiv convention)
          when(col("tn") > col("n"),
            expr("((ts - sc) * 1000L) div (tn - n)")).as("mc"))
      m.groupBy("segment")
        .agg(max(when(!col("post"), col("mt"))).as("treat_pre"),
          max(when(col("post"), col("mt"))).as("treat_post"),
          max(when(!col("post"), col("mc"))).as("ctrl_pre"),
          max(when(col("post"), col("mc"))).as("ctrl_post"))
        .select(col("segment"), col("treat_pre"), col("treat_post"),
          col("ctrl_pre"), col("ctrl_post"),
          (col("treat_post") - col("treat_pre")
            - (col("ctrl_post") - col("ctrl_pre"))).as("did_mc"))
        .orderBy("segment")
    }),

    // RFM segmentation — the classic CRM cut: per customer Recency
    // (last order date), Frequency (order count), Monetary (exact
    // decimal spend), each quartile-scored 1..4. The three global
    // ranks run through GlobalRank.rowNumber (range-partitioned, no
    // single-task ntile window), and the score is pure integer
    // arithmetic on (rn, n) — ((rn−1)·4 div n)+1 — so both engines
    // bucket identically without relying on ntile's remainder rule.
    // Output is the (up to 64-cell) segment census.
    "q145_rfm" -> ((s, dir) => {
      val cust = t(s, dir, "orders").groupBy("o_custkey")
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("n_orders"),
          decSumD(col("o_totalprice")).as("spend"))
      val (withR, n) = graft.functions.GlobalRank.rowNumberWithTotal(
        cust, Seq(col("last_order").asc, col("o_custkey").asc))
      val withF = graft.functions.GlobalRank.rowNumber(
        withR.withColumnRenamed("rn", "rr"),
        Seq(col("n_orders").asc, col("o_custkey").asc))
      val withM = graft.functions.GlobalRank.rowNumber(
        withF.withColumnRenamed("rn", "fr"),
        Seq(col("spend").asc, col("o_custkey").asc))
        .withColumnRenamed("rn", "mr")
      withM.select(
          expr(s"CAST((rr - 1) * 4 div $n + 1 AS INT)").as("r_score"),
          expr(s"CAST((fr - 1) * 4 div $n + 1 AS INT)").as("f_score"),
          expr(s"CAST((mr - 1) * 4 div $n + 1 AS INT)").as("m_score"),
          col("spend"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_cust"),
          decSumD(col("spend")).as("sum_spend"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // Cohort LTV triangle — q54's retention grid with revenue instead
    // of presence: customers cohorted by first-order month, revenue
    // rolled to (cohort, month age), cumulated over age. The cumsum
    // window runs on post-aggregation rows (cohorts × ages,
    // dimension-bounded at any fact size) over exact decimals.
    "q146_cohort_ltv" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
      val cohort = o.groupBy("o_custkey")
        .agg(date_trunc("month", min(col("o_orderdate"))).as("cohort"))
      val rev = o.join(cohort, Seq("o_custkey"))
        .groupBy(col("cohort"),
          ((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            - (year(col("cohort")) * 12 + month(col("cohort"))))
            .cast("int").as("age"))
        .agg(decSum(col("o_totalprice")).as("rev_dec"))
      val w = Window.partitionBy("cohort").orderBy(col("age").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_dec", sum(col("rev_dec")).over(w))
        .select(tsOut(col("cohort")).as("cohort"), col("age"),
          col("rev_dec").cast("double").as("revenue"),
          col("cum_dec").cast("double").as("cum_revenue"))
        .orderBy("cohort", "age")
    }),

    // Inter-purchase interval profile — per segment, the mean and
    // median gap (days) between a customer's consecutive orders: the
    // purchase-cadence statistic behind replenishment/churn models.
    // The lag window is keyed per customer (parallel across the key
    // exchange like any keyed agg); gaps reduce to µs longs, the mean
    // is an exact long sum ÷ count, and the median runs through the
    // q44 distributed histogram — no per-segment sort.
    "q149_order_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val gaps = t(s, dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("gap_us", unix_micros(col("o_orderdate"))
          - lag(unix_micros(col("o_orderdate")), 1).over(w))
        .filter(col("gap_us").isNotNull)
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val g = gaps.join(seg, Seq("o_custkey"))
      val stats = g.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_us"))
      val hist = g.groupBy("c_mktsegment", "gap_us")
        .agg(count(lit(1)).as("cnt"))
      val med = graft.functions.GlobalRank
        .cumSum(hist, "c_mktsegment", "gap_us", "cnt")
        .groupBy("c_mktsegment")
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("gap_us")))
          .as("med_us"))
      stats.join(med, Seq("c_mktsegment"))
        .select(col("c_mktsegment"), col("n_gaps"),
          round(col("sum_us").cast("double") / col("n_gaps")
            / lit(86400000000d), 4).as("mean_gap_days4"),
          round(col("med_us").cast("double") / lit(86400000000d), 4)
            .as("median_gap_days4"))
        .orderBy("c_mktsegment")
    }),

    // Lag-1 autocorrelation of the daily event count — the time-series
    // persistence screen (is today's volume predictive of tomorrow's).
    // The (c_t, c_{t+1}) pairing is an EQUI-JOIN of the daily series
    // against itself shifted one day — no global window at all — and
    // the correlation comes from the q43 exact-moment formulation
    // (decimal/HUGEINT product sums, one fixed double formula).
    // Consecutive-day pairs only: a day with no events breaks the
    // chain on both engines identically.
    "q152_autocorr" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(count(lit(1)).as("c"))
      val a = daily.select(col("day_us"), col("c").as("x"))
      val b = daily.select((col("day_us") - lit(86400000000L)).as("day_us"),
        col("c").as("y"))
      val d19 = (c: Column) => c.cast("decimal(19,0)")
      val st = a.join(b, Seq("day_us"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d19(col("x")) * d19(col("x"))).as("sxx"),
          sum(d19(col("y")) * d19(col("y"))).as("syy"),
          sum(d19(col("x")) * d19(col("y"))).as("sxy"))
      // safeDiv on every /n: the global agg emits one row even on an
      // empty series (n = 0), and ANSI mode would throw on the plain /
      st.select(col("n"),
        round(safeDiv(
          col("sxy").cast("double")
            - safeDiv(col("sx").cast("double") * col("sy").cast("double"),
              col("n")),
          sqrt((col("sxx").cast("double")
              - safeDiv(col("sx").cast("double") * col("sx").cast("double"),
                col("n")))
            * (col("syy").cast("double")
              - safeDiv(col("sy").cast("double") * col("sy").cast("double"),
                col("n"))))),
          4).as("autocorr4"))
    }),

    // Retention half-life (public growth-analytics method: exponential
    // decay fit on the retention curve) — the ONE-NUMBER summary of
    // q54's retention triangle and q382's weekly classes: fraction of
    // users active o epoch-weeks after their first week, ln-linear
    // OLS over the offsets, half-life = −ln2/slope. The curve is two
    // keyed aggs (per-user first week broadcast back); the fit runs on
    // ≤ HlMaxOffset points with ALL-INTEGER moment staging (retention
    // as exact ppm, ln quantized to 1e−8 [D2]) and the shared
    // HlFormula trees — NULL half-life on a non-decaying fit.
    "q396_retention_half_life" -> ((s, dir) => {
      val wk = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 604800000000L")
            .as("w"))
        .distinct()
      val fw = wk.groupBy("user_id").agg(min(col("w")).as("fw"))
      val nUsers = fw.agg(count(lit(1)).as("nu"))
      val pts = wk.join(fw, Seq("user_id"))
        .withColumn("o", col("w") - col("fw"))
        .filter(col("o").between(1, HlMaxOffset))
        .groupBy("o").agg(count(lit(1)).as("na"))
        .crossJoin(broadcast(nUsers))
        .withColumn("rppm", expr("(na * 1000000) div nu"))
        .filter(col("rppm") > 0)
        .withColumn("yn8",
          round(log(col("rppm").cast("double") / 1e6) * 1e8)
            .cast("long"))
      pts.agg(count(lit(1)).as("n"), sum(col("o")).as("sx"),
          sum(col("yn8")).as("sy"),
          sum(col("o") * col("o")).as("sxx"),
          sum(col("o") * col("yn8")).as("sxy"))
        .select(col("n").as("n_offsets"),
          expr(HlFormula.slope6).as("slope6"),
          expr(HlFormula.hl4).as("half_life_weeks4"))
    }),

    // Cross-correlation function view→purchase at lags −7..+7 — the
    // LEAD/LAG generalization of q152's single-point autocorrelation
    // (public textbook CCF): does view volume predict purchase volume
    // some days later (positive lags), or trail it? Each lag's
    // (x_t, y_{t+lag}) pairing is the SAME shifted equi-join as q152,
    // fanned out by a constant ×15 lag explode over the calendar-
    // bounded daily table (broadcast-sized at any corpus scale), and
    // each lag's correlation comes from the identical exact-moment
    // formulation. Missing days break pairs on both engines alike.
    "q389_ccf" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val d19 = (c: Column) => c.cast("decimal(19,0)")
      val a = daily.select(col("day_us"), col("x"))
        .withColumn("lag", explode(sequence(lit(-7), lit(7))))
      val b = daily.select(col("day_us").as("day_b"), col("y"))
      val st = a.join(b,
          col("day_b") === col("day_us") + col("lag") * 86400000000L)
        .groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d19(col("x")) * d19(col("x"))).as("sxx"),
          sum(d19(col("y")) * d19(col("y"))).as("syy"),
          sum(d19(col("x")) * d19(col("y"))).as("sxy"))
      st.select(col("lag"), col("n").as("n_pairs"),
        round(safeDiv(
          col("sxy").cast("double")
            - safeDiv(col("sx").cast("double") * col("sy").cast("double"),
              col("n")),
          sqrt((col("sxx").cast("double")
              - safeDiv(col("sx").cast("double") * col("sx").cast("double"),
                col("n")))
            * (col("syy").cast("double")
              - safeDiv(col("sy").cast("double") * col("sy").cast("double"),
                col("n"))))),
          4).as("ccf4"))
        .orderBy("lag")
    }),

    // Daily-volume anomaly screen: z-score of each day's event count
    // against the whole series (population moments from exact integer
    // sums — the q101 shape on the time axis). The day table is
    // value-domain bounded, the one-row moment aggregate broadcasts
    // back, and safeDiv keeps a flat series NULL instead of an ANSI
    // throw.
    "q154_anomaly_days" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(count(lit(1)).as("c"))
      val d19 = (c: Column) => c.cast("decimal(19,0)")
      val st = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(d19(col("c")) * d19(col("c"))).as("sxx"))
      daily.crossJoin(broadcast(st))
        .withColumn("mean", col("sx").cast("double") / col("n"))
        .withColumn("sd", sqrt(greatest(lit(0d),
          col("sxx").cast("double") / col("n")
            - col("mean") * col("mean"))))
        .select(tsOut(timestamp_micros(col("day_us"))).as("day"),
          col("c").as("n_events"),
          round(safeDiv(col("c") - col("mean"), col("sd")), 4).as("z4"))
        .orderBy("day")
    }),

    // Signup→purchase conversion rate per signup day: did a purchase
    // follow within the horizon (q17's interval-join semantics reduced
    // to a per-signup EXISTS, then a daily rollup). The left join's
    // fan-out is bounded by purchases inside one hour per user; the
    // exists collapses it back to one row per signup before the tiny
    // day rollup.
    "q156_conversion" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val su = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("ts").as("sts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("pts"))
      val conv = su.join(pu, col("user_id") === col("p_user_id") &&
          col("pts") >= col("sts") &&
          col("pts") <= col("sts") + expr("INTERVAL 1 HOUR"), "left")
        .groupBy("signup_id", "sts")
        .agg(max(when(col("pts").isNotNull, 1).otherwise(0)).as("converted"))
      conv
        .groupBy(unix_micros(date_trunc("day", col("sts"))).as("day_us"))
        .agg(count(lit(1)).as("n_signups"),
          sum(col("converted")).as("n_converted"))
        .select(tsOut(timestamp_micros(col("day_us"))).as("day"),
          col("n_signups"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_signups"), 4)
            .as("cvr4"))
        .orderBy("day")
    }),

    // Gini concentration of customer spend per market segment — the
    // revenue-inequality screen. Σ i·x_i (rank-weighted spend, the
    // Gini numerator) needs every row's global rank WITHIN its
    // segment; instead of a per-segment sort, the spend-value
    // histogram + distributed cumulative count (GlobalRank.cumSum)
    // yield it exactly: a value v with multiplicity c entering at
    // cumulative offset p contributes v·(c·p + c·(c+1)/2). Spend is
    // held as integer CENTS (exact at any fold order; the decimal
    // widening both engines apply never rounds at these magnitudes)
    // and only the final ratio is double.
    // Herfindahl–Hirschman index — supplier-revenue concentration per
    // nation (the antitrust-standard Σshare² on the 0..10000 scale,
    // plus its reciprocal "effective supplier count"): the
    // concentration readout q148's gini ranks by inequality, HHI by
    // market power. Per-(nation, supplier) revenue collapses in one
    // decimal-exact hash agg; nation totals attach broadcast; per-
    // supplier share² terms are 8dp-quantized and decimal-summed [D2];
    // effective N derives from the already-rounded HHI (identical on
    // both engines by construction).
    "q311_hhi" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("r"))
      val tot = rev.groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"), sum(col("r")).as("rr"))
      rev.join(broadcast(tot), Seq("n_name"))
        .withColumn("term", round(
          (col("r").cast("double") / col("rr").cast("double"))
            * (col("r").cast("double") / col("rr").cast("double"))
            * 10000, 8).cast("decimal(38,8)"))
        .groupBy("n_name")
        .agg(max(col("n_suppliers")).as("n_suppliers"),
          max(col("rr")).cast("double").as("revenue"),
          round(sum(col("term")).cast("double"), 4).as("hhi4"))
        .withColumn("effn4",
          expr("CASE WHEN hhi4 > 0 THEN round(10000.0 / hhi4, 4) END"))
        .orderBy("n_name")
    }),

    // Theil T inequality index of customer revenue, DECOMPOSED by
    // market segment — the additive between/within split gini cannot
    // give (q148 ranks nations; this says how much inequality lives
    // INSIDE segments vs BETWEEN them): T = (1/N)Σ(x/μ)ln(x/μ) =
    // T_between + Σ share_g·T_g. One customer-revenue hash agg; group
    // and grand totals attach broadcast; every ln term is 8dp-
    // quantized and decimal-summed [D2] (q48/q201 precedent), ratios
    // formed from exact integer cents staged through DOUBLE.
    "q313_theil" -> ((s, dir) => {
      val cust = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
        .filter(col("x") > 0)
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("seg")), Seq("o_custkey"))
      val gt = cust.groupBy("seg")
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("xg"))
      val tot = gt.agg(sum(col("ng")).as("n"), sum(col("xg")).as("xx"))
      val per = cust.join(broadcast(gt), Seq("seg"))
        .crossJoin(broadcast(tot))
        .withColumn("rg", col("x").cast("double") * col("ng").cast("double")
          / col("xg").cast("double"))
        .withColumn("rt", col("x").cast("double") * col("n").cast("double")
          / col("xx").cast("double"))
        .withColumn("tg8", round(col("rg") * log(col("rg")), 8)
          .cast("decimal(38,8)"))
        .withColumn("tt8", round(col("rt") * log(col("rt")), 8)
          .cast("decimal(38,8)"))
        .groupBy("seg")
        .agg(max(col("ng")).as("n_cust"), max(col("xg")).as("xg"),
          round(sum(col("tg8")).cast("double")
            / max(col("ng")).cast("double"), 6).as("theil_g6"),
          sum(col("tt8")).as("tts"))
      val glob = per.agg(sum(col("tts")).as("tts"))
        .crossJoin(broadcast(tot))
        .select(round(col("tts").cast("double")
          / col("n").cast("double"), 6).as("theil_total6"))
      val btw = gt.crossJoin(broadcast(tot))
        .select(round(
          (col("xg").cast("double") / col("xx").cast("double"))
            * log((col("xg").cast("double") / col("xx").cast("double"))
              * (col("n").cast("double") / col("ng").cast("double"))), 8)
          .cast("decimal(38,8)").as("bt"))
        .agg(round(sum(col("bt")).cast("double"), 6).as("theil_between6"))
      per.crossJoin(broadcast(tot))
        .select(col("seg"), col("n_cust"),
          round(col("xg").cast("double") / col("xx").cast("double"), 6)
            .as("share6"),
          col("theil_g6"))
        .crossJoin(broadcast(glob))
        .crossJoin(broadcast(btw))
        .orderBy("seg")
    }),

    "q148_gini" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val hist = spend.join(seg, Seq("o_custkey"))
        .groupBy("c_mktsegment", "cents").agg(count(lit(1)).as("cnt"))
      val agg = graft.functions.GlobalRank
        .cumSum(hist, "c_mktsegment", "cents", "cnt")
        .withColumn("w", (col("cum") - col("cnt")) * col("cnt")
          + expr("cnt * (cnt + 1) div 2"))
        .groupBy("c_mktsegment")
        .agg(max(col("n")).as("n"),
          sum(col("cents").cast("decimal(38,0)") * col("w")).as("s_sum"),
          sum(col("cents").cast("decimal(38,0)") * col("cnt")).as("t_sum"))
      // safeDiv: an all-zero-spend segment (t_sum = 0) must yield NULL
      // like the oracle's x/0, not an ANSI throw
      agg.select(col("c_mktsegment"), col("n").as("n_cust"),
          round(col("t_sum").cast("double") / 100, 2).as("total_spend"),
          round(safeDiv(lit(2d) * col("s_sum").cast("double"),
              col("n").cast("double") * col("t_sum").cast("double"))
            - (col("n").cast("double") + 1) / col("n").cast("double"), 4)
            .as("gini4"))
        .orderBy("c_mktsegment")
    }),

    // ABC / Pareto inventory classification: parts ranked by discounted
    // revenue, class A = values whose cumulative revenue share (ranked
    // descending) stays ≤ 70%, B ≤ 90%, C the tail. Same histogram +
    // distributed-cumulative discipline as q148: revenue collapses to a
    // value histogram (distinct cents, not parts) before the global
    // cumulative, the class is a property of the cents VALUE (ties land
    // in one class on both engines), and every sum is exact decimal —
    // doubles appear only in the share comparison/output, identically
    // formed on both sides.
    "q161_abc" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem").groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
          * 100).cast("long")).as("cents"))
      val hist = rev.groupBy("cents").agg(count(lit(1)).as("cnt"))
        .withColumn("w", col("cents").cast("decimal(38,0)") * col("cnt"))
        .withColumn("ncents", -col("cents"))
        .withColumn("g", lit(1))
      val cum = graft.functions.GlobalRank.cumSum(hist, "g", "ncents", "w")
      val share = col("cum").cast("double") / col("n").cast("double")
      cum
        .withColumn("abc_class",
          when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C"))
        .groupBy("abc_class")
        .agg(sum(col("cnt")).as("n_parts"),
          (sum(col("w")).cast("double") / 100.0).as("revenue"),
          round(safeDiv(sum(col("w")).cast("double"),
            max(col("n")).cast("double")), 4).as("share4"))
        .orderBy("abc_class")
    }),

    // Day-of-week seasonality index of order revenue: per-dow mean
    // daily revenue over the global mean daily revenue. The dow is
    // computed ARITHMETICALLY (days since the 1995-01-01 Sunday epoch
    // mod 7) — no engine dayofweek() convention to disagree on — and
    // revenue is exact integer cents until the one index division.
    "q168_seasonality" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("dow",
          pmod(datediff(col("day"), lit("1995-01-01")), lit(7)))
      val dw = daily.groupBy("dow").agg(
        count(lit(1)).as("n_days"),
        sum(col("cents").cast("decimal(38,0)")).as("c"))
      val tot = dw.agg(sum(col("c")).as("tc"), sum(col("n_days")).as("td"))
      dw.crossJoin(broadcast(tot))
        .select(col("dow").cast("long").as("dow"), col("n_days"),
          (col("c").cast("double") / 100.0).as("revenue"),
          round((col("c").cast("double") / col("n_days"))
            / (col("tc").cast("double") / col("td")), 4).as("index4"))
        .orderBy("dow")
    }),

    // Decile lift table — the campaign-targeting evaluation shape:
    // orders ranked by value (desc, orderkey tie-break), split into 10
    // equal-count deciles, per-decile response rate ('F' status) and
    // lift over the base rate. The global row number is DISTRIBUTED:
    // cumSum over the value histogram gives each distinct value its
    // rank offset, and a keyed window (partitioned BY VALUE, ordered by
    // orderkey) resolves ties locally — no single-task global sort at
    // any scale [D2].
    "q174_decile_lift" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("score"),
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("lbl"))
      val hist = o.groupBy("score").agg(count(lit(1)).as("cnt"))
        .withColumn("g", lit(1))
        .withColumn("nscore", -col("score"))
      val cum = graft.functions.GlobalRank.cumSum(hist, "g", "nscore", "cnt")
        .select(col("score"), col("cnt"), col("cum"), col("n"))
      val agg = o.join(cum, Seq("score"))
        .withColumn("rwin", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("score").orderBy(col("o_orderkey").asc)))
        .withColumn("rn", col("cum") - col("cnt") + col("rwin"))
        .withColumn("decile", expr("((rn - 1) * 10) div n"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_rows"), sum(col("lbl")).as("n_pos"))
      val tot = agg.agg(sum(col("n_pos")).as("tp"), sum(col("n_rows")).as("tn"))
      agg.crossJoin(broadcast(tot))
        .select(col("decile"), col("n_rows"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n_rows"), 6).as("rate6"),
          round((col("n_pos").cast("double") / col("n_rows"))
            / (col("tp").cast("double") / col("tn")), 4).as("lift4"))
        .orderBy("decile")
    }),

    // Gaps-and-islands: longest consecutive-active-day streak per user,
    // top-10 users. The island key is the classic day − row_number()
    // constant — both evaluated in ONE keyed window pass per user
    // (bounded by that user's distinct days), then two hash aggs.
    // Ties on user_id keep the limit a total order [D1].
    "q183_streaks" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("day").asc)
      ud.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(max(col("len")).as("max_streak"))
        .orderBy(col("max_streak").desc, col("user_id").asc)
        .limit(10)
    }),

    // Mutual information between market segment and order status — the
    // feature-selection / dependence screen (q162's chi-square sibling
    // on the information-theoretic axis). All probabilities come from
    // exact integer counts; each cell's I-term quantizes to 6dp before
    // the 15-cell decimal sum (the q48/q112 log-sum convention). The
    // margins and total attach to the 15-row joint table by broadcast,
    // and the MI statistic itself re-attaches the same way, so the
    // fact-table scan runs once and nothing large ever re-shuffles.
    "q201_mutual_info" -> ((s, dir) => {
      val joint = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n_xy"))
      val segM = joint.groupBy("c_mktsegment").agg(sum(col("n_xy")).as("n_x"))
      val stM = joint.groupBy("o_orderstatus").agg(sum(col("n_xy")).as("n_y"))
      val tot = joint.agg(sum(col("n_xy")).as("n_tot"))
      val cells = joint
        .join(broadcast(segM), Seq("c_mktsegment"))
        .join(broadcast(stM), Seq("o_orderstatus"))
        .crossJoin(broadcast(tot))
        .withColumn("mi_term",
          round((col("n_xy").cast("double") / col("n_tot")) *
            log((col("n_xy") * col("n_tot")).cast("double") /
              (col("n_x") * col("n_y")).cast("double")), 6))
      cells.crossJoin(broadcast(
          cells.agg(round(sum(col("mi_term").cast(Dec)).cast("double"), 4)
            .as("mi_nats"))))
        .select(col("c_mktsegment"), col("o_orderstatus"), col("n_xy"),
          col("mi_term"), col("mi_nats"))
        .orderBy("c_mktsegment", "o_orderstatus")
    }),

    // Session path mining — the top click-path report: event-type
    // sequences within q52's 30-minute-gap sessions, counted across all
    // sessions. Session ids come from the same gaps-and-islands pass as
    // the q52 oracle; the path string builds from ONE session-bounded
    // collect (sorted on (ts, event_id) INSIDE the array so the agg is
    // partition-layout-invariant — q27's convention; session length is
    // gap-bounded, the one shape where a collected list is scale-safe).
    "q218_session_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val sess = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("brk", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            >= 1800000000L, 1).otherwise(0))
        .withColumn("sid", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "sid")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(ts, event_id, event_type))), " +
          "x -> x.event_type), '>')").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(15)
    }),

    // Atkinson inequality index (ε = 1) — the welfare-economics
    // companion of q148's Gini and q313's Theil: A = 1 − geomean/mean
    // of per-customer spend, by nation (ε = 1 weights transfers at
    // the bottom of the distribution; Atkinson 1970, public
    // textbook). Unlike Gini's rank machinery this is ONE moment
    // pass: per-customer cents exact integers, per-row ln
    // 6dp-quantized and decimal-summed [D2], the index a
    // shared-string IEEE tree (AtkFormula) over the exact moments,
    // the mean [D5] integer-staged half-up. Two keyed aggs + one
    // broadcast dim join — map-side combinable at 100 TB.
    "q329_atkinson" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val nat = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
          Seq("c_nationkey"))
      // cents > 0 guards the ln: zero-spend customers cannot appear
      // (an order row implies positive totalprice) but a 100 TB feed
      // with refund rows could produce one — excluded, documented in
      // the oracle identically
      spend.filter(col("cents") > 0)
        .join(nat, Seq("o_custkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("cents")).as("s_cents"),
          sum(round(log(col("cents").cast("double")), 6).cast(Dec))
            .as("s_ln"))
        .select(col("n_name").as("nation"), col("n_cust"),
          expr("(2 * s_cents + n_cust) div (2 * n_cust)")
            .as("mean_cents"),
          expr(AtkFormula.atk6).as("atkinson6"))
        .orderBy("nation")
    }),

    // Transition-entropy profile of the event process — the
    // information-theoretic closure of the q108/q259 Markov pair: per
    // source state, the Shannon entropy of its next-event
    // distribution (how PREDICTABLE is what follows a `view`?), and
    // the chain's entropy rate Σ π(a)·H(a) under the empirical
    // occupancy π — the single number that says how much signal a
    // next-event model can possibly extract. One lag window per user
    // (q108's transition build), one (prev, next) hash agg, per-cell
    // −p·ln p terms 6dp-quantized + decimal-summed [D2]; −0.0 from
    // single-destination states dies in the decimal cast; the rate
    // weights the UNROUNDED per-state decimal sums by exact counts.
    "q339_transition_entropy" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
      val cnt = tr.groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("c"))
      val per = cnt
        .withColumn("n", sum(col("c")).over(
          Window.partitionBy("prev_type")))
        .groupBy("prev_type")
        .agg(max(col("n")).as("n_out"), count(lit(1)).as("n_dest"),
          sum(round(-(col("c").cast("double") / col("n").cast("double"))
            * log(col("c").cast("double") / col("n").cast("double")), 6)
            .cast(Dec)).as("hd"))
      val glob = per.agg(sum(col("n_out")).as("nn"),
          sum(col("hd") * col("n_out")).as("hw"))
        .select(round(col("hw").cast("double")
          / col("nn").cast("double"), 6).as("rate6"))
      per.crossJoin(broadcast(glob))
        .select(col("prev_type"), col("n_out"), col("n_dest"),
          round(col("hd").cast("double"), 6).as("h6"), col("rate6"))
        .orderBy("prev_type")
    }),

    // Lorenz curve points — the CURVE behind q148's Gini scalar and
    // q329's Atkinson (a dashboard plots this; the scalars only rank
    // it): customers in ascending spend order, cut into deciles, each
    // with its spend share and the cumulative share up to it (the
    // "bottom 50% hold X‰" table). The rank is the distributed
    // GlobalRank (never a single-task sort); the 10-row decile relation
    // is post-agg dimension-bounded, so its running sum is a documented
    // bounded global window (q89 class); shares are [D5] truncating
    // permilles of exact integer cents.
    "q346_lorenz" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val (rk, n) = graft.functions.GlobalRank.rowNumberWithTotal(
        spend, Seq(col("cents").asc, col("o_custkey").asc))
      val per = rk
        .withColumn("decile",
          expr(s"(rn - 1) * 10 div ${n}L + 1").cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("cents"))
      val tot = per.agg(sum(col("cents")).as("tot"))
      per
        .withColumn("cum", sum(col("cents")).over(Window
          .orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_cust"), col("cents"),
          expr("1000 * cents div tot").as("share_pm"),
          expr("1000 * cum div tot").as("cum_share_pm"))
        .orderBy("decile")
    }),

    // Price-elasticity screen per part type — the cross-sectional
    // log-log demand slope (elasticity = d ln q / d ln p; public
    // micro-econ textbook): across a type's parts, does higher unit
    // price co-move with lower purchased quantity, and how steeply?
    // Per part the exact integer collapse (Σqty, Σcents) yields ONE
    // 6dp-quantized (ln unit-price, ln quantity) point [D2]; the
    // per-type OLS slope reuses q344's SlopeFormula VERBATIM over the
    // decimal-staged moments — one scan, one part-dim broadcast join,
    // two keyed aggs.
    "q353_elasticity" -> ((s, dir) => {
      val pp = t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("v"))
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_type"))),
          Seq("l_partkey"))
        .select(col("p_type"),
          round(log(col("v").cast("double") / col("q").cast("double")),
            6).as("x"),
          round(log(col("q").cast("double")), 6).as("y"))
      pp.groupBy("p_type").agg(count(lit(1)).as("nn"),
          sum(col("x").cast(Dec)).as("sx"),
          sum(col("y").cast(Dec)).as("sy"),
          sum(round(col("x") * col("x"), 6).cast(Dec)).as("sxx"),
          sum(round(col("x") * col("y"), 6).cast(Dec)).as("sxy"))
        .select(col("p_type"), col("nn").as("n_parts"),
          expr(StatsQueries.SlopeFormula.slope4).as("elasticity4"))
        .orderBy("p_type")
    })
  )

  /** q329's Atkinson(ε=1) over the exact per-nation moments (n_cust,
    * s_cents = Σ spend, s_ln = Σ 6dp-quantized ln spend) — shared
    * text, one IEEE tree. */
  private[operators] object AtkFormula {
    private val n = "CAST(n_cust AS DOUBLE)"
    val atk6: String = s"round(1.0 - exp(CAST(s_ln AS DOUBLE) / $n) " +
      s"/ (CAST(s_cents AS DOUBLE) / $n), 6)"
  }

  /** The q259 replay: identical journey truncation and transition
    * extraction (window + agg), identical ppm matrix, the scenario
    * transform and absorbing self-loops as VALUES, and MkRounds
    * unrolled mass-vector rounds; the removal ratio divides via the
    * sign-explicit CASE (truncation wobble can push a scenario a few
    * ppm past base, and DuckDB's // floors on negatives). */
  private def markovOracleSql: String = {
    val scVals = ("base" +: MkChannels).map(c => s"('$c')").mkString(", ")
    val loopVals = ("base" +: MkChannels).flatMap(sc =>
      Seq(s"('$sc', 'CONV', 'CONV', CAST(1000000 AS BIGINT))",
        s"('$sc', 'END', 'END', CAST(1000000 AS BIGINT))"))
      .mkString(",\n     ")
    val rounds = (1 to MkRounds).map { t =>
      s"""v$t AS (
         |  SELECT v.sc, m.j AS state,
         |         CAST(SUM(v.mass * m.p) // 1000000 AS BIGINT) AS mass
         |  FROM v${t - 1} v JOIN msc m ON m.sc = v.sc AND m.i = v.state
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH rn AS (
       |  SELECT user_id, event_type,
       |         ROW_NUMBER() OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS rn
       |  FROM events WHERE user_id IS NOT NULL),
       |pm AS (
       |  SELECT user_id,
       |         MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS pmin,
       |         MAX(rn) AS rmax
       |  FROM rn GROUP BY 1),
       |tr AS (
       |  SELECT r.user_id, r.rn, r.event_type, p.pmin, p.rmax
       |  FROM rn r JOIN pm p USING (user_id)
       |  WHERE p.pmin IS NULL OR r.rn <= p.pmin),
       |stepped AS (
       |  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
       |           ORDER BY rn), 'START') AS src,
       |         CASE WHEN event_type = 'purchase' THEN 'CONV'
       |              ELSE event_type END AS dst
       |  FROM tr
       |  UNION ALL
       |  SELECT event_type, 'END' FROM tr
       |  WHERE pmin IS NULL AND rn = rmax),
       |cnt AS (SELECT src, dst, COUNT(*) AS c FROM stepped GROUP BY 1, 2),
       |rs AS (SELECT src, CAST(SUM(c) AS BIGINT) AS rs FROM cnt GROUP BY 1),
       |p AS (
       |  SELECT c.src AS i, c.dst AS j,
       |         CAST((1000000 * c.c) // r.rs AS BIGINT) AS p
       |  FROM cnt c JOIN rs r USING (src)),
       |sc(sc) AS (VALUES $scVals),
       |loops(sc, i, j, p) AS (VALUES
       |     $loopVals),
       |msc AS (
       |  SELECT s.sc, p.i,
       |         CASE WHEN s.sc <> 'base' AND p.j = s.sc THEN 'END'
       |              ELSE p.j END AS j,
       |         CAST(SUM(p.p) AS BIGINT) AS p
       |  FROM p CROSS JOIN sc s
       |  WHERE s.sc = 'base' OR p.i <> s.sc
       |  GROUP BY 1, 2, 3
       |  UNION ALL SELECT * FROM loops),
       |v0 AS (SELECT sc, 'START' AS state,
       |              CAST(1000000 AS BIGINT) AS mass FROM sc),
       |$rounds,
       |conv AS (SELECT sc, mass AS conv_ppm FROM v$MkRounds
       |         WHERE state = 'CONV'),
       |b AS (SELECT conv_ppm AS base_ppm FROM conv WHERE sc = 'base')
       |SELECT c.sc AS channel, b.base_ppm, c.conv_ppm,
       |       CAST(CASE WHEN b.base_ppm - c.conv_ppm < 0
       |            THEN -((1000 * (c.conv_ppm - b.base_ppm)) // b.base_ppm)
       |            ELSE (1000 * (b.base_ppm - c.conv_ppm)) // b.base_ppm
       |            END AS BIGINT) AS removal_pm
       |FROM conv c CROSS JOIN b
       |WHERE c.sc <> 'base'
       |ORDER BY channel ASC NULLS FIRST""".stripMargin
  }

  /** The q260 replay: identical exposure/outcome windows, bitmask and
    * coalition-rate CTEs, the full 16-mask grid with the zero
    * convention, and the exact twelfth-weighted marginal sums; both
    * truncating ratios divide via the sign-explicit CASE (marginals
    * and Shapley values can be negative). */
  private def shapleyOracleSql: String = {
    val maskSum = MkChannels.zipWithIndex.map { case (c, i) =>
      s"MAX(CASE WHEN r.rn <= $ShapExpo AND r.event_type = '$c'" +
        s" THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n       + ")
    val chanVals = MkChannels.zipWithIndex.map { case (c, i) =>
      s"('$c', CAST(${1L << i} AS BIGINT))"
    }.mkString(", ")
    s"""WITH rn0 AS (
       |  SELECT user_id, event_type,
       |         ROW_NUMBER() OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS rn
       |  FROM events WHERE user_id IS NOT NULL),
       |rn AS (SELECT * FROM rn0 WHERE rn <= $ShapOutcome),
       |usr AS (
       |  SELECT r.user_id,
       |         $maskSum AS mask,
       |         MAX(CASE WHEN r.rn > $ShapExpo
       |             AND r.event_type = 'purchase'
       |             THEN 1 ELSE 0 END) AS conv,
       |         MAX(CASE WHEN r.rn > $ShapExpo THEN 1 ELSE 0 END)
       |           AS in_exp
       |  FROM rn r
       |  GROUP BY 1
       |  HAVING MAX(CASE WHEN r.rn > $ShapExpo THEN 1 ELSE 0 END) = 1),
       |vobs AS (
       |  SELECT mask, CAST((1000000 * SUM(conv)) // COUNT(*) AS BIGINT) AS v
       |  FROM usr GROUP BY 1),
       |grid AS (SELECT unnest(range(0, ${1 << MkChannels.size})) AS mask),
       |va AS (
       |  SELECT g.mask, COALESCE(vobs.v, 0) AS v
       |  FROM grid g LEFT JOIN vobs ON vobs.mask = g.mask),
       |chan(channel, bit) AS (VALUES $chanVals),
       |pairs AS (
       |  SELECT c.channel,
       |         CASE bit_count(a.mask) WHEN 0 THEN 3 WHEN ${
            MkChannels.size - 1} THEN 3 ELSE 1 END AS wnum,
       |         b.v - a.v AS dv
       |  FROM va a CROSS JOIN chan c
       |  JOIN va b ON b.mask = (a.mask | c.bit)
       |  WHERE (a.mask & c.bit) = 0),
       |phi AS (
       |  SELECT channel, CAST(SUM(wnum * dv) AS BIGINT) AS num
       |  FROM pairs GROUP BY 1),
       |p2 AS (
       |  SELECT channel,
       |         CAST(CASE WHEN num < 0 THEN -((-num) // 12)
       |              ELSE num // 12 END AS BIGINT) AS shapley_ppm
       |  FROM phi),
       |tt AS (SELECT CAST(SUM(shapley_ppm) AS BIGINT) AS tot FROM p2)
       |SELECT p.channel, p.shapley_ppm,
       |       CAST(CASE WHEN t.tot > 0 THEN
       |              CASE WHEN p.shapley_ppm < 0
       |                   THEN -((-(1000 * p.shapley_ppm)) // t.tot)
       |                   ELSE (1000 * p.shapley_ppm) // t.tot END
       |            END AS BIGINT) AS share_pm
       |FROM p2 p CROSS JOIN tt t
       |ORDER BY channel ASC NULLS FIRST""".stripMargin
  }

  /** q371's oracle: the q108 lag chain, the restricted probability
    * grid, MkvRounds unrolled power-iteration CTEs with the same
    * 8dp-quantized decimal-summed products, and the occupancy/tv
    * attach. */
  private def markovSteadyOracleSql: String = {
    val rounds = (1 to MkvRounds).map { r =>
      s"""pi$r AS (
         |  SELECT p.j AS st,
         |         ROUND(CAST(SUM(CAST(ROUND(pi.pi * p.p8, 8)
         |           AS DECIMAL(38,8))) AS DOUBLE), 8) AS pi
         |  FROM p JOIN pi${r - 1} pi ON pi.st = p.i
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (
       |  SELECT LAG(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts ASC, event_id ASC) AS prev_type,
       |         event_type
       |  FROM events),
       |c AS (
       |  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |states AS (SELECT DISTINCT prev_type AS st FROM c),
       |c2 AS (SELECT c.* FROM c JOIN states ON c.event_type = states.st),
       |rs AS (SELECT prev_type, CAST(SUM(c) AS BIGINT) AS ct
       |       FROM c2 GROUP BY 1),
       |p AS (
       |  SELECT c2.prev_type AS i, c2.event_type AS j,
       |         ROUND(CAST(c2.c AS DOUBLE) / CAST(rs.ct AS DOUBLE), 8)
       |           AS p8
       |  FROM c2 JOIN rs USING (prev_type)),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
       |pi0 AS (
       |  SELECT st, ROUND(1.0 / CAST(k AS DOUBLE), 8) AS pi
       |  FROM states CROSS JOIN k),
       |$rounds,
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tot FROM rs),
       |emp AS (
       |  SELECT prev_type AS st,
       |         ROUND(CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE), 8)
       |           AS emp8
       |  FROM rs CROSS JOIN tot),
       |rows_ AS (
       |  SELECT s.st, COALESCE(pi.pi, 0.0) AS pi8, emp.emp8,
       |         ROUND(ABS(COALESCE(pi.pi, 0.0) - emp.emp8), 8) AS gap8
       |  FROM states s LEFT JOIN pi$MkvRounds pi ON pi.st = s.st
       |  JOIN emp ON emp.st = s.st),
       |tv AS (
       |  SELECT ROUND(CAST(SUM(CAST(gap8 AS DECIMAL(38,8))) AS DOUBLE)
       |           / 2.0, 6) AS tv6
       |  FROM rows_)
       |SELECT st AS state, pi8 AS pi_steady8, emp8, gap8, tv6
       |FROM rows_ CROSS JOIN tv
       |ORDER BY state ASC NULLS FIRST""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q371_markov_steady" -> markovSteadyOracleSql,

    // the same distinct (user, epoch-week) flags, per-user lag/lead
    // classification, gap-charged churn, act-driven left join
    "q382_growth_accounting" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(date_trunc('day', ts)) // 604800000000 AS w
        |  FROM events),
        |l AS (
        |  SELECT user_id, w,
        |         LAG(w) OVER (PARTITION BY user_id ORDER BY w ASC)
        |           AS pw,
        |         LEAD(w) OVER (PARTITION BY user_id ORDER BY w ASC)
        |           AS nw,
        |         MIN(w) OVER (PARTITION BY user_id) AS fw
        |  FROM wk),
        |act AS (
        |  SELECT w,
        |         CAST(SUM(CASE WHEN w = fw THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_new,
        |         CAST(SUM(CASE WHEN w != fw AND pw = w - 1
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_retained,
        |         CAST(SUM(CASE WHEN w != fw AND (pw IS NULL
        |                       OR pw != w - 1) THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_resurrected
        |  FROM l GROUP BY 1),
        |churn AS (
        |  SELECT w + 1 AS w, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM l WHERE nw IS NULL OR nw != w + 1 GROUP BY 1)
        |SELECT w AS week,
        |       COALESCE(n_new, 0) + COALESCE(n_retained, 0)
        |         + COALESCE(n_resurrected, 0) AS n_active,
        |       COALESCE(n_new, 0) AS n_new,
        |       COALESCE(n_retained, 0) AS n_retained,
        |       COALESCE(n_resurrected, 0) AS n_resurrected,
        |       COALESCE(churn.n_churned, 0) AS n_churned,
        |       ROUND(CASE WHEN COALESCE(churn.n_churned, 0) != 0 THEN
        |         CAST(COALESCE(n_new, 0) + COALESCE(n_resurrected, 0)
        |              AS DOUBLE)
        |           / CAST(COALESCE(churn.n_churned, 0) AS DOUBLE)
        |       END, 4) AS quick_ratio4
        |FROM act FULL OUTER JOIN churn USING (w)
        |ORDER BY week ASC NULLS FIRST""".stripMargin,
    "q259_markov_attribution" -> markovOracleSql,
    "q260_shapley_attribution" -> shapleyOracleSql,

    // the DiD replay: identical cells, broadcast-totals complement,
    // milli-cent truncating means (all operands positive) and pure
    // integer differences
    "q264_did" ->
      s"""WITH cells AS (
         |  SELECT c.c_mktsegment AS segment,
         |         o.o_orderdate >= DATE '$DidCut' AS post,
         |         COUNT(*) AS n,
         |         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
         |              AS BIGINT) AS sc
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT post, CAST(SUM(n) AS BIGINT) AS tn,
         |         CAST(SUM(sc) AS BIGINT) AS ts
         |  FROM cells GROUP BY 1),
         |m AS (
         |  SELECT c.segment, c.post,
         |         CAST((c.sc * 1000) // c.n AS BIGINT) AS mt,
         |         CAST(CASE WHEN t.tn > c.n THEN
         |              ((t.ts - c.sc) * 1000) // (t.tn - c.n) END
         |              AS BIGINT) AS mc
         |  FROM cells c JOIN tot t USING (post))
         |SELECT segment,
         |       MAX(CASE WHEN NOT post THEN mt END) AS treat_pre,
         |       MAX(CASE WHEN post THEN mt END) AS treat_post,
         |       MAX(CASE WHEN NOT post THEN mc END) AS ctrl_pre,
         |       MAX(CASE WHEN post THEN mc END) AS ctrl_post,
         |       MAX(CASE WHEN post THEN mt END)
         |         - MAX(CASE WHEN NOT post THEN mt END)
         |         - (MAX(CASE WHEN post THEN mc END)
         |            - MAX(CASE WHEN NOT post THEN mc END)) AS did_mc
         |FROM m GROUP BY 1
         |ORDER BY segment ASC NULLS FIRST""".stripMargin,
    "q142_user_growth" ->
      """WITH f AS (
        |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        |), d AS (
        |  SELECT date_trunc('day', first_ts) AS day, COUNT(*) AS new_users
        |  FROM f GROUP BY 1)
        |SELECT CAST(day AS TIMESTAMP) AS day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY day ASC NULLS FIRST""".stripMargin,

    "q138_attribution" ->
      """WITH attr AS (
        |  SELECT event_type, value,
        |    LAST_VALUE(CASE WHEN event_type != 'purchase'
        |               THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'none') AS touch,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS attributed
        |FROM attr WHERE event_type = 'purchase'
        |GROUP BY 1
        |ORDER BY touch ASC NULLS FIRST""".stripMargin,

    "q47_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM c
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |  ORDER BY cnt DESC NULLS LAST, o_orderpriority ASC NULLS FIRST) = 1
        |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q48_entropy" ->
      """WITH hb AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS nh
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(SUM(nh) AS BIGINT) AS n,
        |         COUNT(*) AS n_hours
        |  FROM hb GROUP BY 1
        |), terms AS (
        |  SELECT hb.event_type, tot.n, tot.n_hours,
        |         ROUND(-(CAST(nh AS DOUBLE) / n)
        |               * ln(CAST(nh AS DOUBLE) / n), 6) AS term
        |  FROM hb JOIN tot USING (event_type))
        |SELECT event_type, MAX(n) AS n_events, MAX(n_hours) AS n_hours,
        |       ROUND(CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 4)
        |         AS entropy
        |FROM terms GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "q49_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id,
        |         value
        |  FROM events
        |), o AS (
        |  SELECT event_type, hr, value AS open FROM b
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, hr
        |    ORDER BY ts ASC, event_id ASC) = 1
        |), c AS (
        |  SELECT event_type, hr, value AS close FROM b
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, hr
        |    ORDER BY ts DESC, event_id DESC) = 1
        |), a AS (
        |  SELECT event_type, hr, MAX(value) AS high, MIN(value) AS low,
        |         COUNT(*) AS n
        |  FROM b GROUP BY 1, 2)
        |SELECT a.event_type, a.hr, o.open, c.close, a.high, a.low, a.n
        |FROM a JOIN o USING (event_type, hr) JOIN c USING (event_type, hr)
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin,

    "q53_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), v1 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |  WHERE e.event_type = 'view' GROUP BY 1
        |), p1 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN v1 ON e.user_id = v1.user_id AND e.ts > v1.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1
        |), agg AS (
        |  SELECT COUNT(*) AS n_signup, COUNT(v1.t2) AS n_view,
        |         COUNT(p1.t3) AS n_purchase
        |  FROM s1 LEFT JOIN v1 USING (user_id) LEFT JOIN p1 USING (user_id))
        |SELECT stage, step, n_users FROM (
        |  SELECT 1 AS stage, 'signup_first' AS step, n_signup AS n_users
        |  FROM agg
        |  UNION ALL
        |  SELECT 2, 'view_after_signup', n_view FROM agg
        |  UNION ALL
        |  SELECT 3, 'purchase_after_view', n_purchase FROM agg) u
        |ORDER BY stage ASC NULLS FIRST""".stripMargin,

    "q54_retention" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
        |SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_day,
        |       CAST(date_diff('day', f.cohort, a.d) AS INT) AS day_offset,
        |       COUNT(*) AS n_users
        |FROM a JOIN f USING (user_id)
        |WHERE date_diff('day', f.cohort, a.d) <= 7
        |GROUP BY 1, 2
        |ORDER BY cohort_day ASC NULLS FIRST, day_offset ASC NULLS FIRST""".stripMargin,

    "q108_event_transitions" ->
      """WITH tr AS (
        |  SELECT LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC) AS prev_type,
        |         event_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, event_type, COUNT(*) AS cnt FROM tr
        |  WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type)
        |SELECT prev_type, event_type, cnt, rn FROM (
        |  SELECT prev_type, event_type, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY prev_type
        |           ORDER BY cnt DESC NULLS LAST, event_type ASC NULLS FIRST)
        |           AS rn
        |  FROM c) x
        |WHERE rn <= 3
        |ORDER BY prev_type ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin,

    // The mean/CV expression trees mirror the Spark builder node for
    // node (same association order), so every double is identical.
    "q125_event_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC) AS gap_us
        |  FROM events
        |), a AS (
        |  SELECT user_id, COUNT(*) AS n_events, COUNT(gap_us) AS n_gaps,
        |         SUM(gap_us) AS sum_us,
        |         SUM(CAST(ROUND((CAST(gap_us AS DOUBLE) / 1000000.0)
        |             * (CAST(gap_us AS DOUBLE) / 1000000.0), 6)
        |             AS DECIMAL(38,6))) AS m2
        |  FROM g GROUP BY user_id HAVING COUNT(gap_us) >= 2)
        |SELECT user_id, n_events,
        |       ROUND(CAST(sum_us AS DOUBLE) / n_gaps / 1000000.0, 4)
        |         AS mean_gap4,
        |       ROUND(CASE WHEN CAST(sum_us AS DOUBLE) / n_gaps / 1000000.0
        |                       != 0
        |             THEN sqrt(greatest(CAST(m2 AS DOUBLE) / n_gaps
        |                  - (CAST(sum_us AS DOUBLE) / n_gaps / 1000000.0)
        |                  * (CAST(sum_us AS DOUBLE) / n_gaps / 1000000.0),
        |                  0.0))
        |                  / (CAST(sum_us AS DOUBLE) / n_gaps / 1000000.0)
        |             END, 4) AS cv4
        |FROM a ORDER BY user_id ASC NULLS FIRST""".stripMargin,

    // scores by the same integer arithmetic on (row_number, n) — no
    // ntile remainder-rule dependence
    "q145_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |           AS spend
        |  FROM orders GROUP BY o_custkey),
        |rk AS (
        |  SELECT spend,
        |    ROW_NUMBER() OVER (ORDER BY last_order ASC NULLS FIRST,
        |                                o_custkey ASC NULLS FIRST) AS rr,
        |    ROW_NUMBER() OVER (ORDER BY n_orders ASC NULLS FIRST,
        |                                o_custkey ASC NULLS FIRST) AS fr,
        |    ROW_NUMBER() OVER (ORDER BY spend ASC NULLS FIRST,
        |                                o_custkey ASC NULLS FIRST) AS mr,
        |    COUNT(*) OVER () AS n
        |  FROM cust)
        |SELECT CAST((rr - 1) * 4 // n + 1 AS INT) AS r_score,
        |       CAST((fr - 1) * 4 // n + 1 AS INT) AS f_score,
        |       CAST((mr - 1) * 4 // n + 1 AS INT) AS m_score,
        |       COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(spend AS DECIMAL(38,6))) AS DOUBLE)
        |         AS sum_spend
        |FROM rk GROUP BY 1, 2, 3
        |ORDER BY r_score ASC NULLS FIRST, f_score ASC NULLS FIRST,
        |         m_score ASC NULLS FIRST""".stripMargin,

    "q146_cohort_ltv" ->
      """WITH c AS (
        |  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT c.cohort,
        |         CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
        |              - (year(c.cohort) * 12 + month(c.cohort)) AS INT)
        |           AS age,
        |         SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev_dec
        |  FROM orders o JOIN c ON o.o_custkey = c.o_custkey
        |  GROUP BY 1, 2)
        |SELECT CAST(cohort AS TIMESTAMP) AS cohort, age,
        |       CAST(rev_dec AS DOUBLE) AS revenue,
        |       CAST(SUM(rev_dec) OVER (PARTITION BY cohort ORDER BY age ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS cum_revenue
        |FROM r
        |ORDER BY cohort ASC NULLS FIRST, age ASC NULLS FIRST""".stripMargin,

    "q149_order_gaps" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |         epoch_us(o_orderdate) - LAG(epoch_us(o_orderdate)) OVER (
        |           PARTITION BY o_custkey
        |           ORDER BY o_orderdate ASC, o_orderkey ASC) AS gap_us
        |  FROM orders),
        |gg AS (
        |  SELECT c.c_mktsegment, g.gap_us
        |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
        |  WHERE g.gap_us IS NOT NULL),
        |st AS (SELECT c_mktsegment, COUNT(*) AS n_gaps,
        |              SUM(gap_us) AS sum_us
        |       FROM gg GROUP BY 1),
        |md AS (
        |  SELECT c_mktsegment, gap_us AS med_us FROM (
        |    SELECT c_mktsegment, gap_us,
        |           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |             ORDER BY gap_us ASC NULLS FIRST) AS rn,
        |           COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        |    FROM gg) x
        |  WHERE rn = (n + 1) // 2)
        |SELECT st.c_mktsegment, st.n_gaps,
        |       ROUND(CAST(st.sum_us AS DOUBLE) / st.n_gaps
        |             / 86400000000.0, 4) AS mean_gap_days4,
        |       ROUND(CAST(md.med_us AS DOUBLE) / 86400000000.0, 4)
        |         AS median_gap_days4
        |FROM st JOIN md ON st.c_mktsegment = md.c_mktsegment
        |ORDER BY st.c_mktsegment ASC NULLS FIRST""".stripMargin,

    "q152_autocorr" ->
      """WITH d AS (
        |  SELECT epoch_us(date_trunc('day', ts)) AS day_us, COUNT(*) AS c
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT a.c AS x, b.c AS y
        |  FROM d a JOIN d b ON b.day_us = a.day_us + 86400000000),
        |st AS (
        |  SELECT COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |         SUM(CAST(y AS HUGEINT) * y) AS syy,
        |         SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM p)
        |SELECT n,
        |       ROUND((CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |         / SQRT((CAST(sxx AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |              * (CAST(syy AS DOUBLE)
        |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)), 4)
        |         AS autocorr4
        |FROM st""".stripMargin,

    // the same epoch-week flags, ppm retention, 1e-8 ln quantization,
    // integer OLS moments, and the SAME HlFormula trees
    "q396_retention_half_life" ->
      s"""WITH wk AS (
         |  SELECT DISTINCT user_id,
         |         epoch_us(date_trunc('day', ts)) // 604800000000 AS w
         |  FROM events),
         |fw AS (SELECT user_id, MIN(w) AS fw FROM wk GROUP BY 1),
         |nu AS (SELECT COUNT(*) AS nu FROM fw),
         |pts AS (
         |  SELECT o, CAST(ROUND(ln(CAST(rppm AS DOUBLE) / 1e6) * 1e8)
         |                 AS BIGINT) AS yn8
         |  FROM (
         |    SELECT wk.w - fw.fw AS o,
         |           (COUNT(*) * 1000000) // MAX(nu.nu) AS rppm
         |    FROM wk JOIN fw USING (user_id) CROSS JOIN nu
         |    WHERE wk.w - fw.fw BETWEEN 1 AND $HlMaxOffset
         |    GROUP BY 1) z
         |  WHERE rppm > 0),
         |m AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(o) AS BIGINT) AS sx,
         |         CAST(SUM(yn8) AS BIGINT) AS sy,
         |         CAST(SUM(o * o) AS BIGINT) AS sxx,
         |         CAST(SUM(o * yn8) AS BIGINT) AS sxy
         |  FROM pts)
         |SELECT CAST(n AS BIGINT) AS n_offsets,
         |       ${HlFormula.slope6} AS slope6,
         |       ${HlFormula.hl4} AS half_life_weeks4
         |FROM m""".stripMargin,

    // the same shifted equi-join per lag over the identical daily
    // table, HUGEINT moment staging, the q152 correlation tree
    "q389_ccf" ->
      """WITH d AS (
        |  SELECT epoch_us(date_trunc('day', ts)) AS day_us,
        |         CAST(SUM(CASE WHEN event_type = 'view'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |         CAST(SUM(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-7, 8)),
        |p AS (
        |  SELECT l.lag, a.x, b.y
        |  FROM d a CROSS JOIN l
        |  JOIN d b ON b.day_us = a.day_us + l.lag * 86400000000),
        |st AS (
        |  SELECT lag, COUNT(*) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy,
        |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |         SUM(CAST(y AS HUGEINT) * y) AS syy,
        |         SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
        |       ROUND((CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |         / SQRT((CAST(sxx AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |              * (CAST(syy AS DOUBLE)
        |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
        |         4) AS ccf4
        |FROM st ORDER BY lag ASC NULLS FIRST""".stripMargin,

    "q154_anomaly_days" ->
      """WITH d AS (
        |  SELECT date_trunc('day', ts) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT COUNT(*) AS n, SUM(c) AS sx,
        |         SUM(CAST(c AS HUGEINT) * c) AS sxx
        |  FROM d),
        |ms AS (
        |  SELECT n, CAST(sx AS DOUBLE) / n AS mean,
        |         SQRT(GREATEST(CAST(0 AS DOUBLE),
        |           CAST(sxx AS DOUBLE) / n
        |             - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)))
        |           AS sd
        |  FROM st)
        |SELECT CAST(d.day AS TIMESTAMP) AS day, d.c AS n_events,
        |       ROUND((d.c - ms.mean) / ms.sd, 4) AS z4
        |FROM d CROSS JOIN ms
        |ORDER BY d.day ASC NULLS FIRST""".stripMargin,

    "q156_conversion" ->
      """WITH su AS (
        |  SELECT event_id AS signup_id, user_id, ts AS sts
        |  FROM events WHERE event_type = 'signup'),
        |pu AS (
        |  SELECT user_id AS p_user_id, ts AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT su.signup_id, su.sts,
        |         MAX(CASE WHEN pu.pts IS NOT NULL THEN 1 ELSE 0 END)
        |           AS converted
        |  FROM su LEFT JOIN pu ON su.user_id = pu.p_user_id
        |    AND pu.pts >= su.sts
        |    AND pu.pts <= su.sts + INTERVAL 1 HOUR
        |  GROUP BY 1, 2)
        |SELECT CAST(date_trunc('day', sts) AS TIMESTAMP) AS day,
        |       COUNT(*) AS n_signups,
        |       CAST(SUM(converted) AS BIGINT) AS n_converted,
        |       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 4) AS cvr4
        |FROM conv GROUP BY 1
        |ORDER BY day ASC NULLS FIRST""".stripMargin,

    // rank-weighted spend from the value histogram: value v with
    // multiplicity c at cumulative offset p contributes
    // v·(c·p + c·(c+1)/2); HUGEINT keeps the products exact like
    // Spark's decimal(38,0)
    // identical decimal revenue collapse, 8dp share² terms, and the
    // effective-N derivation from the already-rounded HHI
    "q311_hhi" ->
      """WITH rev AS (
        |  SELECT n.n_name, s.s_suppkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount)
        |           AS DECIMAL(38,6))) AS r
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |         CAST(SUM(r) AS DECIMAL(38,6)) AS rr
        |  FROM rev GROUP BY 1),
        |tm AS (
        |  SELECT rev.n_name,
        |         ROUND((CAST(rev.r AS DOUBLE) / CAST(tot.rr AS DOUBLE))
        |           * (CAST(rev.r AS DOUBLE) / CAST(tot.rr AS DOUBLE))
        |           * 10000, 8) AS term
        |  FROM rev JOIN tot USING (n_name)),
        |hh AS (
        |  SELECT n_name,
        |         ROUND(CAST(SUM(CAST(term AS DECIMAL(38,8))) AS DOUBLE),
        |           4) AS hhi4
        |  FROM tm GROUP BY 1)
        |SELECT hh.n_name, tot.n_suppliers,
        |       CAST(tot.rr AS DOUBLE) AS revenue, hh.hhi4,
        |       CASE WHEN hh.hhi4 > 0
        |            THEN ROUND(10000.0 / hh.hhi4, 4) END AS effn4
        |FROM hh JOIN tot USING (n_name)
        |ORDER BY n_name ASC NULLS FIRST""".stripMargin,

    // identical customer collapse, group/grand totals, 8dp ln terms
    "q313_theil" ->
      """WITH cust AS (
        |  SELECT o.o_custkey, c.c_mktsegment AS seg,
        |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |  HAVING SUM(CAST(round(o_totalprice * 100) AS BIGINT)) > 0),
        |gt AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS ng,
        |              CAST(SUM(x) AS BIGINT) AS xg
        |       FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
        |               CAST(SUM(xg) AS BIGINT) AS xx
        |        FROM gt),
        |per AS (
        |  SELECT cust.seg,
        |         ROUND((CAST(x AS DOUBLE) * CAST(ng AS DOUBLE)
        |             / CAST(xg AS DOUBLE))
        |           * ln(CAST(x AS DOUBLE) * CAST(ng AS DOUBLE)
        |             / CAST(xg AS DOUBLE)), 8) AS tg8,
        |         ROUND((CAST(x AS DOUBLE) * CAST(n AS DOUBLE)
        |             / CAST(xx AS DOUBLE))
        |           * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE)
        |             / CAST(xx AS DOUBLE)), 8) AS tt8
        |  FROM cust JOIN gt ON gt.seg = cust.seg CROSS JOIN tot),
        |sg AS (
        |  SELECT per.seg,
        |         ROUND(CAST(SUM(CAST(tg8 AS DECIMAL(38,8))) AS DOUBLE)
        |           / CAST(MAX(gt.ng) AS DOUBLE), 6) AS theil_g6,
        |         CAST(SUM(CAST(tt8 AS DECIMAL(38,8))) AS DECIMAL(38,8))
        |           AS tts
        |  FROM per JOIN gt ON gt.seg = per.seg
        |  GROUP BY 1),
        |gl AS (
        |  SELECT ROUND(CAST(SUM(tts) AS DOUBLE) / CAST(tot.n AS DOUBLE),
        |           6) AS theil_total6
        |  FROM sg CROSS JOIN tot GROUP BY tot.n),
        |btw AS (
        |  SELECT ROUND(CAST(SUM(CAST(ROUND(
        |           (CAST(xg AS DOUBLE) / CAST(xx AS DOUBLE))
        |           * ln((CAST(xg AS DOUBLE) / CAST(xx AS DOUBLE))
        |             * (CAST(n AS DOUBLE) / CAST(ng AS DOUBLE))), 8)
        |           AS DECIMAL(38,8))) AS DOUBLE), 6) AS theil_between6
        |  FROM gt CROSS JOIN tot)
        |SELECT gt.seg, gt.ng AS n_cust,
        |       ROUND(CAST(gt.xg AS DOUBLE) / CAST(tot.xx AS DOUBLE), 6)
        |         AS share6,
        |       sg.theil_g6, gl.theil_total6, btw.theil_between6
        |FROM gt JOIN sg ON sg.seg = gt.seg
        |CROSS JOIN tot CROSS JOIN gl CROSS JOIN btw
        |ORDER BY gt.seg ASC NULLS FIRST""".stripMargin,

    "q148_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |hist AS (
        |  SELECT c.c_mktsegment, s.cents, COUNT(*) AS cnt
        |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT c_mktsegment, cents, cnt,
        |         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY cents ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM hist),
        |agg AS (
        |  SELECT c_mktsegment, MAX(n) AS n,
        |         SUM(CAST(cents AS HUGEINT)
        |             * ((cum - cnt) * cnt + cnt * (cnt + 1) // 2)) AS s_sum,
        |         SUM(CAST(cents AS HUGEINT) * cnt) AS t_sum
        |  FROM cum GROUP BY 1)
        |SELECT c_mktsegment, CAST(n AS BIGINT) AS n_cust,
        |       ROUND(CAST(t_sum AS DOUBLE) / 100, 2) AS total_spend,
        |       ROUND(2.0 * CAST(s_sum AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * CAST(t_sum AS DOUBLE))
        |           - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 4)
        |         AS gini4
        |FROM agg ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin,

    "q161_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |             AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1),
        |hist AS (
        |  SELECT cents, COUNT(*) AS cnt FROM rev GROUP BY 1),
        |cum AS (
        |  SELECT cents, cnt,
        |         SUM(CAST(cents AS HUGEINT) * cnt) OVER (ORDER BY cents DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum_cents,
        |         SUM(CAST(cents AS HUGEINT) * cnt) OVER () AS total
        |  FROM hist),
        |cls AS (
        |  SELECT cents, cnt, total,
        |         CASE WHEN CAST(cum_cents AS DOUBLE)
        |                   / CAST(total AS DOUBLE) <= 0.7 THEN 'A'
        |              WHEN CAST(cum_cents AS DOUBLE)
        |                   / CAST(total AS DOUBLE) <= 0.9 THEN 'B'
        |              ELSE 'C' END AS abc_class
        |  FROM cum)
        |SELECT abc_class, CAST(SUM(cnt) AS BIGINT) AS n_parts,
        |       CAST(SUM(CAST(cents AS HUGEINT) * cnt) AS DOUBLE) / 100.0
        |         AS revenue,
        |       ROUND(CASE WHEN MAX(total) != 0 THEN
        |         CAST(SUM(CAST(cents AS HUGEINT) * cnt) AS DOUBLE)
        |           / CAST(MAX(total) AS DOUBLE) END, 4) AS share4
        |FROM cls GROUP BY 1 ORDER BY abc_class ASC NULLS FIRST""".stripMargin,

    // dow arithmetically from the 1995-01-01 Sunday epoch — no engine
    // dayofweek() convention in the gate
    "q168_seasonality" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |d2 AS (
        |  SELECT date_diff('day', DATE '1995-01-01', day) % 7 AS dow,
        |         cents
        |  FROM daily),
        |dw AS (
        |  SELECT dow, COUNT(*) AS n_days,
        |         SUM(CAST(cents AS HUGEINT)) AS c
        |  FROM d2 GROUP BY 1),
        |tot AS (SELECT SUM(c) AS tc, SUM(n_days) AS td FROM dw)
        |SELECT CAST(dow AS BIGINT) AS dow, n_days,
        |       CAST(c AS DOUBLE) / 100.0 AS revenue,
        |       ROUND((CAST(c AS DOUBLE) / n_days)
        |             / (CAST(tc AS DOUBLE) / td), 4) AS index4
        |FROM dw CROSS JOIN tot ORDER BY dow ASC NULLS FIRST""".stripMargin,

    "q174_decile_lift" ->
      """WITH o AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score,
        |         o_orderkey,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lbl
        |  FROM orders),
        |r AS (
        |  SELECT lbl,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, o_orderkey ASC) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM o),
        |d AS (SELECT ((rn - 1) * 10) // n AS decile, lbl FROM r),
        |agg AS (
        |  SELECT decile, COUNT(*) AS n_rows, SUM(lbl) AS n_pos
        |  FROM d GROUP BY 1),
        |tot AS (SELECT SUM(n_pos) AS tp, SUM(n_rows) AS tn FROM agg)
        |SELECT decile, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_pos AS BIGINT) AS n_pos,
        |       ROUND(CAST(n_pos AS DOUBLE) / n_rows, 6) AS rate6,
        |       ROUND((CAST(n_pos AS DOUBLE) / n_rows)
        |             / (CAST(tp AS DOUBLE) / tn), 4) AS lift4
        |FROM agg CROSS JOIN tot ORDER BY decile ASC NULLS FIRST""".stripMargin,

    "q183_streaks" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                                  ORDER BY day) AS INTEGER) AS grp
        |  FROM ud),
        |streak AS (
        |  SELECT user_id, COUNT(*) AS len FROM r GROUP BY user_id, grp),
        |best AS (
        |  SELECT user_id, MAX(len) AS max_streak FROM streak GROUP BY 1)
        |SELECT user_id, max_streak FROM best
        |ORDER BY max_streak DESC, user_id ASC LIMIT 10""".stripMargin,

    "q201_mutual_info" ->
      """WITH joint AS (
        |  SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_xy
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |segm AS (SELECT c_mktsegment, SUM(n_xy) AS n_x FROM joint GROUP BY 1),
        |stm AS (SELECT o_orderstatus, SUM(n_xy) AS n_y FROM joint GROUP BY 1),
        |tot AS (SELECT SUM(n_xy) AS n_tot FROM joint),
        |cells AS (
        |  SELECT j.c_mktsegment, j.o_orderstatus, j.n_xy,
        |    ROUND((CAST(j.n_xy AS DOUBLE) / n_tot) *
        |          LN(CAST(j.n_xy * n_tot AS DOUBLE) /
        |             CAST(n_x * n_y AS DOUBLE)), 6) AS mi_term
        |  FROM joint j
        |  JOIN segm USING (c_mktsegment)
        |  JOIN stm USING (o_orderstatus)
        |  CROSS JOIN tot)
        |SELECT c_mktsegment, o_orderstatus, CAST(n_xy AS BIGINT) AS n_xy,
        |       mi_term,
        |       (SELECT ROUND(CAST(SUM(CAST(mi_term AS DECIMAL(38,6)))
        |                          AS DOUBLE), 4) FROM cells) AS mi_nats
        |FROM cells
        |ORDER BY c_mktsegment ASC NULLS FIRST,
        |         o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q218_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(brk) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path ASC LIMIT 15""".stripMargin,

    // the moment replay: same cents, same 6dp ln quantization, the
    // SAME AtkFormula string, [D5] integer-staged mean
    "q329_atkinson" ->
      s"""WITH spend AS (
         |  SELECT o_custkey,
         |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
         |  FROM orders GROUP BY 1),
         |per AS (
         |  SELECT n_name,
         |         COUNT(*) AS n_cust,
         |         SUM(cents) AS s_cents,
         |         SUM(CAST(round(ln(CAST(cents AS DOUBLE)), 6)
         |           AS DECIMAL(38,6))) AS s_ln
         |  FROM spend
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation ON n_nationkey = c_nationkey
         |  WHERE cents > 0
         |  GROUP BY 1)
         |SELECT n_name AS nation, CAST(n_cust AS BIGINT) AS n_cust,
         |       CAST((2 * s_cents + n_cust) // (2 * n_cust) AS BIGINT)
         |         AS mean_cents,
         |       ${AtkFormula.atk6} AS atkinson6
         |FROM per
         |ORDER BY nation ASC NULLS FIRST""".stripMargin,

    // the entropy replay: same lag transitions, same per-cell
    // −p·ln p 6dp quantization, same count-weighted rate
    "q339_transition_entropy" ->
      """WITH tr AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |           AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type, COUNT(*) AS c
        |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |cells AS (
        |  SELECT prev_type, event_type, c,
        |         SUM(c) OVER (PARTITION BY prev_type) AS n
        |  FROM cnt),
        |per AS (
        |  SELECT prev_type, CAST(MAX(n) AS BIGINT) AS n_out,
        |         COUNT(*) AS n_dest,
        |         SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |           AS DECIMAL(38,6))) AS hd
        |  FROM cells GROUP BY 1),
        |g AS (
        |  SELECT ROUND(CAST(SUM(hd * n_out) AS DOUBLE)
        |    / CAST(SUM(n_out) AS DOUBLE), 6) AS rate6 FROM per)
        |SELECT prev_type, n_out, CAST(n_dest AS BIGINT) AS n_dest,
        |       ROUND(CAST(hd AS DOUBLE), 6) AS h6, rate6
        |FROM per, g
        |ORDER BY prev_type ASC NULLS FIRST""".stripMargin,

    // the curve replay: same ascending rank, decile cut, running sum,
    // truncating permilles
    "q346_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT cents,
        |         ROW_NUMBER() OVER (ORDER BY cents ASC,
        |           o_custkey ASC) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM spend),
        |per AS (
        |  SELECT CAST((rn - 1) * 10 // n + 1 AS INT) AS decile,
        |         COUNT(*) AS n_cust,
        |         CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM rk GROUP BY 1),
        |cc AS (
        |  SELECT decile, n_cust, cents,
        |         SUM(cents) OVER (ORDER BY decile ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         SUM(cents) OVER () AS tot
        |  FROM per)
        |SELECT decile, CAST(n_cust AS BIGINT) AS n_cust, cents,
        |       CAST(1000 * cents // tot AS BIGINT) AS share_pm,
        |       CAST(1000 * cum // tot AS BIGINT) AS cum_share_pm
        |FROM cc
        |ORDER BY decile ASC NULLS FIRST""".stripMargin,

    // the elasticity replay: same exact per-part collapse, same 6dp
    // log quantization, the SAME SlopeFormula (q344's)
    "q353_elasticity" ->
      s"""WITH pk AS (
         |  SELECT l_partkey,
         |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
         |           AS BIGINT) AS v
         |  FROM lineitem GROUP BY 1),
         |pp AS (
         |  SELECT p_type,
         |         round(ln(CAST(v AS DOUBLE) / CAST(q AS DOUBLE)), 6)
         |           AS x,
         |         round(ln(CAST(q AS DOUBLE)), 6) AS y
         |  FROM pk JOIN part ON p_partkey = l_partkey),
         |per AS (
         |  SELECT p_type, COUNT(*) AS nn,
         |         SUM(CAST(x AS DECIMAL(38,6))) AS sx,
         |         SUM(CAST(y AS DECIMAL(38,6))) AS sy,
         |         SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS sxx,
         |         SUM(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS sxy
         |  FROM pp GROUP BY 1)
         |SELECT p_type, CAST(nn AS BIGINT) AS n_parts,
         |       ${StatsQueries.SlopeFormula.slope4} AS elasticity4
         |FROM per
         |ORDER BY p_type ASC NULLS FIRST""".stripMargin
  )
}
