package graft.api

import graft.{Dets, Iterate}
import graft.Iterate.{Concurrent, Sequential}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-facing graph analytics over ARBITRARY undirected edge lists —
  * degrees, the degree-oriented triangle census, Adamic–Adar link
  * prediction, and weighted label-propagation communities. These back
  * the hash-verified q165/q226/q227/q230 queries; see
  * [[graft.operators.GraphQueries]] for the verified bindings and the
  * DuckDB-oracle replays.
  *
  * Conventions: an "undirected edge list" is one row per edge with
  * `xCol < yCol`; weights are exact integer counts (co-occurrence
  * multiplicities), so every aggregation here is fold-order-invariant
  * without decimal staging except the AA score, which 6dp-rounds its
  * per-apex terms before a decimal sum ([D2]).
  *
  * Scale intent: every operator is join + keyed aggregation over the
  * edge relation — no driver-side adjacency, no collect. The census
  * orients edges by (degree, id) so out-neighborhoods are O(√m) and
  * hub vertices never blow up the wedge join; link prediction is
  * documented to run on a SUPPORT-FLOORED backbone (or the q228-style
  * apex sample) because raw Σ deg² wedge enumeration does not survive
  * dense graphs; label propagation is one equi-join + argmax per
  * round. Every loop here keeps its round state through
  * [[graft.Iterate]], so round k never replays round k−1.
  *
  * The co-purchase graph layer shares four `private[graft]` pieces
  * with [[EtlService]] and the graph/basket keys, each written once:
  * [[basketPairs]] (the per-basket x < y self-join of a (basket, item)
  * incidence; [[pairWeights]] is its grouped (x, y, w) form),
  * [[directed]] (both orientations of an x < y edge list), the
  * Ruzicka pair scorer behind [[weightedJaccard]] and
  * [[itemNeighbors]], and [[itemCfScores]] (history votes over
  * neighbour lists, bought items dropped, per-user top-k).
  */
object GraphOps {

  /** The distinct per-basket item pairs of a (basket, item) incidence:
    * (basketCol, x, y) with x < y. The incidence is deduplicated first,
    * so an item listed twice in one basket pairs once (on an already
    * distinct incidence the optimizer drops the second aggregate).
    * Σ|basket|² work, never |items|². */
  private[graft] def basketPairs(inc: DataFrame, basketCol: String,
    itemCol: String): DataFrame = {
    val li = inc.select(basketCol, itemCol).distinct()
    li.select(col(basketCol), col(itemCol).as("x"))
      .join(li.select(col(basketCol), col(itemCol).as("y")), Seq(basketCol))
      .filter(col("x") < col("y"))
  }

  /** Weighted undirected pairs (x, y, w) of a (basket, item) incidence:
    * x < y, w = number of baskets holding both — [[basketPairs]]
    * grouped. Exact integer counts. */
  private[graft] def pairWeights(inc: DataFrame, basketCol: String,
    itemCol: String): DataFrame =
    basketPairs(inc, basketCol, itemCol)
      .groupBy("x", "y").agg(count(lit(1)).as("w"))

  /** Both orientations of an undirected x < y edge list: (u, v), or
    * (u, v, w) when a weight column is named. */
  private[graft] def directed(und: DataFrame, xCol: String, yCol: String,
    wCol: Option[String] = None): DataFrame = {
    val w = wCol.map(c => col(c).as("w")).toSeq
    und.select(Seq(col(xCol).as("u"), col(yCol).as("v")) ++ w: _*)
      .unionAll(und.select(Seq(col(yCol).as("u"), col(xCol).as("v")) ++ w: _*))
  }

  /** Per-vertex degree of an undirected x < y edge list: (v, d). */
  def degrees(und: DataFrame, xCol: String, yCol: String): DataFrame =
    und.select(col(xCol).as("v"))
      .unionAll(und.select(col(yCol).as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** Exact degree-oriented triangle census over an undirected x < y
    * edge relation: orient every edge from its lower-(degree, id)
    * endpoint so each out-neighborhood is O(√m) and the wedge join
    * never blows up on hub vertices — the shape that survives
    * power-law graphs at 100 TB. Returns (degree relation,
    * single-row n_triangles). The count is orientation-invariant, so
    * a plain id-oriented three-way join (the DuckDB oracle) must
    * agree exactly. */
  def triangleCensus(und: DataFrame, xCol: String, yCol: String)
  : (DataFrame, DataFrame) = {
    val (deg, rows) = triangleRows(und, xCol, yCol)
    (deg, rows.agg(count(lit(1)).as("n_triangles")))
  }

  /** The census's triangle ROWS (src, w1, w2 — each triangle exactly
    * once, degree-oriented) plus the degree table: the per-vertex
    * consumers (q308's local clustering coefficient) explode the three
    * roles instead of re-running the wedge join per role. */
  def triangleRows(und: DataFrame, xCol: String, yCol: String,
    degOpt: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val u = und.select(col(xCol).as("x"), col(yCol).as("y"))
    // callers holding a memoized (v, d) degree table pass it in (r14:
    // GraphQueries.triRows shares shared:graph_degrees) — otherwise
    // one is built and pinned here
    val deg = degOpt.getOrElse(degrees(u, "x", "y").localCheckpoint(true))
    // orient x→y iff (deg, id) of x < (deg, id) of y
    val ed = u
      .join(deg.select(col("v").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("d").as("dy")), Seq("y"))
      .select(
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("src"),
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("y"))
          .otherwise(col("x")).as("dst"))
      .localCheckpoint(true)
    // compact-forward (Latapy 2008, public method): a triangle a→b,
    // a→c, b→c (orientation order a < b < c) is found on its FIRST
    // edge (a, b) as c ∈ N⁺(a) ∩ N⁺(b) — b→c exists iff (deg, id) of
    // b < c, so each triangle lands exactly once and (src, w1, w2) =
    // (a, b, c) matches the wedge census ordering bit for bit. This
    // replaces the earlier wedge enumeration (Σ out-deg² rows through
    // a join — measured 41 M wedge rows against 1.2 M edges for 1.9 M
    // triangles at sf0.1) with one out-adjacency build (m rows, one
    // shuffle) and a per-edge sorted-array intersection (Σ (d⁺(a) +
    // d⁺(b)) work, ≤ O(√m) per row by the orientation bound), so the
    // heavy relation is never joined row-per-wedge. Measured r14:
    // shared:tri_census 28 s → see OPTIMIZATION_r14.md.
    val adj = ed.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    val tri = ed
      .join(adj.select(col("src"), col("nb").as("__na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nb").as("__nb")),
        Seq("dst"))
      .select(col("src"), col("dst").as("w1"),
        explode(array_intersect(col("__na"), col("__nb"))).as("w2"))
    (deg, tri)
  }

  /** Adamic–Adar link prediction over an undirected x < y edge list:
    * unconnected pairs sharing a common neighbour, ranked by
    * Σ over shared apexes of 1/ln(deg) (6dp-rounded terms,
    * decimal-summed [D2], ties on the pair key), bounded top-k.
    * Returns (px, py, cn, aa6).
    *
    * The wedge join is Σ deg² over THIS edge relation — callers pass
    * a support-floored backbone (q227) or sample apexes first (q228);
    * handing the raw edge list of a dense graph to this method is the
    * plan that cost 273 s at sf0.1 before the round-9 rescope. Only
    * apexes with degree ≥ 2 can close a wedge, so the explicit d ≥ 2
    * filter keeps ln > 0 on every summed term in both engines. */
  def adamicAdar(und: DataFrame, xCol: String, yCol: String, k: Int)
  : DataFrame = {
    val u = und.select(col(xCol).as("x"), col(yCol).as("y"))
    val ed = directed(u, "x", "y")
    val deg = ed.groupBy("u").agg(count(lit(1)).as("d"))
    val invlog = deg.filter(col("d") >= 2).select(col("u"),
      round(lit(1d) / log(col("d").cast("double")), 6).as("il"))
    val e1 = ed.join(invlog, Seq("u"))
      .select(col("u"), col("v").as("px"), col("il"))
    val e2 = ed.select(col("u"), col("v").as("py"))
    val scored = e1.join(e2, Seq("u"))
      .filter(col("px") < col("py"))
      .groupBy("px", "py")
      .agg(count(lit(1)).as("cn"),
        sum(col("il").cast(Dets.Dec)).cast("double").as("aa6"))
    scored.join(u.select(col("x").as("px"), col("y").as("py")),
        Seq("px", "py"), "left_anti")
      .orderBy(col("aa6").desc, col("px").asc, col("py").asc)
      .limit(k)
  }

  /** Random walk with restart (personalized PageRank) from a one-row
    * seed frame (column `v`) over an undirected weighted x < y edge
    * list: r₀ puts mass 1 on the seed; each iteration spreads
    * `damping` of every vertex's mass along its edges in proportion
    * to edge weight and restarts `1 − damping` at the seed. Returns
    * the SPARSE mass vector (v, pr — 6dp) after `iters` rounds —
    * vertices the walk has not reached carry no row, so early
    * iterations cost only the frontier's edges, not the whole graph.
    *
    * Determinism [D2], strengthened: the mass vector lives in EXACT
    * INTEGER MICRO-UNITS (6dp × 10⁶). Per-edge spreading and the
    * damping combine both round half-up as pure integer arithmetic —
    * `(2a + b) div (2b)` — so every iteration is bit-identical on any
    * engine, any partition layout, by construction. Double-staged 6dp
    * rounding is NOT enough here: pru·w/wdeg lands exactly on
    * 7th-decimal …5 boundaries (e.g. 0.000235/94 = 2.5e-6), where
    * Spark rounds the shortest decimal rendering of the double and
    * DuckDB the exact binary value — a measured 1-ulp divergence at
    * sf0.01. The mass vector is kept per round as
    * [[graft.Iterate.Sequential]] state. */
  def randomWalkRestart(und: DataFrame, xCol: String, yCol: String,
    wCol: String, seed: DataFrame, damping: Double, iters: Int)
  : DataFrame = {
    val dampBd = java.math.BigDecimal.valueOf(damping)
    val dNum = dampBd.unscaledValue.longValueExact
    val dDen = math.pow(10, dampBd.scale.toDouble).toLong
    val Micro = 1000000L
    require(Micro % dDen == 0 && dNum >= 0 && dNum <= dDen,
      s"damping must be a [0,1] decimal with <= 6 places, got $damping")
    val restartMicro = Micro - Micro / dDen * dNum
    val ed0 = directed(und, xCol, yCol, Some(wCol))
    val wdeg = ed0.groupBy("u").agg(sum(col("w")).as("wdeg"))
    val ed = ed0.join(wdeg, Seq("u")).localCheckpoint(true)
    val s = seed.select(col("v")).localCheckpoint(true)
    val r0 = s.withColumn("pr6", lit(Micro))
    Iterate.rounds(r0, iters, Sequential) { (r, _) =>
      val contrib = ed
        .join(r.select(col("v").as("u"), col("pr6").as("pru6")), Seq("u"))
        .select(col("v"),
          expr("(2L * pru6 * w + wdeg) div (2L * wdeg)").as("c6"))
        .groupBy("v").agg(sum(col("c6")).as("sc6"))
      // sparse union of the contribution set and the seed row: the
      // seed may be absent from round 1's contributions (no self
      // loops), and absent vertices must stay absent, not become 0s
      contrib.join(s.withColumn("st", lit(1)), Seq("v"), "full")
        .select(col("v"),
          (when(col("st") === 1, lit(restartMicro)).otherwise(lit(0L))
            + expr(s"(2L * $dNum * coalesce(sc6, 0L) + $dDen)" +
              s" div (2L * $dDen)")).as("pr6"))
    }.select(col("v"), (col("pr6").cast("double") / Micro).as("pr"))
  }

  /** Weighted-Jaccard (Ruzicka) similarity between adjacency
    * profiles — item-item collaborative filtering over a weighted
    * co-occurrence graph: for each vertex pair sharing a neighbour,
    * Σ min(wx, wy) over common neighbours divided by Σ max over the
    * union of both profiles, which for full adjacency vectors reduces
    * to cmin / (S(x) + S(y) − cmin) with S the weighted degree (the
    * mutual edge, if any, needs no correction: dimension y of x's
    * profile meets an implicit 0 in y's own, so its min is 0 and its
    * max is already inside S(x)). Returns the top-k pairs
    * (px, py, cn, wjac4).
    *
    * Integer weights make cmin and the denominator exact; the 4dp
    * ratio rounds half-up as pure integer arithmetic
    * `(2·cmin·10⁴ + d) div (2d)` — bit-identical across engines (the
    * q231 convention; a double-staged round is a coin flip whenever
    * the rational ratio lands on a 5th-decimal …5 boundary, which
    * small-integer ratios constantly do). The pair enumeration is the
    * Σ deg² wedge join — callers pass a support-floored backbone or
    * sample first, as with [[adamicAdar]]. */
  def weightedJaccard(und: DataFrame, xCol: String, yCol: String,
    wCol: String, k: Int): DataFrame =
    ruzickaPairs(und, xCol, yCol, wCol)
      .select(col("px"), col("py"), col("cn"),
        (col("wjac_bp").cast("double") / 10000d).as("wjac4"))
      .orderBy(col("wjac4").desc, col("px").asc, col("py").asc)
      .limit(k)

  /** Per-item top-`kPerItem` neighbours under the same Ruzicka
    * (weighted-Jaccard) similarity as [[weightedJaccard]], returned as
    * (item, rec, wjac_bp) — the SERVING layout of an item-CF
    * recommender (a bounded neighbour list per item, not a global
    * top-k of pairs). wjac_bp is the similarity in EXACT integer 1e-4
    * units (the same half-up integer ratio), so downstream score sums
    * over a user's history are order-invariant int64 arithmetic, never
    * a float reduction. Both directions of each pair rank, so every
    * item carries its own list; ties break (score desc, rec asc);
    * the per-group heap bounds the shuffle at kPerItem rows per
    * (item, partition). */
  def itemNeighbors(und: DataFrame, xCol: String, yCol: String,
    wCol: String, kPerItem: Int): DataFrame = {
    val sc = ruzickaPairs(und, xCol, yCol, wCol)
    val both = sc.select(col("px").as("item"), col("py").as("rec"),
        col("wjac_bp"))
      .unionAll(sc.select(col("py").as("item"), col("px").as("rec"),
        col("wjac_bp")))
    graft.plans.GraftOps.topKPerGroup(both, Seq(col("item")),
        Seq(col("wjac_bp").desc, col("rec").asc), kPerItem,
        rankName = "__rn")
      .select("item", "rec", "wjac_bp")
  }

  /** The Ruzicka scorer of [[weightedJaccard]] and [[itemNeighbors]]:
    * every px < py pair sharing a neighbour, with its common-neighbour
    * count `cn` and the ratio in exact integer 1e-4 units `wjac_bp`
    * (half-up, `(2·cmin·10⁴ + d) div (2d)`). When a caller drops
    * `cn`, the optimizer prunes its count from the aggregate. */
  private def ruzickaPairs(und: DataFrame, xCol: String, yCol: String,
    wCol: String): DataFrame = {
    val ed = directed(und, xCol, yCol, Some(wCol))
    val sdeg = ed.groupBy("u").agg(sum(col("w")).as("s"))
    val e1 = ed.select(col("u"), col("v").as("px"), col("w").as("wx"))
    val e2 = ed.select(col("u"), col("v").as("py"), col("w").as("wy"))
    e1.join(e2, Seq("u")).filter(col("px") < col("py"))
      .select(col("px"), col("py"), least(col("wx"), col("wy")).as("m"))
      .groupBy("px", "py")
      .agg(count(lit(1)).as("cn"), sum(col("m")).as("cmin"))
      .join(sdeg.select(col("u").as("px"), col("s").as("sx")), Seq("px"))
      .join(sdeg.select(col("u").as("py"), col("s").as("sy")), Seq("py"))
      .withColumn("d", col("sx") + col("sy") - col("cmin"))
      .select(col("px"), col("py"), col("cn"),
        expr("(2L * cmin * 10000L + d) div (2L * d)").as("wjac_bp"))
  }

  /** Item-CF scoring over per-item neighbour lists (item, rec, wjac_bp —
    * the [[itemNeighbors]] layout): every (userCol, itemCol) history
    * row votes its item's neighbours, votes sum per (user, rec) into
    * `score` (exact int64), items already in the user's history are
    * dropped, and the top `k` per user survive, ranked (score desc,
    * rec asc). `hist` must be distinct per (user, item). Returns
    * (userCol, rec, score, rank). */
  private[graft] def itemCfScores(hist: DataFrame, userCol: String,
    itemCol: String, nbr: DataFrame, k: Int): DataFrame = {
    val cand = hist.join(nbr, hist(itemCol) === nbr("item"))
      .groupBy(col(userCol), col("rec"))
      .agg(sum(col("wjac_bp")).as("score"))
      .join(hist.select(col(userCol), col(itemCol).as("rec")),
        Seq(userCol, "rec"), "left_anti")
    graft.plans.GraftOps.topKPerGroup(cand, Seq(col(userCol)),
        Seq(col("score").desc, col("rec").asc), k, rankName = "rank")
      .select(userCol, "rec", "score", "rank")
  }

  /** Multi-source BFS over an undirected x < y edge list: hop
    * distances 0..`maxLvl` from EVERY seed in one frontier pass — the
    * (src, v) keyed frontier replaces k separate traversals with one,
    * which is the only shape that scales when k landmarks probe a
    * 100 TB graph (k scans of the edge relation total, not k·levels).
    * Returns (src, v, lvl) with lvl = hop distance, min-level
    * deduplicated per (src, v); vertices beyond `maxLvl` hops carry no
    * row. Each level is one equi-join of the frontier against the
    * edge relation; the distance set is [[graft.Iterate.Concurrent]]
    * state, because the frontier and seen sides of the next level's
    * join both read it.
    *
    * `seeds` holds one seed vertex per row in column `seedCol`
    * (default "src"); the returned frame always names it `src`
    * alongside (v, lvl). */
  def multiSourceBfs(und: DataFrame, xCol: String, yCol: String,
    seeds: DataFrame, maxLvl: Int, seedCol: String = "src"): DataFrame = {
    val ed = directed(und, xCol, yCol)
    val seeded = Iterate.keep(seeds.select(col(seedCol).as("src"))
      .withColumn("v", col("src")).withColumn("lvl", lit(0)), Concurrent)
    Iterate.rounds(seeded, maxLvl, Concurrent) { (dist, lvl) =>
      val next = dist.filter(col("lvl") === lvl)
        .select(col("src"), col("v").as("u"))
        .join(ed, Seq("u"))
        .select(col("src"), col("v")).distinct()
        .join(dist.select(col("src"), col("v"), lit(1).as("seen")),
          Seq("src", "v"), "left")
        .filter(col("seen").isNull)
        .select(col("src"), col("v"), lit(lvl + 1).as("lvl"))
      dist.unionByName(next)
    }
  }

  /** k-core of an undirected x < y edge list by iterative peeling:
    * each round drops every vertex whose CURRENT degree is below `k`
    * (and its edges), until no vertex drops or `maxRounds` is reached.
    * Returns (v, core_deg) — the surviving vertices with their
    * within-core degree; an empty frame when the graph has no k-core.
    *
    * Each round is one degree aggregation plus two anti-joins on the
    * SHRINKING edge relation — the standard O(rounds)-pass degeneracy
    * peel, and the only shape that works at 100 TB (per-vertex
    * priority-queue peeling is inherently sequential). The edge
    * relation and the round's drop set are [[graft.Iterate.Concurrent]]
    * state: the degree union and the two anti-joins each read them
    * from two subtrees. Rounds to fixpoint are data-dependent but small
    * in practice (bounded by the degeneracy ordering's depth); extra
    * rounds past the fixpoint are no-ops, so a caller replaying this
    * with a FIXED unroll (the oracle) gets the identical relation as
    * the early-exiting loop — provided the fixpoint is reached within
    * `maxRounds`, which the caller should verify at its scale (for
    * q238, OperatorSpec compares the capped peel with one allowed four
    * times the cap at sf0.001 and sf0.01). */
  def kCore(und: DataFrame, xCol: String, yCol: String, k: Int,
    maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "need k >= 1 and maxRounds >= 1")
    var e = Iterate.keep(
      und.select(col(xCol).as("x"), col(yCol).as("y")), Concurrent)
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val drop = Iterate.keep(e.select(col("x").as("u"))
        .unionAll(e.select(col("y").as("u")))
        .groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select("u"), Concurrent)
      if (drop.isEmpty) done = true
      else {
        e = Iterate.keep(
          e.join(drop.select(col("u").as("x")), Seq("x"), "left_anti")
            .join(drop.select(col("u").as("y")), Seq("y"), "left_anti"),
          Concurrent)
        r += 1
      }
    }
    e.select(col("x").as("v")).unionAll(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_deg"))
  }

  /** Synchronous weighted label propagation: labels start as vertex
    * ids; each round every vertex adopts the label carrying the
    * largest total edge weight among its neighbours' CURRENT labels
    * (ties → smallest label — deterministic [D2], and exactly
    * replayable in SQL as an unrolled ROW_NUMBER argmax). Returns
    * (v, label) after `iters` rounds.
    *
    * Weights are integer counts, so the per-(vertex, label) sums are
    * exact; each round is one equi-join of the edge relation against
    * the current assignment plus one keyed argmax; the assignment is
    * [[graft.Iterate.Sequential]] state. Isolated vertices cannot occur
    * (every vertex in an edge list has degree ≥ 1). */
  def labelPropagation(und: DataFrame, xCol: String, yCol: String,
    wCol: String, iters: Int): DataFrame = {
    val ed = directed(und, xCol, yCol, Some(wCol)).localCheckpoint(true)
    val init = Iterate.keep(ed.select(col("u").as("v")).distinct()
      .withColumn("label", col("v")), Sequential)
    val rn = row_number().over(
      Window.partitionBy("u").orderBy(col("s").desc, col("label").asc))
    Iterate.rounds(init, iters, Sequential) { (labels, _) =>
      ed.join(labels.select(col("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label"))
        .agg(sum(col("w")).as("s"))
        .withColumn("rn", rn).filter(col("rn") === 1)
        .select(col("u").as("v"), col("label"))
    }
  }
}
