package graft.operators

import graft.{Dets, Iterate}
import graft.Iterate.Sequential
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational co-occurrence graphs —
  * the family beyond q77's connected components: weighted PageRank on
  * the part co-purchase graph (parts are linked when they ship in the
  * same order).
  *
  * Scale notes: the edge build is a per-order self-join — Σ|order|²
  * with order size bounded by the schema (≤ 7 lines), never |corpus|².
  * Each PageRank iteration is one equi-join of the edge table against
  * the current rank vector plus a keyed aggregation; the edge table is
  * checkpointed once and the per-iteration ranks are kept by
  * [[graft.Iterate]], so the k-th iteration does not replay the
  * previous k−1.
  * Determinism [D2]: per-edge contributions are 6dp-rounded BEFORE the
  * decimal sum (fold-order invariant), ranks re-round to 6dp per
  * iteration, and the final top-20 ties on part key — bit-identical on
  * any partition layout and in the oracle's unrolled-CTE replay.
  */
object GraphQueries {
  import Dets._

  /** Damping factor and iteration count, mirrored in the oracle. */
  private val Damping = 0.85
  private val Iters = 3

  /** The PORTABLE seeded sampler both q226 and q228 key on (round 10 —
    * previously xxhash64, which DuckDB cannot replay, leaving both
    * estimators "no oracle by design"): a fixed degree-4 polynomial
    * over Z_M (M = 1e9+7), evaluated by Horner with a reduction after
    * every step so no intermediate exceeds M² < 2^63 — only BIGINT
    * `*`, `+`, `%` on non-negative values, so DuckDB replays it
    * bit-exactly (the q78/q80 portable-hash precedent). A polynomial
    * mixer is the key difference from the affine spread hash those
    * samplers use: an affine map mod M is a Weyl sequence — residues
    * mod a small sampling modulus step by a CONSTANT for consecutive
    * keys, which correlates the co-survival of a triangle's three
    * edges and biased the DOULION estimate by +67% when tried (a
    * degree-1 map is only 2-wise independent over random coefficients;
    * degree 4 is 5-wise, and empirically the measured census error
    * lands back in the xxhash64 band — RecallAuditSpec pins it).
    * Sampling stays a pure function of the data [D1] — bit-identical
    * on any partition layout AND in the oracle replay, so the
    * estimates themselves are now hash-gated rows, not just
    * spec-banded. Coefficients are splitmix64 residues of fixed seeds,
    * embedded as literals in both engines. */
  private[graft] val HashM = graft.functions.TextFunctions.HashMod
  private[graft] val Spread = 2654435761L
  private[graft] val MixC: IndexedSeq[Long] = (0 until 5).map { i =>
    java.lang.Long.remainderUnsigned(
      graft.functions.TextFunctions.mix64(0x226L + i), HashM)
  }

  private[graft] def polyMix(r: org.apache.spark.sql.Column) =
    MixC.init.foldRight(lit(MixC.last)) { (c, acc) =>
      pmod(acc * r + lit(c), lit(HashM))
    }
  /** The same Horner chain as [[polyMix]], as oracle SQL over `rExpr`
    * (which must already be reduced into [0, M)). */
  private[graft] def polyMixSql(rExpr: String): String =
    MixC.init.foldRight(MixC.last.toString) { (c, acc) =>
      s"(($acc) * ($rExpr) + $c) % $HashM"
    }

  /** Edge key folded into [0, M) before mixing; the affine combine is
    * fine HERE because the polynomial above does the mixing. */
  private[graft] def pairMix(x: org.apache.spark.sql.Column,
    y: org.apache.spark.sql.Column) =
    polyMix(pmod(pmod(x, lit(HashM)) * lit(Spread) + pmod(y, lit(HashM)),
      lit(HashM)))
  /** the non-negative reduction of `x` into [0, M) — SQL `%` follows
    * the dividend's sign while the Spark side uses pmod, so a bare
    * `x % M` would diverge the engines on a negative key; this form
    * matches pmod for every int64 input. */
  private[graft] def pmodSql(x: String): String =
    s"((($x) % $HashM) + $HashM) % $HashM"
  private[graft] def pairMixSql(x: String, y: String): String =
    polyMixSql(s"(${pmodSql(x)} * $Spread + ${pmodSql(y)}) % $HashM")

  /** q226 edge sampling: keep an edge iff
    * pairMix(x, y) mod TriSampleMod < TriSampleKeep (p = 1/2). */
  private[graft] val TriSampleMod = 1000L
  private[graft] val TriSampleKeep = 500L

  /** q227 support floor: only co-purchase edges seen in ≥ 2 orders
    * enter the link-prediction backbone (mirrored in the oracle). */
  private[graft] val LinkPredMinSupport = 2L

  /** q228 apex sampling: an apex survives iff
    * polyMix(u mod M) mod ApexSampleMod < ApexSampleKeep (p = 1/32). */
  private[graft] val ApexSampleMod = 32L
  private[graft] val ApexSampleKeep = 1L

  /** q230's round count — two synchronous rounds, unrolled in the
    * oracle's CTE replay. */
  private val LpaIters = 2

  /** q238 core order and peel-round cap. The cap must exceed the
    * rounds-to-fixpoint at every verified scale (OperatorSpec checks
    * that the capped peel equals one allowed four times the cap at
    * sf0.001 and sf0.01); rounds past the fixpoint are no-ops, so the
    * oracle's FIXED 8-round unroll and the engine's early-exiting loop
    * produce the identical relation. */
  private[graft] val CoreK = 2
  private[graft] val CoreMaxRounds = 8

  /** q253 item-CF holdout evaluation: neighbour-list depth per item
    * (the CF model's serving fan-out) and recommendations per
    * customer. Mirrored as literals in the oracle's unrolled CTEs. */
  private[graft] val CfNbrK = 10
  private[graft] val CfRecK = 10

  /** The exact degree-oriented triangle census — shared by exact q165
    * and sampled q226; the generalized form lives in the library tier
    * ([[graft.api.GraphOps.triangleCensus]]). */
  private def orientedCensus(und: DataFrame): (DataFrame, DataFrame) =
    graft.api.GraphOps.triangleCensus(und, "x", "y")

  /** The q230/q280/q291 community labels (2-round weighted LPA over
    * the support-floored backbone), memoized per (session, dir) —
    * three consumers re-ran the iteration before r14; primed under
    * shared:lpa_labels. */
  private[graft] def lpaLabels(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"graph.lpa:$dir:$LpaIters") {
      graft.api.GraphOps.labelPropagation(
        CoPurchase.pairW(s, dir).filter(col("w") >= LinkPredMinSupport),
        "x", "y", "w", LpaIters)
    }

  /** The item-CF serving layout (per-item top-CfNbrK weighted-Jaccard
    * neighbour lists over the support-floored backbone), memoized per
    * (session, dir) — q253 scores holdouts through it, q324 audits its
    * catalog coverage; the Σdeg² scoring pass runs once (bench primes
    * it under shared:cf_neighbors). */
  private[graft] def cfNeighbors(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"cfnbr:$dir:$CfNbrK") {
      graft.api.GraphOps.itemNeighbors(
        CoPurchase.pairW(s, dir).filter(col("w") >= LinkPredMinSupport),
        "x", "y", "w", CfNbrK)
    }

  /** The co-purchase graph's oriented-census triangle ROWS, memoized
    * per (session, dir) — q165 counts them, q308 explodes the roles;
    * one wedge join serves both (bench primes it under
    * shared:tri_census). */
  private[graft] def triRows(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"trirows:$dir") {
      graft.api.GraphOps.triangleRows(CoPurchase.und(s, dir), "x", "y",
        Some(CoPurchase.undDegrees(s, dir)))._2
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q153_pagerank" -> ((s, dir) => {
      // both directions of the memoized pair table (CoPurchase.pairW —
      // ONE per-order self-join per session, shared with
      // q164/q165/q167/q171/q176). Two loop invariants are checkpointed:
      // the degree-annotated edge table, and the node set, which round
      // 1's job reads from two subtrees (r0 and the left join) — a lazy
      // persist there would race the cache fill. deg/nn are cheap
      // single-agg projections, re-derived instead of materialized.
      val edges = CoPurchase.directedW(s, dir)
      val deg = edges.groupBy("u").agg(sum(col("w")).as("wdeg"))
      val ed = edges.join(deg, Seq("u")).localCheckpoint(true)
      val nodes = ed.select(col("u").as("v")).distinct().localCheckpoint(true)
      val nn = nodes.agg(count(lit(1)).as("nn"))
      val r0 = Iterate.keep(nodes.crossJoin(broadcast(nn))
        .select(col("v"), round(lit(1d) / col("nn"), 6).as("pr")), Sequential)
      Iterate.rounds(r0, Iters, Sequential) { (r, _) =>
        val contrib = ed
          .join(r.select(col("v").as("u"), col("pr").as("pru")), Seq("u"))
          .select(col("v"),
            round(col("pru") * col("w") / col("wdeg"), 6).as("c"))
          .groupBy("v")
          .agg(sum(col("c").cast(Dec)).cast("double").as("sc"))
        nodes.join(contrib, Seq("v"), "left")
          .crossJoin(broadcast(nn))
          .select(col("v"),
            round(lit(1d - Damping) / col("nn")
              + lit(Damping) * coalesce(col("sc"), lit(0d)), 6).as("pr"))
      }.select(col("v").as("p_partkey"), col("pr").as("pr6"))
        .orderBy(col("pr6").desc, col("p_partkey").asc)
        .limit(20)
    }),

    // BFS reachability profile: how many parts sit at each hop distance
    // (0..3) from the smallest part in the co-purchase graph. The
    // smallest part is one of q232's three landmarks, so this is the
    // memoized landmark traversal (GraphOps.multiSourceBfs) cut to that
    // source — no traversal of its own. The oracle is DuckDB's
    // recursive CTE over the same edges, with min-level dedup making
    // the spec traversal-order-independent.
    "q164_bfs_levels" -> ((s, dir) => {
      val seed = CoPurchase.und(s, dir).agg(min(col("x")).as("src"))
      landmarkBfs(s, dir).join(broadcast(seed), Seq("src"))
        .groupBy("lvl").agg(count(lit(1)).as("n_parts")).orderBy("lvl")
    }),

    // Exact triangle census + global clustering coefficient of the
    // co-purchase graph. The Spark plan is the DEGREE-ORIENTED count
    // (each undirected edge points from its lower-(degree, id) endpoint,
    // so every out-neighborhood is O(√m) and the wedge join never blows
    // up on hub parts — the shape that survives power-law graphs at
    // 100 TB); the triangle count is orientation-invariant, so the
    // oracle replays the simple id-oriented three-way join and the
    // numbers must agree exactly.
    "q165_triangles" -> ((s, dir) => {
      val und = CoPurchase.und(s, dir)
      val deg = CoPurchase.undDegrees(s, dir)
      val tri = triRows(s, dir).agg(count(lit(1)).as("n_triangles"))
      val totals = und.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("d * (d - 1) div 2")).as("n_wedges"))))
      totals.crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          round(safeDiv(lit(3d) * col("n_triangles"),
            col("n_wedges").cast("double")), 4).as("gcc4"))
    }),

    // Per-node local clustering coefficient — q165's census localized:
    // lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)), the "how cliquish is this
    // part's neighborhood" readout behind ego-network features. The
    // SAME degree-oriented wedge census produces each triangle once as
    // a ROW; the three roles explode and one keyed count gives tri(v)
    // — no per-role re-join, no per-vertex wedge blowup beyond the
    // oriented census q165 already pays. Top-20 ranked by the exact
    // INTEGER triangle count ([D3] — lcc is reported, never sorted
    // on), part-key ties.
    "q308_local_clustering" -> ((s, dir) => {
      val deg = CoPurchase.undDegrees(s, dir)
      val perv = triRows(s, dir)
        .select(explode(array(col("src"), col("w1"), col("w2"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("tri"))
      deg.join(perv, Seq("v"), "left")
        .filter(col("d") >= 2)
        .select(col("v").as("p_partkey"), col("d").as("degree"),
          coalesce(col("tri"), lit(0L)).as("n_tri"),
          round(lit(2d) * coalesce(col("tri"), lit(0L)).cast("double")
            / (col("d") * (col("d") - 1)).cast("double"), 6).as("lcc6"))
        .orderBy(col("n_tri").desc, col("p_partkey").asc)
        .limit(20)
    }),

    // DOULION-style approximate triangle count — the 100 TB sibling of
    // q165 where the exact census is a luxury (the q45/q22
    // sketch-vs-exact pattern). Each undirected edge survives with
    // probability p = 1/2 decided by the PORTABLE seeded polyMix hash of
    // the edge key — a pure function of the data, so the sample (and
    // hence the estimate) is bit-identical on any partition layout, any
    // cluster, any run [D1], AND in the DuckDB oracle, which replays
    // the same hash arithmetic exactly (round 10: this converted the
    // estimator from "no oracle by design" to a hash-green row; the
    // error band vs the exact census stays pinned in RecallAuditSpec).
    // The exact degree-oriented census then runs on the ~p·m sampled
    // edges (wedge work scales ~p², the dominant cost) and each
    // surviving triangle, present with probability p³, is scaled by
    // 1/p³ — an unbiased estimator with variance ~T/p³ (Tsourakakis et
    // al., KDD'09 — public method).
    "q226_triangles_approx" -> ((s, dir) => {
      val und = CoPurchase.und(s, dir)
      val sampled = und.filter(
        pmod(pairMix(col("x"), col("y")),
          lit(TriSampleMod)) < lit(TriSampleKeep))
      val (_, tri) = orientedCensus(sampled)
      val invP3 = {
        val p = TriSampleKeep.toDouble / TriSampleMod
        1d / (p * p * p)
      }
      sampled.agg(count(lit(1)).as("n_edges_sampled"))
        .crossJoin(broadcast(tri))
        .select(col("n_edges_sampled"),
          col("n_triangles").as("n_sampled_triangles"),
          round(col("n_triangles") * invP3, 1).as("est_triangles"))
    }),

    // Degree distribution of the co-purchase graph in power-of-two
    // buckets — the graph-shape audit that decides whether the wedge
    // join above needs its degree orientation. The bucket index is the
    // bit width of the degree (length of the binary representation
    // minus one) — pure integer arithmetic, no floor(log2(d)) whose
    // last-ulp rounding could disagree between engines at exact powers
    // of two. One hash agg over the memoized degree table
    // (shared:graph_degrees); output is O(log maxdeg) rows.
    "q176_degree_dist" -> ((s, dir) =>
      CoPurchase.undDegrees(s, dir)
        .groupBy((length(conv(col("d"), 10, 2)) - 1).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("d")).as("min_d"), max(col("d")).as("max_d"))
        .orderBy("bucket")),

    // Link prediction over the SUPPORT-FLOORED co-purchase backbone:
    // keep only edges with w ≥ 2 co-purchases (the backbone — a
    // single shared order is noise on a dense co-occurrence graph),
    // then for backbone-UNCONNECTED part pairs sharing a strong
    // common neighbour, the common-neighbour count and the
    // Adamic–Adar score (Σ over shared apexes of 1/ln(deg), degrees
    // on the backbone) — the standard "which edge appears next"
    // ranking. The support floor IS the 100 TB plan: the wedge join
    // is Σ deg² over the backbone only (1.2 M raw edges → 3.6 k at
    // sf0.1, ~3·10⁸ wedges → ~10⁴), and the floor rises with scale
    // while the raw-graph Σ deg² enumeration dies — the r8 exact form
    // cost 273 s at sf0.1 on wedges alone. q228 is the sampled
    // sibling that keeps the RAW graph and bounds the work by seeded
    // apex sampling instead. Determinism [D2]: per-apex 1/ln(deg) is
    // 6dp-rounded before the decimal sum (only apexes with backbone
    // degree ≥ 2 can close a wedge, so ln > 0 on every summed term —
    // the d ≥ 2 filter makes that explicit in both engines); ties
    // break on the pair key.
    "q227_link_pred" -> ((s, dir) => {
      val undf = CoPurchase.pairW(s, dir)
        .filter(col("w") >= LinkPredMinSupport).select("x", "y")
      graft.api.GraphOps.adamicAdar(undf, "x", "y", 30)
    }),

    // Weighted label-propagation communities over the same w ≥ 2
    // backbone q227 predicts on: labels start as part keys; two
    // synchronous rounds in which every part adopts the label with
    // the largest total co-purchase weight among its neighbours
    // (ties → smallest label [D2]); report the 20 largest communities.
    // Each round is one equi-join + keyed argmax (the library form,
    // graft.api.GraphOps.labelPropagation), whose round state
    // graft.Iterate keeps; the oracle unrolls both rounds
    // as ROW_NUMBER argmax CTEs. Integer weights make every sum
    // exact — no float staging needed anywhere.
    // Landmark closeness centrality — the per-NODE distance summary
    // the q232 landmark profile lacked: closeness ≈ L / Σ_l d(v, l)
    // over the same three deterministic landmarks, restricted to
    // nodes all three reach within the hop cap (the standard
    // landmark approximation of exact closeness, whose all-pairs BFS
    // is off the table at 100 TB). ONE multi-source BFS pass serves
    // all landmarks (k× frontier rows, not k× edge scans); the
    // ranking orders by the exact INTEGER Σd (closeness is its
    // monotone transform — no float sort key [D3]), part key ties.
    "q290_closeness" -> ((s, dir) =>
      landmarkBfs(s, dir)
        .groupBy("v").agg(count(lit(1)).as("n_lm"),
          sum(col("lvl")).as("sum_d"))
        .filter(col("n_lm") === 3 && col("sum_d") > 0)
        .select(col("v").as("p_partkey"), col("sum_d"),
          round(lit(3d).cast("double") / col("sum_d").cast("double"), 6)
            .as("closeness6"))
        .orderBy(col("sum_d").asc, col("p_partkey").asc)
        .limit(50)),

    // Conductance of the q230 label-propagation communities — the
    // partition eval MODULARITY (q280) does not cover: q280 rewards
    // internal density, conductance charges the BOUNDARY (cut weight
    // over the smaller side's volume), the quantity bounding how well
    // a community could be processed in isolation. Same backbone +
    // 2-round LPA as q230/q280 (one partition gated three ways);
    // cut/volume/2W are exact integer sums; phi is the shared-string
    // double formula, NULL for a whole-graph community (min side 0).
    "q291_conductance" -> ((s, dir) => {
      val undw = CoPurchase.pairW(s, dir)
        .filter(col("w") >= LinkPredMinSupport)
      val labels = lpaLabels(s, dir)
      val lx = labels.select(col("v").as("x"), col("label").as("lx"))
      val ly = labels.select(col("v").as("y"), col("label").as("ly"))
      val crossE = undw.join(lx, "x").join(ly, "y")
        .filter(col("lx") =!= col("ly"))
      val cut = crossE.select(col("lx").as("label"), col("w"))
        .unionByName(crossE.select(col("ly").as("label"), col("w")))
        .groupBy("label").agg(sum("w").as("cut_w"))
      val ed = undw.select(col("x").as("u"), col("w"))
        .unionByName(undw.select(col("y").as("u"), col("w")))
      val vol = labels.join(ed, col("v") === col("u"))
        .groupBy("label").agg(sum("w").as("vol_w"))
      val w2 = undw.agg((sum("w") * 2).as("w2"))
      labels.groupBy("label").agg(count(lit(1)).as("n_members"))
        .join(vol, "label")
        .join(cut, Seq("label"), "left")
        .crossJoin(broadcast(w2))
        .withColumn("cut_w", coalesce(col("cut_w"), lit(0L)))
        .select(col("label"), col("n_members"), col("cut_w"),
          col("vol_w"), expr(PhiFormula.phi6).as("phi6"))
        .orderBy("label")
    }),

    // Degree assortativity of the raw co-purchase graph — Newman's r:
    // the Pearson correlation of endpoint degrees over the directed
    // edge list, the one-number answer to "do hubs link to hubs?"
    // that decides whether degree-based partitioning skews. Degrees
    // attach to edges by two equi-joins; the four moments are exact
    // decimal(38,0) sums (Σd² per edge overflows int64 on billion-
    // edge graphs); r is the shared-string double formula, NULL for
    // a degree-regular graph (zero variance), −0.0-normalized.
    "q292_assortativity" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val ed = graft.api.GraphOps.directed(CoPurchase.und(s, dir), "x", "y")
      // directed degree (count per u over both orientations) IS the
      // undirected degree — ride the shared memo instead of one more
      // 2·m shuffle (r14)
      val deg = CoPurchase.undDegrees(s, dir)
        .select(col("v").as("u"), col("d"))
      ed.join(deg.select(col("u"), col("d").as("du")), "u")
        .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
        .agg(count(lit(1)).as("m"),
          sum(d38(col("du"))).as("sj"),
          sum(d38(col("du")) * col("dv")).as("sjk"),
          sum(d38(col("du")) * col("du")).as("sj2"))
        .select(col("m").as("n_dir_edges"),
          expr(AssortFormula.r6).as("assort6"))
    }),

    "q230_label_prop" -> ((s, dir) => {
      val labels = lpaLabels(s, dir)
      labels.groupBy("label").agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("label").asc)
        .limit(20)
    }),

    // Weighted modularity of the q230 label-propagation communities —
    // the EVAL the community family lacked (q249 scores the
    // classifier, q253 the recommender, q266 retrieval; this scores
    // the partition): per community, node count, intra-community
    // weight, weighted degree mass, and the modularity contribution
    // w_in/W − (S_c/2W)², whose sum is Newman's Q. Every ingredient
    // (W, w_in, S_c) is an exact integer sum over the SAME backbone +
    // 2-round LPA as q230 — the only doubles are the final shared
    // formula [D2]. Communities with no internal edge report w_in = 0
    // (a negative contribution — the partition is charged for them).
    // Scale: two label-keyed joins over the edge list + three keyed
    // aggs; the 1-row total attaches broadcast (documented BNLJ).
    "q280_modularity" -> ((s, dir) => {
      val undw = CoPurchase.pairW(s, dir)
        .filter(col("w") >= LinkPredMinSupport)
      val labels = lpaLabels(s, dir)
      val lx = labels.select(col("v").as("x"), col("label").as("lx"))
      val ly = labels.select(col("v").as("y"), col("label").as("ly"))
      val wtot = undw.agg(sum("w").as("tw"))
      val win = undw.join(lx, "x").join(ly, "y")
        .filter(col("lx") === col("ly"))
        .groupBy(col("lx").as("label")).agg(sum("w").as("w_in"))
      val deg = undw.select(col("x").as("v"), col("w"))
        .unionAll(undw.select(col("y").as("v"), col("w")))
        .join(labels, "v")
        .groupBy("label").agg(sum("w").as("s_tot"))
      labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
        .join(deg, "label").join(win, Seq("label"), "left")
        .na.fill(0L, Seq("w_in"))
        .crossJoin(broadcast(wtot))
        .select(col("label"), col("n_nodes"), col("w_in"), col("s_tot"),
          round(col("w_in").cast("double") / col("tw")
            - (col("s_tot").cast("double") / (col("tw") * 2))
              * (col("s_tot").cast("double") / (col("tw") * 2)), 6)
            .as("contrib6"))
        .orderBy("label")
    }),

    // Item-item collaborative filtering: weighted-Jaccard (Ruzicka)
    // similarity between part adjacency profiles on the w ≥ 2
    // backbone — "parts bought in the same baskets as yours", the
    // e-commerce recommender classic. cmin and the denominator are
    // exact integer sums; the 4dp ratio rounds half-up as pure
    // integer arithmetic (the q231 micro-unit convention — integer
    // ratios constantly land on 5th-decimal …5 boundaries where a
    // double-staged round is a cross-engine coin flip). Top-30 pairs,
    // ties on the pair key.
    "q234_item_cf" -> ((s, dir) => {
      val undw = CoPurchase.pairW(s, dir)
        .filter(col("w") >= LinkPredMinSupport)
      graft.api.GraphOps.weightedJaccard(undw, "x", "y", "w", 30)
    }),

    // k-core of the w ≥ 2 co-purchase backbone (round 10) — the
    // cohesive-subgraph extraction that separates parts embedded in
    // dense co-purchase structure from pendant/tree periphery (the
    // standard pre-filter before community/link analyses like
    // q230/q227 — a vertex outside the 2-core can close no cycle and
    // carries no robust signal). Iterative peel via GraphOps.kCore:
    // per round one degree agg + two anti-joins on the SHRINKING edge
    // set, early-exit at fixpoint; the oracle replays a FIXED 8-round
    // unroll, identical by the no-op property (see CoreMaxRounds).
    // Top-30 core members by within-core degree, id ties [D2].
    "q238_kcore" -> ((s, dir) => {
      val undf = CoPurchase.pairW(s, dir)
        .filter(col("w") >= LinkPredMinSupport).select("x", "y")
      graft.api.GraphOps.kCore(undf, "x", "y", CoreK, CoreMaxRounds)
        .select(col("v").as("p_partkey"), col("core_deg"))
        .orderBy(col("core_deg").desc, col("p_partkey").asc)
        .limit(30)
    }),

    // Year-over-year co-purchase edge churn (round 10) — the TEMPORAL
    // axis of the graph family: per consecutive year pair, how many
    // co-purchase links persist, appear, and disappear, plus the edge-
    // set Jaccard — the link-stability audit that decides whether
    // last year's graph artifacts (communities, link predictions,
    // CF neighbourhoods) are still trustworthy. The per-order pair
    // build (GraphOps.basketPairs) gives the (year, x, y) distinct
    // edge relation (year
    // rides the order, so the join is STILL per-order — never
    // year × corpus); consecutive years compare via ONE full outer
    // join of the relation against its year-shifted self on
    // (year, x, y). Counts are integers; the Jaccard ratio rounds
    // half-up as pure integer arithmetic ([D5], the q234 convention).
    "q242_edge_churn" -> ((s, dir) => {
      val yr = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"),
          year(col("o_orderdate")).as("yr"))
      val ey = graft.api.GraphOps
        .basketPairs(CoPurchase.baskets(s, dir), "l_orderkey", "l_partkey")
        .join(yr, Seq("l_orderkey"))
        .select("yr", "x", "y").distinct()
        .localCheckpoint(true)
      val prev = ey.select(col("yr"), col("x"), col("y"), lit(1).as("pa"))
      val next = ey.select((col("yr") - 1).as("yr"), col("x"), col("y"),
        lit(1).as("pb"))
      prev.join(next, Seq("yr", "x", "y"), "full_outer")
        .groupBy(col("yr").as("year_from"))
        .agg(
          sum(when(col("pa") === 1 && col("pb") === 1, 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("pa") === 1 && col("pb").isNull, 1L).otherwise(0L))
            .as("n_lost"),
          sum(when(col("pa").isNull && col("pb") === 1, 1L).otherwise(0L))
            .as("n_new"))
        // only real years report (the year-shifted side alone would
        // otherwise synthesize a min_year−1 row with an empty prev
        // side); the union is then ≥ n_prev ≥ 1, so the ratio is safe
        .filter(col("n_kept") + col("n_lost") > 0)
        .withColumn("n_union", col("n_kept") + col("n_lost") + col("n_new"))
        .select(col("year_from"), (col("year_from") + 1).as("year_to"),
          (col("n_kept") + col("n_lost")).as("n_prev"),
          (col("n_kept") + col("n_new")).as("n_next"),
          col("n_kept"), col("n_new"), col("n_lost"),
          (expr("(2L * n_kept * 10000L + n_union) div (2L * n_union)")
            .cast("double") / 10000d).as("jaccard4"))
        .orderBy("year_from")
    }),

    // Item-CF holdout evaluation (round 10) — the OFFLINE EVAL the
    // recommender family still lacked (q234 builds the model; this
    // measures it, the way q249 measures the quality classifier):
    // leave-one-out by time — each multi-order customer's LAST order
    // (o_orderdate, o_orderkey desc) is held out, recommendations are
    // scored from their earlier-order parts through the per-item
    // top-CfNbrK weighted-Jaccard neighbour lists (GraphOps
    // .itemNeighbors — the bounded serving layout, integer 1e-4
    // scores so the per-customer score sums are order-invariant
    // int64), already-bought parts are excluded, and the top-CfRecK
    // recs (GraphOps.itemCfScores, the scorer EtlService
    // .recommendations serves) are checked against the holdout's NEW parts. Reported per
    // market segment: evaluable customers, hit customers, hit-rate
    // permille, recommended-hit and holdout totals, recall permille
    // ([D5] truncating ratios). Scale shape: the model is a bounded
    // per-item list; candidate generation is a |history|×k fan-out
    // equi-join; the rank is a per-customer window — every stage is
    // keyed, nothing is quadratic in customers or parts.
    // Recommendation catalog coverage — the serving-health audit of
    // the q234/q253 item-CF model: how much of the part catalog the
    // per-item top-k neighbour lists can EVER surface (coverage
    // permille) and how concentrated the exposure is (the most-
    // recommended item's share of all slots — the popularity-bias
    // readout). The model relation is already bounded (k per item);
    // everything here is keyed aggs over it plus a part-table count.
    // [D5] truncating permilles of exact integers.
    "q324_rec_coverage" -> ((s, dir) => {
      val nbr = cfNeighbors(s, dir)
      val cat = graft.Tables.load(s, dir, "part")
        .agg(count(lit(1)).as("n_catalog"))
      val freq = nbr.groupBy("rec").agg(count(lit(1)).as("f"))
      val st = nbr.agg(countDistinct(col("item")).as("n_items"))
      val fr = freq.agg(count(lit(1)).as("n_recommended"),
        max(col("f")).as("fmax"), sum(col("f")).as("ftot"))
      st.crossJoin(broadcast(fr)).crossJoin(broadcast(cat))
        .select(col("n_catalog"), col("n_items"), col("n_recommended"),
          expr("(1000L * n_recommended) div n_catalog").as("coverage_pm"),
          expr("(1000L * fmax) div ftot").as("top_share_pm"))
    }),

    "q253_cf_holdout" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nbr = cfNeighbors(s, dir)
      val li = CoPurchase.baskets(s, dir)
      val ro = graft.Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("rn", row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      val hist = ro.filter(col("rn") >= 2)
        .join(li, ro("o_orderkey") === li("l_orderkey"))
        .select("o_custkey", "l_partkey").distinct()
        .localCheckpoint(true)
      val lastp = ro.filter(col("rn") === 1)
        .join(li, ro("o_orderkey") === li("l_orderkey"))
        .select("o_custkey", "l_partkey").distinct()
      // new holdout parts of multi-order customers (hist nonempty ⟺
      // the customer has ≥ 2 orders)
      val tnew = lastp
        .join(hist.select("o_custkey").distinct(), Seq("o_custkey"))
        .join(hist, Seq("o_custkey", "l_partkey"), "left_anti")
      val recs = graft.api.GraphOps
        .itemCfScores(hist, "o_custkey", "l_partkey", nbr, CfRecK)
        .select("o_custkey", "rec")
      val hold = tnew.groupBy("o_custkey").agg(count(lit(1)).as("n_hold"))
      val hitc = recs
        .join(tnew.select(col("o_custkey"), col("l_partkey").as("rec")),
          Seq("o_custkey", "rec"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n_hits"))
      val cust = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      hold.join(hitc, Seq("o_custkey"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .join(cust, Seq("o_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_hit_cust"),
          sum(col("n_hits")).as("n_rec_hits"),
          sum(col("n_hold")).as("n_holdout_new"))
        .select(col("segment"), col("n_eval"), col("n_hit_cust"),
          expr("(1000L * n_hit_cust) div n_eval").as("hit_pm"),
          col("n_rec_hits"), col("n_holdout_new"),
          expr("(1000L * n_rec_hits) div n_holdout_new").as("recall_pm"))
        .orderBy("segment")
    }),

    // Landmark distance profile: hop-level histograms from THREE
    // deterministic landmarks (smallest part, largest part, and the
    // highest-degree hub — ties to the smaller key) in ONE
    // multi-source BFS pass. The (src, v)-keyed frontier replaces
    // three traversals with one — k landmarks cost k× frontier rows,
    // not k× edge scans — the only shape that scales when landmark
    // distance estimation probes a 100 TB graph. Oracle: q164's
    // recursive CTE generalized with src in the recursion key,
    // min-level dedup making it traversal-order-independent.
    "q232_landmark_bfs" -> ((s, dir) =>
      landmarkBfs(s, dir)
        .groupBy("src", "lvl").agg(count(lit(1)).as("n_parts"))
        .orderBy("src", "lvl")),

    // Random walk with restart from the smallest part key — the
    // personalized-PageRank "related parts" ranking (q153's global
    // ranks answer "important anywhere"; RWR answers "important NEAR
    // this seed"). Runs on the FULL weighted co-purchase graph like
    // q153 — the mass vector stays SPARSE (unreached parts carry no
    // row), so early iterations cost only the frontier's edges; the
    // oracle unrolls all three rounds with the same 6dp-round-then-
    // decimal-sum staging [D2]. Top-20 by mass, ties on part key.
    "q231_rwr" -> ((s, dir) => {
      val undw = CoPurchase.pairW(s, dir)
      val seed = undw.agg(min(col("x")).as("v"))
      val r = graft.api.GraphOps
        .randomWalkRestart(undw, "x", "y", "w", seed, Damping, Iters)
      r.select(col("v").as("p_partkey"), col("pr").as("rwr6"))
        .orderBy(col("rwr6").desc, col("p_partkey").asc)
        .limit(20)
    }),

    // The sampled sibling of q227 for the RAW (un-floored) co-purchase
    // graph — the regime where no support floor applies and the exact
    // Σ deg² wedge enumeration is a luxury (the q226/q165 split).
    // Apexes survive with probability p = 1/32 decided by the PORTABLE
    // seeded polyMix hash of the apex id — a pure function of the data
    // [D1], replayed bit-exactly by the DuckDB oracle (round 10: the
    // re-key from xxhash64 converted this from "no oracle by design"
    // to a hash-green row) — and each surviving apex contributes its
    // EXACT wedge set, so per-pair cn_sampled and the Adamic–Adar
    // partial sum (degrees from the FULL graph — one cheap O(m) agg,
    // never sampled) are sums over a p-thinned apex population;
    // scaling by 1/p gives unbiased cn_est / aa_est (Horvitz–Thompson
    // over apexes), with the subset invariant cn_sampled ≤ cn_exact
    // pinned in RecallAuditSpec along with a floor on the top-30
    // overlap vs the exact ranking. Only pairs with cn_sampled ≥ 2
    // are reported — single-apex estimates carry the highest relative
    // variance, and the floor also caps the anti-join's input. Wedge
    // work scales by p (~3·10⁸ → ~10⁷ at sf0.1). Determinism [D2/D5]:
    // per-apex 1/ln(deg) is 6dp-rounded before the decimal sum, and
    // the ×32 Horvitz–Thompson scale stays in DECIMAL until the final
    // double cast — exact in both engines, so no round() boundary can
    // flip.
    "q228_link_pred_sampled" -> ((s, dir) => {
      val und = CoPurchase.und(s, dir)
      val ed = CoPurchase.directedW(s, dir).select("u", "v")
      val deg = ed.groupBy("u").agg(count(lit(1)).as("d"))
      val invlog = deg.filter(col("d") >= 2).select(col("u"),
        round(lit(1d) / log(col("d").cast("double")), 6).as("il"))
      val apexIl = invlog.filter(
        pmod(polyMix(pmod(col("u"), lit(HashM))),
          lit(ApexSampleMod)) < lit(ApexSampleKeep))
      val e1 = ed.join(apexIl, Seq("u"))
        .select(col("u"), col("v").as("px"), col("il"))
      val e2 = ed.join(apexIl.select("u"), Seq("u"))
        .select(col("u"), col("v").as("py"))
      val invP = ApexSampleMod / ApexSampleKeep // exact integer scale
      val scored = e1.join(e2, Seq("u"))
        .filter(col("px") < col("py"))
        .groupBy("px", "py")
        .agg(count(lit(1)).as("cn_sampled"),
          sum(col("il").cast(Dec)).as("aa_s"))
        .filter(col("cn_sampled") >= 2)
        .select(col("px"), col("py"), col("cn_sampled"),
          (col("cn_sampled") * invP).cast("double").as("cn_est"),
          (col("aa_s") * invP).cast("double").as("aa_est"))
      scored.join(und.select(col("x").as("px"), col("y").as("py")),
          Seq("px", "py"), "left_anti")
        .orderBy(col("aa_est").desc, col("px").asc, col("py").asc)
        .limit(30)
    }),

    // HITS hubs & authorities on the customer→part purchase bipartite
    // graph, ORACLE-GATED — the q231 integer-micro-unit convention
    // applied to the second classic eigenvector ranking: hub(c) =
    // Σ_p w·auth(p), auth(p) = Σ_c w·hub(c), two unrolled rounds,
    // each score vector L1-renormalized to 1e6 micro-units by [D5]
    // truncating division (the L2 norm of textbook HITS needs a sqrt
    // no integer replay survives; L1 keeps the same fixed-point
    // direction and is exact). Scale: each half-round is ONE
    // edge-keyed join + partial agg (shuffle by c or p), score tables
    // are |C|/|P| rows — frontier-sized, never edge-sized; the 1-row
    // totals attach via broadcast. At sf0.1 hub mass concentrates on
    // multi-order customers exactly as degree theory predicts.
    "q248_hits" -> ((s, dir) => {
      val e = graft.Tables.load(s, dir, "orders")
        .join(graft.Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
      val nP = e.select("p").distinct().count()
      val a0 = e.select("p").distinct()
        .withColumn("a", lit(HitsScale / nP))
      // Each half-round's aggregate is read twice (stream side and the
      // broadcast total, built first), so it is kept as Sequential
      // round state; e is the loop invariant every half-round reads.
      def hubStep(a: DataFrame): DataFrame = {
        val hr = Iterate.keep(
          e.join(a, Seq("p")).groupBy("c")
            .agg(sum(col("w") * col("a")).as("hr")), Sequential)
        hr.crossJoin(broadcast(hr.agg(sum("hr").as("t"))))
          .select(col("c"), expr(s"(hr * ${HitsScale}L) div t").as("h"))
      }
      def authStep(h: DataFrame): DataFrame = {
        val ar = Iterate.keep(
          e.join(h, Seq("c")).groupBy("p")
            .agg(sum(col("w") * col("h")).as("ar")), Sequential)
        ar.crossJoin(broadcast(ar.agg(sum("ar").as("t"))))
          .select(col("p"), expr(s"(ar * ${HitsScale}L) div t").as("a"))
      }
      val h1 = hubStep(a0)
      val a1 = authStep(h1)
      val h2 = hubStep(a1)
      val a2 = authStep(h2)
      val hubs = h2.orderBy(col("h").desc, col("c").asc).limit(20)
        .select(lit("hub").as("kind"), col("c").as("id"),
          col("h").as("score"))
      val auths = a2.orderBy(col("a").desc, col("p").asc).limit(20)
        .select(lit("authority").as("kind"), col("p").as("id"),
          col("a").as("score"))
      hubs.unionByName(auths)
        .orderBy(col("kind").asc, col("score").desc, col("id").asc)
    }),

    // Edge-support census — the k-truss ladder of the co-purchase
    // graph (an edge's support = triangles containing it; a k-truss
    // keeps support ≥ k−2 — Cohen 2008, public method): how much of
    // the graph survives each cohesion cut, the histogram read before
    // picking a truss threshold. Rides the memoized oriented triangle
    // census (shared:tri_census — each triangle is ONE row, produced
    // once per session); the three edges of each triangle explode to
    // canonical (min,max) pairs, one keyed count gives support, and a
    // left join back to the undirected edge list keeps the
    // support-0 edges the census never touches. Nothing quadratic
    // beyond the wedge census q165 already pays.
    "q332_edge_support" -> ((s, dir) => {
      val und = CoPurchase.und(s, dir)
      val sup = triRows(s, dir)
        .select(explode(array(
          struct(least(col("src"), col("w1")).as("x"),
            greatest(col("src"), col("w1")).as("y")),
          struct(least(col("src"), col("w2")).as("x"),
            greatest(col("src"), col("w2")).as("y")),
          struct(least(col("w1"), col("w2")).as("x"),
            greatest(col("w1"), col("w2")).as("y")))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("sup"))
      und.join(sup, Seq("x", "y"), "left")
        .select(coalesce(col("sup"), lit(0L)).as("support"))
        .groupBy("support").agg(count(lit(1)).as("n_edges"))
        .orderBy("support")
    }),

    // Rich-club coefficient ladder (Zhou & Mondragón 2004, public
    // method) — do the high-degree parts preferentially co-purchase
    // with EACH OTHER? φ(k) = 2·E_k / (N_k(N_k−1)) over the subgraph
    // of nodes with degree > k, at k ∈ {2,4,8,16}: the hub-cohesion
    // census next to q176's degree distribution and q292's
    // assortativity (assortativity is the correlation; this is the
    // density ladder). Degrees annotate the memoized edge list via
    // two equi-joins; all eight ladder counts come from TWO
    // conditional-sum rows (one over nodes, one over edges) stacked
    // to the 4-row ladder — no per-k rescans; φ a shared-string tree
    // (RichFormula), NULL below two qualifying nodes.
    "q340_rich_club" -> ((s, dir) => {
      val und = CoPurchase.und(s, dir)
      val deg = CoPurchase.undDegrees(s, dir)
      val e = und
        .join(deg.select(col("v").as("x"), col("d").as("dx")), Seq("x"))
        .join(deg.select(col("v").as("y"), col("d").as("dy")), Seq("y"))
      val nAggs = RichKs.map(k =>
        sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n$k"))
      val eAggs = RichKs.map(k =>
        sum(when(col("dx") > k && col("dy") > k, 1L).otherwise(0L))
          .as(s"e$k"))
      val na = deg.agg(nAggs.head, nAggs.tail: _*)
      val ea = e.agg(eAggs.head, eAggs.tail: _*)
      na.crossJoin(broadcast(ea))
        .selectExpr(s"stack(${RichKs.size}, " +
          RichKs.map(k => s"$k, n$k, e$k").mkString(", ") +
          ") as (k, n_rich, e_rich)")
        .select(col("k"), col("n_rich"), col("e_rich"),
          expr(RichFormula.phi6).as("phi6"))
        .orderBy("k")
    })
  )

  /** q340's degree cuts. */
  private val RichKs = Seq(2, 4, 8, 16)

  /** q340's rich-club density over the exact subgraph counts — shared
    * text, one IEEE tree; NULL when fewer than two nodes qualify. */
  private[operators] object RichFormula {
    val phi6: String = "CASE WHEN n_rich > 1 THEN " +
      "round(2.0 * CAST(e_rich AS DOUBLE) " +
      "/ (CAST(n_rich AS DOUBLE) * (n_rich - 1)), 6) END"
  }

  /** q248 L1 fixed-point scale: scores are micro-units summing to ~1e6
    * per side after each renormalization. */
  private val HitsScale = 1000000L

  /** Three unrolled iterations of the identical update — every literal
    * cast to DOUBLE explicitly (DuckDB parses 0.85 as DECIMAL, which
    * would divide differently than Spark's double). */
  /** q230/q280's shared oracle prefix: the w ≥ 2 co-purchase backbone
    * (`und`/`ed`) and the 2-round unrolled label propagation ending in
    * `r2(v, label)` — both keys gate ONE partition. */
  /** The q232/q290 three-landmark multi-source BFS levels (src, v,
    * lvl), memoized per (session, dir): both consumers read the SAME
    * traversal (identical deterministic seeds — smallest part, largest
    * part, highest-degree hub), so the frontier passes run once per
    * session and the build is charged to its own bench `shared:` line
    * ([[graft.SharedMemos]]). */
  private[graft] def landmarkBfs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"graph.lmbfs:$dir") {
      val und = CoPurchase.und(s, dir)
      val deg = CoPurchase.undDegrees(s, dir)
      val hub = deg.orderBy(col("d").desc, col("v").asc).limit(1)
        .select(col("v").as("src"))
      val seeds = und.agg(min(col("x")).as("src"))
        .unionByName(und.agg(max(col("y")).as("src")))
        .unionByName(hub)
        .distinct()
      graft.api.GraphOps.multiSourceBfs(und, "x", "y", seeds, 3)
    }

  /** q291's conductance formula over the exact integer columns
    * (cut_w after its zero-coalesce, vol_w, w2 = 2W) — one text
    * through Spark `expr()` and the oracle (OlsFormula convention).
    * phi ≥ 0 so no −0.0 normalization; the min side can only be 0 for
    * a community covering the whole graph, reported NULL. */
  private[operators] object PhiFormula {
    val phi6 = "CASE WHEN least(vol_w, w2 - vol_w) > 0 THEN " +
      "round(CAST(coalesce(cut_w, 0) AS DOUBLE) " +
      "/ CAST(least(vol_w, w2 - vol_w) AS DOUBLE), 6) END"
  }

  /** q292's assortativity formula over the exact edge-degree moments
    * (m edges, sj = Σd_u, sjk = Σd_u·d_v, sj2 = Σd_u²) — shared text,
    * one IEEE tree; `+ 0` normalizes a −0.0 round (r is signed). */
  private[operators] object AssortFormula {
    private val num = "(CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)" +
      " - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))"
    private val den = "(CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE)" +
      " - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))"
    val r6 = s"CASE WHEN $den <> 0 THEN round($num / $den, 6) + 0 END"
  }

  private def lpaCteSql: String =
    s"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |undw AS (
       |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS w
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |und AS (SELECT x, y, w FROM undw WHERE w >= $LinkPredMinSupport),
       |ed AS (SELECT x AS u, y AS v, w FROM und
       |       UNION ALL SELECT y, x, w FROM und),
       |l0 AS (SELECT DISTINCT u AS v, u AS label FROM ed),
       |s1 AS (SELECT e.u AS v, l.label, SUM(e.w) AS s
       |       FROM ed e JOIN l0 l ON l.v = e.v GROUP BY 1, 2),
       |r1 AS (SELECT v, label FROM (
       |         SELECT v, label, ROW_NUMBER() OVER (PARTITION BY v
       |           ORDER BY s DESC, label ASC) AS rn FROM s1)
       |       WHERE rn = 1),
       |s2 AS (SELECT e.u AS v, r.label, SUM(e.w) AS s
       |       FROM ed e JOIN r1 r ON r.v = e.v GROUP BY 1, 2),
       |r2 AS (SELECT v, label FROM (
       |         SELECT v, label, ROW_NUMBER() OVER (PARTITION BY v
       |           ORDER BY s DESC, label ASC) AS rn FROM s2)
       |       WHERE rn = 1)""".stripMargin

  /** CTE chain ending in `nbr(item, rec, wjac_bp)` — the exact
    * [[graft.api.GraphOps.itemNeighbors]] replay over the support-
    * floored co-purchase backbone (integer 1e-4 scores, per-item
    * top-CfNbrK). Shared by the q253 holdout oracle and q324's
    * coverage oracle so both gate ONE serving-layout definition. */
  private def cfNbrCteSql: String =
    s"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |undw AS (
       |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS w
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |und AS (SELECT x, y, w FROM undw WHERE w >= $LinkPredMinSupport),
       |ed AS (SELECT x AS u, y AS v, w FROM und
       |       UNION ALL SELECT y, x, w FROM und),
       |sdeg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM ed GROUP BY 1),
       |pr AS (
       |  SELECT e1.v AS px, e2.v AS py,
       |         CAST(SUM(LEAST(e1.w, e2.w)) AS BIGINT) AS cmin
       |  FROM ed e1 JOIN ed e2 ON e1.u = e2.u AND e1.v < e2.v
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT pr.px, pr.py,
       |         (2 * pr.cmin * 10000 + (sx.s + sy.s - pr.cmin))
       |           // (2 * (sx.s + sy.s - pr.cmin)) AS wjac_bp
       |  FROM pr JOIN sdeg sx ON sx.u = pr.px
       |          JOIN sdeg sy ON sy.u = pr.py),
       |nbr AS (
       |  SELECT item, rec, wjac_bp FROM (
       |    SELECT item, rec, wjac_bp, ROW_NUMBER() OVER (
       |      PARTITION BY item
       |      ORDER BY wjac_bp DESC, rec ASC) AS rn
       |    FROM (SELECT px AS item, py AS rec, wjac_bp FROM sc
       |          UNION ALL SELECT py, px, wjac_bp FROM sc) b) z
       |  WHERE rn <= $CfNbrK)""".stripMargin

  val oracle: Map[String, String] = Map(

    // the shared serving-layout replay; [D5] truncating permilles
    "q324_rec_coverage" ->
      s"""WITH $cfNbrCteSql,
         |freq AS (SELECT rec, CAST(COUNT(*) AS BIGINT) AS f
         |         FROM nbr GROUP BY 1),
         |st AS (SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_items
         |       FROM nbr),
         |fr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recommended,
         |              CAST(MAX(f) AS BIGINT) AS fmax,
         |              CAST(SUM(f) AS BIGINT) AS ftot
         |       FROM freq),
         |cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_catalog FROM part)
         |SELECT cat.n_catalog, st.n_items, fr.n_recommended,
         |       (1000 * fr.n_recommended) // cat.n_catalog
         |         AS coverage_pm,
         |       (1000 * fr.fmax) // fr.ftot AS top_share_pm
         |FROM st CROSS JOIN fr CROSS JOIN cat""".stripMargin,
    "q153_pagerank" -> {
      def iter(prev: String, k: Int): String =
        s"""c$k AS (
           |  SELECT e.v,
           |         SUM(CAST(ROUND(r.pr * e.w / e.wdeg, 6)
           |                  AS DECIMAL(38,6))) AS sc
           |  FROM ed e JOIN $prev r ON e.u = r.v
           |  GROUP BY e.v),
           |r$k AS (
           |  SELECT n.v,
           |         ROUND(CAST(${1d - Damping} AS DOUBLE) / nn.n
           |           + CAST($Damping AS DOUBLE)
           |             * COALESCE(CAST(c$k.sc AS DOUBLE), 0), 6) AS pr
           |  FROM nodes n CROSS JOIN nn LEFT JOIN c$k ON n.v = c$k.v)"""
          .stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey != b.l_partkey
         |  GROUP BY 1, 2),
         |deg AS (SELECT u, SUM(w) AS wdeg FROM e GROUP BY u),
         |ed AS (SELECT e.u, e.v, e.w, d.wdeg FROM e JOIN deg d ON e.u = d.u),
         |nodes AS (SELECT u AS v FROM deg),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT v, ROUND(CAST(1 AS DOUBLE) / nn.n, 6) AS pr
         |       FROM nodes CROSS JOIN nn),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT v AS p_partkey, pr AS pr6 FROM r3
         |ORDER BY pr6 DESC NULLS LAST, p_partkey ASC NULLS FIRST
         |LIMIT 20""".stripMargin
    },

    // min-level dedup makes the recursive replay order-independent;
    // the UNION (not UNION ALL) bounds the recursion's working set
    "q164_bfs_levels" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey != b.l_partkey),
        |seed AS (SELECT MIN(u) AS s FROM e),
        |bfs(v, lvl) AS (
        |  SELECT s, 0 FROM seed
        |  UNION
        |  SELECT e.v, bfs.lvl + 1 FROM bfs JOIN e ON e.u = bfs.v
        |  WHERE bfs.lvl < 3),
        |d AS (SELECT v, MIN(lvl) AS lvl FROM bfs GROUP BY v)
        |SELECT lvl, COUNT(*) AS n_parts FROM d GROUP BY 1
        |ORDER BY lvl ASC NULLS FIRST""".stripMargin,

    // id-oriented three-way join: the count is orientation-invariant,
    // so this simple quadratic-wedge replay pins the degree-oriented
    // distributed plan exactly
    // the same id-oriented triangle enumeration (each triangle once),
    // three roles unioned to per-vertex counts, exact-integer ranking
    "q308_local_clustering" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
        |  GROUP BY v),
        |tri AS (
        |  SELECT a.x AS v1, a.y AS v2, b.y AS v3
        |  FROM e a JOIN e b ON b.x = a.y
        |           JOIN e c ON c.x = a.x AND c.y = b.y),
        |perv AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT v1 AS v FROM tri UNION ALL
        |    SELECT v2 AS v FROM tri UNION ALL
        |    SELECT v3 AS v FROM tri)
        |  GROUP BY v)
        |SELECT deg.v AS p_partkey, deg.d AS degree,
        |       COALESCE(perv.tri, CAST(0 AS BIGINT)) AS n_tri,
        |       ROUND(2.0 * CAST(COALESCE(perv.tri, 0) AS DOUBLE)
        |         / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS lcc6
        |FROM deg LEFT JOIN perv ON perv.v = deg.v
        |WHERE deg.d >= 2
        |ORDER BY n_tri DESC, p_partkey ASC LIMIT 20""".stripMargin,

    "q165_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT v, COUNT(*) AS d FROM (
        |    SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
        |  GROUP BY v),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM e a JOIN e b ON b.x = a.y
        |           JOIN e c ON c.x = a.x AND c.y = b.y),
        |tot AS (
        |  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |         (SELECT COUNT(*) FROM e) AS n_edges,
        |         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
        |           AS n_wedges)
        |SELECT n_nodes, n_edges, n_triangles,
        |       ROUND(CASE WHEN n_wedges != 0 THEN
        |         CAST(3 AS DOUBLE) * n_triangles / n_wedges END, 4) AS gcc4
        |FROM tot CROSS JOIN tri""".stripMargin,

    // the sampled census replay: the SAME portable polyMix keep
    // rule re-derives the identical edge sample (pure function of the
    // data — q78/q80's verified hash family), then the simple
    // id-oriented three-way join counts its triangles exactly; the
    // ×8 = 1/p³ scale is integer-exact, so ROUND(·, 1) is a no-op on
    // both engines
    "q226_triangles_approx" -> {
      val invP = TriSampleMod / TriSampleKeep
      val invP3 = invP * invP * invP
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey),
         |se AS (
         |  SELECT x, y FROM e
         |  WHERE (${pairMixSql("x", "y")})
         |        % $TriSampleMod < $TriSampleKeep),
         |tri AS (
         |  SELECT COUNT(*) AS n_triangles
         |  FROM se a JOIN se b ON b.x = a.y
         |            JOIN se c ON c.x = a.x AND c.y = b.y),
         |ns AS (SELECT COUNT(*) AS n_edges_sampled FROM se)
         |SELECT ns.n_edges_sampled,
         |       tri.n_triangles AS n_sampled_triangles,
         |       ROUND(CAST(tri.n_triangles * $invP3 AS DOUBLE), 1)
         |         AS est_triangles
         |FROM ns CROSS JOIN tri""".stripMargin
    },

    // the apex-sampled wedge replay: the polyMix apex keep rule
    // re-derives the identical p = 1/32 apex set; per-apex 1/ln(deg)
    // 6dp-rounds before the decimal sum (q227's staging) and the ×32
    // Horvitz–Thompson scale stays DECIMAL until the single final
    // double cast — exact on both engines
    "q228_link_pred_sampled" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |und AS (
         |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey),
         |ed AS (SELECT x AS u, y AS v FROM und
         |       UNION ALL SELECT y, x FROM und),
         |deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY 1),
         |il AS (SELECT u, ROUND(CAST(1 AS DOUBLE)
         |                       / ln(CAST(d AS DOUBLE)), 6) AS il
         |       FROM deg WHERE d >= 2),
         |ap AS (SELECT u, il FROM il
         |       WHERE (${polyMixSql(pmodSql("u"))})
         |             % $ApexSampleMod < $ApexSampleKeep),
         |sc AS (
         |  SELECT e1.v AS px, e2.v AS py, COUNT(*) AS cn_sampled,
         |         SUM(CAST(ap.il AS DECIMAL(38,6))) AS aa_s
         |  FROM ed e1
         |  JOIN ap ON ap.u = e1.u
         |  JOIN ed e2 ON e2.u = e1.u AND e1.v < e2.v
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= 2),
         |est AS (
         |  SELECT px, py, cn_sampled,
         |         CAST(cn_sampled * ${ApexSampleMod / ApexSampleKeep}
         |              AS DOUBLE) AS cn_est,
         |         CAST(aa_s * ${ApexSampleMod / ApexSampleKeep}
         |              AS DOUBLE) AS aa_est
         |  FROM sc)
         |SELECT est.px, est.py, est.cn_sampled, est.cn_est, est.aa_est
         |FROM est LEFT JOIN und ON und.x = est.px AND und.y = est.py
         |WHERE und.x IS NULL
         |ORDER BY aa_est DESC NULLS LAST, px ASC NULLS FIRST,
         |         py ASC NULLS FIRST
         |LIMIT 30""".stripMargin,

    // bit-width bucket = length(bin(d)) - 1: integer-exact on both
    // engines where floor(log2(d)) is a last-ulp coin flip
    "q176_degree_dist" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT v, COUNT(*) AS d FROM (
        |    SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
        |  GROUP BY v)
        |SELECT CAST(length(ltrim(bin(d), '0')) - 1 AS BIGINT) AS bucket,
        |       COUNT(*) AS n_nodes, MIN(d) AS min_d, MAX(d) AS max_d
        |FROM deg GROUP BY 1 ORDER BY bucket ASC NULLS FIRST""".stripMargin,

    // backbone wedge replay with per-apex 6dp-rounded 1/ln(deg)
    // decimal-summed — identical term order to the Spark plan;
    // CAST(1 AS DOUBLE) because DuckDB parses 1.0 as DECIMAL
    "q227_link_pred" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |undw AS (
         |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS w
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |und AS (SELECT x, y FROM undw WHERE w >= $LinkPredMinSupport),
         |ed AS (SELECT x AS u, y AS v FROM und
         |       UNION ALL SELECT y, x FROM und),
         |deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY 1),
         |il AS (SELECT u, ROUND(CAST(1 AS DOUBLE)
         |                       / ln(CAST(d AS DOUBLE)), 6) AS il
         |       FROM deg WHERE d >= 2),
         |sc AS (
         |  SELECT e1.v AS px, e2.v AS py, COUNT(*) AS cn,
         |         CAST(SUM(CAST(il.il AS DECIMAL(38,6))) AS DOUBLE) AS aa6
         |  FROM ed e1
         |  JOIN ed e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN il ON il.u = e1.u
         |  GROUP BY 1, 2)
         |SELECT sc.px, sc.py, sc.cn, sc.aa6
         |FROM sc LEFT JOIN und ON und.x = sc.px AND und.y = sc.py
         |WHERE und.x IS NULL
         |ORDER BY aa6 DESC NULLS LAST, px ASC NULLS FIRST,
         |         py ASC NULLS FIRST
         |LIMIT 30""".stripMargin,

    // two unrolled LPA rounds: per-(vertex, neighbour-label) integer
    // weight sums, argmax via ROW_NUMBER with the same
    // (s DESC, label ASC) tie order as the Spark window
    "q230_label_prop" ->
      s"""WITH $lpaCteSql
         |SELECT label, COUNT(*) AS n_members FROM r2 GROUP BY 1
         |ORDER BY n_members DESC NULLS LAST, label ASC NULLS FIRST
         |LIMIT 20""".stripMargin,

    // q232's recursive multi-source BFS replay, aggregated per NODE
    // (all-landmarks filter) instead of per (src, lvl)
    "q290_closeness" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS u, y AS v FROM und
        |      UNION ALL SELECT y, x FROM und),
        |deg AS (SELECT u AS v, COUNT(*) AS d FROM e GROUP BY 1),
        |hub AS (SELECT v FROM (
        |          SELECT v, ROW_NUMBER() OVER (ORDER BY d DESC,
        |            v ASC) AS rn FROM deg) WHERE rn = 1),
        |seeds AS (SELECT DISTINCT src FROM (
        |  SELECT MIN(x) AS src FROM und
        |  UNION ALL SELECT MAX(y) FROM und
        |  UNION ALL SELECT v FROM hub)),
        |bfs(src, v, lvl) AS (
        |  SELECT src, src, 0 FROM seeds
        |  UNION
        |  SELECT bfs.src, e.v, bfs.lvl + 1 FROM bfs JOIN e ON e.u = bfs.v
        |  WHERE bfs.lvl < 3),
        |d AS (SELECT src, v, MIN(lvl) AS lvl FROM bfs GROUP BY 1, 2),
        |cl AS (
        |  SELECT v, COUNT(*) AS n_lm, CAST(SUM(lvl) AS BIGINT) AS sum_d
        |  FROM d GROUP BY 1)
        |SELECT v AS p_partkey, sum_d,
        |       ROUND(CAST(3 AS DOUBLE) / CAST(sum_d AS DOUBLE), 6)
        |         AS closeness6
        |FROM cl WHERE n_lm = 3 AND sum_d > 0
        |ORDER BY sum_d ASC NULLS FIRST, p_partkey ASC NULLS FIRST
        |LIMIT 50""".stripMargin,

    // same backbone + LPA prefix as q230/q280, then exact cut/volume
    // integer sums and the SAME phi formula text
    "q291_conductance" ->
      s"""WITH $lpaCteSql,
         |w2t AS (SELECT CAST(2 * SUM(w) AS BIGINT) AS w2 FROM und),
         |ce AS (
         |  SELECT lx.label AS la, ly.label AS lb, u.w
         |  FROM und u JOIN r2 lx ON lx.v = u.x
         |             JOIN r2 ly ON ly.v = u.y
         |  WHERE lx.label != ly.label),
         |cut AS (
         |  SELECT label, CAST(SUM(w) AS BIGINT) AS cut_w FROM (
         |    SELECT la AS label, w FROM ce
         |    UNION ALL SELECT lb, w FROM ce) z
         |  GROUP BY 1),
         |vol AS (
         |  SELECT r2.label, CAST(SUM(e.w) AS BIGINT) AS vol_w
         |  FROM ed e JOIN r2 ON r2.v = e.u
         |  GROUP BY 1),
         |nm AS (SELECT label, COUNT(*) AS n_members FROM r2 GROUP BY 1)
         |SELECT nm.label, nm.n_members,
         |       COALESCE(cut.cut_w, 0) AS cut_w, vol.vol_w,
         |       ${PhiFormula.phi6} AS phi6
         |FROM nm JOIN vol USING (label)
         |LEFT JOIN cut USING (label)
         |CROSS JOIN w2t
         |ORDER BY label ASC NULLS FIRST""".stripMargin,

    // raw-graph degree attach + HUGEINT moments + the SAME r formula
    "q292_assortativity" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |und AS (
         |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey),
         |ed AS (SELECT x AS u, y AS v FROM und
         |       UNION ALL SELECT y, x FROM und),
         |deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY 1),
         |mm AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |         CAST(SUM(CAST(du.d AS HUGEINT)) AS HUGEINT) AS sj,
         |         CAST(SUM(CAST(du.d AS HUGEINT) * dv.d) AS HUGEINT)
         |           AS sjk,
         |         CAST(SUM(CAST(du.d AS HUGEINT) * du.d) AS HUGEINT)
         |           AS sj2
         |  FROM ed JOIN deg du ON du.u = ed.u
         |          JOIN deg dv ON dv.u = ed.v)
         |SELECT m AS n_dir_edges, ${AssortFormula.r6} AS assort6
         |FROM mm""".stripMargin,

    // same backbone + LPA prefix as q230 (one partition gated twice),
    // then exact-integer W / w_in / S_c and the shared Q formula
    "q280_modularity" ->
      s"""WITH $lpaCteSql,
         |wt AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM und),
         |win AS (
         |  SELECT lx.label, CAST(SUM(u.w) AS BIGINT) AS w_in
         |  FROM und u JOIN r2 lx ON lx.v = u.x
         |             JOIN r2 ly ON ly.v = u.y
         |  WHERE lx.label = ly.label
         |  GROUP BY 1),
         |dg AS (
         |  SELECT r2.label, CAST(SUM(e.w) AS BIGINT) AS s_tot
         |  FROM ed e JOIN r2 ON r2.v = e.u
         |  GROUP BY 1),
         |nn AS (SELECT label, COUNT(*) AS n_nodes FROM r2 GROUP BY 1)
         |SELECT nn.label, nn.n_nodes,
         |       COALESCE(win.w_in, 0) AS w_in, dg.s_tot,
         |       -- + 0 normalizes -0.0 (Spark round never emits it)
         |       ROUND(CAST(COALESCE(win.w_in, 0) AS DOUBLE) / wt.tw
         |             - (CAST(dg.s_tot AS DOUBLE) / (2 * wt.tw))
         |               * (CAST(dg.s_tot AS DOUBLE) / (2 * wt.tw)), 6) + 0
         |         AS contrib6
         |FROM nn JOIN dg USING (label)
         |LEFT JOIN win USING (label)
         |CROSS JOIN wt
         |ORDER BY label ASC NULLS FIRST""".stripMargin,

    // wedge replay with Σ min over common neighbours and the exact
    // integer half-up ratio — same backbone CTEs as q227/q230
    "q234_item_cf" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |undw AS (
         |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS w
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |und AS (SELECT x, y, w FROM undw WHERE w >= $LinkPredMinSupport),
         |ed AS (SELECT x AS u, y AS v, w FROM und
         |       UNION ALL SELECT y, x, w FROM und),
         |sdeg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM ed GROUP BY 1),
         |pr AS (
         |  SELECT e1.v AS px, e2.v AS py, COUNT(*) AS cn,
         |         CAST(SUM(LEAST(e1.w, e2.w)) AS BIGINT) AS cmin
         |  FROM ed e1 JOIN ed e2 ON e1.u = e2.u AND e1.v < e2.v
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT pr.px, pr.py, pr.cn,
         |         sx.s + sy.s - pr.cmin AS d, pr.cmin
         |  FROM pr JOIN sdeg sx ON sx.u = pr.px
         |          JOIN sdeg sy ON sy.u = pr.py)
         |SELECT px, py, cn,
         |       CAST((2 * cmin * 10000 + d) // (2 * d) AS DOUBLE) / 10000
         |         AS wjac4
         |FROM sc
         |ORDER BY wjac4 DESC NULLS LAST, px ASC NULLS FIRST,
         |         py ASC NULLS FIRST
         |LIMIT 30""".stripMargin,

    // the fixed 8-round peel unroll: per round a HAVING-degree drop set
    // and the double anti-join survivor relation; rounds past the
    // fixpoint leave the relation unchanged, so this equals the
    // engine's early-exiting loop exactly. AS MATERIALIZED is load-
    // bearing: DuckDB inlines CTEs by default, and each round
    // references its predecessor three times — un-materialized, the
    // 8-round chain expands to 3^8 copies of the base scan (observed
    // as a too-many-open-files failure)
    "q238_kcore" -> {
      val rounds = (1 to CoreMaxRounds).map { r =>
        val prev = s"e${r - 1}"
        s"""dr$r AS MATERIALIZED (
           |  SELECT u FROM (
           |    SELECT x AS u FROM $prev UNION ALL SELECT y FROM $prev) t
           |  GROUP BY u HAVING COUNT(*) < $CoreK),
           |e$r AS MATERIALIZED (
           |  SELECT e.x, e.y FROM $prev e
           |  LEFT JOIN dr$r a ON a.u = e.x
           |  LEFT JOIN dr$r b ON b.u = e.y
           |  WHERE a.u IS NULL AND b.u IS NULL)""".stripMargin
      }
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |undw AS (
         |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS w
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |e0 AS (SELECT x, y FROM undw WHERE w >= $LinkPredMinSupport),
         |${rounds.mkString(",\n")}
         |SELECT v AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM (SELECT x AS v FROM e$CoreMaxRounds
         |      UNION ALL SELECT y FROM e$CoreMaxRounds) t
         |GROUP BY v
         |ORDER BY core_deg DESC NULLS LAST, p_partkey ASC NULLS FIRST
         |LIMIT 30""".stripMargin
    },

    // the churn replay: distinct (year, x, y) edges, full outer join
    // against the year-shifted self, same integer flag sums and the
    // [D5] half-up integer Jaccard
    "q242_edge_churn" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ey AS (
        |  SELECT DISTINCT CAST(year(o.o_orderdate) AS INT) AS yr,
        |         a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a
        |  JOIN li b ON a.l_orderkey = b.l_orderkey
        |            AND a.l_partkey < b.l_partkey
        |  JOIN orders o ON o.o_orderkey = a.l_orderkey),
        |j AS (
        |  SELECT COALESCE(p.yr, n.yr) AS year_from,
        |         CASE WHEN p.yr IS NOT NULL THEN 1 END AS pa,
        |         CASE WHEN n.yr IS NOT NULL THEN 1 END AS pb
        |  FROM ey p
        |  FULL OUTER JOIN (SELECT yr - 1 AS yr, x, y FROM ey) n
        |    ON p.yr = n.yr AND p.x = n.x AND p.y = n.y),
        |g AS (
        |  SELECT year_from,
        |         CAST(SUM(CASE WHEN pa = 1 AND pb = 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         CAST(SUM(CASE WHEN pa = 1 AND pb IS NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_lost,
        |         CAST(SUM(CASE WHEN pa IS NULL AND pb = 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM j GROUP BY 1
        |  HAVING SUM(CASE WHEN pa = 1 THEN 1 ELSE 0 END) > 0)
        |SELECT year_from, year_from + 1 AS year_to,
        |       n_kept + n_lost AS n_prev, n_kept + n_new AS n_next,
        |       n_kept, n_new, n_lost,
        |       CAST((2 * n_kept * 10000 + (n_kept + n_lost + n_new))
        |            // (2 * (n_kept + n_lost + n_new)) AS DOUBLE) / 10000
        |         AS jaccard4
        |FROM g
        |ORDER BY year_from ASC NULLS FIRST""".stripMargin,

    // the holdout-eval replay: same backbone + integer wjac_bp pair
    // scores, ROW_NUMBER per-item neighbour lists, last-order split,
    // NOT EXISTS exclusions, and [D5] truncating permille ratios
    "q253_cf_holdout" ->
      s"""WITH $cfNbrCteSql,
         |ro AS (
         |  SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (
         |    PARTITION BY o_custkey
         |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM orders),
         |hist AS (
         |  SELECT DISTINCT r.o_custkey, l.l_partkey
         |  FROM ro r JOIN li l ON l.l_orderkey = r.o_orderkey
         |  WHERE r.rn >= 2),
         |lastp AS (
         |  SELECT DISTINCT r.o_custkey, l.l_partkey
         |  FROM ro r JOIN li l ON l.l_orderkey = r.o_orderkey
         |  WHERE r.rn = 1),
         |tnew AS (
         |  SELECT t.o_custkey, t.l_partkey FROM lastp t
         |  WHERE EXISTS (SELECT 1 FROM hist h
         |                WHERE h.o_custkey = t.o_custkey)
         |    AND NOT EXISTS (SELECT 1 FROM hist h
         |                    WHERE h.o_custkey = t.o_custkey
         |                      AND h.l_partkey = t.l_partkey)),
         |cand AS (
         |  SELECT h.o_custkey, n.rec,
         |         CAST(SUM(n.wjac_bp) AS BIGINT) AS score
         |  FROM hist h JOIN nbr n ON n.item = h.l_partkey
         |  GROUP BY 1, 2),
         |cand2 AS (
         |  SELECT c.* FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM hist h
         |                    WHERE h.o_custkey = c.o_custkey
         |                      AND h.l_partkey = c.rec)),
         |recs AS (
         |  SELECT o_custkey, rec FROM (
         |    SELECT o_custkey, rec, ROW_NUMBER() OVER (
         |      PARTITION BY o_custkey
         |      ORDER BY score DESC, rec ASC) AS rn
         |    FROM cand2) z
         |  WHERE rn <= $CfRecK),
         |hold AS (SELECT o_custkey, COUNT(*) AS n_hold
         |         FROM tnew GROUP BY 1),
         |hitc AS (
         |  SELECT r.o_custkey, COUNT(*) AS n_hits
         |  FROM recs r JOIN tnew t ON t.o_custkey = r.o_custkey
         |                         AND t.l_partkey = r.rec
         |  GROUP BY 1),
         |ev AS (
         |  SELECT h.o_custkey, h.n_hold, COALESCE(hc.n_hits, 0) AS n_hits
         |  FROM hold h LEFT JOIN hitc hc USING (o_custkey)),
         |seg AS (
         |  SELECT e.*, c.c_mktsegment AS segment
         |  FROM ev e JOIN customer c ON c.c_custkey = e.o_custkey)
         |SELECT segment, COUNT(*) AS n_eval,
         |       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hit_cust,
         |       CAST((1000 * SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END))
         |            // COUNT(*) AS BIGINT) AS hit_pm,
         |       CAST(SUM(n_hits) AS BIGINT) AS n_rec_hits,
         |       CAST(SUM(n_hold) AS BIGINT) AS n_holdout_new,
         |       CAST((1000 * SUM(n_hits)) // SUM(n_hold) AS BIGINT)
         |         AS recall_pm
         |FROM seg GROUP BY 1
         |ORDER BY segment ASC NULLS FIRST""".stripMargin,

    // q164's recursive replay generalized: src rides the recursion
    // key, UNION (not UNION ALL) bounds the working set, min-level
    // dedup makes the traversal order irrelevant
    "q232_landmark_bfs" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS u, y AS v FROM und
        |      UNION ALL SELECT y, x FROM und),
        |deg AS (SELECT u AS v, COUNT(*) AS d FROM e GROUP BY 1),
        |hub AS (SELECT v FROM (
        |          SELECT v, ROW_NUMBER() OVER (ORDER BY d DESC,
        |            v ASC) AS rn FROM deg) WHERE rn = 1),
        |seeds AS (SELECT DISTINCT src FROM (
        |  SELECT MIN(x) AS src FROM und
        |  UNION ALL SELECT MAX(y) FROM und
        |  UNION ALL SELECT v FROM hub)),
        |bfs(src, v, lvl) AS (
        |  SELECT src, src, 0 FROM seeds
        |  UNION
        |  SELECT bfs.src, e.v, bfs.lvl + 1 FROM bfs JOIN e ON e.u = bfs.v
        |  WHERE bfs.lvl < 3),
        |d AS (SELECT src, v, MIN(lvl) AS lvl FROM bfs GROUP BY 1, 2)
        |SELECT src, lvl, COUNT(*) AS n_parts FROM d GROUP BY 1, 2
        |ORDER BY src ASC NULLS FIRST, lvl ASC NULLS FIRST""".stripMargin,

    // three unrolled sparse RWR rounds in EXACT INTEGER MICRO-UNITS
    // (6dp × 10⁶): per-edge spreading and the damping combine round
    // half-up as pure integer arithmetic `(2a + b) // (2b)`, so the
    // replay is bit-identical by construction — double- and even
    // decimal-staged rounding both hit genuine 7th-decimal …5
    // boundaries on this graph (0.000235/94 = 2.5e-6) where the
    // engines' double-rounding conventions disagree. Restart mass
    // re-attaches via FULL JOIN against the one-row seed (absent
    // vertices stay absent, exactly the Spark plan's sparse vector).
    "q231_rwr" -> {
      val dampBd = java.math.BigDecimal.valueOf(Damping)
      val dNum = dampBd.unscaledValue.longValueExact // 85
      val dDen = math.pow(10, dampBd.scale.toDouble).toLong // 100
      val restartMicro = 1000000L - 1000000L / dDen * dNum
      def iter(prev: String, k: Int): String =
        s"""c$k AS (
           |  SELECT e.v,
           |         SUM((2 * r.pr6 * e.w + e.wdeg) // (2 * e.wdeg)) AS sc6
           |  FROM ed e JOIN $prev r ON e.u = r.v
           |  GROUP BY e.v),
           |r$k AS (
           |  SELECT COALESCE(c$k.v, s.v) AS v,
           |         CAST(CASE WHEN s.v IS NOT NULL
           |             THEN $restartMicro ELSE 0 END
           |           + (2 * $dNum * COALESCE(c$k.sc6, 0) + $dDen)
           |             // (2 * $dDen) AS BIGINT) AS pr6
           |  FROM c$k FULL JOIN s ON s.v = c$k.v)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |undw AS (
         |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS w
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |e AS (SELECT x AS u, y AS v, w FROM undw
         |      UNION ALL SELECT y, x, w FROM undw),
         |deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
         |ed AS (SELECT e.u, e.v, e.w, d.wdeg FROM e JOIN deg d ON e.u = d.u),
         |s AS (SELECT MIN(x) AS v FROM undw),
         |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS pr6 FROM s),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT v AS p_partkey, CAST(pr6 AS DOUBLE) / 1000000 AS rwr6
         |FROM r3
         |ORDER BY rwr6 DESC NULLS LAST, p_partkey ASC NULLS FIRST
         |LIMIT 20""".stripMargin
    },

    // two unrolled HITS rounds in the same integer micro-unit
    // convention: identical edge weights, L1 renormalization by
    // truncating division (all values non-negative, so // == div)
    "q248_hits" ->
      s"""WITH e AS (
         |  SELECT o_custkey AS c, l_partkey AS p, COUNT(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |a0 AS (
         |  SELECT DISTINCT p,
         |         CAST($HitsScale // (SELECT COUNT(DISTINCT p) FROM e)
         |              AS BIGINT) AS a
         |  FROM e),
         |hr1 AS (SELECT c, CAST(SUM(w * a) AS BIGINT) AS hr
         |        FROM e JOIN a0 USING (p) GROUP BY 1),
         |h1 AS (SELECT c, (hr * $HitsScale)
         |         // (SELECT SUM(hr) FROM hr1) AS h FROM hr1),
         |ar1 AS (SELECT p, CAST(SUM(w * h) AS BIGINT) AS ar
         |        FROM e JOIN h1 USING (c) GROUP BY 1),
         |a1 AS (SELECT p, (ar * $HitsScale)
         |         // (SELECT SUM(ar) FROM ar1) AS a FROM ar1),
         |hr2 AS (SELECT c, CAST(SUM(w * a) AS BIGINT) AS hr
         |        FROM e JOIN a1 USING (p) GROUP BY 1),
         |h2 AS (SELECT c, (hr * $HitsScale)
         |         // (SELECT SUM(hr) FROM hr2) AS h FROM hr2),
         |ar2 AS (SELECT p, CAST(SUM(w * h) AS BIGINT) AS ar
         |        FROM e JOIN h2 USING (c) GROUP BY 1),
         |a2 AS (SELECT p, (ar * $HitsScale)
         |         // (SELECT SUM(ar) FROM ar2) AS a FROM ar2),
         |hubs AS (
         |  SELECT 'hub' AS kind, c AS id, CAST(h AS BIGINT) AS score
         |  FROM h2 ORDER BY h DESC, c ASC LIMIT 20),
         |auths AS (
         |  SELECT 'authority' AS kind, p AS id, CAST(a AS BIGINT) AS score
         |  FROM a2 ORDER BY a DESC, p ASC LIMIT 20)
         |SELECT kind, id, score FROM (
         |  SELECT * FROM hubs UNION ALL SELECT * FROM auths) u
         |ORDER BY kind ASC NULLS FIRST, score DESC NULLS LAST,
         |         id ASC NULLS FIRST""".stripMargin,

    // the truss replay: q165's id-oriented three-way join produces
    // each triangle once with all three canonical edges in hand;
    // unnest, count per edge, left-join the edge list for support-0
    "q332_edge_support" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |tr AS (
        |  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
        |         c.x AS x3, c.y AS y3
        |  FROM e a JOIN e b ON b.x = a.y
        |           JOIN e c ON c.x = a.x AND c.y = b.y),
        |te AS (
        |  SELECT x1 AS x, y1 AS y FROM tr
        |  UNION ALL SELECT x2, y2 FROM tr
        |  UNION ALL SELECT x3, y3 FROM tr),
        |sup AS (SELECT x, y, COUNT(*) AS sup FROM te GROUP BY 1, 2)
        |SELECT CAST(COALESCE(sup, 0) AS BIGINT) AS support,
        |       COUNT(*) AS n_edges
        |FROM e LEFT JOIN sup USING (x, y)
        |GROUP BY 1
        |ORDER BY support ASC NULLS FIRST""".stripMargin,

    // the ladder replay: same conditional-sum rows, UNION-ALL unpivot,
    // the SAME RichFormula tree
    "q340_rich_club" -> {
      val ns = RichKs.map(k =>
        s"SUM(CASE WHEN d > $k THEN 1 ELSE 0 END) AS n$k").mkString(", ")
      val es = RichKs.map(k =>
        s"SUM(CASE WHEN dx > $k AND dy > $k THEN 1 ELSE 0 END) AS e$k")
        .mkString(", ")
      val rows = RichKs.map(k =>
        s"SELECT CAST($k AS INT) AS k, n$k AS n_rich, e$k AS e_rich " +
          "FROM na, ea").mkString("\n        |  UNION ALL ")
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |eu AS (
         |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey),
         |deg AS (
         |  SELECT v, COUNT(*) AS d FROM (
         |    SELECT x AS v FROM eu UNION ALL SELECT y AS v FROM eu)
         |  GROUP BY v),
         |ed AS (
         |  SELECT eu.x, eu.y, gx.d AS dx, gy.d AS dy
         |  FROM eu JOIN deg gx ON gx.v = eu.x
         |          JOIN deg gy ON gy.v = eu.y),
         |na AS (SELECT $ns FROM deg),
         |ea AS (SELECT $es FROM ed),
         |ladder AS (
         |  $rows)
         |SELECT k, CAST(n_rich AS BIGINT) AS n_rich,
         |       CAST(e_rich AS BIGINT) AS e_rich,
         |       ${RichFormula.phi6} AS phi6
         |FROM ladder
         |ORDER BY k ASC NULLS FIRST""".stripMargin
    }
  )
}
