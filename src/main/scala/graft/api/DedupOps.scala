package graft.api

import graft.Dets.safeDiv
import graft.Iterate
import graft.Iterate.{Concurrent, Sequential}
import graft.functions.{GraftFunctions, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User-facing deduplication operators over ARBITRARY DataFrames — exact,
  * sketch-based (MinHash/LSH, SimHash), and full cluster resolution.
  * These back the hash-verified q60/q66/q67/q77 queries; see
  * [[graft.operators.SketchQueries]] / [[graft.operators.PipelineQueries]]
  * for the verified bindings and the DuckDB-oracle replays.
  *
  * Scale intent: [[TextOps.nearDupPairs]] is the exact O(pairs-per-block)
  * comparison; [[minhashLshPairs]] is the 100 TB path — candidates come
  * from banded signature collisions (an equi-join on band keys), so the
  * quadratic comparison never happens, and only candidates pay the exact
  * verify. [[clusterResolve]] turns any pair set into per-row cluster ids
  * and a keep/drop decision.
  */
object DedupOps {

  /** Exact duplicate groups by a content column: one row per distinct
    * content value with the smallest id as `keep_id` and the copy count.
    * A NULL content groups like any other value (one group, as SQL
    * GROUP BY does).
    *
    * The aggregation is keyed on the 8-byte rolling content hash plus the
    * length — NOT the raw content — so the exchange partitions, compares,
    * and sorts fixed-width keys instead of full documents, and each
    * group's buffer carries the content ONCE (the min, which the output
    * needs anyway; at 100 TB the payload difference is the whole
    * document corpus). Collisions are detected by min/max of a SECOND,
    * independent 64-bit content hash riding in the same partial
    * aggregation: any divergence routes the whole (h, hlen) group to the
    * rescue pass, which re-groups exactly by raw content — only the
    * collided rows (a handful) ever shuffle text as a key. A silent
    * wrong merge therefore needs two different contents of equal length
    * colliding on BOTH independent 64-bit hashes simultaneously
    * (~2^-128 per pair); any single-hash collision is re-resolved
    * exactly, and the DuckDB gate (GROUP BY content) would surface a
    * double collision on the fixtures. */
  def exactGroups(docs: DataFrame, idCol: String, contentCol: String)
  : DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val hashed = docs.select(col(idCol).as("__id"), col(contentCol).as("__c"),
      call_function("graft_charhash", col(contentCol)).as("h"),
      length(col(contentCol)).as("hlen"),
      xxhash64(col(contentCol)).as("h2"))
    val byHash = hashed.groupBy("h", "hlen")
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_copies"),
        min(col("__c")).as("c_min"),
        min(col("h2")).as("h2_min"), max(col("h2")).as("h2_max"))
    // null-safe compare: the NULL-content group has NULL h/hlen and a
    // constant h2 (xxhash64 of no input = seed), and must be emitted,
    // not silently dropped by three-valued logic
    val clean = byHash.filter(col("h2_min") <=> col("h2_max"))
      .select(col("keep_id"), col("n_copies"), col("c_min").as(contentCol))
    // Rescue: re-group the collided rows exactly by raw content. The
    // subset is collision-sized, and grouping collapses copies map-side,
    // so no single aggregation row ever holds more than one content.
    val rescued = hashed
      .join(broadcast(byHash.filter(!(col("h2_min") <=> col("h2_max")))
        .select("h", "hlen")), Seq("h", "hlen"))
      .groupBy("h", "hlen", "__c")
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("__c").as(contentCol))
    clean.unionByName(rescued)
  }

  /** MinHash + LSH near-dup pairs: shingle → `numHashes` MinHash sketch →
    * `bands` band keys → candidate pairs from per-band key collisions →
    * exact token-set Jaccard verify at `minJac`. Returns
    * (id_lo, id_hi, jac) for verified pairs only.
    *
    * Pipeline shape for scale: the band join carries ONLY (id, band,
    * key); cross-band duplicate candidates are eliminated WITHOUT a
    * distinct shuffle by the first-matching-band rule — a pair is kept
    * only in the lowest band where the two signatures collide, so every
    * pair surfaces exactly once. `broadcastLookups = true` (default)
    * attaches the per-doc lookup tables (band keys, sorted hashes) by
    * broadcast — right while one copy fits an executor; pass false once
    * the corpus outgrows that and they attach via shuffled equi-joins on
    * the id instead (hash-co-partitioned, no broadcast anywhere; the
    * first-band rule and the result are unchanged — asserted in
    * ApiSpec).
    *
    * `blockCol` optionally restricts the relation to same-block pairs
    * (e.g. same language — the blocking [[TextOps.nearDupPairs]]
    * applies): the block joins INTO the band-collision key, so
    * cross-block pairs never become candidates and never pay the
    * verify — not a post-filter.
    *
    * Recall tuning: with r = numHashes/bands rows per band, the
    * S-curve's half-recall point sits at (1/bands)^(1/r) — choose
    * bands so that lands AT or BELOW `minJac`, else pairs near the
    * threshold are coin flips. The 64/16 defaults put it at 0.5 and
    * measured 0.99 aggregate recall at jac 0.6 on sf0.1
    * (RecallAuditSpec; the old 16/4 default measured 0.80 — see
    * BENCH_NOTES round 4). More bands cost candidate volume, but
    * candidates carry only (id, band, key) rows and the verify is
    * candidate-bounded. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
    minJac: Double, numHashes: Int = 64, bands: Int = 16,
    broadcastLookups: Boolean = true,
    blockCol: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    GraftFunctions.register(docs.sparkSession)
    // one row of fixed-size sketches per doc, feeding five consumers (the
    // band explode and four broadcast lookup sides) — persist so the
    // minhash chain runs once
    val d = graft.Caches.persistTracked(docs
      .withColumn("__toks", TextFunctions.tokenSet(col(textCol)))
      .withColumn("hs", array_sort(expr("graft_token_hashes(__toks)")))
      .withColumn("mh", expr(s"graft_minhash(hs, $numHashes)"))
      .withColumn("bks", expr(s"graft_band_keys(mh, $bands, $rows)"))
      .select((Seq(col(idCol).as("id"), col("hs"), col("bks")) ++
        blockCol.map(c => col(c).as("block"))): _*))
    val firstBand =
      bandCollisionPairs(d, bands, broadcastLookups, blockCol.isDefined)
    val att = attach(broadcastLookups)
    val ha = d.select(col("id").as("id_lo"), col("hs").as("hs_a"))
    val hb = d.select(col("id").as("id_hi"), col("hs").as("hs_b"))
    firstBand.join(att(ha), "id_lo").join(att(hb), "id_hi")
      .withColumn("inter",
        expr("graft_sorted_intersect(hs_a, hs_b)").cast("double"))
      .withColumn("jac", safeDiv(col("inter"),
        size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("jac") >= minJac)
      .select("id_lo", "id_hi", "jac")
  }

  /** Incremental MinHash-LSH: candidate pairs between a NEW batch
    * (`delta`) and an existing corpus (`base`) ONLY — the production
    * dedup shape, where yesterday's corpus is sketched once and each
    * increment joins its band keys against that index instead of
    * re-pairing the world (the full [[minhashLshPairs]] is O(corpus²)
    * candidate surface per run; this is O(delta × collisions)). Same
    * hash family, band geometry, and exact-Jaccard verify, so the
    * result is exactly the cross-side subset of the full pair
    * relation. Returns (id_delta, id_base, inter, uni, jac) with the
    * intersection/union sizes exposed as exact integers (consumers
    * derive integer-exact scores like permille Jaccard without
    * re-intersecting). */
  def minhashLshAgainst(base: DataFrame, delta: DataFrame, idCol: String,
    textCol: String, minJac: Double, numHashes: Int = 64, bands: Int = 16)
  : DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    GraftFunctions.register(base.sparkSession)
    def sketch(df: DataFrame): DataFrame =
      graft.Caches.persistTracked(df
        .withColumn("__toks", TextFunctions.tokenSet(col(textCol)))
        .withColumn("hs", array_sort(expr("graft_token_hashes(__toks)")))
        .withColumn("mh", expr(s"graft_minhash(hs, $numHashes)"))
        .withColumn("bks", expr(s"graft_band_keys(mh, $bands, $rows)"))
        .select(col(idCol).as("id"), col("hs"), col("bks")))
    val b = sketch(base)
    val d = sketch(delta)
    def banded(df: DataFrame, n: String): DataFrame = df.select(
      col("id").as(n), posexplode(col("bks")).as(Seq("band", "key")))
    val cand = banded(d, "id_delta")
      .join(banded(b, "id_base"), Seq("band", "key"))
      .select("id_delta", "id_base").distinct()
    cand
      .join(b.select(col("id").as("id_base"), col("hs").as("hs_b")),
        Seq("id_base"))
      .join(d.select(col("id").as("id_delta"), col("hs").as("hs_a")),
        Seq("id_delta"))
      .withColumn("inter",
        expr("graft_sorted_intersect(hs_a, hs_b)").cast("long"))
      .withColumn("uni",
        (size(col("hs_a")) + size(col("hs_b"))).cast("long") - col("inter"))
      .withColumn("jac", safeDiv(col("inter").cast("double"),
        col("uni").cast("double")))
      .filter(col("jac") >= minJac)
      .select("id_delta", "id_base", "inter", "uni", "jac")
  }

  /** The shared LSH candidate step: given one row per item of
    * (`id`, `bks` = array of per-band bucket keys), return every
    * (id_lo, id_hi) whose keys collide in at least one band — emitted
    * EXACTLY once, in the lowest colliding band, so no distinct shuffle
    * is needed. Used by the MinHash pipeline here and the hyperplane
    * pipeline in [[VectorOps.cosineLshPairs]].
    *
    * The band join carries only (id, band, key); the per-id key arrays
    * re-attach via broadcast for the first-band filter — at corpus
    * scale, attach them via a co-partitioned join on the id instead
    * (the first-band rule is unchanged). The CASE is unrolled, not a
    * HOF lambda: higher-order functions evaluate interpreted per
    * element, which would dominate on the candidate set; the CASE stays
    * inside whole-stage codegen. A colliding pair always matches its
    * last band if no earlier one, hence the ELSE arm.
    *
    * With `blocked = true`, `d` must carry a `block` column and it
    * joins into the collision key — same-block pairs collide in exactly
    * the bands they would unblocked (block equality is pair-constant,
    * so the first-band rule is untouched); cross-block pairs are never
    * produced. */
  private[api] def bandCollisionPairs(d: DataFrame, bands: Int,
    broadcastLookups: Boolean = true, blocked: Boolean = false)
  : DataFrame = {
    val att = attach(broadcastLookups)
    val bandedCols = Seq(col("id")) ++
      (if (blocked) Seq(col("block")) else Nil)
    val banded = d.select(bandedCols :+
      posexplode(col("bks")).as(Seq("band", "bkey")): _*)
    val joinCond = col("band") === col("band_b") &&
      col("bkey") === col("bkey_b") && col("id_lo") < col("id_hi") &&
      (if (blocked) col("block") === col("block_b") else lit(true))
    val cand = banded
      .withColumnRenamed("id", "id_lo")
      .join(banded.toDF(banded.columns.map(_ + "_b").toIndexedSeq: _*)
        .withColumnRenamed("id_b", "id_hi"), joinCond)
      .select("id_lo", "id_hi", "band")
    val ka = d.select(col("id").as("id_lo"), col("bks").as("bks_a"))
    val kb = d.select(col("id").as("id_hi"), col("bks").as("bks_b"))
    // bands == 1 would unroll to a WHEN-less CASE (a parse error) —
    // with a single band the first matching band is trivially 0
    val firstMatch =
      if (bands == 1) lit(0)
      else expr((0 until bands - 1)
        .map(i => s"WHEN bks_a[$i] = bks_b[$i] THEN $i")
        .mkString("CASE ", " ", s" ELSE ${bands - 1} END"))
    cand
      .join(att(ka), "id_lo").join(att(kb), "id_hi")
      .filter(col("band") === firstMatch)
      .select("id_lo", "id_hi")
  }

  /** Broadcast the lookup side, or leave it to shuffle co-partitioned on
    * the join key (and hint AGAINST broadcast so AQE cannot promote a
    * "small" side that will not stay small at scale). */
  private def attach(bcast: Boolean): DataFrame => DataFrame =
    if (bcast) broadcast else _.hint("shuffle_merge")

  /** SimHash fingerprint per row, appended as `simhash`: every distinct
    * token votes its spread hash's bits, the fingerprint collects the
    * majority bit per position. Near-dup detection is then Hamming
    * distance on fingerprints. One codegen pass over the token hashes
    * (`graft_simhash`) — pure projection, no shuffle. Rows with no
    * tokens are dropped (no fingerprint is defined for them). */
  def simhash(docs: DataFrame, textCol: String, bits: Int = 61,
    spread: Long = 2654435761L): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__toks", TextFunctions.tokenSet(col(textCol)))
      .withColumn("__hs", expr("graft_token_hashes(__toks)"))
      .filter(size(col("__hs")) > 0)
      .withColumn("simhash", expr(s"graft_simhash(__hs, $bits, ${spread}L)"))
      .drop("__toks", "__hs")
  }

  /** SimHash near-dup pairs within Hamming distance `maxDist`: splits
    * each fingerprint into `maxDist + 1` contiguous bit chunks — by
    * pigeonhole, two fingerprints within the radius agree EXACTLY on at
    * least one chunk — so candidates come from per-chunk equality (an
    * equi-join on (chunk, value) through the shared first-matching-band
    * machinery), never an all-pairs scan. Candidates are then verified
    * with the exact popcount distance. Returns (id_lo, id_hi, hd).
    *
    * Scale shape: with the default 61-bit fingerprint and radius 3 the
    * chunks are ~15 bits ≈ 32k buckets, which holds to ~10M docs (bucket
    * occupancy n/32k keeps the candidate join near-linear). Past that,
    * widen the fingerprint (two 64-bit words) and keep radius/chunks
    * proportional — the pigeonhole rule and this pipeline are unchanged;
    * only the chunk extraction expressions grow. `broadcastLookups` as
    * in [[minhashLshPairs]]. Rows with no tokens carry no fingerprint
    * and never pair. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
    maxDist: Int = 3, bits: Int = 61, spread: Long = 2654435761L,
    broadcastLookups: Boolean = true): DataFrame = {
    require(maxDist >= 1 && maxDist + 1 <= bits,
      "need 1 <= maxDist and maxDist + 1 chunks within the bit width")
    val chunks = maxDist + 1
    val sh = graft.Caches.persistTracked(
      simhash(docs, textCol, bits, spread)
        .select(col(idCol).as("id"), col("simhash")))
    // chunk c covers `w` bits from `off`; first bits % chunks chunks are
    // one bit wider so the widths differ by at most one
    val base = bits / chunks
    val bkExprs = (0 until chunks).map { c =>
      val w = base + (if (c < bits % chunks) 1 else 0)
      val off = c * base + math.min(c, bits % chunks)
      expr(s"(simhash >> $off) & ${(1L << w) - 1}L")
    }
    val cand = bandCollisionPairs(
      sh.select(col("id"), array(bkExprs: _*).as("bks")),
      chunks, broadcastLookups)
    val att = attach(broadcastLookups)
    val fa = sh.select(col("id").as("id_lo"), col("simhash").as("sh_a"))
    val fb = sh.select(col("id").as("id_hi"), col("simhash").as("sh_b"))
    cand.join(att(fa), "id_lo").join(att(fb), "id_hi")
      .withColumn("hd", expr("bit_count(sh_a ^ sh_b)").cast("int"))
      .filter(col("hd") <= maxDist)
      .select("id_lo", "id_hi", "hd")
  }

  /** Connected components by star contraction over an undirected pair
    * set: every node ends labelled with the smallest `id` reachable
    * through `pairs`. `nodes` needs a long `id` column, `pairs` long
    * `id_lo`/`id_hi` columns; returns (id, lab).
    *
    * Each round hooks every active vertex to the minimum of itself and
    * its neighbours (`m`), composes that hook into the running
    * vertex→representative map, and CONTRACTS the edge set to
    * (m(lo), m(hi)) with self-loops dropped and duplicates merged. The
    * component minimum is a fixpoint of `m`, so labels only ever move
    * down toward it, and the contracted graph loses its non-minimal
    * local structure each round — on clique-heavy near-dup graphs the
    * edge set collapses almost entirely after one round, so only round
    * 0 pays a full pass over the pair table. Path graphs halve per
    * round (the pointer-jump bound). Termination: every contracted
    * edge's max endpoint is ≤ some pre-contraction edge's MIN endpoint,
    * so the edge set's frontier strictly descends until empty.
    *
    * Round state goes through [[graft.Iterate]]: the edge set is
    * Sequential (the round's own edge count fills it), the
    * representative map is Sequential (nothing reads it until after
    * the loop, whose final pass composes the cached per-round hooks),
    * and the hook is Concurrent (the contraction reads it from two join
    * sides, one per endpoint).
    *
    * Scale shape: the representative map holds only vertices that
    * appear in some pair (near-dup participants, not the corpus);
    * `nodes` is touched exactly once, by the final left join. Joins
    * carry no broadcast hints — AQE broadcasts the hook/rep tables
    * while they fit and falls back to shuffle joins past that. Once
    * contraction shrinks the live graph to at most `localCutover` edges
    * it is collected and finished with driver-side union-find — the
    * cluster-level residue of a 100 TB dedup graph is a few MB, and
    * solving it locally replaces O(log d) more rounds of job overhead
    * with one collect bounded by the cutover, not the data. PropertySpec
    * checks the result against union-find with the driver finish only,
    * with contraction rounds only, and with both.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
    localCutover: Long = 500000): DataFrame = {
    // canonical lo<hi edges; near-dup producers already emit unique
    // ordered pairs, so no distinct here — the first contraction dedups
    var e = Iterate.keep(pairs
      .select(least(col("id_lo"), col("id_hi")).as("lo"),
        greatest(col("id_lo"), col("id_hi")).as("hi"))
      .filter(col("lo") =!= col("hi")), Sequential)
    // rep: pair-participating vertex -> current contracted representative
    var rep: DataFrame = null
    var nEdges = e.count()
    var iter = 0
    while (nEdges > localCutover && iter < 50) {
      // hook: m(x) = min(x, min neighbour of x) over the live edge set
      val m = Iterate.keep(e
        .select(col("lo").as("x"), col("hi").as("y"))
        .union(e.select(col("hi").as("x"), col("lo").as("y")))
        .groupBy("x").agg(min("y").as("my"))
        .select(col("x"), least(col("x"), col("my")).as("m")), Concurrent)
      // compose the hook into the global representative map; vertices
      // whose representative went edge-less keep their label (left join)
      rep = Iterate.keep(
        if (rep == null) m.select(col("x").as("id"), col("m").as("lab"))
        else rep.join(m, rep("lab") === m("x"), "left")
          .select(rep("id"), coalesce(col("m"), rep("lab")).as("lab")),
        Sequential)
      // contract: rewrite both endpoints through m, drop self-loops,
      // merge parallel edges — the only full edge pass of the round
      val mlo = m.select(col("x").as("lo"), col("m").as("ml"))
      val mhi = m.select(col("x").as("hi"), col("m").as("mh"))
      e = Iterate.keep(e
        .join(mlo, "lo").join(mhi, "hi")
        .select(least(col("ml"), col("mh")).as("lo"),
          greatest(col("ml"), col("mh")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct(), Sequential)
      nEdges = e.count()
      iter += 1
    }
    // the driver-side finish is bounded by the CUTOVER, not the data —
    // if the iteration cap (not the edge count) ended the loop, refuse
    // to collect an unbounded edge set and name the pathology instead
    if (nEdges > localCutover)
      throw new IllegalStateException(
        s"connectedComponents: $nEdges edges remain after $iter contraction" +
          s" rounds (cutover $localCutover) — graph is not contracting;" +
          " raise localCutover or investigate the edge distribution")
    if (nEdges > 0) {
      // residual graph fits on the driver: min-root union-find with path
      // compression, then one small mapping composed into rep
      val es = e.select(col("lo"), col("hi")).collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { row =>
        verts(row.getLong(0)) = 0L; verts(row.getLong(1)) = 0L
      }
      verts.keys.foreach(v => verts(v) = find(v))
      val spark = nodes.sparkSession
      import spark.implicits._
      val local = verts.toSeq.toDF("x", "m")
      rep =
        if (rep == null) local.select(col("x").as("id"), col("m").as("lab"))
        else rep.join(local, rep("lab") === local("x"), "left")
          .select(rep("id"), coalesce(col("m"), rep("lab")).as("lab"))
    }
    val n = nodes.select(col("id"))
    if (rep == null) n.select(col("id"), col("id").as("lab"))
    else n.join(rep.select(col("id"), col("lab")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lab"), col("id")).as("lab"))
  }

  /** Full cluster resolution: label every row of `docs` with the cluster
    * it belongs to under `pairs` (any near-dup pair set — exact, LSH, or
    * embedding-based) and a keep/drop decision. Returns `docs`'s id
    * column plus (cluster_id, keep) where keep = 1 on the cluster
    * representative (the minimum id, so exactly one keeper per cluster,
    * singletons keep themselves). Filtering `keep = 1` IS corpus-level
    * near-dedup. */
  def clusterResolve(docs: DataFrame, idCol: String, pairs: DataFrame)
  : DataFrame =
    connectedComponents(docs.select(col(idCol).as("id")), pairs)
      .select(col("id").as(idCol), col("lab").as("cluster_id"),
        when(col("id") === col("lab"), 1).otherwise(0)
          .cast("int").as("keep"))
}
