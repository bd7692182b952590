package graft.api

import graft.Iterate
import graft.Iterate.{Concurrent, Sequential}
import graft.functions.{GraftFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
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
  *
  * Every banded pair pipeline (batch, incremental and streaming MinHash,
  * SimHash, and [[VectorOps.cosineLshPairs]]) is made of the same
  * pieces: one MinHash sketch ([[bandKeys]] over
  * [[TextOps.tokenHashes]]), one lowest-band rule ([[lowestBand]]) and
  * one verify ([[TextOps.jaccardVerify]] for the MinHash family).
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
    * distinct shuffle by the lowest-band rule ([[lowestBand]]), so
    * every pair surfaces exactly once.
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
    blockCol: Option[String] = None): DataFrame = {
    // one row of fixed-size sketches per doc, feeding five consumers (the
    // band explode and four broadcast lookup sides) — persist so the
    // minhash chain runs once
    val d = graft.Caches.persistTracked(
      sketch(docs, col(textCol), numHashes, bands)
        .select((Seq(col(idCol).as("id"), col("hs"), col("bks")) ++
          blockCol.map(c => col(c).as("block"))): _*))
    val firstBand = bandCollisionPairs(d, bands, blockCol.isDefined)
    val ha = d.select(col("id").as("id_lo"), col("hs").as("hs_a"))
    val hb = d.select(col("id").as("id_hi"), col("hs").as("hs_b"))
    TextOps.jaccardVerify(
      firstBand.join(broadcast(ha), "id_lo").join(broadcast(hb), "id_hi"),
      minJac).select("id_lo", "id_hi", "jac")
  }

  /** Incremental MinHash-LSH: verified pairs between a NEW batch
    * (`delta`) and an existing corpus (`base`) ONLY — the production
    * dedup shape, where yesterday's corpus is sketched once and each
    * increment joins its band keys against that index instead of
    * re-pairing the world (the full [[minhashLshPairs]] is O(corpus²)
    * candidate surface per run; this is O(delta × collisions)). Same
    * hash family, band geometry, lowest-band rule and exact-Jaccard
    * verify, so the result is exactly the cross-side subset of the
    * full pair relation. Returns (id_delta, id_base, inter, uni, jac)
    * with the intersection/union sizes exposed as exact integers
    * (consumers derive integer-exact scores like permille Jaccard
    * without re-intersecting).
    *
    * Stream-safe: `delta` may be a streaming frame (the online form of
    * the q315 increment). The base is sketched once and persisted;
    * its band index is the narrow (band, key, id) explode of that one
    * per-document lookup. The delta is read once and never persisted:
    * each delta row carries its own sketch through its band explode,
    * equi-joins the index, and keeps a (delta, base) pair only in its
    * lowest colliding band — a per-row predicate, so no distinct
    * shuffle and no state store, and append mode holds. */
  def minhashLshAgainst(base: DataFrame, delta: DataFrame, idCol: String,
    textCol: String, minJac: Double, numHashes: Int = 64, bands: Int = 16)
  : DataFrame = {
    val b = graft.Caches.persistTracked(
      sketch(base, col(textCol), numHashes, bands)
        .select(col(idCol).as("id_base"), col("hs").as("hs_b"),
          col("bks").as("bks_b")))
    val index = b.select(col("id_base"),
      posexplode(col("bks_b")).as(Seq("band", "key")))
    val cand = sketch(delta, col(textCol), numHashes, bands)
      .select(col(idCol).as("id_delta"), col("hs").as("hs_a"),
        col("bks").as("bks_a"), posexplode(col("bks")).as(Seq("band", "key")))
      .join(index, Seq("band", "key"))
      .join(broadcast(b), "id_base")
      .filter(lowestBand(col("band"), col("bks_a"), col("bks_b"), bands))
    TextOps.jaccardVerify(cand, minJac)
      .select("id_delta", "id_base", "inter", "uni", "jac")
  }

  /** `docs` plus the sorted token-hash array `hs` of `text` and its
    * `bands` MinHash band keys `bks` — the one sketch every MinHash pair
    * pipeline bands and verifies. */
  private def sketch(docs: DataFrame, text: Column, numHashes: Int,
    bands: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.withColumn("hs", TextOps.tokenHashes(text))
      .withColumn("bks", bandKeys(col("hs"), numHashes, bands))
  }

  /** `numHashes` MinHash slots of a sorted token-hash array (the
    * permutation family of [[graft.functions.TextFunctions.mhMul]]). */
  private[graft] def minhashSignature(hs: Column, numHashes: Int): Column =
    call_function("graft_minhash", hs, lit(numHashes))

  /** The `bands` band keys of `hs`'s `numHashes`-slot MinHash signature:
    * band i folds slots [i·r, (i+1)·r) with r = numHashes / bands. */
  private[graft] def bandKeys(hs: Column, numHashes: Int, bands: Int)
  : Column = {
    require(bands > 0 && numHashes % bands == 0,
      "numHashes must divide into bands")
    call_function("graft_band_keys", minhashSignature(hs, numHashes),
      lit(bands), lit(numHashes / bands))
  }

  /** The lowest-colliding-band rule: true iff `band` is the FIRST band
    * whose keys in the per-item key arrays `a` and `b` are equal, so a
    * pair that collides in several bands is kept exactly once, with no
    * distinct shuffle. Unrolled as Column comparisons, not a HOF lambda:
    * higher-order functions evaluate interpreted per element, which
    * would dominate on the candidate set; the CASE stays inside
    * whole-stage codegen. A colliding pair always matches its last band
    * if no earlier one, hence the ELSE arm (and with one band the CASE
    * is always 0).
    *
    * Every banded pair pipeline attaches its per-item lookups (key
    * arrays, hashes, vectors) by broadcast — right while one copy fits
    * an executor. Past that size, block the input by a key (source,
    * language, IVF cell) and pair within blocks. */
  private[graft] def lowestBand(band: Column, a: Column, b: Column,
    bands: Int): Column = {
    def hit(i: Int) = a.getItem(i) === b.getItem(i)
    band === (1 until bands - 1)
      .foldLeft(when(hit(0), 0))((c, i) => c.when(hit(i), i))
      .otherwise(bands - 1)
  }

  /** The shared LSH candidate step: given one row per item of
    * (`id`, `bks` = array of per-band bucket keys), return every
    * (id_lo, id_hi) whose keys collide in at least one band — emitted
    * EXACTLY once, in the lowest colliding band ([[lowestBand]]). Used
    * by the MinHash and SimHash pipelines here and the hyperplane
    * pipeline in [[VectorOps.cosineLshPairs]]. The band join carries
    * only (id, band, key); the per-id key arrays re-attach for the
    * lowest-band filter.
    *
    * With `blocked = true`, `d` must carry a `block` column and it
    * joins into the collision key — same-block pairs collide in exactly
    * the bands they would unblocked (block equality is pair-constant,
    * so the lowest-band rule is untouched); cross-block pairs are never
    * produced. */
  private[api] def bandCollisionPairs(d: DataFrame, bands: Int,
    blocked: Boolean = false): DataFrame = {
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
    cand
      .join(broadcast(ka), "id_lo").join(broadcast(kb), "id_hi")
      .filter(lowestBand(col("band"), col("bks_a"), col("bks_b"), bands))
      .select("id_lo", "id_hi")
  }

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
    * only the chunk extraction expressions grow. Rows with no tokens
    * carry no fingerprint and never pair. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
    maxDist: Int = 3, bits: Int = 61, spread: Long = 2654435761L)
  : DataFrame = {
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
      sh.select(col("id"), array(bkExprs: _*).as("bks")), chunks)
    val fa = sh.select(col("id").as("id_lo"), col("simhash").as("sh_a"))
    val fb = sh.select(col("id").as("id_hi"), col("simhash").as("sh_b"))
    cand.join(broadcast(fa), "id_lo").join(broadcast(fb), "id_hi")
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
