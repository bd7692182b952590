package graft.operators

import graft.{Caches, Tables}
import graft.api.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared co-purchase pair relation all the graph/basket queries
  * derive their edges from (q153 PageRank, q164 BFS, q165 triangles,
  * q167 lift, q171 also-bought, q176 degree distribution).
  *
  * The expensive piece is identical in all of them: the per-order
  * self-join of the distinct (order, part) incidence followed by the
  * pair count aggregation — Σ|order|² work and a pair-table shuffle.
  * The pair table is the GraphOps build ([[graft.api.GraphOps.pairWeights]],
  * the same one `EtlService`'s graph endpoints call), made ONCE per
  * (session, dir) via [[Caches.memo]] as the canonical x < y weighted
  * pair table; every family member is a cheap projection /
  * symmetrization of the persisted frame (co-occurrence counts are
  * symmetric, so the directed view is [[graft.api.GraphOps.directed]],
  * not a second self-join). Session hosts release it with
  * `TextQueries.clearCaches` like every other memoized relation.
  *
  * Scale: one pair shuffle per session instead of six; the memo key
  * carries `dir` so mixed-SF sessions never cross-read. Order size is
  * schema-bounded (≤ 7 lines), so the self-join is Σ|order|², never
  * |corpus|².
  */
object CoPurchase {

  /** Distinct (order, part) incidence — the basket relation. */
  def baskets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct()

  /** Memoized weighted undirected pair counts: x < y, w = number of
    * orders containing both parts. Exact integer counts — safe to
    * persist and share across every derived query. The build dedups
    * the raw lineitem itself, so its plan is the one `EtlService`'s
    * graph endpoints build on the same table, and they read this
    * persisted frame when it is cached. */
  def pairW(s: SparkSession, dir: String): DataFrame =
    Caches.memo(s, s"copurchase:pairw:$dir") {
      GraphOps.pairWeights(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
    }

  /** Distinct undirected pairs (x < y). */
  def und(s: SparkSession, dir: String): DataFrame =
    pairW(s, dir).select("x", "y")

  /** Memoized unweighted degree table (v, d) over [[und]], read by
    * q165, q176, q292, q308, q340 and landmarkBfs; one build per
    * (session, dir), primed under shared:graph_degrees. */
  def undDegrees(s: SparkSession, dir: String): DataFrame =
    Caches.memo(s, s"copurchase:unddeg:$dir") {
      GraphOps.degrees(und(s, dir), "x", "y")
    }

  /** Directed weighted edges (u, v, w), u != v — both orientations of
    * every undirected pair (counts are symmetric). */
  def directedW(s: SparkSession, dir: String): DataFrame =
    GraphOps.directed(pairW(s, dir), "x", "y", Some("w"))
}
