package graft

import org.apache.spark.sql.DataFrame

/** The one materialization rule for iterative loops: how a loop keeps
  * the state it carries from one round to the next.
  *
  * A round's state must be materialized once. Left as a bare plan, the
  * unrolled lineage grows with the round count, and its analysis and
  * AQE re-planning cost more than the jobs it saves (measured: q248
  * 3.78 → 5.15 s, RWR 3.05 → 3.77 s, when the per-round cap was
  * dropped). How it is materialized depends only on who reads it in the
  * next round:
  *
  *  - [[Sequential]]: the next round's job reads the state from one
  *    subtree at a time (a broadcast build before its stream side, or a
  *    single join side). The state is kept with a lazy
  *    [[Caches.persistTracked]]: each consumer reads one
  *    InMemoryRelation, filled inside the consumer's own action, so no
  *    extra eager job runs per round (q153 measured 1.2× faster than
  *    with eager checkpoints). A state that the loop's own stop test
  *    counts is already filled by that action, so it is Sequential too.
  *  - [[Concurrent]]: two subtrees of one job read the state (BFS's
  *    frontier and seen sides of one join, the contraction's two
  *    endpoint rewrites, a k-core peel's two anti-joins). Under a lazy
  *    persist both sides race the cache fill and recompute the round
  *    from lineage, recursively, so the whole traversal re-executes per
  *    round (measured at sf0.5: q164 5.0 → 10.9 s, q232 5.8 → 12.3 s).
  *    The state is kept with an eager `localCheckpoint(true)`.
  *
  * Two kinds of loop are deliberately not run through here. Loop
  * invariants — edge tables, transition matrices, training bases — are
  * built once before the loop and keep their eager checkpoint, because
  * every round reads them. Driver-model loops (the perceptron,
  * `MlOps.kmeansTrace`, PQ/OPQ and IVF Lloyd rounds) carry no DataFrame
  * between rounds: their model is a driver-side literal.
  */
object Iterate {

  /** Who reads a round's state in the next round's job. */
  sealed trait Readers
  case object Sequential extends Readers
  case object Concurrent extends Readers

  /** Materialize one round's `state` for its next-round `readers`. */
  def keep(state: DataFrame, readers: Readers): DataFrame = readers match {
    case Sequential => Caches.persistTracked(state)
    case Concurrent => state.localCheckpoint(true)
  }

  /** `n` rounds of `step` from `init`: `step` gets the state and the
    * round index (0 until n), and each round's result is kept by
    * [[keep]]. */
  def rounds(init: DataFrame, n: Int, readers: Readers)(
    step: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).foldLeft(init)((state, i) => keep(step(state, i), readers))
}
