package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed registry for builder-internal `persist()` calls.
  *
  * Several api-layer builders persist an intermediate frame that feeds
  * multiple consumers inside ONE returned plan (a token-hash table read
  * from both self-join sides, an exploded postings table feeding three
  * stages). The builder cannot unpersist it — the consuming action runs
  * later, in the caller — so an untracked `persist()` would pin executor
  * storage until GC-driven ContextCleaner reclaim, accumulating per
  * invocation in a long-lived session. Builders therefore persist via
  * [[persistTracked]], and hosts release a session's entire working set
  * with [[clear]] (Verify/Bench do, via
  * [[graft.operators.TextQueries.clearCaches]]).
  */
object Caches {

  private val tracked =
    new ConcurrentHashMap[SparkSession, java.util.List[DataFrame]]()

  private val memoized =
    new ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Persist `df` and register it for session-scoped release. Returns
    * `df` for chaining. */
  def persistTracked(df: DataFrame): DataFrame = {
    df.persist()
    tracked
      .computeIfAbsent(df.sparkSession,
        _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[DataFrame]()))
      .add(df)
    df
  }

  /** Session-keyed memoizer for operator-level shared frames (pair
    * tables, token-hash tables, tokenized projections): one persisted
    * materialization per (session, key), released with [[clear]]. The
    * key must encode every parameter the build depends on (dir,
    * threshold, blocking, ...) — this is the single cache all the
    * operator families share, so keys are prefixed per family.
    *
    * get + putIfAbsent rather than computeIfAbsent: builds NEST (a pair
    * table builds from the memoized hash table), and computeIfAbsent on
    * one shared map would throw on the recursive update. The benign
    * race (two threads building the same key; loser unpersists) is
    * fine — gate hosts run queries sequentially. */
  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, key)
    val existing = memoized.get(k)
    if (existing != null) existing
    else {
      val built = build.persist()
      val prev = memoized.putIfAbsent(k, built)
      if (prev != null) { built.unpersist(); prev } else built
    }
  }

  /** Unpersist every frame registered under `s` — tracked persists and
    * memoized frames — and drop the session's entries (blocking=false —
    * reclaim proceeds async). The static maps otherwise pin both the
    * frames' storage and the SparkSession itself for the JVM's
    * lifetime — fine for a one-shot Verify/Bench run, wrong for a
    * long-lived host that cycles sessions; such hosts call this when
    * done with a session. */
  def clear(s: SparkSession): Unit = {
    val l = tracked.remove(s)
    if (l != null) l.forEach(df => { df.unpersist(); () })
    memoized.forEach { (k, v) =>
      if (k._1 eq s) { v.unpersist(); memoized.remove(k) }
    }
  }
}
