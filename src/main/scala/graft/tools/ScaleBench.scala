package graft.tools

import graft.{GraftSession, SharedMemos}

/** Growth-study bench (r13 verdict item 1): times the scale-critical
  * query families against ScaleGen fixtures at several scale factors,
  * so the 100 TB claims rest on MEASURED growth exponents instead of
  * plan-shape argument alone.
  *
  * Usage:
  *   runMain graft.tools.ScaleBench <sfDir> [keysCsv] [sharedCsv]
  *
  * Mirrors graft.Bench's attribution discipline: the shared memos the
  * selected families consume are primed FIRST, each timed under its
  * own `shared:` line, so per-key lines are memo-warm and comparable
  * across scale factors; a key's exponent then measures ITS plan, not
  * whichever family build it happened to trigger. The lines are timed
  * by [[Probe.sweep]], as graft.Bench times its own. Prints one JSON line
  * with the per-line seconds plus the fixture's row counts (the x-axis
  * of the growth table in BENCH_NOTES.md).
  */
object ScaleBench {

  /** The scale-critical families named by the r13 verdict: banded
    * dedup (q66/q102/q111/q315), graph iteration (q77 CC, q153
    * PageRank, q228 sampled wedges), spatial grid join (q373),
    * GlobalRank consumers (q46/q144), baseline agg + sort-merge join
    * (q20/q11). */
  val DefaultKeys: Seq[String] = Seq(
    "q11_join_sortmerge", "q20_agg_pricing", "q46_quantile_hist",
    "q66_minhash_lsh", "q77_dedup_cluster", "q102_embed_lsh",
    "q111_containment_prefix", "q144_mad", "q153_pagerank",
    "q228_link_pred_sampled", "q315_incremental_dedup",
    "q373_geo_grid_knn")

  /** Shared memos those keys consume (subset of SharedMemos.primes —
    * the others are family builds no selected key touches). */
  val DefaultShared: Seq[String] = Seq(
    "shared:copurchase_pairw", "shared:text_hashed",
    "shared:text_pairs06", "shared:lsh_pairs05",
    "shared:pipeline_docstok")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = if (args.length > 1 && args(1).nonEmpty)
      args(1).split(",").toSeq else DefaultKeys
    val sharedWanted = if (args.length > 2 && args(2).nonEmpty)
      args(2).split(",").toSeq else DefaultShared
    val spark = GraftSession.harness()

    // row counts: the growth table's x-axis, read from the fixture
    // itself so the artifact is self-describing
    val rows = Seq("lineitem", "orders", "documents", "embeddings",
      "events", "customer", "supplier").map { t =>
      t -> graft.Tables.load(spark, sfDir, t).count()
    }

    val all = Probe.sweep(spark, sfDir,
      SharedMemos.primes(sfDir).map(_._1).filter(sharedWanted.contains) ++ keys)
    def f3(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = all.map(_.seconds).filter(_ >= 0).sum
    val rowsJson = rows.map { case (t, n) => s""""$t":$n""" }
      .mkString("{", ",", "}")
    val linesJson = all.map(r => s""""${r.name}":${f3(r.seconds)}""")
      .mkString("{", ",", "}")
    graft.operators.TextQueries.clearCaches(spark)
    spark.stop()
    println(s"""{"sf":"$sfDir","rows":$rowsJson,"lines":$linesJson,""" +
      s""""metric":"total","unit":"sec","value":${f3(total)}}""")
  }
}
