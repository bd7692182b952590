package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Dev probe behind the RecallAuditSpec floors: measures (a) the exact
  * pair-similarity distributions the LSH families must recover at
  * sf0.1, (b) MinHash recall vs (numHashes, bands), (c) hyperplane-LSH
  * recall vs (planesPerBand, bands), (d) IVF top-3 overlap vs nprobe —
  * so banding parameters are chosen from measurements, not S-curve
  * guesses. Findings land in BENCH_NOTES.md.
  *
  * Sections (d)/(e) deliberately re-state the q70 / IvfIndex search
  * pipelines inline so nprobe and the cell source can be swept — the
  * shipped pipelines are parameter-pinned; if their tie-breaks or
  * rounding change, refresh this probe (its numbers are point-in-time
  * sweeps, the durable floors live in RecallAuditSpec). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.GraftSession.harness()

    // (a) similarity distributions
    val docs = Tables.loadSpread(s, dir, "documents")
    val exactJac = graft.operators.TextQueries.nearDupPairs(s, dir, 0.6)
      .cache()
    println("[probe] jac>=0.6 pair histogram:")
    exactJac.groupBy(floor(col("jac") * 10).as("jac_dec")).count()
      .orderBy("jac_dec").collect()
      .foreach(r => println(s"[probe]   jac ${r.get(0)}0%: ${r.get(1)}"))

    val emb = Tables.loadSpread(s, dir, "embeddings")
    val exactCos = graft.api.VectorOps.cosinePairs(
      emb, "vec_id", "embedding", 0.35).cache()
    println("[probe] cos>=0.35 pair histogram:")
    exactCos.groupBy(floor(col("cos") * 10).as("cos_dec")).count()
      .orderBy("cos_dec").collect()
      .foreach(r => println(s"[probe]   cos ${r.get(0)}0%: ${r.get(1)}"))

    // (b) MinHash recall vs parameters at jac 0.6 lang-blocked
    val ne = exactJac.count()
    for ((nh, bands) <- Seq((16, 4), (32, 8), (64, 16))) {
      val t0 = System.nanoTime()
      val na = graft.api.DedupOps.minhashLshPairs(
        docs, "doc_id", "text", 0.6, nh, bands, blockCol = Some("lang"))
        .count()
      println(f"[probe] minhash nh=$nh bands=$bands: $na of $ne " +
        f"recall ${na.toDouble / ne}%.4f (${(System.nanoTime - t0) / 1e9}%.1f s)")
      graft.Caches.clear(s) // drop this iteration's sketch persists
    }

    // (c) hyperplane recall vs parameters at cos 0.35
    val nc = exactCos.count()
    for ((ppb, bands) <- Seq((8, 4), (6, 8), (4, 16), (4, 24))) {
      val t0 = System.nanoTime()
      val na = graft.api.VectorOps.cosineLshPairs(
        emb, "vec_id", "embedding", 64, 0.35, ppb, bands).count()
      println(f"[probe] hyperplane ppb=$ppb bands=$bands: $na of $nc " +
        f"recall ${na.toDouble / nc}%.4f (${(System.nanoTime - t0) / 1e9}%.1f s)")
      graft.Caches.clear(s) // drop this iteration's sketch persists
    }

    // (d) IVF overlap vs nprobe (replaying q70's pipeline by hand)
    val exact3 = SparkEntry.queries("q62_sim_topk")(s, dir)
      .filter(col("rn") <= 3).select("probe_id", "vec_id").cache()
    graft.functions.GraftFunctions.register(s)
    val embN = emb.withColumn("n2", expr("graft_dot(embedding, embedding)"))
    val cents = graft.api.VectorOps.centroids(embN, "label", "embedding", 64)
      .select(col("group").as("cell"), col("centroid").as("cent"))
      .withColumn("cn2", expr("graft_dot(cent, cent)"))
    val probes = embN.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("n2").as("pn2"))
    import org.apache.spark.sql.expressions.Window
    val wCell = Window.partitionBy("probe_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    for (nprobe <- Seq(2, 3, 4, 5)) {
      val cells = broadcast(probes).crossJoin(broadcast(cents))
        .withColumn("ccos", round(
          graft.api.VectorOps.cosWith("pe", "cent", "pn2", "cn2"), 4))
        .withColumn("crk", row_number().over(wCell))
        .filter(col("crk") <= nprobe)
        .select(col("probe_id").as("c_probe_id"), col("pe"), col("pn2"),
          col("cell"))
      val ann = graft.plans.GraftOps.topKPerGroup(
        cells.join(embN, col("cell") === col("label") &&
            col("vec_id") =!= col("c_probe_id"))
          .withColumn("cos4", round(
            graft.api.VectorOps.cosWith("pe", "embedding", "pn2", "n2"), 4))
          .select(col("c_probe_id").as("probe_id"), col("vec_id"), col("cos4")),
        Seq(col("probe_id")), Seq(col("cos4").desc, col("vec_id").asc), 3)
        .select("probe_id", "vec_id")
      val overlap = ann.join(exact3, Seq("probe_id", "vec_id")).count()
      println(f"[probe] ivf nprobe=$nprobe: $overlap of 30 " +
        f"overlap ${overlap / 30.0}%.4f")
    }

    // (e) the persisted-index path with LEARNED (k-means) cells instead
    // of the label column — does a real quantizer fix the overlap?
    val sprobes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    for ((k, iters) <- Seq((8, 4), (16, 4), (32, 4))) {
      val cells = graft.sources.IvfIndex.kmeansCells(
        emb, "vec_id", "embedding", k, iters, 64)
      val root = s"/tmp/probe_ivf_k$k"
      graft.sources.IvfIndex.build(
        emb.join(cells, emb("vec_id") === cells("id")).drop("id", "label")
          .withColumnRenamed("cell", "label"),
        root, "vec_id", "embedding", "label", 64)
      for (nprobe <- Seq(2, 4)) {
        val ann = graft.sources.IvfIndex.search(s, root, sprobes, nprobe, 3)
          .select("probe_id", "vec_id")
        val overlap = ann.join(exact3, Seq("probe_id", "vec_id")).count()
        println(f"[probe] ivf-kmeans k=$k nprobe=$nprobe: $overlap of 30 " +
          f"overlap ${overlap / 30.0}%.4f")
      }
    }
    s.stop()
  }
}
