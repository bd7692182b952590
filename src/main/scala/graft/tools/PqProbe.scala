package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: PQ codebook health + ADC shortlist recall sweep at a
  * given SF. `runMain graft.tools.PqProbe <sfDir>` */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.GraftSession.harness()
    graft.functions.GraftFunctions.register(s)
    val emb = graft.Tables.loadSpread(s, dir, "embeddings")
    for ((m, ksub, iters) <- Seq((16, 16, 2), (16, 16, 3))) {
      val cb = graft.api.PqOps.pqCodebooks(
        emb, "vec_id", "embedding", 64, m, ksub, iters)
      val nCells = cb.groupBy("j").count().agg(
        min("count"), avg("count"), max("count")).head()
      val codes = graft.api.PqOps.pqEncode(
        emb, "vec_id", "embedding", 64, m, cb)
      // code usage entropy proxy: distinct codes actually used per j
      val used = codes.groupBy("j", "code").count()
        .groupBy("j").count().agg(min("count"), max("count")).head()
      println(s"[pqprobe] m=$m ksub=$ksub iters=$iters cells(min/avg/max)=" +
        s"${nCells.get(0)}/${nCells.get(1)}/${nCells.get(2)} " +
        s"usedCodes(min/max)=${used.get(0)}/${used.get(1)}")
      val embN = emb.withColumn("n2", expr("graft_dot(embedding, embedding)"))
      val probes = embN.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          col("n2").as("pn2"))
      val exact = graft.plans.GraftOps.topKPerGroup(
        broadcast(probes).crossJoin(embN)
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("l2", round(col("pn2") + col("n2")
            - lit(2d) * expr("graft_dot(pe, embedding)"), 6))
          .select("probe_id", "vec_id", "l2"),
        Seq(col("probe_id")), Seq(col("l2").asc, col("vec_id").asc), 3)
        .select("probe_id", "vec_id").cache()
      for (k <- Seq(3, 10, 30, 100)) {
        val ann = graft.api.PqOps.pqAdcTopK(codes, cb,
          probes.select("probe_id", "pe"), 64, m, k)
          .select("probe_id", "vec_id")
        val ov = ann.join(exact, Seq("probe_id", "vec_id")).count()
        println(f"[pqprobe]   shortlist k=$k%3d: $ov of 30 (${ov / 30.0}%.3f)")
      }
      exact.unpersist()
    }

    // IVFPQ residual sweep: overlap + wall time vs (kCells, nprobe)
    val embN2 = emb.withColumn("n2", expr("graft_dot(embedding, embedding)"))
    val probes2 = embN2.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("n2").as("pn2"))
    val exact2 = graft.plans.GraftOps.topKPerGroup(
      broadcast(probes2).crossJoin(embN2)
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("l2", round(col("pn2") + col("n2")
          - lit(2d) * expr("graft_dot(pe, embedding)"), 6))
        .select("probe_id", "vec_id", "l2"),
      Seq(col("probe_id")), Seq(col("l2").asc, col("vec_id").asc), 3)
      .select("probe_id", "vec_id").cache()
    exact2.count()
    for ((kc, np, sk) <- Seq((8, 6, 48), (8, 8, 48))) {
      val t0 = System.nanoTime()
      val ann = graft.api.PqOps.ivfPqSearch(emb, "vec_id", "embedding", 64,
        kc, 4, 16, 16, 4, probes2.select("probe_id", "pe"), np, sk, 3)
        .select("probe_id", "vec_id")
      val ov = ann.join(exact2, Seq("probe_id", "vec_id")).count()
      println(f"[pqprobe] ivfpq kCells=$kc nprobe=$np shortK=$sk: " +
        f"$ov of 30 (${ov / 30.0}%.3f) in ${(System.nanoTime - t0) / 1e9}%.1f s")
    }
    exact2.unpersist()
    s.stop()
  }
}
