package graft.tools

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.TextQueries
import graft.sources.LakeWriter
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline over the documents corpus, built
  * entirely from library operators — the shape a pretraining data job
  * takes at 100 TB, runnable here at any SF:
  *
  *   1. load + spread the corpus
  *   2. quality-score and filter (q72 semantics), drop high-repetition
  *      docs (q91 semantics)
  *   3. near-dup cluster resolution, keep one doc per cluster (q77)
  *   4. decontaminate against the held-out eval slice (q90 semantics)
  *   5. deterministic train/val/test content-hash split (q78)
  *   6. token-budget packing into sequence bins per split (q79 shape)
  *   7. partitioned parquet lake write (split=... directories)
  *
  * `runMain graft.tools.PipelineDemo [sfDir] [outDir]`
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_pipe_").toString)
    val s = graft.GraftSession.local(32)
    s.sparkContext.setLogLevel("WARN")

    val docs = Tables.loadSpread(s, dir, "documents")
    val total = docs.count()

    // 2. quality filter: enough tokens, lexical diversity, and low
    // intra-doc repetition (keep docs whose duplicate-bigram fraction is
    // bounded; NULL frac = too short, already caught by n_tok)
    val rep = graft.api.TextOps.repetitionScore(docs, "doc_id", "text")
      .filter(col("dup2_frac").isNull || col("dup2_frac") <= 0.8)
      .select("doc_id")
    val scored = docs
      .join(rep, "doc_id")
      .withColumn("tk", TextFunctions.tokens(col("text")))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .withColumn("ttr", size(array_distinct(col("tk"))).cast("double") /
        col("n_tok"))
      .filter(col("n_tok") >= 5 && col("ttr") >= 0.3)
      .drop("tk")
    val kept_q = scored.count()

    // 3. near-dup clusters -> keep the representative doc per cluster
    val nodes = scored.select(col("doc_id").as("id"))
    val pairs = TextQueries.nearDupPairs(s, dir, 0.6)
      .join(nodes.select(col("id").as("id_lo")), "id_lo")
      .join(nodes.select(col("id").as("id_hi")), "id_hi")
    val labels = graft.api.DedupOps.connectedComponents(nodes, pairs)
    val keepers = scored.join(
      labels.filter(col("id") === col("lab")).select(col("id").as("doc_id")),
      "doc_id")
    val kept_d = keepers.count()

    // 4. decontamination: src0 plays the eval suite; drop corpus docs
    // sharing any 8-gram with it (the pretraining-hygiene step)
    val evalSuite = docs.filter(col("source") === "src0")
    val clean = keepers.filter(col("source") =!= "src0")
    val deconKeep = graft.api.TextOps
      .decontaminate(clean, "doc_id", "text", evalSuite, "text")
      .filter(col("contaminated") === 0).select("doc_id")
    val decon = clean.join(deconKeep, "doc_id")
    val kept_c = decon.count()

    // 5. deterministic content-hash split
    val split = decon
      .withColumn("bucket", expr("graft_charhash(text)") % 10)
      .withColumn("split", when(col("bucket") < 8, "train")
        .when(col("bucket") === 8, "val").otherwise("test"))

    // 6. token-budget packing per (split, lang)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("split", "lang").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = split
      .withColumn("n_tok", size(TextFunctions.tokens(col("text"))).cast("long"))
      .withColumn("bin",
        expr("coalesce(sum(n_tok) OVER (PARTITION BY split, lang " +
          "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 " +
          "PRECEDING), 0) DIV 2048"))
      .select("doc_id", "lang", "split", "bin", "n_tok", "text")

    // 7. lake write partitioned by split (prunable per-consumer)
    LakeWriter.unloadPartitioned(packed, out, Seq("split"))

    val back = s.read.parquet(out)
    val counts = back.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"[pipeline] total=$total qualityKept=$kept_q dedupKept=$kept_d " +
      s"decontamKept=$kept_c splits=$counts out=$out")
    assert(counts.values.sum == kept_c)
    s.stop()
  }
}
