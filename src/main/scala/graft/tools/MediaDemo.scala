package graft.tools

import graft.sources.Multimodal

/** Runnable example of the multimodal pipeline: synthetic binary media
  * rows → partition-local feature extraction → frame-sample plan.
  * `runMain graft.tools.MediaDemo [nRows]`. */
object MediaDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val media = spark.range(n).map { i =>
      Multimodal.MediaRow(i, Array.fill((i % 97 + 32).toInt)((i % 251).toByte),
        if (i % 2 == 0) "img" else "vid", 1920, 1080)
    }
    val feats = Multimodal.extractFeatures(media)
    val agg = feats.groupByKey(_.thumb_w).mapGroups((w, rs) => (w, rs.length))
      .collect().toMap
    val sample = feats.head(2)
    println(s"rows=${feats.count()} thumbAgg=$agg")
    sample.foreach(f => println(
      s"id=${f.media_id} bytes=${f.n_bytes} feat0=${f.feature.head} " +
        s"thumb=${f.thumb_w}x${f.thumb_h} " +
        s"frames=${Multimodal.FakeDecoder.frameSampleMs(9000, 2500).mkString(",")}"))
    spark.stop()
  }
}
