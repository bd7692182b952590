package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** §2.9 streaming-only semantics over the same event-time expressions the
  * batch queries use: micro-batched file source, watermark late-drop,
  * and mapGroupsWithState custom state. All public APIs (no test-only
  * internals), so the same topology runs on a real cluster.
  */
class StreamingSpec extends SparkSpec {

  private def chunkEventsDir(): String =
    chunkTableDir("events", Seq("ts", "event_id"))

  /** Write `table` as ~3 parquet files in `sortCols` order with
    * ascending mtimes, so a maxFilesPerTrigger=1 stream replays it as
    * three micro-batches. */
  private def chunkTableDir(table: String, sortCols: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_stream_").toString
    val events = Tables.load(spark, Sf, table)
      .orderBy(sortCols.map(col): _*)
    val n = events.count().toInt
    val chunk = math.max(1, n / 3)
    val rows = events.collect()
    rows.grouped(chunk).zipWithIndex.foreach { case (part, i) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(part.toSeq, 1), events.schema)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/chunk_$i")
      // one file per chunk dir; move files up so the stream source sees a
      // flat directory of parquet files in chunk order
      val f = Files.list(Paths.get(s"$dir/chunk_$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(f), Paths.get(s"$dir/part_$i.parquet"))
      Files.setLastModifiedTime(Paths.get(s"$dir/part_$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    dir
  }

  test("streamed tumbling-window counts converge to the q50 batch result") {
    val dir = chunkEventsDir()
    val schema = Tables.load(spark, Sf, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*.parquet")
    val agg = graft.streaming.EventStreams
      .tumblingCounts(stream, "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("t_tumble")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[java.time.LocalDateTime](0), r.getString(1), r.getLong(2),
        r.getDouble(3))
    val streamed = spark.table("t_tumble").collect().map(key).toSet
    val batch = SparkEntry.queries("q50_win_tumbling")(spark, Sf)
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(key).toSet
    assert(streamed == batch)
  }

  test("watermark drops late data in append mode") {
    val dir = Files.createTempDirectory("graft_late_").toString
    import spark.implicits._
    def write(name: String, mtime: Long, rows: Seq[(Timestamp, String)]): Unit = {
      rows.toDF("ts", "k").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/stage")
      val f = Files.list(Paths.get(s"$dir/stage")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(f), Paths.get(s"$dir/$name.parquet"))
      Files.setLastModifiedTime(Paths.get(s"$dir/$name.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    def ts(s: String) = Timestamp.valueOf(s)
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts TIMESTAMP, k STRING")
        .parquet(s"$dir/*.parquet")
      val agg = stream.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("string").as("ws"), col("n"))
      val q = agg.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // phase 1: events at 10:00/10:05 and 12:00 -> watermark persists at 11:50,
    // the 10:00 window closes and is emitted with n=2
    write("a", 1000000L, Seq((ts("2024-01-01 10:00:00"), "x"),
      (ts("2024-01-01 10:05:00"), "x")))
    write("b", 2000000L, Seq((ts("2024-01-01 12:00:00"), "x")))
    runOnce()
    // phase 2: a 10:30 row arrives BEHIND the persisted watermark (late by
    // 80 min vs the 10-min bound) and must be dropped; 14:00 advances the
    // watermark so the 12:00 window closes with n=1
    write("c", 3000000L, Seq((ts("2024-01-01 10:30:00"), "x")))
    write("d", 4000000L, Seq((ts("2024-01-01 14:00:00"), "x")))
    runOnce()

    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(emitted.get("2024-01-01 10:00:00").contains(2L), emitted.toString)
    assert(emitted.get("2024-01-01 12:00:00").contains(1L), emitted.toString)
  }

  test("streamed session windows agree with the q52 batch sessions") {
    val dir = chunkEventsDir()
    val schema = Tables.load(spark, Sf, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*.parquet")
    val agg = stream.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        Dets.tsOut(col("session_window.start")).as("session_start"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("t_sess")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2))
    val streamed = spark.table("t_sess").collect().map(key).toSet
    val batch = SparkEntry.queries("q52_win_session")(spark, Sf)
      .select("user_id", "session_start", "n_events").collect().map(key).toSet
    // append mode only emits sessions closed below the final watermark:
    // streamed is a subset, but must cover nearly all sessions
    assert(streamed.subsetOf(batch),
      s"streamed sessions disagree: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= (batch.size * 9) / 10,
      s"only ${streamed.size} of ${batch.size} sessions emitted")
  }

  test("stream-stream interval join converges to the q17 batch result") {
    val dir = chunkEventsDir()
    val schema = Tables.load(spark, Sf, "events").schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*.parquet")
    val joined = graft.streaming.EventStreams.attributionJoin(
      src().filter(col("event_type") === "signup"),
      src().filter(col("event_type") === "purchase"))
    val q = joined.writeStream.format("memory").queryName("t_attr")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val streamed = spark.table("t_attr").collect().map(key).toSet
    val batch = SparkEntry.queries("q17_join_range")(spark, Sf)
      .select("signup_id", "purchase_id").collect().map(key).toSet
    // inner stream-stream joins emit every matched pair; state eviction
    // only discards rows past any possible match — equality, not subset
    assert(streamed == batch && batch.nonEmpty,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("custom flatMapGroupsWithState sessionizer agrees with q52 sessions") {
    import graft.streaming.EventStreams
    val dir = chunkEventsDir()
    val schema = Tables.load(spark, Sf, "events").schema
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*.parquet")
      .select(col("user_id"), col("ts")).as[EventStreams.SessionEvent]
    val sessions = EventStreams.sessionize(stream, 30 * 60 * 1000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("t_css")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("t_css").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    def ms(ldt: java.time.LocalDateTime): Long =
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val batch = SparkEntry.queries("q52_win_session")(spark, Sf)
      .select("user_id", "session_start", "last_ts", "n_events").collect()
      .map(r => (r.getLong(0), ms(r.getAs[java.time.LocalDateTime](1)),
        ms(r.getAs[java.time.LocalDateTime](2)), r.getLong(3))).toSet
    assert(streamed.subsetOf(batch),
      s"sessionizer disagrees: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= (batch.size * 8) / 10,
      s"only ${streamed.size} of ${batch.size} sessions closed")
  }

  test("sessionizer gives an out-of-order late event its own session") {
    import graft.streaming.EventStreams
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ooo_").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: event at 10:10; batch 2: a LATE event at 10:00 (at the
    // 10-minute watermark, so it is processed) — 10 min apart with a
    // 60 s gap, so it must become its OWN session, not fold into the
    // newer one; batches 3/4 only push the watermark forward
    val files = Seq(
      Seq((1L, ts("2024-01-01 10:10:00"))),
      Seq((1L, ts("2024-01-01 10:00:00"))),
      Seq((1L, ts("2024-01-01 11:00:00"))),
      Seq((1L, ts("2024-01-01 12:00:00"))))
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/chunk_$i")
      val f = Files.list(Paths.get(s"$dir/chunk_$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(f), Paths.get(s"$dir/part_$i.parquet"))
      Files.setLastModifiedTime(Paths.get(s"$dir/part_$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(4000000L + i * 60000L))
    }
    val stream = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
      .as[EventStreams.SessionEvent]
    val q = EventStreams.sessionize(stream, 60 * 1000L)
      .toDF().writeStream.format("memory").queryName("t_ooo")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val closed = spark.table("t_ooo").collect()
      .map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
        r.getLong(3))).toSet
    def ms(s: String) = ts(s).getTime
    val early = Set(
      (ms("2024-01-01 10:00:00"), ms("2024-01-01 10:00:00"), 1L),
      (ms("2024-01-01 10:10:00"), ms("2024-01-01 10:10:00"), 1L))
    assert(early.subsetOf(closed),
      s"late event was folded into the newer session: $closed")
  }

  test("foreachBatch upsert snapshot converges to batch latest-wins") {
    import graft.streaming.EventStreams
    val dir = chunkEventsDir()
    val snap = Files.createTempDirectory("graft_snap_").toString
    val schema = Tables.load(spark, Sf, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*.parquet")
    val q = EventStreams.upsertSnapshot(stream, snap)
    q.awaitTermination(120000)
    // AvailableNow isn't used here (foreachBatch+default trigger runs
    // continuously); stop once all input files are consumed
    q.processAllAvailable()
    q.stop()
    val got = EventStreams.readSnapshot(spark, snap).get
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = EventStreams.latestWins(Tables.load(spark, Sf, "events"))
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // every user present exactly once
    val users = EventStreams.readSnapshot(spark, snap).get
      .groupBy("user_id").count().filter(col("count") > 1).count()
    assert(users == 0)
    // a crashed batch leaves a gen dir WITHOUT _SUCCESS — it must be
    // invisible to readers (the completed snapshot stays current)
    val partial = new java.io.File(snap, "gen_999")
    partial.mkdirs()
    val after = EventStreams.readSnapshot(spark, snap).get
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == want)
  }

  private def utc(s: String): Timestamp =
    Timestamp.from(java.time.LocalDateTime.parse(s)
      .toInstant(java.time.ZoneOffset.UTC))

  test("streamed market-share snapshot reproduces the q127 batch report") {
    import graft.streaming.EventStreams
    val dir = chunkTableDir("lineitem", Seq("l_orderkey", "l_linenumber"))
    val snap = Files.createTempDirectory("graft_ms_snap_").toString
    val schema = Tables.load(spark, Sf, "lineitem").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.marketShareStream(stream,
      Tables.load(spark, Sf, "orders"), Tables.load(spark, Sf, "customer"),
      Tables.load(spark, Sf, "nation"), Tables.load(spark, Sf, "region"),
      Tables.load(spark, Sf, "part"),
      utc("1995-01-01T00:00:00"), utc("1997-01-01T00:00:00"), snap)
    q.processAllAvailable()
    q.stop()
    val svc = new graft.api.EtlService(spark)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1),
      r.getInt(2), r.getDouble(3), r.getDouble(4))
    val got = svc.marketShareReport(
        EventStreams.readSnapshot(spark, snap).get)
      .collect().map(key).toSet
    val want = SparkEntry.queries("q127_svc_marketshare")(spark, Sf)
      .collect().map(key).toSet
    // bit-exact agreement, doubles included: the snapshot's re-summed
    // decimals equal the one-shot decimals, so the double casts match
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streamed returned-items ledger reproduces the q128 batch report") {
    import graft.streaming.EventStreams
    val dir = chunkTableDir("lineitem", Seq("l_orderkey", "l_linenumber"))
    val snap = Files.createTempDirectory("graft_ri_snap_").toString
    val schema = Tables.load(spark, Sf, "lineitem").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.returnedItemsStream(stream,
      Tables.load(spark, Sf, "orders"),
      utc("1995-01-01T00:00:00"), utc("1996-01-01T00:00:00"), snap)
    q.processAllAvailable()
    q.stop()
    val svc = new graft.api.EtlService(spark)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getString(2), r.getString(3), r.getDouble(4), r.getLong(5))
    val got = svc.returnedItemsReport(
        EventStreams.readSnapshot(spark, snap).get,
        Tables.load(spark, Sf, "customer"), Tables.load(spark, Sf, "nation"),
        k = 20)
      .collect().map(key).toSet
    val want = SparkEntry.queries("q128_svc_returns")(spark, Sf)
      .collect().map(key).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streamed rolling-WAU snapshot reproduces the q177 batch curve") {
    import graft.streaming.EventStreams
    val dir = chunkTableDir("events", Seq("ts", "event_id"))
    val snap = Files.createTempDirectory("graft_wau_snap_").toString
    val schema = Tables.load(spark, Sf, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.rollingWauStream(stream, snap)
    q.processAllAvailable()
    q.stop()
    // timestamp_ntz surfaces as LocalDateTime in collect() — compare
    // generically
    def key(r: org.apache.spark.sql.Row) = (r.get(0), r.getLong(1))
    val got = EventStreams.rollingWauReport(
        EventStreams.readSnapshot(spark, snap).get)
      .collect().map(key).toSet
    val want = SparkEntry.queries("q177_rolling_wau")(spark, Sf)
      .collect().map(key).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streamed dow-hour heatmap snapshot reproduces the q211 batch cells") {
    import graft.streaming.EventStreams
    val dir = chunkTableDir("events", Seq("ts", "event_id"))
    val snap = Files.createTempDirectory("graft_dowhour_snap_").toString
    val schema = Tables.load(spark, Sf, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.dowHourStream(stream, snap)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val got = EventStreams.dowHourReport(
        EventStreams.readSnapshot(spark, snap).get)
      .collect().map(key).toSet
    val want = SparkEntry.queries("q211_dow_hour")(spark, Sf)
      .collect().map(key).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streamed sampled-quantile snapshot reproduces the q240 batch report") {
    import graft.streaming.EventStreams
    val dir = chunkTableDir("lineitem", Seq("l_orderkey", "l_linenumber"))
    val snap = Files.createTempDirectory("graft_sq_snap_").toString
    val schema = Tables.load(spark, Sf, "lineitem").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.sampledQuantileStream(stream, snap)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val got = EventStreams.sampledQuantileReport(
        EventStreams.readSnapshot(spark, snap).get)
      .collect().map(key).toSet
    val want = SparkEntry.queries("q240_sampled_quantiles")(spark, Sf)
      .collect().map(key).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streamed KMV sketch snapshot reproduces the q239 batch estimates") {
    import graft.streaming.EventStreams
    val dir = chunkTableDir("events", Seq("ts", "event_id"))
    val snap = Files.createTempDirectory("graft_kmv_snap_").toString
    val schema = Tables.load(spark, Sf, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.kmvStream(stream, snap)
    q.processAllAvailable()
    q.stop()
    // K-min is a mergeable sketch: the folded snapshot's estimates must
    // equal the one-shot batch sketch BIT-FOR-BIT, not approximately
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val got = EventStreams.kmvReport(
        EventStreams.readSnapshot(spark, snap).get)
      .collect().map(key).toSet
    val want = SparkEntry.queries("q239_kmv_distinct")(spark, Sf)
      .select("event_type", "kmv_est").collect().map(key).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streamed revenue maintenance snapshot equals the q369 batch rollup") {
    // r13 verdict item 5: q369 proves merge-of-partials ≡ direct
    // recompute in BATCH; this pins the STREAMED form — per-micro-batch
    // month partials folded by aggSnapshot — bit-for-bit against the
    // batch key's output on the same orders fixture, streamed as
    // multiple micro-batch files so the prev ∪ partial merge genuinely
    // executes (not just the first-batch passthrough).
    import graft.streaming.EventStreams
    val dir = chunkTableDir("orders", Seq("o_orderkey"))
    val snap = Files.createTempDirectory("graft_rev_snap_").toString
    val schema = Tables.load(spark, Sf, "orders").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = EventStreams.revenueMaintenanceStream(stream, snap)
    q.processAllAvailable()
    q.stop()
    val got = EventStreams.revenueMaintenanceReport(
        EventStreams.readSnapshot(spark, snap).get)
      .collect().map(_.toString).toSeq
    val want = SparkEntry.queries("q369_agg_maintenance")(spark, Sf)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"streamed=${got.take(3)} batch=${want.take(3)}")
  }

  test("streamed Count-Min snapshot reproduces the q244 batch estimates") {
    import graft.streaming.{DocStreams, EventStreams}
    val dir = chunkTableDir("documents", Seq("doc_id"))
    val snap = Files.createTempDirectory("graft_cms_snap_").toString
    val schema = Tables.load(spark, Sf, "documents").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = DocStreams.cmsStream(stream, "text", snap)
    q.processAllAvailable()
    q.stop()
    // cell counts are re-summable, so the folded grid must equal the
    // one-shot batch sketch BIT-FOR-BIT — probe it with the batch
    // query's own top-20 tokens and compare estimates exactly
    val want = SparkEntry.queries("q244_cms_freq")(spark, Sf)
      .select("tok", "cms_est").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = DocStreams.cmsReport(
        EventStreams.readSnapshot(spark, snap).get,
        want.map(_._1).toSeq)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // a token the corpus never contains must estimate 0 unless every
    // one of its cells collides (one-sided error: est >= truth = 0)
    val ghost = DocStreams.cmsReport(
      EventStreams.readSnapshot(spark, snap).get,
      Seq("zz_never_a_token_zz")).collect()
    assert(ghost.length == 1 && ghost.head.getLong(1) >= 0L)
  }

  test("streamed survivor-filtered semantic search converges to the q229 batch ranking") {
    import graft.streaming.{DocStreams, EventStreams}
    // replay the corpus in doc_id order (chunkTableDir sorts) so the
    // online first-arrival dedup equals the batch min-id keep rule —
    // the agreement contract the operator documents
    val dir = chunkTableDir("documents", Seq("doc_id"))
    val snap = Files.createTempDirectory("graft_sem_snap_").toString
    val docsSchema = Tables.load(spark, Sf, "documents").schema
    val emb = Tables.load(spark, Sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
      // synthetic event time from the id: the dedup state only needs
      // SOME watermarkable order, and id order IS the arrival order
      .withColumn("ts", timestamp_seconds(col("doc_id")))
    val q = DocStreams.semanticSearchStream(stream, "ts", "doc_id", "text",
      col("text").isNotNull && col("n_chars") >= 100L,
      emb, "vec_id", "embedding", probes, k = 5,
      watermark = "1 hour", snapshotRoot = snap)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos4"), r.getAs[Int]("rn"))
    val got = EventStreams.readSnapshot(spark, snap).get
      .select("probe_id", "vec_id", "cos4", "rn").collect().map(key).toSet
    val want = SparkEntry.queries("q229_crossmodal_search")(spark, Sf)
      .select("probe_id", "vec_id", "cos4", "rn").collect().map(key).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streaming near-dup filter keeps first arrival per signature") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_neardup_").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // file 1: three distinct docs; file 2: one exact dup of doc 1 (same
    // token multiset => same minhash signature), one reordered dup of
    // doc 2 (same token SET => same signature), one new doc, one empty
    val f1 = Seq(
      (1L, "the quick brown fox", ts("2024-01-01 10:00:00")),
      (2L, "lazy dogs sleep here", ts("2024-01-01 10:00:10")),
      (3L, "completely different text", ts("2024-01-01 10:00:20")))
    val f2 = Seq(
      (4L, "the quick brown fox", ts("2024-01-01 10:01:00")),
      (5L, "here sleep lazy dogs", ts("2024-01-01 10:01:10")),
      (6L, "a brand new document", ts("2024-01-01 10:01:20")),
      (7L, "", ts("2024-01-01 10:01:30")))
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/chunk_$i")
      val f = Files.list(Paths.get(s"$dir/chunk_$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(f), Paths.get(s"$dir/part_$i.parquet"))
      Files.setLastModifiedTime(Paths.get(s"$dir/part_$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(2000000L + i * 60000L))
    }
    val schema = (f1.toDF("doc_id", "text", "ts")).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = graft.streaming.DocStreams
      .nearDupFilter(stream, "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("t_neardup")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val kept = spark.table("t_neardup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 4 (exact dup) and 5 (token-set dup) drop; the empty doc passes
    assert(kept == Set(1L, 2L, 3L, 6L, 7L))
    // and the batch model agrees
    val model = graft.streaming.DocStreams
      .nearDupKeepSet((f1 ++ f2).toDF("doc_id", "text", "ts"),
        "ts", "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(model == kept)
  }

  test("streamed delta-against-base near-dup matches agree with the " +
    "q315 batch kernel") {
    // q315's kernel, DedupOps.minhashLshAgainst, run on a STREAMING
    // delta vs the full batch minhashLshPairs relation cut to
    // cross-side pairs, on a CONSTRUCTED corpus — a 30-doc base, a
    // 10-doc delta streamed as two micro-batches where the even delta
    // docs are one-token-dropped near-copies of base docs (Jaccard
    // 11/12 >= 0.6) and the odd ones draw from a disjoint vocabulary
    // (Jaccard 0). Same hash family + band geometry on both sides, so
    // the (id pair, jac) relations must be set-equal, and non-trivially
    // so.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_deltadup_").toString
    def text(seed: Int): String =
      (0 until 12).map(i => s"tok${seed}_$i").mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, text(i)))
      .toDF("doc_id", "text")
    val delta = (0 until 10).map { i =>
      val t =
        if (i % 2 == 0) text(i).split(" ").dropRight(1).mkString(" ")
        else (0 until 12).map(j => s"fresh${i}_$j").mkString(" ")
      (100L + i, t)
    }
    delta.grouped(5).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/chunk_$i")
      val f = Files.list(Paths.get(s"$dir/chunk_$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(f), Paths.get(s"$dir/part_$i.parquet"))
      Files.setLastModifiedTime(Paths.get(s"$dir/part_$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(3000000L + i * 60000L))
    }
    val schema = delta.toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = graft.api.DedupOps
      .minhashLshAgainst(base, stream, "doc_id", "text", 0.6)
      .writeStream.format("memory").queryName("t_deltadup")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("t_deltadup").collect()
      .map(r => (r.getAs[Long]("id_delta"), r.getAs[Long]("id_base"),
        r.getAs[Double]("jac"))).toSet
    // base ids < 100 <= delta ids: a cross-side pair is (base, delta)
    val batch = graft.api.DedupOps.minhashLshPairs(
        base.unionByName(delta.toDF("doc_id", "text")), "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect { case (lo, hi, jac) if lo < 100 && hi >= 100 => (hi, lo, jac) }
      .toSet
    assert(streamed == batch)
    // non-trivial: every even delta doc matched its source base doc
    val expected = (0 until 10 by 2).map(i => (100L + i, i.toLong)).toSet
    assert(streamed.map(t => (t._1, t._2)) == expected)
  }

  test("streaming semantic-dup filter passes NULL embeddings through") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_semdup_").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // one plane keeps the sign space tiny: sig ∈ {0, 1}. Pick a base
    // vector, compute its sign against the seeded plane in batch, and
    // flip it so vNeg is CERTAIN to carry sig 0 — the value the old
    // otherwise(0L) arms also gave NULL embeddings. The fix must keep
    // every NULL row (pass-through) while vNeg's scaled copy still
    // dedups against it.
    val base = Seq(1f, 0f)
    val planes = graft.api.VectorOps.gaussianPlanes(1, 2, 42L)
    val dot = base.zip(planes(0)).map { case (a, b) => a * b }.sum
    val vNeg: Seq[Float] = if (dot >= 0) base.map(-_) else base
    val rows = Seq(
      (1L, Some(vNeg), ts("2024-01-01 10:00:00")), // sig 0, kept
      (2L, Some(vNeg.map(_ * 2f)), ts("2024-01-01 10:00:10")), // sig 0, dup
      (3L, Option.empty[Seq[Float]], ts("2024-01-01 10:00:20")), // NULL
      (4L, Option.empty[Seq[Float]], ts("2024-01-01 10:00:30")), // NULL
      (5L, Some(vNeg.map(-_)), ts("2024-01-01 10:00:40"))) // sig 1, kept
    rows.toDF("vec_id", "embedding", "ts").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    val schema = rows.toDF("vec_id", "embedding", "ts").schema
    val stream = spark.readStream.schema(schema)
      .parquet(s"$dir/in")
    val q = graft.streaming.DocStreams
      .semanticDupFilter(stream, "ts", "embedding", 2, "10 minutes",
        nPlanes = 1)
      .writeStream.format("memory").queryName("t_semdup")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val kept = spark.table("t_semdup").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // 2 drops (same sign pattern as 1); BOTH NULL embeddings pass —
    // and do not collide with the sig-0 vector 1
    assert(kept == Set(1L, 3L, 4L, 5L), kept.toString)
  }

  test("streaming exact-dup filter keeps first arrival per content") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_exactdup_").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // file 1: two distinct docs; file 2: byte-exact dup of doc 1, a
    // REORDERED (not byte-equal) variant of doc 2, a new doc, an empty
    val f1 = Seq(
      (1L, "alpha beta gamma", ts("2024-01-01 10:00:00")),
      (2L, "delta epsilon zeta", ts("2024-01-01 10:00:10")))
    val f2 = Seq(
      (3L, "alpha beta gamma", ts("2024-01-01 10:01:00")),
      (4L, "zeta epsilon delta", ts("2024-01-01 10:01:10")),
      (5L, "eta theta iota", ts("2024-01-01 10:01:20")),
      (6L, "", ts("2024-01-01 10:01:30")))
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/chunk_$i")
      val f = Files.list(Paths.get(s"$dir/chunk_$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(f), Paths.get(s"$dir/part_$i.parquet"))
      Files.setLastModifiedTime(Paths.get(s"$dir/part_$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(3000000L + i * 60000L))
    }
    val schema = f1.toDF("doc_id", "text", "ts").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part_*.parquet")
    val q = graft.streaming.DocStreams
      .exactDupFilter(stream, "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("t_exactdup")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val kept = spark.table("t_exactdup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // only the byte-exact dup (3) drops: the reordered variant is a
    // DIFFERENT exact content (near-dup is nearDupFilter's job), and
    // the empty doc passes
    assert(kept == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("streaming curation gate agrees with the batch rule+decontam composition") {
    val dir = Files.createTempDirectory("graft_curate_").toString
    val docs = Tables.load(spark, Sf, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val eval = docs.filter(col("source") === "src0")
    corpus.coalesce(2).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val gated = graft.streaming.DocStreams
      .curationGate(stream, "text", eval, "text")
      .select("doc_id", "n_tok", "flags", "n_hits", "contaminated", "keep")
    val q = gated.writeStream.format("memory").queryName("t_curate")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5))
    val streamed = spark.table("t_curate").collect().map(key).toSet
    // batch composition of the same stages: rule projection + exact
    // decontamination (distinct-gram hit counts agree with the gate's
    // array_intersect form by construction)
    val rules = graft.api.TextOps.qualityRules(corpus, "text")
      .select(col("doc_id"), col("n_tok"), col("flags"),
        col("keep").as("q_keep"))
    val dec = graft.api.TextOps.decontaminate(
      corpus, "doc_id", "text", eval, "text")
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
    val batch = rules.join(dec, "doc_id")
      .select(col("doc_id"), col("n_tok"), col("flags"), col("n_hits"),
        col("contaminated"),
        when(col("q_keep") === 1 && col("contaminated") === 0, 1)
          .otherwise(0).cast("int").as("keep"))
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming curation gate's LEARNED stage agrees with the batch " +
    "scored composition") {
    val dir = Files.createTempDirectory("graft_curate_l_").toString
    val docs = Tables.load(spark, Sf, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val eval = docs.filter(col("source") === "src0")
    corpus.coalesce(2).write.mode("overwrite").parquet(s"$dir/in")
    // train exactly as q235/q237 do: perceptron over the feature view,
    // final-step weights bias-first
    val last = graft.api.MlOps.perceptronTrace(
        graft.api.TextOps.qualityFeatures(corpus, "text"),
        Seq("f_ntok", "f_wlen", "f_ttr", "f_stop"), "keep", 3)
      .filter(col("step") === 3).collect().head
    val w = last.getAs[Long]("w_bias") +:
      Seq("f_ntok", "f_wlen", "f_ttr", "f_stop")
        .map(c => last.getAs[Long](s"w_$c"))
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val gated = graft.streaming.DocStreams
      .curationGate(stream, "text", eval, "text", learnedWeights = Some(w))
      .select("doc_id", "score", "keep", "keep_learned")
    val q = gated.writeStream.format("memory").queryName("t_curate_l")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      r.getInt(2), r.getInt(3))
    val streamed = spark.table("t_curate_l").collect().map(key).toSet
    // batch composition of the same stages: scored rules + exact
    // decontamination + the same keep/keep_learned combine
    val scored = graft.api.TextOps.qualityRulesScored(corpus, "text", w)
      .select(col("doc_id"), col("score"), col("keep").as("q_keep"))
    val dec = graft.api.TextOps.decontaminate(
      corpus, "doc_id", "text", eval, "text")
      .select(col("doc_id"), col("contaminated"))
    val batch = scored.join(dec, "doc_id")
      .select(col("doc_id"), col("score"),
        when(col("q_keep") === 1 && col("contaminated") === 0, 1)
          .otherwise(0).cast("int").as("keep"))
      .withColumn("keep_learned",
        when(col("keep") === 1 && col("score") > 0, 1).otherwise(0)
          .cast("int"))
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the learned stage is a real gate on this corpus: it must KEEP
    // some rule-kept docs and (trained to agree with the rules) never
    // pass a rule-rejected one
    assert(streamed.exists(_._4 == 1))
    assert(streamed.forall(r => r._4 <= r._3))
  }

  test("dropDuplicatesWithinWatermark dedups inside the watermark horizon") {
    val dir = Files.createTempDirectory("graft_dedup_").toString
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // duplicate event ids within the watermark window must collapse
    Seq((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:30"), 1L),
      (ts("2024-01-01 10:01:00"), 2L), (ts("2024-01-01 10:20:00"), 3L))
      .toDF("ts", "id").coalesce(1).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema("ts TIMESTAMP, id BIGINT")
      .parquet(s"$dir/in")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = stream.writeStream.format("memory").queryName("t_dedup")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val ids = spark.table("t_dedup").collect().map(_.getLong(1)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), ids.toString)
  }

  test("mapGroupsWithState maintains per-user running counts") {
    val dir = chunkEventsDir()
    val schema = Tables.load(spark, Sf, "events").schema
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*.parquet")
      .selectExpr("user_id", "event_id")
      .as[(Long, Long)]
    val counted = stream.groupByKey(_._1)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.length
          state.update(next)
          (user, next)
      }
    val q = counted.toDF("user_id", "n").writeStream.format("memory")
      .queryName("t_state").outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // last update per user == total batch count
    val finalCounts = spark.table("t_state").groupBy("user_id")
      .agg(max(col("n")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.load(spark, Sf, "events").groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == batch)
  }
}
