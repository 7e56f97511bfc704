package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Events

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Double)]
    val q = Events.runningUserActivity(stream.toDS())
      .writeStream.format("memory").queryName("user_state")
      .outputMode("update").start()

    stream.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
    q.processAllAvailable()
    stream.addData((1L, 3.0))
    q.processAllAvailable()
    q.stop()

    // last update per user wins
    val last = spark.table("user_state")
      .groupBy("userId").agg(max("nEvents").as("n"), max("sumValueCents").as("cents"))
      .as[(Long, Long, Long)].collect().toSet
    assert(last === Set((1L, 3L, 600L), (2L, 1L, 500L)))
  }

  test("incremental corpus dedup: durable store dedups across batches and replays converge") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_inc_dedup").toString
    val (store, out, ckpt) = (s"$base/store", s"$base/corpus", s"$base/ckpt")
    val stream = MemoryStream[(Long, String)]
    val q = Events.incrementalCorpusDedup(
      stream.toDF().toDF("doc_id", "text"), store, out, Some(ckpt))

    stream.addData((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
    q.processAllAvailable()
    stream.addData((4L, "alpha doc"), (5L, "gamma doc"))
    q.processAllAvailable()
    q.stop()

    val corpus = spark.read.parquet(out)
    // in-batch dup (doc 3) and cross-batch dups (doc 4) are dropped;
    // exactly one row per distinct content, lowest doc_id kept
    assert(corpus.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 5L))
    assert(corpus.select("content_hash").distinct().count() === 3)

    // replay batch 1 (at-least-once retry): overwrite-by-batch_id plus
    // store-tolerant anti-join must converge to the same corpus
    Events.dedupCorpusBatch(
      Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
        .toDF("doc_id", "text"), 0L, store, out)
    val after = spark.read.parquet(out)
    assert(after.count() === 3, "a replayed micro-batch must not duplicate corpus rows")
    assert(after.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 5L))
  }

  test("incremental span dedup: durable shingle store flags cross-batch " +
    "spans and replays converge") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_span_stream").toString
    val (store, out, ckpt) = (s"$base/store", s"$base/report", s"$base/ckpt")
    val textA = "one two three four five six seven eight"
    val textB = "alpha beta gamma delta epsilon zeta eta theta"
    val textC = "red orange yellow green blue indigo violet ultra"
    val textD = "mercury venus earth mars jupiter saturn uranus neptune"
    val stream = MemoryStream[(Long, String)]
    val q = Events.incrementalSpanDedup(
      stream.toDF().toDF("doc_id", "text"), store, out, Some(ckpt))

    stream.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    // doc 3 repeats batch-0 content (store hit); docs 4+5 duplicate each
    // other inside the batch (in-batch hit); doc 6 is a unique singleton
    // — the case that tells self-exclusion apart on replay. win=8.
    stream.addData((3L, textA), (4L, textC), (5L, textC), (6L, textD))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(out)
      .select("doc_id", "n_dup_tokens").as[(Long, Long)].collect().toMap
    assert(rep === Map(1L -> 0L, 2L -> 0L, 3L -> 8L, 4L -> 8L, 5L -> 8L, 6L -> 0L),
      "store hits and in-batch dups flag every covered token; originals stay clean")

    // replay batch 1 — the last batch, the only one the engine's commit
    // protocol ever retries — AFTER its store append landed: the probe
    // must EXCLUDE the store's own batch-1 rows, or singleton doc 6
    // would see its OWN first-attempt shingle as standing corpus and
    // come back fully duplicated; doc 3 still hits batch 0's partition
    Events.spanDedupBatch(
      Seq((3L, textA), (4L, textC), (5L, textC), (6L, textD))
        .toDF("doc_id", "text"), 1L, store, out)
    val after = spark.read.parquet(out)
      .select("doc_id", "n_dup_tokens").as[(Long, Long)].collect().toMap
    assert(after === Map(1L -> 0L, 2L -> 0L, 3L -> 8L, 4L -> 8L, 5L -> 8L, 6L -> 0L),
      "replayed batch reproduces its original report exactly")
    // the store stays one partition per batch with no duplicate growth
    val storeRows = spark.read.parquet(store)
    assert(storeRows.select("batch_id").distinct().count() === 2)
    assert(storeRows.count() === storeRows.select("h", "batch_id").distinct().count())
  }

  test("incremental bot score: merged moments are bit-identical to the " +
    "batch operator and replays converge") {
    import graft.operators.Sessionize
    val base = java.nio.file.Files.createTempDirectory("graft_bot_stream").toString
    val (store, out) = (s"$base/store", s"$base/report")
    def ev(id: Long, uid: Long, sec: Long) =
      (id, uid, "view", new Timestamp(1704067200000L + sec * 1000L), 0.0)
    // user 1 metronomic (60s), user 2 bursty; split respects event time
    val all = Seq(
      ev(1, 1, 0), ev(2, 1, 60), ev(3, 1, 120),
      ev(10, 2, 0), ev(11, 2, 1),
      // --- batch boundary ---
      ev(4, 1, 180), ev(5, 1, 240), ev(6, 1, 300),
      ev(12, 2, 1001), ev(13, 2, 1004))
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val b0 = all.take(5).toDF(cols: _*)
    val b1 = all.drop(5).toDF(cols: _*)
    Events.botScoreBatch(b0, 0L, store, out)
    Events.botScoreBatch(b1, 1L, store, out)
    // replay batch 1 after its store write landed: self-exclusion must
    // recompute the identical partial (bridge gap from batch 0's last)
    Events.botScoreBatch(b1, 1L, store, out)
    val streamed = spark.read.parquet(out).filter(col("batch_id") === 1L)
      .select("user_id", "n_gaps", "mean_gap_s", "cv_gap", "is_regular")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSet
    val batch = Sessionize.botScore(all.toDF(cols: _*))
      .as[(Long, Long, Double, Double, Boolean)].collect().toSet
    assert(streamed === batch, "incremental merge must equal batch exactly")
    assert(batch.exists { case (u, _, _, _, reg) => u == 1L && reg })
    // store stays one partition per batch, one row per (user, batch)
    val sRows = spark.read.parquet(store)
    assert(sRows.select("batch_id").distinct().count() === 2)
    assert(sRows.count() === sRows.select("user_id", "batch_id").distinct().count())
  }

  test("file-source readStream over parquet equals batch on the same files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val batchDf = Seq(
      (Timestamp.valueOf("2024-02-01 08:10:00"), "click", 1.0),
      (Timestamp.valueOf("2024-02-01 08:40:00"), "view", 2.0),
      (Timestamp.valueOf("2024-02-01 09:05:00"), "click", 3.0))
      .toDF("ts", "event_type", "value")
    batchDf.write.mode("overwrite").parquet(dir)

    val streamDf = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = Events.windowedCounts(streamDf).writeStream
      .format("memory").queryName("file_win").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("file_win")
      .as[(String, String, Long, Long)].collect().toSet
    val batch = Events.windowedCounts(batchDf)
      .as[(String, String, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("Trigger.AvailableNow drains a bounded file source in capped batches, then stops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_availnow").toString
    val batchDf = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "click" else "view", i.toDouble))
      .toDF("id", "event_type", "value")
    // many small files so maxFilesPerTrigger actually caps micro-batches
    batchDf.repartition(8).write.mode("overwrite").parquet(dir)
    val counted = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", "2").parquet(dir)
      .groupBy("event_type").count()
    val q = counted.writeStream
      .format("memory").queryName("avail_now").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow PLANS a finite run: the query processes everything
    // present at start in rate-capped batches and terminates on its own
    // — the batch-shaped operational mode for "catch up the backlog,
    // then exit" jobs, with the source cap still respected
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val streamed = spark.table("avail_now").as[(String, Long)].collect().toSet
    val batch = batchDf.groupBy("event_type").count()
      .as[(String, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch === Set(("click", 20L), ("view", 20L)))
  }

  test("HashGen streams as a rate-limited MicroBatchStream, equal to its batch face") {
    val cls = classOf[graft.sources.HashGen].getName
    val stream = spark.readStream.format(cls)
      .option("rows", "500").option("partitions", "4")
      .option("rowsPerBatch", "120").load()
    val q = stream.writeStream.format("memory").queryName("hashgen_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "finite generator must drain and stop")
    val streamed = spark.table("hashgen_stream")
      .as[(Long, String, String)].collect().toSet
    val batch = spark.read.format(cls)
      .option("rows", "500").option("partitions", "4").load()
      .as[(Long, String, String)].collect().toSet
    assert(streamed === batch, "streaming face must emit exactly the batch rows")
    assert(streamed.size == 500)
    // the rate cap held: >= ceil(500/120) = 5 micro-batches ran
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected rate-capped batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
  }

  test("streaming exact distinct users per window equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "user_id", "event_type")
    // chained stateful ops (dedup → agg) emit on watermark close: append
    val q = Events.windowActiveUsers(df).writeStream
      .format("memory").queryName("wau").outputMode("append").start()
    val rows = Seq(
      (Timestamp.valueOf("2024-03-01 10:05:00"), 1L, "click"),
      (Timestamp.valueOf("2024-03-01 10:10:00"), 1L, "click"), // dup user+hour
      (Timestamp.valueOf("2024-03-01 10:20:00"), 2L, "click"),
      (Timestamp.valueOf("2024-03-01 10:30:00"), 1L, "view"))
    stream.addData(rows: _*)
    q.processAllAvailable()
    // advance the watermark far enough to close the 10:00 window
    stream.addData((Timestamp.valueOf("2024-03-01 14:00:00"), 9L, "click"))
    q.processAllAvailable()
    // third micro-batch: a duplicate arriving AFTER the watermark passed
    // its window — the within-watermark dedup state for it has been
    // evicted, so this row must be discarded by the closed window, never
    // re-emitted or double-counted (and never crash the query)
    stream.addData((Timestamp.valueOf("2024-03-01 10:15:00"), 1L, "click"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wau")
      .as[(String, String, Long)].collect().toSet
    val batch = Events.windowActiveUsers(rows.toDF("ts", "user_id", "event_type"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch === Set(("2024-03-01 10:00:00", "click", 2L),
      ("2024-03-01 10:00:00", "view", 1L)))
  }

  test("streaming dedup drops repeated content across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = Events.dedupStream(df).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()

    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "Hello WORLD!"),
      (Timestamp.valueOf("2024-01-01 10:00:10"), 2L, "hello world"), // same cleaned content
      (Timestamp.valueOf("2024-01-01 10:00:20"), 3L, "something else"))
    q.processAllAvailable()
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:10:00"), 4L, "hello   world")) // still within watermark
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("batch frames run the same dedup call through plain dropDuplicates") {
    val docs = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "same text"),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 2L, "SAME text"))
      .toDF("ts", "doc_id", "text")
    assert(Events.dedupStream(docs).count() === 1)
  }

  test("stream-static broadcast enrich joins without shuffling the stream") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[(Long, Double)]
    val df = stream.toDF().toDF("user_id", "value")
    val q = Events.enrich(df, dim, "user_id").writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    stream.addData((1L, 5.0), (3L, 7.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("enrich_out")
      .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
    assert(out === Set((1L, Some("gold")), (3L, None)))
  }

  test("streaming windowed counts equal the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      ("2024-01-01 10:05:00", "click", 1.25),
      ("2024-01-01 10:45:00", "click", 2.50),
      ("2024-01-01 10:50:00", "view", 0.75),
      ("2024-01-01 11:10:00", "click", 4.00))
      .map { case (ts, et, v) => (Timestamp.valueOf(ts), et, v) }

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(data: _*)
    val df = stream.toDF().toDF("ts", "event_type", "value")

    val q = Events.windowedCounts(df).writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_out")
      .as[(String, String, Long, Long)].collect().toSet

    val batch = Events.windowedCounts(
      data.toDF("ts", "event_type", "value"))
      .as[(String, String, Long, Long)].collect().toSet

    assert(streamed === batch)
    assert(batch === Set(
      ("2024-01-01 10:00:00", "click", 2L, 375L),
      ("2024-01-01 10:00:00", "view", 1L, 75L),
      ("2024-01-01 11:00:00", "click", 1L, 400L)))
  }

  test("flatMapGroupsWithState emits sessions only once closed by gap or watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val withWm = stream.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Timestamp)]
    val q = Events.completedSessions(withWm, gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // batch 1: two events 10 min apart (one open session) — nothing emits
    stream.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")))
    q.processAllAvailable()
    assert(spark.table("sessions").count() === 0, "open session must not emit")

    // batch 2: an event 2 hours later closes the first session by gap
    stream.addData((1L, Timestamp.valueOf("2024-01-01 12:10:00")))
    q.processAllAvailable()
    val afterGap = spark.table("sessions").as[(Long, Long, Long, Long)].collect().toSet
    assert(afterGap === Set((1L,
      Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L,
      Timestamp.valueOf("2024-01-01 10:10:00").getTime * 1000L, 2L)))

    // batch 3: another user far in the future advances the watermark past
    // user 1's gap horizon — the timeout closes the still-open session
    stream.addData((2L, Timestamp.valueOf("2024-01-02 09:00:00")))
    q.processAllAvailable()
    stream.addData((2L, Timestamp.valueOf("2024-01-02 09:00:01")))
    q.processAllAvailable()
    q.stop()
    val users = spark.table("sessions").as[(Long, Long, Long, Long)]
      .collect().map(_._1).toSet
    assert(users.contains(1L))
    assert(spark.table("sessions").count() >= 2, "timeout-closed session emitted")
  }

  test("transformWithState sessionizer (C223): event-time timers close sessions like the legacy API") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Timestamp)]
      val withWm = stream.toDS().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds")
        .as[(Long, Timestamp)]
      val q = Events.completedSessionsTws(withWm, gapMinutes = 30)
        .writeStream.format("memory").queryName("sessions_tws")
        .outputMode("append").start()
      // same batch sequence as the flatMapGroupsWithState test (C38)
      stream.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 10:10:00")))
      q.processAllAvailable()
      assert(spark.table("sessions_tws").count() === 0, "open session must not emit")
      stream.addData((1L, Timestamp.valueOf("2024-01-01 12:10:00")))
      q.processAllAvailable()
      val afterGap = spark.table("sessions_tws").as[(Long, Long, Long, Long)].collect().toSet
      assert(afterGap === Set((1L,
        Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L,
        Timestamp.valueOf("2024-01-01 10:10:00").getTime * 1000L, 2L)))
      // watermark passes user 1's horizon -> the TIMER closes the session
      stream.addData((2L, Timestamp.valueOf("2024-01-02 09:00:00")))
      q.processAllAvailable()
      stream.addData((2L, Timestamp.valueOf("2024-01-02 09:00:01")))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("sessions_tws").as[(Long, Long, Long, Long)].collect()
      assert(rows.map(_._1).toSet.contains(1L))
      assert(rows.length >= 2, "timer-closed session emitted")
    } finally {
      prior.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("foreachBatch sink: a retried micro-batch replaces its partition, not appends") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fb_sink").toString
    val stream = MemoryStream[(Long, String)]
    val q = Events.idempotentParquetSink(stream.toDF().toDF("id", "payload"), dir)
    stream.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    stream.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val afterRun = spark.read.parquet(dir)
    assert(afterRun.count() === 3)
    // simulate the at-least-once retry of batch 0: same data, same id
    Events.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), 0L, dir)
    val afterRetry = spark.read.parquet(dir)
    assert(afterRetry.count() === 3, "retry must overwrite its own partition")
    assert(afterRetry.select("id").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("checkpointed sink restart resumes from committed offsets without duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_meta").toString
    val stream = MemoryStream[(Long, String)]

    stream.addData((1L, "a"), (2L, "b"))
    val q1 = Events.idempotentParquetSink(
      stream.toDF().toDF("id", "payload"), out, Some(ckpt))
    q1.processAllAvailable(); q1.stop()

    // new data arrives while the query is down; the restarted query must
    // pick up AFTER the committed offset — batch 0 is not re-emitted
    stream.addData((3L, "c"))
    val q2 = Events.idempotentParquetSink(
      stream.toDF().toDF("id", "payload"), out, Some(ckpt))
    q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(out).select("id").as[Long].collect().toSeq
    assert(rows.sorted === Seq(1L, 2L, 3L), s"exactly-once across restart, got $rows")
  }

  test("stream-stream interval join matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      (Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 900L),
      (Timestamp.valueOf("2024-01-01 12:00:00"), 1L, 901L),
      (Timestamp.valueOf("2024-01-01 10:30:00"), 2L, 902L))
    val clicks = Seq(
      (Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 100L), // within 30m of 900
      (Timestamp.valueOf("2024-01-01 10:29:00"), 1L, 101L), // within 30m of 900
      (Timestamp.valueOf("2024-01-01 11:00:00"), 1L, 102L), // matches nothing
      (Timestamp.valueOf("2024-01-01 10:31:00"), 2L, 103L)) // AFTER purchase 902

    val pStream = MemoryStream[(Timestamp, Long, Long)]
    val cStream = MemoryStream[(Timestamp, Long, Long)]
    pStream.addData(purchases: _*)
    cStream.addData(clicks: _*)
    val q = Events.purchaseClickJoin(
        pStream.toDF().toDF("p_ts", "user_id", "purchase_id"),
        cStream.toDF().toDF("c_ts", "c_user_id", "click_id"))
      .select("purchase_id", "click_id")
      .writeStream.format("memory").queryName("ss_join").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ss_join").as[(Long, Long)].collect().toSet
    val batch = Events.purchaseClickJoin(
        purchases.toDF("p_ts", "user_id", "purchase_id"),
        clicks.toDF("c_ts", "c_user_id", "click_id"))
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch === Set((900L, 100L), (900L, 101L)))
  }

  test("stream-stream LEFT OUTER interval join emits unmatched purchases after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      (Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 900L), // has clicks
      (Timestamp.valueOf("2024-01-01 12:00:00"), 1L, 901L), // no click in window
      (Timestamp.valueOf("2024-01-01 10:30:00"), 2L, 902L)) // user 2: click AFTER
    val clicks = Seq(
      (Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 100L),
      (Timestamp.valueOf("2024-01-01 10:31:00"), 2L, 103L))
    val pStream = MemoryStream[(Timestamp, Long, Long)]
    val cStream = MemoryStream[(Timestamp, Long, Long)]
    pStream.addData(purchases: _*)
    cStream.addData(clicks: _*)
    val q = Events.purchaseClickJoin(
        pStream.toDF().toDF("p_ts", "user_id", "purchase_id"),
        cStream.toDF().toDF("c_ts", "c_user_id", "click_id"),
        joinType = "left_outer")
      .select(col("purchase_id"), col("click_id"))
      .writeStream.format("memory").queryName("ss_louter").outputMode("append").start()
    q.processAllAvailable()
    // advance BOTH watermarks far past every buffered purchase so the
    // engine can prove no future click matches and release the null rows
    pStream.addData((Timestamp.valueOf("2024-01-02 12:00:00"), 9L, 999L))
    cStream.addData((Timestamp.valueOf("2024-01-02 12:00:00"), 9L, 199L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_louter")
      .filter(col("purchase_id") < 999L)
      .as[(Long, Option[Long])].collect().toSet
    val batch = Events.purchaseClickJoin(
        purchases.toDF("p_ts", "user_id", "purchase_id"),
        clicks.toDF("c_ts", "c_user_id", "click_id"),
        joinType = "left_outer")
      .select(col("purchase_id"), col("click_id"))
      .as[(Long, Option[Long])].collect().toSet
    assert(streamed === batch, "left-outer streaming join must equal the batch twin")
    assert(batch === Set((900L, Some(100L)), (901L, None), (902L, None)))
  }

  test("incremental agg view: merged partials equal the batch recompute and replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_aggview").toString
    val (store, out) = (s"$base/store", s"$base/view")
    def ev(id: Long, uid: Long, sec: Long, v: Double) =
      (id, uid, "view", new Timestamp(1704067200000L + sec * 1000L), v)
    val all = Seq(
      ev(1, 1, 0, 1.5), ev(2, 1, 60, 2.5), ev(3, 2, 120, 10.0),
      // --- batch boundary; user 1 spans both batches on the same day ---
      ev(4, 1, 300, 4.0), ev(5, 2, 86400 + 10, 7.0))
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val b0 = all.take(3).toDF(cols: _*)
    val b1 = all.drop(3).toDF(cols: _*)
    Events.aggViewBatch(b0, 0L, store, out)
    Events.aggViewBatch(b1, 1L, store, out)
    // replay batch 1: its store partition is replaced, not duplicated
    Events.aggViewBatch(b1, 1L, store, out)
    val streamed = spark.read.parquet(out).filter(col("batch_id") === 1L)
      .select("user_id", "day_idx", "n_events", "sum_cents", "first_us", "last_us")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Relational.ivmAgg(all.toDF(cols: _*))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch, "merged view must equal the batch recompute exactly")
    // user 1's day-0 row really merged across the two batches
    assert(batch.exists { case (u, _, n, s, _, _) => u == 1L && n == 3L && s == 800L })
    val sRows = spark.read.parquet(store)
    assert(sRows.select("batch_id").distinct().count() === 2)
    assert(sRows.count() ===
      sRows.select("user_id", "day_idx", "batch_id").distinct().count())
  }

  test("incremental Count-Min: merged cells equal the batch sketch; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_cms").toString
    val (store, out) = (s"$base/cells", s"$base/sketch")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def mk(id: Long, text: String) = (id, text, "en", "s1", text.length.toLong)
    val all = Seq(
      mk(1L, "alpha beta gamma alpha"), mk(2L, "beta beta delta"),
      // --- batch boundary ---
      mk(3L, "alpha epsilon"), mk(4L, "gamma gamma gamma zeta"))
    val b0 = all.take(2).toDF(cols: _*)
    val b1 = all.drop(2).toDF(cols: _*)
    Events.cmsBatch(b0, 0L, store, out)
    Events.cmsBatch(b1, 1L, store, out)
    // replay batch 1: its partial partition is replaced, not appended —
    // the merged sketch is unchanged
    Events.cmsBatch(b1, 1L, store, out)
    val streamed = spark.read.parquet(out).filter(col("batch_id") === 1L)
      .select("r", "bucket", "cell")
      .as[(Int, Long, Long)].collect().toSet
    val union = all.toDF(cols: _*)
    val unionCnt = union
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("true_cnt"))
    val batchCells = graft.operators.Sketches
      .cmsCellsFromCounts(unionCnt, 4, 256)
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed === batchCells,
      "merged CMS cells must equal the batch sketch over the union exactly")
    // the merged sketch answers point queries like the batch one: the
    // full countMinErr readback off the merged cells matches the batch op
    val top = unionCnt.orderBy(col("true_cnt").desc, col("token")).limit(20)
    val mergedCells = spark.read.parquet(out).filter(col("batch_id") === 1L)
      .select("r", "bucket", "cell")
    val viaStream = graft.operators.Sketches
      .cmsEstimate(mergedCells, top, 4, 256)
      .as[(String, Long, Long, Long)].collect().toSet
    val viaBatch = graft.operators.Sketches.countMinErr(union)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(viaStream === viaBatch)
    // gamma counted across both batches (1 + 3)
    assert(viaBatch.exists { case (t, n, _, _) => t == "gamma" && n == 4L })
    graft.CacheTracker.drainAll(spark)
  }

  test("streaming native session_window agg equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 12:00:00")),                    // new session (gap > 30m)
      (2L, ts("2024-01-01 10:05:00")))
    val st = MemoryStream[(Long, Timestamp)]
    st.addData(rows: _*)
    val q = st.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .writeStream.format("memory").queryName("sw_native").outputMode("append").start()
    q.processAllAvailable()
    // sessions emit only once the watermark passes their close: push it
    st.addData((9L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_native").filter(col("user_id") < 9L)
      .as[(Long, Timestamp, Long)].collect().toSet
    val batch = rows.toDF("user_id", "ts")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .as[(Long, Timestamp, Long)].collect().toSet
    assert(streamed === batch, "streaming session_window must equal the batch twin")
    assert(batch.map(r => (r._1, r._3)) === Set((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("incremental Bloom: merged bit set equals the batch filter; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val (store, out) = (s"$base/pos", s"$base/filter")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def lw(i: Int) = s"m${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    def mk(id: Long, text: String) = (id, text, "en", "s1", text.length.toLong)
    val all = Seq(
      mk(1L, (0 until 30).map(lw).mkString(" ")),
      // --- batch boundary (overlapping vocab: union merge must dedup)
      mk(2L, (15 until 50).map(lw).mkString(" ")))
    val b0 = all.take(1).toDF(cols: _*)
    val b1 = all.drop(1).toDF(cols: _*)
    Events.bloomBatch(b0, 0L, store, out)
    Events.bloomBatch(b1, 1L, store, out)
    // replay batch 1: idempotent union, filter unchanged
    Events.bloomBatch(b1, 1L, store, out)
    val streamed = spark.read.parquet(out).filter(col("batch_id") === 1L)
      .select("pos").as[Long].collect().toSet
    val union = all.toDF(cols: _*)
    val batchBits = graft.operators.Sketches.bloomPositions(
        union.select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
          .distinct(), 4, 4096)
      .select("pos").distinct().as[Long].collect().toSet
    assert(streamed === batchBits,
      "merged Bloom bit set must equal the batch filter over the union exactly")
    // a member probes positive against the merged filter
    val memberPos = graft.operators.Sketches.bloomPositions(
        Seq(lw(20)).toDF("token"), 4, 4096)
      .select("pos").as[Long].collect().toSet
    assert(memberPos.subsetOf(streamed), "member token must probe positive")
    graft.CacheTracker.drainAll(spark)
  }

  test("incremental HLL: merged registers equal the batch sketch; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_hll").toString
    val (store, out) = (s"$base/regs", s"$base/sketch")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def lw(i: Int) = s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    def mk(id: Long, text: String) = (id, text, "en", "s1", text.length.toLong)
    val all = Seq(
      mk(1L, (0 until 40).map(lw).mkString(" ")),
      // --- batch boundary --- (overlapping vocab: max-merge must dedup)
      mk(2L, (20 until 70).map(lw).mkString(" ")))
    val b0 = all.take(1).toDF(cols: _*)
    val b1 = all.drop(1).toDF(cols: _*)
    Events.hllBatch(b0, 0L, store, out)
    Events.hllBatch(b1, 1L, store, out)
    // replay batch 1: idempotent max-merge, registers unchanged
    Events.hllBatch(b1, 1L, store, out)
    val streamed = spark.read.parquet(out).filter(col("batch_id") === 1L)
      .select("reg", "mx").as[(Long, Long)].collect().toSet
    val union = all.toDF(cols: _*)
    val batchRegs = graft.operators.Sketches.hllRegisters(union)
      .as[(Long, Long)].collect().toSet
    assert(streamed === batchRegs,
      "merged HLL registers must equal the batch sketch over the union exactly")
    // the merged registers answer the estimate like the batch path
    val mergedEst = graft.operators.Sketches
      .hllEstimate(spark.read.parquet(out).filter(col("batch_id") === 1L)
        .select("reg", "mx"))
      .as[(Long, Double)].head()
    val batchEst = graft.operators.Sketches.hllEstimate(
      graft.operators.Sketches.hllRegisters(union))
      .as[(Long, Double)].head()
    assert(mergedEst === batchEst)
    graft.CacheTracker.drainAll(spark)
  }

  test("incremental token attrition: merged gate report equals the batch operator; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_tokattr").toString
    val (store, out) = (s"$base/store", s"$base/report")
    val healthy = (0 until 120)
      .map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}s").mkString(" ")
    val all = Seq(
      (1L, healthy, "en", "s1", healthy.length.toLong),
      (2L, "tiny", "en", "s1", 4L),
      // --- batch boundary ---
      (3L, healthy, "en", "s1", healthy.length.toLong), // duplicate of doc 1
      (4L, healthy + " extraword", "en", "s1", healthy.length + 10L))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val b0 = all.take(2).toDF(cols: _*)
    val b1 = all.drop(2).toDF(cols: _*)
    Events.tokenAttritionBatch(b0, 0L, store, out)
    Events.tokenAttritionBatch(b1, 1L, store, out)
    // replay batch 1: self-excluded store probe reproduces the same
    // partial and replaces its own partitions — report unchanged
    Events.tokenAttritionBatch(b1, 1L, store, out)
    val streamed = spark.read.parquet(out)
      .select("gate", "tokens", "token_share", "total_tokens")
      .as[(String, Long, Double, Long)].collect().toSet
    val batch = graft.operators.TextOps.tokenAttrition(all.toDF(cols: _*))
      .as[(String, Long, Double, Long)].collect().toSet
    assert(streamed === batch,
      "merged token-attrition report must equal the batch operator exactly")
    // the cross-batch duplicate really got caught via the durable store
    assert(batch.exists { case (g, t, _, _) => g == "duplicate" && t == 120L })
    graft.CacheTracker.drainAll(spark)
  }

  test("incremental dq monitor: merged rule counts equal the batch report; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_dqmon").toString
    val (store, out) = (s"$base/store", s"$base/report")
    def ev(id: Long, uid: java.lang.Long, sec: Long, v: Double) =
      (id, uid, "view", new Timestamp(1704067200000L + sec * 1000L), v)
    val all = Seq(
      ev(1, 1L, 0, 1.5), ev(2, null, 60, 2.5), ev(3, 2L, 120, -3.0),
      // --- batch boundary ---
      ev(4, 1L, 300, 4.0), ev(5, 2L, 360, -7.0))
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val b0 = all.take(3).toDF(cols: _*)
    val b1 = all.drop(3).toDF(cols: _*)
    Events.dqMonitorBatch(b0, 0L, store, out)
    Events.dqMonitorBatch(b1, 1L, store, out)
    // replay batch 1: its store partition is replaced, not duplicated
    Events.dqMonitorBatch(b1, 1L, store, out)
    // then replay batch 0 out of order: the store stays idempotent and
    // the report is latest-wins CUMULATIVE (plain overwrite, no
    // batch_id partitions), so even an out-of-order replay leaves the
    // full-corpus totals — never a stale "as of batch 0" snapshot
    Events.dqMonitorBatch(b0, 0L, store, out)
    val streamed = spark.read.parquet(out)
      .select("rule", "n_checked", "n_violations", "violation_rate")
      .as[(String, Long, Long, Double)].collect().toSet
    val batch = graft.operators.Relational.eventDqReport(all.toDF(cols: _*))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed === batch, "merged dq report must equal the batch recompute")
    assert(batch.exists { case (r, n, v, _) =>
      r == "events_nonneg_value" && n == 5L && v == 2L })
    assert(batch.exists { case (r, _, v, _) =>
      r == "events_user_present" && v == 1L })
    assert(spark.read.parquet(store).select("batch_id").distinct().count() === 2)
  }

  test("incremental near-dup components: resolved labels equal the batch " +
      "recompute over the union; cross-batch merges recorded; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_inccomp").toString
    val (store, out) = (s"$base/store", s"$base/components")
    // axis-aligned sign buckets (Similarity.signBucket): every vector
    // below has all-positive first 8 dims, so ALL share one bucket and
    // blocking never hides a pair — the cosine threshold alone decides.
    //   u-direction and w-direction: cos(u, w) ≈ 0.245 < 0.6 (separate
    //   components); bridge x = u + w: cos(x, u) = cos(x, w) ≈ 0.79 ≥ 0.6.
    val u = Array(1f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f)
    val w = Array(0.1f, 1f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f)
    val x = u.zip(w).map { case (a, b) => a + b }
    def scaled(v: Array[Float], c: Float) = v.map(_ * c)
    val b0 = Seq(
      (1L, u), (2L, scaled(u, 1.1f)),        // component A = {1, 2}
      (5L, w), (6L, scaled(w, 0.9f)))        // component B = {5, 6}
      .toDF("vec_id", "embedding")
    val b1 = Seq(
      (10L, x),                              // bridges A and B -> merge
      (11L, scaled(x, 1.05f)))               // batch-internal pair (10, 11)
      .toDF("vec_id", "embedding")
    def batchTruth(dfs: DataFrame*): Set[(Long, Long)] = {
      val union = dfs.reduce(_ unionByName _)
      graft.operators.Dedup.components(
        graft.operators.Similarity.nearDupPairs(union, cosMin = 0.6, bits = 8))
        .as[(Long, Long)].collect().toSet
    }
    def snapshot(): Set[(Long, Long)] =
      spark.read.parquet(out).as[(Long, Long)].collect().toSet

    Events.componentsBatch(b0, 0L, store, out, cosMin = 0.6, bits = 8)
    assert(snapshot() === batchTruth(b0),
      "after batch 0 the snapshot must equal the batch recompute")
    assert(snapshot() === Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)),
      "batch 0 must yield the two expected separate components")

    Events.componentsBatch(b1, 1L, store, out, cosMin = 0.6, bits = 8)
    assert(snapshot() === batchTruth(b0, b1),
      "after batch 1 the merged snapshot must equal the batch recompute over the union")
    assert(snapshot() === Set(1L, 2L, 5L, 6L, 10L, 11L).map(_ -> 1L),
      "the bridge vector must pull every id into component 1")
    // the B -> A merge event was durably recorded, not just reflected
    val merges = spark.read.parquet(s"$store/merges")
      .select("old_label", "new_label").as[(Long, Long)].collect().toSet
    assert(merges === Set((5L, 1L)))

    // an EMPTY micro-batch (idle trigger) must be a no-op, not a crash
    Events.componentsBatch(b1.limit(0), 2L, store, out, cosMin = 0.6, bits = 8)
    assert(snapshot() === batchTruth(b0, b1), "an empty batch must change nothing")

    // replay batch 1 (at-least-once): self-excluded store reads + dynamic
    // partition overwrite reproduce identical store partitions + snapshot
    Events.componentsBatch(b1, 1L, store, out, cosMin = 0.6, bits = 8)
    assert(snapshot() === batchTruth(b0, b1), "replaying batch 1 must not change the result")
    val idx = spark.read.parquet(s"$store/index")
    assert(idx.count() === idx.select("vec_id").distinct().count(),
      "a replayed batch must replace its index partition, not append to it")
    graft.CacheTracker.drainAll(spark)
  }

  test("incremental minhash pairs: cumulative verified pairs equal the batch " +
      "operator over the union; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_incmh").toString
    val (store, out) = (s"$base/store", s"$base/pairs")
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val b = "completely different text about machine learning models training on large datasets here"
    val c = "yet another unrelated document describing database systems and storage engines design"
    val b0 = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val b1 = Seq((10L, a), (11L, b), (12L, c)).toDF("doc_id", "text")
    def batchTruth(dfs: DataFrame*): Set[(Long, Long, Double)] = {
      val r = graft.operators.Dedup.minhashLshPairs(dfs.reduce(_ unionByName _))
        .as[(Long, Long, Double)].collect().toSet
      graft.CacheTracker.drainAll(spark) // minhashLshPairs pins its shingle frame
      r
    }
    def snapshot(): Set[(Long, Long, Double)] =
      spark.read.parquet(out).as[(Long, Long, Double)].collect().toSet

    Events.minhashPairsBatch(b0, 0L, store, out)
    assert(snapshot() === batchTruth(b0))
    assert(snapshot() === Set((1L, 2L, 1.0)),
      "batch 0 must find exactly its internal duplicate pair")

    Events.minhashPairsBatch(b1, 1L, store, out)
    assert(snapshot() === batchTruth(b0, b1),
      "after batch 1 the cumulative pairs must equal the batch operator over the union")
    assert(snapshot() === Set((1L, 2L, 1.0), (1L, 10L, 1.0), (2L, 10L, 1.0), (3L, 11L, 1.0)),
      "cross-batch duplicates must be found via the standing band index")

    // an EMPTY micro-batch (idle trigger) must be a no-op, not a crash
    Events.minhashPairsBatch(b1.limit(0), 2L, store, out)
    assert(snapshot() === batchTruth(b0, b1), "an empty batch must change nothing")

    // replay batch 1 (at-least-once): self-excluded reads + dynamic
    // partition overwrite reproduce identical partitions and snapshot
    Events.minhashPairsBatch(b1, 1L, store, out)
    assert(snapshot() === batchTruth(b0, b1), "replaying batch 1 must not change the result")
    val pairStore = spark.read.parquet(s"$store/pairs")
    assert(pairStore.count() ===
      pairStore.select("a_id", "b_id", "batch_id").distinct().count(),
      "a replayed batch must replace its pair partition, not append to it")
    graft.CacheTracker.drainAll(spark)
  }

  test("incremental WEIGHTED minhash pairs (C224): cumulative pairs equal the batch " +
      "operator over the union; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_incwmh").toString
    val (store, out) = (s"$base/store", s"$base/pairs")
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val b = "completely different text about machine learning models training on large datasets here"
    val c = "yet another unrelated document describing database systems and storage engines design"
    val b0 = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val b1 = Seq((10L, a), (11L, b), (12L, c)).toDF("doc_id", "text")
    def batchTruth(dfs: DataFrame*): Set[(Long, Long, Long, Double)] = {
      val r = graft.operators.Dedup.weightedMinhashPairs(dfs.reduce(_ unionByName _))
        .as[(Long, Long, Long, Double)].collect().toSet
      graft.CacheTracker.drainAll(spark) // release the sigArr checkpoint blocks
      r
    }
    def snapshot(): Set[(Long, Long, Long, Double)] =
      spark.read.parquet(out).as[(Long, Long, Long, Double)].collect().toSet

    Events.wminhashPairsBatch(b0, 0L, store, out)
    assert(snapshot() === batchTruth(b0))
    assert(snapshot().contains((1L, 2L, 16L, 1.0)),
      "batch 0 must find its internal exact duplicate at full agreement")

    Events.wminhashPairsBatch(b1, 1L, store, out)
    assert(snapshot() === batchTruth(b0, b1),
      "after batch 1 the cumulative pairs must equal the batch operator over the union")
    assert(snapshot().exists(p => p._1 == 1L && p._2 == 10L),
      "cross-batch duplicates must be found via the standing band index")

    Events.wminhashPairsBatch(b1.limit(0), 2L, store, out)
    assert(snapshot() === batchTruth(b0, b1), "an empty batch must change nothing")

    Events.wminhashPairsBatch(b1, 1L, store, out)
    assert(snapshot() === batchTruth(b0, b1), "replaying batch 1 must not change the result")
    val pairStore = spark.read.parquet(s"$store/pairs")
    assert(pairStore.count() ===
      pairStore.select("a_id", "b_id", "batch_id").distinct().count(),
      "a replayed batch must replace its pair partition, not append to it")
    graft.CacheTracker.drainAll(spark)
  }

  test("incremental windowed-HLL store (C225): merged rolling estimate equals the batch query; replays converge") {
    val base = java.nio.file.Files.createTempDirectory("graft_inchllw").toString
    val (store, out) = (s"$base/store", s"$base/est")
    def ev(ids: Seq[Long]): DataFrame = ids.map { i =>
      (i, i % 23, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds((i % 6) * 86400 + i)), "click", 1.0)
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val b0 = ev(0L until 60L)
    val b1 = ev(60L until 120L) // overlapping days, new users — max-merge must absorb
    def published(): Set[(Long, Long, Double)] = {
      // partition-column inference reads batch_id back as INT
      val latest = spark.read.parquet(out)
        .agg(max(col("batch_id")).cast("long")).head().getLong(0)
      spark.read.parquet(out).filter(col("batch_id") === latest)
        .select("win_day", "n_registers_used", "estimate")
        .as[(Long, Long, Double)].collect().toSet
    }
    def batchTruth(dfs: DataFrame*): Set[(Long, Long, Double)] =
      graft.operators.Sketches.hllWindowDistinct(dfs.reduce(_ unionByName _))
        .select(col("win_day"), col("n_registers_used"), col("estimate"))
        .as[(Long, Long, Double)].collect().toSet

    Events.hllWindowBatch(b0, 0L, store, out)
    assert(published() === batchTruth(b0))
    Events.hllWindowBatch(b1, 1L, store, out)
    assert(published() === batchTruth(b0, b1),
      "max-merged store must reproduce the batch estimate over the union")
    // replay batch 1: idempotent max-merge + dynamic overwrite converge
    Events.hllWindowBatch(b1, 1L, store, out)
    assert(published() === batchTruth(b0, b1), "replay must not change the estimate")
    graft.CacheTracker.drainAll(spark)
  }

  test("state store reader (C222): checkpointed aggregation state reads back as a DataFrame") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ss_read").toString
    val stream = MemoryStream[(Long, Double)]
    val q = stream.toDF().toDF("user_id", "v")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(expr("CAST(round(v * 100) AS BIGINT)")).as("cents"))
      .writeStream.format("memory").queryName("ss_read_agg")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    stream.addData((1L, 1.0), (1L, 2.5), (2L, 5.0))
    q.processAllAvailable()
    stream.addData((2L, 0.5))
    q.processAllAvailable()
    q.stop()
    // the ops/debugging surface: the committed state itself is a table —
    // no re-run, no driver intercepts, just read the checkpoint. The
    // value struct exposes the AGGREGATION BUFFER's own field names
    // (count/sum), not the query's output aliases — state is physical
    val state = spark.read.format("statestore").load(ckpt)
      .select(col("key.user_id"), col("value.count"), col("value.sum"))
      .as[(Long, Long, Long)].collect().toSet
    assert(state === Set((1L, 2L, 350L), (2L, 2L, 550L)),
      s"state store contents drifted: $state")
    // and it agrees with what the query itself published
    val published = spark.table("ss_read_agg")
      .as[(Long, Long, Long)].collect().toSet
    assert(state === published)
  }

  test("transformWithState (C218) matches mapGroupsWithState on the same stream") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState only admits the RocksDB state store provider;
    // scope the conf to this test and restore the default after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Double)]
      val q = Events.runningUserActivityTws(stream.toDS())
        .writeStream.format("memory").queryName("user_state_tws")
        .outputMode("update").start()
      stream.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      q.processAllAvailable()
      stream.addData((1L, 3.0), (3L, -0.005)) // -x.5 cents: HALF_UP seam
      q.processAllAvailable()
      q.stop()
      val last = spark.table("user_state_tws")
        .groupBy("userId").agg(max("nEvents").as("n"), max("sumValueCents").as("cents"))
        .as[(Long, Long, Long)].collect().toSet
      // identical to the mapGroupsWithState expectation on this stream,
      // plus the rounding-seam user: BigDecimal HALF_UP takes -0.5 to -1
      assert(last === Set((1L, 3L, 600L), (2L, 1L, 500L), (3L, 1L, -1L)))
    } finally {
      prior.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }
}
