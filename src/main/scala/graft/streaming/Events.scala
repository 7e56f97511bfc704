package graft.streaming

import graft.CacheTracker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming twin of Relational.eventsWindow (C4): tumbling
  * 1-hour window counts with a watermark bounding state. The same
  * aggregation expressions serve batch and stream — the Spark way of
  * keeping the two paths consistent.
  */
object Events {

  /** Store-existence probe for the incremental durable stores, resolved
    * through the session's Hadoop FileSystem rather than java.io.File —
    * File.exists() is always false for non-local URIs (hdfs://, s3a://),
    * where a java.io gate would silently skip the standing store and,
    * e.g., miss every cross-batch duplicate pair instead of failing
    * loudly. Path.getFileSystem picks the scheme's FS (LocalFileSystem
    * for bare paths, so local tests are unchanged). */
  private[graft] def storeExists(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** [[storeExists]] AND the store already holds at least one batch_id=
    * partition — a pre-created EMPTY dir has nothing to read and schema
    * inference over it would throw. */
  private[graft] def storeHasPartitions(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))
  }

  case class UserActivity(userId: Long, nEvents: Long, sumValueCents: Long)

  /** Per-user running totals on Spark 4's transformWithState (C218) —
    * the arbitrary-stateful successor of mapGroupsWithState: explicit
    * typed state handles (ValueState here; ListState/MapState/timers
    * live on the same handle), per-state TTL, and the RocksDB state
    * store (transformWithState refuses the HDFS-backed provider — set
    * spark.sql.streaming.stateStore.providerClass to
    * RocksDBStateStoreProvider before starting the query). Identical
    * HALF_UP cents discipline to [[runningUserActivity]], so
    * StreamingSpec pins the two APIs equal on the same stream. */
  def runningUserActivityTws(events: org.apache.spark.sql.Dataset[(Long, Double)])
  : org.apache.spark.sql.Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_._1)
      .transformWithState(new RunningActivityProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Custom accumulating state per user via mapGroupsWithState (the
    * KeyValueGroupedDataset path for logic window aggregates can't
    * express). Emits the running total after every micro-batch; state is
    * one fixed-size record per active user — bounded, checkpointable. */
  def runningUserActivity(events: org.apache.spark.sql.Dataset[(Long, Double)])
  : org.apache.spark.sql.Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState[UserActivity, UserActivity](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(UserActivity(user, 0L, 0L))
          var n = prev.nEvents
          var cents = prev.sumValueCents
          rows.foreach { case (_, v) =>
            n += 1
            // HALF_UP away from zero, matching the batch side's
            // functions.round (java Math.round would differ at -x.5)
            cents += BigDecimal(v * 100)
              .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
          }
          val next = UserActivity(user, n, cents)
          state.update(next)
          next
      }
  }

  /** Streaming exact-dedup twin of operators.Dedup.exact (C18): drop rows
    * whose content hash was already seen, with state bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark` evicts hashes
    * older than the watermark — the only way dedup state stays finite on
    * an unbounded stream). Batch frames take the plain dropDuplicates
    * path so the same call serves both sides. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("content_hash",
      md5(graft.operators.TextOps.cleanText(col("text"))))
    if (hashed.isStreaming)
      hashed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** Stream-static enrichment join (C19): the static dimension is
    * broadcast to every task, so the stream side never shuffles and no
    * streaming-state is needed — the right shape for joining a firehose
    * against a small slowly-changing dimension. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join (C28): purchases joined to the same
    * user's clicks from the preceding `lookback` — both sides streaming,
    * which Spark only admits with watermarks on BOTH event times plus a
    * bounded time-range join condition; together they let the engine
    * evict buffered rows once no future match is possible, keeping join
    * state finite on unbounded inputs. The same call serves batch frames
    * (watermarks are then no-ops). Expects `p_ts`/`c_ts` event-time
    * columns and `user_id`/`c_user_id` keys (pre-renamed: stream-stream
    * joins reject ambiguous columns). */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        lookback: String = "30 minutes",
                        joinType: String = "inner"): DataFrame = {
    val p = if (purchases.isStreaming) purchases.withWatermark("p_ts", "1 hour")
            else purchases
    val c = if (clicks.isStreaming) clicks.withWatermark("c_ts", "2 hours")
            else clicks
    // joinType "left_outer" (C205): purchases with NO click in the window
    // still emit — with nulls on the click side — but only once the click
    // watermark passes the window's end, i.e. once no future click can
    // match; that watermark gate is what keeps outer state finite
    p.join(c, expr(
      s"user_id = c_user_id AND c_ts >= p_ts - interval $lookback AND c_ts <= p_ts"),
      joinType)
  }

  /** Idempotent micro-batch parquet sink (C33): foreachBatch tags every
    * row with its batchId and dynamically overwrites ONLY that batch's
    * partition. Structured Streaming re-runs a micro-batch after failure
    * (at-least-once execution); because the retry rewrites the same
    * batch_id partition instead of appending, the FILES are exactly-once
    * — the standard idempotent-sink recipe for stores without
    * transactional streaming writers. */
  def idempotentParquetSink(df: DataFrame, outDir: String,
                            checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeBatch(batch, batchId, outDir)
    }
    // with a checkpoint, a RESTARTED query resumes from committed offsets
    // — together with the per-batch partition overwrite this closes the
    // exactly-once loop across process restarts, not just task retries
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch write — factored out so a test can replay a batch and
    * assert the retry replaces rather than duplicates. */
  def writeBatch(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    // per-WRITER dynamic overwrite (option takes precedence over the
    // session conf): replaces only this batch_id partition on replay,
    // without mutating the caller's session — a session-wide conf.set
    // here would silently switch every later overwrite write in the
    // session from full-directory to touched-partition semantics
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** Streaming incremental corpus dedup (C94): the unbounded-horizon twin
    * of operators.Dedup.incremental — every micro-batch anti-joins its
    * content hashes against a DURABLE seen-hash parquet store, appends
    * only never-seen docs to the corpus sink, then records their hashes.
    * Where dropDuplicatesWithinWatermark (C18) bounds state by the
    * watermark horizon, an LLM ingestion pipeline needs the opposite
    * guarantee: a document seen last month is still a duplicate today.
    * The store IS the state — hash-partitioned parquet on disk, zero
    * executor-memory streaming state — and the anti-join shuffles the
    * batch, not the corpus-lifetime store, whenever the store side
    * outgrows broadcast.
    *
    * Failure discipline (at-least-once foreachBatch): the corpus write
    * is dynamic-partition-overwrite by batch_id (a replay REPLACES its
    * own output), and the store append tolerates replayed hashes
    * because duplicate store rows cannot change anti-join semantics.
    * Either half replayed in any order converges to exactly-once
    * corpus contents. */
  def incrementalCorpusDedup(docs: DataFrame, storeDir: String, outDir: String,
                             checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      dedupCorpusBatch(batch, batchId, storeDir, outDir)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * convergence. Keeps the lowest doc_id among in-batch duplicates. */
  def dedupCorpusBatch(batch: DataFrame, batchId: Long,
                       storeDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val hashed = batch.withColumn("content_hash",
      md5(graft.operators.TextOps.cleanText(col("text"))))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy("doc_id")
    val firsts = hashed.withColumn("_rn", row_number().over(wIn))
      .filter(col("_rn") === 1).drop("_rn")
    val novel = CacheTracker.cache(
      if (storeExists(spark, storeDir))
        firsts.join(spark.read.parquet(storeDir).select("content_hash"),
          Seq("content_hash"), "left_anti")
      else firsts)
    try {
      // per-writer dynamic overwrite, same rationale as writeBatch: no
      // session-conf mutation leaks to later writes on this session
      novel.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(outDir)
      novel.select("content_hash").write.mode("append").parquet(storeDir)
    } finally novel.unpersist()
  }

  /** Streaming incremental SPAN dedup (C99): the substring-level twin of
    * [[incrementalCorpusDedup]] — each micro-batch runs the
    * operators.Dedup.spanDedupIncremental probe shape against a DURABLE
    * shingle store: batch shingles semi-join (store ∪ batch-internal
    * dups), positions covered by a hit count as duplicated, and the
    * per-doc span report lands in `outDir`. The store is
    * batch_id-partitioned parquet; per batch the probe shuffles batch
    * shingles + the store read — never re-shingling the corpus.
    *
    * Replay discipline (at-least-once foreachBatch), BOTH halves
    * idempotent by dynamic partition overwrite on batch_id: a replayed
    * batch REPLACES its own report partition and its own store
    * partition. The probe additionally EXCLUDES the store's rows tagged
    * with the current batch_id — without that, a replay after a
    * successful store append would see its own first-attempt shingles
    * as "standing corpus" and flag every batch document as fully
    * duplicated, diverging from the first attempt's report. With the
    * exclusion, retries of the current (last uncommitted) batch — the
    * only replay the engine's commit protocol produces — converge to
    * the same report and store contents regardless of where the prior
    * attempt failed. */
  def incrementalSpanDedup(docs: DataFrame, storeDir: String, outDir: String,
                           checkpointDir: Option[String] = None, win: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      spanDedupBatch(batch, batchId, storeDir, outDir, win)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * convergence. */
  def spanDedupBatch(batch: DataFrame, batchId: Long, storeDir: String,
                     outDir: String, win: Int = 8): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val toked = Dedup.spanToked(batch)
    val sh = CacheTracker.cache(Dedup.spanShingles(toked, win))
    try {
      val index =
        if (storeExists(spark, storeDir))
          spark.read.parquet(storeDir)
            .filter(col("batch_id") =!= batchId) // self-exclusion on replay
            .select("h")
        else sh.select("h").limit(0)
      val batchDup = sh.groupBy("h")
        .agg(count_distinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select("h")
      val cover = sh.join(index.union(batchDup), Seq("h"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + (win - 1))).as("pos"))
        .distinct()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_tokens"))
      val report = toked.select(col("doc_id"), col("n_tokens"))
        .join(cover, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("n_tokens"),
          when(col("n_tokens") >= win, col("n_tokens") - (win - 1))
            .when(col("n_tokens").isNotNull, lit(0L)).as("n_shingles"),
          when(col("n_tokens").isNotNull, coalesce(col("n_dup_tokens"), lit(0L)))
            .as("n_dup_tokens"),
          when(col("n_tokens") > 0,
            round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
              col("n_tokens"), 6))
            .when(col("n_tokens").isNotNull, lit(0.0)).as("dup_token_frac"))
      report.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(outDir)
      sh.select("h").distinct().withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(storeDir)
    } finally sh.unpersist()
  }

  /** Streaming incremental bot score (C107): per micro-batch, fold the
    * batch's per-user inter-arrival gap moments (n, Σgap_s, Σgap_s²) —
    * INCLUDING the bridging gap from the stored last-seen timestamp to
    * the batch's first event — into a durable per-batch moment store,
    * then publish the cumulative [[graft.operators.Sessionize.botScore]]
    * report. Integer moments merge associatively, so as long as
    * micro-batches respect per-user event-time order the merged report
    * is BIT-identical to the batch operator over the union — the
    * exactly-incrementalizable aggregate, no approximation.
    *
    * Replay discipline (at-least-once foreachBatch): both the store
    * partial and the report are dynamic-partition-overwritten by
    * batch_id, and the bridge lookup excludes the current batch_id's
    * own store rows — a retried batch recomputes the identical partial
    * from the same prior state and REPLACES its own partitions. */
  def incrementalBotScore(events: DataFrame, storeDir: String, outDir: String,
                          checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      botScoreBatch(batch, batchId, storeDir, outDir)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * bit-exact convergence with the batch operator. */
  def botScoreBatch(batch: DataFrame, batchId: Long,
                    storeDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = batch
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("gap_s", expr("(us - prev_us) div 1000000"))
    val inBatch = gaps.groupBy("user_id")
      .agg(sum(when(col("prev_us").isNotNull, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(sum(col("gap_s")), lit(0L)).as("s"),
        coalesce(sum(col("gap_s") * col("gap_s")), lit(0L)).as("ss"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    // existence check tolerates a pre-created EMPTY dir (no partitions
    // yet → nothing to read, schema inference would throw)
    val prior =
      if (storeHasPartitions(spark, storeDir))
        spark.read.parquet(storeDir)
          .filter(col("batch_id") =!= batchId) // self-exclusion on replay
      else null
    val partial =
      (if (prior == null) inBatch.withColumn("prev_last_us",
        lit(null).cast("long"))
       else inBatch.join(
         prior.groupBy("user_id").agg(max(col("last_us")).as("prev_last_us")),
         Seq("user_id"), "left"))
        .withColumn("bridge_s",
          expr("(first_us - prev_last_us) div 1000000"))
        .select(col("user_id"),
          (col("n_gaps") + when(col("bridge_s").isNotNull, 1L).otherwise(0L))
            .as("n_gaps"),
          (col("s") + coalesce(col("bridge_s"), lit(0L))).as("s"),
          (col("ss") + coalesce(col("bridge_s") * col("bridge_s"), lit(0L)))
            .as("ss"),
          col("last_us"))
    partial.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    val merged = spark.read.parquet(storeDir).groupBy("user_id")
      .agg(sum(col("n_gaps")).as("n_gaps"), sum(col("s")).as("s"),
        sum(col("ss")).as("ss"))
      .filter(col("n_gaps") > 0)
    graft.operators.Sessionize.botScoreFromMoments(merged)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** Streaming incremental aggregate view (C121): the foreachBatch twin
    * of [[graft.operators.Relational.ivmAgg]] — each micro-batch writes
    * its per-(user, day) PARTIAL state (count/cent-sum/min/max) into a
    * batch_id-partitioned durable store, and the published view is the
    * associative merge of all partials. A replayed batch overwrites only
    * its own partition (dynamic overwrite), so the merged view is
    * replay-idempotent by construction; no bridging state is needed
    * because the aggregate algebra is associative. */
  def incrementalAggView(events: DataFrame, storeDir: String, outDir: String,
                         checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      aggViewBatch(batch, batchId, storeDir, outDir)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * bit-exact equality with the batch recompute. */
  def aggViewBatch(batch: DataFrame, batchId: Long,
                   storeDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val partial = batch
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id", "day_idx")
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    partial.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    spark.read.parquet(storeDir)
      .groupBy("user_id", "day_idx")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("first_us")).as("first_us"),
        max(col("last_us")).as("last_us"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  case class SessionSummary(userId: Long, startUs: Long, endUs: Long, nEvents: Long)
  // public: the state encoder's generated code constructs it reflectively
  case class OpenSession(startUs: Long, endUs: Long, n: Long)

  /** Completed-session emitter via flatMapGroupsWithState (C38): buffers
    * each user's open session in typed state and emits a session ONLY
    * once it is closed — either by a later event arriving past the gap,
    * or by event-time timeout once the watermark passes the gap horizon.
    * This is the flatMap variant's use case: zero-or-many outputs per
    * invocation (mapGroupsWithState must emit exactly one). State is one
    * fixed-size record per ACTIVE user and the timeout reaps idle users,
    * so state is bounded regardless of stream length. Input: (user_id,
    * event-time timestamp) with a watermark already applied upstream. */
  def completedSessions(events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
                        gapMinutes: Int = 30)
  : org.apache.spark.sql.Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           state: GroupState[OpenSession]): Iterator[SessionSummary] = {
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
      if (state.hasTimedOut) {
        // watermark passed the gap horizon: the open session can never
        // be extended again — emit and clear
        state.getOption.foreach(s =>
          closed += SessionSummary(user, s.startUs, s.endUs, s.n))
        state.remove()
      } else {
        var cur = state.getOption
        rows.map { case (_, ts) => ts.getTime * 1000L }.toSeq.sorted.foreach { us =>
          cur match {
            case Some(s) if us - s.endUs <= gapUs =>
              cur = Some(OpenSession(s.startUs, math.max(s.endUs, us), s.n + 1))
            case Some(s) =>
              closed += SessionSummary(user, s.startUs, s.endUs, s.n)
              cur = Some(OpenSession(us, us, 1L))
            case None =>
              cur = Some(OpenSession(us, us, 1L))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.endUs / 1000L + gapMinutes.toLong * 60L * 1000L)
        }
      }
      closed.iterator
    }
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** [[completedSessions]] on transformWithState (C223): the timer-based
    * variant of the gap sessionizer — open-session state is a typed
    * ValueState, and session expiry rides an explicit EVENT-TIME TIMER
    * (registerTimer at end+gap; handleExpiredTimer emits and clears)
    * instead of GroupStateTimeout. Timers are the new API's headline
    * capability over the legacy one: many per key and individually
    * deletable, so EXTENDING a session deletes its old horizon and
    * registers the new one rather than overwriting a single implicit
    * timeout. Same closure semantics as [[completedSessions]];
    * StreamingSpec drives both through the identical batch sequence. */
  def completedSessionsTws(
      events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      gapMinutes: Int = 30)
  : org.apache.spark.sql.Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_._1)
      .transformWithState(new SessionizeTwsProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Exact distinct users per tumbling hour on a streaming OR batch
    * frame (C86, the streaming twin of Relational.windowActiveUsers):
    * watermark-bounded dedup on (user, hour, type) keeps one row per
    * contributor, and the downstream windowed count then IS the exact
    * distinct count. The streaming side MUST use
    * `dropDuplicatesWithinWatermark`: a plain dropDuplicates on these
    * keys grows state forever, because none of them carries event-time
    * metadata (the date_trunc alias does not inherit ts's watermark
    * tag) so nothing would ever evict. Within-watermark semantics are
    * exact here — a duplicate arriving later than the watermark horizon
    * is dropped by the windowed aggregation anyway. Chained stateful
    * operators (dedup → agg) require append mode, so results emit when
    * the watermark closes a window. The same call on a batch frame
    * skips the watermark and computes identically. */
  def windowActiveUsers(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val base = events.select(col("ts"), col("user_id"), col("event_type"))
      .withColumn("hour", date_trunc("hour", col("ts")))
    val deduped =
      if (events.isStreaming)
        base.withWatermark("ts", watermark)
          .dropDuplicatesWithinWatermark("user_id", "hour", "event_type")
      else base.dropDuplicates("user_id", "hour", "event_type")
    deduped
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_users"))
  }

  /** Windowed aggregation usable on a streaming or batch events frame. */
  def windowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value_cents"))
  }

  /** Streaming incremental data-quality monitor (C143): each
    * micro-batch folds its per-rule (n_checked, n_violations) counts —
    * [[graft.operators.Relational.eventDqPartials]], a purely
    * associative aggregate — into a batch_id-partitioned durable store
    * and publishes the cumulative per-rule report. The merged report is
    * BIT-identical to the batch [[graft.operators.Relational
    * .eventDqReport]] over the union of batches, and a replayed batch
    * dynamic-overwrites only its own partition, so the monitor is
    * replay-idempotent by construction (the aggViewBatch discipline —
    * no bridging state, the algebra is associative). This is how a
    * 100 TB/day feed gets continuous quality gates without ever
    * rescanning history. */
  def incrementalDqMonitor(events: DataFrame, storeDir: String, outDir: String,
                           checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      dqMonitorBatch(batch, batchId, storeDir, outDir)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Streaming incremental token-attrition monitor (C193): each
    * micro-batch computes its docs' curation-gate flags (the batch
    * operator's short/quality/repetition definitions via
    * [[graft.operators.TextOps.attritionFlags]]) with the DUPLICATE
    * gate probed against a durable content-hash store (prior batches)
    * plus an in-batch keep-first window, folds the per-gate exact token
    * sums into a batch_id-partitioned partials store, and publishes the
    * cumulative 5-row gate report (latest-wins plain overwrite — the
    * dqMonitor discipline). As long as micro-batches arrive in doc_id
    * order (an ingest sequence number), the merged report is
    * BIT-identical to the batch [[graft.operators.TextOps
    * .tokenAttrition]] over the union — keep-first dup semantics
    * incrementalize exactly.
    *
    * Replay discipline (at-least-once foreachBatch): hash-store and
    * partials partitions are dynamic-overwritten by batch_id, and the
    * dup probe excludes the current batch_id's own store rows — a
    * retried batch recomputes the identical partial from the same prior
    * state and REPLACES its own partitions; the report then re-merges
    * to the same totals. */
  def incrementalTokenAttrition(docs: DataFrame, storeDir: String, outDir: String,
                                checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      tokenAttritionBatch(batch, batchId, storeDir, outDir)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Streaming incremental Count-Min sketch (C201): the foreachBatch twin
    * of [[graft.operators.Sketches.countMinErr]]'s sketch build. Each
    * micro-batch writes its own width×depth-bounded CELL partial (the
    * same [[graft.operators.Sketches.cmsCellsFromCounts]] frame the batch
    * path uses, so the two cannot drift) into a batch_id-partitioned
    * durable store; the published sketch is the plain per-(row, bucket)
    * SUM of all partials — Count-Min's defining mergeability, exercised
    * for real. A replayed batch dynamic-overwrites only its own
    * partition, so the merged sketch is replay-idempotent by
    * construction, and because cell addition is associative+commutative
    * the merged sketch is BIT-identical to the batch build over the
    * union of all micro-batches — no ordering assumption at all. */
  def incrementalCms(docs: DataFrame, storeDir: String, outDir: String,
                     depth: Int = 4, width: Int = 256,
                     checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      cmsBatch(batch, batchId, storeDir, outDir, depth, width)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * bit-exact convergence with the batch sketch over the union. */
  def cmsBatch(batch: DataFrame, batchId: Long, storeDir: String,
               outDir: String, depth: Int = 4, width: Int = 256): Unit = {
    val spark = batch.sparkSession
    val cnt = batch
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("true_cnt"))
    graft.operators.Sketches.cmsCellsFromCounts(cnt, depth, width)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    spark.read.parquet(storeDir)
      .groupBy("r", "bucket").agg(sum(col("cell")).as("cell"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** Streaming incremental HyperLogLog (C202): the foreachBatch twin of
    * [[graft.operators.Sketches.hllDet]]'s sketch build. Each micro-batch
    * writes its own ≤256-row (reg, mx) register partial (the SAME
    * [[graft.operators.Sketches.hllRegisters]] frame as the batch path)
    * into a batch_id-partitioned durable store; the published sketch is
    * the per-register MAX over all partials — HLL's defining
    * mergeability. Max is associative, commutative AND idempotent, so
    * the merged registers are bit-identical to the batch build over the
    * union regardless of batch order or replays (dynamic overwrite keeps
    * the store itself clean too). */
  def incrementalHll(docs: DataFrame, storeDir: String, outDir: String,
                     checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      hllBatch(batch, batchId, storeDir, outDir)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Streaming incremental Bloom filter (C209): the third merge algebra
    * of the sketch family — CMS merges by SUM, HLL by MAX, Bloom by set
    * UNION (distinct of the per-batch position sets). Each micro-batch
    * writes its members' bit positions (the SAME md5 positions the batch
    * [[graft.operators.Sketches.bloomFpr]] derives) into a batch_id-
    * partitioned store; the published filter is the distinct position
    * set. Union is associative, commutative and idempotent, so merge
    * order and replays cannot matter; a probe against the merged filter
    * answers exactly as against the batch-built filter over the union. */
  def incrementalBloom(docs: DataFrame, storeDir: String, outDir: String,
                       kHashes: Int = 4, mBits: Int = 4096,
                       checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      bloomBatch(batch, batchId, storeDir, outDir, kHashes, mBits)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * bit-exact convergence with the batch-built bit set over the union. */
  def bloomBatch(batch: DataFrame, batchId: Long, storeDir: String,
                 outDir: String, kHashes: Int = 4, mBits: Int = 4096): Unit = {
    val spark = batch.sparkSession
    graft.operators.Sketches.bloomPositions(
        batch.select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
          .distinct(), kHashes, mBits)
      .select("pos").distinct()
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    spark.read.parquet(storeDir)
      .select("pos").distinct()
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * bit-exact convergence with the batch sketch over the union. */
  def hllBatch(batch: DataFrame, batchId: Long,
               storeDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    graft.operators.Sketches.hllRegisters(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    spark.read.parquet(storeDir)
      .groupBy("reg").agg(max(col("mx")).as("mx"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** The per-batch step, factored out so tests replay batches and
    * assert bit-exact convergence with the batch operator. */
  def tokenAttritionBatch(batch: DataFrame, batchId: Long,
                          storeDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val hashesDir = s"$storeDir/hashes"
    val partialsDir = s"$storeDir/partials"
    val flags = CacheTracker.cache(graft.operators.TextOps.attritionFlags(batch))
    try {
      val prior =
        if (storeExists(spark, hashesDir))
          spark.read.parquet(hashesDir)
            .filter(col("batch_id") =!= batchId) // self-exclusion on replay
            .select("ch").distinct()
        else flags.select("ch").limit(0)
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy("ch").orderBy("doc_id")
      val withDup = flags
        .withColumn("_rn", row_number().over(wIn))
        .join(prior.withColumn("_seen", lit(true)), Seq("ch"), "left")
        .withColumn("f_dup", coalesce(col("_seen"), lit(false)) || col("_rn") > 1)
      def lost(c: org.apache.spark.sql.Column) =
        coalesce(sum(when(c, col("nt")).otherwise(0L)), lit(0L))
      withDup.agg(
          coalesce(sum(col("nt")), lit(0L)).as("total_tokens"),
          lost(col("f_short")).as("short_t"),
          lost(col("f_quality")).as("quality_t"),
          lost(col("f_rep")).as("rep_t"),
          lost(col("f_dup")).as("dup_t"),
          lost(!col("f_short") && !col("f_quality") && !col("f_rep") && !col("f_dup"))
            .as("pass_t"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(partialsDir)
      flags.select("ch").distinct().withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(hashesDir)
      // cumulative report from ALL partials: exact sums merge, the
      // shared projection rounds once — latest-wins plain overwrite
      graft.operators.TextOps.attritionProject(
          spark.read.parquet(partialsDir)
            .agg(sum(col("total_tokens")).as("total_tokens"),
              sum(col("short_t")).as("short_t"),
              sum(col("quality_t")).as("quality_t"),
              sum(col("rep_t")).as("rep_t"),
              sum(col("dup_t")).as("dup_t"),
              sum(col("pass_t")).as("pass_t")))
        .write.mode("overwrite").parquet(outDir)
    } finally flags.unpersist()
  }

  /** The per-batch step, factored out so tests replay batches and
    * assert bit-exact convergence with the batch report. */
  def dqMonitorBatch(batch: DataFrame, batchId: Long,
                     storeDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    graft.operators.Relational.eventDqPartials(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    // The cumulative report is LATEST-WINS by construction, so it writes
    // as a plain unpartitioned overwrite. Keying it by batch_id was a
    // semantics bug: replaying old batch N after later batches have run
    // rewrites "partition N" with a cumulative that already includes
    // those later batches, so partitions stop meaning "state as of
    // batch N" and a reader picking max(batch_id) can see a stale id
    // carrying newer totals. The merged totals themselves are replay-
    // idempotent either way (the store is the state; this is just its
    // projection).
    spark.read.parquet(storeDir)
      .groupBy("rule")
      .agg(sum(col("n_checked")).as("n_checked"),
        sum(col("n_violations")).as("n_violations"))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        round(when(col("n_checked") > 0,
          col("n_violations").cast("double") / col("n_checked"))
          .otherwise(lit(0.0)), 6).as("violation_rate"))
      .write.mode("overwrite").parquet(outDir)
  }

  /** Streaming incremental near-dup components (C195): the one dedup
    * family member that had no incremental story — the unbounded-horizon
    * twin of `dedup_components` (operators.Dedup.components over
    * Similarity.nearDupPairs). Three durable batch_id-partitioned
    * parquet stores under `storeDir`:
    *
    *   - `index`:  (bucket, vec_id, embedding) — the standing sign-LSH
    *     index every batch probes for cross-batch candidate pairs (same
    *     bucket, exact cosine ≥ cosMin). `bits` is FIXED across the
    *     stream's lifetime (buckets must mean the same thing in every
    *     batch); 8 matches what the batch operator's adaptiveSignBits
    *     picks for any union below ~65k vectors.
    *   - `labels`: (vec_id, label) — one row per vector the moment it
    *     first participates in a pair, never rewritten.
    *   - `merges`: (old_label, new_label) — appended when a batch's
    *     pairs connect two existing components; min-label merge edges.
    *
    * A vector's RESOLVED component = its stored label chased through the
    * merge graph (min reachable label). Labels only ever decrease and
    * min is associative, so resolution over the accumulated stores is
    * exactly what a batch recompute over the union of all batches
    * produces — no approximation, and the expensive work (bucketing +
    * cosine verification) touches each batch once, never the corpus.
    * The merge graph is merge-EVENT-sized (tiny), so publishing the
    * resolved snapshot per batch is one small components() pass plus a
    * label-store map join.
    *
    * Replay discipline (at-least-once foreachBatch): all three stores
    * dynamic-partition-overwrite their own batch_id partition, and every
    * store read EXCLUDES the current batch_id's rows — a retried batch
    * neither pairs against its own first-attempt index rows nor chases
    * its own first-attempt merges, so it reproduces identical store
    * partitions regardless of where the prior attempt failed. The
    * published snapshot is latest-wins plain overwrite (the dqMonitor
    * precedent): the stores are the state, the snapshot its projection. */
  def incrementalComponents(vecs: DataFrame, storeDir: String, outDir: String,
                            checkpointDir: Option[String] = None,
                            cosMin: Double = 0.3, bits: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      componentsBatch(batch, batchId, storeDir, outDir, cosMin, bits)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * convergence against the batch operator over the union. */
  def componentsBatch(batch: DataFrame, batchId: Long, storeDir: String,
                      outDir: String, cosMin: Double = 0.3,
                      bits: Int = 8): Unit = {
    import graft.operators.{Dedup, Similarity}
    val spark = batch.sparkSession
    val (idxDir, labDir, mrgDir) =
      (s"$storeDir/index", s"$storeDir/labels", s"$storeDir/merges")
    val idxSchema = "bucket STRING, vec_id BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT"
    val labSchema = "vec_id BIGINT, label BIGINT, batch_id BIGINT"
    val mrgSchema = "old_label BIGINT, new_label BIGINT, batch_id BIGINT"
    // schema-explicit reads: a batch with nothing to record still
    // overwrites its (then file-less) partition, and schema INFERENCE
    // over a store directory holding only _SUCCESS would fail — with
    // the declared schema an empty store reads as an empty frame
    def readStore(dir: String, schema: String): Option[DataFrame] =
      if (storeExists(spark, dir))
        Some(spark.read.schema(schema).parquet(dir)
          .filter(col("batch_id") =!= batchId))
      else None
    def writePartition(df: DataFrame, dir: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)

    val bb = CacheTracker.cache(batch.select(col("vec_id"), col("embedding"),
      Similarity.signBucket(col("embedding"), bits).as("bucket")))
    try {
      // candidate pairs: batch-internal (a < b dedups the self-join) +
      // batch × standing index (ids are disjoint across batches, and one
      // bucket per vector means no pair arrives twice)
      val internal = bb.select(col("bucket"), col("vec_id").as("a_id"),
          col("embedding").as("a_emb"))
        .join(bb.select(col("bucket"), col("vec_id").as("b_id"),
          col("embedding").as("b_emb")), Seq("bucket"))
        .filter(col("a_id") < col("b_id"))
      val cross = readStore(idxDir, idxSchema).map { idx =>
        bb.select(col("bucket"), col("vec_id").as("a_id"),
            col("embedding").as("a_emb"))
          .join(idx.select(col("bucket"), col("vec_id").as("b_id"),
            col("embedding").as("b_emb")), Seq("bucket"))
      }
      val pairs = CacheTracker.cache(cross.fold(internal)(internal.unionByName(_))
        .select(col("a_id"), col("b_id"),
          round(Similarity.cosine(col("a_emb"), col("b_emb")), 6).as("cos"))
        .filter(col("cos") >= cosMin)
        .select("a_id", "b_id"))
      try {
        val labels = readStore(labDir, labSchema).map(_.select("vec_id", "label"))
        val merges = readStore(mrgDir, mrgSchema).map(_.select("old_label", "new_label"))
        // resolve stored labels through the accumulated merge graph —
        // merge-event-sized, so this components() pass is tiny
        val resolved = (labels, merges) match {
          case (Some(l), Some(m)) =>
            val remap = Dedup.components(m, "old_label", "new_label")
              .select(col("id").as("label"), col("component").as("rlabel"))
            l.join(remap, Seq("label"), "left")
              .select(col("vec_id"), coalesce(col("rlabel"), col("label")).as("label"))
          case (Some(l), None) => l
          case _ => spark.emptyDataFrame
              .select(lit(0L).as("vec_id"), lit(0L).as("label")).limit(0)
        }
        // map pair endpoints to their current resolved labels (an
        // unlabeled endpoint — a batch vector, or an old singleton
        // pairing for the first time — is its own label)
        val lbl = CacheTracker.cache(resolved)
        try {
          lbl.count()
          val e = pairs
            .join(lbl.select(col("vec_id").as("a_id"), col("label").as("a_lbl")),
              Seq("a_id"), "left")
            .join(lbl.select(col("vec_id").as("b_id"), col("label").as("b_lbl")),
              Seq("b_id"), "left")
            .select(coalesce(col("a_lbl"), col("a_id")).as("la"),
              coalesce(col("b_lbl"), col("b_id")).as("lb"))
            .filter(col("la") =!= col("lb"))
          val comp = Dedup.components(e, "la", "lb")
            .select(col("id").as("label"), col("component"))
          // label rows for endpoints with no store row yet (batch vecs in
          // pairs + old singletons first paired now), at their merged min
          val endpoints = pairs.select(col("a_id").as("vec_id"))
            .union(pairs.select(col("b_id").as("vec_id"))).distinct()
          val newLabelRows = endpoints
            .join(lbl.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .select(col("vec_id"), col("vec_id").as("label"))
            .join(comp, Seq("label"), "left")
            .select(col("vec_id"), coalesce(col("component"), col("label")).as("label"))
          // merge rows: every EXISTING resolved label this batch's pairs
          // pulled to a smaller component
          val mergeRows = lbl.select(col("label")).distinct()
            .join(comp, Seq("label"))
            .filter(col("component") < col("label"))
            .select(col("label").as("old_label"), col("component").as("new_label"))
          writePartition(bb.select("bucket", "vec_id", "embedding"), idxDir)
          writePartition(newLabelRows, labDir)
          writePartition(mergeRows, mrgDir)
          // publish the resolved snapshot (latest-wins overwrite): every
          // labeled vector at its min reachable label through ALL merges
          val allLabels = spark.read.schema(labSchema).parquet(labDir)
            .select("vec_id", "label")
          val allMergesDf = spark.read.schema(mrgSchema).parquet(mrgDir)
            .select("old_label", "new_label")
          val finalRemap = Dedup.components(allMergesDf, "old_label", "new_label")
            .select(col("id").as("label"), col("component").as("rlabel"))
          allLabels.join(finalRemap, Seq("label"), "left")
            .select(col("vec_id").as("id"),
              coalesce(col("rlabel"), col("label")).as("component"))
            .write.mode("overwrite").parquet(outDir)
        } finally lbl.unpersist()
      } finally pairs.unpersist()
    } finally bb.unpersist()
  }

  /** Streaming incremental MinHash-LSH near-dup pairs (C196): the
    * unbounded-horizon twin of `minhash_lsh`
    * (operators.Dedup.minhashLshPairs), completing the streaming dedup
    * story next to the exact-hash store (C94) and the embedding
    * components (C195). Three durable batch_id-partitioned parquet
    * stores under `storeDir`:
    *
    *   - `bands`: (band, bh, doc_id) — the standing banded-signature
    *     index every batch probes for cross-batch candidates (same
    *     band + band hash). Signatures are md5-derived (no engine
    *     seed), so a doc's band hashes are IDENTICAL whether computed
    *     in its arrival batch or in a batch recompute — candidate
    *     generation is deterministic, not probabilistic, and the
    *     streaming pair set converges exactly.
    *   - `arrs`:  (doc_id, arr) — each doc's sorted distinct-shingle
    *     array, joined back per candidate pair for the EXACT Jaccard
    *     verification (false band collisions filtered, same gate as
    *     the batch operator).
    *   - `pairs`: (a_id, b_id, jac) — the verified output, appended per
    *     batch; the published snapshot at `outDir` is the union of all
    *     pair partitions.
    *
    * Replay discipline (at-least-once foreachBatch): every store read
    * EXCLUDES the current batch_id's rows and every write
    * dynamic-partition-overwrites its own partition, so a retried batch
    * reproduces identical store partitions (the C94/C195 pattern).
    * Scale: per batch the work is batch-tokenize + one (band, bh)
    * probe join against the index + per-candidate narrow verification —
    * the corpus is never re-paired. */
  def incrementalMinhashPairs(docs: DataFrame, storeDir: String, outDir: String,
                              checkpointDir: Option[String] = None,
                              numHashes: Int = 16, bandSize: Int = 8,
                              jacMin: Double = 0.9)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      minhashPairsBatch(batch, batchId, storeDir, outDir, numHashes, bandSize, jacMin)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * convergence against Dedup.minhashLshPairs over the union. */
  def minhashPairsBatch(batch: DataFrame, batchId: Long, storeDir: String,
                        outDir: String, numHashes: Int = 16, bandSize: Int = 8,
                        jacMin: Double = 0.9): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val (bandsDir, arrsDir, pairsDir) =
      (s"$storeDir/bands", s"$storeDir/arrs", s"$storeDir/pairs")
    val bandSchema = "band BIGINT, bh STRING, doc_id BIGINT, batch_id BIGINT"
    val arrSchema = "doc_id BIGINT, arr ARRAY<STRING>, batch_id BIGINT"
    val pairSchema = "a_id BIGINT, b_id BIGINT, jac DOUBLE, batch_id BIGINT"
    def readStore(dir: String, schema: String): Option[DataFrame] =
      if (storeExists(spark, dir))
        Some(spark.read.schema(schema).parquet(dir)
          .filter(col("batch_id") =!= batchId))
      else None
    def writePartition(df: DataFrame, dir: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)

    val (bands0, arrs0) = Dedup.lshDocRows(batch, numHashes, bandSize)
    val bands = CacheTracker.cache(bands0)
    val arrs = CacheTracker.cache(arrs0)
    try {
      // batch-internal candidates (a < b dedups the self-join) + batch x
      // standing index (ids are disjoint across batches; least/greatest
      // normalizes so the pair key matches the batch operator's a < b)
      val internal = bands.select(col("band"), col("bh"), col("doc_id").as("a_id"))
        .join(bands.select(col("band"), col("bh"), col("doc_id").as("b_id")),
          Seq("band", "bh"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
      val cross = readStore(bandsDir, bandSchema).map { idx =>
        bands.select(col("band"), col("bh"), col("doc_id").as("n_id"))
          .join(idx.select(col("band"), col("bh"), col("doc_id").as("o_id")),
            Seq("band", "bh"))
          .select(least(col("n_id"), col("o_id")).as("a_id"),
            greatest(col("n_id"), col("o_id")).as("b_id"))
      }
      val cand = cross.fold(internal)(internal.unionByName(_)).distinct()
      // arr lookup over batch + stored docs (doc ids are unique, so the
      // union is a plain dictionary for both pair endpoints)
      val allArrs = readStore(arrsDir, arrSchema)
        .map(_.select("doc_id", "arr").unionByName(arrs))
        .getOrElse(arrs)
      val pairs = cand
        .join(allArrs.select(col("doc_id").as("a_id"), col("arr").as("a_arr")), "a_id")
        .join(allArrs.select(col("doc_id").as("b_id"), col("arr").as("b_arr")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(graft.functions.GraftFunctions.jaccard(col("a_arr"), col("b_arr")), 6)
            .as("jac"))
        .filter(col("jac") >= jacMin)
      writePartition(bands, bandsDir)
      writePartition(arrs, arrsDir)
      writePartition(pairs, pairsDir)
      // publish the cumulative verified pair set (latest-wins overwrite)
      spark.read.schema(pairSchema).parquet(pairsDir)
        .select("a_id", "b_id", "jac")
        .write.mode("overwrite").parquet(outDir)
    } finally { bands.unpersist(); arrs.unpersist() }
  }

  /** Streaming incremental WEIGHTED-MinHash pairs (C224): the
    * foreachBatch twin of [[graft.operators.Dedup.weightedMinhashPairs]],
    * completing the incremental-store family's weighted member next to
    * the unweighted [[incrementalMinhashPairs]]. Each micro-batch
    * computes its docs' H-winner signatures with the SAME
    * wminhashSigArr/wminhashBanded frames as the batch path (the race
    * uniform is a pure function of (hash, token), so per-batch
    * signatures are bit-identical to whole-corpus ones — perfectly
    * incremental); candidates are batch-internal band-bucket pairs plus
    * batch × the standing band index, verified against the union of
    * stored and batch signature arrays by the shared wminhashVerify.
    * Replay discipline as the unweighted twin: every store half is
    * dynamic-partition-overwritten by batch_id and reads exclude the
    * current batch_id, so retries converge. */
  def incrementalWminhashPairs(docs: DataFrame, storeDir: String, outDir: String,
                               checkpointDir: Option[String] = None,
                               numHashes: Int = 16, simMin: Double = 0.9)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      wminhashPairsBatch(batch, batchId, storeDir, outDir, numHashes, simMin)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * convergence against Dedup.weightedMinhashPairs over the union. */
  def wminhashPairsBatch(batch: DataFrame, batchId: Long, storeDir: String,
                         outDir: String, numHashes: Int = 16,
                         simMin: Double = 0.9): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val (bandsDir, sigsDir, pairsDir) =
      (s"$storeDir/bands", s"$storeDir/sigs", s"$storeDir/pairs")
    val bandSchema = "doc_id BIGINT, band INT, bh STRING, batch_id BIGINT"
    val sigSchema = "doc_id BIGINT, sig ARRAY<STRING>, batch_id BIGINT"
    val pairSchema = "a_id BIGINT, b_id BIGINT, n_match BIGINT, est_wjac DOUBLE, batch_id BIGINT"
    def readStore(dir: String, schema: String): Option[DataFrame] =
      if (storeExists(spark, dir))
        Some(spark.read.schema(schema).parquet(dir)
          .filter(col("batch_id") =!= batchId))
      else None
    def writePartition(df: DataFrame, dir: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)

    val sig = CacheTracker.cache(Dedup.wminhashSigArr(batch, numHashes))
    val bands = CacheTracker.cache(Dedup.wminhashBanded(sig, numHashes))
    try {
      val internal = bands.select(col("band"), col("bh"), col("doc_id").as("a_id"))
        .join(bands.select(col("band"), col("bh"), col("doc_id").as("b_id")),
          Seq("band", "bh"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
      val cross = readStore(bandsDir, bandSchema).map { idx =>
        bands.select(col("band"), col("bh"), col("doc_id").as("n_id"))
          .join(idx.select(col("band"), col("bh"), col("doc_id").as("o_id")),
            Seq("band", "bh"))
          .select(least(col("n_id"), col("o_id")).as("a_id"),
            greatest(col("n_id"), col("o_id")).as("b_id"))
      }
      val cand = cross.fold(internal)(internal.unionByName(_)).distinct()
      val allSigs = readStore(sigsDir, sigSchema)
        .map(_.select("doc_id", "sig").unionByName(sig))
        .getOrElse(sig)
      val pairs = Dedup.wminhashVerify(cand, allSigs, numHashes, simMin)
      writePartition(bands, bandsDir)
      writePartition(sig, sigsDir)
      writePartition(pairs, pairsDir)
      // publish the cumulative verified pair set (latest-wins overwrite)
      spark.read.schema(pairSchema).parquet(pairsDir)
        .select("a_id", "b_id", "n_match", "est_wjac")
        .write.mode("overwrite").parquet(outDir)
    } finally { sig.unpersist(); bands.unpersist() }
  }

  /** Streaming incremental WINDOWED-HLL store (C225): each micro-batch
    * writes its per-day (day, reg, mx) user-register partials — the
    * SAME [[graft.operators.Sketches.dailyUserRegisters]] frame the
    * batch query derives — into a batch_id-partitioned durable store;
    * the published report is the rolling-window estimate off the
    * per-(day, reg) MAX merge of ALL partials. Max-merge is
    * associative, commutative AND idempotent, so batches may overlap
    * days, arrive out of order, or replay — the merged registers are
    * bit-identical to the batch build over the union regardless. The
    * published report carries NO exact comparator (that is the raw
    * history the store exists to avoid re-scanning; the batch query
    * keeps it for the rel_err audit). */
  def incrementalHllWindow(events: DataFrame, storeDir: String, outDir: String,
                           window: Int = 7,
                           checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      hllWindowBatch(batch, batchId, storeDir, outDir, window)
    }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The per-batch step, factored out so tests replay batches and assert
    * bit-exact convergence with the batch estimate over the union. */
  def hllWindowBatch(batch: DataFrame, batchId: Long, storeDir: String,
                     outDir: String, window: Int = 7): Unit = {
    val spark = batch.sparkSession
    graft.operators.Sketches.dailyUserRegisters(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)
    val merged = spark.read.parquet(storeDir)
      .groupBy("day", "reg").agg(max(col("mx")).as("mx"))
      .transform(CacheTracker.pin) // two consumers: the day gate + the estimate
    val days = merged.select("day").distinct()
    graft.operators.Sketches.windowEstimate(merged, days, window)
      .select(col("win_day"), col("n_used").as("n_registers_used"),
        round(col("estimate"), 6).as("estimate"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  // ---- SQL-surface readbacks of the incremental sketch stores --------
  //
  // C213-C215: the merged CMS/HLL/Bloom durable stores as queryable
  // tables. Each builds its store with the SAME per-batch step the
  // streaming query runs (three doc_id-keyed micro-batches, plus an
  // out-of-order REPLAY of batch 0 so the dynamic-overwrite idempotence
  // is exercised on the query surface, not just in StreamingSpec),
  // registers the merged sketch as a temp view, and returns the view's
  // readback. Because each sketch's merge algebra (SUM / MAX / set
  // UNION) is associative+commutative — and idempotent where it must
  // be — the merged table is BIT-identical to the batch build over the
  // whole corpus, which is exactly what the DuckDB oracle computes from
  // scratch: the oracle check IS the mergeability proof.

  private def buildStore(docs: DataFrame,
                         prefix: String,
                         step: (DataFrame, Long, String, String) => Unit)
      : (String, String, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    val (store, out) = (s"$tmp/store", s"$tmp/out")
    Seq(0L, 1L, 2L, 0L).foreach { b =>
      step(docs.filter(col("doc_id") % 3 === b), b, store, out)
    }
    (tmp, store, out)
  }

  /** Materialize a BOUNDED store projection to a driver-local relation,
    * then recursively delete `baseDir`. Every store-backed query surface
    * in this file spills a temp store/checkpoint under java.io.tmpdir;
    * returning a lazy reader over it means the dir can never be deleted
    * (the r17 ADVICE leak: each bench warmup + timed + solo re-time left
    * a full parquet copy behind, accumulating over multi-hundred-query
    * passes and growing with SF). The frames localized here are all
    * DIMENSION-bounded, never corpus/stream-bounded — sketch cells
    * (depth×width / registers / mBits), per-rule DQ counts, per-type agg
    * state, the (user × day) view, the distinct-hash corpus keeps — so
    * the collect is a bounded license, documented per call site. At
    * 100 TB the store is a permanent table, not a temp dir, and this
    * seam disappears; eager cleanup is the single-JVM-harness hygiene. */
  private def localizeAndDelete(df: DataFrame, baseDir: String): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    deleteRecursively(baseDir)
    local
  }

  private def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Merged incremental Count-Min store as table `graft_sketch_cms`
    * (C213): per-(row, bucket) SUM over the per-batch cell partials. */
  def sketchCmsTable(docs: DataFrame, depth: Int = 4, width: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    val (base, store, _) = buildStore(docs, "graft_sketch_cms_",
      (b, id, s, o) => cmsBatch(b, id, s, o, depth, width))
    // depth×width-bounded cells: localize, then drop the temp store
    localizeAndDelete(
      spark.read.parquet(store)
        .groupBy("r", "bucket").agg(sum(col("cell")).as("cell"))
        .select(col("r").cast("long").as("r"), col("bucket"), col("cell")),
      base)
      .createOrReplaceTempView("graft_sketch_cms")
    spark.table("graft_sketch_cms")
  }

  /** Merged incremental HyperLogLog store as table `graft_sketch_hll`
    * (C214): per-register MAX over the per-batch register partials. */
  def sketchHllTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val (base, store, _) = buildStore(docs, "graft_sketch_hll_",
      (b, id, s, o) => hllBatch(b, id, s, o))
    // register-count-bounded: localize, then drop the temp store
    localizeAndDelete(
      spark.read.parquet(store)
        .groupBy("reg").agg(max(col("mx")).as("mx")),
      base)
      .createOrReplaceTempView("graft_sketch_hll")
    spark.table("graft_sketch_hll")
  }

  /** Merged incremental Bloom store as table `graft_sketch_bloom`
    * (C215): the distinct set-bit positions across all batch partials. */
  def sketchBloomTable(docs: DataFrame, kHashes: Int = 4, mBits: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val (base, store, _) = buildStore(docs, "graft_sketch_bloom_",
      (b, id, s, o) => bloomBatch(b, id, s, o, kHashes, mBits))
    // ≤ mBits set positions: localize, then drop the temp store
    localizeAndDelete(
      spark.read.parquet(store).select("pos").distinct(),
      base)
      .createOrReplaceTempView("graft_sketch_bloom")
    spark.table("graft_sketch_bloom")
  }

  /** Committed streaming-aggregation state as a QUERY surface (C263):
    * the C222 State-Data-Source reader upgraded from test-only to an
    * oracled query, the way the sketch stores (C213–C215) became
    * queryable in r15. A REAL micro-batched streaming aggregation runs
    * over the events table — file source, maxFilesPerTrigger=1 over a
    * 3-file spill of (event_type, value), Trigger.AvailableNow so the
    * bounded drain self-terminates — then the query's CHECKPOINT is
    * read back with `spark.read.format("statestore")` and the PHYSICAL
    * agg-buffer fields (key.event_type, value.count, value.sum) are
    * projected. The DuckDB oracle computes the same per-type
    * (n_events, cents) GROUP BY from scratch, so the hash check proves
    * the committed state IS the aggregate — HDFSBackedStateStore
    * merge-correct across micro-batches, exact integer cents via the
    * established HALF_UP round(value*100) seam. State is
    * |event_types|-bounded; the only materialization is the one
    * distributed parquet spill that feeds the file source. */
  def stateStoreRead(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val base = java.nio.file.Files.createTempDirectory("graft_ss_query_").toString
    val (src, ckpt) = (s"$base/src", s"$base/ckpt")
    events.select(col("event_type"), col("value"))
      .repartition(3)
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // Bounded wait: a wedged micro-batch (checkpoint FS trouble) must
    // surface as this query's -1 in the harness, not hang the whole
    // bench/verify pass inside awaitTermination(). 10 min is ~100× the
    // drain's observed cost at sf0.1.
    if (!q.awaitTermination(600000L)) {
      q.stop()
      throw new IllegalStateException(
        "stateStoreRead: AvailableNow drain did not terminate within 10 min")
    }
    // |event_types|-bounded state: localize, then drop src + checkpoint
    localizeAndDelete(
      spark.read.format("statestore").load(ckpt)
        .select(col("key.event_type").as("event_type"),
          col("value.count").cast("long").as("n_events"),
          col("value.sum").cast("long").as("cents")),
      base)
  }

  // ---- Durable incremental STORES as oracled query surfaces ----------
  //
  // C264-C266 (r18): the three remaining test-only foreachBatch stores
  // (C94 seen-hash corpus dedup, C121 aggregate-view partials, C143 DQ
  // rule partials) read back as batch frames and DuckDB-oracled against
  // the from-scratch recompute — the statestore_read (C263) upgrade
  // path applied to the foreachBatch family. Each surface drives the
  // SAME factored per-batch step the streaming sink executes (so the
  // query surface and the stream cannot drift), over three
  // deterministic key-ranged micro-batches PLUS a replay of the final
  // batch — the only replay the AvailableNow commit protocol produces —
  // so dynamic-overwrite idempotence is exercised on the oracled
  // surface itself, not just in StreamingSpec. The oracle hash check IS
  // the merge proof: store-merge ≡ batch recompute, bit for bit.

  /** C94's seen-hash store as an oracled query (C264): the kept-corpus
    * decision set (doc_id, content_hash, batch_id) after three
    * doc_id-keyed micro-batches + a final-batch replay. First-seen
    * batch wins, lowest doc_id within a batch — so the oracle is
    * row_number() over (hash ORDER BY doc_id % 3, doc_id) = 1. Result
    * is distinct-hash-bounded (≤ |documents|), projected to the three
    * decision columns, never the text. */
  def dedupStoreRead(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val base = java.nio.file.Files.createTempDirectory("graft_dedup_store_").toString
    val (store, out) = (s"$base/store", s"$base/out")
    Seq(0L, 1L, 2L, 2L).foreach { b =>
      dedupCorpusBatch(docs.filter(col("doc_id") % 3 === b), b, store, out)
    }
    localizeAndDelete(
      spark.read.parquet(out)
        .select(col("doc_id"), col("content_hash"),
          col("batch_id").cast("long").as("batch_id")),
      base)
  }

  /** C121's durable aggregate-view store as an oracled query (C265):
    * the published per-(user, day) view after three event_id-keyed
    * micro-batches + a final-batch replay. Splitting on event_id (not
    * user_id) spreads every (user, day) group across batches, so the
    * oracle hash check proves the associative partial MERGE, not just
    * batch disjointness. Result is (users × days)-bounded — the view's
    * own dimensionality, never the stream's. */
  def ivmStoreRead(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val base = java.nio.file.Files.createTempDirectory("graft_ivm_store_").toString
    val (store, out) = (s"$base/store", s"$base/out")
    Seq(0L, 1L, 2L, 2L).foreach { b =>
      aggViewBatch(events.filter(col("event_id") % 3 === b), b, store, out)
    }
    localizeAndDelete(
      spark.read.parquet(out).filter(col("batch_id") === 2)
        .select("user_id", "day_idx", "n_events", "sum_cents",
          "first_us", "last_us"),
      base)
  }

  /** C143's durable DQ-partials store as an oracled query (C266): the
    * cumulative per-rule report after three event_id-keyed
    * micro-batches + a final-batch replay, vs the from-scratch
    * eventDqReport recompute in DuckDB. Three rules, three rows. */
  def dqStoreRead(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val base = java.nio.file.Files.createTempDirectory("graft_dq_store_").toString
    val (store, out) = (s"$base/store", s"$base/out")
    Seq(0L, 1L, 2L, 2L).foreach { b =>
      dqMonitorBatch(events.filter(col("event_id") % 3 === b), b, store, out)
    }
    localizeAndDelete(spark.read.parquet(out), base)
  }

  /** C99's durable shingle store as an oracled query (C267): the per-doc
    * span-dup report after three doc_id-keyed micro-batches + a
    * final-batch replay of the probe-vs-durable-store step
    * ([[spanDedupBatch]]). A doc's duplicated positions are those covered
    * by a win-8 shingle already in the store — any doc of an EARLIER
    * batch, singletons included: the store keeps every distinct batch
    * shingle, which is exactly standing-corpus semantics — or shared by
    * another doc of its OWN batch; the self-exclusion +
    * dynamic-overwrite replay discipline is exercised on the oracled
    * surface itself. Each doc is reported exactly once (by its own
    * batch), so the union of report partitions is corpus-keyed — the
    * same bounded-localize license as [[dedupStoreRead]]'s keep set. */
  def spanStoreRead(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    if (docs.isEmpty)
      // degenerate empty corpus: an all-empty store has no partitions to
      // read back — answer with the probe shape's (empty) report instead
      return graft.operators.Dedup
        .spanDedupIncremental(docs.limit(0), docs.limit(0))
        .withColumn("batch_id", lit(0L))
    val base = java.nio.file.Files.createTempDirectory("graft_span_store_").toString
    val (store, out) = (s"$base/store", s"$base/out")
    Seq(0L, 1L, 2L, 2L).foreach { b =>
      spanDedupBatch(docs.filter(col("doc_id") % 3 === b), b, store, out)
    }
    localizeAndDelete(
      spark.read.parquet(out)
        .select(col("doc_id"), col("n_tokens"), col("n_shingles"),
          col("n_dup_tokens"), col("dup_token_frac"),
          col("batch_id").cast("long").as("batch_id")),
      base)
  }

  /** C107's durable moment store as an oracled query (C268): the
    * cumulative per-user bot-score report after three TIME-RANGE
    * micro-batches + a final-batch replay of [[botScoreBatch]]. Batches
    * split the stream on thirds of the global [min, max] event-time
    * span (two scalar bounds — the one driver read, a bounded license),
    * so per-user event-time order holds across batches and the
    * bridging-gap merge must reproduce the batch operator BIT-exactly:
    * the oracle is bot_score's own SQL, which is the point —
    * store-merge ≡ batch recompute, gap for gap. Events sharing a
    * timestamp land in one batch by construction (the bucket is a pure
    * function of us), so no boundary tie can reorder a user's
    * sequence. Result is user-bounded. */
  def botScoreStoreRead(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val bounds = events
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
    if (bounds.isNullAt(0))
      // degenerate empty stream: no gaps, empty report — skip the store
      // path entirely (an all-empty store has no partitions to read)
      return graft.operators.Sessionize.botScoreFromMoments(
        spark.range(0).select(col("id").as("user_id"),
          col("id").as("n_gaps"), col("id").as("s"), col("id").as("ss")))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = hi - lo + 1 // (us-lo)*3 div span ∈ [0, 2] with no clamp
    val base = java.nio.file.Files.createTempDirectory("graft_bot_store_").toString
    val (store, out) = (s"$base/store", s"$base/out")
    val bucket = expr(s"((unix_micros(ts) - ${lo}L) * 3) div ${span}L")
    Seq(0L, 1L, 2L, 2L).foreach { b =>
      botScoreBatch(events.filter(bucket === b), b, store, out)
    }
    localizeAndDelete(
      spark.read.parquet(out).filter(col("batch_id") === 2)
        .select("user_id", "n_gaps", "mean_gap_s", "cv_gap", "is_regular"),
      base)
  }
}

/** The [[Events.runningUserActivityTws]] processor: one ValueState record
  * per user, updated per micro-batch — the minimal but complete
  * StatefulProcessor lifecycle (init acquires the typed handle,
  * handleInputRows folds the batch's rows into state and emits the
  * running record). Top-level class: processor instances serialize to
  * the executors with the query. */
class RunningActivityProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), Events.UserActivity] {
  @transient private var state:
    org.apache.spark.sql.streaming.ValueState[Events.UserActivity] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[Events.UserActivity]("activity",
      org.apache.spark.sql.Encoders.product[Events.UserActivity],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      user: Long, rows: Iterator[(Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
  : Iterator[Events.UserActivity] = {
    val prev =
      if (state.exists()) state.get()
      else Events.UserActivity(user, 0L, 0L)
    var n = prev.nEvents
    var cents = prev.sumValueCents
    rows.foreach { case (_, v) =>
      n += 1
      // HALF_UP away from zero, matching the batch side's
      // functions.round (java Math.round would differ at -x.5)
      cents += BigDecimal(v * 100)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val next = Events.UserActivity(user, n, cents)
    state.update(next)
    Iterator.single(next)
  }
}

/** The [[Events.completedSessionsTws]] processor: ValueState for the open
  * session, an event-time timer per key for the gap horizon. Extending a
  * session deletes the superseded timer before registering the new one —
  * the timer-hygiene discipline that keeps exactly one live horizon per
  * key regardless of how many batches extend the session. */
class SessionizeTwsProcessor(gapMinutes: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), Events.SessionSummary] {
  private val gapUs = gapMinutes.toLong * 60L * 1000000L
  private val gapMs = gapMinutes.toLong * 60L * 1000L
  @transient private var open:
    org.apache.spark.sql.streaming.ValueState[Events.OpenSession] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    open = getHandle.getValueState[Events.OpenSession]("open",
      org.apache.spark.sql.Encoders.product[Events.OpenSession],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  private def horizonMs(s: Events.OpenSession): Long = s.endUs / 1000L + gapMs

  override def handleInputRows(
      user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
  : Iterator[Events.SessionSummary] = {
    val closed = scala.collection.mutable.ArrayBuffer.empty[Events.SessionSummary]
    var cur = if (open.exists()) Some(open.get()) else None
    val staleTimer = cur.map(horizonMs)
    rows.map { case (_, ts) => ts.getTime * 1000L }.toSeq.sorted.foreach { us =>
      cur match {
        case Some(s) if us - s.endUs <= gapUs =>
          cur = Some(Events.OpenSession(s.startUs, math.max(s.endUs, us), s.n + 1))
        case Some(s) =>
          closed += Events.SessionSummary(user, s.startUs, s.endUs, s.n)
          cur = Some(Events.OpenSession(us, us, 1L))
        case None =>
          cur = Some(Events.OpenSession(us, us, 1L))
      }
    }
    cur.foreach { s =>
      open.update(s)
      staleTimer.filter(_ != horizonMs(s)).foreach(getHandle.deleteTimer)
      getHandle.registerTimer(horizonMs(s))
    }
    closed.iterator
  }

  override def handleExpiredTimer(
      user: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
  : Iterator[Events.SessionSummary] = {
    if (open.exists()) {
      val s = open.get()
      // only the CURRENT horizon closes the session; an already-deleted
      // timer cannot reach here, but a belt against engine replay
      if (expiredTimerInfo.getExpiryTimeInMs() >= horizonMs(s)) {
        open.clear()
        Iterator.single(Events.SessionSummary(user, s.startUs, s.endUs, s.n))
      } else Iterator.empty
    } else Iterator.empty
  }
}
