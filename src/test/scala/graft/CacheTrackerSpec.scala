package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CacheTracker's contract: [[CacheTracker.cache]] and [[CacheTracker.pin]]
  * record into a scope owned by the calling thread, and
  * [[CacheTracker.drainAll]] frees exactly that scope — every block the
  * thread's query made, and no block it did not make. */
class CacheTrackerSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("drainAll frees this thread's cache and pin blocks") {
    CacheTracker.drainAll(spark)
    val before = persistentIds
    val cached = CacheTracker.cache(spark.range(100).toDF("id"))
    cached.count()
    val pinned = CacheTracker.pin(spark.range(100).select(col("id"), (col("id") * 2).as("x")))
    assert(pinned.count() === 100L)
    assert((persistentIds -- before).size === 2, "one cached and one pinned RDD")
    CacheTracker.drainAll(spark)
    assert((persistentIds -- before).isEmpty, "cache and pin blocks must be freed")
  }

  test("pinnedBytes reads the size of a pin's blocks, and 0 for a frame that reads none") {
    CacheTracker.drainAll(spark)
    val small = CacheTracker.pin(spark.range(1000).toDF("id"))
    val large = CacheTracker.pin(spark.range(100000).toDF("id"))
    val (s, l) = (CacheTracker.pinnedBytes(small), CacheTracker.pinnedBytes(large))
    assert(s > 0L && l > 10 * s, s"small pin $s bytes, large pin $l bytes")
    assert(CacheTracker.pinnedBytes(small.filter(col("id") > 10)) === s,
      "a frame over a pin reads that pin's blocks")
    assert(CacheTracker.pinnedBytes(spark.range(1000).toDF("id")) === 0L)
    CacheTracker.drainAll(spark)
  }

  test("drainAll after consumption leaves results usable (values already materialized)") {
    val df = CacheTracker.pin(spark.range(10).toDF("id"))
    val sum = df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
    CacheTracker.drainAll(spark)
    assert(sum === 45L)
  }

  test("cachedCount memoizes per canonicalized plan and clears on drainAll") {
    CacheTracker.drainAll(spark)
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    // listener delivery is async: poll until the counter holds still
    def settle(): Int = {
      var prev = jobs; var stable = 0; var iters = 0
      while (stable < 3 && iters < 50) {
        Thread.sleep(10)
        if (jobs == prev) stable += 1 else { stable = 0; prev = jobs }
        iters += 1
      }
      jobs
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = spark.range(1000).toDF("id").filter(col("id") % 2 === 0)
      assert(CacheTracker.cachedCount(df) === 500L)
      val after1 = settle()
      // a FRESH frame with the same canonicalized plan hits the memo: no job
      val df2 = spark.range(1000).toDF("id").filter(col("id") % 2 === 0)
      assert(CacheTracker.cachedCount(df2) === 500L)
      assert(settle() === after1, "memo hit must not run a count job")
      // the query boundary clears the memo: the count job re-runs
      CacheTracker.drainAll(spark)
      assert(CacheTracker.cachedCount(df) === 500L)
      assert(settle() > after1, "drainAll must invalidate the memo")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the memo and the frames belong to the calling thread") {
    CacheTracker.drainAll(spark)
    val df = spark.range(50).toDF("id")
    val mine = CacheTracker.cachedCheckpoint(df)
    var theirs: DataFrame = null
    val other = new Thread(() => {
      theirs = CacheTracker.cachedCheckpoint(df)
      CacheTracker.drainAll(spark)
    })
    other.start(); other.join()
    assert(!(theirs eq mine), "another thread must not be handed this thread's checkpoint")
    assert(mine.count() === 50L, "another thread's drainAll must not free this thread's pin")
    CacheTracker.drainAll(spark)
  }

  test("a frame the caller persisted survives a pinning query's drainAll") {
    assumeTestdata(sf)
    CacheTracker.drainAll(spark)
    val before = persistentIds
    val own = spark.range(1000).toDF("id").withColumn("sq", col("id") * col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      own.count()
      val ownIds = persistentIds -- before
      assert(ownIds.nonEmpty)
      SparkEntry.queries("kmeans_lloyd")(spark, sf).write.format("noop").mode("overwrite").save()
      CacheTracker.drainAll(spark)
      assert(ownIds.subsetOf(persistentIds), "drainAll freed a block graft did not create")
    } finally own.unpersist()
  }

  // one query per file that caches or pins: after its drainAll the query
  // leaves no persisted RDD behind
  Seq("kmeans_lloyd", "hits_scores", "bradley_terry", "token_bfs", "huber_trend",
      "mmr_rerank", "minhash_lsh", "embed_pq", "nb_predictions", "svm_predictions",
      "markov_stationary", "platt_scaling", "dedup_store_read").foreach { q =>
    test(s"$q leaves no persisted RDD after its drainAll") {
      assumeTestdata(sf)
      CacheTracker.drainAll(spark)
      val before = persistentIds
      val df = SparkEntry.queries(q)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      assert((persistentIds -- before).nonEmpty || q == "dedup_store_read",
        s"$q was expected to cache or pin a frame")
      CacheTracker.drainAll(spark)
      val leaked = persistentIds -- before
      assert(leaked.isEmpty, s"$q leaked RDDs $leaked")
    }
  }

  test("two queries on one session do not free each other's blocks") {
    assumeTestdata(sf)
    def solo(q: String): Seq[String] = {
      val r = rows(SparkEntry.queries(q)(spark, sf))
      CacheTracker.drainAll(spark)
      r
    }
    val wantKm = solo("kmeans_lloyd")
    val wantHits = solo("hits_scores")
    val built = new CountDownLatch(1)
    val aDone = new CountDownLatch(1)
    @volatile var gotKm: Either[Throwable, Seq[String]] = null
    @volatile var gotHits: Either[Throwable, Seq[String]] = null
    // B pins its vectors at build time, then waits for A's whole query
    val b = new Thread(() => {
      gotKm = try {
        val df = SparkEntry.queries("kmeans_lloyd")(spark, sf)
        built.countDown()
        aDone.await(5, TimeUnit.MINUTES)
        Right(rows(df))
      } catch { case e: Throwable => Left(e) }
      finally { built.countDown(); CacheTracker.drainAll(spark) }
    })
    val a = new Thread(() => {
      built.await(5, TimeUnit.MINUTES)
      gotHits = try Right(rows(SparkEntry.queries("hits_scores")(spark, sf)))
        catch { case e: Throwable => Left(e) }
        finally { CacheTracker.drainAll(spark); aDone.countDown() }
    })
    b.start(); a.start()
    a.join(); b.join()
    assert(gotHits === Right(wantHits))
    assert(gotKm === Right(wantKm))
  }

  test("a stream's foreachBatch steps leave no persisted RDD once each batch returns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_drain").toString
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    CacheTracker.drainAll(spark)
    val before = persistentIds
    // hllWindowBatch pins its merged registers on the stream's thread
    val q = streaming.Events.incrementalHllWindow(
      stream.toDF().toDF("event_id", "user_id", "ts"), s"$dir/store", s"$dir/out")
    try {
      for (b <- 0L until 3L) {
        stream.addData((0L until 20L).map { i =>
          val id = b * 20L + i
          (id, id % 7, new java.sql.Timestamp(1704067200000L + id * 3600000L))
        }: _*)
        q.processAllAvailable()
        val leaked = persistentIds -- before
        assert(leaked.isEmpty, s"batch $b left RDDs $leaked")
      }
    } finally q.stop()
  }
}
