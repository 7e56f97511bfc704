package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: one warmup pass (JIT + codegen + catalog caches), one
  * measured pass over every SparkEntry query. Prints one JSON line. */
object Bench {

  /** Force FULL evaluation. A bare .count() lets Catalyst prune every
    * unused column, so narrow per-row queries (clean_text, quality_score,
    * ...) would benchmark as parquet row counts with the regex/hash work
    * optimized away. The noop sink consumes every output column without
    * writing anywhere. */
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Sum of all collectors' accumulated stop-the-world time. Deltas around
    * a timed query attribute GC pauses to it — the diagnostic that separates
    * a genuinely slow plan from an environment/wake effect (a 42.8 s reading
    * whose gc_ms delta is tiny and unrepeatable is wake, not plan). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  // ---- pass-weather instrumentation (r18) -----------------------------
  // The r16 and r17 official passes both carried an alphabetically
  // CONTIGUOUS block of queries reading 2.5-21x their own same-run solo
  // medians with gc~0 and spill=0 — an interference window, not plan
  // regressions. These /proc probes make the window attributable from
  // the artifact alone: a query whose wall time far exceeds its JVM CPU
  // delta while its disk reads are small was starved by something
  // OUTSIDE this JVM (co-running load, page-cache eviction visible as a
  // Cached: drop), not by its plan. All return -1 where /proc is absent.

  /** This JVM's user+system CPU, ms, from /proc/self/stat fields 14+15
    * (parsed after the last ')' — comm may contain spaces). Linux
    * USER_HZ is 100 on every mainstream kernel config; the constant is
    * fine for the ratio diagnostics this feeds. */
  private def cpuMs(): Long =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong + f(12).toLong) * 1000L / 100L
    } catch { case _: Throwable => -1L }

  /** (read_bytes, write_bytes) this JVM has caused to storage — actual
    * disk traffic, not cache hits — from /proc/self/io. */
  private def diskIo(): (Long, Long) =
    try {
      val m = scala.io.Source.fromFile("/proc/self/io").getLines()
        .map(_.split(":\\s+")).collect { case Array(k, v) => k -> v.toLong }
        .toMap
      (m.getOrElse("read_bytes", -1L), m.getOrElse("write_bytes", -1L))
    } catch { case _: Throwable => (-1L, -1L) }

  /** Machine-wide page-cache size, kB, from /proc/meminfo — a large
    * NEGATIVE delta across one query means the cache was evicted under
    * it (the leading suspect for a contiguous slow window whose members
    * show gc 0 / spill 0 / low own-CPU). */
  private def cachedKb(): Long =
    try scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("Cached:"))
      .map(_.trim.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  /** Generated classes compiled in this JVM so far, by the driver and (in
    * local mode) by executor tasks. The delta around a timed query counts
    * the classes it compiled instead of finding in the codegen cache: 0
    * for a warm query whose classes are still cached. */
  private def compiledClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Poll `counter` until it holds still for two consecutive 10 ms reads
    * (max 200 ms): a cheap stand-in for LiveListenerBus.waitUntilEmpty,
    * which is private[spark]. */
  private def settle(counter: () => Long): Unit = {
    var prev = counter(); var stable = 0; var iters = 0
    while (stable < 2 && iters < 20) {
      Thread.sleep(10)
      val c = counter()
      if (c == prev) stable += 1 else { stable = 0; prev = c }
      iters += 1
    }
  }

  /** Accumulates shuffle/aggregation spill bytes across all tasks; deltas
    * around a timed query show whether its partitions fit in memory. Also
    * counts jobs, so a timed reading is attributable from the artifact
    * (a 75 s query with 60 jobs is an iterative chain paying per-job
    * latency; one with 3 jobs is a slow plan). */
  private final class SpillListener extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) bytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
  }

  /** JVM warm-in before the FIRST timed slot: position 1 otherwise runs
    * on a cold JVM whose C2 tiers haven't compiled the scan/shuffle/agg
    * hot paths the rest of the pass enjoys — the r16/r17 artifacts both
    * show whichever query sorted first reading ~5× its own solo median
    * with gc 0 / spill 0 / identical jobs. NEUTRAL workload, not the
    * first timed query (the r17 warm-in ran slot 1 itself three extra
    * times, giving it query-specific profile-guided warmup no other slot
    * got — the r18 ADVICE item): a tiny-dimension parquet scan plus a
    * synthetic range join/agg/sort/regex exercises the shared execution
    * infrastructure while reading nothing any timed query is graded on. */
  private def warmNeutral(spark: SparkSession, sfDir: String): Unit = {
    try force(spark.read.parquet(s"$sfDir/nation.parquet")
      .withColumn("t", upper(regexp_replace(col("n_name"), "[aeiou]", "_"))))
    catch { case _: Throwable => () }
    val a = spark.range(2000000L).select(col("id"),
      (col("id") % 1000).as("k"),
      concat(lit("w"), (col("id") % 97).cast("string")).as("s"))
    val b = spark.range(1000L).select(col("id").as("k"), (col("id") * 2).as("v"))
    try force(a.join(b, "k").groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), countDistinct("s").as("ns"))
      .orderBy(desc("n"), col("k")))
    catch { case _: Throwable => () }
  }

  private final case class QRes(name: String, sec: Double, gcMs: Long,
    spill: Long, jobs: Long, buildMs: Long, wallStart: Double, cpuMs: Long,
    readBytes: Long, writeBytes: Long, cachedDeltaKb: Long, compiled: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", Some(cpus))
    // ERROR, not WARN: WindowExec/other WARNs interleave with (and in the
    // worst case split) the one-line JSON contract the driver tails for.
    spark.sparkContext.setLogLevel("ERROR")
    // optional args subset the benched queries (dev loop, same as Verify)
    val subset = args.toSet
    val unknown = subset.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .sortBy(_._1)
    // Warm immediately before timing, per query: a single warm-all pass
    // followed by a time-all pass lets 80+ intervening queries churn the
    // JIT/codegen caches, so the timed run re-pays compilation (round-4
    // numbers showed 2-5x inflation on exactly the queries farthest from
    // their warmup). Steady-state is warm-then-time back to back.
    val spill = new SpillListener
    spark.sparkContext.addSparkListener(spill)
    (1 to 3).foreach { _ => warmNeutral(spark, sfDir); CacheTracker.drainAll(spark) }
    val passT0 = System.nanoTime()
    val results = ordered.map { case (name, fn) =>
      try force(fn(spark, sfDir)) catch { case _: Throwable => () }
      CacheTracker.drainAll(spark)
      // listener delivery is async and the bus is private[spark]: settle
      // the spill counter (poll until stable) so the warmup's task-end
      // events don't bleed into the timed delta. Outside t0, so per-query
      // timings are unaffected.
      settle(() => spill.bytes.get())
      val (gc0, sp0, jb0) = (gcMillis(), spill.bytes.get(), spill.jobs.get())
      val (cpu0, (rd0, wr0), ca0) = (cpuMs(), diskIo(), cachedKb())
      val cg0 = compiledClasses()
      val t0 = System.nanoTime()
      val wallStart = (t0 - passT0) / 1e9
      // build (plan construction + analysis + any operator-eager stats
      // jobs) timed separately from execution, so an inflated official
      // reading is attributable to one or the other from the artifact
      var tBuild = t0
      val ok = try {
        val df = fn(spark, sfDir)
        tBuild = System.nanoTime()
        force(df); true
      } catch { case _: Throwable => false }
      // a crashed query reports -1, never a fake timing
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val compiled = compiledClasses() - cg0
      settle(() => spill.bytes.get())
      CacheTracker.drainAll(spark) // release AFTER the timing: unpersist is bookkeeping, not query work
      val (cpu1, (rd1, wr1), ca1) = (cpuMs(), diskIo(), cachedKb())
      QRes(name, dt, gcMillis() - gc0, spill.bytes.get() - sp0,
        spill.jobs.get() - jb0, (tBuild - t0) / 1000000L,
        math.round(wallStart * 1000) / 1000.0,
        if (cpu0 >= 0 && cpu1 >= 0) cpu1 - cpu0 else -1L,
        if (rd0 >= 0 && rd1 >= 0) rd1 - rd0 else -1L,
        if (wr0 >= 0 && wr1 >= 0) wr1 - wr0 else -1L,
        if (ca0 >= 0 && ca1 >= 0) ca1 - ca0 else 0L,
        compiled)
    }
    val timings = results.map(r => r.name -> r.sec)
    // total covers successful queries only; failures stay visible as -1
    val total = timings.map(_._2).filter(_ >= 0).sum
    // Self-adjudication for official-pass outliers: re-time solo (×3,
    // median) AFTER the full pass, in the same JVM, every query that is
    // either among the 15 slowest OR >2.5× the pass median — the r15
    // discount_elasticity lesson: a 8.9 s reading on a 0.8 s plan sat
    // outside the top-15 net and consumed a verdict cycle that this wider
    // net would have self-adjudicated. An official reading far above its
    // own same-run solo median is thereby attributable to pass-level
    // effects (arrival order, cache residency, listener backlog) from the
    // artifact alone. Skipped for subset (dev A/B) runs, which ARE solo.
    val okResults = results.filter(_.sec >= 0)
    val passMedian =
      if (okResults.isEmpty) 0.0
      else okResults.map(_.sec).sorted.apply(okResults.size / 2)
    val soloSet: Seq[QRes] = {
      val top15 = okResults.sortBy(-_.sec).take(15)
      val outliers = okResults.filter(_.sec > 2.5 * passMedian)
      (top15 ++ outliers).distinctBy(_.name)
    }
    val soloMedians: Seq[(String, Double)] =
      if (subset.nonEmpty) Seq.empty
      else soloSet.map { r =>
        val fn = SparkEntry.queries(r.name)
        val ts = (1 to 3).map { _ =>
          CacheTracker.drainAll(spark)
          settle(() => spill.bytes.get())
          val t0 = System.nanoTime()
          val ok = try { force(fn(spark, sfDir)); true }
                   catch { case _: Throwable => false }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }.sorted
        r.name -> ts(1)
      }
    // Self-GRADING headline (r18, verdict lead task): the raw in-pass sum
    // stays `value` for continuity, but the artifact now also carries
    //   steady_total          = Σ min(in-pass, same-run solo median)
    //   unadjudicated_outliers = in-pass readings >2.5× the pass median
    //                            with NO valid solo median to adjudicate
    //                            them (solo crashed, or subset run)
    // so the graded number no longer needs manual adjudication when the
    // pass hits an interference window: steady_total IS the adjudicated
    // sum, and an empty unadjudicated list certifies nothing escaped the
    // solo net.
    val soloMap = soloMedians.toMap
    val steadyTotal = okResults.map(r =>
      soloMap.get(r.name).filter(_ >= 0).fold(r.sec)(s => math.min(r.sec, s))).sum
    val unadjudicated =
      if (subset.nonEmpty) Seq.empty[String]
      else okResults
        .filter(r => r.sec > 2.5 * passMedian && !soloMap.get(r.name).exists(_ >= 0))
        .map(_.name).sorted
    // The full 190-query map is ~3.3 KB — longer than the tail window the
    // driver keeps, so a single fat line arrives truncated and unparseable
    // (rounds 2-7 all recorded parsed=null). Full map goes to a file; the
    // stdout line stays under ~1.5 KB with a family-covering headline set.
    // gc_ms / spill_bytes per query: wake effects (GC storms, eviction
    // churn) are diagnosable from the artifact instead of re-runs.
    // wall_start / cpu_ms / disk_*_bytes / cached_delta_kb per query: an
    // interference window is identifiable from the artifact (wall >> own
    // CPU with small reads = starved by outside load; Cached: drop =
    // page-cache eviction) instead of consuming a verdict cycle.
    // codegen_classes per query: classes compiled during the timed call,
    // so a query that misses the codegen cache on every call shows up.
    // Harden the artifact write: a pass pointed at a fresh directory must
    // not run 47 minutes and then throw away every measurement because
    // the parent dir does not exist (reproduced in r18; ADVICE item).
    val outPath =
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
    Option(outPath.toAbsolutePath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(
      outPath,
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(timings)},""" +
        s""""steady_total":${math.round(steadyTotal * 1000) / 1000.0},""" +
        s""""unadjudicated_outliers":${jarr(unadjudicated)},""" +
        s""""gc_ms":${jlong(results.map(r => r.name -> r.gcMs))},""" +
        s""""spill_bytes":${jlong(results.map(r => r.name -> r.spill))},""" +
        s""""jobs":${jlong(results.map(r => r.name -> r.jobs))},""" +
        s""""build_ms":${jlong(results.map(r => r.name -> r.buildMs))},""" +
        s""""wall_start":${jmap(results.map(r => r.name -> r.wallStart))},""" +
        s""""cpu_ms":${jlong(results.map(r => r.name -> r.cpuMs))},""" +
        s""""disk_read_bytes":${jlong(results.map(r => r.name -> r.readBytes))},""" +
        s""""disk_write_bytes":${jlong(results.map(r => r.name -> r.writeBytes))},""" +
        s""""cached_delta_kb":${jlong(results.map(r => r.name -> r.cachedDeltaKb))},""" +
        s""""codegen_classes":${jlong(results.map(r => r.name -> r.compiled))},""" +
        s""""solo_median":${jmap(soloMedians)},"sf":"$sfDir"}""")
    // subset runs (dev A/B) show exactly what was asked for
    val head = if (subset.nonEmpty) jmap(timings)
      else jmap(timings.filter(r => headline(r._1)))
    // Stop Spark FIRST so its shutdown logging cannot land after (or inside)
    // the JSON line; the headline is the final thing this JVM prints. A
    // stop() that throws (executor shutdown races happen) must not eat the
    // contract line — that is the rounds-2-7 parsed=null failure again.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"spark.stop failed: $e") }
    println(headlineLine(total, steadyTotal, unadjudicated.size,
      results.size, head, sfDir))
    System.out.flush()
  }

  private[graft] def jmap(rs: Seq[(String, Double)]): String = rs
    .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
    .mkString("{", ",", "}")

  private[graft] def jlong(rs: Seq[(String, Long)]): String = rs
    .map { case (k, v) => "\"" + k + "\":" + v }
    .mkString("{", ",", "}")

  private[graft] def jarr(ss: Seq[String]): String =
    ss.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The queries whose timings ride on the one-line stdout contract —
    * one or two per operator family. Grow this set only with an eye on
    * [[headlineLine]]'s budget (BenchContractSpec pins it). */
  private[graft] val headline = Set(
    "lineitem_agg", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q18", "tpch_q21",
    "orders_join", "asof_join", "range_join", "events_window",
    "events_sessionize", "events_rolling", "clean_text", "tfidf", "bm25",
    "token_pmi", "token_pagerank", "dedup_exact", "minhash_lsh",
    "dedup_components", "semantic_dedup", "paragraph_dedup", "span_dedup",
    "ann_topk",
    "ann_ivf", "ann_recall", "kmeans_lloyd", "random_projection",
    "embed_centroids", "quality_score", "gopher_filter", "curation_pipeline",
    "sequence_pack", "contamination_check", "doc_similarity_pruned",
    "nb_scratch", "svm_predictions", "ngram_novelty", "source_overlap")

  /** The driver-parsed stdout line. Contract (BenchContractSpec): valid
    * JSON, and comfortably under the ~2 KB tail window the driver keeps
    * even at worst-case timing widths. `value` stays the raw in-pass sum
    * (cross-round continuity); `steady_total` is the self-adjudicated
    * sum and `n_unadjudicated` certifies its coverage (0 = every outlier
    * had a valid same-run solo median). */
  private[graft] def headlineLine(total: Double, steadyTotal: Double,
                                  nUnadjudicated: Int, nQueries: Int,
                                  queriesJson: String, sfDir: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","steady_total":${math.round(steadyTotal * 1000) / 1000.0},"n_unadjudicated":$nUnadjudicated,"n_queries":$nQueries,"queries":$queriesJson,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
}
