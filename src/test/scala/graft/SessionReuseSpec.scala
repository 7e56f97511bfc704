package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Compiled code is reused across calls: the session factory sizes the
  * JVM-wide codegen cache for a multi-query pass and keeps codegen stage
  * ids out of generated class names, and the events queries read through
  * one memoized child session instead of a fresh one per call (each new
  * session brings its own class loader, which is part of the codegen
  * cache key). */
class SessionReuseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The benchmark's query mix: text, TF-IDF, curation, ANN, k-means,
    * TPC-H and the events sessionizer. */
  private val mix = Seq("clean_text", "tfidf", "curation_pipeline", "ann_topk",
    "kmeans_lloyd", "tpch_q3", "events_sessionize")

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the third round of the query mix compiles no class") {
    assumeTestdata(sf)
    val rounds = (1 to 3).map { _ =>
      mix.map { q =>
        val c0 = compiled()
        SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
        CacheTracker.drainAll(spark)
        q -> (compiled() - c0)
      }.toMap
    }
    val perRound = rounds.zipWithIndex.map { case (r, i) =>
      s"round ${i + 1}: " + mix.map(q => s"$q ${r(q)}").mkString(", ") }
    info(perRound.mkString("\n"))
    assert(rounds.last.values.sum === 0L, perRound.mkString("; "))
  }

  test("events queries share one child session and leave the caller's conf alone") {
    assumeTestdata(sf)
    val caller = spark.newSession()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val a = SparkEntry.queries("events_sessionize")(caller, sf)
    val b = SparkEntry.queries("events_sessionize")(caller, sf)
    assert(a.sparkSession eq b.sparkSession)
    assert(!(a.sparkSession eq caller))
    assert(a.sparkSession.conf.get(nanos) === "true")
    assert(caller.conf.getOption(nanos).forall(_ == "false"))
    assert(a.count() === b.count())
    // a different parent gets its own child
    assert(!(SparkEntry.nanosSession(spark) eq a.sparkSession))
  }

  test("the memoized child does not keep its parent session alive") {
    var parent = spark.newSession()
    SparkEntry.nanosSession(parent)
    val ref = new java.lang.ref.WeakReference(parent)
    parent = null
    var tries = 0
    while (ref.get() != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get() === null)
  }
}
