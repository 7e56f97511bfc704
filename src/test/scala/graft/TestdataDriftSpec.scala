package graft

import org.apache.spark.sql.types.{LongType, TimestampType}

/** Schema-drift smoke guard over the DRIVER-GENERATED testdata.
  *
  * Round 10 lesson: the driver regenerated /root/testdata mid-round and
  * events.parquet's `ts` changed physical type (TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS)), which broke 27 queries at ANALYSIS time — but the
  * failures surfaced only as scattered -1.0 bench rows and missing
  * correctness entries. This spec makes that class of drift fail in
  * seconds with a named loader/query: constructing a DataFrame runs the
  * full analyzer, so building every registered query against the real
  * sf0.001 tables proves every loader still understands the data on
  * disk. Mostly analysis-only — a handful of model-fitting queries
  * (token_pagerank's edge counts, ann_ivf_kmeans*'s quantizer fits) run
  * real driver actions during CONSTRUCTION, so the sweep executes a few
  * small sf0.001 jobs and takes seconds, not milliseconds.
  */
class TestdataDriftSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every registered query analyzes against the on-disk testdata") {
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).schema; None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries no longer analyze against $sf:\n" +
        failures.take(10).mkString("\n"))
  }

  test("events loader normalizes ts to TimestampType on every SF") {
    for (dir <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      assume(new java.io.File(s"/root/testdata/$dir/events.parquet").exists())
      val df = SparkEntry.events(spark, s"/root/testdata/$dir")
      assert(df.schema("ts").dataType == TimestampType,
        s"$dir: ts is ${df.schema("ts").dataType}, want TimestampType")
    }
  }

  test("normalizeEventTs handles the long-nanos generation") {
    // synthesize the rounds-1-9 shape: ts as raw nanos-since-epoch longs
    import spark.implicits._
    val raw = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    assert(raw.schema("ts").dataType == LongType)
    val out = SparkEntry.normalizeEventTs(raw)
    assert(out.schema("ts").dataType == TimestampType)
    val micros = out.select(
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts"))).head.getLong(0)
    assert(micros == 1700000000123456L) // truncated, not rounded
  }
}
