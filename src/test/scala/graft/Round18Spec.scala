package graft

import org.apache.spark.sql.functions._

/** Round 18: the three foreachBatch durable stores (C94/C121/C143)
  * upgraded to oracled query surfaces (C264–C266), plus the temp-dir
  * hygiene contract the upgrade rides on — every store-backed query
  * surface materializes its bounded result and deletes its spill
  * eagerly, so multi-hundred-query passes no longer accumulate tmp
  * copies (the r17 ADVICE leak). */
class Round18Spec extends SparkSpec {

  private def tmpEntries(prefix: String): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(prefix)).toSet
  }

  test("dedupStoreRead: store merge == first-seen-batch-wins recompute, spill deleted") {
    assumeTestdata()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = tmpEntries("graft_dedup_store_")
    val got = streaming.Events.dedupStoreRead(docs)
      .orderBy("content_hash").collect()
    assert(tmpEntries("graft_dedup_store_") == before,
      "dedupStoreRead left its temp store behind")
    // recompute: hash per doc, keep the row with min (doc_id % 3, doc_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("batch_id"), col("doc_id"))
    val want = docs
      .withColumn("content_hash", md5(operators.TextOps.cleanText(col("text"))))
      .withColumn("batch_id", (col("doc_id") % 3).cast("long"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("doc_id", "content_hash", "batch_id")
      .orderBy("content_hash").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("ivmStoreRead: published view == from-scratch recompute, spill deleted") {
    assumeTestdata()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val norm = SparkEntry.normalizeEventTs(events)
    val before = tmpEntries("graft_ivm_store_")
    val got = streaming.Events.ivmStoreRead(norm)
      .orderBy("user_id", "day_idx").collect()
    assert(tmpEntries("graft_ivm_store_") == before,
      "ivmStoreRead left its temp store behind")
    val want = norm
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id", "day_idx")
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .orderBy("user_id", "day_idx").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("dqStoreRead: cumulative report == batch eventDqReport, spill deleted") {
    assumeTestdata()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val norm = SparkEntry.normalizeEventTs(events)
    val before = tmpEntries("graft_dq_store_")
    val got = streaming.Events.dqStoreRead(norm).orderBy("rule").collect()
    assert(tmpEntries("graft_dq_store_") == before,
      "dqStoreRead left its temp store behind")
    val want = operators.Relational.eventDqReport(norm).orderBy("rule").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("spanStoreRead: store-probe reports == per-batch incremental probe " +
    "vs the earlier batches' corpus, spill deleted") {
    assumeTestdata()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = tmpEntries("graft_span_store_")
    val got = streaming.Events.spanStoreRead(docs).orderBy("doc_id").collect()
    assert(tmpEntries("graft_span_store_") == before,
      "spanStoreRead left its temp store behind")
    // the durable-store path must equal the BATCH incremental probe run
    // per micro-batch: newDocs = batch b, standing corpus = batches < b
    // (the store keeps every distinct batch shingle, singletons included)
    val want = Seq(0, 1, 2).map { b =>
      operators.Dedup.spanDedupIncremental(
        docs.filter(col("doc_id") % 3 === b),
        docs.filter(col("doc_id") % 3 < b))
        .withColumn("batch_id", lit(b.toLong))
    }.reduce(_ unionByName _).orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("botScoreStoreRead: time-range batched moment merge == batch operator, " +
    "spill deleted") {
    assumeTestdata()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val norm = SparkEntry.normalizeEventTs(events)
    val before = tmpEntries("graft_bot_store_")
    val got = streaming.Events.botScoreStoreRead(norm)
      .orderBy("user_id").collect()
    assert(tmpEntries("graft_bot_store_") == before,
      "botScoreStoreRead left its temp store behind")
    val want = operators.Sessionize.botScore(norm).orderBy("user_id").collect()
    assert(got.toSeq == want.toSeq)
    // degenerate empty stream short-circuits the store path entirely
    assert(streaming.Events.botScoreStoreRead(norm.limit(0)).count() === 0)
  }

  test("stateStoreRead deletes its src+checkpoint spill eagerly") {
    assumeTestdata()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val norm = SparkEntry.normalizeEventTs(events)
    val before = tmpEntries("graft_ss_query_")
    val n = streaming.Events.stateStoreRead(norm).count()
    assert(n > 0)
    assert(tmpEntries("graft_ss_query_") == before,
      "stateStoreRead left its temp spill behind")
  }

  test("tokenBudgetSelect/Density: greedy prefix equals the brute-force " +
    "selection and never exceeds the budget") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs on", "en", "web", 50L),
      (2L, "a b", "en", "web", 3L),
      (3L, "the of and to in it is a an or the of and to in", "en", "web", 40L),
      (4L, "", "en", "web", 0L),
      (5L, "zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz", "en", "web", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for ((op, orderCol) <- Seq[((org.apache.spark.sql.DataFrame, Long) =>
        org.apache.spark.sql.DataFrame, String)](
      ((d, b) => operators.TextOps.tokenBudgetSelect(d, b), "quality"),
      ((d, b) => operators.TextOps.tokenBudgetDensity(d, b), "density"))) {
      val got = op(docs, 20L).orderBy("sel_rank")
        .select("doc_id", "n_tokens", "cum_tokens").as[(Long, Long, Long)]
        .collect()
      // budget respected, cumsum monotone and self-consistent
      assert(got.forall(_._3 <= 20L))
      assert(got.map(_._2).scanLeft(0L)(_ + _).tail.sameElements(got.map(_._3)),
        s"cum_tokens must be the running sum of n_tokens in $orderCol order")
      // the kept set is a PREFIX: adding the next-ranked doc must bust
      // the budget (verified by re-running with a budget one token lower
      // selecting a strictly smaller or equal set)
      val fewer = op(docs, got.last._3 - 1).count()
      assert(fewer < got.length)
    }
  }

  test("sketch tables delete their temp stores eagerly") {
    assumeTestdata()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = Seq("graft_sketch_cms_", "graft_sketch_hll_", "graft_sketch_bloom_")
      .map(tmpEntries)
    assert(streaming.Events.sketchCmsTable(docs).count() > 0)
    assert(streaming.Events.sketchHllTable(docs).count() > 0)
    assert(streaming.Events.sketchBloomTable(docs).count() > 0)
    val after = Seq("graft_sketch_cms_", "graft_sketch_hll_", "graft_sketch_bloom_")
      .map(tmpEntries)
    assert(after == before, "a sketch table left its temp store behind")
  }

  test("a store read whose batches fail still deletes its temp store") {
    val noText = spark.range(6).toDF("doc_id")
    val before = tmpEntries("graft_dedup_store_")
    intercept[org.apache.spark.sql.AnalysisException](streaming.Events.dedupStoreRead(noText))
    assert(tmpEntries("graft_dedup_store_") == before,
      "a failed dedupStoreRead left its temp store behind")
  }
}
