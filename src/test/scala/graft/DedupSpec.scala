package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base + "!!!"), // same after cleaning -> exact dup
    (3L, base.replace("lazy", "sleepy")), // near dup
    (4L, "completely different text about query engines and distributed shuffles here"),
    (5L, "another unrelated document speaking of parquet columns and vectorized reads"))
    .map { case (id, t) => (id, t, "s1") }
    .toDF("doc_id", "text", "source")

  test("exact dedup groups identical normalized text") {
    val out = Dedup.exact(docs).filter(col("n_copies") > 1).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("keeper_id") === 1L)
    assert(out.head.getAs[Long]("n_copies") === 2L)
  }

  test("minhash LSH surfaces near-dup pairs, skips unrelated ones") {
    val pairs = Dedup.minhashPairs(docs, jaccardMin = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical after clean
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs have identical fingerprints; distinct docs differ") {
    val fp = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(4L))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard is 1.0 for identical, high for near-dup, absent for unrelated") {
    val out = Dedup.ngramJaccard(docs, simMin = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) === 1.0)
    assert(out.contains((1L, 3L)))
    assert(out((1L, 3L)) < 1.0)
    assert(!out.contains((1L, 4L)))
  }

  test("components: chains collapse to min id, islands stay separate") {
    // 1-2-3-4-5 is a diameter-4 chain (several propagation rounds); 8-9 island
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("a_id", "b_id")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      8L -> 8L, 9L -> 8L))
    graft.CacheTracker.drainAll(spark)
  }

  test("components: a 200-link chain converges via pointer jumping") {
    // plain propagation would need ~200 rounds; jumping needs ~log2(200)
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comp = Dedup.components(chain, maxIter = 12).as[(Long, Long)].collect()
    assert(comp.length === 200)
    assert(comp.forall(_._2 === 1L))
    graft.CacheTracker.drainAll(spark)
  }

  test("components: empty pair set yields empty result, no NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.components(empty).count() === 0)
    graft.CacheTracker.drainAll(spark)
  }

  test("no crossJoin in any dedup plan") {
    for (df <- Seq(Dedup.minhashPairs(docs), Dedup.simhashPairs(docs),
      Dedup.ngramJaccard(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(500))
    }
  }

  test("bloom-prefiltered incremental dedup equals the exact path exactly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "shared text one", "en", "s1", 15L),
      (2L, "shared text two", "en", "s1", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (10L, "shared text one", "en", "s2", 15L), // dup of corpus
      (11L, "genuinely new a", "en", "s2", 15L),
      (12L, "genuinely new a", "en", "s2", 15L), // in-batch dup
      (13L, "genuinely new b", "en", "s2", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Dedup.incremental(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = Dedup.incrementalBloom(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(exact === Set(11L, 13L))
    assert(bloomed === exact)
    // the probe really is the internal Bloom machinery, not a rewrite
    val plan = Dedup.incrementalBloom(batch, corpus)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "Bloom probe missing from the plan")
  }

  test("bloom incremental dedup: empty standing corpus keeps the whole batch") {
    // BloomFilterAggregate over zero rows yields a NULL sketch and
    // might_contain(NULL) is NULL — without the coalesce(-, false) guard
    // every first-run row fails BOTH filters and silently vanishes.
    import spark.implicits._
    val corpus = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (11L, "first run doc a", "en", "s2", 15L),
      (12L, "first run doc a", "en", "s2", 15L), // in-batch dup
      (13L, "first run doc b", "en", "s2", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Dedup.incremental(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = Dedup.incrementalBloom(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(exact === Set(11L, 13L))
    assert(bloomed === exact)
  }
}
