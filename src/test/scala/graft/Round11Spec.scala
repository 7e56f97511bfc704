package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Relational, TextOps}

/** Planted-fixture specs for the round-11 operator batch (B130, B131,
  * C92, C93, C95). Each op also has a DuckDB oracle; these pin the
  * SEMANTICS on constructed inputs where the interesting case is easy
  * to see.
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  test("templateDocs groups docs by token-length skeleton, not content") {
    val d = Seq(
      (1L, "aaa bb cccc"),   // skeleton 3,2,4
      (2L, "xxx yy zzzz"),   // same skeleton, different words
      (3L, "aaa bb"),        // different skeleton
      (4L, "q")              // singleton
    ).toDF("doc_id", "text")
    val byId = TextOps.templateDocs(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byId(1L)._1 === byId(2L)._1, "same skeleton => same template id")
    assert(byId(1L)._2 === 2L)
    assert(byId(3L)._1 !== byId(1L)._1)
    assert(byId(3L)._2 === 1L && byId(4L)._2 === 1L)
  }

  test("containmentPairs finds subset duplication that Jaccard misses") {
    // doc 1 is CONTAINED in doc 2 (a long page quoting it); the shared
    // block is 'source'. Jaccard = |A|/|B| is small, containment_ab = 1.
    val contained = "alpha beta gamma delta epsilon zeta"
    // fillers must stay distinct AFTER cleanText (digits are stripped)
    val fillers = (0 until 40).map(i =>
      s"f${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val page = contained + " " + fillers.mkString(" ")
    val d = Seq(
      (1L, contained, "s1"), (2L, page, "s1"),
      (3L, "totally unrelated words here now", "s1"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.containmentPairs(d, minContainment = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length === 1)
    val (a, b, cab, cba) = out.head
    assert((a, b) === (1L, 2L))
    assert(cab === 1.0, s"every shingle of the contained doc is in the page: $cab")
    assert(cba < 0.5, "the page is mostly NOT the contained doc")
    // and the Jaccard op at the same floor sees nothing
    assert(Dedup.ngramJaccard(d, simMin = 0.5).count() === 0)
  }

  test("basketPairs counts co-occurrence once per order and conserves metrics") {
    // orders: {1,2} x3, {1,3} x1 -> pair (1,2) n_ab=3, (1,3) n_ab=1
    val li = Seq(
      (100L, 1L), (100L, 2L), (101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L),
      (102L, 2L), // duplicate line within the order must not double-count
      (103L, 1L), (103L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val out = Relational.basketPairs(li, minPairCount = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out((1L, 2L))._1 === 3L)
    assert(out((1L, 3L))._1 === 1L)
    // conf(1->2) = 3/4 (part 1 in 4 orders); lift = 3*4/(4*3) = 1.0
    assert(out((1L, 2L))._2 === 0.75)
    assert(out((1L, 2L))._3 === 1.0)
  }

  test("ksSourceDrift: identical length profiles score 0, shifted ones score high") {
    val d = (
      (1 to 50).map(i => (i.toLong, "s1", 120L)) ++          // all short
      (51 to 100).map(i => (i.toLong, "s2", 120L)) ++        // identical profile
      (101 to 150).map(i => (i.toLong, "s3", 5000L))         // all long
    ).toDF("doc_id", "source", "n_chars")
    val out = TextOps.ksSourceDrift(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("s1", "s2")) === 0.0, "identical distributions have D = 0")
    assert(out(("s1", "s3")) === 1.0, "disjoint supports have D = 1")
    assert(out(("s2", "s3")) === 1.0)
  }

  test("eventsGapFill densifies hours and carries the last observed value") {
    val e = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:15:00"), 2.0),
      // hours 11 and 12 are silent -> gap rows carrying hour-10's cents
      (1L, java.sql.Timestamp.valueOf("2024-03-01 13:30:00"), 5.0))
      .toDF("user_id", "ts", "value")
    val out = Relational.eventsGapFill(e).orderBy("h").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 4, "hours 10..13 inclusive")
    assert(out(0) === ((1L, 200L, 0L)), "observed hour")
    assert(out(1) === ((0L, 200L, 1L)), "gap carries forward")
    assert(out(2) === ((0L, 200L, 1L)))
    assert(out(3) === ((1L, 500L, 0L)), "new observation replaces the carry")
  }

  test("qualityQuantileNorm maps ranks to (0,1) uniformly") {
    assumeTestdata()
    val out = SparkEntry.queries("quality_quantile_norm")(spark, "/root/testdata/sf0.001")
      .orderBy("q_uniform").collect().map(_.getDouble(2))
    assert(out.head > 0.0 && out.last < 1.0)
    assert(out.toSeq === out.sorted.toSeq)
    assert(out.distinct.length === out.length, "total order -> all quantiles distinct")
  }

  test("cohortLtv: curves are monotone and normalized by the full cohort") {
    assumeTestdata()
    val out = SparkEntry.queries("cohort_ltv")(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { rows =>
      val byAge = rows.sortBy(_._2)
      assert(byAge.map(_._5).toSeq === byAge.map(_._5).sorted.toSeq,
        "cumulative cents never decrease with age")
      assert(rows.forall(r => r._4 <= r._3), "active customers never exceed cohort size")
      assert(byAge.head._2 === 0L && byAge.head._4 > 0,
        "age 0 exists and is active (the cohort is DEFINED by first purchase)")
    }
  }

  test("attribution conserves purchase cents exactly across buckets") {
    assumeTestdata()
    val dir = "/root/testdata/sf0.001"
    val total = SparkEntry.queries("attribution_last_touch")(spark, dir)
      .agg(sum("attributed_cents")).head.getLong(0)
    val expected = SparkEntry.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)"))).head.getLong(0)
    assert(total === expected, "last-touch attributes every purchase exactly once")
    // linear attribution conserves cents over the attributed subset:
    // every touched purchase's cents split+remainder sums back exactly -
    // compare against the range-join's own purchase set
    val linear = SparkEntry.queries("attribution_linear")(spark, dir)
      .agg(sum("attributed_cents")).head.getLong(0)
    assert(linear <= expected)
    assert(linear > 0)
  }
}
