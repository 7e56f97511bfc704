package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Round-12b operators: preference pairs, group reward normalization,
  * topic-cluster labeling, sliding-window funnel, PIT join, CUSUM
  * change-point. */
class Round12bSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def docsDF(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("dpoPairs pairs the i-th best with the i-th worst and never overlaps") {
    val docs = docsDF(
      1L -> "the cat and the dog is in the house and it is warm",
      2L -> "the cat and dog",
      3L -> "xxxx yyyy zzzz wwww qqqq vvvv uuuu",
      4L -> "!!!! @@@@ #### $$$$ %%%%")
    // expected pairing: rank-1 = (best, worst) under (quality, doc_id)
    val byQ = TextOps.qualityScore(docs).select("doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, q) => (-q, id) }
    val out = TextOps.dpoPairs(docs, maxPairs = 5, minMargin = 0.0)
      .orderBy("pair_rank").collect()
    assert(out.length === 2, "4 docs -> floor(n/2) = 2 pairs")
    assert(out(0).getAs[Long]("chosen_doc_id") === byQ.head._1)
    assert(out(0).getAs[Long]("rejected_doc_id") === byQ.last._1)
    assert(out(1).getAs[Long]("chosen_doc_id") === byQ(1)._1)
    assert(out(1).getAs[Long]("rejected_doc_id") === byQ(2)._1)
    for (r <- out)
      assert(r.getAs[Double]("chosen_q") > r.getAs[Double]("rejected_q")
        || r.getAs[Double]("margin") === 0.0)
    // chosen and rejected sides are disjoint
    val ch = out.map(_.getAs[Long]("chosen_doc_id")).toSet
    val rj = out.map(_.getAs[Long]("rejected_doc_id")).toSet
    assert(ch.intersect(rj).isEmpty)
  }

  test("dpoPairs margin gate drops low-contrast pairs") {
    val docs = docsDF(
      1L -> "the cat and the dog is in the house and it is warm",
      2L -> "the cat and the dog is in the barn and it is cold")
    // two near-identical-quality docs: margin < 0.05 -> no pairs
    assert(TextOps.dpoPairs(docs, maxPairs = 5, minMargin = 0.05).count() === 0)
  }

  test("rewardNormalize z-scores within stratum; zero-variance emits 0") {
    val same = "the cat and the dog is in the house and it is warm"
    val docs = Seq(
      (1L, same, "en", "s1", 50L), (2L, same, "en", "s1", 50L),
      (3L, "the cat and dog", "en", "s2", 15L),
      (4L, "xxxx yyyy zzzz wwww qqqq vvvv uuuu", "en", "s2", 34L),
      (5L, "!!!! @@@@ #### $$$$ %%%%", "en", "s2", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.rewardNormalize(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("quality"), r.getAs[Double]("z_reward"))).toSeq
    // identical docs -> zero variance -> z = 0 exactly
    for ((id, _, z) <- out if id <= 2) assert(z === 0.0, s"doc $id")
    // s2: z order follows quality order, and z sums to ~0
    val s2 = out.filter(_._1 >= 3)
    assert(s2.sortBy(_._2).map(_._3) === s2.map(_._3).sorted)
    assert(math.abs(s2.map(_._3).sum) < 1e-3)
  }

  test("topicLabels emits 4-bit sign buckets with dense top-5 ranks") {
    assumeTestdata()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TfIdf.topicLabels(docs).collect()
    assert(out.nonEmpty)
    val byBucket = out.groupBy(_.getAs[String]("bucket"))
    for ((b, rows) <- byBucket) {
      assert(b.matches("[01]{4}"), s"bucket $b")
      val ranks = rows.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(ranks === (1L to ranks.length), s"ranks dense in $b")
      assert(ranks.length <= 5)
      // scores non-increasing in rank
      val byRank = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("score"))
      assert(byRank.zip(byRank.tail).forall { case (a, c) => a >= c })
    }
    graft.CacheTracker.drainAll(spark)
  }

  private def eventsDF(rows: (Long, Long, String, String, Double)*): DataFrame =
    rows.map { case (eid, uid, et, t, v) => (eid, uid, et, ts(t), v) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")

  test("windowFunnel: chain depth is boxed to the anchor's window") {
    val e = eventsDF(
      // user 1: full chain inside 6h -> level 3
      (1L, 1L, "view", "2024-01-01 00:00:00", 0.0),
      (2L, 1L, "click", "2024-01-01 01:00:00", 0.0),
      (3L, 1L, "purchase", "2024-01-01 02:00:00", 0.0),
      // user 2: click 7h after the view -> outside window -> level 1
      (4L, 2L, "view", "2024-01-01 00:00:00", 0.0),
      (5L, 2L, "click", "2024-01-01 07:00:00", 0.0),
      // user 3: purchase outside the ANCHOR window -> level 2
      (6L, 3L, "view", "2024-01-01 00:00:00", 0.0),
      (7L, 3L, "click", "2024-01-01 01:00:00", 0.0),
      (8L, 3L, "purchase", "2024-01-01 10:00:00", 0.0),
      // user 4: no view anchor -> absent
      (9L, 4L, "click", "2024-01-01 00:00:00", 0.0),
      (10L, 4L, "purchase", "2024-01-01 01:00:00", 0.0),
      // user 5: click simultaneous with the view -> strictly-after fails -> 1
      (11L, 5L, "view", "2024-01-01 00:00:00", 0.0),
      (12L, 5L, "click", "2024-01-01 00:00:00", 0.0))
    val out = Sessionize.windowFunnel(e).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("level")).toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 5L -> 1L))
  }

  test("windowFunnel takes the max level over a user's anchors") {
    val e = eventsDF(
      (1L, 1L, "view", "2024-01-01 00:00:00", 0.0), // dead anchor
      (2L, 1L, "view", "2024-01-02 00:00:00", 0.0), // converting anchor
      (3L, 1L, "click", "2024-01-02 01:00:00", 0.0),
      (4L, 1L, "purchase", "2024-01-02 02:00:00", 0.0))
    val out = Sessionize.windowFunnel(e).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("level") === 3L)
    assert(out.head.getAs[Long]("n_anchors") === 2L)
  }

  test("pitJoin attaches the state valid at the probe's instant") {
    val e = eventsDF(
      (1L, 1L, "click", "2024-01-01 00:00:00", 0.0),
      (2L, 1L, "view", "2024-01-01 02:00:00", 0.0),
      (3L, 1L, "purchase", "2024-01-01 01:00:00", 10.0), // inside click run
      (4L, 1L, "purchase", "2024-01-01 03:00:00", 10.0), // inside view run
      (5L, 1L, "purchase", "2023-12-31 00:00:00", 10.0), // before any state
      (6L, 2L, "purchase", "2024-01-01 00:00:00", 10.0)) // user w/o history
    val out = Sessionize.pitJoin(e).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("state")).toMap
    assert(out === Map(3L -> "click", 4L -> "view"))
  }

  test("pitJoin boundary: a probe exactly at valid_from joins that interval") {
    val e = eventsDF(
      (1L, 1L, "click", "2024-01-01 00:00:00", 0.0),
      (2L, 1L, "view", "2024-01-01 02:00:00", 0.0),
      (3L, 1L, "purchase", "2024-01-01 02:00:00", 10.0))
    val out = Sessionize.pitJoin(e).collect()
    assert(out.length === 1 && out.head.getAs[String]("state") === "view")
  }

  test("sftPack emits mask spans over the response tail only") {
    val docs = docsDF(
      0L -> "a b c d e f",  // 6 tokens: prompt 3, response 3
      8L -> "x y",          // 2 tokens: prompt 1, response 1 (same shard 0)
      1L -> "lonely")       // 1 token: dropped (no response possible)
    val out = TextOps.sftPack(docs, budget = 4, shards = 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(0L, 8L))
    val d0 = out(0)
    assert(d0.getAs[Long]("prompt_len") === 3L)
    assert(d0.getAs[Long]("response_len") === 3L)
    assert(d0.getAs[Long]("mask_start") === 3L)
    assert(d0.getAs[Long]("mask_end") === 6L)
    assert(d0.getAs[Long]("bin") === 0L)
    val d8 = out(1) // packs after doc 0 in shard 0: prefix 6, bin 1
    assert(d8.getAs[Long]("prefix_tokens") === 6L)
    assert(d8.getAs[Long]("bin") === 1L)
    assert(d8.getAs[Long]("mask_start") === 7L)
    assert(d8.getAs[Long]("mask_end") === 8L)
  }

  test("stupidBackoff resolves each trigram at the right backoff depth") {
    // ids 0-2 train (doc_id%4<3), id 3 test. Train trigrams of
    // "a b c a b c": (a,b,c)x2, (b,c,a), (c,a,b). Test "b a b c x":
    // (b,a,b) -> bigram (a,b) seen -> level 1; (a,b,c) -> level 0 with
    // s = c123/c12 = 2/2 = 1 -> log 0; (b,c,x) -> (c,x) unseen -> level 2
    val docs = docsDF(
      0L -> "a b c a b c", 1L -> "a b c a b c", 2L -> "a b c a b c",
      3L -> "b a b c x")
    val out = LangModel.stupidBackoff(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_id") === 3L)
    assert(r.getAs[Long]("n_trigrams") === 3L)
    assert(r.getAs[Long]("n_backoff1") === 1L)
    assert(r.getAs[Long]("n_backoff2") === 1L)
    assert(r.getAs[Double]("mean_logs") < 0.0, "backoff levels penalize")
  }

  test("botScore flags metronomic users and spares bursty ones") {
    def run(uid: Long, gapsS: Seq[Long]) = {
      val t0 = 1704067200L // 2024-01-01T00:00:00Z epoch seconds
      val times = gapsS.scanLeft(t0)(_ + _)
      times.zipWithIndex.map { case (sec, i) =>
        (uid * 100 + i, uid, "view", new Timestamp(sec * 1000L), 0.0)
      }
    }
    val e = (run(1L, Seq(60L, 60L, 60L, 60L, 60L)) ++ // 5 constant gaps
      run(2L, Seq(1L, 1000L, 3L, 2000L, 7L)) ++       // bursty
      run(3L, Seq(60L, 60L)))                         // too few gaps
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = Sessionize.botScore(e).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Double]("cv_gap"), r.getAs[Boolean]("is_regular"))).toMap
    assert(out(1L)._1 === 0.0 && out(1L)._2 === true)
    assert(out(2L)._1 > 0.3 && out(2L)._2 === false)
    assert(out(3L)._2 === false, "n_gaps below the floor never flags")
  }

  test("abTtest computes Welch's t and df on planted arms") {
    val e = eventsDF(
      (1L, 0L, "purchase", "2024-01-01 00:00:00", 1.0),
      (2L, 2L, "purchase", "2024-01-01 01:00:00", 2.0),
      (3L, 1L, "purchase", "2024-01-01 02:00:00", 3.0),
      (4L, 3L, "purchase", "2024-01-01 03:00:00", 5.0),
      (5L, 0L, "click", "2024-01-01 04:00:00", 99.0)) // non-purchase ignored
    val out = Relational.abTtest(e).collect()
    assert(out.length === 1)
    val r = out.head
    // grp0 cents {100, 200}: mean 150, s² 5000; grp1 {300, 500}: 400, 20000
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Double]("mean_a") === 150.0)
    assert(r.getAs[Double]("mean_b") === 400.0)
    assert(r.getAs[Double]("var_a") === 5000.0)
    assert(r.getAs[Double]("var_b") === 20000.0)
    assert(math.abs(r.getAs[Double]("t_stat") - 2.236068) < 1e-6)
    assert(math.abs(r.getAs[Double]("df") - 1.470588) < 1e-6)
  }

  test("passAtK matches the combinatorial identity on a planted pool") {
    // one stratum, n=4 samples, c=2 passes (long clean stopword-rich
    // texts pass the 0.5 bar; punctuation soup fails), k=5 clamps to 4:
    // fewer failures (2) than k -> certain pass -> 1.0
    val good = "the cat and the dog is in the house and it is warm today"
    val docs = docsDF(1L -> good, 2L -> good,
      3L -> "!!!! @@@@ #### $$$$ %%%%", 4L -> "???? ^^^^ &&&& ****")
    val out = TextOps.passAtK(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_samples") === 4L)
    assert(out.head.getAs[Long]("n_pass") === 2L)
    assert(out.head.getAs[Long]("k") === 4L)
    assert(out.head.getAs[Double]("pass_at_k") === 1.0)
    // k=2 on the same pool: 1 - C(2,2)/C(4,2) = 1 - 1/6
    val k2 = TextOps.passAtK(docs, k = 2).collect().head
    assert(math.abs(k2.getAs[Double]("pass_at_k") - (1.0 - 1.0 / 6.0)) < 1e-6)
    // all-fail pool: pass@k = 0
    val bad = docsDF(1L -> "!!!!", 2L -> "@@@@")
    assert(TextOps.passAtK(bad, k = 2).collect().head
      .getAs[Double]("pass_at_k") === 0.0)
  }

  test("bradleyTerry ranks sources by pairwise quality wins") {
    val hi = "the cat and the dog is in the house and it is warm today"
    val lo = "!!!! @@@@ #### $$$$ %%%%"
    // en pairs (1,2)(3,4)(5,6): s1 beats s2, s1 beats s3, s2 beats s3
    val docs = Seq(
      (1L, hi, "en", "s1", 50L), (2L, lo, "en", "s2", 24L),
      (3L, hi, "en", "s1", 50L), (4L, lo, "en", "s3", 24L),
      (5L, hi, "en", "s2", 50L), (6L, lo, "en", "s3", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.bradleyTerry(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_games"), r.getAs[Long]("n_wins"),
          r.getAs[Double]("rating"))).toMap
    assert(out("s1")._2 === 2L && out("s2")._2 === 1L && out("s3")._2 === 0L)
    assert(out("s1")._3 > out("s2")._3, "more wins -> higher rating")
    assert(out("s3")._3 === 0.0, "zero-win item converges to 0")
    assert(out("s1")._1 === 2L && out("s3")._1 === 2L, "game counts")
  }

  test("dupSpanMask merges covered positions into maximal intervals") {
    val common = "one two three four five six seven eight"
    val docs = docsDF(
      1L -> s"aaa $common bbb",
      2L -> s"$common ccc ddd")
    val out = Dedup.dupSpanMask(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_end"),
        r.getAs[Long]("span_len"))).toSet
    // the shared 8-token run is one contiguous island in each doc; the
    // unique flanks never enter the cover set
    assert(out === Set((1L, 1L, 1L, 9L, 8L), (2L, 1L, 0L, 8L, 8L)))
  }

  test("shardManifest checksums are order-independent and content-sensitive") {
    val base = Seq.tabulate(20)(i =>
      (i.toLong, s"document number $i with some text", "en", "s1", 30L))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val a = TextOps.shardManifest(base.toDF(cols: _*), shards = 4)
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("checksum"))).toMap
    // reversed row order + different partitioning: identical manifest
    val b = TextOps.shardManifest(base.reverse.toDF(cols: _*).repartition(7),
      shards = 4).collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("checksum"))).toMap
    assert(a === b)
    // flipping one document's content flips exactly its shard's checksum
    val mutated = base.updated(5, (5L, "tampered content", "en", "s1", 30L))
    val c = TextOps.shardManifest(mutated.toDF(cols: _*), shards = 4)
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("checksum"))).toMap
    assert(c(1L)._2 !== a(1L)._2, "shard 1 (doc 5) must change")
    assert(Seq(0L, 2L, 3L).forall(s => c(s) === a(s)), "other shards unchanged")
  }

  test("segmentStats: z-order segments are tighter than natural order " +
    "on independent dimensions") {
    // x (the n_chars column) is deliberately decoupled from y (token
    // count of the text) so locality in one order says nothing about
    // the other — the case z-ordering exists for
    val docs = (0 until 200).map { i =>
      val y = i * 53 % 100 + 5
      (i.toLong, Seq.fill(y)("tok").mkString(" "), "en", "s1",
        (i * 37 % 200).toLong * 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.segmentStats(docs, segRows = 50).collect()
    val byLayout = out.groupBy(_.getAs[String]("layout"))
    for ((_, rows) <- byLayout) {
      assert(rows.map(_.getAs[Long]("n_rows")).sum === 200L)
      assert(rows.length === 4)
    }
    def meanSpan(l: String) = {
      val rows = byLayout(l)
      rows.map(r => r.getAs[Long]("span_x") + r.getAs[Long]("span_y")).sum
        .toDouble / rows.length
    }
    assert(meanSpan("zorder") < meanSpan("natural"),
      s"z-order must localize both dims: ${meanSpan("zorder")} vs ${meanSpan("natural")}")
    graft.CacheTracker.drainAll(spark)
  }

  test("scd2Merge stitch paths: absorb, close, new user, untouched user") {
    // split at 2024-01-24T00:00:00Z; batch events strictly after
    val e = eventsDF(
      // user 1: current run 'click' ABSORBS the batch's first click run,
      // then a view run appends
      (1L, 1L, "view", "2024-01-10 00:00:00", 0.0),
      (2L, 1L, "click", "2024-01-20 00:00:00", 0.0),
      (3L, 1L, "click", "2024-01-25 00:00:00", 0.0),
      (4L, 1L, "view", "2024-01-26 00:00:00", 0.0),
      // user 2: current 'view' CLOSES at the batch's first (different) run
      (5L, 2L, "view", "2024-01-20 00:00:00", 0.0),
      (6L, 2L, "purchase", "2024-01-25 00:00:00", 0.0),
      // user 3: batch-only (new) user
      (7L, 3L, "click", "2024-01-28 00:00:00", 0.0),
      // user 4: store-only user, untouched
      (8L, 4L, "signup", "2024-01-05 00:00:00", 0.0))
    val merged = Sessionize.scd2Merge(e).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id")) ->
        (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Boolean]("is_current"))).toMap
    val recomputed = Sessionize.scd2Intervals(e).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id")) ->
        (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Boolean]("is_current"))).toMap
    assert(merged === recomputed, "merge must equal full recompute")
    // the absorbed run carries both the store and batch click
    assert(merged((1L, 2L)) === (("click", 2L, false)))
    assert(merged((1L, 3L)) === (("view", 1L, true)))
    assert(merged((2L, 1L))._3 === false, "closed current")
    assert(merged((3L, 1L)) === (("click", 1L, true)))
    assert(merged((4L, 1L)) === (("signup", 1L, true)))
  }

  test("conversionLatency measures first-view-to-purchase seconds") {
    val e = eventsDF(
      (1L, 1L, "view", "2024-01-01 00:00:00", 0.0),
      (2L, 1L, "purchase", "2024-01-01 00:01:40", 5.0), // +100 s
      (3L, 1L, "purchase", "2024-01-01 09:00:00", 5.0), // later, ignored
      (4L, 2L, "purchase", "2024-01-01 00:00:00", 5.0), // purchase BEFORE
      (5L, 2L, "view", "2024-01-01 01:00:00", 0.0),     //   the first view
      (6L, 3L, "purchase", "2024-01-01 00:00:00", 5.0)) // no view at all
    val out = Sessionize.conversionLatency(e).collect().head
    assert(out.getAs[Long]("n_converted") === 1L)
    assert(out.getAs[Double]("p50_s") === 100.0)
  }

  test("transitionPredict scores the argmax-next baseline") {
    val e = eventsDF(
      // user 1: view->click, click->view, view->click, click->purchase
      (1L, 1L, "view", "2024-01-01 00:00:00", 0.0),
      (2L, 1L, "click", "2024-01-01 00:01:00", 0.0),
      (3L, 1L, "view", "2024-01-01 00:02:00", 0.0),
      (4L, 1L, "click", "2024-01-01 00:03:00", 0.0),
      (5L, 1L, "purchase", "2024-01-01 00:04:00", 0.0),
      // user 2: view->click (reinforces the view->click majority)
      (6L, 2L, "view", "2024-01-01 00:00:00", 0.0),
      (7L, 2L, "click", "2024-01-01 00:01:00", 0.0))
    val out = Sessionize.transitionPredict(e).collect()
      .map(r => r.getAs[String]("prev_type") ->
        (r.getAs[String]("predicted"), r.getAs[Long]("n_transitions"),
          r.getAs[Long]("n_correct"))).toMap
    // view: 3/3 transitions go to click. click: {view:1, purchase:1} —
    // tie breaks lexicographically to "purchase", 1 of 2 correct
    assert(out("view") === (("click", 3L, 3L)))
    assert(out("click") === (("purchase", 2L, 1L)))
  }

  test("dauMau counts trailing-30-day actives exactly") {
    def ev(id: Long, uid: Long, day: Long) =
      (id, uid, "view", new Timestamp(day * 86400000L + 3600000L), 0.0)
    val e = Seq(ev(1, 1, 0), ev(2, 2, 0), ev(3, 1, 10))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = Relational.dauMau(e).collect()
      .map(r => r.getAs[Long]("day_idx") ->
        (r.getAs[Long]("dau"), r.getAs[Long]("mau"),
          r.getAs[Double]("stickiness"))).toMap
    // day 0: both users active and monthly-active; day 10: only user 1
    // daily, but user 2's day-0 activity still inside the 30-day window
    assert(out === Map(0L -> (2L, 2L, 1.0), 10L -> (1L, 2L, 0.5)))
  }

  test("cusumChangepoint finds the planted level shift") {
    // 100-cent days then 500-cent days: CUSUM is most negative just
    // before the shift -> change point = day 3
    val e = eventsDF(
      (1L, 1L, "purchase", "2024-01-01 12:00:00", 1.0),
      (2L, 1L, "purchase", "2024-01-02 12:00:00", 1.0),
      (3L, 1L, "purchase", "2024-01-03 12:00:00", 1.0),
      (4L, 1L, "purchase", "2024-01-04 12:00:00", 5.0),
      (5L, 1L, "purchase", "2024-01-05 12:00:00", 5.0),
      (6L, 1L, "purchase", "2024-01-06 12:00:00", 5.0))
    val out = Relational.cusumChangepoint(e).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("cp_day") === "2024-01-03")
    assert(out.head.getAs[Double]("cusum") === -600.0)
    assert(out.head.getAs[Long]("n_days") === 6L)
  }
}
