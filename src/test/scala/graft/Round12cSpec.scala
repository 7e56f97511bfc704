package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Relational, Sessionize}

/** Round-12c operators: hourly OHLC bars, per-user TWAP, session-path
  * regex matching. */
class Round12cSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, String, String, Double)*): DataFrame =
    rows.map { case (e, u, t, ty, v) => (e, u, Timestamp.valueOf(t), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("eventsOhlc: open/close follow time order, not value order") {
    val events = ev(
      // one hour bucket, one type: open=50.0 (earliest), close=10.0
      // (latest) even though 10.0 is also the low
      (1L, 1L, "2024-01-01 10:00:01", "click", 50.0),
      (2L, 1L, "2024-01-01 10:20:00", "click", 99.5),
      (3L, 2L, "2024-01-01 10:59:59", "click", 10.0),
      // a second hour for the same type
      (4L, 1L, "2024-01-01 11:05:00", "click", 70.0))
    val out = Relational.eventsOhlc(events).orderBy("hour_idx").collect()
    assert(out.length === 2)
    val h0 = out(0)
    assert(h0.getAs[Long]("open_cents") === 5000L)
    assert(h0.getAs[Long]("close_cents") === 1000L)
    assert(h0.getAs[Long]("high_cents") === 9950L)
    assert(h0.getAs[Long]("low_cents") === 1000L)
    assert(h0.getAs[Long]("volume_cents") === 15950L)
    assert(h0.getAs[Long]("n_events") === 3L)
    val h1 = out(1)
    assert(h1.getAs[Long]("open_cents") === 7000L &&
      h1.getAs[Long]("close_cents") === 7000L && h1.getAs[Long]("n_events") === 1L)
  }

  test("eventsOhlc: same-timestamp tie breaks on event_id") {
    val events = ev(
      (2L, 1L, "2024-01-01 10:00:00", "view", 20.0),
      (1L, 1L, "2024-01-01 10:00:00", "view", 30.0))
    val r = Relational.eventsOhlc(events).collect().head
    assert(r.getAs[Long]("open_cents") === 3000L, "event_id 1 opens")
    assert(r.getAs[Long]("close_cents") === 2000L, "event_id 2 closes")
  }

  test("twap weights each value by its holding time") {
    val events = ev(
      // 100.0 held 10 s, 300.0 held 30 s, last value unobserved
      (1L, 7L, "2024-01-01 10:00:00", "click", 100.0),
      (2L, 7L, "2024-01-01 10:00:10", "click", 300.0),
      (3L, 7L, "2024-01-01 10:00:40", "click", 999.0))
    val r = Relational.twap(events).collect().head
    assert(r.getAs[Long]("n_gaps") === 2L)
    assert(r.getAs[Long]("span_s") === 40L)
    assert(r.getAs[Double]("twap_cents") ===
      (10000.0 * 10 + 30000.0 * 30) / 40)
  }

  test("twap drops single-event users and zero-length spans") {
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "click", 5.0),
      // user 2: two events inside the same second -> gap truncates to 0
      (2L, 2L, "2024-01-01 10:00:00.100000", "click", 5.0),
      (3L, 2L, "2024-01-01 10:00:00.900000", "click", 6.0))
    assert(Relational.twap(events).count() === 0)
  }

  test("pathPatternMatch classifies planted session shapes") {
    val events = ev(
      // user 1: view>view  (browse_only)
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 10:01:00", "view", 1.0),
      // user 2: view>click>purchase  (view_to_purchase)
      (3L, 2L, "2024-01-01 10:00:00", "view", 1.0),
      (4L, 2L, "2024-01-01 10:01:00", "click", 1.0),
      (5L, 2L, "2024-01-01 10:02:00", "purchase", 1.0),
      // user 3: error>click>error  (error_retry)
      (6L, 3L, "2024-01-01 10:00:00", "error", 1.0),
      (7L, 3L, "2024-01-01 10:01:00", "click", 1.0),
      (8L, 3L, "2024-01-01 10:02:00", "error", 1.0),
      // user 4: signup>view  (signup_first)
      (9L, 4L, "2024-01-01 10:00:00", "signup", 1.0),
      (10L, 4L, "2024-01-01 10:01:00", "view", 1.0))
    val out = Sessionize.pathPatternMatch(events).collect()
      .map(r => r.getAs[String]("pattern") ->
        (r.getAs[Long]("n_matched"), r.getAs[Long]("n_sessions"),
          r.getAs[Double]("match_rate"))).toMap
    assert(out.keySet === Set("browse_only", "view_to_purchase",
      "error_retry", "signup_first"))
    for ((_, (n, tot, rate)) <- out) {
      assert(n === 1L); assert(tot === 4L); assert(rate === 0.25)
    }
  }

  private def docsDF(rows: (Long, String, String)*): DataFrame =
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("distinctNgrams: repeated phrases crater distinct_2") {
    val docs = docsDF(
      // s1: the same bigram over and over
      (1L, "alpha beta alpha beta alpha beta", "s1"),
      // s2: all-distinct tokens
      (2L, "one two three four", "s2"),
      // s3: single-token docs only -> no bigrams
      (3L, "solo", "s3"),
      (4L, "another", "s3"))
    val out = graft.operators.TextOps.distinctNgrams(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_unigrams") === 6L)
    assert(s1.getAs[Long]("n_distinct_unigrams") === 2L)
    assert(s1.getAs[Long]("n_bigrams") === 5L)
    // alpha>beta and beta>alpha
    assert(s1.getAs[Long]("n_distinct_bigrams") === 2L)
    assert(s1.getAs[Double]("distinct_2") === 0.4)
    val s2 = out("s2")
    assert(s2.getAs[Double]("distinct_1") === 1.0)
    assert(s2.getAs[Double]("distinct_2") === 1.0)
    val s3 = out("s3")
    assert(s3.getAs[Long]("n_bigrams") === 0L)
    assert(s3.getAs[Double]("distinct_2") === 0.0)
  }

  test("raterAgreement: identical raters give kappa 1, opposite raters negative") {
    // two long clean docs (all raters pass) + two short punct docs (all fail)
    val good = "the cat and the dog sat in the warm house all day long " * 3
    val docs = docsDF(
      (1L, good, "s1"), (2L, good + "again and again it is", "s1"),
      (3L, "!!", "s1"), (4L, "??", "s1"))
    val out = graft.operators.TextOps.raterAgreement(docs).collect()
    assert(out.length === 3)
    for (r <- out) {
      assert(r.getAs[Long]("n") === 4L)
      assert(r.getAs[Double]("po") === 1.0, r.getAs[String]("pair"))
      assert(r.getAs[Double]("kappa") === 1.0, r.getAs[String]("pair"))
    }
  }

  test("raterAgreement matches a first-principles kappa on mixed docs") {
    val docs = docsDF(
      (1L, "the cat and the dog sat in the house " * 4, "s1"),
      (2L, ("zzzz " * 30).trim, "s1"),
      (3L, "it is a cat and a dog here", "s1"),
      (4L, "x!", "s1"),
      (5L, "the quick brown fox jumps over the lazy dog and it is fine", "s1"))
    // recompute the three flags the operator defines
    val q = graft.operators.TextOps.qualityScore(docs)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1) >= 0.5)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val flags = texts.map { case (id, t) =>
      val alpha = t.count(_.isLetter).toDouble / math.max(t.length, 1)
      id -> (q(id), t.length >= 100, t.nonEmpty && alpha >= 0.6)
    }
    def kappa(a: Map[Long, Boolean], b: Map[Long, Boolean]): (Double, Double, Double) = {
      val n = a.size.toDouble
      val po = BigDecimal(a.keys.count(k => a(k) == b(k)) / n)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val pa = a.values.count(identity) / n
      val pb = b.values.count(identity) / n
      val pe = BigDecimal(pa * pb + (1 - pa) * (1 - pb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val k = if (pe == 1.0) 0.0
        else BigDecimal((po - pe) / (1 - pe))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (po, pe, k)
    }
    val fq = flags.map { case (id, (a, _, _)) => id -> a }
    val fl = flags.map { case (id, (_, b, _)) => id -> b }
    val fa = flags.map { case (id, (_, _, c)) => id -> c }
    val expected = Map(
      "quality_vs_length" -> kappa(fq, fl),
      "quality_vs_alpha" -> kappa(fq, fa),
      "length_vs_alpha" -> kappa(fl, fa))
    val m = graft.operators.TextOps.raterAgreement(docs).collect()
      .map(r => r.getAs[String]("pair") ->
        (r.getAs[Double]("po"), r.getAs[Double]("pe"), r.getAs[Double]("kappa"))).toMap
    for ((pair, exp) <- expected) {
      assert(math.abs(m(pair)._1 - exp._1) < 1e-9, s"$pair po")
      assert(math.abs(m(pair)._2 - exp._2) < 1e-9, s"$pair pe")
      assert(math.abs(m(pair)._3 - exp._3) < 1e-6, s"$pair kappa")
    }
    // the fixture must exercise disagreement somewhere
    assert(m.values.exists(_._3 < 1.0), "fixture degenerate: all kappas 1")
  }

  test("rejectionSample keeps the top-2 passing docs per pool with pool size") {
    val good1 = "the cat and the dog sat in the warm house all day long"
    val good2 = "it is a fine day and the sun is out over the hill"
    val docs = docsDF(
      (1L, good1, "s1"), (2L, good2, "s1"), (3L, good1 + " indeed it is", "s1"),
      (4L, "!!!!", "s1"), // below the floor
      (5L, good1, "s2"))
    val out = graft.operators.TextOps.rejectionSample(docs)
      .orderBy("source", "rank").collect()
    val s1 = out.filter(_.getAs[String]("source") == "s1")
    assert(s1.length === 2, "top-2 kept, floor drops doc 4")
    assert(s1.forall(_.getAs[Long]("n_candidates") === 4L))
    assert(s1.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L))
    assert(s1.forall(_.getAs[Double]("reward") >= 0.3))
    // descending reward, doc_id tiebreak
    assert(s1(0).getAs[Double]("reward") >= s1(1).getAs[Double]("reward"))
    val s2 = out.filter(_.getAs[String]("source") == "s2")
    assert(s2.length === 1 && s2.head.getAs[Long]("n_candidates") === 1L)
  }

  test("ivmAgg merge equals full recompute on a split batch") {
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "click", 1.5), // standing
      (8L, 1L, "2024-01-01 11:00:00", "click", 2.5), // delta (id%10>=8)
      (9L, 1L, "2024-01-02 09:00:00", "view", 4.0),  // delta, new day
      (2L, 2L, "2024-01-01 08:00:00", "view", 10.0)) // standing only
    val out = Relational.ivmAgg(events).orderBy("user_id", "day_idx").collect()
    val full = events
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"),
        org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.expr("unix_micros(ts)")).as("first_us"),
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.expr("unix_micros(ts)")).as("last_us"))
      .orderBy("user_id", "day_idx").collect()
    assert(out.map(_.toSeq).toSeq === full.map(_.toSeq).toSeq)
    // the merge really did combine a standing and a delta state for u1 d0
    val u1d0 = out.find(r => r.getLong(0) === 1L &&
      r.getAs[Long]("n_events") === 2L)
    assert(u1d0.isDefined && u1d0.get.getAs[Long]("sum_cents") === 400L)
  }

  test("tokenBfs walks a planted chain with correct hop distances") {
    // chain a-b, b-c via co-occurring docs; d isolated. Each pair must
    // co-occur in >= 5 docs and each token df >= 5.
    val rows = (1L to 5L).map(i => (i, "aa bb", "s1")) ++
      (6L to 10L).map(i => (i, "bb cc", "s1")) ++
      (11L to 15L).map(i => (i, "dd", "s1")) ++
      // make aa the most frequent token (seed)
      (16L to 20L).map(i => (i, "aa", "s1"))
    val docs = docsDF(rows: _*)
    val out = graft.operators.Graph.tokenBfs(docs).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("dist")).toMap
    graft.CacheTracker.drainAll(spark)
    assert(out === Map("aa" -> 0L, "bb" -> 1L, "cc" -> 2L))
  }

  test("blocklistFilter counts whole-word hits only and flags heavy docs") {
    val docs = docsDF(
      (1L, "this is a dup and it is slow", "s1"),     // 2 hits / 8 tokens
      (2L, "duplicate rows slowly accumulate", "s1"), // substrings: 0 hits
      (3L, "spam spam spam", "s1"),                   // 3 hits / 3 tokens
      (4L, "", "s1"))
    val out = graft.operators.TextOps.blocklistFilter(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_hits") === 2L)
    assert(out(1L).getAs[Boolean]("keep") === false, "2/8 = 25% > 5%")
    assert(out(2L).getAs[Long]("n_hits") === 0L)
    assert(out(2L).getAs[Boolean]("keep") === true)
    assert(out(3L).getAs[Long]("n_hits") === 3L)
    assert(out(3L).getAs[Boolean]("keep") === false)
    assert(out(4L).getAs[Long]("n_hits") === 0L)
    assert(out(4L).getAs[Boolean]("keep") === true)
  }

  test("renyiEfficiency: uniform vocab scores 1, concentrated mass scores lower") {
    // 4 tokens, each once: H2 = 2 ln 4 - ln 4 = ln 4; ln V = ln 4 -> 1.0
    val uniform = docsDF((1L, "aa bb cc dd", "s1"))
    val u = graft.operators.TextOps.renyiEfficiency(uniform).collect().head
    assert(u.getAs[Long]("vocab_size") === 4L)
    assert(u.getAs[Long]("sum_sq") === 4L)
    assert(u.getAs[Double]("efficiency") === 1.0)
    // heavy concentration: one token 9 times + 1 other
    val skewed = docsDF((1L, ("aa " * 9) + "bb", "s1"))
    val s = graft.operators.TextOps.renyiEfficiency(skewed).collect().head
    assert(s.getAs[Long]("sum_sq") === 82L)
    val h2 = 2 * math.log(10) - math.log(82)
    assert(math.abs(s.getAs[Double]("h2") - h2) < 1e-6)
    assert(s.getAs[Double]("efficiency") < 1.0)
    // single-type vocab: efficiency pinned to 0, no division by ln 1
    val mono = docsDF((1L, "aa aa aa", "s1"))
    assert(graft.operators.TextOps.renyiEfficiency(mono)
      .collect().head.getAs[Double]("efficiency") === 0.0)
  }

  test("qualityThresholdSweep retention is monotone non-increasing in the cutoff") {
    val good = "the cat and the dog sat in the warm house all day long"
    val docs = docsDF(
      (1L, good, "s1"), (2L, good + " and it is fine", "s1"),
      (3L, "!!!! @@@@", "s1"), (4L, "zz", "s1"))
    val out = graft.operators.TextOps.qualityThresholdSweep(docs)
      .orderBy("t_pct").collect()
    assert(out.length === 9)
    assert(out.map(_.getAs[Long]("t_pct")).toSeq === (10L to 90L by 10L))
    val docsKept = out.map(_.getAs[Long]("n_docs"))
    assert(docsKept.zip(docsKept.tail).forall { case (a, b) => a >= b },
      "retention must not increase with the cutoff")
    assert(out.forall(r => r.getAs[Double]("doc_retention") <= 1.0))
    // the junk docs are gone by 50%
    assert(out.find(_.getAs[Long]("t_pct") === 50L).get.getAs[Long]("n_docs") <= 2L)
  }

  test("shipLatency computes per-priority whole-day percentiles") {
    val orders = Seq(
      (1L, "1-URGENT", Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "1-URGENT", Timestamp.valueOf("2024-01-01 00:00:00")),
      (3L, "2-HIGH", Timestamp.valueOf("2024-01-05 00:00:00")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    val lineitem = Seq(
      (1L, Timestamp.valueOf("2024-01-03 00:00:00")), // 2 days
      (1L, Timestamp.valueOf("2024-01-05 00:00:00")), // 4 days
      (2L, Timestamp.valueOf("2024-01-11 00:00:00")), // 10 days
      (3L, Timestamp.valueOf("2024-01-05 12:00:00"))) // same day -> 0
      .toDF("l_orderkey", "l_shipdate")
    val out = Relational.shipLatency(orders, lineitem).collect()
      .map(r => r.getAs[String]("o_orderpriority") -> r).toMap
    val u = out("1-URGENT")
    assert(u.getAs[Long]("n_items") === 3L)
    assert(u.getAs[Long]("min_days") === 2L && u.getAs[Long]("max_days") === 10L)
    assert(u.getAs[Double]("p50_days") === 4.0)
    val h = out("2-HIGH")
    assert(h.getAs[Long]("n_items") === 1L && h.getAs[Long]("max_days") === 0L)
  }

  test("doremiStep upweights the hardest domain and weights sum to 1") {
    // s1: common tokens (low NLL); s2: rare tokens (high NLL under the
    // global LM) -> s2's weight must rise relative to its token share
    val docs = docsDF(
      (1L, "aa bb aa bb aa bb aa bb", "s1"),
      (2L, "aa bb aa bb aa bb aa bb", "s1"),
      (3L, "qq rr ss tt", "s2"))
    val out = graft.operators.LangModel.doremiStep(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("s1"); val s2 = out("s2")
    assert(s1.getAs[Long]("n_tokens") === 16L)
    assert(s2.getAs[Long]("n_tokens") === 4L)
    assert(s2.getAs[Double]("loss") > s1.getAs[Double]("loss"),
      "rare-token domain must read higher NLL")
    assert(s2.getAs[Double]("w_new") > s2.getAs[Double]("w0"),
      "hard domain gains weight")
    val sumW = out.values.map(_.getAs[Double]("w_new")).sum
    assert(math.abs(sumW - 1.0) < 1e-5, s"weights must renormalize: $sumW")
  }

  test("joinCardinalityProfile counts orphans, childless parents, fanout") {
    val customer = Seq(1L, 2L, 3L).toDF("c_custkey")
    val orders = Seq(
      (10L, 1L), (11L, 1L), (12L, 2L), // cust 1 fanout 2, cust 2 fanout 1
      (13L, 99L))                      // orphan: cust 99 absent
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1), (10L, 2), (77L, 1)) // order 77 orphan
      .toDF("l_orderkey", "l_linenumber")
    val out = Relational
      .joinCardinalityProfile(orders, customer, lineitem).collect()
      .map(r => r.getAs[String]("relationship") -> r).toMap
    val oc = out("orders->customer")
    assert(oc.getAs[Long]("n_children") === 4L)
    assert(oc.getAs[Long]("n_parents") === 3L)
    assert(oc.getAs[Long]("n_orphan_children") === 1L)
    assert(oc.getAs[Long]("n_childless_parents") === 1L) // cust 3
    assert(oc.getAs[Long]("min_fanout") === 1L && oc.getAs[Long]("max_fanout") === 2L)
    assert(oc.getAs[Double]("avg_fanout") === 1.5)
    val lo = out("lineitem->orders")
    assert(lo.getAs[Long]("n_orphan_children") === 1L)
    assert(lo.getAs[Long]("n_childless_parents") === 3L) // 11,12,13
    assert(lo.getAs[Double]("avg_fanout") === 2.0)       // order 10 has 2 items
  }

  test("latenessProfile flags events whose time runs behind arrival order") {
    val events = ev(
      // user 1 arrival order by event_id: t0, t100, t50 (late by 50s), t200
      (1L, 1L, "2024-01-01 10:00:00", "click", 1.0),
      (2L, 1L, "2024-01-01 10:01:40", "click", 1.0),
      (3L, 1L, "2024-01-01 10:00:50", "view", 1.0),
      (4L, 1L, "2024-01-01 10:03:20", "click", 1.0))
    val out = Relational.latenessProfile(events).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("view").getAs[Long]("n_late") === 1L)
    assert(out("view").getAs[Long]("max_late_s") === 50L)
    assert(out("view").getAs[Double]("late_ratio") === 1.0)
    assert(out("click").getAs[Long]("n_late") === 0L)
    assert(out("click").getAs[Double]("late_ratio") === 0.0)
  }

  test("trigramTopk counts overlapping trigrams with corpus share") {
    val docs = docsDF(
      (1L, "aa bb cc aa bb cc", "s1"), // trigram "aa bb cc" twice (pos 0 and 3)
      (2L, "aa bb", "s1"))             // too short, no trigrams
    val out = graft.operators.LangModel.trigramTopk(docs).collect()
    val m = out.map(r => r.getAs[String]("trigram") -> r.getAs[Long]("cnt")).toMap
    assert(m("aa bb cc") === 2L)
    assert(m("bb cc aa") === 1L && m("cc aa bb") === 1L)
    assert(out.map(_.getAs[Long]("cnt")).sum === 4L)
    val top = out.maxBy(_.getAs[Long]("cnt"))
    assert(top.getAs[String]("trigram") === "aa bb cc")
    assert(top.getAs[Double]("share") === 0.5)
  }

  test("hillTailIndex estimates the tail exponent of a planted power law") {
    // counts 16, 8, 4, 2, 1 over 5 tokens: x_k = 1, terms ln(16), ln(8),
    // ln(4), ln(2) -> mean = 2.5 ln 2 -> alpha = 1/(2.5 ln 2)
    val rows = Seq.tabulate(16)(i => (i.toLong, "aa", "s1")) ++
      Seq.tabulate(8)(i => (100L + i, "bb", "s1")) ++
      Seq.tabulate(4)(i => (200L + i, "cc", "s1")) ++
      Seq.tabulate(2)(i => (300L + i, "dd", "s1")) ++
      Seq((400L, "ee", "s1"))
    val docs = docsDF(rows.zipWithIndex.map { case ((_, t, s), i) =>
      (i.toLong, t, s) }: _*)
    val r = graft.operators.LangModel.hillTailIndex(docs).collect().head
    assert(r.getAs[Long]("k_used") === 5L)
    assert(r.getAs[Long]("x_k") === 1L)
    assert(r.getAs[Long]("n_terms") === 4L)
    val expected = 4.0 / (math.log(16) + math.log(8) + math.log(4) + math.log(2))
    assert(math.abs(r.getAs[Double]("hill_alpha") - expected) < 1e-4)
    // degenerate: all counts equal -> terms 0 -> alpha 0
    val flat = docsDF((1L, "aa bb cc", "s1"))
    assert(graft.operators.LangModel.hillTailIndex(flat)
      .collect().head.getAs[Double]("hill_alpha") === 0.0)
  }

  test("userOverlapJaccard computes pairwise audience overlap") {
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 10:01:00", "click", 1.0),
      (3L, 2L, "2024-01-01 10:00:00", "view", 1.0),
      (4L, 2L, "2024-01-01 10:01:00", "click", 1.0),
      (5L, 3L, "2024-01-01 10:00:00", "view", 1.0),
      (6L, 4L, "2024-01-01 10:00:00", "error", 1.0))
    val out = Relational.userOverlapJaccard(events).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) -> r).toMap
    val cv = out(("click", "view"))
    assert(cv.getAs[Long]("n_a") === 2L)  // click: users 1,2
    assert(cv.getAs[Long]("n_b") === 3L)  // view: users 1,2,3
    assert(cv.getAs[Long]("n_both") === 2L)
    assert(cv.getAs[Double]("jaccard") === math.round(2.0 / 3.0 * 1e6) / 1e6)
    // error shares no user with anything -> no pair rows
    assert(!out.keySet.exists { case (a, b) => a == "error" || b == "error" })
  }

  test("bigramCondEntropy: deterministic successors give zero, uniform gives ln 2") {
    // every bigram context has exactly one successor -> H = 0
    val det = docsDF((1L, "aa bb aa bb aa bb", "s1"))
    val d = graft.operators.LangModel.bigramCondEntropy(det).collect().head
    assert(d.getAs[Long]("n_bigrams") === 5L)
    assert(d.getAs[Double]("h_cond") === 0.0)
    // context aa goes to bb and cc equally -> H weighted over aa-contexts
    val mix = docsDF((1L, "aa bb", "s1"), (2L, "aa cc", "s1"))
    val m = graft.operators.LangModel.bigramCondEntropy(mix).collect().head
    assert(m.getAs[Long]("n_bigrams") === 2L)
    assert(m.getAs[Long]("n_bigram_types") === 2L)
    assert(math.abs(m.getAs[Double]("h_cond") - math.log(2)) < 1e-5)
  }

  test("benfordCheck fills all 9 digits and computes chi2 against Benford") {
    val orders = Seq(
      (1L, 19.99), (2L, 12.00), (3L, 150.0), // cents 1999, 1200, 15000 -> digit 1
      (4L, 25.00),                           // 2500 -> 2
      (5L, 99.0))                            // 9900 -> 9
      .toDF("o_orderkey", "o_totalprice")
    val out = Relational.benfordCheck(orders).orderBy("digit").collect()
    assert(out.length === 9)
    val m = out.map(r => r.getAs[Long]("digit") -> r.getAs[Long]("n_obs")).toMap
    assert(m(1L) === 3L && m(2L) === 1L && m(9L) === 1L && m(5L) === 0L)
    assert(out.head.getAs[Double]("obs_p") === 0.6)
    val chi2s = out.map(_.getAs[Double]("chi2")).distinct
    assert(chi2s.length === 1 && chi2s.head > 0.0)
    // exp_p matches the shared constant table
    val expP = out.map(r => r.getAs[Long]("digit").toInt -> r.getAs[Double]("exp_p")).toMap
    assert(expP === Relational.BenfordP.toMap)
  }

  test("paretoUsers finds the smallest head covering each revenue share") {
    // spends 80, 10, 5, 5 cents-> top-1 covers 80%, top-2 90%, top-4 99%+
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "purchase", 0.80),
      (2L, 2L, "2024-01-01 10:00:00", "purchase", 0.10),
      (3L, 3L, "2024-01-01 10:00:00", "purchase", 0.05),
      (4L, 4L, "2024-01-01 10:00:00", "purchase", 0.05),
      (5L, 5L, "2024-01-01 10:00:00", "view", 99.0)) // not revenue
    val out = Relational.paretoUsers(events).collect()
      .map(r => r.getAs[Long]("pct") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    assert(out(50L).getAs[Long]("n_users_needed") === 1L)
    assert(out(80L).getAs[Long]("n_users_needed") === 1L)
    assert(out(90L).getAs[Long]("n_users_needed") === 2L)
    assert(out(95L).getAs[Long]("n_users_needed") === 3L)
    assert(out(99L).getAs[Long]("n_users_needed") === 4L)
    assert(out(80L).getAs[Long]("n_users") === 4L)
    assert(out(80L).getAs[Double]("user_frac") === 0.25)
  }

  test("labelNoise: clean clusters are diagonal, a planted flip shows up off-diagonal") {
    // two tight clusters; vec 5 carries label 1 but sits in cluster 0
    def v(base: Double, jit: Double) = Array.tabulate(4)(i =>
      (base + (if (i == 0) jit else 0.0)).toFloat)
    val emb = Seq(
      (0L, v(0.0, 0.00), 0), (1L, v(0.0, 0.01), 0), (2L, v(0.0, 0.02), 0),
      (10L, v(10.0, 0.00), 1), (11L, v(10.0, 0.01), 1),
      (5L, v(0.0, 0.03), 1)) // mislabeled
      .toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.labelNoise(emb).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("predicted")) ->
        r.getAs[Long]("n_vecs")).toMap
    assert(out((0, 0)) === 3L, "clean cluster stays diagonal")
    assert(out((1, 0)) === 1L, "the planted flip is flagged off-diagonal")
    assert(out((1, 1)) === 2L)
    assert(!out.contains((0, 1)))
  }

  test("keySkewProfile surfaces a hot key") {
    val events = ev(
      Seq.tabulate(8)(i => (i.toLong, 1L, "2024-01-01 10:00:00", "view", 1.0)) ++
        Seq((100L, 2L, "2024-01-01 10:00:00", "view", 1.0),
          (101L, 3L, "2024-01-01 10:00:00", "view", 1.0)): _*)
    val r = Relational.keySkewProfile(events).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(r.getAs[Long]("n_keys") === 3L)
    assert(r.getAs[Long]("n_rows") === 10L)
    assert(r.getAs[Long]("top_key") === 1L)
    assert(r.getAs[Long]("top_count") === 8L)
    // 8 rows on one of 3 keys vs uniform 10/3: hotness = 8*3/10 = 2.4
    assert(r.getAs[Double]("top_key_hotness") === 2.4)
    assert(r.getAs[Double]("p50_count") === 1.0)
  }

  test("tokenDegreeStats summarizes the gated co-occurrence graph") {
    // star: hub co-occurs with each of 3 spokes in 5 docs; spokes never
    // co-occur with each other
    val rows =
      (1L to 5L).map(i => (i, "hub spa", "s1")) ++
      (6L to 10L).map(i => (i, "hub spb", "s1")) ++
      (11L to 15L).map(i => (i, "hub spc", "s1"))
    val docs = docsDF(rows: _*)
    val r = graft.operators.Graph.tokenDegreeStats(docs).collect().head
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Long]("max_degree") === 3L) // the hub
    assert(r.getAs[Long]("min_degree") === 1L)
    assert(r.getAs[Double]("avg_degree") === 1.5)
  }

  test("burstHours flags a spike hour against the per-type baseline") {
    // click: 9 quiet hours of 1 event + one hour with 20
    val quiet = (0 until 9).map(h =>
      (h.toLong, 1L, f"2024-01-01 $h%02d:10:00", "click", 1.0))
    val spike = (0 until 20).map(i =>
      (100L + i, 2L, "2024-01-01 09:15:00", "click", 1.0))
    val events = ev((quiet ++ spike): _*)
    val r = Relational.burstHours(events).collect().head
    assert(r.getAs[String]("event_type") === "click")
    assert(r.getAs[Long]("n_hours") === 10L)
    assert(r.getAs[Long]("n_burst_hours") === 1L)
    assert(r.getAs[Double]("max_z") > 2.0)
    // flat stream: sigma 0, no bursts, z pinned to 0
    val flat = ev((0 until 4).map(h =>
      (h.toLong, 1L, f"2024-01-01 $h%02d:00:00", "view", 1.0)): _*)
    val f = Relational.burstHours(flat).collect().head
    assert(f.getAs[Double]("sigma") === 0.0)
    assert(f.getAs[Long]("n_burst_hours") === 0L)
    assert(f.getAs[Double]("max_z") === 0.0)
  }

  test("stratifiedKfold partitions every doc once and audits balance") {
    val docs = docsDF((1L to 40L).map(i => (i, s"doc number $i", "s1")): _*)
    val out = graft.operators.TextOps.stratifiedKfold(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === 40L)
    assert(out.map(_.getAs[Long]("fold")).distinct.forall(f => f >= 0 && f < 5))
    // single-language fixture: every fold is 100% en, deviation 0
    for (r <- out) {
      assert(r.getAs[String]("lang") === "en")
      assert(r.getAs[Double]("fold_frac") === 1.0)
      assert(r.getAs[Double]("corpus_frac") === 1.0)
      assert(r.getAs[Double]("deviation") === 0.0)
    }
  }

  test("newVsReturning splits daily actives by first-seen day") {
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 2L, "2024-01-01 11:00:00", "view", 1.0),
      (3L, 1L, "2024-01-02 10:00:00", "view", 1.0), // returning
      (4L, 3L, "2024-01-02 10:00:00", "view", 1.0), // new
      (5L, 1L, "2024-01-02 23:00:00", "view", 1.0)) // same user, same day
    val out = Relational.newVsReturning(events).orderBy("day_idx").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("n_active") === 2L)
    assert(out(0).getAs[Long]("n_new") === 2L)
    assert(out(0).getAs[Double]("new_ratio") === 1.0)
    assert(out(1).getAs[Long]("n_active") === 2L)
    assert(out(1).getAs[Long]("n_new") === 1L)
    assert(out(1).getAs[Long]("n_returning") === 1L)
    assert(out(1).getAs[Double]("new_ratio") === 0.5)
  }

  test("jsonKeyProfile audits keys, distinct values, and nulls") {
    val events = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1.0, """{"k": 87, "tag": "a"}"""),
      (2L, 1L, Timestamp.valueOf("2024-01-01 10:01:00"), "view", 1.0, """{"k": 87}"""),
      (3L, 1L, Timestamp.valueOf("2024-01-01 10:02:00"), "view", 1.0, """{"k": null}"""))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val out = Relational.jsonKeyProfile(events).collect()
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(out("k").getAs[Long]("n_present") === 3L)
    assert(out("k").getAs[Long]("n_distinct_values") === 1L) // "87"; null skipped
    assert(out("k").getAs[Long]("n_null_values") === 1L)
    assert(out("k").getAs[Double]("presence_ratio") === 1.0)
    assert(out("tag").getAs[Long]("n_present") === 1L)
    assert(math.abs(out("tag").getAs[Double]("presence_ratio") - 1.0 / 3) < 1e-5)
  }

  test("mixtureTemperature flattens the head and boosts the tail") {
    val docs = docsDF(
      (Seq.tabulate(9)(i => (i.toLong, "big corpus doc", "s_head")) :+
        (100L, "small corpus doc", "s_tail")): _*)
    val out = graft.operators.TextOps.mixtureTemperature(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val head = out("s_head"); val tail = out("s_tail")
    assert(head.getAs[Double]("share") === 0.9)
    assert(tail.getAs[Double]("share") === 0.1)
    // sqrt temperature: 0.9/0.1 head/tail ratio compresses to 3:1
    val ratio = head.getAs[Double]("w_temp") / tail.getAs[Double]("w_temp")
    assert(math.abs(ratio - 3.0) < 1e-3)
    assert(tail.getAs[Double]("boost") > 1.0, "tail up-sampled")
    assert(head.getAs[Double]("boost") < 1.0, "head down-sampled")
    val sum = out.values.map(_.getAs[Double]("w_temp")).sum
    assert(math.abs(sum - 1.0) < 1e-5)
  }

  test("coresetSelect walks farthest-point order on a planted line") {
    // points on a line at 0, 1, 10, 100: seed=vec 1 (lowest id, at 0),
    // then 100 (farthest), then 10, then 1
    def v(x: Double) = Array.fill(4)(x.toFloat)
    val emb = Seq((1L, v(0.0), 0), (2L, v(1.0), 0), (3L, v(10.0), 0),
      (4L, v(100.0), 0)).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.coresetSelect(emb, k = 3)
      .orderBy("selection_rank").collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 4L, 3L))
    // coverage radius: farthest remaining point is vec 2 at distance 1
    // from vec 1 -> 4 dims * 1.0 = 4.0
    assert(out.head.getAs[Double]("radius2") === 4.0)
  }

  test("seasonalNaiveEval scores lag-7 only when the calendar gap matches") {
    // 15 consecutive days with weekly pattern 10,1,1,1,1,1,1 repeating:
    // lag-7 errors are 0; lag-1 errors jump at the spikes
    val rows = (0 until 15).map { d =>
      val n = if (d % 7 == 0) 3 else 1
      (0 until n).map(i => ((d * 10 + i).toLong, 1L,
        f"2024-01-${d + 1}%02d 10:00:00", "click", 1.0))
    }.flatten
    val events = ev(rows: _*)
    val r = Relational.seasonalNaiveEval(events).collect().head
    assert(r.getAs[Long]("n_days") === 15L)
    assert(r.getAs[Long]("n_scored7") === 8L)
    assert(r.getAs[Double]("mae7") === 0.0, "weekly pattern -> lag-7 perfect")
    assert(r.getAs[Double]("mae1") > 0.0, "spikes break the naive forecaster")
  }

  test("churnRate: prior-week actives who fail to return are churned") {
    val events = ev(
      // week 0 (epoch week of 2024-01-04): users 1,2,3
      (1L, 1L, "2024-01-04 10:00:00", "view", 1.0),
      (2L, 2L, "2024-01-04 10:00:00", "view", 1.0),
      (3L, 3L, "2024-01-04 10:00:00", "view", 1.0),
      // week 1: users 1,2 return, 4 is new; 3 churned
      (4L, 1L, "2024-01-11 10:00:00", "view", 1.0),
      (5L, 2L, "2024-01-11 10:00:00", "view", 1.0),
      (6L, 4L, "2024-01-11 10:00:00", "view", 1.0))
    val out = Relational.churnRate(events).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_prev_active") === 3L)
    assert(r.getAs[Long]("n_active") === 3L)
    assert(r.getAs[Long]("n_retained") === 2L)
    assert(r.getAs[Long]("n_churned") === 1L)
    assert(math.abs(r.getAs[Double]("churn_rate") - 1.0 / 3) < 1e-5)
  }

  test("markovAttribution credits the on-path channel, not the bystander") {
    // 4 users: view->purchase (x2), view alone (x1), error alone (x1).
    // Conversions only flow through view; error never sits on a
    // converting path -> removal effect concentrates on view.
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 10:01:00", "purchase", 5.0),
      (3L, 2L, "2024-01-01 10:00:00", "view", 1.0),
      (4L, 2L, "2024-01-01 10:01:00", "purchase", 5.0),
      (5L, 3L, "2024-01-01 10:00:00", "view", 1.0),
      (6L, 4L, "2024-01-01 10:00:00", "error", 1.0))
    val out = graft.operators.Sessionize.markovAttribution(events).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    val view = out("view"); val error = out("error")
    // base P(conv): START->view 3/4, view->conv 2/3 => 0.5
    assert(math.abs(view.getAs[Double]("base_pconv") - 0.5) < 1e-6)
    assert(view.getAs[Double]("removal_pconv") === 0.0)
    assert(view.getAs[Double]("removal_effect") === 1.0)
    assert(error.getAs[Double]("removal_effect") === 0.0)
    assert(view.getAs[Double]("attribution") === 1.0)
    // channels never on any journey still report rows (effect 0)
    assert(out.keySet === Set("view", "click", "error", "signup"))
  }

  test("markovAttribution splits credit across a two-step converting path") {
    // every journey is view -> click -> purchase: removing EITHER
    // channel kills all conversions -> equal attribution
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 10:01:00", "click", 1.0),
      (3L, 1L, "2024-01-01 10:02:00", "purchase", 5.0),
      (4L, 2L, "2024-01-01 10:00:00", "view", 1.0),
      (5L, 2L, "2024-01-01 10:01:00", "click", 1.0),
      (6L, 2L, "2024-01-01 10:02:00", "purchase", 5.0))
    val out = graft.operators.Sessionize.markovAttribution(events).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    assert(math.abs(out("view").getAs[Double]("base_pconv") - 1.0) < 1e-6)
    assert(out("view").getAs[Double]("attribution") === 0.5)
    assert(out("click").getAs[Double]("attribution") === 0.5)
  }

  test("pathPatternMatch: a gap splits sessions, so patterns see each half") {
    val events = ev(
      // same user, 2-hour gap: view>view then signup alone
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 10:05:00", "view", 1.0),
      (3L, 1L, "2024-01-01 12:30:00", "signup", 1.0))
    val out = Sessionize.pathPatternMatch(events).collect()
      .map(r => r.getAs[String]("pattern") -> r.getAs[Long]("n_matched")).toMap
    assert(out("browse_only") === 1L)
    assert(out("signup_first") === 1L)
    assert(out("view_to_purchase") === 0L)
  }
}
