package graft

import org.apache.spark.sql.DataFrame

/** Round-12e operators: time-series analytics over the event stream —
  * time-decay attribution, daily-revenue autocorrelation, Theil–Sen
  * robust trend. */
class Round12eSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (Long, Long, String, String, Double)*): DataFrame =
    rows.map { case (e, u, t, ty, v) =>
      (e, u, java.sql.Timestamp.valueOf(t), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("attributionTimeDecay: the nearer touch earns more, total is conserved") {
    val d = events(
      (1L, 1L, "2024-01-05 06:00:00", "click", 0.0),   // 6h before: w=e^-1
      (2L, 1L, "2024-01-05 11:00:00", "click", 0.0),   // 1h before: w=e^-1/6
      (3L, 1L, "2024-01-05 12:00:00", "purchase", 10.0))
    val out = graft.operators.Sessionize.attributionTimeDecay(d).collect()
      .map(r => r.getAs[Long]("click_hour") -> r.getAs[Double]("attributed_value"))
      .toMap
    assert(out.keySet === Set(6L, 11L))
    assert(out(11L) > out(6L)) // recency wins
    assert(math.abs(out(11L) + out(6L) - 1000.0) < 0.01) // cents conserved
    val w1 = math.exp(-1.0 / 6.0); val w2 = math.exp(-1.0)
    assert(math.abs(out(11L) - 1000.0 * w1 / (w1 + w2)) < 0.01)
  }

  test("attributionTimeDecay ignores clicks outside the 24h lookback") {
    val d = events(
      (1L, 2L, "2024-01-03 12:00:00", "click", 0.0),   // 48h before
      (2L, 2L, "2024-01-05 12:00:00", "purchase", 5.0))
    assert(graft.operators.Sessionize.attributionTimeDecay(d).count() === 0L)
  }

  test("revenueAcf reads a period-2 series as lag-1 negative, lag-2 positive") {
    // six days alternating 100/300 cents: dev = ∓100 around mean 200
    val d = events((1L to 6L).map { i =>
      (i, i, f"2024-01-${i}%02d 12:00:00", "purchase",
        if (i % 2 == 1) 1.0 else 3.0)
    }: _*)
    val out = graft.operators.Relational.revenueAcf(d).collect()
      .map(r => r.getAs[Int]("lag_days") -> r).toMap
    assert(out(1).getAs[Long]("n_pairs") === 5L)
    assert(math.abs(out(1).getAs[Double]("acf") - (-5.0 / 6)) < 1e-5)
    assert(out(2).getAs[Long]("n_pairs") === 4L)
    assert(math.abs(out(2).getAs[Double]("acf") - 4.0 / 6) < 1e-5)
  }

  test("theilSenTrend shrugs off the flash-sale outlier OLS would chase") {
    // four clean 100-cents/day steps plus one 1000x day at the end
    val d = events(
      (1L, 1L, "2024-01-01 12:00:00", "purchase", 1.0),
      (2L, 1L, "2024-01-02 12:00:00", "purchase", 2.0),
      (3L, 1L, "2024-01-03 12:00:00", "purchase", 3.0),
      (4L, 1L, "2024-01-04 12:00:00", "purchase", 4.0),
      (5L, 1L, "2024-01-05 12:00:00", "purchase", 1000.0))
    val r = graft.operators.Relational.theilSenTrend(d).collect().head
    assert(r.getAs[Long]("n_days") === 5L)
    assert(r.getAs[Long]("n_pairs") === 10L)
    assert(r.getAs[Double]("slope_cents_per_day") === 100.0)
    assert(r.getAs[Double]("intercept_cents") === 100.0)
  }

  test("charClassProfile counts every char into exactly one class") {
    val d = Seq((1L, "ab 12!", "en", "s1", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.TextOps.charClassProfile(d).collect().head
    assert(r.getAs[Long]("n_chars") === 6L)
    assert(math.abs(r.getAs[Double]("letter_share") - 2.0 / 6) < 1e-5)
    assert(math.abs(r.getAs[Double]("digit_share") - 2.0 / 6) < 1e-5)
    assert(math.abs(r.getAs[Double]("space_share") - 1.0 / 6) < 1e-5)
    assert(math.abs(r.getAs[Double]("other_share") - 1.0 / 6) < 1e-5)
  }

  test("revenueOutlierDays flags only the flash-sale day") {
    // nine days 100..900 cents plus one 10000-cent day
    val d = events(((1L to 9L).map { i =>
      (i, i, f"2024-01-${i}%02d 12:00:00", "purchase", i.toDouble)
    } :+ ((10L, 10L, "2024-01-10 12:00:00", "purchase", 100.0))): _*)
    val out = graft.operators.Relational.revenueOutlierDays(d).collect()
    assert(out.length === 10)
    val flagged = out.filter(_.getAs[Boolean]("is_outlier"))
    assert(flagged.length === 1)
    assert(flagged.head.getAs[Long]("revenue_cents") === 10000L)
  }

  test("withGroupedRankCumSum matches per-group window semantics") {
    import org.apache.spark.sql.functions._
    val d = Seq(("g1", "a", 5L), ("g1", "b", 3L), ("g1", "c", 2L),
      ("g2", "x", 7L), ("g2", "y", 1L))
      .toDF("g", "k", "v")
    val r = graft.operators.Ranks.withGroupedRankCumSum(
        d, Seq("g"), "v", "rnk", "cum", "tot",
        Seq(col("v").desc, col("k")))
      .collect().map(x => (x.getAs[String]("g"), x.getAs[String]("k")) ->
        (x.getAs[Long]("rnk"), x.getAs[Long]("cum"), x.getAs[Long]("tot"))).toMap
    graft.CacheTracker.drainAll(spark)
    assert(r(("g1", "a")) === ((1L, 5L, 10L)))
    assert(r(("g1", "b")) === ((2L, 8L, 10L)))
    assert(r(("g1", "c")) === ((3L, 10L, 10L)))
    assert(r(("g2", "x")) === ((1L, 7L, 8L)))
    assert(r(("g2", "y")) === ((2L, 8L, 8L)))
  }

  test("vocabTopP keeps the crossing token and drops the tail") {
    val d = Seq((1L, "a a a a a a a a b c", "en", "s1", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.LangModel.vocabTopP(d).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(r.getAs[Long]("n_vocab") === 3L)
    assert(r.getAs[Long]("n_kept") === 2L) // a (mass 0.8) + b (crosses 0.9)
    assert(r.getAs[Double]("mass_kept") === 0.9)
  }

  test("diffInDiff subtracts the control trend from the treated lift") {
    val d = events(
      (1L, 1L, "2024-01-01 12:00:00", "purchase", 1.0), // treated pre: 100
      (2L, 1L, "2024-01-09 12:00:00", "purchase", 3.0), // treated post: 300
      (3L, 2L, "2024-01-01 12:00:00", "purchase", 1.0), // ctrl pre: 100
      (4L, 2L, "2024-01-09 12:00:00", "purchase", 2.0)) // ctrl post: 200
    val r = graft.operators.Relational.diffInDiff(d).collect().head
    assert(r.getAs[Double]("mean_treat_post") === 300.0)
    assert(r.getAs[Double]("mean_ctrl_post") === 200.0)
    assert(r.getAs[Double]("did_cents") === 100.0) // 200 lift - 100 trend
  }

  test("sessionGapSweep: one lag pass yields the session count per threshold") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 10:20:00", "click", 0.0),  // gap 20 min
      (3L, 1L, "2024-01-01 10:59:00", "click", 0.0))  // gap 39 min
    val out = graft.operators.Sessionize.sessionGapSweep(d)
      .orderBy("gap_minutes").collect()
    assert(out.map(_.getAs[Long]("n_sessions")).toSeq === Seq(3L, 2L, 1L))
    assert(out(1).getAs[Double]("avg_session_events") === 1.5)
  }

  test("growthAccounting routes every user through the four flows") {
    // epoch weeks break on Thursday 00:00 UTC; Jan 4/11/18 2024 are Thursdays
    val d = events(
      (1L, 1L, "2024-01-04 12:00:00", "click", 0.0), // u1: w0, w1 (retained)
      (2L, 1L, "2024-01-11 12:00:00", "click", 0.0),
      (3L, 2L, "2024-01-04 12:00:00", "click", 0.0), // u2: w0 only (churns)
      (4L, 3L, "2024-01-04 12:00:00", "click", 0.0), // u3: w0, w2 (resurrects)
      (5L, 3L, "2024-01-18 12:00:00", "click", 0.0))
    val out = graft.operators.Relational.growthAccounting(d)
      .orderBy("week_idx").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("n_new") === 3L)
    assert(out(0).getAs[Long]("n_churned") === 0L)
    assert(out(1).getAs[Long]("n_retained") === 1L)
    assert(out(1).getAs[Long]("n_churned") === 2L) // u2 gone, u3 skipped w1
    assert(out(2).getAs[Long]("n_resurrected") === 1L)
    assert(out(2).getAs[Long]("n_churned") === 1L) // u1 gone after w1
    assert(out(2).getAs[Double]("quick_ratio") === 1.0)
  }

  test("tokenLabelProp merges chained bigrams into one community") {
    val d = Seq(
      (1L, "a b", "en", "s1", 3L), (2L, "b c", "en", "s1", 3L),
      (3L, "x y", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Graph.tokenLabelProp(d).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    assert(out.keySet === Set("a", "x"))
    assert(out("a").getAs[Long]("n_tokens") === 3L) // {a, b, c}
    assert(out("a").getAs[String]("max_token") === "c")
    assert(out("x").getAs[Long]("n_tokens") === 2L) // {x, y}
  }

  test("casingProfile separates SHOUTING from Title and prose tokens") {
    val d = Seq((1L, "NEW War is here", "en", "s1", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.TextOps.casingProfile(d).collect().head
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Double]("allcaps_share") === 0.25)
    assert(r.getAs[Double]("capitalized_share") === 0.25)
    assert(r.getAs[Double]("lower_share") === 0.5)
    assert(r.getAs[Boolean]("shouty")) // 0.25 > 0.1
  }

  test("sessionEventPairs: lift 1 for independent types, exact conf") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 10:05:00", "view", 0.0), // same session as 1
      (3L, 2L, "2024-01-01 10:00:00", "click", 0.0))
    val out = graft.operators.Sessionize.sessionEventPairs(d).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("type_a") === "click")
    assert(r.getAs[String]("type_b") === "view")
    assert(r.getAs[Long]("n_ab") === 1L)
    assert(r.getAs[Double]("conf_a_b") === 0.5) // 1 of 2 click-sessions
    assert(r.getAs[Double]("lift") === 1.0)     // 1 * 2 / (2 * 1)
  }

  test("dupQualityGap charges the dropped copy at its own quality") {
    val hi = "the cat and the dog sat in the house quietly"
    val lo = "??? !!! ..."
    val d = Seq((1L, lo, "en", "s1", lo.length.toLong),
      (2L, lo, "en", "s2", lo.length.toLong), // copy of doc 1 -> dropped
      (3L, hi, "en", "s1", hi.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.operators.TextOps.qualityScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val r = graft.operators.Dedup.dupQualityGap(d).collect().head
    assert(r.getAs[Long]("n_keepers") === 2L)
    assert(r.getAs[Long]("n_dups") === 1L)
    assert(math.abs(r.getAs[Double]("mean_q_dups") - q(2L)) < 1e-5)
    assert(math.abs(r.getAs[Double]("mean_q_keepers") - (q(1L) + q(3L)) / 2) < 1e-5)
    assert(r.getAs[Double]("quality_gap") > 0)
  }

  test("pcaExplained recovers the 2x2 spectrum of a planted low-rank space") {
    // cov = [[5,-1],[-1,1]] on dims 1-2, zero elsewhere:
    // eigenvalues 3 ± sqrt(5), trace 6
    val rows = Seq(
      (0L, Array(1f, 1f)), (1L, Array(3f, -1f)),
      (2L, Array(5f, 1f)), (3L, Array(7f, -1f)))
      .map { case (id, xy) => (id, xy ++ Array.fill(6)(0f)) }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.pcaExplained(emb).collect()
      .map(r => r.getAs[Int]("component") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    val l1 = 3.0 + math.sqrt(5.0); val l2 = 3.0 - math.sqrt(5.0)
    assert(math.abs(out(1).getAs[Double]("eigenvalue") - l1) < 0.01)
    assert(math.abs(out(2).getAs[Double]("eigenvalue") - l2) < 0.01)
    assert(math.abs(out(1).getAs[Double]("trace") - 6.0) < 1e-6)
    assert(math.abs(out(1).getAs[Double]("explained_ratio")
      + out(2).getAs[Double]("explained_ratio") - 1.0) < 0.01)
  }

  test("rfmMigration joins per-half segments and conserves the customer base") {
    val rows = (1L to 4L).flatMap { c =>
      Seq((c * 10, c, "O", (100.0 * c), "2024-01-0" + c + " 12:00:00", "p"),
        (c * 10 + 1, c, "O", (200.0 * c), "2024-03-0" + c + " 12:00:00", "p"))
    }
    val orders = rows.map { case (ok, ck, st, tp, dt, pr) =>
      (ok, ck, st, tp, java.sql.Timestamp.valueOf(dt), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = graft.operators.Relational.rfmMigration(orders).collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.map(_.getAs[Long]("n_customers")).sum === 4L)
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-6)
    // every segment is a valid r*100+f*10+m code with digits 1..4
    out.foreach { r =>
      Seq(r.getAs[Long]("segment_h1"), r.getAs[Long]("segment_h2")).foreach { s =>
        assert(Seq(s / 100, s / 10 % 10, s % 10).forall(d => d >= 1 && d <= 4))
      }
    }
  }

  test("seasonalityAnova reads a pure weekly pattern as eta-squared 1") {
    // 14 days, value a function of day-of-week only -> SSW = 0
    val d = events((0L until 14L).map { i =>
      (i, i, f"2024-01-${i + 1}%02d 12:00:00", "purchase", 1.0 + i % 7)
    }: _*)
    val r = graft.operators.Relational.seasonalityAnova(d).collect().head
    assert(r.getAs[Long]("n_days") === 14L)
    assert(r.getAs[Long]("k_dow") === 7L)
    assert(math.abs(r.getAs[Double]("eta_sq") - 1.0) < 1e-9)
    assert(r.getAs[Double]("f_stat") === 0.0) // SSW = 0 -> guarded
  }

  test("transitionLatency reports exact gap quantiles per adjacent pair") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 10:01:00", "view", 0.0),
      (3L, 1L, "2024-01-01 10:03:00", "purchase", 0.0))
    val out = graft.operators.Sessionize.transitionLatency(d).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) -> r)
      .toMap
    assert(out.keySet === Set(("click", "view"), ("view", "purchase")))
    assert(out(("click", "view")).getAs[Double]("p50_s") === 60.0)
    assert(out(("view", "purchase")).getAs[Double]("p90_s") === 120.0)
  }

  test("bitextCandidates pairs cross-language docs on a rare shared bigram") {
    val d = Seq(
      (1L, "alpha beta x", "en", "s1", 12L),
      (2L, "alpha beta y", "fr", "s1", 12L),
      (3L, "alpha beta z", "en", "s1", 12L)) // "alpha beta" df = 3
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Similarity.bitextCandidates(d).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    // cross-lang pairs only: (1,2) and (3,2); the en-en pair is excluded
    assert(out === Set((1L, 2L), (3L, 2L)))
  }

  test("splitLeakage finds the test doc whose exact copy sits in train") {
    val d = Seq(
      (1L, "same text here", "en", "s1", 14L),  // train (1 % 4 = 1)
      (2L, "only in train", "en", "s1", 13L),   // train
      (3L, "same text here", "en", "s2", 14L),  // test (3 % 4 = 3), leaked
      (7L, "only in test", "en", "s1", 12L))    // test, clean
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.Dedup.splitLeakage(d).collect().head
    assert(r.getAs[Long]("n_train") === 2L)
    assert(r.getAs[Long]("n_test") === 2L)
    assert(r.getAs[Long]("n_leaked_hashes") === 1L)
    assert(r.getAs[Long]("n_leaked_test_docs") === 1L)
    assert(r.getAs[Double]("leaked_test_share") === 0.5)
  }

  test("dailyKpis folds events, DAU, purchases, revenue, ARPU into one row per day") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 2L, "2024-01-01 11:00:00", "purchase", 2.0),
      (3L, 2L, "2024-01-01 12:00:00", "view", 0.0))
    val r = graft.operators.Relational.dailyKpis(d).collect().head
    assert(r.getAs[Long]("n_events") === 3L)
    assert(r.getAs[Long]("n_active_users") === 2L)
    assert(r.getAs[Long]("n_purchases") === 1L)
    assert(r.getAs[Long]("revenue_cents") === 200L)
    assert(r.getAs[Double]("arpu_cents") === 100.0)
  }

  test("prefixDedupStats counts shared-prefix cache savings per k") {
    val shared = "a b c d x" // docs 1,2 share first-4 prefix "a b c d"
    val d = Seq(
      (1L, shared, "en", "s1", 9L),
      (2L, "a b c d y", "en", "s1", 9L),
      (3L, "e f g h z", "en", "s1", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.prefixDedupStats(d).collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    assert(out(4).getAs[Long]("n_groups") === 2L)
    assert(out(4).getAs[Long]("n_docs_sharing") === 2L)
    assert(out(4).getAs[Long]("tokens_saved") === 4L) // (2-1) * 4
    assert(out(8).getAs[Long]("n_docs_considered") === 0L) // all docs < 8 toks
  }

  test("contrastivePairs emits deterministic anchor/positive/negative triples") {
    // 80 tokens -> 2 chunks (win 64, stride 48): one positive pair per doc
    def longDoc(tok: String) = Seq.fill(80)(tok).mkString(" ")
    val d = Seq(
      (1L, longDoc("aa"), "en", "s1", 200L),
      (65L, longDoc("bb"), "en", "s1", 200L)) // same doc_id % 64 bucket as 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.contrastivePairs(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("neg_doc_id"), r.getAs[String]("negative_text"))).toMap
    assert(out.keySet === Set(1L, 65L))
    assert(out(1L)._1 === 65L) // doc 1's negative is the bucket max
    assert(out(65L)._1 === 1L) // the max doc falls back to the bucket min
    assert(out(1L)._2.startsWith("bb"))
    assert(out(65L)._2.startsWith("aa"))
  }

  test("frequentPaths3 slides 3-grams within one session") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 10:01:00", "view", 0.0),
      (3L, 1L, "2024-01-01 10:02:00", "purchase", 0.0),
      (4L, 1L, "2024-01-01 10:03:00", "view", 0.0))
    val out = graft.operators.Sessionize.frequentPaths3(d).collect()
      .map(r => r.getAs[String]("path3") -> r.getAs[Double]("support")).toMap
    assert(out.keySet === Set("click>view>purchase", "view>purchase>view"))
    assert(out("click>view>purchase") === 0.5)
  }

  test("userFeatures compacts the activity signals into one wide row") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 10:00:30", "purchase", 2.0), // same session
      (3L, 2L, "2024-01-03 10:00:00", "view", 0.0))
    val out = graft.operators.Relational.userFeatures(d).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_events") === 2L)
    assert(out(1L).getAs[Long]("n_sessions") === 1L)
    assert(out(1L).getAs[Long]("monetary_cents") === 200L)
    assert(out(1L).getAs[Long]("recency_days") === 2L) // vs user 2's horizon
    assert(out(1L).getAs[Double]("mean_gap_s") === 30.0)
    assert(out(2L).getAs[Long]("recency_days") === 0L)
    assert(out(2L).getAs[Double]("mean_gap_s") === 0.0)
  }

  test("priceVolumeMix effects sum back to the exact revenue delta") {
    val li = Seq(
      (1L, "2024-01-01 12:00:00", 10.0, 10.0, 0.0),  // H1: q 10, rev 1000c
      (1L, "2024-03-01 12:00:00", 20.0, 30.0, 0.0))  // H2: q 20, rev 3000c
      .map { case (pk, dt, q, ep, disc) =>
        (pk, java.sql.Timestamp.valueOf(dt), q, ep, disc) }
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice",
        "l_discount")
    val part = Seq((1L, "T")).toDF("p_partkey", "p_type")
    val r = graft.operators.Relational.priceVolumeMix(li, part).collect().head
    assert(r.getAs[Long]("delta_rev_cents") === 2000L)
    assert(r.getAs[Double]("volume_effect") === 1000.0) // +10 units at p1=100
    assert(r.getAs[Double]("price_effect") === 500.0)   // +50c on 10 units
    assert(r.getAs[Double]("mix_effect") === 500.0)     // +50c on +10 units
  }

  test("minhashPrEval scores the banding against exact-jaccard truth") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (1L, base, "en", "s1", 60L),
      (2L, base, "en", "s2", 60L), // identical -> jac 1, bands must catch it
      (3L, "completely different words in this other document here now", "en", "s1", 58L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.Dedup.minhashPrEval(d).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(r.getAs[Long]("n_truth") === 1L)
    assert(r.getAs[Long]("n_tp") === 1L)
    assert(r.getAs[Double]("recall") === 1.0)
    assert(r.getAs[Double]("precision") === 1.0)
  }

  test("filterVotePatterns tabulates the 2^3 ensemble vote census") {
    val hi = "the cat and the dog sat in the house quietly"
    val d = Seq(
      (1L, hi, "en", "s1", hi.length.toLong),
      (2L, "??? !!! ...", "zz", "s1", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.filterVotePatterns(d).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === 2L)
    val kept = out.filter(_.getAs[Boolean]("kept"))
    assert(kept.map(_.getAs[Long]("n_docs")).sum === 1L) // only the clean doc
    assert(kept.forall(r => r.getAs[Boolean]("q_vote") && r.getAs[Boolean]("g_vote")))
  }

  test("kmeansSilhouette scores tight planted clusters near 1") {
    // two tight blobs far apart on dim 1; k=2, dims=8
    val rows = (0L until 8L).map { i =>
      val base = if (i % 2 == 0) 0f else 100f  // vec_id 0,1 seed two blobs
      (i, Array(base + (i / 2).toFloat * 0.01f) ++ Array.fill(7)(0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.kmeansSilhouette(emb, k = 2)
      .collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("n_vecs")).sum === 8L)
    out.foreach(r => assert(r.getAs[Double]("mean_silhouette") > 0.99))
  }

  test("langJsMatrix: identical langs read 0, disjoint langs read ln 2") {
    val d = Seq(
      (1L, "a a b", "en", "s1", 5L),
      (2L, "a a b", "fr", "s1", 5L),
      (3L, "x y", "de", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.LangModel.langJsMatrix(d).collect()
      .map(r => (r.getAs[String]("lang_a"), r.getAs[String]("lang_b")) ->
        r.getAs[Double]("js")).toMap
    assert(out(("en", "fr")) === 0.0)
    assert(math.abs(out(("de", "en")) - math.log(2.0)) < 1e-5)
    assert(math.abs(out(("de", "fr")) - math.log(2.0)) < 1e-5)
  }

  test("supplierLeadtime measures exact floor-day order-to-ship latency") {
    val li = Seq((100L, 7L, "2024-01-05 06:00:00"))
      .map { case (ok, sk, sd) => (ok, sk, java.sql.Timestamp.valueOf(sd)) }
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val orders = Seq((100L, "2024-01-01 12:00:00"))
      .map { case (ok, od) => (ok, java.sql.Timestamp.valueOf(od)) }
      .toDF("o_orderkey", "o_orderdate")
    val supp = Seq((7L, "Acme")).toDF("s_suppkey", "s_name")
    val r = graft.operators.Relational
      .supplierLeadtime(li, orders, supp).collect().head
    assert(r.getAs[String]("s_name") === "Acme")
    assert(r.getAs[Double]("mean_days") === 3.0) // 3.75 days floors to 3
    assert(r.getAs[Double]("p50_days") === 3.0)
  }

  test("brandReturnRates charges returned cents to the right brand") {
    val li = Seq(
      (1L, "R", 10.0, 0.0),
      (1L, "N", 20.0, 0.0))
      .toDF("l_partkey", "l_returnflag", "l_extendedprice", "l_discount")
    val part = Seq((1L, "B1")).toDF("p_partkey", "p_brand")
    val r = graft.operators.Relational.brandReturnRates(li, part).collect().head
    assert(r.getAs[Long]("n_returned") === 1L)
    assert(r.getAs[Long]("returned_cents") === 1000L)
    assert(r.getAs[Double]("return_rate") === 0.5)
  }

  test("shapleyAttribution credits the converting channel over the lattice") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 11:00:00", "purchase", 5.0), // {click} converts
      (3L, 2L, "2024-01-01 10:00:00", "click", 0.0),
      (4L, 2L, "2024-01-01 11:00:00", "purchase", 5.0), // {click} converts
      (5L, 3L, "2024-01-01 10:00:00", "view", 0.0))     // {view} does not
    val out = graft.operators.Sessionize.shapleyAttribution(d).collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Double]("shapley_value"))
      .toMap
    graft.CacheTracker.drainAll(spark)
    // v({click}) = 1, v({view}) = 0, everything else unobserved (0):
    // phi_click = 6 * (1 - 0) / 24 = 0.25; every other channel's only
    // nonzero term is S={click}: 2 * (v({click,c}) - v({click})) / 24
    // = 2 * (0 - 1) / 24 — joining a winning coalition it can't improve
    assert(out("click") === 0.25)
    assert(out("view") === -0.083333)
    assert(out("error") === -0.083333)
    assert(out("signup") === -0.083333)
  }

  test("bigramGreedyGen follows the argmax chain and stops at dead ends") {
    // "a b" dominates; from b only "b c" exists once; c is a dead end
    val d = Seq(
      (1L, "a b", "en", "s1", 3L), (2L, "a b", "en", "s1", 3L),
      (3L, "a b c", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.LangModel.bigramGreedyGen(d).collect()
      .sortBy(_.getAs[Int]("step"))
    graft.CacheTracker.drainAll(spark)
    // seed = most frequent token: a and b tie at 3 -> 'a' lexicographic
    assert(out.map(r => (r.getAs[Int]("step"), r.getAs[String]("token"))).toSeq
      === Seq((0, "a"), (1, "b"), (2, "c"))) // then dead end: chain stops
  }

  test("touchesToConvert histograms pre-purchase journey lengths") {
    val d = events(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 1L, "2024-01-01 10:01:00", "click", 0.0),
      (3L, 1L, "2024-01-01 10:02:00", "purchase", 5.0), // 2 touches
      (4L, 2L, "2024-01-01 10:00:00", "purchase", 5.0), // 0 touches
      (5L, 3L, "2024-01-01 10:00:00", "view", 0.0))     // never converts
    val out = graft.operators.Sessionize.touchesToConvert(d).collect()
      .map(r => r.getAs[Long]("n_touches") -> r.getAs[Double]("share")).toMap
    assert(out === Map(2L -> 0.5, 0L -> 0.5))
  }

  test("filterAttritionBySource charges each gate failure to its feed") {
    val hi = "the cat and a dog sat in an old house quietly watching birds " +
      "outside while it rained all day and everyone stayed warm inside" // > 100 chars, low repetition
    val d = Seq(
      (1L, hi, "en", "good", hi.length.toLong),
      (2L, hi, "en", "copier", hi.length.toLong), // dup of doc 1
      (3L, "??? !!!", "en", "junky", 7L))         // short + low quality
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.filterAttritionBySource(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("good").getAs[Double]("keep_rate") === 1.0)
    assert(out("copier").getAs[Long]("dup_n") === 1L)
    assert(out("copier").getAs[Double]("keep_rate") === 0.0)
    assert(out("junky").getAs[Long]("short_n") === 1L)
    assert(out("junky").getAs[Long]("quality_n") === 1L)
  }

  test("dupSourceMatrix charges the lifted paragraph to the copying feed") {
    // doc 1 owns the 8-token chunk; doc 2 (other source) lifts it
    val chunk = "one two three four five six seven eight"
    val d = Seq(
      (1L, chunk, "en", "origin", 39L),
      (2L, chunk, "en", "copier", 39L),
      (3L, "totally different other words here now exist fine", "en", "origin", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Dedup.dupSourceMatrix(d).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("keeper_source") === "origin")
    assert(out.head.getAs[String]("dup_source") === "copier")
    assert(out.head.getAs[Long]("n_dups") === 1L)
  }

  test("embedDimCorr flags perfectly coupled dims and clears independent ones") {
    // dim2 = 2 * dim1 (corr 1); dim3 alternates independently
    val emb = Seq(
      (0L, Array(1f, 2f, 1f)), (1L, Array(2f, 4f, -1f)),
      (2L, Array(3f, 6f, 1f)), (3L, Array(4f, 8f, -1f)))
      .map { case (id, v) => (id, v ++ Array.fill(5)(0f)) }
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.embedDimCorr(emb).collect()
      .map(r => (r.getAs[Long]("dim_i"), r.getAs[Long]("dim_j")) -> r).toMap
    assert(out((1L, 2L)).getAs[Double]("corr") === 1.0)
    assert(out((1L, 2L)).getAs[Boolean]("redundant"))
    assert(math.abs(out((1L, 3L)).getAs[Double]("corr")) < 0.5)
    assert(!out((1L, 3L)).getAs[Boolean]("redundant"))
  }

  test("revenueGrowthAccounting splits monthly cents into the four flows") {
    val d = events(
      (1L, 1L, "2024-01-10 12:00:00", "purchase", 1.0), // u1 m1
      (2L, 1L, "2024-02-10 12:00:00", "purchase", 2.0), // u1 m2: repeat
      (3L, 2L, "2024-01-15 12:00:00", "purchase", 5.0), // u2 m1 only: churns
      (4L, 3L, "2024-01-20 12:00:00", "purchase", 3.0), // u3 m1
      (5L, 3L, "2024-03-20 12:00:00", "purchase", 4.0)) // u3 m3: resurrects
    val out = graft.operators.Relational.revenueGrowthAccounting(d)
      .orderBy("month_idx").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("new_cents") === 900L)
    assert(out(1).getAs[Long]("repeat_cents") === 200L)
    assert(out(1).getAs[Long]("churned_cents") === 800L) // u2 500 + u3 300
    assert(math.abs(out(1).getAs[Double]("revenue_retention") - 200.0 / 900) < 1e-5)
    assert(out(2).getAs[Long]("resurrected_cents") === 400L)
    assert(out(2).getAs[Long]("churned_cents") === 200L) // u1 leaves after m2
  }

  test("priorityLeadtime groups exact floor-day latency by priority") {
    val li = Seq((1L, "2024-01-03 12:00:00"), (2L, "2024-01-09 12:00:00"))
      .map { case (ok, sd) => (ok, java.sql.Timestamp.valueOf(sd)) }
      .toDF("l_orderkey", "l_shipdate")
    val orders = Seq((1L, "1-URGENT", "2024-01-01 12:00:00"),
      (2L, "5-LOW", "2024-01-01 12:00:00"))
      .map { case (ok, pr, od) => (ok, pr, java.sql.Timestamp.valueOf(od)) }
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    val out = graft.operators.Relational.priorityLeadtime(li, orders)
      .collect().map(r => r.getAs[String]("o_orderpriority") ->
        r.getAs[Double]("p50_days")).toMap
    assert(out === Map("1-URGENT" -> 2.0, "5-LOW" -> 8.0))
  }

  test("spendHhi: equal customers give hhi 1/n, a monopolist gives 1") {
    val eq = (1L to 4L).map(c => (c * 10, c, 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val r1 = graft.operators.Relational.spendHhi(eq).collect().head
    assert(r1.getAs[Double]("hhi") === 0.25)
    assert(r1.getAs[Double]("effective_n") === 4.0)
    val mono = Seq((1L, 1L, 5.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val r2 = graft.operators.Relational.spendHhi(mono).collect().head
    assert(r2.getAs[Double]("hhi") === 1.0)
  }

  test("zipfAbbreviation fits shorter-means-more-frequent as a negative slope") {
    // 'aa' x4 (short, frequent), 'bbbb' x2 (long, rare)
    val d = Seq((1L, "aa aa aa aa bbbb bbbb", "en", "s1", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.LangModel.zipfAbbreviation(d).collect().head
    assert(r.getAs[Long]("n_tokens") === 2L)
    val slope = -2.0 / math.log(2.0)
    assert(math.abs(r.getAs[Double]("slope_len_per_lnf") - slope) < 1e-4)
    assert(math.abs(r.getAs[Double]("intercept_len") - 6.0) < 1e-4)
  }

  test("repurchaseIntervals profiles consecutive purchase gaps") {
    val d = events(
      (1L, 1L, "2024-01-01 12:00:00", "purchase", 1.0),
      (2L, 1L, "2024-01-11 12:00:00", "purchase", 1.0), // gap 10 d
      (3L, 1L, "2024-01-31 12:00:00", "purchase", 1.0), // gap 20 d
      (4L, 2L, "2024-01-05 12:00:00", "purchase", 1.0)) // single buyer
    val r = graft.operators.Relational.repurchaseIntervals(d).collect().head
    assert(r.getAs[Long]("n_buyers") === 2L)
    assert(r.getAs[Long]("n_repeat") === 1L)
    assert(r.getAs[Double]("repeat_share") === 0.5)
    assert(r.getAs[Long]("n_gaps") === 2L)
    assert(r.getAs[Double]("p50_days") === 15.0)
  }

  test("customerValueTrend classifies ramping vs fading accounts") {
    // u1 orders 100 -> 200 -> 300 cents (slope +100); u2 300 -> 200 -> 100;
    // u3 has only 2 orders: excluded from the fit
    val rows = Seq(
      (1L, 1L, "2024-01-01", 1.0), (2L, 1L, "2024-02-01", 2.0),
      (3L, 1L, "2024-03-01", 3.0),
      (4L, 2L, "2024-01-01", 3.0), (5L, 2L, "2024-02-01", 2.0),
      (6L, 2L, "2024-03-01", 1.0),
      (7L, 3L, "2024-01-01", 1.0), (8L, 3L, "2024-02-01", 1.0))
    val orders = rows.map { case (ok, ck, d, v) =>
      (ok, ck, java.sql.Timestamp.valueOf(d + " 12:00:00"), v) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val r = graft.operators.Relational.customerValueTrend(orders).collect().head
    assert(r.getAs[Long]("n_customers_fit") === 2L)
    assert(r.getAs[Long]("n_growing") === 1L)
    assert(r.getAs[Long]("n_shrinking") === 1L)
    assert(r.getAs[Double]("growing_share") === 0.5)
    assert(r.getAs[Double]("mean_slope_cents_per_order") === 0.0) // +100, -100
  }

  test("lshProbeSweep: one bit-flip recovers the boundary-crossing neighbor") {
    // query sits just above the 4th hyperplane; its true nearest sits
    // just below it — invisible at h=0, found at h=1
    val emb = Seq(
      (0L, Array(1f, 1f, 1f, 0.1f)),   // query, bucket 1111
      (1L, Array(1f, 1f, 1f, -0.1f)),  // true top-1, bucket 1110
      (2L, Array(1f, 0.5f, 0.5f, 0.5f))) // same-bucket distractor
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .lshProbeSweep(emb, maxQueryId = 1, k = 1)
      .collect().map(r => r.getAs[Int]("h") -> r.getAs[Double]("recall")).toMap
    assert(out(0) === 0.0)
    assert(out(1) === 1.0)
    assert(out(2) === 1.0)
  }

  test("asof_join_nearest picks the |gap| argmin of both sweep directions") {
    assumeTestdata()
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("asof_join_nearest")(spark, dir)
    // brute force on the tiny sf: min |gap| over ALL same-user clicks
    import org.apache.spark.sql.functions._
    val ev = SparkEntry.normalizeEventTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us")).distinct()
    val brute = p.join(c, "user_id")
      .groupBy("event_id").agg(min(abs(col("us") - col("click_us"))).as("min_gap"))
    val got = out.select(col("event_id"), abs(col("gap_us")).as("g"))
    val joined = got.join(brute, "event_id")
      .filter(col("g") =!= col("min_gap"))
    assert(joined.count() === 0L)
    assert(out.count() === brute.count()) // inner semantics: same coverage
  }
}
