package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.when
import graft.operators.Eval

/** Round-12d operators: classifier-evaluation suite (exact ROC AUC,
  * PR sweep, McNemar paired test, reliability/Brier bins). */
class Round12dSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*): DataFrame =
    rows.map { case (id, text, lang) => (id, text, lang, "s1", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // quality 1.0: >=20 chars, no punctuation, stopword-rich
  private val hi = "the cat and the dog sat in the house quietly"
  // quality ~0.05: short punctuation soup, no stopwords
  private val lo = "??? !!! ..."

  test("rocAuc: perfectly separated scores give AUC 1") {
    val d = docs((1L, hi, "en"), (2L, hi, "en"), (3L, lo, "fr"), (4L, lo, "de"))
    val r = Eval.rocAuc(d).collect()
    graft.CacheTracker.drainAll(spark)
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_pos") === 2L)
    assert(r.head.getAs[Long]("n_neg") === 2L)
    assert(r.head.getAs[Long]("n_scores") === 2L)
    assert(r.head.getAs[Double]("auc") === 1.0)
  }

  test("rocAuc: tied scores earn half credit (AUC 0.5)") {
    val d = docs((1L, hi, "en"), (2L, hi, "fr"))
    val r = Eval.rocAuc(d).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(r.getAs[Double]("auc") === 0.5)
  }

  test("rocAuc: inverted ranking gives AUC 0") {
    val d = docs((1L, lo, "en"), (2L, hi, "fr"))
    val r = Eval.rocAuc(d).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(r.getAs[Double]("auc") === 0.0)
  }

  test("prCurve: cumulative tp/fp sweep down the thresholds") {
    val d = docs((1L, hi, "en"), (2L, hi, "en"), (3L, lo, "fr"))
    val rows = Eval.prCurve(d).orderBy($"threshold".desc).collect()
    graft.CacheTracker.drainAll(spark)
    assert(rows.length === 2)
    val top = rows(0) // t = 1.0: both positives in, no negatives
    assert(top.getAs[Long]("tp") === 2L && top.getAs[Long]("fp") === 0L &&
      top.getAs[Long]("fn") === 0L)
    assert(top.getAs[Double]("precision") === 1.0 &&
      top.getAs[Double]("recall") === 1.0 && top.getAs[Double]("f1") === 1.0)
    val bot = rows(1) // t = low score: everything predicted positive
    assert(bot.getAs[Long]("tp") === 2L && bot.getAs[Long]("fp") === 1L)
    assert(math.abs(bot.getAs[Double]("precision") - 0.666667) < 1e-6)
    assert(bot.getAs[Double]("recall") === 1.0)
    assert(math.abs(bot.getAs[Double]("f1") - 0.8) < 1e-6)
  }

  test("mcnemarTest counts only the discordant cells") {
    val d = docs(
      (1L, "the cat and dog", "en"),      // A:2 stops T, B: markers T -> both right
      (2L, "cat dog is", "en"),           // A: 1 stop -> F (wrong), B: 'is' -> T (right): c
      (3L, "le chat query", "fr"),        // A: F (right), B: 'query' -> T (wrong): b
      (4L, "le chat et le chien", "fr"))  // both predict F -> both right
    val r = Eval.mcnemarTest(d).collect()
    assert(r.length === 1)
    val m = r.head
    assert(m.getAs[Long]("n") === 4L)
    assert(m.getAs[Long]("b_cell") === 1L)
    assert(m.getAs[Long]("c_cell") === 1L)
    assert(m.getAs[Double]("acc_a") === 0.75)
    assert(m.getAs[Double]("acc_b") === 0.75)
    // (|1-1| - 1)^2 / (1+1) = 0.5 with continuity correction
    assert(m.getAs[Double]("chi2") === 0.5)
  }

  test("mcnemarTest: zero discordance reports chi2 = 0, not a 0/0") {
    val d = docs((1L, "the cat and dog", "en"), (2L, "le chat et chien", "fr"))
    val m = Eval.mcnemarTest(d).collect().head
    assert(m.getAs[Long]("b_cell") === 0L && m.getAs[Long]("c_cell") === 0L)
    assert(m.getAs[Double]("chi2") === 0.0)
  }

  test("calibrationBins: micro-unit Brier matches the closed form") {
    val d = docs((1L, hi, "en"))
    // quality 1.0 -> p = sigma(2) = 0.880797 (6 dp), bin 8
    val rows = Eval.calibrationBins(d).collect()
    assert(rows.length === 1)
    val b = rows.head
    assert(b.getAs[Long]("bin") === 8L)
    assert(b.getAs[Long]("n") === 1L && b.getAs[Long]("n_pos") === 1L)
    assert(math.abs(b.getAs[Double]("mean_p") - 0.880797) < 1e-9)
    assert(b.getAs[Double]("frac_pos") === 1.0)
    val expectedBrier = math.pow(1.0 - 0.880797, 2)
    assert(math.abs(b.getAs[Double]("brier") - expectedBrier) < 1e-6)
  }

  test("calibrationBins: a perfectly calibrated bin has frac_pos near mean_p") {
    // two identical-score docs, one positive: frac_pos 0.5 in the bin
    val d = docs((1L, hi, "en"), (2L, hi, "fr"))
    val b = Eval.calibrationBins(d).collect().head
    assert(b.getAs[Long]("n") === 2L)
    assert(b.getAs[Double]("frac_pos") === 0.5)
  }

  test("gloveCooc: 1/d micro-unit weights over the forward window") {
    val d = docs((1L, "a b a c", "en"))
    val rows = graft.operators.TextOps.gloveCooc(d, 5, 1).collect()
      .map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("weight"))).toMap
    // centers: a1->(b,1)(a,2)(c,3); b2->(a,1)(c,2); a3->(c,1)
    assert(rows(("a", "b")) === ((2L, 2.0)))          // d=1 twice
    assert(rows(("a", "a")) === ((1L, 0.5)))          // d=2 once
    assert(rows(("a", "c"))._1 === 2L)                // d=3 + d=1
    assert(math.abs(rows(("a", "c"))._2 - 1.333333) < 1e-9)
    assert(rows(("b", "c")) === ((1L, 0.5)))          // d=2 once
  }

  test("gloveCooc: default threshold drops singleton pairs") {
    val d = docs((1L, "a b a c", "en"))
    val pairs = graft.operators.TextOps.gloveCooc(d).collect()
      .map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b"))).toSet
    assert(pairs === Set(("a", "b"), ("a", "c")))
  }

  private def baskets(rows: (Long, Long)*): (DataFrame, DataFrame) = {
    // one order per customer; items as lineitem rows
    val li = rows.zipWithIndex.map { case ((cust, item), i) =>
      (cust * 1000L, item, i + 1) }
      .toDF("l_orderkey", "l_partkey", "l_linenumber")
    val ord = rows.map(_._1).distinct.map(c => (c * 1000L, c))
      .toDF("o_orderkey", "o_custkey")
    (li, ord)
  }

  test("itemCfScores: cosine from co-occurrence and item frequencies") {
    val (li, ord) = baskets(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L))
    val out = graft.operators.Relational.itemCfScores(li, ord).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("item_a") === 1L && r.getAs[Long]("item_b") === 2L)
    assert(r.getAs[Long]("n_a") === 3L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("n_co") === 2L)
    assert(math.abs(r.getAs[Double]("cosine") - 2.0 / math.sqrt(6.0)) < 1e-6)
  }

  test("itemCfScores: whale baskets are excluded before the pair expansion") {
    val whale = (1L to 60L).map(i => (9L, 100L + i))
    val (li, ord) = baskets(
      (Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)) ++ whale): _*)
    val out = graft.operators.Relational.itemCfScores(li, ord).collect()
    // the 60-item whale contributes no pairs; items 1,2 still co-occur
    assert(out.length === 1 && out.head.getAs[Long]("n_co") === 2L)
  }

  private def ev(rows: (Long, Long, String)*): DataFrame =
    rows.map { case (e, u, t) =>
      (e, u, java.sql.Timestamp.valueOf(t), "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("survivalCurve: censoring keeps horizon-active users out of the deaths") {
    val events = ev(
      (1L, 1L, "2024-01-01 00:00:00"), (2L, 1L, "2024-01-03 00:00:00"),   // dur 2, churned
      (3L, 2L, "2024-01-01 00:00:00"), (4L, 2L, "2024-01-21 00:00:00"),   // dur 20, censored
      (5L, 3L, "2024-01-01 00:00:00"), (6L, 3L, "2024-01-11 00:00:00"))   // dur 10, churned
    val out = graft.operators.Relational.survivalCurve(events)
      .orderBy("duration_days").collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 3)
    val t2 = out(0)
    assert(t2.getAs[Long]("duration_days") === 2L)
    assert(t2.getAs[Long]("n_risk") === 3L && t2.getAs[Long]("n_churned") === 1L)
    assert(math.abs(t2.getAs[Double]("survival") - 0.666667) < 1e-6)
    val t10 = out(1)
    assert(t10.getAs[Long]("n_risk") === 2L && t10.getAs[Long]("n_churned") === 1L)
    assert(math.abs(t10.getAs[Double]("survival") - 0.333333) < 1e-6)
    val t20 = out(2)
    assert(t20.getAs[Long]("n_churned") === 0L &&
      t20.getAs[Long]("n_censored") === 1L)
    assert(math.abs(t20.getAs[Double]("survival") - 0.333333) < 1e-6)
  }

  test("survivalCurve: everyone churning at the last duration pins S to 0") {
    val events = ev(
      (1L, 1L, "2024-01-01 00:00:00"), (2L, 1L, "2024-01-02 00:00:00"),
      (3L, 2L, "2024-01-01 00:00:00"), (4L, 2L, "2024-01-02 00:00:00"),
      // horizon-setter far in the future so users 1,2 count as churned
      (5L, 3L, "2024-03-01 00:00:00"))
    val out = graft.operators.Relational.survivalCurve(events)
      .orderBy("duration_days").collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 2)
    // t=0: the horizon user (single event, censored) — nobody churns
    val t0 = out(0)
    assert(t0.getAs[Long]("duration_days") === 0L)
    assert(t0.getAs[Long]("n_risk") === 3L && t0.getAs[Long]("n_churned") === 0L)
    assert(t0.getAs[Double]("survival") === 1.0)
    // t=1: both remaining users churn -> zero factor pins S to exactly 0
    val t1 = out(1)
    assert(t1.getAs[Long]("n_risk") === 2L && t1.getAs[Long]("n_churned") === 2L)
    assert(t1.getAs[Double]("survival") === 0.0)
  }

  private def spendEv(rows: (Long, Long, String, Double)*): DataFrame =
    rows.map { case (e, u, t, v) =>
      (e, u, java.sql.Timestamp.valueOf(t), "purchase", v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("cupedAdjust: pooled theta shifts each variant by its covariate gap") {
    // days Jan 1-4, midpoint Jan 3: pre = Jan 1-2, post = Jan 3-4
    val events = spendEv(
      (1L, 2L, "2024-01-01 10:00:00", 100.0), (2L, 2L, "2024-01-03 10:00:00", 110.0),
      (3L, 4L, "2024-01-02 10:00:00", 200.0), (4L, 4L, "2024-01-04 10:00:00", 190.0),
      (5L, 1L, "2024-01-01 10:00:00", 300.0), (6L, 1L, "2024-01-03 10:00:00", 320.0))
    val out = graft.operators.Relational.cupedAdjust(events).collect()
      .map(r => r.getAs[Long]("variant") -> r).toMap
    // exact rational theta: cov/var = 70e6/66.667e6 = 1.05
    assert(math.abs(out(0L).getAs[Double]("theta") - 1.05) < 1e-6)
    val v0 = out(0L) // users 2,4: mean_x 15000, mean_y 15000 cents
    assert(v0.getAs[Long]("n_users") === 2L)
    assert(v0.getAs[Double]("mean_x_cents") === 15000.0)
    assert(v0.getAs[Double]("mean_y_cents") === 15000.0)
    // adj = 15000 - 1.05 * (15000 - 20000) = 20250
    assert(math.abs(v0.getAs[Double]("mean_y_adj_cents") - 20250.0) < 1e-6)
    val v1 = out(1L) // user 1: mean_x 30000, mean_y 32000
    // adj = 32000 - 1.05 * (30000 - 20000) = 21500
    assert(math.abs(v1.getAs[Double]("mean_y_adj_cents") - 21500.0) < 1e-6)
  }

  test("equiDepthHistogram: NTILE-exact near-equal bucket depths") {
    val orders = (1 to 20).map(i => (i.toLong, i.toDouble))
      .toDF("o_orderkey", "o_totalprice")
    val out = graft.operators.Relational.equiDepthHistogram(orders)
      .orderBy("bucket").collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 10)
    assert(out.forall(_.getAs[Long]("n_orders") === 2L))
    val b1 = out.head
    assert(b1.getAs[Long]("min_cents") === 100L && b1.getAs[Long]("max_cents") === 200L)
    assert(b1.getAs[Long]("sum_cents") === 300L)
    assert(b1.getAs[Double]("avg_cents") === 150.0)
    val b10 = out.last
    assert(b10.getAs[Long]("min_cents") === 1900L && b10.getAs[Long]("max_cents") === 2000L)
  }

  test("sessionConcurrency: inclusive ends overlap a start at the same instant") {
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00"), (2L, 1L, "2024-01-01 10:10:00"), // u1 session
      (3L, 2L, "2024-01-01 10:05:00"), (4L, 2L, "2024-01-01 10:15:00"), // overlaps u1
      (5L, 3L, "2024-01-01 12:00:00"),                                   // lone later
      (6L, 4L, "2024-01-01 10:10:00"))                                   // starts AT u1 end
    val out = graft.operators.Sessionize.sessionConcurrency(events).collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 1)
    val d = out.head
    // at 10:10 the sweep sees u1+u2 still open and u4 starting -> 3
    assert(d.getAs[Long]("max_concurrent") === 3L)
    assert(d.getAs[Long]("n_sessions_started") === 4L)
  }

  test("jmBigram: interpolation between train ML and the unigram floor") {
    // train: doc 1 (doc_id % 10 < 8); held-out: doc 8
    val d = docs((1L, "a b a b", "en"), (8L, "a b c", "en"))
    val out = graft.operators.LangModel.jmBigram(d).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) -> r).toMap
    // (a,b): seen twice in train; unigrams a:2 b:2, N=4 V=2
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("c_bigram") === 2L && ab.getAs[Long]("c_w1") === 2L)
    // 0.7 * 2/2 + 0.3 * (2+1)/(4+2) = 0.85
    assert(math.abs(ab.getAs[Double]("p_jm") - 0.85) < 1e-6)
    // (b,c): unseen bigram AND unseen w2 -> pure smoothed floor
    val bc = out(("b", "c"))
    assert(bc.getAs[Long]("c_bigram") === 0L && bc.getAs[Long]("c_w2") === 0L)
    assert(math.abs(bc.getAs[Double]("p_jm") - 0.05) < 1e-6)
  }

  test("freqOfFreqs: Good-Turing adjusted counts from the class above") {
    val d = docs((1L, "a a a b b c", "en"))
    val out = graft.operators.TextOps.freqOfFreqs(d).collect()
      .map(r => r.getAs[Long]("c") -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L).getAs[Long]("n_types") === 1L)
    assert(out(1L).getAs[Double]("c_star") === 2.0) // (1+1) * N_2/N_1
    assert(out(2L).getAs[Double]("c_star") === 3.0)
    assert(out(3L).isNullAt(out(3L).fieldIndex("c_star"))) // no N_4
  }

  test("liftDeciles: top deciles capture the positives") {
    val d = docs((1L, hi, "en"), (2L, hi, "en"), (3L, lo, "fr"), (4L, lo, "de"))
    val out = Eval.liftDeciles(d).orderBy("decile").collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 4) // n < k: one row per rank
    assert(out(0).getAs[Double]("pos_rate") === 1.0)
    assert(out(0).getAs[Double]("cum_gain") === 0.5)
    assert(out(0).getAs[Double]("lift") === 2.0) // 1.0 / base 0.5
    assert(out(1).getAs[Double]("cum_gain") === 1.0)
    assert(out(2).getAs[Double]("pos_rate") === 0.0)
    assert(out(3).getAs[Double]("cum_gain") === 1.0)
  }

  test("heapsLawFit: two boundaries fit V = k N^beta exactly") {
    // boundaries: (N=2, V=2) then (N=6, V=4)
    val d = docs((1L, "a b", "en"), (2L, "a b c d", "en"))
    val r = graft.operators.LangModel.heapsLawFit(d).collect()
    graft.CacheTracker.drainAll(spark)
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_points") === 2L)
    // beta = ln(4/2) / ln(6/2) = ln 2 / ln 3
    assert(math.abs(r.head.getAs[Double]("beta") - math.log(2) / math.log(3)) < 1e-4)
    // k = V / N^beta at either point
    val beta = r.head.getAs[Double]("beta")
    assert(math.abs(r.head.getAs[Double]("k") - 2.0 / math.pow(2.0, beta)) < 1e-3)
  }

  test("classReport: per-class rows localize what the aggregate hides") {
    val d = docs(
      (1L, "the cat", "en"),    // markers hit -> pred en (tp)
      (2L, "zzz qqq www", "en"),// no markers -> pred und (miss)
      (3L, "le chat est la", "fr")) // fr markers -> pred fr (tp)
    val out = Eval.classReport(d).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    assert(out.keySet === Set("en", "fr")) // only TRUE labels get rows
    val en = out("en")
    assert(en.getAs[Long]("support") === 2L && en.getAs[Long]("tp") === 1L)
    assert(en.getAs[Double]("precision") === 1.0)
    assert(en.getAs[Double]("recall") === 0.5)
    assert(math.abs(en.getAs[Double]("f1") - 0.666667) < 1e-6)
    val fr = out("fr")
    assert(fr.getAs[Double]("f1") === 1.0)
  }

  test("topMovers ranks by absolute WoW delta; first-week types skipped") {
    val events = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "click", 100.0),
      (2L, 1L, "2024-01-08 10:00:00", "click", 300.0),
      (3L, 2L, "2024-01-01 10:00:00", "view", 500.0),
      (4L, 2L, "2024-01-08 10:00:00", "view", 450.0),
      (5L, 3L, "2024-01-08 10:00:00", "error", 10.0)) // no prior week
      .map { case (e, u, t, ty, v) =>
        (e, u, java.sql.Timestamp.valueOf(t), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = graft.operators.Relational.topMovers(events).orderBy("rank").collect()
    assert(out.length === 2)
    assert(out(0).getAs[String]("event_type") === "click")
    assert(out(0).getAs[Long]("delta_cents") === 20000L)
    assert(out(1).getAs[String]("event_type") === "view")
    assert(out(1).getAs[Long]("delta_cents") === -5000L)
  }

  test("ivfCellBalance: hot cells read as load factor above 1") {
    val emb = Seq(
      (1L, Array(0.5f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 9f, 9f), 0),
      (2L, Array(0.9f, 0.8f, 0.7f, 0.6f, 0.5f, 0.4f, -9f, -9f), 0),
      (3L, Array(-0.5f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 9f, 9f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.ivfCellBalance(emb).collect()
      .map(r => r.getAs[String]("cell") -> r).toMap
    assert(out.keySet === Set("111111", "011111")) // dims 7-8 ignored
    val hot = out("111111")
    assert(hot.getAs[Long]("n_vecs") === 2L)
    assert(hot.getAs[Long]("n_cells_used") === 2L)
    assert(math.abs(hot.getAs[Double]("share") - 0.666667) < 1e-6)
    assert(math.abs(hot.getAs[Double]("load_factor") - 42.666667) < 1e-6)
  }

  test("psiDrift: a shifted post period concentrates mass in the top bin") {
    val pre = (1 to 10).map(i =>
      (i.toLong, i.toLong, "2024-01-01 10:00:00", i.toDouble))
    val post = (11 to 20).map(i =>
      (i.toLong, i.toLong, "2024-01-03 10:00:00", 10.0))
    val events = spendEv((pre ++ post): _*)
    val out = graft.operators.Relational.psiDrift(events).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    // every post value (1000 cents) clears all 9 inner edges -> bin 10
    val top = out(10L)
    assert(top.getAs[Long]("n_ref") === 1L && top.getAs[Long]("n_post") === 10L)
    assert(math.abs(top.getAs[Double]("p_ref") - 0.1) < 1e-6)
    assert(math.abs(top.getAs[Double]("p_post") - 0.55) < 1e-6)
    val expected = (0.55 - 0.1) * math.log(0.55 / 0.1)
    assert(math.abs(top.getAs[Double]("psi_term") - expected) < 1e-5)
    // bins 1..9 hold one ref value each and no post mass
    assert(out(1L).getAs[Long]("n_post") === 0L)
  }

  test("retentionDecayFit: geometric halving fits half-life 1 week") {
    // cohort of 4: 2 active at +1w, 1 at +2w -> r = 0.5, 0.25
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00"), (2L, 2L, "2024-01-01 10:00:00"),
      (3L, 3L, "2024-01-01 10:00:00"), (4L, 4L, "2024-01-01 10:00:00"),
      (5L, 1L, "2024-01-08 10:00:00"), (6L, 2L, "2024-01-08 10:00:00"),
      (7L, 1L, "2024-01-15 10:00:00"))
    val r = graft.operators.Relational.retentionDecayFit(events).collect()
    graft.CacheTracker.drainAll(spark)
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_points") === 2L)
    assert(math.abs(r.head.getAs[Double]("lambda") + math.log(2.0)) < 1e-5)
    assert(math.abs(r.head.getAs[Double]("half_life_weeks") - 1.0) < 1e-5)
  }

  test("dqChecks: one aggregate row per rule, violations counted not dumped") {
    val li = Seq((1L, 10.0, 0.05), (2L, 60.0, 0.6))
      .toDF("l_orderkey", "l_quantity", "l_discount")
    val ord = Seq((1L, 100L), (2L, 999L)).toDF("o_orderkey", "o_custkey")
    val cust = Seq((100L, "a")).toDF("c_custkey", "c_name")
    val events = spendEv((1L, 1L, "2024-01-01 10:00:00", -5.0),
      (2L, 1L, "2024-01-01 11:00:00", 5.0))
    val d = docs((1L, "abc", "en")).withColumn("n_chars",
      when($"doc_id" === 1L, 99L)) // planted inconsistency
    val out = graft.operators.Relational.dqChecks(li, ord, cust, events, d)
      .collect().map(r => r.getAs[String]("rule") -> r).toMap
    assert(out.keySet.size === 5)
    assert(out("lineitem_quantity_range").getAs[Long]("n_violations") === 1L)
    assert(out("lineitem_discount_range").getAs[Long]("n_violations") === 1L)
    assert(out("orders_orphan_custkey").getAs[Long]("n_violations") === 1L)
    assert(out("events_nonneg_value").getAs[Long]("n_violations") === 1L)
    assert(out("documents_nchars_consistent").getAs[Long]("n_violations") === 1L)
    assert(out("events_nonneg_value").getAs[Double]("violation_rate") === 0.5)
  }

  test("srmCheck flags a broken splitter and passes a balanced one") {
    val balanced = ev((1L to 10L).map(u =>
      (u, u, "2024-01-01 10:00:00")): _*)
    val ok = graft.operators.Relational.srmCheck(balanced).collect().head
    assert(ok.getAs[Long]("n_a") === 5L && ok.getAs[Long]("n_b") === 5L)
    assert(ok.getAs[Double]("chi2") === 0.0 && !ok.getAs[Boolean]("srm_detected"))
    val broken = ev((1L to 10L).map(u =>
      (u, u * 2L, "2024-01-01 10:00:00")): _*) // all even users
    val bad = graft.operators.Relational.srmCheck(broken).collect().head
    assert(bad.getAs[Double]("chi2") === 10.0 && bad.getAs[Boolean]("srm_detected"))
  }

  test("tokenPositionBias: boilerplate head/tail tokens read as extremes") {
    val d = docs((1 to 5).map(i =>
      (i.toLong, "head a b c tail", "en")): _*)
    val out = graft.operators.TextOps.tokenPositionBias(d).collect()
      .map(r => r.getAs[String]("token") -> r).toMap
    assert(out("head").getAs[Double]("mean_rel_pos") === 0.0)
    assert(out("head").getAs[Double]("lead_share") === 1.0)
    assert(out("tail").getAs[Double]("mean_rel_pos") === 1.0)
    assert(out("tail").getAs[Double]("lead_share") === 0.0)
    assert(out("b").getAs[Double]("mean_rel_pos") === 0.5)
  }

  test("valuePercentilesByType: exact interpolated tail readout") {
    val events = spendEv((1 to 100).map(i =>
      (i.toLong, 1L, "2024-01-01 10:00:00", i.toDouble)): _*)
    val r = graft.operators.Relational.valuePercentilesByType(events)
      .collect().head
    assert(r.getAs[Long]("n") === 100L)
    assert(r.getAs[Double]("p50_cents") === 5050.0)
    assert(r.getAs[Double]("p90_cents") === 9010.0)
    assert(r.getAs[Double]("p99_cents") === 9901.0)
  }

  test("dispersionIndex: metronomic traffic reads 0, bursty reads high") {
    val steady = (0 to 3).map(d => (d.toLong + 1, 1L,
      s"2024-01-0${d + 1} 10:00:00", "view", 1.0))
    val bursty = (1 to 9).map(i => (100L + i, 2L,
      "2024-01-01 11:00:00", "click", 1.0)) :+
      (200L, 2L, "2024-01-02 11:00:00", "click", 1.0)
    val events = (steady ++ bursty).map { case (e, u, t, ty, v) =>
      (e, u, java.sql.Timestamp.valueOf(t), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = graft.operators.Relational.dispersionIndex(events).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val v = out("view")
    assert(v.getAs[Long]("n_days") === 4L)
    assert(v.getAs[Double]("dispersion") === 0.0 && !v.getAs[Boolean]("overdispersed"))
    val c = out("click") // daily counts 9,1: mean 5, var 16 -> 3.2
    assert(c.getAs[Double]("mean_daily") === 5.0)
    assert(math.abs(c.getAs[Double]("dispersion") - 3.2) < 1e-6)
    assert(c.getAs[Boolean]("overdispersed"))
  }

  test("mannwhitneyU: complete separation maxes U; identical samples zero z") {
    val sep = spendEv(
      (1L, 2L, "2024-01-01 10:00:00", 100.0), (2L, 4L, "2024-01-01 10:00:00", 90.0),
      (3L, 1L, "2024-01-01 10:00:00", 10.0), (4L, 3L, "2024-01-01 10:00:00", 5.0))
    val r = graft.operators.Relational.mannwhitneyU(sep).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Double]("u_stat") === 4.0) // A above B in all 4 pairs
    assert(!r.getAs[Boolean]("significant")) // n too small for |z| > 1.96
    val tied = spendEv((1L to 4L).map(u =>
      (u, u, "2024-01-01 10:00:00", 50.0)): _*)
    val t = graft.operators.Relational.mannwhitneyU(tied).collect().head
    graft.CacheTracker.drainAll(spark)
    assert(t.getAs[Double]("u_stat") === 2.0) // mn/2 under full ties
    assert(t.getAs[Double]("z") === 0.0)
  }

  test("discountElasticity recovers a planted log-linear relationship") {
    val li = Seq(
      (1L, 1.0, 0.0), (2L, math.exp(1.0), 0.1),
      (3L, 1.0, 0.0), (4L, math.exp(1.0), 0.1))
      .toDF("l_orderkey", "l_quantity", "l_discount")
    val r = graft.operators.Relational.discountElasticity(li).collect().head
    assert(r.getAs[Long]("n_lines") === 4L)
    assert(math.abs(r.getAs[Double]("slope") - 10.0) < 1e-4)
    assert(math.abs(r.getAs[Double]("intercept")) < 1e-4)
  }

  test("tokenKcore peels pendants and keeps the triangle") {
    val d = docs((1L, "a b c a b c a", "en"), (2L, "a z", "en"))
    val out = graft.operators.Graph.tokenKcore(d).collect()
      .map(r => r.getAs[String]("token") -> r).toMap
    graft.CacheTracker.drainAll(spark)
    assert(out("z").getAs[Boolean]("in_core") === false)
    assert(out("z").isNullAt(out("z").fieldIndex("core_degree")))
    assert(out("a").getAs[Long]("degree0") === 3L) // b, c, z
    assert(out("a").getAs[Boolean]("in_core"))
    assert(out("a").getAs[Long]("core_degree") === 2L)
    assert(out("b").getAs[Boolean]("in_core") &&
      out("c").getAs[Boolean]("in_core"))
  }

  test("snapshotDiff classifies keys across the two version slices") {
    val orders = Seq((1L, 10.0, "O"), (3L, 10.0, "O"), (5L, 10.0, "O"),
      (7L, 10.0, "O"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
    val out = graft.operators.Relational.snapshotDiff(orders).collect()
      .map(r => r.getAs[String]("status") -> r).toMap
    assert(out("unchanged").getAs[Long]("n_keys") === 1L) // key 1
    val ch = out("changed") // key 3: price doubled in v2
    assert(ch.getAs[Long]("n_keys") === 1L)
    assert(ch.getAs[Long]("n_price_changed") === 1L)
    assert(ch.getAs[Long]("n_status_changed") === 0L)
    assert(out("removed").getAs[Long]("n_keys") === 1L)   // key 5 left v2
    assert(out("added").getAs[Long]("n_keys") === 1L)     // key 7 absent in v1
  }

  test("sourceTokenHistSim: shared-token mass via exact micro shares") {
    val d = Seq((1L, "a b", "en", "s1", 3L), (2L, "a c", "en", "s2", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.sourceTokenHistSim(d).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("source_a") === "s1" && r.getAs[String]("source_b") === "s2")
    assert(r.getAs[Long]("n_shared_tokens") === 1L) // only 'a'
    assert(r.getAs[Double]("intersection") === 0.5)
  }

  test("pathEntropy: two equiprobable journeys read as perplexity 2") {
    val events = ev(
      (1L, 1L, "2024-01-01 10:00:00"),
      (2L, 2L, "2024-01-01 10:00:00"), (3L, 2L, "2024-01-01 10:01:00"))
      .withColumn("event_type",
        when($"event_id" === 3L, "click").otherwise("view"))
    val r = graft.operators.Sessionize.pathEntropy(events).collect().head
    assert(r.getAs[Long]("n_sessions") === 2L && r.getAs[Long]("n_paths") === 2L)
    // each term rounds to 0.346574 before the fold
    assert(r.getAs[Double]("entropy") === 0.693148)
    assert(math.abs(r.getAs[Double]("perplexity") - 2.0) < 1e-5)
  }

  test("spendLorenz: concentrated spend bows the curve below the diagonal") {
    // 10 customers: nine spend 10, one whale spends 910 -> total 1000
    val orders = (1 to 10).map(c => (c.toLong * 100, c.toLong,
      if (c == 10) 910.0 else 10.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = graft.operators.Relational.spendLorenz(orders)
      .orderBy("decile").collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 10)
    val d9 = out(8) // bottom 90% of customers hold 9% of spend
    assert(d9.getAs[Double]("cum_pop_share") === 0.9)
    assert(math.abs(d9.getAs[Double]("cum_spend_share") - 0.09) < 1e-6)
    assert(out(9).getAs[Double]("cum_spend_share") === 1.0)
  }

  test("catalogCoverage counts never-sold parts per type") {
    val part = Seq((1L, "brass"), (2L, "brass"), (3L, "steel"))
      .toDF("p_partkey", "p_type")
    val li = Seq((10L, 1L)).toDF("l_orderkey", "l_partkey")
    val out = graft.operators.Relational.catalogCoverage(part, li).collect()
      .map(r => r.getAs[String]("p_type") -> r).toMap
    assert(out("brass").getAs[Long]("n_parts") === 2L)
    assert(out("brass").getAs[Long]("n_sold") === 1L)
    assert(out("brass").getAs[Double]("coverage") === 0.5)
    assert(out("steel").getAs[Long]("n_sold") === 0L)
  }

  test("dupRateBySource charges cross-source copies to the non-keeper feed") {
    val d = Seq(
      (1L, "same text here", "en", "s1", 14L),  // keeper (min doc_id)
      (2L, "same text here", "en", "s2", 14L),  // s2's copy of s1's doc
      (3L, "unique document", "en", "s2", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Dedup.dupRateBySource(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Long]("n_dups") === 0L)
    assert(out("s2").getAs[Long]("n_dups") === 1L)
    assert(out("s2").getAs[Double]("dup_rate") === 0.5)
  }

  test("topicCoherence: perfectly co-occurring topic terms score ln((n+1)/n) per pair") {
    // four identical docs -> one bucket, top-5 = the 5 tokens, and every
    // pair co-occurs in all 4 docs: term = ln(5/4) each, 10 pairs
    val d = docs((1L to 4L).map(i =>
      (i, "alpha beta gamma delta epsilon", "en")): _*)
    val out = graft.operators.TfIdf.topicCoherence(d).collect()
    graft.CacheTracker.drainAll(spark)
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_pairs") === 10L)
    val expected = 10.0 * math.log(5.0 / 4.0)
    assert(math.abs(out.head.getAs[Double]("coherence") - expected) < 1e-4)
  }

  test("tokenizerVocabOverlap: digits and marks exist only in the bpe vocab") {
    val d = docs((1L, "ab 12 c!", "en"))
    val r = graft.operators.TextOps.tokenizerVocabOverlap(d).collect().head
    assert(r.getAs[Long]("n_clean_vocab") === 2L) // {ab, c}
    assert(r.getAs[Long]("n_bpe_vocab") === 4L)   // {ab, 12, c, !}
    assert(r.getAs[Long]("n_shared") === 2L)
    assert(r.getAs[Double]("jaccard") === 0.5)
    assert(r.getAs[Double]("clean_in_bpe") === 1.0)
  }

  test("attributionWindowSweep: longer windows recover slower conversions") {
    val events = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 12:00:00", "purchase", 9.0),  // +2h
      (3L, 2L, "2024-01-01 10:00:00", "view", 1.0),      // never converts
      (4L, 3L, "2024-01-01 10:00:00", "view", 1.0),
      (5L, 3L, "2024-01-02 16:00:00", "purchase", 9.0))  // +30h: outside all
      .map { case (e, u, t, ty, v) =>
        (e, u, java.sql.Timestamp.valueOf(t), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = graft.operators.Sessionize.attributionWindowSweep(events)
      .orderBy("window_s").collect()
    assert(out.length === 3)
    assert(out.forall(_.getAs[Long]("n_viewers") === 3L))
    assert(out(0).getAs[Long]("n_converted") === 0L) // 1h
    assert(out(1).getAs[Long]("n_converted") === 1L) // 6h catches +2h
    assert(out(2).getAs[Long]("n_converted") === 1L) // 24h misses +30h
    assert(math.abs(out(1).getAs[Double]("conversion_rate") - 1.0 / 3) < 1e-6)
  }

  test("vocabNoveltyBySource credits a type to its first-seen doc's source only") {
    val d = Seq(
      (1L, "alpha beta", "en", "s1", 10L),
      (2L, "beta gamma", "en", "s2", 10L),
      (3L, "alpha", "en", "s2", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.vocabNoveltyBySource(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Long]("n_types_touched") === 2L) // alpha, beta
    assert(out("s1").getAs[Long]("n_first_types") === 2L)   // both first in doc 1
    assert(out("s1").getAs[Double]("novelty_share") === 1.0)
    assert(out("s2").getAs[Long]("n_types_touched") === 3L)
    assert(out("s2").getAs[Long]("n_first_types") === 1L)   // gamma only
    assert(math.abs(out("s2").getAs[Double]("novelty_share") - 1.0 / 3) < 1e-5)
  }

  test("rareTokenShare flags a doc made of corpus-hapaxes, not one of common words") {
    val d = docs(
      (1L, "zzz the the the", "en"), // 'the' x3 is common; share 1/4
      (2L, "qqq xxx", "en"))         // both hapax; share 1, flagged
    val out = graft.operators.TextOps.rareTokenShare(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") === 4L)
    assert(out(1L).getAs[Long]("n_rare") === 1L)
    assert(!out(1L).getAs[Boolean]("flagged"))
    assert(out(2L).getAs[Double]("rare_share") === 1.0)
    assert(out(2L).getAs[Boolean]("flagged"))
  }

  test("weeklyValuePercentiles interpolates exact p50/p90 per week bucket") {
    val events = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "purchase", 1.0),
      (2L, 1L, "2024-01-02 10:00:00", "purchase", 3.0),
      (3L, 1L, "2024-01-20 10:00:00", "purchase", 5.0)) // different week
      .map { case (e, u, t, ty, v) =>
        (e, u, java.sql.Timestamp.valueOf(t), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = graft.operators.Relational.weeklyValuePercentiles(events)
      .orderBy("week_idx").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("n") === 2L)
    assert(out(0).getAs[Double]("p50_cents") === 200.0) // midpoint of 100, 300
    assert(out(0).getAs[Double]("p90_cents") === 280.0) // 100 + 0.9 * 200
    assert(out(1).getAs[Double]("p50_cents") === 500.0)
  }
}
