package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation operators: threshold-free ranking metrics (ROC
  * AUC, PR curve), paired-classifier significance (McNemar), and score
  * calibration (reliability bins + Brier decomposition). The model under
  * evaluation is deliberately cheap and closed-form — the composite
  * quality score as an English-ness ranker, with lang == 'en' as ground
  * truth — so every metric is DuckDB-oracle-expressible while the
  * evaluation MACHINERY (per-score aggregation, two-pass global cumsums,
  * exact integer statistics) is exactly what a real eval over model
  * scores at 100 TB needs.
  *
  * Scale posture shared by rocAuc/prCurve: never sort per-document rows
  * globally. Documents aggregate to one row per DISTINCT score first
  * (bounded at 1e6+1 values — the score is rounded to 6 dp in [0,1] by
  * construction), and the ordered sweep runs on that frame through
  * [[Ranks.withGlobalCumSums]]'s range-partitioned two-pass machinery —
  * the same posture as the vocab-sized zipf/coverage fixes, applied from
  * day one rather than retrofitted.
  */
object Eval {

  /** Binary ground truth: is the document English? */
  private def isEn: Column = (col("lang") === "en").cast("long")

  /** Per-distinct-score (n_pos, n_neg) counts — the shared first pass. */
  private def scoreCounts(docs: DataFrame): DataFrame =
    docs.select(TextOps.qualityComposite.as("score"), isEn.as("y"))
      .groupBy("score")
      .agg(sum(col("y")).as("n_pos"),
        (count(lit(1)) - sum(col("y"))).as("n_neg"))

  /** Exact ROC AUC via the tie-corrected Mann-Whitney statistic (B161).
    * Over distinct scores ascending, each score's positives dominate
    * every negative strictly below and tie half the negatives AT the
    * score: AUC = Σ_s n_pos_s·(cumneg_<s + n_neg_s/2) / (P·N). The
    * numerator is kept doubled (×2) so it stays an exact integer —
    * accumulated in DECIMAL(38,0) because Σ ≤ 2·P·N overflows BIGINT at
    * web scale — and the one division happens at the very end: the
    * statistic is an exact rational until the final round(·, 6). */
  def rocAuc(docs: DataFrame): DataFrame = {
    val swept = Ranks.withGlobalCumSum(scoreCounts(docs), "n_neg",
      "cum_neg", "total_neg", Seq(col("score")))
    swept
      .select(col("n_pos"), col("n_neg"), col("cum_neg"), col("total_neg"),
        (col("n_pos").cast("decimal(38,0)")
          * (lit(2L) * (col("cum_neg") - col("n_neg")) + col("n_neg"))).as("numer2"))
      .agg(
        sum(col("n_pos")).as("n_pos"),
        max(col("total_neg")).as("n_neg"),
        count(lit(1)).as("n_scores"),
        sum(col("numer2")).as("numer2"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        // a single-class corpus has no ranking to score: NULL AUC
        // (pos·neg = 0), never an ANSI divide-by-zero throw
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          col("numer2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))), 6).as("auc"))
  }

  /** Precision/recall sweep over every distinct score threshold (B162):
    * predict positive when score ≥ t, for t each distinct score
    * descending. tp/fp are cumulative counts above-or-at the threshold —
    * both ride ONE [[Ranks.withGlobalCumSums]] pass (one range shuffle
    * for the pair). precision/recall/f1 are exact-integer ratios until
    * the final round(·, 6); f1 uses the 2tp/(2tp+fp+fn) form so it is
    * computed from the exact counts, not from the rounded p/r. */
  def prCurve(docs: DataFrame): DataFrame = {
    val swept = Ranks.withGlobalCumSums(scoreCounts(docs),
      Seq(("n_pos", "tp", "total_pos"), ("n_neg", "fp", "total_neg")),
      Seq(col("score").desc))
    swept.select(
      col("score").as("threshold"),
      col("tp"), col("fp"),
      (col("total_pos") - col("tp")).as("fn"),
      round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
        .as("precision"),
      round(col("tp").cast("double") / col("total_pos"), 6).as("recall"),
      round(lit(2.0) * col("tp") /
        (lit(2L) * col("tp") + col("fp") + col("total_pos") - col("tp")), 6)
        .as("f1"))
  }

  /** McNemar's paired test between two rule classifiers (B163): does the
    * stopword-density rule (≥2 hits in the 10-stopword list) disagree
    * with the marker-token rule (any EnMarkers hit) more than chance on
    * the SAME documents? Only the discordant cells matter: b = A right &
    * B wrong, c = A wrong & B right, χ² = (|b−c|−1)²/(b+c) with
    * continuity correction (0 when b+c = 0). One narrow map + one global
    * aggregate — no shuffle beyond the final combine; every statistic is
    * exact-integer until the closing round(·, 6). */
  def mcnemarTest(docs: DataFrame): DataFrame = {
    val rawToks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val nStop = size(filter(rawToks, t => lower(t).isInCollection(TextOps.Stopwords)))
    val lowToks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val nMark = size(filter(lowToks, t => t.isInCollection(TextOps.EnMarkers)))
    val predA = coalesce(nStop >= 2, lit(false))
    val predB = coalesce(nMark >= 1, lit(false))
    val truth = coalesce(col("lang") === "en", lit(false))
    docs.select(
        (predA === truth).cast("long").as("a_right"),
        (predB === truth).cast("long").as("b_right"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("a_right")).as("a_correct"),
        sum(col("b_right")).as("b_correct"),
        sum(when(col("a_right") === 1L && col("b_right") === 0L, 1L)
          .otherwise(0L)).as("b_cell"),
        sum(when(col("a_right") === 0L && col("b_right") === 1L, 1L)
          .otherwise(0L)).as("c_cell"))
      .select(col("n"), col("a_correct"), col("b_correct"),
        col("b_cell"), col("c_cell"),
        round(col("a_correct").cast("double") / col("n"), 6).as("acc_a"),
        round(col("b_correct").cast("double") / col("n"), 6).as("acc_b"),
        round(when(col("b_cell") + col("c_cell") > 0,
          pow(abs(col("b_cell") - col("c_cell")) - lit(1.0), 2) /
            (col("b_cell") + col("c_cell")).cast("double"))
          .otherwise(lit(0.0)), 6).as("chi2"))
  }

  /** Reliability diagram + per-bin Brier score (B164): squash the
    * quality score through a fixed logistic link p̂ = σ(4q − 2) — the
    * one transcendental, immediately rounded to 6 dp and then held as
    * exact integer MICRO-units — and bin into 10 equal-width probability
    * bins. Per bin: count, mean predicted probability, observed positive
    * rate, and the Brier mean square (p̂ − y)². Every sum is over exact
    * integers (micro² sums in DECIMAL(38,0) — a 100 TB bin overflows
    * BIGINT), so bin statistics are float-fold-order-free; doubles
    * appear only in the final rounded ratios. */
  def calibrationBins(docs: DataFrame): DataFrame =
    binnedExact(docs)
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("sum_p").cast("double") / col("n") / 1e6, 6).as("mean_p"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"),
        round(col("sum_sq").cast("double") / col("n") / 1e12, 6).as("brier"))

  /** The exact-integer per-bin frame behind [[calibrationBins]] and
    * [[brierDecomposition]] — factored so the diagram and its
    * decomposition can never drift. */
  private def binnedExact(docs: DataFrame): DataFrame = {
    val q = TextOps.qualityComposite
    val p = round(lit(1.0) / (lit(1.0) + exp(lit(2.0) - lit(4.0) * q)), 6)
    val pMicro = round(p * 1e6, 0).cast("long")
    docs.select(pMicro.as("p_micro"), isEn.as("y"))
      .select(least(expr("p_micro * 10 div 1000000"), lit(9L)).as("bin"),
        col("p_micro"), col("y"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(col("p_micro")).as("sum_p"),
        sum(col("y")).as("n_pos"),
        // per-row square ≤ 1e12 — far from Long overflow; only the SUM widens
        sum(((col("p_micro") - col("y") * 1000000L) *
          (col("p_micro") - col("y") * 1000000L)).cast("decimal(38,0)"))
          .as("sum_sq"))
  }

  /** Isotonic (PAV) calibration fit over the 10 bins (B252): the
    * monotone non-decreasing curve closest in weighted least squares to
    * the observed per-bin positive rates — what you recalibrate scores
    * THROUGH once calibration_bins shows the raw curve is non-monotone.
    * Computed via the exact minimax closed form instead of sequential
    * pooling: iso[i] = max_{j≤i} min_{k≥i} wavg(frac_pos[j..k]) — the
    * unique PAV solution, but expressible as two bounded aggregates
    * over the (i, j, k) triple frame, which is bins³ ≤ 1000 rows
    * regardless of corpus size (the DP-free formulation an engine can
    * plan). Range sums come off exact integer prefix sums; each
    * candidate average is ONE double divide of exact longs; min/max
    * over doubles is order-free. */
  def isotonicCalibration(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // ≤10 rows: the ordered window is bin-bounded, not data-sized
    val c = binnedExact(docs)
      .select(col("bin"), col("n"), col("n_pos"))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
    val pref = c.select(col("bin").as("pj"),
      (col("cum_n") - col("n")).as("pn"), (col("cum_pos") - col("n_pos")).as("pp"))
    val suff = c.select(col("bin").as("k"),
      col("cum_n").as("kn"), col("cum_pos").as("kp"))
    val fits = c.select(col("bin"), col("n"), col("n_pos"))
      .join(broadcast(pref), col("pj") <= col("bin"))
      .join(broadcast(suff), col("k") >= col("bin"))
      .select(col("bin"), col("n"), col("n_pos"), col("pj"),
        ((col("kp") - col("pp")).cast("double") / (col("kn") - col("pn")))
          .as("r"))
      .groupBy("bin", "n", "n_pos", "pj").agg(min(col("r")).as("mn"))
      .groupBy("bin", "n", "n_pos").agg(max(col("mn")).as("iso"))
    fits.select(col("bin"), col("n"),
      round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"),
      round(col("iso"), 6).as("iso_fit"))
  }

  /** Murphy decomposition of the Brier score over the 10 calibration
    * bins (B204): brier = reliability − resolution + uncertainty (up to
    * within-bin variance of p̂, which the emitted exact `brier` makes
    * visible). reliability = Σ_b n_b(p̄_b − ȳ_b)²/N is what
    * recalibration can remove; resolution = Σ_b n_b(ȳ_b − ȳ)²/N is the
    * score's real discriminative power; uncertainty = ȳ(1−ȳ) is the
    * data's floor. Per-bin contributions compute from the SAME exact
    * integer sums as the diagram (9 dp-rounded terms, exact sum over
    * the 10-row frame); the one-row result divides last. */
  def brierDecomposition(docs: DataFrame): DataFrame = {
    val bins = binnedExact(docs)
    val tot = bins.agg(sum(col("n")).as("nn"), sum(col("n_pos")).as("pp"),
      sum(col("sum_sq")).as("ss"))
    bins.crossJoin(broadcast(tot))
      .select(col("n"), col("nn"), col("pp"), col("ss"),
        round(col("n") * pow(col("sum_p").cast("double") / col("n") / 1e6
          - col("n_pos").cast("double") / col("n"), 2), 9).as("rel_term"),
        round(col("n") * pow(col("n_pos").cast("double") / col("n")
          - col("pp").cast("double") / col("nn"), 2), 9).as("res_term"))
      .groupBy("nn", "pp", "ss")
      .agg(Folds.exactSum(col("rel_term")).as("rel_sum"),
        Folds.exactSum(col("res_term")).as("res_sum"))
      .select(col("nn").as("n"),
        round(col("pp").cast("double") / col("nn"), 6).as("base_rate"),
        round(col("rel_sum") / col("nn"), 6).as("reliability"),
        round(col("res_sum") / col("nn"), 6).as("resolution"),
        round(col("pp").cast("double") / col("nn")
          * (lit(1.0) - col("pp").cast("double") / col("nn")), 6).as("uncertainty"),
        round(col("ss").cast("double") / col("nn") / 1e12, 6).as("brier"))
  }

  /** Decile lift/gain table (B169): rank documents by score descending
    * (doc_id tie-break), NTILE-exact deciles via the two-pass global
    * rank, and per decile the positive rate, cumulative gain (share of
    * ALL positives captured through this decile), and lift over the base
    * rate — the targeting readout every campaign/selection pipeline
    * reads before picking a cutoff. The per-document frame never sorts
    * in one task ([[Ranks.withGlobalRowNumber]]); the decile frame is
    * 10 rows, so its cumulative window is constant-bounded, not
    * data-sized. Ratios are exact-integer divisions rounded once. */
  def liftDeciles(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
      TextOps.qualityComposite.as("score"), isEn.as("y"))
    val ranked = Ranks.withGlobalRowNumber(scored, "_rnk", "_n",
      Seq(col("score").desc, col("doc_id")))
    val byDecile = ranked
      .withColumn("decile", Ranks.ntileFromRank(col("_rnk"), col("_n"), 10).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
    // 10-row frame: the unpartitioned window is constant-bounded
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byDecile
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .withColumn("total_pos", sum(col("n_pos")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("total_docs", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs"), 6).as("pos_rate"),
        round(col("cum_pos").cast("double") / col("total_pos"), 6).as("cum_gain"),
        round(col("n_pos").cast("double") / col("n_docs") /
          (col("total_pos").cast("double") / col("total_docs")), 6).as("lift"))
  }

  /** Per-class precision/recall/F1 table (B171) — sklearn's
    * classification_report as a DataFrame, for the marker-token
    * language-ID against the true lang label. The existing
    * `eval_metrics` entry reports only the support-weighted aggregates;
    * per-class rows are what actually localize a regression ("recall
    * collapsed on de"). Counts are exact integers off one
    * (label, prediction) aggregate; p/r divide exactly once, f1 is
    * computed from the UNROUNDED p/r (mirrored operand order) and all
    * three round at the end. Classes-squared-bounded frames throughout;
    * predicted-side totals join back on the class key. */
  def classReport(docs: DataFrame): DataFrame = {
    val pred = TextOps.langId(docs)
      .join(docs.select(col("doc_id"), col("lang").as("label")), "doc_id")
    val cm = pred.groupBy("label", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val byLabel = cm.groupBy("label").agg(sum(col("n")).as("support"))
    val byPred = cm.groupBy("pred_lang").agg(sum(col("n")).as("predicted"))
    val tp = cm.filter(col("label") === col("pred_lang"))
      .select(col("label"), col("n").as("tp"))
    val per = byLabel
      .join(tp, Seq("label"), "left")
      .join(byPred.select(col("pred_lang").as("label"), col("predicted")),
        Seq("label"), "left")
      .select(col("label"), col("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("predicted"), lit(0L)).as("predicted"))
    val p = when(col("predicted") > 0,
      col("tp").cast("double") / col("predicted")).otherwise(lit(0.0))
    val r = when(col("support") > 0,
      col("tp").cast("double") / col("support")).otherwise(lit(0.0))
    per.select(col("label"), col("support"), col("tp"), col("predicted"),
      round(p, 6).as("precision"),
      round(r, 6).as("recall"),
      round(when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0)), 6)
        .as("f1"))
  }

  /** BLEU-2 between near-duplicate candidate pairs (B208): the MT-eval
    * metric repurposed as a dedup diagnostic — for every pair the
    * shingle-Jaccard gate surfaces, how much of the lower-id doc reads
    * as a verbatim n-gram copy of the higher-id one? Modified (clipped)
    * unigram and bigram precisions, geometric mean, brevity penalty —
    * the standard BLEU recipe with the candidate = the a-side.
    *
    * Scale: candidates come from [[graft.operators.Dedup.ngramJaccard]]'s
    * shared-shingle machinery (pairs sharing no 3-gram never
    * materialize), so the clipped-count joins are (pair x doc-length)-
    * bounded — one shuffle per n-gram order on the (doc, gram) key.
    * Exact integer clipped counts; precisions round at 9 dp, BLEU at
    * 6 dp after one closed-form expression both engines share. */
  def bleuPairs(docs: DataFrame, simMin: Double = 0.3): DataFrame = {
    val pairs = CacheTracker.cache(
      graft.operators.Dedup.ngramJaccard(docs, simMin = simMin)
        .select("a_id", "b_id"))
    // the n-gram streams below only ever join against candidate-pair
    // docs: gate the corpus FIRST (left-semi on the tiny pair-doc set),
    // so candidate generation is the only corpus-wide pass — at sf0.1
    // this took the gram passes from corpus-sized to pairs-sized
    val candDocs = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id")))
      .distinct()
      .transform(CacheTracker.pin)
    val toked = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val lens = toked.select(col("doc_id"), size(col("toks")).cast("long").as("len"))
    def grams(n: Int): DataFrame = {
      val g =
        if (n == 1) toked.select(col("doc_id"), explode(col("toks")).as("g"))
        else toked.filter(size(col("toks")) >= n)
          .select(col("doc_id"), explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - (n - 1)),
            slice(col("toks"), lit(2), size(col("toks")) - (n - 1)),
            (a, b) => concat(a, lit(" "), b))).as("g"))
      g.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    }
    def clipped(n: Int, name: String): DataFrame = {
      val gr = grams(n)
      pairs
        .join(gr.select(col("doc_id").as("a_id"), col("g"), col("c").as("ca")), "a_id")
        .join(gr.select(col("doc_id").as("b_id"), col("g"), col("c").as("cb")),
          Seq("b_id", "g"))
        .groupBy("a_id", "b_id")
        .agg(sum(least(col("ca"), col("cb"))).as(name))
    }
    pairs
      .join(clipped(1, "clip1"), Seq("a_id", "b_id"), "left")
      .join(clipped(2, "clip2"), Seq("a_id", "b_id"), "left")
      .join(lens.select(col("doc_id").as("a_id"), col("len").as("len_a")), "a_id")
      .join(lens.select(col("doc_id").as("b_id"), col("len").as("len_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("len_a"), col("len_b"),
        round(coalesce(col("clip1"), lit(0L)).cast("double") / col("len_a"), 9)
          .as("p1"),
        round(coalesce(col("clip2"), lit(0L)).cast("double")
          / greatest(col("len_a") - 1, lit(1L)), 9).as("p2"))
      .select(col("a_id"), col("b_id"), col("len_a"), col("len_b"),
        col("p1"), col("p2"),
        round(
          when(col("len_a") >= col("len_b"), lit(1.0))
            .otherwise(round(exp(lit(1.0)
              - col("len_b").cast("double") / col("len_a")), 9))
            * sqrt(col("p1") * col("p2")), 6).as("bleu2"))
  }

  /** Self-BLEU corpus diversity (B280, Zhu et al. 2018): mean pairwise
    * BLEU-2 of each sampled document against every other sampled
    * document of its language — the standard "is this corpus (or
    * generator output) collapsing onto itself" diversity readout: high
    * self-BLEU = low diversity. Exact self-BLEU is all-pairs over the
    * corpus, so this computes it over a deterministic per-language
    * sample (the k lowest doc_ids via the bounded-heap TopKPerKey — no
    * per-lang sort), full ordered k·(k−1) pair grid including
    * zero-overlap pairs; per-pair BLEU-2 reuses [[bleuPairs]]'s exact
    * clipped-count machinery (9 dp precisions, 9 dp brevity penalty,
    * 6 dp geometric mean), and the per-lang mean divides the exact sum
    * of the ≤k·(k−1) 6 dp terms, re-rounded to 6 dp, so an ulp of the
    * sum never decides a rounding tie. Gram joins fan out ≤ k² per
    * (lang, gram) — sample-bounded, never corpus-paired. */
  def selfBleu(docs: DataFrame, k: Int = 16): DataFrame = {
    val sample = CacheTracker.cache(
      graft.plans.TopK.topKPerKey(
          docs.select(col("lang"), col("doc_id"),
            graft.operators.TextOps.tokens(col("text")).as("toks"))
            .filter(size(col("toks")) >= 2),
          Seq("lang"), Seq("doc_id" -> true), k))
    val lens = sample.select(col("lang"), col("doc_id"),
      size(col("toks")).cast("long").as("len"))
    def grams(n: Int): DataFrame = {
      val g =
        if (n == 1) sample.select(col("lang"), col("doc_id"), explode(col("toks")).as("g"))
        else sample.filter(size(col("toks")) >= n)
          .select(col("lang"), col("doc_id"), explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - (n - 1)),
            slice(col("toks"), lit(2), size(col("toks")) - (n - 1)),
            (a, b) => concat(a, lit(" "), b))).as("g"))
      g.groupBy("lang", "doc_id", "g").agg(count(lit(1)).as("c"))
    }
    def clipped(n: Int, name: String): DataFrame = {
      val gr = grams(n)
      gr.select(col("lang"), col("doc_id").as("a_id"), col("g"), col("c").as("ca"))
        .join(gr.select(col("lang"), col("doc_id").as("b_id"), col("g"),
          col("c").as("cb")), Seq("lang", "g"))
        .filter(col("a_id") =!= col("b_id"))
        .groupBy("lang", "a_id", "b_id")
        .agg(sum(least(col("ca"), col("cb"))).as(name))
    }
    val grid = lens.select(col("lang"), col("doc_id").as("a_id"), col("len").as("len_a"))
      .join(broadcast(lens.select(col("lang"), col("doc_id").as("b_id"),
        col("len").as("len_b"))), "lang")
      .filter(col("a_id") =!= col("b_id"))
    val perPair = grid
      .join(clipped(1, "clip1"), Seq("lang", "a_id", "b_id"), "left")
      .join(clipped(2, "clip2"), Seq("lang", "a_id", "b_id"), "left")
      .select(col("lang"), col("a_id"), col("b_id"),
        round(coalesce(col("clip1"), lit(0L)).cast("double") / col("len_a"), 9)
          .as("p1"),
        round(coalesce(col("clip2"), lit(0L)).cast("double")
          / greatest(col("len_a") - 1, lit(1L)), 9).as("p2"),
        col("len_a"), col("len_b"))
      .select(col("lang"), col("a_id"), col("b_id"),
        round(
          when(col("len_a") >= col("len_b"), lit(1.0))
            .otherwise(round(exp(lit(1.0)
              - col("len_b").cast("double") / col("len_a")), 9))
            * sqrt(col("p1") * col("p2")), 6).as("bleu2"))
    perPair
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        round(round(Folds.exactSum(col("bleu2")), 6) / count(lit(1)), 6).as("self_bleu"))
  }

  /** chrF2 between the same near-duplicate candidate pairs (B209): the
    * character-3-gram F-score (beta = 2, recall-weighted) that catches
    * paraphrase-level copying BLEU's exact-token n-grams miss —
    * morphology, casing leaks, and punctuation drift barely move char
    * n-grams. P = clip/|grams(a)|, R = clip/|grams(b)|,
    * chrF2 = 5PR/(4P+R). Same bounded candidate machinery and join
    * shape as [[bleuPairs]]; gram totals are per-doc narrow work. */
  def chrfPairs(docs: DataFrame, simMin: Double = 0.3): DataFrame = {
    val pairs = CacheTracker.cache(
      graft.operators.Dedup.ngramJaccard(docs, simMin = simMin)
        .select("a_id", "b_id"))
    // same candidate-doc gate as bleuPairs: the trigram stream feeds
    // only pair joins, so the corpus semi-joins down to pair docs first
    val candDocs = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id")))
      .distinct()
      .transform(CacheTracker.pin)
    val c = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.cleanText(col("text")).as("clean"))
      .filter(length(col("clean")) >= 3)
    val g = c.select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("clean")) - 2),
          i => col("clean").substr(i, lit(3)))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val tot = g.groupBy("doc_id").agg(sum(col("cnt")).as("tot"))
    val clip = pairs
      .join(g.select(col("doc_id").as("a_id"), col("g"), col("cnt").as("ca")), "a_id")
      .join(g.select(col("doc_id").as("b_id"), col("g"), col("cnt").as("cb")),
        Seq("b_id", "g"))
      .groupBy("a_id", "b_id")
      .agg(sum(least(col("ca"), col("cb"))).as("clip"))
    pairs
      .join(clip, Seq("a_id", "b_id"), "left")
      .join(tot.select(col("doc_id").as("a_id"), col("tot").as("tot_a")), "a_id")
      .join(tot.select(col("doc_id").as("b_id"), col("tot").as("tot_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        coalesce(col("clip"), lit(0L)).as("clip"),
        col("tot_a"), col("tot_b"))
      .select(col("a_id"), col("b_id"), col("clip"), col("tot_a"), col("tot_b"),
        round(col("clip").cast("double") / col("tot_a"), 9).as("p"),
        round(col("clip").cast("double") / col("tot_b"), 9).as("r"))
      .select(col("a_id"), col("b_id"), col("clip"), col("tot_a"), col("tot_b"),
        col("p"), col("r"),
        round(when(lit(4.0) * col("p") + col("r") > 0,
          lit(5.0) * col("p") * col("r") / (lit(4.0) * col("p") + col("r")))
          .otherwise(lit(0.0)), 6).as("chrf2"))
  }

  /** Deterministic bootstrap confidence interval (B220): a percentile-
    * bootstrap CI for each language's mean document length, with the
    * resample draws derived from md5 instead of a PRNG — replica r's
    * j-th draw picks the document ranked 1 + (md5("lang:r:j") mod n_l)
    * in doc_id order, so both engines (and every retry) materialize the
    * SAME `reps` resamples. The statistic the curation dashboards
    * actually need error bars on, without seed-dependence breaking the
    * oracle.
    *
    * Scale shape: the corpus ranks once per lang (window on the lang
    * key); each doc row then explodes `reps` ways, so the resample frame
    * is reps·n rows spread across the cluster (never a per-lang
    * single-task blow-up), and the draw join is a plain (lang, idx)
    * shuffle join. Replica means are exact long sums over exact counts;
    * the CI bounds are order statistics (ranks ⌈α·R⌉ from each end) of
    * those means — doubles compared, never summed, so bit-stable.
    *
    * Scale guard (`maxN`, default 100k docs per lang): past the cap the
    * bootstrap runs on a deterministic md5 pre-sample — the `maxN` docs
    * ranked lowest by md5(lang:doc_id) — so the reps×rows draw frame is
    * bounded at reps·maxN·|langs| no matter the corpus size (a 100 TB
    * lang would otherwise explode 200-fold). A bootstrap CI from a 100k
    * uniform subsample is statistically the CI of the subsample mean —
    * the honest, documented trade; the POINT estimate (n_docs,
    * mean_chars) stays exact over the full corpus. Below the cap the
    * pre-sample keeps every row, so small-SF oracles are unaffected; the
    * md5 ranking makes the kept set identical on both engines and every
    * retry. BASELINE.md's ScaleCheck r15 section proves the flat cost
    * past the cap. */
  def bootstrapCi(docs: DataFrame, reps: Int = 200,
                  maxN: Int = 100000): DataFrame = {
    val wPre = Window.partitionBy("lang")
      .orderBy(md5(concat_ws(":", col("lang"), col("doc_id"))), col("doc_id"))
    val kept = docs
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("prk", row_number().over(wPre))
      .filter(col("prk") <= maxN)
      .drop("prk")
    val wl = Window.partitionBy("lang").orderBy("doc_id")
    val ranked = kept
      .withColumn("rn", row_number().over(wl).cast("long"))
      .withColumn("n_l", count(lit(1)).over(Window.partitionBy("lang")))
    val draws = ranked
      .select(col("lang"), col("rn").as("j"), col("n_l"),
        explode(expr(s"sequence(1, $reps)")).as("r"))
      .select(col("lang"), col("r"),
        (conv(substring(md5(concat_ws(":", col("lang"), col("r"), col("j"))),
          1, 8), 16, 10).cast("long") % col("n_l") + 1L).as("idx"))
    val means = draws
      .join(ranked.select(col("lang"), col("rn").as("idx"), col("n_chars")),
        Seq("lang", "idx"))
      .groupBy("lang", "r")
      .agg(sum(col("n_chars")).as("s"), count(lit(1)).as("m"))
      .select(col("lang"), col("r"), (col("s").cast("double") / col("m")).as("mean_r"))
    val lo = (reps * 25 + 999) / 1000   // ceil(0.025 R): rank from below
    val wAsc = Window.partitionBy("lang").orderBy(col("mean_r").asc, col("r"))
    val wDesc = Window.partitionBy("lang").orderBy(col("mean_r").desc, col("r"))
    val tagged = means
      .withColumn("rk_lo", row_number().over(wAsc))
      .withColumn("rk_hi", row_number().over(wDesc))
    val ci = tagged.groupBy("lang").agg(
      min(when(col("rk_lo") === lo, col("mean_r"))).as("ci_lo"),
      min(when(col("rk_hi") === lo, col("mean_r"))).as("ci_hi"))
    val point = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot"))
      .select(col("lang"), col("n_docs"),
        round(col("tot").cast("double") / col("n_docs"), 6).as("mean_chars"))
    point.join(ci, "lang")
      .select(col("lang"), col("n_docs"), col("mean_chars"),
        round(col("ci_lo"), 6).as("ci_lo"), round(col("ci_hi"), 6).as("ci_hi"))
  }

  /** Neyman-optimal stratified allocation (B241, the survey-sampling
    * allocation rule): for a total sample budget, allocate n_h ∝ N_h·σ_h
    * across language strata — the minimum-variance allocation for
    * estimating the corpus mean of n_chars, i.e. where a curation team
    * should spend its labeling/eval budget: big AND internally-diverse
    * strata get more than proportional share, uniform strata less. The
    * integer quotas come from largest-remainder rounding (they sum to
    * the budget exactly), and each stratum's quota is then DRAWN
    * deterministically — the lowest md5(lang:doc_id) ranks, the
    * [[bootstrapCi]] pre-sample discipline — with the drawn id set
    * fingerprinted so the oracle pins the SAMPLE itself, not just its
    * size.
    *
    * Determinism: σ_h comes from exact integer moments in one fixed
    * closed form; Neyman weights round at 9 dp and their normalizer
    * is an exact sum over the strata; remainder ranking and
    * the all-strata windows run on the |langs|-bounded frame only. The
    * md5 pre-rank runs as a literal-k top-budget bounded heap
    * (TopKRewriteRule — no stratum is ever sorted whole on one task);
    * the residual quota rank sees only the budget·|langs| survivors, and
    * the drawn set per stratum is ≤ budget rows, so the fingerprint's
    * collect_list is budget-bounded. */
  def neymanAllocation(docs: DataFrame, budget: Int = 100): DataFrame = {
    val m = docs.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars")).as("sxx"))
      .select(col("lang"), col("n_docs"),
        sqrt(col("sxx").cast("double") / col("n_docs")
          - (col("sx").cast("double") / col("n_docs"))
            * (col("sx").cast("double") / col("n_docs"))).as("sd_raw"))
      .withColumn("w", round(col("n_docs") * col("sd_raw"), 9))
    val tot = m.agg(Folds.exactSum(col("w")).as("w_tot"))
    val exact = m.crossJoin(broadcast(tot))
      .withColumn("n_exact", lit(budget.toDouble) * col("w") / col("w_tot"))
      .withColumn("base", floor(col("n_exact")))
      .withColumn("rem", col("n_exact") - col("base"))
    // |langs|-bounded frame: the global window and sum are config-sized
    val wRem = Window.orderBy(col("rem").desc, col("lang"))
    val alloc = exact
      .withColumn("leftover", lit(budget.toLong) - sum(col("base")).over(
        Window.partitionBy()))
      .withColumn("rk", row_number().over(wRem))
      .withColumn("quota", (col("base") + when(col("rk") <= col("leftover"), 1L)
        .otherwise(0L)).cast("long"))
      .withColumn("n_drawn", least(col("quota"), col("n_docs")))
    val wPre = Window.partitionBy("lang")
      .orderBy(md5(concat_ws(":", col("lang"), col("doc_id"))), col("doc_id"))
    // Two-stage draw so the corpus-sized rank takes the bounded-heap path:
    // stage 1 keeps each lang's `budget` lowest md5 ranks with a LITERAL k
    // and the rank attr dropped — exactly the TopKRewriteRule shape, so no
    // task ever sorts a whole stratum (the r15 verdict's one data-sized
    // single-task sort; the old `prk <= n_drawn` compared against a joined
    // column, which the rule cannot replan). Stage 2 re-ranks the ≤
    // budget·|langs| survivors — the md5 order is total, so the prefix
    // re-rank reproduces the original ranks bit-for-bit — and applies the
    // per-stratum quota. n_drawn ≤ quota ≤ budget by construction, so the
    // stage-1 prefix always contains every drawn row.
    val preTop = docs.select(col("lang"), col("doc_id"))
      .withColumn("prk", row_number().over(wPre))
      .filter(col("prk") <= budget)
      .drop("prk")
    val drawn = preTop
      .withColumn("prk", row_number().over(wPre).cast("long"))
      .join(broadcast(alloc.select(col("lang"), col("n_drawn"))), "lang")
      .filter(col("prk") <= col("n_drawn"))
      .groupBy("lang")
      .agg(substring(md5(array_join(
        transform(sort_array(collect_list(col("doc_id"))), x => x.cast("string")),
        ",")), 1, 16).as("sample_hash16"))
    alloc.join(drawn, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        round(col("sd_raw"), 6).as("sd_chars"),
        round(col("w") / col("w_tot"), 6).as("neyman_share"),
        col("quota"), col("n_drawn"),
        coalesce(col("sample_hash16"), lit("")).as("sample_hash16"))
  }
  /** Spearman rank correlation between document length and quality
    * (B263): the monotone-association answer where
    * [[TextOps]]' quality_length_corr gives the linear one — rank-based,
    * so a heavy-tailed length distribution cannot dominate, and the
    * standard audit for "does the quality score secretly just measure
    * length" (complementing preference_length_bias on the pair side).
    *
    * Ties get AVERAGE ranks (the textbook tie treatment), carried in
    * exact 2×-rank integer space: avg_rank·2 = 2·cum − cnt + 1 off a
    * per-distinct-value cumulative count, so every rank is an integer
    * and the Pearson-over-ranks moments are EXACT decimal(38,0) sums
    * with one final double expression. The distinct-value frames are
    * data-sized, so their cumulative counts ride Ranks' two-pass
    * range-partitioned cumsum, never a single-task window. */
  def spearmanQualityLength(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("n_chars").cast("long").as("len"),
      graft.operators.TextOps.qualityComposite.as("q"))
    def ranks2(df: DataFrame, v: String, out: String): DataFrame = {
      val vals = df.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
      Ranks.withGlobalCumSum(vals, "cnt", "_cum", "_tot", Seq(col(v)))
        .select(col(v), (lit(2L) * col("_cum") - col("cnt") + 1L).as(out))
    }
    val withLen = scored.join(ranks2(scored, "len", "rx"), "len")
    val both = withLen.join(ranks2(scored, "q", "ry"), "q")
      .select(col("rx"), col("ry"))
    val m = both.agg(
      count(lit(1)).as("n"),
      sum(col("rx").cast("decimal(38,0)")).as("sx"),
      sum(col("ry").cast("decimal(38,0)")).as("sy"),
      sum(col("rx").cast("decimal(38,0)") * col("ry")).as("sxy"),
      sum(col("rx").cast("decimal(38,0)") * col("rx")).as("sxx"),
      sum(col("ry").cast("decimal(38,0)") * col("ry")).as("syy"))
    val nD = col("n").cast("decimal(38,0)")
    // NULL rho when either rank variance is 0 (constant column — e.g.
    // every doc the same length): undefined, never an ANSI throw
    m.select(col("n").as("n_docs"),
      round(when(nD * col("sxx") - col("sx") * col("sx") =!= 0
          && nD * col("syy") - col("sy") * col("sy") =!= 0,
        (nD * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((nD * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((nD * col("syy") - col("sy") * col("sy")).cast("double")))), 6)
        .as("rho_spearman"))
  }

  /** Platt scaling of the quality score (B267, Platt 1999): fit the
    * 2-parameter logistic calibrator p = σ(a·q + b) to the is-English
    * label by `steps` unrolled NEWTON-RAPHSON iterations — the
    * calibration FIT next to [[isotonicCalibration]]'s non-parametric
    * one and [[calibrationBins]]' fixed-link diagnosis. The engine
    * story: a full second-order optimizer runs distributed and
    * DETERMINISTIC because the sufficient statistics aggregate over the
    * per-DISTINCT-SCORE count frame (≤ 1e6+1 rows — the rocAuc
    * discipline), every gradient/Hessian sum is exact
    * ([[Folds.exactSum]]), the 2×2 Newton solve is closed-form on
    * the driver-free one-row frame, and (a, b) round at 9 dp per step
    * (the power-iteration discipline). Each step's one-row (a, b) is
    * localCheckpointed so plan depth stays flat in `steps`. */
  def plattScaling(docs: DataFrame, steps: Int = 8): DataFrame = {
    val sc = scoreCounts(docs)
      .withColumn("n", col("n_pos") + col("n_neg"))
      .transform(CacheTracker.pin)
    def sums(df: DataFrame, terms: Seq[(String, Column)]): DataFrame =
      df.select(terms.map { case (nm, c) => Folds.exactSum(c).as(nm) }: _*)
    val spark = docs.sparkSession
    var ab = spark.range(1).select(lit(0.0).as("a"), lit(0.0).as("b"))
      .transform(CacheTracker.pin)
    for (_ <- 1 to steps) {
      val p = lit(1.0) / (lit(1.0) + exp(-(col("a") * col("score") + col("b"))))
      val withP = sc.crossJoin(broadcast(ab)).withColumn("p", p)
      val s = sums(withP, Seq(
        ("ga", col("score") * (col("n") * col("p") - col("n_pos"))),
        ("gb", col("n") * col("p") - col("n_pos")),
        ("haa", col("n") * col("p") * (lit(1.0) - col("p")) * col("score") * col("score")),
        ("hab", col("n") * col("p") * (lit(1.0) - col("p")) * col("score")),
        ("hbb", col("n") * col("p") * (lit(1.0) - col("p")))))
      // a singular Hessian (ONE distinct score — e.g. a constant
      // corpus) has no Newton step: keep (a, b) unchanged rather than
      // ANSI-throwing on the zero determinant
      val det = col("haa") * col("hbb") - col("hab") * col("hab")
      ab = s.crossJoin(broadcast(ab))
        .select(
          round(when(det =!= 0.0,
            col("a") - (col("hbb") * col("ga") - col("hab") * col("gb")) / det)
            .otherwise(col("a")), 9).as("a"),
          round(when(det =!= 0.0,
            col("b") - (col("haa") * col("gb") - col("hab") * col("ga")) / det)
            .otherwise(col("b")), 9).as("b"))
        .transform(CacheTracker.pin)
    }
    val pF = lit(1.0) / (lit(1.0) + exp(-(col("a") * col("score") + col("b"))))
    val nll = sums(sc.crossJoin(broadcast(ab)).withColumn("p", pF), Seq(
      ("nll", -(col("n_pos") * log(col("p")) + col("n_neg") * log(lit(1.0) - col("p"))))))
    ab.crossJoin(broadcast(nll))
      .select(lit(steps.toLong).as("n_steps"),
        round(col("a"), 6).as("a"), round(col("b"), 6).as("b"),
        round(col("nll"), 6).as("nll"))
  }

  /** Matthews correlation coefficient per rule classifier (B264): the
    * single-number confusion summary that stays honest under class
    * imbalance (accuracy and even F1 degenerate when one class
    * dominates — exactly the situation of any filter tuned on a mostly-
    * clean corpus), plus balanced accuracy, for the SAME two rule
    * classifiers [[mcnemarTest]] compares: MCC answers "how good is each
    * one", McNemar answers "do they differ". Confusion cells are exact
    * integer counts from ONE narrow pass; MCC's denominator multiplies
    * the four marginals as doubles (a 100 TB marginal⁴ overflows any
    * integer type; doubles carry it exactly enough for a 6 dp ratio),
    * zero marginals → 0 by convention. */
  def mccScore(docs: DataFrame): DataFrame = {
    val rawToks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val nStop = size(filter(rawToks, t => lower(t).isInCollection(TextOps.Stopwords)))
    val lowToks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val nMark = size(filter(lowToks, t => t.isInCollection(TextOps.EnMarkers)))
    val preds = Seq(
      ("stopword_rule", coalesce(nStop >= 2, lit(false))),
      ("marker_rule", coalesce(nMark >= 1, lit(false))))
    val truth = coalesce(col("lang") === "en", lit(false))
    preds.map { case (name, pred) =>
      docs.select(pred.as("p"), truth.as("t"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("p") && col("t"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("p") && !col("t"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("p") && col("t"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("p") && !col("t"), 1L).otherwise(0L)).as("tn"))
        .select(lit(name).as("classifier"), col("n"), col("tp"), col("fp"),
          col("fn"), col("tn"),
          round(when(
            (col("tp") + col("fp")) * (col("tp") + col("fn")) === 0L ||
              (col("tn") + col("fp")) * (col("tn") + col("fn")) === 0L, lit(0.0))
            .otherwise(
              (col("tp").cast("double") * col("tn") - col("fp").cast("double") * col("fn"))
                / sqrt((col("tp") + col("fp")).cast("double")
                  * (col("tp") + col("fn")).cast("double")
                  * (col("tn") + col("fp")).cast("double")
                  * (col("tn") + col("fn")).cast("double"))), 6).as("mcc"),
          round((when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn"))).otherwise(lit(0.0))
            + when(col("tn") + col("fp") > 0,
              col("tn").cast("double") / (col("tn") + col("fp"))).otherwise(lit(0.0)))
            / 2.0, 6).as("balanced_acc"))
    }.reduce(_ unionByName _)
  }

  /** Wilson 95% score interval for the per-lang quality pass rate
    * (B265): the binomial CI that behaves at the extremes (a Wald
    * interval at p̂ = 0 or 1 collapses to zero width — exactly where a
    * curation dashboard most needs honest error bars on "what fraction
    * of this lang survives the filter"). k = docs with composite
    * quality ≥ 0.5. Closed form in ONE mirrored double expression off
    * exact (n, k) integer counts; z = 1.96 literal. One partial-agg
    * shuffle onto the langs-bounded key. */
  def qualityWilsonCi(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val z = 1.96
    val m = docs.select(col("lang"),
        (TextOps.qualityComposite >= threshold).cast("long").as("pass"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
    val n = col("n_docs").cast("double")
    val p = col("n_pass").cast("double") / n
    val z2 = lit(z * z)
    val center = p + z2 / (lit(2.0) * n)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    val denom = lit(1.0) + z2 / n
    m.select(col("lang"), col("n_docs"), col("n_pass"),
      round(p, 6).as("p_hat"),
      round((center - half) / denom, 6).as("ci_lo"),
      round((center + half) / denom, 6).as("ci_hi"))
  }
}
