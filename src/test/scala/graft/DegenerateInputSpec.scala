package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.operators._

/** Zero-variance totality: the regression/correlation/trend family's
  * denominators (n·Σx² − (Σx)², rank variances, residual sums) all hit
  * exactly 0 on a constant corpus or a single-day stream — inputs a
  * 100 TB pipeline's per-partition slices produce constantly. Under
  * ANSI mode an unguarded division THROWS (divide-by-zero) instead of
  * yielding the no-signal NULL, so every op here must either guard the
  * divisor or demonstrably never divide by it. The assertion is
  * totality (collect without throwing, ≤ a summary row per group), not
  * specific stats — degenerate inputs never reach the DuckDB oracles. */
class DegenerateInputSpec extends SparkSpec {
  import spark.implicits._

  /** four IDENTICAL docs, one lang/source: every x-variance is 0 */
  private lazy val constDocs: DataFrame = (1L to 4L)
    .map(i => (i, "the same words again", "en", "web", 20L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  /** one day, one value: time variance 0, delta stream empty */
  private lazy val oneDayEvents: DataFrame = (1L to 4L)
    .map(i => (i, i % 2, "click",
      Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")), 1.0))
    .toDF("event_id", "user_id", "event_type", "ts", "value")

  private lazy val oneDayOrders: DataFrame = (1L to 4L)
    .map(i => (i, i % 2,
      Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")), 10.0))
    .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")

  test("regression/correlation text operators are total on a constant corpus") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "char_token_regression" -> (d => TextOps.charTokenRegression(d)),
      "zipf_slope" -> (d => LangModel.zipfSlope(d)),
      "zipf_abbreviation" -> (d => LangModel.zipfAbbreviation(d)),
      "heaps_law_fit" -> (d => LangModel.heapsLawFit(d)),
      "quality_length_corr" -> (d => TextOps.qualityLengthCorr(d)),
      "spearman_quality_length" -> (d => Eval.spearmanQualityLength(d)),
      "kendall_tau" -> (d => TextOps.kendallTau(d)),
      "theil_u" -> (d => TextOps.theilU(d)),
      "length_lognormal_fit" -> (d => TextOps.lengthLognormalFit(d)),
      "hill_tail_index" -> (d => LangModel.hillTailIndex(d)),
      "length_mad" -> (d => TextOps.lengthMad(d)),
      "jarque_bera" -> (d => TextOps.jarqueBera(d)),
      "negbin_fit" -> (d => TextOps.negbinFit(d)),
      "mood_median" -> (d => TextOps.moodMedian(d)),
      "brown_forsythe" -> (d => TextOps.brownForsythe(d)),
      "kruskal_wallis" -> (d => TextOps.kruskalWallis(d)),
      "quality_calibration" -> (d => TextOps.qualityCalibration(d)),
      "simpsons_paradox" -> (d => TextOps.simpsonsParadox(d)),
      "scaling_curve" -> (d => LangModel.scalingCurve(d)),
      "platt_scaling" -> (d => Eval.plattScaling(d)))
    for ((name, op) <- ops) {
      val n = try op(constDocs).collect().length
        catch { case e: Throwable => fail(s"$name threw on constant corpus: $e") }
      assert(n <= 8, s"$name: unexpected fan-out on a 4-doc constant corpus")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("trend/event operators are total on a single-day stream") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "huber_trend" -> (d => Relational.huberTrend(d)),
      "poisson_trend" -> (d => Relational.poissonTrend(d)),
      "durbin_watson" -> (d => Relational.durbinWatson(d)),
      "revenue_var" -> (d => Relational.revenueVar(d)),
      "odds_ratio" -> (d => Relational.oddsRatio(d)),
      "logrank_test" -> (d => Relational.logrankTest(d)),
      "markov_stationary" -> (d => Sessionize.markovStationary(d)),
      "cusum_changepoint" -> (d => Relational.cusumChangepoint(d)),
      "doubly_robust_eval" -> (d => Relational.doublyRobustEval(d)),
      "ab_ttest" -> (d => Relational.abTtest(d)))
    for ((name, op) <- ops) {
      val n = try op(oneDayEvents).collect().length
        catch { case e: Throwable => fail(s"$name threw on single-day events: $e") }
      assert(n <= 8, s"$name: unexpected fan-out on single-day events")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("classifier-eval operators are total on a single-class corpus") {
    // every doc English: negatives = 0, rater marginals saturate, one
    // quality score — the zero-denominator cases for AUC (pos·neg),
    // kappa (1 − pe), McNemar (b + c), per-class precision/recall
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "roc_auc" -> (d => Eval.rocAuc(d)),
      "pr_curve" -> (d => Eval.prCurve(d)),
      "mcnemar_test" -> (d => Eval.mcnemarTest(d)),
      "calibration_bins" -> (d => Eval.calibrationBins(d)),
      "isotonic_calibration" -> (d => Eval.isotonicCalibration(d)),
      "brier_decomposition" -> (d => Eval.brierDecomposition(d)),
      "lift_deciles" -> (d => Eval.liftDeciles(d)),
      "class_report" -> (d => Eval.classReport(d)),
      "quality_wilson_ci" -> (d => Eval.qualityWilsonCi(d)),
      "rater_agreement" -> (d => TextOps.raterAgreement(d)),
      "chi2_features" -> (d => TfIdf.chi2Features(d, minDf = 1)),
      "mutual_info_features" -> (d => TfIdf.mutualInfoFeatures(d, minDf = 1)),
      "gini_stump" -> (d => TfIdf.giniStump(d, minDf = 1)))
    for ((name, op) <- ops) {
      val n = try op(constDocs).collect().length
        catch { case e: Throwable => fail(s"$name threw on single-class corpus: $e") }
      assert(n <= 24, s"$name: unexpected fan-out on a 4-doc constant corpus")
      graft.CacheTracker.drainAll(spark)
    }
  }

  /** four vectors, every one IDENTICAL: per-dim std 0, one k-means
    * cluster, zero-variance correlations */
  private lazy val constEmb: DataFrame = (1L to 4L)
    .map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f, 1.0f, 2.0f, 3.0f, 4.0f), (i % 2).toInt))
    .toDF("vec_id", "embedding", "label")

  test("embedding operators are total on constant (dead-dimension) embeddings") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "embed_standardize" -> (d => Similarity.embedStandardize(d)),
      "embed_outliers" -> (d => Similarity.embedOutliers(d)),
      "embed_dim_corr" -> (d => Similarity.embedDimCorr(d)),
      "pca_explained" -> (d => Similarity.pcaExplained(d)),
      "kmeans_silhouette" -> (d => Similarity.kmeansSilhouette(d)),
      "label_noise" -> (d => Similarity.labelNoise(d)),
      "embed_isotropy" -> (d => Similarity.embedIsotropy(d)),
      "embed_mmd" -> (d => Similarity.embedMmd(d)),
      "v_measure" -> (d => Similarity.vMeasure(d)),
      "adjusted_rand" -> (d => Similarity.adjustedRand(d)),
      "embed_truncation_fidelity" ->
        (d => Similarity.embedTruncationFidelity(d, prefixDims = 4)))
    for ((name, op) <- ops) {
      val n = try op(constEmb).collect().length
        catch { case e: Throwable => fail(s"$name threw on constant embeddings: $e") }
      assert(n <= 64, s"$name: unexpected fan-out on 4 constant vectors")
      graft.CacheTracker.drainAll(spark)
    }
    // ALL-ZERO vectors: both cosines hit the 0/0 path — the NaN→NULL
    // guard must answer NULL rows, never NaN and never a throw
    import spark.implicits._
    val zeroEmb = (1L to 4L)
      .map(i => (i, Array.fill(8)(0.0f), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val z = Similarity.embedTruncationFidelity(zeroEmb, prefixDims = 4)
      .collect()
    assert(z.nonEmpty && z.forall(r => r.isNullAt(r.fieldIndex("cos_full"))),
      "zero-norm pairs must yield NULL cosines")
  }

  /** four SINGLE-TOKEN docs: the bigram stream is EMPTY (every LM's
    * n-1 window vanishes) while unigrams exist */
  private lazy val singleTokenDocs: DataFrame = (1L to 4L)
    .map(i => (i, "word", "en", "web", 4L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("language-model operators are total when the bigram stream is empty") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "bigram_lm" -> (d => LangModel.bigramLm(d)),
      "kn_bigram" -> (d => LangModel.knBigram(d)),
      "jm_bigram" -> (d => LangModel.jmBigram(d)),
      "stupid_backoff" -> (d => LangModel.stupidBackoff(d)),
      "bigram_cond_entropy" -> (d => LangModel.bigramCondEntropy(d)),
      "doc_perplexity" -> (d => LangModel.docPerplexity(d)),
      "heldout_perplexity" -> (d => LangModel.heldoutPerplexity(d)),
      "bigram_greedy_gen" -> (d => LangModel.bigramGreedyGen(d)),
      "token_pagerank" -> (d => Graph.tokenPagerank(d)),
      "token_hits" -> (d => Graph.tokenHits(d)),
      "glove_cooc" -> (d => TextOps.gloveCooc(d)),
      "cv_accuracy" -> (d => graft.ml.NaiveBayesSql.cvAccuracy(d)),
      "stratified_kfold" -> (d => TextOps.stratifiedKfold(d)),
      "group_kfold" -> (d => TextOps.groupKfold(d)))
    for ((name, op) <- ops) {
      val n = try op(singleTokenDocs).collect().length
        catch { case e: Throwable => fail(s"$name threw on single-token docs: $e") }
      assert(n <= 24, s"$name: unexpected fan-out on 4 single-token docs")
      graft.CacheTracker.drainAll(spark)
    }
  }

  /** four EMPTY-TEXT docs: zero tokens, zero chars — the per-doc ratio
    * divisors (words/sentence, compressed/raw, per-class char shares) */
  private lazy val emptyTextDocs: DataFrame = (1L to 4L)
    .map(i => (i, "", "en", "web", 0L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("per-doc text operators are total on empty-text docs") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "token_stats" -> (d => TextOps.tokenStats(d)),
      "text_stats" -> (d => TextOps.textStats(d)),
      "quality_score" -> (d => TextOps.qualityScore(d)),
      "compression_ratio" -> (d => TextOps.compressionRatio(d)),
      "char_entropy" -> (d => TextOps.charEntropy(d)),
      "repetition_stats" -> (d => TextOps.repetitionStats(d)),
      "gopher_filter" -> (d => TextOps.gopherFilter(d)),
      "casing_profile" -> (d => TextOps.casingProfile(d)),
      "char_class_profile" -> (d => TextOps.charClassProfile(d)),
      "suffix_profile" -> (d => TextOps.suffixProfile(d)),
      "sentence_stats" -> (d => TextOps.sentenceStats(d)),
      "readability" -> (d => TextOps.readability(d)),
      "token_entropy" -> (d => LangModel.tokenEntropy(d)),
      "unigram_logprob" -> (d => LangModel.unigramLogprob(d)),
      "token_fertility" -> (d => TextOps.tokenFertility(d)),
      "truncation_loss" -> (d => TextOps.truncationLoss(d)),
      "typo_recovery" -> (d => TextOps.typoRecovery(d)))
    for ((name, op) <- ops) {
      val n = try op(emptyTextDocs).collect().length
        catch { case e: Throwable => fail(s"$name threw on empty-text docs: $e") }
      assert(n <= 24, s"$name: unexpected fan-out on 4 empty-text docs")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("sessionize/attribution operators are total on a zero-conversion stream") {
    // every user exactly ONE click, nobody converts: zero gaps, zero
    // sessions beyond singletons, zero purchase cents to attribute
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "session_paths" -> (d => Sessionize.sessionPaths(d)),
      "window_funnel" -> (d => Sessionize.windowFunnel(d)),
      "conversion_latency" -> (d => Sessionize.conversionLatency(d)),
      "attribution_position" -> (d => Sessionize.attributionPosition(d)),
      "markov_attribution" -> (d => Sessionize.markovAttribution(d)),
      "path_entropy" -> (d => Sessionize.pathEntropy(d)),
      "srm_check" -> (d => Relational.srmCheck(d)))
    for ((name, op) <- ops) {
      val n = try op(oneDayEvents).collect().length
        catch { case e: Throwable => fail(s"$name threw on zero-conversion stream: $e") }
      assert(n <= 24, s"$name: unexpected fan-out on a 4-event stream")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("dedup/MT-metric operators are total on an all-identical corpus") {
    // every doc IDENTICAL: the maximal-duplication case — every pair a
    // perfect match (jaccard 1, distance 0), every cluster the whole
    // corpus; ratios like containment and brevity penalties sit at
    // their boundary values
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "dedup_exact" -> (d => Dedup.exact(d)),
      "dedup_keep_best" -> (d => TextOps.dedupKeepBest(d)),
      "dedup_survivorship" -> (d => Dedup.survivorship(d)),
      "dedup_threshold_sweep" -> (d => Dedup.thresholdSweep(d)),
      "minhash_pr_eval" -> (d => Dedup.minhashPrEval(d)),
      "simhash_hamming_hist" -> (d => Dedup.simhashHammingHist(d)),
      "edit_distance_pairs" -> (d => Dedup.editDistancePairs(d)),
      "rouge_l_pairs" -> (d => Dedup.rougeLPairs(d)),
      "wer_pairs" -> (d => Dedup.werPairs(d)),
      "ngram_jaccard" -> (d => Dedup.ngramJaccard(d)),
      "containment_pairs" -> (d => Dedup.containmentPairs(d)),
      "bleu_pairs" -> (d => Eval.bleuPairs(d)),
      "chrf_pairs" -> (d => Eval.chrfPairs(d)),
      "doc_similarity" -> (d => Similarity.docSimilarity(d)),
      "winnow_pairs" -> (d => TextOps.winnowPairs(d)))
    for ((name, op) <- ops) {
      val n = try op(constDocs).collect().length
        catch { case e: Throwable => fail(s"$name threw on identical corpus: $e") }
      assert(n <= 24, s"$name: unexpected fan-out on 4 identical docs")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("order trend operators are total on a single-day fact table") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "mann_kendall" -> (d => Relational.mannKendall(d)),
      "seasonal_decompose" -> (d => Relational.seasonalDecompose(d)))
    for ((name, op) <- ops) {
      val n = try op(oneDayOrders).collect().length
        catch { case e: Throwable => fail(s"$name threw on single-day orders: $e") }
      assert(n <= 8, s"$name: unexpected fan-out on single-day orders")
      graft.CacheTracker.drainAll(spark)
    }
  }

  // ---- r18 sweeps: the C-family sessionize/attribution/time-series ----
  // operators under the degenerate slices a 100 TB partition produces
  // constantly (verdict r17 task 7): single-event users (zero gaps, no
  // transitions), a zero-revenue day (purchases exist, cents all 0),
  // and a single-source corpus (one fold, one mixture component).

  /** four users, exactly ONE event each: every per-user gap/transition
    * frame is empty, every session a singleton */
  private lazy val singleEventUsers: DataFrame = Seq(
    (1L, 1L, "click", Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")), 1.0),
    (2L, 2L, "view", Timestamp.from(java.time.Instant.parse("2024-01-02T01:00:00Z")), 2.0),
    (3L, 3L, "purchase", Timestamp.from(java.time.Instant.parse("2024-01-03T02:00:00Z")), 3.0),
    (4L, 4L, "signup", Timestamp.from(java.time.Instant.parse("2024-01-04T03:00:00Z")), 4.0))
    .toDF("event_id", "user_id", "event_type", "ts", "value")

  /** a calendar with purchases whose value is all 0.0: revenue sums,
    * LTV curves, and revenue shares all hit 0/0-shaped denominators */
  private lazy val zeroRevenueEvents: DataFrame = (1L to 8L).map(i =>
    (i, i % 2, if (i % 2 == 0) "purchase" else "click",
      Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 3600)), 0.0))
    .toDF("event_id", "user_id", "event_type", "ts", "value")

  /** varied text, ONE source: source-keyed folds/mixtures/caps collapse
    * to a single group (k-fold trains on an EMPTY complement) */
  private lazy val singleSourceDocs: DataFrame = Seq(
    (1L, "alpha beta gamma delta", "en", "src0", 22L),
    (2L, "epsilon zeta eta theta", "en", "src0", 22L),
    (3L, "iota kappa lambda mu", "fr", "src0", 20L),
    (4L, "nu xi omicron pi rho", "de", "src0", 20L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("sessionize/attribution operators are total on single-event users") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "events_sessionize" -> (d => Sessionize.byLag(d)),
      "session_histogram" -> (d => Sessionize.sessionHistogram(d)),
      "events_funnel" -> (d => Sessionize.funnel(d)),
      "session_paths" -> (d => Sessionize.sessionPaths(d)),
      "window_funnel" -> (d => Sessionize.windowFunnel(d)),
      "frequent_paths3" -> (d => Sessionize.frequentPaths3(d)),
      "transition_latency" -> (d => Sessionize.transitionLatency(d)),
      "session_event_pairs" -> (d => Sessionize.sessionEventPairs(d)),
      "session_gap_sweep" -> (d => Sessionize.sessionGapSweep(d)),
      "attribution_time_decay" -> (d => Sessionize.attributionTimeDecay(d)),
      "attribution_window_sweep" -> (d => Sessionize.attributionWindowSweep(d)),
      "touches_to_convert" -> (d => Sessionize.touchesToConvert(d)),
      "shapley_attribution" -> (d => Sessionize.shapleyAttribution(d)),
      "transition_predict" -> (d => Sessionize.transitionPredict(d)),
      "markov_attribution" -> (d => Sessionize.markovAttribution(d)),
      "markov_stationary" -> (d => Sessionize.markovStationary(d)),
      "path_pattern_match" -> (d => Sessionize.pathPatternMatch(d)),
      "session_concurrency" -> (d => Sessionize.sessionConcurrency(d)),
      "bot_score" -> (d => Sessionize.botScore(d)),
      "conversion_latency" -> (d => Sessionize.conversionLatency(d)),
      "interarrival_stats" -> (d => Relational.interarrivalStats(d)))
    for ((name, op) <- ops) {
      val n = try op(singleEventUsers).collect().length
        catch { case e: Throwable => fail(s"$name threw on single-event users: $e") }
      assert(n <= 32, s"$name: unexpected fan-out on a 4-event stream")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("calendar/revenue operators are total on a zero-revenue day") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "daily_kpis" -> (d => Relational.dailyKpis(d)),
      "survival_curve" -> (d => Relational.survivalCurve(d)),
      "dau_mau" -> (d => Relational.dauMau(d)),
      "churn_rate" -> (d => Relational.churnRate(d)),
      "diff_in_diff" -> (d => Relational.diffInDiff(d)),
      "retention_decay_fit" -> (d => Relational.retentionDecayFit(d)),
      "attribution_time_decay" -> (d => Sessionize.attributionTimeDecay(d)),
      "touches_to_convert" -> (d => Sessionize.touchesToConvert(d)),
      "shapley_attribution" -> (d => Sessionize.shapleyAttribution(d)),
      "markov_attribution" -> (d => Sessionize.markovAttribution(d)))
    for ((name, op) <- ops) {
      val n = try op(zeroRevenueEvents).collect().length
        catch { case e: Throwable => fail(s"$name threw on a zero-revenue day: $e") }
      assert(n <= 64, s"$name: unexpected fan-out on an 8-event stream")
      graft.CacheTracker.drainAll(spark)
    }
  }

  /** four docs of ONE REPEATED token: every bigram edge is a SELF-LOOP
    * — degree/triangle/assortativity math meets src == dst rows, and
    * community/k-core folds see a graph whose only structure is loops */
  private lazy val selfLoopDocs: DataFrame = (1L to 4L)
    .map(i => (i, "word word word word word word", "en", "web", 29L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("token-graph operators are total on empty and all-self-loop edge sets") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "token_walks" -> (d => Graph.tokenWalks(d)),
      "token_triangles" -> (d => Graph.tokenTriangles(d, minPairDocs = 1)),
      "token_degree_stats" -> (d => Graph.tokenDegreeStats(d, minPairDocs = 1)),
      "token_bfs" -> (d => Graph.tokenBfs(d, minPairDocs = 1)),
      "token_bfs_rcte" -> (d => Graph.tokenBfsRcte(d, minPairDocs = 1)),
      "token_label_prop" -> (d => Graph.tokenLabelProp(d)),
      "community_modularity" -> (d => Graph.communityModularity(d)),
      "token_kcore" -> (d => Graph.tokenKcore(d)),
      "token_assortativity" -> (d => Graph.tokenAssortativity(d, minPairDocs = 1)),
      "adamic_adar" -> (d => Graph.adamicAdar(d)),
      "bpe_train" -> (d => TextOps.bpeTrain(d)),
      "bpe_apply" -> (d => TextOps.bpeApply(d)),
      "bpe_merge_step" -> (d => TextOps.bpeMergeStep(d)))
    for ((name, op) <- ops; (label, docs) <-
           Seq("single-token (empty edge set)" -> singleTokenDocs,
             "self-loop-only" -> selfLoopDocs)) {
      val n = try op(docs).collect().length
        catch { case e: Throwable => fail(s"$name threw on $label docs: $e") }
      assert(n <= 32, s"$name: unexpected fan-out on 4 $label docs")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("source-keyed operators are total on a single-source corpus") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "mixture_sample" -> (d => TextOps.mixtureSample(d)),
      "domain_cap" -> (d => TextOps.domainCap(d)),
      "cv_accuracy" -> (d => graft.ml.NaiveBayesSql.cvAccuracy(d)))
    for ((name, op) <- ops) {
      val n = try op(singleSourceDocs).collect().length
        catch { case e: Throwable => fail(s"$name threw on a single-source corpus: $e") }
      assert(n <= 16, s"$name: unexpected fan-out on a 4-doc corpus")
      graft.CacheTracker.drainAll(spark)
    }
  }
}
