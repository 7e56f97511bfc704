package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.operators._

/** Empty-input totality: a curation pipeline meets empty partitions and
  * empty after-filter frames constantly at 100 TB — every operator must
  * return an empty (correctly-typed) result, never throw. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs: DataFrame =
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val noEvents: DataFrame =
    Seq.empty[(Long, Long, String, Timestamp, Double)]
      .toDF("event_id", "user_id", "event_type", "ts", "value")

  private lazy val noOrders: DataFrame =
    Seq.empty[(Long, Long, Timestamp, Double)]
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")

  test("text operators are total on an empty corpus") {
    val ops: Seq[DataFrame => DataFrame] = Seq(
      TextOps.cleanDocs, TextOps.sentenceStats, TextOps.readability,
      d => TextOps.tokenizeIds(d), TextOps.qualityScore,
      d => Dedup.exact(d), d => TfIdf.tfidf(d), d => TfIdf.chi2Features(d),
      d => TfIdf.keywordExtract(d), d => LangModel.bm25(d),
      d => LangModel.tokenBurstiness(d), d => LangModel.sourceLangEntropy(d),
      d => LangModel.zipfSlope(d), d => Graph.tokenTriangles(d),
      d => Dedup.spanDedup(d), d => Dedup.spanDedupTrim(d),
      d => Dedup.spanDedupIncremental(d, d),
      d => LangModel.ccnetBuckets(d), TextOps.tokenCoverageCurve,
      d => TextOps.corpusShuffle(d), TextOps.tokenFertility,
      d => Dedup.survivorship(d), d => LangModel.knBigram(d),
      d => Dedup.cdcChunks(d), d => graft.ml.Sentiment.lexiconScore(d),
      d => Dedup.simhashDetPairs(d), d => TextOps.qualityDrift(d),
      d => TextOps.packEfficiency(d), d => Dedup.minhashCalibration(d),
      d => TextOps.weightedSample(d), d => TextOps.shardBalance(d),
      d => TextOps.curriculumOrder(d), d => TextOps.docOovRate(d),
      d => LangModel.heldoutPerplexity(d), d => TextOps.mixtureEpoch(d),
      d => Dedup.thresholdSweep(d))
    for ((op, i) <- ops.zipWithIndex)
      assert(op(noDocs).count() === 0, s"text op #$i not total on empty input")
  }

  test("event operators are total on an empty stream") {
    val ops: Seq[DataFrame => DataFrame] = Seq(
      Relational.eventsWindow, Relational.eventsEwma(_),
      Relational.interarrivalStats, d => Sessionize.sessionPaths(d),
      Relational.windowActiveUsers, d => Sessionize.scd2Intervals(d),
      d => Relational.eventsGapFill(d))
    for ((op, i) <- ops.zipWithIndex)
      assert(op(noEvents).count() === 0, s"event op #$i not total on empty input")
  }

  test("round-11 operators are total on empty inputs") {
    val textOps: Seq[DataFrame => DataFrame] = Seq(
      d => TextOps.templateDocs(d), d => TextOps.ksSourceDrift(d),
      d => TextOps.qualityQuantileNorm(d),
      d => Dedup.containmentPairs(d),
      d => LangModel.searchEval(d), d => LangModel.queryExpansion(d))
    for ((op, i) <- textOps.zipWithIndex)
      assert(op(noDocs).count() === 0, s"round-11 text op #$i not total on empty input")
    assert(Relational.cohortLtv(noOrders).count() === 0)
    assert(Relational.basketPairs(
      Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")).count() === 0)
  }

  test("round-12b operators are total on empty inputs") {
    val textOps: Seq[DataFrame => DataFrame] = Seq(
      d => TextOps.dpoPairs(d), d => TextOps.rewardNormalize(d),
      d => TfIdf.topicLabels(d), d => TextOps.sftPack(d),
      d => LangModel.stupidBackoff(d), d => TextOps.shardManifest(d),
      d => Dedup.dupSpanMask(d), d => TextOps.passAtK(d),
      d => TextOps.bradleyTerry(d), d => TextOps.segmentStats(d))
    for ((op, i) <- textOps.zipWithIndex)
      assert(op(noDocs).count() === 0, s"round-12b text op #$i not total on empty input")
    val eventOps: Seq[DataFrame => DataFrame] = Seq(
      d => Sessionize.windowFunnel(d), d => Sessionize.pitJoin(d),
      d => Relational.cusumChangepoint(d), d => Sessionize.botScore(d),
      d => Relational.abTtest(d), d => Relational.dauMau(d),
      d => Sessionize.transitionPredict(d), d => Sessionize.scd2Merge(d))
    for ((op, i) <- eventOps.zipWithIndex)
      assert(op(noEvents).count() === 0, s"round-12b event op #$i not total on empty input")
    // global aggregate: one zero-count row on empty input, never a throw
    val cl = Sessionize.conversionLatency(noEvents).collect()
    assert(cl.length === 1 && cl.head.getAs[Long]("n_converted") === 0L)
  }

  test("round-12c operators are total on empty inputs") {
    val textOps: Seq[DataFrame => DataFrame] = Seq(
      d => TextOps.distinctNgrams(d), d => TextOps.rejectionSample(d),
      d => TextOps.blocklistFilter(d), d => Graph.tokenBfs(d))
    for ((op, i) <- textOps.zipWithIndex)
      assert(op(noDocs).count() === 0, s"round-12c text op #$i not total on empty input")
    val eventOps: Seq[DataFrame => DataFrame] = Seq(
      d => Relational.eventsOhlc(d), d => Relational.twap(d),
      d => Relational.ivmAgg(d), d => Relational.latenessProfile(d),
      d => Relational.userOverlapJaccard(d))
    for ((op, i) <- eventOps.zipWithIndex)
      assert(op(noEvents).count() === 0, s"round-12c event op #$i not total on empty input")
    val moreTextOps: Seq[DataFrame => DataFrame] = Seq(
      d => TextOps.qualityThresholdSweep(d), d => LangModel.doremiStep(d),
      d => LangModel.trigramTopk(d), d => LangModel.hillTailIndex(d),
      d => TextOps.stratifiedKfold(d), d => TextOps.mixtureTemperature(d))
    for ((op, i) <- moreTextOps.zipWithIndex)
      assert(op(noDocs).count() === 0, s"round-12c text op #${i + 4} not total on empty input")
    // global aggregates: one zero/null-stat row (never a throw) — the
    // fixed-arity summary shape, same as spendGini/conversionLatency
    assert(TextOps.renyiEfficiency(noDocs).collect().length === 1)
    assert(Graph.tokenDegreeStats(noDocs).collect().length <= 1)
    assert(LangModel.bigramCondEntropy(noDocs).collect().length <= 1)
    val noEventsProps =
      Seq.empty[(Long, Long, String, Timestamp, Double, String)]
        .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val eventAggs: Seq[DataFrame => DataFrame] = Seq(
      d => Relational.newVsReturning(d),
      _ => Relational.jsonKeyProfile(noEventsProps),
      d => Relational.burstHours(d), d => Relational.paretoUsers(d))
    for ((op, i) <- eventAggs.zipWithIndex)
      assert(op(noEvents).count() === 0, s"round-12c event agg #$i not total on empty input")
    graft.CacheTracker.drainAll(spark)
    assert(Relational.keySkewProfile(noEvents).collect().length <= 1)
    graft.CacheTracker.drainAll(spark)
    // fixed-arity channel rows with zero effect on an empty stream
    val ma = Sessionize.markovAttribution(noEvents).collect()
    assert(ma.length === 4 && ma.forall(_.getAs[Double]("removal_effect") === 0.0))
    graft.CacheTracker.drainAll(spark)
    val eventAggs2: Seq[DataFrame => DataFrame] = Seq(
      d => Relational.seasonalNaiveEval(d), d => Relational.churnRate(d))
    for ((op, i) <- eventAggs2.zipWithIndex)
      assert(op(noEvents).count() === 0, s"round-12c event agg2 #$i not total on empty input")
    assert(Similarity.coresetSelect(
      Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label"))
      .count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.benfordCheck(
      Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice"))
      .count() === 9, "benford grid always emits 9 digit rows")
    assert(Relational.shipLatency(
      Seq.empty[(Long, String, Timestamp)]
        .toDF("o_orderkey", "o_orderpriority", "o_orderdate"),
      Seq.empty[(Long, Timestamp)].toDF("l_orderkey", "l_shipdate")).count() === 0)
    // global aggregates: a fixed-arity row set with zero/null stats, not a throw
    val ra = TextOps.raterAgreement(noDocs).collect()
    assert(ra.length === 3 && ra.forall(_.getAs[Long]("n") === 0L))
    val pm = Sessionize.pathPatternMatch(noEvents).collect()
    assert(pm.length === 4 && pm.forall(_.getAs[Long]("n_matched") === 0L))
  }

  test("round-12d eval operators are total on an empty corpus") {
    // global aggregates emit their one summary row with zero counts
    val auc = Eval.rocAuc(noDocs).collect()
    graft.CacheTracker.drainAll(spark)
    assert(auc.length === 1 && auc.head.getAs[Long]("n_scores") === 0L)
    val mc = Eval.mcnemarTest(noDocs).collect()
    assert(mc.length === 1 && mc.head.getAs[Long]("n") === 0L &&
      mc.head.getAs[Double]("chi2") === 0.0)
    // per-threshold / per-bin frames are simply empty
    assert(Eval.prCurve(noDocs).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Eval.calibrationBins(noDocs).count() === 0)
    assert(TextOps.gloveCooc(noDocs).count() === 0)
    assert(Relational.survivalCurve(noEvents).count() === 0)
    graft.CacheTracker.drainAll(spark)
    val noLi = Seq.empty[(Long, Long, Int)]
      .toDF("l_orderkey", "l_partkey", "l_linenumber")
    val noOrd = Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
    assert(Relational.itemCfScores(noLi, noOrd).count() === 0)
    assert(Relational.cupedAdjust(noEvents).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(TextOps.freqOfFreqs(noDocs).count() === 0)
    assert(LangModel.jmBigram(noDocs).count() === 0)
    assert(Eval.liftDeciles(noDocs).count() === 0)
    graft.CacheTracker.drainAll(spark)
    // global regression emits its one null-fit row on an empty corpus
    assert(LangModel.heapsLawFit(noDocs).count() === 1)
    graft.CacheTracker.drainAll(spark)
    assert(Eval.classReport(noDocs).count() === 0)
    assert(Relational.topMovers(noEvents).count() === 0)
    assert(Similarity.ivfCellBalance(
      Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label"))
      .count() === 0)
    assert(Relational.psiDrift(noEvents).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.retentionDecayFit(noEvents).count() === 1)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.equiDepthHistogram(
      Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice")).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Sessionize.sessionConcurrency(noEvents).count() === 0)
    graft.CacheTracker.drainAll(spark)
    // dq report stays fixed-arity (5 rule rows) on fully empty feeds
    val noCust = Seq.empty[(Long, String)].toDF("c_custkey", "c_name")
    val noLi2 = Seq.empty[(Long, Double, Double)]
      .toDF("l_orderkey", "l_quantity", "l_discount")
    val noOrd2 = Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
    val dq = Relational.dqChecks(noLi2, noOrd2, noCust, noEvents, noDocs).collect()
    assert(dq.length === 5 && dq.forall(_.getAs[Long]("n_violations") === 0L))
    val srm = Relational.srmCheck(noEvents).collect()
    assert(srm.length === 1 && srm.head.getAs[Double]("chi2") === 0.0)
    assert(TextOps.tokenPositionBias(noDocs).count() === 0)
    assert(Relational.valuePercentilesByType(noEvents).count() === 0)
    assert(Relational.dispersionIndex(noEvents).count() === 0)
    // events dq twin keeps its 3 fixed rule rows on an empty stream
    val edq = Relational.eventDqReport(noEvents).collect()
    assert(edq.length === 3 && edq.forall(_.getAs[Long]("n_checked") === 0L))
    assert(Relational.mannwhitneyU(noEvents).count() === 1)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.discountElasticity(
      Seq.empty[(Long, Double, Double)]
        .toDF("l_orderkey", "l_quantity", "l_discount")).count() === 1)
    assert(Graph.tokenKcore(noDocs).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.snapshotDiff(
      Seq.empty[(Long, Double, String)]
        .toDF("o_orderkey", "o_totalprice", "o_orderstatus")).count() === 0)
    assert(TextOps.sourceTokenHistSim(noDocs).count() === 0)
    assert(Sessionize.pathEntropy(noEvents).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.spendLorenz(noOrders).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(Relational.catalogCoverage(
      Seq.empty[(Long, String)].toDF("p_partkey", "p_type"),
      Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")).count() === 0)
    assert(Dedup.dupRateBySource(noDocs).count() === 0)
    assert(TfIdf.topicCoherence(noDocs).count() === 0)
    graft.CacheTracker.drainAll(spark)
    assert(TextOps.tokenizerVocabOverlap(noDocs).count() === 1)
    assert(Sessionize.attributionWindowSweep(noEvents).count() === 3)
    graft.CacheTracker.drainAll(spark)
  }

  test("order operators are total on an empty fact table") {
    val ops: Seq[DataFrame => DataFrame] = Seq(
      Relational.rfmSegments(_), Relational.orderSkyline,
      Relational.weeklyRevenueWow(_), Relational.spendGini)
    for ((op, i) <- ops.zipWithIndex) {
      val out = op(noOrders)
      // spendGini is a global aggregate: one row of zeros/null is NOT
      // acceptable either — Spark's global agg on empty input emits one
      // row; assert it does not throw and flag the shape explicitly
      assert(out.collect().length <= 1, s"order op #$i wrong on empty input")
    }
  }

  private lazy val noEmb: DataFrame =
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")

  test("round-16/17 graph and statistics operators are total on an empty corpus") {
    // global-aggregate shapes emit at most one NULL-stat summary row on
    // empty input (the spendGini posture); pair/row shapes emit zero.
    // Under ANSI mode the risk class is divide-by-zero on a degenerate
    // denominator, which THROWS instead of yielding NULL — each op here
    // must guard it
    val ops: Seq[DataFrame => DataFrame] = Seq(
      d => Graph.tokenHits(d), d => Graph.tokenLabelProp(d),
      d => Graph.communityModularity(d), d => LangModel.bigramGreedyGen(d),
      d => TextOps.simpsonsParadox(d), d => TextOps.vocabCoverageEst(d),
      d => TextOps.sourceRuzicka(d), d => TextOps.tokenMassPercentiles(d),
      d => TextOps.skylineDocs(d), d => TextOps.hillNumbers(d),
      d => TextOps.moodMedian(d), d => TextOps.negbinFit(d),
      d => TextOps.brownForsythe(d), d => TextOps.kruskalWallis(d),
      d => TextOps.kendallTau(d), d => TextOps.theilU(d),
      d => TextOps.cochranQ(d), d => TextOps.jarqueBera(d),
      d => TextOps.runsTest(d), d => Eval.selfBleu(d), d => Dedup.werPairs(d))
    for ((op, i) <- ops.zipWithIndex) {
      assert(op(noDocs).collect().length <= 1,
        s"round-16/17 text op #$i wrong on empty input")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("round-16/17 event operators are total on an empty stream") {
    val ops: Seq[DataFrame => DataFrame] = Seq(
      d => Relational.huberTrend(d), d => Relational.poissonTrend(d),
      d => Relational.oddsRatio(d), d => Relational.logrankTest(d),
      d => Relational.revenueVar(d), d => Sketches.bitmapOverlapMatrix(d),
      d => Sessionize.markovStationary(d))
    for ((op, i) <- ops.zipWithIndex) {
      assert(op(noEvents).collect().length <= 1,
        s"round-16/17 event op #$i wrong on empty input")
      graft.CacheTracker.drainAll(spark)
    }
  }

  test("embedding operators are total on empty / single-vector / singleton-label input") {
    val embOps: Seq[DataFrame => DataFrame] = Seq(
      d => Similarity.embedIsotropy(d), d => Similarity.embedMmd(d),
      d => Similarity.vMeasure(d), d => Similarity.adjustedRand(d))
    for ((op, i) <- embOps.zipWithIndex) {
      assert(op(noEmb).collect().length <= 1,
        s"emb op #$i wrong on empty input")
      graft.CacheTracker.drainAll(spark)
    }
    // ONE vector: embed_isotropy's mean-pairwise divisor is n(n-1) = 0 —
    // must yield a NULL stat, not an ANSI divide-by-zero throw
    val one = Seq((1L, Array(1.0f, 2.0f), 0)).toDF("vec_id", "embedding", "label")
    val iso = Similarity.embedIsotropy(one).collect()
    assert(iso.length == 1 && iso.head.getAs[Long]("n_vecs") == 1L
      && iso.head.isNullAt(iso.head.fieldIndex("mean_pairwise_cos")))
    // a SINGLETON label: the unbiased MMD² per-group divisor n(n-1) = 0 —
    // the undefined pair drops instead of throwing
    val singleton = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.8f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.embedMmd(singleton).count() == 0L)
    graft.CacheTracker.drainAll(spark)
    // two vectors, one label, k=4 clustering: the validity scores must
    // survive degenerate entropies without throwing
    val twoOneLabel = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.vMeasure(twoOneLabel).collect().length <= 1)
    graft.CacheTracker.drainAll(spark)
    assert(Similarity.adjustedRand(twoOneLabel).collect().length <= 1)
    graft.CacheTracker.drainAll(spark)
  }

  test("the store reads return their usual schema on empty input") {
    import graft.streaming.Events
    def ts(sec: Long) = new Timestamp(1704067200000L + sec * 1000L)
    val someDocs = Seq(
      (1L, "one two three four five six seven eight nine", "en", "s1", 44L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s1", 46L),
      (3L, "one two three four five six seven eight nine", "en", "s2", 44L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val someEvents = (0L until 6L).map(i => (i, i % 2, "view", ts(i * 600), 1.5 * i))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val reads: Seq[(String, DataFrame => DataFrame, Boolean)] = Seq(
      ("dedupStoreRead", Events.dedupStoreRead, true),
      ("sketchCmsTable", Events.sketchCmsTable(_), true),
      ("sketchHllTable", Events.sketchHllTable, true),
      ("sketchBloomTable", Events.sketchBloomTable(_), true),
      ("spanStoreRead", Events.spanStoreRead, true),
      ("ivmStoreRead", Events.ivmStoreRead, false),
      ("dqStoreRead", Events.dqStoreRead, false),
      ("botScoreStoreRead", Events.botScoreStoreRead, false))
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    for ((name, read, onDocs) <- reads) {
      val usual = shape(read(if (onDocs) someDocs else someEvents))
      val empty = read(if (onDocs) noDocs else noEvents)
      assert(shape(empty) === usual, s"$name changes its schema on empty input")
      empty.collect()
    }
    graft.CacheTracker.drainAll(spark)
  }
}
