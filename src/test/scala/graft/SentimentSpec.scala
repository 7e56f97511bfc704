package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.classification.{LinearSVC, NaiveBayes}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ml.Sentiment

class SentimentSpec extends SparkSpec {
  import spark.implicits._

  // separable corpus: label 1 docs talk about cats, label 0 about engines
  private lazy val corpus = {
    val rnd = new scala.util.Random(11)
    val catWords = Seq("cat", "kitten", "purr", "whisker", "meow")
    val engWords = Seq("engine", "shuffle", "parquet", "column", "codegen")
    (0L until 200L).map { id =>
      val pos = id % 2 == 0
      val words = Seq.fill(12)(if (pos) catWords(rnd.nextInt(5)) else engWords(rnd.nextInt(5)))
      (id, words.mkString(" "), if (pos) 1.0 else 0.0)
    }.toDF("id", "text", "label")
  }

  test("deterministic split is exactly 75/25 by id mod 4") {
    val out = Sentiment.trainTestSplit(
      corpus.withColumnRenamed("id", "doc_id")).as[(String, Long)].collect().toMap
    assert(out === Map("train" -> 150L, "test" -> 50L))
  }

  test("NaiveBayes separates a separable corpus") {
    val preds = Sentiment.nbPredictions(corpus)
    val acc = Sentiment.evalMetrics(preds).select("accuracy").as[Double].head()
    assert(acc === 1.0, s"expected perfect separation, got $acc")
  }

  test("LinearSVC separates a separable corpus") {
    val preds = Sentiment.svmPredictions(corpus)
    val acc = Sentiment.evalMetrics(preds).select("accuracy").as[Double].head()
    assert(acc === 1.0, s"expected perfect separation, got $acc")
  }

  // NOTE: the synthetic embeddings' labels carry no holdout signal (verified:
  // logistic regression scores below the majority baseline on every label
  // pair), so accuracy-beats-baseline is asserted on the separable corpus
  // above; real-data tests assert pipeline mechanics.
  test("LinearSVC pipeline on real sf0.001 embeddings: predicts exactly the test split") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"),
        when(col("label") >= 5, 1.0).otherwise(0.0).as("label"))
    val feats = Sentiment.vectorize(emb, "embedding")
    val preds = Sentiment.fitPredictFeaturized(feats,
      new org.apache.spark.ml.classification.LinearSVC().setMaxIter(10).setRegParam(0.1))
      .cache()
    val nTest = emb.filter(Sentiment.splitCol("id") === "test").count()
    assert(preds.count() === nTest)
    val predVals = preds.select("prediction").distinct().as[Double].collect().toSet
    assert(predVals.subsetOf(Set(0.0, 1.0)))
    val m = Sentiment.evalMetrics(preds).head()
    assert(m.getAs[Double]("accuracy") >= 0.0 && m.getAs[Double]("accuracy") <= 1.0)
  }

  test("evalMetrics matches hand-computed values") {
    // confusion: TP(1)=2, FN(1)=1, FP(1)=1, TN=2  (labels 0/1)
    val preds = Seq((1.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0), (0.0, 0.0))
      .toDF("label", "prediction")
    val m = Sentiment.evalMetrics(preds).head()
    assert(m.getAs[Double]("accuracy") === math.rint(4.0 / 6 * 1e6) / 1e6)
    // per-class: c1 p=2/3 r=2/3 f1=2/3; c0 p=2/3 r=2/3 f1=2/3 -> weighted = 2/3
    assert(m.getAs[Double]("weighted_f1") === math.rint(2.0 / 3 * 1e6) / 1e6)
  }

  test("evalMetrics edge cases: empty, null classes, predicted-only class, -0.0") {
    def metrics(rows: Seq[(Option[Double], Option[Double])]): Seq[Option[Double]] = {
      val r = Sentiment.evalMetrics(rows.toDF("label", "prediction")).head()
      (0 until 4).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))
    }
    def row(xs: Double*) = xs.map(Some(_))
    val (n0, n1, n2, nul) = (Some(0.0), Some(1.0), Some(2.0), None)
    assert(metrics(Nil) === None +: row(0.0, 0.0, 0.0))
    assert(metrics(Seq(nul -> n1, n1 -> n1, n0 -> n1, nul -> nul, n0 -> nul)) ===
      row(0.2, 0.066667, 0.2, 0.1))
    assert(metrics(Seq(n0 -> n0, n0 -> n2, n1 -> n1, n1 -> n2, n1 -> n0)) ===
      row(0.4, 0.8, 0.4, 0.5))
    assert(metrics(Seq(Some(-0.0) -> n0, n0 -> n0, n1 -> Some(-0.0))) ===
      row(0.666667, 0.444444, 0.666667, 0.533333))
  }

  /** Poll until a listener-fed value holds still: listener delivery is
    * async. */
  private def settle[T](read: => T): T = {
    var prev = read; var stable = 0; var iters = 0
    while (stable < 3 && iters < 50) {
      Thread.sleep(10)
      val now = read
      if (now == prev) stable += 1 else { stable = 0; prev = now }
      iters += 1
    }
    prev
  }

  private def withAdvisory[T](size: Option[String])(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    size.foreach(spark.conf.set(key, _))
    try body finally spark.conf.unset(key)
  }

  private lazy val featurized = Sentiment.featurizer().fit(corpus).transform(corpus)

  private def svm = new LinearSVC().setMaxIter(10).setRegParam(0.1)

  /** (stages, tasks) of every `treeAggregate at RDDLossFunction` job
    * (one LinearSVC loss evaluation) that `body` runs. */
  private def lossJobs(body: => Unit): Seq[(Int, Int)] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.startsWith("treeAggregate at RDDLossFunction")))
          jobs.add((e.stageInfos.size, e.stageInfos.map(_.numTasks).sum))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      settle(jobs.size)
      jobs.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("fitPredictFeaturized: NB and LinearSVC predictions do not depend on the input's partitions") {
    def preds(parts: Int) = {
      val feats = featurized.repartition(parts)
      try Seq(new NaiveBayes(), svm).map(clf =>
        Sentiment.fitPredictFeaturized(feats, clf).as[(Long, Double, Double)].collect().toSet)
      finally CacheTracker.drainAll(spark)
    }
    // the default advisory size narrows this fixture to one partition; a
    // 1-byte one keeps each input's own partitions
    for (advisory <- Seq(None, Some("1b"))) withAdvisory(advisory) {
      val one = preds(1)
      assert(one.forall(_.size == 50))
      for (parts <- Seq(4, 7)) assert(preds(parts) === one, s"$parts partitions, advisory $advisory")
    }
  }

  test("a LinearSVC fit on a small training set runs each loss evaluation as one task") {
    val jobs = lossJobs {
      try Sentiment.fitPredictFeaturized(featurized.repartition(4), svm)
      finally CacheTracker.drainAll(spark)
    }
    assert(jobs.nonEmpty)
    assert(jobs.forall(_ == ((1, 1))), s"(stages, tasks) per loss job: $jobs")
  }

  test("a fit keeps its input's partitions when its pin fills them at the advisory size") {
    val feats = featurized.repartition(4)
    // the frame fitPredictFeaturized pins: the memo hands it the same pin
    val bytes = CacheTracker.pinnedBytes(CacheTracker.cachedCheckpoint(Sentiment.fitInput(feats)))
    assert(bytes > 0L)
    val jobs = withAdvisory(Some(s"${bytes / 4 - 1}b")) {
      lossJobs {
        try Sentiment.fitPredictFeaturized(feats, svm)
        finally CacheTracker.drainAll(spark)
      }
    }
    assert(jobs.nonEmpty)
    assert(jobs.forall(_ == ((2, 5))), s"(stages, tasks) per loss job: $jobs")
  }

  test("classifiers on one featurized frame share one checkpoint until drainAll") {
    CacheTracker.drainAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_feats").toString
    corpus.write.mode("overwrite").parquet(dir)
    // every row the parquet source hands the featurize chain is counted:
    // one corpus of rows per chain run (a read from cached or checkpoint
    // blocks does not evaluate the source's columns again)
    val sourced = spark.sparkContext.longAccumulator("source rows")
    val counted = udf { (t: String) => sourced.add(1); t }
    val data = spark.read.parquet(dir).withColumn("text", counted(col("text")))
    val n = corpus.count()
    def runs = sourced.sum.toDouble / n
    try {
      // IDF's fit runs the chain and fills the term-count stage's cache;
      // the fitted featurizer's transform and both fits read it
      val feats = Sentiment.featurizer().fit(data).transform(data)
      val nb = Sentiment.fitPredictFeaturized(feats, new NaiveBayes())
        .as[(Long, Double, Double)].collect().toSet
      Sentiment.fitPredictFeaturized(feats, new LinearSVC().setMaxIter(10).setRegParam(0.1))
      assert(runs === 1.0, "the featurizer's fit, its transform and both fits " +
        "must share one featurize run")
      // drainAll frees the cache and the checkpoint's blocks: the next call
      // must featurize again, not read the freed blocks
      CacheTracker.drainAll(spark)
      val again = Sentiment.fitPredictFeaturized(feats, new NaiveBayes())
        .as[(Long, Double, Double)].collect().toSet
      assert(runs === 2.0)
      assert(again === nb)
    } finally CacheTracker.drainAll(spark)
  }

  test("fitted pipeline persists and reloads with identical predictions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    val feats = Sentiment.featurizer().fit(corpus)
    val transformed = feats.transform(corpus)
    val model = new org.apache.spark.ml.classification.NaiveBayes()
      .setFeaturesCol("features").fit(transformed)
    model.write.overwrite().save(s"$dir/nb")
    feats.write.overwrite().save(s"$dir/featurizer")
    val reFeats = org.apache.spark.ml.PipelineModel.load(s"$dir/featurizer")
    val reModel = org.apache.spark.ml.classification.NaiveBayesModel.load(s"$dir/nb")
    val a = model.transform(transformed).select("id", "prediction")
      .as[(Long, Double)].collect().toMap
    val b = reModel.transform(reFeats.transform(corpus)).select("id", "prediction")
      .as[(Long, Double)].collect().toMap
    assert(a === b)
  }

  test("hand-rolled SQL NaiveBayes separates the separable corpus") {
    val labeled = corpus.select(col("id").as("doc_id"), col("text"),
      when(col("label") === 1.0, "cat").otherwise("eng").as("label"))
    val preds = graft.ml.NaiveBayesSql.predictions(labeled)
    val n = preds.count()
    assert(n === 50) // the 25% test split
    val correct = preds.filter(col("label") === col("predicted")).count()
    assert(correct === n, s"expected perfect separation, got $correct/$n")
  }

  test("confusion matrix totals preserve row count") {
    val preds = Sentiment.nbPredictions(corpus)
    val cmTotal = Sentiment.confusionMatrix(preds).agg(sum("n")).as[Long].head()
    assert(cmTotal === preds.count())
  }
}
