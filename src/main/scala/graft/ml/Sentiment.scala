package graft.ml

import graft.CacheTracker

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, Transformer}
import org.apache.spark.ml.classification.{LinearSVC, NaiveBayes}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.IDF
import org.apache.spark.ml.param.{IntParam, ParamMap, ParamValidators}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.TextOps

/** The reference's classification surface, Spark-first (A12-A16).
  *
  * Reference shape (Spark/NB/src/main/scala/NB.scala:71-99 and
  * SVM.scala:84-97): Tokenizer → HashingTF → IDF → randomSplit(0.75/0.25,
  * seed) → NaiveBayes / LinearSVC(maxIter=10, regParam=0.1) →
  * MulticlassMetrics via an RDD round-trip.
  *
  * Differences, deliberately:
  *  - the split is `id % 4 < 3` — deterministic, partition-independent,
  *    and reproducible by the DuckDB oracle (randomSplit is neither
  *    partition-stable nor reproducible outside Spark);
  *  - cleaning is the shared [[TextOps.cleanText]] chain, and tokenize +
  *    HashingTF is one native pass over its output
  *    ([[TextOps.termCounts]]), bit-identical to `RegexTokenizer("\\s+")`
  *    + `HashingTF` on the cleaned text;
  *  - the chain up to the term counts (ingest, clean, hash) runs once per
  *    input: [[CleanHashingTF]] caches its output, IDF's fit fills the
  *    cache and the fitted featurizer's transform of the same input reads
  *    it;
  *  - metrics come from the confusion matrix, collected once: a few
  *    cells whose weighted sums are computed locally, with no further
  *    Spark job (NB.scala:94's `.rdd.map(...)` round-trip ships every
  *    prediction instead).
  */
object Sentiment {

  /** Deterministic 75/25 split indicator (A12). */
  def splitCol(idCol: String) = when(pmod(col(idCol), lit(4)) < 3, "train").otherwise("test")

  /** Split summary: (split, n_rows) — oracle-checkable. */
  def trainTestSplit(docs: DataFrame): DataFrame =
    docs.groupBy(splitCol("doc_id").as("split")).agg(count(lit(1)).as("n_rows"))

  /** Featurize: clean → tokenize → HashingTF → IDF(minDocFreq), the
    * NB.scala:71-80 pipeline on a `label`/`text` frame; the first three
    * steps are one stage, [[CleanHashingTF]]. */
  def featurizer(numFeatures: Int = 1 << 16, minDocFreq: Int = 0): Pipeline = {
    val tf = new CleanHashingTF().setNumFeatures(numFeatures)
    val idf = new IDF().setInputCol("rawFeatures").setOutputCol("features")
      .setMinDocFreq(minDocFreq)
    new Pipeline().setStages(Array(tf, idf))
  }

  /** Train NaiveBayes (NB.scala:86) on the train split, predict the test
    * split. Expects (id, text, label). */
  def nbPredictions(data: DataFrame, minDocFreq: Int = 0): DataFrame =
    fitPredict(data, new NaiveBayes().setFeaturesCol("features"), minDocFreq)

  /** Train LinearSVC(maxIter=10, regParam=0.1) (SVM.scala:89-91); label
    * must be binary. */
  def svmPredictions(data: DataFrame, minDocFreq: Int = 0): DataFrame =
    fitPredict(data, new LinearSVC().setMaxIter(10).setRegParam(0.1), minDocFreq)

  private def fitPredict(data: DataFrame,
                         clf: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]],
                         minDocFreq: Int): DataFrame =
    fitPredictFeaturized(
      featurizer(minDocFreq = minDocFreq).fit(data).transform(data), clf)

  /** Train on the `id % 4 < 3` split of an (id, features, label) frame,
    * predict the rest. Also the entry point for precomputed embeddings:
    * pass an array column through [[vectorize]] first. */
  def fitPredictFeaturized(feats: DataFrame,
                           clf: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]): DataFrame = {
    // pinned: iterative estimators (LinearSVC does maxIter passes) and the
    // test-side transform must not re-run the featurize chain per pass.
    // Every classifier fitted on the same frame within one query shares
    // one checkpoint.
    val withSplit = rightSized(CacheTracker.cachedCheckpoint(fitInput(feats)))
    val train = withSplit.filter(col("split") === "train")
    val test = withSplit.filter(col("split") === "test")
    val fitted = clf.fit(train).asInstanceOf[org.apache.spark.ml.Model[_]]
    // Transform serializes the MODEL into the task closure, and
    // HasTrainingSummary models (LinearSVCModel here) pin a training
    // summary holding a live SparkSession reference onto the instance.
    // A session whose lazy ObservationManager has been initialized (any
    // Dataset.observe use in the session's lifetime) is not
    // java-serializable, so transform() would throw Task not serializable
    // depending on which queries ran earlier in the JVM — an
    // order-dependent landmine in a multi-hundred-query pass. copy()
    // rebuilds the model from its learned params WITHOUT the summary
    // (verified against the Spark 4.1 bytecode), making the closure
    // session-free regardless of session history.
    val model = fitted.copy(org.apache.spark.ml.param.ParamMap.empty)
      .asInstanceOf[org.apache.spark.ml.Model[_]]
    // materialize the small prediction frame: it and the featurized
    // checkpoint are freed at the caller's CacheTracker.drainAll
    val preds = CacheTracker.cache(
      model.transform(test).select(col("id"), col("label"), col("prediction")))
    preds.count()
    preds
  }

  /** The columns a fit reads, split-tagged: what [[fitPredictFeaturized]]
    * pins. */
  private[graft] def fitInput(feats: DataFrame): DataFrame =
    feats.select(col("id"), col("label"), col("features"), splitCol("id").as("split"))

  /** A pinned frame narrowed, without a shuffle, to as many partitions as
    * its measured bytes fill at `spark.sql.adaptive.advisoryPartitionSizeInBytes`:
    * ⌈bytes / advisory⌉, clamped to [1, its current count]. An iterative
    * fit pays one task and one partial result per partition and round
    * (LinearSVC tree-aggregates a numFeatures-long gradient per loss
    * evaluation), so a small training set fitted one partition per core
    * mostly pays overhead; a large one keeps its full width. */
  private def rightSized(pinned: DataFrame): DataFrame = {
    val target = pinned.sparkSession.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = pinned.rdd.getNumPartitions
    val needed = (CacheTracker.pinnedBytes(pinned) + target - 1) / target
    val n = math.max(1L, math.min(needed, parts.toLong)).toInt
    if (n < parts) pinned.coalesce(n) else pinned
  }

  /** array<float|double> embedding column → ml Vector `features`. */
  def vectorize(data: DataFrame, arrayCol: String): DataFrame =
    data.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col(arrayCol)))

  /** Confusion matrix as a plain aggregation (A15; NB.scala:96-97 without
    * the RDD round-trip). */
  def confusionMatrix(predictions: DataFrame): DataFrame =
    predictions.groupBy(col("label"), col("prediction")).agg(count(lit(1)).as("n"))

  /** Accuracy + weighted precision/recall/F1 from (label, prediction)
    * (A16; NB.scala:98-99) as a one-row local frame. The confusion matrix
    * is collected once and the metrics are computed locally in one
    * pass over its cells: per class, support (rows with that label),
    * predicted (rows with that prediction) and true positives. Classes
    * that are predicted but never a true label carry no weight. Each
    * weighted metric sums its per-class terms in ascending order, so the
    * result does not depend on cell order (the oracle sorts the same way
    * with list_sort + list_reduce), then rounds to 6 dp HALF_UP like SQL
    * `round`. Empty input gives a null accuracy and 0.0 for the rest.
    * Label and prediction are expected to share a type. */
  def evalMetrics(predictions: DataFrame): DataFrame = {
    final class PerClass { var support = 0L; var predicted = 0L; var tp = 0L }
    val byClass = new java.util.HashMap[Any, PerClass]()
    def of(cls: Any) = byClass.computeIfAbsent(cls, _ => new PerClass)
    confusionMatrix(predictions)
      .select(col("label"), col("prediction"), col("n"),
        coalesce(col("label") === col("prediction"), lit(false)))
      .collect()
      .foreach { cell =>
        val n = cell.getLong(2)
        val byLabel = of(cell.get(0))
        byLabel.support += n
        if (cell.getBoolean(3)) byLabel.tp += n
        of(cell.get(1)).predicted += n
      }
    val classes = byClass.values.asScala.filter(_.support > 0).toSeq
    val total = classes.map(_.support).sum
    def weighted(term: PerClass => Double): Double = {
      val parts = classes.map(c => term(c) * c.support / total).toArray
      java.util.Arrays.sort(parts)
      parts.foldLeft(0.0)(_ + _)
    }
    def precision(c: PerClass) = if (c.predicted > 0) c.tp.toDouble / c.predicted else 0.0
    def recall(c: PerClass) = c.tp.toDouble / c.support
    def f1(c: PerClass) = {
      val (p, r) = (precision(c), recall(c))
      if (p + r > 0) 2.0 * p * r / (p + r) else 0.0
    }
    def round6(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val accuracy = if (total == 0) null else round6(classes.map(_.tp).sum.toDouble / total)
    val schema = StructType(Seq("accuracy", "weighted_precision", "weighted_recall",
      "weighted_f1").map(StructField(_, DoubleType)))
    predictions.sparkSession.createDataFrame(
      java.util.List.of(Row(accuracy, round6(weighted(precision)), round6(weighted(recall)),
        round6(weighted(f1)))),
      schema)
  }

  /** Positive/negative opinion words for [[lexiconScore]] — a fixed tiny
    * lexicon in the spirit of Hu & Liu's opinion word lists. Constant
    * and broadcast-free: the IN-list compiles into the row expression. */
  private val PosWords = Seq("good", "great", "love", "happy", "best",
    "awesome", "excellent", "nice", "amazing", "wonderful", "like", "win")
  private val NegWords = Seq("bad", "hate", "worst", "sad", "terrible",
    "awful", "horrible", "angry", "poor", "wrong", "lose", "fail")

  /** Lexicon sentiment score (B111) — the non-ML baseline of the
    * reference's task: per doc, counts of positive and negative lexicon
    * tokens and their normalized difference (n_pos − n_neg)/n_tokens.
    * The lexicon is a compile-time constant folded into the per-row
    * expression, so the operator is purely narrow: zero shuffles, zero
    * joins, codegen end-to-end — the shape that saturates scan
    * bandwidth at 100 TB. Empty docs score NULL (not NaN), matching
    * the oracle. */
  def lexiconScore(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    def hits(words: Seq[String]) =
      size(filter(toks, t => t.isInCollection(words))).cast("long")
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        hits(PosWords).as("n_pos"), hits(NegWords).as("n_neg"))
      .select(col("doc_id"), col("n_tokens"), col("n_pos"), col("n_neg"),
        round((col("n_pos") - col("n_neg")).cast("double")
          / nullif(col("n_tokens"), lit(0L)), 6).as("polarity"))
  }
}

/** The featurizer's term-count stage: `text` → `rawFeatures`, ml
  * `RegexTokenizer("\\s+")` + `HashingTF(numFeatures)` over the cleaned
  * text in one native pass ([[TextOps.termCounts]]). Its output is cached
  * through [[CacheTracker.cache]] (lazily, and only when that plan is not
  * cached already): the plan holds no closure, so the same input gives
  * the same plan, and a pipeline's fit and its fitted model's transform
  * of one input run the chain once. A plain persistable Transformer, so
  * it needs no SQL-registered function and runs in any session, with or
  * without graft's extensions. */
class CleanHashingTF(override val uid: String) extends Transformer with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("cleanHashingTF"))

  final val numFeatures = new IntParam(this, "numFeatures",
    "number of hash buckets (> 0)", ParamValidators.gt(0))
  setDefault(numFeatures -> (1 << 18))

  def setNumFeatures(n: Int): this.type = set(numFeatures, n)

  def getNumFeatures: Int = $(numFeatures)

  private def outputField = new AttributeGroup("rawFeatures", $(numFeatures)).toStructField()

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val field = outputField
    val out = dataset.withColumn(field.name,
      TextOps.termCounts(col("text"), $(numFeatures)).as(field.name, field.metadata))
    if (out.storageLevel == StorageLevel.NONE) CacheTracker.cache(out) else out
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains("text"), "CleanHashingTF needs a `text` column")
    schema.add(outputField)
  }

  override def copy(extra: ParamMap): CleanHashingTF = defaultCopy(extra)
}

object CleanHashingTF extends DefaultParamsReadable[CleanHashingTF]
