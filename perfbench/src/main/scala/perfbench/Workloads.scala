package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ml.classification.{LinearSVC, NaiveBayes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheTracker, SparkEntry}
import graft.ml.Sentiment
import graft.operators.{Dedup, TextOps, TfIdf}
import graft.sources.ParquetSink

/** What one timed pass did: operations attempted and failed, the
  * outputs the run is checked against, and per-layer figures that only
  * the workload can attribute (sink bytes, drained RDDs, per query). */
final class PassOut {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val outputs = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val queryS = mutable.LinkedHashMap.empty[String, Double]

  /** Run one operation, counting it; a failure is recorded, not thrown. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }
}

/** A workload: a warm-in pass in set-up, then timed passes. Checks that
  * need the pass's results run in [[afterPass]], outside the timed
  * region, and write what they saw into [[PassOut.outputs]]. */
trait Workload {
  def pass(tr: Tracer, out: PassOut): Unit
  def afterPass(out: PassOut): Unit = CacheTracker.drainAll(spark)
  def warm(): Unit = { val out = new PassOut; pass(new Tracer, out); afterPass(out) }
  def spark: SparkSession
}

/** The paper pipeline: quoted CSV → clean → tokenize → HashingTF/IDF
  * (minDocFreq 5) → id%4 split → NaiveBayes and LinearSVC → metrics. */
final class SentimentE2E(val spark: SparkSession, dataDir: String) extends Workload {
  private val schema = "doc_id LONG, label DOUBLE, user STRING, text STRING"
  private var preds: Seq[(String, DataFrame)] = Nil

  private def corpus: DataFrame = spark.read.schema(schema)
    .option("header", "true").option("quote", "\"").option("escape", "\"")
    .csv(dataDir)
    .select(col("doc_id").as("id"), col("text"), col("label"))

  def pass(tr: Tracer, out: PassOut): Unit = {
    preds = Nil
    val data = corpus
    val feats = out.op("featurize_fit") {
      tr.span("sentiment.featurize_fit") {
        Sentiment.featurizer(minDocFreq = 5).fit(data).transform(data)
      }
    }
    // a failed featurize fails both fits too: each is still attempted
    val nb = out.op("nb_fit_predict") {
      tr.span("sentiment.nb_fit_predict") {
        Sentiment.fitPredictFeaturized(feats.get, new NaiveBayes())
      }
    }
    val svm = out.op("svm_fit_predict") {
      tr.span("sentiment.svm_fit_predict") {
        Sentiment.fitPredictFeaturized(feats.get,
          new LinearSVC().setMaxIter(10).setRegParam(0.1))
      }
    }
    preds = Seq("nb" -> nb, "svm" -> svm).collect { case (k, Some(p)) => k -> p }
    out.op("eval") {
      tr.span("sentiment.eval") {
        preds.foreach { case (k, p) =>
          val m = Sentiment.evalMetrics(p).head()
          out.outputs(s"${k}_accuracy") = m.getAs[Double]("accuracy")
          out.outputs(s"${k}_weighted_f1") = m.getAs[Double]("weighted_f1")
        }
      }
    }
  }

  override def afterPass(out: PassOut): Unit = {
    preds.foreach { case (k, p) =>
      out.outputs(s"${k}_cm_total") =
        Sentiment.confusionMatrix(p).agg(sum("n")).head().getLong(0)
    }
    preds = Nil
    super.afterPass(out)
  }
}

/** The training-data side: exact-dedup curation and top-75% TF-IDF
  * feature selection, each written as parquet, then MinHash LSH pairs. */
final class CurationE2E(val spark: SparkSession, dataDir: String, outDir: String)
    extends Workload {
  private val curated = s"$outDir/curated"
  private val top75 = s"$outDir/top75"

  def pass(tr: Tracer, out: PassOut): Unit = {
    val docs = spark.read.parquet(dataDir)
    out.op("curate_write") {
      tr.span("textops.curate_write") { ParquetSink.write(TextOps.curate(docs), curated, Nil) }
    }
    out.op("top75_write") {
      tr.span("tfidf.top75_write") { ParquetSink.write(TfIdf.featureSelectTop(docs), top75, Nil) }
    }
    out.op("minhash_lsh") {
      tr.span("dedup.minhash_lsh") {
        val pairs = Dedup.minhashLshPairs(docs).select("a_id", "b_id").collect()
        out.outputs("lsh_pairs") = pairs.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
      }
    }
    if (tr.enabled) {
      val files = Seq(curated, top75).flatMap(d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty[java.io.File]))
        .filter(f => f.getName.startsWith("part-"))
      out.layer("sink.files") = files.length.toDouble
      out.layer("sink.bytes_written_mb") = files.map(_.length()).sum / 1e6
    }
  }

  override def afterPass(out: PassOut): Unit = {
    out.outputs("curated_rows") = spark.read.parquet(curated).count()
    out.outputs("top75_rows") = spark.read.parquet(top75).count()
    super.afterPass(out)
  }
}

/** Registered engine queries over one mounted table directory, each
  * built, run into the noop sink and drained in turn. */
final class QueryMix(val spark: SparkSession, dataDir: String, outDir: String,
                     val order: Seq[String]) extends Workload {

  /** Warm-in: every query once, its result written as parquet so the
    * DuckDB oracle can check it after the run. */
  override def warm(): Unit = order.foreach { q =>
    SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$q")
    CacheTracker.drainAll(spark)
  }

  def pass(tr: Tracer, out: PassOut): Unit = {
    var rdds = 0L
    order.foreach { q =>
      val t0 = System.nanoTime()
      val ok = out.op(q) {
        tr.span(s"entry.$q") {
          val df = tr.span("entry.build") { SparkEntry.queries(q)(spark, dataDir) }
          tr.span("entry.execute") { df.write.format("noop").mode("overwrite").save() }
          tr.span("cache.drain") {
            if (tr.enabled) rdds += spark.sparkContext.getRDDStorageInfo.length
            CacheTracker.drainAll(spark)
          }
        }
      }
      if (ok.isEmpty) CacheTracker.drainAll(spark)
      out.queryS(q) = (System.nanoTime() - t0) / 1e9
    }
    if (tr.enabled) out.layer("cache.rdds_drained") = rdds.toDouble
  }

  override def afterPass(out: PassOut): Unit = ()
}
