package graft.bench

import org.apache.spark.sql.functions._

import graft.Graft
import graft.ml.Sentiment

/** Measures the reference-shaped pipeline (RefShape) against this engine's
  * equivalents on the same SparkSession and data, printing a markdown
  * table for BASELINE.md. Usage: runMain graft.bench.Baseline [sfDir] */
object Baseline {
  private def time[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def langLabel = when(col("lang") === "en", 0.0)
      .when(col("lang") === "fr", 1.0).when(col("lang") === "es", 2.0)
      .when(col("lang") === "zh", 3.0).when(col("lang") === "de", 4.0)
      .otherwise(5.0)

    def oursNb(): (Double, Double) = {
      val preds = Sentiment.nbPredictions(
        docs.select(col("doc_id").as("id"), col("text"), langLabel.as("label")))
      val m = Sentiment.evalMetrics(preds).head()
      (m.getAs[Double]("accuracy"), m.getAs[Double]("weighted_f1"))
    }
    def oursSvm(): (Double, Double) = {
      val preds = Sentiment.svmPredictions(
        docs.select(col("doc_id").as("id"), col("text"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("label")))
      val m = Sentiment.evalMetrics(preds).head()
      (m.getAs[Double]("accuracy"), m.getAs[Double]("weighted_f1"))
    }

    // warmup both paths
    RefShape.run(spark, docs, "nb"); oursNb()

    val (tRefNb, (accRefNb, _)) = time(RefShape.run(spark, docs, "nb"))
    val (tOursNb, (accOursNb, _)) = time(oursNb())
    val (tRefSvm, (accRefSvm, _)) = time(RefShape.run(spark, docs, "svm"))
    val (tOursSvm, (accOursSvm, _)) = time(oursSvm())

    println(f"""
      |[baseline] sf=$sfDir cpus=$cpus
      || pipeline | reference-shape (s) | this engine (s) | ref acc | ours acc |
      ||---|---|---|---|---|
      || NB  | $tRefNb%.2f | $tOursNb%.2f | $accRefNb%.4f | $accOursNb%.4f |
      || SVM | $tRefSvm%.2f | $tOursSvm%.2f | $accRefSvm%.4f | $accOursSvm%.4f |
      |""".stripMargin)
    spark.stop()
  }
}
