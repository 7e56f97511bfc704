package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft

/** Prefix-filter demonstration on a ZIPFIAN corpus (BASELINE.md round 9).
  *
  * The engine's synthetic bench corpus is anti-Zipfian (31 tokens, all
  * dense), which defeats df-pruning — doc_similarity_pruned's adaptive
  * skip exists for exactly that regime. This harness builds the corpus
  * the prune targets: token ranks drawn ~1/r (inverse-CDF V^u over a
  * deterministic md5 hash — reproducible, no RNG), where a handful of
  * head tokens carry ~40% of postings and the tail is genuinely rare.
  * There the rare-token gate drops the quadratic head groups from the
  * candidate join while keeping full recall (a qualifying pair must
  * share a rare token — the head tokens exceed df > N/2 and score ~0
  * under IDF anyway).
  *
  * Usage: runMain graft.bench.ZipfCheck [nDocs] [vocab] [tokensPerDoc]
  * Prints one JSON line: pruned vs unpruned seconds + result parity.
  */
object ZipfCheck {

  def zipfDocs(spark: SparkSession, nDocs: Int, vocab: Int,
               tokensPerDoc: Int): DataFrame = {
    // token rank for (doc, slot): r = floor(V^u), u = md5-uniform in [0,1)
    // — the s=1 Zipf inverse CDF; "xq" prefix keeps cleanText from
    // touching the letters, ranks render in letters (digits get stripped).
    // Every 20th doc clones its predecessor: the planted near-dup pairs
    // both paths must find (identical text -> cos 1.0), reachable through
    // the clones' shared RARE tokens — which is the prefix-filter claim.
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        (col("id") - when(pmod(col("id"), lit(20)) === 19, 1L).otherwise(0L))
          .as("seed"),
        lit("en").as("lang"),
        // id div 2: a clone (odd id) lands in its seed's block
        concat(lit("s"), pmod(expr("id div 2"), lit(10)).cast("string")).as("source"),
        lit(0L).as("n_chars"))
      .withColumn("text", concat_ws(" ", expr(
        s"""transform(sequence(1, $tokensPerDoc), s -> concat('xq',
           |  translate(CAST(CAST(pow($vocab.0,
           |    conv(substring(md5(concat(CAST(seed AS STRING), ':', CAST(s AS STRING))), 1, 8), 16, 10) / 4294967296.0
           |  ) AS BIGINT) AS STRING), '0123456789', 'abcdefghij')))""".stripMargin)))
      .drop("seed")
  }

  private def timeForce(df: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    val d = df
    d.write.format("noop").mode("overwrite").save()
    ((System.nanoTime() - t0) / 1e9, d.count())
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(5000)
    val vocab = args.lift(1).map(_.toInt).getOrElse(2000)
    val perDoc = args.lift(2).map(_.toInt).getOrElse(30)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val docs = zipfDocs(spark, nDocs, vocab, perDoc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    import graft.operators.Similarity
    // maxDfFrac=0.05: the tail-selective gate the Zipf regime calls for —
    // candidate pairs must share a token rarer than 5% df, which drops
    // the quadratic head-token groups from the join entirely. The planted
    // clone pairs share ALL their tokens including rare ones, so recall
    // is unaffected (asserted via same_pairs).
    val dfCap = 0.05
    // warm both paths once, then time
    timeForce(Similarity.docSimilarity(docs, simMin = 0.5))
    graft.CacheTracker.drainAll(spark)
    timeForce(Similarity.docSimilarityPruned(docs, simMin = 0.5, maxDfFrac = dfCap))
    graft.CacheTracker.drainAll(spark)
    val (tFull, nFull) = timeForce(Similarity.docSimilarity(docs, simMin = 0.5))
    graft.CacheTracker.drainAll(spark)
    val (tPruned, nPruned) = timeForce(
      Similarity.docSimilarityPruned(docs, simMin = 0.5, maxDfFrac = dfCap))
    graft.CacheTracker.drainAll(spark)
    spark.stop()
    println(s"""{"n_docs":$nDocs,"vocab":$vocab,"tokens_per_doc":$perDoc,""" +
      s""""unpruned":{"sec":$tFull,"pairs":$nFull},""" +
      s""""pruned":{"sec":$tPruned,"pairs":$nPruned},""" +
      s""""same_pairs":${nFull == nPruned}}""")
    System.out.flush()
  }
}
