package graft

import org.apache.spark.sql.functions._
import graft.operators.TfIdf

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  // 3 docs: "cat" in all, "dog" in two, "rat" in one, "cat" twice in doc 1
  private lazy val docs = Seq(
    (1L, "cat cat dog"),
    (2L, "cat dog"),
    (3L, "cat rat")).toDF("doc_id", "text")

  test("termFreq counts per (doc, token)") {
    val tf = TfIdf.termFreq(docs).as[(Long, String, Long)].collect().toSet
    assert(tf === Set((1L, "cat", 2L), (1L, "dog", 1L), (2L, "cat", 1L),
      (2L, "dog", 1L), (3L, "cat", 1L), (3L, "rat", 1L)))
  }

  test("docFreq counts documents, not occurrences") {
    val df = TfIdf.docFreq(docs).as[(String, Long)].collect().toMap
    assert(df === Map("cat" -> 3L, "dog" -> 2L, "rat" -> 1L))
  }

  test("idf uses the smoothed ln((N+1)/(df+1)) formula") {
    val idf = TfIdf.idf(docs).select("token", "idf").as[(String, Double)].collect().toMap
    assert(idf("cat") === 0.0) // ln(4/4)
    assert(math.abs(idf("dog") - math.rint(math.log(4.0 / 3) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(idf("rat") - math.rint(math.log(2.0) * 1e6) / 1e6) < 1e-9)
  }

  test("idf minDocFreq filters rare tokens") {
    val idf = TfIdf.idf(docs, minDocFreq = 2).select("token").as[String].collect().toSet
    assert(idf === Set("cat", "dog"))
  }

  test("tfidf = tf * idf") {
    val out = TfIdf.tfidf(docs)
      .filter(col("doc_id") === 1 && col("token") === "dog")
      .select("tfidf").as[Double].head()
    val expected = math.rint(math.rint(math.log(4.0 / 3) * 1e6) / 1e6 * 1e6) / 1e6
    assert(math.abs(out - expected) < 1e-9)
  }

  test("featureSelectTop keeps ceil(0.75 n) tokens per doc") {
    val wide = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    val kept = TfIdf.featureSelectTop(wide).select("token").as[String].collect()
    assert(kept.length === 3) // ceil(4 * 0.75)
  }

  test("hashingTf buckets are bounded and counts conserved") {
    val out = TfIdf.hashingTf(docs, numFeatures = 16)
    val buckets = out.select("bucket").as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < 16))
    assert(out.agg(sum("tf")).as[Long].head() === 7L) // total tokens
  }

  test("hashingTf buckets are ml.HashingTF's indexOf for tokens of 1 to 9 bytes") {
    // byte lengths 1-9, several not a multiple of 4 (where SQL hash() differs)
    val tokens = Seq("a", "z", "ab", "qx", "abc", "cat", "good", "dasi", "hello", "kitty",
      "abcdef", "engine", "letters", "shuffle", "absolute", "parquets", "beautiful", "whiskered")
    val twice = tokens.zipWithIndex.map { case (t, i) => (i.toLong, s"$t ${t.toUpperCase}") }
      .toDF("doc_id", "text")
    for (n <- Seq(7, 1 << 16, 1 << 18)) {
      val ml = new org.apache.spark.ml.feature.HashingTF().setNumFeatures(n)
      val out = TfIdf.hashingTf(twice, n).as[(Long, Int, Long)].collect().toSet
      assert(out === tokens.zipWithIndex.map { case (t, i) => (i.toLong, ml.indexOf(t), 2L) }.toSet,
        s"numFeatures $n")
    }
  }
}
