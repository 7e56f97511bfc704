package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, LangModel, Relational, Similarity, TextOps}

class LangModelSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("bm25 ranks a rare token above a common token at equal tf and doc length") {
    val d = docs(
      (1L, "alpha common"), (2L, "beta common"), (3L, "gamma common"), (4L, "delta common"))
    val scores = LangModel.bm25(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).toSeq
    // 'common' appears in every doc (df=4), each rare token in one (df=1)
    val common = scores.filter(_._2 == "common").map(_._3)
    val rare = scores.filter(_._2 != "common").map(_._3)
    assert(rare.min > common.max)
    assert(scores.forall(_._3 > 0), "the +1 idf form keeps every score positive")
  }

  test("searchEval: perfect ranking yields mrr 1 and ndcg 1; metrics bounded") {
    // doc 1 covers all of query 1's terms and tops the BM25 ranking, so
    // MRR@10 = 1; with a single graded ordering the BM25 and ideal
    // rankings coincide -> NDCG = 1. Query 2's terms ('data','table')
    // appear too so both workload rows come back.
    val d = docs(
      (1L, "query join scan data"), (2L, "query join filler pad"),
      (3L, "scan only here pad"), (4L, "table data table pad"),
      (5L, "nothing relevant at all"))
    val out = LangModel.searchEval(d).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._1).toSet === Set(1L, 2L))
    val q1 = out.find(_._1 == 1L).get
    assert(q1._2 === 1.0, s"doc 1 is fully relevant and ranked first: mrr = ${q1._2}")
    out.foreach { case (_, mrr, dcg, idcg, ndcg) =>
      assert(mrr >= 0.0 && mrr <= 1.0)
      assert(dcg > 0 && idcg >= dcg - 1e-9, s"dcg $dcg must not exceed idcg $idcg")
      assert(ndcg > 0 && ndcg <= 1.0 + 1e-9)
    }
  }

  test("queryExpansion surfaces feedback-doc terms, never the query's own") {
    // docs matching the query all share 'expansion'; unrelated docs carry
    // 'noise' which must not surface (it never co-occurs with the query)
    val d = docs(
      (1L, "query join scan expansion alpha"),
      (2L, "query join expansion beta"),
      (3L, "scan expansion gamma"),
      (4L, "noise noise noise unrelated"))
    val out = LangModel.queryExpansion(d, fb = 3, k = 4).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(out.nonEmpty && out.length <= 4)
    val terms = out.map(_._1).toSet
    assert(!terms.exists(Set("query", "join", "scan")), "query terms never expand")
    assert(terms.subsetOf(Set("expansion", "alpha", "beta", "gamma")),
      "candidates come only from feedback docs")
    assert(terms.contains("expansion"), "the shared feedback term surfaces within k=4")
    assert(!terms.contains("noise"), "terms outside the feedback set must not")
    assert(!terms.contains("unrelated"))
    // ranks are 1..n in rsv-desc order
    assert(out.sortBy(_._3).map(_._2).reverse.sorted.toSeq === out.map(_._2).sorted.toSeq)
    graft.CacheTracker.drainAll(spark)
  }

  test("unigram logprob scores a doc of frequent tokens above a doc of rare ones") {
    val d = docs(
      (1L, "the the the the"), (2L, "the the the the"), (3L, "the the the the"),
      (4L, "zzz yyy xxx www"))
    val out = LangModel.unigramLogprob(d).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(out(1L) > out(4L))
    assert(out.values.forall(_ <= 0.0), "MLE log-probs are never positive")
  }

  test("token entropy: repeated token is 0, uniform distinct doc is ln(n)") {
    val d = docs((1L, "aaa aaa aaa aaa"), (2L, "aaa bbb ccc ddd"))
    val out = LangModel.tokenEntropy(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .map(t => t._1 -> t).toMap
    assert(out(1L)._4 === 0.0)
    assert(out(1L)._3 === 1L)
    assert(math.abs(out(2L)._4 - math.log(4.0)) < 1e-5)
  }

  test("lang KL is zero for identical distributions and positive for skewed ones") {
    val same = Seq((1L, "aa bb", "en"), (2L, "aa bb", "fr"))
      .toDF("doc_id", "text", "lang")
    val klSame = LangModel.langKl(same).collect().map(_.getDouble(3))
    assert(klSame.forall(k => math.abs(k) < 1e-9))
    val skewed = Seq((1L, "aa aa aa bb", "en"), (2L, "bb bb bb aa", "fr"))
      .toDF("doc_id", "text", "lang")
    val klSkew = LangModel.langKl(skewed).collect().map(_.getDouble(3))
    assert(klSkew.forall(_ > 0.0), "diverging language mixes have strictly positive KL")
  }

  test("token PMI: perfectly co-occurring rare pair scores ln(N/df)") {
    // 'left'/'right' co-occur in 5 of 10 docs and never apart
    val d = docs((0L to 9L).map(i =>
      (i, if (i < 5) "left right filler" + i else "filler" + i + " other" + i)): _*)
    val out = LangModel.tokenPmi(d, minPairDocs = 5).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val (nAb, pmi) = out(("left", "right"))
    assert(nAb === 5L)
    // pmi = ln(n_ab * N / (df_a * df_b)) = ln(5*10/(5*5)) = ln 2
    assert(math.abs(pmi - math.log(2.0)) < 1e-5)
  }

  test("doc chunking covers every token with win-stride overlap") {
    val n = 150
    // letter-only tokens: the tokenizer's cleanup pass strips digits
    def tok(i: Int) = s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val text = (0 until n).map(tok).mkString(" ")
    val out = TextOps.docChunk(docs((1L, text)), win = 64, stride = 48)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // ceil((150-64)/48)+1 = 3 chunks
    assert(out.length === 3)
    assert(out.map(_._2) === Array(0L, 48L, 96L))
    assert(out.map(_._3) === Array(64L, 64L, 54L), "last chunk truncates at doc end")
    // reconstruction: chunk i restarts stride tokens in, so dropping the
    // first win-stride tokens of every later chunk rebuilds the doc
    val rebuilt = out.head._4.split(" ") ++
      out.tail.flatMap(_._4.split(" ").drop(64 - 48))
    assert(rebuilt.toSeq === (0 until n).map(tok))
    // a short doc still yields exactly one chunk
    val one = TextOps.docChunk(docs((2L, "a b c")), win = 64, stride = 48).collect()
    assert(one.length === 1 && one.head.getLong(3) === 3L)
  }

  test("int8 quantization scales the max-magnitude dim to ±127 exactly") {
    val emb = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f), 0),
      (2L, Seq(0.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getString(4)))).toMap
    val s1 = out(1L)._1
    val q1 = out(1L)._2.split(",").map(_.toLong).toSeq
    assert(s1 === 127.0)
    assert(q1 === Seq(64L, -127L, 32L))
    assert(q1.map(v => math.abs(v)).max === 127L)
    val s2 = out(2L)._1
    val q2 = out(2L)._2.split(",").map(_.toLong).toSeq
    assert(s2 === 0.0 && q2.forall(_ == 0L), "zero vector quantizes to zeros")
  }

  test("near-dup filtered corpus keeps one canonical row per cluster") {
    // vec 1 and 2 are near-identical (same bucket, cos≈1); vec 3 is alone
    val base = Seq(0.9f, 0.8f, 0.7f, 0.6f, 0.5f, 0.4f, 0.3f, 0.2f)
    val emb = Seq(
      (1L, base, 0),
      (2L, base.map(x => x * 1.001f), 0),
      (3L, base.map(x => -x), 1))
      .toDF("vec_id", "embedding", "label")
    val kept = Dedup.nearDupFiltered(emb, cosMin = 0.9).collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L), "min-id member survives, duplicate dropped, singleton kept")
  }

  test("tpch q3 aggregates revenue in exact cents and keeps the top 10") {
    val sf = "/root/testdata/sf0.001"
    val out = Relational.tpchQ3(
      spark.read.parquet(s"$sf/customer.parquet"),
      spark.read.parquet(s"$sf/orders.parquet"),
      spark.read.parquet(s"$sf/lineitem.parquet")).collect()
    assert(out.length <= 10 && out.nonEmpty)
    val revs = out.map(r => r.getLong(3))
    assert(revs.toSeq === revs.sortBy(-_).toSeq, "rows arrive revenue-descending")
  }

  test("full outer join keeps one-sided users with zeroed other side") {
    val events = Seq(
      (1L, 10L, "purchase", 5.0), (2L, 10L, "click", 0.0),
      (3L, 11L, "purchase", 7.0),                      // purchases, never clicks
      (4L, 12L, "click", 0.0), (5L, 12L, "click", 0.0) // clicks, never buys
    ).toDF("event_id", "user_id", "event_type", "value")
    val out = Relational.purchaseClickFull(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((10L, 1L, 500L, 1L), (11L, 1L, 700L, 0L), (12L, 0L, 0L, 2L)))
  }

  test("set ops segment audiences into intersect/except buckets") {
    val events = Seq(
      (1L, 10L, "view"), (2L, 10L, "purchase"),  // both
      (3L, 11L, "view"),                         // view only
      (4L, 12L, "purchase")                      // buy only
    ).toDF("event_id", "user_id", "event_type")
    val out = Relational.audienceSetOps(events).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === Set(("view_and_buy", 10L), ("view_only", 11L), ("buy_only", 12L)))
  }

  test("lead/lag navigation computes gaps and sequence offsets") {
    val events = Seq(
      (1L, 10L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, 10L, Timestamp.valueOf("2024-01-01 10:00:01")),
      (3L, 10L, Timestamp.valueOf("2024-01-01 10:00:03")))
      .toDF("event_id", "user_id", "ts")
    val out = Relational.eventsLeadLag(events).orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq === Seq(
      (1L, -1L, 1000000L, 0L, 3000000L),
      (2L, 1000000L, 2000000L, 1000000L, 2000000L),
      (3L, 2000000L, -1L, 3000000L, 0L)))
  }

  test("ExactMoments UDAF matches hand-computed moments and variance") {
    val d = Seq((1L, 10L, "en"), (2L, 20L, "en"), (3L, 30L, "en"), (4L, 7L, "fr"))
      .toDF("doc_id", "n_chars", "lang")
    val out = Relational.langCharMoments(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("en")._1 === 3L)
    assert(out("en")._2 === 60L)
    assert(out("en")._3 === 1400L) // 100 + 400 + 900
    assert(out("en")._4 === 20.0)
    assert(math.abs(out("en")._5 - 200.0 / 3.0) < 1e-6) // E[x²]-E[x]², 6dp-rounded
    assert(out("fr") === ((1L, 7L, 49L, 7.0, 0.0)))
  }

  test("grouping sets emits exactly the (lang) and (source) subtotal rows") {
    val d = Seq((1L, 10L, "en", "a"), (2L, 20L, "en", "b"), (3L, 5L, "fr", "a"))
      .toDF("doc_id", "n_chars", "lang", "source")
    val rows = Relational.groupingSetsStats(d).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2).toInt, r.getLong(3))).toSet
    // gid 1 = source aggregated away; gid 2 = lang aggregated away;
    // no (lang, source) detail rows and no grand total
    assert(rows === Set(
      (Some("en"), None, 1, 2L), (Some("fr"), None, 1, 1L),
      (None, Some("a"), 2, 2L), (None, Some("b"), 2, 1L)))
  }

  test("tpch q5 broadcasts the whole dimension chain; at most one shuffle join") {
    val sf = "/root/testdata/sf0.001"
    def t(n: String) = spark.read.parquet(s"$sf/$n.parquet")
    val q = Relational.tpchQ5(t("region"), t("nation"), t("supplier"),
      t("customer"), t("orders"), t("lineitem"))
    assert(q.collect().nonEmpty)
    val plan = q.queryExecution.executedPlan.toString
    val broadcastJoins = "BroadcastHashJoin".r.findAllIn(plan).size
    val shuffleJoins = ("SortMergeJoin".r.findAllIn(plan).size
      + "ShuffledHashJoin".r.findAllIn(plan).size)
    assert(broadcastJoins >= 3, s"dimension chain must broadcast:\n${plan.take(1200)}")
    assert(shuffleJoins <= 1, s"only orders⋈lineitem may shuffle:\n${plan.take(1200)}")
  }

  test("orders above customer average decorrelates and matches a window twin") {
    val sf = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val out = Relational.ordersAboveCustomerAvg(orders)
    // no per-row re-scan survives decorrelation: the plan contains no
    // nested subquery expression, only joins/aggregates
    assert(!out.queryExecution.executedPlan.toString.contains("Subquery"),
      "correlated subquery should decorrelate into a join")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
    val twin = orders.select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .withColumn("a", avg(col("price_cents")).over(w))
      .filter(col("price_cents") > col("a"))
      .select("o_orderkey")
      .as[Long].collect().toSet
    assert(out.select("o_orderkey").as[Long].collect().toSet === twin)
  }

  test("importanceWeights: a corpus with NO target-language docs yields finite ratios, not nulls") {
    val d = Seq((1L, "alpha beta", "fr"), (2L, "beta gamma", "de"))
      .toDF("doc_id", "text", "lang")
    val rows = LangModel.importanceWeights(d, targetLang = "en").collect()
    assert(rows.length == 2)
    // tot_t coalesces to 0 → every ratio is ln((0+1)/(0+v) / ...), finite
    assert(rows.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN),
      rows.mkString(","))
  }
}
