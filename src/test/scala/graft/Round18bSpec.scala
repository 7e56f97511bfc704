package graft

import org.apache.spark.sql.functions._

/** Round 18 cont.: lexical-diversity panel (B300), MATTR (B301) and HITS
  * hub/authority scores (B302) — hand-computed fixtures plus the
  * degenerate shapes (zero-token docs, sub-window docs, edgeless and
  * empty graphs) that 100 TB partition slices inevitably contain. */
class Round18bSpec extends SparkSpec {

  test("lexicalRichness: spectrum statistics match hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c", "en", "web", 11L),
      (2L, "x y z", "en", "web", 5L),
      (3L, "", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextOps.lexicalRichness(docs)
      .orderBy("doc_id").collect()
    // doc 1: N=6 V=3 V1=1 V2=1 m2=14
    val r1 = got(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4)) ==
      ((6L, 3L, 1L, 1L)))
    assert(r1.getDouble(5) == 0.5) // ttr
    assert(r1.getDouble(6) == math.rint(1e4 * 8.0 / 36.0 * 1e6) / 1e6) // yule_k
    assert(r1.getDouble(7) ==
      math.rint(100.0 * math.log(6.0) / (1.0 - 1.0 / 3.0) * 1e6) / 1e6)
    assert(r1.getDouble(8) == math.rint(1.0 / 3.0 * 1e6) / 1e6) // sichel
    // doc 2: all hapax -> honore_r undefined (NULL), yule_k = 10^4*(3-3)/9 = 0
    val r2 = got(1)
    assert(r2.getLong(3) == 3L && r2.isNullAt(7) && r2.getDouble(6) == 0.0)
    // doc 3: zero tokens -> zeroed row retained
    val r3 = got(2)
    assert(r3.getLong(1) == 0L && r3.getDouble(5) == 0.0 && r3.isNullAt(7))
  }

  test("mattr: sliding-window mean matches brute force; short docs excluded") {
    import spark.implicits._
    // letter-only tokens: the clean chain strips digits, so "t1".."t30"
    // would all collapse to "t"
    val types = Seq("ta", "tb", "tc", "td", "te", "tf", "tg")
    val t1 = (0 until 30).map(i => types(i % 7)).mkString(" ") // 30 toks, 7 types
    val t2 = Seq.fill(25)("same").mkString(" ")                // one window
    val t3 = ('a' to 'x').map(c => s"u$c").mkString(" ")       // 24 toks, short
    val docs = Seq(
      (1L, t1, "en", "web", t1.length.toLong),
      (2L, t2, "en", "web", t2.length.toLong),
      (3L, t3, "en", "web", t3.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextOps.mattr(docs).orderBy("doc_id").collect()
    assert(got.length == 2, "the 24-token doc has no full window")
    // brute force doc 1: windows s=0..5 over the token sequence
    val toks = t1.split(" ")
    val ttrs = (0 to 5).map(s =>
      math.rint(toks.slice(s, s + 25).distinct.length / 25.0 * 1e9) / 1e9)
    val want = math.rint(
      math.rint(ttrs.sorted.sum * 1e9) / 1e9 / 6.0 * 1e6) / 1e6
    val r1 = got(0)
    assert(r1.getLong(2) == 6L && r1.getDouble(3) == want)
    assert(r1.getDouble(4) ==
      math.rint(toks.distinct.length.toDouble / 30.0 * 1e6) / 1e6)
    // all-same-token doc: every window TTR = 1/25
    val r2 = got(1)
    assert(r2.getLong(2) == 1L && r2.getDouble(3) == math.rint(0.04 * 1e9) / 1e9)
  }

  test("hitsScores: hand-iterated hub/authority values on a 3-node graph") {
    import spark.implicits._
    // edges: a->b (w=2), c->b (w=1); b is the sole authority
    val docs = Seq(
      (1L, "a b", "en", "web", 3L),
      (2L, "a b", "en", "web", 3L),
      (3L, "c b", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Graph.hitsScores(docs)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // converges after one round: a(b)=1; h(a)=2/2=1, h(c)=1/2
    assert(got.toSeq == Seq(("a", 1.0, 0.0), ("b", 0.0, 1.0), ("c", 0.5, 0.0)))
  }

  test("hitsScores: empty and edgeless graphs yield empty typed frames") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(operators.Graph.hitsScores(empty).count() == 0)
    val oneTok = Seq((1L, "solo", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = operators.Graph.hitsScores(oneTok)
    assert(out.columns.toSeq == Seq("token", "hub", "authority"))
    assert(out.count() == 0)
  }

  test("speculativeAccept: draft/target agreement matches hand computation") {
    import spark.implicits._
    // train docs (doc_id%4<3) give draft argmaxes b->c, c->d and target
    // argmaxes (a,b)->c, (b,c)->d; test doc 3 exercises accept, accept,
    // and unscorable (unseen context) in one pass
    val docs = Seq(
      (0L, "a b c a b c", "en", "web", 11L),  // train
      (1L, "a b c b c d", "en", "web", 11L),  // train
      (2L, "b c d", "en", "web", 5L),         // train
      (3L, "a b c q z", "en", "web", 9L))     // test
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.LangModel.speculativeAccept(docs).collect()
    assert(got.length == 1)
    val r = got(0)
    // test trigram contexts: (a,b) tgt=c (c(abc)=3), draft(b)=c (c(bc)=4)
    //   -> accept; (b,c) tgt: argmax over {a:1,b:1,d:2}=d, draft(c)=d
    //   (c(cd)=2 > c(ca)=1, c(cb)=1) -> accept; (c,q), (q,z) unseen -> n/a
    // positions: "a b c q z" has 3 trigram contexts: (a,b),(b,c),(c,q)
    assert(r.getAs[Long]("n_positions") == 3L)
    assert(r.getAs[Long]("n_scored") == 2L)
    assert(r.getAs[Long]("n_accept") == 2L)
    assert(r.getAs[Double]("accept_rate") == 1.0)
  }

  test("observedMetrics: side-channel counters equal a direct aggregate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a short one", "en", "web", 11L),
      (2L, "this one is definitely long enough to pass", "en", "web", 42L),
      (3L, "tiny", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextOps.observedMetrics(docs).collect()(0)
    assert(got.getAs[Long]("n_docs") == 3L)
    assert(got.getAs[Long]("n_pass_len") == 1L)
    assert(got.getAs[Long]("tot_chars") == 57L)
    assert(got.getAs[Long]("max_chars") == 42L)
    assert(got.getAs[Double]("pass_ratio") == 0.333333)
    // empty corpus: the audit row still exists, zeroed
    val empty = operators.TextOps.observedMetrics(docs.limit(0)).collect()(0)
    assert(empty.getAs[Long]("n_docs") == 0L &&
      empty.getAs[Double]("pass_ratio") == 0.0)
  }

  test("sinkhornBalance: marginals converge toward uniform, count preserved") {
    import spark.implicits._
    val docs = (1L to 60L).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "es"
      val src = if (i % 10 < 7) "web" else "book" // skewed 7:3 per lang
      (i, "some text here", lang, src, 14L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextOps.sinkhornBalance(docs).collect()
    assert(got.length == 6)
    assert(got.map(_.getAs[Long]("n_docs")).sum == 60L)
    // after 5 rounds: every lang holds ~1/3 of the mass, every source
    // ~1/2 (the column step ran last, so columns are tight)
    val rows = got.groupBy(_.getString(0)).values
      .map(_.map(_.getAs[Double]("balanced_w")).sum)
    rows.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-3, s"row marginal $r"))
    val cols = got.groupBy(_.getString(1)).values
      .map(_.map(_.getAs[Double]("balanced_w")).sum)
    // 6 dp output rounding alone can move a 3-cell column sum by 1.5e-6
    cols.foreach(c => assert(math.abs(c - 0.5) < 5e-6, s"col marginal $c"))
  }

  test("wassersteinLength: identical distributions give W1 = 0, shift gives mass") {
    import spark.implicits._
    // pair ids so both langs see the same length profile {0,100,200,300}
    val same = (1L to 40L).map(i =>
      (i, "t", (if (i % 2 == 0) "en" else "fr"), "web", ((i - 1) / 2 % 4) * 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val g1 = operators.TextOps.wassersteinLength(same).collect()
    // en and fr see the same length profile -> both ECDFs equal the corpus
    g1.foreach(r => assert(r.getAs[Double]("w1_buckets") == 0.0))
    // en shifted one full bucket up: |dF| = 0.5 at the straddled bucket
    val shifted = (1L to 40L).map(i =>
      (i, "t", (if (i % 2 == 0) "en" else "fr"), "web",
        if (i % 2 == 0) 100L else 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val g2 = operators.TextOps.wassersteinLength(shifted)
      .orderBy("lang").collect()
    assert(g2.map(_.getAs[Double]("w1_buckets")).toSeq == Seq(0.5, 0.5))
  }

  test("friedmanTest: perfectly consistent source ordering maximizes chi2") {
    import spark.implicits._
    // srcA docs are long (quality 1-ish), srcB short, in EVERY lang ->
    // ranks (1,2) in each block, chi2 = b*(k-1) ... for k=2: chi2 = b
    val docs = (for {
      (lang, base) <- Seq(("en", 0L), ("fr", 100L), ("es", 200L))
      i <- 1L to 10L
    } yield {
      val id = base + i
      if (i % 2 == 0)
        (id, "this is a long enough document to score well on quality", lang, "srcA", 56L)
      else (id, "x.", lang, "srcB", 2L)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextOps.friedmanTest(docs).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("b_blocks") == 3L && r.getAs[Long]("k_treatments") == 2L)
    // perfect consistency, k=2: chi2_F = b = 3
    assert(r.getAs[Double]("chi2_f") == 3.0)
    assert(r.getAs[Double]("chi2_corrected") == 3.0)
    // a source missing from one lang is dropped (complete-block design)
    val holey = docs.filter(!(col("lang") === "es" && col("source") === "srcB"))
    val g2 = operators.TextOps.friedmanTest(holey).collect()
    assert(g2.isEmpty, "k drops to 1 after completeness filter -> empty")
  }

  test("hitsScores: self-loop-only graph stays finite and normalized") {
    import spark.implicits._
    val docs = Seq((1L, "z z z", "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Graph.hitsScores(docs).collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "z" && got(0).getDouble(1) == 1.0 &&
      got(0).getDouble(2) == 1.0)
  }

  test("observe surfaces never poison the shared session's serializability") {
    // Dataset.observe initializes the session's lazy ObservationManager,
    // which is NOT java-serializable; a poisoned session then breaks any
    // later query whose task closure captures the session — Spark ML
    // training summaries do, so svm_predictions threw Task not
    // serializable whenever observed_metrics had run earlier in the same
    // JVM (order-dependent: Verify's Map hash order dodged it, the
    // drift spec's sorted order hit it). Both observe surfaces now run
    // the observe on a throwaway child session; the pin is the crisp
    // invariant itself: the shared session still java-serializes after
    // BOTH surfaces have executed with real actions.
    import spark.implicits._
    val docs = Seq((1L, "some reasonably long document text here ok", "en", "web", 42L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val audited = operators.TextOps.observedMetrics(docs).collect()
    assert(audited.length == 1 && audited(0).getAs[Long]("n_docs") == 1L)
    val (framed, obs) = Graft.observed(docs, "n" -> count(lit(1)))
    assert(framed.count() == 1L)
    assert(obs.get("n") == 1L)
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
    out.writeObject(spark) // throws NotSerializableException if poisoned
    out.close()
  }

  test("Graft.observed attaches every call to one child session of the caller's") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "")).toDF("doc_id", "text")
    def observe() = {
      val (framed, obs) = Graft.observed(docs.filter(length(col("text")) > 0),
        "n" -> count(lit(1)), "chars" -> sum(length(col("text"))))
      framed.write.format("noop").mode("overwrite").save()
      assert(obs.get("n") == 2L && obs.get("chars") == 8L)
      framed.sparkSession
    }
    val first = observe()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = observe()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled,
      "a repeated observation compiles no class")
    assert(first eq second, "one child per parent session")
    assert(first ne spark)
    // the lazy ObservationManager is a non-transient field of the session
    // and is not serializable: the caller's session must never build one
    val field = spark.getClass.getDeclaredField("observationManager")
    field.setAccessible(true)
    assert(field.get(spark) == null, "the caller's session has an ObservationManager")
    assert(field.get(first) != null)
  }
}
