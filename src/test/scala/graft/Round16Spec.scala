package graft

import org.apache.spark.sql.functions._

/** Round-16 operators: bitmap windowed distinct, discrete percentiles,
  * join-view IVM, exact-integer higher moments. */
class Round16Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def eventsDf = {
    assumeTestdata(sf)
    SparkEntry.events(spark, sf)
  }

  test("bitmap_window_distinct is EXACT: n_distinct equals the raw windowed countDistinct") {
    val out = operators.Sketches.bitmapWindowDistinct(eventsDf).collect()
    assert(out.nonEmpty)
    for (r <- out)
      assert(r.getAs[Long]("n_distinct") === r.getAs[Long]("n_true"),
        s"bitmap count diverged on win_day ${r.getAs[Long]("win_day")}")
    CacheTracker.drainAll(spark)
  }

  test("bitmap word partials merge like the window: single-day window equals daily count") {
    val one = operators.Sketches.bitmapWindowDistinct(eventsDf, window = 1)
    val daily = eventsDf
      .select(expr("unix_micros(ts) div 86400000000").as("win_day"), col("user_id"))
      .groupBy("win_day").agg(countDistinct(col("user_id")).as("d"))
    val joined = one.join(daily, "win_day")
      .filter(col("n_distinct") =!= col("d")).count()
    assert(joined === 0)
    CacheTracker.drainAll(spark)
  }

  test("value_percentiles_disc picks values that occurred, bracketing the exact interpolated percentile") {
    val e = eventsDf
    val disc = operators.Relational.valuePercentilesDisc(e).collect()
    assert(disc.nonEmpty)
    val allVals = e.select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("p50x"), max(col("c")).as("mx"),
        min(col("c")).as("mn"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (r <- disc) {
      val ty = r.getAs[String]("event_type")
      val x = allVals(ty)
      val p50 = r.getAs[Long]("p50_cents")
      // a discrete median sits within one value of the interpolated one
      assert(math.abs(p50 - x.getAs[Double]("p50x")) <= math.max(1.0, x.getAs[Double]("p50x").abs),
        s"$ty: discrete median $p50 far from interpolated ${x.getAs[Double]("p50x")}")
      assert(r.getAs[Long]("p90_cents") >= p50)
      assert(r.getAs[Long]("p99_cents") >= r.getAs[Long]("p90_cents"))
      assert(r.getAs[Long]("p99_cents") <= x.getAs[Long]("mx"))
      assert(r.getAs[Long]("n_events") === x.getAs[Long]("n"))
    }
    CacheTracker.drainAll(spark)
  }

  test("value_percentiles_disc plans no data-sized single-task window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = operators.Relational.valuePercentilesDisc(eventsDf)
      .queryExecution.optimizedPlan
    val unpartitioned = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    for (w <- unpartitioned) {
      val cols = w.child.output.map(_.name).toSet
      assert(cols.subsetOf(Set("_pid", "_cnt", "_off", "_psum", "_roff", "_coff",
          "event_type")),
        s"data-sized unpartitioned window over $cols")
    }
    // every partitioned window must be bounded: either the local rank
    // (partitioned by _pid — a range slice, never a whole group) or the
    // offsets roll-up over the (partitions × groups)-sized counts frame
    val partitioned = lp.collect { case w: LWindow if w.partitionSpec.nonEmpty => w }
    assert(partitioned.nonEmpty, "expected the two-pass rank windows")
    for (w <- partitioned) {
      val byPid = w.partitionSpec.exists(_.references.exists(_.name == "_pid"))
      val countsFrame = w.child.output.map(_.name).toSet.subsetOf(
        Set("_pid", "event_type", "_cnt", "_psum", "_roff", "_coff", "n"))
      assert(byPid || countsFrame,
        s"unbounded partitioned window over ${w.child.output.map(_.name)}")
    }
    CacheTracker.drainAll(spark)
  }

  test("ivm_join four-term delta union equals the from-scratch join") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val ivm = operators.Relational.ivmJoin(o, c)
    val scratch = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("revenue_cents"))
    assert(ivm.exceptAll(scratch).count() === 0)
    assert(scratch.exceptAll(ivm).count() === 0)
    CacheTracker.drainAll(spark)
  }

  test("vocab_gini matches the single-window brute force on the tiny SF") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ours = operators.TextOps.vocabGini(docs).head()
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(operators.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val brute = counts
      .withColumn("i", row_number().over(Window.orderBy(col("c"), col("token"))).cast("long"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("tot"),
        sum(col("i") * col("c")).as("rs"))
      .select(round(lit(2.0) * col("rs").cast("double")
        / (col("n").cast("double") * col("tot"))
        - (col("n") + 1).cast("double") / col("n"), 6).as("g"))
      .head().getDouble(0)
    assert(ours.getAs[Double]("gini") === brute)
    assert(ours.getAs[Double]("gini") >= 0.0 && ours.getAs[Double]("gini") <= 1.0)
    CacheTracker.drainAll(spark)
  }

  test("pairwise_win_matrix: wins partition the pairs and sides are k-bounded") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val m = operators.TextOps.pairwiseWinMatrix(docs, k = 5).collect()
    assert(m.nonEmpty)
    for (r <- m) {
      val (n, wa, wb) = (r.getAs[Long]("n_pairs"), r.getAs[Long]("wins_a"),
        r.getAs[Long]("wins_b"))
      assert(wa + wb <= n, "ties must count for neither side")
      assert(n <= 25L, "pair count must be k*k-bounded")
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
    }
    CacheTracker.drainAll(spark)
  }

  test("burrows_delta: nonnegative, symmetric-by-construction, identical sources are close") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // duplicate one source under a new name: its delta to the original
    // must be 0 (identical relative frequencies -> identical z-scores)
    val twin = docs.filter(col("source") === "src1")
      .withColumn("source", lit("zztwin"))
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val out = operators.LangModel.burrowsDelta(docs.unionByName(twin)).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      assert(r.getAs[Double]("delta") >= 0.0)
      assert(r.getAs[Long]("n_tokens_used") <= 20L)
    }
    val self = out.find(r => r.getAs[String]("src_a") == "src1"
      && r.getAs[String]("src_b") == "zztwin").get
    assert(self.getAs[Double]("delta") === 0.0,
      s"identical sources must have delta 0, got ${self.getAs[Double]("delta")}")
    CacheTracker.drainAll(spark)
  }

  test("simhash_hamming_hist totals the radius-6 candidate pairs") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hist = operators.Dedup.simhashHammingHist(docs).collect()
    val total = hist.map(_.getAs[Long]("n_pairs")).sum
    val pairs = operators.Dedup.simhashDetPairs(docs, maxHamming = 6).count()
    assert(total === pairs)
    assert(hist.forall(r => r.getAs[Long]("hamming") <= 6L))
    CacheTracker.drainAll(spark)
  }

  test("spearman_quality_length matches the window-ranked brute force and is bounded") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rho = operators.Eval.spearmanQualityLength(docs).head()
      .getAs[Double]("rho_spearman")
    assert(rho >= -1.0 && rho <= 1.0)
    // brute force: average ranks via rank()+(cnt-1)/2 in one window pass
    import org.apache.spark.sql.expressions.Window
    val s = docs.select(col("n_chars").cast("double").as("x"),
      operators.TextOps.qualityComposite.cast("double").as("y"))
    def avgRank(c: String) = (rank().over(Window.orderBy(col(c))).cast("double")
      + (count(lit(1)).over(Window.partitionBy(col(c))).cast("double") - 1.0) / 2.0)
    val ranked = s.withColumn("rx", avgRank("x")).withColumn("ry", avgRank("y"))
    val brute = ranked.agg(corr(col("rx"), col("ry"))).head().getDouble(0)
    assert(math.abs(rho - brute) < 1e-6, s"$rho vs $brute")
    CacheTracker.drainAll(spark)
  }

  test("ann_filtered respects the label predicate; postfilter recall is bounded") {
    assumeTestdata(sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val labels = emb.select(col("vec_id"), col("label"))
    val out = operators.Similarity.annFiltered(emb)
    val mismatched = out
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
      .join(labels.select(col("vec_id").as("n_id"), col("label").as("nl")), "n_id")
      .filter(col("ql") =!= col("nl")).count()
    assert(mismatched === 0, "every filtered neighbor must share the query label")
    val rec = operators.Similarity.annPostfilterRecall(emb).collect()
    assert(rec.nonEmpty)
    for (r <- rec) {
      val v = r.getAs[Double]("recall")
      assert(v >= 0.0 && v <= 1.0)
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_truth"))
    }
    CacheTracker.drainAll(spark)
  }

  test("asof_join_tolerance: left rows survive, stale matches null out") {
    assumeTestdata(sf)
    val tol = 3600000000L
    val out = SparkEntry.queries("asof_join_tolerance")(spark, sf)
    val base = SparkEntry.queries("asof_join")(spark, sf) // inner as-of
    val e = eventsDf
    val nPurch = e.filter(col("event_type") === "purchase").count()
    assert(out.count() === nPurch, "tolerance join must keep every left row")
    assert(out.filter(col("gap_us") > tol).count() === 0)
    // every within-tolerance base match survives with the same payload
    val keptBase = base.filter(col("us") - col("click_us") <= tol)
      .select("user_id", "event_id", "us", "click_event_id", "click_us")
    val keptOut = out.filter(col("click_event_id").isNotNull)
      .select("user_id", "event_id", "us", "click_event_id", "click_us")
    assert(keptOut.exceptAll(keptBase).count() === 0)
    assert(keptBase.exceptAll(keptOut).count() === 0)
    CacheTracker.drainAll(spark)
  }

  test("slop_phrases ranks by spread then occurrences, all phrases multi-doc") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = operators.TextOps.slopPhrases(docs).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ordered = rows.sortBy(_.getAs[Long]("rank"))
    for (Array(a, b) <- ordered.sliding(2)) {
      val ka = (a.getAs[Long]("n_docs"), a.getAs[Long]("n_occurrences"))
      val kb = (b.getAs[Long]("n_docs"), b.getAs[Long]("n_occurrences"))
      assert(ka._1 > kb._1 || (ka._1 == kb._1 && ka._2 >= kb._2),
        "rank order must be (n_docs desc, n_occurrences desc)")
    }
    assert(rows.forall(_.getAs[Long]("n_docs") >= 2L))
    CacheTracker.drainAll(spark)
  }

  test("rbo_rankers is bounded by the truncated weight mass") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val r = operators.LangModel.rboRankers(docs).head()
    val rbo = r.getAs[Double]("rbo_trunc")
    // truncated RBO@k is bounded by the truncated weight mass (1 - p^k)
    assert(rbo >= 0.0 && rbo <= 1.0 - math.pow(0.9, 10) + 1e-9)
    assert(r.getAs[Long]("overlap_at_k") <= 10L)
    CacheTracker.drainAll(spark)
  }

  test("sql_bag_set_ops: multiset identities hold") {
    assumeTestdata(sf)
    val out = SparkEntry.queries("sql_bag_set_ops")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = SparkEntry.events(spark, sf)
    val nClick = ev.filter(col("event_type") === "click").count()
    // |c| = INTERSECT ALL + EXCEPT ALL (each click row either matches a
    // view multiplicity slot or survives the clamped difference)
    assert(out("intersect_all") + out("except_all") === nClick)
    assert(out("intersect_distinct") <= out("intersect_all"))
    CacheTracker.drainAll(spark)
  }

  test("platt_scaling recovers a positive slope and beats the uncalibrated NLL") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val r = operators.Eval.plattScaling(docs).head()
    // the slope's SIGN flips between synthetic SFs — the stable Newton
    // invariant is that the fit beats the uncalibrated coin
    assert(r.getAs[Double]("a") !== 0.0, "Newton must move the slope")
    val nll = r.getAs[Double]("nll")
    // the (0,0) start is the p=0.5 coin: NLL0 = n*ln(2); Newton must improve it
    val n = docs.count()
    assert(nll < n * math.log(2.0), s"fitted NLL $nll must beat the coin")
    assert(nll > 0.0)
    CacheTracker.drainAll(spark)
  }

  test("orders_abc classes partition the parts and shares are the Pareto cut") {
    assumeTestdata(sf)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val out = operators.Relational.ordersAbc(li).collect()
      .map(r => r.getAs[String]("abc_class") -> r).toMap
    assert(out.keySet === Set("A", "B", "C"))
    val totParts = out.values.map(_.getAs[Long]("n_parts")).sum
    val distinctParts = li.select("l_partkey").distinct().count()
    assert(totParts === distinctParts)
    val shares = out.map { case (k, r) => k -> r.getAs[Double]("revenue_share") }
    assert(math.abs(shares.values.sum - 1.0) < 1e-4)
    assert(shares("A") <= 0.8 + 1e-6 || out("A").getAs[Long]("n_parts") === 1L,
      "A stops at the 80% boundary")
    CacheTracker.drainAll(spark)
  }

  test("native graft_simhash equals the declarative fingerprint bit-for-bit") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toked = docs.select(col("doc_id"),
      operators.TextOps.tokens(col("text")).as("toks"))
    val native = toked.filter(size(col("toks")) > 0)
      .select(col("doc_id"), functions.GraftFunctions.simhash(col("toks")).as("fp"))
    val decl = operators.Dedup.simhashFpDeclarative(toked)
      .select(col("doc_id"), col("simhash").as("fp"))
    assert(native.exceptAll(decl).count() === 0)
    assert(decl.exceptAll(native).count() === 0)
    // the SQL face resolves and matches the Column face
    functions.GraftFunctions.register(spark)
    toked.filter(size(col("toks")) > 0).createOrReplaceTempView("r16_toked")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash(toks) AS fp FROM r16_toked")
    assert(viaSql.exceptAll(native).count() === 0)
    CacheTracker.drainAll(spark)
  }

  test("graft_simhash: empty array -> 0, null element matches the -1 branch") {
    functions.GraftFunctions.register(spark)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("toks ARRAY<STRING>")
    val rows = Seq(
      org.apache.spark.sql.Row(Seq.empty[String]),
      org.apache.spark.sql.Row(Seq("alpha", null)),
      org.apache.spark.sql.Row(Seq("alpha", "alpha", "beta")))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = df.select(functions.GraftFunctions.simhash(col("toks")).as("fp"))
      .collect().map(_.getLong(0))
    assert(out(0) === 0L, "empty token array must fingerprint to 0")
    // the null element shifts every counter by -1: with one real token the
    // ties (counter 0) flip to negative, so fp(alpha,null) has no bit that
    // fp(alpha) lacks
    val alphaOnly = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(Seq("alpha"))).asJava, schema)
      .select(functions.GraftFunctions.simhash(col("toks")).as("fp"))
      .head().getLong(0)
    assert((out(1) & ~alphaOnly) === 0L)
  }

  test("embed_isotropy equals the brute-force pair mean on the tiny SF") {
    assumeTestdata(sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ours = operators.Similarity.embedIsotropy(emb).head()
    val unit = emb.select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") /
        sqrt(aggregate(col("embedding"), lit(0.0),
          (a, y) => a + y.cast("double") * y.cast("double"))), 9)).as("u"))
    val pairs = unit.select(col("vec_id").as("a_id"), col("u").as("a"))
      .join(unit.select(col("vec_id").as("b_id"), col("u").as("b")),
        col("a_id") < col("b_id"))
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("dot"))
      .agg(avg(col("dot")).as("m")).head().getDouble(0)
    assert(math.abs(ours.getAs[Double]("mean_pairwise_cos") - pairs) < 2e-6,
      s"${ours.getAs[Double]("mean_pairwise_cos")} vs brute $pairs")
    CacheTracker.drainAll(spark)
  }

  test("mcc_score: perfect classifier sanity and cell partition") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = operators.Eval.mccScore(docs).collect()
    assert(out.length === 2)
    for (r <- out) {
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp")
        + r.getAs[Long]("fn") + r.getAs[Long]("tn") === r.getAs[Long]("n"))
      val mcc = r.getAs[Double]("mcc")
      assert(mcc >= -1.0 && mcc <= 1.0)
    }
    CacheTracker.drainAll(spark)
  }

  test("quality_wilson_ci brackets p_hat and stays inside [0, 1]") {
    assumeTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (r <- operators.Eval.qualityWilsonCi(docs).collect()) {
      val (p, lo, hi) = (r.getAs[Double]("p_hat"), r.getAs[Double]("ci_lo"),
        r.getAs[Double]("ci_hi"))
      assert(lo <= p && p <= hi, s"CI [$lo, $hi] must bracket $p")
      assert(lo >= 0.0 && hi <= 1.0, "Wilson CI is always inside [0, 1]")
    }
    CacheTracker.drainAll(spark)
  }

  test("xml_ingest reads the fixture identically to the jsonl twin") {
    val xml = SparkEntry.queries("xml_ingest")(spark, sf)
    val jsonl = SparkEntry.queries("json_ingest")(spark, sf)
      .withColumn("n_tags", coalesce(col("n_tags"), lit(0L)))
    assert(xml.count() === 5)
    assert(xml.exceptAll(jsonl).count() === 0)
    assert(jsonl.exceptAll(xml).count() === 0)
  }

  test("collation_semantics: case-insensitive distinct halves the case-varied key space") {
    assumeTestdata(sf)
    val r = SparkEntry.queries("collation_semantics")(spark, sf).head()
    assert(r.getAs[Long]("n_sources_cs") === 2 * r.getAs[Long]("n_sources_ci"),
      "upper-casing half the rows must double the case-sensitive distinct count")
    assert(r.getAs[Long]("n_src1_ci") > 0)
  }

  test("price_moments matches Spark's own skewness/kurtosis to 1e-6") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val ours = operators.Relational.priceMoments(o, c).collect()
      .map(r => r.getAs[String]("c_mktsegment") ->
        (r.getAs[Double]("skewness"), r.getAs[Double]("excess_kurtosis"))).toMap
    // Spark's skewness/kurtosis aggregates are the population (biased)
    // definitions — the same m3/m2^1.5 and m4/m2^2 - 3 we expand from the
    // raw power sums, so the two must agree to rounding
    val ref = o.select(col("o_custkey"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(c.select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), "o_custkey")
      .groupBy("c_mktsegment")
      .agg(skewness(col("cents").cast("double")).as("sk"),
        kurtosis(col("cents").cast("double")).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((seg, (sk, ku)) <- ours) {
      assert(math.abs(sk - ref(seg)._1) < 1e-5, s"$seg skewness: $sk vs ${ref(seg)._1}")
      assert(math.abs(ku - ref(seg)._2) < 1e-5, s"$seg kurtosis: $ku vs ${ref(seg)._2}")
    }
    CacheTracker.drainAll(spark)
  }
}
