package graft.bench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Dedup, LangModel, Relational, Similarity}

/** Output-sensitivity scaling check (BASELINE.md "Scaling check" table):
  * the corpus is multiplied m-way IN MEMORY with shifted ids, so every
  * document becomes an m-way duplicate — a worst case that inflates the
  * TRUE pair count quadratically while input only grows linearly. An
  * operator whose cost tracks output (pairs found), not input², survives
  * this; an all-pairs shape does not.
  *
  * Usage: runMain graft.bench.ScaleCheck [sfDir] [m ...]
  * Prints one JSON line per m.
  */
object ScaleCheck {

  /** Times plan construction PLUS the noop-sink write (full
    * materialization of every output column); the row count runs
    * afterwards, outside the timed region, so reported seconds reflect
    * one execution of the query, not two. Construction is inside the
    * timer because iterative operators (components) do their rounds
    * EAGERLY while building the frame — timing only the final write
    * would miss all of their work. */
  private def timedForce(mkDf: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    val df = mkDf
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, df.count())
  }

  def multiplyDocs(docs: DataFrame, m: Int): DataFrame =
    (0 until m).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 10_000_000L)))
      .reduce(_ unionByName _)

  def multiplyEvents(events: DataFrame, m: Int): DataFrame =
    (0 until m).map(i =>
      events.withColumn("event_id", col("event_id") + lit(i * 10_000_000L))
        .withColumn("user_id", col("user_id") + lit(i * 10_000_000L)))
      .reduce(_ unionByName _)

  def multiplyEmb(emb: DataFrame, m: Int): DataFrame =
    (0 until m).map(i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * 10_000_000L)))
      .reduce(_ unionByName _)

  /** collect_list's aggregation buffer holds exactly its group's rows, so
    * max group cardinality IS the peak buffer size in elements. It has to
    * be measured at the DATA level: TaskMetrics.peakExecutionMemory reads
    * a flat 256 KiB/1.25 MiB for both shapes at every m, because the
    * TypedImperativeAggregate buffer is an untracked JVM-heap ArrayBuffer,
    * invisible to the Tungsten memory manager until the moment it OOMs. */
  private def maxGroupRows(df: DataFrame, keys: Column*): Long =
    df.groupBy(keys: _*).count().agg(max("count")).head.getLong(0)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // non-numeric args select sections ("emb" = embedding rows only —
    // lets the m=64 near-dup blocking proof run without paying the
    // doc/event rows' 64x duplication cost)
    val (mArgs, sections) = args.drop(1).partition(a => a.nonEmpty && a.forall(_.isDigit))
    val embOnly = sections.contains("emb")
    val ms = if (mArgs.nonEmpty) mArgs.map(_.toInt).toSeq else Seq(1, 4, 16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Graft.session(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("WARN")
    val width = spark.sparkContext.defaultParallelism
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet").repartition(width)
    // schema-adaptive: testdata's ts type drifts between generations
    val events0 = graft.SparkEntry.events(spark, sfDir).repartition(width)
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet").repartition(width)

    for (m <- ms) {
      if (embOnly) {
        val emb = multiplyEmb(emb0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        emb.count()
        val (tNdp, nNdp) = timedForce(Similarity.nearDupPairs(emb))
        val ndpBits = Similarity.adaptiveSignBits(emb.count())
        graft.CacheTracker.drainAll(spark)
        // per-dim stats over ALL vectors: exact sums with partial
        // aggregation, so time must stay about linear in m
        val (tStd, nStd) = timedForce(Similarity.embedStandardize(emb))
        println(s"""{"m":$m,"vecs":${emb.count()},""" +
          s""""near_dup_pairs":{"sec":$tNdp,"pairs":$nNdp,"bits":$ndpBits},""" +
          s""""embed_standardize":{"sec":$tStd,"rows":$nStd}}""")
        emb.unpersist()
      } else if (sections.contains("r13")) {
        // round-13 rows only: the chargram classifier (must stay linear
        // in m — profiles are schema-bounded, scoring is narrow) and
        // BLEU over near-dup candidates (true pairs grow ~m²/2 per base
        // doc under duplication; cost must track the PAIR count)
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val (tLic, nLic) = timedForce(LangModel.langIdChargram(docs))
        graft.CacheTracker.drainAll(spark)
        val (tBleu, nBleu) = timedForce(graft.operators.Eval.bleuPairs(docs))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""lang_id_chargram":{"sec":$tLic,"rows":$nLic},""" +
          s""""bleu_pairs":{"sec":$tBleu,"pairs":$nBleu}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r14")) {
        // round-14 rows: detector_agreement (BOTH detector pipelines over
        // ONE shared tokenize of the same corpus — under m-way duplication
        // true pairs grow ~m² per base doc, so cost must track the
        // detectors' candidate volumes, never input²·detector_count) and
        // chrF over near-dup candidates (char-3-gram shingle frame is ~5x
        // bleu's token frame; like bleu_pairs the cost must track the
        // true-pair output count)
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        // inline timing (not timedForce) so the frame stays in scope: the
        // post-timing head() re-reads the two persisted detector pair
        // caches, giving the pair counts WITHOUT re-running the detectors
        val tDa0 = System.nanoTime()
        val da = Dedup.detectorAgreement(docs)
        da.write.format("noop").mode("overwrite").save()
        val tDa = (System.nanoTime() - tDa0) / 1e9
        val daRow = da.head()
        val (nMin, nSim, nBoth) =
          (daRow.getLong(0), daRow.getLong(1), daRow.getLong(2))
        graft.CacheTracker.drainAll(spark)
        val (tChrf, nChrf) = timedForce(graft.operators.Eval.chrfPairs(docs))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""detector_agreement":{"sec":$tDa,"n_minhash":$nMin,"n_simhash":$nSim,"n_both":$nBoth},""" +
          s""""chrf_pairs":{"sec":$tChrf,"pairs":$nChrf}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r14c")) {
        // round-14b sketch + resample rows. Under m-way duplication the
        // vocabulary is INVARIANT, so: hll_det's estimate must be
        // bit-identical across m (registers depend only on the distinct
        // set) with cost tracking the scan; countmin_err's cell frame
        // stays width·depth-bounded while its top-20 overestimates scale
        // exactly ×m (counts do); typo_recovery is vocab-bounded flat
        // past the scan floor; bootstrap_ci's draw frame is reps·rows —
        // honestly linear in m, the stated output-bound cost.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val tH0 = System.nanoTime()
        val hll = graft.operators.Sketches.hllDet(docs)
        hll.write.format("noop").mode("overwrite").save()
        val tHll = (System.nanoTime() - tH0) / 1e9
        val hRow = hll.head()
        graft.CacheTracker.drainAll(spark)
        val tC0 = System.nanoTime()
        val cms = graft.operators.Sketches.countMinErr(docs)
        cms.write.format("noop").mode("overwrite").save()
        val tCms = (System.nanoTime() - tC0) / 1e9
        val maxOver = cms.agg(max(col("overcount"))).head.getLong(0)
        graft.CacheTracker.drainAll(spark)
        val (tTypo, nTypo) = timedForce(graft.operators.TextOps.typoRecovery(docs))
        graft.CacheTracker.drainAll(spark)
        val (tBoot, nBoot) = timedForce(graft.operators.Eval.bootstrapCi(docs))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""hll_det":{"sec":$tHll,"n_true":${hRow.getLong(0)},"estimate":${hRow.getDouble(2)}},""" +
          s""""countmin_err":{"sec":$tCms,"max_overcount":$maxOver},""" +
          s""""typo_recovery":{"sec":$tTypo,"rows":$nTypo},""" +
          s""""bootstrap_ci":{"sec":$tBoot,"rows":$nBoot}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r14d")) {
        // resampling-stats rows: under m-way event duplication the USER
        // population grows m-fold (ids shift), so the permutation frames
        // (users × perms) must scale linearly in m — the honest cost
        // model both tests document. The per-(type, p) / per-p groupBys
        // are conditional partial aggregates: nothing data-sized crosses
        // the shuffle beyond those keyed partials.
        val events = multiplyEvents(events0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        events.count()
        val (tPt, _) = timedForce(Relational.permutationTest(events))
        graft.CacheTracker.drainAll(spark)
        val (tBh, _) = timedForce(Relational.bhFdr(events))
        graft.CacheTracker.drainAll(spark)
        val nUsers = events.select("user_id").distinct().count()
        println(s"""{"m":$m,"users":$nUsers,""" +
          s""""permutation_test":{"sec":$tPt},"bh_fdr":{"sec":$tBh}}""")
        events.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r15")) {
        // bootstrap_ci scale-guard row: with the md5 pre-sample cap
        // engaged (maxN set BELOW the base corpus size), the reps×rows
        // draw frame is bounded at reps·maxN·|langs| regardless of m —
        // cost past the cap must be flat-plus-scan (the pre-rank window
        // still reads every row once), never linear-in-m like the
        // uncapped draw frame. Both curves printed so the artifact shows
        // the cap DOING something: uncapped grows with m, capped doesn't.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val capN = 2000 // well under the sf0.1 per-lang count at every m
        val (tCap, _) = timedForce(graft.operators.Eval.bootstrapCi(docs, maxN = capN))
        graft.CacheTracker.drainAll(spark)
        val (tUncap, _) = timedForce(
          graft.operators.Eval.bootstrapCi(docs, maxN = Int.MaxValue))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""bootstrap_ci_cap$capN":{"sec":$tCap},""" +
          s""""bootstrap_ci_uncapped":{"sec":$tUncap}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r15b")) {
        // round-15 detector rows: under m-way duplication every base
        // near-dup cluster inflates its TRUE pair count ~m² (the
        // standard output-sensitivity worst case) — both new detectors
        // must track the PAIR count, not input²: dedup_wminhash's banded
        // candidates are exactly the near-dup buckets, and
        // head_tail_overlap's candidates are the boundary-hash buckets.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val (tWmh, nWmh) = timedForce(Dedup.weightedMinhashPairs(docs))
        graft.CacheTracker.drainAll(spark)
        val (tHt, nHt) = timedForce(Dedup.headTailOverlap(docs, win = 3))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""dedup_wminhash":{"sec":$tWmh,"pairs":$nWmh},""" +
          s""""head_tail_overlap":{"sec":$tHt,"pairs":$nHt}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r15c")) {
        // windowed-HLL family rows: multiplyEvents shifts user ids, so
        // the user POPULATION grows m-fold on the same days — exactly
        // the stress the register cap is for: the DAILY PARTIALS stay
        // ≤256 rows/day at every m, so the sketch half is scan-bound,
        // while the exact comparator (user×window explode + distinct)
        // honestly grows with the duplicated population.
        val events = multiplyEvents(events0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        events.count()
        val (tWd, nWd) = timedForce(
          graft.operators.Sketches.hllWindowDistinct(events))
        graft.CacheTracker.drainAll(spark)
        val (tNu, nNu) = timedForce(graft.operators.Sketches.hllNewUsers(events))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"events":${events.count()},""" +
          s""""hll_window_distinct":{"sec":$tWd,"rows":$nWd},""" +
          s""""hll_new_users":{"sec":$tNu,"rows":$nNu}}""")
        events.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r15d")) {
        // round-15 continuation rows. adamic_adar: m-way duplication
        // multiplies the bigram STREAM m-fold but the (a, b) edge space
        // not at all (same vocabulary), so cost must flatten to the
        // scan+combine floor while scores stay IDENTICAL (counts scale,
        // ratios don't — n_pairs must be constant in m). rouge_l_pairs:
        // every doc gains m-1 exact duplicates, so band candidates grow
        // ~m² — the DP cost must track the PAIR count (output), never
        // input². caliper_match: user population grows m-fold, bucket
        // co-location keeps candidate pairs ~linear in users.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val events = multiplyEvents(events0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        events.count()
        val (tAa, nAa) = timedForce(graft.operators.Graph.adamicAdar(docs))
        graft.CacheTracker.drainAll(spark)
        val (tRl, nRl) = timedForce(Dedup.rougeLPairs(docs))
        graft.CacheTracker.drainAll(spark)
        val (tCm, nCm) = timedForce(Relational.caliperMatch(events))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},"events":${events.count()},""" +
          s""""adamic_adar":{"sec":$tAa,"pairs":$nAa},""" +
          s""""rouge_l_pairs":{"sec":$tRl,"pairs":$nRl},""" +
          s""""caliper_match":{"sec":$tCm,"rows":$nCm}}""")
        docs.unpersist(); events.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r18")) {
        // token-budget corpus selection (B297/B298): selecting a FIXED
        // token budget from an m× corpus must keep the OUTPUT
        // budget-bounded (kept rows / kept tokens do not grow with m —
        // they can only shrink toward higher-quality prefixes as the
        // candidate pool widens), while the cost is the one
        // rank+running-sum pass, linear in m. kept_tokens <= 10000 is
        // the invariant; kept_rows is printed as the bound's witness.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val (tSel, nSel) = timedForce(
          graft.operators.TextOps.tokenBudgetSelect(docs))
        val keptSel = graft.operators.TextOps.tokenBudgetSelect(docs)
          .agg(max(col("cum_tokens"))).head().getLong(0)
        graft.CacheTracker.drainAll(spark)
        val (tDen, nDen) = timedForce(
          graft.operators.TextOps.tokenBudgetDensity(docs))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""token_budget_select":{"sec":$tSel,"kept_rows":$nSel,"kept_tokens":$keptSel},""" +
          s""""token_budget_density":{"sec":$tDen,"kept_rows":$nDen}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r17")) {
        // r16 graph/stat family (verdict r17 task 6): under m-way DOC
        // duplication the token VOCABULARY and the distinct bigram-edge
        // set are UNCHANGED (only edge weights inflate ×m), so every
        // per-round frame in the HITS / label-prop / modularity loops is
        // edge-set-bounded — cost past the one token-explode aggregate
        // must stay near-flat in m, NOT grow with it. edge_rows (the
        // distinct undirected consecutive-bigram pairs, the exact frame
        // the label-prop/modularity loops iterate) is printed as the
        // bound's witness — the r18 ADVICE fix: the r17 build printed
        // distinct TOKENS here while claiming the edge-set bound.
        // embed_mmd / v_measure ride the EMBEDDING multiplier:
        // closed-form MMD² and the Lloyd fit are one-pass linear-in-m
        // with dims²/k-bounded state.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val edgeRows = {
          val toked = docs
            .select(graft.operators.TextOps.tokens(col("text")).as("toks"))
            .filter(size(col("toks")) >= 2)
          toked.select(explode(zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
            .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
            .filter(col("w1") =!= col("w2"))
            .select(least(col("w1"), col("w2")).as("a"),
              greatest(col("w1"), col("w2")).as("b"))
            .distinct().count()
        }
        val (tHits, nHits) = timedForce(graft.operators.Graph.tokenHits(docs))
        graft.CacheTracker.drainAll(spark)
        val (tLp, nLp) = timedForce(graft.operators.Graph.tokenLabelProp(docs))
        graft.CacheTracker.drainAll(spark)
        val (tMod, _) =
          timedForce(graft.operators.Graph.communityModularity(docs))
        graft.CacheTracker.drainAll(spark)
        val emb = multiplyEmb(emb0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        emb.count()
        val (tMmd, _) = timedForce(Similarity.embedMmd(emb))
        graft.CacheTracker.drainAll(spark)
        val (tVm, _) = timedForce(Similarity.vMeasure(emb))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},"edge_rows":$edgeRows,""" +
          s""""token_hits":{"sec":$tHits,"rows":$nHits},""" +
          s""""token_label_prop":{"sec":$tLp,"rows":$nLp},""" +
          s""""community_modularity":{"sec":$tMod},""" +
          s""""embed_mmd":{"sec":$tMmd},""" +
          s""""v_measure":{"sec":$tVm}}""")
        docs.unpersist(); emb.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r16")) {
        // exact-percentile scale-guard rows: Spark's exact `percentile`
        // aggregate buffers each GROUP's values on one executor, so the
        // peak buffer (maxGroupRows, measured at the data level — the
        // TypedImperativeAggregate buffer is invisible to TaskMetrics)
        // grows ×m under duplication with NO cap, while the
        // approx_percentile twin's mergeable sketch state stays bounded.
        // Buffer sizes + both time curves printed so the artifact shows
        // the documented guard's reason: at 100 TB the exact names OOM
        // an executor, the approx path cannot.
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val events = multiplyEvents(events0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        events.count()
        val bufChar = maxGroupRows(docs, col("lang"))
        val (tCp, _) = timedForce(graft.operators.TextOps.charPercentiles(docs))
        graft.CacheTracker.drainAll(spark)
        val (tCpA, _) =
          timedForce(graft.operators.TextOps.approxCharPercentiles(docs))
        graft.CacheTracker.drainAll(spark)
        val bufVal = maxGroupRows(events, col("event_type"))
        val (tVp, _) =
          timedForce(Relational.valuePercentilesByType(events))
        graft.CacheTracker.drainAll(spark)
        val (tIa, _) = timedForce(Relational.interarrivalStats(events))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},"events":${events.count()},""" +
          s""""max_group_rows":{"char_percentiles":$bufChar,"value_percentiles_by_type":$bufVal},""" +
          s""""char_percentiles":{"sec":$tCp},""" +
          s""""approx_char_percentiles":{"sec":$tCpA},""" +
          s""""value_percentiles_by_type":{"sec":$tVp},""" +
          s""""interarrival_stats":{"sec":$tIa}}""")
        docs.unpersist(); events.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else if (sections.contains("r14b")) {
        // the nano-unit partial-agg rewrite (docEmbedHash / topicLabels
        // token mass): under m-way duplication the exploded contribution
        // stream grows m-fold while the (doc·m, dim) / (bucket, token)
        // group space grows far slower — a collect_list fold ships the
        // whole stream through the shuffle (cost ∝ m), the declarative
        // sum ships map-side partials; both curves must stay well below
        // linear-in-m past the scan floor
        val docs = multiplyDocs(docs0, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        val (tDeh, nDeh) = timedForce(graft.operators.TfIdf.docEmbedHash(docs))
        graft.CacheTracker.drainAll(spark)
        val (tTl, nTl) = timedForce(graft.operators.TfIdf.topicLabels(docs))
        graft.CacheTracker.drainAll(spark)
        println(s"""{"m":$m,"docs":${docs.count()},""" +
          s""""doc_embed_hash":{"sec":$tDeh,"rows":$nDeh},""" +
          s""""topic_labels":{"sec":$tTl,"rows":$nTl}}""")
        docs.unpersist()
        graft.CacheTracker.drainAll(spark)
      } else {
      val docs = multiplyDocs(docs0, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val events = multiplyEvents(events0, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      events.count()

      val (tExact, nExact) = timedForce(Dedup.exact(docs))
      val (tMinhash, nMinhash) = timedForce(Dedup.minhashPairs(docs))
      val (tNgram, nNgram) = timedForce(Dedup.ngramJaccard(docs))
      val (tComp, nComp) = timedForce(Dedup.components(Dedup.minhashPairs(docs)))
      graft.CacheTracker.drainAll(spark)
      // aggregation-shaped contrast to the join-shaped rows: BM25 is
      // bounded by partial-agg shuffles over the exploded token stream,
      // so it must scale LINEARLY even as true duplicate pairs explode
      val (tBm25, nBm25) = timedForce(LangModel.bm25(docs))
      // span_dedup under m-way duplication is ITS worst case: every
      // shingle is duplicated, so the position explosion touches the
      // whole corpus — yet per-doc aggregation (never pair emission)
      // must keep the curve linear in m, not quadratic
      val (tSpan, nSpan) = timedForce(Dedup.spanDedup(docs))
      // cdc worst case mirrors span_dedup's: every chunk hash collides
      // m-way in the copy-count window, so partition sizes grow with m
      // while the chunking itself stays narrow per-row work
      val (tCdc, nCdc) = timedForce(Dedup.cdcChunks(docs))
      // the global-sort shape: mixture_epoch's two-pass range-partitioned
      // rank over the whole corpus — the epoch-order build a training run
      // pays per epoch. Must scale ~linearly in m (parallel local sorts +
      // a config-bounded offset fold), never like a one-partition sort
      val (tMix, nMix) = timedForce(graft.operators.TextOps.mixtureEpoch(docs))
      graft.CacheTracker.drainAll(spark)
      val e = events.select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val p = e.filter(col("event_type") === "purchase").select("event_id", "user_id", "us")
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_event_id"), col("user_id"), col("us").as("click_us"))
      val (tAsof, nAsof) = timedForce(AsOf.asofJoin(p, c, "user_id", "us", "click_us"))
      // the chained binned-range-join shape: windowFunnel must scale
      // linearly in m (each duplicated user population is independent;
      // the (key, bin) equi-join never all-pairs a key across time)
      val (tFunnel, nFunnel) =
        timedForce(graft.operators.Sessionize.windowFunnel(events))
      // the session-path regex shape: per-user windows + bounded per-
      // pattern flags — users multiply with m, so the curve must be
      // linear (no cross-user state, no data-sized window)
      val (tPpm, nPpm) =
        timedForce(graft.operators.Sessionize.pathPatternMatch(events))
      // the exact sum over the bigram-TYPE frame: under m-way
      // duplication the type frame is CONSTANT while counts grow, so the
      // curve must flatten (cost tracks distinct bigrams, not corpus
      // mass) once the token explode is paid
      val (tBce, nBce) =
        timedForce(graft.operators.LangModel.bigramCondEntropy(docs))

      // glove_cooc's window expansion is a bounded per-center slice: m-way
      // duplication multiplies pair TOKENS linearly while the pair-TYPE
      // output frame is constant — cost must stay ~linear in m
      val (tGlove, nGlove) =
        timedForce(graft.operators.TextOps.gloveCooc(docs))
      // jm_bigram derives everything from type frames (constant under
      // duplication) after the token-stream explodes — near-flat curve
      val (tJm, nJm) =
        timedForce(graft.operators.LangModel.jmBigram(docs))
      graft.CacheTracker.drainAll(spark)
      // the ±1 interval sweep: 2 rows per session, sessions grow with m
      // (duplicated users are independent), range-partitioned cumsum —
      // must scale linearly, never like a one-task ordered window
      val (tConc, nConc) =
        timedForce(graft.operators.Sessionize.sessionConcurrency(events))
      graft.CacheTracker.drainAll(spark)
      // survival_curve: user-bounded aggregate then duration-bounded
      // Ranks passes — the curves' cost tracks users, not events
      val (tSurv, nSurv) =
        timedForce(graft.operators.Relational.survivalCurve(events))
      graft.CacheTracker.drainAll(spark)

      // embedding stats: per-dim exact sums over ALL vectors, time must
      // stay about linear in m
      val emb = multiplyEmb(emb0, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      emb.count()
      val (tStd, nStd) = timedForce(Similarity.embedStandardize(emb))
      // near_dup_pairs under m-way duplication is the sign-LSH stress
      // case: every vector is an m-way exact duplicate, so TRUE pairs
      // grow ~m²/2 per base vector while input grows m — pair cost must
      // track the true-pair count (quadratic in m because the OUTPUT is),
      // never input²: adaptiveSignBits widens the blocking as n grows so
      // non-duplicate co-residents per bucket stay bounded
      val (tNdp, nNdp) = timedForce(Similarity.nearDupPairs(emb))
      val ndpBits = Similarity.adaptiveSignBits(emb.count())
      emb.unpersist()

      println(s"""{"m":$m,"docs":${docs.count()},"events":${events.count()},""" +
        s""""dedup_exact":{"sec":$tExact,"rows":$nExact},""" +
        s""""dedup_minhash":{"sec":$tMinhash,"pairs":$nMinhash},""" +
        s""""ngram_jaccard":{"sec":$tNgram,"pairs":$nNgram},""" +
        s""""components":{"sec":$tComp,"nodes":$nComp},""" +
        s""""bm25":{"sec":$tBm25,"rows":$nBm25},""" +
        s""""span_dedup":{"sec":$tSpan,"rows":$nSpan},""" +
        s""""cdc_chunks":{"sec":$tCdc,"rows":$nCdc},""" +
        s""""mixture_epoch":{"sec":$tMix,"rows":$nMix},""" +
        s""""asof_join":{"sec":$tAsof,"rows":$nAsof},""" +
        s""""window_funnel":{"sec":$tFunnel,"rows":$nFunnel},""" +
        s""""path_pattern_match":{"sec":$tPpm,"rows":$nPpm},""" +
        s""""bigram_cond_entropy":{"sec":$tBce,"rows":$nBce},""" +
        s""""glove_cooc":{"sec":$tGlove,"rows":$nGlove},""" +
        s""""jm_bigram":{"sec":$tJm,"rows":$nJm},""" +
        s""""session_concurrency":{"sec":$tConc,"rows":$nConc},""" +
        s""""survival_curve":{"sec":$tSurv,"rows":$nSurv},""" +
        s""""near_dup_pairs":{"sec":$tNdp,"pairs":$nNdp,"bits":$ndpBits},""" +
        s""""embed_standardize":{"sec":$tStd,"rows":$nStd}}""")
      docs.unpersist(); events.unpersist()
      }
    }
    spark.stop()
  }
}
