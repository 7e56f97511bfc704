package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (B5-B7): exact cosine top-k
  * with a broadcast query side, a sign-LSH bucketed ANN, and sign-LSH
  * bucketed near-duplicate pairs.
  *
  * Cosine is computed with element-wise double casts and a sequential
  * fold (functions.transform + functions.aggregate) so the DuckDB oracle
  * (list_transform/list_sum over DOUBLE) produces bit-identical values.
  *
  * Scale posture: the exact variant is a broadcast nested-loop with a
  * deliberately tiny query side — corpus streams, never shuffles. The
  * bucketed variants shuffle once on the bucket key; no crossJoin exists
  * in any plan here.
  */
object Similarity {

  /** Sequential-fold dot product over double-cast elements (declarative
    * twin of the native expression; kept for cross-checking). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Declarative composition — bit-identical to [[cosine]]. */
  def cosineDeclarative(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine (graft.functions.CosineSimilarity): one
    * primitive double loop inside whole-stage codegen instead of three
    * interpreted higher-order folds. Same bits, ~n× fewer allocations. */
  def cosine(a: Column, b: Column): Column = graft.functions.GraftFunctions.cosine(a, b)

  /** Sign-LSH bucket over the first `bits` dimensions (axis-aligned
    * hyperplanes): deterministic, SQL-reproducible, bounded key space. */
  def signBucket(emb: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(emb, i) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** B6: exact cosine top-k for a small query set (broadcast) against the
    * full corpus. Rank, not raw similarity, is the deliverable; cosine is
    * rounded to 6 dp for the oracle. */
  def annTopK(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5): DataFrame = {
    val q = broadcast(
      emb.filter(col("vec_id") < maxQueryId)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val scored = q.join(emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** FILTERED vector search (B270): exact cosine top-k restricted to
    * neighbors sharing the query's label — the metadata-filtered ANN
    * every retrieval stack needs the moment vectors carry attributes
    * (tenant, language, date-range). PRE-filter semantics: the predicate
    * applies before ranking, so the top-k is the true filtered answer —
    * the reference against which [[annPostfilterRecall]] measures the
    * cheaper post-filter shortcut. Same broadcast-query + TopKPerKey
    * shape as [[annTopK]]; the filter rides the join condition, so
    * Catalyst pushes the label equality into the probe. */
  def annFiltered(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5): DataFrame = {
    val q = broadcast(
      emb.filter(col("vec_id") < maxQueryId)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label")))
    val scored = q.join(
        emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("label").as("n_label")),
        col("q_id") =!= col("n_id") && col("q_label") === col("n_label"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Post-filter recall audit (B271): the cheap filtered-search shortcut
    * — take the UNFILTERED top-(k·overfetch), drop non-matching labels,
    * keep k — measured against [[annFiltered]]'s true pre-filtered
    * top-k. Recall < 1 quantifies exactly what the shortcut loses when
    * the filter is selective (the candidate list exhausts before k
    * same-label hits); the overfetch factor is the knob this row sizes.
    * Both sides are broadcast-query exact scans; the audit join is
    * queries×k-bounded. */
  def annPostfilterRecall(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5,
                          overfetch: Int = 4): DataFrame = {
    val labels = broadcast(emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), col("label").as("q_label")))
    val post = annTopK(emb, maxQueryId, k * overfetch)
      .join(labels, "q_id")
      .join(emb.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .filter(col("n_label") === col("q_label"))
    val postTop = rankTopK(post.select("q_id", "n_id", "cos"), k)
      .select(col("q_id"), col("n_id"))
    val truth = annFiltered(emb, maxQueryId, k).select(col("q_id"), col("n_id"))
    val hits = truth.join(postTop, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("n_truth"), 6))
  }

  /** Maximal Marginal Relevance re-ranking (B231, Carbonell & Goldstein
    * 1998): the diversified top-k every retrieval stack bolts onto its
    * ANN results — greedily pick the candidate maximizing
    * λ·sim(query, c) − (1−λ)·max_{s∈selected} sim(c, s), so near-
    * duplicates of already-picked hits are skipped in favor of novel
    * ones. Candidates are the exact cosine top-`nCand` (TakeOrdered);
    * the greedy loop is `k` unrolled rounds over that ≤nCand-row frame
    * (each a trivial anti-join + max-sim join + 1-row TakeOrdered, the
    * bpe_train unrolled-round discipline with a localCheckpoint per
    * pick so the plan stays linear). Every similarity rounds to 6 dp at
    * creation and every score is one fixed-order expression on rounded
    * inputs, ties to the smaller id — engine-deterministic. */
  def mmrRerank(emb: DataFrame, queryId: Long = 0L, nCand: Int = 20,
                k: Int = 5, lambda: Double = 0.7): DataFrame = {
    val q = broadcast(emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb")))
    val cand = emb.filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id").as("n_id"), col("embedding").as("e"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cosq"))
      .orderBy(col("cosq").desc, col("n_id")).limit(nCand)
      .transform(CacheTracker.pin)
    val first = cand
      .select(lit(1L).as("rnk"), col("n_id"), col("e"),
        round(lit(lambda) * col("cosq"), 6).as("score"))
      .orderBy(col("score").desc, col("n_id")).limit(1)
      .transform(CacheTracker.pin)
    val sel = (2 to k).foldLeft(first) { (s, i) =>
      val remaining = cand.join(s.select(col("n_id")), Seq("n_id"), "left_anti")
      val ms = remaining.alias("c")
        .crossJoin(broadcast(s.select(col("e").as("se"))))
        .groupBy(col("c.n_id"))
        .agg(org.apache.spark.sql.functions.first(col("c.cosq")).as("cosq"),
          org.apache.spark.sql.functions.first(col("c.e")).as("e"),
          max(round(cosine(col("c.e"), col("se")), 6)).as("ms"))
      val pick = ms
        .select(lit(i.toLong).as("rnk"), col("n_id"), col("e"),
          round(lit(lambda) * col("cosq") - lit(1.0 - lambda) * col("ms"), 6)
            .as("score"))
        .orderBy(col("score").desc, col("n_id")).limit(1)
      s.unionByName(pick).transform(CacheTracker.pin)
    }
    sel.select(col("rnk"), col("n_id"), col("score"))
  }

  /** k-NN majority-vote classification (B222): the zero-training
    * classifier every embedding column gets evaluated with before anyone
    * trains a head — each query vector takes its exact cosine top-k
    * ([[annTopK]]'s broadcast nested-loop + TopKPerKey heap, so the
    * corpus is never sorted), the neighbors vote with their labels
    * (ties → smaller label id), and the readout is the (label,
    * pred_label) confusion census over the query set. Label lookup is a
    * broadcast of the tiny query frame; the vote groupBy runs on ≤
    * queries·k rows. */
  def knnLabelVote(emb: DataFrame, maxQueryId: Long = 100, k: Int = 5): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("l"))
    val votes = annTopK(emb, maxQueryId, k)
      .join(labels.select(col("vec_id").as("n_id"), col("l").as("n_label")), "n_id")
      .groupBy("q_id", "n_label").agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("q_id").orderBy(col("v").desc, col("n_label"))
    val pred = votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"))
    // broadcast ONLY the query subset's labels — the full label frame is
    // corpus-sized at scale and must never ship to the driver
    pred
      .join(broadcast(labels.filter(col("vec_id") < maxQueryId)
        .select(col("vec_id").as("q_id"), col("l").as("label"))), "q_id")
      .groupBy("label", "pred_label").agg(count(lit(1)).as("n"))
  }

  /** Top-k prune with the custom heap operator (graft.plans.TopK), then
    * rank only the <=k survivors per key with a (now trivially small)
    * window. Identical output to ranking everything; the full corpus is
    * never sorted. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val pruned = graft.plans.TopK.topKPerKey(
      scored, Seq("q_id"), Seq("cos" -> false, "n_id" -> true), k)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cos")
  }

  /** Model-free semantic search over raw text (B128): the full
    * text → embedding → ANN pipeline in one query — documents embed via
    * [[TfIdf.docEmbedHash]]'s sign-random projection (no trained model,
    * no vocab table), query docs broadcast, and the exact cosine top-k
    * comes back through the TopKPerKey heap operator. What a pipeline
    * without a neural encoder runs for "find documents like this one";
    * swapping the encoder later changes ONLY the embedding subtree.
    * Zero-norm embeddings (a doc whose every token cancels or carries
    * zero tf-idf) are filtered before scoring on both engines so no
    * NaN cosine ever reaches the compare. Scale: the per-doc pivot is
    * a dims-bounded fold; query side broadcasts; corpus streams. */
  def textAnn(docs: DataFrame, maxQueryId: Long = 10, k: Int = 5,
              dims: Int = 16): DataFrame = {
    // localCheckpoint: the embedding frame feeds BOTH join sides (the
    // broadcast query subtree and the corpus stream) — unpinned, the
    // whole tfidf + dims-fold pipeline ran twice, and under a
    // multi-hundred-query pass the duplicated subtree was also the one
    // the r13/r14 eviction weather hit (9.2 s in-pass vs 4.5 s solo in
    // the r15-continuation close); checkpointed partitions can't be
    // evicted and the plan builds each once
    val emb = TfIdf.docEmbedHash(docs, dims)
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("v")))),
        s => s.getField("v")).as("e"))
      .filter(aggregate(col("e"), lit(0.0), (a, x) => a + x * x) > 0)
      .transform(CacheTracker.pin)
    val q = broadcast(emb.filter(col("doc_id") < maxQueryId)
      .select(col("doc_id").as("q_id"), col("e").as("q_e")))
    val scored = q.join(emb.select(col("doc_id").as("n_id"), col("e").as("n_e")),
        col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        // native codegen'd cosine — same bits as the declarative fold
        // (the graft_cosine A/B), one primitive loop per pair
        round(cosine(col("q_e"), col("n_e")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** B7: IVF-ish ANN — corpus pre-bucketed by sign-LSH; each query probes
    * only its own bucket. Trades recall for a bucket-local scan. */
  def annIvf(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5, bits: Int = 4): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val q = broadcast(
      bucketed.filter(col("vec_id") < maxQueryId)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket")))
    val scored = q.join(
        bucketed.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("bucket")),
        Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Margin-criterion pair mining (B242, the Artetxe-Schwenk ratio
    * margin): cross-side candidate pairs (side = label parity, standing
    * in for two languages) gated by sign-LSH buckets, scored by
    * cos(x, y) / ((μ_k(x) + μ_k(y)) / 2) where μ_k is the mean cosine
    * of the vector's k best candidates — the normalization that kills
    * hubness: a pair survives only if it is much closer than each
    * side's TYPICAL neighborhood, which absolute-threshold mining
    * cannot express. Emits each left vector's best right match by
    * margin (ties to the lower right id) above `marginMin` — the
    * embedding-retrieval stage of bitext mining, downstream of the
    * [[bitextCandidates]] shared-rare-shingle prefilter.
    *
    * Scale: candidates come from the bucket join (never all-pairs); the
    * per-vector windows rank only that vector's bucket-bounded
    * candidate set; the scored frame is localCheckpointed because three
    * consumers (two μ sides + the final scorer) re-read it.
    *
    * Exactness: the margin is computed entirely in MICRO-UNIT integer
    * space — 6 dp cosines become exact ×1e6 longs, the μ means stay as
    * (Σ, count) integer pairs, and the ratio collapses algebraically to
    * 2·cm·ca·cb / (sa·cb + sb·ca), ONE division of exact integers
    * rounded once at 6 dp. The first cut rounded each μ at 6 dp and
    * divided rounded values: a μ = Σ(6 dp)/4 lands EXACTLY on .5e-6
    * boundaries, where Spark's BigDecimal HALF_UP and DuckDB's
    * multiply-based round disagree (2/223 rows flipped at sf0.01). */
  def marginPairs(emb: DataFrame, bits: Int = 4, k: Int = 4,
                  marginMin: Double = 1.02): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      (col("label") % 2 === 0).as("side_a"),
      signBucket(col("embedding"), bits).as("bucket"))
    val a = bucketed.filter(col("side_a"))
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("bucket"))
    val b = bucketed.filter(!col("side_a"))
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("bucket"))
    val scored = a.join(b, Seq("bucket"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("a_emb"), col("b_emb")), 6).as("cos"))
      .withColumn("cm", round(col("cos") * 1e6).cast("long"))
      .transform(CacheTracker.pin)
    def muK(key: String, tie: String, sName: String, cName: String): DataFrame = {
      val w = Window.partitionBy(key).orderBy(col("cos").desc, col(tie))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .groupBy(key)
        .agg(sum(col("cm")).as(sName), count(lit(1)).as(cName))
    }
    val muA = muK("a_id", "b_id", "sa", "ca")
    val muB = muK("b_id", "a_id", "sb", "cb")
    // plain shuffle joins: the μ frames are vector-count-sized (one row
    // per vector with candidates) — corpus-shaped, never broadcast
    val margined = scored
      .join(muA, "a_id")
      .join(muB, "b_id")
      .withColumn("margin", round(
        (lit(2L) * col("cm") * col("ca") * col("cb")).cast("double")
          / (col("sa") * col("cb") + col("sb") * col("ca")).cast("double"), 6))
    val wBest = Window.partitionBy("a_id")
      .orderBy(col("margin").desc, col("b_id"))
    margined.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1 && col("margin") >= marginMin)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
  }

  /** Cross-language bitext candidates (B187): pairs of docs in
    * DIFFERENT languages sharing ≥ `minShared` corpus-rare BIGRAM
    * shingles — rare phrases are overwhelmingly names, numbers and
    * fixed expressions that survive translation, so shared-rare-
    * shingle count is the classic cheap bitext-mining prefilter (the
    * stage before an expensive cross-lingual encoder). Rare = shingle
    * document frequency in [2, `maxDf`]; the inverted join runs ONLY
    * over those shingles, whose posting lists are ≤ maxDf by
    * construction — candidate cost is bounded per shingle no matter
    * the corpus size (the same prefix-filter insight as
    * doc_similarity_pruned, applied as the whole join). */
  def bitextCandidates(docs: DataFrame, maxDf: Int = 3,
                       minShared: Int = 1): DataFrame = {
    val toked = docs.select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("toks")).filter(size(col("toks")) >= 2)
    val dt = toked.select(col("doc_id"), col("lang"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => concat(x, lit(" "), y))).as("bg")).distinct()
    val rare = dt.groupBy("bg").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("bg")
    val rdt = dt.join(rare, Seq("bg"), "left_semi")
    rdt.select(col("bg"), col("doc_id").as("a_id"), col("lang").as("lang_a"))
      .join(rdt.select(col("bg"), col("doc_id").as("b_id"),
        col("lang").as("lang_b")), "bg")
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("a_id", "lang_a", "b_id", "lang_b")
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= minShared)
  }

  /** Multi-probe LSH recall sweep (B182): the tuning table behind
    * [[annIvf]]'s single-bucket probe — recall@k against the exact
    * top-k when queries also probe buckets at Hamming distance ≤ h,
    * for h = 0..`maxFlips`. Multi-probe is THE standard rescue for
    * sign-LSH's boundary problem (a query near a hyperplane has its
    * true neighbors one bit-flip away); this measures exactly how much
    * each extra flip buys, per query.
    *
    * One candidate scan covers every level: candidates are scored once
    * at hd ≤ maxFlips (query side broadcast, bounded), each row
    * replicates only to the levels h ≥ its hd, and per-(h, query)
    * top-k rides the TopKPerKey heap. At 100 TB the probe set is
    * 2^bits-bounded per query and the corpus side stays
    * bucket-partitioned — cost tracks probed buckets, never all
    * pairs. */
  def lshProbeSweep(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5,
                    bits: Int = 4, maxFlips: Int = 2): DataFrame = {
    val bInt = (1 to bits).map(i =>
      when(element_at(col("embedding"), i) >= 0, lit(1 << (bits - i)))
        .otherwise(lit(0))).reduce(_ + _)
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      bInt.as("bucket"))
    val q = broadcast(bucketed.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket")))
    val scored = q.join(
        bucketed.select(col("vec_id").as("n_id"),
          col("embedding").as("n_emb"), col("bucket")),
        expr(s"bit_count(q_bucket ^ bucket) <= $maxFlips")
          && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        expr("bit_count(q_bucket ^ bucket)").as("hd"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    val levels = scored.withColumn("h",
      explode(filter(array((0 to maxFlips).map(lit(_)): _*),
        hh => hh >= col("hd"))))
    val w = Window.partitionBy("h", "q_id").orderBy(col("cos").desc, col("n_id"))
    val topk = graft.plans.TopK.topKPerKey(
        levels, Seq("h", "q_id"), Seq("cos" -> false, "n_id" -> true), k)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    val brute = annTopK(emb, maxQueryId, k).select("q_id", "n_id")
    val hits = topk.join(brute, Seq("q_id", "n_id"))
      .groupBy("h", "q_id").agg(count(lit(1)).as("n_hits"))
    val univ = q.select("q_id").distinct().crossJoin(broadcast(
      emb.sparkSession.range(maxFlips + 1).select(col("id").cast("int").as("h"))))
    univ.join(hits, Seq("h", "q_id"), "left")
      .select(col("h"), col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** True IVF ANN: coarse quantizer = KMeans centroids (fit over the full
    * corpus here; at 100 TB the fit runs on a sample), corpus assigned to
    * nearest-centroid cells once, queries probe
    * `nProbe` nearest cells. The inverted-file structure proper — at
    * 100 TB the cell assignment is a write-once partitioning column and
    * probing prunes the scan to nProbe/nCells of the corpus. Model-based
    * (rows-only check + recall ScalaTest). */
  def annIvfKmeans(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5,
                   nCells: Int = 16, nProbe: Int = 2, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
    val model = km.fit(vecs.select("features"))
    val assigned = CacheTracker.cache(model.transform(vecs)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell")))
    // queries probe their nProbe nearest centroids
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat).toSeq)
    }.toSeq
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = broadcast(centroids.toDF("cell", "centroid"))
    val q = assigned.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = q.crossJoin(centDf) // queries x centroids: bounded, broadcast
      .select(col("q_id"), col("q_emb"), col("cell"),
        cosine(col("q_emb"), col("centroid")).as("csim"))
    val probed = graft.plans.TopK.topKPerKey(
      probes, Seq("q_id"), Seq("csim" -> false, "cell" -> true), nProbe)
      .select("q_id", "q_emb", "cell")
    val scored = broadcast(probed)
      .join(assigned.select(col("cell"), col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    // result cache is CacheTracker-scoped: harness releases it after use
    val out = CacheTracker.cache(rankTopK(scored, k))
    out.count()
    assigned.unpersist() // release the cell-assignment cache once probed
    out
  }

  /** Deterministic KMeans-IVF twin (B7c) — what [[simhash_det]] is to
    * simhash: the same IVF structure as [[annIvfKmeans]] (coarse
    * quantizer cells, nProbe probing, cell-local cosine scan) with
    * MLlib's seed-bound fit replaced by [[kmeansLloyd]]'s deterministic
    * Lloyd machinery (init = the nCells lowest vec_ids' dim-slices,
    * index-order distance folds at 9 dp, ties to the lowest cluster,
    * exact-sum recentering), so every centroid — and
    * therefore every probe set and every result row — is reproducible
    * by the DuckDB oracle CTE-for-CTE.
    *
    * Scale posture is the IVF one: the corpus never shuffles — each
    * Lloyd round and the final assignment are one broadcast of the
    * (nCells×dims)-bounded centroid table against the cached vector
    * frame; probing broadcasts the (queries×nProbe)-bounded probe set;
    * only cell-matched corpus rows are scored. */
  def annIvfKmeansDet(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5,
                      nCells: Int = 8, nProbe: Int = 2, iters: Int = 2,
                      dims: Int = 16): DataFrame = {
    val (vecs, cent, assigned) = ivfDetParts(emb, nCells, iters, dims)
    val probed = ivfProbe(vecs, cent, maxQueryId)
      .filter(col("probe_rank") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cluster"))
    val scored = broadcast(probed)
      .join(assigned, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** 9 dp squared-L2 fold in index order — the IVF/Lloyd distance
    * discipline shared by fit, assignment, and probing. */
  private def sqDist(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 9)

  /** The deterministic IVF coarse quantizer shared by
    * [[annIvfKmeansDet]] and [[annNprobeSweep]]: the [[lloydFit]]
    * centroids, the cell-assigned corpus, and the cached vector frame.
    * Factored out so the sweep reuses ONE fit across probe widths
    * instead of re-running Lloyd per width. */
  private def ivfDetParts(emb: DataFrame, nCells: Int, iters: Int,
                          dims: Int): (DataFrame, Seq[Centroid], DataFrame) = {
    val vecs = CacheTracker.cache(
      emb.select(col("vec_id"), col("embedding"),
          expr(s"transform(slice(embedding, 1, $dims), x -> CAST(x AS DOUBLE))").as("e")))
    vecs.count()
    val cent = lloydFit(vecs, nCells, iters)
    val assigned = lloydAssign(vecs, cent)
      .select(col("cluster"), col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    (vecs, cent, assigned)
  }

  /** Query-side centroid probing: each query ranked against every FINAL
    * centroid (9 dp fold, ties to lowest cluster), ALL ranks kept so
    * callers slice `probe_rank <= p` for any probe width. */
  private def ivfProbe(vecs: DataFrame, cent: Seq[Centroid],
                       maxQueryId: Long): DataFrame = {
    val wq = Window.partitionBy("q_id").orderBy(col("qdist"), col("cluster"))
    vecs.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("e").as("q_e"),
        explode(typedLit(cent)).as("s"))
      .select(col("q_id"), col("q_emb"), col("s.cluster"),
        sqDist(col("q_e"), col("s.c")).as("qdist"))
      .withColumn("probe_rank", row_number().over(wq))
  }

  /** IVF nProbe tuning sweep (B237): recall@k of the deterministic
    * KMeans-IVF against exact brute-force top-k, at every probe width in
    * `probes` — the table an operator reads to pick nProbe before
    * committing an ANN index config to a 100 TB corpus (recall rises
    * with probe width, cost rises linearly with it; this quantifies the
    * trade on the actual data). ONE Lloyd fit and ONE all-centroid
    * probe ranking serve every width (the sweep only re-slices
    * `probe_rank <= p`), and the candidate scores are computed once at
    * the widest probe — per-width work is a filter + top-k + semi-join
    * on bounded frames. Output: one row per probe width with total
    * hits@k over the query set and mean recall. */
  def annNprobeSweep(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5,
                     nCells: Int = 8, iters: Int = 2, dims: Int = 16,
                     probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val (vecs, cent, assigned) = ivfDetParts(emb, nCells, iters, dims)
    val probed = ivfProbe(vecs, cent, maxQueryId)
      .filter(col("probe_rank") <= probes.max)
      .select(col("q_id"), col("q_emb"), col("probe_rank"), col("cluster"))
    // score once at the widest probe; each width slices by probe_rank.
    // localCheckpoint: three widths re-read this bounded candidate frame
    val scored = broadcast(probed)
      .join(assigned, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("probe_rank"), col("n_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
      .transform(CacheTracker.pin)
    val bf = annTopK(emb, maxQueryId, k)
      .select(col("q_id"), col("n_id")).transform(CacheTracker.pin)
    val nq = bf.agg(countDistinct(col("q_id")).as("n_queries"))
    val perWidth = probes.map { p =>
      val iv = rankTopK(
          scored.filter(col("probe_rank") <= p).select("q_id", "n_id", "cos"), k)
        .select(col("q_id"), col("n_id"))
      bf.join(iv, Seq("q_id", "n_id"), "left_semi")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_hits"))
        .select(lit(p.toLong).as("n_probe"), col("n_hits"))
    }.reduce(_ unionByName _)
    perWidth.crossJoin(broadcast(nq))
      .select(col("n_probe"), col("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / (col("n_queries") * k), 6)
          .as("recall"))
  }

  /** Per-label embedding centroids (B17): posexplode to (label, dim, x),
    * then the exact mean ([[Folds.exactSum]]) per (label, dim), one
    * partial-agg shuffle. */
  def embedCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"), col("x"))
      .groupBy("label", "dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(Folds.exactSum(col("x")) / count(lit(1)), 6).as("centroid"))

  /** SemDeDup-style semantic deduplication (B57): sign-LSH buckets stand
    * in for the k-means clusters of the paper (deterministic and
    * oracle-reproducible where k-means is seed-bound), each bucket keeps
    * its most central member — the vector with max cosine to the
    * bucket's dim-wise mean centroid — and reports how many semantic
    * duplicates it represents. Centroid means are exact sums (6 dp),
    * cosines fold in index order, ties break on vec_id, so the keeper
    * choice is bit-deterministic at any partitioning.
    *
    * Scale: one shuffle to the bounded bucket key for centroids, one
    * broadcast-sized centroid join back, one TopK-style rank per bucket.
    * Nothing touches a pair space. */
  def semanticDedup(emb: DataFrame, bits: Int = 8): DataFrame = {
    val b = CacheTracker.cache(
      emb.select(col("vec_id"), col("embedding"),
          signBucket(col("embedding"), bits).as("bucket")))
    b.count()
    val cent = b
      .select(col("bucket"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("bucket", "pos")
      .agg(round(Folds.exactSum(col("x")) / count(lit(1)), 6).as("c"))
      .groupBy("bucket")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
    val scored = b.join(cent, "bucket")
      .select(col("bucket"), col("vec_id"),
        round(cosineDeclarative(col("embedding"), col("centroid")), 6)
          .as("cos_centroid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("cos_centroid").desc, col("vec_id"))
    val n = b.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(n, "bucket")
      .select(col("bucket"), col("vec_id").as("keeper_id"), col("n_vecs"),
        col("cos_centroid"))
  }

  /** Sparse TF-IDF cosine document-similarity join (B21): the text-side
    * similarity search, dual of the dense-embedding ANN. Pairs
    * materialize ONLY through the shared-token inverted join within a
    * block — documents sharing no token never meet; at 100 TB the block
    * key is an LSH band and ultra-frequent tokens are df-pruned before
    * the join (prefix filtering), both of which bound the pair space.
    * Per-doc norms are exact sums ([[Folds.exactSum]]), so every double
    * is partition-independent. */
  def docSimilarity(docs: DataFrame, blockCol: String = "source",
                    simMin: Double = 0.8): DataFrame = {
    // the weighted frame feeds three subtrees (norms + both join sides):
    // cache it so the TF-IDF pipeline runs once, not three times — the
    // cache is CacheTracker-scoped, released by the harness after use.
    // Materialize eagerly: concurrently-scheduled stages over a
    // not-yet-populated cache would each recompute the pipeline.
    val w = CacheTracker.cache(
      TfIdf.tfidf(docs)
        .join(docs.select(col("doc_id"), col(blockCol).as("blk")), "doc_id")
        .select(col("doc_id"), col("blk"), col("token"), col("tfidf")))
    w.count()
    val norms = w.groupBy("doc_id")
      .agg(sqrt(Folds.exactSum(col("tfidf") * col("tfidf"))).as("nrm"))
    val ids = w.select(col("blk"), col("token"), col("doc_id"))
    val cands = ids.select(col("blk"), col("token"), col("doc_id").as("a_id"))
      .join(ids.select(col("blk"), col("token"), col("doc_id").as("b_id")),
        Seq("blk", "token"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    scorePairs(cands, w, norms, simMin)
  }

  /** Exact cosine rescore of candidate (a_id, b_id) pairs against the
    * (doc_id, token, tfidf) weight frame. Each doc's weights collapse to
    * one token-sorted entry array; the dot is graft_sorted_dot's native
    * merge scan — matched products summed in ascending token order,
    * bit-identical to the previous interpreted map fold (an absent token
    * contributed an exact ±0.0 there, an IEEE no-op) and therefore to
    * the oracle's shared-token fold. The shuffle carries only narrow
    * pair keys plus one bounded array per doc — never the exploded
    * per-(pair, token) product stream, whose ObjectHashAggregate was the
    * dominant cost of the original shape; the native expression then
    * removes the per-entry lambda interpretation + map probe that
    * dominated the second. */
  private def scorePairs(cands: DataFrame, w: DataFrame, norms: DataFrame,
                         simMin: Double): DataFrame = {
    val docArr = w.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("tfidf"))))
        .as("warr"))
    val dots = cands
      .join(docArr.select(col("doc_id").as("a_id"), col("warr").as("a_arr")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("warr").as("b_arr")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.GraftFunctions.sortedDot(col("a_arr"), col("b_arr")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("a_id"), col("nrm").as("a_nrm")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("nrm").as("b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
        // a zero-norm doc has no direction (an all-identical corpus
        // zeroes every IDF, hence every tfidf): NULL cosine — the pair
        // then fails the >= simMin filter — never an ANSI
        // divide-by-zero throw
        round(when(col("a_nrm") * col("b_nrm") > 0,
          col("dot") / (col("a_nrm") * col("b_nrm"))), 6).as("cos"))
      .filter(col("cos") >= simMin)
  }

  /** Matryoshka truncation-fidelity audit (B299): for the deterministic
    * (even vec, successor) pair set — one equi-join on vec_id+1, never a
    * bucketed self-join — the pairwise cosine at FULL dimensionality vs
    * at the first `prefixDims` prefix (re-normalized, which is what
    * serving a truncated MRL embedding does), plus |delta|. The audit
    * answers "can this index serve half-width vectors" BEFORE a 100 TB
    * re-embed: if abs_delta concentrates near 0 the prefix preserves
    * geometry. Cosines go through the codegen'd [[graft.functions
    * .GraftFunctions.cosine]] native expression (array-order double
    * accumulation — the same fold order DuckDB's list_reduce replays);
    * a zero-norm side (dead prefix) yields NULL, never NaN, matching
    * DuckDB's non-IEEE x/0 → NULL. */
  def embedTruncationFidelity(emb: DataFrame, prefixDims: Int = 32): DataFrame = {
    val nativeCos = graft.functions.GraftFunctions.cosine _
    val a = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = emb.select((col("vec_id") - 1).as("a_id"), col("embedding").as("eb"))
    val cf = nativeCos(col("ea"), col("eb"))
    val cp = nativeCos(slice(col("ea"), 1, prefixDims), slice(col("eb"), 1, prefixDims))
    a.join(b, "a_id")
      .select(col("a_id"), (col("a_id") + 1).as("b_id"),
        round(when(isnan(cf), lit(null)).otherwise(cf), 6).as("cos_full"),
        round(when(isnan(cp), lit(null)).otherwise(cp), 6).as("cos_prefix"))
      .withColumn("abs_delta", round(abs(col("cos_full") - col("cos_prefix")), 6))
  }

  /** Int8 scalar quantization (B30): per-vector symmetric quantization to
    * [-127, 127] — the 4× memory/bandwidth reduction an ANN index applies
    * before distance computation at scale. scale = 127/max|x|;
    * q = floor(x·scale + 0.5) (explicit floor-of-shifted instead of
    * round() so Spark and DuckDB resolve .5 boundaries identically).
    * Purely narrow per-row work; the quantized list is emitted as a csv
    * string to keep the comparison scalar-typed. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    // _scale is projected FIRST so the quantizing lambda references a
    // bound attribute — an unbound expression inside a HOF lambda
    // re-evaluates the whole array_max per element
    emb.select(col("vec_id"), col("label"), col("embedding"),
        when(mx > 0, lit(127.0) / mx).otherwise(lit(0.0)).as("_scale"))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("n_dims"),
        round(col("_scale"), 6).as("scale"),
        concat_ws(",",
          transform(col("embedding"),
            x => floor(x.cast("double") * col("_scale") + 0.5).cast("long").cast("string")))
          .as("q_csv"))
  }

  /** Prefix-filtered similarity join (B43): the df-pruned candidate path
    * [[docSimilarity]]'s scaladoc promises for 100 TB. Candidate pairs
    * materialize ONLY through shared RARE tokens (df <= maxDfFrac·N) —
    * ultra-frequent tokens, whose dense posting lists drive the
    * quadratic-in-block cost of the exact join, generate no candidates —
    * then each candidate pair is rescored EXACTLY over its full weight
    * vectors. Recall trade, stated: a pair sharing only frequent tokens
    * is missed; with Zipfian vocabularies such pairs have near-floor
    * cosine anyway (bench/ZipfCheck.scala measures the gate 3.8× faster
    * there at full recall). ADAPTIVE BYPASS: when rare tokens carry less
    * than `bypassFloor` of all postings (a dense vocabulary — the regime
    * where the gate would gut recall while pruning nothing), the gate is
    * bypassed and the FULL shared-token result is returned, at measured
    * parity with [[docSimilarity]]. The branch is chosen by a one-row
    * statistics read (plan-time CBO); the oracle encodes the same rule.
    *
    * CONTRACT: that statistics read is an EAGER Spark job at DataFrame-
    * construction time — calling this method blocks the driver for one
    * small aggregate and the plan choice is frozen then. Batch-only by
    * design: it cannot be applied to a streaming frame, and callers that
    * only intend to build a plan still pay (and trigger) the stats job. */
  def docSimilarityPruned(docs: DataFrame, blockCol: String = "source",
                          simMin: Double = 0.8, maxDfFrac: Double = 0.5,
                          bypassFloor: Double = 0.05): DataFrame = {
    // PERSISTED — the one operator where the recompute-beats-persist
    // streak (doc_lang_coherence / source_overlap / rrf_fusion, BASELINE
    // r8-r9) does NOT transfer, because the eager stats read below is a
    // SEPARATE job and ReuseExchange only unifies subtrees within one
    // physical plan: unpersisted, the tokenize+tfidf chain runs ~4x (the
    // stats job plus three consumers in the main job). Round-10 A/B, solo
    // x3 reps at sf0.1: persist 4.9/6.0/5.8 s vs recompute
    // 12.0/12.1/11.6 s. A round-13 A/B rejected localCheckpoint here
    // (10.4 s vs ~4-6 s): truncating to a LogicalRDD erases the
    // InMemoryRelation's statistics, so downstream joins lose their
    // broadcast plans. Persist at MEMORY_AND_DISK already has NO
    // recompute path — memory-evicted blocks move to disk, they are not
    // dropped — so the round-12 official 60.3 s was the harness's
    // orphan-block bloat (fixed by CacheTracker.drainAll between
    // queries), not cache loss in this operator.
    val w = CacheTracker.cache(
      TfIdf.tfidf(docs)
        .join(docs.select(col("doc_id"), col(blockCol).as("blk")), "doc_id")
        .select(col("doc_id"), col("blk"), col("token"), col("tfidf")))
    w.count()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfs = w.select(col("token"), col("doc_id")).distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    // Adaptive strategy: the rare-token gate works when rare tokens
    // carry a real share of the postings (the Zipfian case — every
    // near-dup pair reaches the candidate join through a shared rare
    // token, and the head-token quadratic groups never enter it). When
    // rare tokens carry almost NOTHING (< bypassFloor of postings — the
    // dense-vocabulary case), the gate would gut recall while saving
    // nothing, so the prune is bypassed and the FULL shared-token result
    // is produced via the plan that fits dense data: a block self-join
    // over per-doc token sets. The selectivity is a one-row statistics
    // read off the already-persisted w — the plan-time cost-based choice
    // an engine's CBO makes, NOT a data collect. The oracle twin encodes
    // the same rule (candidates via rare tokens, widened to all tokens
    // below the floor); the bypass branch's block-pair candidates yield
    // the identical result because a pair sharing no token has dot 0.
    val sel = dfs.crossJoin(broadcast(nDocs))
      .agg(
        sum(when(col("df") <= col("n_docs") * maxDfFrac, col("df"))
          .otherwise(lit(0L))).as("rare_post"),
        sum(col("df")).as("all_post"))
      .select((col("rare_post").cast("double") / col("all_post"))
        .as("rare_frac"))
    val rareFrac = Option(sel.head().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(1.0) // empty corpus → 0/0 → null
    val norms = w.groupBy("doc_id")
      .agg(sqrt(Folds.exactSum(col("tfidf") * col("tfidf"))).as("nrm"))
    val cand =
      if (rareFrac < bypassFloor) {
        // Dense vocabulary (the measured worst case): the gate is
        // bypassed — candidates come from the SAME shared-token join
        // docSimilarity uses, over all tokens. Two tempting "dense
        // plans" were A/B'd SLOWER at sf0.1 and rejected: block
        // self-join carrying token-set arrays (12.4 s — row width beats
        // row count, the source_overlap lesson) and a narrow all-block-
        // pairs join with dot-0 filtering (17 s — rescoring unshared
        // pairs costs more than the token join's narrow intermediate).
        // The token join + distinct: 4.3 s for the same 622k candidates.
        val ids = w.select(col("blk"), col("token"), col("doc_id"))
        ids.select(col("blk"), col("token"), col("doc_id").as("a_id"))
          .join(ids.select(col("blk"), col("token"), col("doc_id").as("b_id")),
            Seq("blk", "token"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
      } else {
        // Zipfian corpus: candidates reachable only through rare tokens
        // (df <= N·maxDfFrac) — recall-exact, and the head-token
        // quadratic groups never enter the join (bench/ZipfCheck.scala
        // measures this 3.8× faster at 20k docs).
        val rare = dfs.crossJoin(broadcast(nDocs))
          .filter(col("df") <= col("n_docs") * maxDfFrac)
          .select("token")
        val rareW = w.join(rare, "token")
        rareW.select(col("blk"), col("token"), col("doc_id").as("a_id"))
          .join(rareW.select(col("blk"), col("token"), col("doc_id").as("b_id")),
            Seq("blk", "token"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
      }
    scorePairs(cand, w, norms, simMin)
  }

  /** Sign-LSH width that keeps EXPECTED bucket occupancy bounded as the
    * corpus grows: the smallest `bits ≥ floor` with n/2^bits ≤
    * targetPerBucket, capped at `cap` (the number of leading embedding
    * dimensions the axis-aligned planes may consume). A FIXED width is
    * the classic bucketed-but-not-scalable trap: 8 bits is 256 buckets
    * forever, so within-bucket all-pairs work is Θ(N²/256) — fine at
    * 2k vectors, quadratic death at 100×. Growing the width with N keeps
    * per-bucket pair work ≈ targetPerBucket·N/2 — linear in N. The floor
    * pins small-corpus behavior (and the DuckDB oracles, which encode
    * 8 bits at test scale): the width stays at the floor until
    * n ≥ (targetPerBucket+1)·2^floor — with the defaults, every
    * n ≤ 65791 returns 8, and widening starts at n = 65792 (the first
    * n with n >> 8 > 256). */
  def adaptiveSignBits(n: Long, floor: Int = 8, targetPerBucket: Long = 256L,
                       cap: Int = 16): Int = {
    var bits = floor
    while (bits < cap && (n >> bits) > targetPerBucket) bits += 1
    bits
  }

  /** B5: embedding-cosine near-duplicate pairs, sign-LSH blocked (same
    * bucket only — never all-pairs). `bits = 0` (the default) derives
    * the bucket width from the corpus size via [[adaptiveSignBits]] —
    * one eager metadata-count job, the docSimilarityPruned CBO-read
    * license, memoized per canonicalized plan in
    * [[graft.CacheTracker.cachedCount]] so a query invoking this twice
    * over the same frame pays it once —
    * so the blocking stays bounded at 100× while test-scale
    * results (n ≤ 65791 → 8 bits) are bit-identical to the fixed-width
    * oracles. Recall at wider widths degrades gracefully (each extra
    * bit is one more hyperplane a near-dup pair must agree on — the
    * standard LSH recall/cost dial, tunable via an explicit `bits`). */
  def nearDupPairs(emb: DataFrame, cosMin: Double = 0.8, bits: Int = 0): DataFrame = {
    val width = if (bits > 0) bits
      else adaptiveSignBits(graft.CacheTracker.cachedCount(emb))
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), width).as("bucket"))
    val a = bucketed.select(col("bucket"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("a_emb"), col("b_emb")), 6).as("cos"))
      .filter(col("cos") >= cosMin)
  }

  /** Embedding covariance matrix over the first `dims` dimensions (upper
    * triangle): the second-moment statistics a whitening / PCA pass over
    * an embedding corpus needs. Each row expands to its dims·(dims+1)/2
    * pair products NARROWLY (no self-join — the classic one-pass outer
    * product accumulation), then exact sums ([[Folds.exactSum]]) onto
    * the bounded (dim_i, dim_j) key space. Products of two float32
    * values are exact in double (24+24 < 53 mantissa bits), so the value
    * is bit-stable under any partitioning. cov = E[xy] − E[x]E[y],
    * rounded last. */
  def embedCovariance(emb: DataFrame, dims: Int = 8): DataFrame = {
    val cells = for (i <- 1 to dims; j <- i to dims) yield
      struct(lit(i.toLong).as("dim_i"), lit(j.toLong).as("dim_j"),
        element_at(col("embedding"), i).cast("double").as("x"),
        element_at(col("embedding"), j).cast("double").as("y"))
    val n = count(lit(1))
    emb
      .select(explode(array(cells: _*)).as("c"))
      .select(col("c.dim_i"), col("c.dim_j"), col("c.x"), col("c.y"))
      .groupBy("dim_i", "dim_j")
      .agg(
        n.as("n_vecs"),
        round(
          Folds.exactSum(col("x") * col("y")) / n
            - (Folds.exactSum(col("x")) / n) * (Folds.exactSum(col("y")) / n), 6).as("cov"))
  }

  /** Hard-negative mining for contrastive training (B45): for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the near-miss negatives that make a contrastive batch
    * informative. Same broadcast nested-loop shape as [[annTopK]] (tiny
    * query side, corpus streams); at 100 TB the corpus side would be the
    * IVF-pruned candidate set instead of the full scan. */
  def hardNegatives(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5): DataFrame = {
    val q = broadcast(
      emb.filter(col("vec_id") < maxQueryId)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb")))
    val scored = q.join(
        emb.select(col("vec_id").as("n_id"), col("label").as("n_label"),
          col("embedding").as("n_emb")),
        col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos"))
    val pruned = graft.plans.TopK.topKPerKey(
      scored, Seq("q_id"), Seq("cos" -> false, "n_id" -> true), k)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "q_label", "n_id", "n_label", "rnk", "cos")
  }

  /** Semantic outlier filter (B46): score every vector by cosine to its
    * own label's centroid and flag the bottom `outFrac` per label — the
    * embedding-space analogue of the quality percentile gate, catching
    * mislabeled or off-distribution examples before training. Centroids
    * (labels × dims, tiny) are built from the bit-stable
    * [[embedCentroids]] means and broadcast; scoring is then narrow.
    * The per-label rank is a window sort — at 100 TB the gate would use
    * the mergeable quantile sketch on the score instead. */
  def embedOutliers(emb: DataFrame, outFrac: Double = 0.1): DataFrame = {
    val centroids = embedCentroids(emb)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid")))).as("dc"))
      .select(col("label"), transform(col("dc"), x => x.getField("centroid")).as("c_emb"))
    val scored = emb
      .join(broadcast(centroids), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("c_emb")), 6).as("cos_centroid"))
    val w = Window.partitionBy("label").orderBy(col("cos_centroid"), col("vec_id"))
    val n = Window.partitionBy("label")
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_label", count(lit(1)).over(n))
      .select(col("vec_id"), col("label"), col("cos_centroid"),
        (col("rnk") <= greatest(lit(1), floor(col("n_label") * outFrac)))
          .as("is_outlier"))
  }

  /** Top principal component by power iteration (B69): 5 rounds of
    * v ← normalize(C·v) over the [[embedCovariance]] matrix — the
    * distributed-PCA building block (the covariance is the only pass
    * over the data; the iteration runs on the dims²-bounded matrix).
    * The mirrored full matrix is cached once; each round is one
    * matrix-vector join + one dim-keyed aggregate. Float discipline:
    * per-cell products round to 9 dp, per-dim sums are exact, and the
    * norm divides once per round. Output: per-dim loading of the dominant
    * eigenvector plus the final Rayleigh-norm eigenvalue estimate. */
  def pcaPower(emb: DataFrame, dims: Int = 8, iters: Int = 5): DataFrame = {
    val cu = embedCovariance(emb, dims).select("dim_i", "dim_j", "cov")
    val full = cu.unionByName(cu.filter(col("dim_i") =!= col("dim_j"))
      .select(col("dim_j").as("dim_i"), col("dim_i").as("dim_j"), col("cov")))
    val C = CacheTracker.cache(full)
    C.count()
    powerEigen(C, dims, iters)
      .select(col("dim"), col("v").as("loading"), col("eig"))
  }

  /** The power-iteration core shared by [[pcaPower]] and
    * [[pcaExplained]]: `iters` rounds of v ← Cv / ‖Cv‖ from the uniform
    * start, 9 dp terms and exact sums throughout; returns (dim, v,
    * eig) with eig = the final ‖Cv‖ Rayleigh estimate. */
  private def powerEigen(C: DataFrame, dims: Int, iters: Int): DataFrame = {
    val spark = C.sparkSession
    // the norm is a full-frame window fold over the dims-sized vector —
    // one stage per round and a single reference to w; the
    // single-partition window is dims-bounded. Each round's dims-row v
    // is localCheckpoint'd (the bradley_terry discipline): consumers
    // reference v1 several times (deflation joins on dim_i AND dim_j,
    // plus the eigenvalue readout), and unpinned that re-analyzed and
    // re-ran the whole iter-deep DAG per reference — measured 4.0 s of
    // build time on pca_explained at sf0.1 vs ~1 s pinned.
    val wFull = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var v: DataFrame = spark.range(1, dims + 1)
      .select(col("id").as("dim"), (lit(1.0) / sqrt(lit(dims.toDouble))).as("v"),
        lit(0.0).as("eig"))
    for (_ <- 1 to iters) {
      val w = C.join(v.select(col("dim"), col("v")), C("dim_j") === col("dim"))
        .select(col("dim_i"), round(col("cov") * col("v"), 9).as("c"))
        .groupBy(col("dim_i"))
        .agg(round(Folds.exactSum(col("c")), 9).as("w"))
      val nrm = round(sqrt(Folds.exactSum(col("w") * col("w")).over(wFull)), 9)
      // a zero iterate (all-constant embeddings → zero covariance)
      // normalizes to the zero vector with eig 0 — never an ANSI
      // divide-by-zero throw
      v = w.select(col("dim_i").as("dim"),
        when(nrm =!= 0.0, round(col("w") / nrm, 9)).otherwise(lit(0.0)).as("v"),
        nrm.as("eig"))
        .transform(CacheTracker.pin)
    }
    v
  }

  /** Top-2 explained variance via deflated power iteration (B186): how
    * much of the embedding's variance the first two principal
    * components carry — the "is this embedding space effectively
    * low-rank" health check ([[pcaPower]] gives the direction; this
    * gives the spectrum mass). λ₁ from the first power run, then the
    * classic deflation C₂ = C − λ₁v₁v₁ᵀ (9 dp, mirrored term order)
    * and a second run for λ₂; ratios against the exact covariance
    * trace. Every frame past the one covariance aggregate is
    * dims²-bounded. */
  def pcaExplained(emb: DataFrame, dims: Int = 8, iters: Int = 5): DataFrame = {
    val (c, v1, v2) = deflatedEigenPair(emb, dims, iters)
    val C = c
    val tr = C.filter(col("dim_i") === col("dim_j"))
      .agg(round(Folds.exactSum(col("cov")), 9).as("trace"))
    val e1 = v1.agg(max(col("eig")).as("eigenvalue"))
      .select(lit(1).as("component"), col("eigenvalue"))
    val e2 = v2.agg(max(col("eig")).as("eigenvalue"))
      .select(lit(2).as("component"), col("eigenvalue"))
    e1.union(e2).crossJoin(broadcast(tr))
      .select(col("component"), col("eigenvalue"), col("trace"),
        when(col("trace") > 0, round(col("eigenvalue") / col("trace"), 6))
          .otherwise(lit(0.0)).as("explained_ratio"))
  }

  /** The mirrored covariance matrix + (v₁, deflated v₂) pair shared by
    * [[pcaExplained]] and [[embedPcaProject]] — factored so the
    * spectrum readout and the projection can never drift. Returns
    * (C cached, v1 cached, v2); C and v1 register with CacheTracker. */
  private def deflatedEigenPair(emb: DataFrame, dims: Int,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val cu = embedCovariance(emb, dims).select("dim_i", "dim_j", "cov")
    val full = cu.unionByName(cu.filter(col("dim_i") =!= col("dim_j"))
      .select(col("dim_j").as("dim_i"), col("dim_i").as("dim_j"), col("cov")))
    val C = CacheTracker.cache(full)
    C.count()
    // already a materialized LogicalRDD (powerEigen checkpoints rounds)
    val v1 = powerEigen(C, dims, iters)
    val c2 = C
      .join(v1.select(col("dim").as("dim_i"), col("v").as("vi"), col("eig")),
        "dim_i")
      .join(v1.select(col("dim").as("dim_j"), col("v").as("vj")), "dim_j")
      .select(col("dim_i"), col("dim_j"),
        round(col("cov") - col("eig") * col("vi") * col("vj"), 9).as("cov"))
    (C, v1, powerEigen(c2, dims, iters))
  }

  /** Per-vector projection onto the top-2 deflated power-iteration
    * components (B205): the 2-D coordinates a corpus-map / scatter
    * visualization or a cheap spectral filter needs, from the SAME
    * eigenvectors [[pcaExplained]] reports on. p_k(x) = Σ_d x_d·v_k,d
    * over the first `dims` dimensions (9 dp-rounded terms, exact sum,
    * 6 dp result). The eigen machinery is dims²-bounded after one
    * covariance pass; the projection is one narrow explode + a
    * broadcast join of the 2×dims loadings — linear in the corpus. */
  def embedPcaProject(emb: DataFrame, dims: Int = 8, iters: Int = 5): DataFrame = {
    val (_, v1, v2) = deflatedEigenPair(emb, dims, iters)
    // v2 needs no pin: it is referenced exactly once (the p2 projection)
    // and its lineage bottoms out on the cached C and v1
    val x = emb.select(col("vec_id"),
        explode(array((1 to dims).map(i => struct(lit(i.toLong).as("dim"),
          element_at(col("embedding"), i).cast("double").as("x"))): _*)).as("c"))
      .select(col("vec_id"), col("c.dim"), col("c.x"))
    def proj(v: DataFrame, name: String): DataFrame =
      x.join(broadcast(v.select(col("dim"), col("v"))), "dim")
        .groupBy("vec_id")
        .agg(round(Folds.exactSum(round(col("x") * col("v"), 9)), 6).as(name))
    proj(v1, "p1").join(proj(v2, "p2"), "vec_id")
  }

  /** One Lloyd centroid: cluster id and centroid vector (null when the
    * initial vector is null), as a driver-side value. */
  private final case class Centroid(cluster: Long, c: Option[Seq[Option[Double]]])

  /** Deterministic Lloyd fit shared by [[kmeansLloyd]],
    * [[kmeansSilhouette]] and the IVF quantizer ([[ivfDetParts]]): init
    * is the k lowest vec_ids' vectors, each round assigns every vector to
    * its nearest centroid ([[lloydAssign]]) and recenters with the
    * exact per-dim means ([[recenter]]). `vecs` holds (vec_id, e) and
    * is cached by the caller: it is read once per round.
    *
    * The k×dims centroids live on the driver between rounds, so a round
    * is one narrow projection plus one collect of two aggregations —
    * no join, window or checkpoint, and the plan of a round does not
    * embed the rounds before it. */
  private def lloydFit(vecs: DataFrame, k: Int, iters: Int): Seq[Centroid] = {
    val init = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long").as("cluster"), col("e").as("c"))
    (1 to iters).foldLeft(collectCentroids(init)) { (cent, _) =>
      recenter(lloydAssign(vecs, cent))
    }
  }

  private def collectCentroids(df: DataFrame): Seq[Centroid] =
    df.collect().toSeq.map { r =>
      Centroid(r.getLong(0),
        Option(r.getSeq[java.lang.Double](1)).map(_.map(x => Option(x).map(_.doubleValue))))
    }.sortBy(_.cluster)

  /** `vecs` plus each vector's nearest centroid (`cluster`) and its 9 dp
    * squared-L2 distance (`dist`). The minimum is taken by (dist,
    * cluster) in sort order — a null distance first, NaN last, ties to the
    * lowest cluster — so it is the row_number-over-window pick without
    * the window. With no centroids there is no row. */
  private def lloydAssign(vecs: DataFrame, cent: Seq[Centroid]): DataFrame =
    vecs.withColumn("nearest", array_min(transform(typedLit(cent), c =>
        struct(sqDist(col("e"), c.getField("c")).as("dist"), c.getField("cluster").as("cluster")))))
      .filter(col("nearest").isNotNull)
      .withColumn("cluster", col("nearest.cluster"))
      .withColumn("dist", col("nearest.dist"))
      .drop("nearest")

  /** Lloyd recentering: the per-position mean of each cluster's vectors,
    * an exact sum over the count at 9 dp, collected into one vector per
    * cluster. A null value counts but adds nothing; a cluster with no
    * values drops out. */
  private def recenter(assigned: DataFrame): Seq[Centroid] =
    assigned.select(col("cluster"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(Folds.exactSum(col("x")) / count(lit(1)), 9).as("cm"))
      .collect().toSeq
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (cluster, ms) =>
        Centroid(cluster, Some(ms.sortBy(_.getInt(1)).map(m => Some(m.getDouble(2)))))
      }

  /** Oracle-checkable Lloyd's k-means (B70): deterministic where MLlib's
    * KMeans is seed-bound — init is the k lowest vec_ids, every
    * squared-L2 distance folds the dimension axis in INDEX order (9 dp),
    * assignment ties break on cluster id, and centroid means are exact
    * per-dim sums ([[lloydFit]]). Three unrolled iterations plus the
    * final assignment mirror the DuckDB twin.
    *
    * Scale: the vector frame is checkpointed once; each round projects
    * it against the k×dims centroids held on the driver (no shuffle of
    * the data), plus one (k·dims)-bounded aggregate. Exactly the
    * distributed Lloyd step — what changes at 100 TB is only the number
    * of partitions the projection runs over. */
  def kmeansLloyd(emb: DataFrame, k: Int = 4, dims: Int = 8,
                  iters: Int = 3): DataFrame = {
    val vecs = emb.select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $dims), x -> CAST(x AS DOUBLE))").as("e"))
      .transform(CacheTracker.pin)
    lloydAssign(vecs, lloydFit(vecs, k, iters))
      .select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))
  }

  /** External cluster validity (B250): purity and NMI of the
    * deterministic Lloyd assignment against the embeddings' ground-truth
    * labels — where [[kmeansSilhouette]] grades geometry (internal
    * validity), this grades AGREEMENT with the labels the clustering is
    * supposed to recover; the pair is the standard before/after readout
    * of any embedding or clustering change. Purity = Σ_c max_l n_cl / N;
    * NMI = I(C;L)/√(H(C)·H(L)). Every count is exact off one
    * (cluster × label) contingency aggregate (k·|labels|-bounded);
    * entropies and MI are exact sums of 6 dp-rounded terms;
    * degenerate entropies (one cluster or one label)
    * yield NULL NMI, not NaN. */
  def clusterPurity(emb: DataFrame, k: Int = 4, dims: Int = 8,
                    iters: Int = 3): DataFrame = {
    val assigns = kmeansLloyd(emb, k, dims, iters).select("vec_id", "cluster")
    val cells = assigns
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n_cl"))
    val n = cells.agg(sum(col("n_cl")).as("n")).select(col("n"))
    val best = cells.groupBy("cluster").agg(max(col("n_cl")).as("n_best"))
      .agg(sum(col("n_best")).as("sum_best"))
    def entropyOf(key: String): DataFrame = cells
      .groupBy(key).agg(sum(col("n_cl")).as("n_k"))
      .crossJoin(broadcast(n))
      .select(col(key),
        round(-(col("n_k").cast("double") / col("n"))
          * log(col("n_k").cast("double") / col("n")), 6).as("term"))
      .agg(Folds.exactSum(col("term")).as(s"h_$key"))
    val mi = cells.crossJoin(broadcast(n))
      .join(broadcast(cells.groupBy("cluster").agg(sum(col("n_cl")).as("n_c"))),
        "cluster")
      .join(broadcast(cells.groupBy("label").agg(sum(col("n_cl")).as("n_l"))),
        "label")
      .select(round((col("n_cl").cast("double") / col("n"))
        * log(col("n").cast("double") * col("n_cl")
          / (col("n_c").cast("double") * col("n_l"))), 6).as("term"))
      .agg(Folds.exactSum(col("term")).as("mi"))
    best.crossJoin(broadcast(n)).crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropyOf("cluster")))
      .crossJoin(broadcast(entropyOf("label")))
      .select(col("n").as("n_vecs"),
        round(col("sum_best").cast("double") / col("n"), 6).as("purity"),
        round(when(col("h_cluster") > 0.0 && col("h_label") > 0.0,
          col("mi") / sqrt(col("h_cluster") * col("h_label"))), 6).as("nmi"))
  }

  /** V-measure (B282, Rosenberg & Hirschberg 2007): homogeneity /
    * completeness / their harmonic mean over the deterministic Lloyd
    * assignment vs labels — the DIAGNOSTIC split [[clusterPurity]]'s
    * single NMI hides: homogeneity = MI/H(label) falls when a cluster
    * mixes labels, completeness = MI/H(cluster) falls when a label
    * splits across clusters, and which one is low says whether k is too
    * small or too large. Same exact contingency + 6 dp exact-sum
    * entropy/MI machinery as clusterPurity (cells are k·|labels|-
    * bounded); degenerate entropies yield NULL for that component and
    * for V. */
  def vMeasure(emb: DataFrame, k: Int = 4, dims: Int = 8,
               iters: Int = 3): DataFrame = {
    val assigns = kmeansLloyd(emb, k, dims, iters).select("vec_id", "cluster")
    val cells = assigns
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n_cl"))
    val n = cells.agg(sum(col("n_cl")).as("n"))
    def entropyOf(key: String): DataFrame = cells
      .groupBy(key).agg(sum(col("n_cl")).as("n_k"))
      .crossJoin(broadcast(n))
      .select(col(key),
        round(-(col("n_k").cast("double") / col("n"))
          * log(col("n_k").cast("double") / col("n")), 6).as("term"))
      .agg(Folds.exactSum(col("term")).as(s"h_$key"))
    val mi = cells.crossJoin(broadcast(n))
      .join(broadcast(cells.groupBy("cluster").agg(sum(col("n_cl")).as("n_c"))),
        "cluster")
      .join(broadcast(cells.groupBy("label").agg(sum(col("n_cl")).as("n_l"))),
        "label")
      .select(round((col("n_cl").cast("double") / col("n"))
        * log(col("n").cast("double") * col("n_cl")
          / (col("n_c").cast("double") * col("n_l"))), 6).as("term"))
      .agg(Folds.exactSum(col("term")).as("mi"))
    val homog = when(col("h_label") > 0.0, col("mi") / col("h_label"))
    val compl = when(col("h_cluster") > 0.0, col("mi") / col("h_cluster"))
    broadcast(n).crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropyOf("cluster")))
      .crossJoin(broadcast(entropyOf("label")))
      .select(col("n").as("n_vecs"),
        round(col("mi"), 6).as("mi"),
        round(homog, 6).as("homogeneity"),
        round(compl, 6).as("completeness"),
        round(when(homog + compl > 0.0, lit(2.0) * homog * compl / (homog + compl)), 6)
          .as("v_measure"))
  }

  /** Adjusted Rand index (B275, Hubert & Arabie 1985): chance-corrected
    * pair-counting agreement between the deterministic Lloyd assignment
    * and the ground-truth labels — the third leg of the external-validity
    * readout next to [[clusterPurity]]'s purity (majority overlap) and
    * NMI (information): purity rewards many tiny clusters and NMI is
    * entropy-scaled, while ARI is exactly 0 in expectation under random
    * labeling and 1 only on a perfect match, so it is the number to
    * compare ACROSS k. Every term is a pair count off the one
    * (cluster × label) contingency aggregate: index = Σ_ij C(n_ij,2),
    * expected = Σ_i C(a_i,2)·Σ_j C(b_j,2)/C(n,2), max = their mean —
    * all exact BIGINTs (the a·b cross product goes through
    * DECIMAL(38,0): at n=10⁹ each factor is ~5·10¹⁷, so the long
    * product would overflow); the only float is the final ratio.
    * Degenerate partitions (max = expected, e.g. one cluster AND one
    * label) yield NULL, not NaN. */
  def adjustedRand(emb: DataFrame, k: Int = 4, dims: Int = 8,
                   iters: Int = 3): DataFrame = {
    val assigns = kmeansLloyd(emb, k, dims, iters).select("vec_id", "cluster")
    val cells = assigns
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n_cl"))
    // true integral divide (Spark's / on longs is double division, which
    // both changes the schema to DOUBLE and goes inexact past 2^53)
    def comb2(c: Column): Column = Ranks.idiv(c * (c - 1), lit(2L))
    val n = cells.agg(sum(col("n_cl")).as("n"))
    val idx = cells.agg(sum(comb2(col("n_cl"))).as("index_sum"))
    val a = cells.groupBy("cluster").agg(sum(col("n_cl")).as("n_c"))
      .agg(sum(comb2(col("n_c"))).as("comb_a"))
    val b = cells.groupBy("label").agg(sum(col("n_cl")).as("n_l"))
      .agg(sum(comb2(col("n_l"))).as("comb_b"))
    val expected = (col("comb_a").cast("decimal(38,0)")
      * col("comb_b").cast("decimal(38,0)")).cast("double") /
      comb2(col("n")).cast("double")
    val maxIdx = (col("comb_a") + col("comb_b")).cast("double") / 2.0
    idx.crossJoin(broadcast(n)).crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("n").as("n_vecs"), col("index_sum"), col("comb_a"),
        col("comb_b"), round(expected, 6).as("expected_index"),
        round(when(maxIdx =!= expected,
          (col("index_sum").cast("double") - expected) / (maxIdx - expected)), 6)
          .as("ari"))
  }

  /** Unbiased linear-kernel MMD² between label groups (B291): the
    * two-sample "did the embedding distribution move" test — for the
    * linear kernel, MMD² reduces to closed form over per-group vector
    * sums S and squared-norm sums Q:
    * (|Sa|²−Qa)/(nₐ(nₐ−1)) + (|Sb|²−Qb)/(n_b(n_b−1)) − 2·Sa·Sb/(nₐn_b)
    * — i.e. an UNBIASED ||μa − μb||² (the naive mean-distance² is
    * biased upward by within-group variance/n, which this subtracts
    * exactly). Reads beside [[embedLabelDrift]]'s split-half cosine:
    * that one grades stability of ONE group, this one distance BETWEEN
    * groups. Per-(label, dim) sums and per-label norm sums are 9 dp
    * exact sums; the pair grid and dot products
    * are (labels × dims)-bounded. */
  def embedMmd(emb: DataFrame, dims: Int = 8): DataFrame = {
    val base = emb.select(col("label").cast("long").as("label"), col("vec_id"),
      posexplode(expr(
        s"transform(slice(embedding, 1, $dims), x -> CAST(x AS DOUBLE))"))
        .as(Seq("pos", "x")))
    val sums = base.groupBy("label", "pos")
      .agg(round(Folds.exactSum(round(col("x"), 9)), 9).as("s"))
    val qn = base.groupBy("label")
      .agg(round(Folds.exactSum(round(col("x") * col("x"), 9)), 9).as("q"))
    val counts = emb.select(col("label").cast("long").as("label"))
      .groupBy("label").agg(count(lit(1)).as("n"))
    val perLabel = counts.join(qn, "label")
    val dots = sums.select(col("label").as("label_a"), col("pos"), col("s").as("sa"))
      .join(sums.select(col("label").as("label_b"), col("pos"), col("s").as("sb_")),
        "pos")
      .filter(col("label_a") <= col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(Folds.exactSum(round(col("sa") * col("sb_"), 9)).as("dot"))
    val self = dots.filter(col("label_a") === col("label_b"))
      .select(col("label_a").as("label"), col("dot").as("s2"))
    val stats = perLabel.join(self, "label")
    val pairs = dots.filter(col("label_a") < col("label_b"))
      .join(broadcast(stats.select(col("label").as("label_a"), col("n").as("n_a"),
        col("q").as("q_a"), col("s2").as("s2_a"))), "label_a")
      .join(broadcast(stats.select(col("label").as("label_b"), col("n").as("n_b"),
        col("q").as("q_b"), col("s2").as("s2_b"))), "label_b")
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    // the unbiased estimator's n(n-1) divisor is undefined for a
    // singleton label: drop the pair (never an ANSI divide-by-zero
    // throw); real corpora never have one-member labels, so the oracle
    // mirrors the same n > 1 guard with no hash effect
    pairs.filter(col("n_a") > 1 && col("n_b") > 1)
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
      round((col("s2_a") - col("q_a")) / (na * (na - 1.0))
        + (col("s2_b") - col("q_b")) / (nb * (nb - 1.0))
        - lit(2.0) * col("dot") / (na * nb), 6).as("mmd2"))
  }

  /** Embedding stability audit (B254): per label, the cosine between
    * the centroids of the two vec_id-parity halves — a split-half
    * reliability check: if re-embedding half the data moves a label's
    * centroid (cos ≪ 1), downstream centroid classifiers and IVF cells
    * are unstable and any drift alarm keyed on centroids will be
    * noisy. Centroids are 9 dp exact means per (label, half, dim); the
    * cosine sums 9 dp terms exactly — all bounded
    * frames after one corpus aggregate. */
  def embedLabelDrift(emb: DataFrame, dims: Int = 8): DataFrame = {
    val base = emb.select(col("label").cast("long").as("label"),
        (col("vec_id") % 2).as("half"), col("vec_id"),
        posexplode(expr(
          s"transform(slice(embedding, 1, $dims), x -> CAST(x AS DOUBLE))"))
          .as(Seq("pos", "x")))
    val cent = base.groupBy("label", "half", "pos")
      .agg(count(lit(1)).as("n"),
        round(Folds.exactSum(col("x")) / count(lit(1)), 9).as("c"))
    val c0 = cent.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("c").as("c0"), col("n").as("rows0"))
    val c1 = cent.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("c").as("c1"), col("n").as("rows1"))
    c0.join(c1, Seq("label", "pos"))
      .groupBy("label")
      .agg(max(col("rows0")).as("n_half0"), max(col("rows1")).as("n_half1"),
        Folds.exactSum(round(col("c0") * col("c1"), 9)).as("td"),
        Folds.exactSum(round(col("c0") * col("c0"), 9)).as("t0"),
        Folds.exactSum(round(col("c1") * col("c1"), 9)).as("t1"))
      .select(col("label"), col("n_half0"), col("n_half1"),
        round(col("td") / (sqrt(col("t0")) * sqrt(col("t1"))), 6).as("drift_cos"))
  }

  /** Embedding-dimension correlation audit (B198): the full Pearson
    * correlation matrix over the first `dims` dims (normalized
    * [[embedCovariance]]), flagging |corr| ≥ `redundant` pairs — the
    * "are we paying for dimensions that carry the same signal"
    * readout that sizes a PCA/PQ compression before committing to it.
    * Everything past the one covariance aggregate is dims²-bounded;
    * corr rounds at 6 dp off the 6 dp covariance terms. */
  def embedDimCorr(emb: DataFrame, dims: Int = 8,
                   redundant: Double = 0.95): DataFrame = {
    val cu = embedCovariance(emb, dims).select("dim_i", "dim_j", "cov")
    val sd = cu.filter(col("dim_i") === col("dim_j"))
      .select(col("dim_i").as("dim"), sqrt(col("cov")).as("sd"))
    cu.filter(col("dim_i") < col("dim_j"))
      .join(broadcast(sd.select(col("dim").as("dim_i"), col("sd").as("sd_i"))),
        "dim_i")
      .join(broadcast(sd.select(col("dim").as("dim_j"), col("sd").as("sd_j"))),
        "dim_j")
      .select(col("dim_i"), col("dim_j"),
        when(col("sd_i") * col("sd_j") > 0,
          round(col("cov") / (col("sd_i") * col("sd_j")), 6))
          .otherwise(lit(0.0)).as("corr"))
      .withColumn("redundant", abs(col("corr")) >= redundant)
  }

  /** Centroid silhouette of the Lloyd clustering (B193): the
    * clustering-quality eval the kmeans family was missing — per
    * cluster, the mean simplified silhouette (b−a)/max(a,b) with a =
    * Euclidean distance to the OWN final centroid and b = distance to
    * the nearest OTHER centroid (the O(n·k) centroid variant, the
    * standard scale substitute for the O(n²) pairwise silhouette).
    * Same init/fold/tie discipline as [[kmeansLloyd]]; per-vector
    * silhouettes convert to exact micro-units before the cluster mean
    * so corpus-sized groups never fold raw doubles. */
  def kmeansSilhouette(emb: DataFrame, k: Int = 4, dims: Int = 8,
                       iters: Int = 3): DataFrame = {
    val vecs = CacheTracker.cache(
      emb.select(col("vec_id"),
          expr(s"transform(slice(embedding, 1, $dims), x -> CAST(x AS DOUBLE))").as("e")))
    vecs.count()
    val cent = lloydFit(vecs, k, iters)
    // a = distance to the own centroid, b = the nearest other one (array_min
    // skips nulls and ranks NaN last, as min does)
    lloydAssign(vecs, cent)
      .select(col("cluster").as("own_cluster"),
        round(sqrt(col("dist")), 9).as("a"),
        array_min(transform(
          filter(typedLit(cent), c => c.getField("cluster") =!= col("cluster")),
          c => round(sqrt(sqDist(col("e"), c.getField("c"))), 9))).as("b"))
      .select(col("own_cluster"),
        when(greatest(col("a"), col("b")) > 0,
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
          .otherwise(lit(0.0)).as("s"))
      .groupBy(col("own_cluster").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(expr("CAST(round(s * 1000000) AS BIGINT)")).cast("double")
          / count(lit(1)) / 1000000.0, 6).as("mean_silhouette"))
  }

  /** Per-document topical coherence (B97): cosine between a document's
    * sparse TF-IDF vector and its LANGUAGE's centroid vector — the
    * sparse-space twin of [[embedOutliers]]' dense gate, usable before
    * any embedding model exists. Centroids divide exact sums by the
    * full language population (absent tokens are true zeros), live on
    * the vocab-bounded (lang, token) frame, and broadcast; per-doc dot
    * products and norms are exact sums of 9 dp-rounded terms, so the
    * score is partition-independent. */
  def docLangCoherence(docs: DataFrame): DataFrame = {
    val w = TfIdf.tfidf(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val nl = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val cent = w.groupBy("lang", "token")
      .agg(Folds.exactSum(col("tfidf")).as("s"))
      .join(broadcast(nl), "lang")
      .select(col("lang"), col("token"), round(col("s") / col("n_l"), 9).as("c"))
    val cnorm = cent.groupBy("lang")
      .agg(sqrt(Folds.exactSum(round(col("c") * col("c"), 9))).as("c_nrm"))
    val dots = w.join(broadcast(cent), Seq("lang", "token"))
      .groupBy("doc_id", "lang")
      .agg(Folds.exactSum(round(col("tfidf") * col("c"), 9)).as("dot"),
        sqrt(Folds.exactSum(round(col("tfidf") * col("tfidf"), 9))).as("d_nrm"))
    dots.join(broadcast(cnorm), "lang")
      .select(col("doc_id"), col("lang"),
        round(col("dot") / (col("d_nrm") * col("c_nrm")), 6).as("coherence"))
  }

  /** Rocchio nearest-centroid language classifier (B98): predict each
    * document's language as the TF-IDF centroid it is most cosine-
    * similar to — the third fully-oracle-checked classifier beside
    * NaiveBayesSql and LogRegSql (MLlib's fits are seed-bound; this one
    * is deterministic end to end, predictions hash-checked per doc).
    * Candidate scoring joins doc tokens to ALL language centroids on
    * the token key (vocab × |langs| bounded build side, broadcast);
    * argmax breaks ties on lang name via row_number. Same fold
    * discipline as [[docLangCoherence]].
    *
    * The document norm is computed ONCE over ALL of the doc's tfidf
    * weights (a separate per-doc aggregate) — not inside the
    * candidate-restricted join, where it would cover only the tokens
    * shared with each centroid and inflate the score of nearly-disjoint
    * candidates. The reported `cos` is the true cosine. */
  def nearestCentroidLang(docs: DataFrame): DataFrame = {
    val w = TfIdf.tfidf(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val nl = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val cent = w.groupBy("lang", "token")
      .agg(Folds.exactSum(col("tfidf")).as("s"))
      .join(broadcast(nl), "lang")
      .select(col("lang").as("cand_lang"), col("token"),
        round(col("s") / col("n_l"), 9).as("c"))
    val cnorm = cent.groupBy("cand_lang")
      .agg(sqrt(Folds.exactSum(round(col("c") * col("c"), 9))).as("c_nrm"))
    val dnorm = w.groupBy("doc_id")
      .agg(sqrt(Folds.exactSum(round(col("tfidf") * col("tfidf"), 9))).as("d_nrm"))
    val scored = w.select(col("doc_id"), col("token"), col("tfidf"))
      .join(broadcast(cent), "token")
      .groupBy("doc_id", "cand_lang")
      .agg(Folds.exactSum(round(col("tfidf") * col("c"), 9)).as("dot"))
      .join(dnorm, "doc_id")
      .join(broadcast(cnorm), "cand_lang")
      .select(col("doc_id"), col("cand_lang"),
        round(col("dot") / (col("d_nrm") * col("c_nrm")), 6).as("cos"))
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("cos").desc, col("cand_lang"))
    scored.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .join(docs.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .select(col("doc_id"), col("true_lang"),
        col("cand_lang").as("pred_lang"), col("cos"),
        (col("cand_lang") === col("true_lang")).cast("long").as("correct"))
  }

  /** Product quantization (B86): the production ANN memory layout
    * (IVF-PQ) — each embedding splits into m contiguous subvectors and
    * every subspace learns its own k-codeword codebook with the same
    * deterministic Lloyd machinery as [[kmeansLloyd]] (init = the k
    * lowest vec_ids' subvectors, index-order distance folds, ties to
    * the lowest code), so 64 floats compress to m small codes.
    *
    * All m subspaces train in ONE pass per round: the frame is keyed
    * (vec_id, sub), the codebook is an (m·k)-bounded broadcast, and
    * each round is one broadcast probe + one (m·k·dims)-bounded
    * aggregate — the data never shuffles. Output: (vec_id, sub, code,
    * err) with the squared quantization error at 6 dp; the oracle
    * replays the identical rounds as a DuckDB CTE chain. */
  def embedPq(emb: DataFrame, m: Int = 8, k: Int = 4, iters: Int = 2,
              dims: Int = 64): DataFrame = {
    val (codes, _) = pqCodes(emb, m, k, iters, dims)
    codes.select(col("vec_id"), col("sub"), col("code"),
      round(col("dist"), 6).as("err"))
  }

  /** The shared PQ fit: (final per-(vec, sub) code assignments with raw
    * 9 dp distances, final codebook centroids) — split out so
    * [[pqAnnRecall]] scores asymmetric distances against the SAME
    * codebook [[embedPq]] publishes (codebook drift between the two
    * would make the recall audit meaningless). */
  private[graft] def pqCodes(emb: DataFrame, m: Int, k: Int, iters: Int,
                             dims: Int): (DataFrame, DataFrame) = {
    require(dims % m == 0, "dims must split evenly into m subvectors")
    val sub = dims / m
    val vecs = CacheTracker.cache(
      emb.select(col("vec_id"), explode(expr(
          s"transform(sequence(0, ${m - 1}), s -> struct(CAST(s AS BIGINT) AS sub, " +
            s"transform(slice(embedding, s * $sub + 1, $sub), x -> CAST(x AS DOUBLE)) AS e))"))
          .as("p"))
        .select(col("vec_id"), col("p.sub").as("sub"), col("p.e").as("e")))
    vecs.count()
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id", "sub").orderBy(col("dist"), col("code"))
      vecs.join(broadcast(cent), "sub")
        .select(col("vec_id"), col("sub"), col("e"), col("code"),
          round(aggregate(zip_with(col("e"), col("c"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x), 9).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
    }
    var cent = vecs.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("long").as("code"), col("e").as("c"))
    for (_ <- 1 to iters) {
      cent = assign(cent)
        .select(col("sub"), col("code"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(Folds.exactSum(col("x")) / count(lit(1)), 9).as("cm"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pc"))
        .select(col("sub"), col("code"), transform(col("pc"), x => x.getField("cm")).as("c"))
    }
    (assign(cent), cent)
  }

  /** PQ-ANN recall audit (B248): recall@k of asymmetric-distance search
    * over the [[embedPq]] codebook against the exact cosine top-k — the
    * "how much accuracy did 4× compression cost" gate that decides
    * whether the quantized index may replace the exact path, completing
    * the B86 (build) / B76 (bucketed-ANN recall) family. ADC = per
    * (query, sub, code) lookup-table distances (queries × m × k rows,
    * broadcast — the classic LUT trick, so the corpus-sized side does
    * ZERO float math, one integer sum per vector) with each per-sub
    * distance rounded at 9 dp and scaled to exact NANO-unit longs, so
    * the per-vector sum is order-independent and tie-ranking on
    * (adc, n_id) is total over integers. Top-k rides TopKPerKey's
    * bounded per-key heaps. */
  def pqAnnRecall(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5,
                  m: Int = 8, codebook: Int = 4, iters: Int = 2,
                  dims: Int = 64): DataFrame = {
    val subLen = dims / m
    val (codes, cent) = pqCodes(emb, m, codebook, iters, dims)
    val qsubs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), explode(expr(
          s"transform(sequence(0, ${m - 1}), s -> struct(CAST(s AS BIGINT) AS sub, " +
            s"transform(slice(embedding, s * $subLen + 1, $subLen), x -> CAST(x AS DOUBLE)) AS e))"))
        .as("p"))
      .select(col("q_id"), col("p.sub").as("sub"), col("p.e").as("qe"))
    val lut = qsubs.join(cent, "sub")
      .select(col("q_id"), col("sub"), col("code"),
        round(round(aggregate(zip_with(col("qe"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 9) * 1e9).cast("long").as("d_nano"))
    val adc = codes.select(col("vec_id").as("n_id"), col("sub"), col("code"))
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy("q_id", "n_id")
      .agg(sum(col("d_nano")).as("adc_nano"))
    val pruned = graft.plans.TopK.topKPerKey(
      adc, Seq("q_id"), Seq("adc_nano" -> true, "n_id" -> true), k)
    val w = Window.partitionBy("q_id").orderBy(col("adc_nano").asc, col("n_id").asc)
    val pq = pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id").as("pq_q"), col("n_id").as("pq_n"))
    val bf = annTopK(emb, maxQueryId, k).select("q_id", "n_id")
    val hits = bf.join(pq,
        bf("q_id") === pq("pq_q") && bf("n_id") === pq("pq_n"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    bf.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** ANN recall evaluation (B76): recall@k of the sign-LSH bucketed ANN
    * ([[annIvf]]) against the exact brute-force top-k ([[annTopK]]) —
    * the quality gate every approximate index needs before it replaces
    * the exact path. Both result sets are query-bounded (maxQueryId·k
    * rows), so the comparison join is trivial; queries the bucketed
    * index missed entirely still appear with recall 0. */
  def annRecall(emb: DataFrame, maxQueryId: Long = 10, k: Int = 5): DataFrame = {
    val bf = annTopK(emb, maxQueryId, k).select(col("q_id"), col("n_id"))
    val iv = annIvf(emb, maxQueryId, k)
      .select(col("q_id").as("iq_id"), col("n_id").as("in_id"))
    val hits = bf.join(iv,
        bf("q_id") === iv("iq_id") && bf("n_id") === iv("in_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    bf.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** Matryoshka truncation eval (B114): recall@k of exact ANN run on only
    * the first `dims` embedding dimensions against the full-dim top-k —
    * the measurement behind the matryoshka-embedding deployment decision
    * (serve a prefix of the vector at a fraction of the memory/compute,
    * if the recall holds). Same topology as [[annRecall]]: query side
    * broadcast, corpus streams, TopKPerKey prune; the truncation is a
    * zero-copy `slice` on the stored vector. */
  def matryoshkaRecall(emb: DataFrame, dims: Int = 16, maxQueryId: Long = 10,
                       k: Int = 5): DataFrame = {
    val bf = annTopK(emb, maxQueryId, k).select(col("q_id"), col("n_id"))
    val tr = annTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding")),
        maxQueryId, k)
      .select(col("q_id").as("tq_id"), col("n_id").as("tn_id"))
    val hits = bf.join(tr,
        bf("q_id") === tr("tq_id") && bf("n_id") === tr("tn_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    bf.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** Deterministic sign random projection (B71): Johnson-Lindenstrauss
    * dimensionality reduction y_j = Σ_i s_ij·x_i / √k with the ±1 signs
    * derived from md5("j:i") — reproducible by any engine, where a
    * seeded RNG matrix is not. The projection matrix never materializes
    * driver-side: the sign is a per-(i,j) expression over the exploded
    * (vec, dim) frame crossed with the broadcast k-row output-dim frame.
    * Contributions round 9 dp and sum exactly per output dim. */
  def randomProjection(emb: DataFrame, outDims: Int = 16): DataFrame = {
    val x = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
        col("xf").cast("double").as("x"))
    val jDim = broadcast(emb.sparkSession.range(1, outDims + 1)
      .select(col("id").as("j")))
    val sign = when(
      substring(md5(concat(col("j").cast("string"), lit(":"), col("i").cast("string"))), 1, 1)
        < "8", 1.0).otherwise(-1.0)
    // sign·x is EXACT (±1 multiply) — no per-element rounding, so the
    // folded multiset is bit-identical on any engine by construction
    x.crossJoin(jDim)
      .select(col("vec_id"), col("j"), (sign * col("x")).as("c"))
      .groupBy("vec_id", "j")
      .agg(round(Folds.exactSum(col("c")) / sqrt(lit(outDims.toDouble)), 9).as("y"))
  }

  /** Per-dimension z-standardization of the embedding matrix (B66) —
    * the feature-scaling pass before distance-based ops (k-means, PQ
    * codebooks) so no dimension dominates by raw variance. Dim-wise
    * mean/std and the per-vector summary (z sum and z norm over the 6
    * dp-rounded z values) are exact sums ([[Folds.exactSum]]). Two
    * shuffles: per-dim stats, one back per vec_id. Constant dimensions
    * (std = 0) are dropped before
    * scoring — z would be Inf/NaN there, and Inf/NaN propagation is
    * exactly where engines disagree; skipping the degenerate dimension
    * (n_dims reflects the kept ones) mirrors eventsAnomaly's var_c > 0
    * gate. */
  def embedStandardize(emb: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        col("x").cast("double").as("x"))
    val stats = x.groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        Folds.exactSum(col("x")).as("s"),
        Folds.exactSum(col("x") * col("x")).as("ss"))
      .select(col("dim"), (col("s") / col("n")).as("mean"),
        sqrt(col("ss") / col("n")
          - (col("s") / col("n")) * (col("s") / col("n"))).as("std"))
      .filter(col("std") > 0)
    x.join(broadcast(stats), "dim")
      .select(col("vec_id"),
        round((col("x") - col("mean")) / col("std"), 6).as("z"))
      .groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_dims"),
        round(Folds.exactSum(col("z")), 6).as("z_sum"),
        round(sqrt(Folds.exactSum(col("z") * col("z"))), 6).as("z_norm"))
  }

  /** Greedy k-center coreset selection (B161): the farthest-point
    * traversal (Gonzalez) that diversity-samples a dataset — seed with
    * the lowest vec_id, then repeatedly add the point FARTHEST from the
    * selected set; report each center plus the final coverage radius
    * (max over points of min distance² to a center), the 2-approximation
    * certificate of the k-center objective. The data-selection step
    * behind "train on a diverse coreset" pipelines.
    *
    * Determinism: index-order distance folds at 9 dp, argmax ties break
    * on vec_id, seed is a total-order pick. Scale: each of the k−1
    * rounds is one broadcast of the ≤k selected centers, a narrow
    * per-row min over ≤k distances, and a TakeOrdered(1) — never a
    * pairwise join; the selected frame is localCheckpoint'd per round
    * (the [[graft.operators.TextOps.bradleyTerry]] lineage lesson). */
  def coresetSelect(emb: DataFrame, k: Int = 4): DataFrame = {
    val vecs = CacheTracker.cache(
      emb.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e")))
    vecs.count()
    def d2(e: Column, c: Column): Column =
      round(aggregate(zip_with(e, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x), 9)
    def minDist(sel: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(sel.select(col("e").as("c"))))
        .select(col("vec_id"), d2(col("e"), col("c")).as("d"))
        .groupBy("vec_id").agg(min(col("d")).as("dmin"))
    var selected = vecs.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("e"), lit(1L).as("selection_rank"))
      .transform(CacheTracker.pin)
    for (r <- 2 to k) {
      val next = minDist(selected)
        .orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .select("vec_id")
      selected = selected.union(
          vecs.join(next, "vec_id")
            .select(col("vec_id"), col("e"), lit(r.toLong).as("selection_rank")))
        .transform(CacheTracker.pin)
    }
    val radius = minDist(selected)
      .agg(round(max(col("dmin")), 6).as("radius2"))
    selected.crossJoin(broadcast(radius))
      .select(col("selection_rank"), col("vec_id"), col("radius2"))
  }

  /** Confident-learning-lite label-noise estimate (B158): assign every
    * embedding to its nearest LABEL centroid and report the confusion
    * matrix — off-diagonal mass is the estimated label-noise signal a
    * labeled training set gets screened with before fine-tuning. The
    * nearest-centroid model is trained on the (possibly noisy) labels
    * themselves, exactly the confident-learning setup.
    *
    * Determinism: centroids are 9 dp exact means (as in
    * [[embedCentroids]]), distances fold index-order over
    * zip_with (9 dp), argmin ties break on the label. Scale: the
    * centroid frame is label×dim-bounded and broadcast; the per-vec
    * candidate explosion is ×labels (bounded); the argmin window
    * partitions on vec_id. */
  def labelNoise(emb: DataFrame): DataFrame = {
    val cent = emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(round(Folds.exactSum(col("x")) / count(lit(1)), 9).as("cm"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pc"))
      .select(col("label").as("cand"),
        transform(col("pc"), x => x.getField("cm")).as("c"))
    val vecs = emb.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cand"))
    val pred = vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("cand"),
        round(aggregate(zip_with(col("e"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 9).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val perLabel = pred.groupBy("label").agg(count(lit(1)).as("n_label"))
    pred.groupBy("label", "cand")
      .agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(perLabel), "label")
      .select(col("label"), col("cand").as("predicted"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_label"), 6).as("frac"))
  }

  /** IVF cell-balance audit (B172): occupancy per sign-LSH cell —
    * per-cell count, corpus share, and load factor relative to a
    * uniform spread over the 2^bits key space. The index-ops readout
    * an ANN deployment watches: a hot cell (load ≫ 1) is a probe-time
    * tail-latency bomb and a signal to re-train the quantizer; empty
    * cells (used < 2^bits) waste probe fan-out. One partial-agg shuffle
    * over the assignment column; the totals frame is one broadcast row. */
  def ivfCellBalance(emb: DataFrame, bits: Int = 6): DataFrame = {
    val counts = emb.select(signBucket(col("embedding"), bits).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells_used"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"), col("n_cells_used"),
        round(col("n_vecs").cast("double") / col("n_total"), 6).as("share"),
        round(col("n_vecs").cast("double") * (1 << bits) / col("n_total"), 6)
          .as("load_factor"))
  }

  /** Transitivity audit of the near-dup pair graph (B210): of all
    * wedges (a–b, b–c), how many close into triangles (a–c also a
    * pair)? A low closure rate means the cosine threshold is admitting
    * chains of marginal pairs that dedup_components will merge into
    * sprawling clusters — the cluster-quality tripwire to check BEFORE
    * keep-first dedup eats a whole topic. The pair frame is the
    * bounded [[nearDupPairs]] output; wedge and closure joins run on
    * that frame, never on the corpus. */
  def dedupTransitivity(emb: DataFrame, cosMin: Double = 0.3): DataFrame = {
    val p = CacheTracker.cache(nearDupPairs(emb, cosMin).select("a_id", "b_id"))
    val e = p.unionByName(p.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val wedges = e.select(col("a_id").as("u"), col("b_id").as("v"))
      .join(e.select(col("a_id").as("v"), col("b_id").as("w")), "v")
      .filter(col("u") < col("w"))
      .select(col("u"), col("w"))
    val closed = wedges
      .join(p.select(col("a_id").as("u"), col("b_id").as("w")),
        Seq("u", "w"), "left_semi")
    val np = p.agg(count(lit(1)).as("n_pairs"))
    wedges.agg(count(lit(1)).as("n_wedges"))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_closed_wedges"))))
      .crossJoin(broadcast(np))
      .select(col("n_pairs"), col("n_wedges"), col("n_closed_wedges"),
        round(when(col("n_wedges") > 0,
          col("n_closed_wedges").cast("double") / col("n_wedges"))
          .otherwise(lit(0.0)), 6).as("closure_rate"))
  }

  /** Embedding-space isotropy (B266): the mean pairwise cosine between
    * UNIT vectors, computed WITHOUT any pair join from the sum-vector
    * identity Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u_i‖² — one corpus pass, a
    * dims-bounded per-dim sum frame, zero candidate generation. Near-0
    * means directions spread isotropically (healthy for retrieval);
    * near-1 means the space has collapsed onto a dominant direction (the
    * anisotropy pathology contextual encoders are known for — Ethayarajh
    * 2019) and cosine similarity stops discriminating. Complements
    * [[embedOutliers]] (per-vector) and pca_explained (spectrum mass)
    * with the single corpus-level health number.
    *
    * Determinism: unit components round at 9 dp; the per-dim sums,
    * ‖S‖² over them and the diagonal Σ‖u_i‖² are exact sums
    * ([[Folds.exactSum]]); the diagonal is summed rather than assumed to
    * be exactly n (9 dp units are not bit-exactly unit). */
  def embedIsotropy(emb: DataFrame): DataFrame = {
    // graft_unit_norm: one native O(dims) pass per row. The HOF form it
    // replaces re-evaluated the squared-norm fold inside the transform
    // lambda — O(dims²) interpreted work per row (r16 verdict #3) — and
    // a second time in the prefilter. NULL out == the zero-norm/empty
    // rows the old aggregate(...)>0 filter dropped; component values are
    // bit-identical (same fold order, same Round-on-double semantics).
    val unit = emb
      .select(col("vec_id"),
        graft.functions.GraftFunctions.unitNorm(col("embedding")).as("u"))
      .filter(col("u").isNotNull)
    val perDim = unit
      .select(posexplode(col("u")).as(Seq("pos", "x")))
      .groupBy("pos").agg(Folds.exactSum(col("x")).as("s"))
    val s2 = perDim.agg(Folds.exactSum(col("s") * col("s")).as("norm_s2"))
    val diag = unit
      .agg(Folds.exactSum(aggregate(col("u"), lit(0.0), (a, x) => a + x * x)).as("q"))
    val n = unit.agg(count(lit(1)).as("n_vecs"))
    n.crossJoin(broadcast(s2)).crossJoin(broadcast(diag))
      .select(col("n_vecs"),
        round(col("norm_s2"), 6).as("norm_s2"),
        // n ≤ 1 has no pairs: NULL, not an ANSI divide-by-zero throw
        round(when(col("n_vecs") > 1, (col("norm_s2") - col("q"))
          / (col("n_vecs").cast("double") * (col("n_vecs") - 1).cast("double"))), 6)
          .as("mean_pairwise_cos"))
  }
}
