package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family (B1-B4): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. None of these exists in the reference (its corpus is assumed
  * pre-deduped); they are the LLM-training-data operators mandated on top.
  *
  * Scale posture: every variant is a hash-partitioned groupBy/join on a
  * bounded key — no all-pairs comparison, no driver-side state. The LSH
  * band join touches only same-bucket candidates, the classic
  * sqrt-shrinking of the pair space.
  */
object Dedup {

  /** B1: exact dedup on md5 of the cleaned text. One shuffle on the hash;
    * keeper is min(doc_id) for determinism. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(TextOps.cleanText(col("text"))).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Quality gap between dedup keepers and their dropped copies (B185):
    * keep-first dedup keeps the MIN doc_id, not the best copy — this
    * measures what that costs, comparing mean quality of keepers vs
    * non-keepers (a large negative gap says switch to
    * [[keepBest]]-style survivorship). Quality rides the engine's
    * composite score in exact micro-units (BIGINT sums, 6 dp means,
    * gap from the rounded means) so the one-row answer is
    * partition-order free. Same single content-hash shuffle as
    * [[exact]]. */
  def dupQualityGap(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("content_hash")
    val flagged = docs
      .select(col("doc_id"), md5(TextOps.cleanText(col("text"))).as("content_hash"),
        round(TextOps.qualityComposite * 1000000).cast("long").as("q_micro"))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(w))
    def meanQ(flag: Column) =
      when(sum(when(flag, 1L).otherwise(0L)) > 0,
        round(sum(when(flag, col("q_micro")).otherwise(0L)).cast("double")
          / sum(when(flag, 1L).otherwise(0L)) / 1000000.0, 6))
        .otherwise(lit(0.0))
    flagged.agg(
        sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_keepers"),
        sum(when(!col("is_keeper"), 1L).otherwise(0L)).as("n_dups"),
        meanQ(col("is_keeper")).as("mean_q_keepers"),
        meanQ(!col("is_keeper")).as("mean_q_dups"))
      .withColumn("quality_gap",
        round(col("mean_q_keepers") - col("mean_q_dups"), 6))
  }

  /** Train/test split leakage audit (B188): exact-content collisions
    * ACROSS the engine's train_test_split boundary (doc_id % 4 — the
    * A12 rule) — the eval-integrity check a split must pass before any
    * benchmark number is real (a test doc whose exact copy sits in
    * train scores memorization, not generalization). One content-hash
    * shuffle; the answer is one row: split sizes, leaked hash count,
    * leaked test docs and the share of test contaminated. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"),
      md5(TextOps.cleanText(col("text"))).as("content_hash"),
      when(col("doc_id") % 4 < 3, "train").otherwise("test").as("split"))
    val leaked = h.groupBy("content_hash").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_te"))
      .filter(col("n_tr") > 0 && col("n_te") > 0)
      .agg(count(lit(1)).as("n_leaked_hashes"),
        coalesce(sum(col("n_te")), lit(0L)).as("n_leaked_test_docs"))
    h.agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .crossJoin(broadcast(leaked))
      .select(col("n_train"), col("n_test"), col("n_leaked_hashes"),
        col("n_leaked_test_docs"),
        when(col("n_test") > 0,
          round(col("n_leaked_test_docs").cast("double") / col("n_test"), 6))
          .otherwise(lit(0.0)).as("leaked_test_share"))
  }

  /** Duplicate rate per source (B175): which feeds are pumping copies
    * into the corpus — the curation triage readout that decides where
    * dedup budget (and crawler fixes) go. A document is a dup when it
    * is not the global keep-first keeper of its content hash, so
    * CROSS-source copies are charged to every non-keeper source. One
    * hash-keyed window over the same shuffle [[exact]] pays; per-source
    * aggregate after. */
  def dupRateBySource(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("source"),
      md5(TextOps.cleanText(col("text"))).as("content_hash"))
    val keeper = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash"))
    hashed
      .withColumn("_keeper", min(col("doc_id")).over(keeper))
      .select(col("source"),
        (col("doc_id") =!= col("_keeper")).cast("long").as("is_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6).as("dup_rate"))
  }

  /** Shared LSH front half: the cached distinct-shingle frame and the
    * banded candidate pairs. Both verifying operators (exact Jaccard in
    * [[minhashLshPairs]], Levenshtein in [[editDistancePairs]]) reuse
    * this so candidate generation is built — and paid for — once.
    *
    * The doc's set is its distinct 3-token SHINGLES (order-sensitive —
    * unigram sets collapse on a small vocabulary, where every doc's
    * token set converges to the whole vocab and the corpus becomes one
    * giant set-level near-dup cluster); sig_i(doc) = lexicographic min
    * over shingles of md5("i:" ++ s); signatures band `bandSize` rows
    * per band and candidates share a whole band.
    *
    * Scale: signature build is one partial-agg shuffle (all mins at
    * once); the band join shuffles on (band, band_hash) — the bounded
    * LSH key. No all-pairs path exists. */
  private def lshCandidates(docs: DataFrame, numHashes: Int,
                            bandSize: Int): (DataFrame, DataFrame, DataFrame) =
    lshCandidatesFromToked(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      numHashes, bandSize)

  /** [[lshCandidates]] over a pre-tokenized (doc_id, toks) frame, so a
    * consumer that runs BOTH detectors ([[detectorAgreement]]) tokenizes
    * the corpus once and shares the cached array frame. */
  private def lshCandidatesFromToked(toked0: DataFrame, numHashes: Int,
                            bandSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val dt = CacheTracker.cache(shingleRows(toked0))
    dt.count()
    val (bands, sigs) = bandRows(dt, numHashes, bandSize)
    val cand = bands.select(col("band"), col("bh"), col("doc_id").as("a_id"))
      .join(bands.select(col("band"), col("bh"), col("doc_id").as("b_id")),
        Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    (cand, dt, sigs)
  }

  /** Distinct 3-token shingle rows (doc_id, token) for docs with >= 3
    * tokens — the LSH set representation. Pure frame, no caching; shared
    * by the batch candidate builder and [[lshDocRows]] so the two can
    * never drift. */
  private def shingleRows(toked0: DataFrame): DataFrame = {
    val toked = toked0.filter(size(col("toks")) >= 3)
    val a1 = slice(col("toks"), lit(1), size(col("toks")) - 2)
    val a2 = slice(col("toks"), lit(2), size(col("toks")) - 2)
    val a3 = slice(col("toks"), lit(3), size(col("toks")) - 2)
    toked.select(col("doc_id"),
      explode(array_distinct(zip_with(
        zip_with(a1, a2, (x, y) => concat(x, lit(" "), y)),
        a3, (xy, z) => concat(xy, lit(" "), z)))).as("token"))
  }

  /** Banded signature rows (doc_id, band, bh) + the signature frame, off
    * a distinct-shingle frame: sig_i = lexicographic min over shingles
    * of md5("i:" ++ s); each band hashes `bandSize` consecutive sigs. */
  private def bandRows(shingles: DataFrame, numHashes: Int,
                       bandSize: Int): (DataFrame, DataFrame) = {
    val sigCols = (0 until numHashes)
      .map(i => min(md5(concat(lit(s"$i:"), col("token")))).as(s"sig$i"))
    val sigs = shingles.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val nBands = numHashes / bandSize
    val bands = sigs.select(col("doc_id"), explode(array((0 until nBands).map { b =>
        struct(lit(b.toLong).as("band"),
          md5(concat_ws("|", (0 until bandSize).map(r => col(s"sig${b * bandSize + r}")): _*))
            .as("bh"))
      }: _*)).as("p"))
      .select(col("doc_id"), col("p.band").as("band"), col("p.bh").as("bh"))
    (bands, sigs)
  }

  /** Per-doc LSH index rows for the streaming incremental twin
    * (streaming.Events.minhashPairsBatch): the banded signature hashes
    * (doc_id, band, bh) and the sorted distinct-shingle array
    * (doc_id, arr) — exactly what [[minhashLshPairs]] derives per doc,
    * exposed so a standing index can be probed batch-by-batch. Pure
    * frames, no caching: the caller persists what it reuses. */
  private[graft] def lshDocRows(docs: DataFrame, numHashes: Int = 16,
                                bandSize: Int = 8): (DataFrame, DataFrame) = {
    val shingles = shingleRows(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")))
    val (bands, _) = bandRows(shingles, numHashes, bandSize)
    val arrs = shingles.groupBy("doc_id")
      .agg(sort_array(collect_list(col("token"))).as("arr"))
    (bands, arrs)
  }

  /** Oracle-reproducible MinHash + banded LSH near-dup pairs (B2o/B55).
    * Where [[minhashPairs]] rides MLlib's MinHashLSH (seeded random
    * permutations — rows-only checkable), this twin derives every
    * permutation from md5 (see [[lshCandidates]]) so an independent
    * engine reproduces it bit-for-bit, and each candidate pair is
    * verified with its EXACT shingle Jaccard — false band collisions
    * are filtered, so the jacMin gate is exact.
    *
    * Parameters follow the LSH S-curve: b bands of r rows target
    * threshold (1/b)^(1/r); the 2×8 default sits at ≈0.92, matching the
    * 0.9 gate a near-duplicate pass wants (recall above the gate is
    * probabilistic — the price of never materializing the pair space).
    *
    * Verification joins each surviving pair's two SORTED token arrays
    * and intersects them inside codegen — narrow per-pair work, never
    * an exploded (pair × token) join stream. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 16, bandSize: Int = 8,
                      jacMin: Double = 0.9): DataFrame =
    minhashLshPairsFromToked(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      numHashes, bandSize, jacMin)

  /** [[minhashLshPairs]] over a pre-tokenized (doc_id, toks) frame — the
    * shared-scan entry for [[detectorAgreement]]. */
  private def minhashLshPairsFromToked(toked: DataFrame, numHashes: Int,
                      bandSize: Int, jacMin: Double): DataFrame = {
    val (cand, dt, _) = lshCandidatesFromToked(toked, numHashes, bandSize)
    val docArr = dt.groupBy("doc_id")
      .agg(sort_array(collect_list(col("token"))).as("arr"))
    cand
      .join(docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr")), "b_id")
      // native one-pass merge over the sorted shingle arrays — same
      // value as size(array_intersect)/size(array_union) (parity spec),
      // no intermediate array allocation per candidate pair
      .select(col("a_id"), col("b_id"),
        round(graft.functions.GraftFunctions.jaccard(col("a_arr"), col("b_arr")), 6)
          .as("jac"))
      .filter(col("jac") >= jacMin)
  }

  /** Cross-source duplication matrix (B197): who copies whom — for
    * every duplicate PARAGRAPH occurrence (the 8-token chunks of
    * paragraph_dedup; whole-doc copies are rarer than lifted spans),
    * one (keeper_source → dup_source) edge, aggregated to the
    * directional matrix behind [[dupRateBySource]]'s per-feed rate
    * (the rate says a feed pumps copies; the matrix says WHOSE
    * content it pumps — what a licensing or crawler-trap
    * investigation needs). One chunk-hash shuffle; the matrix is
    * source²-bounded. */
  def dupSourceMatrix(docs: DataFrame, win: Int = 8): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"), col("toks"),
        explode(sequence(lit(0L),
          ceil(size(col("toks")).cast("double") / win).cast("long") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("source"), col("chunk_id"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * win + 1).cast("int"), lit(win))))
          .as("ch"))
    val keep = org.apache.spark.sql.expressions.Window
      .partitionBy("ch").orderBy(col("doc_id"), col("chunk_id"))
    val flagged = chunks.withColumn("rn", row_number().over(keep))
    val keepers = flagged.filter(col("rn") === 1)
      .select(col("ch"), col("source").as("keeper_source"))
    flagged.filter(col("rn") =!= 1)
      .select(col("ch"), col("source").as("dup_source"))
      .join(keepers, "ch")
      .groupBy("keeper_source", "dup_source")
      .agg(count(lit(1)).as("n_dups"))
  }

  /** MinHash-LSH precision/recall evaluation (B191): the banding
    * config's report card — candidates from the production (16-hash,
    * 2×8-band) pipeline scored against EXACT-Jaccard ground truth at
    * the same ≥ `jacMin` threshold. Truth requires all pairs, so the
    * eval runs on a bounded doc_id sample (the honest way to audit at
    * corpus scale: the sample all-pairs join is a broadcast of a
    * fixed-size side, never corpus × corpus). Complements
    * [[minhashCalibration]] (per-pair estimate error) with the
    * set-level answer: how much do the bands MISS (recall), and how
    * much junk do they admit (precision). */
  def minhashPrEval(docs: DataFrame, sampleMax: Long = 200L,
                    numHashes: Int = 16, bandSize: Int = 8,
                    jacMin: Double = 0.9): DataFrame = {
    val sample = docs.filter(col("doc_id") < sampleMax)
    val (cand, dt, _) = lshCandidates(sample, numHashes, bandSize)
    val docArr = dt.groupBy("doc_id")
      .agg(sort_array(collect_list(col("token"))).as("arr"))
    val allPairs = docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr"))
      .join(broadcast(docArr.select(col("doc_id").as("b_id"),
        col("arr").as("b_arr"))), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(graft.functions.GraftFunctions.jaccard(
          col("a_arr"), col("b_arr")), 6).as("jac"))
    val nTruth = allPairs.filter(col("jac") >= jacMin)
      .agg(count(lit(1)).as("n_truth"))
    cand.join(allPairs, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("jac") >= jacMin, 1L).otherwise(0L)), lit(0L))
          .as("n_tp"))
      .crossJoin(broadcast(nTruth))
      .select(col("n_truth"), col("n_candidates"), col("n_tp"),
        when(col("n_candidates") > 0,
          round(col("n_tp").cast("double") / col("n_candidates"), 6))
          .otherwise(lit(0.0)).as("precision"),
        when(col("n_truth") > 0,
          round(col("n_tp").cast("double") / col("n_truth"), 6))
          .otherwise(lit(0.0)).as("recall"))
  }

  /** MinHash calibration (B116): for every LSH candidate pair, the
    * MinHash ESTIMATE of Jaccard (fraction of the `numHashes` signature
    * rows that agree) next to the EXACT shingle Jaccard and their
    * absolute error — the engine auditing its own sketch. Run this
    * before trusting a (bands, rows) config at corpus scale: the error
    * distribution tells you whether 16 hashes is enough resolution for
    * the gate [[minhashLshPairs]] applies, and the false band
    * collisions (low exact jaccard, high est) are visible rather than
    * silently filtered. No threshold — the full candidate set IS the
    * audit. Candidates stay band-bounded; the per-pair work is one
    * 16-element signature zip plus the shared sorted-array jaccard. */
  def minhashCalibration(docs: DataFrame, numHashes: Int = 16,
                         bandSize: Int = 8): DataFrame = {
    val (cand, dt, sigs) = lshCandidates(docs, numHashes, bandSize)
    // localCheckpoint: each frame feeds TWO joins below (a_id and b_id
    // sides). Unpinned, every consumer re-derived the whole lshCandidates
    // chain when the tracked shingle cache was evicted mid-pass — the
    // text_ann r15 signature, here ×4 (official 41.0 s vs 2.6 s solo).
    // Both frames are corpus-row-bounded and narrow; checkpointed
    // partitions cannot be evicted, so each builds exactly once.
    val sigArr = sigs.select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"sig$i")): _*).as("sig"))
      .transform(CacheTracker.pin)
    val docArr = dt.groupBy("doc_id")
      .agg(sort_array(collect_list(col("token"))).as("arr"))
      .transform(CacheTracker.pin)
    cand
      .join(sigArr.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigArr.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .join(docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
          m => m)).cast("double") / numHashes, 6).as("minhash_est"),
        round(graft.functions.GraftFunctions.jaccard(col("a_arr"), col("b_arr")), 6)
          .as("jaccard"))
      .withColumn("abs_err", round(abs(col("minhash_est") - col("jaccard")), 6))
  }

  /** SimHash hamming-distance histogram (B262): pair counts by exact
    * hamming distance over the pigeonhole-blocked candidate set at a
    * widened radius — the sketch-resolution audit for the SimHash side of
    * the detector family, next to [[minhashCalibration]]'s per-pair
    * estimate error on the MinHash side. The distance distribution tells
    * you where to place the dedup radius BEFORE trusting `maxHamming=3`
    * at corpus scale: a mass bump just past the production radius means
    * near-misses, a clean gap means the radius is safe. Candidates stay
    * block-bounded (7 chunks at radius 6), never all-pairs. */
  def simhashHammingHist(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    simhashDetPairs(docs, maxHamming)
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"))

  /** MinHash-banded candidates verified by exact edit distance (B63):
    * the LSH band join proposes pairs (bounded by band-bucket sizes,
    * never all-pairs; the edit distance is the only gate), then
    * Levenshtein runs ONLY on the candidates — the standard "cheap
    * sketch prefilter, exact verify" split, with the O(len²) distance
    * confined to the handful of survivors. Normalized distance =
    * lev / max(len) over cleaned text.
    *
    * A free exact prefilter runs before the distance: `lev(a,b) >=
    * |len(a) - len(b)|`, so any pair with `|Δlen| / max_len > maxNorm`
    * cannot pass the final gate — it is discarded on two already-computed
    * lengths without paying the O(len²) Levenshtein. The filter references
    * only the length columns, so Catalyst pushes it below the levenshtein
    * projection (pinned by PlanShapeSpec). Empty-empty pairs (max_len = 0)
    * divide to NaN and fail both the prefilter and the old final filter
    * identically — the output is bit-unchanged. */
  def editDistancePairs(docs: DataFrame, maxNorm: Double = 0.3): DataFrame = {
    val (cand, _, _) = lshCandidates(docs, numHashes = 16, bandSize = 8)
    val clean = docs.select(col("doc_id"), TextOps.cleanText(col("text")).as("clean"))
    cand
      .join(clean.select(col("doc_id").as("a_id"), col("clean").as("a_txt")), "a_id")
      .join(clean.select(col("doc_id").as("b_id"), col("clean").as("b_txt")), "b_id")
      .withColumn("a_len", length(col("a_txt")).cast("long"))
      .withColumn("b_len", length(col("b_txt")).cast("long"))
      .withColumn("max_len", greatest(col("a_len"), col("b_len")))
      .filter(abs(col("a_len") - col("b_len")).cast("double") / col("max_len") <= maxNorm)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_txt"), col("b_txt")).cast("long").as("lev"),
        col("max_len"))
      .withColumn("norm_lev", round(col("lev").cast("double") / col("max_len"), 6))
      .filter(col("norm_lev") <= maxNorm)
  }

  /** ROUGE-L over MinHash band candidates (B249): token-level
    * longest-common-subsequence precision/recall/F for each candidate
    * pair — the ORDER-sensitive near-dup verdict that completes the MT
    * metric family (bleu_pairs counts n-gram overlap, chrf_pairs
    * character n-grams; ROUGE-L rewards long in-order runs, so a
    * shuffled bag of the same tokens scores low here and high there).
    * LCS runs in graft_lcs_len's native O(n·m) DP — one static call per
    * pair, exact integers — and F1 = 2·LCS/(len_a+len_b), one rounded
    * divide. Candidates come from the shared LSH banding, never
    * all-pairs. */
  def rougeLPairs(docs: DataFrame): DataFrame = {
    val (cand, _, _) = lshCandidates(docs, numHashes = 16, bandSize = 8)
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    cand
      .join(toked.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(toked.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(col("a_toks")).cast("long").as("len_a"),
        size(col("b_toks")).cast("long").as("len_b"),
        graft.functions.GraftFunctions.lcsLen(col("a_toks"), col("b_toks")).as("lcs"))
      .select(col("a_id"), col("b_id"), col("len_a"), col("len_b"), col("lcs"),
        round(col("lcs").cast("double") / col("len_a"), 6).as("rouge_p"),
        round(col("lcs").cast("double") / col("len_b"), 6).as("rouge_r"),
        round(lit(2.0) * col("lcs") / (col("len_a") + col("len_b")), 6)
          .as("rouge_f"))
  }

  /** Word error rate over MinHash band candidates (B274): token-level
    * Levenshtein distance (substitution + insertion + deletion, unit
    * costs) for each candidate pair, normalized by the a-side length.
    * The a-side is the LOWER doc_id of the LSH candidate pair — the
    * reference BY CONVENTION only (WER is asymmetric; swap the ids to
    * get the other reading, or use len_b/word_dist yourself for
    * wer_ba) — the transcript-style verdict the MT family
    * lacks: rouge_l_pairs' LCS has no substitution arm, so a one-word
    * swap costs 2 there but 1 here, and edit_distance_pairs works at
    * char level where a long-word typo outweighs a whole-word swap.
    * The DP runs in graft_word_lev's native O(n·m) two-row kernel —
    * one static call per pair, exact integers; the DuckDB oracle walks
    * the identical recurrence as a recursive-CTE row sweep with the
    * prefix-MIN reformulation (the LCS trick from rouge_l_pairs, min
    * instead of max — DuckDB's own `levenshtein` is BYTE-level, so no
    * string encoding can reproduce token distances). Candidates come
    * from the shared LSH banding, never all-pairs; the DP tier is
    * pairs-sized. */
  def werPairs(docs: DataFrame): DataFrame = {
    val (cand, _, _) = lshCandidates(docs, numHashes = 16, bandSize = 8)
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    cand
      .join(toked.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(toked.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(col("a_toks")).cast("long").as("len_a"),
        size(col("b_toks")).cast("long").as("len_b"),
        graft.functions.GraftFunctions.wordLev(col("a_toks"), col("b_toks"))
          .as("word_dist"))
      .select(col("a_id"), col("b_id"), col("len_a"), col("len_b"),
        col("word_dist"),
        round(col("word_dist").cast("double") / col("len_a"), 6).as("wer"))
  }

  /** Token n-gram shingles of the cleaned text, distinct, as stable longs.
    *
    * Shape matters: each token is hashed once (xxhash64, seed 42), then the
    * n-gram combine zips n shifted slices of that hash array. A lambda must
    * never reference the token array itself — a non-lambda-bound expression
    * inside a higher-order function is re-evaluated per element, turning
    * the whole clean+tokenize chain quadratic per row. */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.NGramShingleHash(
        org.apache.spark.sql.graftshim.ColumnShim.expression(TextOps.cleanText(text)), n))

  /** Declarative twin of [[shingles]] (bit-identical; kept for the parity
    * spec). Note the shape: each lambda only touches bound variables —
    * referencing `hashes` inside one would re-evaluate the whole
    * clean+tokenize chain per element. */
  def shinglesDeclarative(text: Column, n: Int = 3): Column = {
    val hashes = transform(TextOps.tokens(text), t => xxhash64(t))
    // unbounded-length slices: zip_with null-pads the shorter side, and the
    // padded tail (xor with null = null) is filtered off afterwards; this
    // evaluates `hashes` n times per row instead of 2n
    val parts = (1 to n).map(i => slice(hashes, lit(i), lit(1 << 30)))
    val combined = parts.reduce((acc, nxt) => zip_with(acc, nxt,
      (a, b) => shiftleft(a, 13).bitwiseXOR(shiftright(a, 7)).bitwiseXOR(b)))
    array_distinct(filter(combined, c => c.isNotNull))
  }

  /** Universal-hash minhash signature: for hash j, min over shingles s of
    * (a_j * s + b_j) mod p. Seeds fixed => deterministic. */
  def minhashSignature(sh: Column, numHashes: Int): Column = {
    val p = 4294967311L // first prime > 2^32
    val cols = (0 until numHashes).map { j =>
      // a stays < 2^24 so a * s (< 2^32) cannot overflow a long
      val a = 976369L + 2 * j // odd, fixed per j
      val b = 179426549L * (j + 1) % p
      // mask shingle hashes to 32 bits so a * s stays within a long
      array_min(transform(sh, s => (s.bitwiseAND(0xFFFFFFFFL) * a + b) % p))
    }
    array(cols: _*)
  }

  /** B2: MinHash + banded LSH near-dup candidate pairs, verified by true
    * shingle-set Jaccard. numHashes = bands * rowsPerBand. The join key is
    * (band, band-signature-hash): only same-bucket pairs are compared. */
  def minhashPairs(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 2,
                   jaccardMin: Double = 0.5): DataFrame = {
    val sig = docs
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        minhashSignature(col("sh"), bands * rowsPerBand).as("sig"))

    val banded = sig.select(
      col("doc_id"), col("sh"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.band"), col("bb.bucket"))

    // distinct candidate pairs FIRST — a pair colliding in several bands
    // must be verified once, not once per band
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

    val shOnly = sig.select(col("doc_id"), col("sh"))
    cand
      .join(shOnly.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(shOnly.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))), 6).as("jaccard"))
      .filter(col("jaccard") >= jaccardMin)
  }

  /** B3: 64-bit SimHash fingerprint. Per token hash = xxhash64; each bit
    * contributes +1/-1; fingerprint bit k set iff the sum is positive.
    * Computed as 64 conditional sums in one aggregation — one shuffle. */
  def simhash(docs: DataFrame): DataFrame = {
    val perTok = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .select(col("doc_id"), xxhash64(col("token")).as("h"))
    val bitSums = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$k")
    }
    val fp = (0 until 64).map { k =>
      when(col(s"b$k") > 0, lit(1L << k)).otherwise(0L)
    }.reduce(_ + _)
    perTok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Oracle-expressible SimHash twin (B112): same algorithm as
    * [[simhash]]/[[simhashPairs]] but the per-token hash is the 32-bit
    * md5 prefix instead of xxhash64 — xxhash64 is deterministic yet not
    * reproducible in DuckDB SQL, which is the ONLY reason dedup_simhash
    * sits on the no-oracle list. This variant's 32-bit fingerprint,
    * pigeonhole blocking (maxHamming+1 chunks, recall-lossless), and
    * true-hamming verification are all integer-exact in both engines,
    * so the simhash family gains a first-class hash-exact entry.
    * Same shuffle topology as simhashPairs: one partial-agg shuffle for
    * the 32 conditional bit sums, one bounded (chunk, key) block join. */
  def simhashDetPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashDetPairsFromToked(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      maxHamming)

  /** [[simhashDetPairs]] over a pre-tokenized (doc_id, toks) frame — the
    * shared-scan entry for [[detectorAgreement]]. */
  private def simhashDetPairsFromToked(toked: DataFrame,
                                       maxHamming: Int): DataFrame = {
    val bits = 32
    require(maxHamming >= 0 && maxHamming < bits, "maxHamming must be in [0, 32)")
    // native single-pass fingerprint: one codegen'd call per doc instead
    // of a corpus-sized explode + 32-column aggregate shuffle. The
    // size(toks) > 0 gate matches the explode twin (empty docs vanished
    // through explode; fingerprint-0 ghosts would otherwise pair up).
    // Bit parity with [[simhashFpDeclarative]] pinned by DedupSpec.
    val fp = toked.filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash(col("toks")).as("simhash"))
    val nChunks = maxHamming + 1
    val bounds = (0 to nChunks).map(i => i * bits / nChunks)
    val blocked = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map { q =>
        val lo = bounds(q); val width = bounds(q + 1) - lo
        val mask = (1L << width) - 1
        struct(lit(q).as("q"),
          shiftright(col("simhash"), lo).bitwiseAND(mask).as("key"))
      }: _*)).as("blk"))
      .select(col("doc_id"), col("simhash"), col("blk.q"), col("blk.key"))
    val a = blocked.select(col("q"), col("key"), col("doc_id").as("a_id"), col("simhash").as("a_fp"))
    val b = blocked.select(col("q"), col("key"), col("doc_id").as("b_id"), col("simhash").as("b_fp"))
    a.join(b, Seq("q", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The PRE-r16 declarative fingerprint (explode → 32 conditional sums
    * → bit reassembly) — kept as the parity twin for the native
    * graft_simhash expression; DedupSpec pins raw-bit equality. */
  private[graft] def simhashFpDeclarative(toked: DataFrame): DataFrame = {
    val bits = 32
    val perTok = toked
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .select(col("doc_id"),
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long").as("h"))
    val bitSums = (0 until bits).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$k")
    }
    val fpExpr = (0 until bits).map { k =>
      when(col(s"b$k") > 0, lit(1L << k)).otherwise(0L)
    }.reduce(_ + _)
    perTok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpExpr.as("simhash"))
  }

  /** SimHash near-dup pairs: block on (maxHamming + 1) contiguous bit
    * chunks of the fingerprint — by pigeonhole, any pair within hamming
    * distance <= maxHamming has at least one chunk with zero differing
    * bits, so blocking is recall-lossless for the requested radius. True
    * hamming distance verifies candidates. Never all-pairs. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val nChunks = maxHamming + 1
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks)
    val fp = simhash(docs)
    val blocked = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map { q =>
        val lo = bounds(q); val width = bounds(q + 1) - lo
        val mask = if (width == 64) -1L else (1L << width) - 1
        struct(lit(q).as("q"),
          shiftright(col("simhash"), lo).bitwiseAND(mask).as("key"))
      }: _*)).as("blk"))
      .select(col("doc_id"), col("simhash"), col("blk.q"), col("blk.key"))
    val a = blocked.select(col("q"), col("key"), col("doc_id").as("a_id"), col("simhash").as("a_fp"))
    val b = blocked.select(col("q"), col("key"), col("doc_id").as("b_id"), col("simhash").as("b_fp"))
    a.join(b, Seq("q", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate clustering (B20): connected components over a
    * candidate-pair graph, as iterative min-label propagation with
    * pointer jumping — every round each node takes the min component id
    * among itself and its neighbors, then labels shortcut through their
    * own label's label (path halving), so a diameter-d chain converges
    * in O(log d) rounds, not d. Fixpoint when the label sum stops
    * falling (labels only ever decrease, so equal sum == converged);
    * a graph that has not converged within maxIter fails LOUDLY instead
    * of returning partial clusters. Each round is two hash joins + one
    * partial-aggregated shuffle, fully distributed, no driver state.
    *
    * Each round references the previous labels twice (neighbor join +
    * self jump), so carrying lineage would DOUBLE the logical plan per
    * round — labels are localCheckpoint'ed every round instead, which
    * truncates the plan to the materialized blocks (a cluster deployment
    * would use a reliable checkpoint dir for executor-loss tolerance;
    * superseded round blocks are reclaimed by the ContextCleaner).
    *
    * Output: (id, component) for every node that appears in a pair;
    * component = min node id reachable. */
  def components(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                 maxIter: Int = 20): DataFrame = {
    val edges = CacheTracker.cache(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .transform(CacheTracker.pin)
    def labelSum(df: DataFrame): Long = // coalesce: an empty pair set must not NPE
      df.agg(coalesce(sum(col("component")), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("dst_comp")), "dst")
        .groupBy("src").agg(min("dst_comp").as("nbr_comp"))
      val prop = labels
        .join(nbrMin.select(col("src").as("id"), col("nbr_comp")), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_comp"), col("component")))
            .as("component"))
      // pointer jump: component <- component's own component. Every label
      // is a node id present in `prop` (it is a min over node ids), so
      // the self-join always matches and each round halves path lengths.
      val next = prop
        .join(prop.select(col("id").as("component"), col("component").as("jump")),
          Seq("component"))
        .select(col("id"), least(col("component"), col("jump")).as("component"))
        .transform(CacheTracker.pin)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"components: no fixpoint after $maxIter rounds — raise maxIter " +
          "(with pointer jumping this needs an adversarial diameter > 2^maxIter)")
    labels
  }

  /** Incremental dedup (B42): the daily-ingest shape — admit only
    * new-batch documents whose content hash is absent from the existing
    * corpus, then keep-first WITHIN the batch. The corpus side reduces to
    * distinct hashes before the left-anti join (at 100 TB that hash set
    * is the standing dedup index, stored hash-bucketed so the anti-join
    * is a co-located probe, not a corpus rescan); the window dedup then
    * touches only admitted rows. */
  def incremental(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val hashed = newDocs.withColumn("content_hash",
      md5(TextOps.cleanText(col("text"))))
    val seen = corpus
      .select(md5(TextOps.cleanText(col("text"))).as("content_hash")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("content_hash")
    hashed.join(seen, Seq("content_hash"), "left_anti")
      .withColumn("kid", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("kid"))
      .select("doc_id", "content_hash", "lang", "source", "n_chars")
  }

  /** Bloom-prefiltered incremental dedup (B94): [[incremental]] with the
    * standing corpus compressed into Spark's internal Bloom filter
    * (catalyst BloomFilterAggregate / BloomFilterMightContain, the
    * runtime-filter machinery, surfaced as a first-class operator).
    * Every new-batch row probes the broadcast sketch first; Bloom has NO
    * false negatives, so probe-misses are DEFINITELY new and skip the
    * join entirely — only the false-positive sliver anti-joins against
    * the exact hash index. Result is bit-identical to the exact path
    * (same oracle), but at 100 TB the per-row cost is a few bits of
    * broadcast sketch instead of a shuffle-side probe: the anti-join
    * shrinks from |newBatch| to |hits| ≈ |dupes| + fpp·|newBatch|.
    *
    * The sketch is built DISTRIBUTED (partial Bloom merge, no driver
    * collect — unlike DataFrame.stat.bloomFilter) and sized by
    * `expectedItems` bits-per-item ≈ 9.6 (fpp ≈ 1%).
    *
    * Measured honestly: at sf0.1 (5k distinct corpus hashes) this is
    * ~1.5× SLOWER than [[incremental]] — the sketch build is an extra
    * aggregation pass, and the anti-join it prunes was already cheap.
    * The operator earns its keep in the regime it targets: a standing
    * index orders of magnitude larger than the daily batch, where the
    * per-row broadcast-bits probe replaces a shuffle-side probe of the
    * full index. Use [[incremental]] until the index dwarfs the batch. */
  def incrementalBloom(newDocs: DataFrame, corpus: DataFrame,
                       expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val hashed = newDocs.withColumn("content_hash",
      md5(TextOps.cleanText(col("text"))))
    val seen = corpus
      .select(md5(TextOps.cleanText(col("text"))).as("content_hash")).distinct()
    val bloom = seen.select(ColumnShim.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnShim.expression(col("content_hash")))),
        expectedItems).toAggregateExpression()).as("bf"))
    // might_contain requires its sketch as a constant or scalar subquery;
    // the subquery broadcasts the finished sketch to every probe task.
    // coalesce(-, false): BloomFilterAggregate over ZERO corpus rows yields
    // a NULL sketch, and might_contain(NULL) is NULL — which fails both the
    // maybe_seen and !maybe_seen filters, silently dropping every first-run
    // batch row. A NULL sketch means nothing was ever inserted, so the
    // probe's truthful answer is false (definitely new).
    val probed = hashed
      .withColumn("maybe_seen", coalesce(ColumnShim.column(BloomFilterMightContain(
        ScalarSubquery(bloom.queryExecution.logical),
        new XxHash64(Seq(ColumnShim.expression(col("content_hash")))))),
        lit(false)))
    val definitelyNew = probed.filter(!col("maybe_seen")).drop("maybe_seen")
    val verified = probed.filter(col("maybe_seen")).drop("maybe_seen")
      .join(seen, Seq("content_hash"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("content_hash")
    definitelyNew.unionByName(verified)
      .withColumn("kid", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("kid"))
      .select("doc_id", "content_hash", "lang", "source", "n_chars")
  }

  /** Near-dup-filtered corpus (B32): the write-back step of near-dedup —
    * keep one canonical row per near-duplicate cluster (the min-id
    * member, which IS the component label from [[components]]) plus every
    * row that matched no pair. Implemented as a left-anti join against
    * the non-canonical ids: rows in no cluster never enter the join's
    * build side, so its size is bounded by the number of DUPLICATES, not
    * the corpus. */
  def nearDupFiltered(emb: DataFrame, cosMin: Double = 0.3): DataFrame = {
    val comp = components(Similarity.nearDupPairs(emb, cosMin = cosMin))
    val drop = comp.filter(col("id") =!= col("component")).select(col("id"))
    emb.join(drop, emb("vec_id") === drop("id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** B4: n-gram Jaccard similarity over blocked candidate pairs. Blocking
    * key defaults to `source` here (demo corpus); at 100 TB the blocking
    * key is an LSH band as in [[minhashPairs]] — this operator is the
    * verify stage run on any candidate set. */
  def ngramJaccard(docs: DataFrame, blockCol: String = "source",
                   simMin: Double = 0.3): DataFrame = {
    val sh = docs.select(col("doc_id"), col(blockCol).as("blk"),
      shingles(col("text")).as("sh")).filter(size(col("sh")) > 0)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    // explode + equi-join on the shingle itself: pairs sharing no shingle
    // never materialize, unlike an all-pairs-within-block array compare.
    // |A∩B| arrives as a join-count; |A∪B| = |A| + |B| - |A∩B|.
    // Skewed ultra-frequent shingles would be capped/salted at 100 TB.
    val ex = sh.select(col("blk"), col("doc_id"), explode(col("sh")).as("s"))
    val common = ex.select(col("blk"), col("s"), col("doc_id").as("a_id"))
      .join(ex.select(col("blk"), col("s"), col("doc_id").as("b_id")), Seq("blk", "s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("a_n")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("b_n")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("common").cast("double") /
          (col("a_n") + col("b_n") - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= simMin)
  }

  /** Asymmetric shingle containment (B131): containment(a→b) =
    * |S(a)∩S(b)| / |S(a)| — the metric that catches SUBSET duplication
    * (a wire article embedded in a longer page, a quoted doc inside a
    * digest), which Jaccard structurally misses: |A| ≪ |B| drives the
    * union-normalized score to 0 while containment stays ≈1. Emits both
    * directions per candidate pair; keep pairs where either exceeds the
    * floor. Same shared-shingle candidate machinery as [[ngramJaccard]]
    * (pairs sharing no shingle never materialize), one pair-key shuffle,
    * size marginals joined back. */
  def containmentPairs(docs: DataFrame, blockCol: String = "source",
                       minContainment: Double = 0.6): DataFrame = {
    val sh = docs.select(col("doc_id"), col(blockCol).as("blk"),
      shingles(col("text")).as("sh")).filter(size(col("sh")) > 0)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val ex = sh.select(col("blk"), col("doc_id"), explode(col("sh")).as("s"))
    val common = ex.select(col("blk"), col("s"), col("doc_id").as("a_id"))
      .join(ex.select(col("blk"), col("s"), col("doc_id").as("b_id")), Seq("blk", "s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("a_n")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("b_n")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("common").cast("double") / col("a_n"), 6).as("containment_ab"),
        round(col("common").cast("double") / col("b_n"), 6).as("containment_ba"))
      .filter(col("containment_ab") >= minContainment ||
        col("containment_ba") >= minContainment)
  }

  /** Near-dup threshold tuning curve (B123): duplicate-pair mass and
    * affected-document counts as a function of the Jaccard threshold —
    * the table a curation pipeline reads BEFORE committing to a dedup
    * threshold (too low deletes paraphrases, too high leaves templated
    * spam; the knee of this curve is the defensible setting). Reuses
    * [[ngramJaccard]] at a low floor, then sweeps t = 0.10 … 0.90 in
    * integer-percent steps of 10 over the bounded pair frame.
    *
    * Scale: the sweep explodes a 9-element literal grid over the PAIR
    * frame (already bounded by true near-dup mass, never input²), and
    * both aggregations group onto ≤9 rows. The threshold compare uses
    * exactly-rounded IEEE division (t/100), identical on both sides. */
  def thresholdSweep(docs: DataFrame, floor: Double = 0.1): DataFrame = {
    val pairs = ngramJaccard(docs, simMin = floor)
    // each surviving pair contributes exactly 2 exploded doc rows, so
    // n_pairs = count/2 rides the SAME aggregation as the distinct-doc
    // count — one consumer of the pair subtree, not two
    val g = pairs.select(col("a_id"), col("b_id"), col("jaccard"),
        explode(sequence(lit(10), lit(90), lit(10))).as("t_pct"))
      .filter(col("jaccard") >= col("t_pct").cast("double") / lit(100.0))
      .select(col("t_pct"), explode(array(col("a_id"), col("b_id"))).as("d"))
    g.groupBy("t_pct")
      .agg((count(lit(1)) / lit(2)).cast("long").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
      .select(col("t_pct").cast("long").as("t_pct"), col("n_pairs"), col("n_docs"))
  }

  /** B99: substring-level duplicated-span detection via stride-1 rolling
    * token shingles — the distributed shape of exact-substring training-
    * data dedup (suffix-array ExactSubstr in the published single-machine
    * form). A `win`-token window slides one token at a time, so
    * duplication is caught at ANY alignment — unlike [[TextOps
    * .paragraphDedup]]/[[TextOps.lineFreqFilter]], whose fixed win-token
    * chunk grid (stride = win) misses a copied passage that starts
    * mid-chunk. A shingle is duplicated when its hash appears in more
    * than one DISTINCT document (within-doc repetition is
    * [[TextOps.repetitionStats]]' business, not dedup's). Per doc:
    * how many token positions sit inside at least one duplicated
    * shingle, i.e. the fraction of the document that is copied text.
    *
    * Scale: the stride-1 expansion is n_tokens rows per doc of (i, md5)
    * pairs — hashes built INSIDE `transform` so the token array never
    * replicates per shingle. Duplicate detection is one hash-partitioned
    * count-distinct on the shingle hash; the position explosion (×win)
    * runs only on duplicated occurrences, so cost tracks the dup mass,
    * not the corpus. No all-pairs path, no driver state.
    *
    * Null/short-doc totality: null text propagates null stats (same rule
    * as tokenCounts); docs shorter than `win` tokens have 0 shingles and
    * dup_token_frac 0. */
  /** The tokenized frame spanDedup/spanDedupTrim share: (doc_id, toks,
    * n_tokens), null text propagating null n_tokens. */
  private[graft] def spanToked(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    .select(col("doc_id"), col("toks"),
      size(col("toks")).cast("long").as("n_tokens"))

  /** 0-based token positions covered by at least one cross-doc duplicated
    * stride-1 shingle: (doc_id, pos), distinct. The ×win position
    * explosion runs only on duplicated occurrences, so output tracks dup
    * mass, not corpus size. */
  /** (doc_id, shingle-start i, shingle hash h) — one row per position;
    * hashes built inside transform so the token array never replicates.
    * md5 (128-bit), NOT the cheaper codegen'd xxhash64: at ~1e12 shingles
    * (the 100 TB regime) a 64-bit space expects thousands of birthday
    * collisions, each one a false duplicate mark that trims real text;
    * at 128 bits the expectation stays ~1e-15 */
  private[graft] def spanShingles(toked: DataFrame, win: Int): DataFrame =
    toked.filter(col("n_tokens") >= win)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("n_tokens") - win), i =>
          struct(i.as("i"),
            md5(concat_ws(" ", slice(col("toks"), (i + 1).cast("int"), lit(win))))
              .as("h")))).as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.h").as("h"))

  private def spanCover(toked: DataFrame, win: Int): DataFrame = {
    val sh = spanShingles(toked, win)
    val dup = sh.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("h")
    sh.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (win - 1))).as("pos"))
      .distinct()
  }

  /** Loss-mask intervals over duplicated spans (B145): merge
    * [[spanDedup]]'s duplicated-position cover set into maximal
    * contiguous [span_start, span_end) token intervals per document —
    * the input to "skip loss on memorized text" training, where the
    * document is KEPT but the duplicated passage contributes no
    * gradient (the middle ground between spanDedup's report and
    * spanDedupTrim's removal). Gaps-and-islands over the per-doc
    * position stream: one lag + one running-sum window, both bounded by
    * document length; upstream cost tracks dup mass like every span op.
    * span_id is 1-based per doc in position order. */
  def dupSpanMask(docs: DataFrame, win: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    spanCover(spanToked(docs), win)
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + 1, 1L)
          .otherwise(0L))
      .withColumn("span_id",
        sum(col("brk")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "span_id")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + 1).as("span_end"),
        count(lit(1)).as("span_len"))
  }

  def spanDedup(docs: DataFrame, win: Int = 8): DataFrame = {
    val toked = spanToked(docs)
    val cover = spanCover(toked, win)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_tokens"))
    toked.select(col("doc_id"), col("n_tokens"))
      .join(cover, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        when(col("n_tokens") >= win, col("n_tokens") - (win - 1))
          .when(col("n_tokens").isNotNull, lit(0L)).as("n_shingles"),
        when(col("n_tokens").isNotNull, coalesce(col("n_dup_tokens"), lit(0L)))
          .as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens"), 6))
          .when(col("n_tokens").isNotNull, lit(0.0)).as("dup_token_frac"))
  }

  /** B102: the trim half of substring-level dedup — rebuild each document
    * from the token positions NOT covered by any cross-doc duplicated
    * shingle. Matches the published ExactSubstr rule of removing EVERY
    * occurrence of a duplicated substring (not keep-first: the text
    * survives in no copy, which is what stops a memorized passage from
    * being seen at all during training). [[spanDedup]] is the detection
    * report over the same cover set; this emits the cleaned corpus.
    *
    * Scale: the only frames beyond [[spanCover]] are the posexploded
    * token stream (one row per token — same mass every tokenizing
    * operator here handles) anti-joined on (doc_id, pos), then one
    * per-doc aggregation rebuilding the text in position order.
    * Null text propagates null stats; a fully-duplicated doc keeps an
    * empty string, not a dropped row. */
  /** Incremental twin of [[spanDedup]] (B103) — the shape a daily-ingest
    * pipeline actually runs: only the NEW batch is shingled and reported;
    * the standing corpus contributes a distinct-hash shingle INDEX (built
    * here from `corpus`; at 100 TB it is a maintained hash-bucketed table
    * the day's probe semi-joins against, exactly [[incremental]]'s
    * anti-join posture — no corpus rescan per batch). A batch position is
    * duplicated when some covering shingle hash (a) exists in the
    * standing index, or (b) occurs in more than one distinct batch doc.
    * That rule makes the output IDENTICAL to [[spanDedup]] over
    * batch ∪ corpus restricted to batch rows (corpus-internal dup counts
    * can't matter to a batch row — only index membership can), which is
    * what the oracle asserts; the semi-join probe never pays the ×win
    * position explosion on index rows, so per-day cost tracks batch
    * shingles + probe, not corpus size. The two dup sources feed ONE
    * semi-join via union — a semi-join needs no distinct on its right
    * side. Null/short-doc totality matches [[spanDedup]]. */
  def spanDedupIncremental(newDocs: DataFrame, corpus: DataFrame,
                           win: Int = 8): DataFrame = {
    val toked = spanToked(newDocs)
    val sh = spanShingles(toked, win)
    // the standing index: distinct shingle hashes ever seen in the corpus
    val index = spanShingles(spanToked(corpus), win).select("h").distinct()
    val batchDup = sh.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("h")
    val cover = sh.join(index.union(batchDup), Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (win - 1))).as("pos"))
      .distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_tokens"))
    toked.select(col("doc_id"), col("n_tokens"))
      .join(cover, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        when(col("n_tokens") >= win, col("n_tokens") - (win - 1))
          .when(col("n_tokens").isNotNull, lit(0L)).as("n_shingles"),
        when(col("n_tokens").isNotNull, coalesce(col("n_dup_tokens"), lit(0L)))
          .as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens"), 6))
          .when(col("n_tokens").isNotNull, lit(0.0)).as("dup_token_frac"))
  }

  def spanDedupTrim(docs: DataFrame, win: Int = 8): DataFrame = {
    val toked = spanToked(docs)
    val posed = toked
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "token")))
      .select(col("doc_id"), col("pos0").cast("long").as("pos"), col("token"))
    val kept = posed.join(spanCover(toked, win), Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            p => p.getField("token"))).as("trimmed_text"))
    toked.select(col("doc_id"), col("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        when(col("n_tokens").isNotNull, coalesce(col("n_kept"), lit(0L)))
          .as("n_kept"),
        when(col("n_tokens").isNotNull, coalesce(col("trimmed_text"), lit("")))
          .as("trimmed_text"))
  }

  /** Content-defined chunking (B110): chunk boundaries fall where the
    * rolling hash of the last `w` tokens satisfies H % divisor == 0 —
    * the rsync/LBFS rule — so boundaries are determined by CONTENT, not
    * position, and an insertion or deletion reshifts only the chunk it
    * touches instead of every downstream fixed-window chunk
    * ([[graft.operators.TextOps.docChunk]]'s failure mode for
    * incremental dedup). Output: one row per chunk with its corpus-wide
    * copy count — group on `chunk_hash` to dedup at chunk granularity.
    *
    * Scale: boundary discovery is pure per-row HOF arithmetic (the
    * candidate filter and the chunk build run over BOUND attribute
    * arrays — see the shingles scaladoc for why binding matters), zero
    * shuffles; the only exchange is the corpus-wide copy count on
    * chunk_hash, whose partition sizes are bounded by dup mass. Mean
    * chunk length is `divisor` tokens; no min/max clamp, matching the
    * oracle exactly. */
  def cdcChunks(docs: DataFrame, w: Int = 8, divisor: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val n = size(col("toks"))
    // candidate end-positions w..n (Spark's sequence DESCENDS when
    // stop < start — guard to an empty array for short docs)
    val candidates =
      when(n >= w, sequence(lit(w), n)).otherwise(array().cast("array<int>"))
    val isBoundary = (p: Column) =>
      conv(substring(md5(concat_ws(" ",
        slice(col("toks"), p - (w - 1), lit(w)))), 1, 8), 16, 10)
        .cast("long") % divisor === 0
    val bpos = filter(candidates, p => isBoundary(p))
    // [0] ++ boundaries ++ [n unless n is already a boundary]; on an
    // empty bpos, element_at(-1) is NULL and `size=0 OR NULL` is true
    val bounds = concat(
      array(lit(0)), bpos,
      when(size(bpos) === 0 || element_at(bpos, -1) =!= n, array(n))
        .otherwise(array().cast("array<int>")))
    toked.select(col("doc_id"), col("toks"), bounds.as("bounds"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("bounds")) - 1), i =>
          struct(
            i.cast("long").as("chunk_id"),
            element_at(col("bounds"), i).cast("long").as("start_tok"),
            (element_at(col("bounds"), i + 1) - element_at(col("bounds"), i))
              .cast("long").as("chunk_len"),
            md5(concat_ws(" ", slice(col("toks"),
              element_at(col("bounds"), i) + 1,
              element_at(col("bounds"), i + 1) - element_at(col("bounds"), i))))
              .as("chunk_hash")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.start_tok"),
        col("c.chunk_len"), col("c.chunk_hash"))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(col("chunk_hash"))))
  }

  /** Duplicate-cluster size histogram (B109): how many near-dup clusters
    * of each size the corpus carries — the one-page dup profile a
    * curation run reports (a fat tail of large clusters means template
    * spam; all-pairs-of-2 means benign mirrors). Two bounded groupBys
    * over [[components]]' output: per-component size, then size →
    * cluster count. */
  def clusterStats(pairs: DataFrame): DataFrame =
    components(pairs)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** Per-source survivorship after exact dedup (B107): the retention
    * report a curation run publishes — how much of each source the
    * dedup pass kept. Same keeper rule as [[exact]] (min doc_id per
    * content hash) expressed as a window so `source` rides along
    * without a join back: one shuffle on content_hash for the window,
    * one tiny partial-agg shuffle on source. */
  def survivorship(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = docs
      .select(col("doc_id"), col("source"),
        md5(TextOps.cleanText(col("text"))).as("content_hash"))
      .withColumn("kept",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
    kept.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6).as("retention"))
  }

  /** LSH band-calibration table (B106): for every (rows-per-band r,
    * bands b) split of a `totalHashes` MinHash budget (r a power of
    * two, b = H/r) and a Jaccard-similarity grid s = 0.05..0.95, the
    * detection probability 1 − (1 − s^r)^b and the config's S-curve
    * threshold (1/b)^(1/r) — the table an operator consults to pick
    * (b, r) for a target similarity cutoff before launching
    * [[minhashLshPairs]] at corpus scale. Pure math over a 152-row
    * generated frame: no input table, no shuffle, and the grid is a
    * single range (i div 19, i mod 19) rather than a cross join so no
    * CartesianProduct ever appears in a graft plan. */
  def minhashBandTune(spark: org.apache.spark.sql.SparkSession,
                      totalHashes: Int = 128): DataFrame =
    spark.range(8L * 19L)
      .select(expr("id div 19").as("i"), (col("id") % 19 + 1).as("j"))
      .select(
        expr("cast(pow(2, i) as bigint)").as("rows_per_band"),
        expr(s"cast($totalHashes div cast(pow(2, i) as bigint) as bigint)").as("bands"),
        round(col("j").cast("double") / 20.0, 6).as("sim"),
        col("i"), col("j"))
      .select(col("rows_per_band"), col("bands"), col("sim"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("j").cast("double") / 20.0,
          col("rows_per_band").cast("double")), col("bands").cast("double")), 6)
          .as("p_detect"),
        round(pow(lit(1.0) / col("bands").cast("double"),
          lit(1.0) / col("rows_per_band").cast("double")), 6).as("s_threshold"))

  /** Agreement census between the two deterministic near-dup detectors
    * (B212): MinHash-banded-LSH pairs (jac >= 0.9) vs SimHash pairs
    * (hamming <= 3) — set sizes, overlap, and pair-set Jaccard. The
    * detector-choice readout: high agreement means the cheap one
    * suffices; low agreement means the thresholds measure different
    * duplications and a union gate is warranted. Both pair frames are
    * the bounded detector outputs; the overlap is one semi-join on the
    * pair key. */
  def detectorAgreement(docs: DataFrame): DataFrame = {
    // both detectors start from the same regex tokenization of the same
    // corpus: tokenize ONCE into a materialized frame and feed each
    // detector the pre-tokenized rows, so the scan + regex pass (the
    // shared front half) is paid once, not per detector.
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .transform(CacheTracker.pin)
    val m = minhashLshPairsFromToked(toked, 16, 8, 0.9)
      .select("a_id", "b_id").transform(CacheTracker.pin)
    val sp = simhashDetPairsFromToked(toked, 3)
      .select("a_id", "b_id").transform(CacheTracker.pin)
    // ONE aggregation job over the two bounded pair frames (a full outer
    // join on the pair key) instead of three separate count branches —
    // the branch structure was the other half of the official-pass
    // blowup (each branch re-ran whatever the cache had dropped).
    val u = m.withColumn("in_m", lit(1L))
      .join(sp.withColumn("in_s", lit(1L)), Seq("a_id", "b_id"), "full_outer")
    u.agg(
        coalesce(sum(col("in_m")), lit(0L)).as("n_minhash"),
        coalesce(sum(col("in_s")), lit(0L)).as("n_simhash"),
        coalesce(sum(col("in_m") * col("in_s")), lit(0L)).as("n_both"))
      .select(col("n_minhash"), col("n_simhash"), col("n_both"),
        round(when(col("n_minhash") + col("n_simhash") - col("n_both") > 0,
          col("n_both").cast("double")
            / (col("n_minhash") + col("n_simhash") - col("n_both")))
          .otherwise(lit(0.0)), 6).as("pair_jaccard"))
  }

  /** tf-weighted MinHash near-dup candidates (B240, the exponential-race
    * weighted-MinHash estimator): where [[minhashLshPairs]] treats a
    * document as a token SET, this weighs each token by its term
    * frequency and estimates WEIGHTED Jaccard Σmin(tf)/Σmax(tf) — the
    * detector that still fires when two near-dups share their heavy
    * vocabulary but differ in rare-token tails. Per (doc, hash h), the
    * signature token is argmin over the doc's tokens of
    * −ln(u_{h,token})/tf — an exponential race whose winner lands on a
    * token with probability ∝ tf, so P(sig_a == sig_b) = J_w(a, b); the
    * estimate is the fraction of agreeing hashes. u comes from md5, so
    * every engine materializes the identical signatures.
    *
    * Determinism: u = (md5_24bit + 1)/2^24 is an exact binary fraction;
    * the race priority rounds at 9 dp at creation and ties break on the
    * token, so argmin is total. Scale: the race frame is tokens×H with
    * per-(doc, h) partial min-aggregation (map-side combine, no window);
    * candidates come from BANDED buckets — two md5s over half-signature
    * winner sequences, so only docs agreeing on a whole band ever meet
    * (pigeonhole: ≥15/16 matches forces one of the two 8-hash bands to
    * agree completely), then the ≤16-element signature arrays verify the
    * exact match count. The first cut joined per-(h, winner) buckets
    * instead and read 34 s at sf0.1 on this corpus's 31-token vocabulary
    * — per-hash buckets collapse to the vocabulary and go quadratic;
    * whole-band buckets stay near-dup-selective. */
  def weightedMinhashPairs(docs: DataFrame, numHashes: Int = 16,
                           simMin: Double = 0.9): DataFrame = {
    val sigArr = wminhashSigArr(docs, numHashes).transform(CacheTracker.pin)
    val banded = wminhashBanded(sigArr, numHashes)
    val cand = banded.select(col("doc_id").as("a_id"), col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("b_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    wminhashVerify(cand, sigArr, numHashes, simMin)
  }

  /** The (doc_id, sig) H-winner signature frame — the associative
    * per-doc partial the streaming incremental twin stores per
    * micro-batch (shared so batch and streaming cannot drift). The race
    * uniform u depends ONLY on (hash, token): the vocab×H prior table
    * is computed once and joined in, instead of evaluating an md5 per
    * (doc, token, hash) row — at web scale corpus×H ≫ vocab×H, and the
    * join rides the token key the tf frame is already grouped on. */
  private[graft] def wminhashSigArr(docs: DataFrame, numHashes: Int): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.wminhashSig(col("t"), numHashes).as("sig"))

  /** The former declarative race frame (explode → vocab×H prior join →
    * per-(doc, h) min-struct → collect), kept as the independently-derived
    * twin the native expression is pinned bit-equal against in tests.
    * The expression path above replaced it for the operator because the
    * race frame was the repo's slowest bench floor: tokens×H rows through
    * two shuffled aggregations vs zero shuffles. */
  private[graft] def wminhashSigArrDeclarative(docs: DataFrame, numHashes: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val pri = tf.select("token").distinct()
      .withColumn("h", explode(expr(s"sequence(0, ${numHashes - 1})")))
      .withColumn("nlu", -log(
        (conv(substring(md5(concat_ws(":", col("h"), col("token"))), 1, 6), 16, 10)
          .cast("long") + 1L).cast("double") / (1 << 24)))
    tf.join(pri, "token")
      .withColumn("p", round(col("nlu") / col("tf"), 9))
      .groupBy("doc_id", "h")
      .agg(min(struct(col("p"), col("token"))).getField("token").as("tok"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("h"), col("tok")))).as("hw"))
      .select(col("doc_id"), transform(col("hw"), x => x.getField("tok")).as("sig"))
  }

  /** The (doc_id, band, bh) half-signature bucket rows off a signature
    * frame — the band index the streaming twin stores (shared). */
  private[graft] def wminhashBanded(sigArr: DataFrame, numHashes: Int): DataFrame = {
    val half = numHashes / 2
    sigArr.select(col("doc_id"),
      explode(array(
        struct(lit(0).as("band"),
          md5(concat_ws(" ", slice(col("sig"), 1, half))).as("bh")),
        struct(lit(1).as("band"),
          md5(concat_ws(" ", slice(col("sig"), half + 1, half))).as("bh")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Verify banded candidates against the ≤H-element signature arrays
    * (shared by the batch operator and the streaming twin). */
  private[graft] def wminhashVerify(cand: DataFrame, sigArr: DataFrame,
                                    numHashes: Int, simMin: Double): DataFrame = {
    val nMin = math.ceil(simMin * numHashes).toLong
    cand
      .join(sigArr.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigArr.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(filter(zip_with(col("a_sig"), col("b_sig"),
          (x, y) => x === y), m => m)).cast("long").as("n_match"))
      .filter(col("n_match") >= nMin)
      .select(col("a_id"), col("b_id"), col("n_match"),
        round(col("n_match").cast("double") / numHashes, 6).as("est_wjac"))
  }

  /** Planted-duplicate recall audit (B245): deterministically plant a
    * mutated near-duplicate of every document at three severities —
    * severity k drops the ~1/k of token TYPES whose md5 lands in the
    * k-bucket, so k=2 guts half the vocabulary and k=32 barely touches
    * it — run the banded MinHash detector over originals ∪ plants, and
    * report RECALL per severity. This measures what the candidate-based
    * audits (minhash_calibration's estimate-vs-exact, the threshold
    * sweep) CANNOT: a pair the banding misses never becomes a candidate,
    * so only planted ground truth exposes the detector's blind spot —
    * at mid severities the shingle Jaccard clears the threshold yet no
    * full band agrees, and recall visibly dips below 1 even above the
    * nominal cutoff. The standard commissioning test before a
    * corpus-wide dedup run.
    *
    * Determinism: the type-drop gate is md5(token) mod k, the mutant
    * text is the kept tokens re-joined (the clean chain is idempotent
    * on its own output, so both engines re-tokenize identically), and
    * the detector is the ordinary [[minhashLshPairs]]. Scale: band
    * agreement is PAIRWISE, so whether a planted pair is found does not
    * depend on the rest of the corpus — the audit therefore plants on a
    * deterministic 1-in-`sampleMod` base sample and runs the detector
    * over bases ∪ mutants only, identical recall at a fraction of the
    * cost (8.1 s unsampled → 3.8 s at sampleMod=8, sf0.1); the rollup is one
    * join against the planted pair list. */
  def plantedDupRecall(docs: DataFrame, jacMin: Double = 0.5,
                       severities: Seq[Int] = Seq(2, 8, 32),
                       sampleMod: Int = 8): DataFrame = {
    val base = docs.filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id"), col("text"))
    val plants = severities.map { k =>
      base.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(filter(TextOps.tokens(col("text")),
          t => conv(substring(md5(t), 1, 4), 16, 10).cast("long") % k =!= 0),
          " ").as("text"))
    }
    val all = (base +: plants).reduce(_ unionByName _)
    val found = minhashLshPairs(all, 16, 8, jacMin).select("a_id", "b_id")
    val planted = severities.map { k =>
      base.select(col("doc_id").as("a_id"),
        (col("doc_id") + lit(k * 10000000L)).as("b_id"),
        lit(k.toLong).as("severity"))
    }.reduce(_ unionByName _)
    planted
      .join(found.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .groupBy("severity")
      .agg(count(lit(1)).as("n_planted"),
        coalesce(sum(col("hit")), lit(0L)).as("n_found"))
      .select(col("severity"), col("n_planted"), col("n_found"),
        round(col("n_found").cast("double") / col("n_planted"), 6).as("recall"))
  }

  /** Splice detection (B239): pairs where document a's LAST `win` tokens
    * equal document b's FIRST `win` tokens — the signature of one source
    * document split across two rows (or two rows concatenated from one),
    * the boundary artifact crawl pipelines produce that none of the
    * whole-doc detectors (exact/minhash/simhash) and none of the
    * interior-span detectors (span_dedup looks at all shingles, this
    * ONLY at the two boundary shingles) are tuned to catch cheaply.
    * Each doc contributes exactly one head hash and one tail hash — two
    * narrow md5s per row, one equi-join on the hash, no explode, no
    * all-shingle frame; at 100 TB this is two corpus scans' worth of
    * 16-byte keys meeting in one shuffle. */
  def headTailOverlap(docs: DataFrame, win: Int = 8): DataFrame = {
    val base = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= win)
    val head = base.select(col("doc_id").as("b_id"),
      md5(concat_ws(" ", slice(col("t"), 1, win))).as("h"))
    val tail = base.select(col("doc_id").as("a_id"),
      md5(concat_ws(" ", slice(col("t"), -win, win))).as("h"))
    tail.join(head, "h")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        substring(col("h"), 1, 16).as("boundary_hash16"))
      .distinct()
  }
}
