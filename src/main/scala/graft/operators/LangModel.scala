package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus language-model statistics: BM25 term weighting, unigram
  * log-probability document scoring, per-document token entropy,
  * per-language KL divergence, and token-pair PMI — the statistical
  * quality / relevance signals a training-data curation pass computes
  * after TF-IDF (reference Spark/NB/src/main/scala/NB.scala:74-80 stops
  * at TF-IDF; these extend the same exploded-token frames).
  *
  * Float discipline (SURVEY.md §5): every transcendental term is rounded
  * to 6 dp BEFORE summation and sums are exact ([[Folds.exactSum]]), so
  * the result is independent of partitioning and matches the DuckDB
  * oracle's `list_reduce(list_sort(...))` at 6 dp. Integer counts stay exact at
  * any scale; ratios divide exact longs inside double range (< 2^53).
  *
  * Scale: all inputs are the (doc_id, token) exploded frame — one
  * hash-partitioned shuffle with map-side partial aggregation each; the
  * corpus-level scalars (N, total tokens, avgdl) reduce to a single row
  * that broadcasts. Nothing here holds driver-side state.
  */
object LangModel {

  /** BM25 scores per (doc_id, token) — k1/b are the standard Robertson
    * defaults. idf uses the +1 form (ln(1 + (N-df+.5)/(df+.5))) so scores
    * stay positive even for tokens in most documents.
    *
    * Shape: tf and dl aggregate from one exploded-token shuffle; df is
    * vocab-sized; the one-row corpus stats frame crossJoin-broadcasts.
    * The df join is a plain equi-join on token — AQE broadcasts it when
    * the vocabulary is small and shuffles when it is not.
    */
  def bm25(docs: DataFrame, k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val t = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val tf = t.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // dl and df re-aggregate the (doc, token) frame, not the raw exploded
    // stream — tf rows are unique per (doc, token), so df is a plain count
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // avgdl over documents that HAVE tokens: exact long sum / exact count
    val stats = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    tf.join(dl, "doc_id")
      .join(df_, "token")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(stats))
      .select(
        col("doc_id"), col("token"), col("tf"),
        round(
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf") * (k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          6).as("bm25"))
  }

  /** Per-document mean unigram log-probability — the classic cheap
    * "perplexity" quality proxy: documents of rare tokens score low,
    * boilerplate of frequent tokens scores high. p(t) is the corpus MLE
    * (exact long counts); each tf·ln p term is rounded to 6 dp, then the
    * per-doc terms sum exactly.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("token").agg(sum(col("tf")).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("total"))
    tf.join(cnt, "token")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        round(col("tf") * log(col("cnt").cast("double") / col("total")), 6).as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        Folds.exactSum(col("contrib")).as("s"))
      .select(col("doc_id"), col("n_tokens"), round(col("s"), 6).as("sum_logprob"))
      // the mean divides the 6 dp sum: s / n often lands on a 7th-decimal
      // tie, which an ulp of s would otherwise decide
      .withColumn("avg_logprob", round(col("sum_logprob") / col("n_tokens"), 6))
  }

  /** Per-document Shannon entropy of the within-doc token distribution
    * (nats). Low entropy = degenerate repetition (the signal C4-style
    * filters act on); max is ln(n_distinct). Each term is written
    * p·ln(n/tf) rather than -p·ln(p): mathematically equal, but the
    * all-non-negative form can never produce IEEE -0.0 (a single-token
    * doc under -p·ln(p) yields -(1.0)·0.0 = -0.0, which engines round
    * and hash inconsistently).
    */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("n", sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select(col("doc_id"), col("n"), col("tf"),
        round((col("tf").cast("double") / col("n")) *
          log(col("n").cast("double") / col("tf")), 6).as("contrib"))
      .groupBy("doc_id")
      .agg(first(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(Folds.exactSum(col("contrib")), 6).as("entropy"))

  /** KL divergence of each language's token distribution from the corpus
    * distribution — the drift/mixture diagnostic for a multi-language
    * corpus. Both distributions are exact-count MLEs; per-token terms are
    * rounded then summed exactly per lang. The corpus-level frame is
    * vocab-sized; the final aggregation is |langs| rows.
    */
  def langKl(docs: DataFrame): DataFrame = {
    val t = docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
    val cl = t.groupBy("lang", "token").agg(count(lit(1)).as("cnt_l"))
    val totL = cl.groupBy("lang").agg(sum(col("cnt_l")).as("tot_l"))
    // corpus counts roll up from the per-lang counts — a |langs|·|vocab|
    // shuffle instead of re-aggregating the full exploded stream
    val c = cl.groupBy("token").agg(sum(col("cnt_l")).as("cnt"))
    val tot = c.agg(sum(col("cnt")).as("total"))
    cl.join(totL, "lang")
      .join(c, "token")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("tot_l"),
        round((col("cnt_l").cast("double") / col("tot_l")) *
          log((col("cnt_l").cast("double") / col("tot_l")) /
            (col("cnt").cast("double") / col("total"))), 6).as("contrib"))
      .groupBy("lang")
      .agg(first(col("tot_l")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(Folds.exactSum(col("contrib")), 6).as("kl"))
  }

  /** Pointwise mutual information over within-document token
    * co-occurrence: pmi(a,b) = ln(n_ab·N / (df_a·df_b)) for unordered
    * distinct-token pairs co-occurring in >= minPairDocs documents.
    *
    * Shape: the distinct (doc, token) frame self-joins on doc_id with
    * token_a < token_b — per-doc work is O(u²) in the doc's distinct
    * tokens, bounded by document length, never corpus-quadratic; the
    * pair counts shuffle on the pair key with map-side partial agg. The
    * df join is vocab-sized. All counts exact longs; one ln at the end.
    */
  def tokenPmi(docs: DataFrame, minPairDocs: Int = 5): DataFrame = {
    val d = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
    val df_ = d.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = d.select(col("doc_id"), col("token").as("token_a"))
      .join(d.select(col("doc_id"), col("token").as("token_b")), "doc_id")
      .filter(col("token_a") < col("token_b"))
      .groupBy("token_a", "token_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
    pairs
      .join(df_.select(col("token").as("token_a"), col("df").as("df_a")), "token_a")
      .join(df_.select(col("token").as("token_b"), col("df").as("df_b")), "token_b")
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("n_ab"),
        round(log((col("n_ab") * col("n_docs")).cast("double") /
          (col("df_a") * col("df_b")).cast("double")), 6).as("pmi"))
  }

  /** Per-document mean bigram log-probability under an add-1-smoothed
    * corpus bigram model — the next step up from [[unigramLogprob]] as a
    * perplexity-style quality proxy (catches shuffled-token gibberish
    * that unigram statistics score as fluent).
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), where c(w1 ·) is w1's
    * count as a bigram left context and V the corpus vocabulary size.
    * All counts exact longs; each tf·ln p term rounds to 6 dp and the
    * per-doc sum is exact. Docs with fewer than two
    * tokens have no bigrams and are excluded (stated, not NULL-padded).
    * Shape: bigram counts shuffle on the pair string with map-side
    * partial agg; the context and vocab frames are vocab-bounded. */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg = toked.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
          .as("pair"))
      .groupBy("doc_id", "pair").agg(count(lit(1)).as("tf"))
    val cPair = bg.groupBy("pair").agg(sum(col("tf")).as("c_pair"))
      .withColumn("w1", split(col("pair"), " ").getItem(0))
    val cFirst = cPair.groupBy("w1").agg(sum(col("c_pair")).as("c_first"))
    val vocab = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .agg(count_distinct(col("token")).as("v"))
    bg
      .join(cPair.select(col("pair"), col("c_pair"), col("w1")), "pair")
      .join(cFirst, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("tf"),
        round(col("tf") * log((col("c_pair") + 1.0) / (col("c_first") + col("v"))), 6)
          .as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        Folds.exactSum(col("contrib")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s"), 6).as("sum_logprob"),
        round(col("s") / col("n_bigrams"), 6).as("avg_logprob"))
  }

  /** Add-k smoothed bigram language model (B55): conditional
    * log-probabilities ln((c(w1,w2)+k)/(c(w1)+k·V)) over within-doc
    * adjacent token pairs — the table a cheap perplexity scorer or
    * next-token baseline reads. Bigram extraction is narrow (zip of two
    * shifted slices, no self-join); counts partial-aggregate onto the
    * bigram vocabulary; V is a one-row broadcast. One ln per output row,
    * rounded to 6 dp, never summed — no float accumulation anywhere. */
  def bigramLm(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cBig = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val cW1 = bi.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    cBig.join(cW1, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("c_bigram"), col("c_w1"),
        round(log((col("c_bigram") + lit(k)) / (col("c_w1") + lit(k) * col("v"))), 6)
          .as("logp"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (B108) — the smoothing
    * real LM tooling ships, distinct from [[bigramLm]]'s add-k: the
    * backoff weight is the CONTINUATION probability (in how many distinct
    * contexts does w2 appear) rather than raw frequency, so "francisco"
    * (frequent but only after "san") stops stealing mass from genuinely
    * productive words. P(w2|w1) = max(c−D,0)/c(w1) + D·N1+(w1·)/c(w1) ·
    * N1+(·w2)/N1+(··), D = 0.75.
    *
    * Scale: everything derives from the bigram TYPE frame — one
    * partial-agg shuffle builds it, the history totals (c_w1, distinct
    * followers) and continuation fan-out (distinct predecessors) are
    * groupBys OVER it (vocabulary²-bounded, far smaller than the token
    * stream), and the type count is a one-row broadcast. Per-row
    * arithmetic over exact integer counts — no float aggregation, so the
    * result is partitioning-independent without any float sum. */
  def knBigram(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cBig = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val hist = cBig.groupBy("w1")
      .agg(sum(col("c_bigram")).as("c_w1"), count(lit(1)).as("n_follow"))
    val cont = cBig.groupBy("w2").agg(count(lit(1)).as("n_precede"))
    val types = cBig.agg(count(lit(1)).as("n_types"))
    // operand order mirrors the oracle SQL exactly: IEEE division is
    // deterministic only for an identical expression tree
    cBig.join(hist, "w1").join(cont, "w2").crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c_bigram"), col("c_w1"),
        round(
          greatest(col("c_bigram").cast("double") - lit(discount), lit(0.0)) / col("c_w1")
            + lit(discount) * col("n_follow") / col("c_w1") * col("n_precede") / col("n_types"),
          6).as("p_kn"))
  }

  /** Per-document negative log-likelihood under the corpus bigram LM
    * (B61) — the perplexity-proxy quality signal: documents whose token
    * transitions surprise the corpus LM (high NLL) are repetitive-noise
    * or off-distribution candidates for down-weighting. Reuses
    * [[bigramLm]] (trained on the same corpus, so every observed bigram
    * has an LM row — self-scoring needs no OOV backoff); the join is
    * vocabulary²-bounded on (w1, w2). Float discipline: logp terms are
    * 6 dp-rounded in the LM, per-doc sums are exact, and
    * the final mean divides the rounded sum once. */
  def docPerplexity(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val lm = bigramLm(docs, k).select(col("w1"), col("w2"), col("logp"))
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    bi.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(Folds.exactSum(col("logp")), 6).as("sum_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_logp"),
        round(-col("sum_logp") / col("n_bigrams"), 6).as("nll"))
  }

  /** DSIR-style importance-resampling weights (B58): per-document
    * log-likelihood ratio between a TARGET unigram LM (here: the
    * `lang = targetLang` slice — in production, the high-quality domain
    * you want more of) and the general corpus LM, with add-1 smoothing
    * over the corpus vocabulary. Documents that look like the target
    * score high; sampling proportional to exp(weight) shifts the
    * mixture toward the target domain without a trained classifier.
    *
    * Float discipline: each token's tf·ln(ratio) contribution is rounded
    * to 6 dp, per-doc sums are exact. Count frames are
    * exact longs; the two LM tables are vocabulary-sized and broadcast
    * via AQE. */
  def importanceWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"),
      explode(TextOps.tokens(col("text"))).as("token"))
    val tf = t.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val general = t.groupBy("token").agg(count(lit(1)).as("c_g"))
    val target = t.filter(col("lang") === targetLang)
      .groupBy("token").agg(count(lit(1)).as("c_t"))
    val totals = general.agg(
      sum(col("c_g")).as("tot_g"),
      count(lit(1)).as("v"))
    // coalesce: a corpus with no targetLang docs must yield tot_t = 0, not
    // NULL (the DuckDB oracle coalesces the same way)
    val totalT = target.agg(coalesce(sum(col("c_t")), lit(0L)).as("tot_t"))
    val lm = general
      .join(target, Seq("token"), "left")
      .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(totalT))
    val contrib = tf.join(lm, "token")
      .select(col("doc_id"), col("tf"),
        round(col("tf") * log(
          ((col("c_t") + lit(1)).cast("double") / (col("tot_t") + col("v")).cast("double"))
            / ((col("c_g") + lit(1)).cast("double") / (col("tot_g") + col("v")).cast("double"))),
          6).as("contrib"))
    contrib.groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(Folds.exactSum(col("contrib")), 6).as("log_ratio"))
  }

  /** Reciprocal-rank fusion of two retrieval signals (B56): a BM25
    * ranking for a fixed query against a lexicon-free quality ranking,
    * fused as Σ 1/(60+rank) — the standard zero-tuning hybrid-retrieval
    * combiner. Each ranking is a row_number over (score desc, doc_id),
    * so ties are deterministic; the BM25 query score sums at most
    * |queryTokens| pre-rounded terms per doc (two here — FP addition of
    * two terms is commutative, so the hash-exact oracle needs no sorted
    * fold). The global row_number windows are single-partition: at
    * cluster scale this operator runs per query over an ANN/inverted
    * candidate set (bounded), not the whole corpus — the corpus-wide
    * form here is the verification surface. */
  def rrfFusion(docs: DataFrame, queryTokens: Seq[String] = Seq("data", "table"),
                kRrf: Int = 60, topK: Int = 50): DataFrame = {
    val bm = bm25(docs)
      .filter(col("token").isin(queryTokens: _*))
      .groupBy("doc_id").agg(sum(col("bm25")).as("bm_score"))
    // NOT persisted: each rank pass (plus its range-partitioner sampling
    // job) recomputes its input, but the A/B (×3, BASELINE.md round 9)
    // measured MEMORY_AND_DISK persist at 5.3 s vs 3.3 s recomputed —
    // the same recompute-beats-persist result as the three round-8 A/Bs.
    // Instead the two rank inputs carry DISJOINT lineages: the quality
    // rank never executes the BM25 chain and vice versa (a shared
    // quality⋈bm frame would re-run BOTH chains under each of the four
    // jobs). The bm left join preserves rows, so ranking the halves
    // separately is order-identical to ranking the joined frame.
    val universe = docs.select(col("doc_id"))
    // Both rank lists run over the PER-DOC frame (grows with the corpus),
    // so each is a range-partitioned two-pass rank, not a single-partition
    // global window; they recombine on doc_id.
    val byBm = Ranks.withGlobalRowNumber(
        universe.join(bm, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("bm_score"), lit(0.0)).as("bm_score")),
        "r_bm25", "_n", Seq(col("bm_score").desc, col("doc_id")))
      .select(col("doc_id"), col("r_bm25").cast("long").as("r_bm25"))
    val byQ = Ranks.withGlobalRowNumber(
        TextOps.qualityScore(docs).select(col("doc_id"), col("quality")),
        "r_quality", "_n", Seq(col("quality").desc, col("doc_id")))
      .select(col("doc_id"), col("r_quality").cast("long").as("r_quality"))
    byBm.join(byQ, "doc_id")
      .select(col("doc_id"), col("r_bm25"), col("r_quality"),
        round(lit(1.0) / (lit(kRrf) + col("r_bm25"))
          + lit(1.0) / (lit(kRrf) + col("r_quality")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** BM25 keyword search (B82): score every document against a literal
    * query (sum of its [[bm25]] weights for the query terms it
    * contains), return the global top-k — the retrieval API over the
    * same weighting the ranking ops use. The per-doc sum adds the ≤
    * |query| rounded terms exactly; the global top-k plans as
    * TakeOrderedAndProject (per-partition heads, single tiny merge —
    * never a full sort) with ties broken on doc_id. */
  def bm25Search(docs: DataFrame, query: Seq[String] = Seq("query", "join", "scan"),
                 topK: Int = 10): DataFrame =
    bm25(docs)
      .filter(col("token").isInCollection(query))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_matched"),
        round(Folds.exactSum(col("bm25")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)

  /** Rank-biased overlap between two retrieval rankings (B268, Webber
    * et al. 2010): the top-weighted list-similarity measure IR uses to
    * compare rankers where Kendall/Spearman mis-weight the tail — here
    * the BM25 top-k against a plain term-frequency top-k for the same
    * query, truncated RBO@k with persistence `p` (each depth d
    * contributes (1−p)·p^(d−1)·|prefix∩|/d). High RBO says the idf
    * weighting isn't changing what the user actually sees; the
    * complement of [[queryExpansion]]'s recall lever. Everything after
    * the two top-k's (TakeOrdered heaps) is ≤ 2k rows — the depth
    * explode, prefix-overlap counts and the k-term weighted fold are
    * all constant-bounded. */
  def rboRankers(docs: DataFrame, query: Seq[String] = Seq("query", "join", "scan"),
                 k: Int = 10, p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ra = bm25Search(docs, query, k)
      .withColumn("ra", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "ra")
    val rb = docs
      .select(col("doc_id"),
        size(filter(TextOps.tokens(col("text")), t => t.isInCollection(query)))
          .cast("long").as("tf"))
      .filter(col("tf") > 0)
      .orderBy(col("tf").desc, col("doc_id")).limit(k)
      .withColumn("rb", row_number()
        .over(Window.orderBy(col("tf").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rb")
    val joined = ra.join(rb, Seq("doc_id"), "full_outer")
      .select(coalesce(col("ra"), lit(Long.MaxValue)).as("ra2"),
        coalesce(col("rb"), lit(Long.MaxValue)).as("rb2"))
    val dseq = docs.sparkSession.range(1, k + 1).select(col("id").as("d"))
    val xd = joined.crossJoin(broadcast(dseq))
      .filter(col("ra2") <= col("d") && col("rb2") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("x"))
    val ad = dseq.join(xd, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"))
      .select(col("d"), col("x"),
        round(pow(lit(p), col("d") - 1) * col("x").cast("double") / col("d"), 9)
          .as("term"))
    ad.agg(
        max(when(col("d") === k, col("x"))).as("overlap_at_k"),
        round(lit(1.0 - p) * Folds.exactSum(col("term")), 6).as("rbo_trunc"))
      .select(lit(k.toLong).as("k"), col("overlap_at_k"), col("rbo_trunc"))
  }

  /** Pseudo-relevance-feedback query expansion (B133): run the fixed
    * query through BM25, take the top `fb` feedback documents, and score
    * every non-query term by its summed BM25 weight ACROSS the feedback
    * set (the Rocchio/RM1 shape) — the classic recall lever when the
    * original terms under-describe the intent. Emits the top `k`
    * expansion terms with their feedback weight and rank.
    *
    * Scale posture: the feedback set is bounded (`fb` rows), so the
    * candidate-term frame is bounded by fb × per-doc vocabulary — every
    * window here ranks a feedback-bounded frame, never the corpus; the
    * corpus-sized work is exactly one [[bm25]] pass reused for both
    * stages. */
  def queryExpansion(docs: DataFrame, query: Seq[String] = Seq("query", "join", "scan"),
                     fb: Int = 10, k: Int = 5): DataFrame = {
    val weights = CacheTracker.cache(bm25(docs))
    // matched docs are corpus-sized (term df): top-fb via orderBy+limit,
    // which plans a distributed TakeOrdered heap — never a global window
    val feedback = weights
      .filter(col("token").isInCollection(query))
      .groupBy("doc_id")
      .agg(round(Folds.exactSum(col("bm25")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(fb)
      .select("doc_id")
    // candidate terms bound by fb × per-doc vocab: the ranking window
    // runs on a feedback-bounded frame, not the corpus
    val wExp = org.apache.spark.sql.expressions.Window
      .orderBy(col("rsv").desc, col("token"))
    weights
      .join(broadcast(feedback), "doc_id")
      .filter(!col("token").isInCollection(query))
      .groupBy("token")
      .agg(round(Folds.exactSum(col("bm25")), 6).as("rsv"))
      .withColumn("rank", row_number().over(wExp).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Retrieval-quality evaluation (B129): MRR@k and NDCG@k of the BM25
    * ranking over a fixed two-query workload — the eval gate a training-
    * data pipeline runs before trusting its retrieval stack (what
    * ann_recall is to the ANN index, this is to lexical search).
    * Relevance is deterministic "coverage grading": rel(q, d) = number
    * of DISTINCT query terms appearing in d (fully relevant = all
    * terms), so the qrels need no human labels and replay exactly in
    * SQL. DCG uses the natural-log discount Σ rel/ln(rank+1) (ln is
    * bit-stable across engines where log2 is not); MRR@k takes the
    * first FULLY-relevant hit. Each DCG term rounds to 9 dp and folds
    * over a sorted ≤k-element list.
    *
    * Scale posture: candidate docs (those matching ≥1 term) shrink to
    * the top-k per query through the TopKPerKey heap BEFORE any window
    * ranks them, for both the BM25 and the ideal ordering — the
    * corpus-sized graded frame is never sorted. */
  def searchEval(docs: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = broadcast(Seq(
      1L -> "query", 1L -> "join", 1L -> "scan",
      2L -> "data", 2L -> "table").toDF("query_id", "token"))
    val qn = broadcast(qdf.groupBy("query_id")
      .agg(count_distinct(col("token")).as("q_n")))
    val scores = bm25(docs).join(qdf, "token")
      .groupBy("query_id", "doc_id")
      .agg(round(Folds.exactSum(col("bm25")), 6).as("score"))
    val relv = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(qdf, "token")
      .groupBy("query_id", "doc_id")
      .agg(count_distinct(col("token")).as("rel"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    val topk = graft.plans.TopK.topKPerKey(
        scores, Seq("query_id"), Seq("score" -> false, "doc_id" -> true), k)
      .withColumn("rnk", row_number().over(wS).cast("long"))
      .filter(col("rnk") <= k)
      .join(relv, Seq("query_id", "doc_id"))
    def dcgTerm(rel: org.apache.spark.sql.Column, rnk: org.apache.spark.sql.Column) =
      round(rel.cast("double") / log((rnk + 1).cast("double")), 9)
    val dcg = topk
      .groupBy("query_id")
      .agg(round(Folds.exactSum(dcgTerm(col("rel"), col("rnk"))), 6).as("dcg"))
    val mrr = topk.join(qn, "query_id")
      .groupBy("query_id")
      .agg(coalesce(round(lit(1.0) /
        min(when(col("rel") === col("q_n"), col("rnk"))), 6), lit(0.0)).as("mrr"))
    val wI = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rel").desc, col("doc_id"))
    val idcg = graft.plans.TopK.topKPerKey(
        relv, Seq("query_id"), Seq("rel" -> false, "doc_id" -> true), k)
      .withColumn("irnk", row_number().over(wI).cast("long"))
      .filter(col("irnk") <= k)
      .groupBy("query_id")
      .agg(round(Folds.exactSum(dcgTerm(col("rel"), col("irnk"))), 6).as("idcg"))
    dcg.join(mrr, "query_id").join(idcg, "query_id")
      .select(col("query_id"), col("mrr"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  /** Zipf's law of abbreviation fit (B199): OLS slope of token LENGTH
    * on ln(frequency) over the vocabulary — natural language keeps its
    * frequent words short (negative slope); a corpus that loses the
    * effect is ID dumps, hashes or template noise wearing a language
    * tag. Same vocab-bounded exact-sum OLS discipline as
    * [[zipfSlope]] (which fits rank–frequency; this fits the
    * length–frequency law), 9 dp terms, 6 dp coefficients. */
  def zipfAbbreviation(docs: DataFrame): DataFrame = {
    docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .select(round(log(col("cnt").cast("double")), 9).as("x"),
        length(col("token")).cast("double").as("y"))
      .agg(count(lit(1)).as("n_tokens"),
        Folds.exactSum(col("x")).as("sx"), Folds.exactSum(col("y")).as("sy"),
        Folds.exactSum(round(col("x") * col("y"), 9)).as("sxy"),
        Folds.exactSum(round(col("x") * col("x"), 9)).as("sxx"))
      .filter(col("n_tokens") > 1
        && col("n_tokens") * col("sxx") - col("sx") * col("sx") =!= 0.0)
      .select(col("n_tokens"),
        round((col("n_tokens") * col("sxy") - col("sx") * col("sy"))
          / (col("n_tokens") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope_len_per_lnf"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          / (col("n_tokens") * col("sxx") - col("sx") * col("sx")), 6)
          .as("intercept_len"))
  }

  /** Greedy generation from the corpus bigram LM (B195): the sanity
    * check every n-gram LM gets — start at the corpus's most frequent
    * token and follow the argmax next-token edge for `steps` steps
    * (ties lexicographic), emitting (step, token, count). Degenerate
    * loops ("the → of → the …") are the EXPECTED reading: they show
    * what greedy decoding does to an order-2 model, and the emitted
    * chain is the fixture for decoder tests. The chain state is ≤
    * steps+1 (step, token, cnt) rows — definitionally bounded at ANY
    * corpus size — so it rides driver-side under the markov_attribution
    * license (Sessionize.markovAttribution's states²-bounded collect):
    * each step is ONE filter probe of the pinned bigram table planned
    * as TakeOrderedAndProject(1) with a literal predicate — no
    * broadcast build, no per-step localCheckpoint job. This replaces
    * the r16 shape (11 eager checkpoints + a broadcast per step, 30
    * scheduler jobs, 14.6 s solo for a 1-row-per-step chain — verdict
    * r16 #4) with steps+2 minimal jobs; values are unchanged because
    * each probe runs the same (cnt DESC, w2 ASC) argmax on the same
    * pinned table. */
  def bigramGreedyGen(docs: DataFrame, steps: Int = 10): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
    val uni = toked.select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val bi = CacheTracker.cache(toked.filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt")))
    bi.count()
    val chain = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    uni.orderBy(col("cnt").desc, col("token")).limit(1)
      .collect().foreach(r => chain += ((0, r.getString(0), r.getLong(1))))
    var k = 1
    while (k <= steps && chain.length == k) {
      // literal-predicate probe: a narrow filter over the cached bigram
      // table + TakeOrdered(1) — a dead end (no out-edges) ends the
      // chain exactly like the old empty-join-empty-union shape did.
      bi.filter(col("w1") === lit(chain(k - 1)._2))
        .orderBy(col("cnt").desc, col("w2")).limit(1)
        .select(col("w2"), col("cnt"))
        .collect().foreach(r => chain += ((k, r.getString(0), r.getLong(1))))
      k += 1
    }
    val spark = docs.sparkSession
    import spark.implicits._
    spark.createDataset(chain.toSeq).toDF("step", "token", "cnt")
  }

  /** Jensen–Shannon divergence matrix between language pairs (B194):
    * the symmetric, bounded [0, ln 2] distance between every two
    * languages' unigram distributions — the mixture-design view of
    * "how different are these slices really" (lang_kl measures each
    * lang against the corpus; JS compares langs to EACH OTHER and
    * doesn't blow up on disjoint support). Shares round at 9 dp,
    * contributions sum exactly per pair (lang_kl's vocab-bounded
    * discipline), result at 6 dp. One token shuffle; everything after
    * lives on (pair, vocab)-keyed frames. */
  def langJsMatrix(docs: DataFrame): DataFrame = {
    val cl = docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val tl = cl.groupBy("lang").agg(sum(col("cnt")).as("tot"))
    val sh = cl.join(tl, "lang")
      .select(col("lang"), col("token"),
        round(col("cnt").cast("double") / col("tot"), 9).as("p"))
    val langs = tl.select(col("lang"))
    val pairs = broadcast(langs.select(col("lang").as("lang_a"))
      .crossJoin(langs.select(col("lang").as("lang_b")))
      .filter(col("lang_a") < col("lang_b")))
    val aexp = pairs.join(
      sh.select(col("lang").as("lang_a"), col("token"), col("p").as("pa")),
      "lang_a")
    val bexp = pairs.join(
      sh.select(col("lang").as("lang_b"), col("token"), col("p").as("pb")),
      "lang_b")
    val joined = aexp.join(bexp, Seq("lang_a", "lang_b", "token"), "full_outer")
      .select(col("lang_a"), col("lang_b"),
        coalesce(col("pa"), lit(0.0)).as("p"),
        coalesce(col("pb"), lit(0.0)).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("contrib", round(
        when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0.0))
          + when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(lit(0.0)),
        9))
    joined.groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_tokens_union"),
        round(lit(0.5) * Folds.exactSum(col("contrib")), 6).as("js"))
  }

  /** Nucleus (top-p) vocabulary truncation per language (B181): the
    * smallest count-ranked prefix of each language's vocabulary whose
    * mass reaches `p` — how many types a tokenizer actually needs per
    * language, and how top-heavy each language's distribution is (a
    * CJK-like lang keeps a far larger share than English at the same
    * p). A token is kept iff the mass BEFORE it is < p·total (the
    * standard nucleus rule, so the crossing token is included).
    *
    * Scale: per-language rank+cumsum ride
    * [[Ranks.withGroupedRankCumSum]] — the grouped two-pass range
    * machinery — because a `Window.partitionBy(lang)` puts an entire
    * language's vocabulary (data-sized: typos/IDs grow it with the
    * corpus) into one task. (cnt desc, token) is a total order within
    * a language. */
  def vocabTopP(docs: DataFrame, p: Double = 0.9): DataFrame = {
    val cnt = docs
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    Ranks.withGroupedRankCumSum(cnt, Seq("lang"), "cnt", "rnk", "cum", "tot",
        Seq(col("cnt").desc, col("token")))
      .withColumn("kept",
        (col("cum") - col("cnt")).cast("double") < lit(p) * col("tot"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("kept"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("kept_share"),
        round(sum(when(col("kept"), col("cnt")).otherwise(0L)).cast("double")
          / max(col("tot")), 6).as("mass_kept"))
  }

  /** Zipf exponent fit (B89): OLS slope of ln(frequency) on ln(rank)
    * over the corpus vocabulary — the power-law health check (natural
    * corpora sit near −1; pathological or synthetic mixes drift). Ranks
    * assign on the vocab-sized frame (count desc, token ties); each ln
    * rounds to 9 dp and every double sum is exact, so the closed-form
    * slope/intercept are partition-independent. */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val cnt = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // rank via the two-pass range-partitioned machinery: the vocabulary
    // GROWS with the corpus (billions of distinct tokens at web scale —
    // typos, IDs), so an unpartitioned Window here would land the whole
    // vocab on one task. (cnt desc, token) is a total order → the
    // composed rank is cut-placement-free.
    Ranks.withGlobalRowNumber(cnt, "rnk", "_n",
        Seq(col("cnt").desc, col("token")))
      .select(
        round(log(col("rnk").cast("double")), 9).as("x"),
        round(log(col("cnt").cast("double")), 9).as("y"))
      .agg(
        count(lit(1)).as("n_tokens"),
        Folds.exactSum(col("x")).as("sx"), Folds.exactSum(col("y")).as("sy"),
        Folds.exactSum(round(col("x") * col("y"), 9)).as("sxy"),
        Folds.exactSum(round(col("x") * col("x"), 9)).as("sxx"))
      // a 1-token vocabulary has no rank spread: the OLS denominator is
      // exactly 0 and the slope undefined — emit nothing, loudly typed
      .filter(col("n_tokens") > 1)
      .select(col("n_tokens"),
        round((col("n_tokens") * col("sxy") - col("sx") * col("sy"))
          / (col("n_tokens") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          / (col("n_tokens") * col("sxx") - col("sx") * col("sx")), 6).as("intercept"))
  }

  /** Per-source language-diversity entropy (B88): H = −Σ p·ln p over
    * the source's language mix — the corpus-composition monitor next to
    * [[langKl]]'s distribution drift. Counts are exact longs off one
    * tiny (source, lang) aggregate; each −p·ln p term rounds to 6 dp
    * and the ≤|langs| terms sum exactly, the house transcendental
    * discipline. */
  def sourceLangEntropy(docs: DataFrame): DataFrame = {
    val c = docs.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
    val tot = c.groupBy("source").agg(sum(col("cnt")).as("n_docs"))
    c.join(tot, "source")
      .select(col("source"), col("n_docs"),
        round(-(col("cnt").cast("double") / col("n_docs")) *
          log(col("cnt").cast("double") / col("n_docs")), 6).as("term"))
      .groupBy("source")
      .agg(first(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(Folds.exactSum(col("term")), 6).as("entropy"))
  }

  /** Token burstiness (B83): the index of dispersion (variance/mean) of
    * a token's per-document term frequency over the documents that
    * CONTAIN it. Burstiness separates topical tokens (arrive in bursts
    * — high dispersion) from function words (sprinkled evenly — low),
    * the signal df alone cannot see. Count/sum/sum-of-squares are exact
    * longs off one partial-aggregated shuffle; mean and variance derive
    * with the same expression order as the oracle. tf² stays far below
    * long range (tf is bounded by document length). */
  def tokenBurstiness(docs: DataFrame, minDf: Int = 5): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .groupBy("token").agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("s"),
        sum(col("tf") * col("tf")).as("ss"))
      .filter(col("df") >= minDf)
      .withColumn("mean_tf", col("s").cast("double") / col("df"))
      .select(col("token"), col("df"),
        round(col("mean_tf"), 6).as("mean_tf"),
        round(
          ((col("ss").cast("double") - col("s").cast("double") * col("s") / col("df"))
            / col("df")) / col("mean_tf"), 6).as("burstiness"))

  /** CCNet-style per-language perplexity buckets (B100): documents split
    * into head / middle / tail by corpus-LM NLL WITHIN their language —
    * the published CCNet curation move (Wenzek et al. 2019), where "head"
    * (lowest perplexity = most in-distribution) feeds training first.
    * Thresholds are per-language because NLL scales differ by language;
    * quartile cuts here (head ≤ p25 < middle ≤ p75 < tail) — CCNet's
    * thirds shifted to exactly-representable quantile points so the
    * interpolation arithmetic cannot drift between engines.
    *
    * Reuses [[docPerplexity]]'s bigram-LM NLL unchanged (docs with < 2
    * tokens have no NLL and no bucket, same domain rule). The threshold
    * frame is |languages| rows and broadcasts; the exact `percentile`
    * aggregate holds per-lang value counts — at 100 TB the thresholds
    * would come from `approx_percentile` or a sample, as CCNet itself
    * computes them on a held-out slice. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val scored = docPerplexity(docs).select(col("doc_id"), col("nll"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val thresholds = scored.groupBy("lang").agg(
      round(percentile(col("nll"), lit(0.25)), 6).as("p25"),
      round(percentile(col("nll"), lit(0.75)), 6).as("p75"))
    scored.join(broadcast(thresholds), "lang")
      .select(col("doc_id"), col("lang"), col("nll"),
        when(col("nll") <= col("p25"), "head")
          .when(col("nll") <= col("p75"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Held-out perplexity (B121): an add-k bigram LM trained on the TRAIN
    * split (doc_id % 4 < 3, the [[graft.ml.Sentiment]] split rule)
    * scores the TEST split — the generalization measurement
    * [[docPerplexity]]'s self-scoring cannot give, and the actual shape
    * of a CCNet/KenLM-style quality filter (LM trained on a trusted
    * corpus, applied to candidate text it has never seen). Unlike the
    * self-scored twin, test bigrams may be unseen: the LEFT joins
    * coalesce absent counts to 0 and add-k smoothing stays defined all
    * the way down (unseen w1 ⇒ p = 1/V), with `n_oov` counting the
    * unseen-bigram hits per document — the OOV-rate column a filter
    * thresholds alongside nll.
    *
    * Scale: LM frames are vocabulary²-bounded and AQE-broadcast against
    * the test bigram stream; the vocab total is one broadcast row.
    * Float discipline: each logp is rounded 6 dp per row, per-doc sums
    * are exact, the final mean divides once. */
  def heldoutPerplexity(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val toked = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) < 3, lit("train")).otherwise(lit("test"))
          .as("split"),
        TextOps.tokens(col("text")).as("toks"))
    val bi = toked.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("split"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("split"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val train = bi.filter(col("split") === "train")
    val cb = train.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val cw = train.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    // train vocab over the full token stream (not just bigram heads), so
    // V matches what a tokenizer trained on the split would see
    val v = toked.filter(col("split") === "train")
      .select(explode(col("toks")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    bi.filter(col("split") === "test")
      .join(cb, Seq("w1", "w2"), "left").na.fill(0L, Seq("c_bigram"))
      .join(cw, Seq("w1"), "left").na.fill(0L, Seq("c_w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(log((col("c_bigram").cast("double") + lit(k))
          / (col("c_w1").cast("double") + lit(k) * col("v"))), 6).as("logp"),
        when(col("c_bigram") === 0L, lit(1L)).otherwise(lit(0L)).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        round(Folds.exactSum(col("logp")), 6).as("sum_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("sum_logp"),
        round(-col("sum_logp") / col("n_bigrams"), 6).as("nll"))
  }

  /** Stupid-backoff trigram scoring (B142, Brants et al. 2007): score
    * each held-out document's trigrams against counts from the train
    * split (same doc_id%4 split as [[heldoutPerplexity]]) with the
    * unnormalized backoff chain
    * s = c123/c12• | α·c23/c2• | α²·(c3+1)/(N+V) — the web-scale LM
    * score that needs no discounting pass, exactly why it suits a
    * count-it-in-one-shuffle engine. Emits per-doc mean log-score plus
    * how many trigrams resolved at each backoff depth (the LM-coverage
    * audit). The last level is add-one smoothed so unseen words score
    * finite.
    *
    * Scale: three count tables (trigram/bigram/unigram) from partial-agg
    * shuffles; context totals reuse the same tables; the score join is
    * hash-partitioned on the n-gram key. Per-doc log sums are exact
    * (9 dp terms). */
  def stupidBackoff(docs: DataFrame, alpha: Double = 0.4): DataFrame = {
    val toked = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) < 3, lit("train")).otherwise(lit("test"))
          .as("split"),
        TextOps.tokens(col("text")).as("toks"))
    def ngrams(n: Int) = {
      val parts = (1 to n).map(i =>
        slice(col("toks"), lit(i), size(col("toks")) - (n - 1)))
      toked.filter(size(col("toks")) >= n)
        .select(col("doc_id"), col("split"),
          explode(arrays_zip(parts: _*)).as("g"))
        .select((col("doc_id") +: col("split") +:
          (0 until n).map(i => col(s"g.$i").as(s"w${i + 1}"))): _*)
    }
    val train3 = ngrams(3).filter(col("split") === "train")
    val c3g = train3.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
    val c3ctx = c3g.groupBy("w1", "w2").agg(sum(col("c123")).as("c12"))
    val train2 = ngrams(2).filter(col("split") === "train")
    val c2g = train2.groupBy(col("w1").as("w2"), col("w2").as("w3"))
      .agg(count(lit(1)).as("c23"))
    val c2ctx = c2g.groupBy("w2").agg(sum(col("c23")).as("c2"))
    val uniT = toked.filter(col("split") === "train")
      .select(explode(col("toks")).as("w3"))
    val c1g = uniT.groupBy("w3").agg(count(lit(1)).as("c3"))
    val nv = uniT.agg(count(lit(1)).as("n_uni"),
      countDistinct(col("w3")).as("v"))
    val test = ngrams(3).filter(col("split") === "test")
    test
      .join(c3g, Seq("w1", "w2", "w3"), "left")
      .join(c3ctx, Seq("w1", "w2"), "left")
      .join(c2g, Seq("w2", "w3"), "left")
      .join(c2ctx, Seq("w2"), "left")
      .join(c1g, Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc_id"),
        when(col("c123").isNotNull, 0L)
          .when(col("c23").isNotNull, 1L).otherwise(2L).as("lvl"),
        round(log(
          when(col("c123").isNotNull,
            col("c123").cast("double") / col("c12"))
          .when(col("c23").isNotNull,
            lit(alpha) * col("c23") / col("c2"))
          .otherwise(lit(alpha * alpha) * (coalesce(col("c3"), lit(0L)) + 1)
            / (col("n_uni") + col("v")))), 9).as("logs"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_backoff1"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_backoff2"),
        round(Folds.exactSum(col("logs")), 6).as("sum_logs"))
      .select(col("doc_id"), col("n_trigrams"), col("n_backoff1"),
        col("n_backoff2"), col("sum_logs"),
        round(col("sum_logs") / col("n_trigrams"), 6).as("mean_logs"))
  }

  /** Corpus conditional bigram entropy H(w₂|w₁) (B157): the entropy-rate
    * companion to [[tokenEntropy]]'s unigram view — how predictable is
    * the next token given the current one, corpus-wide. Written as
    * −Σ c₁₂·ln(c₁₂/c₁) / N over bigram TYPES (all counts exact BIGINTs),
    * each 6 dp contribution summed exactly. Reported next to the
    * counts so perplexity falls out downstream. */
  def bigramCondEntropy(docs: DataFrame): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cBig = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cW1 = cBig.groupBy("w1").agg(sum(col("c12")).as("c1"))
    cBig.join(cW1, "w1")
      .agg(sum(col("c12")).as("n_bigrams"), count(lit(1)).as("n_bigram_types"),
        round(Folds.exactSum(
          round(col("c12") * log(col("c12").cast("double") / col("c1")), 6)), 6).as("s"))
      .select(col("n_bigrams"), col("n_bigram_types"),
        round(-col("s") / col("n_bigrams"), 6).as("h_cond"))
  }

  /** Top-50 corpus trigrams (B155) — the WIMBD-style "what's actually in
    * this corpus" inspection: most common 3-grams with counts and corpus
    * share. Spark plans the global top-k as TakeOrderedAndProject (heap
    * per partition, merge of 50-row heaps — never a full sort of the
    * trigram frame); ties break lexicographically. */
  def trigramTopk(docs: DataFrame, k: Int = 50): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val tri = toked.select(explode(expr(
      "transform(sequence(1, size(toks) - 2), i -> " +
        "concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))")).as("trigram"))
    val counts = tri.groupBy("trigram").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    counts.orderBy(col("cnt").desc, col("trigram")).limit(k)
      .crossJoin(broadcast(tot))
      .select(col("trigram"), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("share"))
  }

  /** Hill tail-index estimator over the token frequency distribution
    * (B156): α̂ = 1 / mean(ln(x_i / x_k)) over the top-(k−1) counts
    * against the k-th — the standard heavy-tail exponent estimate,
    * [[zipfSlope]]'s order-statistics sibling (the regression uses the
    * whole curve; Hill uses only the tail where the power law actually
    * holds). Counts are exact BIGINTs; each ln-ratio term rounds at
    * 6 dp and the ≤(k−1)-element mean is an exact sum; degenerate tails
    * (all-equal counts, vocab < 2) report 0.
    *
    * Scale: the only data-sized pass is the token count shuffle; the
    * top-k is TakeOrdered (bounded heaps), everything after lives on a
    * ≤k-row frame. */
  def hillTailIndex(docs: DataFrame, k: Int = 100): DataFrame = {
    val counts = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    val ranked = top.withColumn("rk", row_number().over(w).cast("long"))
    val kth = ranked.agg(max(col("rk")).as("k_used"),
      min(col("cnt")).as("x_k"))
    val terms = ranked.crossJoin(broadcast(kth))
      .filter(col("rk") < col("k_used"))
      .select(col("k_used"), col("x_k"),
        round(log(col("cnt").cast("double") / col("x_k")), 6).as("term"))
    terms.groupBy("k_used", "x_k")
      .agg(count(lit(1)).as("n_terms"),
        round(Folds.exactSum(col("term")), 6).as("s"))
      .select(col("k_used"), col("x_k"), col("n_terms"),
        when(col("s") > 0, round(col("n_terms").cast("double") / col("s"), 6))
          .otherwise(lit(0.0)).as("hill_alpha"))
  }

  /** One DoReMi-style mirror-descent step on domain mixture weights
    * (B154): per source-domain, the mean token NLL under the GLOBAL
    * unigram LM is the "excess loss" proxy; weights start at token share
    * and update w′_d ∝ w_d·exp(η·loss_d), renormalized — the
    * multiplicative-weights reweighting that shifts a training mixture
    * toward the domains the model finds hardest, completing the mixture
    * family (weights/sample/epoch give static mixtures; this adapts
    * them).
    *
    * Float discipline: per-(source, token) contributions round at 6 dp
    * and sum exactly; loss and the exp-update round at 9 dp; the
    * normalizer is an exact sum over the domains. Scale: two
    * token-keyed shuffles + domain-bounded frames; nothing data-sized
    * sits in one buffer or window. */
  def doremiStep(docs: DataFrame, eta: Double = 0.1): DataFrame = {
    val tok = docs.select(col("source"),
      explode(TextOps.tokens(col("text"))).as("token"))
    val sf = tok.groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val cnt = sf.groupBy("token").agg(sum(col("tf")).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("total"))
    val dom = sf.join(cnt, "token").crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(sum(col("tf")).as("n_tokens"),
        round(Folds.exactSum(
          round(col("tf") * log(col("cnt").cast("double") / col("total")), 6)), 6).as("s"))
      .select(col("source"), col("n_tokens"),
        round(-col("s") / col("n_tokens"), 9).as("loss"))
    val w = dom.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("loss"),
        round(col("n_tokens").cast("double") / col("total"), 9).as("w0"))
      .withColumn("w_up", round(col("w0") * exp(lit(eta) * col("loss")), 9))
    val z = w.agg(Folds.exactSum(col("w_up")).as("z"))
    w.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), round(col("loss"), 6).as("loss"),
        round(col("w0"), 6).as("w0"),
        round(col("w_up") / col("z"), 6).as("w_new"))
  }

  /** Jelinek-Mercer interpolated bigram scoring of held-out text (B167):
    * P(w2|w1) = λ·c(w1w2)/c(w1) + (1−λ)·(c(w2)+1)/(N+V) — linear
    * interpolation between the train-split bigram ML estimate and an
    * add-1 unigram floor, the third classic smoother alongside
    * [[bigramLm]]'s add-k and [[knBigram]]'s Kneser-Ney. Scored per
    * held-out bigram TYPE (doc_id % 10 ≥ 8 split, same convention as
    * stupid_backoff), with unseen-history and unseen-bigram cases
    * degrading to the unigram floor.
    *
    * Scale: train counts are one partial-agg shuffle each; the held-out
    * type frame left-joins them (vocabulary²-bounded) and the (N, V)
    * normalizers are a one-row broadcast. Per-row arithmetic over exact
    * integer counts in one fixed operand order. */
  def jmBigram(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val toked = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val train = toked.filter(col("doc_id") % 10 < 8)
    val held = toked.filter(col("doc_id") % 10 >= 8)
    def bigrams(t: DataFrame) = t.filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cBig = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val uni = train.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_uni"))
    val cW1 = uni.select(col("w").as("w1"), col("c_uni").as("c_w1"))
    val norm = uni.agg(sum(col("c_uni")).as("n_tokens"),
      count(lit(1)).as("v_types"))
    val heldTypes = bigrams(held).groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_heldout"))
    val cW2 = uni.select(col("w").as("w2"), col("c_uni").as("c_w2"))
    heldTypes
      .join(cBig, Seq("w1", "w2"), "left")
      .join(cW1, Seq("w1"), "left")
      .join(cW2, Seq("w2"), "left")
      .crossJoin(broadcast(norm))
      .select(col("w1"), col("w2"), col("n_heldout"),
        coalesce(col("c_bigram"), lit(0L)).as("c_bigram"),
        coalesce(col("c_w1"), lit(0L)).as("c_w1"),
        coalesce(col("c_w2"), lit(0L)).as("c_w2"),
        round(
          lit(lambda) * when(coalesce(col("c_w1"), lit(0L)) > 0,
            coalesce(col("c_bigram"), lit(0L)).cast("double") / col("c_w1"))
            .otherwise(lit(0.0))
            + lit(1.0 - lambda) * (coalesce(col("c_w2"), lit(0L)) + lit(1L)).cast("double")
              / (col("n_tokens") + col("v_types")),
          6).as("p_jm"))
  }

  /** Heaps'-law fit (B170): vocabulary growth V(N) = k·N^β, estimated
    * by least squares over (ln N_d, ln V_d) at every document boundary
    * in doc_id order — the scaling-law readout that predicts vocabulary
    * (and so tokenizer/embedding-table) size at 100 TB from a sample.
    *
    * Mechanics: each token's FIRST document (one min per type) turns
    * into per-doc new-type counts; cumulative tokens and types ride ONE
    * [[Ranks.withGlobalCumSums]] pass in doc_id order. Each ln rounds
    * once to NANO units (exact longs); the regression moments accumulate
    * nano-products in DECIMAL(38,0) (a web corpus overflows BIGINT), and
    * β = (nΣxy − ΣxΣy)/(nΣxx − Σx²) — the nano scale cancels — divides
    * once at the end, so both engines fit identical coefficients. */
  def heapsLawFit(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
    val firstSeen = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    val grown = Ranks.withGlobalCumSums(
      perDoc.join(firstSeen, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("n_new"), lit(0L)).as("n_new")),
      Seq(("n_toks", "cum_tokens", "_tot_tokens"),
        ("n_new", "cum_types", "_tot_types")),
      Seq(col("doc_id")))
    val pts = grown.filter(col("cum_tokens") > 0 && col("cum_types") > 0)
      .select(
        round(log(col("cum_tokens").cast("double")) * 1e9, 0).cast("long").as("xn"),
        round(log(col("cum_types").cast("double")) * 1e9, 0).cast("long").as("yn"))
    val m = pts.agg(
      count(lit(1)).as("n"),
      sum(col("xn")).as("sx"), sum(col("yn")).as("sy"),
      sum(col("xn").cast("decimal(38,0)") * col("yn")).as("sxy"),
      sum(col("xn").cast("decimal(38,0)") * col("xn")).as("sxx"))
    val denom = (col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    // intercept in mean form with the ROUNDED beta (sy·sxx would
    // overflow DECIMAL(38,0)) — both engines adjust with identical bits
    m.select(col("n"), col("sx"), col("sy"),
        round((col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / denom, 6)
          .as("beta"))
      .select(col("n").as("n_points"), col("beta"),
        round((col("sy").cast("double") / col("n") -
          col("beta") * (col("sx").cast("double") / col("n"))) / 1e9, 6).as("ln_k"))
      .withColumn("k", round(exp(col("ln_k")), 6))
  }

  /** Character-trigram language-ID confusion census (B200): the
    * fastText-style char-n-gram profile classifier next to [[TextOps
    * .langId]]'s marker heuristic. Train on the doc_id%2=0 half: each
    * language's top-`profileK` cleaned-text trigrams by count (ties
    * lexicographic) become its profile with log-probability
    * ln(cnt/total). Score the held-out half: per (doc, candidate lang),
    * Σ count_doc(g)·ln p(g|lang) over profile hits (9 dp-rounded terms,
    * exact sum); argmax with lexicographic tie-break; docs matching no
    * profile trigram predict 'und'. Deliverable: the (true lang →
    * predicted) confusion matrix.
    *
    * Scale: the trigram explode is narrow per-row work; profiles are
    * langs×profileK rows (broadcast); scoring shuffles once on gram and
    * once per-doc — nothing holds state beyond the schema-bounded
    * profile. */
  def langIdChargram(docs: DataFrame, profileK: Int = 50): DataFrame = {
    // clean projected FIRST: the trigram lambda below must reference a
    // bound attribute, or the whole regex chain re-evaluates per element.
    // Pinned: the train profile and the held-out scoring both explode
    // from this frame, so unpersisted the regex clean chain runs twice.
    val c = CacheTracker.cache(
      docs.select(col("doc_id"), col("lang"),
          TextOps.cleanText(col("text")).as("clean"))
        .filter(length(col("clean")) >= 3))
    val g = c.select(col("doc_id"), col("lang"),
      explode(transform(sequence(lit(1), length(col("clean")) - 2),
        i => col("clean").substr(i, lit(3)))).as("gram"))
    val train = g.filter(col("doc_id") % 2 === 0)
    val cg = train.groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
    val tl = cg.groupBy("lang").agg(sum(col("cnt")).as("tot"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
    val profile = graft.plans.TopK.topKPerKey(cg, Seq("lang"),
        Seq("cnt" -> false, "gram" -> true), profileK)
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= profileK)
      .join(tl, "lang")
      .select(col("lang").as("plang"), col("gram"),
        round(log(col("cnt").cast("double") / col("tot")), 9).as("lnp"))
    val test = g.filter(col("doc_id") % 2 === 1)
    val tg = test.groupBy("doc_id", "lang", "gram").agg(count(lit(1)).as("cnt"))
    val scored = tg.join(broadcast(profile), "gram")
      .groupBy("doc_id", "lang", "plang")
      .agg(Folds.exactSum(round(col("cnt") * col("lnp"), 9)).as("score"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("plang"))
    val best = scored.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1).select(col("doc_id"), col("plang"))
    test.select("doc_id", "lang").distinct()
      .join(best, Seq("doc_id"), "left")
      .groupBy(col("lang"), coalesce(col("plang"), lit("und")).as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Monroe-style log-odds token drift with informative Dirichlet prior
    * (B202): which tokens' usage shifted between the doc_id%2 corpus
    * halves, z-scored so frequency doesn't masquerade as drift. Prior
    * a(w) = the token's whole-corpus count; δ = ln((c1+a)/(n1+A−c1−a)) −
    * ln((c2+a)/(n2+A−c2−a)); z = δ/√(1/(c1+a)+1/(c2+a)). The top-k
    * risers of each half (z desc / z asc, token tie-break) come back
    * through TakeOrdered heaps — never a global sort. All inputs are
    * exact longs; z is one closed-form double expression, bit-stable on
    * any engine. */
  def tokenDriftLogodds(docs: DataFrame, k: Int = 10): DataFrame = {
    val t = docs.select((col("doc_id") % 2 === 0).as("h1"),
      explode(TextOps.tokens(col("text"))).as("token"))
    val cw = t.groupBy("token").agg(
      sum(when(col("h1"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("h1"), 1L).otherwise(0L)).as("c2"))
    val tot = cw.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val a = col("c1") + col("c2")
    val bigA = col("n1") + col("n2")
    val d1 = col("n1") + bigA - col("c1") - a
    val d2 = col("n2") + bigA - col("c2") - a
    val delta = log((col("c1") + a).cast("double") / d1.cast("double")) -
      log((col("c2") + a).cast("double") / d2.cast("double"))
    val z = delta / sqrt(lit(1.0) / (col("c1") + a) + lit(1.0) / (col("c2") + a))
    val scored = cw.crossJoin(broadcast(tot))
      .filter(d1 > 0 && d2 > 0)
      .select(col("token"), col("c1"), col("c2"), round(z, 6).as("z"))
    val up = scored.orderBy(col("z").desc, col("token")).limit(k)
      .withColumn("direction", lit("h1"))
    val dn = scored.orderBy(col("z").asc, col("token")).limit(k)
      .withColumn("direction", lit("h2"))
    up.unionByName(dn)
  }

  /** Data-scaling-curve probe (B238): heldout cross-entropy of an
    * add-one-smoothed unigram LM trained on nested corpus prefixes
    * (docs with doc_id%16 < m for m in {2,4,8}; heldout = the fixed
    * doc_id%16 >= 14 eighth), plus the log-log OLS fit over the
    * (ln n_train_tokens, xent) points — the measured "does more data
    * still help" curve behind every data-budget decision: a slope near
    * zero says the unigram signal is saturated, a steep negative slope
    * says collect more. One row per prefix with the shared fit columns.
    *
    * Determinism: per-(prefix, heldout-token) surprisal terms are
    * (h_cnt/n_held)·ln((n_train+V)/(cnt+1)) — each bounded by the max
    * model surprisal so 6 dp rounding is never sub-ulp — summed exactly
    * per prefix; the 3-point OLS sums 9 dp products exactly. Scale: ONE
    * pass tags each training token with every prefix containing it (no
    * per-prefix rescans); everything after the (m, token) partial-agg
    * shuffle is vocab-bounded. */
  def scalingCurve(docs: DataFrame): DataFrame = {
    val fracs = Seq(2, 4, 8)
    val base = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val r = (col("doc_id") % 16).cast("int")
    val trainToks = base.filter(r < fracs.max)
      .select(explode(col("toks")).as("token"), r.as("rr"))
      .select(col("token"),
        explode(filter(array(fracs.map(lit): _*), m => col("rr") < m)).as("m"))
    val cm = trainToks.groupBy("m", "token").agg(count(lit(1)).as("cnt"))
    val tm = cm.groupBy("m").agg(sum(col("cnt")).as("n_train"))
    val v = base.select(explode(col("toks")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    val held = base.filter(r >= 14)
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("h_cnt"))
    val hTot = held.agg(sum(col("h_cnt")).as("n_held"))
    val terms = held.crossJoin(broadcast(hTot))
      .crossJoin(broadcast(tm))
      .join(cm, Seq("m", "token"), "left")
      .crossJoin(broadcast(v))
      .select(col("m"), col("n_train"),
        round((col("h_cnt").cast("double") / col("n_held"))
          * log((col("n_train") + col("v")).cast("double")
            / (coalesce(col("cnt"), lit(0L)) + 1L).cast("double")), 6)
          .as("contrib"))
    val xent = terms.groupBy("m", "n_train")
      .agg(round(Folds.exactSum(col("contrib")), 6).as("heldout_xent"))
    val pts = xent.select(col("m"), col("n_train"), col("heldout_xent"),
      log(col("n_train").cast("double")).as("x"))
    val mom = pts.agg(
      count(lit(1)).cast("double").as("kk"),
      Folds.exactSum(col("x")).as("sx"),
      Folds.exactSum(col("heldout_xent")).as("sy"),
      Folds.exactSum(round(col("x") * col("heldout_xent"), 9)).as("sxy"),
      Folds.exactSum(round(col("x") * col("x"), 9)).as("sxx"))
    val fit = mom.select(
      round((col("kk") * col("sxy") - col("sx") * col("sy"))
        / (col("kk") * col("sxx") - col("sx") * col("sx")), 6).as("loglog_slope"),
      round((col("sy") * col("sxx") - col("sx") * col("sxy"))
        / (col("kk") * col("sxx") - col("sx") * col("sx")), 6).as("loglog_intercept"))
    pts.crossJoin(broadcast(fit))
      .select(col("m").cast("long").as("prefix_sixteenths"),
        col("n_train").as("n_train_tokens"), col("heldout_xent"),
        col("loglog_slope"), col("loglog_intercept"))
  }

  /** Burrows's Delta stylometric distance between sources (B261,
    * Burrows 2002): the standard authorship-attribution measure — for
    * the top-`topK` corpus tokens (Burrows's "most frequent words", the
    * function-word band where style lives), each source's relative
    * frequency is z-scored against the across-source distribution, and
    * delta(a, b) = mean |z_a − z_b| over those tokens. Close pairs share
    * a function-word profile (same boilerplate/register/author pool);
    * far pairs differ stylistically even when topically similar — the
    * "which crawl sources are secretly the same publisher" probe next to
    * [[TextOps.sourceOverlap]]'s shingle view.
    *
    * Scale + determinism: one corpus token-count pass; everything after
    * runs on the (sources × topK)-bounded grid (absent cells coalesce to
    * 0 — the grid is a crossJoin of two tiny frames). Relative
    * frequencies are exact-long divides rounded at 9 dp; μ/σ are exact
    * per-token sums (sources-bounded); z rounds at 6 dp; the per-pair
    * mean is an exact sum over the ≤topK |Δz| values. Zero-variance
    * tokens are dropped by a `var > 0` gate on the plain double (never a
    * NaN comparison — engines disagree on NaN ordering). */
  def burrowsDelta(docs: DataFrame, topK: Int = 20): DataFrame = {
    val tok = docs.select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
    val cnt = CacheTracker.cache(tok.groupBy("source", "token").agg(count(lit(1)).as("c")))
    val totals = cnt.groupBy("source").agg(sum(col("c")).as("tot"))
    val top = cnt.groupBy("token").agg(sum(col("c")).as("gc"))
      .orderBy(col("gc").desc, col("token")).limit(topK)
      .select("token")
    val grid = totals.crossJoin(broadcast(top))
      .join(cnt, Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        round(coalesce(col("c"), lit(0L)).cast("double") / col("tot"), 9).as("f"))
    val stats = grid.groupBy("token")
      .agg(count(lit(1)).as("ns"),
        Folds.exactSum(col("f")).as("sf"),
        Folds.exactSum(col("f") * col("f")).as("sf2"))
      .select(col("token"), (col("sf") / col("ns")).as("mu"),
        (col("sf2") / col("ns") - (col("sf") / col("ns")) * (col("sf") / col("ns")))
          .as("variance"))
      .filter(col("variance") > 0.0)
    val z = grid.join(broadcast(stats), "token")
      .select(col("source"), col("token"),
        round((col("f") - col("mu")) / sqrt(col("variance")), 6).as("z"))
    val za = z.select(col("token"), col("source").as("src_a"), col("z").as("z_a"))
    val zb = z.select(col("token"), col("source").as("src_b"), col("z").as("z_b"))
    // |Δz| terms land in exact MICRO-unit longs (z is 6-dp quantized), so
    // the mean is one integer-exact half-up divide — a double mean of
    // 6-dp terms sits ON .5e-6 boundaries where the engines' round()
    // disagree (1/190 rows flipped at sf0.01 before this)
    za.join(zb, Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(abs(col("z_a") - col("z_b")) * 1e6).cast("long").as("dzm"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_tokens_used"), sum(col("dzm")).as("s"))
      .select(col("src_a"), col("src_b"), col("n_tokens_used"),
        (expr("(2 * s + n_tokens_used) div (2 * n_tokens_used)")
          .cast("double") / 1e6).as("delta"))
  }

  /** Speculative-decoding acceptance audit (B303): at each held-out
    * trigram context (w1, w2), would a cheap bigram DRAFT model's
    * greedy proposal (argmax successor of w2) match the trigram TARGET
    * model's greedy choice (argmax successor of (w1, w2))? The per-
    * language acceptance rate is the number that sizes speculative
    * decoding's speedup before anyone serves a model — a corpus whose
    * draft/target agreement is 30% gains nothing from speculation.
    *
    * Both models are count-argmax tables from the TRAIN split
    * (doc_id % 4 < 3, the house split), tie-broken lexicographically so
    * any engine reproduces them. Test positions whose trigram context
    * or draft head is unseen in train score as unscorable (`n_scored`
    * vs `n_positions` is the coverage column). Scale: argmax tables are
    * vocab²-bounded window ranks over count frames (successor groups,
    * never corpus-sized partitions); the test stream joins them
    * hash-partitioned, then one partial-agg rollup per lang. */
  def speculativeAccept(docs: DataFrame): DataFrame = {
    val toked = docs.select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(4)) < 3, lit("train")).otherwise(lit("test"))
          .as("split"),
        TextOps.tokens(col("text")).as("toks"))
    def bigrams(t: DataFrame) = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    def trigrams(t: DataFrame) = t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), explode(zip_with(
          zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 2),
            slice(col("toks"), lit(2), size(col("toks")) - 2),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(col("toks"), lit(3), size(col("toks")) - 2),
          (ab, c) => struct(ab.getField("w1").as("w1"),
            ab.getField("w2").as("w2"), c.as("w3")))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
    val train = toked.filter(col("split") === "train")
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("w2").orderBy(col("c").desc, col("nxt"))
    val draft = bigrams(train)
      .groupBy(col("w1").as("w2"), col("w2").as("nxt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("_rn", row_number().over(wB)).filter(col("_rn") === 1)
      .select(col("w2"), col("nxt").as("draft_next"))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("w1", "w2").orderBy(col("c").desc, col("w3"))
    val target = trigrams(train)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c"))
      .withColumn("_rn", row_number().over(wT)).filter(col("_rn") === 1)
      .select(col("w1"), col("w2"), col("w3").as("target_next"))
    trigrams(toked.filter(col("split") === "test"))
      .join(target, Seq("w1", "w2"), "left")
      .join(draft, Seq("w2"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("target_next").isNotNull && col("draft_next").isNotNull, 1L)
          .otherwise(0L)).as("n_scored"),
        sum(when(col("target_next").isNotNull
            && col("draft_next") === col("target_next"), 1L)
          .otherwise(0L)).as("n_accept"))
      .withColumn("accept_rate",
        when(col("n_scored") > 0,
          round(col("n_accept").cast("double") / col("n_scored"), 6))
          .otherwise(lit(0.0)))
  }
}
