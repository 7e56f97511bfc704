package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.functions.{CleanText, HashedTermCounts}

/** Text cleaning + tokenization + per-document text analysis, as Column
  * expressions that whole-stage codegen compiles (no UDFs, no RDDs).
  *
  * Cleaning follows the reference cleanup chain
  * (reference Spark/NB/src/main/scala/NB.scala:53-59): strip URLs, strip
  * mention/hashtag/entity tokens, strip digits, non-letters to space,
  * lowercase, collapse whitespace, trim. [[cleanText]] runs it as the
  * native one-pass kernel [[graft.functions.CleanText]]. The regexes
  * below state its semantics: CleanTextSpec rebuilds the
  * `regexp_replace` chain from them and checks the kernel against it
  * byte for byte, and `Oracles.clean` runs the same patterns in DuckDB.
  * They avoid lookahead (unlike NB.scala:53) so RE2 runs them too; the
  * two engines still differ at the edges (RE2's `\s` lacks \x0B, and its
  * `(?i)` folds non-ASCII letters such as 'ſ' to 's'), which the
  * oracle-checked testdata does not contain.
  *
  * Scale: every op here is narrow (per-row) — zero shuffle, scales
  * linearly to any number of executors.
  */
object TextOps {

  val UrlRe = "(?i)(https?://\\S+|www\\.\\S+)"
  val TagRe = "[@#&]\\w+"
  val DigitRe = "\\d+"
  val NonLetterRe = "[^a-zA-Z ]"
  val WsRe = "\\s+"

  /** Full cleanup chain (NB.scala:53-59 semantics) in one pass. */
  def cleanText(c: Column): Column =
    ColumnShim.column(CleanText(ColumnShim.expression(c)))

  /** Whitespace tokenization of cleaned text, empty tokens dropped
    * (reference ml.Tokenizer, NB.scala:71). */
  def tokens(c: Column): Column =
    filter(split(cleanText(c), " "), t => t =!= "")

  /** ml `RegexTokenizer("\\s+")` + `HashingTF(numFeatures)` over
    * [[cleanText]] as one native pass ([[graft.functions.HashedTermCounts]]):
    * the document's sparse term-count vector, or with `asStruct` the same
    * value as a (type, size, indices, values) struct. */
  def termCounts(c: Column, numFeatures: Int, asStruct: Boolean = false): Column =
    ColumnShim.column(HashedTermCounts(CleanText(ColumnShim.expression(c)), numFeatures, asStruct))

  /** doc_id, clean — the cleaned corpus. */
  def cleanDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), cleanText(col("text")).as("clean"))

  /** Per-document token count (A6). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))

  /** Whitespace + BPE-ish token statistics per document (B10).
    * bpe-ish = letter runs / digit runs / single other-chars, the classic
    * pre-tokenizer shape. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
        .cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_text"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, composite
    * (B9). Ratios rounded to 6 dp so the DuckDB oracle hash-matches. */
  private[graft] val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** The composite quality score alone — shared by qualityScore and
    * qualityFilter so the two can never drift apart. */
  private[graft] def qualityComposite: Column = {
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val nToks = size(toks)
    val nStop = size(filter(toks, t => lower(t).isInCollection(Stopwords)))
    val nPunct = size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
    val len = length(col("text"))
    // composite: long enough, not punctuation-soup, some stopwords
    round(
      when(len >= 20, lit(1.0)).otherwise(len.cast("double") / 20.0) *
        (lit(1.0) - when(len > 0, nPunct.cast("double") / len).otherwise(lit(0.0))) *
        when(nToks > 0, least(lit(1.0), nStop.cast("double") / nToks * 5.0 + lit(0.5)))
          .otherwise(lit(0.0)),
      6)
  }

  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val nToks = size(toks)
    val nStop = size(filter(toks, t => lower(t).isInCollection(Stopwords)))
    val nPunct = size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
    val len = length(col("text"))
    docs.select(
      col("doc_id"),
      len.cast("long").as("n_chars_text"),
      nToks.cast("long").as("n_tokens"),
      round(when(len > 0, nPunct.cast("double") / len).otherwise(lit(0.0)), 6)
        .as("punct_ratio"),
      round(when(nToks > 0, nStop.cast("double") / nToks).otherwise(lit(0.0)), 6)
        .as("stop_ratio"),
      qualityComposite.as("quality"))
  }

  /** [[qualityScore]] re-expressed through Spark 4 SQL-DEFINED scalar
    * functions (C220): the tokenizer and both ratio formulas are
    * declared ONCE as `CREATE TEMPORARY FUNCTION ... RETURN <expr>` and
    * invoked from plain SQL. The engine point: SQL UDFs macro-expand
    * into the plan at analysis — they are NOT black-box lambdas — so
    * the query whole-stage-codegens exactly like the Column twin and
    * Catalyst sees through every ratio for pushdown/pruning: the
    * shareable-function story without the UDF serialization tax (the
    * measured 5.7× cosine A/B in BASELINE.md is what black-box UDFs
    * cost). Output bit-identical to [[qualityScore]]; the oracle is
    * quality_score's oracle verbatim. */
  def qualityScoreSqlUdf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_toks(s STRING)
            |RETURNS ARRAY<STRING>
            |RETURN filter(split(s, '\\s+'), t -> t <> '')""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_punct_ratio(s STRING)
            |RETURNS DOUBLE
            |RETURN CASE WHEN length(s) > 0
            |  THEN CAST(size(regexp_extract_all(s, '[^a-zA-Z0-9\\s]', 0)) AS DOUBLE) / length(s)
            |  ELSE 0.0D END""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_stop_ratio(s STRING)
            |RETURNS DOUBLE
            |RETURN CASE WHEN size(graft_toks(s)) > 0
            |  THEN CAST(size(filter(graft_toks(s),
            |    t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
            |    / size(graft_toks(s))
            |  ELSE 0.0D END""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_quality(s STRING)
            |RETURNS DOUBLE
            |RETURN round(
            |  (CASE WHEN length(s) >= 20 THEN 1.0D
            |        ELSE CAST(length(s) AS DOUBLE) / 20.0D END)
            |  * (1.0D - graft_punct_ratio(s))
            |  * (CASE WHEN size(graft_toks(s)) > 0
            |     THEN least(1.0D, graft_stop_ratio(s) * 5.0D + 0.5D)
            |     ELSE 0.0D END), 6)""".stripMargin)
    docs.createOrReplaceTempView("graft_quality_docs")
    s.sql("""SELECT doc_id,
            |  CAST(length(text) AS BIGINT) AS n_chars_text,
            |  CAST(size(graft_toks(text)) AS BIGINT) AS n_tokens,
            |  round(graft_punct_ratio(text), 6) AS punct_ratio,
            |  round(graft_stop_ratio(text), 6) AS stop_ratio,
            |  graft_quality(text) AS quality
            |FROM graft_quality_docs""".stripMargin)
  }

  /** Per-doc shingle census through a Spark 4 SQL TABLE function (C221):
    * the shingle generator is declared once as `CREATE TEMPORARY
    * FUNCTION ... RETURNS TABLE (...) RETURN SELECT ...` and invoked
    * per row with a correlated LATERAL join — the set-returning-function
    * shape (one input row → w-gram rows) that previously required a
    * Dataset flatMap or an explode pipeline per call site. Like scalar
    * SQL UDFs the body inlines into the plan, so the LATERAL expands to
    * a plain generator — no black-box boundary. Docs shorter than the
    * window emit nothing on both engines (the sequence guard filters
    * BEFORE the slice projects, so no short gram ever materializes). */
  def shingleTvf(docs: DataFrame, win: Int = 3): DataFrame = {
    val s = docs.sparkSession
    // the tokenizer runs ONCE in the innermost derived table and rides
    // up as a column — an inline re-tokenize per emitted gram row read
    // 6.2 s at sf0.1 vs 2.0 s hoisted. (Function parameters DO resolve
    // through plain nested subqueries; they do not resolve through a
    // projection over a nested LATERAL join, which is why the derived
    // table carries toks instead of a lateral carrying pos.) The WHERE
    // guard keeps short docs from reaching the slice — Filter runs
    // before Project — and sequence(0, negative) merely yields rows the
    // guard drops; it does not error
    s.sql(s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_shingles(s STRING, w INT)
             |RETURNS TABLE (i INT, gram STRING)
             |RETURN SELECT CAST(pos AS INT) AS i,
             |  array_join(slice(toks, pos + 1, w), ' ') AS gram
             |FROM (SELECT toks, explode(sequence(0, size(toks) - w)) AS pos
             |      FROM (SELECT filter(split(s, '\\\\s+'), t -> t <> '') AS toks))
             |WHERE size(toks) >= w""".stripMargin)
    docs.createOrReplaceTempView("graft_tvf_docs")
    s.sql(s"""SELECT d.doc_id,
             |  CAST(count(*) AS BIGINT) AS n_shingles,
             |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_distinct_shingles,
             |  substring(md5(array_join(array_sort(collect_set(g.gram)), '|')), 1, 16)
             |    AS shingle_set_hash16
             |FROM graft_tvf_docs d, LATERAL graft_shingles(d.text, $win) g
             |GROUP BY d.doc_id""".stripMargin)
  }

  /** Rank-uniform quantile normalization of the quality score (B134):
    * q_uniform = (rank − 0.5)/n under (quality, doc_id) total order —
    * the feature transform that makes any downstream threshold or
    * mixture weight distribution-free (classifier calibration,
    * cross-corpus score fusion). The global rank rides
    * [[Ranks.withGlobalRowNumber]]'s two-pass range-partitioned
    * machinery, so the corpus-sized frame is never sorted in one task. */
  def qualityQuantileNorm(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), qualityComposite.as("quality"))
    Ranks.withGlobalRowNumber(scored, "rnk", "n",
        Seq(col("quality"), col("doc_id")))
      .select(col("doc_id"), col("quality"),
        round((col("rnk") - 0.5) / col("n"), 6).as("q_uniform"))
  }

  /** Percentile-gated quality filter (B25): keep each language's top
    * `keepFrac` of documents by composite quality — the curation pass that
    * trims per-stratum rather than by a global threshold (which would
    * starve low-scoring languages entirely). The narrow score is computed
    * per row; the window ranks WITHIN lang after one shuffle on lang. At
    * 100 TB the same plan holds: the rank input is the scored corpus, and
    * per-lang partitions sort independently. pct_rank is rounded to 6 dp
    * BEFORE the gate so the oracle applies the identical boundary. */
  def qualityFilter(docs: DataFrame, keepFrac: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    docs.select(col("doc_id"), col("lang"), qualityComposite.as("quality"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .filter(col("pct_rank") <= keepFrac)
  }

  /** Token-budget greedy corpus selection (B297): the compose-the-
    * training-set step — rank the corpus by (quality desc, doc_id) with
    * the two-pass range-partitioned rank + global running token count
    * ([[Ranks.withGlobalRankCumSum]]: no unpartitioned data-sized
    * window anywhere), and keep the maximal prefix whose cumulative
    * token count fits the budget. The greedy prefix IS the filter
    * `cum_tokens <= budget` because the running sum is monotone in
    * rank. Output is BUDGET-bounded (≤ budgetTokens rows even at one
    * token per doc), never corpus-bounded — the property that makes
    * "select 30B tokens from a 100 TB corpus" a safe single query.
    * Quality is [[qualityComposite]] (shared with quality_score /
    * quality_filter so the three can never drift); n_tokens counts the
    * clean-chain tokens, the same unit every token-budget consumer
    * (sequence_pack, mixture_weights) uses. */
  def tokenBudgetSelect(docs: DataFrame, budgetTokens: Long = 10000L): DataFrame = {
    val scored = docs.select(col("doc_id"),
      qualityComposite.as("quality"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    Ranks.withGlobalRankCumSum(scored, "n_tokens", "sel_rank", "cum_tokens",
        "_tot", Seq(col("quality").desc, col("doc_id")))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("sel_rank"), col("cum_tokens"))
  }

  /** Value-density variant of [[tokenBudgetSelect]] (B298): greedy by
    * quality PER TOKEN (the classic knapsack density heuristic) —
    * under a token budget, ten 50-token docs at quality 0.8 beat one
    * 500-token doc at 0.9, and quality-per-token is the order that
    * encodes it. Density is emitted 9 dp (one IEEE divide of a
    * 6 dp-rounded numerator by an exact integer — bit-identical in
    * both engines); zero-token docs sort last at density 0 and can
    * never consume budget. Same two-pass rank + running-sum machinery,
    * same budget-bounded output. */
  def tokenBudgetDensity(docs: DataFrame, budgetTokens: Long = 10000L): DataFrame = {
    val scored = docs.select(col("doc_id"),
        qualityComposite.as("quality"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("density",
        when(col("n_tokens") > 0,
          round(col("quality") / col("n_tokens"), 9)).otherwise(lit(0.0)))
    Ranks.withGlobalRankCumSum(scored, "n_tokens", "sel_rank", "cum_tokens",
        "_tot", Seq(col("density").desc, col("doc_id")))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("density"), col("sel_rank"), col("cum_tokens"))
  }

  /** Mixture / temperature sampling (B26): per-source sampling rates
    * (even-numbered sources keep 75%, odd 25% — standing in for the
    * per-domain mixture weights of a training recipe), applied via
    * deterministic md5 bucketing on (doc_id, source). No RNG state, no
    * per-source driver pass; exactly reproducible anywhere, purely
    * narrow — zero shuffle at any scale. */
  def mixtureSample(docs: DataFrame): DataFrame = {
    val srcNum = regexp_extract(col("source"), "\\d+", 0).cast("long")
    val rate = when(srcNum % 2 === 0, lit(75L)).otherwise(lit(25L))
    docs.select(col("doc_id"), col("source"),
        (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("source"))), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"),
        rate.as("rate"))
      .filter(col("bucket") < col("rate"))
  }

  /** Zipf profile (B27): corpus token counts bucketed by floor(log2(count)).
    * The log2 is taken as binary-digit count minus one — pure integer
    * arithmetic, immune to the float rounding that floor(log2(x)) suffers
    * at exact powers of two. Two shuffles, both on frames already reduced
    * by partial aggregation (token counts, then ~60 buckets). */
  def tokenHistogram(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", (length(bin(col("cnt"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("n_occurrences"))

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d() -]{6,}\\d"

  /** PII redaction (B28): emails, then IPv4s, then phone-shaped digit runs
    * replaced by typed placeholders, with per-type match counts. Each
    * stage counts and redacts on the PREVIOUS stage's output, so an IP is
    * never double-counted as a phone. Regexes are RE2-safe (no lookahead)
    * so Java and the DuckDB oracle agree; purely narrow per-row work. */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("_t1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("_t1"), lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("_t2", regexp_replace(col("_t1"), Ipv4Re, "<IP>"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("_t2"), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("redacted", regexp_replace(col("_t2"), PhoneRe, "<PHONE>"))
      .select("doc_id", "redacted", "n_emails", "n_ips", "n_phones")

  /** Benchmark-contamination check (B29): documents sharing any distinct
    * token 4-gram with a benchmark set (here: doc_id % 50 == 0 stands in
    * for the eval set), with shared-shingle and benchmark-doc counts.
    * Shape: inverted equi-join on the shingle STRING — non-overlapping
    * pairs never materialize. The benchmark side is broadcast: eval sets
    * are tiny next to a 100 TB corpus, so the probe side never shuffles. */
  def contamination(docs: DataFrame, n: Int = 4, benchMod: Long = 50): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val sh = t.select(col("doc_id"),
      explode(when(size(col("toks")) >= n,
        array_distinct(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j)): _*))))
        .otherwise(array().cast("array<string>"))).as("g"))
    val bench = sh.filter(col("doc_id") % benchMod === 0)
      .select(col("doc_id").as("bench_id"), col("g"))
    sh.filter(col("doc_id") % benchMod =!= 0)
      .join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }


  /** Decontamination n-gram sweep (B272): [[contamination]] run at the
    * three canonical shingle widths — 4 (aggressive, catches phrases),
    * 8 (the common overlap filter), 13 (exact-substring decontam à la
    * GPT-3's 13-gram rule) — summarized as flagged-doc and shared-gram
    * counts per width. The tuning table a decontam pass reads before
    * committing to a width: too small flags idiom, too large misses
    * paraphrased leakage. Each width is one broadcast inverted join
    * (the benchmark side is tiny by construction); widths are
    * independent branches of one union. */
  def decontamNgramSweep(docs: DataFrame,
                         ns: Seq[Int] = Seq(4, 8, 13)): DataFrame =
    ns.map { n =>
      contamination(docs, n)
        .agg(count(lit(1)).as("n_flagged_docs"),
          coalesce(sum(col("n_shared")), lit(0L)).as("total_shared_grams"))
        .select(lit(n.toLong).as("n"), col("n_flagged_docs"),
          col("total_shared_grams"))
    }.reduce(_ unionByName _)

  /** Per-lang lognormal fit of document length (B273): method-of-moments
    * μ, σ of ln(n_chars) with the fitted median e^μ and mean
    * e^(μ+σ²/2) next to the ACTUAL mean — the mean/fitted ratio reads
    * directly as fit quality (≈1: lognormal holds; ≫1: the tail is
    * heavier, see hill_tail_index). The distribution-fitting row beside
    * heaps_law_fit (vocab growth) and zipf_slope (rank-frequency). ln
    * terms round at 9 dp and sum exactly ([[Folds.exactSum]]). */
  def lengthLognormalFit(docs: DataFrame): DataFrame = {
    val terms = docs.filter(col("n_chars") > 0)
      .select(col("lang"), col("n_chars"),
        round(log(col("n_chars").cast("double")), 9).as("l"))
    val m = terms.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        Folds.exactSum(col("l")).as("sl"),
        Folds.exactSum(col("l") * col("l")).as("sl2"))
    val n = col("n_docs").cast("double")
    val mu = col("sl") / n
    val sigma = sqrt(col("sl2") / n - mu * mu)
    m.select(col("lang"), col("n_docs"),
      round(mu, 6).as("mu_ln"),
      round(sigma, 6).as("sigma_ln"),
      round(exp(mu), 6).as("fitted_median"),
      round(exp(mu + sigma * sigma / 2.0), 6).as("fitted_mean"),
      round(col("sum_chars").cast("double") / n, 6).as("actual_mean"),
      round((col("sum_chars").cast("double") / n)
        / exp(mu + sigma * sigma / 2.0), 6).as("mean_ratio"))
  }

  /** Jarque–Bera normality test of ln(n_chars) per language (B290): the
    * moment-based audit OF [[lengthLognormalFit]] — that row fits μ, σ
    * assuming ln-lengths are normal; this one tests the assumption
    * (JB = n/6·(S² + (K−3)²/4) ~ χ²(2); large JB = the fitted μ/σ are
    * summarizing a distribution they don't describe). Skewness and
    * excess kurtosis come from raw ln-moments up to the 4th, each an
    * exact sum of 9 dp terms (the lognormal-fit discipline, two moments
    * deeper); the central-moment algebra and the two divisions are the
    * only float steps after the sums. */
  def jarqueBera(docs: DataFrame): DataFrame = {
    val terms = docs.filter(col("n_chars") > 0)
      .select(col("lang"), round(log(col("n_chars").cast("double")), 9).as("l"))
    val m = terms.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        Folds.exactSum(col("l")).as("s1"),
        Folds.exactSum(col("l") * col("l")).as("s2"),
        Folds.exactSum(col("l") * col("l") * col("l")).as("s3"),
        Folds.exactSum(col("l") * col("l") * col("l") * col("l")).as("s4"))
      .filter(col("n_docs") > 3)
    val n = col("n_docs").cast("double")
    val mu = col("s1") / n
    val m2 = col("s2") / n - mu * mu
    val m3 = col("s3") / n - lit(3.0) * mu * (col("s2") / n) + lit(2.0) * mu * mu * mu
    val m4 = col("s4") / n - lit(4.0) * mu * (col("s3") / n) +
      lit(6.0) * mu * mu * (col("s2") / n) - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / sqrt(m2 * m2 * m2)
    val exkurt = m4 / (m2 * m2) - 3.0
    // m2 = 0 (a constant-length lang) leaves every moment ratio
    // undefined: NULL columns, never an ANSI divide-by-zero throw —
    // jb_stat already carried the guard, the raw ratios must too
    m.select(col("lang"), col("n_docs"),
      round(when(m2 > 0.0, skew), 6).as("skewness"),
      round(when(m2 > 0.0, exkurt), 6).as("ex_kurtosis"),
      round(when(m2 > 0.0,
        n / 6.0 * (skew * skew + exkurt * exkurt / 4.0)), 6).as("jb_stat"))
  }

  /** Simpson's-paradox audit of the quality↔length relationship (B292):
    * the OLS slope of quality on n_chars computed overall AND within
    * each language, flagging sign flips — the textbook aggregation trap
    * (pooled data can show a positive relationship every subgroup
    * contradicts when group means differ), and the audit that decides
    * whether [[qualityLengthCorr]]'s per-lang rho or a pooled number is
    * the one to act on. Slopes come from exact integer/9 dp-quality
    * moment sums (quality is the 6 dp composite scaled to micro-units,
    * so Σq and Σq·x stay exact longs/DECIMALs); the group frame is
    * |langs|-bounded, the flip count is one fold over it. */
  def simpsonsParadox(docs: DataFrame): DataFrame = {
    val pts = docs.select(col("lang"), col("n_chars").cast("long").as("x"),
      // explicit round before the cast: Spark's double→long cast
      // truncates while DuckDB's rounds, and 6 dp × 1e6 floats sit
      // exactly on those boundaries
      round(qualityComposite * 1e6, 0).cast("long").as("q"))
    def moments(df: DataFrame, keys: Seq[String]): DataFrame = {
      val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
      g.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("q")).as("sq"),
        sum(col("x").cast("decimal(38,0)") * col("q")).as("sxq"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    }
    // NULL (not an ANSI divide-by-zero throw) on a constant-x group —
    // a degenerate lang whose n_chars never varies has no slope; the
    // coalesced flip below then counts it as "no flip", matching the
    // oracle's CASE ... ELSE 0 reading
    def slope: Column = {
      val den = (col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
      round(when(den =!= 0.0,
        (col("n").cast("decimal(38,0)") * col("sxq")
          - col("sx").cast("decimal(38,0)") * col("sq")).cast("double")
          / den / 1e6), 9)
    }
    val overall = moments(pts, Seq.empty).select(col("n").as("n_docs"),
      slope.as("pooled_slope"))
    val perLang = moments(pts, Seq("lang")).filter(col("n") > 1)
      .select(col("lang"), slope.as("g_slope"))
    perLang.crossJoin(broadcast(overall))
      .select(col("n_docs"), col("pooled_slope"),
        // coalesce to 0 row-wise (the oracle's CASE ... ELSE 0): a NULL
        // per-lang slope (degenerate constant-x group) must count as
        // "no flip", not poison sum() into NULL on all-NULL corpora.
        coalesce((signum(col("g_slope")) =!= signum(col("pooled_slope")))
          .cast("long"), lit(0L)).as("flip"))
      .groupBy("n_docs", "pooled_slope")
      .agg(count(lit(1)).as("n_groups"), sum(col("flip")).as("n_sign_flips"))
      .select(col("n_docs"), col("n_groups"), col("pooled_slope"),
        col("n_sign_flips"),
        (col("n_sign_flips") === col("n_groups")).as("full_paradox"))
  }

  /** Chao1 richness and Good–Turing coverage per source (B294): how
    * much vocabulary the sample has NOT seen yet — Chao1-bc estimates
    * total richness q0 + f₁(f₁−1)/(2(f₂+1)) from singleton/doubleton
    * type counts (the bias-corrected form, defined at f₂ = 0), and the
    * Good–Turing unseen mass f₁/N is the probability the NEXT token is
    * a new type — the "is this source mined out" pair behind a crawl-
    * more-or-stop decision, and the sample-completeness caveat on
    * every [[hillNumbers]]/B170 richness readout. All exact longs off
    * the one type-count aggregate; two 6 dp ratios at the end. */
  def vocabCoverageEst(docs: DataFrame): DataFrame = {
    docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("q0"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_tokens"), col("q0"), col("f1"), col("f2"),
        round(col("q0") + (col("f1") * (col("f1") - 1)).cast("double")
          / (lit(2.0) * (col("f2") + 1)), 6).as("chao1"),
        round(col("f1").cast("double") / col("n_tokens"), 6).as("unseen_mass"),
        round(lit(1.0) - col("f1").cast("double") / col("n_tokens"), 6)
          .as("coverage"))
  }

  /** Ruzicka (weighted Jaccard) similarity between sources' token
    * histograms (B295): Σ min(cₐ, c_b) / Σ max(cₐ, c_b) over the full
    * vocabulary — the COUNT-aware overlap beside B174's cosine (cosine
    * rewards shape, Ruzicka charges for every token one source has and
    * the other lacks; it is also exactly what weighted MinHash
    * estimates, so this row is the exact ground truth under
    * B240/dedup_wminhash). Never materializes the union axis: per
    * token min + max = cₐ + c_b, so Σmax = Nₐ + N_b − Σmin and the
    * only pair work is Σmin over SHARED tokens (an inner join — absent
    * tokens contribute min 0 by construction); all counts exact longs,
    * one 6 dp division per pair. Pair fanout per token is
    * |sources|-bounded; the token axis is one partial-agg pass. */
  def sourceRuzicka(docs: DataFrame): DataFrame = {
    val counts = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum(col("c")).as("n_tok"))
    counts.select(col("source").as("source_a"), col("token"), col("c").as("ca"))
      .join(counts.select(col("source").as("source_b"), col("token"),
        col("c").as("cb")), "token")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(least(col("ca"), col("cb"))).as("s_min"))
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("n_tok").as("n_a"))), "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("n_tok").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("s_min"),
        round(col("s_min").cast("double")
          / (col("n_a") + col("n_b") - col("s_min")), 6).as("ruzicka"))
  }

  /** Marker-token language-ID heuristic (B8): count hits against small
    * per-language marker sets over lowercase whitespace tokens; argmax with
    * a deterministic tie-break (en > fr > de), 'und' when no marker hits. */
  private[graft] val EnMarkers = Seq("the", "a", "of", "and", "is", "query", "join")
  private val FrMarkers = Seq("le", "la", "et", "est", "de", "scan", "batch")
  private val DeMarkers = Seq("der", "die", "das", "und", "ist", "merge", "sort")

  def langId(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    def score(markers: Seq[String]) = size(filter(toks, t => t.isInCollection(markers)))
    val sEn = score(EnMarkers); val sFr = score(FrMarkers); val sDe = score(DeMarkers)
    docs.select(
      col("doc_id"),
      when(sEn >= sFr && sEn >= sDe && sEn > 0, "en")
        .when(sFr >= sDe && sFr > 0, "fr")
        .when(sDe > 0, "de")
        .otherwise("und").as("pred_lang"))
  }

  /** Code-switch segmentation (B233): [[langId]]'s marker votes applied
    * per fixed-width token WINDOW, consecutive same-language windows
    * merged into runs — the span-level language map a multilingual
    * curation pass needs (doc-level lang-ID hides a French half inside
    * an English doc; [[langId]] says "en", this says "en then fr").
    * One row per (doc, segment): window span, language, window count.
    *
    * Shape: one posexplode shuffle to (doc, window) votes (conditional
    * sums, no per-window arrays), then the classic gaps-and-islands
    * merge (win_idx − rank within (doc, lang) is constant per run) on
    * the window-bounded frame. Ties and zero-vote windows follow
    * langId's deterministic rules ('und' never merges with a language). */
  def langSegments(docs: DataFrame, win: Int = 16): DataFrame = {
    val toked = docs.select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as(Seq("pos", "token")))
      .select(col("doc_id"),
        expr(s"CAST(pos AS BIGINT) div $win").as("win_idx"), col("token"))
    def score(markers: Seq[String]) =
      sum(when(col("token").isInCollection(markers), 1L).otherwise(0L))
    val voted = toked.groupBy("doc_id", "win_idx")
      .agg(score(EnMarkers).as("s_en"), score(FrMarkers).as("s_fr"),
        score(DeMarkers).as("s_de"))
      .select(col("doc_id"), col("win_idx"),
        when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de")
          && col("s_en") > 0L, "en")
          .when(col("s_fr") >= col("s_de") && col("s_fr") > 0L, "fr")
          .when(col("s_de") > 0L, "de")
          .otherwise("und").as("win_lang"))
    val wDl = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "win_lang").orderBy("win_idx")
    voted
      .withColumn("isl", col("win_idx") - row_number().over(wDl))
      .groupBy("doc_id", "win_lang", "isl")
      .agg(min(col("win_idx")).as("seg_start_win"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("seg_start_win"),
        col("win_lang").as("lang"), col("n_windows"))
  }

  /** Position-weighted polynomial fingerprint over token md5s (B11): a
    * rolling-hash-style content fingerprint that is order-sensitive yet
    * exactly reproducible in SQL. Each token contributes
    * (1-based position) * first-8-hex-digits-of-md5, summed as bigint. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // Spark transform index is 0-based; DuckDB list_transform's is 1-based —
    // the (i+1) here and bare i in the oracle SQL line up. Each term is
    // reduced mod 2^31-1 so the sum stays far from Long overflow (which
    // would throw under Spark 4's default ANSI mode) at any doc length.
    val p = 2147483647L
    val weighted = transform(
      toks,
      (t, i) => ((i + 1).cast("long") * conv(substring(md5(t), 1, 8), 16, 10).cast("long")) % p)
    docs.select(
      col("doc_id"),
      coalesce(aggregate(weighted, lit(0L), (acc, x) => acc + x), lit(0L))
        .as("fingerprint"),
      substring(md5(cleanText(col("text"))), 1, 16).as("content_hash16"))
  }

  /** Per-lang char-length percentiles (B12b): exact linear-interpolation
    * percentiles, the distribution profile a corpus curation pass reads.
    *
    * SCALE GUARD: Spark's exact `percentile` aggregate buffers every
    * value of a group on one executor — fine at oracle SFs, an executor
    * OOM once a single lang holds billions of docs. The 100 TB path is
    * the mergeable-sketch twin [[approxCharPercentiles]]
    * (approx_percentile, bounded state, same schema); this exact name is
    * the small-SF oracle and audit surface. BASELINE.md ScaleCheck r16
    * pins the growth. */
  def charPercentiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.25)), 4).as("p25"),
        round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
        round(percentile(col("n_chars"), lit(0.75)), 4).as("p75"),
        round(percentile(col("n_chars"), lit(0.95)), 4).as("p95"))

  /** Approximate distinct tokens per lang via HLL++ (B12c): the sketch
    * path for cardinality at 100 TB (bounded state, mergeable). Not
    * DuckDB-reproducible (different sketch); ScalaTest checks the estimate
    * against the exact count. */
  def approxDistinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang")
      .agg(approx_count_distinct(col("token")).as("approx_tokens"))

  /** End-to-end curation pipeline (B14): length-filter → clean →
    * exact-dedup keep-first — the composed flow a training-data pass runs,
    * as one declarative plan (filter pushes down, dedup is one shuffle on
    * the content hash). */
  def curate(docs: DataFrame, minTokens: Int = 5): DataFrame = {
    val cleaned = docs.select(
      col("doc_id"),
      cleanText(col("text")).as("clean"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("clean")))
    cleaned
      .withColumn("kid", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("kid"))
      .select("doc_id", "clean", "n_tokens")
  }

  /** The deduplicated corpus itself (B1b): keep-first on the content
    * hash, original metadata columns preserved — what a curation pass
    * actually writes back out. */
  def dedupFiltered(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(cleanText(col("text"))))
    docs
      .withColumn("kid", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("kid"))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Deterministic stratified sample (B15): hash-mod bucketing on doc_id.
    * No RNG state, no per-stratum driver pass, exactly reproducible
    * anywhere (including the DuckDB oracle) — the property `randomSplit`
    * lacks. The bucket hash is independent of the stratum column, so the
    * rate applies uniformly within every lang stratum; purely narrow, zero
    * shuffle. */
  def stratifiedSample(docs: DataFrame, pct: Int = 25): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .filter(col("bucket") < pct)

  /** Inverted index (B16): token → document frequency + first `maxPostings`
    * doc_ids as a deterministic sorted list. One hash-partitioned shuffle
    * on token with map-side partial aggregation. The posting cap is
    * applied after the per-token collect; a corpus where single tokens
    * span billions of docs would cap partial-side instead (the
    * graft.plans.TopK two-phase heap is exactly that shape). */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 10): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .distinct()
      .groupBy("token")
      .agg(
        count(lit(1)).as("df"),
        concat_ws(",", slice(sort_array(collect_list(col("doc_id"))), 1, maxPostings))
          .as("postings"))

  /** Per-source quality-distribution drift (B113): the two-sample
    * Kolmogorov–Smirnov gap between each source's quality-score ECDF and
    * the whole corpus's, on a fixed `bins`-bin grid over [0,1] — the
    * monitoring statistic a curation pipeline alerts on when one feed
    * starts shipping garbage. Binned ECDFs keep it scale-exact AND
    * scale-safe: counts are exact longs, every post-binning frame is
    * (sources × bins)-bounded, and the windows fold ≤`bins` rows per
    * source. One (source, bin) partial-agg shuffle over the corpus; the
    * dense grid (so the gap is read at bins where a source has no mass
    * but the corpus does) explodes from the bounded per-source totals,
    * never from data. */
  def qualityDrift(docs: DataFrame, bins: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = docs.select(col("source"),
      least(floor(qualityComposite * bins), lit(bins - 1)).cast("int").as("bin"))
    val perSrc = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val srcTot = binned.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val glob = binned.groupBy("bin").agg(count(lit(1)).as("gc"))
    val globTot = binned.agg(count(lit(1)).as("gn"))
    val grid = srcTot.select(col("source"), col("n_docs"),
      explode(sequence(lit(0), lit(bins - 1))).as("bin"))
    val w = Window.partitionBy(col("source")).orderBy(col("bin"))
    grid
      .join(perSrc, Seq("source", "bin"), "left").na.fill(0L, Seq("c"))
      .join(glob, Seq("bin"), "left").na.fill(0L, Seq("gc"))
      .crossJoin(broadcast(globTot))
      // the global cumsum runs inside each source's grid copy: same
      // bounded window, same values, no second global pass
      .withColumn("fs", sum(col("c")).over(w).cast("double") / col("n_docs"))
      .withColumn("fg", sum(col("gc")).over(w).cast("double") / col("gn"))
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        round(max(abs(col("fs") - col("fg"))), 6).as("ks_d"))
  }

  /** Deterministic seeded global training order (B103): every document
    * gets a position in a pseudorandom permutation of the corpus —
    * `ord` = global row_number under ORDER BY md5(doc_id ":" seed), the
    * shuffle a training run performs once per epoch over the whole
    * corpus. Hash-keyed (not `rand()`-keyed), so the permutation is a
    * pure function of (doc_id, seed): reproducible across retries,
    * cluster sizes, and the DuckDB oracle, and a different seed gives an
    * independent epoch order with no RNG state to checkpoint. The global
    * position comes from [[Ranks.withGlobalRowNumber]] — range-partitioned
    * two-pass, never a single-partition window — so the full-corpus sort
    * a 100 TB epoch shuffle implies stays parallel. doc_id ties broken by
    * doc_id itself (md5 collisions), making the order total. */
  def corpusShuffle(docs: DataFrame, seed: Int = 42): DataFrame =
    Ranks.withGlobalRowNumber(
        docs.select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":" + seed))).as("skey")),
        "ord", "_n", Seq(col("skey"), col("doc_id")))
      .select(col("ord"), col("doc_id"), col("skey"))

  /** Token-mass-weighted length percentiles (B285): the smallest doc
    * length below which p% of the corpus's TOKENS (not documents) sit —
    * the statistic a max-sequence-length policy actually needs: length
    * deciles over documents ([[charPercentiles]]) say where the docs
    * are, this says where the TRAINING MASS is (one 100k-token doc
    * outweighs a thousand tweets), and its complement at each cut is
    * exactly what [[truncationLoss]] reports for one fixed cut. Exact
    * long token counts ride the two-pass range-partitioned global
    * cumulative sum (no single-task window); each percentile is the
    * crossing row's length via an integer cross-multiplied filter
    * (cum·100 ≥ pct·total — no float quantile arithmetic). */
  def tokenMassPercentiles(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
      size(tokens(col("text"))).cast("long").as("toks"))
    val ranked = Ranks.withGlobalCumSum(d, "toks", "cum_toks", "tot_toks",
      Seq(col("n_chars"), col("doc_id")))
    val totals = d.agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    ranked
      .select(col("n_chars"), col("cum_toks"), col("tot_toks"),
        explode(array(lit(25L), lit(50L), lit(75L), lit(90L), lit(99L))).as("pct"))
      .filter(col("cum_toks") * 100 >= col("pct") * col("tot_toks"))
      .groupBy("pct")
      .agg(min(col("n_chars")).as("chars_at_pct"))
      .crossJoin(broadcast(totals))
      .select(col("pct"), col("chars_at_pct"), col("n_docs"), col("n_tokens"))
  }

  /** 2-D skyline / Pareto frontier of (quality, length) (B286): every
    * document no other document dominates (≥ in both dimensions, > in
    * at least one) — the SKYLINE operator of the preference-query
    * literature, and concretely the set of "best document at each
    * quality level" a curation UI plots as its frontier. The sweep
    * never sorts the corpus: per-quality max lengths collapse to the
    * DISTINCT-quality frame, which is BOUNDED BY VALUE SPACE (the 6 dp
    * composite has ≤ 10⁶+1 possible values regardless of corpus size,
    * so its one ordered window is config-sized, not data-sized); the
    * frontier filter (glen > max over strictly-higher quality) and the
    * equality join back to docs are broadcast-sized. Ties on both
    * dimensions all survive, per the standard skyline definition. */
  def skylineDocs(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("n_chars").cast("long").as("len"),
      qualityComposite.as("quality"))
    val byQ = scored.groupBy("quality").agg(max(col("len")).as("glen"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val front = byQ.withColumn("prevmax", max(col("glen")).over(w))
      .filter(col("prevmax").isNull || col("glen") > col("prevmax"))
      .select(col("quality"), col("glen"))
    scored.join(broadcast(front), "quality")
      .filter(col("len") === col("glen"))
      .select(col("doc_id"), col("quality"), col("len").as("n_chars"))
  }

  /** Wald–Wolfowitz runs test over the shuffled corpus order (B283):
    * does [[corpusShuffle]]'s order actually decorrelate provenance?
    * The shuffled stream is encoded binary (majority source vs rest),
    * runs R = 1 + boundary switches, and z = (R − μ)/σ with the
    * closed-form identities μ − 1 = 2n₁n₂/n and σ² = (μ−1)(μ−2)/(n−1)
    * — |z| ≫ 2 means the "shuffle" still clumps (a curriculum leak any
    * LM trainer pays for in gradient correlation). Boundaries come
    * from the rank-aligned self-join on the two-pass global row number
    * (ord ↔ ord+1 is ONE equi-join shuffle, never a data-sized window);
    * counts are exact longs, μ/σ are assembled from them with the same
    * double expression on both engines; degenerate single-source
    * corpora yield NULL z. */
  def runsTest(docs: DataFrame, seed: Int = 42): DataFrame = {
    val shuf = corpusShuffle(docs, seed).select(col("ord"), col("doc_id"))
    val major = docs.groupBy("source").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("source")).limit(1)
      .select(col("source").as("major"))
    val flagged = CacheTracker.cache(
      shuf.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .crossJoin(broadcast(major))
        .select(col("ord"), (col("source") === col("major")).cast("long").as("m")))
    val switches = flagged
      .join(flagged.select((col("ord") - 1).as("ord"), col("m").as("m_next")), "ord")
      .agg(coalesce(sum(when(col("m") =!= col("m_next"), 1L).otherwise(0L)), lit(0L))
        .as("switches"))
    val counts = flagged.agg(count(lit(1)).as("n_docs"), sum(col("m")).as("n_major"))
    val mu = lit(2.0) * col("n_major").cast("double") *
      (col("n_docs") - col("n_major")).cast("double") / col("n_docs") + 1.0
    val sigma2 = (mu - 1.0) * (mu - 2.0) / (col("n_docs") - 1).cast("double")
    switches.crossJoin(broadcast(counts))
      .select(col("n_docs"), col("n_major"), (col("switches") + 1).as("n_runs"),
        round(when(sigma2 > 0.0,
          ((col("switches") + 1).cast("double") - mu) / sqrt(sigma2)), 6)
          .as("z_stat"))
  }

  /** Hill-number diversity profile of each source's token distribution
    * (B284): richness q0 = |vocab|, Shannon diversity q1 = e^H, inverse
    * Simpson q2 = N²/Σc² — the ecology ladder (each q discounts rare
    * tokens harder), read next to [[renyiEfficiency]]: a source whose
    * q1 ≪ q0 runs on a tiny effective vocabulary however long its tail,
    * and q2 names the head concentration outright. Σc² stays EXACT
    * through DECIMAL(38,0) so inverse Simpson is one double division of
    * exact integers; Shannon terms are 9 dp over the vocabulary-sized
    * type frame, summed exactly; Pielou evenness H/ln(q0) rides along. */
  def hillNumbers(docs: DataFrame): DataFrame = {
    val counts = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("q0"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
    val h = counts.join(broadcast(totals.select(col("source"), col("n_tokens"))), "source")
      .select(col("source"),
        // term is the all-non-negative p·ln(n/c) form so a singleton
        // vocabulary can never emit IEEE -0.0
        round((col("c").cast("double") / col("n_tokens"))
          * log(col("n_tokens").cast("double") / col("c")), 9).as("term"))
      .groupBy("source")
      .agg(Folds.exactSum(col("term")).as("h"))
    totals.join(h, "source")
      .select(col("source"), col("n_tokens"), col("q0"),
        round(exp(col("h")), 6).as("hill1"),
        round((col("n_tokens").cast("decimal(38,0)") * col("n_tokens"))
          .cast("double") / col("sc2").cast("double"), 6).as("hill2"),
        round(when(col("q0") > 1, col("h") / log(col("q0").cast("double"))), 6)
          .as("pielou_evenness"))
  }

  /** Tokenizer fertility per language (B104): BPE-ish tokens per
    * whitespace word and chars per token — THE go/no-go statistic for a
    * tokenizer across a multilingual corpus (a language at 2× fertility
    * pays 2× the sequence length for the same text). Sums are exact
    * longs; only the final ratios are floating (rounded 6 dp), so the
    * result is partitioning-independent without any float sum. One
    * partial-agg shuffle on lang. */
  def tokenFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long").as("w"),
        size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
          .cast("long").as("b"),
        length(col("text")).cast("long").as("c"))
      .groupBy("lang")
      .agg(sum(col("w")).as("ws_words"), sum(col("b")).as("bpe_tokens"),
        sum(col("c")).as("chars"))
      .select(col("lang"), col("ws_words"), col("bpe_tokens"), col("chars"),
        // nullif: an all-empty-text language yields NULL ratios, not a
        // divide-by-zero Infinity the oracle can't reproduce
        round(col("bpe_tokens").cast("double") / nullif(col("ws_words"), lit(0L)), 6)
          .as("fertility"),
        round(col("chars").cast("double") / nullif(col("bpe_tokens"), lit(0L)), 6)
          .as("chars_per_token"))

  /** Repetition profile per document (B18): distinct-token ratio and the
    * most-frequent-bigram share — the C4/Gopher-style signals that flag
    * boilerplate and degenerate repetition in a training corpus. Narrow
    * except one (doc_id, bigram) partial-agg shuffle. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    // `toks` is a bound attribute here, so the per-element lambdas do not
    // re-evaluate the clean+tokenize chain (see Dedup.shingles scaladoc)
    val bigrams = base.select(col("doc_id"),
      explode(when(size(col("toks")) > 1,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val top = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_bigram_n"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens")).otherwise(0.0), 6)
          .as("distinct_ratio"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        round(when(col("n_tokens") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") / (col("n_tokens") - 1))
          .otherwise(0.0), 6).as("top_bigram_frac"))
  }

  /** Gopher-style rule filter (B19): token-count bounds, mean-token-length
    * bounds, and a stopword-presence floor, each reported as its own flag
    * plus the composite `kept`. All narrow per-row expressions — the
    * filter itself would push straight into a scan at scale. */
  def gopherFilter(docs: DataFrame, minTokens: Int = 5, maxTokens: Int = 1000,
                   minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(when(size(col("toks")) > 0,
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t).cast("long"))
            .cast("double") / size(col("toks"))).otherwise(0.0), 6).as("mean_tok_len"),
        size(filter(col("toks"), t => t.isInCollection(Stopwords))).cast("long")
          .as("stop_count"))
      .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"), col("stop_count"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).as("ok_len"),
        (col("mean_tok_len") >= minMeanLen && col("mean_tok_len") <= maxMeanLen)
          .as("ok_mean_len"),
        (col("stop_count") >= 1).as("ok_stop"))
      .withColumn("kept", col("ok_len") && col("ok_mean_len") && col("ok_stop"))

  /** Top-k tokens per language (B22): vocabulary profile through the
    * custom TopKPerKey heap operator — the two-phase partial heap prunes
    * to <=k rows per lang BEFORE the final shuffle, so the full
    * (lang, token) count table is never sorted; the trivial <=k window
    * afterward only assigns ranks. */
  def topTokensPerLang(docs: DataFrame, k: Int = 5): DataFrame = {
    val counts = docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val pruned = graft.plans.TopK.topKPerKey(
      counts, Seq("lang"), Seq("cnt" -> false, "token" -> true), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("token"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("lang", "token", "rnk", "cnt")
  }

  /** Token-budget sequence packing (B23): assign documents to
    * fixed-token-budget bins, the sharding step before a tokenizer /
    * training job. Deterministic: shard = doc_id mod `shards`, docs
    * ordered by doc_id within shard, bin = floor(prefix-tokens/budget).
    * One shuffle on shard; per-shard sort. Shard count tracks cluster
    * width at scale — parallelism is `shards`, not |docs|. */
  def sequencePack(docs: DataFrame, budget: Long = 256, shards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col("doc_id"),
        (col("doc_id") % shards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("prefix_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prefix_tokens") / budget))
  }

  /** Packing-efficiency report (B115): per shard, how full the packed
    * training bins actually are — total tokens over bin capacity. The
    * metric that justifies (or indicts) [[sequencePack]]'s greedy
    * policy: a fill fraction well under 1 means the batch budget is
    * burning padding. Straddling documents make the last-bin accounting
    * approximate, so the fraction can graze 1; per-shard frames are
    * shard-bounded after one partial-agg shuffle. */
  def packEfficiency(docs: DataFrame, budget: Long = 256, shards: Int = 8): DataFrame =
    sequencePack(docs, budget, shards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(col("bin")) + 1).as("n_bins"))
      .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_bins"),
        round(col("total_tokens").cast("double") / (col("n_bins") * budget), 6)
          .as("fill_frac"))

  /** Frequency-bounded vocabulary builder (B24): tokens with
    * df >= minDf keep a dense id ordered by (df desc, token); the long
    * tail maps to the OOV bucket (id 0). The id-assigning global window
    * runs on the VOCAB-sized frame (already aggregated), not the corpus;
    * HashingTF is the alternative when even the vocab is unbounded. */
  def vocabBuild(docs: DataFrame, minDf: Int = 2): DataFrame = {
    val df_ = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").desc, col("token"))
    df_.withColumn("vocab_id",
      when(col("df") >= minDf, row_number().over(w).cast("long")).otherwise(0L))
  }

  /** Sliding-window document chunking (B31): split each document's token
    * stream into fixed-size windows with overlap — the packing step that
    * turns variable-length documents into model-context-sized training
    * chunks while the overlap preserves cross-boundary context. Chunk
    * count is ceil((n-win)/stride)+1 (always >=1 for non-empty docs), so
    * every token is covered and consecutive chunks share win-stride
    * tokens. Purely narrow: tokens, starts, and slices are per-row
    * expressions — zero shuffle at any corpus size; output rows scale
    * as n_tokens/stride per document. */
  def docChunk(docs: DataFrame, win: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && win >= stride, "need 0 < stride <= win")
    val n = size(col("toks"))
    val nChunks = when(n <= win, lit(1L))
      .otherwise(floor((n - win + (stride - 1)).cast("double") / stride).cast("long") + 1L)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(win)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("chunk_len"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** Curation-filter vote patterns (B192): three independent keep
    * signals — composite quality ≥ 0.5, the Gopher shape gates, and
    * lang-id agreement with the declared language — tabulated as the
    * 2³ vote-pattern census with a majority-keep verdict. The ensemble
    * view a single sequential funnel ([[filter_attrition]]'s shape)
    * hides: which filters DISAGREE, and how many docs each unique
    * disagreement pattern holds. Three doc-keyed equi-joins of per-row
    * signal frames; output is 2³-bounded. */
  def filterVotePatterns(docs: DataFrame): DataFrame = {
    val q = docs.select(col("doc_id"),
      (qualityComposite >= 0.5).as("q_vote"))
    val g = gopherFilter(docs).select(col("doc_id"), col("kept").as("g_vote"))
    val l = langId(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), (col("pred_lang") === col("lang")).as("l_vote"))
    q.join(g, "doc_id").join(l, "doc_id")
      .withColumn("kept",
        col("q_vote").cast("int") + col("g_vote").cast("int")
          + col("l_vote").cast("int") >= 2)
      .groupBy("q_vote", "g_vote", "l_vote", "kept")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Shared-prefix mass audit (B189): for k ∈ {4, 8, 16}, how many
    * docs share their first k tokens with another doc, and the token
    * mass an inference-time PREFIX CACHE would save — the prompt-
    * caching sizing readout (system prompts, templated headers and
    * boilerplate make real corpora far more prefix-shared than
    * full-content dedup suggests). Only docs with ≥ k tokens count at
    * level k; savings = (group_size − 1)·k per shared prefix. Three
    * slim hash aggregates, one scan. */
  def prefixDedupStats(docs: DataFrame, ks: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val toked = docs.select(tokens(col("text")).as("toks"))
    ks.map { k =>
      toked.filter(size(col("toks")) >= k)
        .select(concat_ws(" ", slice(col("toks"), 1, k)).as("prefix"))
        .groupBy("prefix").agg(count(lit(1)).as("n_docs"))
        .agg(count(lit(1)).as("n_groups"),
          coalesce(sum(col("n_docs")), lit(0L)).as("n_docs_considered"),
          coalesce(sum(when(col("n_docs") >= 2, col("n_docs")).otherwise(0L)),
            lit(0L)).as("n_docs_sharing"),
          coalesce(sum(when(col("n_docs") >= 2, (col("n_docs") - 1) * k)
            .otherwise(0L)), lit(0L)).as("tokens_saved"))
        .select(lit(k).as("k"), col("n_groups"), col("n_docs_considered"),
          col("n_docs_sharing"), col("tokens_saved"),
          when(col("n_docs_considered") > 0,
            round(col("tokens_saved").cast("double")
              / (col("n_docs_considered") * k), 6)).otherwise(lit(0.0))
            .as("savings_share"))
    }.reduce(_ unionByName _)
  }

  /** Contrastive chunk pairs (B190): SimCSE/DPR-style training triples
    * off the chunking pass — anchor = chunk i, positive = the SAME
    * doc's next overlapping chunk (guaranteed topical), negative = a
    * deterministic other-doc chunk 0 drawn from the anchor's doc_id
    * bucket (max doc_id in bucket, min when the anchor IS the max; a
    * single-doc bucket yields no triple). No randomness, so both
    * engines emit identical triples; every join is key-equi and the
    * bucket aggregates are bucket-count-bounded. */
  def contrastivePairs(docs: DataFrame, buckets: Int = 64): DataFrame = {
    val chunks = docChunk(docs)
    val c0 = chunks.filter(col("chunk_id") === 0L)
      .select(col("doc_id"), col("chunk_text"))
    val bm = c0.select((col("doc_id") % buckets).as("bkt"), col("doc_id"))
      .groupBy("bkt").agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val pos = chunks.select(col("doc_id"), col("chunk_id"),
        col("chunk_text").as("anchor_text"))
      .join(chunks.select(col("doc_id"), (col("chunk_id") - 1).as("chunk_id"),
        col("chunk_text").as("positive_text")), Seq("doc_id", "chunk_id"))
    pos
      .withColumn("bkt", col("doc_id") % buckets)
      .join(bm, "bkt")
      .withColumn("neg_doc_id",
        when(col("doc_id") =!= col("mx"), col("mx"))
          .when(col("mn") =!= col("mx"), col("mn")))
      .filter(col("neg_doc_id").isNotNull)
      .join(c0.select(col("doc_id").as("neg_doc_id"),
        col("chunk_text").as("negative_text")), "neg_doc_id")
      .select(col("doc_id"), col("chunk_id"), col("anchor_text"),
        col("positive_text"), col("neg_doc_id"), col("negative_text"))
  }

  /** Keep-best dedup (B38): one row per content hash, keeping the
    * HIGHEST-quality duplicate (ties by doc_id) instead of keep-first —
    * the curation policy when duplicates differ in extraction quality.
    * Same single hash-partitioned shuffle as keep-first; the policy is
    * only the window's ORDER BY. Quality is the shared composite
    * (rounded to 6 dp), so the oracle applies the identical ordering. */
  def dedupKeepBest(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(cleanText(col("text"))))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"), qualityComposite.as("quality"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars", "quality")
  }

  /** One BPE merge step (B39): find the corpus's most frequent adjacent
    * token pair and merge every occurrence into a single token — the
    * inner loop of byte-pair-encoding tokenizer training, expressed
    * declaratively. The argmax reduces the vocab²-bounded bigram-count
    * frame to ONE row that broadcasts; the merge itself is a narrow
    * per-row regexp_replace with a column pattern (no driver round-trip
    * anywhere). Both engines share leftmost non-overlapping global
    * replace semantics, so "a a a" merges identically. */
  def bpeMergeStep(docs: DataFrame): DataFrame = {
    val bigrams = docs.select(tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) > 1,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("pair"))
    val top = bigrams.groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(1)
      .select(col("pair"), col("cnt"),
        split(col("pair"), " ").getItem(0).as("_a"),
        split(col("pair"), " ").getItem(1).as("_b"))
    docs.select(col("doc_id"), cleanText(col("text")).as("clean"))
      .crossJoin(broadcast(top))
      .select(col("doc_id"), col("pair"), col("cnt"),
        regexp_replace(col("clean"),
          concat(lit("\\b"), col("_a"), lit(" "), col("_b"), lit("\\b")),
          concat(col("_a"), lit("_"), col("_b"))).as("merged"))
  }

  /** Full iterated BPE trainer (B135): runs `nMerges` rounds of the
    * [[bpeMergeStep]] inner loop to a merges table — (merge_rank, pair,
    * new_token, cnt), the learned tokenizer. Round 0 normalizes the
    * corpus once through the cleanup chain; every later round
    * re-tokenizes by plain whitespace split (merged tokens carry `_`,
    * which the cleanup chain would strip — and `_` CAN only come from a
    * merge, so the split is exact).
    *
    * Shape — the standard distributed-BPE split of state: the CORPUS
    * stays distributed (per round: one partial-aggregated shuffle onto
    * the vocab²-bounded pair frame, a TakeOrdered(1) argmax, then a
    * narrow per-row replace), while the MERGES table lives on the
    * driver — one row per round, bounded by the nMerges config, never
    * by the data, read back via take(1) per round (the
    * doc_similarity_pruned one-row-stats precedent, not a data
    * collect). Each round's corpus persists (CacheTracker-scoped) and
    * the argmax job materializes it, so lineage stays one round deep —
    * a lazily-chained variant self-references the 1-row argmax subplan
    * and doubles the logical plan per round (2^N blowup by round 8).
    * N linear corpus passes total, the cost every BPE trainer pays.
    *
    * Leftmost non-overlapping global replace semantics are shared with
    * DuckDB, so "a a a" merges identically; `\b` boundaries keep a
    * merged `a_b` from re-matching its suffix (`_` is a word
    * character). A corpus that runs out of bigrams stops early with
    * fewer rows on both engines identically. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    bpeTrainMerges(docs, nMerges)
      .toDF("merge_rank", "pair", "new_token", "cnt")
  }

  /** The trainer loop behind [[bpeTrain]]/[[bpeApply]], returning the
    * driver-bounded merges list itself.
    *
    * FUSED super-rounds (r18): one argmax pass costs a full corpus
    * explode + shuffle (~0.4 s of the ~0.55 s/round at sf0.1, 2.9 s of
    * the query's 4.5 s over 8 rounds), so each pass now collects the
    * top-K pair counts and accepts the maximal PREFIX of ranks that the
    * sequential chain provably picks unchanged, applying them as one
    * folded replace + one checkpoint. Soundness of accepting rank j+1
    * after ranks 1..j (all from the same pre-merge count table):
    *
    *   (1) pairwise token-disjoint with ranks 1..j → its own count is
    *       unchanged by those merges (no occurrence destroyed/created);
    *   (2) every OTHER existing pair's count can only DECREASE under
    *       the merges, and the list order already encodes the
    *       (cnt DESC, pair ASC) tie-break, so no old pair can overtake
    *       it;
    *   (3) a NEW pair created by merging (a,b) — (x,a_b) or (a_b,y) —
    *       occurs at most as often as the pre-merge pair (x,a)/(b,y)
    *       it extends, so requiring cnt_{j+1} STRICTLY greater than
    *       the max pre-count among pairs sharing a token with any
    *       accepted pair (conservatively the K-th count for pairs
    *       outside the collected top-K) guarantees no new pair can
    *       reach rank 1 before it.
    *
    * The DuckDB oracle stays the plain sequential chain — the fusion is
    * a pure execution-strategy change, proven value-identical by the
    * hash compare at both SFs (and by a python replay of both
    * strategies over the cleaned corpus). On the driver sit ≤ K rows
    * per pass — config-bounded state, never data-bounded. */
  private[graft] def bpeTrainMerges(docs: DataFrame, nMerges: Int)
      : Seq[(Long, String, String, Long)] = {
    val topK = 64
    var corpus = CacheTracker.pin(
      docs.select(col("doc_id"), cleanText(col("text")).as("txt")))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var done = 0
    var exhausted = false
    while (done < nMerges && !exhausted) {
      val toks = filter(split(col("txt"), " "), t => t =!= "")
      val bigrams = corpus.select(toks.as("toks"))
        .select(explode(when(size(col("toks")) > 1,
          transform(sequence(lit(1), size(col("toks")) - 1),
            j => concat_ws(" ", element_at(col("toks"), j),
              element_at(col("toks"), j + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      val top = bigrams.groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(topK)
        .collect() // ≤ K (pair, cnt) rows — config-bounded driver state
      if (top.isEmpty) exhausted = true
      else {
        val pairs = top.map(r => (r.getString(0), r.getLong(1)))
        // pairs outside the collected top-K have count ≤ the K-th
        val kth = if (pairs.length == topK) pairs.last._2 else 0L
        val accepted = scala.collection.mutable.ArrayBuffer(pairs(0))
        var acceptedToks = pairs(0)._1.split(" ", 2).toSet
        var stop = false
        for (j <- 1 until pairs.length
             if !stop && done + accepted.size < nMerges) {
          val (p, cnt) = pairs(j)
          val pt = p.split(" ", 2).toSet
          if ((pt & acceptedToks).nonEmpty) stop = true
          else {
            val acceptedSet = accepted.map(_._1).toSet
            val neighborMax = pairs.iterator
              .filter { case (pp, _) => !acceptedSet.contains(pp) &&
                (pp.split(" ", 2).toSet & acceptedToks).nonEmpty }
              .map(_._2).maxOption.getOrElse(0L)
            if (cnt > math.max(neighborMax, kth)) {
              accepted += ((p, cnt)); acceptedToks ++= pt
            } else stop = true
          }
        }
        // apply the accepted prefix IN RANK ORDER as one folded
        // projection — sequential replace semantics preserved exactly
        var txt: org.apache.spark.sql.Column = col("txt")
        accepted.foreach { case (p, cnt) =>
          done += 1
          val Array(a, b) = p.split(" ", 2)
          merges += ((done.toLong, p, s"${a}_$b", cnt))
          txt = regexp_replace(txt, s"\\b$a $b\\b", s"${a}_$b")
        }
        corpus = CacheTracker.pin(corpus.select(col("doc_id"), txt.as("txt")))
      }
    }
    merges.result()
  }

  /** BPE application (B138): tokenize the corpus WITH the learned merges
    * — [[bpeTrain]]'s inference half, completing the tokenizer
    * round-trip (train → apply → id sequences). The merges replay in
    * rank order as a chain of literal regexp_replace steps folded into
    * ONE narrow projection (the merge table is nMerges-bounded driver
    * state, so inlining it as literals is free and keeps the whole
    * apply pass shuffle-free); the merged text then splits to
    * (doc_id, pos, token) rows exactly like [[tokenizeIds]]' exploded
    * layout. Greedy left-to-right, rank-priority application is the
    * standard BPE inference rule and matches what the trainer measured.
    * Self-application here (train and apply on the same corpus) is the
    * round-trip the oracle replays; at scale the merges list is a
    * frozen artifact applied to any later corpus. */
  def bpeApply(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val merges = bpeTrainMerges(docs, nMerges)
    val merged = merges.foldLeft(cleanText(col("text"))) {
      case (c, (_, pair, nt, _)) =>
        val Array(a, b) = pair.split(" ", 2)
        regexp_replace(c, s"\\b$a $b\\b", nt)
    }
    docs.select(col("doc_id"),
        posexplode(filter(split(merged, " "), t => t =!= ""))
          .as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("token"))
  }

  /** HTML/boilerplate extraction (B136): the trafilatura-stage curation
    * pass every web corpus hits FIRST — strip script/style blocks, split
    * into block-level paragraphs, keep only text-dense blocks (enough
    * text, few links), reassemble in order. Boilerplate (nav bars,
    * related-links, footers) is short and link-dense; content is long
    * and link-sparse — the two-rule density heuristic (≥ `minChars`
    * visible chars AND ≤ `maxLinks` anchors) is the core of every
    * production extractor. The corpus carries no raw HTML, so each doc
    * is first wrapped in a deterministic page shell (head + script with
    * a literal `<` + style + nav + link farm + footer) — built
    * identically by the DuckDB twin, keeping the EXTRACTION chain the
    * thing under test. All regexes are RE2-safe (`(?s)` + non-greedy,
    * no lookarounds) so both engines run the same chain. Narrow
    * per-row work until one hash-partitioned shuffle on doc_id
    * reassembles kept blocks — scales linearly, no data-sized state. */
  def htmlExtract(docs: DataFrame, minChars: Int = 30,
                  maxLinks: Int = 1): DataFrame = {
    val html = concat(
      lit("<html><head><title>Page</title>" +
        "<script type=\"text/javascript\">var a = 1; if (a < 2) { a = a + 1; }</script>" +
        "<style>.nav { color: red; }</style></head><body>"),
      lit("<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a> | " +
        "<a href=\"/contact\">Contact</a></nav>"),
      lit("<p>"), col("text"), lit("</p>"),
      lit("<div><a href=\"/r1\">Related one</a> <a href=\"/r2\">Related two</a> " +
        "<a href=\"/r3\">More stories</a></div>"),
      lit("<footer>Copyright "), col("source"),
      lit(" <a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a> " +
        "all rights reserved</footer></body></html>"))
    val noHead = regexp_replace(
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val blocks = docs
      .select(col("doc_id"),
        posexplode(split(noHead, "</p>|</nav>|</div>|</footer>"))
          .as(Seq("pos", "blk")))
      .select(col("doc_id"), col("pos"),
        trim(regexp_replace(regexp_replace(col("blk"), "<[^>]*>", " "),
          "\\s+", " ")).as("btext"),
        (size(split(col("blk"), "<a ")) - 1).as("n_links"))
      .withColumn("keep",
        length(col("btext")) >= minChars && col("n_links") <= maxLinks)
    blocks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("btext"))))),
            c => c.getField("btext"))).as("content"))
  }

  /** URL canonicalization + domain extraction (B137): the pass that
    * turns raw crawl URLs into the stable `source`/domain keys that
    * [[TextOps.shardBalance]] / domain_cap / per-domain mixing assume
    * already exist. Canonical form: scheme and host lowercased, the
    * scheme's default port dropped (:443 on https, :80 on http),
    * `utm_*` tracking params removed (a dangling `?`/`&` cleaned up),
    * and the fragment discarded; the registrable domain is the last two
    * host labels — the PSL-free approximation (a real public-suffix
    * list is a broadcast lookup-table join away; .co.uk-style suffixes
    * land on the suffix, documented). The corpus carries no URL column,
    * so one is synthesized deterministically per doc (case-varied
    * scheme, www/cdn subdomains, explicit default ports, utm noise,
    * fragments — exercising every rule), identically in the DuckDB
    * twin. Pure narrow per-row regex chain: zero shuffles, linear
    * scale-out. */
  def urlDomains(docs: DataFrame): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("HTTP")),
      lit("://"),
      when(col("doc_id") % 3 === 0, lit("WWW."))
        .when(col("doc_id") % 3 === 1, lit("cdn.")).otherwise(lit("")),
      col("source"), lit(".Example.COM"),
      when(col("doc_id") % 7 === 0,
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")))
        .otherwise(lit("")),
      lit("/Articles/"), col("doc_id").cast("string"),
      when(col("doc_id") % 5 === 0, concat(lit("?utm_source=feed&ref="), col("lang")))
        .when(col("doc_id") % 5 === 1, lit("?utm_campaign=x"))
        .when(col("doc_id") % 5 === 2, concat(lit("?ref="), col("lang"), lit("&utm_medium=cpc")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("#section2")).otherwise(lit("")))
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]*)", 1))
    val host =
      when(scheme === "https", regexp_replace(hostport, ":443$", ""))
        .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
    // path+query, fragment excluded; utm params stripped in two passes
    // (mid-string `utm_x=v&`, then edge `[?&]utm_x=v`), dangling `?` last
    val pathq = regexp_extract(url, "^[A-Za-z]+://[^/?#]*([^#]*)", 1)
    val cleanq = regexp_replace(
      regexp_replace(
        regexp_replace(pathq, "utm_[a-z_]+=[^&#]*&", ""),
        "[?&]utm_[a-z_]+=[^&#]*", ""),
      "\\?$", "")
    docs.select(col("doc_id"), url.as("url"),
      host.as("host"),
      regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("domain"),
      concat(scheme, lit("://"), host, cleanq).as("canon_url"))
  }

  /** Token-casing census per source (B184): ALL-CAPS / Capitalized /
    * lowercase shares of each feed's RAW whitespace tokens — the
    * shouting-headline / press-release / OCR-artifact detector that
    * [[charClassProfile]]'s char classes can't see (both "NEW" and
    * "new" are 100% letters). Tokens come off the raw text (casing is
    * exactly what the clean tokenizer destroys); a feed is flagged
    * `shouty` past 10% all-caps. Patterns live in the RE2 ∩ DuckDB
    * subset; exact BIGINT counts, 6 dp shares, flag off the rounded
    * share so both engines compare identical values. */
  def casingProfile(docs: DataFrame, shoutyShare: Double = 0.1): DataFrame = {
    val tok = docs.select(col("source"),
      explode(filter(split(col("text"), "\\s+"), t => t =!= "")).as("t"))
    tok.groupBy("source").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("t").rlike("^[A-Z]{2,}$"), 1L).otherwise(0L)).as("n_allcaps"),
        sum(when(col("t").rlike("^[A-Z][a-z]+$"), 1L).otherwise(0L)).as("n_cap"),
        sum(when(col("t").rlike("^[a-z]+$"), 1L).otherwise(0L)).as("n_lower"))
      .select(col("source"), col("n_tokens"), col("n_allcaps"),
        round(col("n_allcaps").cast("double") / col("n_tokens"), 6)
          .as("allcaps_share"),
        round(col("n_cap").cast("double") / col("n_tokens"), 6)
          .as("capitalized_share"),
        round(col("n_lower").cast("double") / col("n_tokens"), 6)
          .as("lower_share"))
      .withColumn("shouty", col("allcaps_share") > shoutyShare)
  }

  /** Character-class census per language (B180): letter / digit /
    * whitespace / other shares of the raw text — the encoding-damage
    * and content-type tripwire (a "French" feed going 30% `other` is
    * mojibake or markup; a digit-heavy one is tables/IDs, not prose).
    * Counts are exact: chars matching a class = length minus length
    * after deleting the class, an all-narrow regexp chain that sums to
    * BIGINTs in one partial-agg shuffle; shares round at 6 dp. The
    * classes stay in the RE2 ∩ DuckDB-regex common subset. */
  def charClassProfile(docs: DataFrame): DataFrame = {
    def cnt(p: String) =
      length(col("text")) - length(regexp_replace(col("text"), p, ""))
    docs.select(col("lang"), length(col("text")).as("n"),
        cnt("[A-Za-z]").as("nl"), cnt("[0-9]").as("nd"), cnt("\\s").as("ns"))
      .groupBy("lang")
      .agg(sum(col("n")).as("n_chars"),
        sum(col("nl")).as("n_letters"), sum(col("nd")).as("n_digits"),
        sum(col("ns")).as("n_spaces"),
        (sum(col("n")) - sum(col("nl")) - sum(col("nd")) - sum(col("ns")))
          .as("n_other"))
      .select(col("lang"), col("n_chars"),
        // NULL shares on a zero-char lang (all-empty texts) — never an
        // ANSI divide-by-zero throw
        round(when(col("n_chars") > 0,
          col("n_letters").cast("double") / col("n_chars")), 6).as("letter_share"),
        round(when(col("n_chars") > 0,
          col("n_digits").cast("double") / col("n_chars")), 6).as("digit_share"),
        round(when(col("n_chars") > 0,
          col("n_spaces").cast("double") / col("n_chars")), 6).as("space_share"),
        round(when(col("n_chars") > 0,
          col("n_other").cast("double") / col("n_chars")), 6).as("other_share"))
  }

  /** Approximate char-length percentiles via the KLL-style sketch (B40):
    * the mergeable bounded-memory path for quantiles at 100 TB, where the
    * exact interpolated percentile ([[charPercentiles]]) would need a
    * full sort per group. accuracy=10000 bounds rank error to ~0.01%.
    * Sketch internals differ across engines — rows-only check plus a
    * ScalaTest tolerance comparison against the exact variant. */
  def approxCharPercentiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)), lit(10000)).as("q"))
      .select(col("lang"), col("n_docs"),
        col("q").getItem(0).as("p25"), col("q").getItem(1).as("p50"),
        col("q").getItem(2).as("p75"), col("q").getItem(3).as("p95"))

  /** Cross-document paragraph-level exact dedup (B44): segment each doc
    * into fixed `win`-token windows (the corpus carries no natural
    * paragraph breaks), keep the globally FIRST occurrence of every
    * distinct window (min (doc_id, chunk_id)), and reassemble each doc
    * from its surviving windows in order — the CCNet-style pass that
    * removes boilerplate repeated across documents, which doc-level
    * dedup can never catch. One shuffle keyed on md5(chunk) for the
    * keep-first window, one shuffle back on doc_id for reassembly; no
    * all-pairs comparison anywhere. */
  def paragraphDedup(docs: DataFrame, win: Int = 8): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          ceil(size(col("toks")).cast("double") / win).cast("long") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("toks"), (col("chunk_id") * win + 1).cast("int"), lit(win)))
          .as("chunk_text"))
    val keep = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk_text")))
      .orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .withColumn("first_seen", row_number().over(keep) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("first_seen"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("first_seen"), struct(col("chunk_id"), col("chunk_text"))))),
            c => c.getField("chunk_text"))).as("dedup_text"))
  }

  /** Mixture weights for temperature-based source sampling (B47): the
    * per-source token masses raised to `alpha` < 1 (upweighting small
    * high-quality sources, the standard LLM data-mixing move), normalized
    * into sampling weights and an allocation of `budgetTokens`. One
    * partial-aggregated shuffle onto |sources| rows; the normalizing
    * total is an exact sum of 6-dp-rounded terms. */
  def mixtureWeights(docs: DataFrame, alpha: Double = 0.7,
                     budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .withColumn("w_raw", round(pow(col("n_tokens").cast("double"), alpha), 6))
    val total = perSource.agg(
      Folds.exactSum(col("w_raw"))
        .as("w_total"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("w_raw") / col("w_total"), 6).as("weight"),
        floor(col("w_raw") / col("w_total") * budgetTokens).cast("long")
          .as("alloc_tokens"))
  }

  /** Per-(lang, source) corpus aggregates (B12). */
  def textStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))

  /** CCNet-style line-frequency boilerplate removal (B49): segment each
    * doc into fixed `win`-token windows (the corpus has no natural line
    * breaks), count how many DISTINCT documents each window occurs in,
    * and drop every occurrence of any window found in >= `minDocs` docs
    * — nav bars, footers, license blurbs. Differs from [[paragraphDedup]]
    * (keep-first) in that boilerplate loses ALL copies, including the
    * first. Two hash-partitioned shuffles (window-hash frequency, doc_id
    * reassembly); frequency counting is partial-aggregated map-side, so
    * the shuffle carries one row per distinct (window, doc), never the
    * raw occurrence stream. */
  def lineFreqFilter(docs: DataFrame, win: Int = 8, minDocs: Int = 3): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          ceil(size(col("toks")).cast("double") / win).cast("long") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("toks"), (col("chunk_id") * win + 1).cast("int"), lit(win)))
          .as("chunk_text"))
      .withColumn("h", md5(col("chunk_text")))
      // localCheckpoint: `chunks` feeds BOTH sides of the df-join below
      // (the frequency census and the reassembly stream). Unpinned, the
      // tokenize+explode chain built twice and was exposed to mid-pass
      // eviction recompute (official 4.6 s vs 1.6 s solo at r15) — the
      // minhash_calibration/text_ann class. Corpus-linear (one row per
      // win-token window), narrow, builds once pinned.
      .transform(CacheTracker.pin)
    val common = chunks.select(col("h"), col("doc_id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("h"), lit(true).as("is_common"))
    chunks
      .join(common, Seq("h"), "left")
      .withColumn("drop", coalesce(col("is_common"), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(!col("drop"), struct(col("chunk_id"), col("chunk_text"))))),
            c => c.getField("chunk_text"))).as("filtered_text"))
  }

  /** Per-source document cap (B50): keep each source's top `k` documents
    * by (n_chars desc, doc_id) — the per-domain budget cap a crawl
    * curation applies so no single site dominates the mixture. Ranking
    * runs through the custom TopKPerKey two-phase heap operator: each
    * partition keeps at most k rows per source before the shuffle, so
    * the exchange carries O(sources * k), not the corpus. */
  def domainCap(docs: DataFrame, k: Int = 20): DataFrame = {
    val pruned = graft.plans.TopK.topKPerKey(
      docs.select(col("source"), col("doc_id"), col("n_chars")),
      Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("source", "doc_id", "n_chars", "rnk")
  }

  /** Tokenizer-fertility proxy (B51): per-source mean chars-per-token
    * and whitespace fraction — the cheap signals that flag
    * under-segmenting corpora (CJK without spacing, minified HTML)
    * before a tokenizer run. Per-doc ratios round to 6 dp, the
    * per-source mean divides the exact sum, re-rounded to 6 dp, by the
    * count (an ulp of the sum never decides a rounding tie). Narrow scan + one
    * partial-agg shuffle onto |sources| rows. */
  def compressionRatio(docs: DataFrame): DataFrame = {
    docs
      .select(col("source"),
        length(col("text")).cast("double").as("len"),
        size(tokens(col("text"))).cast("double").as("n_toks"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
          .cast("double").as("n_ws"))
      .filter(col("n_toks") > 0)
      .select(col("source"),
        round(col("len") / col("n_toks"), 6).as("cpt"),
        round(col("n_ws") / col("len"), 6).as("wsr"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(round(Folds.exactSum(col("cpt")), 6) / count(lit(1)), 6).as("chars_per_token"),
        round(round(Folds.exactSum(col("wsr")), 6) / count(lit(1)), 6).as("ws_ratio"))
  }

  /** Robust per-language length profile (B52): exact interpolated median
    * of n_chars and the median absolute deviation around it — the
    * outlier-resistant spread statistic a truncation policy reads.
    * Median via exact `percentile` (integer inputs, so the interpolated
    * value is a .0/.5 double — exactly representable, bit-stable across
    * engines); deviations join the 5-row median frame back by broadcast,
    * so the second pass is narrow. */
  def lengthMad(docs: DataFrame): DataFrame = {
    val med = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("med_chars"),
        count(lit(1)).as("n_docs"))
    docs.join(broadcast(med), "lang")
      .select(col("lang"), col("n_docs"), col("med_chars"),
        abs(col("n_chars") - col("med_chars")).as("dev"))
      .groupBy("lang", "n_docs", "med_chars")
      .agg(expr("percentile(dev, 0.5)").as("mad_chars"))
      .select(col("lang"), col("n_docs"), col("med_chars"), col("mad_chars"))
  }

  /** Brown–Forsythe test of equal length spread across sources (B278):
    * the robust Levene variant — a one-way ANOVA on absolute deviations
    * from each source's MEDIAN (not mean, so heavy-tailed lengths don't
    * fake a variance difference) answering "do sources differ in length
    * SPREAD", the scale complement of [[kruskalWallis]]'s location test.
    * Deviations live in exact ×2 integer space (2·median of integers is
    * a whole long, the [[lengthMad]] trick), per-source sufficient
    * stats are exact (n, Σz₂ as long, Σz₂² as DECIMAL(38,0) — squared
    * deviations overflow a long at ~10⁹ docs), and the F statistic
    * assembles from exact sums of 9 dp per-source terms over the
    * |sources|-bounded frame. One broadcast of the
    * median table, one partial-agg shuffle — corpus involvement ends
    * there. */
  def brownForsythe(docs: DataFrame): DataFrame = {
    val med = docs.groupBy("source")
      .agg((expr("percentile(n_chars, 0.5)") * 2).cast("long").as("med2"))
    val per = docs.join(broadcast(med), "source")
      .select(col("source"),
        abs(col("n_chars") * 2 - col("med2")).as("z2"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_i"), sum(col("z2")).as("s1"),
        sum(col("z2").cast("decimal(38,0)") * col("z2")).as("s2"))
    val grand = per.agg(sum(col("n_i")).as("n_docs"),
      sum(col("s1")).as("s1t"), count(lit(1)).as("k_groups"))
    // per-source 9 dp terms: ssb_i = n_i(z̄_i − z̄)², ssw_i = Σ(z_ij − z̄_i)²
    // via Σz² − (Σz)²/n, both descaled out of the ×2 space (÷4)
    val zbarI = col("s1").cast("double") / (col("n_i") * 2).cast("double")
    val zbar = col("s1t").cast("double") / (col("n_docs") * 2).cast("double")
    val terms = per.crossJoin(broadcast(grand))
      .agg(
        Folds.exactSum(round(col("n_i") * (zbarI - zbar) * (zbarI - zbar), 9)).as("ssb"),
        Folds.exactSum(round((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double")
            / col("n_i").cast("double")) / 4.0, 9)).as("ssw"))
    terms.crossJoin(broadcast(grand))
      .select(col("k_groups"), col("n_docs"),
        round(col("ssb"), 6).as("ssb"), round(col("ssw"), 6).as("ssw"),
        round(when(col("k_groups") > 1 && col("ssw") > 0.0,
          (col("ssb") / (col("k_groups") - 1).cast("double"))
            / (col("ssw") / (col("n_docs") - col("k_groups")).cast("double"))), 6)
          .as("f_stat"))
  }

  /** Negative-binomial fit of per-doc token counts by source (B288):
    * method-of-moments r = μ²/(s²−μ), p = μ/s² — the overdispersed
    * count model token counts actually follow (a Poisson fit would
    * claim s² = μ; the dispersion ratio s²/μ quantifies how wrong).
    * The distribution-fitting row for COUNTS beside
    * [[lengthLognormalFit]]'s continuous lengths: r/p feed synthetic-
    * data generators and length-bucket capacity planning. Exact
    * integer moments (Σx long, Σx² DECIMAL(38,0)); underdispersed
    * sources (s² ≤ μ, where NB degenerates) yield NULL r/p, not a
    * negative shape. */
  def negbinFit(docs: DataFrame): DataFrame = {
    val m = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("s1"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("s2"))
      .filter(col("n_docs") > 1)
    val mean = col("s1").cast("double") / col("n_docs")
    val variance = (col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / col("n_docs")) /
      (col("n_docs") - 1)
    m.select(col("source"), col("n_docs"),
      round(mean, 6).as("mean_tokens"),
      round(variance, 6).as("var_tokens"),
      round(variance / mean, 6).as("dispersion_ratio"),
      round(when(variance > mean, mean * mean / (variance - mean)), 6).as("nb_r"),
      round(when(variance > mean, mean / variance), 6).as("nb_p"))
  }

  /** Mood's median test of document length across sources (B289): the
    * 2×k chi-square of above-vs-at-or-below the GRAND median — the
    * bluntest, most outlier-proof of the k-sample location tests (it
    * only reads each length's side of one cut), read beside
    * [[kruskalWallis]] (ranks) and [[brownForsythe]] (spread): when
    * Mood and Kruskal disagree, the difference is in the tails, not
    * the centers. Grand median in exact ×2 integer space; the 2×k
    * contingency and its margins are exact longs; expected counts and
    * (o−e)²/e terms are 6 dp, summed exactly over the 2k-bounded grid. */
  def moodMedian(docs: DataFrame): DataFrame = {
    val med = docs.agg((expr("percentile(n_chars, 0.5)") * 2).cast("long").as("med2"))
    val cells = docs.crossJoin(broadcast(med))
      .select(col("source"),
        (col("n_chars") * 2 > col("med2")).cast("long").as("above"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_i"), sum(col("above")).as("a_i"))
    val grand = cells.agg(sum(col("n_i")).as("n"), sum(col("a_i")).as("a"),
      count(lit(1)).as("k_groups"))
    val terms = cells.crossJoin(broadcast(grand))
      .select(col("source"), col("k_groups"), col("n"),
        explode(array(
          struct(lit(1L).as("side"), col("a_i").as("o"),
            (col("n_i").cast("double") * col("a") / col("n")).as("e")),
          struct(lit(0L).as("side"), (col("n_i") - col("a_i")).as("o"),
            (col("n_i").cast("double") * (col("n") - col("a")) / col("n")).as("e"))))
          .as("t"))
      .select(col("k_groups"), col("n"),
        // a zero expected cell (every doc at/below the grand median —
        // a constant corpus) leaves Pearson's term undefined: one NULL
        // term makes chi2 NULL, never an ANSI throw
        round(when(col("t.e") > 0.0,
          pow(col("t.o").cast("double") - col("t.e"), 2.0) / col("t.e")), 6)
          .as("term"))
      .groupBy("k_groups", "n")
      .agg(when(count(col("term")) === count(lit(1)), Folds.exactSum(col("term")))
        .as("chi2"))
    terms.select(col("n").as("n_docs"), col("k_groups"), round(col("chi2"), 6).as("chi2"),
      (col("k_groups") - 1).as("dof"))
  }

  /** Per-language OLS of n_chars on token count (B53): the scaling-law
    * fit between two corpus measures, computed from exact integer
    * moment sums (n, Σx, Σy, Σxy, Σx²) so both engines do the identical
    * float arithmetic only in the final closed-form division —
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept from the same
    * denominator. One partial-agg shuffle onto |langs| rows; moments
    * merge associatively at any cluster width. */
  def charTokenRegression(docs: DataFrame): DataFrame = {
    val x = size(tokens(col("text"))).cast("long")
    val y = col("n_chars").cast("long")
    docs
      .select(col("lang"), x.as("x"), y.as("y"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n_docs"),
        // NULL slope/intercept on a zero-variance lang (all docs the
        // same token count) — never an ANSI divide-by-zero throw
        round(when(col("n_docs") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("n_docs") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n_docs") * col("sxx") - col("sx") * col("sx")).cast("double")), 6)
          .as("slope"),
        round(when(col("n_docs") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
            / (col("n_docs") * col("sxx") - col("sx") * col("sx")).cast("double")), 6)
          .as("intercept"))
  }

  /** Split-conformal prediction interval (B236, Vovk/Papadopoulos): fit
    * tokens ~ chars on the even-id half, take the ⌈(n+1)(1−α)⌉-th
    * smallest absolute residual on the odd-id calibration half — the
    * DISTRIBUTION-FREE interval half-width q̂ such that "predicted ±
    * q̂" covers a fresh doc with probability ≥ 1−α, no normality
    * assumption. What a pipeline quotes as the error bar on any
    * regression-derived field without trusting the model's own
    * variance.
    *
    * Determinism: slope/intercept stay unrounded doubles from exact
    * BIGINT moments (the charTokenRegression discipline) so both
    * engines score identical residuals; q̂ is an order statistic
    * (rank by |resid| with a doc_id tie-break); the cover_rate check
    * divides exact counts. One moments aggregate + the Ranks two-pass
    * range-partitioned rank on the calibration half — the calibration
    * frame is half the corpus, so an unpartitioned window here would be
    * the single-task global sort the repo's discipline forbids. */
  def conformalInterval(docs: DataFrame, alpha: Double = 0.1): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("y"),
      col("n_chars").cast("long").as("x"))
    val train = base.filter(col("doc_id") % 2 === 0)
    val cal = base.filter(col("doc_id") % 2 === 1)
    val fit = train.agg(
        count(lit(1)).as("n_train"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_train"),
        // NULL fit on a zero-variance train half (charTokenRegression's
        // guard): the interval is undefined, not an ANSI throw
        when(col("n_train") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("n_train") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n_train") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("b"),
        when(col("n_train") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
            / (col("n_train") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("a"))
    val resid = cal.crossJoin(broadcast(fit))
      .select(col("doc_id"), col("n_train"), col("a"), col("b"),
        abs(col("y").cast("double") - (col("a") + col("b") * col("x"))).as("r"))
    val ranked = Ranks.withGlobalRowNumber(resid, "rk", "n_cal",
      Seq(col("r").asc, col("doc_id")))
    // k = ceil((n_cal + 1)(1 - alpha)), capped at n_cal
    val k = least(ceil((col("n_cal") + 1L) * (1.0 - alpha)).cast("long"), col("n_cal"))
    val qhat = ranked.filter(col("rk") === k)
      .select(col("n_train"), col("n_cal"),
        round(col("a"), 6).as("intercept"), round(col("b"), 6).as("slope"),
        round(col("r"), 6).as("q_hat"), col("r").as("_q"))
    // the 1-row q̂ broadcasts; the calibration stream is never collected
    resid.select(col("r").as("r2")).crossJoin(broadcast(qhat))
      .groupBy("n_train", "n_cal", "intercept", "slope", "q_hat", "_q")
      .agg(sum(when(col("r2") <= col("_q"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("n_train"), col("n_cal"), col("intercept"), col("slope"),
        col("q_hat"),
        round(col("n_covered").cast("double") / col("n_cal"), 6).as("cover_rate"))
  }

  /** Largest regression residuals of the per-language n_chars ~ n_tokens
    * fit (B203): the documents that DON'T follow their language's
    * character/token scaling law — ID dumps, minified blobs, and
    * whitespace-stripped text sit far above the line; token-soup far
    * below. Reuses [[charTokenRegression]]'s exact-integer moment
    * discipline: slope/intercept stay UNROUNDED doubles from exact
    * BIGINT moments (identical closed-form arithmetic on both engines),
    * only the residual rounds (4 dp). Global top-`k` by |residual| via a
    * TakeOrdered heap. One partial-agg shuffle for the moments (langs-
    * bounded, broadcast back); the residual scan is narrow. */
  def qualityResidualOutliers(docs: DataFrame, k: Int = 10): DataFrame = {
    val x = size(tokens(col("text"))).cast("long")
    val base = docs.select(col("doc_id"), col("lang"), x.as("x"),
      col("n_chars").cast("long").as("y"))
    val fit = base.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        // widened BEFORE multiplying (the round-13 decimal discipline):
        // Σxy over a web-scale language slice passes BIGINT
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .withColumn("den", (col("n").cast("decimal(38,0)") * col("sxx") -
        col("sx").cast("decimal(38,0)") * col("sx")).cast("double"))
      .filter(col("den") =!= 0.0)
      .select(col("lang"),
        ((col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / col("den"))
          .as("slope"),
        ((col("sy").cast("decimal(38,0)") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sxy")).cast("double") / col("den"))
          .as("intercept"))
    base.join(broadcast(fit), "lang")
      .select(col("doc_id"), col("lang"),
        col("x").as("n_tokens"), col("y").as("n_chars"),
        round(col("y") - (col("intercept") + col("slope") * col("x")), 4)
          .as("resid"))
      .orderBy(abs(col("resid")).desc, col("doc_id"))
      .limit(k)
  }

  /** Char-trigram distribution cosine between every source pair (B206):
    * the feed-similarity matrix at the CHARACTER level — two feeds that
    * syndicate the same wire content read ≈1 even when token-level
    * vocabularies drift (casing, punctuation, template chrome).
    * Complements [[graft.operators.LangModel.langIdChargram]]'s per-doc
    * classifier with a corpus-level pairwise view. Counts stay exact
    * integers (products decimal-widened); cosine divides once, 6 dp.
    * The gram frame is alphabet³-bounded after one narrow explode, so
    * the pair join is (grams x sources²)-bounded — never data-sized. */
  def sourceChargramCosine(docs: DataFrame): DataFrame = {
    val c = docs.select(col("source"), cleanText(col("text")).as("clean"))
      .filter(length(col("clean")) >= 3)
    val g = c.select(col("source"),
        explode(transform(sequence(lit(1), length(col("clean")) - 2),
          i => col("clean").substr(i, lit(3)))).as("gram"))
      .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
    val nrm = g.groupBy("source")
      .agg(sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("ss"))
      .select(col("source"), sqrt(col("ss").cast("double")).as("nrm"))
    g.select(col("source").as("src_a"), col("gram"), col("cnt").as("ca"))
      .join(g.select(col("source").as("src_b"), col("gram"), col("cnt").as("cb")),
        "gram")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("dot"))
      .join(broadcast(nrm.select(col("source").as("src_a"), col("nrm").as("nrm_a"))),
        "src_a")
      .join(broadcast(nrm.select(col("source").as("src_b"), col("nrm").as("nrm_b"))),
        "src_b")
      .select(col("src_a"), col("src_b"),
        round(col("dot").cast("double") / (col("nrm_a") * col("nrm_b")), 6)
          .as("cos"))
  }

  /** Sampling-error check for dedup-rate estimation (B207): the exact
    * corpus duplicate-content rate vs the same statistic on the doc_id%10
    * sample — how far off a 10% profiling pass would be before anyone
    * commits to a dedup budget. Two content-hash aggregates (the sample
    * one over a pushed-down filter), one joined row out. */
  def dupRateSampleCheck(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"), md5(cleanText(col("text"))).as("h"))
    def rate(df: DataFrame, nName: String, rName: String): DataFrame =
      df.agg(count(lit(1)).as(nName), countDistinct(col("h")).as("_d"))
        .select(col(nName),
          round(when(col(nName) > 0,
            lit(1.0) - col("_d").cast("double") / col(nName))
            .otherwise(lit(0.0)), 6).as(rName))
    rate(h, "n_docs", "dup_rate_exact")
      .crossJoin(broadcast(
        rate(h.filter(col("doc_id") % 10 === 0), "n_sample", "dup_rate_sample")))
      .withColumn("abs_err",
        round(abs(col("dup_rate_exact") - col("dup_rate_sample")), 6))
  }

  /** Token-mass attrition per curation gate (B211): [[filterAttrition]]
    * counts DOCS each gate rejects; this weighs the SAME gates by the
    * token budget they burn — the number a pretraining-data planner
    * actually argues about ("the dup gate costs 9% of docs but 31% of
    * tokens"). Same flag definitions (short / quality / repetition /
    * keep-first duplicate), exact token sums, fixed 5-row output
    * (per-gate loss + the all-pass survivors). One content-hash window
    * shuffle + one global aggregate. */
  def tokenAttrition(docs: DataFrame, minChars: Long = 100,
                     minQuality: Double = 0.3, maxRep: Double = 3.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
    attritionReport(
      attritionFlags(docs, minChars, minQuality, maxRep)
        .withColumn("f_dup",
          coalesce(col("doc_id") =!= min(col("doc_id")).over(w), lit(false))))
  }

  /** The dup-free per-doc attrition flags shared by [[tokenAttrition]]
    * and the streaming incremental twin (graft.streaming.Events
    * .tokenAttritionBatch) — (doc_id, nt, ch, f_short, f_quality,
    * f_rep); each caller adds its own f_dup (global keep-first window
    * here; durable-store probe + in-batch window in the stream). */
  private[graft] def attritionFlags(docs: DataFrame, minChars: Long = 100,
      minQuality: Double = 0.3, maxRep: Double = 3.0): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(col("doc_id"),
        size(toks).cast("long").as("nt"),
        md5(cleanText(col("text"))).as("ch"),
        coalesce(col("n_chars") < minChars, lit(true)).as("f_short"),
        coalesce(qualityComposite < minQuality, lit(true)).as("f_quality"),
        coalesce((size(toks).cast("double")
          / nullif(size(array_distinct(toks)), lit(0)).cast("double")) > maxRep,
          lit(false)).as("f_rep"))
  }

  /** The fixed 5-row gate report over flagged rows — shared with the
    * streaming twin so the projection can never drift. Input needs
    * (nt, f_short, f_quality, f_rep, f_dup). */
  private[graft] def attritionReport(flags: DataFrame): DataFrame = {
    def lost(c: Column) = coalesce(sum(when(c, col("nt")).otherwise(0L)), lit(0L))
    val a = flags.agg(
      coalesce(sum(col("nt")), lit(0L)).as("total_tokens"),
      lost(col("f_short")).as("short_t"),
      lost(col("f_quality")).as("quality_t"),
      lost(col("f_rep")).as("rep_t"),
      lost(col("f_dup")).as("dup_t"),
      lost(!col("f_short") && !col("f_quality") && !col("f_rep") && !col("f_dup"))
        .as("pass_t"))
    attritionProject(a)
  }

  /** Project the one-row exact sums into the 5-row report — also used
    * directly by the streaming twin over MERGED per-batch partials. */
  private[graft] def attritionProject(a: DataFrame): DataFrame = {
    def share(c: Column) = round(c.cast("double") / nullif(col("total_tokens"), lit(0L)), 6)
    a.select(col("total_tokens"), explode(array(
        struct(lit("short").as("gate"), col("short_t").as("tokens"),
          share(col("short_t")).as("token_share")),
        struct(lit("quality").as("gate"), col("quality_t").as("tokens"),
          share(col("quality_t")).as("token_share")),
        struct(lit("repetition").as("gate"), col("rep_t").as("tokens"),
          share(col("rep_t")).as("token_share")),
        struct(lit("duplicate").as("gate"), col("dup_t").as("tokens"),
          share(col("dup_t")).as("token_share")),
        struct(lit("pass").as("gate"), col("pass_t").as("tokens"),
          share(col("pass_t")).as("token_share")))).as("r"))
      .select(col("r.gate").as("gate"), col("r.tokens").as("tokens"),
        col("r.token_share").as("token_share"), col("total_tokens"))
  }

  /** Per-document character-level Shannon entropy (B213): the
    * alphabet-distribution tripwire that separates natural text
    * (~2.8-4.2 nats over cleaned ASCII) from base64/hex blobs (high,
    * flat) and template/filler runs (low) — orthogonal to
    * [[compressionRatio]]'s repetition view because entropy here is
    * order-free. Per (doc, char) counts aggregate narrowly; each doc's
    * ≤ alphabet-sized contributions sum exactly at 9 dp; the
    * entropy rounds once at 6 dp. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val c = docs.select(col("doc_id"), cleanText(col("text")).as("clean"))
      .filter(length(col("clean")) > 0)
    val cc = c.select(col("doc_id"), length(col("clean")).cast("long").as("len"),
        explode(split(col("clean"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "len", "ch").agg(count(lit(1)).as("cnt"))
    cc.select(col("doc_id"), col("len"),
        round(lit(-1.0) * (col("cnt").cast("double") / col("len"))
          * log(col("cnt").cast("double") / col("len")), 9).as("term"))
      .groupBy("doc_id", "len")
      .agg(count(lit(1)).as("n_distinct_chars"),
        round(Folds.exactSum(col("term")), 6).as("entropy_nats"))
      .select(col("doc_id"), col("len").as("n_chars_clean"),
        col("n_distinct_chars"), col("entropy_nats"))
  }

  /** Context-length truncation loss over a max-seq-len grid (B214):
    * for each candidate training context length, how many documents
    * exceed it and what share of the corpus token budget a hard
    * truncation would discard — the readout behind "do we need 2k or
    * 8k contexts for this corpus". Exact integer sums; grid-bounded
    * fixed-arity output; one narrow token-count pass + one aggregate. */
  def truncationLoss(docs: DataFrame,
                     grid: Seq[Int] = Seq(128, 512, 2048)): DataFrame = {
    val nt = docs.select(size(tokens(col("text"))).cast("long").as("nt"))
    val aggs = grid.flatMap { l =>
      Seq(sum(when(col("nt") > l, 1L).otherwise(0L)).as(s"over_$l"),
        sum(when(col("nt") > l, col("nt") - l).otherwise(0L)).as(s"lost_$l"))
    }
    val all = Seq(count(lit(1)).as("n_docs"),
      coalesce(sum(col("nt")), lit(0L)).as("total_tokens")) ++ aggs
    val a = nt.agg(all.head, all.tail: _*)
    val rows = grid.map { l =>
      struct(lit(l.toLong).as("max_len"),
        coalesce(col(s"over_$l"), lit(0L)).as("n_docs_truncated"),
        coalesce(col(s"lost_$l"), lit(0L)).as("tokens_lost"),
        round(coalesce(col(s"lost_$l"), lit(0L)).cast("double")
          / nullif(col("total_tokens"), lit(0L)), 6).as("token_share_lost"))
    }
    a.select(col("n_docs"), col("total_tokens"), explode(array(rows: _*)).as("r"))
      .select(col("r.max_len").as("max_len"),
        col("r.n_docs_truncated").as("n_docs_truncated"),
        col("r.tokens_lost").as("tokens_lost"),
        col("r.token_share_lost").as("token_share_lost"),
        col("n_docs"), col("total_tokens"))
  }

  /** Hash-partitioning uniformity audit (B215): chi-square of the
    * content-hash bucket histogram against uniform over `k` buckets —
    * the sanity check that the key a pipeline shards/salts on actually
    * spreads (a pathological corpus of near-identical cleaned texts
    * collapses buckets and every downstream shuffle skews). Exact
    * bucket counts; chi2 = Σ(o−e)²/e with e = n/k divides once. */
  def hashUniformityCheck(docs: DataFrame, k: Int = 64): DataFrame = {
    val b = docs.select(
        (conv(substring(md5(cleanText(col("text"))), 1, 8), 16, 10)
          .cast("long") % k).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("o"))
    b.agg(count(lit(1)).as("n_nonempty_buckets"), sum(col("o")).as("n_docs"),
        sum(col("o").cast("decimal(38,0)") * col("o")).as("oo"))
      .select(col("n_nonempty_buckets"), col("n_docs"),
        // Σ(o−e)²/e = (k/n)·Σo² − n  (algebraic form: exact ints until one division)
        round(lit(k.toDouble) * col("oo").cast("double") / col("n_docs")
          - col("n_docs"), 6).as("chi2"))
      .withColumn("df", lit(k.toLong - 1))
      .withColumn("skewed", col("chi2") > lit(2.0) * (k - 1))
  }

  /** MOSS-style winnowing fingerprint (B59): md5 each 3-token shingle in
    * sequence order, slide a `win`-wide window over the shingle-hash
    * stream, keep each window's minimum, and emit the distinct minima —
    * the document's winnowed fingerprint set. Guarantees any shared run
    * of win+k-1 tokens between two documents shares a fingerprint
    * (detection floor), while storing ~1/win of the shingles. Output per
    * doc: shingle count, fingerprint count, and an order-independent
    * digest over the sorted fingerprint set.
    *
    * Scale: narrow until the per-doc aggregate; the window min runs
    * inside each doc's partition slice (keyed shuffle on doc_id, the
    * same one the aggregate needs). */
  def winnowFingerprint(docs: DataFrame, win: Int = 4): DataFrame = {
    val k = 3
    val toked = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k + win - 1)
    val a1 = slice(col("toks"), lit(1), size(col("toks")) - (k - 1))
    val a2 = slice(col("toks"), lit(2), size(col("toks")) - (k - 1))
    val a3 = slice(col("toks"), lit(3), size(col("toks")) - (k - 1))
    val sh = toked.select(col("doc_id"),
        (size(col("toks")) - (k - 1)).cast("long").as("n_sh"),
        posexplode(transform(
          zip_with(zip_with(a1, a2, (x, y) => concat(x, lit(" "), y)),
            a3, (xy, z) => concat(xy, lit(" "), z)),
          s => md5(s))).as(Seq("pos", "h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(0, win - 1)
    sh.withColumn("m", min(col("h")).over(w))
      .filter(col("pos") <= col("n_sh") - win) // pos is 0-based: starts 0 .. n_sh-win
      .groupBy("doc_id")
      .agg(
        max(col("n_sh")).cast("long").as("n_shingles"),
        countDistinct(col("m")).as("n_fingerprints"),
        md5(concat_ws("|", sort_array(collect_set(col("m"))))).as("digest"))
  }

  /** Per-source quality-ECDF calibration (B64): each document's quality
    * score mapped to its empirical percentile WITHIN its source — the
    * cross-source-comparable rank a mixture sampler actually thresholds
    * on (raw quality scores are not comparable across sources with
    * different score distributions). cume_dist over (quality, doc_id)
    * gives every row a distinct frame position, so ties are
    * deterministic. One shuffle on source; at 100 TB the per-source sort
    * range-partitions inside each source key. */
  def qualityCalibration(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality"), col("doc_id"))
    qualityScore(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("quality"),
        round(cume_dist().over(w), 6).as("quality_pct"))
  }

  /** Winnowing near-dup pairs (B65): documents sharing >= `minShared`
    * winnowed fingerprints — the substring-level near-dup complement to
    * MinHash (which sees bag-of-shingles, not runs). Candidates come from
    * the inverted fingerprint index (shuffle on the fingerprint key);
    * fingerprints appearing in more than `maxDf` documents are dropped
    * first — boilerplate minima pair everything with everything and
    * carry no dedup signal, and the cap bounds every bucket's pair
    * expansion (the same guarantee the LSH band join relies on). */
  def winnowPairs(docs: DataFrame, win: Int = 4, minShared: Long = 2,
                  maxDf: Long = 50): DataFrame = {
    val k = 3
    val toked = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k + win - 1)
    val a1 = slice(col("toks"), lit(1), size(col("toks")) - (k - 1))
    val a2 = slice(col("toks"), lit(2), size(col("toks")) - (k - 1))
    val a3 = slice(col("toks"), lit(3), size(col("toks")) - (k - 1))
    val sh = toked.select(col("doc_id"),
        (size(col("toks")) - (k - 1)).cast("long").as("n_sh"),
        posexplode(transform(
          zip_with(zip_with(a1, a2, (x, y) => concat(x, lit(" "), y)),
            a3, (xy, z) => concat(xy, lit(" "), z)),
          s => md5(s))).as(Seq("pos", "h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(0, win - 1)
    val fps = sh.withColumn("m", min(col("h")).over(w))
      .filter(col("pos") <= col("n_sh") - win)
      .select(col("doc_id"), col("m")).distinct()
    val rare = fps.groupBy("m").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("m")
    val keep = fps.join(rare, "m")
    keep.select(col("m"), col("doc_id").as("a_id"))
      .join(keep.select(col("m"), col("doc_id").as("b_id")), Seq("m"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Z-order layout key (C66): Morton interleave of (n_chars, n_tokens)
    * via the native codegen'd [[graft.functions.MortonInterleave]]
    * expression. Sorting/range-partitioning the corpus by this key before
    * writing clusters rows close in BOTH dimensions, so parquet min/max
    * stats prune scans filtered on either column — the Delta/Iceberg
    * Z-ORDER layout pass as a plain column. Narrow per-row work. */
  def zorderKey(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars").cast("long").as("x"),
        size(tokens(col("text"))).cast("long").as("y"))
      .select(col("doc_id"), col("x"), col("y"),
        graft.functions.GraftFunctions.morton(col("x"), col("y")).as("zkey"))

  /** Data-layout pruning audit (C112): the measurement that justifies
    * [[zorderKey]] — cut the corpus into `segRows`-row segments under
    * TWO physical orders (the Morton z-key vs natural doc_id) and
    * report each segment's per-dimension min/max and span: tight spans
    * mean parquet/Iceberg zone stats prune scans filtered on EITHER
    * column; the natural layout's full-range spans on the uncorrelated
    * dimension show exactly what z-ordering buys. Both global orders
    * ride [[Ranks.withGlobalRowNumber]]'s two-pass range-partitioned
    * machinery — no single-task sort of the corpus. */
  def segmentStats(docs: DataFrame, segRows: Long = 100): DataFrame = {
    val base = zorderKey(docs)
    def layout(name: String, order: Seq[org.apache.spark.sql.Column]) =
      Ranks.withGlobalRowNumber(base, "rnk", "n", order)
        .select(lit(name).as("layout"),
          expr(s"(rnk - 1) div $segRows").as("segment"), col("x"), col("y"))
        .groupBy("layout", "segment")
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .select(col("layout"), col("segment"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"),
          (col("max_x") - col("min_x")).as("span_x"),
          (col("max_y") - col("min_y")).as("span_y"))
    layout("zorder", Seq(col("zkey"), col("doc_id")))
      .unionByName(layout("natural", Seq(col("doc_id"))))
  }

  /** N-gram novelty (B67): the share of each document's distinct
    * 8-grams that occur in NO other document — the memorization /
    * boilerplate signal (low novelty = the doc is stitched from
    * corpus-common runs). One inverted aggregate on the 8-gram key
    * (df), re-joined to the per-doc gram list; both frames shuffle on
    * the gram hash, never a doc×doc pair space. The gram array is
    * materialized as a column BEFORE the lambda so the tokenize chain
    * is not re-evaluated per element. */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    // A df=1 gram belongs to exactly ONE document, so min(doc_id) on the
    // gram aggregate IS that document — novel counts come straight off
    // the df frame, and the expensive join of the full gram stream back
    // to its df (a second shuffle of long string keys) disappears.
    // n_grams is size(distinct grams), computed narrow per row.
    val base = CacheTracker.cache(docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), array_distinct(
        expr(s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))"))
        .as("gs")))
    val novel = base.select(col("doc_id"), explode(col("gs")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    base.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  /** Cross-source content overlap (B68): 3-token-shingle Jaccard between
    * every source pair — the provenance-dedup question ("how much of
    * source A is already in source B") answered WITHOUT a doc×doc join:
    * distinct (source, shingle) is one shuffle, the shingle-keyed
    * self-join expands to at most C(|sources|, 2) rows per shingle, and
    * per-source set sizes broadcast back onto the pair frame. All three
    * consumers read the SAME distinct aggregate, so exchange reuse
    * serves them from one shuffle write. (A/B note: a
    * groupBy(g).collect_set(source) reshape that pairs sources narrowly
    * per shingle measured ~50% SLOWER at sf0.1/32 threads — millions of
    * per-gram array allocations beat the reused exchange reads it
    * saved.) */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val ss = docs
      .select(col("source"), col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))"))
        .as("g"))
      .distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = ss.select(col("g"), col("source").as("src_a"))
      .join(ss.select(col("g"), col("source").as("src_b")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6).as("jaccard"))
  }

  /** Exact-quota balanced sampling (B72): exactly `perGroup` documents
    * per language, chosen by md5 rank — the class-balancing sampler for
    * eval-set construction, where fractional (hash-mod) sampling gives
    * only approximate counts. One shuffle on lang; the per-group sort
    * ranks by a salted hash so the draw is unbiased w.r.t. doc order
    * yet fully deterministic. */
  def balancedSample(docs: DataFrame, perGroup: Int = 20): DataFrame = {
    // The output carries `rn`, which blocks the TopKRewriteRule (the rank
    // values are observable), so take the heap path explicitly: TopKPerKey
    // bounds each partition to perGroup rows per lang BEFORE the shuffle
    // (the domainCap discipline — no per-lang full sort on one task), and
    // the residual window ranks only the ≤ perGroup·|langs| survivors.
    val keyed = docs.select(col("doc_id"), col("lang"),
      md5(concat(lit("bs:"), col("doc_id").cast("string"))).as("h"))
    val pruned = graft.plans.TopK.topKPerKey(
      keyed, Seq("lang"), Seq("h" -> true, "doc_id" -> true), perGroup)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("h"), col("doc_id"))
    pruned.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perGroup)
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  /** One-pass table profiler (B73): per-column row/non-null/distinct
    * counts and min/max (text profiles its LENGTH — raw unicode min/max
    * would hang on collation differences between engines) — the
    * data-quality summary every ingestion pipeline runs first. All five
    * columns profile in a single aggregate (Spark plans the multiple
    * exact distincts as one Expand pass), then unpivot to long form. */
  def tableProfile(docs: DataFrame): DataFrame = {
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    val a = docs.agg(
      count(lit(1)).as("n_rows"),
      count(col("doc_id")).as("nn_doc_id"), countDistinct(col("doc_id")).as("nd_doc_id"),
      s(min(col("doc_id"))).as("mn_doc_id"), s(max(col("doc_id"))).as("mx_doc_id"),
      count(col("lang")).as("nn_lang"), countDistinct(col("lang")).as("nd_lang"),
      s(min(col("lang"))).as("mn_lang"), s(max(col("lang"))).as("mx_lang"),
      count(col("source")).as("nn_source"), countDistinct(col("source")).as("nd_source"),
      s(min(col("source"))).as("mn_source"), s(max(col("source"))).as("mx_source"),
      count(col("n_chars")).as("nn_n_chars"), countDistinct(col("n_chars")).as("nd_n_chars"),
      s(min(col("n_chars"))).as("mn_n_chars"), s(max(col("n_chars"))).as("mx_n_chars"),
      count(col("text")).as("nn_text"), countDistinct(length(col("text"))).as("nd_text"),
      s(min(length(col("text")))).as("mn_text"), s(max(length(col("text")))).as("mx_text"))
    val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
    a.select(col("n_rows"), explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(s"nn_$c").as("n_nonnull"),
          col(s"nd_$c").as("n_distinct"), col(s"mn_$c").as("min_val"),
          col(s"mx_$c").as("max_val"))): _*)).as("p"))
      .select(col("p.column").as("column"), col("n_rows"), col("p.n_nonnull"),
        col("p.n_distinct"), col("p.min_val"), col("p.max_val"))
  }

  /** Next-token training examples (B74): every position becomes a
    * (context window, target token) pair — the LM-training example
    * generator. Bounded row expansion (one row per token), all narrow
    * per-row array work; the token array is a bound column before any
    * lambda touches it. */
  def contextTargetPairs(docs: DataFrame, ctx: Int = 8): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos0", "target")))
      .filter(col("pos0") >= 1)
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("p"),
        concat_ws(" ", slice(col("toks"),
          greatest(lit(1), col("pos0") + 1 - ctx),
          least(col("pos0"), lit(ctx)))).as("context"),
        col("target"))

  /** Quality-score length-bias audit (B93): Spearman rank correlation
    * between the composite quality score and raw document length, per
    * language — the "is our quality filter just a length filter?"
    * diagnostic every curation pipeline owes itself. Rankings are
    * dense row_numbers with doc_id tie-breaks (deterministic, so the
    * classic 1 − 6Σd²/(n(n²−1)) closed form applies exactly); Σd² is
    * an exact long, which bounds per-language cardinality at ~3M docs
    * (Σd² ~ n³/3 < 2^63) — beyond that, compute on a stratified sample
    * or widen to a two-long accumulator. One shuffle on lang; both
    * rank windows sort within the same partitioning. */
  def qualityLengthCorr(docs: DataFrame): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        qualityComposite.as("quality"))
      .withColumn("rq", row_number().over(wq).cast("long"))
      .withColumn("rl", row_number().over(wl).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("rq") - col("rl")) * (col("rq") - col("rl"))).as("d2"))
      .filter(col("n_docs") > 1)
      .select(col("lang"), col("n_docs"), col("d2"),
        round(lit(1.0) - lit(6.0) * col("d2")
          / (col("n_docs").cast("double")
            * (col("n_docs").cast("double") * col("n_docs") - 1.0)), 6)
          .as("spearman_rho"))
  }

  /** Kendall tau-b between quality and length deciles (B276): the
    * concordance companion to [[qualityLengthCorr]]'s Spearman — tau
    * counts pair ORDER agreements rather than rank displacement, so it
    * is the robust one under heavy ties and the one with the direct
    * probabilistic read (tau = P(concordant) − P(discordant)). Exact
    * tau over raw values is inherently all-pairs (O(n²) or a
    * merge-sort inversion count — sequential either way), so this
    * computes the EXACT tau-b of the decile-bucketed pair: both
    * variables cut into 10 global buckets by the range-partitioned
    * two-pass rank (no single-task window), then every pair count
    * falls out of the 10×10 contingency grid — concordant/discordant
    * from a bounded 100×100 grid self-join (broadcast BNLJ, never a
    * data-sized cross), tie terms from the decile margins, all exact
    * BIGINTs; tau-b's denominator is the only float. Bucketing loses
    * within-decile orderings by construction (documented; the decile
    * tau is what a mixing policy actually thresholds on). */
  def kendallTau(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("n_chars"),
      qualityComposite.as("quality"))
    val dq = Ranks.withGlobalRowNumber(scored, "_rq", "_n",
        Seq(col("quality"), col("doc_id")))
      .withColumn("dq", Ranks.ntileFromRank(col("_rq"), col("_n"), 10).cast("long"))
      .select(col("doc_id"), col("n_chars"), col("dq"))
    val cells = Ranks.withGlobalRowNumber(dq, "_rl", "_n2",
        Seq(col("n_chars"), col("doc_id")))
      .withColumn("dl", Ranks.ntileFromRank(col("_rl"), col("_n2"), 10).cast("long"))
      .groupBy("dq", "dl").agg(count(lit(1)).as("o"))
    // true integral divide — / on longs is double division (see Ranks.idiv)
    def comb2(c: Column): Column = Ranks.idiv(c * (c - 1), lit(2L))
    val n = cells.agg(sum(col("o")).as("n_docs"))
    val cd = cells.join(
        broadcast(cells.select(col("dq").as("dq2"), col("dl").as("dl2"),
          col("o").as("o2"))),
        col("dq2") > col("dq"))
      .agg(
        coalesce(sum(when(col("dl2") > col("dl"), col("o") * col("o2"))), lit(0L))
          .as("concordant"),
        coalesce(sum(when(col("dl2") < col("dl"), col("o") * col("o2"))), lit(0L))
          .as("discordant"))
    val tq = cells.groupBy("dq").agg(sum(col("o")).as("m"))
      .agg(sum(comb2(col("m"))).as("t_q"))
    val tl = cells.groupBy("dl").agg(sum(col("o")).as("m"))
      .agg(sum(comb2(col("m"))).as("t_l"))
    cd.crossJoin(broadcast(n)).crossJoin(broadcast(tq)).crossJoin(broadcast(tl))
      .select(col("n_docs"), col("concordant"), col("discordant"),
        col("t_q"), col("t_l"),
        round((col("concordant") - col("discordant")).cast("double")
          / sqrt((comb2(col("n_docs")) - col("t_q")).cast("double")
            * (comb2(col("n_docs")) - col("t_l")).cast("double")), 6)
          .as("tau_b"))
  }

  /** Quality-by-length-decile profile (B95): mean composite quality per
    * length decile — the bias SURFACE behind [[qualityLengthCorr]]'s
    * single rho (a filter can be rank-uncorrelated overall yet cliff at
    * one decile). Deciles cut by a range-partitioned two-pass global
    * rank over (n_chars, doc_id) — the PER-DOC frame grows with the
    * corpus, so a plain `ntile(10).over(Window.orderBy(...))` would
    * move every document to one task; [[Ranks.ntileFromRank]] derives
    * the identical bucket arithmetic from (rank, n). Quality terms are
    * the shared 6 dp composite, summed exactly ([[Folds.exactSum]]) and
    * re-rounded to 6 dp before the mean divides. */
  def qualityByLengthDecile(docs: DataFrame): DataFrame = {
    Ranks.withGlobalRowNumber(
        docs.select(col("doc_id"), col("n_chars"), qualityComposite.as("quality")),
        "_rnk", "_n", Seq(col("n_chars"), col("doc_id")))
      .withColumn("decile", Ranks.ntileFromRank(col("_rnk"), col("_n"), 10).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(round(Folds.exactSum(col("quality")), 6) / count(lit(1)), 6).as("mean_quality"))
  }

  /** Lang ⊥ source independence chi-square (B96): the one-number audit
    * "is language mix independent of provenance?" over the FULL (lang ×
    * source) contingency grid — zero cells contribute their full
    * expected count to the statistic, so the grid builds from the
    * margin cross product (tiny: |langs|·|sources| rows) with observed
    * counts left-joined in, never from observed pairs alone. Expected
    * counts derive from exact-long margins; each cell's (o−e)²/e term
    * rounds to 6 dp and sums exactly; dof = (|langs|−1)(|sources|−1).
    * One partial-agg shuffle ends the corpus involvement. */
  def langSourceChi2(docs: DataFrame): DataFrame = {
    val c = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rl = c.groupBy("lang").agg(sum(col("o")).as("n_l"))
    val rs = c.groupBy("source").agg(sum(col("o")).as("n_s"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val grid = broadcast(rl).crossJoin(broadcast(rs))
    grid
      .join(c, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .select(
        round(
          pow(col("o").cast("double")
            - col("n_l").cast("double") * col("n_s") / col("n_docs"), 2.0)
            / (col("n_l").cast("double") * col("n_s") / col("n_docs")), 6)
          .as("term"),
        col("lang"), col("source"))
      .agg(
        round(Folds.exactSum(col("term")), 6).as("chi2"),
        ((count_distinct(col("lang")) - 1) * (count_distinct(col("source")) - 1))
          .as("dof"))
  }

  /** Theil's uncertainty coefficient U between lang and source (B277):
    * the entropy-based, ASYMMETRIC association readout beside
    * [[langSourceChi2]] — chi² says "dependent or not" but scales with
    * n; U(lang|source) = I(lang;source)/H(lang) says what FRACTION of
    * language uncertainty provenance removes (0 = useless, 1 = source
    * determines lang), and U(source|lang) the reverse — the pair tells
    * which direction the metadata actually predicts. All three
    * entropies are exact sums of 6 dp terms over bounded frames
    * (margins and the |langs|·|sources| cell grid); counts are exact
    * longs off the one corpus aggregate; degenerate margins (single
    * lang or single source → H = 0) yield NULL for that direction. */
  def theilU(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val n = cells.agg(sum(col("o")).as("n_docs"))
    def entropy(keys: Seq[String], out: String): DataFrame = cells
      .groupBy(keys.map(col): _*).agg(sum(col("o")).as("n_k"))
      .crossJoin(broadcast(n))
      .select(round(-(col("n_k").cast("double") / col("n_docs"))
        * log(col("n_k").cast("double") / col("n_docs")), 6).as("term"))
      .agg(Folds.exactSum(col("term")).as(out))
    val hl = entropy(Seq("lang"), "h_lang")
    val hs = entropy(Seq("source"), "h_source")
    val hj = entropy(Seq("lang", "source"), "h_joint")
    val mi = col("h_lang") + col("h_source") - col("h_joint")
    broadcast(n).crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .crossJoin(broadcast(hj))
      .select(col("n_docs"),
        round(col("h_lang"), 6).as("h_lang"),
        round(col("h_source"), 6).as("h_source"),
        round(col("h_joint"), 6).as("h_joint"),
        round(when(col("h_lang") > 0.0, mi / col("h_lang")), 6)
          .as("u_lang_given_source"),
        round(when(col("h_source") > 0.0, mi / col("h_source")), 6)
          .as("u_source_given_lang"))
  }

  /** Skip-gram training pairs (B91): the word2vec data pass —
    * (center, context) pairs for every context within ±`win` positions,
    * aggregated to pair counts (what the trainer actually consumes, and
    * |vocab|²-bounded where the raw pair stream is corpus-sized). The
    * pair build is narrow per row; one partial-agg shuffle on the pair
    * key. */
  def skipgramPairs(docs: DataFrame, win: Int = 2): DataFrame =
    docs.select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos0", "center")))
      .select(col("center"),
        explode(concat(
          slice(col("toks"), greatest(lit(1), col("pos0") + 1 - win),
            least(col("pos0"), lit(win))),
          slice(col("toks"), col("pos0") + 2,
            least(size(col("toks")) - col("pos0") - 1, lit(win)))))
          .as("context"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))

  /** Negative-sampling table (B92): word2vec's noise distribution —
    * p(t) ∝ count(t)^{3/4}, emitted as each token's sampling weight and
    * cumulative share in (weight desc, token) order so a sampler maps
    * u ∈ [0,1) to the first row with cum_share > u. The one
    * transcendental (pow) quantizes to integer MICRO-units immediately,
    * so the running and total sums are exact longs — immune to
    * float-fold order on both engines (a double cumsum would not be:
    * window sums don't promise an addition order).
    *
    * Scale posture: the running sum goes through
    * [[Ranks.withGlobalCumSum]]'s two-pass range-partitioned machinery,
    * not a single-partition global window — a 100 TB web corpus carries
    * 10⁸+ distinct tokens pre-truncation, which is far past what one
    * window task should sort. Exact long addition keeps the composed sum
    * identical wherever the range cuts fall, so the oracle is unchanged. */
  def negSamplingTable(docs: DataFrame): DataFrame = {
    val vocab = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("w_micros",
        round(pow(col("cnt").cast("double"), 0.75) * 1e6).cast("long"))
    Ranks.withGlobalCumSum(vocab, "w_micros", "_cum", "_total",
        Seq(col("w_micros").desc, col("token")))
      .select(col("token"), col("cnt"), col("w_micros"),
        round(col("_cum").cast("double") / col("_total"), 6).as("cum_share"))
  }

  /** Deterministic masked-LM example generation (B75): each token masks
    * with probability 1/4 under an md5 coin on (doc_id, position) — the
    * span-corruption pass of T5/BERT-style data pipelines, reproducible
    * by any engine where an RNG mask is not. Emits the corrupted text,
    * the (position:token) targets, and the mask count. Narrow per-row
    * work; Spark lambda indexes are 0-based vs DuckDB's 1-based, so the
    * coin hashes (i+1) here and bare i in the oracle. */
  def spanCorruption(docs: DataFrame): DataFrame = {
    def coin(i: org.apache.spark.sql.Column) =
      substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string"))), 1, 1) < "4"
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("toks"),
          (t, i) => when(coin(i + 1), "<X>").otherwise(t))).as("corrupted"),
        concat_ws(" ", filter(transform(col("toks"),
          (t, i) => when(coin(i + 1),
            concat((i + 1).cast("string"), lit(":"), t))),
          x => x.isNotNull)).as("targets"),
        size(filter(transform(col("toks"), (_, i) => coin(i + 1)), x => x))
          .cast("long").as("n_masked"))
  }

  /** Distribution drift between sources (B132): the two-sample
    * Kolmogorov–Smirnov statistic D = max|F_a − F_b| over BINNED
    * doc-length ECDFs, for every source pair — the drift monitor a
    * pipeline runs when a crawl's character profile shifts between
    * snapshots. Binning (width `bucketWidth`, capped at `maxBucket`)
    * bounds the ECDF support by CONFIG, not by the value domain, which
    * is what makes the per-source cumulative windows and the
    * sources×support grid scale-free: at 100 TB the only data-sized
    * stage is the first (source, bucket) partial-agg count. Exact long
    * cumulative counts divide once into 9 dp ECDF steps; D is a max
    * over those rounded steps — bit-stable on any engine. */
  def ksSourceDrift(docs: DataFrame, bucketWidth: Int = 100,
                    maxBucket: Int = 100): DataFrame = {
    val b = docs.select(col("source"),
      least(expr(s"n_chars div $bucketWidth"), lit(maxBucket.toLong)).as("bucket"))
    val cnt = b.groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy("source").agg(sum(col("c")).as("n"))
    val grid = cnt.select("source").distinct()
      .crossJoin(cnt.select("bucket").distinct())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ecdf = grid.join(cnt, Seq("source", "bucket"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(w))
      .join(totals, "source")
      .select(col("source"), col("bucket"),
        round(col("cum").cast("double") / col("n"), 9).as("f"), col("n"))
    ecdf.select(col("source").as("source_a"), col("bucket"),
        col("f").as("f_a"), col("n").as("n_a"))
      .join(ecdf.select(col("source").as("source_b"), col("bucket"),
        col("f").as("f_b"), col("n").as("n_b")), "bucket")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(round(max(abs(col("f_a") - col("f_b"))), 6).as("ks_d"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
  }

  /** Structural template detection (B130): docs sharing a token-length
    * skeleton — the sequence of token lengths, hashed — are template
    * instances (form letters, boilerplate listings, spam families whose
    * fill words differ but whose shape repeats). Content-based
    * fingerprints (B11, B58) miss these by design; the skeleton
    * signature is exactly the complement. Emits every doc with its
    * template id and family size, so a filter can drop or cap
    * heavily-templated families.
    *
    * One partial-agg shuffle on the signature plus one join back;
    * signature computation is narrow per-row work. */
  def templateDocs(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("doc_id"),
      md5(concat_ws(",",
        transform(tokens(col("text")), t => length(t).cast("string"))))
        .as("template_id"))
    val sizes = sig.groupBy("template_id").agg(count(lit(1)).as("template_size"))
    sig.join(sizes, "template_id")
      .select(col("doc_id"), col("template_id"), col("template_size"))
  }

  /** Unicode canonicalization pass (B54): lowercase, then NFD → strip
    * combining marks → NFC via the native codegen'd
    * [[graft.functions.UnicodeNormalize]] expression (ASCII rows
    * short-circuit with zero allocation). Narrow per-row work; the
    * oracle twin is DuckDB's independent
    * `strip_accents(nfc_normalize(lower(text)))`. */
  def normalizeDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.normalize(lower(col("text"))).as("norm_text"))

  /** Approximate heavy-hitter tokens via the Misra-Gries typed
    * Aggregator (B87, [[graft.functions.HeavyHitters]]): at most
    * `capacity` counters of state at any moment, mergeable under any
    * partitioning — the frequent-items path when even the vocabulary
    * doesn't fit an exact groupBy. Like the HLL distinct sketch,
    * estimates are arrival-order dependent (rows+test, no DuckDB twin);
    * ScalaTest pins the deterministic guarantees instead: estimates
    * never overcount, undercount <= the sketch's discarded total
    * <= n/(capacity+1), and every item above that threshold surfaces. */
  def approxHeavyHitters(docs: DataFrame, capacity: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the product-typed aggregate auto-flattens to (counters, discarded)
    docs.select(explode(tokens(col("text"))).as("token")).as[String]
      .select(new graft.functions.HeavyHitters(capacity).toColumn.name("sk"))
      .select(explode(col("counters")).as(Seq("token", "est")),
        col("discarded").as("max_undercount"))
  }

  /** Per-document sentence segmentation statistics (B78): split on
    * terminal-punctuation runs ([.!?]+), trim, drop empties; report
    * sentence count, longest sentence, and mean chars/words per
    * sentence. The integer sums are exact, so the single divide is
    * bit-identical on any engine. Purely narrow — zero shuffle. */
  def sentenceStats(docs: DataFrame): DataFrame = {
    val sents = filter(transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    docs
      .select(col("doc_id"), sents.as("sents"))
      .filter(size(col("sents")) > 0)
      .select(col("doc_id"),
        size(col("sents")).cast("long").as("n_sentences"),
        array_max(transform(col("sents"), s => length(s))).cast("long")
          .as("max_sent_chars"),
        aggregate(transform(col("sents"), s => length(s).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_chars"),
        aggregate(transform(col("sents"),
            s => size(filter(split(s, "\\s+"), t => t =!= "")).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_words"))
      .select(col("doc_id"), col("n_sentences"), col("max_sent_chars"),
        round(col("sum_chars").cast("double") / col("n_sentences"), 6)
          .as("avg_sent_chars"),
        round(col("sum_words").cast("double") / col("n_sentences"), 6)
          .as("avg_sent_words"))
  }

  /** Flesch-style readability score (B79) with the standard no-dictionary
    * syllable proxy: vowel GROUPS ([aeiouy]+ runs in the lowercased
    * text) stand in for syllables — the classic heuristic every
    * readability library uses when no hyphenation dictionary ships.
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    * Counts are exact integers; the two divides and the final linear
    * combination run in fixed order and round once at the end. Narrow
    * per-row work — zero shuffle at any corpus size. */
  def readability(docs: DataFrame): DataFrame = {
    val nWords = size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long")
    val nSents = size(filter(transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => s =!= "")).cast("long")
    val nSyll = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    docs.select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syllables"))
      .filter(col("n_words") > 0 && col("n_sents") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 6)
          .as("flesch"))
  }

  /** Tokenizer application (B80): map the corpus through the
    * [[vocabBuild]] vocabulary to dense ids, long tail to the OOV bucket
    * (id 0) — the step that turns curated text into model-ready id
    * sequences, exploded as (doc_id, pos, token, token_id) so the
    * output stays scalar-typed. The vocabulary is df-thresholded and
    * therefore bounded, so it broadcasts; the corpus side never
    * shuffles. The left join + OOV coalesce also covers tokens absent
    * from the vocabulary frame entirely (a later batch tokenized
    * against a frozen vocab). */
  def tokenizeIds(docs: DataFrame, minDf: Int = 2): DataFrame = {
    val vocab = vocabBuild(docs, minDf).select(col("token"), col("vocab_id"))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("token"), coalesce(col("vocab_id"), lit(0L)).as("token_id"))
  }

  /** Vocabulary coverage curve (B101): tokens ranked by corpus frequency
    * with the cumulative fraction of all token occurrences covered by
    * ranks 1..r — the curve that answers "what vocab size covers 99% of
    * the corpus", the sizing input for [[vocabBuild]]/[[tokenizeIds]]'
    * OOV budget. Ties break on the token itself so the ranking is total
    * and deterministic.
    *
    * Shape: one partial-aggregated shuffle onto the vocabulary frame,
    * then a cumulative window over it — vocab-bounded, the audited
    * empty-partitionSpec posture (a real vocabulary is ~1e5-1e6 rows
    * regardless of corpus bytes). The cumulative sum folds exact longs;
    * the single division happens at the end. */
  def tokenCoverageCurve(docs: DataFrame): DataFrame = {
    val cnt = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // rank + cumulative mass through the fused two-pass range-partitioned
    // pass: the vocabulary GROWS with the corpus (unlike dims/classes),
    // so the old unpartitioned Window would sort billions of tokens on
    // one task at web scale. (cnt desc, token) is a total order, the
    // cumsum folds exact longs → cut-placement-free, and the grand total
    // rides the same pass (no separate agg + crossJoin).
    graft.operators.Ranks.withGlobalRankCumSum(cnt, "cnt",
        "vocab_rank", "cum_cnt", "total",
        Seq(col("cnt").desc, col("token")))
      .select(col("vocab_rank"), col("token"), col("cnt"),
        round(col("cum_cnt").cast("double") / col("total"), 6).as("cum_frac"))
  }

  /** Deterministic weighted sample without replacement (B117):
    * Efraimidis–Spirakis priority sampling — each document draws
    * u = md5-uniform in (0,1] and wins a slot iff its priority u^(1/w)
    * ranks in the global top k, realized in log space as
    * skey = ln(u)/w (larger is better; w = n_chars, so longer documents
    * are proportionally likelier, the exact ES distribution for
    * weighted sampling without replacement). u is a pure function of
    * doc_id — no RNG state, reproducible across retries, cluster sizes,
    * and the DuckDB oracle — and ln's argument (v+1)/2^60 is a
    * power-of-two division of an exactly-representable 60-bit integer,
    * so the double is bit-identical on both sides. skey is 6 dp-rounded
    * BEFORE ranking so both sides apply the identical total order
    * (rounded-key ties broken by doc_id; the coarse grid also makes an
    * ulp-level libm divergence crossing a rounding boundary ~1e-11
    * improbable per row, vs ~1e-4 at full precision).
    *
    * Scale: `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
    * per-partition top-k heaps and one k-row merge, never a global
    * sort. The scan is one narrow pass at any corpus size. */
  def weightedSample(docs: DataFrame, k: Int = 100): DataFrame = {
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val u = (v + lit(1L)).cast("double") / lit(1152921504606846976.0) // 2^60
    docs.select(col("doc_id"), col("n_chars"),
        round(log(u) / greatest(col("n_chars"), lit(1L)).cast("double"), 6)
          .as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)
  }

  /** Consistent shard assignment + balance audit (B118): every document
    * routes to shard md5(doc_id) % nShards — the stable, data-independent
    * placement a 100 TB corpus uses for output bucketing (adding docs
    * never moves old ones; any worker recomputes the route without a
    * lookup table) — and the audit reports per-shard doc/char totals
    * with relative skew vs the uniform share. Hot shards (skew ≫ 0)
    * are what force AQE splits or salting downstream, so this is the
    * check run BEFORE committing to a layout. One partial-agg shuffle
    * onto an nShards-row frame; the totals join broadcasts one row. */
  def shardBalance(docs: DataFrame, nShards: Int = 64): DataFrame = {
    val per = docs.select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % nShards).as("shard"),
        col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val tot = per.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("sum_chars")).as("t_chars"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("sum_chars"),
        round(col("n_docs").cast("double") * nShards / col("t_docs").cast("double")
          - lit(1.0), 6).as("skew_docs"),
        round(col("sum_chars").cast("double") * nShards / col("t_chars").cast("double")
          - lit(1.0), 6).as("skew_chars"))
  }

  /** Curriculum order (B119): the global easy→hard training order —
    * every document's position under ORDER BY (n_chars, doc_id), the
    * schedule curriculum learning feeds a trainer (shortest documents
    * first; the tie-break makes the order total and the rank
    * deterministic). Same scale posture as [[corpusShuffle]]: the
    * full-corpus sort runs through [[Ranks.withGlobalRowNumber]]'s
    * range-partitioned two-pass rank, never a single-partition window,
    * so a 100 TB curriculum sorts at cluster width. */
  def curriculumOrder(docs: DataFrame): DataFrame =
    Ranks.withGlobalRowNumber(
        docs.select(col("doc_id"), col("n_chars")),
        "ord", "_n", Seq(col("n_chars"), col("doc_id")))
      .select(col("ord"), col("doc_id"), col("n_chars"))

  /** k-anonymity audit (B126): quasi-identifier combinations — here
    * (lang, source, length-centile-bucket) — whose document count falls
    * below `k`, i.e. the groups where releasing per-group statistics
    * (or the documents themselves) risks re-identification. The standard
    * pre-release privacy check on any corpus with attached metadata;
    * a release pipeline either suppresses these cells or generalizes
    * the bucketing until the table is empty.
    *
    * One partial-agg shuffle onto the (bounded) quasi-identifier grid;
    * the length bucket uses integral division (`div`) so both engines
    * compute the identical exact bucket. */
  def kAnonymity(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") < k)

  /** l-diversity audit (B255): for each quasi-identifier group — the
    * same (lang, length-bucket) grid [[kAnonymity]] checks, minus the
    * attribute under protection — the count of DISTINCT sensitive
    * values (source). k-anonymity says a group is big enough to hide
    * in; l-diversity says the group doesn't give the secret away anyway
    * (a group of 50 docs all from ONE source leaks the source despite
    * k=50). One aggregate; the violating groups are the re-bucketing
    * worklist. */
  def lDiversity(docs: DataFrame, l: Int = 3): DataFrame =
    docs.select(col("lang"), expr("n_chars div 100").as("len_bucket"),
        col("source"))
      .groupBy("lang", "len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sensitive"))
      .select(col("lang"), col("len_bucket"), col("n_docs"),
        col("n_sensitive"), (col("n_sensitive") < l).as("violates_l"))

  /** Filter-cascade attrition table (B125): for each curation filter —
    * too-short, low-quality, repetition-soup, exact-duplicate — how many
    * documents it rejects, how many it ALONE rejects (its marginal value:
    * a filter whose every rejection is also caught elsewhere can be
    * dropped from the cascade), and the reject rate, plus the `any` row
    * giving the cascade's total attrition. This is the table a pipeline
    * owner reads before reordering/removing stages — attrition tuning is
    * how curation recipes are actually iterated.
    *
    * Shape: one narrow pass computes all per-doc flags (every flag
    * `coalesce`d to false so NULL text/n_chars rows count as passes, not
    * poison); the duplicate flag needs the one hash-partitioned window
    * (keeper = min doc_id per content hash); a single aggregation emits
    * exact long counts; the ≤5-row unpivot is a literal explode. No
    * float is aggregated — rates divide once at the end. */
  /** Per-source filter attrition (B196): [[filterAttrition]]'s gates
    * broken out BY FEED — which sources die at the short/quality/
    * repetition/duplicate gate and each feed's survival rate, the
    * table that turns a global attrition readout into crawler fixes
    * and acquisition decisions. Same flags, same single content-hash
    * window (duplicates judged globally, charged to the source that
    * carries them), one grouped aggregate. */
  def filterAttritionBySource(docs: DataFrame, minChars: Long = 100,
      minQuality: Double = 0.3, maxRep: Double = 3.0): DataFrame = {
    val toks = tokens(col("text"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
    val flags = docs.select(col("doc_id"), col("source"), col("n_chars"),
        qualityComposite.as("q"),
        (size(toks).cast("double")
          / nullif(size(array_distinct(toks)), lit(0)).cast("double")).as("rep"),
        md5(cleanText(col("text"))).as("ch"))
      .withColumn("f_dup", col("doc_id") =!= min(col("doc_id")).over(w))
      .select(col("source"),
        coalesce(col("n_chars") < minChars, lit(true)).as("f_short"),
        coalesce(col("q") < minQuality, lit(true)).as("f_quality"),
        coalesce(col("rep") > maxRep, lit(false)).as("f_rep"),
        coalesce(col("f_dup"), lit(false)).as("f_dup"))
    def n(c: Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    flags.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        n(col("f_short")).as("short_n"),
        n(col("f_quality")).as("quality_n"),
        n(col("f_rep")).as("rep_n"),
        n(col("f_dup")).as("dup_n"),
        n(col("f_short") || col("f_quality") || col("f_rep") || col("f_dup"))
          .as("any_n"))
      .withColumn("keep_rate",
        round((col("n_docs") - col("any_n")).cast("double")
          / col("n_docs"), 6))
  }

  def filterAttrition(docs: DataFrame, minChars: Long = 100,
                      minQuality: Double = 0.3, maxRep: Double = 3.0): DataFrame = {
    val toks = tokens(col("text"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
    val flags = docs.select(col("doc_id"), col("n_chars"),
        qualityComposite.as("q"),
        (size(toks).cast("double")
          / nullif(size(array_distinct(toks)), lit(0)).cast("double")).as("rep"),
        md5(cleanText(col("text"))).as("ch"))
      .withColumn("f_dup", col("doc_id") =!= min(col("doc_id")).over(w))
      .select(
        coalesce(col("n_chars") < minChars, lit(true)).as("f_short"),
        coalesce(col("q") < minQuality, lit(true)).as("f_quality"),
        coalesce(col("rep") > maxRep, lit(false)).as("f_rep"),
        coalesce(col("f_dup"), lit(false)).as("f_dup"))
    def n(c: Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val a = flags.agg(
      count(lit(1)).as("n_docs"),
      n(col("f_short")).as("short_n"),
      n(col("f_short") && !col("f_quality") && !col("f_rep") && !col("f_dup")).as("short_only"),
      n(col("f_quality")).as("quality_n"),
      n(col("f_quality") && !col("f_short") && !col("f_rep") && !col("f_dup")).as("quality_only"),
      n(col("f_rep")).as("rep_n"),
      n(col("f_rep") && !col("f_short") && !col("f_quality") && !col("f_dup")).as("rep_only"),
      n(col("f_dup")).as("dup_n"),
      n(col("f_dup") && !col("f_short") && !col("f_quality") && !col("f_rep")).as("dup_only"),
      n(col("f_short") || col("f_quality") || col("f_rep") || col("f_dup")).as("any_n"))
    def rate(c: Column) = round(c.cast("double") / nullif(col("n_docs"), lit(0L)), 6)
    a.select(explode(array(
        struct(lit("short").as("filter"), col("short_n").as("n_fail"),
          col("short_only").as("n_fail_only"), rate(col("short_n")).as("fail_rate")),
        struct(lit("quality").as("filter"), col("quality_n").as("n_fail"),
          col("quality_only").as("n_fail_only"), rate(col("quality_n")).as("fail_rate")),
        struct(lit("repetition").as("filter"), col("rep_n").as("n_fail"),
          col("rep_only").as("n_fail_only"), rate(col("rep_n")).as("fail_rate")),
        struct(lit("duplicate").as("filter"), col("dup_n").as("n_fail"),
          col("dup_only").as("n_fail_only"), rate(col("dup_n")).as("fail_rate")),
        struct(lit("any").as("filter"), col("any_n").as("n_fail"),
          col("any_n").as("n_fail_only"), rate(col("any_n")).as("fail_rate"))
      )).as("s"))
      .select(col("s.filter").as("filter"), col("s.n_fail").as("n_fail"),
        col("s.n_fail_only").as("n_fail_only"), col("s.fail_rate").as("fail_rate"))
  }

  /** Dataset-card summary (B124): the one-table corpus datasheet — doc /
    * token / type / lang / source counts, length extremes, exact-dup
    * rate, head-vocabulary coverage, mean tokens per doc — the numbers a
    * dataset card publishes and a pipeline gates its release on. Emitted
    * as (stat, value) rows so downstream diffing/alerting is schema-free.
    *
    * Every statistic is an exact integer aggregate with at most ONE
    * final division, so the result is partition-count independent
    * without any sorted-fold machinery (no float is ever summed). The
    * plan is three partial-agg subtrees over the corpus (doc frame,
    * token frame, content-hash frame) plus a ≤10-row head-vocab fold,
    * cross-joined as broadcast single rows. `nullif` guards keep the
    * ratios NULL (not a crash or Infinity) on an empty corpus. */
  def corpusSummary(docs: DataFrame): DataFrame = {
    val d = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      max(col("n_chars")).as("max_chars"),
      min(col("n_chars")).as("min_chars"))
    val cnt = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val t = cnt.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_tokens"),
      count(lit(1)).as("n_token_types"))
    val head = cnt.orderBy(col("cnt").desc, col("token")).limit(10)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("head_cnt"))
    val h = docs.select(md5(cleanText(col("text"))).as("ch"))
      .agg(countDistinct(col("ch")).as("n_hashes"))
    d.crossJoin(broadcast(t)).crossJoin(broadcast(head)).crossJoin(broadcast(h))
      .select(explode(array(
        struct(lit("n_docs").as("stat"), col("n_docs").cast("double").as("value")),
        struct(lit("n_langs").as("stat"), col("n_langs").cast("double").as("value")),
        struct(lit("n_sources").as("stat"), col("n_sources").cast("double").as("value")),
        struct(lit("n_tokens").as("stat"), col("n_tokens").cast("double").as("value")),
        struct(lit("n_token_types").as("stat"), col("n_token_types").cast("double").as("value")),
        struct(lit("max_chars").as("stat"), col("max_chars").cast("double").as("value")),
        struct(lit("min_chars").as("stat"), col("min_chars").cast("double").as("value")),
        struct(lit("mean_doc_tokens").as("stat"),
          round(col("n_tokens").cast("double") / nullif(col("n_docs"), lit(0L)), 6).as("value")),
        struct(lit("exact_dup_rate").as("stat"),
          round(lit(1.0) - col("n_hashes").cast("double") / nullif(col("n_docs"), lit(0L)), 6).as("value")),
        struct(lit("head10_coverage").as("stat"),
          round(col("head_cnt").cast("double") / nullif(col("n_tokens"), lit(0L)), 6).as("value"))
      )).as("s"))
      .select(col("s.stat").as("stat"), col("s.value").as("value"))
  }

  /** Stride-scheduled mixture interleave (B122): the deterministic epoch
    * order that REALIZES per-source mixture weights smoothly — source s's
    * i-th document (in its seeded per-source shuffle) sits at stride
    * position (i − 0.5)/weight(s), and the epoch consumes documents in
    * global position order, so every contiguous window of the stream
    * carries ≈weight-proportional source composition (classic stride
    * scheduling). This is the order a training run actually reads: unlike
    * [[mixtureSample]] (which drops documents to hit the mixture in
    * aggregate), the interleave keeps every document and delivers the
    * mixture locally — no "a million docs of one source in a row" stretch
    * that a concatenated-then-shuffled layout risks.
    *
    * Determinism: the per-source order is a pure md5 function of
    * (doc_id, seed); stride positions tie across sources (w=1's doc 1 and
    * w=3's doc 2 both sit at 0.5), so the global order appends (source,
    * doc_id) to stay total. IEEE division is exactly rounded — unlike
    * libm transcendentals — so the unrounded `pos` sort key is
    * bit-identical in Spark and the oracle.
    *
    * Scale: the per-source rank is a partitioned window (each source
    * sorts in parallel); the global position runs through
    * [[Ranks.withGlobalRowNumber]]'s range-partitioned two-pass rank.
    * Nothing collapses to one partition at any corpus size. */
  def mixtureEpoch(docs: DataFrame, seed: Int = 42): DataFrame = {
    val srcNum = regexp_extract(col("source"), "\\d+", 0).cast("long")
    val weight = when(srcNum % 2 === 0, lit(3.0)).otherwise(lit(1.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("skey"), col("doc_id"))
    val ranked = docs.select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit(":" + seed))).as("skey"),
        weight.as("weight"))
      .withColumn("ord_src", row_number().over(w).cast("long"))
      .withColumn("pos",
        (col("ord_src").cast("double") - lit(0.5)) / col("weight"))
    Ranks.withGlobalRowNumber(ranked, "epoch_pos", "_n",
        Seq(col("pos"), col("source"), col("doc_id")))
      .select(col("epoch_pos"), col("doc_id"), col("source"), col("ord_src"),
        round(col("pos"), 6).as("pos"))
  }

  /** Per-document OOV rate vs the top-`topN` corpus vocabulary (B120):
    * the vocabulary-truncation audit — what fraction of each document's
    * tokens fall outside a head vocabulary of `topN` types (ranked by
    * corpus frequency, count ties broken by the token itself so the cut
    * is total and deterministic). The per-doc twin of the corpus-level
    * [[tokenCoverageCurve]]: the curve sizes the vocab, this finds the
    * DOCUMENTS a too-small vocab mangles (high-OOV docs tokenize into
    * <unk> soup and are dropped or routed to byte fallback).
    *
    * Scale: the vocab is `orderBy(...).limit(topN)` — TakeOrdered's
    * per-partition heaps, no global sort — then broadcasts (topN rows)
    * against the token stream, which aggregates per doc in one
    * partial-agg shuffle. Nothing holds unbounded state. */
  def docOovRate(docs: DataFrame, topN: Int = 10): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
      .select(col("token"), lit(1L).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
  }

  /** Bradley–Terry preference ratings via the MM algorithm (B147): the
    * model behind every pairwise-preference leaderboard (reward-model
    * eval, arena rankings). Games pair consecutive same-language
    * documents (doc_id order), winner = higher [[qualityScore]]
    * composite (ties to the earlier doc); items are sources. Three
    * unrolled MM rounds from π⁰=1: π'_i = W_i / Σ_j n_ij/(π_i+π_j),
    * renormalized to mean 1 each round — the standard minorize-maximize
    * update, monotone in likelihood. Zero-win items converge to 0
    * without NaN (IEEE ∞ propagation is identical on both engines).
    *
    * Scale: the game build is one per-lang rank window + one join; all
    * MM state lives on the item-bounded (sources) frame with sorted
    * 9 dp folds, and each round is two broadcast-sized joins. */
  def bradleyTerry(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    val ranked = docs
      .select(col("doc_id"), col("lang"), col("source"),
        qualityComposite.as("quality"))
      .withColumn("rn", row_number().over(w))
      .withColumn("pair_id", expr("(rn - 1) div 2"))
    def half(odd: Boolean, tag: String) =
      ranked.filter(col("rn") % 2 === (if (odd) 1 else 0))
        .select(col("lang"), col("pair_id"), col("source").as(s"src_$tag"),
          col("quality").as(s"q_$tag"))
    // persist the corpus-wide pairing ONCE: wins, the pair-count matrix,
    // and every MM round all derive from `games`, and each would re-run
    // the per-lang pairing window (and the quality regexes under it) on
    // an unpersisted lineage — the recompute multiplies with rounds
    val games = CacheTracker.cache(
      half(odd = true, "a").join(half(odd = false, "b"),
          Seq("lang", "pair_id"))
        .filter(col("src_a") =!= col("src_b"))
        .select(col("src_a"), col("src_b"),
          when(col("q_a") >= col("q_b"), col("src_a")).otherwise(col("src_b"))
            .as("winner")))
    games.count()
    // wins/dir/items are SOURCE(²)-bounded (a handful of rows) yet
    // referenced in EVERY MM round: localCheckpoint truncates their fat
    // lineage (the pairing window + quality regex chain under `games`)
    // to a LogicalRDD, so Catalyst analyzes tiny constant plans per
    // round instead of re-walking the full pairing tree 3x per round
    // (the pi-checkpoint precedent below; measured build_ms 5.5 s → sub-
    // second). Small frames only — `games` stays a tracked persist.
    val wins = games.groupBy(col("winner").as("item"))
      .agg(count(lit(1)).as("n_wins")).transform(CacheTracker.pin)
    val pc = games.select(least(col("src_a"), col("src_b")).as("i"),
        greatest(col("src_a"), col("src_b")).as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_ij"))
    val dir = pc.select(col("i").as("item"), col("j").as("opp"), col("n_ij"))
      .unionByName(pc.select(col("j").as("item"), col("i").as("opp"), col("n_ij")))
      .transform(CacheTracker.pin)
    val items = dir.select("item").distinct().transform(CacheTracker.pin)
    var pi = items.withColumn("rating", lit(1.0))
    for (_ <- 1 to rounds) {
      val denom = dir
        .join(pi.select(col("item"), col("rating").as("pi_i")), Seq("item"))
        .join(pi.select(col("item").as("opp"), col("rating").as("pi_j")), Seq("opp"))
        .select(col("item"),
          round(col("n_ij") / (col("pi_i") + col("pi_j")), 9).as("term"))
        .groupBy("item").agg(Folds.exactSum(col("term")).as("denom"))
      val unnorm = items
        .join(wins, Seq("item"), "left")
        .join(denom, Seq("item"))
        .select(col("item"),
          round(coalesce(col("n_wins"), lit(0L)) / col("denom"), 9).as("u"))
      val tot = unnorm.agg(Folds.exactSum(col("u")).as("tot"),
        count(lit(1)).as("ni"))
      // pinned: denom references pi TWICE, so the logical plan would
      // double per round (measured 2→7→9 s per reference at round 3)
      pi = unnorm.crossJoin(broadcast(tot))
        .select(col("item"), round(col("u") * col("ni") / col("tot"), 9).as("rating"))
        .transform(CacheTracker.pin)
    }
    items
      .join(dir.groupBy("item").agg(sum(col("n_ij")).as("n_games")), Seq("item"))
      .join(wins, Seq("item"), "left")
      .join(pi, Seq("item"))
      .select(col("item").as("source"), col("n_games"),
        coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        round(col("rating"), 6).as("rating"))
  }

  /** Unbiased pass@k estimator (B146, the Codex-paper combinatorial
    * identity): per problem, with n samples of which c pass,
    * pass@k = 1 − C(n−c, k)/C(n, k) computed as the stable product
    * Π_{i<k} (n−c−i)/(n−i) — never a factorial. Problems here are the
    * (lang, source) strata and a sample "passes" when its
    * [[qualityScore]] composite clears `passBar` — the evaluation-
    * harness aggregation step, grounded on the corpus the engine has.
    * k clamps to the pool size; pools with fewer than k failures are
    * certain passes (1.0). The product folds left with init 1.0 (IEEE
    * 1.0·x = x), so DuckDB's init-free list_reduce walks the identical
    * doubles. One partial-agg shuffle to (n, c) per stratum; the
    * product runs on the strata-bounded frame. */
  def passAtK(docs: DataFrame, k: Int = 5, passBar: Double = 0.5): DataFrame =
    docs.select(col("lang"), col("source"),
        when(qualityComposite >= passBar, 1L).otherwise(0L).as("pass"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_samples"), sum(col("pass")).as("n_pass"))
      .select(col("lang"), col("source"), col("n_samples"), col("n_pass"),
        least(lit(k.toLong), col("n_samples")).as("k"))
      .withColumn("pass_at_k",
        when(col("n_samples") - col("n_pass") < col("k"), lit(1.0))
          .otherwise(round(lit(1.0) - aggregate(
            sequence(lit(0L), col("k") - 1),
            lit(1.0),
            (acc, i) => acc * ((col("n_samples") - col("n_pass") - i)
              / (col("n_samples") - i))), 6)))

  /** Shard integrity manifest (B144): per content shard, row count,
    * total chars, and an ORDER-INDEPENDENT content checksum — the data
    * lineage record a pipeline writes next to every published shard so
    * a re-run / replica / migration can be diffed in O(shards) without
    * touching bytes. The checksum XOR-folds 60 bits of each row's
    * content md5: commutative (any partitioning, any arrival order),
    * overflow-free (no sum to wrap under ANSI), and any single-row
    * change flips it. One partial-agg shuffle onto `shards` rows. */
  def shardManifest(docs: DataFrame, shards: Int = 64): DataFrame =
    docs.select((col("doc_id") % shards).as("shard"),
        coalesce(col("n_chars"), lit(0L)).as("nc"),
        expr("CAST(conv(substring(md5(coalesce(text, '')), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars_total"),
        expr("bit_xor(h)").as("checksum"))

  /** SFT example packing with loss-mask spans (B143): split each
    * document into a prompt prefix (first min(`promptCap`, ⌊n/2⌋)
    * tokens) and a response tail, pack examples into `budget`-token
    * training bins with [[sequencePack]]'s deterministic greedy policy,
    * and emit the ABSOLUTE stream offsets of the loss-masked response
    * span — the piece instruction-tuning adds on top of plain packing:
    * the trainer computes loss only over [mask_start, mask_end), even
    * when the span straddles a bin boundary.
    *
    * Same scale shape as sequencePack: one shuffle on the shard key,
    * per-shard prefix-sum window (parallelism = `shards`, which tracks
    * cluster width, not |docs|). */
  def sftPack(docs: DataFrame, budget: Long = 256, shards: Int = 8,
              promptCap: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 2) // need a non-empty prompt AND response
      .withColumn("prompt_len",
        least(lit(promptCap.toLong), expr("n_tokens div 2")))
      .withColumn("response_len", col("n_tokens") - col("prompt_len"))
      .withColumn("prefix_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prefix_tokens") / budget))
      .select(col("doc_id"), col("shard"), col("bin"), col("prefix_tokens"),
        col("prompt_len"), col("response_len"),
        (col("prefix_tokens") + col("prompt_len")).as("mask_start"),
        (col("prefix_tokens") + col("n_tokens")).as("mask_end"))
  }

  /** DPO/RLHF preference-pair construction (B139): within each
    * (lang, source) stratum, pair the i-th best document under the
    * [[qualityScore]] composite (the "chosen" side) with the i-th worst
    * (the "rejected" side) for i ≤ min(`maxPairs`, ⌊n/2⌋) — opposite
    * ends of one total order (quality, doc_id), so the sides can never
    * overlap — keeping only pairs whose margin clears `minMargin`. The
    * standard synthetic preference-data recipe when only a scalar
    * reward model exists.
    *
    * Scale: both sides ride [[graft.plans.TopK.topKPerKey]]'s bounded
    * per-key heaps (map-side cap at `maxPairs` rows per stratum, no
    * data-sized sort or window); the residual rank windows run on the
    * ≤ `maxPairs`-per-stratum survivors, and the ⌊n/2⌋ cap comes from
    * one partial-agg count joined broadcast (strata-bounded). */
  def dpoPairs(docs: DataFrame, maxPairs: Int = 5,
               minMargin: Double = 0.05): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"), col("source"),
      qualityComposite.as("quality"))
    val grpN = scored.groupBy("lang", "source").agg(count(lit(1)).as("n_grp"))
    // best side walks (quality desc, doc_id asc); worst side walks the
    // REVERSED order, so rank i on each side indexes the same total
    // order from opposite ends
    def side(best: Boolean): DataFrame = {
      val pruned = graft.plans.TopK.topKPerKey(scored, Seq("lang", "source"),
        Seq("quality" -> !best, "doc_id" -> best), maxPairs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source")
        .orderBy(if (best) col("quality").desc else col("quality").asc,
          if (best) col("doc_id").asc else col("doc_id").desc)
      pruned.withColumn("pair_rank", row_number().over(w).cast("long"))
        .filter(col("pair_rank") <= maxPairs)
    }
    val chosen = side(best = true).select(col("lang"), col("source"),
      col("pair_rank"), col("doc_id").as("chosen_doc_id"),
      col("quality").as("chosen_q"))
    val rejected = side(best = false).select(col("lang"), col("source"),
      col("pair_rank"), col("doc_id").as("rejected_doc_id"),
      col("quality").as("rejected_q"))
    chosen.join(rejected, Seq("lang", "source", "pair_rank"))
      .join(broadcast(grpN), Seq("lang", "source"))
      .filter(col("pair_rank") <= expr("n_grp div 2"))
      .withColumn("margin", round(col("chosen_q") - col("rejected_q"), 6))
      .filter(col("margin") >= minMargin)
      .select("lang", "source", "pair_rank", "chosen_doc_id",
        "rejected_doc_id", "chosen_q", "rejected_q", "margin")
  }

  /** Preference length-bias audit (B258): over the [[dpoPairs]]
    * preference set, how often the CHOSEN side is simply the LONGER
    * side, the mean length gap, and the mean margin — the canonical
    * reward-hacking check run before any DPO/RLHF fit (a reward or
    * quality score correlated with length teaches the model to pad).
    * Exact integer counts and length sums over the bounded pair set;
    * two rounded divides. */
  def preferenceLengthBias(docs: DataFrame): DataFrame = {
    val pairs = dpoPairs(docs)
    val lens = docs.select(col("doc_id"), col("n_chars"))
    pairs
      .join(lens.select(col("doc_id").as("chosen_doc_id"),
        col("n_chars").as("len_c")), "chosen_doc_id")
      .join(lens.select(col("doc_id").as("rejected_doc_id"),
        col("n_chars").as("len_r")), "rejected_doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("len_c") > col("len_r"), 1L).otherwise(0L))
          .as("n_chosen_longer"),
        sum(col("len_c") - col("len_r")).as("gap_sum"),
        sum(round(col("margin") * 1e6).cast("long")).as("margin_micro"))
      .select(col("n_pairs"), col("n_chosen_longer"),
        round(col("n_chosen_longer").cast("double") / col("n_pairs"), 6)
          .as("frac_chosen_longer"),
        round(col("gap_sum").cast("double") / col("n_pairs"), 6)
          .as("mean_len_gap"),
        round(col("margin_micro").cast("double") / col("n_pairs") / 1e6, 6)
          .as("mean_margin"))
  }

  /** Group-relative reward normalization (B141): z-score each document's
    * quality within its (lang, source) stratum — the GRPO-style
    * advantage transform that removes per-group reward offsets before
    * policy optimization, and the calibration step before mixing scored
    * shards from different sources.
    *
    * Exactness: mean and population variance divide exact sums
    * ([[Folds.exactSum]]) re-rounded to their terms' 6 and 9 dp, so an
    * ulp of the sum never decides a tie of the 9 dp quotient;
    * zero-variance strata emit z = 0, never NULL/NaN. Cost: two partial-agg shuffles on the stratum key
    * plus broadcast joins of the strata-bounded moment tables. */
  def rewardNormalize(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"), col("source"),
      qualityComposite.as("quality"))
    val m1 = scored.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_grp"),
        round(round(Folds.exactSum(col("quality")), 6) / count(lit(1)), 9).as("mean_q"))
    val dev = scored.join(broadcast(m1), Seq("lang", "source"))
      .withColumn("d2", round((col("quality") - col("mean_q"))
        * (col("quality") - col("mean_q")), 9))
    val m2 = dev.groupBy("lang", "source")
      .agg(round(round(Folds.exactSum(col("d2")), 9) / count(lit(1)), 9).as("var_q"))
    dev.join(broadcast(m2), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        when(col("var_q") > 0,
          round((col("quality") - col("mean_q")) / sqrt(col("var_q")), 6))
          .otherwise(lit(0.0)).as("z_reward"))
  }

  /** Temperature-scaled mixture weights (B160): the multilingual-
    * sampling rule (mBERT/XLM-R style) w_d ∝ p_d^(1/T) with T = 2 —
    * up-samples tail domains, down-samples the head. T = 2 is chosen
    * deliberately: p^(1/2) = sqrt(p), and IEEE sqrt is EXACTLY rounded
    * on every engine (unlike pow/exp/ln), so the whole chain is
    * bit-deterministic: exact count ratio → sqrt → 9 dp → exact-sum
    * normalizer over the domain-bounded frame → 6 dp share. */
  def mixtureTemperature(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("total"))
    val w = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("n_docs").cast("double") / col("total"), 9).as("share"),
        round(sqrt(col("n_docs").cast("double") / col("total")), 9).as("w_raw"))
    val z = w.agg(Folds.exactSum(col("w_raw")).as("z"))
    w.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("share"),
        round(col("w_raw") / col("z"), 6).as("w_temp"),
        round(col("w_raw") / col("z") / col("share"), 6).as("boost"))
  }

  /** Stratified k-fold assignment + balance audit (B159): every doc gets
    * a deterministic hash fold (md5 of doc_id — NOT doc_id % k, which
    * would correlate with any id-ordered ingest artifact), and the audit
    * reports each fold's per-language composition against the corpus
    * share — the check that cross-validation folds are exchangeable
    * before training on them. One partial-agg shuffle on the
    * (fold, lang) key; the k×langs and langs marginal frames are
    * bounded and broadcast. */
  def stratifiedKfold(docs: DataFrame, k: Int = 5): DataFrame = {
    val folded = docs.select(col("lang"),
      expr(s"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % $k")
        .as("fold"))
    val cells = folded.groupBy("fold", "lang").agg(count(lit(1)).as("n_docs"))
    val perFold = cells.groupBy("fold").agg(sum(col("n_docs")).as("n_fold"))
    val perLang = cells.groupBy("lang").agg(sum(col("n_docs")).as("n_lang"))
    val total = cells.agg(sum(col("n_docs")).as("n_total"))
    cells
      .join(broadcast(perFold), "fold")
      .join(broadcast(perLang), "lang")
      .crossJoin(broadcast(total))
      .select(col("fold"), col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_fold"), 6).as("fold_frac"),
        round(col("n_lang").cast("double") / col("n_total"), 6).as("corpus_frac"),
        round(col("n_docs").cast("double") / col("n_fold")
          - col("n_lang").cast("double") / col("n_total"), 6).as("deviation"))
  }

  /** Rényi-2 tokenizer efficiency (B152): the collision-entropy variant
    * of the Rényi-efficiency tokenizer metric — H₂ = 2·ln N − ln Σc²
    * over the token frequency distribution, normalized by ln V. A
    * tokenizer (or corpus) whose mass concentrates on few types scores
    * low; a uniform vocabulary scores 1. α=2 instead of the literature's
    * 2.5 deliberately: Σc² is an EXACT BIGINT (no cross-engine pow
    * drift), so the only float work is two ln calls on exact integers,
    * rounded at 6 dp.
    *
    * Scale: one shuffle on token, then a partial-agg global fold of
    * (count, c²) — no sorted-fold buffer, no vocab-sized window. */
  def renyiEfficiency(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    counts.agg(
        count(lit(1)).as("vocab_size"),
        sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("cnt")).as("sum_sq"))
      .select(col("vocab_size"), col("n_tokens"), col("sum_sq"),
        round(lit(2.0) * log(col("n_tokens").cast("double"))
          - log(col("sum_sq").cast("double")), 6).as("h2"),
        when(col("vocab_size") > 1,
          round((lit(2.0) * log(col("n_tokens").cast("double"))
            - log(col("sum_sq").cast("double")))
            / log(col("vocab_size").cast("double")), 6))
          .otherwise(lit(0.0)).as("efficiency"))
  }

  /** Quality-cutoff retention sweep (B153): for each candidate filter
    * threshold on the fixed 10..90% grid, how many documents and how
    * much token mass survive — the curve a pipeline owner reads before
    * committing to a quality cutoff, sibling of [[Dedup.thresholdSweep]]
    * for the similarity knob. Retention ratios are against the unfiltered
    * totals (broadcast one-row frame); a 9× bounded grid explode, one
    * partial-agg shuffle on the 9-value grid key. */
  def qualityThresholdSweep(docs: DataFrame): DataFrame = {
    val scored = docs.select(qualityComposite.as("q"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    val totals = scored.agg(count(lit(1)).as("tot_docs"),
      sum(col("n_toks")).as("tot_tokens"))
    scored
      .select(col("q"), col("n_toks"),
        explode(sequence(lit(10), lit(90), lit(10))).as("t_pct"))
      .filter(col("q") >= col("t_pct").cast("double") / 100.0)
      .groupBy("t_pct")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("t_pct").cast("long").as("t_pct"), col("n_docs"),
        col("n_tokens"),
        round(col("n_docs").cast("double") / col("tot_docs"), 6)
          .as("doc_retention"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
          .as("token_retention"))
  }

  /** Word-boundary blocklist filter (B151): per document, how many
    * blocklisted terms appear (as whole words — "dup" must not fire
    * inside "duplicate"), the hit ratio against the whitespace token
    * count, and a keep flag at a 5% ratio ceiling — the safety/abuse
    * screening stage of a curation pipeline, shaped like [[gopherFilter]]
    * but driven by an explicit term list.
    *
    * The alternation regex stays RE2-safe (`\b` word boundaries,
    * literals only) so the DuckDB oracle runs the identical pattern.
    * Scale: narrow per-row regex, zero shuffle. */
  def blocklistFilter(docs: DataFrame,
      terms: Seq[String] = Seq("slow", "dup", "drop", "fake", "spam")): DataFrame = {
    val re = "\\b(" + terms.mkString("|") + ")\\b"
    val nToks = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
    docs.select(
      col("doc_id"),
      nToks.cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long").as("n_hits"),
      round(when(nToks > 0,
        size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("double") / nToks)
        .otherwise(lit(0.0)), 6).as("hit_ratio"))
      .withColumn("keep", col("n_hits") * 20 <= col("n_tokens"))
  }

  /** Generation-diversity distinct-n ratios per source (B148): the
    * distinct-1 / distinct-2 metrics used to audit synthetic or model-
    * generated corpora for mode collapse — a source whose bigram ratio
    * craters is emitting the same phrases over and over. Sources whose
    * docs never reach 2 tokens report zero bigram diversity rather than
    * dividing by zero.
    *
    * Scale: ONE narrow explode emits unigrams and bigrams as a single
    * tagged gram stream, then one two-level aggregation — (source,
    * is_bg, gram) partial counts collapse to per-(source, is_bg)
    * totals+distincts, then to one row per source. Three map-side-
    * combining shuffles total, versus the two separate countDistinct
    * branches (double tokenize, 6 shuffles + a join) this replaced
    * after the r14 official pass read 6.4 s on a 1.2 s plan. */
  def distinctNgrams(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // slice length clamps at 0 so 0/1-token docs emit no bigrams (ANSI
    // mode errors on negative slice lengths rather than returning empty)
    val n1 = greatest(size(toks) - 1, lit(0))
    val grams = docs.select(col("source"), explode(concat(
        transform(toks, t => struct(lit(false).as("is_bg"), t.as("gram"))),
        zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
          (a, b) => struct(lit(true).as("is_bg"),
            concat_ws(" ", a, b).as("gram"))))).as("g"))
      .select(col("source"), col("g.is_bg").as("is_bg"), col("g.gram").as("gram"))
    val lvl = grams.groupBy("source", "is_bg", "gram")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("source", "is_bg")
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"))
    lvl.groupBy("source")
      .agg(
        sum(when(!col("is_bg"), col("n"))).as("n_unigrams"),
        sum(when(!col("is_bg"), col("n_distinct"))).as("n_distinct_unigrams"),
        coalesce(sum(when(col("is_bg"), col("n"))), lit(0L)).as("n_bigrams"),
        coalesce(sum(when(col("is_bg"), col("n_distinct"))), lit(0L))
          .as("n_distinct_bigrams"))
      .select(col("source"), col("n_unigrams"), col("n_distinct_unigrams"),
        round(col("n_distinct_unigrams").cast("double") / col("n_unigrams"), 6)
          .as("distinct_1"),
        col("n_bigrams"), col("n_distinct_bigrams"),
        coalesce(round(col("n_distinct_bigrams").cast("double")
          / nullif(col("n_bigrams"), lit(0L)), 6), lit(0.0)).as("distinct_2"))
  }

  /** Pairwise Cohen's kappa between three cheap quality raters (B149):
    * do the engine's own filters AGREE beyond chance? Raters are the
    * quality composite (≥ 0.5), a length floor (≥ 100 chars), and an
    * alphabetic-density floor (≥ 0.6) — three independent views of
    * "keep this document". Low kappa between two filters means they
    * disagree on real docs, i.e. the ensemble is doing work; kappa ≈ 1
    * means one of them is redundant.
    *
    * Exactness: po/pe are ratios of exact BIGINT counts rounded at 9 dp;
    * kappa is one 6 dp division from those — no float accumulation.
    * Scale: narrow per-row flags collapse in ONE partial-agg pass to a
    * single row; the 3-pair unpivot is driver-free. */
  def raterAgreement(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val nAlpha = size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0)))
    val rated = docs.select(
      (qualityComposite >= 0.5).cast("long").as("r_quality"),
      (len >= 100).cast("long").as("r_length"),
      (when(len > 0, nAlpha.cast("double") / len).otherwise(lit(0.0)) >= 0.6)
        .cast("long").as("r_alpha"))
    val agg = rated.agg(
      count(lit(1)).as("n"),
      sum(col("r_quality")).as("s_q"),
      sum(col("r_length")).as("s_l"),
      sum(col("r_alpha")).as("s_a"),
      sum(col("r_quality") * col("r_length")).as("b_ql"),
      sum(col("r_quality") * col("r_alpha")).as("b_qa"),
      sum(col("r_length") * col("r_alpha")).as("b_la"))
    def kappaCols(tag: String, sa: Column, sb: Column, n11: Column) = {
      val n = col("n")
      // observed agreement: co-positive + co-negative
      val po = round((n11 * 2 + n - sa - sb).cast("double") / n, 9)
      val pa = sa.cast("double") / n
      val pb = sb.cast("double") / n
      val pe = round(pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb), 9)
      Seq(po.as(s"po_$tag"), pe.as(s"pe_$tag"),
        when(pe === 1.0, lit(0.0))
          .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as(s"kappa_$tag"))
    }
    val wide = agg.select(
      col("n") +:
        (kappaCols("ql", col("s_q"), col("s_l"), col("b_ql")) ++
          kappaCols("qa", col("s_q"), col("s_a"), col("b_qa")) ++
          kappaCols("la", col("s_l"), col("s_a"), col("b_la"))): _*)
    wide.selectExpr(
      "stack(3, " +
        "'quality_vs_length', po_ql, pe_ql, kappa_ql, " +
        "'quality_vs_alpha', po_qa, pe_qa, kappa_qa, " +
        "'length_vs_alpha', po_la, pe_la, kappa_la" +
        ") AS (pair, po, pe, kappa)",
      "n")
  }

  /** Cochran's Q across the three binary quality raters (B279): do the
    * [[raterAgreement]] filters have the SAME keep rate, accounting for
    * the fact that they judge the same documents? The k-sample
    * McNemar — the right test for k matched BINARY raters, where a
    * Friedman rank test degenerates (every block is a tie pattern over
    * {0,1}). Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) with C_j the
    * per-rater keep counts, R_i the per-doc keep counts (0..3), T their
    * common total — sufficient statistics only, all exact BIGINTs off
    * ONE partial-agg pass over narrow per-row flags (squares cross
    * through DECIMAL(38,0): T² overflows a long past ~3·10⁹ kept
    * flags); χ²(k−1) under H₀. Degenerate denominator (every doc kept
    * by all three or none — no discordant blocks) yields NULL. */
  def cochranQ(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val nAlpha = size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0)))
    val rated = docs.select(
      (qualityComposite >= 0.5).cast("long").as("r_quality"),
      (len >= 100).cast("long").as("r_length"),
      (when(len > 0, nAlpha.cast("double") / len).otherwise(lit(0.0)) >= 0.6)
        .cast("long").as("r_alpha"))
    val ri = col("r_quality") + col("r_length") + col("r_alpha")
    val agg = rated.agg(
      count(lit(1)).as("n_docs"),
      sum(col("r_quality")).as("c_quality"),
      sum(col("r_length")).as("c_length"),
      sum(col("r_alpha")).as("c_alpha"),
      sum(ri * ri).as("sr2"))
    def sq(c: Column): Column = c.cast("decimal(38,0)") * c.cast("decimal(38,0)")
    val t = col("c_quality") + col("c_length") + col("c_alpha")
    val num = lit(2) * (lit(3) * (sq(col("c_quality")) + sq(col("c_length"))
      + sq(col("c_alpha"))) - sq(t))
    val den = lit(3) * t - col("sr2")
    agg.select(col("n_docs"), col("c_quality"), col("c_length"), col("c_alpha"),
      round(when(den > 0, num.cast("double") / den.cast("double")), 6)
        .as("q_stat"),
      lit(2L).as("dof"))
  }

  /** Best-of-n rejection sampling (B150): per (source, lang) pool, keep
    * the top-`k` candidates by the quality reward, subject to an
    * absolute acceptance floor — the distillation/RFT selection step
    * (sample n, keep the best passing ones). Reports the pool size next
    * to each survivor so acceptance rates fall out downstream.
    *
    * Scale: candidate selection rides [[graft.plans.TopK.topKPerKey]]'s
    * bounded-heap two-phase pass (no per-pool sort — a 100 TB source is
    * one pool); the rank window after it sees ≤ k rows per key, and the
    * pool-count frame is group-bounded and broadcast. */
  def rejectionSample(docs: DataFrame, k: Int = 2,
      minReward: Double = 0.3): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"), col("lang"),
      qualityComposite.as("reward"))
    val pools = scored.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_candidates"))
    val accepted = scored.filter(col("reward") >= minReward)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "lang").orderBy(col("reward").desc, col("doc_id"))
    graft.plans.TopK.topKPerKey(accepted, Seq("source", "lang"),
        Seq("reward" -> false, "doc_id" -> true), k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .join(broadcast(pools), Seq("source", "lang"))
      .select(col("source"), col("lang"), col("rank"), col("doc_id"),
        col("reward"), col("n_candidates"))
  }

  /** GloVe-style distance-weighted co-occurrence counts (B166): for each
    * ordered token pair within a forward window of `win`, accumulate
    * weight 1/d where d is the offset — the X_ij table GloVe factorizes
    * (Pennington et al. 2014). Weights live as exact MICRO-units
    * (1000000 div d — every d ≤ win maps to one fixed integer), so the
    * per-pair sum is exact long addition, immune to float-fold order;
    * the one double appears in the final rounded ratio. Pairs are
    * canonicalized (tok_a ≤ tok_b) since the GloVe matrix is symmetric.
    *
    * Scale posture: the window expansion is a bounded slice per center
    * token (≤ win context rows each — linear in corpus size, never a
    * per-document quadratic self-join), and the only shuffle is the
    * final pair aggregation. */
  def gloveCooc(docs: DataFrame, win: Int = 5, minPairs: Long = 2L): DataFrame =
    docs.select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos0", "center")))
      .select(col("center"),
        posexplode(slice(col("toks"), col("pos0") + 2, lit(win)))
          .as(Seq("dj", "context")))
      .select(least(col("center"), col("context")).as("tok_a"),
        greatest(col("center"), col("context")).as("tok_b"),
        expr("1000000 div (dj + 1)").as("w_micro"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("w_micro")).as("sum_micro"))
      .filter(col("n_pairs") >= minPairs)
      .select(col("tok_a"), col("tok_b"), col("n_pairs"),
        round(col("sum_micro").cast("double") / 1e6, 6).as("weight"))

  /** Good-Turing frequency-of-frequencies table (B168): N_c = how many
    * token TYPES occur exactly c times, with the adjusted count
    * c* = (c+1)·N_{c+1}/N_c where the next class exists — the table
    * Good-Turing smoothing reads to give unseen events mass, and the
    * frequency-spectrum audit (is N_1 enormous? → typo/ID noise) every
    * tokenizer decision consults. Two partial-agg shuffles (token
    * counts, then count classes) plus a self-join on c+1 over the
    * class-frame, which is ~√(corpus) sized (count classes grow far
    * slower than vocabulary). */
  def freqOfFreqs(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val classes = counts.groupBy("c").agg(count(lit(1)).as("n_types"))
    val next = classes.select((col("c") - 1).as("c"), col("n_types").as("n_next"))
    classes.join(next, Seq("c"), "left")
      .select(col("c"), col("n_types"),
        when(col("n_next").isNotNull,
          round((col("c") + 1).cast("double") * col("n_next") / col("n_types"), 6))
          .as("c_star"))
  }

  /** Token position-bias census (B173): where in documents does each
    * token live? Mean relative position (0 = always document-initial,
    * 1 = always final) plus the share of occurrences in the leading 20%
    * — the boilerplate/title detector (navigation chrome and headers
    * concentrate at the top; a low mean_rel_pos at high count flags
    * template text the span-dedup family should look at). Positions
    * quantize to exact MICRO-units per occurrence, so the mean is an
    * exact-integer sum divided once; docs need ≥ 2 tokens (relative
    * position is undefined on singletons). Linear: one explode + one
    * token-keyed aggregate. */
  def tokenPositionBias(docs: DataFrame, minCount: Long = 5L): DataFrame =
    docs.select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(size(col("toks")).as("len"),
        posexplode(col("toks")).as(Seq("pos0", "token")))
      .select(col("token"),
        round(col("pos0") * 1e6 / (col("len") - 1), 0).cast("long").as("rel_micro"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"),
        sum(col("rel_micro")).as("sum_micro"),
        sum(when(col("rel_micro") < 200000L, 1L).otherwise(0L)).as("n_lead"))
      .filter(col("n") >= minCount)
      .select(col("token"), col("n"),
        round(col("sum_micro").cast("double") / col("n") / 1e6, 6).as("mean_rel_pos"),
        round(col("n_lead").cast("double") / col("n"), 6).as("lead_share"))

  /** Histogram-intersection similarity between sources' token
    * distributions (B174): Σ_t min(p_a(t), p_b(t)) per source pair —
    * the mixture-design readout ("how much does adding source B really
    * add?") that document-level `source_overlap` cannot see, because
    * two sources can share zero documents yet near-identical token
    * distributions. Shares quantize to exact MICRO-units by integer
    * floor-division ((c·10⁶) div total — exact longs, no float sums),
    * so the per-pair intersection is an exact integer sum divided once.
    * All frames are vocabulary-bounded after the one token shuffle;
    * the pair join is on token across the |sources|² key space. */
  def sourceTokenHistSim(docs: DataFrame): DataFrame = {
    val c = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val tot = c.groupBy("source").agg(sum(col("c")).as("total"))
    val shares = c.join(tot, "source")
      .select(col("source"), col("token"),
        expr("(c * 1000000) div total").as("share_micro"))
    shares.select(col("source").as("source_a"), col("token"),
        col("share_micro").as("pa"))
      .join(shares.select(col("source").as("source_b"), col("token"),
        col("share_micro").as("pb")), "token")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_tokens"),
        sum(least(col("pa"), col("pb"))).as("sum_micro"))
      .select(col("source_a"), col("source_b"), col("n_shared_tokens"),
        round(col("sum_micro").cast("double") / 1e6, 6).as("intersection"))
  }

  /** Vocabulary-novelty contribution per source (B178): attribute each
    * token TYPE to the source of its first-seen document (min doc_id —
    * the [[LangModel.heapsLawFit]] first-occurrence frame, reused as a
    * per-source census) and report how much of the vocabulary each feed
    * introduced vs how much it merely repeats — the "is this source
    * adding anything new" acquisition readout. Two token-keyed
    * aggregates + one broadcast-sized source join. */
  def vocabNoveltyBySource(docs: DataFrame): DataFrame = {
    val dt = docs.select(col("doc_id"), col("source"),
      explode(tokens(col("text"))).as("token"))
    val firstDoc = dt.groupBy("token").agg(min(col("doc_id")).as("doc_id"))
    val firstSource = firstDoc
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_first_types"))
    val touched = dt.select(col("source"), col("token")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n_types_touched"))
    touched.join(firstSource, Seq("source"), "left")
      .select(col("source"), col("n_types_touched"),
        coalesce(col("n_first_types"), lit(0L)).as("n_first_types"),
        round(coalesce(col("n_first_types"), lit(0L)).cast("double")
          / col("n_types_touched"), 6).as("novelty_share"))
  }

  /** Rare-token share per document (B179): the fraction of a document's
    * tokens whose CORPUS count is ≤ `maxCount` — the OCR-garbage /
    * machine-noise detector (real prose is mostly common words; a doc
    * that is half hapaxes is mangled text or an ID dump), reading the
    * same frequency spectrum [[freqOfFreqs]] audits corpus-wide at the
    * per-document level. One vocab-keyed join back onto the token
    * stream + one per-doc aggregate; flagged past `flagShare`. */
  def rareTokenShare(docs: DataFrame, maxCount: Long = 2L,
      flagShare: Double = 0.5): DataFrame = {
    val dt = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val rare = dt.groupBy("token").agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxCount).select("token")
    dt.join(rare.withColumn("_rare", lit(1L)), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("_rare"), lit(0L))).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        round(col("n_rare").cast("double") / col("n_tokens"), 6).as("rare_share"))
      .withColumn("flagged", col("rare_share") > flagShare)
  }

  /** Vocabulary overlap between the two tokenizers the engine ships
    * (B177): the cleaned whitespace tokenizer vs the BPE-ish raw-text
    * pre-tokenizer (letter runs / digit runs / single marks, the
    * [[tokenStats]] pattern). Jaccard + both containments over the two
    * vocab SETS — the pre-migration readout when swapping tokenizers
    * ("how much of the old vocab survives?"). Two distinct-aggregates
    * + one full outer join on the vocab key space. */
  def tokenizerVocabOverlap(docs: DataFrame): DataFrame = {
    val a = docs.select(explode(tokens(col("text"))).as("token")).distinct()
      .withColumn("_a", lit(1L))
    val b = docs.select(explode(regexp_extract_all(col("text"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).as("token"))
      .distinct().withColumn("_b", lit(1L))
    a.join(b, Seq("token"), "full_outer")
      .agg(
        sum(coalesce(col("_a"), lit(0L))).as("n_a"),
        sum(coalesce(col("_b"), lit(0L))).as("n_b"),
        sum(when(col("_a").isNotNull && col("_b").isNotNull, 1L).otherwise(0L))
          .as("n_shared"),
        count(lit(1)).as("n_union"))
      .select(col("n_a").as("n_clean_vocab"), col("n_b").as("n_bpe_vocab"),
        col("n_shared"),
        round(col("n_shared").cast("double") / col("n_union"), 6).as("jaccard"),
        round(col("n_shared").cast("double") / col("n_a"), 6).as("clean_in_bpe"),
        round(col("n_shared").cast("double") / col("n_b"), 6).as("bpe_in_clean"))
  }

  /** Hilbert-curve layout key (C197): [[zorderKey]]'s continuous-curve
    * sibling over the same (n_chars, n_tokens) point set, via the native
    * codegen'd [[graft.functions.HilbertIndex]] expression. Consecutive
    * Hilbert keys are always ADJACENT cells (the Morton curve jumps at
    * every quadrant boundary), so range-partitioning the corpus by hkey
    * gives strictly tighter per-file min/max envelopes on both dimensions
    * — what Iceberg/Delta reach for when z-order pruning still reads too
    * much. Narrow per-row work, one whole-stage-codegen span. */
  def hilbertKey(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars").cast("long").as("x"),
        size(tokens(col("text"))).cast("long").as("y"))
      .select(col("doc_id"), col("x"), col("y"),
        graft.functions.GraftFunctions.hilbert(col("x"), col("y")).as("hkey"))

  /** Corpus-driven stopword discovery (B216): the data-derived
    * replacement for a hand-picked stopword list — a token is a stopword
    * candidate when it appears in at least `dfFrac` of all documents AND
    * across at least `minLangs` languages (high document frequency alone
    * flags topical boilerplate; the language spread separates function-
    * word-like tokens from corpus-template artifacts). Exactly the list
    * RAKE/keyphrase passes should be fed instead of [[Stopwords]].
    *
    * One distinct (doc, token) aggregate (vocab-bounded shuffle), the
    * doc total broadcast; df_frac is the only division, rounded 6 dp. */
  def stopwordDiscovery(docs: DataFrame, dfFrac: Double = 0.25,
                        minLangs: Int = 3): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    d.groupBy("token")
      .agg(count(lit(1)).as("df"), countDistinct(col("lang")).as("n_langs"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= col("n_docs") * dfFrac && col("n_langs") >= minLangs)
      .select(col("token"), col("df"), col("n_langs"),
        round(col("df").cast("double") / col("n_docs"), 6).as("df_frac"))
  }

  /** Morphological suffix profile (B217): the top-`k` 3-character token
    * suffixes per language with their share of suffix-bearing tokens —
    * the cheap morphology fingerprint that separates inflecting languages
    * (and catches mislabeled-language slices when a lang's profile stops
    * looking like itself). Token occurrences (not types) of length ≥ 4
    * count, so the profile weights running text the way a reader sees it.
    * Vocab-bounded (lang, suffix) aggregate; per-lang totals rejoin
    * broadcast; the top-k rank runs on the already-aggregated frame. */
  def suffixProfile(docs: DataFrame, k: Int = 5): DataFrame = {
    val sfx = docs
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 4)
      .select(col("lang"), substring(col("token"), -3, 3).as("suffix"))
    val cnt = sfx.groupBy("lang", "suffix").agg(count(lit(1)).as("cnt"))
    val tot = sfx.groupBy("lang").agg(count(lit(1)).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("suffix"))
    cnt.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .join(broadcast(tot), "lang")
      .select(col("lang"), col("rnk"), col("suffix"), col("cnt"),
        round(col("cnt").cast("double") / col("n_tokens"), 6).as("share"))
  }

  /** Heavy-changer census (B226): the tokens whose frequency SHARE moved
    * most between the two corpus halves (doc_id parity as the then/now
    * proxy; a dated corpus splits on time) — the drift question sketch
    * literature calls heavy change detection, answered exactly. Both
    * halves aggregate in ONE pass (conditional sums off the parity flag);
    * delta ranks on its 6 dp-rounded value with a token tie-break, so the
    * top-k heap is engine-deterministic. Everything after the token
    * shuffle is vocab-bounded; the k-row result returns via TakeOrdered,
    * never a full sort. */
  def tokenHeavyChange(docs: DataFrame, k: Int = 10): DataFrame = {
    val tok = docs.select((col("doc_id") % 2 === 0).as("old_half"),
      explode(tokens(col("text"))).as("token"))
    val tot = tok.agg(
      sum(when(col("old_half"), 1L).otherwise(0L)).as("tot_a"),
      sum(when(!col("old_half"), 1L).otherwise(0L)).as("tot_b"))
    tok.groupBy("token")
      .agg(sum(when(col("old_half"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("old_half"), 1L).otherwise(0L)).as("cnt_b"))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        round(col("cnt_a").cast("double") / col("tot_a"), 6).as("share_a"),
        round(col("cnt_b").cast("double") / col("tot_b"), 6).as("share_b"),
        round(col("cnt_b").cast("double") / col("tot_b")
          - col("cnt_a").cast("double") / col("tot_a"), 6).as("delta"))
      .orderBy(abs(col("delta")).desc, col("token"))
      .limit(k)
  }

  /** Typo-recovery probe of fuzzy matching (B229): every vocabulary
    * token gets a deterministic "typo" — the adjacent-character swap at
    * an md5-chosen position — and is matched BACK against the vocabulary
    * by the native codegen'd [[graft.functions.JaroWinkler]] expression
    * (the matcher Spark doesn't ship; the oracle is DuckDB's own
    * jaro_winkler_similarity). The readout is, per token: its typo form,
    * the best-JW vocabulary match, and whether the original was
    * recovered — the calibration run before anyone trusts a JW cutoff
    * for OCR/typo normalization at scale.
    *
    * The match join is BLOCKED: a candidate's first character must be
    * one of the typo's first two (an adjacent swap can only move the
    * head character to slot 2), so the pair space stays near-linear in
    * vocab size and provably still contains the original. Best match
    * ranks on (jw desc, candidate asc) — engine-deterministic. */
  def typoRecovery(docs: DataFrame, minDf: Int = 2): DataFrame = {
    val vocab = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minDf && length(col("token")) >= 4)
      .select("token")
    val typod = vocab.select(col("token"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % (length(col("token")) - 1L) + 1L).cast("int").as("p"))
      .select(col("token"),
        concat(
          substring(col("token"), lit(1), col("p") - 1),
          substring(col("token"), col("p") + 1, lit(1)),
          substring(col("token"), col("p"), lit(1)),
          substring(col("token"), col("p") + 2, length(col("token")))).as("typo"))
    // blocking: same length (an adjacent swap preserves length EXACTLY,
    // so the gate is lossless for recovering the original) and first
    // char among the typo's first two — together the pair space is a
    // per-(length, char) block, never the quadratic vocabulary square
    val scored = typod
      .join(vocab.select(col("token").as("cand")),
        length(col("cand")) === length(col("typo"))
          && (substring(col("cand"), 1, 1) === substring(col("typo"), 1, 1)
            || substring(col("cand"), 1, 1) === substring(col("typo"), 2, 1)))
      .select(col("token"), col("typo"), col("cand"),
        round(graft.functions.GraftFunctions.jaroWinkler(col("typo"), col("cand")), 6)
          .as("jw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token", "typo").orderBy(col("jw").desc, col("cand"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("token"), col("typo"), col("cand").as("best_match"),
        col("jw"), (col("cand") === col("token")).as("recovered"))
  }

  /** Shapley attribution of curation-gate removals (B228): when a doc is
    * flagged by SEVERAL gates at once, the sequential attrition report
    * ([[tokenAttrition]]) double-counts it against every gate; the
    * Shapley value of the coverage game splits each removed doc EQUALLY
    * among the gates that flag it, so the per-gate credits sum exactly
    * to the number of docs removed — the fair answer to "which filter is
    * actually responsible for our losses". For the three intrinsic gates
    * the per-doc split is 1/k with k ∈ {1,2,3}; credits accumulate in
    * exact SIXTHS (6/k is an integer), so the sum is order-independent
    * and the one division rounds at 6 dp. One corpus pass, 3-row output. */
  def gateShapley(docs: DataFrame): DataFrame = {
    val f = attritionFlags(docs)
      .withColumn("k",
        col("f_short").cast("long") + col("f_quality").cast("long")
          + col("f_rep").cast("long"))
    def n(flag: Column) = coalesce(sum(flag.cast("long")), lit(0L))
    def credit(flag: Column) =
      coalesce(sum(when(flag, expr("6 div k")).otherwise(0L)), lit(0L))
    // ONE corpus pass computes every gate's sums; the 3-row unpivot runs
    // on the single-row aggregate
    val a = f.agg(
      n(col("f_short")).as("short_n"), credit(col("f_short")).as("short_c"),
      n(col("f_quality")).as("quality_n"), credit(col("f_quality")).as("quality_c"),
      n(col("f_rep")).as("rep_n"), credit(col("f_rep")).as("rep_c"),
      coalesce(sum(when(col("k") > 0L, 1L).otherwise(0L)), lit(0L)).as("n_removed"))
    def row(name: String, nc: String, cc: String) =
      a.select(lit(name).as("gate"), col(nc).as("n_flagged"),
        round(col(cc).cast("double") / 6.0, 6).as("shapley_docs"),
        col("n_removed"))
    row("short", "short_n", "short_c")
      .unionByName(row("quality", "quality_n", "quality_c"))
      .unionByName(row("repetition", "rep_n", "rep_c"))
  }

  /** Per-source character-LM cross-entropy (B218): each source's cleaned
    * character distribution scored under the CORPUS character unigram LM
    * — cross-entropy H(p_src, p_corpus) and its decomposition into the
    * source's own entropy plus KL(p_src ‖ p_corpus). A source whose KL
    * drifts up is shifting alphabet/orthography against the corpus (the
    * char-level twin of [[graft.operators.LangModel.langKl]]'s token
    * view, robust to tokenization). The cleaned alphabet is closed
    * (a-z + space), so every source char has corpus mass — no smoothing
    * seam. Char counts are exact longs off one (source, char) aggregate;
    * each entropy is an exact sum over ≤ 27 terms, rounded once at 6 dp. */
  def charLmXent(docs: DataFrame): DataFrame = {
    val chars = docs.select(col("source"),
        explode(split(cleanText(col("text")), "")).as("ch"))
      .filter(col("ch") =!= "")
    val bySrc = chars.groupBy("source", "ch").agg(count(lit(1)).as("cnt"))
    val corpus = chars.groupBy("ch").agg(count(lit(1)).as("c_cnt"))
    val corpusTot = chars.agg(count(lit(1)).as("c_tot"))
    val srcTot = bySrc.groupBy("source").agg(sum(col("cnt")).as("s_tot"))
    // per (source, char): p_src, ln p_src, ln p_corpus
    val terms = bySrc
      .join(broadcast(corpus), "ch")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpusTot))
      .select(col("source"), col("s_tot"),
        (col("cnt").cast("double") / col("s_tot")
          * log(col("c_cnt").cast("double") / col("c_tot"))).as("xent_t"),
        (col("cnt").cast("double") / col("s_tot")
          * log(col("cnt").cast("double") / col("s_tot"))).as("ent_t"))
    terms.groupBy("source", "s_tot")
      .agg(round(-Folds.exactSum(col("xent_t")), 6).as("xent"),
        round(-Folds.exactSum(col("ent_t")), 6).as("entropy"),
        round(Folds.exactSum(col("ent_t") - col("xent_t")), 6).as("kl"))
      .select(col("source"), col("s_tot").as("n_chars"), col("xent"), col("entropy"),
        col("kl"))
  }

  /** Repeated-span profile (B253): per document, the LONGEST dyadic
    * shingle length n ∈ {2,4,8,16,32} at which some n-token span occurs
    * twice — the "internal boilerplate loop" detector that grades how
    * LONG a document's self-repetition runs, where [[repetitionStats]]
    * only counts how OFTEN its top bigram repeats. A doc whose 32-token
    * span repeats is a template/generation loop regardless of its
    * distinct-token ratio. Dyadic probes bound the work at 5 tagged
    * shingle streams (each corpus-linear with map-side combine onto the
    * (doc, span, shingle) key); the exact longest would pay one stream
    * per candidate length for the same verdict class. */
  def repeatSpanProfile(docs: DataFrame,
                        spans: Seq[Int] = Seq(2, 4, 8, 16, 32)): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val repeated = spans.map { n =>
      base.filter(size(col("toks")) >= n + 1)
        .select(col("doc_id"), lit(n.toLong).as("span"),
          explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as("sh"))
        .groupBy("doc_id", "span", "sh").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2L)
        .select(col("doc_id"), col("span"))
        .distinct()
    }.reduce(_ unionByName _)
    base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(repeated.groupBy("doc_id").agg(max(col("span")).as("mx")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("mx"), lit(0L)).as("max_rep_span"))
  }

  /** Group-aware k-fold assignment (B251): every SOURCE lands wholly in
    * one fold (fold = md5(source) mod k), so near-duplicates and
    * templates that cluster within a source can never leak across a
    * train/eval boundary — the GroupKFold constructor whose absence
    * B188 (split_leakage) audits for after the fact. Deterministic,
    * engine-reproducible, and one narrow pass + one bounded aggregate;
    * the per-fold census is what a data curator checks before accepting
    * the split (fold balance is only as good as source-size balance —
    * by design, not a bug). */
  def groupKfold(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(col("source"),
        (conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long") % k)
          .as("fold"))
      .groupBy("fold")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"))

  /** Kruskal-Wallis H test of document length across languages (B246):
    * the nonparametric k-group ANOVA — "do the language subcorpora have
    * the same length distribution?" — the distribution-free sibling of
    * lang_source_chi2 (counts) and seasonality_anova (means), and the
    * test of record when lengths are heavy-tailed enough that the
    * F-test's normality assumption is junk (they always are).
    *
    * Exactness: tie-averaged ranks live in ×2 integer space (avg rank
    * of a tie run of t starting after c values is (2c + t + 1)/2, so
    * 2·rank is the exact long 2c + t + 1); per-language rank sums stay
    * long, their squares widen to DECIMAL(38,0) before the one double
    * divide per language, and the language terms sum exactly. H = 12/(N(N+1))·ΣR²_h/n_h − 3(N+1),
    * tie-corrected by C = 1 − Σ(t³−t)/(N³−N). Scale: the rank sweep is
    * [[Ranks.withGlobalCumSum]]'s two-pass range-partitioned machinery
    * over the DISTINCT-length frame (value-bounded, never a data-sized
    * single-task window); everything after is (lang × length)-bounded. */
  def kruskalWallis(docs: DataFrame): DataFrame = {
    val vals = docs.groupBy("n_chars").agg(count(lit(1)).as("t"))
    val swept = Ranks.withGlobalCumSum(vals, "t", "cum_t", "n_total",
      Seq(col("n_chars")))
      .select(col("n_chars"), col("t"), col("n_total"),
        (lit(2L) * col("cum_t") - col("t") + 1L).as("r2"))
    val perLang = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("n_lv"))
      .join(swept, "n_chars")
      .groupBy("lang")
      .agg(sum(col("n_lv")).as("n_h"),
        sum(col("n_lv") * col("r2")).as("rr2"),
        max(col("n_total")).as("n_total"))
    val sFold = perLang
      .select(col("n_total"), ((col("rr2").cast("decimal(38,0)") * col("rr2")).cast("double")
        / (lit(4.0) * col("n_h"))).as("term"))
      .groupBy("n_total")
      .agg(count(lit(1)).as("n_groups"), Folds.exactSum(col("term")).as("s_sum"))
    val ties = vals.filter(col("t") > 1L)
      .agg(coalesce(sum(col("t").cast("decimal(38,0)") * col("t") * col("t")
        - col("t")), lit(0L).cast("decimal(38,0)")).as("tie_term"))
    val n = col("n_total").cast("double")
    sFold.crossJoin(broadcast(ties))
      .withColumn("h_stat", lit(12.0) / (n * (n + 1.0)) * col("s_sum")
        - lit(3.0) * (n + 1.0))
      .withColumn("c_corr", lit(1.0) - col("tie_term").cast("double")
        / (n * n * n - n))
      .select(col("n_total").as("n_docs"), col("n_groups"),
        (col("n_groups") - 1L).as("df"),
        round(col("h_stat"), 6).as("h_stat"),
        round(when(col("c_corr") > 0.0, col("h_stat") / col("c_corr")), 6)
          .as("h_corrected"))
  }
  /** Gini coefficient of the token frequency distribution (B259): how
    * unequally the corpus's token mass is spread over its vocabulary —
    * the single-number companion to [[zipfSlope]]'s power-law fit and
    * renyi_efficiency's entropy view (Gini ≈ 1: a few tokens carry
    * everything; ≈ 0: uniform). Same rank formula and exact-integer
    * discipline as spend_gini (C81), but over the DATA-SIZED vocabulary,
    * so the rank comes from Ranks' two-pass range-partitioned machinery,
    * never a single-task global sort. */
  def vocabGini(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    Ranks.withGlobalRowNumber(counts, "i", "_n", Seq(col("c"), col("token")))
      .select(col("c"), col("i").cast("long").as("i"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("total_tokens"),
        sum(col("i").cast("decimal(38,0)") * col("c")).as("rank_sum"))
      .select(col("n_types"), col("total_tokens"),
        round(
          lit(2.0) * col("rank_sum").cast("double")
            / (col("n_types").cast("double") * col("total_tokens"))
            - (col("n_types") + 1).cast("double") / col("n_types"), 6)
          .as("gini"))
  }

  /** Cross-document "slop phrase" census (B269): the top-k `n`-gram
    * phrases ranked by DOCUMENT SPREAD (then occurrence count) among
    * phrases appearing in ≥ 2 docs — the readable census of what
    * boilerplate/cliché actually dominates a corpus, upstream of
    * [[lineFreqFilter]]'s removal decision (that op DROPS windows past a
    * threshold; this one shows a ranked list a human reviews to SET the
    * threshold). One exploded-gram pass with map-side partial counts;
    * the top-k is a TakeOrdered heap, never a phrase-table sort. */
  def slopPhrases(docs: DataFrame, n: Int = 5, k: Int = 20): DataFrame = {
    val grams = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))"))
        .as("phrase"))
    val top = grams.groupBy("phrase")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("phrase"))
      .limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("phrase")))
        .cast("long"))
      .select("rank", "phrase", "n_docs", "n_occurrences")
  }

  /** Pairwise source win-rate matrix (B260): for every (lang, src_a,
    * src_b) pair, how often src_a's top-k documents beat src_b's on the
    * composite quality score — the head-to-head readout BEHIND
    * bradley_terry's fitted strengths (BT compresses these counts into
    * one scalar per source; this is the raw matrix a data-mixing review
    * actually reads, where intransitivities BT smooths over are
    * visible). Representatives are each (lang, source)'s top-k by
    * (quality desc, doc_id) through the TopKPerKey heap, so the pair
    * join is (langs * sources * k)^2-bounded regardless of corpus size —
    * never corpus x corpus. Ties in quality count for neither side. */
  def pairwiseWinMatrix(docs: DataFrame, k: Int = 10): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"), col("source"),
      qualityComposite.as("q"))
    val top = graft.plans.TopK.topKPerKey(scored, Seq("lang", "source"),
      Seq("q" -> false, "doc_id" -> true), k)
    val a = top.select(col("lang"), col("source").as("src_a"), col("q").as("q_a"))
    val b = top.select(col("lang"), col("source").as("src_b"), col("q").as("q_b"))
    a.join(b, Seq("lang"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("lang", "src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("q_a") > col("q_b"), 1L).otherwise(0L)).as("wins_a"),
        sum(when(col("q_b") > col("q_a"), 1L).otherwise(0L)).as("wins_b"))
      .withColumn("win_rate_a",
        round(col("wins_a").cast("double") / col("n_pairs"), 6))
  }

  /** Sinkhorn-Knopp matrix balancing over the lang × source count grid
    * (B304): 5 alternating row/column normalizations push the document-
    * count matrix toward doubly-stochastic — the balanced-mixture
    * targeting step ("every language AND every source gets equal
    * share") that one-axis temperature reweighting (B160/B47) cannot
    * express, and the entropic-OT workhorse in its simplest form.
    *
    * A non-square grid cannot be doubly-stochastic (row sums 1 and col
    * sums 1 imply total = b AND total = k), so the consistent uniform
    * targets are row marginal 1/b and column marginal 1/k — the matrix
    * converges to total mass 1 with every language holding an equal
    * 1/b share and every source an equal 1/k share.
    *
    * Every frame is (langs × sources)-bounded, so iterations are
    * broadcast joins against marginal-sum frames; each divide rounds to
    * 9 dp and each marginal is an exact sum, making all 5 rounds
    * bit-replayable in SQL. Output keeps the raw count next to the
    * balanced weight so the sampler can derive per-cell rates. */
  def sinkhornBalance(docs: DataFrame, iters: Int = 5): DataFrame = {
    // localCheckpoint discipline (the repo's "never leave an iterative
    // self-referencing plan unpinned" rule, topic_coherence/token_hits
    // precedent): each iteration references `w` twice (marginal agg +
    // join) and `rowNorm` twice, so an unpinned loop re-executes the
    // base corpus aggregation ~4^iters times (r18: 121 jobs, 93.6 s for
    // a ≤(langs×sources)-cell matrix). Every pinned frame is
    // cell-grid-bounded, so the checkpoints are O(cells) local writes;
    // the corpus aggregates exactly once, ever.
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
      .transform(CacheTracker.pin)
    val dims = broadcast(cells
      .agg(count_distinct(col("lang")).as("b"),
        count_distinct(col("source")).as("k")))
    var w = cells.crossJoin(dims)
      .select(col("lang"), col("source"), col("n_docs"), col("b"), col("k"),
        col("n_docs").cast("double").as("w"))
    for (_ <- 1 to iters) {
      val rs = w.groupBy("lang")
        .agg(round(Folds.exactSum(col("w")), 9).as("rs"))
      val rowNorm = w.join(broadcast(rs), "lang")
        .select(col("lang"), col("source"), col("n_docs"), col("b"), col("k"),
          round(col("w") / col("rs") / col("b"), 9).as("w"))
        .transform(CacheTracker.pin)
      val cs = rowNorm.groupBy("source")
        .agg(round(Folds.exactSum(col("w")), 9).as("cs"))
      w = rowNorm.join(broadcast(cs), "source")
        .select(col("lang"), col("source"), col("n_docs"), col("b"), col("k"),
          round(col("w") / col("cs") / col("k"), 9).as("w"))
        .transform(CacheTracker.pin)
    }
    w.select(col("lang"), col("source"), col("n_docs"),
      round(col("w"), 6).as("balanced_w"))
  }

  /** Wasserstein-1 length drift per language (B305): earth-mover's
    * distance between each language's bucketed doc-length distribution
    * and the corpus's, in bucket units — the integral companion to
    * [[ksSourceDrift]]'s supremum (KS sees the worst point, W1 sees the
    * total transported mass; a long thin drift is invisible to KS and
    * obvious to W1).
    *
    * Same bounded-grid discipline as the KS operator: lengths truncate
    * into ≤`maxBucket`+1 buckets, ECDFs are exact-integer window
    * cumsums over the (langs × buckets) grid divided once and rounded
    * 9 dp, and the per-lang sum of |ΔF| is exact. Nothing is
    * corpus-sized after the first aggregation. */
  def wassersteinLength(docs: DataFrame, bucketWidth: Int = 100,
                        maxBucket: Int = 100): DataFrame = {
    val b = docs.select(col("lang"),
      least(expr(s"n_chars div $bucketWidth"), lit(maxBucket.toLong)).as("bucket"))
    val cnt = b.groupBy("lang", "bucket").agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy("lang").agg(sum(col("c")).as("n_l"))
    val corp = cnt.groupBy("bucket").agg(sum(col("c")).as("c_all"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wc = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val corpEcdf = corp
      .withColumn("cum_all", sum(col("c_all")).over(wc))
      .crossJoin(broadcast(corp.agg(sum(col("c_all")).as("n_all"))))
      .select(col("bucket"),
        round(col("cum_all").cast("double") / col("n_all"), 9).as("f_all"))
    val grid = cnt.select("lang").distinct()
      .crossJoin(cnt.select("bucket").distinct())
    grid.join(cnt, Seq("lang", "bucket"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(wl))
      .join(broadcast(totals), "lang")
      .withColumn("f_l", round(col("cum").cast("double") / col("n_l"), 9))
      .join(broadcast(corpEcdf), "bucket")
      .withColumn("term", round(abs(col("f_l") - col("f_all")), 9))
      .groupBy("lang")
      .agg(max(col("n_l")).as("n_docs"),
        round(Folds.exactSum(col("term")), 6).as("w1_buckets"))
      .withColumn("bucket_width", lit(bucketWidth.toLong))
  }

  /** Friedman test over the lang-blocked source-quality design (B306):
    * are sources consistently ordered by mean quality ACROSS languages?
    * Kruskal-Wallis (C138 family) pools all docs; Friedman blocks by
    * language first — each language ranks its sources by cell mean
    * quality (average ranks on ties), so one dominant language cannot
    * fake a global source ordering. Incomplete treatments (a source
    * absent from some language) are dropped to keep the design
    * complete-block, and the tie-corrected statistic divides out
    * within-block rank ties.
    *
    * Cell means divide exact sums ([[Folds.exactSum]]) re-rounded to
    * 6 dp; everything after
    * is (langs × sources)-bounded.
    * Rank sums are exact multiples of 0.5, so Σ R_j² is exact and the
    * statistic's only float work is the mirrored final expression. */
  def friedmanTest(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("lang"), col("source"), qualityComposite.as("q"))
    val cellMeans = scored.groupBy("lang", "source")
      .agg(round(round(Folds.exactSum(col("q")), 6) / count(lit(1)), 6).as("mean_q"))
    val nLangs = cellMeans.select("lang").distinct()
      .agg(count(lit(1)).as("b"))
    val complete = cellMeans.groupBy("source")
      .agg(count(lit(1)).as("n_blocks"))
      .crossJoin(broadcast(nLangs))
      .filter(col("n_blocks") === col("b"))
      .select("source")
    val kept = cellMeans.join(broadcast(complete), "source")
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("mean_q").desc)
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "mean_q")
    val ranked = kept
      .withColumn("min_rank", rank().over(wR))
      .withColumn("ties", count(lit(1)).over(wT))
      .withColumn("avg_rank",
        col("min_rank").cast("double") + (col("ties") - 1L) / lit(2.0))
    val rj = ranked.groupBy("source")
      .agg(sum(col("avg_rank")).as("r_j"), count(lit(1)).as("b"))
    val tieTerm = ranked.select(col("lang"), col("mean_q"), col("ties"))
      .distinct()
      .agg(coalesce(sum(col("ties") * col("ties") * col("ties") - col("ties")),
        lit(0L)).as("tie_sum"))
    rj.agg(count(lit(1)).as("k"), max(col("b")).as("b"),
        sum(col("r_j") * col("r_j")).as("r2_sum"))
      .crossJoin(broadcast(tieTerm))
      .filter(col("k") >= 2)
      .withColumn("chi2_raw",
        lit(12.0) / (col("b") * col("k") * (col("k") + 1L)) * col("r2_sum")
          - lit(3.0) * col("b") * (col("k") + 1L))
      .withColumn("c_corr",
        lit(1.0) - col("tie_sum").cast("double")
          / (col("b") * col("k") * (col("k") * col("k") - 1L)))
      .select(col("b").as("b_blocks"), col("k").as("k_treatments"),
        (col("k") - 1L).as("df"),
        round(col("chi2_raw"), 6).as("chi2_f"),
        // every block fully tied -> correction degenerates to 0/0; NULL
        round(when(col("c_corr") > 0.0, col("chi2_raw") / col("c_corr")), 6)
          .as("chi2_corrected"))
  }

  /** Single-pass audit counters via `Dataset.observe` (C269): the
    * CollectMetrics side-channel — aggregates computed on the rows
    * FLOWING THROUGH a pipeline, not by a second scan. At 100 TB this
    * is the difference between "write the curated shard AND its audit
    * counters in one pass" and paying the corpus read twice; here the
    * driven action is a count so the query surface stays bounded, but
    * the observe node rides any terminal sink unchanged.
    *
    * All metrics are exact integer aggregates (plus one final divide),
    * so the side-channel is bit-reproducible and DuckDB replays it as
    * plain SQL. The blocking `Observation.get` handshake is the public
    * API over the listener bus — no driver-side row iteration. */
  def observedMetrics(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (gated, obs) = graft.Graft.observed(docs,
      "n_docs" -> count(lit(1)),
      "n_pass_len" -> sum(when(length(col("text")) >= 20, 1L).otherwise(0L)),
      "tot_chars" -> sum(col("n_chars")),
      "max_chars" -> max(col("n_chars")))
    gated.count()
    val m = obs.get
    // sums/max are NULL on an empty corpus; the audit row still exists
    def l(k: String): Long = m(k) match { case x: Long => x; case _ => 0L }
    Seq((l("n_docs"), l("n_pass_len"), l("tot_chars"), l("max_chars")))
      .toDF("n_docs", "n_pass_len", "tot_chars", "max_chars")
      // ratio through the engine's own round, not driver math, so the
      // 6 dp digits match the oracle's round() bit-for-bit
      .withColumn("pass_ratio",
        when(col("n_docs") > 0,
          round(col("n_pass_len").cast("double") / col("n_docs"), 6))
          .otherwise(lit(0.0)))
  }

  /** Per-document lexical-richness panel (B300): TTR, Yule's K, Honoré's
    * R and Sichel's S from the token-frequency spectrum — the classic
    * vocabulary-diversity statistics a corpus-quality pass computes per
    * document (template/spam text scores high K, low R).
    *
    * All four derive from integer aggregates of the (doc, token, m)
    * frequency frame — N = Σm, V, V1 (hapax), V2 (dis), Σm² — so the
    * only floats are final single divides, bit-identical in both
    * engines. Honoré's R = 100·ln N / (1 − V1/V) is NULL where
    * undefined (V1 = V, every token a hapax); zero-token docs keep a
    * row with zeroed stats. Cost: one (doc,token) partial-agg shuffle
    * + one doc-keyed partial agg + one co-partitioned join back to the
    * corpus — no data-sized window, no driver state. */
  def lexicalRichness(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("m"))
    val spectrum = tf.groupBy("doc_id").agg(
      sum(col("m")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("m") === 1, 1L).otherwise(0L)).as("v1_hapax"),
      sum(when(col("m") === 2, 1L).otherwise(0L)).as("v2_dis"),
      sum(col("m") * col("m")).as("m2_sum"))
    docs.select(col("doc_id"))
      .join(spectrum, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        coalesce(col("v1_hapax"), lit(0L)).as("v1_hapax"),
        coalesce(col("v2_dis"), lit(0L)).as("v2_dis"),
        when(col("n_tokens") > 0,
          round(col("vocab").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("ttr"),
        when(col("n_tokens") > 0,
          round(lit(10000.0) * (col("m2_sum") - col("n_tokens"))
            / (col("n_tokens") * col("n_tokens")), 6))
          .otherwise(lit(0.0)).as("yule_k"),
        when(col("n_tokens") > 0 && col("v1_hapax") < col("vocab"),
          round(lit(100.0) * log(col("n_tokens").cast("double"))
            / (lit(1.0) - col("v1_hapax").cast("double") / col("vocab")), 6))
          .otherwise(lit(null).cast("double")).as("honore_r"),
        when(col("vocab") > 0,
          round(col("v2_dis").cast("double") / col("vocab"), 6))
          .otherwise(lit(0.0)).as("sichel_s"))
  }

  /** Moving-average type-token ratio (B301): mean distinct-token share
    * over every length-`w` sliding window of the token sequence — the
    * length-invariant diversity measure (plain TTR falls with doc
    * length, MATTR does not), used to flag loops/boilerplate that only
    * repeat at window scale.
    *
    * Shape: each token joins only its ≤w covering windows via an
    * exploded position range (intermediate is N·w rows, w = 25 — linear
    * in the corpus, never quadratic), then one (doc, window) exact
    * distinct count and one doc-keyed fold. Per-window TTRs round to
    * 9 dp before the doc-bounded exact-sum mean, so partitioning
    * never shows in the result. Docs shorter than `w` are excluded (no
    * full window exists; their plain TTR is in [[lexicalRichness]]). */
  def mattr(docs: DataFrame, w: Int = 25): DataFrame = {
    val toked = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= w)
    val pos = toked
      .select(col("doc_id"), col("n"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .withColumn("i", col("p0").cast("long") + 1L)
    val cover = pos.select(col("doc_id"), col("tok"),
      explode(sequence(
        greatest(lit(1L), col("i") - (w - 1)),
        least(col("i"), col("n") - (w - 1)))).as("s"))
    val perWin = cover.groupBy("doc_id", "s")
      .agg(count_distinct(col("tok")).as("dct"))
      .withColumn("ttr_w", round(col("dct").cast("double") / w, 9))
    val perDoc = perWin.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        round(Folds.exactSum(col("ttr_w")), 9).as("sum_ttr"))
    perDoc
      .join(toked.select(col("doc_id"), col("n").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("vocab")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        round(col("sum_ttr") / col("n_windows"), 6).as("mattr"),
        round(col("vocab").cast("double") / col("n_tokens"), 6).as("ttr"))
  }
}
