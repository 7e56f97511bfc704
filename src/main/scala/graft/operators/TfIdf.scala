package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF / DF / IDF / TF-IDF statistics and feature selection as declarative
  * DataFrame aggregations.
  *
  * The reference computes these through ml.HashingTF + ml.IDF
  * (reference Spark/NB/src/main/scala/NB.scala:74-80, minDocFreq variant
  * Modified_NB.scala:76) and, Hadoop-side, through four chained MapReduce
  * jobs (reference Hadoop/Modified_NB.java:49-327). Here they are plain
  * groupBy aggregations: Catalyst gives map-side partial aggregation for
  * free, so DF/IDF is one shuffle on the token key — the same
  * communication pattern the Hadoop jobs hand-roll, minus the
  * intermediate HDFS materializations.
  *
  * IDF uses Spark ml's smoothed formula ln((N+1)/(df+1)) (public ml.IDF
  * doc), rounded to 6 dp so the DuckDB oracle hash-matches.
  */
object TfIdf {

  /** (doc_id, token, tf) — term frequency (A7). */
  def termFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))

  /** (token, df) — document frequency (A8). */
  def docFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))

  /** (token, df, idf) with Spark's smoothed IDF; minDocFreq filters tokens
    * appearing in fewer documents (A9, A10; Modified_NB.scala:76 uses 5). */
  def idf(docs: DataFrame, minDocFreq: Int = 0): DataFrame = {
    val n = docs.select(count(lit(1)).as("n_docs"))
    docFreq(docs)
      .filter(col("df") >= minDocFreq)
      .crossJoin(broadcast(n))
      .select(
        col("token"), col("df"),
        round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("idf"))
  }

  /** (doc_id, token, tf, tfidf) (A11). Join on token: the IDF side is tiny
    * (bounded vocabulary) so it is broadcast — no shuffle of the corpus.
    *
    * The IDF side derives its df from the SAME termFreq aggregate the TF
    * side uses (termFreq has exactly one row per (doc, token), so
    * count-per-token over it IS document frequency — identical value by
    * construction), not from a second [[docFreq]] pass: both branches
    * share the termFreq subtree up to its (doc_id, token) exchange, which
    * ReuseExchange unifies, so the corpus clean+tokenize+explode chain —
    * the most expensive per-row expression in the engine — runs ONCE per
    * tfidf consumer instead of twice (guide §2.4). n_docs stays a raw
    * parquet count (column-pruned scan, no tokenize). */
  def tfidf(docs: DataFrame, minDocFreq: Int = 0): DataFrame = {
    val tf = termFreq(docs)
    val n = docs.select(count(lit(1)).as("n_docs"))
    // the tf >= 1 filter is a tautology (count(1) of a group is ≥ 1) whose
    // only job is to keep `tf` REFERENCED on this branch: without it,
    // column pruning rewrites this subtree's termFreq aggregate into a
    // plain distinct, the two Exchange subtrees stop being canonically
    // identical, and exchange reuse cannot fire — re-tokenizing the corpus
    val idfFromTf = tf.filter(col("tf") >= 1).groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
      .crossJoin(broadcast(n))
      .select(
        col("token"), col("df"),
        round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("idf"))
    tf.join(broadcast(idfFromTf), "token")
      .select(
        col("doc_id"), col("token"), col("tf"),
        round(col("tf") * col("idf"), 6).as("tfidf"))
  }

  /** Per-document top-75%-by-TF-IDF feature selection (A17), the Spark-first
    * restatement of the Hadoop job chain in reference
    * Hadoop/Modified_NB.java:257-310 (keeps each doc's highest-scoring 75%
    * of tokens). Deterministic tie-break on token name. */
  def featureSelectTop(docs: DataFrame, keep: Double = 0.75): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    tfidf(docs)
      .withColumn("rk", row_number().over(w))
      .withColumn("n_tok", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rk") <= ceil(col("n_tok") * keep))
      .select("doc_id", "token", "tf", "tfidf")
  }

  /** Chi-square (token, class) association (B84) — the statistical
    * feature selector next to the reference's TF-IDF-rank heuristic
    * (Hadoop/Modified_NB.java:257-310 keeps top-75% by score; chi² is
    * what a library user reaches for instead): for each token and
    * language, the 2×2 presence contingency
    * A = docs of the class containing the token, B = other docs
    * containing it, C/D = the complements, and
    * chi² = N·(AD−BC)² / ((A+B)(C+D)(A+C)(B+D)).
    *
    * All margins are exact longs off one (token, lang) aggregate; the
    * cross term casts to double BEFORE squaring (AD−BC fits a long at
    * any N, but its square does not), and the product order matches the
    * oracle. Class and vocabulary frames are tiny and broadcast; the
    * corpus shuffles once to the distinct (doc, token) frame. Tokens
    * below minDf are dropped — chi² is meaningless on 1-doc evidence —
    * and so are tokens in EVERY document (df = N zeroes the (C+D)
    * margin: no variation, chi² undefined, and the division would
    * fault). */
  def chi2Features(docs: DataFrame, minDf: Int = 5): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
    val a = d.groupBy("token", "lang").agg(count(lit(1)).as("a"))
    val df_ = d.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val langN = docs.groupBy("lang").agg(count(lit(1)).as("lang_n"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    a.join(broadcast(df_), "token")
      .join(broadcast(langN), "lang")
      .crossJoin(broadcast(n))
      .filter(col("df") < col("n_docs"))
      .select(col("token"), col("lang"), col("a"), col("df"),
        (col("df") - col("a")).as("b"),
        (col("lang_n") - col("a")).as("c"),
        (col("n_docs") - col("df") - col("lang_n") + col("a")).as("d"),
        col("lang_n"), col("n_docs"))
      .select(col("token"), col("lang"), col("a"), col("df"),
        round(
          col("n_docs").cast("double")
            * pow((col("a") * col("d") - col("b") * col("c")).cast("double"), 2.0)
            / (col("df").cast("double") * (col("n_docs") - col("df"))
              * col("lang_n") * (col("n_docs") - col("lang_n"))), 6).as("chi2"))
  }

  /** Mutual information (token, class) association (B219): the
    * information-theoretic sibling of [[chi2Features]] — for each token
    * and language, the MI (in nats) between the two binary variables
    * "document contains the token" and "document is in the class",
    * summed over the same 2×2 presence contingency (A/B/C/D margins):
    * MI = Σ_cell (n_cell/N)·ln(N·n_cell / (row·col)), zero cells
    * contributing zero. Chi² over-weights rare-token flukes; MI ranks by
    * actual information carried, which is why feature-selection stacks
    * run both.
    *
    * Same single (token, lang) aggregate and exact long margins as
    * chi2Features; the four cell terms are summed in one fixed
    * fused-expression order (A, B, C, D) and rounded ONCE at 6 dp, so
    * the oracle's left-associated double chain is bit-identical. Tokens
    * below minDf and tokens in every document are dropped for the same
    * degeneracy reasons as chi². */
  def mutualInfoFeatures(docs: DataFrame, minDf: Int = 5): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
    val a = d.groupBy("token", "lang").agg(count(lit(1)).as("a"))
    val df_ = d.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val langN = docs.groupBy("lang").agg(count(lit(1)).as("lang_n"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    def term(cell: Column, row: Column, colM: Column) =
      when(cell > 0L,
        cell.cast("double") / col("n_docs")
          * log(col("n_docs").cast("double") * cell / (row.cast("double") * colM)))
        .otherwise(lit(0.0))
    a.join(broadcast(df_), "token")
      .join(broadcast(langN), "lang")
      .crossJoin(broadcast(n))
      .filter(col("df") < col("n_docs"))
      .select(col("token"), col("lang"), col("a"), col("df"),
        (col("df") - col("a")).as("b"),
        (col("lang_n") - col("a")).as("c"),
        (col("n_docs") - col("df") - col("lang_n") + col("a")).as("d"),
        col("lang_n"), col("n_docs"))
      .select(col("token"), col("lang"), col("a"), col("df"),
        round(
          term(col("a"), col("df"), col("lang_n"))
            + term(col("b"), col("df"), col("n_docs") - col("lang_n"))
            + term(col("c"), col("n_docs") - col("df"), col("lang_n"))
            + term(col("d"), col("n_docs") - col("df"), col("n_docs") - col("lang_n")),
          6).as("mi"))
  }

  /** Best decision stumps by Gini impurity (B230): for each candidate
    * token, the weighted Gini of splitting the corpus on token PRESENCE
    * against the language label — the single-feature tree learner whose
    * top splits are what a GBDT's first iteration would pick, next to
    * [[chi2Features]]/[[mutualInfoFeatures]] on the same margins. The
    * weighted impurity reduces to the exact-integer algebra
    * 1 − A/(n1·N) − B/(n0·N) with A = Σ_c a_c², B = Σ_c (n_c − a_c)²
    * expanded as L2 − 2S + A (L2 = Σ n_c², S = Σ n_c·a_c), so both
    * engines evaluate ONE fixed-order double expression over exact longs
    * — no per-class fold ordering at all. Lowest impurity = best split;
    * top-`k` through a TakeOrdered heap. */
  def giniStump(docs: DataFrame, minDf: Int = 5, k: Int = 10): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
    val a = d.groupBy("token", "lang").agg(count(lit(1)).as("a"))
    val langN = docs.groupBy("lang").agg(count(lit(1)).as("lang_n"))
    val consts = langN.agg(
      sum(col("lang_n")).as("n_docs"),
      // squares widen BEFORE the product: class counts at corpus scale
      // overflow a long when squared
      sum(col("lang_n").cast("decimal(38,0)") * col("lang_n")).as("l2"))
    val perTok = a.join(broadcast(langN), "lang")
      .groupBy("token")
      .agg(sum(col("a")).as("n1"),
        sum(col("a").cast("decimal(38,0)") * col("a")).as("aa"),
        sum(col("lang_n").cast("decimal(38,0)") * col("a")).as("s"))
      .filter(col("n1") >= minDf)
    perTok.crossJoin(broadcast(consts))
      .filter(col("n1") < col("n_docs"))
      .select(col("token"), col("n1").as("df"),
        round(lit(1.0)
          - col("aa").cast("double") / (col("n1").cast("double") * col("n_docs"))
          - (col("l2") - lit(2) * col("s") + col("aa")).cast("double")
            / ((col("n_docs") - col("n1")).cast("double") * col("n_docs")), 6)
          .as("gini"))
      .orderBy(col("gini").asc, col("token")).limit(k)
  }

  /** Top-k keyword extraction per document by TF-IDF (B77): the
    * classic "what is this document about" summarizer. Runs through the
    * custom TopKPerKey heap operator — per-doc candidate pruning in the
    * partial phase, so no full per-document sort materializes — then an
    * exact row_number over the pruned (≤k per doc) frame assigns ranks.
    * Ties break on token name, so ranks are deterministic. */
  def keywordExtract(docs: DataFrame, k: Int = 5): DataFrame = {
    val scored = tfidf(docs)
    val pruned = graft.plans.TopK.topKPerKey(
      scored, Seq("doc_id"), Seq("tfidf" -> false, "token" -> true), k)
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "token", "tfidf")
  }

  /** RAKE keyphrase extraction (B201, Rose et al. 2010): the classic
    * stopword-delimited co-occurrence scorer — the phrase-level
    * complement to [[keywordExtract]]'s single-token TF-IDF. Candidate
    * phrases are maximal stopword-free token runs (capped at
    * `maxPhraseLen` tokens); each word scores deg(w)/freq(w) where
    * freq counts the word's phrase memberships and deg sums the lengths
    * of the phrases containing it; a phrase scores the sum of its
    * words' scores (9 dp-rounded word scores, 6 dp-rounded sorted
    * fold). The global top-`k` by (score desc, phrase asc) returns
    * through a TakeOrdered heap — never a full sort.
    *
    * Scale: the phrase segmentation is a per-doc window over the
    * token-position frame (one doc_id shuffle); word stats are
    * vocab-bounded; the phrase-text aggregate shuffles on the phrase
    * key. Nothing is driver-sized except the k-row result. */
  def rakeKeyphrases(docs: DataFrame, maxPhraseLen: Int = 4, k: Int = 15): DataFrame = {
    val wPos = Window.partitionBy("doc_id").orderBy("pos")
    val toked = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
      .withColumn("is_stop", col("token").isInCollection(TextOps.Stopwords))
      .withColumn("grp",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wPos))
    val members = toked.filter(!col("is_stop"))
      .select(col("doc_id"), col("grp"), col("pos"), col("token"))
    val phrases = members.groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("plen"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          s => s.getField("token")), " ").as("phrase"))
      .filter(col("plen") <= maxPhraseLen)
    val wordStats = members
      .join(phrases.select(col("doc_id"), col("grp"), col("plen")), Seq("doc_id", "grp"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("token"),
        round(col("deg").cast("double") / col("freq"), 9).as("wscore"))
    val phraseScores = members
      .join(phrases.select(col("doc_id"), col("grp"), col("plen"), col("phrase")),
        Seq("doc_id", "grp"))
      .join(wordStats, "token")
      .groupBy(col("doc_id"), col("grp"), col("phrase"), col("plen"))
      .agg(round(Folds.exactSum(col("wscore")), 6).as("score"))
    phraseScores
      .select(col("phrase"), col("plen").as("n_words"), col("score"))
      .groupBy("phrase", "n_words", "score")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
      .select("phrase", "n_words", "n_occurrences", "score")
  }

  /** Bucketed term frequency (A7b): one row per document and non-empty
    * bucket of ml.HashingTF(numFeatures) (NB.scala:74) over the
    * document's [[TextOps.tokens]], with the bucket's token count. The
    * buckets are HashingTF's own (`indexOf`: murmur3 `hashUnsafeBytes2`,
    * seed 42), read off [[TextOps.termCounts]]' vector, so the query is
    * narrow: no shuffle. The fixed width bounds state at any corpus size.
    * Not DuckDB-expressible (DuckDB has no murmur3) — covered by
    * ScalaTest instead. */
  def hashingTf(docs: DataFrame, numFeatures: Int = 1 << 18): DataFrame =
    docs.select(col("doc_id"), TextOps.termCounts(col("text"), numFeatures, asStruct = true).as("v"))
      .select(col("doc_id"), explode(arrays_zip(col("v.indices"), col("v.values"))).as("e"))
      .select(col("doc_id"), col("e.indices").as("bucket"), col("e.values").cast("long").as("tf"))

  /** Feature-hashing doc embedding (B127): the hashing-trick projection
    * of each document's sparse TF-IDF vector into a dense `dims`-wide
    * embedding — v_d = Σ_t tfidf(t) · sign(md5(t ":" d)) — fixed-width
    * document vectors with NO trained model and NO vocabulary table
    * (sign-random projection; Johnson–Lindenstrauss says dot products
    * survive). The bridge between the text side and the embedding-side
    * operators (ANN, clustering, dedup) when no neural encoder exists.
    *
    * The sign is a pure md5 function of (token, dim): reproducible on
    * any engine, including the oracle. ONE md5 per token row — sign d
    * is the parity of hex digit d of md5(token) (dims ≤ 32), so the
    * dims explosion multiplies only a cheap substring, not the hash.
    * Per-(doc, dim) contributions are summed EXACTLY in BIGINT
    * nano-units — order-independent (so bit-stable under any
    * partitioning, like the sorted fold it replaced), allocation-free
    * on the dims-multiplied stream, and a plain codegen'd long sum, so
    * map-side partial aggregation collapses the exploded rows to
    * (doc, dim) partials BEFORE the shuffle (the sorted fold shipped
    * every exploded value across it). tfidf is 6 dp-rounded, so the
    * formula's round(±tfidf, 9) is a numeric no-op: nanos = tfidf·1e9
    * is EXACT (an integer ≪ 2^53 hit exactly by one double multiply),
    * the parity test on the stream is a 1-char compare against the
    * md5's translate'd parity string (digit even -> '0' -> +1), and
    * the 6 dp HALF_UP round happens in integer space ((s ± 500) div
    * 1000, div truncates toward zero) before ONE exact double divide. */
  def docEmbedHash(docs: DataFrame, dims: Int = 16): DataFrame =
    docEmbedHashFromTfidf(tfidf(docs), dims)

  /** [[docEmbedHash]] over a pre-computed (doc_id, token, tfidf) frame —
    * the shared-scan entry for consumers that also aggregate the tfidf
    * frame directly ([[topicLabels]]), so the two-shuffle tfidf pipeline
    * is built (and optionally persisted) once. */
  private[graft] def docEmbedHashFromTfidf(tf: DataFrame, dims: Int): DataFrame = {
    require(dims <= 32, "sign bits come from the 32 hex digits of one md5")
    tf
      .select(col("doc_id"),
        round(col("tfidf") * lit(1e9)).cast("long").as("tfn"),
        translate(substring(md5(col("token")), 1, dims),
          "0123456789abcdef", "0101010101010101").as("par"),
        explode(sequence(lit(1), lit(dims))).as("dim0"))
      .select(col("doc_id"), col("dim0").cast("long").as("dim"),
        when(expr("substring(par, dim0, 1)") === "0", col("tfn"))
          .otherwise(-col("tfn")).as("c"))
      .groupBy("doc_id", "dim")
      .agg((expr("(sum(c) + if(sum(c) >= 0, 500L, -500L)) div 1000")
        .cast("double") / lit(1e6)).as("v"))
  }

  /** Topic-cluster labeling (B140): bucket documents by the sign pattern
    * of the first `signDims` dims of [[docEmbedHash]]'s hashed embedding
    * (the same sign-LSH coarse clustering the ANN / semantic-dedup
    * family uses), then label each bucket with its top-`k` tokens by
    * summed TF-IDF mass — the "what is this cluster about" report that
    * follows any clustering pass over a corpus.
    *
    * Scale: the bucket map is one doc-bounded aggregation (signDims rows
    * per doc); token mass is an exact nano-unit long sum with map-side
    * partial aggregation (the (bucket, token) posting grows with the
    * corpus, but only partials cross the shuffle); top-k rides
    * TopKPerKey's bounded per-key heaps, so no vocab-sized sort or
    * window exists anywhere in the plan. */
  def topicLabels(docs: DataFrame, signDims: Int = 4, k: Int = 5): DataFrame = {
    // ONE persisted tfidf frame feeds both the bucket embedding and the
    // token-mass aggregate (each previously rebuilt the two-shuffle
    // pipeline); and only the signDims bucket dims are embedded — the
    // dim filter cannot push below the dims-explode generator, so
    // computing 16 and filtering to 4 did 4x the exploded work
    val tf = CacheTracker.cache(tfidf(docs))
    val buckets = docEmbedHashFromTfidf(tf, signDims)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("dim"),
        when(col("v") >= 0, "1").otherwise("0").as("bit")))).as("bits"))
      .select(col("doc_id"),
        array_join(transform(col("bits"), b => b.getField("bit")), "").as("bucket"))
    // token mass in exact BIGINT nano-units (tfidf is 6 dp-rounded, so
    // tfidf·1e9 is an exact integer ≪ 2^53): one codegen'd long sum with
    // map-side partial aggregation replaces the two-level sorted fold,
    // whose collect_list shipped every (bucket, token) contribution
    // through the shuffle; 6 dp HALF_UP happens in integer space
    val mass = tf.join(buckets, "doc_id")
      .select(col("bucket"), col("token"),
        round(col("tfidf") * lit(1e9)).cast("long").as("tfn"))
      .groupBy("bucket", "token")
      .agg((expr("(sum(tfn) + if(sum(tfn) >= 0, 500L, -500L)) div 1000")
        .cast("double") / lit(1e6)).as("score"))
    val pruned = graft.plans.TopK.topKPerKey(mass, Seq("bucket"),
      Seq("score" -> false, "token" -> true), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("score").desc, col("token"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("bucket", "token", "rnk", "score")
  }

  /** UMass topic coherence over [[topicLabels]]' top-k terms (B176):
    * for each topic, Σ over rank-ordered pairs (w_i, w_j), i < j, of
    * ln((D(w_i,w_j)+1)/D(w_j)) — the intrinsic "do these terms actually
    * co-occur" score that separates real topics from hash-bucket noise
    * (Mimno et al. 2011). The candidate token set is topics × k (tiny),
    * so the document-frequency and co-document joins run on a
    * semi-join-restricted slice of the doc-token frame; each topic sums
    * ≤ k(k−1)/2 6 dp-rounded terms exactly. */
  def topicCoherence(docs: DataFrame, signDims: Int = 4, k: Int = 5): DataFrame = {
    // tl is a topics×k (≈80-row) frame whose LINEAGE is the full
    // tf-idf + docEmbedHash pipeline, and it is referenced three times
    // below (toks + both sides of pairs); dt is referenced three times
    // (df + both sides of cooc). Unpinned, Catalyst re-analyzed and
    // re-executed those subtrees per reference — the 110-shuffle plan of
    // round-12's PLAN_AUDIT. localCheckpoint truncates the tiny tl to a
    // LogicalRDD; dt is data-sized so it persists (and registers with
    // CacheTracker for the harness to release).
    val tl = topicLabels(docs, signDims, k).transform(CacheTracker.pin)
    val toks = tl.select(col("token")).distinct()
    val dt = CacheTracker.cache(
      docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token")).distinct()
        .join(toks, Seq("token"), "left_semi"))
    val df = dt.groupBy("token").agg(count(lit(1)).as("d"))
    val cooc = dt.select(col("doc_id"), col("token").as("w_i"))
      .join(dt.select(col("doc_id"), col("token").as("w_j")), "doc_id")
      .filter(col("w_i") =!= col("w_j"))
      .groupBy("w_i", "w_j").agg(count(lit(1)).as("d_ij"))
    val pairs = tl.select(col("bucket"), col("token").as("w_i"), col("rnk").as("r_i"))
      .join(tl.select(col("bucket"), col("token").as("w_j"), col("rnk").as("r_j")),
        "bucket")
      .filter(col("r_i") < col("r_j"))
    pairs
      .join(cooc, Seq("w_i", "w_j"), "left")
      .join(df.select(col("token").as("w_j"), col("d").as("d_j")), Seq("w_j"))
      .select(col("bucket"),
        round(log((coalesce(col("d_ij"), lit(0L)) + 1).cast("double") / col("d_j")), 6)
          .as("term"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(Folds.exactSum(col("term")), 6).as("coherence"))
  }
}
