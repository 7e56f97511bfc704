package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation expressed as declarative joins — the shape
  * Pregel/GraphX jobs reduce to when the per-step logic is algebraic.
  * Reference analogue: the thesis corpus has no graph op; this covers the
  * "token graph" analyses (TextRank-style keyword weighting) a training-
  * data pipeline runs over its vocabulary.
  */
object Graph {

  /** Fixed-iteration PageRank over the token co-occurrence graph (B62):
    * nodes are tokens, edges are adjacent-token pairs (both directions,
    * weight = co-occurrence count), rank iterates
    * r'(v) = (1-d)/N + d·Σ_u r(u)·w(u,v)/outw(u) for `iters` rounds from
    * the uniform vector — TextRank's keyword-importance scores.
    *
    * Scale posture: the edge frame is vocabulary²-bounded (far smaller
    * than the corpus after the first aggregation) and is computed ONCE,
    * cached, and re-joined per iteration; each iteration is one
    * hash-shuffle on dst. Nothing driver-side — N broadcasts as a
    * one-row frame. Float discipline: per-edge contributions round to
    * 9 dp and per-node sums are exact ([[Folds.exactSum]]), so results
    * are partition-count independent. */
  def tokenPagerank(docs: DataFrame, iters: Int = 5, d: Double = 0.85): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    // aggregate the DIRECTED pairs first (one corpus pass), then
    // symmetrize the vocabulary²-bounded frame — c(u,v)+c(v,u) — instead
    // of unioning two full corpus scans
    val dir = bi.groupBy("src", "dst").agg(count(lit(1)).as("w0"))
    val edges = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst"), col("w0")))
      .groupBy("src", "dst").agg(sum(col("w0")).as("w"))
    val outw = edges.groupBy("src").agg(sum(col("w")).as("outw"))
    val ew = CacheTracker.cache(edges.join(outw, "src"))
    ew.count() // materialize once; every iteration re-joins this frame
    // N = node count, read ONCE as a scalar off the persisted edge
    // frame (src and dst sets coincide on an undirected graph) — a
    // bounded driver action in the same category as the ew.count()
    // materialization above, NOT a per-row collect. Inlining the
    // literal keeps every iteration free of both the previous
    // full-frame count window (which sorted the vocabulary-sized rank
    // frame in ONE task — 10⁸+ distinct tokens on a web corpus) and
    // any per-iteration one-row broadcast join (A/B'd at 2.5× the
    // runtime of the literal form, BASELINE.md round 11). Same N,
    // same values, oracle unchanged.
    val nodes = ew.select(col("src").as("token")).distinct()
    val n = nodes.count()
    // an empty graph (no doc carries two tokens) has no ranks — and the
    // inlined 1/n literal would constant-fold into an ANSI
    // divide-by-zero; return the empty typed frame instead
    if (n == 0) return nodes.select(col("token"), lit(0.0).as("rank"))
    var ranks = nodes.select(col("token"), (lit(1.0) / lit(n)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ew.join(ranks, ew("src") === ranks("token"))
        .select(col("dst"),
          round(lit(d) * col("r") * col("w") / col("outw"), 9).as("c"))
      ranks = contrib.groupBy(col("dst"))
        .agg(round(Folds.exactSum(col("c")), 9).as("sum_c"))
        .select(col("dst").as("token"),
          round((lit(1.0) - lit(d)) / lit(n) + col("sum_c"), 9)
            .as("r"))
    }
    ranks.select(col("token"), col("r").as("rank"))
  }

  /** Deterministic random walks on the token co-occurrence graph (B90)
    * — the corpus-generation step under DeepWalk/node2vec-style graph
    * embeddings, derandomized the house way: at step t from node u, the
    * walk takes sorted-neighbor index md5(start ":" t ":" u) mod
    * degree, so ANY engine reproduces every walk exactly (a seeded RNG
    * walk is not even reproducible across Spark versions).
    *
    * One walk starts from every vocabulary token; `steps` unrolled
    * broadcast joins against the (vocab-bounded) neighbor-list frame
    * extend all walks at once. Output: (start, path, end_node). */
  def tokenWalks(docs: DataFrame, steps: Int = 3): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    val dir = bi.groupBy("src", "dst").agg(count(lit(1)).as("w0"))
    val nbs = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst"), col("w0")))
      .select(col("src"), col("dst")).distinct()
      .groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbs"),
        count(lit(1)).as("deg"))
    var walks = nbs.select(col("src").as("start"), col("src").as("cur"),
      col("src").as("path"))
    for (t <- 1 to steps) {
      val idx = pmod(
        conv(substring(md5(concat(col("start"), lit(s":$t:"), col("cur"))), 1, 8), 16, 10)
          .cast("long"),
        col("deg"))
      walks = walks
        .join(broadcast(nbs.select(col("src").as("cur"), col("nbs"), col("deg"))), "cur")
        .select(col("start"),
          element_at(col("nbs"), (idx + 1).cast("int")).as("next"),
          concat(col("path"), lit(">"), element_at(col("nbs"), (idx + 1).cast("int")))
            .as("path"))
        .select(col("start"), col("next").as("cur"), col("path"))
    }
    walks.select(col("start"), col("path"), col("cur").as("end_node"))
  }

  /** Per-token triangle participation count (B81) over the token
    * co-occurrence graph — the clustering-structure signal on top of
    * [[tokenPagerank]]'s centrality: tokens in many triangles sit in
    * tight topical clusters; bridge tokens do not.
    *
    * Edges are unordered token pairs co-occurring in >= minPairDocs
    * documents (same df-thresholded, vocab²-bounded frame as tokenPmi).
    * Triangles enumerate via the standard a<b<c two-hop join on the
    * ORIENTED edge list — each triangle counted exactly once, no
    * direction double-count — and each corner credits its token.
    *
    * The per-doc pair build is O(u²) in the doc's distinct tokens, so the
    * stream is df-pruned FIRST: a pair can only reach n_ab >= minPairDocs
    * if both tokens individually appear in >= minPairDocs docs, so the
    * semi-join against the df-qualified vocab is recall-lossless while
    * shrinking the explosion at its source (an unpruned 10k-distinct-token
    * doc alone is 50M pairs). The triangle joins then run on the
    * thresholded edge frame, far smaller than the corpus. */
  def tokenTriangles(docs: DataFrame, minPairDocs: Int = 5): DataFrame = {
    val d0 = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
    // Un-hinted left_semi: AQE broadcasts the qualified vocab when it is
    // small (the common case) and falls back to a shuffled semi-join if the
    // corpus vocabulary outgrows the driver — scale-safe either way.
    val qualified = d0.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minPairDocs)
      .select("token")
    val d = d0.join(qualified, Seq("token"), "left_semi")
    val edges = CacheTracker.cache(
      d.select(col("doc_id"), col("token").as("a"))
        .join(d.select(col("doc_id"), col("token").as("b")), "doc_id")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minPairDocs)
        .select("a", "b"))
    val tri = edges
      .join(edges.select(col("a").as("b"), col("b").as("c")), "b")
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_triangles"))
  }

  /** `maxHops`-hop BFS over the token co-occurrence graph (C117): hop
    * distance from the corpus's most-frequent token (tie: lexicographic)
    * to every reachable token — the neighborhood-expansion primitive
    * behind query expansion and related-term discovery, and the engine's
    * iterative-traversal shape (unrolled frontier joins, like
    * [[tokenPagerank]] unrolls power iteration).
    *
    * BFS as set difference: frontier_h = neighbors(frontier_{h-1}) ∖
    * visited — each round is one equi-join on the vocabulary²-bounded
    * edge frame plus an anti-join against the vocab-bounded visited set;
    * no per-node state, no data-sized windows. The same formulation runs
    * verbatim in the DuckDB oracle. */
  /** Degree statistics of the token co-occurrence graph (C126): node and
    * edge counts plus the degree distribution (min/max/avg/p90) over the
    * same df/pair-gated edge frame [[tokenBfs]] and [[tokenTriangles]]
    * traverse — the graph-shape summary read before running any
    * iterative algorithm on it (a max degree near n_nodes means the
    * pagerank/BFS joins will hotspot). All passes are vocab-bounded
    * after the one data-sized token shuffle. */
  def tokenDegreeStats(docs: DataFrame, minPairDocs: Int = 5): DataFrame = {
    val d0 = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
    val qualified = d0.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minPairDocs)
      .select("token")
    val d = d0.join(qualified, Seq("token"), "left_semi")
    val half = d.select(col("doc_id"), col("token").as("a"))
      .join(d.select(col("doc_id"), col("token").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
      .select("a", "b")
    val deg = half.select(col("a").as("token"))
      .union(half.select(col("b").as("token")))
      .groupBy("token").agg(count(lit(1)).as("degree"))
    val edges = half.agg(count(lit(1)).as("n_edges"))
    deg.agg(
        count(lit(1)).as("n_nodes"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"),
        round(avg(col("degree")), 6).as("avg_degree"),
        round(percentile(col("degree"), lit(0.9)), 4).as("p90_degree"))
      .crossJoin(broadcast(edges))
      .select(col("n_nodes"), col("n_edges"), col("min_degree"),
        col("max_degree"), col("avg_degree"), col("p90_degree"))
  }

  def tokenBfs(docs: DataFrame, minPairDocs: Int = 5, maxHops: Int = 3): DataFrame = {
    // d0 feeds BOTH the edge build and (via counts) the seed pick, so it
    // persists; edges persist for the per-hop probes. Each hop's frontier
    // is vocabulary-bounded-tiny and referenced twice (the union into
    // visited and the next probe), and `visited` grows by union per hop —
    // unpinned, hop h replayed the full tokenize+distinct+groupBy prefix
    // per reference (105 shuffles in round-12's PLAN_AUDIT).
    // localCheckpoint truncates each hop to a LogicalRDD, so the final
    // plan is one anti-join + union per hop over pinned inputs.
    val d0 = CacheTracker.cache(
      docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .distinct())
    val counts = d0.groupBy("token").agg(count(lit(1)).as("df"))
    val qualified = counts.filter(col("df") >= minPairDocs).select("token")
    val d = d0.join(qualified, Seq("token"), "left_semi")
    val half = d.select(col("doc_id"), col("token").as("a"))
      .join(d.select(col("doc_id"), col("token").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
      .select("a", "b")
    val edges = CacheTracker.cache(half.union(half.select(col("b").as("a"), col("a").as("b"))))
    val seed = counts.orderBy(col("df").desc, col("token")).limit(1).select("token")
    var visited = seed.withColumn("dist", lit(0L)).transform(CacheTracker.pin)
    var frontier = visited.select("token")
    for (h <- 1 to maxHops) {
      val nxt = frontier.join(edges, frontier("token") === edges("a"))
        .select(col("b").as("token")).distinct()
        .join(visited, Seq("token"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .transform(CacheTracker.pin)
      // visited itself stays a plain union tree: its leaves are all
      // LogicalRDDs after the checkpoints, so re-reference is free
      visited = visited.union(nxt)
      frontier = nxt.select("token")
    }
    visited
  }

  /** [[tokenBfs]] expressed as a Spark 4 RECURSIVE CTE (C219): the same
    * df/pair-gated edges and argmax-df seed, but the hop loop runs in
    * the ENGINE (UnionLoopExec) instead of an unrolled driver loop —
    * `WITH RECURSIVE walk AS (seed UNION ALL step WHERE dist < maxHops)`
    * then min(dist) per reached token, which equals BFS distance for
    * every token within the hop budget. Value-identical to [[tokenBfs]]
    * by construction, and the DuckDB oracle runs the recursion too —
    * recursive-CTE parity across engines.
    *
    * Scale caveat, stated plainly: Spark's recursive CTEs support only
    * UNION ALL recursion (no fixpoint dedup), so this enumerates WALKS
    * and the row count grows with path multiplicity (~degree^hops per
    * seed). On the vocab-bounded co-occurrence graph at 3 hops that is
    * fine; for unbounded graphs the anti-join-per-hop [[tokenBfs]]
    * remains the scale path — this row is the engine-capability face.
    * Edges/seed are localCheckpointed BEFORE the view registration so
    * each engine-driven iteration re-reads a LogicalRDD, not the whole
    * tokenize+gate prefix. */
  def tokenBfsRcte(docs: DataFrame, minPairDocs: Int = 5, maxHops: Int = 3): DataFrame = {
    val d0 = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
      .transform(CacheTracker.pin)
    val counts = d0.groupBy("token").agg(count(lit(1)).as("df"))
    val qualified = counts.filter(col("df") >= minPairDocs).select("token")
    val d = d0.join(qualified, Seq("token"), "left_semi")
    val half = d.select(col("doc_id"), col("token").as("a"))
      .join(d.select(col("doc_id"), col("token").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
      .select("a", "b")
    val edges = half.union(half.select(col("b").as("a"), col("a").as("b")))
      .transform(CacheTracker.pin)
    val seed = counts.orderBy(col("df").desc, col("token")).limit(1)
      .select("token").transform(CacheTracker.pin)
    edges.createOrReplaceTempView("graft_bfs_edges")
    seed.createOrReplaceTempView("graft_bfs_seed")
    docs.sparkSession.sql(
      s"""WITH RECURSIVE walk (token, dist) AS (
         |  SELECT token, CAST(0 AS BIGINT) AS dist FROM graft_bfs_seed
         |  UNION ALL
         |  SELECT e.b AS token, w.dist + CAST(1 AS BIGINT) AS dist
         |  FROM walk w JOIN graft_bfs_edges e ON e.a = w.token
         |  WHERE w.dist < $maxHops)
         |SELECT token, min(dist) AS dist FROM walk GROUP BY token""".stripMargin)
  }

  /** Label-propagation communities over the token adjacency graph
    * (B183): 3 unrolled min-label rounds — each token adopts the
    * lexicographic minimum of its own and its neighbors' labels — the
    * cheap community detector that groups syntactically-glued
    * vocabulary (the same min-propagation idea as dedup_components'
    * pointer jumping, run on the bigram graph with a fixed unroll so
    * the plan is static and the oracle a plain CTE chain). Reports
    * each community at its stable-prefix: label, member count, member
    * min/max for a deterministic fingerprint. Every frame after the
    * one token shuffle is vocabulary-bounded; each label generation is
    * pinned like [[tokenKcore]]'s edge generations. */
  def tokenLabelProp(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val half = bi.select(least(col("w1"), col("w2")).as("a"),
      greatest(col("w1"), col("w2")).as("b")).distinct()
    val edges = CacheTracker.cache(half.union(
      half.select(col("b").as("a"), col("a").as("b"))))
    var labels = CacheTracker.cache(edges.select(col("a").as("token")).distinct()
      .withColumn("label", col("token")))
    for (_ <- 1 to rounds) {
      val nbMin = edges.join(labels.withColumnRenamed("token", "b"), "b")
        .groupBy(col("a").as("token")).agg(min(col("label")).as("nb_label"))
      labels = CacheTracker.cache(labels.join(nbMin, Seq("token"), "left")
        .select(col("token"),
          least(col("label"), coalesce(col("nb_label"), col("label")))
            .as("label")))
    }
    labels.groupBy("label")
      .agg(count(lit(1)).as("n_tokens"),
        min(col("token")).as("min_token"), max(col("token")).as("max_token"))
  }

  /** HITS hubs and authorities on the DIRECTED token-bigram graph
    * (B293, Kleinberg): a(v) = Σ_{u→v} w·h(u), h(u) = Σ_{u→v} w·a(v),
    * 3 unrolled mutual-reinforcement rounds — the directional reading
    * [[tokenPagerank]] symmetrizes away: in token order, a high-hub
    * token INTRODUCES (left contexts, determiners/preps), a
    * high-authority token IS INTRODUCED (right contexts, heads) — the
    * syntactic role split, per edge direction. Normalization is by the
    * MAX score each half-step (one exact max over 9 dp values — the
    * L2 norm would add a √Σx² fold for no semantic gain; documented
    * deviation from the L2 original). Edge frame aggregates once to
    * the vocabulary²-bounded weighted adjacency and is pinned; each
    * round is two joins against it (the pagerank discipline), so the
    * plan is static in iters. Tokens with no out-edges carry hub 0,
    * no in-edges authority 0. */
  def tokenHits(docs: DataFrame, iters: Int = 3): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val dir = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val ew = CacheTracker.cache(dir)
    ew.count()
    val nodes = CacheTracker.cache(
      ew.select(col("src").as("token"))
        .unionByName(ew.select(col("dst").as("token"))).distinct())
    def maxNorm(df: DataFrame, v: String): DataFrame = {
      val mx = df.agg(max(col(v)).as("mx"))
      df.crossJoin(broadcast(mx))
        .select(col("token"), round(col(v) / col("mx"), 9).as(v))
    }
    var h = nodes.select(col("token"), lit(1.0).as("h"))
    var a = nodes.select(col("token"), lit(0.0).as("a"))
    // localCheckpoint each half-step: maxNorm references its input frame
    // twice (max aggregate + crossJoin), so an unpinned h/a doubles the
    // logical plan per half-step — the bradley_terry lineage pathology
    // (r12c, measured 5.8×). Both frames are vocab-bounded one-column.
    for (_ <- 1 to iters) {
      a = maxNorm(ew.join(h, ew("src") === h("token"))
        .select(col("dst"), round(col("w") * col("h"), 9).as("c"))
        .groupBy(col("dst").as("token"))
        .agg(round(Folds.exactSum(col("c")), 9).as("a")), "a")
        .transform(CacheTracker.pin)
      h = maxNorm(ew.join(a, ew("dst") === a("token"))
        .select(col("src"), round(col("w") * col("a"), 9).as("c"))
        .groupBy(col("src").as("token"))
        .agg(round(Folds.exactSum(col("c")), 9).as("h")), "h")
        .transform(CacheTracker.pin)
    }
    nodes
      .join(h.withColumnRenamed("h", "hub"), Seq("token"), "left")
      .join(a.withColumnRenamed("a", "authority"), Seq("token"), "left")
      .select(col("token"),
        coalesce(round(col("hub"), 6), lit(0.0)).as("hub"),
        coalesce(round(col("authority"), 6), lit(0.0)).as("authority"))
  }

  /** Newman modularity of the label-propagation partition (B287): Q =
    * Σ_c (e_c/m − (d_c/2m)²) over [[tokenLabelProp]]'s communities on
    * the SAME adjacency edge set — the score that says whether the
    * cheap 3-round min-label partition found real structure (Q ≈ 0 =
    * no better than random wiring; Q ≳ 0.3 = genuine modules), i.e.
    * the external-validity audit for the community detector, exactly
    * as B250/B282 audit the clusterer. Every count is an exact long
    * (m undirected edges, within-community edges e_c, degree sums
    * d_c); per-community 9 dp terms sum exactly. */
  def communityModularity(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val half = CacheTracker.cache(bi.select(least(col("w1"), col("w2")).as("a"),
      greatest(col("w1"), col("w2")).as("b")).distinct())
    val edges = CacheTracker.cache(half.union(
      half.select(col("b").as("a"), col("a").as("b"))))
    var labels = CacheTracker.cache(edges.select(col("a").as("token")).distinct()
      .withColumn("label", col("token")))
    for (_ <- 1 to rounds) {
      val nbMin = edges.join(labels.withColumnRenamed("token", "b"), "b")
        .groupBy(col("a").as("token")).agg(min(col("label")).as("nb_label"))
      labels = CacheTracker.cache(labels.join(nbMin, Seq("token"), "left")
        .select(col("token"),
          least(col("label"), coalesce(col("nb_label"), col("label")))
            .as("label")))
    }
    // ONE label-annotated edge frame feeds m, d_c AND e_c (r18): the
    // old shape computed them from three separate join/agg chains over
    // edges/half (~6 stages of the query's measured 3.3 s final phase);
    // deriving all three from `labeled` halves the stage count. Values
    // are identical by construction: every half row carries both
    // endpoint labels (labels covers the full edge vocabulary), so
    //   m   = |half| = |labeled|,
    //   d_c = Σ_token∈C deg(token) = per-half-row +1 to BOTH endpoint
    //         labels (edges is half ∪ swap, so deg(t) = #half rows
    //         containing t) = the label explode count,
    //   e_c = same intra-community filter+count as before.
    val labeled = half
      .join(labels.select(col("token").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("token").as("b"), col("label").as("lb")), "b")
      .transform(CacheTracker.pin)
    val m = labeled.agg(count(lit(1)).as("m"))
    // d_c and e_c in ONE aggregate pass: each half row contributes +1
    // degree to BOTH endpoint labels (the explode), and +1 intra-
    // community edge to la's label iff la = lb — tagged on the first
    // exploded struct only, so it counts once per edge. Replaces the
    // old dC-chain ⋈ eC-chain left join (values identical: e_c of a
    // label with no intra edges is sum(0) = the old coalesce(0)).
    val byLabel = labeled
      .select(explode(array(
        struct(col("la").as("label"),
          (col("la") === col("lb")).cast("long").as("intra")),
        struct(col("lb").as("label"), lit(0L).as("intra")))).as("x"))
      .groupBy(col("x.label").as("label"))
      .agg(count(lit(1)).as("d_c"), sum(col("x.intra")).as("e_c"))
    val terms = byLabel
      .crossJoin(broadcast(m))
      .select(
        round(col("e_c").cast("double") / col("m")
          - (col("d_c").cast("double") / (col("m") * 2))
            * (col("d_c").cast("double") / (col("m") * 2)), 9).as("term"))
    val q = terms.agg(round(Folds.exactSum(col("term")), 6).as("modularity"))
    val counts = labels.agg(count(lit(1)).as("n_nodes"),
      countDistinct(col("label")).as("n_communities"))
    q.crossJoin(broadcast(m)).crossJoin(broadcast(counts))
      .select(col("n_nodes"), col("m").as("n_edges"), col("n_communities"),
        col("modularity"))
  }

  /** k-core peeling of the token adjacency graph (C146): 3 unrolled
    * rounds of "drop every node with degree < k over the surviving
    * subgraph" — the dense-core extractor that separates the
    * load-bearing vocabulary from one-off noise (the same peeling that
    * prunes spam link farms in web graphs). Edges are distinct
    * canonical ADJACENT-bigram pairs (a < b, no self-loops) — a
    * different, cheaper edge set than the df-gated co-occurrence graph
    * the BFS/triangle ops use, by design: adjacency cores capture
    * syntactic glue. Every frame after the one token shuffle is
    * vocabulary-bounded; rounds are a fixed unroll (the kmeans_lloyd
    * discipline), so the plan is static and the oracle is a plain CTE
    * chain. */
  def tokenKcore(docs: DataFrame, k: Int = 2): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    // Materialize EVERY edge generation: each round's degrees and the
    // next round's restriction both re-read it, and without the pin the
    // lineage re-runs the corpus-sized tokenize+explode+distinct once
    // per downstream consumer (~6 full corpus passes for 3 rounds —
    // measured 30 s vs ~2 s at sf0.1). The pinned frames are distinct
    // bigram TYPES — vocabulary-shaped, far smaller than the corpus.
    val edges0 = CacheTracker.pin(bi.select(least(col("w1"), col("w2")).as("a"),
      greatest(col("w1"), col("w2")).as("b")).distinct())
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("token")).union(e.select(col("b").as("token")))
        .groupBy("token").agg(count(lit(1)).as("degree"))
    def restrict(e: DataFrame, alive: DataFrame): DataFrame =
      e.join(alive.select(col("token").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("token").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    val d0 = CacheTracker.pin(degreesOf(edges0))
    val a1 = d0.filter(col("degree") >= k).select("token")
    val e1 = CacheTracker.pin(restrict(edges0, a1))
    val a2 = degreesOf(e1).filter(col("degree") >= k).select("token")
    val e2 = CacheTracker.pin(restrict(e1, a2))
    val a3 = degreesOf(e2).filter(col("degree") >= k).select("token")
    val e3 = restrict(e2, a3)
    val d3 = degreesOf(e3)
    d0.select(col("token"), col("degree").as("degree0"))
      .join(a3.withColumn("_in", lit(true)), Seq("token"), "left")
      .join(d3.select(col("token"), col("degree").as("core_degree")),
        Seq("token"), "left")
      .select(col("token"), col("degree0"),
        coalesce(col("_in"), lit(false)).as("in_core"), col("core_degree"))
  }

  /** Degree assortativity of the token co-occurrence graph (B225):
    * Newman's r — the Pearson correlation of endpoint degrees over the
    * edge set — on the same df/pair-gated frame [[tokenDegreeStats]]
    * summarizes. Positive r = hubs link hubs (core/periphery template
    * vocabulary); negative r = hubs fan out to rare terms — the one
    * number that says whether iterative algorithms on this graph will
    * hotspot on a hub-hub core.
    *
    * Each undirected edge enters the moments in both orientations (the
    * standard symmetric estimator, so Σx = Σy by construction). All
    * moments are exact sums — degree products widen to DECIMAL(38,0)
    * BEFORE multiplying — and r is one fixed-order double expression,
    * rounded once at 6 dp; degenerate variance (complete-graph regular
    * degrees) yields NULL, not NaN, in both engines. Everything after
    * the one data-sized token shuffle is vocabulary²-bounded. */
  def tokenAssortativity(docs: DataFrame, minPairDocs: Int = 5): DataFrame = {
    val d0 = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
    val qualified = d0.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minPairDocs)
      .select("token")
    val d = d0.join(qualified, Seq("token"), "left_semi")
    val half = d.select(col("doc_id"), col("token").as("a"))
      .join(d.select(col("doc_id"), col("token").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
      .select("a", "b")
    val deg = half.select(col("a").as("token"))
      .union(half.select(col("b").as("token")))
      .groupBy("token").agg(count(lit(1)).as("degree"))
    val dir = half.union(half.select(col("b").as("a"), col("a").as("b")))
    val m = dir
      .join(deg.select(col("token").as("a"), col("degree").as("dx")), "a")
      .join(deg.select(col("token").as("b"), col("degree").as("dy")), "b")
      .agg(count(lit(1)).as("mm"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx").cast("decimal(38,0)") * col("dy")).as("sxy"),
        sum(col("dx").cast("decimal(38,0)") * col("dx")).as("sxx"),
        sum(col("dy").cast("decimal(38,0)") * col("dy")).as("syy"))
    val mx = col("sx").cast("double") / col("mm")
    val my = col("sy").cast("double") / col("mm")
    val cov = col("sxy").cast("double") / col("mm") - mx * my
    val vx = col("sxx").cast("double") / col("mm") - mx * mx
    val vy = col("syy").cast("double") / col("mm") - my * my
    m.select(expr("mm div 2").as("n_edges"),
      round(when(vx > 0.0 && vy > 0.0, cov / sqrt(vx * vy)), 6)
        .as("assortativity"))
  }

  /** Adamic-Adar link prediction over the token ADJACENCY graph
    * (B247): for token pairs NOT already linked, the classic
    * common-neighbor score Σ_z 1/ln(deg z) over shared neighbors z —
    * rare shared neighbors count more than hubs. The "which vocabulary
    * pairs are one bigram away from attested" signal used for query
    * expansion and embedding-evaluation probes; the prediction dual of
    * [[tokenTriangles]] (which counts CLOSED wedges, this scores the
    * open ones). The graph is bigram adjacency, not whole-doc
    * co-occurrence — the doc-level graph is COMPLETE on template-heavy
    * corpora, leaving nothing to predict.
    *
    * Determinism: each neighbor's weight is 1/ln(deg) rounded at 9 dp
    * and scaled to exact NANO-unit longs, so the per-pair sum is an
    * order-independent integer sum (map-side combining, no sorted
    * fold); degree-1 neighbors (ln = 0) are excluded by the deg ≥ 2
    * gate before any divide. Scale: the bigram stream is corpus-linear
    * with map-side combine onto the (a, b) key; the relative edge gate
    * bounds degree, so the wedge join's Σ deg(z)² stays
    * vocabulary-shaped; the existing-edge anti-join rides the pair
    * key. */
  def adamicAdar(docs: DataFrame, minEdgeFrac: Double = 0.005,
                 minCommon: Long = 2L): DataFrame = {
    val toked = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    // ADJACENCY co-occurrence, not whole-doc: on template-heavy corpora
    // the doc-level graph is complete (every token meets every other
    // somewhere), so only the bigram graph has open wedges to score;
    // the edge gate is RELATIVE (count >= minEdgeFrac * corpus docs) so
    // the same sparsity survives any scale factor
    val pairs = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("a0"), y.as("b0")))).as("p"))
      .select(col("p.a0").as("a0"), col("p.b0").as("b0"))
      .filter(col("a0") =!= col("b0"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val half = pairs
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_ab").cast("double") >= lit(minEdgeFrac) * col("n_docs"))
      .select("a", "b")
    val deg = half.select(col("a").as("token"))
      .union(half.select(col("b").as("token")))
      .groupBy("token").agg(count(lit(1)).as("degree"))
    // neighbor weight in exact nano-units; deg >= 2 so ln > 0
    val wz = deg.filter(col("degree") >= 2L)
      .select(col("token").as("z"),
        round(round(lit(1.0) / log(col("degree").cast("double")), 9) * 1e9)
          .cast("long").as("w_nano"))
    val dir = half.union(half.select(col("b").as("a"), col("a").as("b")))
    val wedges = dir.select(col("a"), col("b").as("z"))
      .join(wz, "z")
      .join(dir.select(col("a").as("z2"), col("b").as("b2")),
        col("z") === col("z2") && col("a") < col("b2"))
      .groupBy(col("a"), col("b2").as("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("w_nano")).as("aa_nano"))
      .filter(col("n_common") >= minCommon)
    wedges
      .join(half.withColumn("is_edge", lit(1)), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"),
        round(col("aa_nano").cast("double") / 1e9, 6).as("aa_score"))
  }

  /** HITS hub/authority scores over the DIRECTED token bigram graph
    * (B302) — Kleinberg's mutual-reinforcement pair: a token is a good
    * authority when good hubs precede it, a good hub when good
    * authorities follow it. On text this separates "lead-in" tokens
    * from "payload" tokens, which PageRank's symmetrized walk (B62)
    * cannot — direction is the whole signal here, so unlike
    * [[tokenPagerank]] the edge frame is NOT symmetrized.
    *
    * Fixed `iters` rounds of a(v) = Σ_{u→v} w·h(u), h(u) = Σ_{u→v} w·a(v),
    * each normalized by its max (L∞ — max of 9 dp-rounded values is
    * exactly partial-aggregatable, unlike an L1/L2 normalizer which
    * would need a global float fold). Per-edge products round to 9 dp
    * and per-node sums are exact ([[Folds.exactSum]]), so results are
    * partition-count independent at any edge weight. Scale posture: the
    * directed edge frame is vocab²-bounded, persisted once, and re-joined per
    * iteration (two key-shuffles + two one-row max broadcasts each);
    * per-round aRaw/hRaw are vocab-bounded and localCheckpoint'd so the
    * iteration lineage never re-executes the corpus joins; nothing
    * driver-side beyond the guard count. Source-only tokens carry
    * authority 0, sink-only tokens hub 0. */
  def hitsScores(docs: DataFrame, iters: Int = 3): DataFrame = {
    val toked = docs.select(TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toked.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    val e = CacheTracker.cache(bi.groupBy("src", "dst").agg(count(lit(1)).as("w")))
    if (e.isEmpty) {
      return e.select(col("src").as("token"), lit(0.0).as("hub"),
        lit(0.0).as("authority"))
    }
    hitsRounds(e, iters)
  }

  /** `iters` HITS rounds over a weighted directed edge frame
    * (src, dst, w): (token, hub, authority) for every node. */
  private[graft] def hitsRounds(e: DataFrame, iters: Int): DataFrame = {
    val nodes = e.select(col("src").as("token"))
      .unionByName(e.select(col("dst").as("token"))).distinct()
    var h = nodes.select(col("token"), lit(1.0).as("h"))
    var a = nodes.limit(0).select(col("token"), lit(0.0).as("a"))
    // localCheckpoint discipline: aRaw/hRaw are vocab-bounded and each
    // is referenced twice (max + normalize join) while the next round
    // references the result again — unpinned, the r18 plan re-executed
    // the corpus joins ~4^iters times (669 jobs, 28.4 s).
    for (_ <- 1 to iters) {
      val aRaw = e.join(h, e("src") === h("token"))
        .select(col("dst"), round(col("w") * col("h"), 9).as("c"))
        .groupBy("dst")
        .agg(Folds.exactSum(col("c")).as("ar"))
        .transform(CacheTracker.pin)
      val aMax = aRaw.agg(max(col("ar")).as("am"))
      a = aRaw.crossJoin(broadcast(aMax))
        .select(col("dst").as("token"), round(col("ar") / col("am"), 9).as("a"))
      val hRaw = e.join(a, e("dst") === a("token"))
        .select(col("src"), round(col("w") * col("a"), 9).as("c"))
        .groupBy("src")
        .agg(Folds.exactSum(col("c")).as("hr"))
        .transform(CacheTracker.pin)
      val hMax = hRaw.agg(max(col("hr")).as("hm"))
      h = hRaw.crossJoin(broadcast(hMax))
        .select(col("src").as("token"), round(col("hr") / col("hm"), 9).as("h"))
    }
    nodes
      .join(h, Seq("token"), "left")
      .join(a, Seq("token"), "left")
      .select(col("token"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("authority"))
  }
}
