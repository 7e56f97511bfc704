package graft.ml

import graft.CacheTracker

import graft.operators.Folds.exactSum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic batch-gradient-descent logistic regression, declarative
  * end to end (B85) — the from-scratch trainable-classifier twin of
  * [[NaiveBayesSql]]: where MLlib's LogisticRegression is
  * seed/solver-bound (rows-only checkable), this unrolled fixed-iteration
  * GD is reproducible by ANY engine, so the learned weights themselves
  * are oracle-checked.
  *
  * Model: y = 1 when label < 5 (binary split of the 10-class embedding
  * labels), p = sigmoid(w·x), full-batch gradient
  * g_i = Σ_v (p_v − y_v)·x_vi / n, update w ← w − lr·g, `iters` rounds
  * from w = 0.
  *
  * Float discipline (the house rules for iterative operators): every
  * per-element product rounds to 9 dp and sums exactly
  * ([[graft.operators.Folds.exactSum]]), the sigmoid (the one
  * transcendental) rounds to 6 dp immediately, and weights round to 9 dp
  * per update — partition-count independent and equal to the DuckDB CTE
  * chain.
  *
  * Scale shape: the weight frame is dims-sized and broadcasts every
  * round; the corpus-sized (vec, dim) frame shuffles once per round to
  * vec_id (for z) and once to dim for g, both partially aggregated.
  * Lineage grows linearly in `iters` (no loop-carried driver state); at
  * 100 TB each round is two partial-agg shuffles of the exploded
  * embedding frame.
  */
object LogRegSql {

  /** (i, w): learned weight per 1-based dimension after `iters` rounds. */
  def weights(emb: DataFrame, iters: Int = 3, lr: Double = 1.0): DataFrame =
    weightsOver(explodedFrame(emb), emb.agg(count(lit(1)).as("n_vecs")), iters, lr)

  /** The exploded (vec_id, y, i, x) training frame, persisted — shared
    * by the GD rounds and (in [[predictions]]) the scoring pass, so the
    * explode+persist pays once per query, not once per consumer. */
  private def explodedFrame(emb: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id"),
        when(col("label") < 5, 1.0).otherwise(0.0).as("y"),
        posexplode(col("embedding")).as(Seq("p0", "x")))
      .select(col("vec_id"), col("y"), (col("p0") + 1).cast("long").as("i"),
        col("x").cast("double").as("x"))
    val cached = CacheTracker.cache(x)
    cached.count()
    cached
  }

  private def weightsOver(cached: DataFrame, n: DataFrame,
                          iters: Int, lr: Double): DataFrame = {
    // n arrives as a broadcast one-row frame computed on the RAW table
    // (a parquet count — cheaper than a distinct over the exploded
    // frame, A/B'd), not a driver-side count() action
    var w = cached.select(col("i")).distinct().select(col("i"), lit(0.0).as("w"))
    for (_ <- 1 to iters) {
      val z = cached.join(broadcast(w), "i")
        .select(col("vec_id"), col("y"), round(col("w") * col("x"), 9).as("c"))
        .groupBy("vec_id", "y").agg(exactSum(col("c")).as("z"))
      val err = z.select(col("vec_id"),
        (round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6) - col("y")).as("e"))
      val grad = cached.join(err, "vec_id")
        .select(col("i"), round(col("e") * col("x"), 9).as("c"))
        .groupBy("i").agg(exactSum(col("c")).as("sc"))
        .crossJoin(broadcast(n))
        .select(col("i"), round(col("sc") / col("n_vecs"), 9).as("g"))
      w = w.join(grad, Seq("i"), "left")
        .select(col("i"),
          round(col("w") - lit(lr) * coalesce(col("g"), lit(0.0)), 9).as("w"))
      // NO per-round localCheckpoint here: an r15 ×3 A/B read medians
      // 2.93/3.35/2.71 s WITH the checkpoint vs 3.17 s in-pass without —
      // the cost is the two per-round corpus shuffles (already persisted
      // input), not plan depth, so the extra checkpoint jobs buy nothing
    }
    w.select(col("i"), round(col("w"), 6).as("w"))
  }

  /** Training-set predictions under the learned weights, with the same
    * rounding chain: (vec_id, y, p, pred). The scoring pass reads the
    * SAME persisted exploded frame the GD rounds trained on (one
    * explode+persist per query, not one per consumer). */
  def predictions(emb: DataFrame, iters: Int = 3, lr: Double = 1.0): DataFrame = {
    val cached = explodedFrame(emb)
    val wts = weightsOver(cached, emb.agg(count(lit(1)).as("n_vecs")), iters, lr)
    cached
      .join(broadcast(wts), "i")
      .select(col("vec_id"), col("y"), round(col("w") * col("x"), 9).as("c"))
      .groupBy("vec_id", "y").agg(exactSum(col("c")).as("z"))
      .select(col("vec_id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("p"))
      .withColumn("pred", when(col("p") >= 0.5, 1.0).otherwise(0.0))
  }
}
