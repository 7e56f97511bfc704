package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global ranking: the two-pass range-partitioned rank that
  * replaces `Window.orderBy(...)` with no `partitionBy` — which moves ALL
  * rows to a single task (Spark's own `WindowExec: No Partition Defined`
  * warning) and is the canonical scale-killer once the ranked frame grows
  * with the data (per-customer, per-user, per-doc frames all do).
  *
  * Pass 1: `repartitionByRange` on the sort order — the range partitioner
  * samples boundaries so partition i holds a contiguous slice of the global
  * order, every partition sorts in parallel, and a per-partition
  * `row_number` is computed locally. Pass 2: per-partition row counts
  * (a numShufflePartitions-row frame) become cumulative offsets, broadcast
  * back, and `global rank = offset(partition) + local rank`.
  *
  * The result is deterministic whenever the sort order is total (callers
  * append a unique tie-break column, as every graft ranking query does):
  * boundary sampling may place the cuts differently run to run, but with a
  * total order the composed rank is the same regardless of where the cuts
  * fall. `percent_rank` and `ntile(k)` then derive arithmetically from the
  * row number and the total count — exactly Spark's definitions, computed
  * without the global sort (with a unique tie-break, rank == row_number).
  */
object Ranks {

  /** Adds `rankCol` = global 1-based row_number under `order` (which must
    * be a total order for determinism) and `nCol` = total row count,
    * without ever collapsing the frame to one partition.
    *
    * The locally-ranked frame is PERSISTED (MEMORY_AND_DISK), not
    * recomputed, because the counts/offsets aggregate and the join's left
    * side must observe the SAME physical partitioning: RangePartitioner
    * seeds its boundary sampling from the rdd id, so two executions of
    * the subtree can draw different cuts whenever exchange reuse does not
    * unify them (AQE re-planning, local relations — FoldsSpec reproduces
    * offsets pairing with mismatched local ranks without the persist,
    * yielding ranks past n). Both consumers referencing one
    * InMemoryRelation means the boundaries are sampled exactly once; no
    * eager action is needed for that. This is the materialized first pass
    * every two-pass distributed sort (TeraSort) pays — a correctness
    * persist, exempt from the recompute-beats-persist ledger. */
  def withGlobalRowNumber(df: DataFrame, rankCol: String, nCol: String,
                          order: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("_pid", spark_partition_id())
    val local = CacheTracker.cache(
      ranged.withColumn("_lrnk",
          row_number().over(Window.partitionBy(col("_pid")).orderBy(order: _*))))
    // numShufflePartitions rows: the only global window in this file runs
    // over a frame whose size is fixed by config, not by the data.
    val counts = local.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val offsets = counts
      .withColumn("_off",
        coalesce(
          sum(col("_cnt")).over(Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn(nCol, sum(col("_cnt")).over())
      .select(col("_pid"), col("_off"), col(nCol))
    local.join(broadcast(offsets), "_pid")
      .withColumn(rankCol, col("_off") + col("_lrnk"))
      .drop("_pid", "_lrnk", "_off")
  }

  /** Adds `cumCol` = global running sum of integral column `value` under
    * `order` (a total order) and `totalCol` = the grand total, with the
    * same two-pass range-partitioned shape as [[withGlobalRowNumber]] —
    * never collapsing the frame to one partition. `value` must be an
    * integral column: exact long addition makes the composed sum
    * independent of where the range cuts fall, which a double cumsum
    * would not be (window sums don't promise an addition order).
    *
    * Same correctness persist as withGlobalRowNumber: the partial-sums
    * aggregate and the join's left side must observe ONE boundary
    * sampling of the range partitioner. */
  def withGlobalCumSum(df: DataFrame, value: String, cumCol: String,
                       totalCol: String, order: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("_pid", spark_partition_id())
    val local = CacheTracker.cache(
      ranged.withColumn("_lcum",
          sum(col(value)).over(Window.partitionBy(col("_pid")).orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding, 0))))
    // numShufflePartitions rows — config-bounded, not data-bounded
    val psums = local.groupBy(col("_pid")).agg(sum(col(value)).as("_psum"))
    val offsets = psums
      .withColumn("_off",
        coalesce(
          sum(col("_psum")).over(Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn(totalCol, sum(col("_psum")).over())
      .select(col("_pid"), col("_off"), col(totalCol))
    local.join(broadcast(offsets), "_pid")
      .withColumn(cumCol, col("_off") + col("_lcum"))
      .drop("_pid", "_lcum", "_off")
  }

  /** Adds BOTH `rankCol` = global 1-based row_number and `cumCol` =
    * global running sum of integral `value` under one total `order`,
    * plus `totalCol` = the grand total of `value` — the fused form of
    * [[withGlobalRowNumber]] + [[withGlobalCumSum]] paying ONE range
    * shuffle, one correctness persist, and one counts aggregate instead
    * of two of each (rank-frequency curves need rank and cumulative
    * mass over the same order; running the passes separately would
    * re-sample range boundaries too). Same determinism argument: with a
    * total order the composed rank/cumsum are cut-placement-free. */
  def withGlobalRankCumSum(df: DataFrame, value: String, rankCol: String,
                           cumCol: String, totalCol: String,
                           order: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("_pid", spark_partition_id())
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
    val local = CacheTracker.cache(
      ranged
        .withColumn("_lrnk", row_number().over(w))
        .withColumn("_lcum", sum(col(value)).over(
          w.rowsBetween(Window.unboundedPreceding, 0))))
    // numShufflePartitions rows — config-bounded, not data-bounded
    val per = local.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_cnt"), sum(col(value)).as("_psum"))
    val offsets = per
      .withColumn("_roff",
        coalesce(
          sum(col("_cnt")).over(Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("_coff",
        coalesce(
          sum(col("_psum")).over(Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn(totalCol, sum(col("_psum")).over())
      .select(col("_pid"), col("_roff"), col("_coff"), col(totalCol))
    local.join(broadcast(offsets), "_pid")
      .withColumn(rankCol, col("_roff") + col("_lrnk"))
      .withColumn(cumCol, col("_coff") + col("_lcum"))
      .drop("_pid", "_lrnk", "_lcum", "_roff", "_coff")
  }

  /** Adds one global running sum per entry of `values` (cumCol named by
    * the caller) plus that value's grand total, all under ONE total
    * `order` — the n-column generalization of [[withGlobalCumSum]]
    * paying one range shuffle, one correctness persist, and one partial
    * aggregate for the whole set (ROC/PR sweeps need cumulative
    * positives AND negatives over the same score order; two separate
    * passes would re-sample range boundaries too). Each value column
    * must be integral so the composed sums are cut-placement-free. */
  def withGlobalCumSums(df: DataFrame, values: Seq[(String, String, String)],
                        order: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("_pid", spark_partition_id())
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = CacheTracker.cache(
      values.zipWithIndex.foldLeft(ranged) { case (d, ((v, _, _), i)) =>
        d.withColumn(s"_lcum$i", sum(col(v)).over(w))
      })
    // numShufflePartitions rows — config-bounded, not data-bounded
    val psums = local.groupBy(col("_pid"))
      .agg(sum(col(values.head._1)).as("_psum0"),
        values.zipWithIndex.tail.map { case ((v, _, _), i) =>
          sum(col(v)).as(s"_psum$i") }: _*)
    val offsets = values.zipWithIndex.foldLeft(psums) {
      case (d, ((_, _, totalCol), i)) =>
        d.withColumn(s"_off$i",
            coalesce(
              sum(col(s"_psum$i")).over(Window.orderBy(col("_pid"))
                .rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .withColumn(totalCol, sum(col(s"_psum$i")).over())
    }.select(col("_pid") +: values.zipWithIndex.flatMap {
      case ((_, _, totalCol), i) => Seq(col(s"_off$i"), col(totalCol)) }: _*)
    val joined = local.join(broadcast(offsets), "_pid")
    values.zipWithIndex.foldLeft(joined) { case (d, ((_, cumCol, _), i)) =>
      d.withColumn(cumCol, col(s"_off$i") + col(s"_lcum$i"))
        .drop(s"_lcum$i", s"_off$i")
    }.drop("_pid")
  }

  /** Adds PER-GROUP `rankCol` (1-based row_number), `cumCol` (running
    * sum of integral `value`) and `totalCol` (group grand total) under
    * `order` within each `group` — the grouped generalization of
    * [[withGlobalRankCumSum]] for when `Window.partitionBy(group)
    * .orderBy(...)` would put a DATA-SIZED group (a language's whole
    * vocabulary, a hot user's events) in one task.
    *
    * Same two-pass shape: range partition on (group, order) so each
    * group occupies a contiguous partition run; local rank/cumsum per
    * (partition, group); then per-(partition, group) counts roll into
    * offsets via a window keyed BY GROUP over partition ids — every
    * window partition holds ≤ numShufflePartitions rows no matter how
    * many groups there are or how large one group grows. The offsets
    * frame is (partitions × live groups)-sized and joins back hash-
    * partitioned (not broadcast: group count may be data-sized).
    * `order` must be total within a group; `value` integral. Same
    * correctness persist as the global variants (one boundary
    * sampling). */
  def withGroupedRankCumSum(df: DataFrame, group: Seq[String], value: String,
                            rankCol: String, cumCol: String, totalCol: String,
                            order: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gc = group.map(col)
    val ranged = df.repartitionByRange(parts, gc ++ order: _*)
      .withColumn("_pid", spark_partition_id())
    val w = Window.partitionBy(col("_pid") +: gc: _*).orderBy(order: _*)
    val local = CacheTracker.cache(
      ranged
        .withColumn("_lrnk", row_number().over(w))
        .withColumn("_lcum", sum(col(value)).over(
          w.rowsBetween(Window.unboundedPreceding, 0))))
    val per = local.groupBy(col("_pid") +: gc: _*)
      .agg(count(lit(1)).as("_cnt"), sum(col(value)).as("_psum"))
    // ≤ numShufflePartitions rows per window partition, any group count
    val og = Window.partitionBy(gc: _*).orderBy(col("_pid"))
    val offsets = per
      .withColumn("_roff",
        coalesce(sum(col("_cnt")).over(
          og.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_coff",
        coalesce(sum(col("_psum")).over(
          og.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(totalCol,
        sum(col("_psum")).over(Window.partitionBy(gc: _*)))
      .select(col("_pid") +: gc ++:
        Seq(col("_roff"), col("_coff"), col(totalCol)): _*)
    local.join(offsets, "_pid" +: group)
      .withColumn(rankCol, col("_roff") + col("_lrnk"))
      .withColumn(cumCol, col("_coff") + col("_lcum"))
      .drop("_pid", "_lrnk", "_lcum", "_roff", "_coff")
  }

  /** True integer division — Spark's `/` on integral columns is DOUBLE
    * division, which silently shifts ntile bucket boundaries. */
  private[operators] def idiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    ColumnShim.column(IntegralDivide(
      ColumnShim.expression(a.cast("long")),
      ColumnShim.expression(b.cast("long"))))
  }

  /** Spark's ntile(k) from a global row number `rnk` over `n` rows: the
    * first n%k buckets take ceil(n/k) rows, the rest floor(n/k). */
  def ntileFromRank(rnk: Column, n: Column, k: Int): Column = {
    val q = idiv(n, lit(k)) // floor bucket size
    val r = n % k           // buckets that get one extra row
    val cut = (q + 1) * r   // rows covered by the big buckets
    // When n < k, q = 0 and cut = n, so rnk <= cut always takes the first
    // branch and the otherwise-division is unreachable — but only by
    // CaseWhen's lazy evaluation. greatest(q, 1) makes the dead branch
    // total too, so an eager evaluator (or ANSI DIVIDE_BY_ZERO) can never
    // trip on it; it changes no reachable value. RanksSpec pins n < k.
    when(rnk <= cut, idiv(rnk - 1, q + 1) + 1)
      .otherwise(r + idiv(rnk - 1 - cut, greatest(q, lit(1))) + 1)
  }

  /** Spark's percent_rank from a global row number over a TOTAL order
    * (ties impossible, so rank == row_number): (rnk-1)/(n-1), 0 when n=1. */
  def percentRankFromRank(rnk: Column, n: Column): Column =
    when(n === 1, lit(0.0))
      .otherwise((rnk - 1).cast("double") / (n - 1).cast("double"))
}
