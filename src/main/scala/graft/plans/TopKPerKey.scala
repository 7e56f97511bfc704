package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftshim.{ColumnShim, PlanShim}

/** Whole-operator extension (SURVEY.md §3 path (c)): top-k rows per key.
  *
  * The declarative alternative — `row_number().over(Window.partitionBy(keys)
  * .orderBy(...)) <= k` — sorts each partition (Spark's
  * InferWindowGroupLimit bounds rows per group first, but both its phases
  * still sort, and the Window still evaluates afterwards). This operator
  * keeps a bounded heap of k rows per key instead, in two phases mirroring
  * partial aggregation: a map-side pass caps each partition's contribution
  * at k rows per key, the shuffle moves only those survivors, and the
  * reduce-side pass merges heaps — no sort anywhere.
  *
  * Registered as a planner strategy via GraftExtensions or
  * `spark.experimental.extraStrategies`.
  */
case class TopKPerKeyPlan(k: Int, partitionExprs: Seq[Expression],
                          order: Seq[SortOrder], child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, partitionExprs: Seq[Expression],
                          order: Seq[SortOrder], child: SparkPlan,
                          partial: Boolean)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(partitionExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val partExprs = partitionExprs
    val sortOrder = order
    val childOutput = child.output
    val isPartial = partial
    // per key: bounded max-heap holding the current best k (heap head =
    // worst of the kept rows, evicted when a better row arrives).
    // State is (distinct keys) x k rows; the partial phase flushes when
    // the key count exceeds a cap — early emission is always correct
    // there (the final phase re-merges), bounding memory like a
    // spilling partial aggregate. The final phase sees clustered keys.
    val flushKeys = conf.getConfString("graft.topk.flushKeys", (1 << 17).toString).toInt
    // a heap grows on demand, so its initial size only saves regrowth for
    // small k; sizing it k + 1 outright overflows at k = Int.MaxValue (a
    // "no limit" rank filter the rewrite rule also turns into this node)
    // and would allocate k slots per key for any large k
    val heapInit = math.min(kLocal, 1024) + 1
    child.execute().mapPartitions { rows =>
      import scala.jdk.CollectionConverters._
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val rowOrd = PlanShim.ordering(sortOrder, childOutput)
      val FlushKeys = flushKeys
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      def drain(): Iterator[InternalRow] = {
        val out = heaps.values().asScala.toArray.iterator.flatMap(_.iterator().asScala)
        out
      }
      val main = rows.flatMap { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          if (isPartial && heaps.size() >= FlushKeys) {
            val flushed = heaps.values().asScala.toArray.flatMap(_.iterator().asScala)
            heaps.clear()
            heap = new java.util.PriorityQueue[InternalRow](heapInit, rowOrd.reverse)
            heaps.put(key.copy(), heap)
            heap.add(row.copy())
            flushed.iterator
          } else {
            heap = new java.util.PriorityQueue[InternalRow](heapInit, rowOrd.reverse)
            heaps.put(key.copy(), heap)
            heap.add(row.copy())
            Iterator.empty
          }
        } else {
          if (heap.size() < kLocal) heap.add(row.copy())
          else if (rowOrd.compare(row, heap.peek()) < 0) {
            heap.poll(); heap.add(row.copy())
          }
          Iterator.empty
        }
      }
      main ++ drain()
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(k, part, order, child) =>
      val partialExec = TopKPerKeyExec(k, part, order, planLater(child), partial = true)
      TopKPerKeyExec(k, part, order, partialExec, partial = false) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Keep the best `k` rows per key, "best" = first under `orderBy`
    * ((column, ascending) pairs; give a total order — add a tiebreaker
    * column — for deterministic results). Requires TopKStrategy to be
    * registered (GraftExtensions or experimental.extraStrategies). */
  def topKPerKey(df: DataFrame, keys: Seq[String],
                 orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val sortOrders = orderBy.map { case (name, asc) =>
      SortOrder(UnresolvedAttribute.quoted(name), if (asc) Ascending else Descending)
    }
    PlanShim.ofRows(df.sparkSession,
      TopKPerKeyPlan(k, keys.map(UnresolvedAttribute.quoted), sortOrders,
        PlanShim.logicalPlan(df)))
  }

  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
}
