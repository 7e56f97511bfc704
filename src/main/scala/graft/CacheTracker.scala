package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.collection.mutable.ArrayBuffer

/** Registry for operator-result caches that must outlive the operator call
  * (model-based ops persist their small output so returning it doesn't
  * re-run the fit/probe chain) but not the session.
  *
  * Contract: operators register such caches via [[track]]; the harness
  * (Verify/Bench — or any caller embedding an operator in a longer job)
  * calls [[releaseAll]] once it has consumed the result. Without this the
  * executor block manager pins every result cache for the session
  * lifetime when operators are called repeatedly.
  */
object CacheTracker {
  private val live = ArrayBuffer.empty[Dataset[_]]

  def track[T](ds: Dataset[T]): Dataset[T] = synchronized { live += ds; ds }

  /** Plan-keyed memo (kind, canonicalized plan) -> value, scoped to the
    * same lifecycle as the result caches: an operator called twice over
    * the same frame within one query pays its eager side job once —
    * nearDupPairs' adaptive-width count ([[cachedCount]]), the
    * classifiers' featurized checkpoint ([[cachedCheckpoint]]). Cleared
    * by [[releaseAll]] (every harness query boundary), so a count can
    * never go stale and a checkpoint is never read after [[drainAll]]
    * freed its blocks — within one query the inputs are immutable by
    * contract. */
  private val memo = scala.collection.mutable.HashMap.empty[(String, LogicalPlan), Any]

  private def memoized[T](kind: String, df: DataFrame)(compute: => T): T = {
    val key = (kind, df.queryExecution.analyzed.canonicalized)
    synchronized(memo.get(key)).getOrElse {
      val v = compute
      synchronized(memo.update(key, v))
      v
    }.asInstanceOf[T]
  }

  def cachedCount(df: DataFrame): Long =
    memoized("count", df)(df.count())

  /** `df.localCheckpoint(eager = true)`, shared by every call on the same
    * plan until the next [[releaseAll]]. */
  def cachedCheckpoint(df: DataFrame): DataFrame =
    memoized("checkpoint", df)(df.localCheckpoint(true))

  def releaseAll(): Unit = synchronized {
    live.foreach(ds => try ds.unpersist() catch { case _: Throwable => () })
    live.clear()
    memo.clear()
  }

  /** [[releaseAll]] plus every other persisted block on the context —
    * including the per-round localCheckpoint blocks iterative operators
    * pin (bradley_terry, token_label_prop, kmeans): those are invisible
    * to [[track]] by design (unpersisting a checkpointed frame before
    * its consumer runs would be a correctness bug) and otherwise free
    * only on GC + ContextCleaner. A harness that runs hundreds of
    * queries on one session MUST call this between queries or the
    * BlockManager bloats until later queries' caches thrash (the
    * round-12 official-bench 2× inflation). Only safe at a query
    * boundary: every live block is garbage by contract there. */
  def drainAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    releaseAll()
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = false) catch { case _: Throwable => () })
    catch { case _: Throwable => () }
  }
}
