package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.BlockShim
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The one owner of the frames graft materializes: every operator that
  * keeps a frame's data past one plan goes through [[cache]] or [[pin]],
  * and nothing else in the engine persists or checkpoints.
  *
  * Which call:
  *  - [[cache]] is a lazy `persist(MEMORY_AND_DISK)`. The plan (and its
  *    statistics) stays; the blocks fill on the first action and are
  *    recomputed from lineage if evicted. For a frame that several
  *    consumers or actions re-read, whose plan is shallow. Follow it with
  *    a `count()` where the next consumer must find it filled.
  *  - [[pin]] is an eager `localCheckpoint`: one job now, and the frame
  *    becomes a `LogicalRDD` over blocks that are neither evicted nor
  *    recomputed. For a frame whose plan would otherwise grow per round
  *    (every iterative operator: Catalyst re-analyzes the whole unrolled
  *    prefix), that feeds both sides of a self-join (the join re-aliases
  *    the attributes, so a persisted plan never matches its consumers),
  *    or whose blocks must survive a long pass. The frame loses its plan
  *    statistics.
  *
  * Scope: what [[cache]] and [[pin]] record, and the [[cachedCount]] /
  * [[cachedCheckpoint]] memo, belong to the calling thread. Build, run
  * and drain a query on one thread. [[drainAll]] frees exactly that
  * thread's frames: a frame's blocks live until it, so call it after the
  * last action on the query's result. It never frees a block graft did
  * not create: a frame the caller persisted itself, or a frame of another
  * thread's query on the same session, keeps its blocks. A pin is
  * recorded by the id of its RDD, not the frame, so Spark's cleaner still
  * frees the blocks of a pinned frame that is garbage before the drain.
  */
object CacheTracker {

  private final class Scope {
    val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    val pinned = mutable.ArrayBuffer.empty[Int]
    /** (kind, canonicalized plan) -> value: an operator called twice over
      * the same frame within one query pays its eager side job once. */
    val memo = mutable.HashMap.empty[(String, LogicalPlan), Any]
  }

  private val scope = ThreadLocal.withInitial[Scope](() => new Scope)

  /** `ds.persist(MEMORY_AND_DISK)`, freed by this thread's [[drainAll]]. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    scope.get.cached += ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds
  }

  /** `ds.localCheckpoint(eager = true)`, freed by this thread's [[drainAll]]. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.localCheckpoint(true)
    pinnedRdd(p).foreach(scope.get.pinned += _)
    p
  }

  private def pinnedRdd(ds: Dataset[_]): Option[Int] =
    ds.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }

  /** What the blocks of the pin `ds` reads hold, in memory plus on disk:
    * the measured size of its data, not a plan estimate. 0 for a frame
    * that reads no pin. */
  def pinnedBytes(ds: Dataset[_]): Long =
    pinnedRdd(ds).fold(0L)(BlockShim.rddBytes(ds.sparkSession.sparkContext, _))

  private def memoized[T](kind: String, df: DataFrame)(compute: => T): T =
    scope.get.memo.getOrElseUpdate(
      (kind, df.queryExecution.analyzed.canonicalized), compute).asInstanceOf[T]

  /** `df.count()`, shared by every call on the same plan until [[drainAll]]. */
  def cachedCount(df: DataFrame): Long =
    memoized("count", df)(df.count())

  /** [[pin]], shared by every call on the same plan until [[drainAll]]. */
  def cachedCheckpoint(df: DataFrame): DataFrame =
    memoized("checkpoint", df)(pin(df))

  /** Free this thread's cached frames and pinned blocks and clear its
    * memo. */
  def drainAll(spark: SparkSession): Unit = {
    val s = scope.get
    s.cached.foreach(ds => try ds.unpersist() catch { case _: Throwable => () })
    val live = spark.sparkContext.getPersistentRDDs
    s.pinned.foreach(id => live.get(id).foreach(rdd =>
      try rdd.unpersist(blocking = false) catch { case _: Throwable => () }))
    s.cached.clear()
    s.pinned.clear()
    s.memo.clear()
  }
}
