package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the index of the
  * enclosing span in [[Tracer.spans]], or -1 for a top-level span. */
final case class Span(name: String, parent: Int, pass: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled tracers run the body with no
  * bookkeeping at all, so untraced passes pay nothing. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false
  var pass = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, stack.headOption.getOrElse(-1), pass, System.nanoTime(), 0L)
      stack = idx :: stack
      try body
      finally {
        spans(idx).endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Summed seconds of every span with this name in one pass. */
  def total(name: String, pass: Int): Double =
    spans.iterator.filter(s => s.pass == pass && s.name == name).map(_.seconds).sum

  /** Self time per layer (span name up to the first '.'), summed over
    * every span of one pass: a span's own time minus its children's. */
  def selfByLayer(pass: Int): Map[String, Double] = {
    val own = spans.indices.filter(i => spans(i).pass == pass)
    val childSum = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    own.foreach { i => val p = spans(i).parent; if (p >= 0) childSum(p) += spans(i).seconds }
    own.groupMapReduce(i => spans(i).name.takeWhile(_ != '.'))(
      i => spans(i).seconds - childSum(i))(_ + _)
  }

  /** Share of a pass's wall time covered by its top-level spans. */
  def topCoverage(pass: Int, wallS: Double): Double =
    spans.iterator.filter(s => s.pass == pass && s.parent == -1).map(_.seconds).sum / wallS

  def toJson: String = spans.iterator.map { s =>
    Json.obj("name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Scheduler and task counters, fed by a SparkListener registered only
  * for traced passes. Listener delivery is asynchronous, so readers call
  * [[settle]] before taking a snapshot. */
final class TaskCounters extends SparkListener {
  val jobs, stages, tasks, emptyTasks = new AtomicLong
  val runMs, cpuNs, gcMs, schedDelayMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      val sr = m.shuffleReadMetrics
      shuffleRead.addAndGet(sr.remoteBytesRead + sr.localBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) emptyTasks.incrementAndGet()
      if (info != null && info.finishTime > 0) {
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime - overhead - getting
        schedDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  def snapshot: Array[Long] = Array(jobs.get, stages.get, tasks.get, emptyTasks.get,
    runMs.get, cpuNs.get, gcMs.get, schedDelayMs.get, shuffleRead.get, shuffleWrite.get,
    spill.get)

  /** Wait until `probe` stops moving: the listener bus has drained. */
  def settle(probe: () => Seq[Double]): Unit = {
    var prev = probe()
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 200) {
      Thread.sleep(20); waited += 1
      val cur = probe()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }
}

/** Catalyst phase times from each SQL execution's QueryPlanningTracker. */
final class PlanPhases extends QueryExecutionListener {
  val analysisS, optimizationS, planningS = new DoubleAdder

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def sec(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    analysisS.add(sec("analysis"))
    optimizationS.add(sec("optimization"))
    planningS.add(sec("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def snapshot: Array[Double] = Array(analysisS.sum, optimizationS.sum, planningS.sum)
}

/** The traced run's Spark-side probes: registered on the session for a
  * traced pass and removed afterwards, so untraced passes carry none. */
final class SparkProbes(spark: SparkSession) {
  val tasks = new TaskCounters
  val phases = new PlanPhases

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
  }

  /** Waits for both listeners' asynchronous deliveries, then removes them. */
  def detach(): Unit = {
    tasks.settle(() => snapshot.toSeq)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(phases)
  }

  /** Every counter, in [[delta]]'s order; codegen counters are process-wide. */
  def snapshot: Array[Double] = tasks.snapshot.map(_.toDouble) ++ phases.snapshot ++ Array(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime.toDouble,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  /** Per-layer Spark figures for the interval since `before`. */
  def delta(before: Array[Double], wallS: Double, cores: Int): Map[String, Double] = {
    val d = snapshot.zip(before).map { case (a, b) => a - b }
    val Array(jobs, stages, nTasks, empty, runMs, cpuNs, gcMs, delayMs, shRead, shWrite,
      spill, analysis, optimization, planning, compileNs, classes) = d
    Map(
      "spark.jobs" -> jobs, "spark.stages" -> stages, "spark.tasks" -> nTasks,
      "spark.empty_task_frac" -> (if (nTasks > 0) empty / nTasks else 0.0),
      "spark.scheduler_delay_s" -> delayMs / 1e3,
      "spark.executor_run_s" -> runMs / 1e3, "spark.executor_cpu_s" -> cpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_read_mb" -> shRead / 1e6, "spark.shuffle_write_mb" -> shWrite / 1e6,
      "spark.spill_mb" -> spill / 1e6,
      "spark.slot_busy_frac" -> runMs / 1e3 / (wallS * cores),
      "spark.plan_analysis_s" -> analysis, "spark.plan_optimization_s" -> optimization,
      "spark.plan_physical_s" -> planning,
      "spark.codegen_compile_s" -> compileNs / 1e9, "spark.codegen_classes" -> classes)
  }
}

/** Minimal JSON rendering for the run's result and trace files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
