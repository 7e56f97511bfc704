package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Graft, SparkEntry}

/** JVM side of the benchmark: one Spark session, one workload, a warm-in
  * pass, then timed passes in a closed loop for the requested seconds.
  * With tracing on, untraced and traced passes alternate, so the traced
  * run also measures its own overhead. Writes one JSON result file; the
  * Python front end checks the outputs and prints the metrics.
  *
  * Usage: Main --workload W --data DIR --out DIR --result FILE
  *             --seconds S --trace 0|1 --cores N [--queries q1,q2,...]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val (dataDir, outDir) = (args("data"), args("out"))
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt

    val spark = Graft.session(s"local[$cores]", Some(cores))
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val workload: Workload = workloadName match {
      case "sentiment_e2e" => new SentimentE2E(spark, dataDir)
      case "curation_e2e" => new CurationE2E(spark, dataDir, outDir)
      case "query_mix" =>
        val order = args("queries").split(",").toSeq
        val sql = SparkEntry.oracleSql
        Files.write(Paths.get(outDir, "oracle_sql.json"), Json.value(
          order.filter(sql.contains).map(q => q -> sql(q)).toMap)
          .getBytes(StandardCharsets.UTF_8))
        new QueryMix(spark, dataDir, outDir, order)
    }

    val tw = System.nanoTime()
    workload.warm()
    val warmS = (System.nanoTime() - tw) / 1e9

    val tracer = new Tracer
    val probes = new SparkProbes(spark)
    val passes = mutable.ArrayBuffer.empty[String]
    var measured = 0.0
    var i = 0
    // Every run makes at least two timed passes; traced runs make at least
    // three, untraced-traced-untraced, so the JVM's warming trend cancels
    // out of the traced/untraced comparison.
    val minPasses = if (trace) 3 else 2
    while (measured < seconds || i < minPasses) {
      val traced = trace && i % 2 == 1
      tracer.enabled = traced
      tracer.pass = i
      val out = new PassOut
      // Every pass starts from a collected heap, so whether a young
      // collection lands inside the pass does not depend on the passes
      // before it.
      System.gc()
      if (traced) probes.attach()
      val before = probes.snapshot
      val (cpu0, host0) = (cpuNs(), hostTicks())
      val t0 = System.nanoTime()
      workload.pass(tracer, out)
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpu = cpuNs().zip(cpu0).map { case (a, b) => (a - b) / 1e9 }
      val (processCpuS, cpuS, gcCpuS) = (cpu(0), cpu(0) - cpu(1), cpu(2))
      val host = hostTicks().zip(host0).map { case (a, b) => a - b }
      if (traced) {
        probes.detach()
        out.layer ++= probes.delta(before, wallS, cores)
        out.layer ++= spanLayers(tracer, i)
        out.layer("trace.top_span_coverage") = tracer.topCoverage(i, wallS)
      }
      workload.afterPass(out)
      passes += Json.obj(
        "traced" -> traced, "wall_s" -> wallS, "cpu_s" -> cpuS, "process_cpu_s" -> processCpuS,
        "gc_cpu_s" -> gcCpuS,
        "steal_frac" -> (if (host(1) > 0) host(0).toDouble / host(1) else 0.0),
        "attempted" -> out.attempted, "failed" -> out.failed,
        "errors" -> out.errors.toSeq, "outputs" -> out.outputs.toMap,
        "layer" -> out.layer.toMap, "query_s" -> out.queryS.toMap,
        "self_s" -> (if (traced) tracer.selfByLayer(i) else Map.empty))
      measured += wallS
      i += 1
    }

    if (trace) Files.write(Paths.get(outDir, "trace_spans.json"),
      tracer.toJson.getBytes(StandardCharsets.UTF_8))
    val result = s"""{"workload":${Json.value(workloadName)},"cores":$cores,""" +
      s""""session_s":$sessionS,"warm_s":$warmS,"peak_rss_mb":${peakRssMb()},""" +
      s""""passes":[${passes.mkString(",\n")}]}"""
    Files.write(Paths.get(args("result")), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer seconds from the pass's spans: every span name summed
    * (entry.<query>, entry.build, sentiment.eval, ...) as `<name>_s`. */
  private def spanLayers(tr: Tracer, pass: Int): Map[String, Double] =
    tr.spans.iterator.filter(_.pass == pass).map(_.name).toSet
      .map((n: String) => s"${n}_s" -> tr.total(n, pass)).toMap

  /** CPU nanoseconds of this JVM: (all threads, JIT compiler threads, GC
    * threads). The process total also holds threads that have ended; the
    * per-thread figures come from /proc/self/task/<tid>/schedstat. Total
    * minus compiler is the work of the pass itself: Spark tasks and
    * services, the main thread and the garbage collector, without the JIT
    * compiling that is still going on after the warm-in. The launcher
    * turns off dynamic compiler threads, so none exits and takes its
    * time into the total. */
  private def cpuNs(): Array[Long] = {
    def read(f: java.io.File): String = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    val total = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    val threads = tasks.toSeq.flatMap { t =>
      try Some(read(new java.io.File(t, "comm")).trim -> read(new java.io.File(t, "schedstat"))
        .split(' ')(0).toLong)
      catch { case _: java.io.IOException => None } // the thread ended meanwhile
    }
    def named(re: String) = threads.collect { case (name, ns) if name.matches(re) => ns }.sum
    Array(total, named("C[12] Compiler.*"), named("(GC Thread|G1 ).*"))
  }

  /** Machine-wide (steal, total) CPU ticks from /proc/stat: the share of
    * time the hypervisor ran other guests on this machine's CPUs. */
  private def hostTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    Array(if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
