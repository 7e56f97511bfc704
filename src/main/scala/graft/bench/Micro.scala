package graft.bench

import graft.Graft

/** Repeat-timing for individual SparkEntry queries — separates real
  * regressions from single-run variance that the one-pass Bench cannot.
  *
  * Usage: runMain graft.bench.Micro <sfDir> <reps> <query> [<query> ...]
  */
object Micro {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.CacheTracker.drainAll(spark)
        dt
      }
      println(f"MICRO $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  min=${times.min}%.2f")
    }
    spark.stop()
  }
}
