package graft

/** Dev tool: EXECUTE a SparkEntry query (noop sink) and dump its final
  * physical plan — with AQE on, exchange/subtree reuse only materializes
  * at runtime (the static `Explain` dump shows `isFinalPlan=false` and no
  * ReusedExchange), so plan-reuse claims are only checkable from the
  * executed plan. The session comes from the same factory and width
  * (`SPARK_GRAFT_CPUS`, default 4) as Bench's, so the dumped plan is the
  * benched plan. Usage: runMain graft.ExplainExec [sfDir] [query...]
  */
object ExplainExec {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n========== $name (executed) ==========")
        try {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          println(df.queryExecution.executedPlan.toString)
        } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        CacheTracker.drainAll(spark)
      }
    }
    spark.stop()
  }
}
