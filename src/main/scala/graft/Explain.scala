package graft

/** Dev tool: dump the formatted physical plan of every SparkEntry query —
  * the scale audit (pushdown, broadcast, codegen spans, no cartesian
  * products) reads these. Usage: runMain graft.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = Graft.session("local[4]", Some(4))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
