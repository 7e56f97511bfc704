package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: run every SparkEntry query as Bench times it (a noop write)
  * and print the formatted plan of that write — the plan audit
  * (`tools/plan_audit.py` → PLAN_AUDIT.md: pushdown, broadcast, codegen
  * spans, no cartesian products) reads this dump. The plan is the
  * executed one: with AQE on, coalesced reads and exchange reuse only
  * exist once the query has run. The session comes from the same factory
  * and width (`SPARK_GRAFT_CPUS`, default 4) as Bench's, so the dumped
  * plan is the benched plan. Usage: runMain graft.ExplainExec [sfDir] [query...]
  */
object ExplainExec {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    // the write's own execution, delivered asynchronously after it ends;
    // executions a query runs while it is built are not writes
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) writes.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          val qe = writes.poll(60, TimeUnit.SECONDS)
          println(if (qe == null) "ERROR: no plan reported for the write"
                  else qe.explainString(FormattedMode))
        } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        CacheTracker.drainAll(spark)
      }
    }
    spark.stop()
  }
}
