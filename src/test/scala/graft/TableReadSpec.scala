package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** SparkEntry's table reader: a parquet read with no schema runs a Spark
  * job to read the footers, so the reader keeps the schema it inferred per
  * session, path and file stamp, and reads with it. */
class TableReadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs (listener delivery is async: poll
    * until the counter holds still). */
  private def jobsDuring(body: => Unit): Int = {
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def settle(): Int = {
      var prev = jobs; var stable = 0; var iters = 0
      while (stable < 3 && iters < 50) {
        Thread.sleep(10)
        if (jobs == prev) stable += 1 else { stable = 0; prev = jobs }
        iters += 1
      }
      jobs
    }
    spark.sparkContext.addSparkListener(l)
    try { body; settle() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("building a query again on one session launches no job") {
    assumeTestdata(sf)
    val session = spark.newSession()
    val first = jobsDuring(SparkEntry.queries("tpch_q3")(session, sf))
    val second = jobsDuring(SparkEntry.queries("tpch_q3")(session, sf))
    info(s"jobs while building tpch_q3: first $first, second $second")
    assert(second === 0)
  }

  test("building a SQL-surface query again on one session launches no job") {
    assumeTestdata(sf)
    val session = spark.newSession()
    val first = jobsDuring(SparkEntry.queries("sql_tpch_q6")(session, sf))
    val second = jobsDuring(SparkEntry.queries("sql_tpch_q6")(session, sf))
    info(s"jobs while building sql_tpch_q6: first $first, second $second")
    assert(second === 0)
  }

  test("a rewritten file is read with its new schema") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_read").resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(path)
    assert(SparkEntry.readParquet(spark, path).columns.toSeq === Seq("id", "s"))
    Seq((1L, "a", 1.5)).toDF("id", "s", "x").coalesce(1).write.mode("overwrite").parquet(path)
    val again = SparkEntry.readParquet(spark, path)
    assert(again.columns.toSeq === Seq("id", "s", "x"))
    assert(again.select(sum(col("x"))).head().getDouble(0) === 1.5)
  }

  test("a missing directory still raises PATH_NOT_FOUND") {
    val missing = java.nio.file.Files.createTempDirectory("graft_missing").resolve("none").toString
    for (read <- Seq(() => SparkEntry.queries("tpch_q3")(spark, missing),
        () => SparkEntry.events(spark, missing))) {
      val e = intercept[AnalysisException](read())
      assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
    }
  }

  test("the schema memo does not keep its session alive") {
    assumeTestdata(sf)
    var session = spark.newSession()
    SparkEntry.queries("tpch_q3")(session, sf)
    SparkEntry.events(session, sf)
    val ref = new java.lang.ref.WeakReference(session)
    session = null
    var tries = 0
    while (ref.get() != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get() === null)
  }
}
