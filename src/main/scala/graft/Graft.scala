package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's front door: one call to get a correctly-configured
  * session (GraftExtensions wired in — native functions, the TopKPerKey
  * strategy and its optimizer rewrite), one call to mount a dataset
  * directory as SQL-addressable tables, and the whole operator surface
  * reachable either as `graft.operators.*` combinators or as plain
  * `spark.sql(...)` over the registered views.
  */
object Graft {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Session builder with the graft extensions and scale-appropriate
    * defaults. `shufflePartitions` should track cluster parallelism
    * (cores × executors at scale; cores here).
    *
    * The codegen cache size is a static, JVM-wide conf: the first session
    * that compiles generated code fixes it for the whole JVM. Spark's
    * default of 100 classes is far below what a multi-query pass
    * generates, so the LRU would evict and Janino recompile the same
    * stages over and over. The cache is keyed by the generated source,
    * and adaptive execution numbers a query's codegen stages in the order
    * its stages happen to materialize, so the stage id is kept out of the
    * class name: otherwise the same stage under another number is another
    * class to compile. */
  def session(master: String = "local[*]",
              shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.codegen.useIdInClassName", "false")
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n))
    b.getOrCreate()
  }

  /** Wire graft's extension points into an ALREADY-RUNNING session (one
    * the caller built without `spark.sql.extensions`): the native SQL
    * functions, the TopKPerKey strategy and both optimizer rules
    * (TopKRewriteRule, RangeJoinRewriteRule). Does nothing on a session
    * whose `spark.sql.extensions` already names GraftExtensions, such as
    * every [[session]]. Idempotent. Operators rely on these being in
    * place: run them on a session from [[session]] or after [[install]]. */
  def install(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.extensions").exists(
        _.split(",").map(_.trim).contains(classOf[graft.functions.GraftExtensions].getName))) {
      graft.functions.GraftFunctions.register(spark)
      graft.plans.TopKRewrite.register(spark)
      graft.plans.RangeJoinRewrite.register(spark)
    }

  /** Mount every parquet table under `dir` as a temp view, so the full
    * engine surface is reachable from SQL. Each table is read through
    * SparkEntry.readParquet, so mounting again on the same session infers
    * no schema. events gets its `ts` column normalized to TimestampType
    * on the way in, whichever physical type the data generation carries
    * (the one driver-data quirk callers
    * should never see — see SparkEntry.normalizeEventTs). Only the
    * TIMESTAMP(NANOS) generation needs the legacy nanosAsLong conf, and
    * because the view must live — and execute — in THIS session's
    * catalog, that generation sets it on this session and leaves it set:
    * that is part of what mounting such a dataset means. Query lambdas
    * that must not mutate the shared session read through a child
    * session instead (SparkEntry.events). */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    install(spark)
    Tables.foreach { name =>
      val path = s"$dir/$name.parquet"
      if (new java.io.File(path).exists()) {
        val df =
          if (name == "events") {
            val raw =
              try SparkEntry.readParquet(spark, path)
              catch {
                // Retry ONLY the TIMESTAMP(NANOS) schema rejection (the
                // reader refuses the type unless nanos surface as plain
                // longs). Any other failure — corrupt file, permissions —
                // rethrows as-is, instead of a confusing second error
                // with the legacy conf left set on the shared session.
                case scala.util.control.NonFatal(e)
                    if { val m = String.valueOf(e.getMessage)
                         m.contains("TIMESTAMP(NANOS") ||
                           m.contains("Illegal Parquet type") } =>
                  // the failed inference memoized no schema for the path
                  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                  SparkEntry.readParquet(spark, path)
              }
            SparkEntry.normalizeEventTs(raw)
          } else SparkEntry.readParquet(spark, path)
        df.createOrReplaceTempView(name)
      }
    }
  }

  /** Run a registered query by SURVEY.md §2 key. */
  def query(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** All registered query keys (the library's coverage inventory). */
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Pipeline observability via Dataset.observe (C206): attach named
    * metric expressions that the engine computes AS the job runs — zero
    * extra passes, unlike a separate .agg() action — and read them back
    * from the returned Observation after any action on the returned
    * frame. The production shape for row-count / null-count / checksum
    * assertions on a 100 TB write: the metrics ride the existing scan.
    * Metrics must be aggregates over the observed frame; the Observation
    * blocks until the action that materializes them completes. */
  def observed(df: DataFrame, metrics: (String, org.apache.spark.sql.Column)*)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observed() needs at least one metric")
    // The observe node is attached to a frame rebound onto a child
    // session (plan handover via global temp view — same SparkContext,
    // no data movement): Dataset.observe initializes the session's lazy
    // ObservationManager, a non-transient field of the session that is
    // not java-serializable, and a session carrying one breaks any later
    // task closure that captures the session (Spark ML training summaries
    // do). The caller acts on the returned frame exactly as before — same
    // rows, same metrics — while the caller's own session stays
    // serializable. One child per parent session (SparkEntry's session
    // memo), not one per call: a new session brings a new class loader,
    // and so compiles every generated class of the frame again.
    val view = "graft_obs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(view)
    val iso = SparkEntry.observerSession(df.sparkSession)
    val rebound =
      try iso.table(s"global_temp.$view")
      finally df.sparkSession.catalog.dropGlobalTempView(view)
    val obs = org.apache.spark.sql.Observation("graft_obs")
    val cols = metrics.map { case (n, c) => c.as(n) }
    (rebound.observe(obs, cols.head, cols.tail: _*), obs)
  }
}
