package graft

/** The extension path and `Graft.install` share one list, and a session
  * from `Graft.session` gets every strategy and rule from the extension
  * alone: operators and `install` add nothing to its experimental
  * methods. */
class GraftInstallSpec extends SparkSpec {

  test("top-k operators and Graft.install add nothing to a Graft.session session") {
    val exp = spark.experimental
    val (strategies, rules) = (exp.extraStrategies, exp.extraOptimizations)
    // start from none: other suites register the rules imperatively
    exp.extraStrategies = Nil
    exp.extraOptimizations = Nil
    try {
      import spark.implicits._
      val docs = Seq((1L, "red fox jumps"), (2L, "red hen sits"), (3L, "blue fox runs"))
        .toDF("doc_id", "text")
      val emb = (0L until 20L).map(i => (i, Seq(1f, i.toFloat, (i % 3).toFloat)))
        .toDF("vec_id", "embedding")
      operators.TfIdf.keywordExtract(docs).collect()
      operators.Similarity.annTopK(emb).collect()
      CacheTracker.drainAll(spark)
      Graft.install(spark)
      assert(exp.extraStrategies.isEmpty, exp.extraStrategies)
      assert(exp.extraOptimizations.isEmpty, exp.extraOptimizations)
    } finally {
      exp.extraStrategies = strategies
      exp.extraOptimizations = rules
    }
  }

  test("every function in the shared table resolves on a Graft.session session") {
    val viaExtension = spark.sessionState.functionRegistry
    functions.GraftFunctions.Functions.foreach { case (id, _, _) =>
      assert(viaExtension.functionExists(id), id)
    }
    val r = spark.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
      "graft_simhash(array('a', 'b')) AS h").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    val e = intercept[Exception](spark.sql("SELECT graft_cosine(array(1.0D))").collect())
    assert(String.valueOf(e.getMessage).contains("graft_cosine expects exactly 2 arguments") ||
      String.valueOf(e.getCause).contains("graft_cosine expects exactly 2 arguments"), e)
  }
}
