package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopK

class TopKSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = {
    val rnd = new scala.util.Random(13)
    (1 to 10000).map(i => (rnd.nextInt(20).toLong, i.toLong, rnd.nextDouble()))
      .toDF("k", "id", "score").repartition(8)
  }

  test("topKPerKey equals the window row_number formulation") {
    TopK.register(spark)
    val viaTopK = TopK.topKPerKey(data, Seq("k"),
      Seq("score" -> false, "id" -> true), 5)
      .select("k", "id").as[(Long, Long)].collect().toSet
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id"))
    val viaWindow = data.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("k", "id").as[(Long, Long)].collect().toSet
    assert(viaTopK === viaWindow)
    assert(viaTopK.size === 100) // 20 keys x 5
  }

  test("plans as two-phase heap operator with one shuffle, no sort") {
    TopK.register(spark)
    val df = TopK.topKPerKey(data, Seq("k"), Seq("score" -> true), 3)
    df.count() // materialize so AQE finalizes the physical plan
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.split("TopKPerKey ", -1).length - 1 === 2, planStr.take(800))
    assert(planStr.contains("Exchange"))
    assert(!planStr.contains("Window"))
    assert(!planStr.contains("Sort"), planStr.take(800))
  }

  test("partial-phase flush preserves correctness under a tiny key cap") {
    TopK.register(spark)
    spark.conf.set("graft.topk.flushKeys", "4")
    try {
      val rnd = new scala.util.Random(23)
      val wide = (1 to 3000).map(i => (rnd.nextInt(500).toLong, i.toLong, rnd.nextDouble()))
        .toDF("k", "id", "score").repartition(3)
      val viaTopK = TopK.topKPerKey(wide, Seq("k"), Seq("score" -> false, "id" -> true), 2)
        .select("k", "id").as[(Long, Long)].collect().toSet
      val w = Window.partitionBy("k").orderBy(col("score").desc, col("id"))
      val viaWindow = wide.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).select("k", "id").as[(Long, Long)].collect().toSet
      assert(viaTopK === viaWindow)
    } finally spark.conf.unset("graft.topk.flushKeys")
  }

  test("ascending order and k larger than group size") {
    TopK.register(spark)
    val small = Seq((1L, 1L, 0.3), (1L, 2L, 0.1), (2L, 3L, 0.9))
      .toDF("k", "id", "score")
    val out = TopK.topKPerKey(small, Seq("k"), Seq("score" -> true, "id" -> true), 10)
      .select("k", "id").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("the window rewrite stops at the window group limit threshold") {
    graft.plans.TopKRewrite.register(spark)
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id"))
    def optimized(k: Int) = data.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("k", "id").queryExecution.optimizedPlan
    assert(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold") === "1000")
    // past the threshold the rows of a key would sit in an unspillable heap
    val large = optimized(5000)
    assert(large.collect { case p: graft.plans.TopKPerKeyPlan => p }.isEmpty, large)
    assert(large.collect { case p: org.apache.spark.sql.catalyst.plans.logical.Window => p }
      .nonEmpty, large)
    val small = optimized(10)
    assert(small.collect { case p: graft.plans.TopKPerKeyPlan => p.k } === Seq(10), small)
  }

  test("k = Int.MaxValue keeps every row") {
    TopK.register(spark)
    val out = TopK.topKPerKey(data, Seq("k"), Seq("score" -> true, "id" -> true), Int.MaxValue)
    assert(out.count() === 10000)
  }
}
