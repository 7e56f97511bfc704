package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.operators.Similarity

/** The deterministic Lloyd fit (centroids on the driver, one projection
  * and two aggregations per round) against the window chain it replaced,
  * kept here as the reference: kmeansLloyd and kmeansSilhouette equal it
  * row for row and bit for bit on generated embedding frames. */
class LloydSpec extends SparkSpec {
  import spark.implicits._

  /** The two-level sorted fold the Lloyd recentering used: each value
    * sorted-folded within its (cluster, pos, vec_id % 1024) sub-bucket,
    * then the sub-sums sorted-folded within (cluster, pos). */
  private def sortedSum(c: org.apache.spark.sql.Column) =
    aggregate(sort_array(collect_list(c)), lit(0.0), (a, b) => a + b)

  private def sqdist = round(aggregate(zip_with(col("e"), col("c"),
    (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x), 9)

  /** Reference: (vecs, final centroids, assign) of the window chain. */
  private def refFit(emb: DataFrame, k: Int, dims: Int,
                     iters: Int): (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val vecs = emb.select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $dims), x -> CAST(x AS DOUBLE))").as("e"))
      .localCheckpoint(true)
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cluster"))
      vecs.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("e"), col("cluster"), sqdist.as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
    }
    var cent = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long").as("cluster"), col("e").as("c"))
    for (_ <- 1 to iters) {
      cent = assign(cent)
        .select(col("vec_id"), col("cluster"), posexplode(col("e")).as(Seq("pos", "x")))
        .select(col("cluster"), col("pos"), (col("vec_id") % 1024).as("sb"), col("x"))
        .groupBy(col("cluster"), col("pos"), col("sb"))
        .agg(count(lit(1)).as("sub_n"), sortedSum(col("x")).as("sub_s"))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(sortedSum(col("sub_s")) / sum(col("sub_n")), 9).as("cm"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pc"))
        .select(col("cluster"), transform(col("pc"), x => x.getField("cm")).as("c"))
        .localCheckpoint(true)
    }
    (vecs, cent, assign)
  }

  private def refLloyd(emb: DataFrame, k: Int, dims: Int, iters: Int): DataFrame = {
    val (_, cent, assign) = refFit(emb, k, dims, iters)
    assign(cent).select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))
  }

  private def refSilhouette(emb: DataFrame, k: Int, dims: Int, iters: Int): DataFrame = {
    val (vecs, cent, assign) = refFit(emb, k, dims, iters)
    val own = assign(cent).select(col("vec_id"), col("cluster").as("own_cluster"))
    val dAll = vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cluster"), round(sqrt(sqdist), 9).as("d"))
    dAll.join(own, "vec_id")
      .groupBy("vec_id", "own_cluster")
      .agg(min(when(col("cluster") === col("own_cluster"), col("d"))).as("a"),
        min(when(col("cluster") =!= col("own_cluster"), col("d"))).as("b"))
      .select(col("own_cluster"),
        when(greatest(col("a"), col("b")) > 0,
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
          .otherwise(lit(0.0)).as("s"))
      .groupBy(col("own_cluster").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(expr("CAST(round(s * 1000000) AS BIGINT)")).cast("double")
          / count(lit(1)) / 1000000.0, 6).as("mean_silhouette"))
  }

  /** One generated case: rows of (vec_id, embedding) and the fit's knobs. */
  private final case class Case(rows: Seq[(Long, Option[Seq[Option[Float]]])],
                                k: Int, dims: Int, iters: Int) {
    def frame: DataFrame = rows.toDF("vec_id", "embedding").repartition(3)
  }

  /** Small integers make duplicate vectors and exact distance ties
    * between centroids common; a constant dimension, short and long
    * vectors, null elements, null vectors and (optionally) NaN cover the
    * sort-order edges. */
  private def genCase(withNaN: Boolean): Gen[Case] = for {
    n <- Gen.choose(0, 60)
    dims <- Gen.choose(2, 4)
    k <- Gen.choose(1, 8)
    iters <- Gen.choose(1, 3)
    constDim <- Gen.option(Gen.choose(0, dims - 1))
    ids <- Gen.pick(n, 0L until (n + 6).toLong).map(_.toSeq)
    value = Gen.frequency(Seq(
      (12, Gen.choose(-1, 3).map(_.toFloat)),
      (4, Gen.choose(-2.0f, 2.0f))) ++
      (if (withNaN) Seq((1, Gen.const(Float.NaN))) else Nil): _*)
    elem = Gen.frequency((30, value.map(Option(_))), (1, Gen.const(None)))
    vec = Gen.frequency(
      (10, Gen.listOfN(dims, elem)),
      (2, Gen.choose(0, dims + 1).flatMap(Gen.listOfN(_, elem)))).map { v =>
      v.zipWithIndex.map { case (x, i) => if (constDim.contains(i)) Some(1.0f) else x }
    }
    fresh <- Gen.listOfN(n, Gen.frequency((25, vec.map(Option(_))), (1, Gen.const(None))))
    dupOf <- Gen.listOfN(n,
      Gen.frequency((3, Gen.const(-1)), (1, Gen.choose(0, math.max(n - 1, 0)))))
  } yield {
    // a row pointing at an earlier row repeats its vector
    val embs = fresh.indices.map(i => fresh(if (dupOf(i) >= 0 && dupOf(i) < i) dupOf(i) else i))
    Case(ids.zip(embs), k, dims, iters)
  }

  /** Hand-picked edges: empty frame, k > n, a vector exactly between two
    * centroids, duplicate initial centroids (the second cluster empties
    * after the first round), null elements and vectors, and NaN. */
  private def edges(withNaN: Boolean): Seq[Case] = {
    def v(xs: Float*) = Some(xs.map(Option(_)))
    val nan = Case(Seq(0L -> v(0f, 0f), 1L -> v(Float.NaN, 1f), 2L -> v(3f, 3f),
      3L -> v(1f, Float.NaN)), 3, 2, 2)
    (if (withNaN) Seq(nan) else Nil) ++ Seq(
      Case(Nil, 4, 2, 3),
      Case(Seq(0L -> v(0f, 0f), 1L -> v(1f, 1f)), 5, 2, 3),
      Case(Seq(0L -> v(0f, 0f), 1L -> v(2f, 0f), 2L -> v(1f, 0f), 3L -> v(1f, 5f)), 2, 2, 2),
      Case(Seq(0L -> v(1f, 1f), 1L -> v(1f, 1f), 2L -> v(3f, 3f), 3L -> v(4f, 4f)), 3, 2, 3),
      Case(Seq(0L -> v(0f, 0f), 1L -> None, 2L -> Some(Seq(None, Some(1f))),
        3L -> v(2f, 2f), 4L -> v(1f)), 3, 2, 2))
  }

  private def bits(df: DataFrame): Seq[(Long, Long, Option[Long])] =
    df.as[(Long, Long, Option[Double])].collect().toSeq
      .map { case (a, b, d) => (a, b, d.map(java.lang.Double.doubleToLongBits)) }.sorted

  private def check(name: String, withNaN: Boolean, trials: Int)(
      fit: Case => DataFrame, ref: Case => DataFrame): Unit = {
    def same(c: Case): Prop = {
      val got = bits(fit(c))
      val want = bits(ref(c))
      CacheTracker.drainAll(spark)
      Prop(got == want) :| s"$name on $c:\n  got  $got\n  want $want"
    }
    edges(withNaN).foreach { c =>
      val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(1), same(c))
      assert(r.passed, r.status.toString)
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(trials),
      Prop.forAllNoShrink(genCase(withNaN))(same))
    assert(res.passed, res.status.toString)
  }

  test("kmeansLloyd equals the window chain on generated frames") {
    check("kmeansLloyd", withNaN = true, trials = 20)(
      c => Similarity.kmeansLloyd(c.frame, c.k, c.dims, c.iters),
      c => refLloyd(c.frame, c.k, c.dims, c.iters))
  }

  // a NaN distance fails both sides alike (a NaN silhouette cannot be
  // cast to BIGINT), so these frames carry nulls but no NaN
  test("kmeansSilhouette equals the window chain on generated frames") {
    check("kmeansSilhouette", withNaN = false, trials = 12)(
      c => Similarity.kmeansSilhouette(c.frame, c.k, c.dims, c.iters),
      c => refSilhouette(c.frame, c.k, c.dims, c.iters))
  }
}
