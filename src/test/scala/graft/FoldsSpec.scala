package graft

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.operators.{Dedup, Folds, Similarity, TextOps}

/** `Folds.exactSum` on generated groups: bit-identical under any
  * partitioning and row order, equal to the correctly rounded BigDecimal
  * sum, and the null/empty/NaN/Inf contract. Then the operators it
  * serves, pinned against the one-level sorted fold they used before,
  * and the edit-distance length-gate prefilter. */
class FoldsSpec extends SparkSpec {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** The contract, computed on the driver: NaN if any NaN or both
    * infinities, else the infinity if any, else the correctly rounded
    * exact sum of the finite values (0.0 for none). */
  private def reference(xs: Seq[Option[Double]]): Double = {
    val vs = xs.flatten
    val inf = vs.filter(_.isInfinite)
    if (vs.exists(_.isNaN) || inf.distinct.size > 1) Double.NaN
    else if (inf.nonEmpty) inf.head
    else vs.foldLeft(JBigDecimal.ZERO)((a, x) => a.add(new JBigDecimal(x))).doubleValue + 0.0
  }

  /** Values across the whole double range: magnitudes 1e-300 to 1e300,
    * values near 1e12, small integers, signed zeros and non-finites. */
  private val value: Gen[Double] = Gen.frequency(
    6 -> (for { m <- Gen.choose(-1.0, 1.0); e <- Gen.choose(-300, 300) } yield m * math.pow(10, e)),
    4 -> Gen.choose(-1e12, 1e12).map(x => 1e12 + x * 1e-3),
    4 -> Gen.choose(-3, 3).map(_.toDouble),
    2 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MaxValue, Double.MaxValue),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  /** A group: values, each exactly cancelled with some probability, and
    * nulls; non-finite values are rare so most groups are finite. */
  private val group: Gen[Seq[Option[Double]]] = for {
    n <- Gen.choose(0, 30)
    xs <- Gen.listOfN(n, value)
    cancel <- Gen.listOfN(n, Gen.frequency(3 -> false, 1 -> true))
    nulls <- Gen.choose(0, 3)
  } yield {
    val finite = xs.zip(cancel).flatMap { case (x, c) => if (c) Seq(x, -x) else Seq(x) }
    val noNonFinite = finite.filterNot(x => x.isNaN || x.isInfinite)
    // keep most groups finite: non-finite values only in one group of four
    (if (n % 4 == 0) finite else noNonFinite).map(Option(_)) ++ Seq.fill(nulls)(None)
  }

  private val schema = StructType(Seq(StructField("g", LongType), StructField("x", DoubleType)))

  private def frame(groups: Seq[Seq[Option[Double]]], seed: Long): DataFrame = {
    val rows = groups.zipWithIndex.flatMap { case (xs, g) =>
      xs.map(x => Row(g.toLong, x.map(Double.box).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(
      new scala.util.Random(seed).shuffle(rows), 3), schema)
  }

  private def sums(df: DataFrame): Map[Long, Long] =
    df.groupBy("g").agg(Folds.exactSum(col("x")).as("s"))
      .as[(Long, Double)].collect().map { case (g, s) => g -> bits(s) }.toMap

  test("exactSum is bit-identical across partitionings and equals the BigDecimal sum") {
    val prop = Prop.forAllNoShrink(Gen.choose(1, 12).flatMap(Gen.listOfN(_, group))) { groups =>
      val one = sums(frame(groups, 1).repartition(1))
      val seven = sums(frame(groups, 2).repartition(7))
      val want = groups.zipWithIndex.collect {
        case (xs, g) if xs.nonEmpty => g.toLong -> bits(reference(xs))
      }.toMap
      val bad = want.keys.toSeq.sorted.filter(g => one.get(g) != Some(want(g)))
        .map(g => (groups(g.toInt), java.lang.Double.longBitsToDouble(one(g)),
          java.lang.Double.longBitsToDouble(want(g))))
      (Prop(one == seven) :| s"partitionings differ: $one vs $seven") &&
        (Prop(bad.isEmpty) :| s"(group, got, want): ${bad.take(3)}")
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("exactSum null, empty, signed-zero, NaN and infinity semantics") {
    val groups = Seq(
      Seq(None, None),                                          // all null -> 0.0
      Seq(Some(-0.0), Some(-0.0)),                              // -> +0.0
      Seq(Some(1.0), Some(Double.NaN), None),                   // NaN
      Seq(Some(Double.PositiveInfinity), Some(Double.NegativeInfinity)),
      Seq(Some(Double.PositiveInfinity), Some(-Double.MaxValue), Some(1.0)),
      Seq(Some(Double.NegativeInfinity), Some(2.0)),
      Seq(Some(Double.MaxValue), Some(Double.MaxValue)),        // rounds to +Inf
      Seq(Some(1e300), Some(1.0), Some(-1e300)),                // exactly 1.0
      Seq(Some(0.1), Some(0.2), Some(0.3)),
      Seq(Some(Double.MinPositiveValue), Some(Double.MinPositiveValue)))
    val got = sums(frame(groups, 3).repartition(4))
    groups.zipWithIndex.foreach { case (xs, g) =>
      assert(got(g.toLong) === bits(reference(xs)), s"group $g: $xs")
    }
    assert(got(0L) === bits(0.0) && got(1L) === bits(0.0))
    assert(got(7L) === bits(1.0))
    assert(got(8L) === bits(0.6) && 0.1 + 0.2 + 0.3 != 0.6)
    // empty input: one row, 0.0; the result column is never null
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .agg(Folds.exactSum(col("x")).as("s"))
    assert(!empty.schema("s").nullable)
    assert(empty.as[Double].collect().toSeq === Seq(0.0))
    // integral and decimal inputs are cast to double
    val ints = Seq((1, 3L, BigDecimal("0.25")), (1, 4L, BigDecimal("0.5"))).toDF("g", "l", "d")
      .groupBy("g").agg(Folds.exactSum(col("l")).as("l"), Folds.exactSum(col("d")).as("d"))
      .as[(Int, Double, Double)].collect().toSeq
    assert(ints === Seq((1, 7.0, 0.75)))
  }

  test("exactSum over a window and past the hash-aggregate fallback") {
    // 400 keys over 2 partitions pass the object hash aggregate's
    // sort-based fallback threshold (128 keys), which merges
    // serialized buffers
    val rnd = new scala.util.Random(5)
    val groups = Seq.fill(400)(Seq.fill(3)(Some(rnd.nextGaussian() * math.pow(10, rnd.nextInt(40) - 20))))
    val got = sums(frame(groups, 4).repartition(2))
    groups.zipWithIndex.foreach { case (xs, g) =>
      assert(got(g.toLong) === bits(reference(xs)), s"group $g: $xs")
    }
    val w = Window.partitionBy("g")
    val windowed = frame(groups.take(20), 5)
      .select(col("g"), Folds.exactSum(col("x")).over(w).as("s"))
      .as[(Long, Double)].collect()
    assert(windowed.length === 60)
    windowed.foreach { case (g, s) => assert(bits(s) === got(g), s"window group $g") }
  }

  private def randEmb(n: Int, dims: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map { i =>
      (i, Seq.fill(dims)(rnd.nextFloat() * 2 - 1), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  test("embedCentroids exact mean matches the one-level sorted fold at 6 dp") {
    val emb = randEmb(3000, 4)
    val exact = Similarity.embedCentroids(emb)
      .select("label", "dim", "n_vecs", "centroid")
      .as[(Int, Long, Long, Double)].collect().toSet
    val one = emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("x").cast("double").as("x"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        round(aggregate(sort_array(collect_list(col("x"))), lit(0.0),
          (a, b) => a + b) / count(lit(1)), 6).as("centroid"))
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(exact === one)
  }

  test("embedCovariance exact sums match the one-level sorted fold at 6 dp") {
    val emb = randEmb(2500, 8)
    val exact = Similarity.embedCovariance(emb)
      .select("dim_i", "dim_j", "n_vecs", "cov")
      .as[(Long, Long, Long, Double)].collect().toSet
    def oneSum(c: org.apache.spark.sql.Column) =
      aggregate(sort_array(collect_list(c)), lit(0.0), (a, b) => a + b)
    val cells = for (i <- 1 to 8; j <- i to 8) yield
      struct(lit(i.toLong).as("dim_i"), lit(j.toLong).as("dim_j"),
        element_at(col("embedding"), i).cast("double").as("x"),
        element_at(col("embedding"), j).cast("double").as("y"))
    val one = emb.select(explode(array(cells: _*)).as("c"))
      .select(col("c.dim_i"), col("c.dim_j"), col("c.x"), col("c.y"))
      .groupBy("dim_i", "dim_j")
      .agg(count(lit(1)).as("n_vecs"),
        round(oneSum(col("x") * col("y")) / count(lit(1))
          - (oneSum(col("x")) / count(lit(1)))
          * (oneSum(col("y")) / count(lit(1))), 6).as("cov"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exact === one)
  }

  test("embedStandardize and qualityByLengthDecile are partitioning-independent") {
    val emb = randEmb(2000, 4)
    val a = Similarity.embedStandardize(emb.repartition(1))
      .as[(Long, Long, Double, Double)].collect().toSet
    val b = Similarity.embedStandardize(emb.repartition(13))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(a === b && a.nonEmpty)
    val rnd = new scala.util.Random(11)
    val docs = (1L to 2000L).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(8))("w" + rnd.nextInt(50)).mkString(" ")
      (i, words, "en", "src" + (i % 4), words.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val qa = TextOps.qualityByLengthDecile(docs.repartition(1))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val qb = TextOps.qualityByLengthDecile(docs.repartition(13))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(qa === qb && qa.size === 10)
  }

  test("editDistancePairs length-gate: output unchanged, gate evaluates before levenshtein") {
    // (1, 2): the GraphSpec near-dup construction — one token changed in
    // 50 → deterministic band collision, tiny Δlen, survives the gate.
    // (3, 4): IDENTICAL shingle set (a single repeated token yields one
    // distinct trigram no matter the repetition count), so the minhash
    // signatures are equal and the band join MUST propose the pair — a
    // 20x length difference only the gate stops; the ungated shape would
    // have paid a 39x799-cell levenshtein before discarding it on the
    // same bound (lev >= |Δlen|), so the output set is provably unchanged.
    val toks = for (a <- 'a' to 'h'; b <- 'a' to 'g') yield s"$a$b"
    val base = toks.take(50).mkString(" ")
    val variant = (toks.take(49) :+ "zz").mkString(" ")
    val d = Seq(
      (1L, base), (2L, variant),
      (3L, Seq.fill(10)("foo").mkString(" ")),
      (4L, Seq.fill(200)("foo").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(d)
    val rows = out.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    // surviving pair's values agree with a direct levenshtein
    val cleaned = d.filter(col("doc_id") <= 2).orderBy("doc_id")
      .select(TextOps.cleanText(col("text")).as("c")).as[String].collect()
    val direct = spark.range(1)
      .select(levenshtein(lit(cleaned(0)), lit(cleaned(1))).cast("long"))
      .as[Long].head()
    val r = rows.head
    assert(r.getLong(2) === direct)
    assert(r.getLong(3) === math.max(cleaned(0).length, cleaned(1).length).toLong)
    assert(r.getDouble(4) === math.round(direct.toDouble / r.getLong(3) * 1e6) / 1e6)
    // plan shape: the length gate exists, and wherever CombineFilters
    // merged it with the pushed-down norm predicate, the gate's abs()
    // term sits LEFT of levenshtein — And short-circuits left-to-right,
    // so the distance is never computed for gate-rejected pairs
    // the gate may end up as a Filter node or pushed into a join's
    // non-equi condition — scan both
    val conds = out.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.toString
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.isDefined => j.condition.get.toString
    }
    val gates = conds.filter(_.contains("abs("))
    assert(gates.nonEmpty, s"length gate missing from: $conds")
    gates.foreach { c =>
      val li = c.indexOf("levenshtein")
      assert(li < 0 || c.indexOf("abs(") < li, s"gate not left of levenshtein: $c")
    }
  }

  test("nano-unit long sum equals the exact BigDecimal sum at 6 dp HALF_UP " +
      "(the docEmbedHash / topicLabels identity)") {
    // precondition of the rewrite: inputs are 6 dp-rounded doubles, so
    // x·1e9 is an exact integer hit exactly by one double multiply, and
    // group sums are multiples of 1000 nanos (the ±500 div is exact)
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(500)(BigDecimal(rnd.nextDouble() * 2000 - 1000)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) ++
      Seq(0.000001, -0.000001, 999999.999999, -999999.999999, 0.0)
    val data = vals.zipWithIndex.map { case (v, i) => (i % 7, v) }
    val df = data.toDF("g", "x")
    // per-value: the Spark-side nanos conversion is exactly the decimal
    val nanos = df.select(col("x"), round(col("x") * lit(1e9)).cast("long").as("n"))
      .collect()
    nanos.foreach { r =>
      val want = BigDecimal.valueOf(r.getDouble(0))
        .bigDecimal.movePointRight(9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      assert(r.getLong(1) === want, s"nanos(${r.getDouble(0)})")
    }
    // per-group: the integer-space HALF_UP chain equals the exact sum
    val got = df.select(col("g"), round(col("x") * lit(1e9)).cast("long").as("n"))
      .groupBy("g")
      .agg((expr("(sum(n) + if(sum(n) >= 0, 500L, -500L)) div 1000")
        .cast("double") / lit(1e6)).as("v"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val want = data.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(v => BigDecimal.valueOf(v._2)).sum
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got === want)
  }
}
