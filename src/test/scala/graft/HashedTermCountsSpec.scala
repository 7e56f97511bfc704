package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.operators.TextOps

/** The one-pass term-count kernel against ml's `RegexTokenizer("\\s+")` +
  * `HashingTF` over `TextOps.cleanText` of the same text: the same sparse
  * vector (size, indices, values) on every input, through the codegen path
  * and through the interpreted path, at a width with collisions (7) and
  * at the widths the engine uses. */
class HashedTermCountsSpec extends SparkSpec {
  import spark.implicits._
  import CleanTextSpec.{text, withCodegen}

  private def sparse(v: Vector): (Int, Seq[Int], Seq[Double]) = v match {
    case s: SparseVector => (s.size, s.indices.toSeq, s.values.toSeq)
    case d => fail(s"expected a sparse vector, got $d")
  }

  /** Rows whose kernel vector differs from the ml pair's, as (input bytes
    * in hex, kernel, ml). ml's tokenizer throws on a null string, so a
    * null text is expected to give a null vector, as CleanText gives a
    * null string. */
  private def mismatches(texts: Seq[Option[Array[Byte]]], numFeatures: Int)
      : Seq[(String, Option[(Int, Seq[Int], Seq[Double])], Option[(Int, Seq[Int], Seq[Double])])] = {
    val docs = spark.sparkContext.parallelize(texts, 2).toDF("b")
      .select(col("b").cast("string").as("text"))
      .select(col("text"), TextOps.termCounts(col("text"), numFeatures).as("kernel"),
        coalesce(TextOps.cleanText(col("text")), lit("")).as("clean"))
    val words = new RegexTokenizer().setInputCol("clean").setOutputCol("words").setPattern("\\s+")
    val ml = new HashingTF().setInputCol("words").setOutputCol("ml").setNumFeatures(numFeatures)
    ml.transform(words.transform(docs)).select("text", "kernel", "ml").collect().toSeq
      .map { r =>
        val kernel = Option(r.getAs[Vector](1)).map(sparse)
        val expected = Option(r.getString(0)).map(_ => sparse(r.getAs[Vector](2)))
        (r.getString(0), kernel, expected)
      }
      .filter { case (_, k, e) => k != e }
      .map { case (s, k, e) =>
        (Option(s).map(_.getBytes(UTF_8).map(b => f"${b & 0xff}%02x").mkString(" ")).orNull, k, e)
      }
  }

  private val widths = Seq(7, 1 << 16, 1 << 18)

  for ((path, on) <- Seq("codegen" -> true, "interpreted" -> false)) {
    test(s"term counts equal RegexTokenizer + HashingTF over CleanText on generated text ($path)") {
      withCodegen(spark, on) {
        for (n <- widths) {
          val batch = Prop.forAllNoShrink(Gen.listOfN(300, text)) { texts =>
            val bad = mismatches(texts.map(Some(_)), n)
            Prop(bad.isEmpty) :| s"numFeatures $n, mismatches: ${bad.take(5)}"
          }
          val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(4), batch)
          assert(res.passed, res.status.toString)
        }
      }
    }

    test(s"term counts on null, empty, single and repeated tokens ($path)") {
      withCodegen(spark, on) {
        val edges = Seq(None, Some(""), Some("   "), Some("!!! 42 @user"), Some("abc"),
          Some("Good"), Some("good good GOOD good"), Some("a b a b a"),
          Some("cat kitten purr whisker meow cat cat engine shuffle parquet column codegen"),
          Some(" www.x.org  tabs\tand\nlines\r\nOK ok Ok "),
          Some((1 to 200).map(i => "w" + "x" * (i % 11)).mkString(" ")))
        for (n <- widths) {
          val bad = mismatches(edges.map(_.map(_.getBytes(UTF_8))), n)
          assert(bad.isEmpty, s"numFeatures $n, mismatches: $bad")
        }
      }
    }
  }

  test("the struct form carries the vector's indices and values") {
    val row = Seq("b a b c b").toDF("text")
      .select(TextOps.termCounts(col("text"), 1 << 18).as("v"),
        TextOps.termCounts(col("text"), 1 << 18, asStruct = true).as("s"))
      .select(col("v"), col("s.size"), col("s.indices"), col("s.values"))
      .as[(Vector, Int, Seq[Int], Seq[Double])].head()
    assert(sparse(row._1) === ((row._2, row._3, row._4)))
    assert(row._4.sorted === Seq(1.0, 1.0, 3.0))
  }
}
