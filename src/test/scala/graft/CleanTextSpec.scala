package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.operators.TextOps

/** The one-pass CleanText kernel against the regexp_replace chain it
  * replaced, rebuilt here from TextOps' patterns: equal on every input,
  * through the codegen path and through the interpreted path. */
class CleanTextSpec extends SparkSpec {
  import spark.implicits._

  private def regexChain(c: Column): Column =
    trim(
      regexp_replace(
        lower(
          regexp_replace(
            regexp_replace(
              regexp_replace(regexp_replace(c, TextOps.UrlRe, ""), TextOps.TagRe, ""),
              TextOps.DigitRe, ""),
            TextOps.NonLetterRe, " ")),
        TextOps.WsRe, " "))

  private def utf8(ss: String*): Seq[Array[Byte]] = ss.map(_.getBytes(UTF_8))

  /** Fragments chosen to hit every rule's edges: URL prefixes that do and
    * do not match, tag bytes, digits, `\w` vs letters, each whitespace
    * byte of `\s`, and bytes that are not ASCII at all. */
  private val fragment: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.oneOf(utf8("http://", "HTTPS://", "hTtP://", "https://", "www.", "WWW.", "wWw.",
      "httpss://", "http:/", "https:/", "http", "ww.", "www", "://")),
    3 -> Gen.oneOf(utf8("@", "#", "&", "_", "&amp;")),
    2 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString.getBytes(UTF_8)),
    4 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.alphaChar)).map(_.mkString.getBytes(UTF_8)),
    4 -> Gen.oneOf(utf8(" ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\r\n")),
    2 -> Gen.oneOf(utf8(".", ",", "!", "?", ":", "/", "-", "'", "\"", "(", ")", "[", "`", "{",
      "~", "\u0000", "\u001F", "\u007F")),
    1 -> Gen.oneOf(utf8("é", "ß", "Ñ", " ", "\u0085", "ſ", "K")),
    1 -> Gen.oneOf(utf8("中文", "日本語", "　")),
    1 -> Gen.oneOf(utf8("😀", "👍🏽")),
    1 -> Gen.oneOf(Seq(Array(0x80), Array(0xC3), Array(0xE2, 0x82), Array(0xFF),
      Array(0xED, 0xA0, 0x80), Array(0xC0, 0xAF), Array(0xF0, 0x9F, 0x98))
      .map(_.map(_.toByte))))

  private val text: Gen[Array[Byte]] =
    Gen.choose(0, 24).flatMap(Gen.listOfN(_, fragment)).map(_.toArray.flatten)

  /** Rows whose kernel output differs from the chain's, as
    * (input, kernel, chain) with the input's bytes in hex. */
  private def mismatches(texts: Seq[Option[Array[Byte]]]): Seq[(String, String, String)] =
    spark.sparkContext.parallelize(texts, 2).toDF("b")
      .select(col("b").cast("string").as("s"))
      .select(col("s"), TextOps.cleanText(col("s")).as("kernel"), regexChain(col("s")).as("chain"))
      .as[(String, String, String)].collect().toSeq
      .filter { case (_, k, c) => k != c }
      .map { case (s, k, c) =>
        (Option(s).map(_.getBytes(UTF_8).map(b => f"${b & 0xff}%02x").mkString(" ")).orNull, k, c)
      }

  private def withCodegen(on: Boolean)(body: => Unit): Unit = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> on.toString,
      "spark.sql.codegen.factoryMode" -> (if (on) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((path, on) <- Seq("codegen" -> true, "interpreted" -> false)) {
    test(s"CleanText equals the regex chain on generated text ($path)") {
      withCodegen(on) {
        val batch = Prop.forAll(Gen.listOfN(400, text)) { texts =>
          val bad = mismatches(texts.map(Some(_)))
          Prop(bad.isEmpty) :| s"mismatches: ${bad.take(5)}"
        }
        val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(5), batch)
        assert(res.passed, res.status.toString)
      }
    }

    test(s"CleanText on null, empty and hand-picked edges ($path)") {
      withCodegen(on) {
        val edges = Seq(None, Some(""), Some("www."), Some("www.x"), Some("wwww.x y"),
          Some("@www.x.com z"), Some("@xwww.y"), Some("#abchttp://x"), Some("a@1b c"),
          Some("1http://x"), Some("https:// x"), Some("h1ttp://x"), Some("ab@cd@!ef"),
          Some("It is 42!!!  REALLY,   ok?"), Some("\u000Bwww.\u000Bx"))
        val bad = mismatches(edges.map(_.map(_.getBytes(UTF_8))))
        assert(bad.isEmpty, s"mismatches: $bad")
      }
    }
  }
}
