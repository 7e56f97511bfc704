package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference cleanup chain (NB.scala:53-59) in one pass over the
  * UTF-8 bytes: URL → mention/hashtag/entity tag → digit → non-letter →
  * lowercase → whitespace collapse → trim. It replaces a chain of five
  * `regexp_replace` calls (each decoding the row to a java String,
  * running a matcher and re-encoding) with one scan and one output
  * buffer, and stays inside whole-stage codegen like every graft
  * expression.
  *
  * BYTE-IDENTICAL to the regex chain over [[graft.operators.TextOps]]'
  * `UrlRe`/`TagRe`/`DigitRe`/`NonLetterRe`/`WsRe` (java.util.regex
  * defaults: ASCII-only `\s`, `\w`, `\d` and case folding); CleanTextSpec
  * pins it by property test, and `Oracles.clean` is the DuckDB twin. The
  * chain reduces to per-token rules, because no regex of it crosses
  * whitespace:
  *  - a URL (`http://`, `https://` or `www.`, any case, followed by at
  *    least one non-whitespace byte) cuts its whitespace-delimited token
  *    at the URL's first byte, since `\S+` runs to the token's end;
  *  - a tag is `@`, `#` or `&` followed by a run of `[A-Za-z0-9_]`, all
  *    dropped, the run ending early where a URL starts;
  *  - digits are dropped without splitting a word;
  *  - every other byte that is not an ASCII letter separates words,
  *    including every byte of a non-ASCII or invalid UTF-8 sequence (the
  *    chain turns each such code point, or replacement char, into a
  *    space, and the collapse makes their number irrelevant).
  * The output is the surviving letter runs, lowercased, joined by single
  * spaces: always ASCII, never longer than the input. */
case class CleanText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_clean_text expects a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    CleanText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CleanText =
    copy(child = newChild)

  override def prettyName: String = "graft_clean_text"
}

object CleanText {

  /** java.util.regex `\s`: space, \t, \n, \x0B, \f, \r. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 0x09 && b <= 0x0d)

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def isLetter(b: Byte): Boolean = (b | 0x20) >= 'a' && (b | 0x20) <= 'z'

  /** java.util.regex `\w`: [A-Za-z0-9_]. */
  private def isWord(b: Byte): Boolean = isLetter(b) || isDigit(b) || b == '_'

  /** ASCII case-insensitive match of lowercase `lit` at byte `i`. */
  private def at(s: UTF8String, n: Int, i: Int, lit: String): Boolean = {
    if (i + lit.length > n) return false
    var k = 0
    while (k < lit.length) {
      val b = s.getByte(i + k)
      val c = lit.charAt(k)
      if (b != c && !(c >= 'a' && c <= 'z' && (b | 0x20) == c)) return false
      k += 1
    }
    true
  }

  /** `(?i)(https?://\S+|www\.\S+)` matches at byte `i`. */
  private def urlAt(s: UTF8String, n: Int, i: Int): Boolean = {
    val b = s.getByte(i) | 0x20
    val prefix =
      if (b == 'h') {
        if (at(s, n, i, "http://")) 7 else if (at(s, n, i, "https://")) 8 else 0
      } else if (b == 'w' && at(s, n, i, "www.")) 4
      else 0
    prefix > 0 && i + prefix < n && !isSpace(s.getByte(i + prefix))
  }

  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var len = 0
    var gap = false // a separator was seen since the last emitted letter
    var inTag = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (isSpace(b)) {
        gap = true; inTag = false; i += 1
      } else if (urlAt(s, n, i)) {
        // the URL runs to the end of its token; what follows is whitespace
        gap = true; inTag = false
        while (i < n && !isSpace(s.getByte(i))) i += 1
      } else if (inTag && isWord(b)) {
        i += 1
      } else {
        inTag = false
        if (b == '@' || b == '#' || b == '&') {
          // a tag needs one word byte; a URL starting there still wins,
          // since the URL test above runs first at every byte
          if (i + 1 < n && isWord(s.getByte(i + 1))) inTag = true
          else gap = true
        } else if (isLetter(b)) {
          if (gap && len > 0) { out(len) = ' '; len += 1 }
          gap = false
          out(len) = (b | 0x20).toByte; len += 1
        } else if (!isDigit(b)) {
          gap = true
        }
        i += 1
      }
    }
    UTF8String.fromBytes(out, 0, len)
  }
}
