package graft.functions

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** ml's `RegexTokenizer("\\s+")` + `HashingTF(numFeatures)` over
  * [[CleanText]]'s output, in one pass over its bytes: the sparse
  * term-count vector of the document, with no per-token String, boxed
  * map or `Seq` sort.
  *
  * BIT-IDENTICAL to the ml pair on cleaned text (HashedTermCountsSpec
  * pins it by property test). CleanText's output is ASCII letter runs,
  * lowercased, joined by single spaces, so the `\s+` split is a split at
  * the space byte and the tokenizer's lowercasing changes nothing. Each
  * token's bytes are hashed in place with
  * `Murmur3_x86_32.hashUnsafeBytes2(…, 42)`, which is what ml's
  * `FeatureHasher.murmur3Hash` computes for a String (SQL `hash()` uses
  * the older `hashUnsafeBytes`, which differs for every token whose byte
  * length is not a multiple of 4), then taken `nonNegativeMod
  * numFeatures`. The vector has sorted indices and counts as doubles.
  *
  * The input must be CleanText's output (other text is split at the
  * space byte only, and hashed as it is). Null in, null out; a document
  * with no token is the empty vector. With `asStruct` the value is the
  * same internal row typed as VectorUDT's `sqlType`, so a query can read
  * its `indices` and `values` arrays as columns. */
case class HashedTermCounts(child: Expression, numFeatures: Int, asStruct: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"graft_hashed_term_counts expects a string input, got ${child.dataType.simpleString}")
    else if (numFeatures <= 0) TypeCheckResult.TypeCheckFailure(
      s"graft_hashed_term_counts needs numFeatures > 0, got $numFeatures")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    if (asStruct) HashedTermCounts.VectorStruct else SQLDataTypes.VectorType

  override def nullSafeEval(input: Any): Any =
    HashedTermCounts.compute(input.asInstanceOf[UTF8String], numFeatures)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedTermCounts.compute($c, $numFeatures)")

  override protected def withNewChildInternal(newChild: Expression): HashedTermCounts =
    copy(child = newChild)

  override def prettyName: String = "graft_hashed_term_counts"
}

object HashedTermCounts {

  /** VectorUDT's internal row type: (type, size, indices, values). */
  val VectorStruct: StructType =
    SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[_]].sqlType.asInstanceOf[StructType]

  /** ml HashingTF's seed (`FeatureHasher.seed`). */
  private val Seed = 42

  def compute(s: UTF8String, numFeatures: Int): InternalRow = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    // one bucket per token, in token order: at most one token per two bytes
    val buckets = new Array[Int]((n + 1) / 2)
    var tokens = 0
    var i = 0
    while (i < n) {
      while (i < n && s.getByte(i) == ' ') i += 1
      val start = i
      while (i < n && s.getByte(i) != ' ') i += 1
      if (i > start) {
        val h = Murmur3_x86_32.hashUnsafeBytes2(base, offset + start, i - start, Seed) % numFeatures
        buckets(tokens) = if (h < 0) h + numFeatures else h
        tokens += 1
      }
    }
    java.util.Arrays.sort(buckets, 0, tokens)
    var distinct = 0
    var k = 0
    while (k < tokens) {
      if (k == 0 || buckets(k) != buckets(k - 1)) distinct += 1
      k += 1
    }
    val indices = new Array[Int](distinct)
    val values = new Array[Double](distinct)
    var d = -1
    k = 0
    while (k < tokens) {
      if (k == 0 || buckets(k) != buckets(k - 1)) { d += 1; indices(d) = buckets(k) }
      values(d) += 1.0
      k += 1
    }
    val row = new GenericInternalRow(4)
    row.setByte(0, 0) // sparse
    row.setInt(1, numFeatures)
    row.update(2, UnsafeArrayData.fromPrimitiveArray(indices))
    row.update(3, UnsafeArrayData.fromPrimitiveArray(values))
    row
  }
}
