package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Exact running sum of doubles: the finite inputs as the integer
  * `mant · 2^exp`, the non-finite ones as a plain double (NaN and ±Inf
  * arithmetic does not depend on order). Every finite double is an
  * integer multiple of 2^-1074 below 2^1024, so `mant` never needs more
  * than ~2100 bits plus log2(rows): the state is bounded by the double
  * exponent range, not by the group size. */
final class ExactSumBuffer(var mant: BigInteger, var exp: Int, var nonFinite: Double) {

  def add(x: Double): Unit =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) nonFinite += x
    else if (x != 0.0) {
      val bits = java.lang.Double.doubleToRawLongBits(x)
      val biased = ((bits >>> 52) & 0x7ffL).toInt
      val frac = bits & 0xfffffffffffffL
      val m = if (biased == 0) frac else frac | (1L << 52)
      val tz = java.lang.Long.numberOfTrailingZeros(m)
      val e = math.max(biased, 1) - 1075 + tz
      addScaled(BigInteger.valueOf(if (bits < 0) -(m >>> tz) else m >>> tz), e)
    }

  def merge(o: ExactSumBuffer): Unit = {
    nonFinite += o.nonFinite
    if (o.mant.signum != 0) addScaled(o.mant, o.exp)
  }

  private def addScaled(m: BigInteger, e: Int): Unit =
    if (mant.signum == 0) { mant = m; exp = e }
    else if (e >= exp) mant = mant.add(m.shiftLeft(e - exp))
    else { mant = mant.shiftLeft(exp - e).add(m); exp = e }

  /** The correctly rounded double of the exact sum; a NaN or infinite
    * input decides the result on its own. */
  def result: Double =
    if (nonFinite != 0.0) nonFinite
    else if (mant.signum == 0) 0.0
    else {
      val bits = mant.bitLength
      // a long converts to double with one round-to-nearest-even, and
      // scaling a normal double by 2^exp is exact
      if (bits < 64 && exp + bits - 1 >= -1022 && exp + bits <= 1023)
        java.lang.Math.scalb(mant.longValue.toDouble, exp)
      else if (exp >= 0) new JBigDecimal(mant.shiftLeft(exp)).doubleValue
      else new JBigDecimal(mant.multiply(BigInteger.valueOf(5).pow(-exp)), -exp).doubleValue
    }
}

/** `graft_exact_sum(x)`: the exact sum of a double column (the caller
  * casts, see `Folds.exactSum`), rounded once.
  *
  * The result is the correctly rounded double of the mathematically
  * exact sum, so it is bit-identical under any partitioning, row order
  * or merge order, and partial aggregation is safe. Nulls are skipped;
  * an empty or all-null group gives 0.0; any NaN gives NaN; +Inf with
  * -Inf gives NaN; the result is never null. */
case class ExactSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactSumBuffer] with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_exact_sum"

  override def createAggregationBuffer(): ExactSumBuffer =
    new ExactSumBuffer(BigInteger.ZERO, 0, 0.0)

  override def update(buffer: ExactSumBuffer, input: InternalRow): ExactSumBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: ExactSumBuffer, input: ExactSumBuffer): ExactSumBuffer = {
    buffer.merge(input)
    buffer
  }

  override def eval(buffer: ExactSumBuffer): Any = buffer.result

  override def serialize(buffer: ExactSumBuffer): Array[Byte] = {
    val m = buffer.mant.toByteArray
    ByteBuffer.allocate(12 + m.length)
      .putDouble(buffer.nonFinite).putInt(buffer.exp).put(m).array()
  }

  override def deserialize(bytes: Array[Byte]): ExactSumBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val nonFinite = bb.getDouble
    val exp = bb.getInt
    new ExactSumBuffer(new BigInteger(bytes, 12, bytes.length - 12), exp, nonFinite)
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}
