package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.{ColumnShim => ExpressionUtils}

/** Column-API and SQL registration for graft's native expressions. */
object GraftFunctions {

  /** cosine similarity as a typed Column (no registry needed). */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Unicode accent-strip normalization as a typed Column. */
  def normalize(c: Column): Column =
    ExpressionUtils.column(UnicodeNormalize(ExpressionUtils.expression(c)))

  /** Morton (z-order) interleave as a typed Column. */
  def morton(x: Column, y: Column): Column =
    ExpressionUtils.column(
      MortonInterleave(ExpressionUtils.expression(x), ExpressionUtils.expression(y)))

  /** Hilbert-curve index as a typed Column. */
  def hilbert(x: Column, y: Column): Column =
    ExpressionUtils.column(
      HilbertIndex(ExpressionUtils.expression(x), ExpressionUtils.expression(y)))

  /** Jaro-Winkler similarity as a typed Column. */
  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(
      JaroWinkler(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Sorted-distinct-array Jaccard as a typed Column. */
  def jaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedArrayJaccard(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Sorted-entry-array sparse dot product as a typed Column. */
  def sortedDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Token-array LCS length as a typed Column. */
  def lcsLen(a: Column, b: Column): Column =
    ExpressionUtils.column(
      LcsLength(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Token-array word-level Levenshtein distance as a typed Column. */
  def wordLev(a: Column, b: Column): Column =
    ExpressionUtils.column(
      WordLevenshtein(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Exponential-race weighted-MinHash signature as a typed Column. */
  def wminhashSig(tokens: Column, numHashes: Int): Column =
    ExpressionUtils.column(
      WeightedMinHashSig(ExpressionUtils.expression(tokens), numHashes))

  /** Fold the numHashes argument to Int with a clear error: a foldable
    * non-INT literal (CAST(16 AS BIGINT), a smallint) must raise the
    * documented IllegalArgumentException, not a ClassCastException from a
    * blind asInstanceOf at analysis time. */
  private[functions] def evalNumHashes(e: Expression): Int = {
    val v = if (e.foldable) e.eval() else null
    v match {
      case i: Int => i
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case _ => throw new IllegalArgumentException(
        "graft_wminhash_sig numHashes must be a literal integer")
    }
  }

  /** Single-pass 32-bit SimHash fingerprint as a typed Column. */
  def simhash(tokens: Column): Column =
    ExpressionUtils.column(SimHash32(ExpressionUtils.expression(tokens)))

  /** Single-pass L2 unit-normalize (9-dp components) as a typed Column. */
  def unitNorm(embedding: Column): Column =
    ExpressionUtils.column(UnitNormalize(ExpressionUtils.expression(embedding)))

  /** Every SQL function graft provides: (name, info, builder), read by
    * both [[register]] and [[GraftExtensions]]. */
  private[graft] val Functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_], arity: Int, args: String = "")(
        build: Seq[Expression] => Expression) = {
      val expects =
        if (args.nonEmpty) s"$name expects $args"
        else s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}"
      (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, expects)
          build(children)
        })
    }
    Seq(
      fn("graft_cosine", classOf[CosineSimilarity], 2)(c => CosineSimilarity(c(0), c(1))),
      fn("graft_normalize", classOf[UnicodeNormalize], 1)(c => UnicodeNormalize(c(0))),
      fn("graft_morton", classOf[MortonInterleave], 2)(c => MortonInterleave(c(0), c(1))),
      fn("graft_jaro_winkler", classOf[JaroWinkler], 2)(c => JaroWinkler(c(0), c(1))),
      fn("graft_hilbert", classOf[HilbertIndex], 2)(c => HilbertIndex(c(0), c(1))),
      fn("graft_jaccard", classOf[SortedArrayJaccard], 2)(c => SortedArrayJaccard(c(0), c(1))),
      fn("graft_lcs_len", classOf[LcsLength], 2)(c => LcsLength(c(0), c(1))),
      fn("graft_sorted_dot", classOf[SortedDot], 2)(c => SortedDot(c(0), c(1))),
      fn("graft_word_lev", classOf[WordLevenshtein], 2)(c => WordLevenshtein(c(0), c(1))),
      fn("graft_wminhash_sig", classOf[WeightedMinHashSig], 2, "(tokens, numHashes)")(
        c => WeightedMinHashSig(c(0), evalNumHashes(c(1)))),
      fn("graft_simhash", classOf[SimHash32], 1)(c => SimHash32(c(0))),
      fn("graft_unit_norm", classOf[UnitNormalize], 1)(c => UnitNormalize(c(0))))
  }

  /** Imperative registration so `spark.sql("SELECT graft_cosine(a, b)")`
    * works on an existing session (e.g. the driver-created one). */
  def register(spark: SparkSession): Unit = Functions.foreach { case (id, info, build) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, build)
  }
}

/** Config-time injection: `.config("spark.sql.extensions",
  * "graft.functions.GraftExtensions")` — the (c) extension path from
  * SURVEY.md §3 for deployments that can't call register() imperatively. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.Functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewriteRule)
  }
}
