package graft.operators

import graft.functions.ExactSum
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnShim

/** The engine's one floating-point sum.
  *
  * Double addition is not associative, so a plain `sum` over a shuffled
  * frame gives partitioning-dependent low bits. [[exactSum]] adds the
  * inputs exactly and rounds once: the result is the correctly rounded
  * double of the exact sum, bit-identical under any partitioning, row
  * order or merge order. It aggregates partially like `sum`, and its
  * state is bounded by the double exponent range (a few hundred bytes),
  * not by the group size, so a group that grows with the corpus needs
  * nothing special.
  *
  * Contract: the input is cast to double; nulls are skipped; an empty or
  * all-null group gives 0.0; any NaN gives NaN; +Inf with -Inf gives NaN;
  * the result is never null. It works as a grouped aggregate and as a
  * window function.
  *
  * The DuckDB twins in `Oracles` keep the sorted fold
  * (`list_reduce(list_sort(list(x)), ...)`) as the reference. The two
  * differ by at most a few ulps, which the 6 or 9 dp rounding of every
  * emitted value absorbs.
  */
object Folds {

  /** Exact, correctly rounded sum of `c` over the group or window. */
  def exactSum(c: Column): Column =
    ColumnShim.column(ExactSum(ColumnShim.expression(c.cast("double"))).toAggregateExpression())
}
