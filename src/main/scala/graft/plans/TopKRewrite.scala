package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (SURVEY.md §3 path (c), the Rule[LogicalPlan] leg):
  * recognize the declarative top-k idiom
  *
  * {{{
  *   Project [no rank refs]
  *     Filter rank <= k                     // or rank < k+1
  *       Window [row_number() as rank over (partition by P order by O)]
  * }}}
  *
  * and replan it as [[TopKPerKeyPlan]], the two-phase bounded-heap
  * operator — so code written in the window style still avoids sorting
  * every group. The rewrite only fires when the rank attribute is dropped
  * by the enclosing Project (its values are not observable), the window
  * has exactly the one row_number expression, and k is at most
  * `spark.sql.optimizer.windowGroupLimitThreshold` (Spark's own bound for
  * its window group limit): the heaps hold up to k rows per key in memory
  * and cannot spill, where the Window path sorts and spills.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def asTopK(filterCond: Expression, rnAttr: Attribute): Option[Int] =
    filterCond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rnAttr) => Some(k)
      case LessThan(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rnAttr) => Some(k - 1)
      case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rnAttr) => Some(k)
      case GreaterThan(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rnAttr) => Some(k - 1)
      case _ => None
    }

  /** Spark's own InferWindowGroupLimit may already have inserted a
    * WindowGroupLimit below the Window (it bounds rows per group but still
    * sorts); the heap operator subsumes it, so strip it. */
  private def stripGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case wgl: WindowGroupLimit => stripGroupLimit(wgl.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(_: RowNumber,
            WindowSpecDefinition(partSpec, orderSpec, _)), _)), _, _, child, _)))
        if partSpec.nonEmpty && orderSpec.nonEmpty &&
          !projectList.exists(_.references.contains(al.toAttribute)) =>
      asTopK(cond, al.toAttribute) match {
        case Some(k) if k > 0 && k <= conf.windowGroupLimitThreshold =>
          Project(projectList, TopKPerKeyPlan(k, partSpec, orderSpec, stripGroupLimit(child)))
        case _ => p
      }
  }
}

object TopKRewrite {
  /** Imperative registration (the extensions path is GraftExtensions). */
  def register(spark: SparkSession): Unit = {
    TopK.register(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
  }
}
