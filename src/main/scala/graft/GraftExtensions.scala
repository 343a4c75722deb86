package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProductF

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions for any session created with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      (exprs: Seq[Expression]) => DotProductF(exprs.head, exprs(1))))
    // the custom AS-OF JOIN: planner strategy + left-side filter
    // pushdown + column pruning through the join
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinFilterPushdown)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinColumnPruning)
    // the IVF top-k rewrite (fires only for scans of a path with an
    // IVF manifest, see KnnIndexRegistry)
    e.injectOptimizerRule(_ => graft.plans.KnnIvfRewrite)
  }
}
