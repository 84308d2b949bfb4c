package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: installs the engine's native
  * functions (the one table in `functions.VectorExprs.functions`) into
  * every session built with `spark.sql.extensions=graft.GraftExtensions`
  * — the deployment-grade alternative to per-session FunctionRegistry
  * registration (the path a cluster admin would configure once for all
  * jobs).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.VectorExprs.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    // Pure range joins (abs(a-b) <= w with no equi key) rewrite to the
    // bucketed-interval equi-join — see graft.plans.RangeJoinRewrite.
    ext.injectOptimizerRule(_ => plans.RangeJoinRewrite)
  }
}
