package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — the injection-based alternative to
  * [[GraftFunctions.register]] for sessions built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. Both install the same
  * function table, [[GraftFunctions.sqlFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.ReorderCostlyConjuncts)
  }
}
