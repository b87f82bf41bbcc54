package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions packaging of graft's native functions and the
  * [[graft.etl.SeriesScan]] planner strategy — the
  * deployment path for clusters that control session construction:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()) ...
  * }}}
  *
  * Queries obtained through [[GraftFunctions.register]] remain the
  * runtime path when the session pre-exists (our driver contract).
  * Both routes consume [[GraftFunctions.builders]] — the one catalog —
  * so they can never drift apart; both install the same strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, clazz, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), b))
    }
    e.injectPlannerStrategy(_ => graft.etl.SeriesScanStrategy)
  }
}
