package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: installs every kernel of
  * [[GraftFunctions.table]] under its SQL name at session build time
  * (`.withExtensions(new GraftExtensions)` — see GraftSession), so
  * `spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions`
  * works on a real cluster with no driver-side registration call.
  * Operators do not depend on it: they use the typed helpers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(k.clazz.getName, null, k.name, k.usage, ""), k.builder))
    }
}
