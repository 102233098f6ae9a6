package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Production packaging of the function library: inject every custom
  * expression at session build via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), so SQL users get them
  * without any imperative `register()` call. Both paths install
  * [[GraftFunctions.catalogue]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollapseIdempotentNormalization)
    for ((name, f) <- GraftFunctions.catalogue)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), f))
  }
}
