package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotProduct

/** SparkSessionExtensions entry point registering graft's native functions.
  *
  * Install with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or the session builder's `withExtensions(new GraftExtensions)` — after
  * which `graft_dot(a, b)` is available to SQL and `call_function` alike.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes exactly two arrays")
        DotProduct(args.head, args(1))
      }))
  }
}
