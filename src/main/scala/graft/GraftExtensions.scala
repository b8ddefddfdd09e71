package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: makes every graft native function
  * available in SQL without manual registration — set
  * `spark.sql.extensions=graft.GraftExtensions` on the session builder,
  * or call `.withExtensions(new GraftExtensions)` on it. The injected functions are
  * the codegen'd native expressions of [[graft.functions.native]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def info(name: String, usage: String) = {
    val _ = usage // retained for call-site docs
    new ExpressionInfo("graft", null, name)
  }

  override def apply(e: SparkSessionExtensions): Unit =
    // the one shared builder list: anything registered per-session by
    // native.register is injected here too, so an extension-configured
    // session is never missing a function the queries call
    graft.functions.native.builders.foreach { case (name, usage, b) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
}
