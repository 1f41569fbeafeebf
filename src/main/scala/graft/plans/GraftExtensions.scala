package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes graft's native
  * expressions first-class SQL functions in any session built with
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`) — the injection runs
  * for every new session, including thriftserver/connect sessions
  * where library code never executes — and installs the
  * RewriteJaccard optimizer rule. The function list is
  * GraftFunctions.all, shared with GraftFunctions.ensure, which
  * leaves these injected entries as they are.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteJaccard)
    e.injectOptimizerRule(_ => RewriteCosine)
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        // the full 11-arg ctor is the only non-deprecated one that
        // carries a usage string (args/examples/note/group/since/
        // deprecated/source left empty)
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, "", "", "", "", "", "", "built-in"),
        builder))
    }
  }
}
