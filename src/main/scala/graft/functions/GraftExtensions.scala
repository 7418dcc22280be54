package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extensions packaging for the engine's native functions:
  *
  * {{{
  *   GraftSession.builder(cpus)
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * installs `graft_dot` at session build time — the deployment-grade
  * alternative to the per-call `Native.register` (which remains for
  * ad-hoc sessions the library doesn't construct). This is the same
  * injection point a custom Rule/SparkStrategy would use if an operator
  * ever outgrows expressions (SURVEY §7.3 found none necessary).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      exprs => ArrayDotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      exprs => NfcNormalize(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      exprs => TopKAgg(exprs(0), exprs(1)).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_heavyhitters"),
      new ExpressionInfo(classOf[SpaceSavingAgg].getName, "graft_heavyhitters"),
      exprs => SpaceSavingAgg(exprs(0), exprs(1)).toAggregateExpression()))
  }
}
