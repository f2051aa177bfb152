package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions wiring for graft's custom expressions, so SQL
 * users get them too. [[graft.Session]] installs it on every session it
 * builds (`spark.sql.extensions=graft.functions.GraftExtensions`); a
 * session built elsewhere takes `.withExtensions(new GraftExtensions)`:
 *
 * {{{
 * spark.sql("SELECT dot_product_d(a.embedding, b.embedding) FROM ...")
 * }}}
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotProductD)
    ext.injectFunction(GraftExtensions.dotProductFD)
    // whole-operator extension: plans graft.plans.TopKPerKeyNode and
    // graft.plans.GroupedOrderNode
    ext.injectPlannerStrategy(_ => new graft.plans.GraftStrategies)
    // optimizer extension: rewrite discarded-rank row_number filters
    // into TopKPerKeyNode (see graft.plans.InferTopKPerKey)
    ext.injectOptimizerRule(_ => graft.plans.InferTopKPerKey)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[DotProductD].getCanonicalName, null, name, usage, "")

  val dotProductD: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product_d"),
    info("dot_product_d",
      "dot_product_d(a, b) - sequential-double dot product of two float arrays"),
    (exprs: Seq[Expression]) => DotProductD(exprs(0), exprs(1)))

  val dotProductFD: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product_fd"),
    info("dot_product_fd",
      "dot_product_fd(a, b) - sequential dot product of a float array against a double array"),
    (exprs: Seq[Expression]) => DotProductFD(exprs(0), exprs(1)))
}
