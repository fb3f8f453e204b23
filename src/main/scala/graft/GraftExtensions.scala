package graft

import graft.functions.{DotProductRewrite, VectorFunctions}
import org.apache.spark.sql.SparkSessionExtensions

/** Cluster-deployment registration of the engine's custom Catalyst
  * expressions: set `spark.sql.extensions=graft.GraftExtensions` (or
  * `withExtensions(new GraftExtensions)` on a session builder) and
  * every function in [[VectorFunctions.functions]] resolves in every
  * session on the cluster — no per-session `registerAll` call needed.
  * Both paths read that one table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // plan rewrite: HOF dot-product idiom → codegen'd DotProduct
    e.injectOptimizerRule(_ => DotProductRewrite)
    VectorFunctions.functions.foreach(e.injectFunction)
  }
}
