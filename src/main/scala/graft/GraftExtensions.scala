package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Library packaging: register every graft_* native function through the
  * standard extension point, so a user enables the whole function
  * surface with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (no code dependency on [[graft.engine.GraftSession]] needed). The
  * engine's own sessions get the same functions via
  * `HashExprs.register`; both paths read the one table
  * [[graft.functions.HashExprs.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer surface: builtin Jaccard composition -> one-pass native
    // expression (see graft.plans.JaccardRewrite)
    ext.injectOptimizerRule(_ => graft.plans.JaccardRewrite)
    graft.functions.HashExprs.functions.foreach(ext.injectFunction)
  }
}
