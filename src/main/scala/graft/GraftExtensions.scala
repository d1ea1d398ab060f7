package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Library entry point for `spark.sql.extensions` — registers graft's
  * native Catalyst expressions on every session built with
  *
  * {{{
  * --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * so `cosine_similarity` / `dot_product` / `poly_hash` resolve in SQL and
  * `expr(...)` without a per-session [[GraftFunctions.registerAll]] call —
  * the deployment shape a shared cluster uses (one config line, every
  * notebook/job gets the functions). The function list itself is
  * single-sourced in [[GraftFunctions.all]], which `registerAll` also
  * registers for embedded use; both routes construct the same expression
  * nodes, so plans and codegen are identical either way. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // HOF dot-product / squared-norm shapes rewrite to the codegen'd
    // DotProduct kernel (bit-identical semantics — see NativeVectorRewrite)
    ext.injectOptimizerRule(_ => graft.plans.NativeVectorRewrite)
  }
}
