package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r17 #8 (stretch): every registry entry must plan under a BARE
  * session whose only wiring is the `GraftExtensions` class — the
  * shared-cluster deployment shape (one `spark.sql.extensions` config
  * line, every job gets the native functions and the optimizer rule).
  * The kernels' embedded `GraftFunctions.registerAll` calls are
  * idempotent; this pin prevents a future kernel from silently depending on a manual
  * register call that an extensions-configured production session would
  * never make, or on registration order across entries. Physical
  * planning (sparkPlan) is forced so function resolution, the injected
  * NativeVectorRewrite rule, and strategy selection all run.
  *
  * Session mechanics: `spark.sql.extensions` is a STATIC conf read from
  * the SparkContext at session construction, so a second in-JVM session
  * cannot pick it up from builder options — but
  * `Builder.withExtensions(new GraftExtensions())` is the same code
  * path minus the conf lookup: the REAL extensions class runs against
  * the new session's fresh registry (review finding, r18 — the earlier
  * draft wired the session through GraftFunctions.registerAll, which
  * bypassed GraftExtensions.apply entirely).
  */
class ExtensionsSmokeSpec extends AnyFunSuite {

  test("every registry entry plans under an extensions-only session") {
    val base = SparkSpec.session // materialize the shared SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a genuinely NEW SparkSession over the same context — its function
      // registry starts fresh (built-ins only), then GraftExtensions
      // itself injects the natives + the optimizer rule
      val ext = GraftSession.builder(SparkSpec.cpus)
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(ext ne base, "must be a fresh session, not the shared fixture")
      GraftFunctions.all.foreach { case (id, _, _) =>
        assert(ext.sessionState.functionRegistry.functionExists(id),
          s"GraftExtensions must have injected $id")
      }
      assert(ext.sessionState.optimizer.extendedOperatorOptimizationRules
          .contains(graft.plans.NativeVectorRewrite),
        "GraftExtensions must have injected the optimizer rule")
      val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        try {
          SparkEntry.queries(name)(ext, SparkSpec.sfDir)
            .queryExecution.sparkPlan
          None
        } catch {
          case e: Throwable => Some(s"$name: ${e.getMessage}")
        }
      }
      assert(failures.isEmpty,
        s"${failures.size} entries failed to plan under extensions-only:\n" +
          failures.mkString("\n"))
    } finally {
      RunScope.releaseAll(blocking = true)
      // restore the shared fixture for any suite that runs after us
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
