package graft.plans

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Diagnostic main (not a test — lives next to Bench/Verify; its former
  * sibling LintDebug @ 2e9473a is superseded by RegistryPlanLintSpec):
  * writes `.explain("formatted")` for registry entries to files, so the
  * optimization rounds can commit before/after plan evidence
  * (plans/rN/<entry>_before.txt) without hand-copying console output.
  *
  * Usage: `runMain graft.plans.PlanDump <sfDir> <outDir> [entry ...]` —
  * with no entry names, dumps the whole registry. The session is
  * [[GraftSession]]'s, as in Bench, so the dumped plan is the one the
  * bench actually runs; entries whose CONSTRUCTION
  * runs jobs (iterative trainers, CTAS-style layouts) pay that cost here
  * exactly as Bench does, but nothing is executed beyond construction.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <sfDir> <outDir> [entry ...] (e.g. /root/testdata/sf0.1 /tmp/plans)")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    Files.createDirectories(outDir)
    val names = args.drop(2).toSet
    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = ExplainMode.fromString("formatted")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(e => names.isEmpty || names(e._1))
      .foreach { case (name, q) =>
        try {
          val df = q(spark, sfDir)
          // SPARK_GRAFT_PLAN_EXEC=1: noop-execute first and dump the
          // FINAL adaptive plan — the only form that shows runtime-only
          // shapes (ReusedExchange, AQEShuffleRead, skew splits) that
          // the static explain of an unexecuted AQE query cannot
          // (runs THIS df's QueryExecution — a sink like noop would
          // execute a separate one and leave df's plan unfinalized)
          if (sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1"))
            df.queryExecution.toRdd.foreach(_ => ())
          val txt = df.queryExecution.explainString(mode)
          Files.writeString(outDir.resolve(s"$name.txt"), txt)
          println(s"ok $name")
        } catch {
          case NonFatal(e) => println(s"ERR $name ${e.getMessage}")
        } finally graft.RunScope.releaseAll(blocking = true)
      }
    spark.stop()
  }
}
