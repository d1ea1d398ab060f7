package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Span recorder for traced passes: a SparkListener that keeps every job,
  * stage and task-metric sum in memory, tagged with the pass, entry and
  * harness phase the driver thread set as local properties (they reach
  * broadcast threads too, because Spark copies local properties into
  * them). Nothing is written until the run ends.
  *
  * A build job is attributed to the module of the innermost `graft` frame
  * of its call site: `graft.Tables$` gives `Tables`, `graft.llm.Dedup$`
  * gives `llm`. For SQL jobs the call site is the one Spark recorded when
  * the execution started on the driver thread; for plain RDD jobs it is
  * the call site of the job's last stage. */
class Tracer extends SparkListener {
  import Tracer._

  final class Job(val id: Int, val pass: Int, val entry: String, val phase: String,
                  val module: String, val stageIds: Set[Int], val startMs: Long,
                  var endMs: Long = -1)
  final class Stage(val id: Int, val attempt: Int, val pass: Int, val phase: String,
                    var startMs: Long = -1, var endMs: Long = -1, var tasks: Int = 0) {
    val m = new Array[Double](Metrics.size)
  }

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val sqlCallSites = scala.collection.mutable.HashMap.empty[Long, String]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized { sqlCallSites(e.executionId) = e.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val pass = prop(p, PassKey).map(_.toInt).getOrElse(-1)
    val site = prop(p, "spark.sql.execution.id").flatMap(id => sqlCallSites.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)).getOrElse("")
    jobs += new Job(e.jobId, pass, prop(p, EntryKey).getOrElse(""), prop(p, PhaseKey).getOrElse("none"),
      moduleOf(site), e.stageIds.toSet, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val p = e.properties
    val s = new Stage(i.stageId, i.attemptNumber(), prop(p, PassKey).map(_.toInt).getOrElse(-1),
      prop(p, PhaseKey).getOrElse("none"))
    s.startMs = i.submissionTime.getOrElse(System.currentTimeMillis())
    stages((i.stageId, i.attemptNumber())) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
      s.tasks = i.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val t = e.taskMetrics
      val info = e.taskInfo
      if (t != null) {
        val sr = t.shuffleReadMetrics
        val v = Array(
          t.executorCpuTime / 1e9,
          t.executorRunTime / 1e3,
          t.jvmGCTime / 1e3,
          math.max(0L, info.duration - t.executorRunTime) / 1e3,
          t.shuffleWriteMetrics.bytesWritten / 1e6,
          (sr.remoteBytesRead + sr.localBytesRead) / 1e6,
          t.diskBytesSpilled / 1e6,
          t.inputMetrics.bytesRead / 1e6,
          t.outputMetrics.bytesWritten / 1e6)
        var k = 0
        while (k < v.length) { s.m(k) += v(k); k += 1 }
      }
    }
  }

  /** Layer metrics of one traced pass; call after the listener bus drained. */
  def layers(pass: Int, rows: Seq[Harness.Phases], wall: Double,
             cores: Int): Map[String, Double] = synchronized {
    val js = jobs.filter(_.pass == pass).toSeq
    val ss = stages.values.filter(_.pass == pass).toSeq
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("jobs") = js.size
    out("stages") = ss.size
    out("tasks") = ss.map(_.tasks).sum
    for (ph <- Phases) {
      val pj = js.filter(_.phase == ph)
      out(s"$ph.jobs") = pj.size
      out(s"$ph.stages") = ss.count(_.phase == ph)
      out(s"$ph.tasks") = ss.filter(_.phase == ph).map(_.tasks).sum
    }
    out("unphased.jobs") = js.count(j => !Phases.contains(j.phase))
    for (m <- Modules) out(s"build.jobs.$m") = js.count(j => j.phase == "build" && j.module == m)
    out("build.jobs.unattributed") = js.count(j => j.phase == "build" && !Modules.contains(j.module))
    out("build.s") = rows.map(_.build).sum
    out("plan.s") = rows.map(_.plan).sum
    out("exec.s") = rows.map(_.exec).sum
    out("release.s") = rows.map(_.release).sum
    out("pass.self_s") = wall - rows.map(r => (r.endMs - r.startMs) / 1e3).sum
    // a phase's self time: its span minus the time its jobs cover
    for (ph <- Seq("build", "exec"))
      out(s"$ph.self_s") = out(s"$ph.s") -
        covered(js.filter(j => j.phase == ph && j.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1e3
    val durs = js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble).sorted
    out("job.p50_ms") = if (durs.isEmpty) 0.0 else durs(durs.size / 2)
    out("job.self_s") = js.filter(_.endMs >= 0).map { j =>
      val mine = ss.filter(s => s.endMs >= 0 && j.stageIds(s.id))
      (j.endMs - j.startMs - covered(mine.map(s => (s.startMs, s.endMs)))) / 1e3
    }.sum
    Metrics.zipWithIndex.foreach { case (name, k) => out(name) = ss.map(_.m(k)).sum }
    out("cpu_util") = out("task.cpu_s") / (wall * cores)
    out("cache.peak_mb") = if (rows.isEmpty) 0.0 else rows.map(_.cacheMb).max
    out.toMap
  }

  /** Every recorded span as JSON: jobs and stages with their pass/phase. */
  def spansJson(): String = synchronized {
    val e = Harness.esc _
    val j = jobs.map(x =>
      s"""{"job": ${x.id}, "pass": ${x.pass}, "entry": ${e(x.entry)}, "phase": ${e(x.phase)}, """ +
      s""""module": ${e(x.module)}, "start_ms": ${x.startMs}, "end_ms": ${x.endMs}}""")
    val s = stages.values.map(x =>
      s"""{"stage": ${x.id}, "attempt": ${x.attempt}, "pass": ${x.pass}, "phase": ${e(x.phase)}, """ +
      s""""start_ms": ${x.startMs}, "end_ms": ${x.endMs}, "tasks": ${x.tasks}, """ +
      Metrics.zipWithIndex.map { case (n, k) => s"${e(n)}: ${Harness.num(x.m(k))}" }.mkString(", ") + "}")
    s"""{"jobs": [${j.mkString(",\n  ")}],\n "stages": [${s.mkString(",\n  ")}]}"""
  }
}

object Tracer {
  val PassKey = "perfbench.pass"
  val EntryKey = "perfbench.entry"
  val PhaseKey = "perfbench.phase"
  val Phases = Seq("build", "plan", "exec", "release")
  /** Root `graft` objects and packages the layers are named after. */
  val Modules = Seq("Tables", "RunScope", "SparkEntry", "sources", "etl", "warehouse",
    "analytics", "operators", "llm", "functions", "streaming", "plans")
  val Metrics = Seq("task.cpu_s", "task.run_s", "task.gc_s", "task.wait_s", "shuffle.write_mb",
    "shuffle.read_mb", "spill.disk_mb", "scan.input_mb", "write.output_mb")

  private val Frame = """(?:^|[\s/])graft\.([A-Za-z0-9_$.]+)\.[^.(]+\(""".r

  /** Module of the innermost `graft` frame in a call-site stack. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1))).nextOption() match {
      case Some(cls) =>
        val parts = cls.split('.')
        if (parts.length == 1) parts(0).takeWhile(_ != '$') else parts(0)
      case None => "unattributed"
    }

  /** Milliseconds covered by the union of [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
