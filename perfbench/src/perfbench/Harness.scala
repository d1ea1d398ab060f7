package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, struct, sum, to_json, xxhash64}

import graft.{RunScope, SparkEntry}

/** Closed-loop benchmark driver for the registered entries.
  *
  * One client, no think time: each entry starts after the previous one
  * finished. Every execution goes through the public driver API only:
  *   build   `SparkEntry.queries(name)(spark, corpus)`
  *   plan    `df.queryExecution.executedPlan`
  *   exec    a `noop` write of the frame
  *   release `RunScope.releaseAll(blocking = true)`
  *
  * A run is `setups` set-ups followed by the measured passes. A set-up
  * starts a fresh SparkContext and runs one untimed warm-up pass; in the
  * first set-up that pass hashes every entry's output and compares it with
  * the recorded hash, in the others it runs the measured path. The last
  * set-up's session is then measured for whole passes until `seconds` have
  * passed (at least `min_passes`). With `trace=1` the passes alternate untraced
  * and traced (U T T U ...) and the traced ones carry a [[Tracer]].
  *
  * Input is a `key=value` plan file written by run.py; output is one JSON
  * document that run.py turns into metrics.
  */
object Harness {

  final case class Phases(name: String, var build: Double = 0, var plan: Double = 0,
                          var exec: Double = 0, var release: Double = 0,
                          var startMs: Long = 0, var endMs: Long = 0,
                          var cacheMb: Double = 0, var ok: Boolean = true)

  final case class Failure(entry: String, where: String, error: String)

  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0)), UTF_8).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val entries = plan("entries").split(',').toSeq
    val unknown = entries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(",")}")
    val orders = Iterator.from(0).map(i => plan.get(s"order.$i"))
      .takeWhile(_.isDefined).map(_.get.split(',').toSeq).toIndexedSeq
    require(orders.forall(_.sorted == entries.sorted), "an order is not a permutation")
    val mode = plan("mode")
    val run = new Run(plan, entries)
    try {
      if (mode == "dump") run.dump(plan("dump"))
      else run.bench(orders)
    } finally run.stop()
    Files.writeString(Paths.get(plan("out")), run.json(mode), UTF_8)
  }

  /** Order-independent hash of a frame's rows: every column is cast to
    * string (so integer widths compare equal, as in the oracle compare),
    * columns are taken in name order, and the per-row xxhash64 values are
    * summed in two 32-bit halves so the sums cannot overflow. */
  def outputHash(df: DataFrame): String = {
    val names = df.columns
    val cols = names.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => col(s"_c$i").cast("string").as(n) }
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
    val r = df.toDF(names.indices.map(i => s"_c$i"): _*).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString

  class Run(plan: Map[String, String], entries: Seq[String]) {
    private val corpus = plan("corpus")
    private val workdir = plan("workdir")
    private val cpus = plan("cpus").toInt
    private val failEntry = plan.get("fail_entry").filter(_.nonEmpty)
    private val expected: Map[String, String] = plan.get("expected").toSeq
      .flatMap(_.split(',')).filter(_.contains(':'))
      .map { kv => val i = kv.indexOf(':'); kv.take(i) -> kv.drop(i + 1) }.toMap

    var spark: SparkSession = _
    var sessions = 0
    val setupSeconds = ArrayBuffer.empty[Double]
    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = ArrayBuffer.empty[Failure]
    var attempted = 0
    val passes = ArrayBuffer.empty[(Boolean, Double, Seq[Phases], Map[String, Double])]
    val tracer = new Tracer
    var tracerOn = false

    def newSession(): Unit = {
      if (spark != null) spark.stop()
      sessions += 1
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.local.dir", s"$workdir/local")
        .config("spark.sql.warehouse.dir", s"$workdir/warehouse-$sessions")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
    }

    def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

    private def build(name: String): DataFrame = {
      if (failEntry.contains(name)) throw new IllegalStateException(s"injected failure in $name")
      SparkEntry.queries(name)(spark, corpus)
    }

    private def fail(name: String, where: String, e: Throwable): Unit = {
      val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      failures += Failure(name, where, msg.take(300))
      System.err.println(s"[perfbench] $name failed ($where): $msg")
    }

    /** One pass that checks every entry's output hash instead of timing it. */
    private def checkedPass(order: Seq[String], where: String): Unit = order.foreach { name =>
      attempted += 1
      try {
        val got = outputHash(build(name))
        hashes(name) = got
        expected.get(name) match {
          case Some(want) if want != got =>
            fail(name, where, new IllegalStateException(s"output hash $got, expected $want"))
          case None if expected.nonEmpty =>
            fail(name, where, new IllegalStateException("no recorded output hash"))
          case _ =>
        }
      } catch { case e: Throwable => fail(name, where, e) }
      finally RunScope.releaseAll(blocking = true)
    }

    private def setProp(k: String, v: String): Unit = spark.sparkContext.setLocalProperty(k, v)

    private def measuredPass(order: Seq[String], idx: Int, traced: Boolean): Unit = {
      if (traced != tracerOn) {
        if (traced) spark.sparkContext.addSparkListener(tracer)
        else spark.sparkContext.removeSparkListener(tracer)
        tracerOn = traced
      }
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      val rows = order.map { name =>
        val ph = Phases(name)
        attempted += 1
        if (traced) { setProp(Tracer.PassKey, idx.toString); setProp(Tracer.EntryKey, name) }
        ph.startMs = System.currentTimeMillis()
        def timed(phase: String)(f: => Unit): Double = {
          if (traced) setProp(Tracer.PhaseKey, phase)
          val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
        }
        try {
          var df: DataFrame = null
          ph.build = timed("build") { df = build(name) }
          ph.plan = timed("plan")(df.queryExecution.executedPlan)
          ph.exec = timed("exec")(df.write.format("noop").mode("overwrite").save())
        } catch { case e: Throwable => ph.ok = false; fail(name, s"pass $idx", e) }
        if (traced) ph.cacheMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        ph.release = timed("release")(RunScope.releaseAll(blocking = true))
        ph.endMs = System.currentTimeMillis()
        ph
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        Seq(Tracer.PassKey, Tracer.EntryKey, Tracer.PhaseKey).foreach(k => setProp(k, null))
        org.apache.spark.PerfbenchBus.drain(sc)
      }
      val layers =
        if (traced) tracer.layers(idx, rows, wall, cpus)
        else Map.empty[String, Double]
      passes += ((traced, wall, rows, layers))
    }

    def bench(orders: IndexedSeq[Seq[String]]): Unit = {
      val setups = plan("setups").toInt
      val seconds = plan("seconds").toDouble
      val traceRun = plan("trace") == "1"
      val minPasses = if (traceRun) 4 else plan("min_passes").toInt
      var o = 0
      def nextOrder(): Seq[String] = { val r = orders(o % orders.size); o += 1; r }
      val launchMs = plan("launch_ms").toLong
      for (k <- 1 to setups) {
        val startMs = if (k == 1) launchMs else System.currentTimeMillis()
        newSession()
        if (k == 1) checkedPass(nextOrder(), "check")
        else measuredPass(nextOrder(), -1, traced = false)
        setupSeconds += (System.currentTimeMillis() - startMs) / 1e3
      }
      passes.clear()
      val t0 = System.nanoTime()
      var p = 0
      // traced runs alternate U T T U so drift lands on both sides evenly
      while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds || (traceRun && p % 2 == 1)) {
        measuredPass(nextOrder(), p, traceRun && (p % 4 == 1 || p % 4 == 2))
        p += 1
      }
    }

    /** Writes each entry's output for the oracle compare, with its hash. */
    def dump(dir: String): Unit = {
      newSession()
      val oracle = SparkEntry.oracleSql
      entries.foreach { name =>
        attempted += 1
        try {
          val df = build(name)
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          hashes(name) = outputHash(df)
        } catch { case e: Throwable => fail(name, "dump", e) }
        finally RunScope.releaseAll(blocking = true)
      }
      val sql = entries.flatMap(n => oracle.get(n).map(q => s"${esc(n)}: ${esc(q)}"))
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), sql.mkString("{", ",\n", "}"), UTF_8)
    }

    def json(mode: String): String = {
      val sb = new StringBuilder
      sb ++= s"""{"mode": ${esc(mode)}, "cores": $cpus, "attempted": $attempted,\n"""
      sb ++= s""" "setup_s": [${setupSeconds.map(num).mkString(", ")}],\n"""
      sb ++= s""" "peak_rss_mb": ${num(peakRssMb())},\n"""
      sb ++= " \"hashes\": {" + hashes.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString(", ") + "},\n"
      sb ++= " \"failures\": [" + failures.map(f =>
        s"""{"entry": ${esc(f.entry)}, "where": ${esc(f.where)}, "error": ${esc(f.error)}}""").mkString(",\n  ") + "],\n"
      sb ++= " \"passes\": [" + passes.map { case (traced, wall, rows, layers) =>
        val es = rows.map(r =>
          s"""{"name": ${esc(r.name)}, "ok": ${r.ok}, "build_s": ${num(r.build)}, "plan_s": ${num(r.plan)}, """ +
          s""""exec_s": ${num(r.exec)}, "release_s": ${num(r.release)}, "start_ms": ${r.startMs}, "end_ms": ${r.endMs}}""")
        val ls = layers.toSeq.sortBy(_._1).map { case (k, v) => s"${esc(k)}: ${num(v)}" }
        s"""\n  {"traced": $traced, "wall_s": ${num(wall)}, "layers": {${ls.mkString(", ")}},\n   "entries": [${es.mkString(",\n    ")}]}"""
      }.mkString(",") + "],\n"
      sb ++= s""" "spans": ${tracer.spansJson()}}\n"""
      sb.toString
    }
  }
}
