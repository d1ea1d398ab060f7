package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout-line budget invariant. The driver keeps only the
  * last ~2000 chars of stdout (plus sbt's `[success]` trailer), so the
  * ONE machine-parseable line must fit [[Bench.StdoutBudget]] no matter
  * how many queries the registry grows to — rounds 8 and 9 both lost
  * their bench artifacts (`parsed:null`) when the fixed-format line
  * crossed the window at 74 entries. No SparkSession needed: the line
  * builder is pure. */
class BenchSpec extends AnyFunSuite {

  private val noise =
    """{"rel_spread_median":0.123,"rel_spread_max":11.128,"worst":[["a_very_noisy_query",11.13],["another_one",10.85],["third_noisiest",10.79]]}"""

  private def registry(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => (f"some_rather_long_query_name_$i%03d", 0.123 + i * 0.017))

  private def parseable(line: String): Boolean = {
    // minimal structural check without a JSON lib: balanced braces, the
    // required keys present, ends cleanly
    line.startsWith("{") && line.endsWith("}") &&
      line.contains(""""metric":"total"""") && line.contains(""""queries":{""") &&
      line.count(_ == '{') == line.count(_ == '}')
  }

  test("current registry's line fits the budget and reconciles its total") {
    // realistic spread: most sub-second, a few multi-second outliers
    val med = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map {
      case (n, i) => n -> (0.1 + (i % 7) * 0.4 + (if (i % 13 == 0) 25.0 else 0.0))
    }
    val total = med.map(_._2).sum
    val line = Bench.stdoutLine(med, total, "/root/testdata/sf0.1", 3, noise)
    assert(line.length <= Bench.StdoutBudget, s"len=${line.length}")
    assert(parseable(line))
    if (line.contains("q_omitted")) {
      // the dropped tail must be the FASTEST entries and must be summed,
      // so sum(shown) + omitted_sec reconciles with value
      val shown = """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(
        line.substring(line.indexOf(""""queries":{"""), line.indexOf("""},"sf""""))
      ).map(m => m.group(1) -> m.group(2).toDouble).toMap
      val omittedSec = """"omitted_sec":([0-9.]+)""".r
        .findFirstMatchIn(line).get.group(1).toDouble
      // shown entries are 1dp-quantized under truncation: ±0.05 s each
      assert(math.abs(shown.values.sum + omittedSec - total) <
          0.051 * (shown.size + 1),
        "shown + omitted_sec does not reconcile with total")
      // outside the always-kept anchors, no slower query may be dropped
      // before a faster one
      val maxOmitted = med.filterNot(kv => shown.contains(kv._1)).map(_._2).max
      val minShown = med.filter(kv => shown.contains(kv._1))
        .filterNot(kv => Bench.Anchors.contains(kv._1)).map(_._2).min
      assert(maxOmitted <= minShown, "a slower query was dropped before a faster one")
      // the pinned anchors survive truncation regardless of rank
      Bench.Anchors.foreach(anc =>
        assert(shown.contains(anc), s"anchor $anc dropped from stdout projection"))
    }
  }

  test("anchors survive truncation even as the fastest entries; degraded flag ships") {
    // 300 synthetic slow entries + the 3 real anchors at near-zero time:
    // the anchors are rank-last by slowness yet must stay in the map
    val med = registry(300) ++ Bench.Anchors.map(_ -> 0.01)
    val total = med.map(_._2).sum
    val line = Bench.stdoutLine(med, total, "sf", 3, noise, degraded = true)
    assert(line.length <= Bench.StdoutBudget)
    assert(parseable(line))
    assert(line.contains(""""degraded":true"""))
    assert(line.contains("q_omitted"))
    Bench.Anchors.foreach(anc =>
      assert(line.contains(s""""$anc":"""), s"anchor $anc dropped"))
    // reconciliation still holds with anchors pulled out of rank order
    val shown = """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(
      line.substring(line.indexOf(""""queries":{"""), line.indexOf(""""sf""""))
    ).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val omittedSec = """"omitted_sec":([0-9.]+)""".r
      .findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(shown.values.sum + omittedSec - total) <
      0.051 * (shown.size + 1))
  }

  test("degraded defaults to absent") {
    val line = Bench.stdoutLine(registry(10), 1.0, "sf", 3, noise)
    assert(!line.contains("degraded"))
  }

  test("an oversized registry degrades to slowest-K + q_omitted, never past budget") {
    for (n <- Seq(60, 74, 90, 120, 200, 400)) {
      val med = registry(n)
      val line = Bench.stdoutLine(med, med.map(_._2).sum, "/root/testdata/sf0.1", 3, noise)
      assert(line.length <= Bench.StdoutBudget, s"n=$n len=${line.length}")
      assert(parseable(line), s"n=$n not parseable")
      assert(line.contains(s""""n_queries":$n"""))
      if (line.contains("q_omitted")) {
        // the slowest entry must survive truncation — it dominates total
        val slowest = med.maxBy(_._2)._1
        assert(line.contains(s""""$slowest""""), s"n=$n dropped the slowest query")
      }
    }
  }

  test("failed queries (-1.0 medians) are counted, never summed into omitted_sec") {
    // failures sort as "fastest" under truncation, so with a big registry
    // they all land in the omitted tail — omitted_sec must not go down by
    // a phantom second per failure
    val med = registry(300).take(295) ++
      (0 until 5).map(i => (f"failed_query_$i%02d", -1.0))
    val total = med.map(_._2).filter(_ >= 0).sum
    val line = Bench.stdoutLine(med, total, "sf", 3, noise)
    assert(line.length <= Bench.StdoutBudget)
    assert(parseable(line))
    assert(line.contains(""""q_failed":5"""))
    assert(line.contains("q_omitted"))
    val shown = """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(
      line.substring(line.indexOf(""""queries":{"""), line.indexOf(""""sf""""))
    ).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val omittedSec = """"omitted_sec":(-?[0-9.]+)""".r
      .findFirstMatchIn(line).get.group(1).toDouble
    assert(omittedSec >= 0, "omitted_sec went negative-adjusted by failures")
    // shown entries are 1dp-quantized under truncation: ±0.05 s each
    assert(math.abs(shown.values.filter(_ >= 0).sum + omittedSec - total) <
        0.051 * (shown.size + 1),
      "shown + omitted_sec does not reconcile with the non-failed total")
  }

  test("truncation keeps the slowest entries and counts the dropped ones") {
    val med = registry(300)
    val line = Bench.stdoutLine(med, 1.0, "sf", 3, noise)
    assert(line.contains("q_omitted"))
    val shown = """"some_rather_long_query_name_(\d+)":""".r
      .findAllMatchIn(line).map(_.group(1).toInt).toSeq
    assert(shown.nonEmpty)
    // entries are indexed in increasing duration, so the kept set must be
    // a suffix of the index range (the slowest K)
    val minShown = shown.min
    assert(shown.toSet == (minShown until 300).toSet,
      "kept set is not the slowest-K suffix")
    val omitted = """"q_omitted":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
    assert(omitted == 300 - shown.size)
  }

  test("replayed r18 noise blobs: the driver run self-labels, the quiet record does not") {
    // the r18 driver-canonical run (BENCH_r18.json): pass totals
    // [255.0, 239.5, 287.9] = 19% whole-suite spread, per-entry median
    // rel spread 0.246 — shipped UNDEGRADED under the old per-entry-only
    // rule (VERDICT r18 "What's wrong" #1). Both new gates must catch it:
    val driverTotals = Seq(255.0, 239.5, 287.9)
    assert(Bench.passSpreadRelOf(driverTotals) > Bench.PassNoiseGateRel)
    assert(Bench.passGateTrips(driverTotals),
      "r18 driver pass totals (19% spread) must trip the pass gate")
    assert(Bench.isDegraded(relSpreadMedian = 0.246,
        passTrips = Bench.passGateTrips(driverTotals)),
      "the r18 driver run must self-label degraded")
    // (the halved per-entry gate alone sits at 0.25 — a hair above the
    // r18 run's 0.246, so the pass gate is the one that catches it; a
    // run even slightly noisier per-entry now also trips on its own)
    assert(!Bench.isDegraded(relSpreadMedian = 0.246, passTrips = false))
    assert(Bench.isDegraded(relSpreadMedian = 0.26, passTrips = false))
    // the r18 quiet-canonical record (commit 4d3122c): 206.4s at 8.2%
    // pass spread, per-entry median ~0.12 — a healthy run must NOT stamp
    val quietTotals = Seq(206.4, 200.1, 217.0) // 8.2% spread around the median
    assert(!Bench.passGateTrips(quietTotals),
      "quiet-machine pass spread (8.2%) must not trip the gate")
    assert(!Bench.isDegraded(relSpreadMedian = 0.12,
        passTrips = Bench.passGateTrips(quietTotals)),
      "a quiet-machine run must not self-label degraded")
    // sub-[[MinPassTotalSec]] subset suites: 0.1s scheduler jitter on a
    // 0.7s total is 14% spread but NOT ambient load — the floor keeps
    // smoke subsets from stamping themselves degraded
    assert(!Bench.passGateTrips(Seq(0.8, 0.8, 0.7)))
    // the r12 contamination (rel median 1.136) stays caught
    assert(Bench.isDegraded(relSpreadMedian = 1.136, passTrips = false))
  }

  test("passTotalsOf excludes every pass of a query that failed in any pass") {
    val names = Seq("a", "b", "c")
    val passes = Seq(
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0),
      Map("a" -> 1.0, "b" -> -1.0, "c" -> 3.0), // b failed in pass 2
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0))
    // b is excluded from EVERY pass total, so totals stay comparable
    assert(Bench.passTotalsOf(names, passes) == Seq(4.0, 4.0, 4.0))
    // spread over identical totals is zero; degenerate inputs return -1
    assert(Bench.passSpreadRelOf(Seq(4.0, 4.0, 4.0)) == 0.0)
    assert(Bench.passSpreadRelOf(Nil) == -1.0)
  }

  test("BENCH_OUT failures: one forced failure is typed, named and valid JSON") {
    val forced =
      try { SparkEntry.queries("q1_ratio_rank")(null, "sf"); None }
      catch { case e: Throwable => Some(e) }
    val e = forced.getOrElse(fail("the forced failure did not throw"))
    val quoted = new IllegalStateException("bad \"value\"\n\tat line 2\u0001")
    val json = Bench.failuresJson(Seq("q1_ratio_rank" -> e, "other" -> quoted))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.isArray && tree.size == 2)
    assert(tree.get(0).get("name").asText == "q1_ratio_rank")
    assert(tree.get(0).get("class").asText == e.getClass.getName)
    assert(tree.get(0).get("message").asText == String.valueOf(e.getMessage))
    assert(tree.get(1).get("class").asText == "java.lang.IllegalStateException")
    assert(tree.get(1).get("message").asText == quoted.getMessage)
    assert(Bench.failuresJson(Nil) == "[]")
  }
}
