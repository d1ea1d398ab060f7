package graft
import java.nio.file.{Files, Paths}

/** Benchmark entry: runs every registered query on SPARK_GRAFT_SF_DIR and
  * emits ONE machine-parseable JSON line on stdout (raw — build.sbt sets
  * run/outputStrategy := StdoutOutput so sbt does not prefix it) and also
  * writes it to BENCH_OUT (default bench_out.json) as a belt-and-braces
  * channel for the driver.
  *
  * Methodology (rounds 1-4 used one visit per query with best-of-2, which
  * produced cross-round swings up to 6× on unchanged code — the bench
  * could not resolve the effects it was asked to measure):
  *  - one warm-up pass over the whole suite (session/codegen/broadcast
  *    warm; run-scoped kernel scratch is released at the end of every
  *    entry — see [[RunScope]] — so nothing stays resident across
  *    entries at any pass);
  *  - SPARK_GRAFT_BENCH_REPS (default 3) measured passes, INTERLEAVED:
  *    pass r runs the whole suite before pass r+1 touches any query, so
  *    slow environment drift (GC pressure, page cache, JIT recompiles)
  *    lands across all queries instead of biasing whichever query was
  *    visited at the wrong moment; the cache is cleared at each pass
  *    boundary so per-query `.cache()` blocks are rebuilt (and paid for)
  *    identically in every pass instead of accumulating across the suite;
  *  - a NOISE GATE: when the suite's rel_spread_median exceeds
  *    [[NoiseGateRel]] the worst-spread quartile is re-measured with
  *    fresh passes, and an artifact still over the gate is stamped
  *    `"degraded":true` (round 12's artifact was contention-poisoned
  *    2.6× with nothing in the JSON telling a reader not to credit it);
  *  - per-query reported time = median over passes; `total` = sum of
  *    medians; a suite-level relative-noise summary ships in the same
  *    JSON line so a reader can tell signal from jitter before crediting
  *    any round-over-round delta. The noise summary names the top-3
  *    noisiest queries (relative spread), so the artifact attributes its
  *    own outliers; the full per-query spread maps (absolute `spread_sec`
  *    and relative `spread_rel`) ship in the BENCH_OUT file only — the
  *    stdout line must stay inside the driver's 2 KB tail-capture window;
  *  - a SUITE-LEVEL noise bound: every pass's own total (`pass_totals`,
  *    one back-to-back sweep each) plus their relative spread
  *    (`pass_spread_rel`) ship in the noise blob, so a reader can tell
  *    ambient machine load (pass totals far apart) from a code
  *    regression (totals moved together) without needing a second
  *    artifact to compare against — the r17 adjudication gap. Totals
  *    cover only queries that succeeded in every pass (`pass_failed`
  *    counts excluded executions), so a transient single-pass failure
  *    cannot masquerade as ambient drift. A run whose pass spread
  *    exceeds [[PassNoiseGateRel]] is re-measured whole once
  *    (`pass_remeasured`:1 in the noise blob) and, if the fresh passes
  *    are still over the gate, stamped degraded — so a load-poisoned
  *    canonical run self-labels instead of presenting an
  *    ambient-inflated total as the round's number (the r18 driver run
  *    shipped a 19% pass spread undegraded; VERDICT r18 #3).
  *
  * Rep-count sufficiency (measured, round 7, sf0.1 local[32]): back-to-back
  * reps=3 vs reps=5 full-suite runs on identical code put the median
  * per-query |median shift| at 5.1% and the suite totals within 5% —
  * inside the suite's own noise floor (rel_spread_median ~0.12-0.22), so
  * reps=3 is the default. Sub-second queries still jitter 10-30% (~100 ms
  * scheduler/GC tails survive a median of either 3 or 5); read
  * round-over-round deltas only above that bar, or bump
  * SPARK_GRAFT_BENCH_REPS for a targeted study.
  *
  * Each execution drives the full pipeline through the noop sink (final
  * sort included; nothing is collected to the driver).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // first failure of each failed entry, in order — BENCH_OUT's "failures"
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    def exec(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failures.getOrElseUpdate(name, e)
          -1.0
        }
      // entry-end cache hygiene (outside the timed region): run-scoped
      // kernel scratch is unpersisted as soon as the entry's action
      // completes, so entries never share or evict each other's leaked
      // blocks and per-entry numbers stay order-independent (the r16
      // cache-coupling adjudication — corpus_prep_funnel measured 13.6 s
      // multi-entry vs 7.1 s solo-cold on identical code before this).
      // blocking = true: the drop must FINISH here, not overlap the next
      // entry's timed window as background BlockManager work.
      RunScope.releaseAll(blocking = true)
      elapsed
    }
    // dev aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the suite while
    // iterating on one query; the driver never sets it, so driver runs
    // always measure the full registry. Unknown names fail fast — a typo
    // must not silently yield a partial suite that still emits a
    // plausible-looking bench artifact.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(only) =>
        val asked = only.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = asked.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
        // dedupe: a repeated name would run twice and emit duplicate JSON
        // keys in the queries/spread maps (mirrors Verify's Set handling)
        asked.distinct.sorted
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    names.foreach(exec) // warm-up pass (uncounted)
    // clear per-query .cache() blocks between passes: every pass re-pays
    // cache population the same way, instead of pass 1 paying it for the
    // suite and later passes riding (or evicting) accumulated blocks —
    // the cross-pass bias the interleaved design is meant to remove.
    // Since r17, exec() also releases each entry's run-scoped scratch
    // (RunScope.releaseAll) the moment its action completes, so entries
    // no longer leak caches into each other at ANY scale.
    // SPARK_GRAFT_BENCH_ISOLATE=1 additionally clearCache()s between
    // ENTRIES — now a belt-and-braces sweep for anything NOT routed
    // through RunScope; with the kernels converted it should agree with
    // the default within noise (that agreement is the r17 acceptance
    // check for the unpersist discipline).
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
    def runPasses(ns: Seq[String]): Seq[Map[String, Double]] =
      (1 to reps).map { _ =>
        spark.catalog.clearCache()
        ns.map { n =>
          if (isolate) spark.catalog.clearCache()
          n -> exec(n)
        }.toMap
      }
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0
      else if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
    def relOf(ps: Seq[Map[String, Double]]): Seq[(String, Double)] =
      names.flatMap { n =>
        val xs = ps.map(_.getOrElse(n, -1.0)).filter(_ >= 0).sorted
        val m = median(xs)
        if (xs.nonEmpty && m > 0) Some(n -> (xs.max - xs.min) / m) else None
      }
    val passesFirst = runPasses(names)
    // PASS-LEVEL NOISE GATE (VERDICT r18 #3): each pass's own total is an
    // independent whole-suite sample, so pass totals far apart = ambient
    // machine load during the run, regardless of per-entry spreads. The
    // r18 driver artifact shipped pass_totals [255.0, 239.5, 287.9] — a
    // 19% whole-suite spread — yet passed undegraded because the per-entry
    // gate alone keyed the stamp. A load-poisoned FIRST measurement is
    // usually transient, so re-measure the whole suite once; a run whose
    // (re)measured pass spread still exceeds [[PassNoiseGateRel]] is
    // stamped degraded below.
    val firstTotals = passTotalsOf(names, passesFirst)
    val passRemeasured = passGateTrips(firstTotals)
    val passes0 =
      if (passRemeasured) {
        System.err.println(f"[bench] pass-level noise gate tripped " +
          f"(pass_spread_rel ${passSpreadRelOf(firstTotals)}%.3f > " +
          f"$PassNoiseGateRel) — re-measuring the suite")
        runPasses(names)
      } else passesFirst
    // NOISE GATE (round-12 lesson: a contended machine produced a bench
    // artifact whose three reps of the MEDIAN query disagreed by 113% —
    // unreadable as a regression signal, and indistinguishable from a real
    // regression without a second run). If the suite-level relative spread
    // is over [[NoiseGateRel]], re-measure the worst-spread quartile with
    // fresh interleaved passes — contention is usually transient, and the
    // worst quartile is where it concentrated — and if the RECOMPUTED
    // spread still exceeds the gate, stamp the artifact "degraded":true so
    // no reader credits its totals against another round's numbers.
    val rel0 = relOf(passes0).map(_._2).sorted
    val retried: Seq[String] =
      if (rel0.nonEmpty && median(rel0) > NoiseGateRel) {
        val worst = relOf(passes0).sortBy(-_._2)
          .take(math.max(1, (names.size + 3) / 4)).map(_._1)
        System.err.println(f"[bench] noise gate tripped (rel_spread_median " +
          f"${median(rel0)}%.3f > $NoiseGateRel) — re-measuring ${worst.size} queries")
        worst
      } else Nil
    val passes: Seq[Map[String, Double]] =
      if (retried.isEmpty) passes0
      else passes0.zip(runPasses(retried)).map { case (p, r) => p ++ r }
    def samples(n: String): Seq[Double] = passes.map(_(n)).filter(_ >= 0).sorted
    val med = names.map(n => n -> median(samples(n)))
    val spreads = names.map { n =>
      val xs = samples(n)
      n -> (if (xs.isEmpty) -1.0 else xs.max - xs.min)
    }
    val relByName = names.flatMap { n =>
      val xs = samples(n)
      val m = median(xs)
      if (xs.nonEmpty && m > 0) Some(n -> (xs.max - xs.min) / m) else None
    }
    val relSpreads = relByName.map(_._2).sorted
    val total = med.map(_._2).filter(_ >= 0).sum
    // SUITE-LEVEL noise bound (VERDICT r17 #3): each of the reps
    // interleaved measurement passes is a complete back-to-back sweep of
    // the quiet suite, so its per-pass TOTAL is an independent sample of
    // the whole-suite wall time in its own time window. Publishing all of
    // them (plus their relative spread) lets a reader of the artifact
    // alone tell ambient machine load from a code regression: ambient
    // drift moves the pass totals apart (r17 shipped a 203.5 s acceptance
    // run next to a 229.3 s committed record with no way to adjudicate);
    // a regression moves them together. Computed over the ORIGINAL
    // interleaved passes (before any noise-gate retry splicing), so each
    // total is one coherent sweep. Per-entry max-rel-diff across the same
    // passes already ships as spread_rel.
    // totals are summed over queries that succeeded in EVERY pass, so a
    // transient single-pass failure shrinks that pass's coverage instead
    // of masquerading as ambient drift; pass_failed counts the executions
    // EXCLUDED from the totals (every pass of every query that failed in
    // any pass — ADVICE r18: one failure at reps=3 excludes 3 executions,
    // and the field says so; 0 on a healthy run)
    val inAllPasses = names.filter(n => passes0.forall(_.getOrElse(n, -1.0) >= 0))
    val passTotals = passTotalsOf(names, passes0)
    val passFailed = (names.size - inAllPasses.size) * passes0.size
    val passSpreadRel = passSpreadRelOf(passTotals)
    val passJson = passTotals.map(r1).mkString("[", ",", "]")
    val worst = relByName.sortBy(-_._2).take(3)
      .map { case (n, v) => s"""["$n",${r2(v)}]""" }.mkString("[", ",", "]")
    // degraded = even after the retries the numbers are contention-
    // poisoned at EITHER level — per-entry (median relative spread over
    // the gate) or whole-suite (pass totals over the pass gate, computed
    // on the re-measured passes) — and must not be read as a
    // round-over-round signal
    val degraded = isDegraded(
      if (relSpreads.isEmpty) -1.0 else median(relSpreads),
      passGateTrips(passTotals))
    val noise =
      if (relSpreads.isEmpty) s"""{"rel_spread_median":-1,"rel_spread_max":-1,"retried":${retried.size},"pass_totals":$passJson,"pass_spread_rel":${r3(passSpreadRel)},"pass_remeasured":${if (passRemeasured) 1 else 0},"pass_failed":$passFailed,"worst":[]}"""
      else s"""{"rel_spread_median":${r3(median(relSpreads))},"rel_spread_max":${r3(relSpreads.max)},"retried":${retried.size},"pass_totals":$passJson,"pass_spread_rel":${r3(passSpreadRel)},"pass_remeasured":${if (passRemeasured) 1 else 0},"pass_failed":$passFailed,"worst":$worst}"""
    val quietPath = sys.env.getOrElse("BENCH_QUIET", "bench_quiet.json")
    val out = sys.env.getOrElse("BENCH_OUT", "bench_out.json")
    println(stdoutLine(med, total, sfDir, reps, noise, degraded,
      quiet = if (degraded) readQuiet(quietPath, sfDir, cpus.toString) else None,
      fullMap = out))
    val dg = if (degraded) ""","degraded":true""" else ""
    // queries_min (r21, additive BENCH_OUT-only field): per-entry MIN
    // across all measured passes — the contention-robust estimator the
    // r20 verdict prescribed for adjudicating deltas on a host whose
    // median carries ambient load (a slow outlier pass inflates median
    // and spread; it cannot inflate the min). The reported total/queries
    // stay the median methodology unchanged.
    val mins = names.map { n =>
      val xs = samples(n)
      n -> (if (xs.isEmpty) -1.0 else xs.min)
    }
    // cpus (r22, additive BENCH_OUT/quiet-record-only field): the r21
    // driver's NON-degraded 8-core scaling pass silently overwrote the
    // quiet record, so a later degraded 32-core run would have surfaced
    // an 8-core total as its "quiet" baseline — the record now carries
    // its core count and readQuiet rejects a mismatch like it rejects
    // an sf mismatch. The stdout line the driver parses is unchanged.
    // schema_store: the session's Tables schema-store counters over the
    // whole run, warm-up included (which caches hit, from the artifact)
    val store = Tables.schemaStoreStats(spark)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(med, _.toString)},"sf":"$sfDir","cpus":$cpus,"mode":"warm","n_queries":${med.size},"reps":$reps$dg,"spread_sec":${jmap(spreads, _.toString)},"spread_rel":${jmap(relByName, r3)},"queries_min":${jmap(mins, _.toString)},"total_min":${mins.map(_._2).filter(_ >= 0).sum},"noise":$noise,"schema_store":{"hits":${store.hits},"misses":${store.misses}},"failures":${failuresJson(failures.toSeq)}}"""
    try Files.writeString(Paths.get(out), full + "\n")
    catch { case _: Throwable => () }
    // Self-maintained quiet-canonical record: a NON-degraded full-suite
    // pass (no SPARK_GRAFT_BENCH_ONLY subset) is the reference a later
    // contended run's stdout surfaces as quiet_total — so a reader of a
    // degraded BENCH_rN.json alone cannot mistake contention for a
    // regression. Subset runs never overwrite it (their total is partial).
    // the quiet record carries its own recording date (VERDICT r20 #6) so
    // a later degraded run's quiet context is self-describing about age
    if (!degraded && sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty)
      try {
        val recorded = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
        Files.writeString(Paths.get(quietPath),
          full.stripSuffix("}") + s""","recorded":"$recorded"}""" + "\n")
      } catch { case _: Throwable => () }
    spark.stop()
  }

  /** Reads (total, n_queries, recorded-date) from the last non-degraded
    * full pass's artifact, if one exists AND it was measured at the same
    * scale factor as the current run — a quiet record from a different sf
    * would surface a baseline total that is not comparable to this run's
    * numbers (quiet_n catches registry-size drift but not sf drift). The
    * recorded date (VERDICT r20 #6) makes a STALE quiet context
    * self-describing: a reader of a degraded artifact alone can see the
    * quiet number predates the current registry instead of mistaking it
    * for a current-round baseline (records written before r21 carry no
    * date — surfaced as absent, not faked). Regex-minimal on purpose: the
    * file is our own single-line JSON, and a parse failure must degrade
    * to "no context", never crash the bench. */
  private[graft] def readQuiet(path: String, sfDir: String,
      cpus: String): Option[(Double, Int, Option[String])] =
    try {
      val s = Files.readString(Paths.get(path))
      for {
        sf <- """"sf":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
        if sf == sfDir
        // r22: a quiet record from a different core count is not a
        // comparable baseline (the r21 8-core scaling pass proved it:
        // its non-degraded total overwrote the 32-core record). A
        // pre-r22 record carries no cpus field and is surfaced as
        // absent, not trusted.
        c <- """"cpus":([0-9]+)""".r.findFirstMatchIn(s).map(_.group(1))
        if c == cpus
        v <- """"value":([0-9.Ee+-]+)""".r.findFirstMatchIn(s).map(_.group(1).toDouble)
        n <- """"n_queries":([0-9]+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      } yield (v, n,
        """"recorded":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1)))
    } catch { case _: Throwable => None }

  /** BENCH_OUT's `failures` field: `{name, class, message}` per failed
    * entry (its first failure), so a missing timing is explained by the
    * artifact instead of a stderr line. */
  private[graft] def failuresJson(fs: Seq[(String, Throwable)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    fs.foreach { case (n, e) =>
      arr.addObject().put("name", n).put("class", e.getClass.getName)
        .put("message", String.valueOf(e.getMessage))
    }
    mapper.writeValueAsString(arr)
  }

  // Locale.ROOT: the f-interpolator delegates to the DEFAULT locale, so
  // under e.g. de_DE the decimal separator becomes ',' and the stdout
  // line is no longer valid JSON — exactly the parsed:null failure mode
  // this line is built to avoid
  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def r2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
  private def r1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
  private def jmap(kv: Seq[(String, Double)], fmt: Double => String): String =
    kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** Hard ceiling for the stdout line. The driver records only the LAST
    * ~2000 chars of stdout, and sbt appends a ~75-char `[success] Total
    * time …` trailer after the line, so anything past ~1925 chars is
    * silently beheaded and the driver records `parsed:null`. Rounds 8-9
    * shipped 74 queries whose fixed 3dp map ran 2017 chars — BOTH rounds'
    * bench artifacts were lost this way. 1880 + the 75-char trailer =
    * 1955, inside the window with ~45 chars of drift slack.
    *
    * A zero-omission stdout line is ARITHMETICALLY impossible at the
    * current registry size: 108 names averaging ~15 chars cost ≥ 21
    * chars each even at 1dp (`"name":0.1,`) — ~2.36 KB for the map alone,
    * over the capture window before the envelope. The complete 3dp map
    * always ships in BENCH_OUT; the stdout tiers below only maximize how
    * much of it survives the window. */
  private[graft] val StdoutBudget = 1880

  /** Suite-level relative-spread gate: above this, the run re-measures
    * its worst-spread quartile, and an artifact whose recomputed spread
    * still exceeds it carries `"degraded":true`. Halved 0.5 → 0.25 in r19
    * (VERDICT r18 #3): 0.5 let a run whose median entry's reps disagreed
    * by 49% pass undegraded; 0.25 sits just above the quiet-machine
    * noise floor (rel_spread_median ~0.12-0.22, rounds 7-11) and would
    * have flagged both the r12 contamination (1.136) and the r18
    * load-noisy driver run (0.246). */
  private[graft] val NoiseGateRel = 0.25

  /** Pass-level (whole-suite) spread gate: each interleaved pass's own
    * total is an independent sample of suite wall time, so totals more
    * than this far apart mean ambient load moved during the run even when
    * every individual entry's spread looks tolerable (the r18 driver run:
    * pass totals [255.0, 239.5, 287.9] = 19% spread, per-entry median
    * 0.246). Above the gate the suite is re-measured once; a run still
    * over it on the fresh passes is stamped degraded. 0.1 sits above the
    * quiet-machine pass spread (8.2% on the r18 quiet-canonical record)
    * and far below the 19% the r18 driver run shipped. */
  private[graft] val PassNoiseGateRel = 0.1

  /** The pass gate only applies when the median pass total is at least
    * this many seconds: below it, per-pass deltas are scheduler/GC jitter
    * (~0.1 s tails), not ambient load — a 2-entry smoke subset totalling
    * 0.7 s/pass would otherwise stamp itself degraded on 0.1 s of noise.
    * Full-suite runs (the only ones that update the quiet-canonical
    * record or ship as BENCH_rN) total ~200 s at sf0.1, far above it. */
  private[graft] val MinPassTotalSec = 10.0

  /** True when the pass-level gate trips: totals big enough to carry a
    * load signal AND spread over [[PassNoiseGateRel]]. */
  private[graft] def passGateTrips(totals: Seq[Double]): Boolean = {
    val s = totals.sorted
    val m =
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    m >= MinPassTotalSec && passSpreadRelOf(totals) > PassNoiseGateRel
  }

  /** Per-pass suite totals over the queries that succeeded in EVERY pass
    * (so a transient failure shrinks coverage instead of skewing drift). */
  private[graft] def passTotalsOf(
      names: Seq[String], passes: Seq[Map[String, Double]]): Seq[Double] = {
    val inAll = names.filter(n => passes.forall(_.getOrElse(n, -1.0) >= 0))
    passes.map(p => inAll.map(p(_)).sum)
  }

  /** Relative spread of the per-pass totals: (max-min)/median; -1 when
    * undefined. */
  private[graft] def passSpreadRelOf(totals: Seq[Double]): Double = {
    val s = totals.sorted
    val m =
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    if (s.nonEmpty && m > 0) (s.max - s.min) / m else -1.0
  }

  /** The artifact-stamping rule, pure so BenchSpec can replay recorded
    * noise blobs through it: degraded when EITHER the per-entry median
    * relative spread exceeds [[NoiseGateRel]] or the whole-suite pass
    * gate trips (see [[passGateTrips]]). */
  private[graft] def isDegraded(
      relSpreadMedian: Double, passTrips: Boolean): Boolean =
    relSpreadMedian > NoiseGateRel || passTrips

  /** Cross-round ANCHOR queries: always present in the stdout projection
    * regardless of slowest-K rank, so the driver-visible BENCH_rN history
    * never loses its round-over-round comparison points as the registry
    * grows (at 144 entries the stdout budget omits ~75 fast queries — an
    * anchor that got FAST would otherwise vanish exactly when it got
    * interesting). One cheap plan-shape anchor (q1), one iterative-job
    * anchor (dedup_clusters — the most scheduler-sensitive entry), one
    * shuffle-heavy kernel anchor (value_quantiles). */
  private[graft] val Anchors = Seq("dedup_clusters", "q1_ratio_rank", "value_quantiles")

  /** Builds the one-line stdout JSON, adaptively compacted to fit
    * [[StdoutBudget]] at ANY registry size: full per-query map at 3dp;
    * if over budget, 2dp; then 1dp (quantization up to ±0.05 s/entry —
    * under the suite's own ~0.1 s sub-second jitter, so nothing a reader
    * could act on is lost); if still over, keep the [[Anchors]] plus the
    * slowest-K 1dp entries that fit (the slowest dominate `total`, which
    * is the operative baseline metric; the anchors keep cross-round
    * comparability) and fold the dropped tail into `q_omitted` (count)
    * + `omitted_sec` (their summed seconds, so `sum(queries) +
    * omitted_sec ≈ value` stays checkable from the line alone, to 1dp
    * quantization). The full-precision map always ships in the BENCH_OUT
    * side channel, so nothing is lost — only the stdout projection
    * shrinks. BenchSpec pins the budget invariant against synthetic
    * oversized registries. */
  private[graft] def stdoutLine(
      med: Seq[(String, Double)], total: Double, sfDir: String,
      reps: Int, noise: String, degraded: Boolean = false,
      quiet: Option[(Double, Int, Option[String])] = None,
      fullMap: String = "bench_out.json"): String = {
    // failed queries carry median -1.0; exclude them from omitted_sec (they
    // would subtract a phantom second each and break the documented
    // sum(queries)+omitted_sec ≈ value reconciliation) and surface them as
    // an explicit q_failed count instead
    val failed = med.count(_._2 < 0)
    val fl = if (failed == 0) "" else s""","q_failed":$failed"""
    // a degraded artifact must be readable STANDALONE: point at the full
    // per-query map (always complete in BENCH_OUT) and carry the last
    // non-degraded full pass's total so the contended number is never the
    // only number on the page
    // full_map names the RESOLVED artifact path (BENCH_OUT may be
    // overridden), never the literal default — a pointer to a file that
    // was not written is worse than no pointer
    val dg =
      if (!degraded) ""
      else s""","degraded":true,"full_map":"$fullMap"""" +
        quiet.map { case (v, n, rec) =>
          s""","quiet_total":${r1(v)},"quiet_n":$n""" +
            rec.map(d => s""","quiet_recorded":"$d"""").getOrElse("")
        }.getOrElse("")
    def mk(qjson: String, omitted: Seq[Double]): String = {
      val om =
        if (omitted.isEmpty) ""
        else s""","q_omitted":${omitted.size},"omitted_sec":${r3(omitted.filter(_ >= 0).sum)}"""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qjson,"sf":"$sfDir","mode":"warm","n_queries":${med.size},"reps":$reps$fl$dg$om,"noise":$noise}"""
    }
    val full3 = mk(jmap(med, r3), Nil)
    if (full3.length <= StdoutBudget) return full3
    val full2 = mk(jmap(med, r2), Nil)
    if (full2.length <= StdoutBudget) return full2
    val full1 = mk(jmap(med, r1), Nil)
    if (full1.length <= StdoutBudget) return full1
    val bySlow = med.sortBy { case (n, v) => (-v, n) }
    val (anchors, rest) = bySlow.partition(t => Anchors.contains(t._1))
    var k = rest.size
    var line = full1
    while (line.length > StdoutBudget && k > 0) {
      k -= 1
      line = mk(jmap((anchors ++ rest.take(k)).sortBy(_._1), r1),
        rest.drop(k).map(_._2))
    }
    // extremis: if the anchors alone still blow the budget (only possible
    // with an absurdly long sf path or noise blob), shed them too rather
    // than emit a line the driver beheads into parsed:null
    var a = anchors.size
    while (line.length > StdoutBudget && a > 0) {
      a -= 1
      line = mk(jmap(anchors.take(a).sortBy(_._1), r1),
        (anchors.drop(a) ++ rest).map(_._2))
    }
    // even the k=0 envelope (empty queries map) can exceed the budget if a
    // fixed field balloons (e.g. an absurdly long SPARK_GRAFT_SF_DIR path
    // inflating "sf") — fail LOUD instead of printing a line the driver
    // will behead into parsed:null with no trace of why
    require(line.length <= StdoutBudget,
      s"bench stdout line cannot fit $StdoutBudget chars even with an empty " +
        s"queries map (len=${line.length}) — a fixed field (sf path? noise?) is oversized")
    line
  }
}
