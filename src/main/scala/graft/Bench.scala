package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. Prints ONE JSON line with per-query best times plus
  * the raw per-pass times, so a host-noise window (this shared box stalls
  * for tens of seconds on a ~half-hour cycle) is visible in the artifact
  * instead of silently inflating the headline number.
  *
  * Noise defenses, in order:
  *   1. Pass 1 runs queries in natural order, pass 2 in REVERSED order —
  *      a time-localized stall therefore inflates a different contiguous
  *      block of queries in each pass, and min-over-passes recovers.
  *   2. Every pass's time is recorded in the JSON ("passes") so a reader
  *      can see divergence per query rather than trusting the min.
  *   3. After the two guaranteed passes, queries whose pass times diverge
  *      >3x, or whose min exceeds 3x an sf0.001-derived expectation, get
  *      up to two budget-gated extra passes.
  */
object Bench {
  /** Smallest SF, used for cheap JIT/codegen warm-up and as the adaptive
    * re-run expectation baseline. Shared with Prof so a profiling run
    * warms up against the same data as the benchmark it mimics. */
  private[graft] val WarmupDir = "/root/testdata/sf0.001"

  /** Median of warm passes; lower-middle for even counts (with exactly
    * two warm passes the upper-middle would report the NOISY pass as
    * the median, inverting the field's purpose). Pure: spec-pinned. */
  private[graft] def warmMedian(warm: Vector[Double]): Double =
    if (warm.isEmpty) -1.0 else warm.sorted.apply((warm.length - 1) / 2)

  /** True when a query's WARM passes diverge >3x after the adaptive
    * re-runs — interference (GC / scheduler) that min-over-passes hides
    * and a shared cluster would see at p99. Pure: spec-pinned. */
  private[graft] def varianceFlagged(warm: Vector[Double]): Boolean =
    warm.length >= 2 && warm.max > 0.5 &&
      warm.max / math.max(warm.min, 1e-3) > 3.0

  /** True when a diverged query's adaptive re-runs came back CONSISTENT:
    * its two most recent warm passes both land within max(1.5×, +0.2 s)
    * of the best warm time, so the earlier outlier was a transient host
    * event — which the artifact then attributes (outlier pass id + that
    * pass's host evidence) instead of flagging. Requires ≥3 warm passes:
    * the diverging pair alone proves nothing either way. A query still
    * diverging after the re-run budget stays flagged. Pure: spec-pinned
    * (judge r12: flags must clear or self-attribute). */
  private[graft] def varianceResolved(warm: Vector[Double]): Boolean =
    warm.length >= 3 && {
      val mn = warm.min
      val gate = math.max(1.5 * mn, mn + 0.2)
      warm.takeRight(2).forall(_ <= gate)
    }

  /** One host-counter snapshot: cumulative /proc/stat busy/total jiffies,
    * this JVM's cumulative utime+stime jiffies, 1-min loadavg, and the
    * running-task count — everything needed to compute, per bench pass,
    * how much CPU somebody ELSE burned while we measured. */
  private[graft] case class HostSample(busy: Long, total: Long,
                                       selfTicks: Long, load1: Double,
                                       procsRunning: Int)

  private def readFile(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }

  private def sampleHost(): HostSample =
    try {
      val cpu = readFile("/proc/stat").linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
      val total = cpu.sum
      val self = {
        val s = readFile("/proc/self/stat")
        // comm can contain spaces/parens: fields restart after last ')'
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        rest(11).toLong + rest(12).toLong // utime + stime
      }
      val la = readFile("/proc/loadavg").trim.split("\\s+")
      HostSample(total - idle, total, self, la(0).toDouble,
        la(3).split("/")(0).toInt)
    } catch { case _: Throwable => HostSample(-1, -1, -1, -1.0, -1) }

  /** Host evidence for one pass, JSON-ready. `other_cpu_frac` is the
    * fraction of machine CPU consumed OUTSIDE this JVM during the pass —
    * the direct contention attribution (≈0 on a quiet host even while
    * the bench saturates all cores, since our own burn is subtracted). */
  private def hostEvidence(pass: Int, b: HostSample, a: HostSample): String = {
    val dTotal = math.max(1L, a.total - b.total)
    val other =
      if (b.total < 0 || a.total < 0) -1.0
      else math.max(0.0, ((a.busy - b.busy) - (a.selfTicks - b.selfTicks))
        .toDouble / dTotal)
    f"""{"pass":$pass,"load1_before":${b.load1}%.2f,"load1_after":${a.load1}%.2f,"procs_running_after":${a.procsRunning},"other_cpu_frac":$other%.4f}"""
  }

  /** Cold-budget gate (judge r15): training-memo accretion keeps moving
    * real work into cold_extra — legitimately, but invisibly (r13's
    * 72.9 s cold crept in one memo at a time). Flag when the aggregate
    * one-time build cost exceeds HALF the warm steady-state total, so
    * adding a training family is a visible choice in slow_flags rather
    * than a silent tax on first-run wall. Pure: spec-pinned.
    *
    * The budget counts ATTRIBUTABLE cold only — per-query cold_extra
    * above [[ColdNoiseFloorSec]]. Measured r16 (same build, quiet vs
    * busy window): raw cold_total swung 118.4 ↔ 73.0 s because
    * cold_extra subtracts warm_min, and 255 queries × ≤1 s of
    * first-run JIT/page-cache jitter ride the difference (49.2 s of
    * the quiet-window "cold" was sub-second entries — warmup, not memo
    * accretion; the 26 genuine training/index builds summed 69.2 s).
    * Gating on the >1 s entries tracks the thing the gate exists for;
    * the artifact reports BOTH sums so the jitter stays visible. */
  private[graft] val ColdNoiseFloorSec = 1.0
  private[graft] def coldFlagged(coldAttributable: Double,
                                 warmTotal: Double): Boolean =
    warmTotal > 0 && coldAttributable > 0.5 * warmTotal

  /** Clean-window WAIT (judge r18 task 1): the r18 driver artifact
    * lost `window_ok` — and the brand-new regression gate skipped —
    * because pass 0 started at load1 10.42, residue of whatever ran
    * before. The gate MEASURED the dirty window but never EARNED a
    * clean one. So before pass 0, while the 1-min load sits over the
    * gate, the bench now sleeps-and-retries on a bounded schedule
    * (poll every [[WindowWaitPollSec]], give up after
    * [[WindowWaitMaxSec]]), records every sampled (load1, waited_sec)
    * pair in the artifact, and then proceeds regardless — an exhausted
    * wait still ships the honest `window_ok:false` flag, it just can
    * no longer happen silently when 5 minutes of patience would have
    * bought a comparable artifact. Pure decision rule: spec-pinned. */
  private[graft] val WindowWaitMaxSec = 300.0
  private[graft] val WindowWaitPollSec = 20.0
  private[graft] def shouldKeepWaiting(load1: Double, waitedSec: Double,
                                       maxWaitSec: Double = WindowWaitMaxSec): Boolean =
    load1 > WindowLoad1Max && waitedSec < maxWaitSec

  /** Host-window gate (judge r15: the r15 artifact was taken in a
    * busier window than r14's and cross-round warm comparisons needed
    * manual A/Bs): an artifact is comparison-grade only when the
    * pass-0 pre-load and the worst external-CPU fraction sit under
    * these measured thresholds (r14's quiet window: load1 5.53,
    * other_cpu ≈ 0.0006; r15's noisy one: 8.31 — ~20% inflation via
    * memory bandwidth). The gate VALUES ship in the artifact so the
    * reader sees what was checked, and presnapshot refuses to
    * snapshot a windowed-out artifact. Pure: spec-pinned. */
  private[graft] val WindowLoad1Max = 7.0
  private[graft] val WindowOtherCpuMax = 0.05
  private[graft] def windowOk(load1Pass0: Double, maxOtherCpu: Double): Boolean =
    (load1Pass0 < 0 || load1Pass0 <= WindowLoad1Max) &&
      (maxOtherCpu < 0 || maxOtherCpu <= WindowOtherCpuMax)

  /** Per-query budget gate (judge r8): round 8 shipped a 768 s query —
    * 90% of the whole bench — because nothing re-checked per-query cost
    * after the last plan audit. Flag every query whose best (warm) time
    * exceeds max(`absFloorSec`, `medianMult` × median-of-best): the
    * absolute floor keeps ordinary sf0.1 queries (median ~0.3 s, p99
    * ~2.7 s in r8) from flagging, the median multiple scales the gate
    * up with SF so a full-corpus run doesn't flag everything. Flags are
    * emitted as a `slow_flags` JSON field (the artifact the driver and
    * judge read) AND as stderr lines, so a pathological plan can never
    * ride into a round snapshot silently again. Pure function: the
    * planted-slow-query case is pinned in Round9Spec. */
  private[graft] def slowFlags(best: Seq[(String, Double)],
                               absFloorSec: Double = 10.0,
                               medianMult: Double = 5.0): Seq[String] = {
    val ok = best.collect { case (_, v) if v >= 0 => v }.sorted
    if (ok.isEmpty) Seq.empty
    else {
      val median = ok(ok.length / 2)
      val gate = math.max(absFloorSec, medianMult * median)
      best.collect { case (n, v) if v > gate => n }
    }
  }

  /** Audit-query cost budget (judge r16 task 4): the registry's warm
    * cost crept 1.45× → 1.57× → 1.64×-of-baseline across three rounds,
    * all of it in accreted training/audit queries that each individually
    * passed the 10 s [[slowFlags]] gate. Two tighter budgets, both loud
    * in the artifact:
    *  - per-query: any WARM best over [[WarmBudgetSec]] flags (the r16
    *    offenders — serial image decodes, the OPQ recall audit — sat at
    *    3-5 s); a deliberate exception must be entered in
    *    [[WarmBudgetExemptions]] WITH its reason, which ships in the
    *    artifact as `warm_budget_exempt` so the exemption is a visible
    *    decision, not a silent edit.
    *  - registry mean: warm total / measured queries over
    *    [[MeanWarmBudgetSec]] flags as `mean_budget`. Only enforced on a
    *    comparison-grade window (windowOk) — a busy host inflates every
    *    query and the window gate already marks those artifacts
    *    non-comparable. Pure: spec-pinned. */
  private[graft] val WarmBudgetSec = 3.0
  private[graft] val MeanWarmBudgetSec = 0.55
  private[graft] val WarmBudgetExemptions: Map[String, String] = Map.empty
  private[graft] def warmBudgetFlags(best: Seq[(String, Double)]): Seq[String] =
    best.collect {
      case (n, v) if v > WarmBudgetSec && !WarmBudgetExemptions.contains(n) => n
    }
  private[graft] def meanFlagged(total: Double, measured: Int,
                                 winOk: Boolean): Boolean =
    winOk && measured > 0 && total / measured > MeanWarmBudgetSec

  /** Sub-floor cold growth check (advisor r16): the attributable-cold
    * budget ignores per-query cold_extra under 1 s by design (window
    * jitter), but hundreds of 0.9 s memo builds would never trip it —
    * the exact accretion pattern the cold gate exists for. So the
    * SUB-floor sum is delta-checked against the previous round's
    * artifact instead: flag when it grew by more than 50% AND more than
    * 5 s absolute (both legs, so neither tiny-base ratios nor big-base
    * noise flag spuriously). Pure: spec-pinned. */
  private[graft] def subfloorGrown(prev: Double, now: Double): Boolean =
    prev >= 0 && now > 1.5 * prev && now > prev + 5.0

  /** The round number this run's artifacts belong to. Explicit
    * SPARK_GRAFT_ROUND wins; otherwise max(highest BENCH_r{N} + 1,
    * highest BENCH_DETAIL_r{N}): the +1 leg serves the driver's
    * end-of-round run (it writes BENCH_r{N} only after this bench), the
    * detail leg pins same-round re-runs to the SAME detail file once one
    * exists instead of spilling into the next round's name (advisor
    * r17). Pure: spec-pinned. */
  private[graft] def currentRound(envRound: Option[String],
                                  files: Seq[String]): Int =
    envRound.flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse {
        val rb = """BENCH_r(\d+)\.json""".r
        val rd = """BENCH_DETAIL_r(\d+)\.json""".r
        val maxB = files.collect { case rb(n) => n.toInt }.foldLeft(0)(math.max)
        val maxD = files.collect { case rd(n) => n.toInt }.foldLeft(0)(math.max)
        math.max(maxB + 1, math.max(maxD, 1))
      }

  /** Parse a prior round's detail artifact: (per-query warm best,
    * window_ok). Tolerant of absence/garbage — a missing or unparseable
    * prior simply yields no comparisons. Pure: spec-pinned. */
  private[graft] def parseDetailQueries(json: String): (Map[String, Double], Boolean) = {
    val qm = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    val pair = """"([^"]+)":(-?[0-9.]+)""".r
    val m = pair.findAllMatchIn(qm)
      .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
    val wok = """"window_ok":(true|false)""".r.findFirstMatchIn(json)
      .exists(_.group(1) == "true")
    (m, wok)
  }

  /** Per-query warm band of a prior round's detail artifact
    * (`"warm_band":{"q":[min,max],...}`) — the max side feeds the
    * regression gate's band suppression. Tolerant of absence (pre-r19
    * artifacts have no bands → empty map → no suppression). Pure:
    * spec-pinned. */
  private[graft] def parseDetailBandMax(json: String): Map[String, Double] = {
    val bm = """"warm_band":\{([^}]*)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    val pair = """"([^"]+)":\[(-?[0-9.]+),(-?[0-9.]+)\]""".r
    pair.findAllMatchIn(bm)
      .map(mm => mm.group(1) -> mm.group(3).toDouble).toMap
  }

  /** Cross-round per-query regression check (judge r17 task 4): a query
    * whose warm best exceeds 1.5× the previous round's AND grew by an
    * absolute 0.2 s (so 0.05 → 0.09 s planning jitter never flags) is a
    * machine-caught drift — the q272-style +7.6% creep the judge had to
    * spot by hand before this existed. Only judged when BOTH rounds'
    * host windows were comparison-grade; returns (name, prev, now).
    *
    * Band suppression (judge r18 task 5): r18's gate flagged
    * q78 0.50→0.76 s, which PLANS.md then adjudicated BY HAND as
    * same-build run variance (its committed band was 0.48–0.76 across
    * four runs). Artifacts now ship each query's warm min/max band, and
    * a current best still INSIDE the previous round's recorded band is
    * auto-suppressed — the prior round itself proved that time occurs
    * without a code change. A best OUTSIDE the band still fires. Prior
    * artifacts without bands (pre-r19) suppress nothing. Pure:
    * spec-pinned on a synthetic in-band/out-of-band pair. */
  private[graft] def regressionFlags(prev: Map[String, Double],
                                     cur: Seq[(String, Double)],
                                     bothWindowsOk: Boolean,
                                     prevBandMax: Map[String, Double] = Map.empty):
      Seq[(String, Double, Double)] =
    if (!bothWindowsOk) Seq.empty
    else cur.collect {
      case (n, v) if v >= 0 && prev.getOrElse(n, -1.0) >= 0 &&
        v > 1.5 * prev(n) && v > prev(n) + 0.2 &&
        v > prevBandMax.getOrElse(n, Double.NegativeInfinity) => (n, prev(n), v)
    }

  private def runOne(spark: SparkSession,
                     fn: (SparkSession, String) => DataFrame,
                     dir: String): Double = {
    val t0 = System.nanoTime()
    // a throwing pass must NOT record its (near-zero) elapsed time —
    // min() would silently prefer the failure over any real run
    val ok = try { fn(spark, dir).count(); true }
    catch { case _: Throwable => false }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val smallDir = WarmupDir
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Targeted mode (presnapshot's perf gate): args are query-name
    // prefixes; a non-empty selection benches only those queries and
    // writes `bench_partial.json` — NEVER `bench_last.json`, so a
    // partial run can't masquerade as a full bench to the driver.
    val only = args.flatMap(_.split(',')).filter(_.nonEmpty)
    val allQueries = SparkEntry.queries.toIndexedSeq
    val ordered =
      if (only.isEmpty) allQueries
      else allQueries.filter { case (n, _) => only.exists(n.startsWith) }
    // a typo'd prefix must FAIL, not write an empty artifact: an empty
    // bench_partial.json has vacuously-empty slow_flags and would
    // greenlight presnapshot for source changes it never measured
    // (advisor r11) — refuse before any file is touched
    if (only.nonEmpty && ordered.isEmpty) {
      System.err.println(s"[bench] REFUSING: prefix selection " +
        s"'${only.mkString(",")}' matches zero queries — nothing measured, " +
        "no artifact written")
      spark.stop()
      sys.exit(2)
    }

    // warm-up at the smallest SF: JIT + codegen + catalyst caches get hot
    // cheaply. (Warming at the target SF was tried and measured WORSE —
    // the doubled workload leaves enough cached/GC pressure to slow the
    // timed pass more than the leftover first-run costs it removes.)
    ordered.foreach { case (_, fn) =>
      try { fn(spark, smallDir).count() }
      catch { case _: Throwable => () }
    }
    // second (warm) sf0.001 pass: a per-query expectation baseline used by
    // the adaptive re-run criterion below
    val expectSmall = ordered.map { case (name, fn) =>
      name -> runOne(spark, fn, smallDir)
    }.toMap
    // the warm-up's cached sf0.001 memo tables must NOT occupy the heap
    // during the timed passes — at ~100 queries the stacked old-gen
    // state inflated timings up to 7x through GC pressure
    Tables.clearMemo(spark)

    // every recorded time carries its GLOBAL pass id, and every pass
    // (guaranteed + adaptive) brackets itself with host-counter samples:
    // the artifact can therefore attribute a divergent warm time to the
    // specific pass and show what the HOST was doing during it
    // (judge r12: variance flags must clear or self-attribute)
    val passTimes =
      scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Double, Int)]]
    val hostPasses = scala.collection.mutable.ArrayBuffer.empty[String]
    val hostRaw = scala.collection.mutable.ArrayBuffer.empty[(HostSample, HostSample)]
    var passCounter = 0
    def runPass(qs: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
      val id = passCounter; passCounter += 1
      System.gc()
      val before = sampleHost()
      qs.foreach { case (name, fn) =>
        val t = runOne(spark, fn, sfDir)
        passTimes(name) = passTimes.getOrElse(name, Vector.empty) :+ ((t, id))
      }
      val after = sampleHost()
      hostRaw += ((before, after))
      hostPasses += hostEvidence(id, before, after)
    }
    def okTimes(name: String): Vector[Double] =
      passTimes.getOrElse(name, Vector.empty).map(_._1).filter(_ >= 0)
    // WARM entries: every recorded pass after the first (pass 1 pays
    // memo/index builds), with pass ids, failures dropped
    def warmEntries(name: String): Vector[(Double, Int)] =
      passTimes.getOrElse(name, Vector.empty).drop(1).filter(_._1 >= 0)

    // EARN a clean window before pass 0 (judge r18 task 1): while the
    // 1-min load exceeds the gate, sleep-and-retry on the bounded
    // schedule; every sample ships in the artifact so a reader sees
    // what was waited out (or that the wait was exhausted and the run
    // proceeded with the honest window_ok:false).
    val windowWaits = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val waitStart = System.nanoTime()
    var load1Now = sampleHost().load1
    while (shouldKeepWaiting(load1Now, (System.nanoTime() - waitStart) / 1e9)) {
      windowWaits += ((load1Now, (System.nanoTime() - waitStart) / 1e9))
      System.err.println(f"[bench] HOST BUSY before pass 0: load1=$load1Now%.2f " +
        f"> $WindowLoad1Max%.2f — waiting ${WindowWaitPollSec}%.0f s " +
        f"(${(System.nanoTime() - waitStart) / 1e9}%.0f/${WindowWaitMaxSec}%.0f)")
      Thread.sleep((WindowWaitPollSec * 1000).toLong)
      load1Now = sampleHost().load1
    }
    val windowWaitSec = (System.nanoTime() - waitStart) / 1e9
    val windowWaitExhausted = load1Now > WindowLoad1Max
    if (windowWaitExhausted)
      System.err.println(f"[bench] WINDOW WAIT EXHAUSTED after " +
        f"$windowWaitSec%.0f s (load1 still $load1Now%.2f) — proceeding; " +
        "the artifact will carry window_ok:false")

    // two guaranteed passes (pass 1 pays every memo/index build at the
    // target SF, so a single-pass run would report index-construction
    // time as query time); pass 2 reversed per the noise defense above
    runPass(ordered)
    runPass(ordered.reverse)

    // Scaled expectation: warm sf0.001 time x sqrt(data ratio). Sub-linear
    // because per-query fixed costs (planning, codegen, task launch)
    // dominate at tiny SF; empirically sf0.1 cold runs land ~10-20x the
    // sf0.001 warm time on a quiet host. Floored at 1 s so sub-second
    // jitter never flags.
    val sfOf = "sf([0-9.]+)".r
    def sf(dir: String): Double =
      sfOf.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.1)
    val scaleUp = math.sqrt(sf(sfDir) / sf(smallDir))
    def expectation(name: String): Double = {
      val e = expectSmall.getOrElse(name, -1.0)
      if (e < 0) -1.0 else math.max(e * scaleUp, 1.0)
    }
    def needsRerun: IndexedSeq[(String, (SparkSession, String) => DataFrame)] =
      ordered.filter { case (name, _) =>
        val ts = okTimes(name)
        ts.nonEmpty && {
          val mn = ts.min
          val exp = expectation(name)
          // slow-vs-expectation gets at most 2 extra passes (4 total) —
          // a genuinely slow plan stays slow and re-running it only
          // burns the budget the variance re-runs need
          val slowDue = exp > 0 && mn > 3.0 * exp && ts.length < 4
          // divergence looks only at WARM passes (pass 1 deliberately
          // pays memo/index builds, so cold-vs-warm ratios >3x are
          // expected for index-backed queries); a diverged query keeps
          // re-running until its two most recent warm passes agree with
          // the best time (varianceResolved) or the safety cap — flags
          // must CLEAR, not merely get one token re-run (judge r12)
          val warm = warmEntries(name).map(_._1)
          val varDue = varianceFlagged(warm) && !varianceResolved(warm) &&
            ts.length < 8
          slowDue || varDue
        }
      }

    // adaptive passes, budget-gated so a low-CPU driver run still
    // finishes promptly; each is a full bracketed pass with host evidence
    val adaptBudget = 180.0
    val adaptStart = System.nanoTime()
    var todo = needsRerun
    while (todo.nonEmpty && passCounter < 10 &&
      (System.nanoTime() - adaptStart) / 1e9 < adaptBudget) {
      runPass(todo)
      todo = needsRerun
    }

    def fmt(d: Double): String = BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // -1.0 markers mean every pass of that query threw; they are not
    // timings, so the headline total sums only real measurements and the
    // failure count is reported separately.
    val best = ordered.map { case (name, _) =>
      val ts = okTimes(name)
      name -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    val qs = best.map { case (k, v) => s"\"$k\":${fmt(v)}" }
      .mkString("{", ",", "}")
    val rawPasses = ordered.map { case (name, _) =>
      val l = passTimes.getOrElse(name, Vector.empty).map(e => fmt(e._1))
        .mkString("[", ",", "]")
      s"\"$name\":$l"
    }.mkString("{", ",", "}")
    // cold-build cost, separated explicitly (judge r5 task 6): pass 1
    // pays every memo/index build at the target SF, so pass1 − warm-min
    // is the one-time index-construction cost for memo-backed queries
    // (q80/q29-style 4.3s→0.7s patterns) and ~0 for the rest. -1 = not
    // measurable (pass 1 threw, or no warm pass succeeded).
    val coldVals = ordered.map { case (name, _) =>
      val ts = passTimes.getOrElse(name, Vector.empty)
      val warm = warmEntries(name).map(_._1)
      val c = if (ts.isEmpty || ts.head._1 < 0 || warm.isEmpty) -1.0
        else math.max(0.0, ts.head._1 - warm.min)
      name -> c
    }
    val coldExtra = coldVals
      .map { case (name, c) => s"\"$name\":${fmt(c)}" }
      .mkString("{", ",", "}")
    // the AGGREGATE one-time cost, surfaced beside the warm headline
    // (judge r13: memoization keeps moving real work into cold_extra —
    // legitimately, a deployment amortizes index builds — but a reader
    // comparing rounds must see both numbers, not just the warm one)
    val coldTotal = coldVals.collect { case (_, c) if c >= 0 => c }.sum
    // the budget's input: one-time costs above the noise floor (see
    // coldFlagged — sub-second first-run jitter over 300+ queries is
    // warmup, not memo accretion, and swings with the window)
    val coldAttributable = coldVals
      .collect { case (_, c) if c > ColdNoiseFloorSec => c }.sum
    // median-of-warm beside min (judge r11): min-over-passes is the
    // steady-state number, but a query whose WARM passes still diverge
    // >3x after the adaptive re-runs is seeing real interference (GC or
    // local[32] scheduling) that min hides and that would be a p99
    // problem on a shared cluster — both the medians and the divergent
    // set ship in the artifact.
    val warmMedianJson = ordered.map { case (name, _) =>
      s"\"$name\":${fmt(warmMedian(warmEntries(name).map(_._1)))}"
    }.mkString("{", ",", "}")
    // per-query warm min/max band (judge r18 task 5): the raw material
    // next round's regression gate needs to auto-suppress same-build
    // run variance (q78's hand-adjudicated 0.48-0.76 s band) — a flag
    // only fires when the new best lands OUTSIDE what this round
    // already observed for the same build. [-1,-1] = no warm pass.
    val warmBandJson = ordered.map { case (name, _) =>
      val warm = warmEntries(name).map(_._1)
      if (warm.isEmpty) s"\"$name\":[-1,-1]"
      else s"\"$name\":[${fmt(warm.min)},${fmt(warm.max)}]"
    }.mkString("{", ",", "}")
    // every query that EVER diverged gets an attribution entry: its warm
    // times with pass ids, the outlier's pass, whether the re-runs
    // resolved it, and the outlier pass's host evidence INLINE — so a
    // reader sees the contention next to the flag (judge r12). Only the
    // still-unresolved set ships as `variance_flags`.
    val diverged = ordered.collect {
      case (name, _) if varianceFlagged(warmEntries(name).map(_._1)) => name
    }
    val varianceFlags = diverged.filterNot(n =>
      varianceResolved(warmEntries(n).map(_._1)))
    val varianceJson = varianceFlags.map("\"" + _ + "\"").mkString("[", ",", "]")
    val attributionJson = diverged.map { name =>
      val warm = warmEntries(name)
      val outlierPass = warm.maxBy(_._1)._2
      val host = if (outlierPass < hostPasses.length) hostPasses(outlierPass)
        else "null"
      s""""$name":{"warm":${warm.map(e => fmt(e._1)).mkString("[", ",", "]")},"warm_pass_ids":${warm.map(_._2).mkString("[", ",", "]")},"outlier_pass":$outlierPass,"resolved":${varianceResolved(warm.map(_._1))},"outlier_host":$host}"""
    }.mkString("{", ",", "}")
    val hostPassesJson = hostPasses.mkString("[", ",", "]")
    val total = best.collect { case (_, v) if v >= 0 => v }.sum
    val failed = best.count(_._2 < 0)
    // per-query budget gate: loud in the artifact AND on stderr
    val queryFlags = slowFlags(best)
    queryFlags.foreach { n =>
      System.err.println(s"[bench] SLOW QUERY over budget gate: $n " +
        s"best=${fmt(best.toMap.apply(n))}s — fix the plan before snapshot")
    }
    // cold-budget gate rides in the SAME flag list presnapshot refuses on.
    // FULL runs only: the budget is a REGISTRY property (aggregate memo
    // cost vs aggregate warm cost) — a targeted selection of
    // training-shaped queries trivially violates it without saying
    // anything about the registry (a 7-query unigram re-bench measured
    // cold/warm 3.2 where the full run sits at 0.33)
    val flags0 =
      if (only.isEmpty && coldFlagged(coldAttributable, total)) {
        System.err.println(f"[bench] COLD BUDGET over gate: attributable " +
          f"cold ${fmt(coldAttributable)}s > half the warm total " +
          f"${fmt(total)}s — training-memo accretion needs a decision " +
          "before snapshot")
        queryFlags :+ "cold_total"
      } else queryFlags
    // per-query WARM budget (3 s): the audit-accretion gate
    val overWarmBudget = warmBudgetFlags(best)
    overWarmBudget.foreach { n =>
      System.err.println(s"[bench] WARM BUDGET over ${WarmBudgetSec}s: $n " +
        s"best=${fmt(best.toMap.apply(n))}s — fix the plan or enter a " +
        "documented exemption in Bench.WarmBudgetExemptions")
    }
    val flags1 = flags0 ++ overWarmBudget.map("warm_budget:" + _)
    val exemptJson = WarmBudgetExemptions.toSeq.sortBy(_._1)
      .map { case (n, why) => s"\"$n\":\"$why\"" }.mkString("{", ",", "}")
    // host-window verdict: pass-0 pre-load + worst external-CPU fraction
    val load1Pass0 =
      if (hostRaw.isEmpty) -1.0 else hostRaw.head._1.load1
    val maxOtherCpu = hostRaw.iterator.map { case (b, a) =>
      val dTotal = math.max(1L, a.total - b.total)
      if (b.total < 0 || a.total < 0) -1.0
      else math.max(0.0, ((a.busy - b.busy) - (a.selfTicks - b.selfTicks))
        .toDouble / dTotal)
    }.foldLeft(-1.0)(math.max)
    val winOk = windowOk(load1Pass0, maxOtherCpu)
    if (!winOk)
      System.err.println(f"[bench] HOST WINDOW busy: load1_pass0=$load1Pass0%.2f " +
        f"(max $WindowLoad1Max) max_other_cpu_frac=$maxOtherCpu%.4f " +
        f"(max $WindowOtherCpuMax) — warm totals are not comparison-grade; " +
        "re-run in a quieter window before snapshotting")
    // registry-mean budget: only judged on a comparison-grade window
    // and only on FULL runs (a partial selection's mean reflects the
    // selection, not the registry)
    val measured = ordered.length - failed
    val meanPerQuery = if (measured > 0) total / measured else -1.0
    val flags2 =
      if (only.isEmpty && meanFlagged(total, measured, winOk)) {
        System.err.println(f"[bench] MEAN BUDGET over gate: " +
          f"$meanPerQuery%.3f s/query > $MeanWarmBudgetSec — the registry " +
          "is accreting cost faster than its queries earn it")
        flags1 :+ "mean_budget"
      } else flags1
    // sub-floor cold delta vs the PREVIOUS round's full-run artifact
    val coldSubfloor = math.max(0.0, coldTotal - coldAttributable)
    val prevSubfloor: Double =
      if (only.nonEmpty) -1.0
      else try {
        val prev = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_last.json")), "UTF-8")
        """"cold_subfloor":([0-9.]+)""".r.findFirstMatchIn(prev)
          .map(_.group(1).toDouble).getOrElse(-1.0)
      } catch { case _: Throwable => -1.0 }
    val flags =
      if (subfloorGrown(prevSubfloor, coldSubfloor)) {
        System.err.println(f"[bench] SUB-FLOOR COLD grew: " +
          f"${fmt(coldSubfloor)}s vs previous ${fmt(prevSubfloor)}s — " +
          "many small memo builds are accreting under the 1 s floor")
        flags2 :+ "cold_subfloor_growth"
      } else flags2
    val flagsJson = flags.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cross-round per-query regression block (judge r17 task 4): full
    // runs diff their warm bests against the PREVIOUS round's detail
    // artifact; comparisons are only made when both rounds' windows
    // were comparison-grade, and the verdict ships in the artifact so
    // a q272-style creep is machine-caught, not judge-spotted
    val cwdFiles =
      Option(new java.io.File(".").list()).getOrElse(Array.empty).toSeq
    val round = currentRound(sys.env.get("SPARK_GRAFT_ROUND"), cwdFiles)
    // round-inference guard (advisor r18): once the driver has
    // committed BENCH_r{N}, an ad-hoc rerun without SPARK_GRAFT_ROUND
    // infers N+1 and MISFILES its artifact as the NEXT round's detail
    // baseline — warn loudly whenever the detail file about to be
    // created exists only by inference, so the operator can env-pin
    // the round before the comparison base gets poisoned.
    if (sys.env.get("SPARK_GRAFT_ROUND").isEmpty && only.isEmpty &&
        !cwdFiles.contains(f"BENCH_DETAIL_r$round%02d.json"))
      System.err.println(s"[bench] ROUND INFERRED as r$round (no " +
        s"SPARK_GRAFT_ROUND set) and BENCH_DETAIL_r$round does not exist " +
        "yet — if this is an ad-hoc re-run of the PREVIOUS round, set " +
        "SPARK_GRAFT_ROUND to keep the next round's regression base clean")
    val (prevQ, prevWinOk, prevBandMax) =
      if (only.nonEmpty || round <= 1)
        (Map.empty[String, Double], false, Map.empty[String, Double])
      else try {
        val prevJson = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f"BENCH_DETAIL_r${round - 1}%02d.json")),
          "UTF-8")
        val (m, wok) = parseDetailQueries(prevJson)
        (m, wok, parseDetailBandMax(prevJson))
      } catch { case _: Throwable =>
        (Map.empty[String, Double], false, Map.empty[String, Double])
      }
    val regComparable = prevQ.nonEmpty && prevWinOk && winOk
    val regs = regressionFlags(prevQ, best, regComparable, prevBandMax)
    regs.foreach { case (n, p, c) =>
      System.err.println(s"[bench] REGRESSION vs r${round - 1}: $n " +
        s"${fmt(p)}s -> ${fmt(c)}s (>1.5x and >+0.2s on clean windows) — " +
        "profile before snapshot")
    }
    val regsJson = regs.map { case (n, p, c) =>
      s""""$n":{"prev":${fmt(p)},"now":${fmt(c)}}"""
    }.mkString("{", ",", "}")
    val regressionJson =
      s""""regressions":$regsJson,"regression_base_round":${round - 1},"regression_comparable":$regComparable"""
    val windowWaitsJson = windowWaits.map { case (l, w) =>
      f"""{"load1":$l%.2f,"waited_sec":${fmt(w)}}"""
    }.mkString("[", ",", "]")
    val windowJson =
      f""""window_ok":$winOk,"window_gate":{"load1_before_max":$WindowLoad1Max%.2f,"other_cpu_frac_max":$WindowOtherCpuMax%.4f,"load1_before_pass0":$load1Pass0%.2f,"max_other_cpu_frac":$maxOtherCpu%.4f},"window_waits":$windowWaitsJson,"window_wait_sec":${fmt(windowWaitSec)},"window_wait_exhausted":$windowWaitExhausted"""
    // passes >= 2 reuse session-memoized artifacts (cached dims, IVF
    // model, LSH band index), so min-over-passes is a warm timing for the
    // index-backed queries — stated here rather than silently implied.
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cold_total":${fmt(coldTotal)},"cold_attributable":${fmt(coldAttributable)},"cold_subfloor":${fmt(coldSubfloor)},"mean_per_query":${fmt(meanPerQuery)},"warm_budget_sec":$WarmBudgetSec,"mean_budget_sec":$MeanWarmBudgetSec,"warm_budget_exempt":$exemptJson,"n_queries":${ordered.length},"queries":$qs,"passes":$rawPasses,"warm_median":$warmMedianJson,"warm_band":$warmBandJson,"cold_extra":$coldExtra,"failed":$failed,"slow_flags":$flagsJson,"variance_flags":$varianceJson,"variance_attribution":$attributionJson,"host_passes":$hostPassesJson,$regressionJson,$windowJson,"timing":"min over recorded passes; pass1 natural order, pass2 reversed, pass3+ adaptive re-runs until divergence resolves (two consecutive clean warm passes) or caps; passes >= 2 warm; cold_extra = pass1 - warm min (one-time memo/index build cost) and cold_total is its sum — value + cold_total = first-run wall, value alone = steady state; warm_median = median of warm passes; variance_flags = warm passes diverge >3x AND stayed unresolved after adaptive re-runs; variance_attribution = every query that ever diverged, with pass ids and the outlier pass's host evidence (other_cpu_frac = CPU burned outside this JVM during that pass); host_passes = per-pass loadavg + external-CPU fraction; slow_flags may include cold_total (cold_attributable - the sum of per-query cold_extra above 1 s - exceeding warm/2: the training-memo budget gate; sub-second cold_extra is first-run warmup jitter, reported in cold_total but not budgeted), warm_budget:<query> (warm best over warm_budget_sec and not in warm_budget_exempt), mean_budget (mean_per_query over mean_budget_sec on a comparison-grade window), and cold_subfloor_growth (the sub-1 s cold sum grew >50% and >5 s vs the previous round's cold_subfloor - the accretion pattern the attributable floor cannot see); window_ok = pass-0 load1 and worst external-CPU fraction under the recorded gate values (false means warm totals are not cross-round comparison-grade); regressions = queries whose warm best exceeds 1.5x AND +0.2 s over the previous round's BENCH_DETAIL AND lands outside that round's warm_band for the query (band suppression: same-build run variance the prior round already recorded cannot flag), judged only when regression_comparable (both rounds' windows clean); warm_band = per-query [min,max] over this run's warm passes (next round's suppression input); window_waits = pre-pass-0 load samples the bench slept through waiting for a clean window (bounded; window_wait_exhausted = gave up and proceeded dirty)","sf":"$sfDir"}"""
    println(json)
    // safety net beside the stdout contract: a file copy of the same line
    // (round-1 grading lost the stdout line to an sbt log prefix)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        if (only.isEmpty) "bench_last.json" else "bench_partial.json"),
      json + "\n")
    catch { case _: Throwable => () }
    // per-round detail snapshot (judge r16 task 7): bench_last.json is
    // overwritten every round, so cross-round PER-QUERY regression
    // diffing was impossible from the repo. A full run also writes the
    // identical line to BENCH_DETAIL_r{N}.json. N comes from
    // SPARK_GRAFT_ROUND when set (the unambiguous source); otherwise
    // max(highest BENCH_r + 1, highest BENCH_DETAIL_r) — the +1 leg is
    // the driver's end-of-round run (its BENCH_r{N} does not exist yet),
    // the detail leg keeps same-round re-runs overwriting the SAME
    // detail file instead of misfiling into the next round's name once
    // one exists (advisor r17).
    if (only.isEmpty) try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"BENCH_DETAIL_r$round%02d.json"), json + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
