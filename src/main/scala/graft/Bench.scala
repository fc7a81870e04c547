package graft

/** Benchmark main: one JSON line with per-query seconds at the scale factor
  * in SPARK_GRAFT_SF_DIR.
  *
  * Methodology (hardened after round 1, where a single cold iteration
  * defined the round's official number):
  *   - every query runs SPARK_GRAFT_BENCH_ITERS times (default 3) and the
  *     MEDIAN is reported, so one cold-cache/contention event can't own a row;
  *   - the per-query [min, median, max] spread is emitted alongside — a
  *     sandbox contention window then shows up as max ≫ min in the artifact
  *     itself instead of masquerading as a plan regression;
  *   - materialization is a full write to the `noop` sink, not `count()` —
  *     `count()` lets `EliminateSorts` + column pruning skip the final sorts
  *     and projection the Verify path actually pays.
  *
  * Self-defense (round-10 review item — two of the last three driver
  * artifacts were contention-poisoned and cost a round of adjudication
  * each; the harness now defends itself instead of recording conditions and
  * hoping):
  *   - IDLE GATE: before the sweep, wait (bounded) for the box's 1-minute
  *     loadavg to drain below SPARK_GRAFT_BENCH_IDLE_LOAD — a neighbor
  *     competing for memory bandwidth inflates the bandwidth-heavy queries
  *     3-30× even at loadavg ≪ cores (the round-10 driver artifact);
  *   - RE-RUN: a query whose STEADY-STATE iterations (2..n — iteration 1 is
  *     legitimately cold for the cache-bearing queries) spread past
  *     SPARK_GRAFT_BENCH_RETRY_FACTOR × their min, or whose iteration saw
  *     loadavg above the oversubscription ceiling, gets up to
  *     SPARK_GRAFT_BENCH_RETRIES extra iterations — clean samples vote the
  *     poisoned one out of the median;
  *   - SELF-DECLARED VALIDITY: the artifact carries a top-level
  *     `contended` flag (gate never drained, or some query still
  *     spread-violated after retries) in BOTH the stdout line and the full
  *     file, so a poisoned run announces itself instead of being
  *     adjudicated a round later.
  */
object Bench {
  private[graft] def spreadRatio(ts: Seq[Double]): Double =
    if (ts.size < 2 || ts.min <= 0) 1.0 else ts.max / ts.min

  /** Requeue selection (the self-adjudicating sweep): which rows re-run
    * isolated after the sweep. Rows whose own max/min spread exceeds
    * `spreadBound` and rows whose median stayed tainted always qualify;
    * under a `partialWindow` (the start/end calibrations disagree — part
    * of the sweep ran contended and the per-row spread can't say which)
    * the 4 widest rows qualify even when individually tame. Worst spread
    * first, capped at `cap` so a noisy box can't double the sweep.
    */
  /** Seconds by which a row's reported median exceeds its best observed
    * run — the row's contribution of (suspected) contention to the TOTAL,
    * since each query enters the headline sum exactly once at its median.
    */
  private[graft] def excessSec(ts: Seq[Double]): Double =
    if (ts.isEmpty) 0.0 else median(ts) - ts.min

  private[graft] def requeueSelect(rows: Seq[(String, Seq[Double], Boolean)],
                                   partialWindow: Boolean, spreadBound: Double,
                                   cap: Int, excessBound: Double = 1.5): Seq[String] = {
    // two qualifying arms: RATIO (a small row running 2x wide is suspect
    // however few seconds it moves) and ABSOLUTE excess seconds (round-18:
    // a 9 s row whose median sat 2 s above its best run carried the
    // largest single distortion of the sweep while its 1.41x ratio ducked
    // the bound) — a row with a tight spread qualifies under neither and
    // never re-runs, so stable rows cost nothing
    val wide = rows.filter(r =>
      spreadRatio(r._2) > spreadBound || excessSec(r._2) > excessBound)
    val bad = rows.filter(_._3)
    val windowed = if (!partialWindow) Seq.empty
      else rows.sortBy(r => -excessSec(r._2)).take(4)
    // rank by ABSOLUTE excess seconds, not spread ratio: when the cap
    // bites, the rows distorting the TOTAL most must requeue first — a
    // 24 s row with median 3 s above min outranks a 0.3 s row running 3×
    // wide (round-17 driver artifact: q119's 24.75 s contended median was
    // left standing while smaller ratio-ranked offenders filled the cap)
    (wide ++ bad ++ windowed).map(_._1).distinct
      .sortBy(n => -excessSec(rows.find(_._1 == n).get._2)).take(cap)
  }

  /** Headline total from clean medians: a requeued row substitutes its
    * isolated re-run EXCEPT when that re-run failed every iteration (the
    * -1.0 sentinel) — then the sweep's own median stands, so a crashing
    * re-run can never make the benchmark look faster.
    */
  private[graft] def substituteClean(medians: Seq[(String, Double)],
                                     requeued: Map[String, Double]): Double =
    medians.map { case (k, v) => requeued.get(k).filter(_ >= 0).getOrElse(v) }.sum

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A query's sample set is suspect when its steady-state iterations
    * (all but the first — the first pays cache population by design)
    * spread wider than `factor`×, or some iteration ran on an
    * oversubscribed box (loadavg > ceiling: more runnable threads than
    * cores is contention by definition, whoever owns them).
    */
  private[graft] def suspect(times: Seq[Double], loads: Seq[Double],
                             factor: Double, loadCeil: Double): Boolean = {
    val steady = times.drop(1)
    (steady.size >= 2 && steady.max > factor * steady.min) ||
      loads.exists(_ > loadCeil)
  }

  /** Final per-query verdict AFTER re-runs: the REPORTED number (the median)
    * is tainted when it still sits `factor`× above the best observed run —
    * i.e. the clean samples failed to outvote the poisoned ones — or when
    * every iteration ran oversubscribed (uniform contention is invisible to
    * spread; only the load evidence remains). A single outvoted spike does
    * NOT taint: its sample stays in the spread for the reader, but the
    * median it failed to move is trustworthy.
    */
  private[graft] def tainted(times: Seq[Double], loads: Seq[Double],
                             factor: Double, loadCeil: Double): Boolean =
    times.size >= 2 && (median(times) > factor * times.min ||
      (loads.nonEmpty && loads.forall(_ > loadCeil)))

  /** 1-minute system load average via /proc/loadavg (Linux; -1 elsewhere).
    * Captured at run start/end, per iteration, and by the idle gate, so a
    * contention-poisoned artifact carries the evidence in-band: the
    * round-8 refresh showed 24 false 2× "regressions" for exactly this
    * reason.
    */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Machine-speed calibration: a fixed, deterministic single-thread integer
    * loop (xorshift fold) timed in ms. UNIFORM host slowdown — thermal
    * throttling, a noisy hypervisor, cold caches — is invisible to both the
    * loadavg evidence and the per-iteration spread (every sample slows
    * together), but it scales this number identically; two artifacts can be
    * normalized by their calibration ratio before any cross-run regression
    * verdict (the round-11 refresh measured a clean-gate run 1.25× a
    * midnight run on the same box — exactly the drift this makes visible).
    * The fold result is consumed so the JIT cannot dead-code the loop.
    */
  private[graft] def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42L) System.err.println("calibration sentinel") // un-DCE-able
    ms
  }

  /** Multithreaded machine-speed calibration: the single-thread loop on
    * EVERY core at once, wall-clocked. Rounds 10-15 showed the blind spot
    * it closes: a co-tenant stealing cores slows the 32-thread query sweep
    * while the single-thread loop (and loadavg, and per-iteration spread)
    * stay clean — single-thread calibration divides out thermal/hypervisor
    * UNIFORM slowdown, this one additionally measures PARALLEL-throughput
    * loss. calib_mt_ratio > calib_ratio by a margin = core contention; a
    * future reader should trust normalized_total_mt for cross-run compares
    * of the (parallel) query sweep.
    */
  private[graft] def calibrateMt(threads: Int): Double = {
    val n = math.max(threads, 1)
    val accs = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until n).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var acc = 0L
        var i = 0
        while (i < 50000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += x
          i += 1
        }
        accs.addAndGet(acc)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1e6
    if (accs.get() == 42L) System.err.println("calibration sentinel") // un-DCE-able
    ms
  }

  /** Memory-BANDWIDTH calibration (round-15 verdict: three rounds of drift
    * were adjudicated as bandwidth contention BY ELIMINATION — register
    * loops flat, queries drifted; this makes the class measurable). Streams
    * a shared read-only array sized far past any LLC: the register loops
    * ([[calibrate]]/[[calibrateMt]]) never leave L1 and are blind to a
    * co-tenant saturating the memory controller, while this loop IS the
    * memory controller. The adjudication table (PLANS.md):
    *   register ratios flat + bw ratio flat  + queries drifted = code (real)
    *   register ratios flat + bw ratio risen + queries drifted = bandwidth
    *   mt ratio risen, single flat                             = core steal
    */
  private[graft] def calibrateBw(arr: Array[Long], passes: Int): Double = {
    var acc = 0L
    val t0 = System.nanoTime()
    var p = 0
    while (p < passes) {
      var i = 0
      val n = arr.length
      while (i < n) { acc += arr(i); i += 1 }
      p += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42L) System.err.println("calibration sentinel") // un-DCE-able
    ms
  }

  /** [[calibrateBw]] on every core at once over ONE shared array, each
    * thread starting at its own offset (staggered, wrapping) so the threads
    * stream DISJOINT regions at any instant — lockstep sweeps would share
    * fetched lines and understate the aggregate demand. Wall-clocked:
    * measures the box's deliverable aggregate bandwidth, the resource the
    * 32-thread shuffle/aggregate sweep actually competes for.
    */
  private[graft] def calibrateBwMt(arr: Array[Long], threads: Int): Double = {
    val n = math.max(threads, 1)
    val accs = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until n).map { t =>
      new Thread(() => {
        var acc = 0L
        val len = arr.length
        var i = (t.toLong * len / n).toInt
        var cnt = 0
        while (cnt < len) {
          acc += arr(i)
          i += 1; if (i == len) i = 0
          cnt += 1
        }
        accs.addAndGet(acc)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1e6
    if (accs.get() == 42L) System.err.println("calibration sentinel") // un-DCE-able
    ms
  }

  /** 32M longs = 256 MB — past any LLC, so a sweep is DRAM traffic. Filled
    * with xorshift values (not constants) so no layer can elide the reads.
    */
  private[graft] def bwArray(): Array[Long] = {
    val a = new Array[Long](32 * 1024 * 1024)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    a
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val idleLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_IDLE_LOAD", "4.0").toDouble
    val idleWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_IDLE_WAIT", "240").toInt
    val retryFactor = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_FACTOR", "2.5").toDouble
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt
    val loadCeil = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_CEIL",
      Runtime.getRuntime.availableProcessors.toString).toDouble

    // Idle gate: refuse to measure on a visibly busy box until it drains
    // (bounded wait). If it never drains, measure anyway but self-flag.
    var gateWaited = 0
    while (loadAvg() > idleLoad && gateWaited < idleWaitSec) {
      Thread.sleep(5000); gateWaited += 5
    }
    val loadStart = loadAvg()
    val gateFailed = loadStart > idleLoad
    val startedAt = java.time.Instant.now().toString
    calibrate() // JIT warmup pass, discarded
    val calibStart = calibrate()
    calibrateMt(Runtime.getRuntime.availableProcessors) // mt JIT warmup, discarded
    // best-of-2: scheduler jitter makes single mt samples ±20% noisy; the
    // MIN is the cleanest capacity estimate (contention only ever adds)
    val calibMtStart = (1 to 2).map(_ =>
      calibrateMt(Runtime.getRuntime.availableProcessors)).min
    // memory-bandwidth twin pair (round-15 brief #2): the one contention
    // class the register loops cannot see
    val bwArr = bwArray()
    calibrateBw(bwArr, 1) // JIT warmup, discarded
    val calibBwStart = (1 to 2).map(_ => calibrateBw(bwArr, 4)).min
    // best-of-3: the mt sweep is scheduler-noisy (±30% observed quiet);
    // real bandwidth contention moves it far past that
    val calibBwMtStart = (1 to 3).map(_ =>
      calibrateBwMt(bwArr, Runtime.getRuntime.availableProcessors)).min

    // SPARK_GRAFT_FS_PATCH=0 is the A/B kill-switch for the fork-free local
    // FS (see GraftSession)
    val fsPatch = sys.env.getOrElse("SPARK_GRAFT_FS_PATCH", "1") != "0"
    val spark = GraftSession.builder(cpus, fsPatch).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/parquet-footer startup otherwise lands on
    // whichever query happens to iterate first and skews its number.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.headOption.foreach { case (_, fn) => fn(spark, sfDir).count() }
    } catch { case _: Throwable => () }
    // Dev-only subset filter (comma-separated key prefixes), mirroring
    // Verify's SPARK_GRAFT_ONLY — full sweeps just leave it unset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    var retriedTotal = 0
    // SORTED sweep order: a Map's hash order reshuffles the whole sweep
    // whenever a query is added, silently changing every row's predecessor
    // (and its inherited JVM/GC state) between rounds — round 12 measured
    // q133 at 7.97 s mid-sweep vs 5.47 s isolated purely from that. Sorted
    // order is stable: adding qNNN perturbs only its own neighborhood.
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Per-query isolation: q57/q72/q74 deliberately never unpersist (the
      // Verify posture) — without clearing, cached frames and their memory
      // pressure accumulate across the 60-query sweep and later rows pay for
      // earlier queries' persists. Iterations WITHIN a query keep the cache
      // (the median should reflect the query's own steady state). The GC
      // nudge drains the predecessor's freed cache blocks so they don't
      // surface as collection pauses inside THIS query's timings.
      spark.catalog.clearCache()
      System.gc()
      def runOnce(): Option[(Double, Double)] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some(((System.nanoTime() - t0) / 1e9, loadAvg()))
        } catch { case _: Throwable => None }
      }
      val samples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      (1 to iters).foreach(_ => runOnce().foreach(samples += _))
      // contended-iteration re-run: extra clean samples outvote the
      // poisoned one in the median; bounded so a genuinely busy box can't
      // stall the sweep
      var extra = 0
      while (extra < maxRetries && samples.size >= 2 &&
        suspect(samples.map(_._1).toSeq, samples.map(_._2).toSeq, retryFactor, loadCeil)) {
        runOnce().foreach(samples += _)
        extra += 1
      }
      retriedTotal += extra
      val bad = tainted(samples.map(_._1).toSeq, samples.map(_._2).toSeq,
        retryFactor, loadCeil)
      (name, samples.map(_._1).toSeq, samples.map(_._2).toSeq, bad)
    }
    def f(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val medians = results.map { case (k, ts, _, _) => k -> (if (ts.isEmpty) -1.0 else median(ts)) }
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, ts, _, _) =>
      if (ts.isEmpty) s"\"$k\":[-1,-1,-1]"
      else s"\"$k\":[${f(ts.min)},${f(median(ts))},${f(ts.max)}]"
    }.mkString("{", ",", "}")
    val total = if (medians.nonEmpty) medians.map(_._2).sum else 0.0
    val suspectQueries = results.collect { case (k, _, _, true) => k }.toSeq
    val loadMaxIter = {
      val ls = results.flatMap { case (_, _, loads, _) => loads }
      if (ls.isEmpty) -1.0 else ls.max
    }
    val contended = gateFailed || suspectQueries.nonEmpty
    // Calibration-normalized total (round-11 brief #6): divide out UNIFORM
    // host slowdown — thermal throttle, noisy hypervisor — that neither the
    // loadavg gate nor per-iteration spread can see (every sample slows
    // together, but the single-thread xorshift loop slows by the same
    // factor). The reference is this box's clean-idle calibration
    // (calib_ms ~330-340 across the committed round-11/12 clean runs);
    // calib_ratio > 1 means the box ran that much slower than reference,
    // and normalized_total = total / calib_ratio is the cross-round
    // comparable number. Raw total stays the headline; normalization is
    // evidence, not a substitute measurement.
    // END calibrations run AFTER the session stops: the start pair ran
    // before the session existed, and averaging a with-live-session-heap
    // sample into a bare-JVM one (the round-15 ADVICE asymmetry) muddies
    // what the average means. Both ends now measure the bare JVM.
    spark.stop()
    val calibRef = sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB_REF", "330.0").toDouble
    val calibEnd = calibrate()
    val calibRatio = ((calibStart + calibEnd) / 2.0) / calibRef
    val normalizedTotal = total / math.max(calibRatio, 0.01)
    // The PARALLEL-throughput twin ([[calibrateMt]]): core contention a
    // co-tenant causes slows the 32-thread sweep but not the single-thread
    // loop; mt-normalization is the number to compare across runs whose
    // calib_ratio looks clean while queries drift uniformly slower.
    // Reference = this box quiet (~140 ms, all-cores x 50M, round 15).
    val calibMtRef = sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB_MT_REF", "140.0").toDouble
    val calibMtEnd = (1 to 2).map(_ =>
      calibrateMt(Runtime.getRuntime.availableProcessors)).min
    val calibMtRatio = ((calibMtStart + calibMtEnd) / 2.0) / calibMtRef
    val normalizedTotalMt = total / math.max(calibMtRatio, 0.01)
    // The BANDWIDTH pair ([[calibrateBw]]/[[calibrateBwMt]]): rounds 10/11/15
    // all adjudicated drift as memory-bandwidth contention BY ELIMINATION
    // (register loops flat, queries moved). These ratios SEE that class:
    // queries drifted + calib/calib_mt flat + calib_bw(_mt) risen =
    // bandwidth, proven in-artifact. References = this box quiet (round 16).
    val calibBwRef = sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB_BW_REF", "180.0").toDouble
    val calibBwEnd = (1 to 2).map(_ => calibrateBw(bwArr, 4)).min
    val calibBwRatio = ((calibBwStart + calibBwEnd) / 2.0) / calibBwRef
    val calibBwMtRef = sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB_BW_MT_REF", "42.0").toDouble
    val calibBwMtEnd = (1 to 3).map(_ =>
      calibrateBwMt(bwArr, Runtime.getRuntime.availableProcessors)).min
    val calibBwMtRatio = ((calibBwMtStart + calibBwMtEnd) / 2.0) / calibBwMtRef

    // ---- self-adjudicating requeue (round-16 brief #2): one attempt, one
    // artifact. Rounds 14-16 each needed multiple manual sweep attempts
    // plus hand-picked mover subsets to separate contention drift from
    // code; the harness now adjudicates itself. Triggers:
    //   - PARTIAL CONTENTION WINDOW: the end-of-sweep bandwidth
    //     calibrations differ materially from the start pair — a co-tenant
    //     arrived or left mid-sweep, so some rows ran contended and some
    //     clean, and the per-row spread cannot tell which;
    //   - WIDE ROWS: a query's own max/min spread exceeds the bound — its
    //     median may still be poisoned when 2 of 3 iterations were slow.
    // The worst-spread rows are re-run ISOLATED after the sweep, gated by
    // a FRESH bandwidth calibration taken immediately before the re-runs
    // (emitted as requeue_calib_bw_ratio — the reader can verify the
    // re-run window was actually quiet). The artifact carries BOTH values
    // per requeued query (`queries` = the sweep's, `requeued` = the
    // isolated ones) and the headline total is computed from the CLEAN
    // medians (requeued values substituted).
    val requeueSpread = sys.env.getOrElse("SPARK_GRAFT_BENCH_REQUEUE_SPREAD", "1.5").toDouble
    val requeueMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_REQUEUE_MAX", "8").toInt
    val requeueExcess = sys.env.getOrElse("SPARK_GRAFT_BENCH_REQUEUE_EXCESS", "1.5").toDouble
    // per-calibration shift thresholds sit ABOVE each loop's own observed
    // quiet-box noise (bw_mt's all-core sweep is the jumpiest at ±30%),
    // else the partial-window trigger fires on scheduler jitter and the
    // top movers requeue every run — paying the isolated pass (and its
    // warm-JVM bias) for nothing
    def shifted(a: Double, b: Double, f: Double): Boolean =
      a > 0 && b > 0 && (b / a > f || a / b > f)
    val partialWindow = shifted(calibBwStart, calibBwEnd, 1.25) ||
      shifted(calibBwMtStart, calibBwMtEnd, 1.4) ||
      shifted(calibMtStart, calibMtEnd, 1.25)
    val selRows = results.map { case (n, ts, _, bad) => (n, ts, bad) }
    val requeueNames =
      requeueSelect(selRows, partialWindow, requeueSpread, requeueMax, requeueExcess)
    val requeueReason =
      (if (partialWindow) Seq("partial_window") else Nil) ++
        (if (selRows.exists(r => spreadRatio(r._2) > requeueSpread ||
          excessSec(r._2) > requeueExcess)) Seq("spread") else Nil) ++
        (if (selRows.exists(_._3)) Seq("tainted") else Nil)
    val (requeued, requeueBwRatio): (Seq[(String, Double)], Double) =
      if (requeueNames.isEmpty) (Seq.empty, -1.0)
      else {
        // calibration gate: measure the re-run window's own quietness
        val gateBw = (1 to 2).map(_ => calibrateBw(bwArr, 4)).min / calibBwRef
        val spark2 = GraftSession.builder(cpus, fsPatch).getOrCreate()
        spark2.sparkContext.setLogLevel("WARN")
        try spark2.range(1000000).selectExpr("sum(id)").collect()
        catch { case _: Throwable => () }
        val re = requeueNames.flatMap { name =>
          SparkEntry.queries.get(name).map { fn =>
            spark2.catalog.clearCache()
            System.gc()
            val ts = (1 to iters).flatMap { _ =>
              val t0 = System.nanoTime()
              try {
                fn(spark2, sfDir).write.format("noop").mode("overwrite").save()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case _: Throwable => None }
            }
            name -> (if (ts.isEmpty) -1.0 else median(ts))
          }
        }
        spark2.stop()
        (re, gateBw)
      }
    val requeuedMap = requeued.toMap
    // a requeued query whose isolated re-run failed EVERY iteration records
    // the -1.0 sentinel — it must NOT substitute into the clean total (the
    // sweep's real median stands) and the failure is surfaced, else a
    // crashing re-run silently makes the benchmark look faster
    val rerunFailed = requeued.collect { case (k, v) if v < 0 => k }
    // stdout stays ONE line, but COMPACT (medians only): rounds 3-5 proved
    // the capture pipeline truncates long lines (~13 queries lost, "parsed":
    // null in every BENCH artifact). The full record — including the
    // [min, median, max] spread that lets a reader discount contention-
    // polluted rows — goes to a file instead. `contended` rides in BOTH:
    // the driver's artifact must self-declare its validity.
    // headline total = CLEAN medians: requeued rows substitute their
    // isolated re-run; the sweep's own sum rides beside it as sweep_total
    val cleanTotal = substituteClean(medians, requeuedMap)
    val rq = requeued.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val allReasons = requeueReason ++ rerunFailed.map(k => s"rerun_failed:$k")
    val rqMeta =
      s""""requeued":$rq,"requeue_reason":[${allReasons.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""requeue_calib_bw_ratio":${f(requeueBwRatio)},"sweep_total":${f(total)},"""
    val compact =
      s"""{"metric":"total","value":${f(cleanTotal)},"unit":"sec","contended":$contended,""" +
        s""""calib_ratio":${f(calibRatio)},"normalized_total":${f(normalizedTotal)},""" +
        s""""calib_mt_ratio":${f(calibMtRatio)},"normalized_total_mt":${f(normalizedTotalMt)},""" +
        s""""calib_bw_ratio":${f(calibBwRatio)},"calib_bw_mt_ratio":${f(calibBwMtRatio)},""" +
        rqMeta +
        s""""queries":$qs,"sf":"$sfDir"}"""
    // Run-conditions provenance (round-8 review item): who measured, when,
    // how loaded the box was, and what the harness did about it.
    val conditions =
      s"""{"started":"$startedAt","iters":$iters,"cores":${Runtime.getRuntime.availableProcessors},""" +
        s""""local_threads":"$cpus","loadavg_start":${f(loadStart)},"loadavg_end":${f(loadAvg())},""" +
        s""""loadavg_max_iter":${f(loadMaxIter)},"gate_waited_sec":$gateWaited,"gate_failed":$gateFailed,""" +
        s""""retried_iters":$retriedTotal,"calib_ms_start":${f(calibStart)},"calib_ms_end":${f(calibEnd)},""" +
        s""""calib_ref_ms":${f(calibRef)},"calib_ratio":${f(calibRatio)},"normalized_total":${f(normalizedTotal)},""" +
        s""""calib_mt_ms_start":${f(calibMtStart)},"calib_mt_ms_end":${f(calibMtEnd)},""" +
        s""""calib_mt_ref_ms":${f(calibMtRef)},"calib_mt_ratio":${f(calibMtRatio)},""" +
        s""""normalized_total_mt":${f(normalizedTotalMt)},""" +
        s""""calib_bw_ms_start":${f(calibBwStart)},"calib_bw_ms_end":${f(calibBwEnd)},""" +
        s""""calib_bw_ref_ms":${f(calibBwRef)},"calib_bw_ratio":${f(calibBwRatio)},""" +
        s""""calib_bw_mt_ms_start":${f(calibBwMtStart)},"calib_bw_mt_ms_end":${f(calibBwMtEnd)},""" +
        s""""calib_bw_mt_ref_ms":${f(calibBwMtRef)},"calib_bw_mt_ratio":${f(calibBwMtRatio)},""" +
        s""""calib_note":"all calib_*_ref_ms are BOX-SPECIFIC (this repo's quiet-box values); """ +
        s"""ratios are meaningful only against the same reference hardware — on other boxes """ +
        s"""they bake in a machine-speed delta, not contention. Adjudication: queries drifted """ +
        s"""+ calib/calib_mt flat + calib_bw(_mt) risen = memory-bandwidth contention; """ +
        s"""calib_mt risen with calib flat = core stealing; all flat = code.",""" +
        s""""suspect_queries":[${suspectQueries.map("\"" + _ + "\"").mkString(",")}]}"""
    val full =
      s"""{"metric":"total","value":${f(cleanTotal)},"unit":"sec","contended":$contended,""" +
        rqMeta +
        s""""queries":$qs,"spread":$spread,"conditions":$conditions,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try graft.sink.MetaIO.local.atomicWrite(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }
    println(compact)
  }
}
