package graft

/** Benchmark main. Per-query median of SPARK_GRAFT_BENCH_RUNS (default 3)
  * noop-sink executions — single-shot numbers on a shared box have a ±1-2s
  * JVM/GC noise floor that made round-over-round comparison unfalsifiable.
  *
  * Output contract (driver keeps only a bounded stdout tail, so the LAST
  * line must be a short, complete JSON object):
  *   - full fidelity (all runs, medians, full query names) → a JSON file
  *     under target/, plus a mirror at repo-root bench_full_last.json
  *     (target/ is gitignored; the mirror is the committed record);
  *   - ISOLATED re-measures (any query-name args) mirror to
  *     bench_isolated_last.json instead — a spot re-measure must never
  *     clobber the committed full-board record (the r15 incident);
  *   - last stdout line: BOUNDED compact JSON — suite total, failure
  *     list, slowest-20 medians with shortened keys ("q01_scan_project"
  *     → "q01") — sized to stay inside the driver's ~2 KB tail window
  *     no matter how large the suite grows.
  *
  * Drift hardening (r15 verdict #4): three rounds of carried-board
  * "regressions" dissolved under fresh-JVM isolation re-measures — the
  * elevation was single-JVM accumulation across a 236-query sweep plus
  * host weather. Two levers put that story IN the record instead of in
  * prose:
  *   - per_query_calib_norm in the parsed line: (total / nq) / calib —
  *     suite cost per query in units of this host's current single-thread
  *     speed, directly comparable across rounds;
  *   - SPARK_GRAFT_BENCH_CHUNKS=k (2–4): the sweep forks into k child
  *     JVMs over contiguous query ranges, each with its own calibration,
  *     bounding in-process accumulation to a chunk. Opt-in — the
  *     default single-JVM path is unchanged.
  */
object Bench {
  private def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  // host-business context for the numbers: the round-8→9 forensics showed
  // the same code at the same SF varying >1.4× with HOST load, so every
  // bench records the 1-min system load average at start and end.
  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  // single-thread CPU calibration: a fixed deterministic LCG loop whose
  // wall time depends only on how fast this host runs ONE thread right
  // now. calib_sec ratios across rounds separate "the engine changed"
  // from "the host changed".
  private def lcgLoop(): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 400000000) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
    h
  }

  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    val h = lcgLoop()
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("") // defeat dead-code elimination
    dt
  }

  /** PARALLEL calibration: the same LCG loop on `n` threads at once,
    * wall-clocked. On an idle host this ≈ the single-thread time (every
    * core runs one loop); under multi-core contention it inflates while
    * the single-thread probe stays flat — exactly the blind spot behind
    * the r17 9% driver-vs-builder bench gap (a 32-wide sweep sharing the
    * box is invisible to a 1-thread probe). calib_par/calib single is
    * the record's own contention story.
    */
  private def calibratePar(n: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (1 to n.max(1)).map { _ =>
      new Thread(() => { sink.addAndGet(lcgLoop()); () })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink.get == 42L) System.err.println("") // defeat dead-code elimination
    dt
  }

  /** LOAD GATE — DEFAULT-ON since r19 (r18 verdict #3: the gate existed
    * but the graded sweep ran ungated at par_ratio 1.506, putting ~43 s
    * of host noise into the record). Engagement:
    *   - `SPARK_GRAFT_BENCH_LOADGATE=<threshold>` forces the gate at that
    *     load-average threshold; `off` disables it entirely; any other
    *     non-numeric value fails LOUDLY by name (a malformed env var must
    *     not abort a 35-min sweep with a bare NumberFormatException);
    *   - with no env var, the gate self-arms at threshold 6.0 whenever
    *     the PRE-GATE parallel calibration probe ran > 1.15× the
    *     1-thread probe — exactly the multi-core contention signature
    *     that produced the r18 s27/s28/s30 phantom regressions.
    * Waits in 10 s polls, capped at 10 min PER JVM CHUNK (a gate must
    * bound its own wait; an 8-chunk sweep can therefore wait up to
    * ~80 min total in the worst weather — each chunk's wait is in its
    * `gate_wait_sec`, so the total is attributable from the record).
    * Returns the seconds waited.
    */
  private val GateDefaultThreshold = 6.0
  private val GateParRatioTrigger = 1.15
  // mid-sweep re-probe cadence: ~4-6 probes across a board sweep, ≤ 2%
  // overhead, fine enough to bracket contention inside one record
  private val MidProbeInterval = 64
  private def loadGate(parRatioPre: Double): Double = {
    val thr: Option[Double] = sys.env.get("SPARK_GRAFT_BENCH_LOADGATE") match {
      case Some("off") => None
      case Some(s) =>
        Some(s.toDoubleOption.getOrElse(sys.error(
          s"SPARK_GRAFT_BENCH_LOADGATE must be a number or 'off', got '$s'")))
      case None =>
        if (parRatioPre > GateParRatioTrigger) {
          System.err.println(
            f"[bench] load gate self-armed: pre-gate calib_par_ratio $parRatioPre%.3f > $GateParRatioTrigger")
          Some(GateDefaultThreshold)
        } else None
    }
    thr match {
      case None => 0.0
      case Some(t) =>
        val t0 = System.nanoTime()
        var l = loadAvg()
        while (l >= t && (System.nanoTime() - t0) < 600e9) {
          System.err.println(f"[bench] load gate: load_avg $l%.2f >= $t%.2f, waiting")
          Thread.sleep(10000)
          l = loadAvg()
        }
        (System.nanoTime() - t0) / 1e9
    }
  }

  /** One sweep's raw material: per-query run times plus the host context
    * bracketing them (one entry per JVM that produced a slice).
    */
  private case class ChunkMeta(
      loadStart: Double, loadEnd: Double, calibStart: Double, calibEnd: Double,
      calibParStart: Double, calibParEnd: Double, gateWait: Double,
      // PRE-GATE probe pair: the contention bracket the gate armed on.
      // Equal to (calibStart, calibParStart) when the gate never waited —
      // when it DID wait, pre-vs-post is the gated-vs-ungated bracket in
      // one record (r18 verdict #3 / builder candidate (d)).
      calibPreGate: Double, calibParPreGate: Double,
      // MID-SWEEP re-arm (r19 verdict #7): the start-of-sweep probe can
      // miss contention that arrives later (r19's driver record armed
      // nothing at pregate 1.087 yet finished at par_ratio 1.275).
      // Every MidProbeInterval queries the parallel probe re-runs
      // between timed queries; a ratio over the trigger engages the
      // same load gate mid-sweep. midGateWaitSec sums those waits,
      // midParRatioMax is the worst mid-sweep probe observed.
      midGateWaitSec: Double, midParRatioMax: Double)

  /** Run the (optionally filtered) board in THIS JVM and return raw run
    * times. `exact` matches whole names (chunk children); otherwise any
    * arg prefix matches (isolated re-measure ergonomics: `q36` works).
    */
  private def runSweep(
      only: Set[String],
      exact: Boolean,
      sfDir: String,
      cpus: String,
      runs: Int): (Seq[(String, Seq[Double])], ChunkMeta) = {
    // `local[*]` is a value SPARK_GRAFT_CPUS legitimately takes; the
    // thread-count consumers fall back to the physical core count
    // (ADVICE r18: a bare toInt crashed the whole bench on "*").
    val nCpus = cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors)
    // The contention probe runs BEFORE the gate (it's what arms the
    // default-on gate); if the gate then waited, re-probe so the start
    // calibrations bracket the sweep actually run, not the weather the
    // gate was waiting out.
    val calibPreGate = calibrate()
    val calibParPreGate = calibratePar(nCpus)
    val gateWait = loadGate(
      if (calibPreGate > 0) calibParPreGate / calibPreGate else -1.0)
    val loadStart = loadAvg()
    val (calibStart, calibParStart) =
      if (gateWait > 0) (calibrate(), calibratePar(nCpus))
      else (calibPreGate, calibParPreGate)
    val spark = GraftSession.local(cpus, "WARN")
    // Untimed warm-up: JIT, codegen, parquet reader+writer, shuffle and
    // window exec paths — so per-query timings measure the queries, not
    // one-time JVM initialization landing on whichever query runs first.
    locally {
      import scala.util.control.NonFatal
      val warm = SparkEntry.queries
      Seq("q01_scan_project", "q04_bar_aggregate", "q13_window_minmax").foreach { n =>
        // NonFatal only: a warm-up OOM/StackOverflow must crash the bench
        // loudly, not silently poison every timed run after it
        warm.get(n).foreach(fn => try fn(spark, sfDir).count() catch { case NonFatal(_) => })
      }
      val tmp = graft.ops.Scratch.scratchDir("graft_warm_")
      try spark.range(8).toDF("i").write.mode("overwrite").parquet(s"$tmp/w")
      catch { case NonFatal(_) => }
    }
    // noop sink, not count(): count() lets Catalyst prune every projected
    // column, so compute-heavy projections would be timed as near-zero.
    // The noop write executes the full plan and materializes every row.
    //
    // Mid-sweep gate re-arm (r19 verdict #7): contention arriving AFTER
    // the start-of-sweep probe used to run the whole sweep ungated; now
    // the parallel probe re-runs every MidProbeInterval queries (between
    // timed runs, never inside one — ~1.2 s per probe, ≤ 2% of a board
    // sweep) and engages the same load gate when it exceeds the trigger.
    val gateOff = sys.env.get("SPARK_GRAFT_BENCH_LOADGATE").contains("off")
    val midThreshold = sys.env.get("SPARK_GRAFT_BENCH_LOADGATE")
      .filter(_ != "off").flatMap(_.toDoubleOption).getOrElse(GateDefaultThreshold)
    var midGateWaitSec = 0.0
    var midParRatioMax = -1.0
    var queryIdx = 0
    val results: Seq[(String, Seq[Double])] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.isEmpty || (if (exact) only.contains(n) else only.exists(n.startsWith))
      }
      .map { case (name, fn) =>
        if (!gateOff && queryIdx > 0 && queryIdx % MidProbeInterval == 0) {
          val c1 = calibrate()
          val ratio = if (c1 > 0) calibratePar(nCpus) / c1 else -1.0
          midParRatioMax = math.max(midParRatioMax, ratio)
          if (ratio > GateParRatioTrigger) {
            System.err.println(
              f"[bench] mid-sweep probe at query $queryIdx: par_ratio $ratio%.3f > $GateParRatioTrigger — gating")
            val t0 = System.nanoTime()
            var l = loadAvg()
            while (l >= midThreshold && (System.nanoTime() - t0) < 600e9) {
              System.err.println(
                f"[bench] mid-sweep load gate: load_avg $l%.2f >= $midThreshold%.2f, waiting")
              Thread.sleep(10000)
              l = loadAvg()
            }
            midGateWaitSec += (System.nanoTime() - t0) / 1e9
          }
        }
        queryIdx += 1
        // Untimed warm run(s) per query BEFORE the timed runs: JIT /
        // codegen compilation and any one-time staging memoization land
        // here, so the timed runs measure the query's true repeating
        // cost (round-6 verdict: a ~40 s cold-first-run delta drowned
        // per-query regression signals). Streaming demos (sNN) warm
        // TWICE: their first replay leaves checkpoint/sink residue whose
        // cleanup lands on the next run (round-7 verdict: s03/s07/s09/
        // s11 carried the residual 17% spread).
        val warmRuns = if (name.startsWith("s")) 2 else 1
        (1 to warmRuns).foreach { _ =>
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case scala.util.control.NonFatal(_) => } // timed runs report the failure
        }
        val times = (1 to runs).map { _ =>
          System.gc() // drain garbage from the previous run off this one's clock
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name failed: $e")
                // cause chains are the whole diagnosis for in-suite-only
                // failures (cross-query session contamination) — opt-in
                // so the default stderr stays greppable
                if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE")) e.printStackTrace()
                false
            }
          // a failed run must read as a failure, not as a fast run
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        name -> times
      }
    val loadEnd = loadAvg()
    val calibEnd = calibrate()
    val calibParEnd = calibratePar(nCpus)
    spark.stop()
    (results, ChunkMeta(
      loadStart, loadEnd, calibStart, calibEnd, calibParStart, calibParEnd, gateWait,
      calibPreGate, calibParPreGate, midGateWaitSec, midParRatioMax))
  }

  /** CHILD mode (`--chunk <out> <names...>`): sweep exactly `names`,
    * dump a trivially parseable TSV (meta line + name\tt1,t2,...), write
    * nothing else — the parent owns all reporting.
    */
  private def childMain(out: String, names: Seq[String], sfDir: String, cpus: String, runs: Int): Unit = {
    val (results, m) = runSweep(names.toSet, exact = true, sfDir, cpus, runs)
    val sb = new StringBuilder
    sb.append(s"#meta\t${m.loadStart}\t${m.loadEnd}\t${m.calibStart}\t${m.calibEnd}" +
      s"\t${m.calibParStart}\t${m.calibParEnd}\t${m.gateWait}" +
      s"\t${m.calibPreGate}\t${m.calibParPreGate}" +
      s"\t${m.midGateWaitSec}\t${m.midParRatioMax}\n")
    results.foreach { case (n, ts) => sb.append(s"$n\t${ts.mkString(",")}\n") }
    java.nio.file.Files.write(java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
  }

  /** The classpath of the running application, robust to sbt's in-process
    * `run` (whose project classes are NOT on java.class.path): walk the
    * URLClassLoader chain and union with the system property.
    */
  private def currentClasspath(): String = {
    def urls(cl: ClassLoader): Seq[String] = cl match {
      case null => Nil
      case u: java.net.URLClassLoader =>
        u.getURLs.toSeq.flatMap(x =>
          try Seq(java.nio.file.Paths.get(x.toURI).toString)
          catch { case scala.util.control.NonFatal(_) => Nil }) ++ urls(u.getParent)
      case other => urls(other.getParent)
    }
    (urls(getClass.getClassLoader) ++
      System.getProperty("java.class.path", "").split(java.io.File.pathSeparator).toSeq)
      .filter(_.nonEmpty).distinct.mkString(java.io.File.pathSeparator)
  }

  /** PARENT mode: split the board into `k` contiguous chunks, run each in
    * a fresh child JVM (own calibration, own Spark), merge the TSVs and
    * report exactly like a single-JVM sweep — plus per-chunk host meta.
    */
  private def parentMain(k: Int, sfDir: String, cpus: String, runs: Int): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val per = math.ceil(names.size.toDouble / k).toInt
    val groups = names.grouped(per).toSeq
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cp = currentClasspath()
    val tmp = graft.ops.Scratch.scratchDir("graft_bench_chunks_")
    val metas = scala.collection.mutable.ArrayBuffer.empty[ChunkMeta]
    val merged = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    groups.zipWithIndex.foreach { case (g, i) =>
      val out = s"$tmp/chunk$i.tsv"
      val cmd = Seq(javaBin, "-cp", cp, "graft.Bench", "--chunk", out) ++ g
      System.err.println(s"[bench] chunk ${i + 1}/${groups.size}: ${g.size} queries in a fresh JVM")
      val pb = new ProcessBuilder(cmd: _*)
      pb.inheritIO()
      val rc = pb.start().waitFor()
      if (rc != 0)
        sys.error(s"[bench] chunk $i child JVM exited $rc — aborting (no partial record)")
      val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out))
      import scala.jdk.CollectionConverters._
      lines.asScala.foreach { ln =>
        val parts = ln.split("\t")
        if (parts(0) == "#meta")
          metas += ChunkMeta(
            parts(1).toDouble, parts(2).toDouble, parts(3).toDouble, parts(4).toDouble,
            parts(5).toDouble, parts(6).toDouble, parts(7).toDouble,
            parts(8).toDouble, parts(9).toDouble,
            parts(10).toDouble, parts(11).toDouble)
        else merged += (parts(0) -> parts(1).split(",").map(_.toDouble).toSeq)
      }
    }
    report(merged.toSeq.sortBy(_._1), metas.toSeq, isolated = false, sfDir, runs)
  }

  /** All derived stats + the three output artifacts, shared by the
    * single-JVM and chunked paths.
    */
  private def report(
      results: Seq[(String, Seq[Double])],
      metas: Seq[ChunkMeta],
      isolated: Boolean,
      sfDir: String,
      runs: Int): Unit = {
    def median(ts: Seq[Double]): Double =
      if (ts.exists(_ < 0)) -1.0
      else { val s = ts.sorted; s(s.length / 2) }
    // per-query noise floor — makes the 2×-gate's error bars visible
    // instead of leaving medians to be over-read. The HEADLINE spread
    // drops each query's single worst run first (max−min of the
    // remaining runs): on a shared box one GC pause or host hiccup lands
    // on a random query every round, and summing raw max−min over 100+
    // queries turns those one-offs into a number that tracks the host,
    // not the engine (round-7 verdict sanctioned drop-max reporting).
    // The untrimmed value stays in the full-fidelity file as spread_raw.
    def spreadRaw(ts: Seq[Double]): Double =
      if (ts.exists(_ < 0)) -1.0 else ts.max - ts.min
    def spread(ts: Seq[Double]): Double =
      if (ts.exists(_ < 0)) -1.0
      else if (ts.size <= 1) 0.0
      else { val kept = ts.sorted.init; kept.max - kept.min }
    val medians = results.map { case (n, ts) => n -> median(ts) }
    // failures carry -1 per query; keep them out of the suite total
    val total = medians.map(_._2).filter(_ >= 0).sum
    val totalSpread = results.map { case (_, ts) => spread(ts) }.filter(_ >= 0).sum
    val totalSpreadRaw = results.map { case (_, ts) => spreadRaw(ts) }.filter(_ >= 0).sum
    // batch (qNN) vs streaming (sNN) subtotals, each with its own
    // trimmed spread: the streaming class's cost is scheduler wall
    // (AvailableNow spin-up, RocksDB, JDBC hops — ~1.7 s/demo flat)
    // while the batch class tracks the data path — folding them into one
    // number lets a real batch regression hide inside streaming
    // scheduling noise and vice versa (round-13 identical-code re-run).
    def classOf(n: String): String = if (n.startsWith("s")) "streaming" else "batch"
    val byClass: Map[String, Seq[(String, Seq[Double])]] = results.groupBy(t => classOf(t._1))
    def classTotal(c: String): Double =
      byClass.getOrElse(c, Nil).map(t => median(t._2)).filter(_ >= 0).sum
    def classSpread(c: String): Double =
      byClass.getOrElse(c, Nil).map(t => spread(t._2)).filter(_ >= 0).sum
    def classCount(c: String): Int = byClass.getOrElse(c, Nil).size
    val subtotalsJson =
      s""""batch":{"value":${fmt(classTotal("batch"))},"spread":${fmt(classSpread("batch"))},"nq":${classCount("batch")}},""" +
        s""""streaming":{"value":${fmt(classTotal("streaming"))},"spread":${fmt(classSpread("streaming"))},"nq":${classCount("streaming")}}"""
    // legacy bracketing fields = first chunk's start, last chunk's end;
    // normalization uses the mean over EVERY chunk's two calibrations
    val loadStart = metas.head.loadStart
    val loadEnd = metas.last.loadEnd
    val calibStart = metas.head.calibStart
    val calibEnd = metas.last.calibEnd
    val calibAll = metas.flatMap(m => Seq(m.calibStart, m.calibEnd)).filter(_ > 0)
    val calibMean = if (calibAll.isEmpty) -1.0 else calibAll.sum / calibAll.size
    // MULTI-CORE contention in the record (r17 verdict #3): the N-thread
    // probe's wall over the 1-thread probe's. ≈1.0 on an idle host; a
    // 32-wide sweep sharing the box pushes it up while the single-thread
    // calib stays flat — the story behind r17's 9% bracket gap, now in
    // the artifact instead of forensics.
    val calibParAll = metas.flatMap(m => Seq(m.calibParStart, m.calibParEnd)).filter(_ > 0)
    val calibParMean = if (calibParAll.isEmpty) -1.0 else calibParAll.sum / calibParAll.size
    val calibParRatio =
      if (calibMean > 0 && calibParMean > 0) calibParMean / calibMean else -1.0
    val gateWaitTotal = metas.map(_.gateWait).filter(_ > 0).sum
    // mid-sweep re-arm totals (r19 verdict #7): wait seconds the gate
    // added inside sweeps, and the worst mid-sweep probe seen (-1 when
    // no mid probe ran — short isolated sets never reach the interval)
    val midGateWaitTotal = metas.map(_.midGateWaitSec).filter(_ > 0).sum
    val midParRatioMax =
      if (metas.exists(_.midParRatioMax > 0)) metas.map(_.midParRatioMax).max
      else -1.0
    // pre-gate contention vs post-gate: when the gate waited, this pair
    // quantifies the gate's effect size inside the record itself (r18
    // verdict #3) — calib_par_ratio_pregate is the weather the gate saw,
    // calib_par_ratio the weather the sweep ran under.
    val calibParRatioPre = {
      val pre1 = metas.map(_.calibPreGate).filter(_ > 0)
      val preN = metas.map(_.calibParPreGate).filter(_ > 0)
      if (pre1.nonEmpty && preN.nonEmpty)
        (preN.sum / preN.size) / (pre1.sum / pre1.size)
      else -1.0
    }
    // Calib-normalized total: suite seconds divided by the mean
    // single-thread calibration time, i.e. "suite cost in units of this
    // host's current speed". Comparable across rounds even when the box
    // is 30-40% busier at one bench than another.
    val totalCalibNorm = if (calibMean > 0) total / calibMean else -1.0
    // the r15 ask: the per-query calib-normalized figure IN the record,
    // so cross-round comparison self-normalizes for board growth AND
    // host speed without any manual decomposition
    val nq = medians.count(_._2 >= 0)
    val perQueryCalibNorm = if (calibMean > 0 && nq > 0) total / nq / calibMean else -1.0
    val chunksJson =
      if (metas.size <= 1) ""
      else {
        val cs = metas
          .map(m =>
            s"""{"load_avg":[${fmt(m.loadStart)},${fmt(m.loadEnd)}],"calib_sec":[${fmt(m.calibStart)},${fmt(m.calibEnd)}],"calib_par_sec":[${fmt(m.calibParStart)},${fmt(m.calibParEnd)}],"calib_pre_gate":[${fmt(m.calibPreGate)},${fmt(m.calibParPreGate)}],"gate_wait_sec":${fmt(m.gateWait)},"mid_gate_wait_sec":${fmt(m.midGateWaitSec)},"mid_par_ratio_max":${fmt(m.midParRatioMax)}}""")
          .mkString("[", ",", "]")
        s""""n_jvm_chunks":${metas.size},"chunks":$cs,"""
      }
    // full-fidelity report → file (full names, every run, medians, spreads)
    val fullJson = {
      val qs = results.map { case (n, ts) =>
        s""""$n":{"runs":[${ts.map(fmt).mkString(",")}],"median":${fmt(median(ts))},"spread":${fmt(spread(ts))},"spread_raw":${fmt(spreadRaw(ts))}}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total_median","value":${fmt(total)},"unit":"sec","runs_per_query":$runs,"per_query_calib_norm":${fmt(perQueryCalibNorm)},"spread":${fmt(totalSpread)},"spread_def":"drop_max","spread_raw":${fmt(totalSpreadRaw)},"subtotals":{$subtotalsJson},$chunksJson"load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},"calib_sec_start":${fmt(calibStart)},"calib_sec_end":${fmt(calibEnd)},"calib_par_ratio":${fmt(calibParRatio)},"calib_par_ratio_pregate":${fmt(calibParRatioPre)},"gate_wait_sec":${fmt(gateWaitTotal)},"mid_gate_wait_sec":${fmt(midGateWaitTotal)},"mid_par_ratio_max":${fmt(midParRatioMax)},"queries":$qs,"sf":"$sfDir"}"""
    }
    val outPath = java.nio.file.Paths.get("target", "bench_full.json").toAbsolutePath
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath, fullJson.getBytes("UTF-8"))
    // mirror the full-fidelity report to a non-gitignored path: the driver
    // keeps only a bounded stdout tail and target/ is gitignored, so this
    // copy is the ONLY per-query record that survives into the repo for
    // cross-round comparison once the suite outgrew the tail window.
    // ISOLATED re-measures (query-name args) go to bench_isolated_last
    // .json: the r15 round lost the full-board record to a spot re-measure
    // writing the same path and had to restore it a commit later.
    // Resolved against the REPO ROOT, not the process CWD: a bench run
    // launched from another directory must not quietly strand the only
    // surviving per-query record. Root discovery: explicit env override,
    // else walk up from CWD to the nearest build.sbt, else CWD as-is.
    val repoRoot: java.nio.file.Path = sys.env.get("SPARK_GRAFT_REPO_ROOT")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        Iterator
          .iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
          .takeWhile(_ != null)
          .take(8)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      }
      .getOrElse(java.nio.file.Paths.get("").toAbsolutePath)
    // the committed record's contract is "full board at the driver's
    // gate SF": a full-board run at any OTHER sf (a local sf0.001 smoke,
    // say) must not clobber it either — same incident class as the
    // isolated-re-measure clobber, caught while validating chunked mode
    val gateSf = java.nio.file.Paths.get(sfDir).getFileName.toString == "sf0.1"
    val mirrorName =
      if (isolated) "bench_isolated_last.json"
      else if (!gateSf) "bench_scratch_last.json"
      else "bench_full_last.json"
    val repoCopy = repoRoot.resolve(mirrorName)
    try java.nio.file.Files.write(repoCopy, fullJson.getBytes("UTF-8"))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] WARNING: could not write repo mirror $repoCopy: $e")
    }
    // compact summary — the machine-parseable last stdout line. The driver
    // keeps only a ~2 KB stdout tail, and at 150+ queries the full
    // per-query map overflows it (round 9: the line's HEAD was truncated
    // and the driver recorded parsed=null). So the line is BOUNDED
    // regardless of suite size: suite total + the slowest 20 medians +
    // every failure, with counts so elision is visible. Short keys: the
    // qNN/sNN prefix is unique across the suite.
    val failed = medians.filter(_._2 < 0).map(_._1).sorted
    val slowest = medians.filter(_._2 >= 0).sortBy(-_._2).take(20)
    val qsCompact = slowest
      .map { case (n, v) => s""""${n.takeWhile(_ != '_')}":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val failedJson = failed
      .map(n => s""""${n.takeWhile(_ != '_')}"""").mkString("[", ",", "]")
    println(
      s"""{"metric":"total_median","value":${fmt(total)},"unit":"sec","value_calib_norm":${fmt(totalCalibNorm)},"per_query_calib_norm":${fmt(perQueryCalibNorm)},"runs":$runs,"nq":${medians.size},"nfailed":${failed.size},"failed":$failedJson,"spread":${fmt(totalSpread)},"spread_raw":${fmt(totalSpreadRaw)},"subtotals":{$subtotalsJson},$chunksJson"load_avg":[${fmt(loadStart)},${fmt(loadEnd)}],"calib_sec":[${fmt(calibStart)},${fmt(calibEnd)}],"calib_par_ratio":${fmt(calibParRatio)},"calib_par_ratio_pregate":${fmt(calibParRatioPre)},"gate_wait_sec":${fmt(gateWaitTotal)},"mid_gate_wait_sec":${fmt(midGateWaitTotal)},"mid_par_ratio_max":${fmt(midParRatioMax)},"slowest":$qsCompact,"sf":"$sfDir","file":"$outPath","full_copy":"$repoCopy"}"""
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Default raised 3 → 5 (round-10 verdict: spread_raw was 48 s against a
    // 192 s total at runs=3; five runs tighten the median so the 2×-gate
    // reads engine, not host).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    args.toList match {
      case "--chunk" :: out :: names =>
        childMain(out, names, sfDir, cpus, runs)
      case other =>
        val chunks = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNKS", "0").toInt
        if (chunks >= 2 && other.isEmpty) parentMain(chunks.min(8), sfDir, cpus, runs)
        else {
          // Optional filter for isolated measurement: runMain graft.Bench q36 q18
          val (results, meta) = runSweep(other.toSet, exact = false, sfDir, cpus, runs)
          report(results, Seq(meta), isolated = other.nonEmpty, sfDir, runs)
        }
    }
  }
}
