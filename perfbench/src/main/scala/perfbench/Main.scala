package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  *   --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *   --out <dir> --work <dir> [--smoke]
  *
  * Prints a table of every metric, then one JSON line: `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end metrics untraced,
  * the per-layer metrics traced). Writes the run's record, with host
  * context, under `<out>/records`, and a traced run's spans and counters
  * under `<out>/traces`, once, when the run ends. Inputs and outputs live
  * under `<work>`, which is deleted at the end. Exits 1 when an op or an
  * output check failed.
  */
object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val out = arg(args, "--out").getOrElse(sys.error("--out is required"))
    val smoke = args.contains("--smoke")
    val names = if (workload == "all") Workloads.Names else Seq(workload)
    require(names.forall(Workloads.Names.contains), s"unknown workload $workload; known: ${Workloads.Names.mkString(", ")}")

    val loadStart = Host.loadAvg()
    val (calibS, calib) = Stats.timed(Host.calibrate())
    val cores = Runtime.getRuntime.availableProcessors
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3 - calibS

    val trace = if (traced) Some(new Trace(spark)) else None
    val runs = names.map { n =>
      val ctx = new Ctx(spark, seed, seconds, s"$work/$n", trace, smoke)
      n -> Workloads.run(n, ctx)
    }
    Ctx.progress("checks and timed runs done")
    trace.foreach(_.drain())
    val rec = trace.map { t => t.detach(); t.snapshot() }
    val host = Host.context(cores, loadStart, calib)

    val results = runs.map { case (n, o) =>
      val e2e = Seq(
        Metric("setup_s", sessionS + o.setup.onceS + Stats.median(o.setup.repS) + o.warmS, "s"),
        Metric("op_s", o.opStat, "s"),
        Metric("rows_per_s", o.rowsPerS, "rows/s")
      )
      val layers = rec.map(r => Layers.compute(r, n, o)).getOrElse(Map.empty)
      val failedChecks = o.checks.count(_._2.isDefined)
      val attempted = o.opS.size + o.failed + o.checks.size
      val failed = o.failed + failedChecks
      Report.table(n, e2e, o, layers, failed, attempted)
      val record = Map(
        "workload" -> n, "seed" -> seed, "seconds" -> seconds, "trace" -> traced, "smoke" -> smoke,
        "sizes" -> o.sizes, "loop" -> "closed, one client",
        "end_to_end" -> e2e.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
        "named" -> o.named.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
        "failed_ratio" -> failed.toDouble / attempted,
        "samples" -> Map("op_s" -> o.opS, "session_s" -> sessionS, "build_once_s" -> o.setup.onceS,
          "build_s" -> o.setup.repS, "warm_s" -> o.warmS),
        "checks" -> o.checks.map { case (c, bad) => Map("check" -> c, "ok" -> bad.isEmpty, "detail" -> bad) },
        "host" -> host,
        "per_layer" -> layers
      )
      (n, e2e, layers, record, attempted, failed)
    }
    Ctx.progress("stopping")
    spark.stop()
    Workloads.rmTree(work)
    Ctx.progress("stopped")

    val stamp = s"seed$seed-trace${if (traced) 1 else 0}"
    results.foreach { case (n, _, _, record, _, _) =>
      Report.write(s"$out/records/$n-$stamp.json", record)
    }
    rec.foreach { r =>
      Report.write(s"$out/traces/${names.mkString("+")}-$stamp.json", Report.trace(r, results.map(x => x._1 -> x._4), out, seed))
    }

    val attempted = results.map(_._5).sum
    val failed = results.map(_._6).sum
    def metric(prefix: String, m: Metric) = s"$prefix${m.name}" -> Map("value" -> m.value, "unit" -> m.unit)
    val metrics = results.flatMap { case (n, e2e, layers, _, _, _) =>
      val prefix = if (names.size > 1) s"$n/" else ""
      if (traced) Layers.Units.map { case (k, u) => metric(prefix, Metric(k, layers(k), u)) }
      else e2e.map(metric(prefix, _))
    }
    println(Json.render(Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }
}
