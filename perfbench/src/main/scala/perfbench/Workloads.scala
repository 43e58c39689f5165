package perfbench

import graft.SparkEntry
import graft.ops.{BarOps, Tables}
import graft.pipeline.Features
import graft.sinks.{DuckDbLive, DuckDbSink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Run-wide settings shared by the workloads. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val work: String,
    val trace: Option[Trace],
    val smoke: Boolean
) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Events and series of one base copy: sf0.1's shape, sf0.001's in smoke mode. */
  val baseEvents: Long = if (smoke) 1000L else Corpus.BaseEvents
  val baseUsers: Long = if (smoke) 15L else Corpus.BaseUsers
  /** Set-up repetitions behind `setup_s`'s median. */
  val setupReps: Int = if (smoke) 1 else 3

  def span[A](name: String, kind: String)(body: => A): A = {
    Ctx.progress(s"$kind $name")
    trace.fold(body)(_.span(name, kind)(body))
  }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def baseEventsDf(): DataFrame = Corpus.events(spark, seed, baseEvents, baseUsers)
}

object Ctx {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s  $what")
}

/** Seconds of the one-time input build and of each repeated one, and
  * where their outputs are.
  */
final case class Setup(onceS: Double, repS: Seq[Double], baseDir: String, dir: String)

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run measured and checked: every timed op's seconds,
  * the workload's `op_s`, and its `rows_per_s`: the rows of one pass over
  * the seconds of a typical pass.
  */
final case class Outcome(
    setup: Setup,
    warmS: Double,
    opS: Seq[Double],
    opStat: Double,
    rowsPerS: Double,
    failed: Int,
    named: Seq[Metric],
    checks: Seq[(String, Option[String])],
    sizes: Map[String, Any],
    sinkLayers: Map[String, Double],
    eventsDir: String
)

object Workloads {
  val Names: Seq[String] = Seq("exporter-4x", "board-mix")

  /** Runs one workload; a traced run then stages the features pipeline
    * over the workload's events, inside the workload's span.
    */
  def run(name: String, ctx: Ctx): Outcome = ctx.span(name, "workload") {
    val o = name match {
      case "exporter-4x" => exporter(ctx)
      case "board-mix" => board(ctx)
    }
    if (ctx.trace.isDefined) Layers.stagedPipeline(ctx, o.eventsDir)
    o
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }

  private def bytesUnder(dir: String, suffix: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).map(Files.size).sum
    finally s.close()
  }

  /** Set-up of a workload's inputs: `base` builds into the base directory
    * what is made once, then `rep` builds from it the input the ops read,
    * `ctx.setupReps` times, each into a fresh directory; the last is kept.
    */
  private def setUp(ctx: Ctx, wl: String)(base: String => Unit)(rep: (String, String) => Unit): Setup = {
    val baseDir = s"${ctx.work}/$wl/base"
    val onceS = ctx.span("build-base", "setup")(Stats.timed(base(baseDir)))._1
    val dirs = (0 until ctx.setupReps).map(i => s"${ctx.work}/$wl/input$i")
    val repS = dirs.zipWithIndex.map { case (d, i) =>
      if (i > 0) rmTree(dirs(i - 1))
      ctx.span(s"build-$i", "setup")(Stats.timed(rep(baseDir, d)))._1
    }
    Setup(onceS, repS, baseDir, dirs.last)
  }

  /** Closed loop with one client: op i starts when op i-1 has ended, and
    * ops start until `ctx.seconds` have passed. Each op returns its own
    * seconds. Returns those of each op that succeeded, and the number
    * that failed.
    */
  private def closedLoop(ctx: Ctx, opName: String)(op: Int => Double): (Seq[Double], Int) = {
    val out = Seq.newBuilder[Double]
    var failed = 0
    var i = 0
    val t0 = System.nanoTime()
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      try out += ctx.span(s"pass-$i", "pass")(ctx.span(opName, "op")(op(i)))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $opName #$i failed: $e")
      }
      i += 1
    }
    (out.result(), failed)
  }

  private def check(name: String)(body: => Option[String]): (String, Option[String]) =
    try name -> body
    catch { case NonFatal(e) => name -> Some(s"threw $e") }

  /** Runs a declared entry over `corpus`, writes its result, and compares
    * it with the entry's DuckDB oracle. Returns the result's row count and
    * the mismatch, if any.
    */
  private def entryMatches(ctx: Ctx, corpus: String, entry: String, out: String): (Long, Option[String]) = {
    Oracle.writeOrdered(SparkEntry.queries(entry)(ctx.spark, corpus), out)
    Oracle.withCorpus(corpus, Seq("events"))(Oracle.compare(_, out, SparkEntry.oracleSql(entry)))
  }

  // ---------------------------------------------------------------- exporter

  /** (rows, sum of row hashes) with each copy's `user_id` folded back onto
    * the base copy: equal for the widened output and `copies` times the
    * base output exactly when every copy's features equal the base's.
    */
  private def foldDigest(df: DataFrame, users: Long): (Long, BigDecimal) = {
    val folded = df.columns.toSeq.map(c => if (c == "user_id") pmod(col(c), lit(users)) else col(c))
    val r = df
      .select(xxhash64(folded: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h"))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private final case class Export(seconds: Double, appendS: Double, writeS: Double, insertS: Double, files: Int,
      duckdbBytes: Long, parquetBytes: Long)

  /** One export of `rowsDir` through both sink paths into `out`: the live
    * appender (one DuckDB file per partition) and the parquet + DDL
    * handoff (DuckDB runs `ddlFor` and `insertFor` into one table).
    */
  private def exportOnce(ctx: Ctx, rowsDir: String, out: String): Export = {
    val t0 = System.nanoTime()
    val df = ctx.spark.read.parquet(rowsDir)
    val (appendS, files) = ctx.span("DuckDbLive.appendPartitioned", "call")(
      Stats.timed(DuckDbLive.appendPartitioned(df, s"$out/appender", "features")))
    val (writeS, (ddl, insert)) = ctx.span("DuckDbSink.write", "call")(
      Stats.timed(DuckDbSink.write(df, "features", s"$out/parquet")))
    val (insertS, _) = ctx.span("DuckDbLive.execute", "call")(Stats.timed(
      DuckDbLive.withConnection(s"$out/handoff.duckdb") { c =>
        DuckDbLive.execute(c, ddl)
        DuckDbLive.execute(c, insert)
      }))
    Export((System.nanoTime() - t0) / 1e9, appendS, writeS, insertS, files.size, bytesUnder(s"$out/appender", ".duckdb"),
      bytesUnder(s"$out/parquet", ".parquet"))
  }

  /** Per-column count/min/max, and sums of BIGINT columns, as strings. */
  private def columnStats(cols: Seq[(String, Boolean)]): Seq[String] =
    "count(*)" +: cols.flatMap { case (c, isLong) =>
      val q = DuckDbSink.quoteIdent(c)
      Seq(s"count($q)", s"min($q)", s"max($q)") ++ (if (isLong) Seq(s"sum($q)") else Nil)
    }

  private def exportChecks(ctx: Ctx, rowsDir: String, out: String): Seq[(String, Option[String])] = {
    val df = ctx.spark.read.parquet(rowsDir)
    val cols = df.schema.fields.toSeq.map(f => f.name -> (f.dataType == LongType))
    val exprs = columnStats(cols)
    val want = df.selectExpr(exprs.map(_.replace("\"", "`")): _*).head().toSeq.map(Oracle.number)
    def against(label: String, relation: java.sql.Connection => String, db: String) =
      check(s"export: $label reads back the exported rows and column statistics") {
        DuckDbLive.withConnection(db) { c =>
          val got = DuckDbLive.queryRow(c, s"SELECT ${exprs.mkString(", ")} FROM ${relation(c)}").map(Oracle.number)
          if (got == want) None
          else Some(s"count ${got.head} vs ${want.head}; first difference at column statistic " +
            exprs(got.zip(want).indexWhere { case (a, b) => a != b }))
        }
      }
    val parts = {
      val s = Files.list(Paths.get(s"$out/appender"))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".duckdb")).toSeq.sorted
      finally s.close()
    }
    Seq(
      against("the appender path", { c =>
        parts.zipWithIndex.foreach { case (p, i) => DuckDbLive.execute(c, s"ATTACH '$p' AS p$i (READ_ONLY)") }
        parts.indices.map(i => s"SELECT * FROM p$i.features").mkString("(", " UNION ALL ", ")")
      }, ""),
      against("the parquet handoff", _ => "features", s"$out/handoff.duckdb")
    )
  }

  private val WarmCycles = 2

  /** The reference exporter's job, one cycle per op: the calc-only
    * features pass over the widened events (to a noop sink, as the
    * reference measures bars/s), then the export of a fixed set of
    * float32 FeaturesBar rows through both sink paths.
    */
  private def exporter(ctx: Ctx): Outcome = {
    import ctx.spark
    val copies = if (ctx.smoke) 2 else 4
    val setup = setUp(ctx, "exporter")(b => Corpus.write(ctx.baseEventsDf(), s"$b/events.parquet")) { (b, d) =>
      Corpus.write(
        Corpus.widen(spark.read.parquet(s"$b/events.parquet"), ctx.seed, copies, ctx.baseUsers, ctx.baseEvents,
          2 * ctx.cores),
        s"$d/events.parquet")
    }
    val (base, wide, rowsDir) = (setup.baseDir, setup.dir, s"${ctx.work}/exporter/rows")
    def pipeline(d: String) = Features.featuresFull(Tables.events(spark, d), ordered = false)
    def calcPass(): Double = ctx.span("Features.featuresFull", "call")(Stats.timed(ctx.noop(pipeline(wide))))._1

    // warm-up: the export rows (the widened float32 features, in two
    // user-shifted copies), a widened pass reduced to the fold-back check's
    // digest, an export whose outputs the checks read back, then cycles as
    // timed: cycle times keep falling for several cycles in a fresh JVM
    val warmOut = s"${ctx.work}/exporter/warm"
    val (warmS, wideDigest) = ctx.span("warm-up", "setup")(Stats.timed {
      Corpus.write(
        Corpus.replicate(Features.featuresF32(Tables.events(spark, wide)), ctx.seed, 2,
          Seq("user_id" -> copies * ctx.baseUsers), 2 * ctx.cores),
        rowsDir)
      val digest = foldDigest(pipeline(wide), ctx.baseUsers)
      exportOnce(ctx, rowsDir, warmOut)
      (1 to WarmCycles).foreach { i =>
        calcPass()
        exportOnce(ctx, rowsDir, s"${ctx.work}/exporter/warm$i")
        rmTree(s"${ctx.work}/exporter/warm$i")
      }
      digest
    })
    val exportChecked = exportChecks(ctx, rowsDir, warmOut)
    rmTree(warmOut)
    val bars = copies * BarOps.dayBars(Tables.events(spark, base)).count()
    val rows = spark.read.parquet(rowsDir).count()

    val calc = Seq.newBuilder[Double]
    val exports = Seq.newBuilder[Export]
    var sinkFailures = 0
    val (cycleS, failed) = closedLoop(ctx, "exporter cycle") { i =>
      val calcS = calcPass()
      val out = s"${ctx.work}/exporter/out$i"
      val e =
        try exportOnce(ctx, rowsDir, out)
        catch { case NonFatal(err) => sinkFailures += 1; throw err }
      rmTree(out)
      calc += calcS
      exports += e
      calcS + e.seconds
    }

    val q18 = s"${ctx.work}/exporter/q18"
    val oracle = check("features: base output matches the q18_features_full oracle") {
      entryMatches(ctx, base, "q18_features_full", q18)._2
    }
    val baseDigest = foldDigest(spark.read.parquet(q18), ctx.baseUsers)
    val checks = Seq(
      check("features: widened output folds back to copies of the base output") {
        val want = (baseDigest._1 * copies, baseDigest._2 * copies)
        if (wideDigest == want) None else Some(s"digest $wideDigest, want $want")
      },
      oracle
    ) ++ exportChecked

    val es = exports.result()
    def med(f: Export => Double) = Stats.median(es.map(f))
    Outcome(
      setup, warmS, cycleS, Stats.median(cycleS), bars / Stats.median(cycleS), failed,
      Seq(
        Metric("bars_per_s", bars / Stats.median(calc.result()), "bars/s"),
        Metric("appender_rows_per_s", rows / med(_.appendS), "rows/s"),
        Metric("handoff_rows_per_s", rows / med(e => e.writeS + e.insertS), "rows/s"),
        Metric("duckdb_bytes_per_row", med(_.duckdbBytes.toDouble) / rows, "B/row")
      ),
      checks,
      Map("copies" -> copies, "events" -> copies * ctx.baseEvents, "series" -> copies * ctx.baseUsers,
        "bars" -> bars, "emitted_rows" -> copies * baseDigest._1, "export_rows" -> rows,
        "files" -> 2 * ctx.cores),
      Map(
        "sinks.append_s" -> med(_.appendS),
        "sinks.files" -> med(_.files.toDouble),
        "sinks.duckdb_mb" -> med(_.duckdbBytes / 1e6),
        "sinks.parquet_write_s" -> med(_.writeS),
        "sinks.duckdb_insert_s" -> med(_.insertS),
        "sinks.parquet_mb" -> med(_.parquetBytes / 1e6),
        "sinks.failed" -> sinkFailures.toDouble
      ),
      wide
    )
  }

  // ------------------------------------------------------------------- board

  /** A fixed stratified sample of the 79 declared entries whose only
    * input is `events` and that have an oracle (52 batch, 27 streaming or
    * table-format), so the seeded corpus can feed them: in name order,
    * every 32nd batch entry and the first two of every 13th streaming one,
    * from the first, sized so that a run fits its time budget. The sample
    * is the same for every seed, so seeds compare the same work; a seed
    * changes the data and the order of each pass.
    */
  val BoardEntries: Seq[String] = Seq(
    "q01_scan_project", "q158_interevent_gaps", "s01_duckdb_sink", "s22_checkpoint_recovery"
  )

  private val MinPasses = 3

  private def board(ctx: Ctx): Outcome = {
    import ctx.spark
    val entries = BoardEntries
    val setup = setUp(ctx, "board")(_ => ())((_, d) => Corpus.write(ctx.baseEventsDf(), s"$d/events.parquet"))
    val dir = setup.dir
    def out(e: String) = s"${ctx.work}/board/out/$e"
    def runEntry(e: String): DataFrame = SparkEntry.queries(e)(spark, dir)

    // warm-up: every sampled entry once, writing the result the checks
    // compare, then once more as timed: an entry's second run in a fresh
    // JVM is still well slower than its later ones
    val warmFailed = scala.collection.mutable.Map.empty[String, String]
    val (warmS, _) = ctx.span("warm-up", "setup")(Stats.timed {
      entries.foreach { e =>
        try Oracle.writeOrdered(runEntry(e), out(e))
        catch { case NonFatal(err) => warmFailed(e) = err.toString }
      }
      entries.filterNot(warmFailed.contains).foreach(e => ctx.noop(runEntry(e)))
    })
    val results: Map[String, (Long, Option[String])] = Oracle.withCorpus(dir, Seq("events")) { conn =>
      entries.map { e =>
        e -> warmFailed.get(e).map(m => (0L, Some(s"threw $m")))
          .getOrElse(Oracle.compare(conn, out(e), SparkEntry.oracleSql(e)))
      }.toMap
    }
    val checks = entries.map(e => s"board: $e matches its oracle" -> results(e)._2)

    // timed passes over the sample, each in a seeded order; passes start
    // until the time is up, at least MinPasses, and always complete, so
    // every entry is timed equally often
    val rnd = new scala.util.Random(ctx.seed)
    val times = Seq.newBuilder[(Int, String, Double)]
    var failed = 0
    var pass = 0
    val t0 = System.nanoTime()
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      ctx.span(s"pass-$pass", "pass") {
        rnd.shuffle(entries).foreach { e =>
          try times += ((pass, e, ctx.span(e, "op")(Stats.timed(ctx.noop(runEntry(e))))._1))
          catch {
            case NonFatal(err) =>
              failed += 1
              System.err.println(s"[perfbench] $e failed: $err")
          }
        }
      }
      pass += 1
    }
    val ts = times.result()
    val opS = ts.map(_._3)
    val passes = ts.groupBy(_._1).values.toSeq
    def classSum(prefix: String) = Stats.median(passes.map(_.filter(_._2.startsWith(prefix)).map(_._3).sum))
    val tail = Stats.tail(opS)
    // entries differ several-fold in cost, so op_s averages each entry's
    // own median rather than taking a median across entries
    val perEntry = ts.groupBy(_._2).map { case (e, t) => e -> Stats.median(t.map(_._3)) }
    Outcome(
      setup, warmS, opS, perEntry.values.sum / perEntry.size,
      perEntry.keys.map(results(_)._1).sum / perEntry.values.sum,
      failed,
      Seq(
        Metric("batch_s", classSum("q"), "s"),
        Metric("stream_s", classSum("s"), "s"),
        Metric("entry_p50_s", Stats.median(opS), "s")
      ) ++ tail.map { case (p, v) => Metric(s"entry_p${p}_s", v, "s") },
      checks,
      Map("entries" -> entries, "batch_entries" -> entries.count(_.startsWith("q")),
        "stream_entries" -> entries.count(_.startsWith("s")), "passes" -> pass),
      Map.empty,
      dir
    )
  }
}
