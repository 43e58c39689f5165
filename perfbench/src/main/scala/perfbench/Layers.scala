package perfbench

import graft.ops.{BarOps, Tables}
import graft.pipeline.Features

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Counters of the timed ops are averaged per op; `pipeline.*` comes from
  * one staged run of the features pipeline over the workload's events.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "ops.schema_jobs" -> "count",
    "ops.schema_job_s" -> "s",
    "queries.jobs" -> "count",
    "queries.job_busy_s" -> "s",
    "queries.driver_gap_s" -> "s",
    "queries.task_cpu_s" -> "s",
    "queries.shuffle_mb" -> "MB",
    "queries.failed" -> "count",
    "streaming.triggers" -> "count",
    "streaming.trigger_s" -> "s",
    "streaming.planning_s" -> "s",
    "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s",
    "streaming.latest_offset_s" -> "s",
    "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "pipeline.daybars_s" -> "s",
    "pipeline.ema_s" -> "s",
    "pipeline.windows_s" -> "s",
    "pipeline.task_cpu_s" -> "s",
    "pipeline.shuffle_mb" -> "MB",
    "pipeline.spill_mb" -> "MB",
    "pipeline.tasks" -> "count",
    "pipeline.task_skew" -> "ratio",
    "sinks.append_s" -> "s",
    "sinks.files" -> "count",
    "sinks.duckdb_mb" -> "MB",
    "sinks.parquet_write_s" -> "s",
    "sinks.duckdb_insert_s" -> "s",
    "sinks.parquet_mb" -> "MB",
    "sinks.failed" -> "count"
  )

  /** The features pipeline in three stages over `eventsDir`, each as its
    * own op of a "layers" pass: day bars, + EMA running window, + trailing
    * feature windows.
    */
  def stagedPipeline(ctx: Ctx, eventsDir: String): Unit = ctx.span("layers", "pass") {
    def ev = Tables.events(ctx.spark, eventsDir)
    ctx.span("BarOps.dayBars", "op")(ctx.noop(BarOps.dayBars(ev)))
    ctx.span("Features.barsWithEma", "op")(ctx.noop(Features.barsWithEma(ev)))
    ctx.span("Features.featuresFull", "op")(ctx.noop(Features.featuresFull(ev, ordered = false)))
  }

  /** Union length of [start, end] intervals, in seconds. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1e3
  }

  /** Per-layer metrics of `workload`, from the spans under its own span. */
  def compute(rec: Trace.Recorded, workload: String, out: Outcome): Map[String, Double] = {
    val byId = rec.spans.map(s => s.id -> s).toMap
    def inPass(op: Trace.Span, layers: Boolean) =
      byId.get(op.parent).exists { p =>
        p.kind == "pass" && (p.name == "layers") == layers &&
          byId.get(p.parent).exists(w => w.kind == "workload" && w.name == workload)
      }
    val timedOps = rec.spans.filter(s => s.kind == "op" && inPass(s, layers = false))
    val n = math.max(1, timedOps.size).toDouble
    val timedIds = timedOps.map(_.id).toSet
    val jobs = rec.jobs.filter { case (op, _) => timedIds(op.id) }.map(_._2)
    val stageById = rec.stages.map(s => s.id -> s).toMap
    def stagesOf(js: Seq[Trace.Job]) = js.flatMap(_.stageIds).flatMap(stageById.get)
    def jobS(j: Trace.Job) = math.max(0L, j.end - j.start) / 1e3
    val schema = jobs.filter(_.schemaInference)
    val jobsByOp = rec.jobs.groupBy(_._1.id)
    val busy = timedOps.map(op => covered(jobsByOp.getOrElse(op.id, Nil).map(_._2)
      .map(j => (j.start, math.max(j.start, j.end)))))
    val wall = timedOps.map(op => (op.end - op.start) / 1e3)
    val st = stagesOf(jobs)

    val trig = rec.triggers.filter { case (op, _) => timedIds(op.id) }.map(_._2)
    // state size is a level, not a flow: each query's last trigger
    val lastTrig = trig.groupBy(_.query).values.map(_.maxBy(_.batch)).toSeq

    def staged(name: String) =
      rec.spans.find(s => s.kind == "op" && s.name == name && inPass(s, layers = true))
    def wallOf(name: String) = staged(name).map(s => (s.end - s.start) / 1e3).getOrElse(0.0)
    val fullJobs = staged("Features.featuresFull").toSeq.flatMap(op => jobsByOp.getOrElse(op.id, Nil).map(_._2))
    val fullStages = stagesOf(fullJobs)
    val widest = if (fullStages.isEmpty) None else Some(fullStages.maxBy(_.tasks))
    val skew = widest.filter(_.taskTimes.nonEmpty).map { s =>
      val med = Stats.median(s.taskTimes.map(_.toDouble).toSeq)
      if (med > 0) s.taskTimes.max / med else 1.0
    }.getOrElse(0.0)
    val sinkFailed = out.sinkLayers.getOrElse("sinks.failed", 0.0)

    Map(
      "ops.schema_jobs" -> schema.size / n,
      "ops.schema_job_s" -> schema.map(jobS).sum / n,
      "queries.jobs" -> jobs.size / n,
      "queries.job_busy_s" -> busy.sum / n,
      "queries.driver_gap_s" -> wall.zip(busy).map { case (w, b) => math.max(0.0, w - b) }.sum / n,
      "queries.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
      "queries.shuffle_mb" -> st.map(_.shuffleWrite).sum / 1e6 / n,
      "queries.failed" -> (out.failed - sinkFailed),
      "streaming.triggers" -> trig.size / n,
      "streaming.trigger_s" -> trig.map(t => t.end - t.start).sum / 1e3 / n,
      "streaming.planning_s" -> trig.map(_.planningMs).sum / 1e3 / n,
      "streaming.add_batch_s" -> trig.map(_.addBatchMs).sum / 1e3 / n,
      "streaming.wal_commit_s" -> trig.map(_.walCommitMs).sum / 1e3 / n,
      "streaming.latest_offset_s" -> trig.map(_.latestOffsetMs).sum / 1e3 / n,
      "streaming.state_rows" -> lastTrig.map(_.stateRows).sum / n,
      "streaming.state_mb" -> lastTrig.map(_.stateBytes).sum / 1e6 / n,
      "pipeline.daybars_s" -> wallOf("BarOps.dayBars"),
      "pipeline.ema_s" -> (wallOf("Features.barsWithEma") - wallOf("BarOps.dayBars")),
      "pipeline.windows_s" -> (wallOf("Features.featuresFull") - wallOf("Features.barsWithEma")),
      "pipeline.task_cpu_s" -> fullStages.map(_.cpuNs).sum / 1e9,
      "pipeline.shuffle_mb" -> fullStages.map(_.shuffleWrite).sum / 1e6,
      "pipeline.spill_mb" -> fullStages.map(_.spill).sum / 1e6,
      "pipeline.tasks" -> fullStages.map(_.tasks).sum.toDouble,
      "pipeline.task_skew" -> skew
    ) ++ Units.collect { case (k, _) if k.startsWith("sinks.") => k -> out.sinkLayers.getOrElse(k, 0.0) }
  }

  /** Spans of the record as one flat list: bench spans, then jobs under
    * their op, stages under their job and stream triggers under their op.
    * Times are milliseconds since the trace started.
    */
  def spans(rec: Trace.Recorded): Seq[Map[String, Any]] = {
    def rel(t: Long) = if (t < 0) -1L else t - rec.t0
    val JobBase = 1000000000L
    val StageBase = 2000000000L
    val TriggerBase = 3000000000L
    val bench = rec.spans.sortBy(_.start).map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "group" -> s.group, "kind" -> s.kind, "name" -> s.name,
        "start" -> rel(s.start), "end" -> rel(s.end)))
    val stageById = rec.stages.map(s => s.id -> s).toMap
    val jobs = rec.jobs.sortBy(_._2.id).flatMap { case (op, j) =>
      Map("id" -> (JobBase + j.id), "parent" -> op.id, "group" -> op.group, "kind" -> "job",
        "name" -> j.callSite, "start" -> rel(j.start), "end" -> rel(j.end),
        "schema_inference" -> j.schemaInference) +:
        j.stageIds.flatMap(stageById.get).map(s =>
          Map("id" -> (StageBase + s.id), "parent" -> (JobBase + j.id), "group" -> op.group, "kind" -> "stage",
            "name" -> s.name, "start" -> rel(s.start), "end" -> rel(s.end), "tasks" -> s.tasks,
            "task_cpu_ms" -> s.cpuNs / 1000000, "shuffle_read_bytes" -> s.shuffleRead,
            "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill))
    }
    val triggers = rec.triggers.zipWithIndex.map { case ((op, t), i) =>
      Map("id" -> (TriggerBase + i), "parent" -> op.id, "group" -> op.group, "kind" -> "trigger",
        "name" -> s"${t.query.take(8)}#${t.batch}", "start" -> rel(t.start), "end" -> rel(t.end),
        "planning_ms" -> t.planningMs, "add_batch_ms" -> t.addBatchMs, "wal_commit_ms" -> t.walCommitMs,
        "latest_offset_ms" -> t.latestOffsetMs, "state_rows" -> t.stateRows, "state_bytes" -> t.stateBytes)
    }
    bench ++ jobs ++ triggers
  }
}
