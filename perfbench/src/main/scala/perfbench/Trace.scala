package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** In-memory tracer for the traced run, built only from Spark's public
  * `SparkListener` (jobs, stages, tasks, and `StreamingQueryListener`
  * progress events) and spans the benchmark opens around its own calls
  * into the engine. Nothing is written while the run measures; `Report`
  * renders the spans and per-layer counters once, at the end.
  *
  * Span tree: workload → pass → op (a board entry or a public-function
  * call) → Spark job → stage, with stream triggers under the op. Jobs and
  * triggers are attached to the op whose wall interval holds their start,
  * so listener events that arrive late are still placed correctly. All
  * spans of one op carry the op's id as their `group`.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val t0 = System.currentTimeMillis()
  private var nextId = 1L
  private val benchSpans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]
  @volatile private var fenced = false

  private def id(): Long = synchronized { val i = nextId; nextId += 1; i }

  /** Opens a span under the innermost open one for the duration of `body`.
    * An op span starts a group; its descendants carry the op's id.
    */
  def span[A](name: String, kind: String)(body: => A): A = {
    val parent = open.headOption
    val sid = id()
    val group = if (kind == "op") sid else parent.map(_.group).getOrElse(0L)
    val s = Span(sid, parent.map(_.id).getOrElse(0L), name, kind, group, System.currentTimeMillis(), -1L)
    open.push(s)
    try body
    finally {
      open.pop()
      benchSpans += s.copy(end = System.currentTimeMillis())
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage is named after the job's call site
      val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, callSite,
        prop("spark.sql.execution.id").isDefined, prop(FenceKey).isDefined, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        if (j.fence) fenced = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, Stage(i.stageId))
      st.name = i.name
      st.start = i.submissionTime.getOrElse(-1L)
      st.end = i.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
      val m = e.taskMetrics
      if (m != null) {
        st.tasks += 1
        st.cpuNs += m.executorCpuTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.taskTimes += m.executorRunTime
      }
    }
    // Stream progress reaches every listener on the bus, whichever session
    // (entries clone sessions) started the query.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryProgressEvent =>
        val p = q.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        Trace.this.synchronized {
          triggers += Trigger(p.id.toString, p.batchId, start, start + ms("triggerExecution"),
            ms("queryPlanning"), ms("addBatch"), ms("walCommit"), ms("latestOffset"),
            ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
        }
      case _ =>
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Waits until every listener event posted so far has been delivered:
    * runs a one-task job and waits for its end event, which the listener
    * queue delivers after all earlier ones. Stream progress is posted from
    * the query's own thread, so it gets a short grace period. Called once,
    * when the run ends.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(FenceKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceKey, null)
    val deadline = System.currentTimeMillis() + 10000
    while (!fenced && System.currentTimeMillis() < deadline) Thread.sleep(20)
    var n = -1
    while (n != synchronized(triggers.size) && System.currentTimeMillis() < deadline) {
      n = synchronized(triggers.size); Thread.sleep(250)
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Everything recorded, with jobs, stages and triggers placed under ops. */
  def snapshot(): Recorded = synchronized {
    val spans = benchSpans.toVector
    val ops = spans.filter(_.kind == "op").sortBy(_.start)
    def opAt(t: Long): Option[Span] = ops.find(o => o.start <= t && t <= o.end)
    val js = jobs.values.filterNot(_.fence).toVector.flatMap(j => opAt(j.start).map(o => (o, j)))
    val ss = stages.values.toVector
    val ts = triggers.toVector.flatMap(t => opAt(t.start).map(o => (o, t)))
    Recorded(t0, spans, js, ss, ts)
  }
}

object Trace {
  private val FenceKey = "perfbench.fence"

  final case class Span(id: Long, parent: Long, name: String, kind: String, group: Long, start: Long, end: Long)
  final case class Job(id: Int, start: Long, var end: Long, callSite: String, sql: Boolean, fence: Boolean, stageIds: Seq[Int]) {
    /** Parquet/ORC/JSON/CSV schema inference runs a job outside any SQL
      * execution, from the reader method's call site.
      */
    def schemaInference: Boolean =
      !sql && Seq("parquet at", "load at", "orc at", "json at", "csv at").exists(callSite.startsWith)
  }
  final case class Stage(id: Int) {
    var name = ""
    var start = -1L
    var end = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskTimes: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }
  final case class Trigger(query: String, batch: Long, start: Long, end: Long, planningMs: Long, addBatchMs: Long,
      walCommitMs: Long, latestOffsetMs: Long, stateRows: Long, stateBytes: Long)
  final case class Recorded(t0: Long, spans: Vector[Span], jobs: Vector[(Span, Job)], stages: Vector[Stage],
      triggers: Vector[(Span, Trigger)])
}
