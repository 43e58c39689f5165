package graft

import graft.functions.{ClusteredAggregate, GraftFunctions}
import graft.sinks.DuckDbLive
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session policy has one owner. Every session a query runs on is
  * prepared by `GraftSession` (graft_* functions, `ClusteredAggregate`,
  * UTC, `nanosAsLong`), and an entry that needs other confs derives a
  * session instead of setting them on the one it was given, where a job
  * running beside it under `ops.Par` would see them.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Broadcast = "spark.sql.autoBroadcastJoinThreshold"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def assertPrepared(s: SparkSession): Unit = {
    GraftFunctions.all.foreach { case (id, _, _) =>
      assert(s.sessionState.functionRegistry.functionExists(id), s"${id.funcName} does not resolve")
    }
    assert(s.experimental.extraStrategies.count(_ == ClusteredAggregate) == 1)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get(NanosAsLong) == "true")
  }

  /** The SQL executions `body` starts, as the confs each one's session
    * holds beyond the SparkConf.
    */
  private def executionConfs(body: => Unit): Seq[Map[String, String]] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val fence = "graft.spec.fence"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.modifiedConfigs)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(fence) != null)) fenced = true
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus delivers in order: once this job's start is
      // seen, every execution the body started has been seen
      spark.sparkContext.setLocalProperty(fence, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(fence, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(fenced, "the fence job was not observed")
    seen.asScala.toSeq
  }

  test("a derived session is prepared, holds its own confs and leaves its parent's alone") {
    val d = GraftSession.derive(spark, Aqe -> "false")
    assertPrepared(d)
    assert(d.conf.get(Aqe) == "false" && spark.conf.get(Aqe) == "true")
    assert(d.sql("SELECT graft_simhash(array('a', 'b'), 16)").head().getLong(0) >= 0L)
    assertPrepared(GraftSession.prepare(d))
    val t = graft.streaming.StreamSessions.tuned(spark)
    assertPrepared(t)
    assert(t.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("q221 and q222 run each join edge on a prepared session") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val confs = executionConfs {
      Seq("q221_join_strategy_decision", "q222_persisted_strategy_decision")
        .foreach(SparkEntry.queries(_)(spark, dir).collect())
    }
    // the edges are the executions that ran with AQE off
    val edges = confs.filter(_.get(Aqe).contains("false"))
    assert(edges.nonEmpty, "no edge execution was observed")
    edges.foreach(c => assert(c.get(NanosAsLong).contains("true"), s"unprepared edge session: $c"))
  }

  test("entries that turn broadcast and AQE off never change them on the shared session") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val keys = Seq(Aqe, Broadcast)
    val before = keys.map(spark.conf.get)
    val changes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) {
        keys.zip(before).foreach { case (k, v) =>
          val now = spark.conf.get(k)
          if (now != v) changes.add(s"$k=$now")
        }
        Thread.sleep(1)
      })
    poller.setDaemon(true)
    poller.start()
    try {
      Seq("s08_bucketed_join", "q216_broadcast_decision", "q218_skew_salt_decision",
        "q223_salt_factor_audit", "q225_pair_stat_routed", "q226_build_skew_split_join",
        "s76_decision_history").foreach(SparkEntry.queries(_)(spark, dir).collect())
    } finally {
      running = false
      poller.join()
    }
    assert(changes.isEmpty, s"the shared session's conf changed: ${changes.asScala.toSet}")
  }

  test("only GraftSession sets a conf or builds a sub-session in src/main") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root is not the source tree")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("conf.set(") || l.contains("newSession()") => s"${root.relativize(p)}:${i + 1}"
        }
      }
      .toSeq
    assert(offenders.isEmpty, s"conf.set( or newSession() outside GraftSession: ${offenders.mkString(", ")}")
  }
}
