package graft.streaming

import graft.ops.{Tables, TimeCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Checkpoint recovery (s22) — the fault-tolerance half of Structured
  * Streaming that no replay demo exercises: a query STOPS (crash,
  * deploy, rebalance), restarts against the same checkpoint, and must
  * resume from the committed offset — reprocessing nothing, losing
  * nothing. The reference's exporter restarts from scratch each NT
  * session (its host re-feeds bars); a 100 TB/day pipeline restarts
  * DAILY and the checkpoint contract is what makes that a non-event.
  *
  * The demo runs the lifecycle for real: run 1 drains generation-0 files
  * into a PARQUET file sink (the production sink class — its
  * `_spark_metadata` commit log is what makes file output exactly-once:
  * readers only see files recorded in a committed batch, so a crash
  * mid-write leaves invisible orphans, never duplicates); the query
  * STOPS; generation-1 files arrive; a NEW query object with the SAME
  * checkpoint + sink resumes. The per-run `numInputRows` totals are
  * folded into the result row: run 2's MUST equal the generation-1 row
  * count alone (a failed resume reprocesses generation 0 — the fold and
  * the per-user census would both diverge), and the census over the
  * final sink must equal the source table exactly once (no loss, no
  * duplication across the restart boundary).
  */
object Recovery {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage events as two generation files (split at `Watermarks.splitDay`)
    * OUTSIDE the stream directory — the demo moves them in one
    * generation at a time. Memoized per (JVM, dir); scratch reclaimed on
    * exit.
    */
  private def stageGenerations(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val base = graft.ops.Scratch.scratchDir("graft_s22_")
        val ev = Tables
          .events(spark, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .withColumn("day", TimeCodec.dayInt(col("ts")))
        def writeOne(df: DataFrame, name: String): Unit = {
          val tmp = s"$base/_$name"
          df.drop("day").coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(part.toPath, base.resolve(s"$name.parquet"))
        }
        writeOne(ev.filter(col("day") <= Watermarks.splitDay), "0")
        writeOne(ev.filter(col("day") > Watermarks.splitDay), "1")
        base.toString
      }
    )

  def checkpointRecoveryCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageGenerations(spark, dir)
    // per-call scratch: each invocation runs the full stop/restart
    // lifecycle from a fresh checkpoint (JVM-lifetime, reclaimed on exit)
    val scratch = graft.ops.Scratch.scratchDir("graft_s22_run_")
    val streamDir = java.nio.file.Files.createDirectory(scratch.resolve("in"))
    val outDir = scratch.resolve("out").toString
    val ckptDir = scratch.resolve("ckpt").toString
    def arrive(name: String): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(staged, s"$name.parquet"),
        streamDir.resolve(s"$name.parquet")
      )
    val schema = Tables.parquet(spark, s"$staged/0.parquet").schema
    // one lifecycle run: a NEW query object on the SAME checkpoint/sink
    def runOnce(): Long = {
      val src = Tables.normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      val q = src
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = q.recentProgress.map(_.numInputRows).sum
      spark.streams.resetTerminated()
      rows
    }
    arrive("0")
    val run1Rows = runOnce() // drains generation 0, then the query STOPS
    arrive("1")
    val run2Rows = runOnce() // resumed query must process generation 1 ONLY
    Tables.parquet(spark, outDir) // reads through the sink's _spark_metadata commit log
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value")
      )
      .withColumn("run1_rows", lit(run1Rows))
      .withColumn("run2_rows", lit(run2Rows))
      .orderBy("user_id")
  }
}
