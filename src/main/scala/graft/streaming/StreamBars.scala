package graft.streaming

import graft.ops.{Tables, TimeCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming bar formation — the streaming analog of
  * `graft.ops.BarOps.dayBars` (SURVEY.md §2.3 s03): the reference's
  * push-based one-callback-per-bar stream (`StrategyAnalyzerExporter.cs:
  * 179-182`) re-expressed as a watermarked tumbling-window aggregation
  * over micro-batches.
  *
  * Watermark = 1 day: a day's bar finalizes once the stream's event time
  * passes the day boundary — the streaming analog of the reference's
  * day-change buffer reset (`FeaturesBarService.cs:32-37`). The aggregation
  * state is bounded by (#series × #open days), exactly like the reference's
  * bounded ring buffers.
  */
object StreamBars {

  /** Run the streaming day-bar build over a parquet events path to
    * completion (Trigger.AvailableNow — batch-bounded streaming), landing
    * in an in-memory sink; returns the settled result. Batch-stream parity:
    * output is hash-identical to `BarOps.dayBars` (same oracle as q04).
    */
  def runDayBars(session: SparkSession, eventsPath: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.parquet(spark, eventsPath).schema
    // A glob path: FileStreamSource force-sets basePath to the literal path
    // when it is NOT a glob, and then rejects it for not being a directory.
    val baseDir = java.nio.file.Paths.get(eventsPath).getParent.toString
    val glob = s"$baseDir/events*.parquet"
    val stream = graft.ops.Tables.normalizeEvents(
      spark.readStream.schema(schema).option("basePath", baseDir).parquet(glob))
    val bars = stream
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(
        TimeCodec.timeInt(max(col("ts"))).as("time"),
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("volume")
      )
      .select(
        col("user_id"),
        TimeCodec.dayInt(col("w.start")).as("day"),
        col("time"), col("open"), col("high"), col("low"), col("close"), col("volume")
      )
    val name = "s03_bars_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = bars.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(spark, name, spark.table(name).orderBy("user_id", "day"))
  }
}
