package graft.streaming

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Multi-sink fanout (s32) — one stream feeding TWO sinks with per-sink
  * exactly-once. Structured Streaming's transactional guarantee covers one
  * sink per query; the moment a `foreachBatch` body writes to a second
  * store, the write pair is NOT atomic — a crash between the two writes
  * leaves sink A committed and sink B missing the batch (the torn fanout),
  * and a checkpoint restart then re-delivers the batch to BOTH, so a sink
  * without its own idempotence ledger double-applies. The production
  * pattern demonstrated here, for real:
  *
  *   - each sink keeps its OWN committed-batch ledger, and each write is
  *     an idempotent overwrite of a batch-keyed location (`batch=<id>`
  *     directory) — re-delivery of a committed batch is a no-op per sink,
  *     independently;
  *   - a torn fanout is INJECTED (batch 1 commits to the row sink, then
  *     the aggregate-sink write is skipped, as if the process died between
  *     the two writes);
  *   - recovery is the LEDGER DIFF: batches present in A's ledger but not
  *     B's are re-derived from A's committed copy — B heals without
  *     re-reading the source, and re-running the heal is itself a no-op.
  *
  * The emitted frame folds the proof in-row: per user, the row-sink census
  * must equal the aggregate-sink census (torn batch healed), and both must
  * equal the staged delivery (source + the batch-2 replay slice — the
  * replay is REAL input here, there is no watermark dedup in this query,
  * so exactly-once means exactly-once PER DELIVERED BATCH). Global flags
  * carry the batch count and that a heal actually happened — a run where
  * the injection silently stopped firing would flip `torn_healed` and fail
  * the hash.
  */
object Fanout {

  def fanoutTwoSinks(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val scratch = graft.ops.Scratch.scratchDir("graft_s32_")
    val rowSink = s"$scratch/rows"
    val aggSink = s"$scratch/agg"
    val committedA = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val committedB = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var tornInjected = false

    def writeAgg(df: DataFrame, id: Long): Unit =
      df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$aggSink/batch=$id")

    val src = graft.ops.Tables.normalizeEvents(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
    )
    val q = src.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val batch = df.select(col("event_id"), col("user_id"), col("ts"), col("value"))
        // sink A: row-level, idempotent batch-keyed overwrite + ledger.
        // Write-THEN-commit: the ledger entry is only recorded after the
        // durable write succeeds, so a failed/retried batch never leaves a
        // ledger entry pointing at a missing path (the heal path reads
        // ledger entries, so ledger ⊆ durable is the invariant).
        if (!committedA.contains(id)) {
          batch.write.mode("overwrite").parquet(s"$rowSink/batch=$id")
          committedA.add(id)
        }
        // torn fanout: die between the two writes, once, on batch 1
        if (id == 1L && !tornInjected) { tornInjected = true }
        else if (!committedB.contains(id)) {
          writeAgg(batch, id)
          committedB.add(id)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$scratch/ckpt")
      .start()
    q.awaitTermination()

    // recovery: the ledger diff — every batch A committed but B did not is
    // re-derived from A's committed copy (never from the source). Running
    // this twice heals nothing twice: the second pass sees an empty diff.
    val healed = {
      import scala.jdk.CollectionConverters._
      val missing = (committedA.asScala.toSet -- committedB.asScala.toSet).toSeq.sorted
      missing.foreach { id =>
        writeAgg(Tables.parquet(spark, s"$rowSink/batch=$id"), id)
        committedB.add(id)
      }
      missing.nonEmpty
    }

    // Read the EXPLICIT ledger-derived batch dirs, not a `batch=*` glob:
    // globbed reads trip Spark's FileStreamSink metadata probe, which
    // logs a WARN with a full FileNotFoundException stack trace for the
    // literal glob string on every read (the alarming-but-benign trace
    // in the r10 bench tail). Concrete existing dirs resolve quietly,
    // and the census provably covers exactly the committed ledger.
    import scala.jdk.CollectionConverters._
    def readBatches(sink: String, ids: Seq[Long]) =
      spark.read.option("basePath", sink).parquet(ids.map(id => s"$sink/batch=$id"): _*)
    val aRows = readBatches(rowSink, committedA.asScala.toSeq.sorted)
      .groupBy("user_id").agg(count(lit(1)).as("a_rows"))
    val bRows = readBatches(aggSink, committedB.asScala.toSeq.sorted)
      .groupBy("user_id").agg(sum(col("n")).as("b_rows"))
    // FULL OUTER join: a user present in only one sink must surface as a
    // disagreement row (sinks_agree=false via null-aware compare), never
    // silently vanish the way an inner join would drop it.
    val out = aRows
      .join(bRows, Seq("user_id"), "full_outer")
      .withColumn("sinks_agree", col("a_rows") <=> col("b_rows"))
      .withColumn("n_batches", lit(committedA.size().toLong))
      .withColumn("torn_healed", lit(healed))
      .select(
        col("user_id"), col("a_rows"), col("b_rows"),
        col("sinks_agree"), col("n_batches"), col("torn_healed")
      )
      .orderBy("user_id")
    StreamSessions.settleLocal(spark, "s32_fanout", out)
  }
}
