package graft.streaming

import graft.ops.{Tables, TimeCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAM-STATIC join — the third Structured Streaming join class in the
  * engine (beside s16's watermarked stream-stream join and the stateless
  * per-batch transforms): a micro-batched fact stream enriched against a
  * STATIC dimension table.
  *
  * Semantics demonstrated, all load-bearing at scale:
  *   - the join is STATELESS: no watermark, no state store, nothing grows
  *     with the stream — Spark plans a fresh batch join per micro-batch,
  *     so the dim side is (re-)broadcast each trigger and a dim update
  *     between triggers would be picked up (the slowly-changing-dimension
  *     refresh pattern);
  *   - BROADCAST enrichment: at 100 TB/day of facts this is THE
  *     enrichment shape — the dim broadcast costs O(dim) per trigger and
  *     the fact stream never shuffles (asserted in-row from the
  *     streaming engine's final IncrementalExecution plan);
  *   - stateless also means NO dedup: the staged replay re-delivers the
  *     pre-`replayBefore` slice of batch 0, and those rows join AGAIN —
  *     the oracle mirrors the staged delivery (events UNION ALL the
  *     replayed slice), pinning the pass-through semantics that contrast
  *     with s11/s17's stateful dedup.
  */
object StreamStaticJoin {

  /** Per-market-segment enrichment census via a stream-static broadcast
    * join of the staged three-batch event replay against the `customer`
    * dimension (`user_id = c_custkey` — every fixture user is a
    * customer). Facets are integer-exact or decimal-exact so the batch
    * oracle matches bit-for-bit.
    */
  def segmentEnrichment(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val facts = Tables.normalizeEvents(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
    )
    // the static side is a 2-column customer projection — a SCALING
    // dimension, so no pinned broadcast hint (the q48 discipline): the
    // estimator broadcasts the projection while it fits; past that the
    // stream-static join shuffles per micro-batch instead of OOMing
    val dim = Tables
      .customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = facts
      .join(dim, col("user_id") === col("c_custkey"))
      .select(
        col("c_mktsegment").as("segment"),
        col("event_id"),
        col("user_id"),
        col("value"),
        col("ts")
      )
    val out = graft.ops.Scratch.scratchDir("graft_s18_").toString
    val q = joined.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/rows")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // The broadcast assertion reads the streaming engine's OWN executed
    // plan (MicroBatchExecution.lastExecution — the foreachBatch frame is
    // just a Scan ExistingRDD of the already-executed batch, so it can't
    // witness the join). Every micro-batch re-plans the same incremental
    // shape; the final batch's plan is the pin.
    val broadcastJoined = {
      val se = q.getClass.getMethod("streamingQuery").invoke(q)
      val le = se.getClass.getMethod("lastExecution").invoke(se)
      val plan = le.getClass.getMethod("executedPlan").invoke(le).toString
      plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
    }
    val summary = Tables.parquet(spark, s"$out/rows")
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        max(TimeCodec.dayInt(col("ts"))).as("last_day")
      )
      .withColumn("broadcast_per_batch", lit(broadcastJoined))
      .orderBy("segment")
    import scala.jdk.CollectionConverters._
    val rows = summary.collect().toSeq
    spark.streams.resetTerminated()
    spark.createDataFrame(rows.asJava, summary.schema)
  }
}
