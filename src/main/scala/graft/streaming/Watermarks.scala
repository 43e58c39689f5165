package graft.streaming

import graft.ops.{Tables, TimeCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermark + late-data semantics — absent from the reference (its host
  * delivers bars in order, one at a time, `StrategyAnalyzerExporter.cs:73`,
  * so late data cannot occur; SURVEY.md §2.2) but essential for the same
  * pipeline fed by a real out-of-order stream.
  *
  * Spark's actual contract (verified against progress metrics): a late row
  * is dropped only once the watermark has passed its window END — i.e.
  * once the window was finalized, emitted (append mode) and its state
  * evicted. While a window's state is still open, stragglers keep merging
  * regardless of age. The demo makes both behaviors observable with a
  * deterministic three-batch replay of `events`:
  *   batch 0: all rows up to day `splitDay` — builds open state;
  *   batch 1: rows after `splitDay` — advances the watermark past the
  *            old windows, which emit and evict;
  *   batch 2: an exact replay of batch-0 rows for the first 5 days —
  *            all LATE beyond the watermark → dropped (if they weren't,
  *            append mode would emit duplicate finalized windows and the
  *            final counts would double).
  * WatermarkSpec checks the emitted windows against a Scala model of this
  * trace.
  */
object Watermarks {

  /** Batch boundaries of the staged three-file replay — public so the
    * s02 oracle can mirror the per-epoch row counts in SQL.
    */
  val splitDay = 20240126L
  val replayBefore = 20240106L

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage events as an ordered three-file stream directory (mtimes and
    * names increasing so FileStreamSource processes them in order with
    * maxFilesPerTrigger=1). Memoized per source dir — s07 and s11 share
    * one staging.
    */
  def stageBatches(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(dir, d => stageBatchesUncached(spark, d))

  private def stageBatchesUncached(spark: SparkSession, dir: String): String = {
    val base = graft.ops.Scratch.scratchDir("graft_s07_").toString
    val ev = Tables
      .events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("day", TimeCodec.dayInt(col("ts")))
    def writeOne(df: DataFrame, out: String, name: String, mtime: Long): Unit = {
      df.drop("day").coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/$name")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    writeOne(ev.filter(col("day") <= splitDay), s"$base/_b0", "0.parquet", 1000000L)
    writeOne(ev.filter(col("day") > splitDay), s"$base/_b1", "1.parquet", 2000000L)
    writeOne(ev.filter(col("day") < replayBefore), s"$base/_b2", "2.parquet", 3000000L)
    base
  }

  /** Streaming exact dedup: the staged replay re-delivers batch-0 rows,
    * and `dropDuplicates(event_id)` must drop them — the streaming form
    * of q20's exact dedup. The deduped stream lands in a memory sink and
    * is summarized per user; the oracle is the ORIGINAL events table
    * (dedup must exactly undo the replay).
    */
  def streamDedupCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val deduped = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .dropDuplicates("event_id")
    val name = "s11_dd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(
      spark,
      name,
      spark
        .table(name)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id")
    )
  }

  private val dedupStageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage events as an ordered TWO-file stream where file 1 re-delivers
    * every day-`splitDay` row: duplicates of RECENT rows that are still
    * inside a 1-day dedup-state window when file 1 processes — the
    * contrast to `stageBatches`, whose batch-2 replays arrive far BEHIND
    * the watermark. Memoized per source dir.
    */
  private def stageDedupBatches(spark: SparkSession, dir: String): String =
    dedupStageCache.computeIfAbsent(
      dir,
      d => {
        val base = graft.ops.Scratch.scratchDir("graft_s17_").toString
        val ev = Tables
          .events(spark, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .withColumn("day", TimeCodec.dayInt(col("ts")))
        def writeOne(df: DataFrame, out: String, name: String, mtime: Long): Unit = {
          df.drop("day").coalesce(1).write.mode("overwrite").parquet(out)
          val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(s"$base/$name")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(mtime)
        }
        writeOne(ev.filter(col("day") <= splitDay), s"$base/_b0", "0.parquet", 1000000L)
        writeOne(
          ev.filter(col("day") > splitDay)
            .unionAll(ev.filter(col("day") === splitDay)),
          s"$base/_b1",
          "1.parquet",
          2000000L
        )
        base
      }
    )

  /** Streaming exact dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark` instead of s11's `dropDuplicates`.
    * s11's operator is the semantic form, but its key state grows with
    * the stream forever; this is the production form for an unbounded
    * stream: state is evicted once the watermark passes an event's time
    * plus the 1-day delay, so a year of stream holds a day of keys.
    *
    * The staging demonstrates the happy path: the file-1 replay
    * re-delivers day-`splitDay` rows while their originals' state is
    * still live (their event time is AHEAD of the post-batch-0
    * watermark), so every duplicate is dropped and the deduped stream
    * equals the original table — the oracle. The trade the bounded state
    * makes (pinned in StreamDedupBoundedSpec): a same-event-time replay
    * beyond the window is late-FILTERED like any stateful op's input, but
    * a duplicate KEY re-delivered with a FRESH event time after its
    * original's state expired passes through as a new row — the delay
    * must cover the real re-delivery horizon.
    */
  def streamDedupBoundedCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageDedupBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val deduped = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    val name = "s17_ddw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(
      spark,
      name,
      spark
        .table(name)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(TimeCodec.dayInt(col("ts"))).as("min_day"),
          max(TimeCodec.dayInt(col("ts"))).as("max_day")
        )
        .orderBy("user_id")
    )
  }

  private val docStageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `documents` as an ordered two-file stream (doc_id < 250, then
    * the rest) — memoized per source dir.
    */
  private[streaming] def stageDocBatches(spark: SparkSession, dir: String): String =
    docStageCache.computeIfAbsent(
      dir,
      d => {
        val base = graft.ops.Scratch.scratchDir("graft_s12_").toString
        val docs = Tables.parquet(spark, s"$d/documents.parquet")
        def writeOne(df: DataFrame, out: String, name: String, mtime: Long): Unit = {
          df.coalesce(1).write.mode("overwrite").parquet(out)
          val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(s"$base/$name")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(mtime)
        }
        writeOne(docs.filter(col("doc_id") < 250), s"$base/_b0", "0.parquet", 1000000L)
        writeOne(docs.filter(col("doc_id") >= 250), s"$base/_b1", "1.parquet", 2000000L)
        base
      }
    )

  /** Streaming near-dup clustering: a running aggregate keyed by the
    * content FINGERPRINT (q32's 1-permutation minhash over 3-word
    * shingles — the `graft_minhash` native kernel), maintained across
    * micro-batches by Structured Streaming's aggregation state. Each
    * fingerprint cluster carries its representative (min doc_id) and
    * size; complete mode settles the final table for the oracle — the
    * production path is update mode into an upserting sink keyed by fp.
    * Unlike s11's exact `dropDuplicates` (which keys on the full row id),
    * this dedups by CONTENT identity, so re-worded duplicates with fresh
    * doc_ids still cluster — the streaming form of q32+q20 composed.
    * Oracle: the identical group-by on the batch table (stream-batch
    * parity under AvailableNow).
    */
  def streamNearDupClusters(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageDocBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val fp = call_function("graft_minhash", split(col("text"), " "), lit(3), lit(""))
    val clusters = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$streamDir/*.parquet")
      .select(col("doc_id"), fp.as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_dups"))
    val name = "s12_nd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = clusters.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(spark, name, spark.table(name).orderBy("rep_doc"))
  }

  /** Watermarked day-window counts over the staged three-batch stream.
    * The memory sink only settles the demo's result for the oracle; in
    * production the same plan appends to a real sink (writeStream
    * .format("parquet")/.toTable with a checkpoint) — append mode emits
    * each window exactly once, when the watermark finalizes it, so no
    * dedup-on-read view is needed here.
    */
  def lateDataCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val counts = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), TimeCodec.dayInt(col("w.start")).as("day"), col("n_events"))
    val name = "s07_wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = counts.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(spark, name, spark.table(name).orderBy("user_id", "day"))
  }

  /** Streaming SESSION windows (s21) — the last Structured Streaming
    * window kind beside s07's tumbling windows: `session_window` under a
    * watermark runs the session-MERGING state path (MergingSessionsExec:
    * open sessions extend/merge as rows arrive; a session finalizes only
    * once the watermark passes its END = last event time + gap, because
    * until then one more row could still extend it). State per key is
    * bounded by the open sessions inside the watermark horizon — the gap
    * closes sessions, the watermark evicts them, so an unbounded stream
    * holds a bounded working set.
    *
    * Same three-batch staged replay as s07: batch 1 advances the
    * watermark past every batch-0 session, which emit exactly once
    * (append mode); batch 2's late replays are dropped before state —
    * if they weren't, re-opened sessions would re-emit and the counts
    * would double. The emitted set is therefore batch-expressible:
    * the q47 gaps-and-islands sessions over the ORIGINAL events whose
    * end is at or before the final watermark (max ts − 1 day) — which
    * is what the oracle computes.
    */
  def sessionWindowCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val sessions = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sv")
      )
      .select(
        col("user_id"),
        col("w.start").as("session_start"),
        col("n_events"),
        col("sv").cast("double").as("sum_value")
      )
    val name = "s21_sw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sessions.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(
      spark,
      name,
      spark.table(name).orderBy("user_id", "session_start")
    )
  }

  /** s28: CHAINED stateful operators in one streaming query —
    * `dropDuplicatesWithinWatermark` (bounded-state exact dedup, s17's
    * operator) feeding a 1-day windowed aggregate (s07's operator), the
    * multi-stateful-op pipeline Spark supports via watermark
    * propagation between operators. Both operators share the 24 h
    * watermark: the dedup drops the batch-2 replay (its rows are
    * beyond-watermark late), the window aggregate finalizes exactly the
    * days whose end passed the final watermark. The oracle is the SAME
    * SQL as s25's — so the hashes prove chained built-in operators ≡
    * timer-driven user code ≡ the batch census, three implementations
    * of one semantics.
    */
  def chainedDedupDailyCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val counts = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("user_id"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        TimeCodec.dayInt(col("window.start")).as("day"),
        col("n_events")
      )
    val name = "s28_chain_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = counts.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(
      spark,
      name,
      spark.table(name).orderBy("user_id", "day")
    )
  }

  /** UPDATE output mode (s23) — the third output mode beside the
    * suite's append (finalized-once) and complete (full re-emit)
    * demos: each micro-batch emits ONLY the aggregate rows that
    * changed, the natural mode for feeding a keyed serving store
    * (emission volume ∝ touched keys per trigger, not state size, and
    * no watermark wait for finalization). Two semantics are pinned by
    * summarizing the emission LOG the memory sink accumulates:
    * `n_emissions` per user counts the staged batches that touched the
    * user (an untouched key must NOT re-emit — that would be complete
    * mode), and `n_events_final` is the last emission (counts are
    * monotone, so max = final), which INCLUDES the batch-2 replay rows:
    * an unwatermarked stateful aggregate accepts arbitrarily late data
    * — the contrast with s07, where the same replay is dropped.
    */
  def updateModeCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val streamDir = stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val counts = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val name = "s23_um_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = counts.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(
      spark,
      name,
      spark
        .table(name)
        .groupBy(col("user_id"))
        .agg(
          max(col("n_events")).as("n_events_final"),
          count(lit(1)).as("n_emissions")
        )
        .orderBy("user_id")
    )
  }
}
