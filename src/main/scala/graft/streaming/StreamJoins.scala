package graft.streaming

import graft.ops.{Tables, TimeCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermarked STREAM-STREAM join — the one Structured Streaming join
  * shape the reference cannot express at all (its host is a single
  * in-order bar feed; SURVEY.md §2.2). Two independent file streams over
  * the same staged three-batch replay (`Watermarks.stageBatches`) are
  * joined with an equality key plus a time-range condition — the form
  * Spark requires so BOTH sides' state can be evicted by watermark
  * instead of growing with the stream.
  *
  * Semantics demonstrated, all load-bearing at scale:
  *   - alert stream (rare `value > AlertThreshold` rows) ⋈ tick stream
  *     within `[alert.ts, alert.ts + JoinRangeHours]` per user — the
  *     "what followed each spike" enrichment;
  *   - state eviction: the time-range condition bounds each side's
  *     buffered state to the range window, so a year-long stream holds
  *     hours, not the year;
  *   - late-data discipline: the staged batch-2 replay re-delivers
  *     batch-0 rows far behind the watermark; the join must DROP them on
  *     input (both sides) — if it re-matched them, every early pair would
  *     duplicate and the oracle hash would diverge (same honesty pattern
  *     as s07/s11: the oracle is the batch join over the ORIGINAL table).
  */
object StreamJoins {

  /** Rare-tail alert threshold (events.value p99 ≈ 214–228 at every
    * fixture SF, so 250 keeps alerts <1% of rows at any scale).
    */
  val AlertThreshold = 250.0

  /** Enrichment range: ticks within this many hours AFTER the alert. */
  val JoinRangeHours = 12

  /** Per-user alert-enrichment summary via a watermarked stream-stream
    * inner join, settled from a memory sink. Output per user with ≥1
    * alert: alert count, joined-pair count, and the day of the last
    * matched tick — integer-exact facets the batch oracle mirrors.
    */
  def alertEnrichment(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    def src(): DataFrame = Tables.normalizeEvents(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
    )
    val alerts = src()
      .filter(col("value") > lit(AlertThreshold))
      .select(
        col("event_id").as("a_event_id"),
        col("user_id").as("a_user_id"),
        col("ts").as("a_ts")
      )
      .withWatermark("a_ts", "1 day")
    val ticks = src()
      .select(
        col("event_id").as("t_event_id"),
        col("user_id").as("t_user_id"),
        col("ts").as("t_ts")
      )
      .withWatermark("t_ts", "1 day")
    val joined = ticks.join(
      alerts,
      expr(
        s"""t_user_id = a_user_id AND
           |t_ts >= a_ts AND t_ts <= a_ts + INTERVAL $JoinRangeHours HOURS""".stripMargin
      )
    )
    val name = "s16_ssj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val summary = spark
      .table(name)
      .groupBy(col("a_user_id").as("user_id"))
      .agg(
        countDistinct(col("a_event_id")).as("n_alerts"),
        count(lit(1)).as("n_pairs"),
        max(TimeCodec.dayInt(col("t_ts"))).as("last_tick_day")
      )
      .orderBy("user_id")
    StreamSessions.settleLocal(spark, name, summary)
  }

  /** "Calm" ticks for the OUTER join (s27): a filtered tick subset so
    * unmatched alerts genuinely exist (in s16 every alert matches itself
    * — the tick side is unfiltered).
    */
  val CalmThreshold = 50.0

  /** s27's observed join-state row counts (peak across batches / final),
    * captured from progress metrics so StateBoundSpec can ASSERT the
    * range-condition state bound instead of trusting the scaladoc. The
    * symmetric hash join keeps four stores (two per side); numRowsTotal
    * counts them all.
    */
  val s27PeakStateRows = new java.util.concurrent.atomic.AtomicLong(-1L)
  val s27FinalStateRows = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** s27: watermarked stream-stream LEFT OUTER join — the append-mode
    * semantics s16's inner join cannot show: an alert followed by NO
    * calm tick within the range window must still emit, null-padded,
    * and it emits only at STATE EVICTION (when the watermark proves no
    * future match is possible: wm > alert ts + range). Alerts still
    * inside that horizon at stream end stay in state and never emit a
    * null row — the oracle mirrors exactly that finalization cut. The
    * watermark itself is the MULTI-WATERMARK MIN: each side's max event
    * time is tracked over its FILTERED rows, and the global wm is the
    * lesser minus the 1-day delay (max(ts) over all events is wrong
    * whenever the newest event matches neither filter — the round-10
    * testdata regeneration exposed exactly that). Matched pairs emit
    * immediately and are mirrored unconditionally. Late batch-2 replays
    * drop on input on both sides, as in s16.
    */
  def alertOuterEnrichment(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    def src(): DataFrame = Tables.normalizeEvents(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
    )
    val alerts = src()
      .filter(col("value") > lit(AlertThreshold))
      .select(
        col("event_id").as("a_event_id"),
        col("user_id").as("a_user_id"),
        col("ts").as("a_ts")
      )
      .withWatermark("a_ts", "1 day")
    val calm = src()
      .filter(col("value") < lit(CalmThreshold))
      .select(
        col("event_id").as("t_event_id"),
        col("user_id").as("t_user_id"),
        col("ts").as("t_ts")
      )
      .withWatermark("t_ts", "1 day")
    val joined = alerts.join(
      calm,
      expr(
        s"""a_user_id = t_user_id AND
           |t_ts > a_ts AND t_ts <= a_ts + INTERVAL $JoinRangeHours HOURS""".stripMargin
      ),
      "leftOuter"
    )
    val name = "s27_soj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
    if (stateRows.nonEmpty) {
      s27PeakStateRows.set(stateRows.max)
      s27FinalStateRows.set(stateRows.last)
    }
    val summary = spark
      .table(name)
      .groupBy(col("a_user_id").as("user_id"))
      .agg(
        count(when(col("t_event_id").isNotNull, lit(1))).as("n_pairs"),
        count(when(col("t_event_id").isNull, lit(1))).as("n_unmatched"),
        max(when(col("t_event_id").isNotNull, TimeCodec.dayInt(col("t_ts"))))
          .as("last_matched_day")
      )
      .orderBy("user_id")
    StreamSessions.settleLocal(spark, name, summary)
  }

  /** s31: watermarked stream-stream FULL OUTER join — the last member of
    * the stream-join family (inner s16, left-outer s27). Both sides can
    * now finalize unmatched: an alert with no calm tick in its forward
    * range emits null-padded when the watermark passes `a_ts + range`
    * (s27's rule), and a calm tick with no alert in its BACKWARD range
    * emits null-padded when the watermark passes `t_ts` alone: from
    * `t_ts > a_ts` Spark derives the tick side's state watermark as wm
    * itself — a tick only matches alerts strictly before it, so once
    * `wm > t_ts` no future alert can pair with it. Verified by exact
    * unmatched-id-set equality against the engine's raw join output
    * (round 10; the span-subtracted `wm − range` cut the old testdata
    * could not distinguish under-finalizes and fails the hash). The
    * watermark is the multi-watermark min over the two FILTERED sides
    * (see alertOuterEnrichment). Rows still inside their horizon at
    * stream end never emit a null row; the oracle mirrors both
    * finalization cuts. State on both sides stays range-bounded exactly
    * as s16/s27 (measured in StateBoundSpec for s27's identical
    * condition).
    */
  def alertFullOuterEnrichment(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    def src(): DataFrame = Tables.normalizeEvents(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
    )
    val alerts = src()
      .filter(col("value") > lit(AlertThreshold))
      .select(
        col("event_id").as("a_event_id"),
        col("user_id").as("a_user_id"),
        col("ts").as("a_ts")
      )
      .withWatermark("a_ts", "1 day")
    val calm = src()
      .filter(col("value") < lit(CalmThreshold))
      .select(
        col("event_id").as("t_event_id"),
        col("user_id").as("t_user_id"),
        col("ts").as("t_ts")
      )
      .withWatermark("t_ts", "1 day")
    val joined = alerts.join(
      calm,
      expr(
        s"""a_user_id = t_user_id AND
           |t_ts > a_ts AND t_ts <= a_ts + INTERVAL $JoinRangeHours HOURS""".stripMargin
      ),
      "fullOuter"
    )
    val name = "s31_sfj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val summary = spark
      .table(name)
      .groupBy(coalesce(col("a_user_id"), col("t_user_id")).as("user_id"))
      .agg(
        count(when(col("a_event_id").isNotNull && col("t_event_id").isNotNull, lit(1)))
          .as("n_pairs"),
        count(when(col("t_event_id").isNull, lit(1))).as("n_unmatched_alerts"),
        count(when(col("a_event_id").isNull, lit(1))).as("n_unmatched_calm"),
        max(when(col("a_event_id").isNotNull && col("t_event_id").isNotNull,
          TimeCodec.dayInt(col("t_ts")))).as("last_matched_day")
      )
      .orderBy("user_id")
    StreamSessions.settleLocal(spark, name, summary)
  }
}
