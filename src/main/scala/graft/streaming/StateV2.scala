package graft.streaming

import graft.ops.{Tables, TimeCodec}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo,
  MapState,
  OutputMode,
  StatefulProcessor,
  StatefulProcessorWithInitialState,
  TimeMode,
  TimerValues,
  Trigger,
  TTLConfig,
  ValueState
}

/** Input/output rows of the s24 stateful processor. */
case class StateV2Ev(event_id: Long, user_id: Long, day: Long)
case class StateV2Out(user_id: Long, n_events: Long, n_days: Long)

/** Per-user running stats on the arbitrary-state v2 API: a ValueState
  * running event count beside a MapState distinct-day registry. The two
  * state shapes diverge observably on the staged replay (batch 2
  * re-delivers old rows): the COUNT grows — an unwatermarked processor
  * accepts arbitrarily late input — while the day SET is idempotent, so
  * `n_days` is unchanged. One emission per touched key per micro-batch.
  */
class RunningStatsProcessor extends StatefulProcessor[Long, StateV2Ev, StateV2Out] {

  @transient private var nEvents: ValueState[Long] = _
  @transient private var days: MapState[Long, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // TTLConfig.NONE: demo state lives for the query; a production
    // deployment bounds per-key state by TTL instead (the API's native
    // answer to s17's watermark-evicted dedup state).
    nEvents = getHandle.getValueState("n_events", Encoders.scalaLong, TTLConfig.NONE)
    days = getHandle
      .getMapState("days", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[StateV2Ev],
      timerValues: TimerValues
  ): Iterator[StateV2Out] = {
    var n = if (nEvents.exists()) nEvents.get() else 0L
    rows.foreach { r =>
      n += 1
      if (!days.containsKey(r.day)) days.updateValue(r.day, true)
    }
    nEvents.update(n)
    Iterator.single(StateV2Out(key, n, days.keys().size.toLong))
  }
}

/** Initial-state row of the s26 bootstrapped processor. */
case class S26Init(user_id: Long, n0: Long)

/** Per-user running count whose state is BOOTSTRAPPED from a batch
  * aggregate (s26): `handleInitialState` seeds the ValueState before
  * the first micro-batch, then the stream increments it — the
  * batch→streaming migration path: stand up a stateful stream against
  * an existing corpus without replaying history through the stream.
  */
class BootstrappedCountProcessor
    extends StatefulProcessorWithInitialState[Long, StateV2Ev, StateV2Out, S26Init] {

  @transient private var nEvents: ValueState[Long] = _
  @transient private var days: MapState[Long, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    nEvents = getHandle.getValueState("n_events", Encoders.scalaLong, TTLConfig.NONE)
    days = getHandle
      .getMapState("days", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInitialState(key: Long, initialState: S26Init, timerValues: TimerValues): Unit =
    nEvents.update(initialState.n0) // seed only — no emission for bootstrap

  override def handleInputRows(
      key: Long,
      rows: Iterator[StateV2Ev],
      timerValues: TimerValues
  ): Iterator[StateV2Out] = {
    var n = if (nEvents.exists()) nEvents.get() else 0L
    rows.foreach { r =>
      n += 1
      if (!days.containsKey(r.day)) days.updateValue(r.day, true)
    }
    nEvents.update(n)
    Iterator.single(StateV2Out(key, n, days.keys().size.toLong))
  }
}

/** Input/output rows of the s25 timer processor. */
case class S25Ev(user_id: Long, ts: java.sql.Timestamp, eday: Long)
case class S25Out(user_id: Long, day: Long, n_events: Long)

/** Daily-count finalization driven by EVENT-TIME TIMERS (s25) — the
  * user-code re-implementation of what s07 gets from the built-in
  * windowed aggregate + watermark: per-(user, day) counts accumulate in
  * a MapState, each first-seen day registers a timer at its day end,
  * and the count is EMITTED (append semantics) only when the watermark
  * passes that boundary — `handleExpiredTimer` fires, emits the
  * finalized row, and evicts the day's state. Late rows are guarded
  * against the current watermark explicitly in user code, so the
  * replayed batch can never re-open an already-finalized day regardless
  * of engine-level late-row filtering. Days still open when the replay
  * ends (inside the watermark delay of the corpus tail) are never
  * emitted — exactly s07's open-window semantics.
  */
class DailyFinalizeProcessor extends StatefulProcessor[Long, S25Ev, S25Out] {

  @transient private var days: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    days = getHandle.getMapState("days", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[S25Ev],
      timerValues: TimerValues
  ): Iterator[S25Out] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    rows.foreach { r =>
      if (r.ts.getTime >= wm) { // explicit late-data guard (deterministic)
        if (!days.containsKey(r.eday)) {
          getHandle.registerTimer((r.eday + 1L) * 86400000L)
          days.updateValue(r.eday, 1L)
        } else days.updateValue(r.eday, days.getValue(r.eday) + 1L)
      }
    }
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo
  ): Iterator[S25Out] = {
    val eday = expiredTimerInfo.getExpiryTimeInMs() / 86400000L - 1L
    if (days.containsKey(eday)) {
      val n = days.getValue(eday)
      days.removeKey(eday)
      val d = java.time.LocalDate.ofEpochDay(eday)
      Iterator.single(
        S25Out(key, d.getYear.toLong * 10000L + d.getMonthValue * 100L + d.getDayOfMonth, n)
      )
    } else Iterator.empty
  }
}

/** s24: the `transformWithState` arbitrary-state API (state API v2) —
  * the successor to s04's `flatMapGroupsWithState`, completing the
  * custom-state family. What the v1 API cannot express, pinned here:
  * MULTIPLE independently-typed state variables per key (a ValueState
  * counter beside a MapState day registry, each its own column family in
  * the store) instead of one monolithic case-class blob rewritten per
  * row. Requires the RocksDB state-store provider (column families),
  * set on the isolated sibling session only.
  *
  * The staged three-batch replay (Watermarks.stageBatches) drives the
  * semantics the oracle pins per user: `n_events_final` INCLUDES the
  * batch-2 replay (no watermark → late rows accepted; s07's contrast),
  * `n_days_final` does NOT change on replay (the MapState registry is
  * idempotent — replayed days are already present), and `n_emissions`
  * counts exactly the micro-batches that touched the user (the
  * processor emits only for keys with input rows — update-mode
  * semantics, s23's shape, here from user code).
  */
object StateV2 {

  /** s25's observed state-store row counts (peak across batches / final
    * batch), captured from the query's progress metrics so a spec can
    * ASSERT the boundedness + eviction claims instead of trusting the
    * scaladoc: peak ≤ users × day-span (state is open (user, day)
    * pairs, never corpus rows), final < peak (timers evicted).
    */
  val s25PeakStateRows = new java.util.concurrent.atomic.AtomicLong(-1L)
  val s25FinalStateRows = new java.util.concurrent.atomic.AtomicLong(-1L)

  def transformWithStateCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    import spark.implicits._
    val evs = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .select(
        col("event_id"),
        col("user_id"),
        TimeCodec.dayInt(col("ts")).as("day")
      )
      .as[StateV2Ev]
    val out = evs
      .groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
    val name = "s24_tws_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out
      .toDF()
      .writeStream
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
          max(col("n_days")).as("n_days_final"),
          count(lit(1)).as("n_emissions")
        )
        .orderBy("user_id")
    )
  }

  /** s25: event-time TIMERS on the v2 API (DailyFinalizeProcessor
    * scaladoc) — TimeMode.EventTime over the staged replay with a
    * 24-hour watermark. The oracle is the BATCH daily census restricted
    * to finalized days (day end ≤ final watermark = max event time −
    * 24 h), with the replayed slice contributing nothing — the hash
    * proves timer-driven finalize ≡ window+watermark finalize.
    */
  def timerFinalizedDailyCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    import spark.implicits._
    val evs = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$streamDir/*.parquet")
      )
      .withWatermark("ts", "24 hours")
      .select(
        col("user_id"),
        col("ts"),
        floor(col("ts").cast("long") / 86400L).cast("long").as("eday")
      )
      .as[S25Ev]
    val out = evs
      .groupByKey(_.user_id)
      .transformWithState(new DailyFinalizeProcessor, TimeMode.EventTime(), OutputMode.Append())
    val name = "s25_timer_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out
      .toDF()
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
    if (stateRows.nonEmpty) {
      s25PeakStateRows.set(stateRows.max)
      s25FinalStateRows.set(stateRows.last)
    }
    StreamSessions.settleLocal(
      spark,
      name,
      spark.table(name).orderBy("user_id", "day")
    )
  }

  /** s26: `transformWithState` with INITIAL STATE — the batch→streaming
    * migration path (BootstrappedCountProcessor scaladoc). The batch-0
    * slice never flows through the stream: a BATCH aggregate over it
    * seeds each user's counter via `handleInitialState`, and the stream
    * delivers only the remaining two files. The oracle pins the
    * asymmetry that proves the bootstrap happened: `n_events_final`
    * equals the full corpus count (+replay) — the seed carries batch
    * 0's contribution — while `n_days_final` counts ONLY streamed days
    * (the MapState registry was never seeded), and emissions start at
    * the first streamed batch.
    */
  def bootstrappedCounts(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    import spark.implicits._
    val initState = Tables
      .normalizeEvents(spark.read.schema(schema).parquet(s"$streamDir/0.parquet"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n0"))
      .as[S26Init]
      .groupByKey(_.user_id)
    val evs = Tables
      .normalizeEvents(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("basePath", streamDir)
          .parquet(s"$streamDir/{1,2}.parquet")
      )
      .select(
        col("event_id"),
        col("user_id"),
        TimeCodec.dayInt(col("ts")).as("day")
      )
      .as[StateV2Ev]
    val out = evs
      .groupByKey(_.user_id)
      .transformWithState(
        new BootstrappedCountProcessor,
        TimeMode.None(),
        OutputMode.Update(),
        initState
      )
    val name = "s26_boot_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out
      .toDF()
      .writeStream
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
          max(col("n_days")).as("n_days_final"),
          count(lit(1)).as("n_emissions")
        )
        .orderBy("user_id")
    )
  }
}
