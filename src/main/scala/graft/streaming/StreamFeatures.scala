package graft.streaming

import graft.functions.FeatureKernel
import graft.model.{FeaturesConfig, FeaturesRow}
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Stateful streaming feature pipeline — the `flatMapGroupsWithState`
  * re-expression of the reference's per-bar service
  * (`FeaturesBarService.cs:22-55` + ring buffers `CircularBuffer.cs:
  * 30-52`): state per series holds the open day-bar, the two running
  * EMAs and two ≤21-EMA buffers for the trailing feature frame, exactly
  * the reference's bounded-memory design.
  *
  * The EMA step and the autocorrelation loop are the batch aggregate's
  * own (`functions.FeatureKernel`); the scalar features replicate the
  * batch Catalyst expressions operation-for-operation (same guard order,
  * same rounding), so the streaming output is bit-identical
  * to `pipeline.Features.featuresFull` — and therefore to the DuckDB
  * oracle (the driver checks s04 against the same SQL as q18).
  *
  * The bar for a series' newest (still-open) day is emitted provisionally
  * at the end of each micro-batch WITHOUT committing it to state, so a
  * later batch extending that day re-derives it correctly; under
  * Trigger.AvailableNow with a single batch this yields exact batch
  * parity including the final day.
  */
object StreamFeatures {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Series state: open-bar accumulators, O(1) running EMAs, and the two
    * bounded ≤21-value feature buffers (the reference's ring-buffer
    * memory model).
    */
  case class SeriesState(
      curDay: Long,
      open: Double,
      high: Double,
      low: Double,
      close: Double,
      volume: Long,
      lastTime: Long,
      runFast: Double,
      runSlow: Double,
      emaInit: Boolean,
      emaF: Seq[Double],
      emaS: Seq[Double],
      barCount: Int
  )

  private val empty =
    SeriesState(0L, 0, 0, 0, 0, 0, 0, 0.0, 0.0, emaInit = false, Vector.empty, Vector.empty, 0)

  // ---- exact mirrors of the batch Column expressions (ops.FeatureOps) —
  // identical operation order, hence identical doubles.

  private def maDist(close: Double, ma: Double, tol: Double): Double =
    if (ma.isNaN || close.isNaN || ma.isInfinite || close.isInfinite || math.abs(ma) < tol) 0.0
    else (close - ma) / ma * 100.0

  private def slopePct(first: Double, last: Double, n: Int, tol: Double): Double =
    if (n < 2 || math.abs(first) < tol) 0.0 else (last - first) / first * 100.0

  private def clv(c: Double, h: Double, l: Double, tol: Double): Double =
    if (h - l < tol) 0.0 else (2.0 * c - h - l) / (h - l)

  private def olv(o: Double, h: Double, l: Double, tol: Double): Double =
    if (h - l < tol) 0.0 else (2.0 * o - h - l) / (h - l)

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def dayOf(ts: java.sql.Timestamp): Long = {
    val d = java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)
    d.getYear * 10000L + d.getMonthValue * 100L + d.getDayOfMonth
  }
  private def timeOf(ts: java.sql.Timestamp): Long = {
    val d = java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)
    d.getHour * 10000L + d.getMinute * 100L + d.getSecond
  }

  /** Close the open bar: commit it to the fold buffers and, past warm-up,
    * emit the features row. Mirrors FeaturesBarService.GetFeaturesBar
    * (add to buffers, null until count ≥ barsRequiredToTrade).
    */
  private def finalizeBar(
      userId: Long,
      st: SeriesState,
      cfg: FeaturesConfig
  ): (SeriesState, Option[FeaturesRow]) = {
    def ema(prev: Double, period: Int) =
      if (st.emaInit) FeatureKernel.emaStep(prev, st.close, FeatureKernel.emaK(period)) else st.close
    def autocorr1(buf: Seq[Double]) = FeatureKernel.autocorr1(buf.toArray, 0, buf.length, cfg.tolerance)
    val ef = ema(st.runFast, cfg.lookbackFast)
    val es = ema(st.runSlow, cfg.lookbackSlow)
    val bufF = (st.emaF :+ ef).takeRight(cfg.barsRequiredToTrade + 1)
    val bufS = (st.emaS :+ es).takeRight(cfg.barsRequiredToTrade + 1)
    val n = st.barCount + 1
    val row =
      if (n >= cfg.barsRequiredToTrade)
        Some(
          FeaturesRow(
            user_id = userId,
            Close = st.close,
            Day = st.curDay,
            F_CloseLocationValue = r6(clv(st.close, st.high, st.low, cfg.tolerance)),
            F_MovingAverageAutocorrelation = r6(autocorr1(bufF)),
            F_MovingAverageDistance = r6(maDist(st.close, ef, cfg.tolerance)),
            F_MovingAverageSlope = r6(slopePct(bufF.head, ef, bufF.length, cfg.tolerance)),
            F_MovingAverageSlowAutocorrelation = r6(autocorr1(bufS)),
            F_MovingAverageSlowDistance = r6(maDist(st.close, es, cfg.tolerance)),
            F_OpenLocationValue = r6(olv(st.open, st.high, st.low, cfg.tolerance)),
            High = st.high,
            Low = st.low,
            Open = st.open,
            Time = st.lastTime,
            Volume = st.volume.toDouble
          )
        )
      else None
    (
      st.copy(runFast = ef, runSlow = es, emaInit = true, emaF = bufF, emaS = bufS, barCount = n),
      row
    )
  }

  private def startBar(st: SeriesState, day: Long, time: Long, v: Double): SeriesState =
    st.copy(curDay = day, open = v, high = v, low = v, close = v, volume = 1L, lastTime = time)

  private def updateBar(st: SeriesState, time: Long, v: Double): SeriesState =
    st.copy(
      high = math.max(st.high, v),
      low = math.min(st.low, v),
      close = v,
      volume = st.volume + 1,
      lastTime = time
    )

  private def processGroup(cfg: FeaturesConfig)(
      userId: Long,
      events: Iterator[Ev],
      state: GroupState[SeriesState]
  ): Iterator[FeaturesRow] = {
    val evs = events.toVector.sortBy(_.ts.getTime)
    var st = state.getOption.getOrElse(empty)
    val out = Vector.newBuilder[FeaturesRow]
    evs.foreach { e =>
      val d = dayOf(e.ts); val t = timeOf(e.ts)
      if (st.curDay == 0L) st = startBar(st, d, t, e.value)
      else if (d == st.curDay) st = updateBar(st, t, e.value)
      else {
        val (st2, row) = finalizeBar(userId, st, cfg)
        row.foreach(out += _)
        st = startBar(st2, d, t, e.value)
      }
    }
    state.update(st)
    // provisional emit of the still-open day (not committed to state)
    if (st.curDay != 0L) finalizeBar(userId, st, cfg)._2.foreach(out += _)
    out.result().iterator
  }

  /** Run the streaming feature pipeline over a parquet events path to
    * completion; returns the settled rows in (user_id, Day) order.
    *
    * Multi-batch convergence: a file ending MID-day makes that batch's
    * provisional row for the open day a partial bar; the next batch
    * appends the corrected row, and append mode cannot retract the stale
    * one. The settled view therefore deduplicates on read, keyed by
    * (user_id, Day), keeping the max-Volume row: Volume is the day's
    * event count, so a later (more complete) emission of the same day
    * always carries strictly greater Volume, and equal-Volume duplicates
    * (a batch boundary landing exactly on a day boundary) are bit-exact
    * copies. This is the standard compaction view over an append log —
    * at scale the same window runs over the sink table partitioned by
    * key, matching the reference's ordered single-threaded replay
    * (`StrategyAnalyzerExporter.cs:179-182`) without requiring
    * day-aligned input files. Production sinks follow the same pattern:
    * stream append (foreachBatch / toTable) + this dedup-on-read view.
    */
  def runFeatures(
      session: SparkSession,
      eventsPath: String,
      cfg: FeaturesConfig = FeaturesConfig(),
      maxFilesPerTrigger: Option[Int] = None,
      fileGlob: String = "events*.parquet"
  ): DataFrame = {
    val spark = StreamSessions.tuned(session)
    import spark.implicits._
    val schema = Tables.parquet(spark, eventsPath).schema
    val baseDir = java.nio.file.Paths.get(eventsPath).getParent.toString
    val reader = spark.readStream.schema(schema).option("basePath", baseDir)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val evs = Tables
      .normalizeEvents(reader.parquet(s"$baseDir/$fileGlob"))
      .select("user_id", "ts", "value")
      .as[Ev]
    val rows = evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeriesState, FeaturesRow](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      )(processGroup(cfg))
    val name = "s04_feat_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = rows.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(spark, name, settle(spark.table(name)).orderBy("user_id", "Day"))
  }

  /** Dedup-on-read compaction of the appended feature rows: one row per
    * (user_id, Day), the max-Volume (most complete) emission winning.
    * Ties are bit-exact duplicates, so any deterministic tie-break works.
    */
  def settle(appended: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window
      .partitionBy(col("user_id"), col("Day"))
      .orderBy(col("Volume").desc, col("Time").desc)
    appended
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
