package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Bar formation and the per-series window spec of the feature pipeline.
  *
  * The reference receives already-formed bars from its host (one
  * `OnBarUpdate` callback per closed bar, `StrategyAnalyzerExporter.cs:
  * 179-182`); bar formation is upstream. Our engine forms bars from the
  * `events` stream table (`user_id` ↔ instrument series, `ts` ↔ time,
  * `value` ↔ price — SURVEY.md §2.3) with a tumbling calendar-day window:
  * the test events are sparse (~2.5/user/day), so day grain is the finest
  * that yields multi-event bars and enough bars per series for the 20-bar
  * warm-up (SURVEY.md §2.4 grain adaptation).
  *
  * Scale note: the groupBy combines map-side, then shuffles once. Alone it
  * hashes on (user_id, day); under a per-series window it hashes on user_id,
  * the window's key (`functions.ClusteredAggregate`). AQE handles
  * per-series skew.
  */
object BarOps {

  /** Tumbling day bars per series. open/close via min_by/max_by on ts
    * (deterministic: ts is unique per user in the test tables; real feeds
    * would tie-break on a sequence column).
    *
    * Output: user_id, day (yyyyMMdd), time (HHmmss of last event), open,
    * high, low, close, volume(count).
    */
  def dayBars(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy($"user_id", TimeCodec.dayInt($"ts").as("day"))
      .agg(
        TimeCodec.timeInt(max($"ts")).as("time"),
        min_by($"value", $"ts").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", $"ts").as("close"),
        count(lit(1)).as("volume")
      )
  }

  /** Per-series bar ordering. The feature pipeline evaluates `row_number`
    * and its `graft_trailing` running-frame aggregate over this spec in one
    * WindowExec, which reuses the day-bar aggregate's hash exchange on
    * user_id (`functions.ClusteredAggregate`): one Exchange + Sort for the
    * whole feature stage.
    */
  def wSeries: WindowSpec = Window.partitionBy("user_id").orderBy("day")
}
