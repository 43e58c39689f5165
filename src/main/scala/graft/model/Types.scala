package graft.model

/** Data model mirroring the reference's bar/feature row types.
  *
  * Reference: `FeatureEngineering/BaseBar.cs:3-14` — a mutable struct of one
  * OHLCV bar plus the two pre-computed EMAs the host indicators provide.
  * Time is an `int` HHmmss code, Day an `int` yyyyMMdd code (see
  * `graft.ops.TimeCodec`).
  */
final case class BaseBar(
    time: Long,
    day: Long,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Double,
    movingAverage: Double,
    slowMovingAverage: Double
)

/** Enriched output row — reference `FeatureEngineering/FeaturesBar.cs:3-51`:
  * the 7 bar fields plus 7 derived `F_*` feature doubles. Field names keep
  * the reference's PascalCase because the reference's dynamic-schema sink
  * derives column names from property names (`DatabaseWriter.cs:222-225`)
  * and sorts them ordinally; this case class reproduces that surface.
  */
final case class FeaturesBar(
    Close: Double,
    Day: Long,
    F_CloseLocationValue: Double,
    F_MovingAverageAutocorrelation: Double,
    F_MovingAverageDistance: Double,
    F_MovingAverageSlope: Double,
    F_MovingAverageSlowAutocorrelation: Double,
    F_MovingAverageSlowDistance: Double,
    F_OpenLocationValue: Double,
    High: Double,
    Low: Double,
    Open: Double,
    Time: Long,
    Volume: Double
)

/** The engine's keyed features output row: `FeaturesBar` plus the series
  * key — the shape `pipeline.Features.featuresFull` and the streaming
  * analog (`streaming.StreamFeatures`) both produce.
  */
final case class FeaturesRow(
    user_id: Long,
    Close: Double,
    Day: Long,
    F_CloseLocationValue: Double,
    F_MovingAverageAutocorrelation: Double,
    F_MovingAverageDistance: Double,
    F_MovingAverageSlope: Double,
    F_MovingAverageSlowAutocorrelation: Double,
    F_MovingAverageSlowDistance: Double,
    F_OpenLocationValue: Double,
    High: Double,
    Low: Double,
    Open: Double,
    Time: Long,
    Volume: Double
)

/** Pipeline knobs — reference `FeaturesBarConfig.cs:3-9` +
  * `StrategyAnalyzerExporter.cs:86,96-97,124-125` defaults.
  *
  * `barsRequiredToTrade`: warm-up row count before features are emitted
  * (`FeaturesBarService.cs:44`); the trailing buffers hold
  * barsRequiredToTrade + 1 bars. `lookbackFast`/`lookbackSlow`: the two EMA
  * periods, run uncapped from series start like the reference's indicators
  * (`StrategyAnalyzerExporter.cs:138-139`).
  * `tolerance`: the guard epsilon used by every feature function
  * (`Common.cs:14,29`, `Price.cs:24,32`, `MovingAverage.cs:35`).
  */
final case class FeaturesConfig(
    barsRequiredToTrade: Int = 20,
    lookbackFast: Int = 9,
    lookbackSlow: Int = 21,
    tolerance: Double = 1e-6,
    timeStart: Int = 90000,
    timeEnd: Int = 155500
)
