package graft.pipeline

import graft.model.FeaturesConfig
import graft.ops.{BarOps, FeatureOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship feature pipeline — the Spark-native re-expression of the
  * reference's per-bar dataflow (`OnBarUpdate` → `FeaturesBarService` →
  * `FeaturesBarCreator`, SURVEY.md §3.2):
  *
  *   events → day bars (O1/O2) → one running window pass: EMA9/EMA21 (O7)
  *   and the trailing-21 buffers (O5/O6) → 7 `F_*` features (O8-O13) →
  *   warm-up filter (O3) → 14-column ordinal-sorted output (O20 schema
  *   discipline).
  *
  * One declarative plan and one shuffle: Catalyst prunes the parquet scan
  * to the three used columns; the day-bar aggregate combines map-side and
  * its final half rides the window's hash exchange on user_id
  * (`functions.ClusteredAggregate`); `row_number` and the `graft_trailing`
  * running-frame aggregate share one WindowExec — the reference's single
  * step per closed bar (`FeaturesBarService.cs:22-55`); every feature
  * expression above it is whole-stage codegen'd.
  */
object Features {

  /** Bars, both EMAs, the warm-up row number and the `graft_trailing`
    * struct `run`: the one window pass every output below projects. The
    * EMAs run from partition start, not day-reset — like the reference's
    * indicators on the raw series (`StrategyAnalyzerExporter.cs:138-139`,
    * deviation note SURVEY.md §2.4.3). Oracle mirror: `OracleSql.featCte`.
    */
  private def running(events: DataFrame, cfg: FeaturesConfig): DataFrame = {
    val bars = BarOps.dayBars(events)
    val run = call_function("graft_trailing", col("close"), lit(cfg.lookbackFast), lit(cfg.lookbackSlow),
      lit(cfg.barsRequiredToTrade + 1), lit(cfg.tolerance))
    val wRun = BarOps.wSeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .select(col("*"), run.over(wRun).as("run"), row_number().over(BarOps.wSeries).as("rn"))
      .select(bars.columns.map(col).toIndexedSeq ++
        Seq(col("run.ema_fast").as("ema_fast"), col("run.ema_slow").as("ema_slow"), col("rn"), col("run")): _*)
  }

  /** Bars + both EMAs. */
  def barsWithEma(events: DataFrame, cfg: FeaturesConfig = FeaturesConfig()): DataFrame =
    running(events, cfg).drop("rn", "run")

  /** Full enriched frame: every bar column, both EMAs, all seven features,
    * and the warm-up row number. Downstream queries filter/project. One
    * `select`, so the analyzer runs over the plan once, not once per column.
    */
  def enriched(events: DataFrame, cfg: FeaturesConfig = FeaturesConfig()): DataFrame = {
    val tol = cfg.tolerance
    val r = running(events, cfg)
    r.select(r.columns.filter(_ != "run").map(col).toIndexedSeq ++ Seq(
      FeatureOps.clv(col("close"), col("high"), col("low"), tol).as("f_clv"),
      FeatureOps.olv(col("open"), col("high"), col("low"), tol).as("f_olv"),
      FeatureOps.maDistance(col("close"), col("ema_fast"), tol).as("f_ma_dist"),
      FeatureOps.maDistance(col("close"), col("ema_slow"), tol).as("f_ma_dist_slow"),
      FeatureOps.slopePct(col("run.ma_first"), col("ema_fast"), col("run.wn"), tol).as("f_ma_slope"),
      col("run.ac_fast").as("f_ma_ac"),
      col("run.ac_slow").as("f_ma_ac_slow")): _*)
  }

  /** The `FeaturesBar` output in the reference's dynamic-schema column
    * order (ordinal sort of property names, `DatabaseWriter.cs:222-225`),
    * doubles rounded to 6 decimals for oracle parity. Warm-up: emit once
    * the per-series buffer holds ≥ barsRequiredToTrade rows
    * (`FeaturesBarService.cs:44`).
    */
  def featuresFull(
      events: DataFrame,
      cfg: FeaturesConfig = FeaturesConfig(),
      ordered: Boolean = true
  ): DataFrame = {
    def r6(c: String) = FeatureOps.r6(col(c))
    val out = enriched(events, cfg)
      .filter(col("rn") >= cfg.barsRequiredToTrade)
      .select(
        col("user_id"),
        col("close").as("Close"),
        col("day").as("Day"),
        r6("f_clv").as("F_CloseLocationValue"),
        r6("f_ma_ac").as("F_MovingAverageAutocorrelation"),
        r6("f_ma_dist").as("F_MovingAverageDistance"),
        r6("f_ma_slope").as("F_MovingAverageSlope"),
        r6("f_ma_ac_slow").as("F_MovingAverageSlowAutocorrelation"),
        r6("f_ma_dist_slow").as("F_MovingAverageSlowDistance"),
        r6("f_olv").as("F_OpenLocationValue"),
        col("high").as("High"),
        col("low").as("Low"),
        col("open").as("Open"),
        col("time").as("Time"),
        col("volume").cast("double").as("Volume")
      )
    // The sort exists for oracle determinism; sinks skip it (a global sort
    // before a write is a pure range-exchange tax — and the write path
    // executes the plan twice: once to sample range bounds, once to write).
    if (ordered) out.orderBy("user_id", "Day") else out
  }

  /** The exported FeaturesBar schema after the sink's float32 downcast —
    * the STATIC column contract (property list mirrors `FeaturesBar.cs:
    * 3-51`; integer codes stay BIGINT per `DatabaseWriter.cs:198-202`).
    * The s01 DDL oracle pins `DuckDbSink.ddlFor` of exactly this schema,
    * so a drift between the pipeline's output and the declared contract
    * surfaces as a hash mismatch, not silently.
    */
  val featuresF32Schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(
        StructField("user_id", LongType),
        StructField("Close", FloatType),
        StructField("Day", LongType),
        StructField("F_CloseLocationValue", FloatType),
        StructField("F_MovingAverageAutocorrelation", FloatType),
        StructField("F_MovingAverageDistance", FloatType),
        StructField("F_MovingAverageSlope", FloatType),
        StructField("F_MovingAverageSlowAutocorrelation", FloatType),
        StructField("F_MovingAverageSlowDistance", FloatType),
        StructField("F_OpenLocationValue", FloatType),
        StructField("High", FloatType),
        StructField("Low", FloatType),
        StructField("Open", FloatType),
        StructField("Time", LongType),
        StructField("Volume", FloatType)
      )
    )
  }

  /** featuresFull with the reference sink's float32 downcast
    * (`DatabaseWriter.cs:198-202,310`, `UseFloat32=true` default — ~50%
    * storage, README.md:68). Integer codes stay BIGINT.
    */
  def featuresF32(events: DataFrame, cfg: FeaturesConfig = FeaturesConfig()): DataFrame = {
    val df = featuresFull(events, cfg)
    df.select(df.columns.map { c =>
      if (Set("user_id", "Day", "Time").contains(c)) col(c) else col(c).cast("float").as(c)
    }.toIndexedSeq: _*)
  }
}
