package graft

import graft.functions.TrailingFeatures
import graft.model.FeaturesConfig
import graft.ops.{BarOps, FeatureOps, Folds}
import graft.pipeline.Features
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** End-to-end pipeline vs a plain-Scala model of the reference semantics:
  * day bars → capped seed-first EMA folds → trailing-21 slope/autocorr →
  * warm-up ≥ 20 (FeaturesBarService.cs:22-47, Common.cs:14-60). The model
  * reimplements every fold with the identical left-to-right operation
  * order, so comparisons are exact.
  */
class FeaturesPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = FeaturesConfig()

  // One user, 25 consecutive days, one event per day at 10:00, prices
  // drifting with a deterministic wobble.
  private val prices = (0 until 25).map(i => 100.0 + i + (if (i % 3 == 0) 1.25 else -0.75))
  private val events = prices.zipWithIndex.map { case (p, i) =>
    (1L, Timestamp.valueOf(f"2024-01-${i + 1}%02d 10:00:00"), p)
  }

  private def emaRef(xs: Seq[Double], period: Int): Double = {
    val k = 2.0 / (period + 1.0); val omk = 1.0 - k
    xs.tail.foldLeft(xs.head)((acc, x) => acc * omk + x * k)
  }
  private def acRef(xs: Seq[Double]): Double = {
    val n = xs.length
    if (n <= 1) return 0.0
    val mu = xs.foldLeft(0.0)(_ + _) / n
    val num = (1 until n).map(i => (xs(i) - mu) * (xs(i - 1) - mu)).foldLeft(0.0)(_ + _)
    val den = xs.map(x => (x - mu) * (x - mu)).foldLeft(0.0)(_ + _)
    if (math.abs(den) < 1e-6) 0.0 else num / den
  }
  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("featuresFull matches the Scala reference model row for row") {
    val df = events.toDF("user_id", "ts", "value")
    val got = Features
      .featuresFull(df, cfg)
      .select(
        "Day", "Close", "F_MovingAverageDistance", "F_MovingAverageSlope",
        "F_MovingAverageAutocorrelation", "F_CloseLocationValue", "Volume"
      )
      .as[(Long, Double, Double, Double, Double, Double, Double)]
      .collect()

    // warm-up: rows 20..25 (1-indexed) → 6 rows
    assert(got.length == prices.length - cfg.barsRequiredToTrade + 1)

    val emaF = prices.indices.map(i => emaRef(prices.slice(0, i + 1), 9))
    got.zipWithIndex.foreach { case ((day, close, maDist, slope, ac, clv, vol), gi) =>
      val i = gi + cfg.barsRequiredToTrade - 1 // 0-based bar index
      assert(day == 20240101L + i)
      assert(close == prices(i))
      assert(vol == 1.0)
      // single-event day bars: high==low → CLV guard
      assert(clv == 0.0)
      val e = emaF(i)
      assert(maDist == r6((close - e) / e * 100.0))
      val buf = emaF.slice(i - 20, i + 1)
      assert(slope == r6((buf.last - buf.head) / buf.head * 100.0))
      assert(ac == r6(acRef(buf)))
    }
  }

  test("warm-up boundary: exactly barsRequiredToTrade rows needed") {
    val df = events.take(19).toDF("user_id", "ts", "value")
    assert(Features.featuresFull(df, cfg).count() == 0)
    val df20 = events.take(20).toDF("user_id", "ts", "value")
    assert(Features.featuresFull(df20, cfg).count() == 1)
  }

  test("featuresF32 downcasts feature doubles to float, keeps codes long") {
    val df = events.toDF("user_id", "ts", "value")
    val sch = Features.featuresF32(df, cfg).schema
    import org.apache.spark.sql.types._
    assert(sch("Close").dataType == FloatType)
    assert(sch("F_MovingAverageSlope").dataType == FloatType)
    assert(sch("Day").dataType == LongType)
    assert(sch("Time").dataType == LongType)
  }

  /** The sliding-frame Column form the running-frame aggregate replaced,
    * kept as its parity reference: EMAs as seed-first folds over the
    * unbounded list of closes (the oracle's form; `collect_list` skips null
    * closes), then the trailing 21-row frame re-aggregated per bar by two
    * `collect_list`s, a `first` and a `count`.
    */
  private def slidingFrameEnriched(events: DataFrame, cfg: FeaturesConfig): DataFrame = {
    val tol = cfg.tolerance
    val closes = collect_list(col("close")).over(BarOps.wSeries.rowsBetween(Window.unboundedPreceding, 0))
    val wb = BarOps.wSeries.rowsBetween(-cfg.barsRequiredToTrade, 0)
    BarOps
      .dayBars(events)
      .withColumn("ema_fast", Folds.emaLR(closes, cfg.lookbackFast))
      .withColumn("ema_slow", Folds.emaLR(closes, cfg.lookbackSlow))
      .withColumn("rn", row_number().over(BarOps.wSeries))
      .withColumn(
        "f_ma_slope",
        FeatureOps.slopePct(first(col("ema_fast")).over(wb), col("ema_fast"), count(lit(1)).over(wb), tol)
      )
      .withColumn("f_ma_ac", Folds.autocorrLag1(collect_list(col("ema_fast")).over(wb), tol))
      .withColumn("f_ma_ac_slow", Folds.autocorrLag1(collect_list(col("ema_slow")).over(wb), tol))
  }

  /** 204 seeded series: lengths 1, 2, 20, 21, 22 and 60 bars, one to three
    * events per day, a null value opening the series or mid-series (as a
    * day's last event it nulls that bar's close), a NaN, and days whose
    * events share one value (high == low).
    */
  private def paritySeries: DataFrame = {
    val rnd = new scala.util.Random(20240101)
    val lengths = Seq(1, 2, 20, 21, 22, 60)
    val rows = (0 until 204).flatMap { u =>
      val n = lengths(u % lengths.length)
      (0 until n).flatMap { d =>
        val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
        val base = 50.0 + rnd.nextInt(100) + rnd.nextDouble()
        val perDay = 1 + rnd.nextInt(3)
        (0 until perDay).map { e =>
          val last = e == perDay - 1
          val v: Option[Double] =
            if (last && u % 5 == 1 && d == 0) None // null close opening the series
            else if (last && u % 5 == 2 && (d == n / 2 || d == n / 2 + 1)) None // mid-series
            else if (last && u % 7 == 3 && d == n / 3) Some(Double.NaN)
            else if (u % 4 == 0) Some(base) // every event of the day equal: high == low
            else Some(base + rnd.nextDouble() * 4 - 2)
          (u.toLong, Timestamp.valueOf(day.atTime(9 + e, rnd.nextInt(60))), v)
        }
      }
    }
    rows.toDF("user_id", "ts", "value")
  }

  test("running-frame enriched equals the sliding-frame form bit for bit on 204 seeded series") {
    val cols = Seq("user_id", "day", "ema_fast", "ema_slow", "rn", "f_ma_slope", "f_ma_ac", "f_ma_ac_slow")
    def rows(df: DataFrame) = df.select(cols.map(col): _*).orderBy("user_id", "day").collect().toSeq
    val ev = paritySeries
    val got = rows(Features.enriched(ev, cfg))
    val want = rows(slidingFrameEnriched(ev, cfg))
    assert(got.length == want.length && got.length > 4000)
    // a Double field compares by its bits (NaN equal to NaN, -0.0 apart from 0.0)
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case o => o
    }
    got.zip(want).foreach { case (g, w) =>
      assert(g.toSeq.map(bits) == w.toSeq.map(bits), s"running $g vs sliding $w")
    }
    // the inputs reach every case the null semantics distinguish
    assert(want.exists(r => r.isNullAt(2)), "a bar before the first non-null close")
    assert(want.exists(r => !r.isNullAt(2) && r.isNullAt(5)), "a frame whose first EMA is null")
    assert(want.exists(r => !r.isNullAt(2) && r.getDouble(2).isNaN), "a NaN EMA")
  }

  test("graft_trailing refuses merge: it is valid only over a running frame") {
    val agg = TrailingFeatures(Literal(1.0), Literal(9), Literal(21), Literal(21), Literal(1e-6))
    val a = agg.createAggregationBuffer()
    agg.update(a, org.apache.spark.sql.catalyst.InternalRow.empty)
    val e = intercept[UnsupportedOperationException](agg.merge(a, agg.createAggregationBuffer()))
    assert(e.getMessage.contains("ROWS UNBOUNDED PRECEDING"))
    // as a grouped aggregate its partial state cannot leave the map side
    val grouped = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "close")
      .groupBy("k")
      .agg(call_function("graft_trailing", col("close"), lit(9), lit(21), lit(21), lit(1e-6)))
    val failure = intercept[Exception](grouped.collect())
    assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("ROWS UNBOUNDED PRECEDING"))))
  }
}
