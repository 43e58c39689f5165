package graft.queries

import graft.model.FeaturesConfig
import graft.ops.{BarOps, FeatureOps, Tables, TimeCodec}
import graft.oracle.OracleSql._
import graft.pipeline.Features
import org.apache.spark.sql.functions._

/** q01-q19 — the bar/feature pipeline surface (SURVEY.md §2.3, operators
  * O1-O17). Every query is ordered by a unique key and rounds derived
  * doubles to 6 decimals so the DuckDB oracle hash-compare is exact.
  */
object BarQueries {
  private val cfg = FeaturesConfig()

  val all: Seq[Q] = Seq(
    // O1/O2: scan + projection with the reference's int time codecs
    // (StrategyAnalyzerExporter.cs:204-217).
    Q(
      "q01_scan_project",
      (s, dir) =>
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            TimeCodec.dayInt(col("ts")).as("day"),
            TimeCodec.timeInt(col("ts")).as("time"),
            col("value")
          )
          .orderBy("event_id"),
      Some(s"""SELECT event_id, user_id, ${dayInt("ts")} AS day,
        ${timeInt("ts")} AS time, value FROM events ORDER BY event_id""")
    ),
    // O4: inclusive HHmmss session gate (StrategyAnalyzerExporter.cs:189-194).
    Q(
      "q02_time_gate",
      (s, dir) =>
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            TimeCodec.timeInt(col("ts")).as("time"),
            col("value")
          )
          .filter(col("time").between(cfg.timeStart, cfg.timeEnd))
          .orderBy("event_id"),
      Some(s"""SELECT * FROM (SELECT event_id, user_id, ${timeInt("ts")} AS time, value
        FROM events) WHERE time BETWEEN ${cfg.timeStart} AND ${cfg.timeEnd}
        ORDER BY event_id""")
    ),
    // O3: warm-up filter — running per-series count >= BarsRequiredToTrade
    // (StrategyAnalyzerExporter.cs:186).
    Q(
      "q03_warmup_filter",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables
          .events(s, dir)
          .withColumn(
            "rn",
            row_number().over(Window.partitionBy("user_id").orderBy("ts")).cast("long")
          )
          .filter(col("rn") >= cfg.barsRequiredToTrade)
          .select(col("event_id"), col("user_id"), col("rn"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, rn FROM (
        SELECT event_id, user_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS rn
        FROM events) WHERE rn >= ${cfg.barsRequiredToTrade} ORDER BY event_id""")
    ),
    // Bar formation (upstream of O1; group-by agg with arg_min/arg_max).
    Q(
      "q04_bar_aggregate",
      (s, dir) => BarOps.dayBars(Tables.events(s, dir)).orderBy("user_id", "day"),
      Some(s"WITH $barsCte SELECT * FROM bars ORDER BY user_id, day")
    ),
    // O11: Close Location Value over bars (Price.cs:24-30).
    Q(
      "q05_clv",
      (s, dir) =>
        BarOps
          .dayBars(Tables.events(s, dir))
          .select(
            col("user_id"),
            col("day"),
            FeatureOps.r6(FeatureOps.clv(col("close"), col("high"), col("low"))).as("clv")
          )
          .orderBy("user_id", "day"),
      Some(s"""WITH $barsCte SELECT user_id, day,
        floor((${clv("close", "high", "low")}) * 1e6 + 5e-1) / 1e6 AS clv FROM bars ORDER BY user_id, day""")
    ),
    // O12: Open Location Value (Price.cs:32-38).
    Q(
      "q06_olv",
      (s, dir) =>
        BarOps
          .dayBars(Tables.events(s, dir))
          .select(
            col("user_id"),
            col("day"),
            FeatureOps.r6(FeatureOps.olv(col("open"), col("high"), col("low"))).as("olv")
          )
          .orderBy("user_id", "day"),
      Some(s"""WITH $barsCte SELECT user_id, day,
        floor((${olv("open", "high", "low")}) * 1e6 + 5e-1) / 1e6 AS olv FROM bars ORDER BY user_id, day""")
    ),
    // O7: EMA(9) via exact seed-first fold (StrategyAnalyzerExporter.cs:138).
    Q(
      "q07_ema_fast",
      (s, dir) =>
        Features
          .barsWithEma(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("ema_fast")).as("ema9"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $emaCte SELECT user_id, day, floor((ema_fast) * 1e6 + 5e-1) / 1e6 AS ema9
        FROM ema ORDER BY user_id, day""")
    ),
    // O7: EMA(21) (StrategyAnalyzerExporter.cs:139).
    Q(
      "q08_ema_slow",
      (s, dir) =>
        Features
          .barsWithEma(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("ema_slow")).as("ema21"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $emaCte SELECT user_id, day, floor((ema_slow) * 1e6 + 5e-1) / 1e6 AS ema21
        FROM ema ORDER BY user_id, day""")
    ),
    // O8: close-vs-EMA distance percent (MovingAverage.cs:35-48).
    Q(
      "q09_ma_distance",
      (s, dir) =>
        Features
          .enriched(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("f_ma_dist")).as("ma_dist"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $emaCte SELECT user_id, day,
        floor((${maDistance("close", "ema_fast")}) * 1e6 + 5e-1) / 1e6 AS ma_dist FROM ema
        ORDER BY user_id, day""")
    ),
    // O8 on the slow EMA (MovingAverage.cs:20).
    Q(
      "q10_ma_distance_slow",
      (s, dir) =>
        Features
          .enriched(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("f_ma_dist_slow")).as("ma_dist_slow"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $emaCte SELECT user_id, day,
        floor((${maDistance("close", "ema_slow")}) * 1e6 + 5e-1) / 1e6 AS ma_dist_slow FROM ema
        ORDER BY user_id, day""")
    ),
    // O10: slope percent over the trailing 21-row EMA buffer (Common.cs:14-27;
    // documented-intent tolerance, SURVEY.md §2.4.1).
    Q(
      "q11_slope_pct",
      (s, dir) =>
        Features
          .enriched(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("f_ma_slope")).as("slope_pct"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $featCte SELECT user_id, day,
        floor((${slopePct("ma_first", "ema_fast", "wn")}) * 1e6 + 5e-1) / 1e6 AS slope_pct FROM feat
        ORDER BY user_id, day""")
    ),
    // O9: lag-1 autocorrelation over the trailing 21-row EMA buffer
    // (Common.cs:29-60).
    Q(
      "q12_autocorr_lag1",
      (s, dir) =>
        Features
          .enriched(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("f_ma_ac")).as("ac1"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $featCte SELECT user_id, day, floor((${autocorrLag1("lma")}) * 1e6 + 5e-1) / 1e6 AS ac1
        FROM feat ORDER BY user_id, day""")
    ),
    // O15: window min/max over the trailing buffer of barsRequiredToTrade+1
    // bars (CircularBuffer.cs:30-37,175-216).
    Q(
      "q13_window_minmax",
      (s, dir) => {
        val wb = BarOps.wSeries.rowsBetween(-cfg.barsRequiredToTrade, 0)
        BarOps
          .dayBars(Tables.events(s, dir))
          .select(
            col("user_id"),
            col("day"),
            min(col("close")).over(wb).as("wmin"),
            max(col("close")).over(wb).as("wmax")
          )
          .orderBy("user_id", "day")
      },
      Some(s"""WITH $barsCte SELECT user_id, day,
        min(close) OVER wb AS wmin, max(close) OVER wb AS wmax FROM bars
        WINDOW wb AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, day""")
    ),
    // O16/O17: last-N extraction from the ordered buffer
    // (CircularBuffer.cs:82-93, SeriesExtractor.cs:38-43).
    Q(
      "q14_lastn_series",
      (s, dir) => {
        val wb = BarOps.wSeries.rowsBetween(-2, 0)
        val l = collect_list(col("close")).over(wb)
        BarOps
          .dayBars(Tables.events(s, dir))
          .select(
            col("user_id"),
            col("day"),
            element_at(l, size(l)).as("c_cur"),
            when(size(l) >= 2, element_at(l, size(l) - 1)).as("c_prev1"),
            when(size(l) >= 3, element_at(l, size(l) - 2)).as("c_prev2")
          )
          .orderBy("user_id", "day")
      },
      Some(s"""WITH $barsCte, lastn AS (
        SELECT user_id, day, list(close) OVER wb AS l FROM bars
        WINDOW wb AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        SELECT user_id, day, l[len(l)] AS c_cur,
               CASE WHEN len(l) >= 2 THEN l[len(l)-1] END AS c_prev1,
               CASE WHEN len(l) >= 3 THEN l[len(l)-2] END AS c_prev2
        FROM lastn ORDER BY user_id, day""")
    ),
    // O14: clamp (Common.cs:8-11).
    Q(
      "q15_clamp",
      (s, dir) =>
        Tables
          .events(s, dir)
          .select(col("event_id"), FeatureOps.clamp(col("value"), 25.0, 175.0).as("clamped"))
          .orderBy("event_id"),
      Some("""SELECT event_id, greatest(least(value, 175e0), 25e0) AS clamped
        FROM events ORDER BY event_id""")
    ),
    // O5: day-partitioned running counts — the day-change buffer reset
    // surface (FeaturesBarService.cs:32-38).
    Q(
      "q16_day_reset_counts",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            TimeCodec.dayInt(col("ts")).as("day"),
            col("ts")
          )
          .withColumn(
            "rn",
            row_number().over(Window.partitionBy("user_id", "day").orderBy("ts")).cast("long")
          )
          .select("event_id", "user_id", "day", "rn")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, day,
        CAST(row_number() OVER (PARTITION BY user_id, day ORDER BY ts) AS BIGINT) AS rn
        FROM (SELECT event_id, user_id, ${dayInt("ts")} AS day, ts FROM events)
        ORDER BY event_id""")
    ),
    // O20/O21 + §1.3-1.4: ordinal-sorted schema with the sink's float32
    // downcast (DatabaseWriter.cs:222-225,198-202,310).
    Q(
      "q17_schema_ordered_f32",
      (s, dir) => Features.featuresF32(Tables.events(s, dir), cfg),
      Some(s"""WITH $featCte SELECT user_id,
        CAST("Close" AS REAL) AS "Close", "Day",
        CAST("F_CloseLocationValue" AS REAL) AS "F_CloseLocationValue",
        CAST("F_MovingAverageAutocorrelation" AS REAL) AS "F_MovingAverageAutocorrelation",
        CAST("F_MovingAverageDistance" AS REAL) AS "F_MovingAverageDistance",
        CAST("F_MovingAverageSlope" AS REAL) AS "F_MovingAverageSlope",
        CAST("F_MovingAverageSlowAutocorrelation" AS REAL) AS "F_MovingAverageSlowAutocorrelation",
        CAST("F_MovingAverageSlowDistance" AS REAL) AS "F_MovingAverageSlowDistance",
        CAST("F_OpenLocationValue" AS REAL) AS "F_OpenLocationValue",
        CAST("High" AS REAL) AS "High", CAST("Low" AS REAL) AS "Low",
        CAST("Open" AS REAL) AS "Open", "Time", CAST("Volume" AS REAL) AS "Volume"
        FROM (SELECT $featuresSelect FROM feat WHERE rn >= ${cfg.barsRequiredToTrade})
        ORDER BY user_id, "Day"""")
    ),
    // O1-O13 flagship: the end-to-end FeaturesBar pipeline
    // (FeaturesBar.cs:3-51; SURVEY.md §7.2).
    Q(
      "q18_features_full",
      (s, dir) => Features.featuresFull(Tables.events(s, dir), cfg),
      Some(s"""WITH $featCte SELECT $featuresSelect FROM feat
        WHERE rn >= ${cfg.barsRequiredToTrade} ORDER BY user_id, day""")
    ),
    // O7 (NT-faithful variant): running EMA from partition start, read from
    // the pipeline's graft_trailing running-frame aggregate — O(1) state per
    // row (the reference's own incremental recurrence,
    // StrategyAnalyzerExporter.cs:138-139); the oracle recomputes it from
    // the unbounded list of closes.
    Q(
      "q42_ema_running",
      (s, dir) =>
        Features
          .barsWithEma(Tables.events(s, dir), cfg)
          .select(col("user_id"), col("day"), FeatureOps.r6(col("ema_fast")).as("ema_run"))
          .orderBy("user_id", "day"),
      Some(s"""WITH $barsCte,
        framed AS (
          SELECT user_id, day, list(close) OVER wr AS lc FROM bars
          WINDOW wr AS (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING))
        SELECT user_id, day, ${r6(ema("lc", 9))} AS ema_run
        FROM framed ORDER BY user_id, day""")
    ),
    // O2: the one-bar export lag, session-scoped so it never leaks across
    // days (StrategyAnalyzerExporter.cs:204-216; SURVEY.md §7.4.4).
    Q(
      "q19_export_lag",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"), TimeCodec.dayInt(col("ts"))).orderBy("ts")
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            TimeCodec.dayInt(col("ts")).as("day"),
            col("value"),
            lag(col("value"), 1).over(w).as("prev_value")
          )
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, day, value,
        lag(value, 1) OVER (PARTITION BY user_id, day ORDER BY ts) AS prev_value
        FROM (SELECT *, ${dayInt("ts")} AS day FROM events) ORDER BY event_id""")
    ),
    // q137: multi-granularity bar resample in ONE pass — hourly AND
    // daily OHLCV from a single scan via GROUPING SETS ((user, day),
    // (user, day, hour)): the Expand shares the scan and the partial
    // aggregates, where the naive form runs one job per granularity
    // (a real exporter publishes several bar periods of the same feed —
    // the reference's host feeds it exactly one, NT's BarsPeriod, so
    // multi-period is the first thing a Spark re-host adds). min_by/
    // max_by give open/close exactly as q04; (user_id, ts) uniqueness
    // makes them deterministic at both grains; grouping(hr) tags which
    // grain a row belongs to. One Expand + one shuffle on the grouping
    // keys, partial-aggregated map-side — granularities scale at the
    // cost of Expand rows, never extra scans.
    Q(
      "q137_multigrain_bars",
      (s, dir) => {
        Tables
          .events(s, dir)
          .select(
            col("user_id"), col("ts"), col("value"),
            TimeCodec.dayInt(col("ts")).as("day"),
            hour(col("ts")).cast("long").as("hr")
          )
          .createOrReplaceTempView("ev_q137")
        s.sql("""
          SELECT user_id, day, hr,
            CAST(grouping(hr) AS BIGINT) AS g_hr,
            min_by(value, ts) AS open, max(value) AS high, min(value) AS low,
            max_by(value, ts) AS close, CAST(count(*) AS BIGINT) AS volume
          FROM ev_q137
          GROUP BY GROUPING SETS ((user_id, day), (user_id, day, hr))
          ORDER BY user_id, day, g_hr, hr NULLS FIRST""")
      },
      Some(s"""WITH ev AS (SELECT user_id, ts, value,
            ${dayInt("ts")} AS day,
            CAST(hour(ts) AS BIGINT) AS hr FROM events)
        SELECT user_id, day, hr, CAST(grouping(hr) AS BIGINT) AS g_hr,
          min_by(value, ts) AS open, max(value) AS high, min(value) AS low,
          max_by(value, ts) AS close, CAST(count(*) AS BIGINT) AS volume
        FROM ev GROUP BY GROUPING SETS ((user_id, day), (user_id, day, hr))
        ORDER BY user_id, day, g_hr, hr NULLS FIRST""")
    ),
    // q141: state-transition (Markov) matrix — the user-journey
    // primitive: per-user event sequences discretized into the s16/s27
    // regime states (calm < 50, mid, alert > 250), consecutive-pair
    // transition counts and row-normalized probabilities in integer
    // basis points ((n · 10⁴) div row total — a true per-state
    // distribution, order-free). The 1-step empirical kernel is what
    // regime-switching features and journey anomaly gates consume.
    // Scale shape: ONE user-keyed window shuffle for the lead pair
    // (the same lineage family as q19's lag export), then a 9-cell
    // two-phase count — the matrix is states², never corpus; the
    // per-row margin is a window over ≤9 rows.
    Q(
      "q141_transition_matrix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        val st = when(col("value") < 50.0, "calm")
          .when(col("value") > 250.0, "alert")
          .otherwise("mid")
        val pairs = Tables
          .events(s, dir)
          .select(col("user_id"), col("ts"), st.as("state"))
          .withColumn("next_state", lead(col("state"), 1).over(w))
          .filter(col("next_state").isNotNull)
        val cells = pairs
          .groupBy(col("state"), col("next_state"))
          .agg(count(lit(1)).as("n"))
        val mw = Window.partitionBy(col("state"))
        cells
          .withColumn("row_total", sum(col("n")).over(mw))
          .withColumn("p_bp", expr("(n * 10000) div row_total"))
          .orderBy("state", "next_state")
      },
      Some("""WITH st AS (SELECT user_id, ts,
            CASE WHEN value < 50 THEN 'calm'
                 WHEN value > 250 THEN 'alert' ELSE 'mid' END AS state
          FROM events),
        p AS (SELECT state,
            lead(state, 1) OVER (PARTITION BY user_id ORDER BY ts) AS next_state
          FROM st),
        c AS (SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
          FROM p WHERE next_state IS NOT NULL GROUP BY state, next_state)
        SELECT state, next_state, n,
          CAST(sum(n) OVER (PARTITION BY state) AS BIGINT) AS row_total,
          CAST((n * 10000) // sum(n) OVER (PARTITION BY state) AS BIGINT) AS p_bp
        FROM c ORDER BY state, next_state""")
    )
  )
}
