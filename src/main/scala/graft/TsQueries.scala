package graft

import graft.core.{MeteauSignal, Observations}
import graft.ext.EventOps
import graft.model.{DataProvenance, Parameters}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The time-series queries: metEAUdata's signal and dataset operators,
  * lineage, IO, plotting and JSON (`ts_`, `lineage_`, `io_`, `plot_`,
  * `dataset_`, `json_`, `skew_`).
  * Each entry pairs a declared query with its DuckDB oracle SQL; see
  * [[SparkEntry]]. */
object TsQueries {
  import Observations.{KeyCol, TsCol, ValueCol}
  import SparkEntry.{t, events, obsEvents, fmtTs, sortSmall, sortBig, scratch,
    Artifact, r6, DetMeanSql, Query}

  /** events keyed by event_type (the cross-signal alignment fixtures). */
  private def obsByType(spark: SparkSession, dir: String): DataFrame =
    Observations.from(events(spark, dir), "event_type", "ts", "value")

  /** The documents table exported as JSONL (io_jsonl_roundtrip): written
    * once, read back per rep. */
  private val jsonlFor = Artifact("jsonl") { (s, dir) =>
    val p = scratch("jsonl", dir)
    t(s, dir, "documents").write.mode("overwrite").json(p)
    p
  }

  /** The click/view moments of ts_correlation and ts_pca: each event
    * type's 15-minute means (b), paired per bucket (j), and their exact
    * decimal sums (agg). */
  private val ClickViewMomentCtes: String =
    s"""WITH b AS (
      |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
      |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
      |j AS (SELECT c.v AS x, w.v AS y FROM b c JOIN b w
      |      ON c.bt = w.bt AND c.event_type = 'click' AND w.event_type = 'view'),
      |agg AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      |  FROM j)""".stripMargin

  private[graft] def queries: Seq[(String, (Query, String))] = Seq(

    // T1 resample (non-grid): tumbling-window deterministic mean per user
    "ts_resample" -> (((s, dir) => {
      Resample.transformFixed(obsEvents(s, dir), 900, grid = false)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // T1 resample (pandas-parity full grid, empty buckets null)
    "ts_resample_grid" -> (((s, dir) => {
      sortBig(Resample.transformFixed(obsEvents(s, dir), 3600, grid = true)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value")),
        "series_key", "bucket_ts")
    },
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bt) mn, max(bt) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '3600 seconds')) AS bt FROM spans)
         |SELECT CAST(grid.user_id AS VARCHAR) AS series_key,
         |  strftime(grid.bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, b.v AS value
         |FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bt = b.bt
         |ORDER BY 1, 2""".stripMargin)),

    // calendar-frequency resample: monthly mean per user (pandas
    // resample("MS") semantics — month bins aren't fixed-duration)
    "ts_resample_month" -> (((s, dir) => {
      ResampleCalendar.transformUnit(obsEvents(s, dir), "month")
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // T2 linear interpolation over the gridded resample
    "ts_interpolate" -> (((s, dir) => {
      val grid = Resample.transformFixed(obsEvents(s, dir), 3600, grid = true)
      sortBig(Interpolate.transform(grid, Parameters.empty)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value")),
        "series_key", "bucket_ts")
    },
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bt) mn, max(bt) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '3600 seconds')) AS bt FROM spans),
         |g AS (SELECT grid.user_id, grid.bt, b.v, epoch(grid.bt) AS e
         |      FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bt = b.bt),
         |w AS (SELECT user_id, bt, v, e,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
         |  FROM g)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
         |                THEN pv + (nv - pv) * (e - pt) / (nt - pt)
         |              WHEN pv IS NOT NULL THEN pv END) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin)),

    // T3 replace-ranges (calibration-window nulling) on raw events
    "ts_replace_ranges" -> (((s, dir) => {
      val params = Parameters.of(
        "ranges" -> "2024-01-10 00:00:00/2024-01-12 00:00:00;2024-01-20 12:00:00/2024-01-21 00:00:00",
        "reason" -> "sensor calibration procedure")
      ReplaceRanges.transform(obsEvents(s, dir), params)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol).as("value"))
        
    },
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  CASE WHEN (ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-12 00:00:00')
        |         OR (ts >= TIMESTAMP '2024-01-20 12:00:00' AND ts <= TIMESTAMP '2024-01-21 00:00:00')
        |       THEN NULL ELSE value END AS value
        |FROM events ORDER BY 1, 2, 3""".stripMargin)),

    // T4 previous-point prediction (materialized one-step shift)
    "ts_predict_prev" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      PredictPrevious.transform(resampled, Parameters.of("frequency" -> "1h"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '3600 seconds', ts) + INTERVAL '3600 seconds', '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY user_id, time_bucket(INTERVAL '3600 seconds', ts)
         |ORDER BY 1, 2""".stripMargin)),

    // T5 cross-signal average: click+view event-type series aligned on 15 min
    "ts_average" -> (((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")),
        900, grid = false)
      AverageSignals.transform(byType, Parameters.empty)
        .select(fmtTs(col(TsCol)).as("bucket_ts"), r6(col(ValueCol)).as("value"))
        
    },
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
         |SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE)/COUNT(v)) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM b GROUP BY bt ORDER BY 1""".stripMargin)),

    // T6 cross-signal sum (documented my_dataset_func pattern)
    "ts_sum" -> (((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      SumSignals.transform(byType, Parameters.empty)
        .select(fmtTs(col(TsCol)).as("bucket_ts"), r6(col(ValueCol)).as("value"))
        
    },
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
         |SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  round(CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE), 6) AS value
         |FROM b GROUP BY bt ORDER BY 1""".stripMargin)),

    // T7 scalar map (documented my_func pattern): value*2 on a resample
    "ts_scale" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      ScaleValues.transform(resampled, Parameters.of("factor" -> "2.0"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '3600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(((floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0) * 2.0) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY user_id, time_bucket(INTERVAL '3600 seconds', ts)
         |ORDER BY 1, 2""".stripMargin)),

    // SMOOTHING: centered moving average over the hourly resample
    "ts_smooth" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      Smooth.transform(resampled, Parameters.of("window" -> "2"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CAST(SUM(CAST(v AS DECIMAL(27,8))) OVER w AS DOUBLE) / COUNT(v) OVER w) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM b
         |WINDOW w AS (PARTITION BY user_id ORDER BY bt ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         |ORDER BY 1, 2""".stripMargin)),

    // SMOOTHING (robust variant): centered rolling median over +/-3
    // resampled points — exact sorted-pick semantics, no float drift
    "ts_rolling_median" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      RollingMedian.transform(resampled, Parameters.of("window" -> "3"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      // same hourly detMean buckets, same sorted-window median picks
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT user_id, bt,
         |        list_sort(list(v) OVER (PARTITION BY user_id ORDER BY bt
         |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS l
         |      FROM b)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(((l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2.0)
         |    * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM m ORDER BY 1, 2""".stripMargin)),

    // SMOOTHING (recency-weighted variant): trailing EWMA over the hourly
    // resample — both folds replayed verbatim by the oracle's list_reduce,
    // α=1/2 keeps every weight a power of two (no pow(), no libm drift)
    "ts_ewma" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      Ewma.transform(resampled, Parameters.of("window" -> "32", "alpha" -> "0.5"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      // same hourly detMean buckets, both EWMA folds replayed verbatim by
      // list_reduce over the identical 32-point trailing frame (num seeded
      // by its first element ≡ the 0-init fold; den folds a ones-list)
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, bt,
         |        list(v) OVER (PARTITION BY user_id ORDER BY bt
         |          ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS lv
         |      FROM b)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((list_reduce(lv, (acc, x) -> acc * 0.5 + x) /
         |         list_reduce(list_transform(lv, x -> CAST(1.0 AS DOUBLE)),
         |           (acc, x) -> acc * 0.5 + x)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS value
         |FROM l ORDER BY 1, 2""".stripMargin)),

    // LTTB plot downsampling: one visually-representative point per
    // hourly bucket (max triangle area vs neighbor-bucket mean anchors)
    // — the scale path for the plot-data surface; a resample averages
    // spikes away, LTTB keeps them.
    "plot_lttb" -> (((s, dir) => {
      LttbDownsample.transform(obsEvents(s, dir),
          Parameters.of("bucketSeconds" -> "3600"))
        .select(col(KeyCol).as("series_key"),
          graft.ext.EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol))
        
    },
      // same bucket means (exact decimals), same area sequence + 6-dp
      // round, same (area desc, ts, value) pick
      """WITH o AS (SELECT CAST(user_id AS VARCHAR) AS k, ts, value,
        |    epoch(ts) AS td,
        |    CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b FROM events),
        |bs AS (SELECT k, b,
        |    CAST(SUM(CAST(td AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*) AS mt,
        |    CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*) AS mv
        |  FROM o GROUP BY 1, 2),
        |a AS (SELECT k, b,
        |    lag(mt) OVER w AS pt, lag(mv) OVER w AS pv,
        |    lead(mt) OVER w AS nt, lead(mv) OVER w AS nv
        |  FROM bs WINDOW w AS (PARTITION BY k ORDER BY b)),
        |j AS (SELECT o.k, o.ts, o.value, o.b,
        |    CASE WHEN a.pt IS NULL OR a.nt IS NULL THEN 0.0
        |         ELSE round(abs((a.pt - a.nt) * (o.value - a.pv) -
        |                        (a.pv - a.nv) * (o.td - a.pt)), 6) END AS rk
        |  FROM o JOIN a ON o.k = a.k AND o.b = a.b),
        |r AS (SELECT k, ts, value,
        |    row_number() OVER (PARTITION BY k, b
        |      ORDER BY rk DESC, ts, value) AS rn
        |  FROM j)
        |SELECT k AS series_key, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
        |FROM r WHERE rn = 1 ORDER BY 1, 2, 3""".stripMargin)),

    // FAULT_DETECTION (statistical): per-series 3-sigma outlier counts,
    // decided via the division-free (n*x - S1)^2 > 9*(n*S2 - S1^2) form
    // over exact decimal sums — bit-stable under any partitioning
    "ts_zscore_anomaly" -> (((s, dir) => {
      graft.ext.CrossStats.zscoreAnomalies(obsEvents(s, dir))
        
    },
      // same exact-decimal sums, same division-free threshold sequence
      """WITH s AS (SELECT user_id, COUNT(value) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1)
        |SELECT CAST(e.user_id AS VARCHAR) AS series_key, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN
        |      (CAST(s.n AS DOUBLE) * e.value - s.s1) *
        |      (CAST(s.n AS DOUBLE) * e.value - s.s1) >
        |      9.0 * (CAST(s.n AS DOUBLE) * s.s2 - s.s1 * s.s1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM events e JOIN s USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // FAULT_DETECTION (robust variant): MAD outlier counts — the
    // median/MAD pair shrugs off the wild spikes that inflate σ and mask
    // each other in the z-score path; exact sorted-pick medians so the
    // oracle's list_sort picks replay bit-for-bit
    "ts_outlier_mad" -> (((s, dir) => {
      graft.ext.CrossStats.madOutliers(obsEvents(s, dir))
        .select(col("series_key"), col("n"), r6(col("med")).as("med"),
          r6(col("mad")).as("mad"), col("n_outliers"))
        
    },
      // same sorted-pick medians (exact middle elements / one IEEE mean),
      // same row-local deviation transform, same 3·MAD strict threshold
      """WITH s AS (SELECT user_id, list_sort(list(value)) AS sv
        |    FROM events GROUP BY 1),
        |m AS (SELECT user_id, sv,
        |    (sv[(len(sv) + 1) // 2] + sv[len(sv) // 2 + 1]) / 2.0 AS med
        |  FROM s),
        |d AS (SELECT user_id, sv, med,
        |    list_sort(list_transform(sv, x -> abs(x - med))) AS dv FROM m)
        |SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(len(sv) AS BIGINT) AS n,
        |  floor(med * 1000000.0 + 0.5) / 1000000.0 AS med,
        |  floor(((dv[(len(dv) + 1) // 2] + dv[len(dv) // 2 + 1]) / 2.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS mad,
        |  CAST(len(list_filter(sv, x -> abs(x - med) >
        |    3.0 * ((dv[(len(dv) + 1) // 2] + dv[len(dv) // 2 + 1]) / 2.0)))
        |    AS BIGINT) AS n_outliers
        |FROM d ORDER BY 1""".stripMargin)),

    // WINSORIZE (robust clamp): per-series [p05, p95] percentile clamp —
    // the continuous counterpart of the replace/flag family: preserves
    // mass, cuts leverage. Bounds are exact interpolated percentiles
    // (ts_percentiles pinned them ≡ quantile_cont bit-for-bit), rounded
    // 6 dp BEFORE the branch so clamp decisions are engine-portable.
    "ts_winsorize" -> (((s, dir) => {
      sortBig(graft.ext.CrossStats.winsorize(obsEvents(s, dir), 0.05, 0.95)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"),
          r6(col("value_w")).as("value_w"), col("clipped")),
        // clipped as 4th key: value == hi (clipped=0) and value > hi
        // (clipped=1) rows tie on the first three, and the tie order
        // would otherwise be engine-arbitrary (ADVICE r9)
        "series_key", "ts_s", "value_w", "clipped")
    },
      // identical bounds (quantile_cont ≡ Spark percentile bit-for-bit,
      // rounded 6 dp before the branch) and identical clamp decision
      """WITH b AS (SELECT user_id,
        |    floor(quantile_cont(value, 0.05) * 1000000.0 + 0.5) / 1000000.0 AS lo,
        |    floor(quantile_cont(value, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS hi
        |  FROM events GROUP BY 1)
        |SELECT CAST(e.user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  floor((CASE WHEN value < lo THEN lo
        |              WHEN value > hi THEN hi
        |              ELSE value END) * 1000000.0 + 0.5) / 1000000.0 AS value_w,
        |  CAST(value < lo OR value > hi AS BIGINT) AS clipped
        |FROM events e JOIN b ON e.user_id = b.user_id
        |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // FAULT_DETECTION: threshold flags on raw observations
    "ts_fault_flags" -> (((s, dir) => {
      DetectOutOfRange.transform(obsEvents(s, dir),
          Parameters.of("lo" -> "10.0", "hi" -> "150.0"))
        .groupBy(col(KeyCol).as("series_key"))
        // coalesce: an all-null series must count 0 faults like the
        // oracle's CASE ... ELSE 0 (sum over all-null is NULL in Spark)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col(ValueCol)), lit(0.0)).cast("long").as("n_faults"))
        
    },
      """SELECT CAST(user_id AS VARCHAR) AS series_key, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < 10.0 OR value > 150.0 THEN 1.0 ELSE 0.0 END) AS BIGINT) AS n_faults
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REMOVE_DUPLICATES: one observation per (series, second)
    "ts_dedup_ts" -> (((s, dir) => {
      val secs = obsEvents(s, dir)
        .select(col(KeyCol), EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol))
        .select(col(KeyCol), timestamp_seconds(col("ts_s")).as(TsCol), col(ValueCol))
      DedupTimestamps.transform(secs, Parameters.empty)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol).as("value"))
        
    },
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, MIN(value) AS value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // non-double value dtype on the data path: STRING state series
    // (user_id → sequence of event_type states) deduped per second with
    // the type-agnostic REMOVE_DUPLICATES operator (reference stores any
    // pandas dtype, types.py:264-290)
    "ts_state_dedup" -> (((s, dir) => {
      val obs = Observations.fromTyped(events(s, dir), "user_id", "ts", "event_type")
      val secs = obs.select(col(KeyCol),
        timestamp_seconds(EventOps.epochS(col(TsCol))).as(TsCol), col(ValueCol))
      DedupTimestamps.transform(secs, Parameters.empty)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol).as("state"))
        
    },
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, MIN(event_type) AS state
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // string state series resampled-by-last (hourly latest state per user;
    // type-agnostic max(struct(ts, value)) hash aggregate)
    "ts_state_last" -> (((s, dir) => {
      val obs = Observations.fromTyped(events(s, dir), "user_id", "ts", "event_type")
      ResampleLast.transformFixed(obs, 3600)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          col(ValueCol).as("state"))
        
    },
      """WITH w AS (
        |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt, event_type,
        |    row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '3600 seconds', ts)
        |      ORDER BY epoch_us(ts) DESC, event_type DESC) AS rn
        |  FROM events)
        |SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, event_type AS state
        |FROM w WHERE rn = 1 ORDER BY 1, 2""".stripMargin)),

    // RangeIndex (integer axis) resample: per-user series indexed by the
    // event_id counter instead of a timestamp (reference RangeIndex
    // round-trip, tests/test_index_metadata.py:94-211)
    "ts_int_resample" -> (((s, dir) => {
      val obs = events(s, dir).select(col("user_id").cast("string").as(KeyCol),
        col("event_id").as(IntAxis.IdxCol), col("value"))
      IntAxis.resampleFixed(obs, 1000L, grid = false)
        .select(col(KeyCol).as("series_key"), col(IntAxis.IdxCol),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  event_id - (event_id % 1000) AS idx,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // RangeIndex gridded resample + linear interpolation over the gaps
    "ts_int_interpolate" -> (((s, dir) => {
      val obs = events(s, dir).select(col("user_id").cast("string").as(KeyCol),
        col("event_id").as(IntAxis.IdxCol), col("value"))
      sortBig(IntAxis.interpolate(IntAxis.resampleFixed(obs, 1000L, grid = true))
        .select(col(KeyCol).as("series_key"), col(IntAxis.IdxCol),
          r6(col(ValueCol)).as("value")),
        "series_key", IntAxis.IdxCol)
    },
      s"""WITH b AS (
         |  SELECT user_id, event_id - (event_id % 1000) AS bi,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bi) mn, max(bi) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, 1000)) AS bi FROM spans),
         |g AS (SELECT grid.user_id, grid.bi, b.v, CAST(grid.bi AS DOUBLE) AS e
         |      FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bi = b.bi),
         |w AS (SELECT user_id, bi, v, e,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
         |  FROM g)
         |SELECT CAST(user_id AS VARCHAR) AS series_key, bi AS idx,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
         |                THEN pv + (nv - pv) * (e - pt) / (nt - pt)
         |              WHEN pv IS NOT NULL THEN pv END) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin)),

    // E12 wide-frame ingest: one column per series (the reference's
    // Signal DataFrame ctor path, types.py:547-606) unpivoted back to the
    // tall schema via Observations.fromWide — round trip through a pivot
    // must equal the direct tall computation, nulls preserved for
    // timestamps where a series has no bucket
    "ts_wide_ingest" -> (((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      val wide = byType.groupBy(col(TsCol))
        .pivot(KeyCol, Seq("click", "view"))
        .agg(first(col(ValueCol)))
      Observations.fromWide(wide, TsCol, Seq("click", "view"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          col(ValueCol).as("value"))
        
    },
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
         |g AS (SELECT DISTINCT bt FROM b),
         |t AS (SELECT * FROM (VALUES ('click'), ('view')) x(typ))
         |SELECT t.typ AS series_key,
         |  strftime(g.bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, b.v AS value
         |FROM g CROSS JOIN t
         |LEFT JOIN b ON b.event_type = t.typ AND b.bt = g.bt
         |ORDER BY 1, 2""".stripMargin)),

    // E2 dataset executor end-to-end: two event-type signals ingested,
    // resampled through Signal.process, then averaged through
    // Dataset.process — must equal the pure-SQL alignment+mean
    "dataset_average" -> (((s, dir) => {
      val ev = events(s, dir)
      def sigOf(t: String, name: String) = MeteauSignal.ingest(
        Observations.from(ev.where(col("event_type") === t),
          "event_type", "ts", "value").select(col(TsCol), col(ValueCol)),
        name, "mg/l")
        .process(Seq(s"$name#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "15min", "grid" -> "false"))
      val ds = graft.core.MeteauDataset.of("da",
          Seq(sigOf("click", "C"), sigOf("view", "V")))
        .process(Seq("C#1_RESAMPLED#1", "V#1_RESAMPLED#1"), AverageSignals)
      ds.signal("AVERAGE#1").series("AVERAGE#1_RAW#1")
        .select(fmtTs(col(TsCol)).as("bucket_ts"), r6(col(ValueCol)).as("value"))
        
    },
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
         |SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE)/COUNT(v)) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM b GROUP BY bt ORDER BY 1""".stripMargin)),

    // TimedeltaIndex compute path: per-user ELAPSED-TIME series (µs since
    // the user's first event) resampled into exact integer-µs buckets via
    // the long axis — the reference's resample-on-TimedeltaIndex contract
    // (processing_steps/univariate/resample.py:43-46)
    "ts_td_resample" -> (((s, dir) => {
      val base = events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val w = Window.partitionBy("user_id")
      val td = base
        .withColumn("_m", min(unix_micros(col("ts"))).over(w))
        .select(col("user_id").cast("string").as(KeyCol),
          timestamp_micros(unix_micros(col("ts")) - col("_m")).as(TsCol),
          col("value").as(ValueCol))
      TimedeltaAxis.resample(td, "15min", grid = false)
        .select(col(KeyCol).as("series_key"),
          unix_micros(col(TsCol)).as("td_us"), r6(col(ValueCol)).as("value"))
        
    },
      s"""WITH t AS (
         |  SELECT user_id,
         |    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS td,
         |    value
         |  FROM events)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  td - td % 900000000 AS td_us,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // timedelta gridded resample + interpolation: exact integer-µs grid,
    // gaps filled with exact µs ratios
    "ts_td_interpolate" -> (((s, dir) => {
      val base = events(s, dir).where(col("user_id") < 20)
        .select(col("user_id"), col("ts"), col("value"))
      val w = Window.partitionBy("user_id")
      val td = base
        .withColumn("_m", min(unix_micros(col("ts"))).over(w))
        .select(col("user_id").cast("string").as(KeyCol),
          timestamp_micros(unix_micros(col("ts")) - col("_m")).as(TsCol),
          col("value").as(ValueCol))
      TimedeltaAxis.interpolate(
          TimedeltaAxis.resample(td, "1h", grid = true))
        .select(col(KeyCol).as("series_key"),
          unix_micros(col(TsCol)).as("td_us"), r6(col(ValueCol)).as("value"))
        
    },
      s"""WITH t AS (
         |  SELECT user_id,
         |    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS td,
         |    value
         |  FROM events WHERE user_id < 20),
         |b AS (
         |  SELECT user_id, td - td % 3600000000 AS bi, $DetMeanSql AS v
         |  FROM t GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bi) mn, max(bi) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, 3600000000)) AS bi FROM spans),
         |g AS (SELECT grid.user_id, grid.bi, b.v, CAST(grid.bi AS DOUBLE) AS e
         |      FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bi = b.bi),
         |w AS (SELECT user_id, bi, v, e,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
         |  FROM g)
         |SELECT CAST(user_id AS VARCHAR) AS series_key, bi AS td_us,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
         |                THEN pv + (nv - pv) * (e - pt) / (nt - pt)
         |              WHEN pv IS NOT NULL THEN pv END) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin)),

    // SORTING: ascending-value rank re-index (RangeIndex output) over the
    // hourly resample — closes the declared-but-unshipped enum category
    "ts_sort" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      SortValues.transform(resampled, Parameters.empty)
        .select(col(KeyCol).as("series_key"),
          col(TsCol).cast("long").as("rank"), col(ValueCol).as("value"))
        
    },
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  row_number() OVER (PARTITION BY user_id ORDER BY v, bt) - 1 AS rank,
         |  v AS value
         |FROM b ORDER BY 1, 2""".stripMargin)),

    // FAULT_IDENTIFICATION: per-point class labels over the hourly
    // resample (unique buckets make the lag deterministic)
    "ts_fault_identify" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      FaultIdentify.transform(resampled,
          Parameters.of("lo" -> "20.0", "hi" -> "140.0", "jump" -> "40.0"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          col(ValueCol).as("fault_class"))
        
    },
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, bt, v,
         |        lag(v) OVER (PARTITION BY user_id ORDER BY bt) AS pv FROM b)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  CASE WHEN v IS NULL THEN 'missing'
         |       WHEN v < 20.0 THEN 'low'
         |       WHEN v > 140.0 THEN 'high'
         |       WHEN pv IS NOT NULL AND abs(v - pv) > 40.0 THEN 'jump'
         |       ELSE 'ok' END AS fault_class
         |FROM l ORDER BY 1, 2""".stripMargin)),

    // FAULT_DIAGNOSIS: one per-series verdict over the fault classes
    // (integer-percent thresholds — no float division in the rules)
    "ts_fault_diagnosis" -> (((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      val classes = FaultIdentify.transform(resampled,
        Parameters.of("lo" -> "20.0", "hi" -> "140.0", "jump" -> "40.0"))
      FaultDiagnose.transform(classes,
          Parameters.of("high_pct" -> "7", "jump_pct" -> "30", "low_pct" -> "35"))
        .select(col(KeyCol).as("series_key"),
          fmtTs(col(TsCol)).as("last_bucket_ts"), col(ValueCol).as("diagnosis"))
        
    },
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, bt, v,
         |        lag(v) OVER (PARTITION BY user_id ORDER BY bt) AS pv FROM b),
         |cls AS (SELECT user_id, bt,
         |  CASE WHEN v IS NULL THEN 'missing'
         |       WHEN v < 20.0 THEN 'low'
         |       WHEN v > 140.0 THEN 'high'
         |       WHEN pv IS NOT NULL AND abs(v - pv) > 40.0 THEN 'jump'
         |       ELSE 'ok' END AS fc
         |  FROM l),
         |c AS (SELECT user_id, max(bt) AS mbt, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN fc = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS miss,
         |  CAST(SUM(CASE WHEN fc = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS high,
         |  CAST(SUM(CASE WHEN fc = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS low,
         |  CAST(SUM(CASE WHEN fc = 'jump' THEN 1 ELSE 0 END) AS BIGINT) AS jmp
         |  FROM cls GROUP BY 1)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(mbt, '%Y-%m-%d %H:%M:%S') AS last_bucket_ts,
         |  CASE WHEN miss * 2 >= n THEN 'insufficient_data'
         |       WHEN high * 100 >= n * 7 THEN 'over_range'
         |       WHEN jmp * 100 >= n * 30 THEN 'unstable'
         |       WHEN low * 100 >= n * 35 THEN 'under_range'
         |       ELSE 'healthy' END AS diagnosis
         |FROM c ORDER BY 1""".stripMargin)),

    // DIMENSIONALITY_REDUCTION: PCA over the click/view aligned series.
    // The distributed part (exact-decimal scatter accumulation, ops/Pca
    // .fit) is the scale path; the d=2 eigensolve here uses the closed
    // form in a PINNED float shape both engines share (the general-d
    // Jacobi solver is exercised against it in TransformsSpec).
    "ts_pca" -> (((s, dir) => {
      import s.implicits._
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      val m = Pca.fit(byType, Seq("click", "view"))
      val (cxx, cyy, cxy) = (m.cov(0)(0), m.cov(1)(1), m.cov(0)(1))
      val disc = math.sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy)
      val lam1 = ((cxx + cyy) + disc) / 2
      val lam2 = ((cxx + cyy) - disc) / 2
      val nrm = math.sqrt(cxy * cxy + (lam1 - cxx) * (lam1 - cxx))
      val ex = cxy / nrm
      val ey = (lam1 - cxx) / nrm
      def r6d(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
      Seq((m.n, r6d(lam1), r6d(lam2), r6d(lam1 / (lam1 + lam2)),
          r6d(if (ex < 0) -ex else ex), r6d(if (ex < 0) -ey else ey)))
        .toDF("n", "lam1", "lam2", "var_explained", "pc1_x", "pc1_y")
    },
      s"""$ClickViewMomentCtes,
         |cov AS (SELECT n,
         |  (sxx - sx * sx / n) / (n - 1) AS cxx,
         |  (syy - sy * sy / n) / (n - 1) AS cyy,
         |  (sxy - sx * sy / n) / (n - 1) AS cxy
         |  FROM agg),
         |eig AS (SELECT n, cxx, cyy, cxy,
         |  sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy) AS disc FROM cov),
         |lam AS (SELECT n, cxx, cxy,
         |  ((cxx + cyy) + disc) / 2 AS lam1,
         |  ((cxx + cyy) - disc) / 2 AS lam2 FROM eig),
         |vec AS (SELECT n, lam1, lam2,
         |  cxy / sqrt(cxy * cxy + (lam1 - cxx) * (lam1 - cxx)) AS ex,
         |  (lam1 - cxx) / sqrt(cxy * cxy + (lam1 - cxx) * (lam1 - cxx)) AS ey
         |  FROM lam)
         |SELECT n,
         |  floor(lam1 * 1000000.0 + 0.5) / 1000000.0 AS lam1,
         |  floor(lam2 * 1000000.0 + 0.5) / 1000000.0 AS lam2,
         |  floor((lam1 / (lam1 + lam2)) * 1000000.0 + 0.5) / 1000000.0 AS var_explained,
         |  floor((CASE WHEN ex < 0 THEN -ex ELSE ex END) * 1000000.0 + 0.5) / 1000000.0 AS pc1_x,
         |  floor((CASE WHEN ex < 0 THEN -ey ELSE ey END) * 1000000.0 + 0.5) / 1000000.0 AS pc1_y
         |FROM vec""".stripMargin)),

    // order statistics: exact interpolated percentiles per series
    // (Spark `percentile` ≡ DuckDB `quantile_cont`, verified bit-identical)
    "ts_percentiles" -> (((s, dir) => {
      events(s, dir).groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        
    },
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-series CUSUM changepoint — WHERE the level moved (z-score/MAD
    // only say THAT outliers exist): argmax of the exact integer-scaled
    // |n·S_k − k·S_n| (decimal running sums, no float before the
    // decision), earliest-index ties
    "ts_changepoint" -> (((s, dir) => {
      graft.ext.CrossStats.cusumChangepoint(events(s, dir), "user_id",
          "ts", "event_id", "value")
        .select(col("series_key"), col("n"),
          col("cp_idx").cast("long").as("cp_idx"),
          EventOps.epochS(col("cp_ts")).as("cp_ts_s"),
          r6(col("cusum_stat")).as("cusum_stat"))
        
    },
      // identical exact decimal running sums and integer-scaled argmax
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k,
        |    SUM(CAST(value AS DECIMAL(38,6)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n,
        |    SUM(CAST(value AS DECIMAL(38,6)))
        |      OVER (PARTITION BY user_id) AS sn
        |  FROM events),
        |t AS (SELECT user_id, ts, k, n, abs(n * sk - k * sn) AS stat,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY abs(n * sk - k * sn) DESC, k) AS r
        |  FROM s)
        |SELECT CAST(user_id AS VARCHAR) AS series_key, n, CAST(k AS BIGINT) AS cp_idx,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS cp_ts_s,
        |  floor((CAST(stat AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS cusum_stat
        |FROM t WHERE r = 1 ORDER BY 1""".stripMargin)),

    // per-series lag-1 autocorrelation (persistence / mean-reversion /
    // white-noise diagnostic): Pearson over consecutive-observation
    // pairs, event_id tie-break makes the sequence order total
    "ts_autocorr" -> (((s, dir) => {
      graft.ext.CrossStats.acf1ByKey(events(s, dir), "user_id", "ts",
          "event_id", "value")
        .select(col("series_key"), col("n"), r6(col("acf1")).as("acf1"))
        
    },
      // identical lead pairing (ts, event_id total order), identical
      // decimal accumulators and scalar sequence
      """WITH p AS (
        |  SELECT user_id, value AS x,
        |    lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
        |  FROM events),
        |agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS series_key, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT series_key, n,
        |  floor((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    * 1000000.0 + 0.5) / 1000000.0 AS acf1
        |FROM agg ORDER BY 1""".stripMargin)),

    // cross-series Pearson correlation (deterministic decimal accumulators)
    "ts_correlation" -> (((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      graft.ext.CrossStats.correlation(byType, "click", "view")
        .select(col("n"), round(col("corr"), 6).as("corr"))
    },
      s"""$ClickViewMomentCtes
         |SELECT n, round((n * sxy - sx * sy) /
         |  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
         |FROM agg""".stripMargin)),

    // E1/E3/E5 engine executor + versioned naming + dependency graph:
    // run the canonical pipeline through Signal.process and emit the
    // dependency edges of the final series (pinned contract).
    "lineage_edges" -> (((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l",
          DataProvenance(parameter = Some("COD")))
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "true"))
        .process(Seq("A#1_RESAMPLED#1"), ReplaceRanges,
          Parameters.of("ranges" -> "2024-01-10 00:00:00/2024-01-12 00:00:00"))
        .process(Seq("A#1_REPLACED-RANGES#1"), Interpolate)
      sig.dependencyEdges("A#1_LIN-INT#1")
        .toDF().select(col("step"), col("stepType").as("step_type"),
          col("origin"), col("destination"))
        
    },
      """SELECT * FROM (VALUES
        |  ('linear_interpolation', 'gap_filling', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1'),
        |  ('replace_ranges', 'filtering', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |  ('resample', 'resampling', 'A#1_RAW#1', 'A#1_RESAMPLED#1')
        |) t(step, step_type, origin, destination) ORDER BY destination""".stripMargin)),

    // E11 layout: the dependency-graph geometry the reference's
    // plot_dependency_graph draws (node boxes + edge lines, 0.1 pad,
    // i/n staggering), computed from LIVE engine lineage; the oracle
    // recomputes the same arithmetic in SQL from the pinned edge list
    // (recursive-CTE topological depth = the reference's created_on
    // order on engine-produced lineage)
    "lineage_layout" -> (((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l",
          DataProvenance(parameter = Some("COD")))
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "true"))
        .process(Seq("A#1_RESAMPLED#1"), ReplaceRanges,
          Parameters.of("ranges" -> "2024-01-10 00:00:00/2024-01-12 00:00:00"))
        .process(Seq("A#1_REPLACED-RANGES#1"), Interpolate)
      sig.dependencyLayout("A#1_LIN-INT#1")
        .toDF().select(col("kind"), col("label"),
          round(col("x0"), 6).as("x0"), round(col("y0"), 6).as("y0"),
          round(col("x1"), 6).as("x1"), round(col("y1"), 6).as("y1"),
          round(col("xm"), 6).as("xm"), round(col("ym"), 6).as("ym"))
        
    },
      // recomputes the reference's plot_dependency_graph geometry from the
      // pinned edge list: recursive-CTE topological depth orders the nodes,
      // then the i/n box arithmetic and edge midpoints — an independent
      // re-derivation of the same layout math the engine computes
      """WITH RECURSIVE walk(name, d) AS (
        |  SELECT origin, 0 FROM (VALUES
        |    ('resample', 'A#1_RAW#1', 'A#1_RESAMPLED#1'),
        |    ('replace_ranges', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |    ('linear_interpolation', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1')
        |  ) e(step, origin, destination)
        |  WHERE origin NOT IN (SELECT destination FROM (VALUES
        |    ('A#1_RESAMPLED#1'), ('A#1_REPLACED-RANGES#1'), ('A#1_LIN-INT#1')) d(destination))
        |  UNION ALL
        |  SELECT e.destination, w.d + 1
        |  FROM walk w JOIN (VALUES
        |    ('resample', 'A#1_RAW#1', 'A#1_RESAMPLED#1'),
        |    ('replace_ranges', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |    ('linear_interpolation', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1')
        |  ) e(step, origin, destination) ON e.origin = w.name),
        |dep AS (SELECT name, MAX(d) AS d FROM walk GROUP BY 1),
        |ord AS (SELECT name, row_number() OVER (ORDER BY d, name) - 1 AS i,
        |          (SELECT COUNT(*) FROM dep) AS n
        |        FROM dep),
        |edges AS (SELECT * FROM (VALUES
        |    ('resample', 'A#1_RAW#1', 'A#1_RESAMPLED#1'),
        |    ('replace_ranges', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |    ('linear_interpolation', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1')
        |  ) e(step, origin, destination)),
        |noderows AS (
        |  SELECT 'node' AS kind, name AS label,
        |    round(i + 0.1, 6) AS x0, round(i::DOUBLE / n + 0.1, 6) AS y0,
        |    round((i + 1) - 0.1, 6) AS x1, round((i + 1)::DOUBLE / n - 0.1, 6) AS y1,
        |    round(i + 0.5, 6) AS xm, round((i + 0.5) / n, 6) AS ym
        |  FROM ord),
        |edgerows AS (
        |  SELECT 'edge' AS kind, e.step AS label,
        |    round((o.i + 1) - 0.1, 6) AS x0, round((o.i + 0.5) / o.n, 6) AS y0,
        |    round(d.i + 0.1, 6) AS x1, round((d.i + 0.5) / d.n, 6) AS y1,
        |    round(((o.i + 0.5) + (d.i + 0.5)) / 2, 6) AS xm,
        |    round(((o.i + 0.5) / o.n + (d.i + 0.5) / d.n) / 2, 6) AS ym
        |  FROM edges e JOIN ord o ON e.origin = o.name
        |    JOIN ord d ON e.destination = d.name)
        |SELECT * FROM (SELECT * FROM noderows UNION ALL SELECT * FROM edgerows)
        |ORDER BY kind, label""".stripMargin)),

    // E4 lineage dedup: two inputs sharing an identical upstream step
    // (the SAME resample of the SAME raw series) merge into ONE lineage
    // with first-occurrence order preserved — resample appears once,
    // before the interpolation that only one branch carries
    // (types.py:466-473 remove_duplicated_steps)
    "lineage_dedup" -> (((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l")
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RAW#1"), Resample, // identical step → RESAMPLED#2
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RESAMPLED#1"), Interpolate)
      val ds = graft.core.MeteauDataset.of("ld", Seq(sig))
        .process(Seq("A#1_LIN-INT#1", "A#1_RESAMPLED#2"), AverageSignals)
      val steps = ds.signal("AVERAGE#1").meta
        .seriesMeta("AVERAGE#1_RAW#1").get.steps
      steps.zipWithIndex.map { case (st, i) =>
        (i + 1, st.functionInfo.name, st.stepType.value)
      }.toDF("step_idx", "step", "step_type")
    },
      """SELECT * FROM (VALUES
        |  (1, 'resample', 'resampling'),
        |  (2, 'linear_interpolation', 'gap_filling'),
        |  (3, 'average_signals', 'dimensionality_reduction')
        |) t(step_idx, step, step_type) ORDER BY step_idx""".stripMargin)),

    // E9 JSON serde: the full catalog (8 index kinds' worth of fields,
    // lineage, provenance) survives toJson→fromJson losslessly; the
    // emitted per-series rows come from the REPARSED catalog and the
    // round_trip flag pins deep equality with the original
    "json_serde" -> (((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l",
          DataProvenance(parameter = Some("COD")))
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RESAMPLED#1"), Interpolate)
      val meta = graft.core.MeteauDataset.of("js", Seq(sig)).meta
      val back = graft.io.SignalIO.fromJson(graft.io.SignalIO.toJson(meta))
      back.signals.flatMap(sm => sm.series.map { se =>
        (se.seriesKey, se.valuesDtype, se.index.kind.value, se.steps.size,
          se.steps.lastOption.map(_.functionInfo.name).getOrElse(""),
          back == meta)
      }).toDF("series_key", "dtype", "index_kind", "n_steps",
        "last_step", "round_trip")
    },
      """SELECT * FROM (VALUES
        |  ('A#1_LIN-INT#1', 'double', 'datetime', 2, 'linear_interpolation', TRUE),
        |  ('A#1_RAW#1', 'double', 'datetime', 0, '', TRUE),
        |  ('A#1_RESAMPLED#1', 'double', 'datetime', 1, 'resample', TRUE)
        |) t(series_key, dtype, index_kind, n_steps, last_step, round_trip)
        |ORDER BY series_key""".stripMargin)),

    // E11 plot-data operator: the canonical pipeline's series with
    // display mode per trace (prediction rendered lines+markers)
    "plot_frame" -> (((s, dir) => {
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l")
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RESAMPLED#1"), PredictPrevious,
          Parameters.of("frequency" -> "1h"))
      sig.plotFrame(Seq("A#1_RAW#1", "A#1_RESAMPLED#1", "A#1_PREV-PRED#1"), 3600L)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("ts_str"),
          r6(col(ValueCol)).as("value"), col("mode"))
        
    },
      s"""WITH raw AS (
         |  SELECT 'A#1_RAW#1' AS series_key,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor((value) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE user_id = 1),
         |res AS (
         |  SELECT 'A#1_RESAMPLED#1' AS series_key,
         |    strftime(time_bucket(INTERVAL '3600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE user_id = 1
         |  GROUP BY time_bucket(INTERVAL '3600 seconds', ts)),
         |pred AS (
         |  SELECT 'A#1_PREV-PRED#1' AS series_key,
         |    strftime(time_bucket(INTERVAL '3600 seconds', ts) + INTERVAL '3600 seconds', '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines+markers' AS mode
         |  FROM events WHERE user_id = 1
         |  GROUP BY time_bucket(INTERVAL '3600 seconds', ts))
         |SELECT * FROM (SELECT * FROM raw UNION ALL SELECT * FROM res UNION ALL SELECT * FROM pred)
         |ORDER BY series_key, ts_str, value""".stripMargin)),

    // dataset-level plot frame: stacked per-signal subplot rows over two
    // engine-built signals (reference Dataset.plot, types.py:1431-1473)
    "dataset_plot_frame" -> (((s, dir) => {
      val ev = events(s, dir)
      def sigOf(t: String, name: String) = MeteauSignal.ingest(
        Observations.from(ev.where(col("event_type") === t),
          "event_type", "ts", "value").select(col(TsCol), col(ValueCol)),
        name, "mg/l")
        .process(Seq(s"$name#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "15min", "grid" -> "false"))
      val ds = graft.core.MeteauDataset.of("dp",
        Seq(sigOf("click", "C"), sigOf("view", "V")))
      ds.plotFrame(Seq("C#1_RAW#1", "C#1_RESAMPLED#1",
          "V#1_RAW#1", "V#1_RESAMPLED#1"), 900L)
        .select(col(KeyCol).as("series_key"), col("subplot_row"),
          fmtTs(col(TsCol)).as("ts_str"), r6(col(ValueCol)).as("value"),
          col("mode"))
        
    },
      s"""WITH craw AS (
         |  SELECT 'C#1_RAW#1' AS series_key, 1 AS subplot_row,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor((value) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'click'),
         |cres AS (
         |  SELECT 'C#1_RESAMPLED#1' AS series_key, 1 AS subplot_row,
         |    strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'click'
         |  GROUP BY time_bucket(INTERVAL '900 seconds', ts)),
         |vraw AS (
         |  SELECT 'V#1_RAW#1' AS series_key, 2 AS subplot_row,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor((value) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'view'),
         |vres AS (
         |  SELECT 'V#1_RESAMPLED#1' AS series_key, 2 AS subplot_row,
         |    strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'view'
         |  GROUP BY time_bucket(INTERVAL '900 seconds', ts))
         |SELECT * FROM (SELECT * FROM craw UNION ALL SELECT * FROM cres
         |  UNION ALL SELECT * FROM vraw UNION ALL SELECT * FROM vres)
         |ORDER BY series_key, ts_str, value""".stripMargin)),

    // salted two-stage aggregation (skew-resistant; exact decimal partials
    // make the result independent of the salt distribution)
    "skew_salted_mean" -> (((s, dir) => {
      graft.ext.Skew.saltedMeanByKey(events(s, dir), "user_id", "value")
        .select(col("user_id"), round(col("sum"), 2).as("sum"), col("n"),
          r6(col("mean")).as("mean")) // sum/2^k counts can land on x.xxxxxx5
        
    },
      s"""SELECT user_id,
         |  round(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE), 2) AS sum,
         |  COUNT(value) AS n,
         |  floor((CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / COUNT(value)) * 1000000.0 + 0.5) / 1000000.0 AS mean
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // JSON-lines corpus interchange — the lingua-franca export format of
    // LLM data pipelines: write the documents table as JSONL, read it
    // back with an EXPLICIT schema (no driver-side inference pass over
    // TBs), and prove byte fidelity via per-lang counts + id/char sums +
    // an md5-derived text checksum computed on the round-tripped rows.
    // The oracle computes identical checksums from the source table, so
    // a green row pins the encode/decode of every text byte (JSON
    // escaping included).
    "io_jsonl_roundtrip" -> (((s, dir) => {
      val back = s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(jsonlFor(s, dir))
      sortSmall(back.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long"), lit(1000003L))).as("checksum")), "lang")
    },
      // the roundtrip must preserve every byte: the oracle computes the
      // identical per-lang checksums from the SOURCE table
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(SUM(('0x' || substring(md5(text), 1, 15))::BIGINT % 1000003)
        |    AS BIGINT) AS checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // JSON property extraction (multimodal sidecar) + rollup per type
    "json_props" -> (((s, dir) => {
      val e = events(s, dir)
        .withColumn("k", EventOps.jsonLong(col("props"), "$.k"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // E6/E7/E8 persistence round trip: pipeline → save (parquet + JSON
    // catalog) → load → query the reloaded data; matching the oracle's
    // direct computation proves data fidelity through the sink
    "io_roundtrip" -> (((s, dir) => {
      val raw = Observations.from(events(s, dir).where(col("user_id") === 7),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "E", "mg/l")
        .process(Seq("E#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
      val ds = graft.core.MeteauDataset.of("rt", Seq(sig))
      val path = scratch("io_roundtrip", dir)
      graft.io.SignalIO.save(ds, path)
      val loaded = graft.io.SignalIO.load(s, path)
      loaded.signal("E#1").series("E#1_RESAMPLED#1")
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT 'E#1_RESAMPLED#1' AS series_key,
         |  strftime(time_bucket(INTERVAL '3600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events WHERE user_id = 7
         |GROUP BY time_bucket(INTERVAL '3600 seconds', ts)
         |ORDER BY 2""".stripMargin)),

    // mixed-dtype persistence round trip (r3 VERDICT wrong-item 1): a
    // DOUBLE signal and a STRING signal in ONE dataset survive save/load —
    // the tall frame carries mixed catalogs as lossless strings and
    // MeteauSignal.series() re-imposes each series' catalog dtype on
    // access, so neither side nulls or corrupts (the r3 code cast the
    // whole frame to double, nulling every string value)
    "io_roundtrip_mixed" -> (((s, dir) => {
      val ev = events(s, dir).where(col("user_id") === 7)
      val num = MeteauSignal.ingest(
        Observations.from(ev, "user_id", "ts", "value")
          .select(col(TsCol), col(ValueCol)), "N", "mg/l")
      val st = MeteauSignal.ingest(
        Observations.fromTyped(ev, "user_id", "ts", "event_type")
          .select(col(TsCol), col(ValueCol)), "S", "state")
      val ds = graft.core.MeteauDataset.of("mx", Seq(num, st))
      val path = scratch("io_roundtrip_mixed", dir)
      graft.io.SignalIO.save(ds, path)
      val loaded = graft.io.SignalIO.load(s, path)
      val numB = loaded.signal("N#1").series("N#1_RAW#1")
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"),
          r6(col(ValueCol)).as("num_value"),
          lit(null).cast("string").as("str_value"))
      val strB = loaded.signal("S#1").series("S#1_RAW#1")
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"),
          lit(null).cast("double").as("num_value"),
          col(ValueCol).as("str_value"))
      numB.unionByName(strB)
        
    },
      """SELECT 'N#1_RAW#1' AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  floor(value * 1000000.0 + 0.5) / 1000000.0 AS num_value,
        |  CAST(NULL AS VARCHAR) AS str_value
        |FROM events WHERE user_id = 7
        |UNION ALL
        |SELECT 'S#1_RAW#1', CAST(floor(epoch(ts)) AS BIGINT),
        |  CAST(NULL AS DOUBLE), event_type
        |FROM events WHERE user_id = 7
        |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // diurnal profile: per-series hour-of-day deterministic mean — the
    // seasonal-baseline op behind anomaly scoring and capacity planning
    "ts_seasonal_mean" -> (((s, dir) => {
      obsEvents(s, dir)
        .groupBy(col(KeyCol).as("series_key"),
          hour(col(TsCol)).cast("long").as("hour_of_day"))
        .agg(count(lit(1)).as("n"),
          r6(Resample.detMean(col(ValueCol))).as("mean_value"))
        
    },
      // same hour extraction (UTC), same exact-decimal mean
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
         |  COUNT(*) AS n,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))
}
