package graft.ops

import graft.core.Observations._
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Frequency strings (pandas-style: "5min", "30s", "1h", "D") → seconds.
  * Only fixed-duration frequencies are executable on the data path; month/period
  * frequencies remain catalog metadata (SURVEY.md §1.2). */
object Freq {
  private val Pat = """(\d*)\s*(ns|us|ms|s|sec|min|t|h|hr|d|day)""".r
  def seconds(freq: String): Long = freq.trim.toLowerCase match {
    case Pat(n, unit) =>
      val k = if (n.isEmpty) 1L else n.toLong
      val mult = unit match {
        case "s" | "sec"   => 1L
        case "min" | "t"   => 60L
        case "h" | "hr"    => 3600L
        case "d" | "day"   => 86400L
        case other => throw new IllegalArgumentException(
          s"sub-second frequency '$other' not supported on the data path")
      }
      k * mult
    case _ => throw new IllegalArgumentException(s"cannot parse frequency '$freq'")
  }

  /** Frequency → microseconds. Sub-second units are valid here — the
    * timedelta axis ([[TimedeltaAxis]]) buckets in exact integer µs,
    * where the timestamp-window path bottoms out at whole seconds. */
  def micros(freq: String): Long = freq.trim.toLowerCase match {
    case Pat(n, unit) =>
      val k = if (n.isEmpty) 1L else n.toLong
      unit match {
        case "ns" =>
          require(k % 1000L == 0, s"'$freq' is below the µs axis resolution")
          k / 1000L
        case "us" => k
        case "ms" => k * 1000L
        case "s" | "sec" => k * 1000000L
        case "min" | "t" => k * 60000000L
        case "h" | "hr" => k * 3600000000L
        case "d" | "day" => k * 86400000000L
      }
    case _ => throw new IllegalArgumentException(s"cannot parse frequency '$freq'")
  }
}

/** A univariate series transform — the Spark rendering of the reference's
  * `SignalTransformFunctionProtocol` (/root/reference/src/meteaudata/
  * types.py:479-495). Operates on the tall observations frame; may hold
  * many series at once (each `series_key` is transformed independently) —
  * this is what makes the same operator code run on one sensor or on 10^8
  * of them without change. */
trait SeriesTransform {
  def opName: String
  def suffix: String
  def ptype: ProcessingType
  def description: String
  def requiresCalibration: Boolean = false
  def stepDistance: Int = 0
  def info: FunctionInfo =
    FunctionInfo(opName, "0.1.0", "graft", "graft.ops",
      Some(s"graft.ops.$opName: $description"))
  /** Canonical-schema frame in, canonical-schema frame out.
    * `series_key` values are preserved (renamed by the caller). */
  def transform(series: DataFrame, params: Parameters): DataFrame

  /** Index metadata of the OUTPUT series given the input's — the catalog
    * twin of the reference re-extracting index metadata from the actual
    * series at save time (types.py:82-123): a resample changes the index
    * frequency, so carrying the input's would make the reference's
    * `asfreq(frequency)` reconstruction (types.py:143-145) reindex the
    * data wrongly on reload. Default: unchanged. */
  def updatedIndex(index: graft.model.IndexMeta, params: Parameters): graft.model.IndexMeta =
    index

  /** Value dtype of the OUTPUT series given the input's — the catalog twin
    * of the reference re-extracting the pandas dtype from the produced
    * series (types.py:264-290). Identity for most transforms; classifiers
    * that emit string labels override it so `series()` re-imposes the
    * right type after a reload. */
  def updatedDtype(inputDtype: String): String = inputDtype

  def step(params: Parameters, inputNames: Seq[String], runAt: Long): ProcessingStep =
    ProcessingStep(ptype, description, runAt, requiresCalibration, info,
      params, suffix, stepDistance, inputNames)
}

/** Downsample/upsample to a fixed frequency; bucket values by tumbling
  * window, aggregate with mean, and (pandas parity) emit a row for every
  * bucket between each series' min and max — empty buckets null.
  * Ref: univariate/resample.py:12-51 (`col.resample(f).mean()` at :47).
  * Spark shape: hash-aggregate on (key, bucket) with map-side partials, then
  * a per-key grid via `sequence`+`explode` and a left join that AQE turns
  * into a co-partitioned join (both sides already hashed by key). The
  * deterministic-mean trick (exact decimal sum, single double division) is
  * what makes the result hash-stable across engines and partition counts. */
object Resample extends SeriesTransform {
  val opName = "resample"
  val suffix = "RESAMPLED"
  val ptype = ProcessingType.Resampling
  val description =
    "Resample to a fixed frequency by tumbling-window mean; full bucket grid per series"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val freq = params.get("frequency").getOrElse(
      throw new IllegalArgumentException("resample requires 'frequency'"))
    val grid = params.get("grid").forall(_.toBoolean)
    val sec = Freq.seconds(freq)
    transformFixed(series, sec, grid)
  }

  /** Gridded output is exactly `frequency`-spaced → record it; non-grid
    * output has holes (documented pandas divergence), so a declared
    * frequency would make the reference's asfreq reconstruction expand
    * the grid — record none. */
  override def updatedIndex(index: IndexMeta, params: Parameters): IndexMeta = {
    val grid = params.get("grid").forall(_.toBoolean)
    index.copy(frequency = if (grid) params.get("frequency") else None)
  }

  def transformFixed(series: DataFrame, sec: Long, grid: Boolean): DataFrame = {
    val bucketed = series
      .groupBy(col(KeyCol), window(col(TsCol), s"$sec seconds").getField("start").as(TsCol))
      .agg(detMean(col(ValueCol)).as(ValueCol))
    if (!grid) bucketed.select(col(KeyCol), col(TsCol), col(ValueCol))
    else {
      // Full pandas-style grid: one row per bucket in [min, max] per key.
      val spans = bucketed.groupBy(col(KeyCol))
        .agg(min(TsCol).as("mn"), max(TsCol).as("mx"))
      val gridDf = spans.select(col(KeyCol),
        explode(sequence(col("mn"), col("mx"),
          expr(s"interval $sec seconds"))).as(TsCol))
      gridDf.join(bucketed, Seq(KeyCol, TsCol), "left")
        .select(col(KeyCol), col(TsCol), col(ValueCol))
    }
  }

  /** Order-independent, engine-portable mean: exact decimal(27,8) sum cast
    * to double, then ONE IEEE division — bit-identical under any row order,
    * partitioning, or engine (matches DuckDB
    * `CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE)/COUNT(v)`). Exact for
    * inputs with <= 8 decimal digits (raw 2-decimal readings and our own
    * round(…,6) intermediates); for arbitrary doubles the scale-8 cast is
    * itself deterministic, so the mean stays engine-portable. */
  def detMean(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(v.cast(DecimalType(27, 8))).cast("double") / count(v)
}

/** Fill null gaps by linear interpolation between nearest non-null
  * neighbours; leading nulls stay null, trailing nulls carry the last value
  * (pandas `interpolate(method="linear")` default semantics —
  * SURVEY.md §7.4 item 1). Ref: univariate/interpolate.py:12-52.
  * Spark shape: one running frame in each time direction, both computed in
  * one projection, so the plan holds one Window operator per direction
  * (two, each computing two accumulators) over one hash exchange on the
  * key, with a sort before each; no UDFs, fully codegen'd. */
object Interpolate extends SeriesTransform {
  val opName = "linear_interpolation"
  val suffix = "LIN-INT"
  val ptype = ProcessingType.GapFilling
  val description =
    "Linear interpolation of null gaps between nearest non-null neighbours"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val wPrev = Window.partitionBy(KeyCol).orderBy(TsCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    // next-non-null via a REVERSED running frame, not a
    // (0, unboundedFollowing) frame: Spark's unbounded-following frame
    // (UnboundedFollowingWindowFunctionFrame) recomputes the aggregate
    // from scratch for every row — O(partition²); measured 20 s for 1 M
    // rows vs ~1 s for the running frames. The descending sort shares the
    // same hash exchange, so the cost is one extra O(n log n) sort.
    val wNextRev = Window.partitionBy(KeyCol).orderBy(col(TsCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val v = col(ValueCol)
    val tsS = col(TsCol).cast("double") // epoch seconds
    // stage the four neighbour values as columns: each window expression
    // appears exactly once in the physical Window operator (inlining the
    // Column three times would make Spark evaluate 12 running
    // accumulators instead of 4 — observed in the executed plan). All four
    // in one select: analysis groups the window expressions of one
    // projection by spec, one Window operator per direction; a withColumn
    // per column would stack one Window operator per column.
    val vt = when(v.isNotNull, tsS)
    val staged = series.select(col("*"),
      last(v, ignoreNulls = true).over(wPrev).as("_pv"),
      last(vt, ignoreNulls = true).over(wPrev).as("_pt"),
      last(v, ignoreNulls = true).over(wNextRev).as("_nv"),
      last(vt, ignoreNulls = true).over(wNextRev).as("_nt"))
    val (pv, pt, nv, nt) = (col("_pv"), col("_pt"), col("_nv"), col("_nt"))
    val interp =
      when(v.isNotNull, v)
        .when(pv.isNotNull && nv.isNotNull && (nt =!= pt),
          pv + (nv - pv) * (tsS - pt) / (nt - pt))
        .when(pv.isNotNull, pv) // trailing gap: forward-fill
        .otherwise(lit(null).cast("double")) // leading gap: stays null
    staged.select(col(KeyCol), col(TsCol), interp.as(ValueCol))
  }
}

/** Overwrite values inside [start, end] (inclusive) timestamp ranges with a
  * replacement (reference default: NaN; our null marker — SURVEY.md §1.2).
  * Ref: univariate/replace.py:14-61 (`col.loc[start:end] = replace_with`).
  * Pure projection (`CASE WHEN`) — no shuffle at all. */
object ReplaceRanges extends SeriesTransform {
  val opName = "replace_ranges"
  val suffix = "REPLACED-RANGES"
  val ptype = ProcessingType.Filtering
  val description =
    "Replace values in inclusive timestamp ranges with a constant (default null)"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    // ranges: "start1/end1;start2/end2" (ISO timestamps)
    val ranges = params.get("ranges").getOrElse(
        throw new IllegalArgumentException("replace_ranges requires 'ranges'"))
      .split(';').toSeq.filter(_.nonEmpty).map { r =>
        val Array(s, e) = r.split('/')
        (s.trim, e.trim)
      }
    val replaceWith: org.apache.spark.sql.Column =
      params.get("replace_with") match {
        case Some(x) if x.nonEmpty && x != "null" && x.toLowerCase != "nan" =>
          lit(x.toDouble)
        case _ => lit(null).cast("double")
      }
    val inRange = ranges
      .map { case (s, e) =>
        col(TsCol) >= to_timestamp(lit(s)) && col(TsCol) <= to_timestamp(lit(e)) }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    series.select(col(KeyCol), col(TsCol),
      when(inRange, replaceWith).otherwise(col(ValueCol)).as(ValueCol))
  }
}

/** Naive one-step-ahead forecast ŷ(t+1) = y(t). The reference copies the
  * series and records `step_distance=1`, shifting only at display time
  * (univariate/prediction.py:12-51; types.py:435-448). We materialize the
  * shift as the queryable behaviour (ts + frequency) and keep
  * step_distance=1 in lineage (SURVEY.md §7.4 item 7). */
object PredictPrevious extends SeriesTransform {
  val opName = "predict_previous_point"
  val suffix = "PREV-PRED"
  val ptype = ProcessingType.Prediction
  val description =
    "Naive previous-point forecast: value kept, timestamp advanced one frequency step"
  override val stepDistance = 1

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val freq = params.get("frequency").getOrElse(
      throw new IllegalArgumentException("predict_previous_point requires 'frequency'"))
    val sec = Freq.seconds(freq)
    series.select(col(KeyCol),
      (col(TsCol) + expr(s"interval $sec seconds")).as(TsCol),
      col(ValueCol))
  }
}

/** Centered moving-average smoothing over ±k neighbouring points — fills
  * the reference's declared-but-unshipped SMOOTHING category
  * (types.py:185). Deterministic-mean discipline over a row window (exact
  * decimal sum, one division), so results are engine-portable like every
  * other aggregate. Apply after resampling for a regular grid. */
object Smooth extends SeriesTransform {
  val opName = "moving_average"
  val suffix = "SMOOTH"
  val ptype = ProcessingType.Smoothing
  val description = "Centered moving-average smoothing over +/-k points"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val k = params.get("window").map(_.toInt).getOrElse(2)
    val w = Window.partitionBy(KeyCol).orderBy(TsCol).rowsBetween(-k, k)
    val v = col(ValueCol)
    val smoothed =
      sum(v.cast(DecimalType(27, 8))).over(w).cast("double") /
        count(v).over(w)
    series.select(col(KeyCol), col(TsCol), smoothed.as(ValueCol))
  }
}

/** Centered rolling MEDIAN over ±k points — the robust smoother that
  * shrugs off the outliers a moving average absorbs (second entry in the
  * SMOOTHING category beside [[Smooth]]). Exact semantics: sort the
  * window's values; odd count → the middle element returned EXACTLY,
  * even count (partition edges) → one IEEE mean of the two middle
  * elements — an op sequence the oracle's sorted-list picks replay
  * verbatim, so no float drift is possible. One window pass
  * (collect_list over the frame + sorted picks), no UDF, no extra
  * shuffle; window width bounds the per-row list at 2k+1. */
object RollingMedian extends SeriesTransform {
  val opName = "rolling_median"
  val suffix = "MEDIAN"
  val ptype = ProcessingType.Smoothing
  val description = "Centered rolling median over +/-k points"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val k = params.get("window").map(_.toInt).getOrElse(3)
    val w = Window.partitionBy(KeyCol).orderBy(TsCol).rowsBetween(-k, k)
    val arr = sort_array(collect_list(col(ValueCol)).over(w))
    val n = size(arr)
    val lo = element_at(arr, ((n + 1) / 2).cast("int"))
    val hi = element_at(arr, (n / 2).cast("int") + 1)
    series.select(col(KeyCol), col(TsCol), ((lo + hi) / 2.0).as(ValueCol))
  }
}

/** Trailing exponentially-weighted moving average (pandas `ewm(adjust=
  * True)` semantics, truncated at the last `window` points) — the
  * recency-weighted smoother beside [[Smooth]]'s flat window (third
  * entry in the SMOOTHING category; reference transform protocol
  * /root/reference/src/meteaudata/types.py:479-495).
  *
  * ewma_t = Σ_j β^j·x_{t−j} / Σ_j β^j (β = 1−α, j = 0..window−1), both
  * sums evaluated as the SAME left fold oldest→newest — acc·β + x over
  * the frame's collect_list for the numerator, acc·β + 1 for the
  * denominator — so the IEEE op sequence is fixed and an oracle that
  * replays the fold (DuckDB `list_reduce`) is bit-equal; no pow(), whose
  * last ulp differs across libms. The default α = 1/2 keeps every weight
  * a power of two (multiplication by β exact), so only the adds round.
  * One window pass, row-local fold, per-row state bounded at `window`
  * elements — scales like any bounded-frame window. */
object Ewma extends SeriesTransform {
  val opName = "ewma"
  val suffix = "EWMA"
  val ptype = ProcessingType.Smoothing
  val description = "Trailing exponentially weighted moving average"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val win = params.get("window").map(_.toInt).getOrElse(32)
    val alpha = params.get("alpha").map(_.toDouble).getOrElse(0.5)
    val beta = 1.0 - alpha
    val w = Window.partitionBy(KeyCol).orderBy(TsCol)
      .rowsBetween(-(win - 1), 0)
    val arr = collect_list(col(ValueCol)).over(w)
    val num = aggregate(arr, lit(0.0), (acc, x) => acc * beta + x)
    val den = aggregate(arr, lit(0.0), (acc, _) => acc * beta + 1.0)
    series.select(col(KeyCol), col(TsCol), (num / den).as(ValueCol))
  }
}

/** LTTB-style plot downsampling (Steinarsson 2013, "Downsampling Time
  * Series for Visual Representation", largest-triangle-three-buckets):
  * keep ONE visually-representative point per time bucket — the point
  * maximizing the triangle area against the neighboring buckets' mean
  * points. This is the operator that turns a billion-point series into
  * a plottable one without flattening its peaks (a plain resample
  * averages the spikes away; LTTB keeps them) — the scale path for the
  * engine's plot-data surface (SURVEY §2.2-E11).
  *
  * Parallel variant: anchors are the neighboring buckets' mean points
  * (classic LTTB anchors on the previously SELECTED point, a sequential
  * dependency that cannot distribute; bucket-mean anchoring is the
  * standard parallel approximation and keeps selection bucket-local).
  * Determinism: bucket means are exact decimal sums (engine-portable),
  * the area formula is one fixed IEEE sequence rounded at 6 dp, ties
  * and anchorless edge buckets fall back to earliest-ts — so the
  * selected set is bit-stable across engines and partitionings. Shape:
  * one (key, bucket) aggregate, one lag/lead window over the O(buckets)
  * frame, one co-keyed join back, one row_number — no corpus-wide sort,
  * no driver data. */
object LttbDownsample extends SeriesTransform {
  val opName = "lttb_downsample"
  val suffix = "LTTB"
  val ptype = ProcessingType.Resampling
  val description = "Largest-triangle plot downsampling to one point per bucket"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val sec = params.get("bucketSeconds").map(_.toLong).getOrElse(3600L)
    val tsS = col(TsCol).cast("timestamp").cast("double")
    val dec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => c.cast(DecimalType(27, 8))
    val bucketed = series.withColumn("_b", floor(tsS / sec.toDouble).cast("long"))
    val bstats = bucketed.groupBy(col(KeyCol), col("_b"))
      .agg((sum(dec(tsS)).cast("double") / count(lit(1))).as("_mt"),
        (sum(dec(col(ValueCol))).cast("double") / count(lit(1))).as("_mv"))
    val w = Window.partitionBy(col(KeyCol)).orderBy(col("_b"))
    val anchors = bstats
      .withColumn("_pt", lag(col("_mt"), 1).over(w))
      .withColumn("_pv", lag(col("_mv"), 1).over(w))
      .withColumn("_nt", lead(col("_mt"), 1).over(w))
      .withColumn("_nv", lead(col("_mv"), 1).over(w))
      .drop("_mt", "_mv")
    val joined = bucketed.join(anchors, Seq(KeyCol, "_b"))
    val area = abs(
      (col("_pt") - col("_nt")) * (col(ValueCol) - col("_pv")) -
        (col("_pv") - col("_nv")) * (tsS - col("_pt")))
    val rankKey = when(col("_pt").isNull || col("_nt").isNull, lit(0.0))
      .otherwise(round(area, 6))
    val rw = Window.partitionBy(col(KeyCol), col("_b"))
      .orderBy(rankKey.desc, col(TsCol), col(ValueCol))
    joined.withColumn("_rn", row_number().over(rw))
      .where(col("_rn") === 1)
      .select(col(KeyCol), col(TsCol), col(ValueCol))
  }
}

/** Threshold fault detection: flag series 1.0 when the value leaves
  * [lo, hi], else 0.0 (null stays null) — fills the FAULT_DETECTION
  * category (types.py:192). Pure projection. */
object DetectOutOfRange extends SeriesTransform {
  val opName = "detect_out_of_range"
  val suffix = "FAULT-FLAG"
  val ptype = ProcessingType.FaultDetection
  val description = "Flag values outside [lo, hi] as faults (1.0/0.0)"
  override val requiresCalibration = true

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val lo = params.get("lo").map(_.toDouble).getOrElse(Double.NegativeInfinity)
    val hi = params.get("hi").map(_.toDouble).getOrElse(Double.PositiveInfinity)
    val v = col(ValueCol)
    series.select(col(KeyCol), col(TsCol),
      when(v.isNull, lit(null).cast("double"))
        .when(v < lo || v > hi, 1.0).otherwise(0.0).as(ValueCol))
  }
}

/** Calendar-frequency resample: month/quarter/year/week buckets via
  * `date_trunc` — the pandas `resample("MS"/"QS"/"YS"/"W")` bins the
  * fixed-duration [[Resample]] can't express (months are not a fixed
  * number of seconds). Same deterministic-mean discipline; one hash
  * aggregate on (key, truncated ts). */
object ResampleCalendar extends SeriesTransform {
  val opName = "resample_calendar"
  val suffix = "RESAMPLED-CAL"
  val ptype = ProcessingType.Resampling
  val description =
    "Resample to a calendar frequency (week/month/quarter/year) by mean"

  private val Units = Set("week", "month", "quarter", "year")

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val unit = params.get("frequency").map(_.toLowerCase).map {
      case "m" | "ms" | "month" => "month"
      case "q" | "qs" | "quarter" => "quarter"
      case "y" | "ys" | "a" | "year" => "year"
      case "w" | "week" => "week"
      case other => other
    }.getOrElse(throw new IllegalArgumentException(
      "resample_calendar requires 'frequency'"))
    require(Units(unit), s"unsupported calendar frequency '$unit'")
    transformUnit(series, unit)
  }

  def transformUnit(series: DataFrame, unit: String): DataFrame =
    series
      .groupBy(col(KeyCol), date_trunc(unit, col(TsCol)).as(TsCol))
      .agg(Resample.detMean(col(ValueCol)).as(ValueCol))

  /** Calendar buckets emit only non-empty periods (no grid guarantee), so
    * no frequency is declared for index reconstruction. */
  override def updatedIndex(index: IndexMeta, params: Parameters): IndexMeta =
    index.copy(frequency = None)
}

/** Last-observation resample: one row per (series, bucket) carrying the
  * bucket's latest observation (timestamp ties resolve to the greatest
  * value — deterministic under any partitioning). TYPE-AGNOSTIC: works on
  * string / long / double value columns alike — the non-numeric twin of
  * [[Resample]]'s mean for the reference's any-dtype series
  * (types.py:264-290: equipment states, categorical flags).
  * Spark shape: one hash aggregate of `max(struct(ts, value))` — map-side
  * partial combine, no window, one shuffle on (key, bucket). */
object ResampleLast extends SeriesTransform {
  val opName = "resample_last"
  val suffix = "LAST"
  val ptype = ProcessingType.Resampling
  val description =
    "Tumbling-window last-observation resample (any value dtype)"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val freq = params.get("frequency").getOrElse(
      throw new IllegalArgumentException("resample_last requires 'frequency'"))
    transformFixed(series, Freq.seconds(freq))
  }

  def transformFixed(series: DataFrame, sec: Long): DataFrame =
    series
      .groupBy(col(KeyCol),
        window(col(TsCol), s"$sec seconds").getField("start").as(TsCol))
      .agg(max(struct(col(TsCol).as("t"), col(ValueCol).as("v")))
        .getField("v").as(ValueCol))

  /** Emits only non-empty buckets — no declared frequency (see
    * [[Resample.updatedIndex]]). */
  override def updatedIndex(index: IndexMeta, params: Parameters): IndexMeta =
    index.copy(frequency = None)
}

/** Duplicate-timestamp removal: one observation per (series, ts), keeping
  * the minimum value (a deterministic keeper — documented divergence from
  * pandas' positional "first") — fills the REMOVE_DUPLICATES category
  * (types.py:184). One hash aggregate. */
object DedupTimestamps extends SeriesTransform {
  val opName = "remove_duplicate_timestamps"
  val suffix = "DEDUP-TS"
  val ptype = ProcessingType.RemoveDuplicates
  val description = "Keep one observation per timestamp (min value)"

  def transform(series: DataFrame, params: Parameters): DataFrame =
    series.groupBy(col(KeyCol), col(TsCol))
      .agg(min(col(ValueCol)).as(ValueCol))
}

/** Ascending-value rank re-index: order each series' observations by value
  * (timestamp tie-break) and re-index them onto a RangeIndex of ranks —
  * fills the SORTING category (types.py:183, declared-but-unshipped like
  * SMOOTHING was). The pandas analogue is `sort_values` followed by
  * `reset_index`; here the rank is materialized on the axis since frames
  * are unordered sets. One window pass (row_number) per series — the same
  * shuffle shape as every other keyed window. */
object SortValues extends SeriesTransform {
  val opName = "sort_values"
  val suffix = "SORTED"
  val ptype = ProcessingType.Sorting
  val description =
    "Re-index observations by ascending value rank (RangeIndex output)"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val w = Window.partitionBy(KeyCol)
      .orderBy(col(ValueCol).asc_nulls_last, col(TsCol))
    series.select(col(KeyCol),
      timestamp_seconds(row_number().over(w) - 1).as(TsCol), col(ValueCol))
  }

  /** The output axis is the 0..n-1 rank counter, not time. */
  override def updatedIndex(index: IndexMeta, params: Parameters): IndexMeta =
    IndexMeta(IndexKind.RangeIndex, dtype = "int64",
      start = Some(0L), step = Some(1L))
}

/** Per-point fault classification over a regular series — fills the
  * FAULT_IDENTIFICATION category (types.py:194): each observation becomes
  * a STRING class ('missing' | 'low' | 'high' | 'jump' | 'ok') by
  * range-violation and rate-of-change rules. Run it on a resampled series
  * (unique bucket per row) so the lag is deterministic. One keyed window
  * (lag) + a projection — no extra shuffle after the resample. */
object FaultIdentify extends SeriesTransform {
  val opName = "identify_faults"
  val suffix = "FAULT-ID"
  val ptype = ProcessingType.FaultIdentification
  val description =
    "Classify each point: missing/low/high/jump/ok by range and rate-of-change rules"
  override val requiresCalibration = true

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val lo = params.get("lo").map(_.toDouble).getOrElse(Double.NegativeInfinity)
    val hi = params.get("hi").map(_.toDouble).getOrElse(Double.PositiveInfinity)
    val jump = params.get("jump").map(_.toDouble).getOrElse(Double.PositiveInfinity)
    val w = Window.partitionBy(KeyCol).orderBy(TsCol)
    val v = col(ValueCol)
    val prev = lag(v, 1).over(w)
    val cls =
      when(v.isNull, "missing")
        .when(v < lo, "low")
        .when(v > hi, "high")
        .when(prev.isNotNull && abs(v - prev) > jump, "jump")
        .otherwise("ok")
    series.select(col(KeyCol), col(TsCol), cls.as(ValueCol))
  }

  override def updatedDtype(inputDtype: String): String = "string"
}

/** Per-series diagnosis over a fault-class series — fills the
  * FAULT_DIAGNOSIS category (types.py:195): aggregate the class counts of
  * a [[FaultIdentify]] output into one labelled verdict row per series.
  * Thresholds are INTEGER percents compared with integer cross-products
  * (n_class*100 >= n*pct) — no float division, so the verdict is
  * bit-portable by construction. One hash aggregate. */
object FaultDiagnose extends SeriesTransform {
  val opName = "diagnose_faults"
  val suffix = "FAULT-DIAG"
  val ptype = ProcessingType.FaultDiagnosis
  val description =
    "Aggregate fault classes into one per-series diagnosis verdict"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val highPct = params.get("high_pct").map(_.toInt).getOrElse(5)
    val lowPct = params.get("low_pct").map(_.toInt).getOrElse(5)
    val jumpPct = params.get("jump_pct").map(_.toInt).getOrElse(5)
    val v = col(ValueCol)
    def cnt(c: String) = sum(when(v === c, 1L).otherwise(0L))
    val agg = series.groupBy(col(KeyCol)).agg(
      max(col(TsCol)).as(TsCol), // diagnosis timestamped at the last point
      count(lit(1)).as("_n"), cnt("missing").as("_miss"),
      cnt("high").as("_high"), cnt("low").as("_low"), cnt("jump").as("_jump"))
    val n = col("_n")
    // severity-ordered rules: saturation > instability > dropout
    val diag =
      when(col("_miss") * 2L >= n, "insufficient_data")
        .when(col("_high") * 100L >= n * highPct, "over_range")
        .when(col("_jump") * 100L >= n * jumpPct, "unstable")
        .when(col("_low") * 100L >= n * lowPct, "under_range")
        .otherwise("healthy")
    agg.select(col(KeyCol), col(TsCol), diag.as(ValueCol))
  }

  override def updatedDtype(inputDtype: String): String = "string"

  /** One verdict row per series — no meaningful frequency. */
  override def updatedIndex(index: IndexMeta, params: Parameters): IndexMeta =
    index.copy(frequency = None)
}

/** Scalar map `value * k` — the reference's documented custom-transform
  * pattern (snippets/all_together_signal.py:11-44, README.md:239-274:
  * `my_func` doubling values, suffix DBL). Shows the extension surface:
  * any `DataFrame => DataFrame` with native expressions slots in. */
object ScaleValues extends SeriesTransform {
  val opName = "scale_values"
  val suffix = "DBL"
  val ptype = ProcessingType.Transformation
  val description = "Multiply every value by a constant factor"

  def transform(series: DataFrame, params: Parameters): DataFrame = {
    val k = params.get("factor").map(_.toDouble).getOrElse(2.0)
    series.select(col(KeyCol), col(TsCol), (col(ValueCol) * k).as(ValueCol))
  }
}
