package graft.ext

import graft.core.Observations._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-series statistics with the engine's deterministic-numerics
  * discipline: all accumulations are exact decimal sums (order- and
  * partitioning-independent); floating point appears only in a fixed
  * sequence of scalar ops at the end, so distributed results are
  * bit-stable and oracle-portable — the same property that lets every
  * aggregate in this engine hash-match a single-threaded reference.
  */
object CrossStats {

  /** Outlier threshold in σ ([[zscoreAnomalies]]) or MAD units. */
  private val OutlierZ = 3.0

  /** Pearson correlation between two aligned series (inner join on ts).
    * Inputs should be pre-rounded to <= 6 decimals. Accumulators are
    * DECIMAL(38,6): the scale-6 cast of each term is deterministic (same
    * IEEE double in, same decimal out in any engine) and the scaled sums
    * stay < 2^53, so the decimal→double casts are exact — no
    * last-ulp divergence between engines even at large n.
    * corr = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²)),
    * evaluated in exactly that shape. Returns one row: (n, corr). */
  def correlation(obs: DataFrame, keyA: String, keyB: String): DataFrame = {
    val a = obs.where(col(KeyCol) === keyA)
      .select(col(TsCol), col(ValueCol).as("x"))
    val b = obs.where(col(KeyCol) === keyB)
      .select(col(TsCol), col(ValueCol).as("y"))
    val joined = a.join(b, Seq(TsCol))
    val dec: Column => Column = c => c.cast(DecimalType(38, 6))
    val agg = joined.agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).cast("double").as("sx"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("x") * col("y"))).cast("double").as("sxy"),
      sum(dec(col("x") * col("x"))).cast("double").as("sxx"),
      sum(dec(col("y") * col("y"))).cast("double").as("syy"))
    agg.select(col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr"))
  }

  /** Per-series z-score anomaly counts: a row is anomalous when
    * |x − mean| > z·σ (population). The threshold decision is evaluated
    * WITHOUT ever materializing mean or σ: |x − mean| > z·σ ⟺
    * (n·x − Σx)² > z²·(n·Σx² − (Σx)²), where the sums are exact decimal
    * accumulations cast once to double — both engines then execute the
    * same fixed scalar op sequence, so the flag is bit-stable under any
    * partitioning or row order (no sqrt, no division anywhere).
    *
    * Scale shape: one map-side-combinable stats aggregate (O(series)
    * rows), a join back keyed identically (Catalyst broadcasts while the
    * stats frame is small and falls back to a co-partitioned join — the
    * SAME key as the final count — beyond that), a row-local flag, one
    * count aggregate. No window over the raw stream. */
  def zscoreAnomalies(obs: DataFrame): DataFrame = {
    val dec: Column => Column = c => c.cast(DecimalType(38, 6))
    val stats = obs.groupBy(col(KeyCol)).agg(
      count(col(ValueCol)).as("n"),
      sum(dec(col(ValueCol))).cast("double").as("s1"),
      sum(dec(col(ValueCol) * col(ValueCol))).cast("double").as("s2"))
    val nD = col("n").cast("double")
    val lhs = nD * col(ValueCol) - col("s1")
    val rhs = lit(OutlierZ * OutlierZ) *
      (nD * col("s2") - col("s1") * col("s1"))
    obs.join(stats, KeyCol)
      .select(col(KeyCol), ((lhs * lhs) > rhs).cast("long").as("_an"))
      .groupBy(col(KeyCol).as("series_key"))
      .agg(count(lit(1)).as("n"), sum(col("_an")).as("n_anomalies"))
  }

  /** Per-series MAD (median-absolute-deviation) outlier counts — the
    * ROBUST counterpart of [[zscoreAnomalies]]: a single wild spike
    * inflates σ and hides its siblings, while the median/MAD pair is
    * insensitive to up to half the points being bad. A row is an outlier
    * when |x − median| > z·MAD, MAD = median(|x − median|).
    *
    * Exact sorted-pick medians (odd count → middle element verbatim, even
    * → one IEEE mean of the two middles — the same op sequence an oracle's
    * `list_sort` picks replay, so no float drift), then a row-local
    * deviation transform and a second pick over the deviations, all on ONE
    * aggregated row per series: a single hash aggregate (shuffles only the
    * series key), no window, no second corpus pass. Per-series state is
    * the sorted value list — the in-memory-series bound the reference
    * itself lives under (types.py:479-495 operates on a materialized
    * pandas series); beyond that, swap the picks for a two-pass
    * approx-quantile without touching callers. z is [[OutlierZ]] (no
    * 1.4826 σ-consistency factor — it buys nothing for thresholding and
    * costs a non-portable multiply). */
  def madOutliers(obs: DataFrame): DataFrame = {
    def midPick(arr: Column): Column = {
      val n = size(arr)
      val lo = element_at(arr, ((n + 1) / 2).cast("int"))
      val hi = element_at(arr, (n / 2).cast("int") + 1)
      (lo + hi) / 2.0
    }
    obs.groupBy(col(KeyCol).as("series_key"))
      .agg(sort_array(collect_list(col(ValueCol))).as("_sv"))
      .withColumn("med", midPick(col("_sv")))
      .withColumn("mad",
        midPick(sort_array(transform(col("_sv"), x => abs(x - col("med"))))))
      .select(col("series_key"), size(col("_sv")).cast("long").as("n"),
        col("med"), col("mad"),
        size(filter(col("_sv"),
          x => abs(x - col("med")) > lit(OutlierZ) * col("mad")))
          .cast("long").as("n_outliers"))
  }

  /** Per-series lag-1 autocorrelation (sample ACF over the ordered
    * sequence): Pearson correlation of (x_t, x_{t+1}) pairs of
    * CONSECUTIVE observations — the persistence/mean-reversion signal
    * (sensor drift, oversmoothing, white-noise checks) the reference's
    * fault-detection family implies but never exposes. `tieCol` makes
    * the sequence order total when timestamps repeat, so the lead pairs
    * — and the statistic — are deterministic in any engine.
    *
    * Numerics ≡ [[correlation]]: exact DECIMAL(38,6) accumulators, the
    * fixed (n·Σxy − ΣxΣy)/(√·√) scalar sequence at the end. Shape: ONE
    * per-series window (the same sort a per-series operator family
    * already pays), one hash aggregate. */
  def acf1ByKey(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val dec: Column => Column = c => c.cast(DecimalType(38, 6))
    val pairs = df
      .withColumn("_y", lead(col(valCol), 1).over(w))
      .where(col("_y").isNotNull)
      .select(col(keyCol), col(valCol).as("_x"), col("_y"))
    pairs.groupBy(col(keyCol).cast("string").as("series_key"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("_x"))).cast("double").as("sx"),
        sum(dec(col("_y"))).cast("double").as("sy"),
        sum(dec(col("_x") * col("_y"))).cast("double").as("sxy"),
        sum(dec(col("_x") * col("_x"))).cast("double").as("sxx"),
        sum(dec(col("_y") * col("_y"))).cast("double").as("syy"))
      .select(col("series_key"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("acf1"))
  }

  /** Per-series CUSUM changepoint: the index k maximizing
    * |S_k − (k/n)·S_n| (the classic cumulative-sum mean-shift statistic)
    * — WHERE the series' level moved, where z-score/MAD only say THAT
    * outliers exist. The argmax decision runs entirely on the EXACT
    * integer-scaled form |n·S_k − k·S_n| (running sums as DECIMAL(38,6),
    * no float anywhere before the decision), so the chosen index is
    * bit-stable across engines and partitionings; ties break to the
    * earliest index. The reported statistic is the conventional
    * normalized |S_k − (k/n)·S_n| = exact/n, one IEEE division + round.
    *
    * Shape: one per-series window (running sum + row number share ONE
    * sort), a per-series total via the same-partition unbounded frame,
    * one argmin-style row_number — the same per-series-window cost
    * envelope interpolation already pays. */
  def cusumChangepoint(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String): DataFrame = {
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val dec: Column => Column = c => c.cast(DecimalType(38, 6))
    val scored = df
      .withColumn("_k", row_number().over(wRun))
      .withColumn("_sk", sum(dec(col(valCol))).over(wRun))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_sn", sum(dec(col(valCol))).over(wAll))
      // exact integer-scaled statistic: no float before the argmax.
      // Precision envelope: n·S needs digits(n) + digits(S) ≤ 38, i.e.
      // with 6-dp sums the product holds while n·Σ|x| < 10^32 (e.g. 10^9
      // rows of |x| ≤ 10^14). Beyond that Spark's non-ANSI decimal math
      // NULLs the product silently and the argmax would pick an
      // arbitrary row — so overflow fails LOUDLY instead (ADVICE r9):
      // raise_error only evaluates when the product overflowed to null
      // on non-null inputs.
      .withColumn("_stat",
        when(col("_sk").isNull || col("_sn").isNull,
          lit(null).cast(DecimalType(38, 6)))
        .otherwise(coalesce(
          abs(col("_n") * col("_sk") - col("_k") * col("_sn")),
          raise_error(lit("cusumChangepoint: n*sum exceeded DECIMAL(38,6) " +
            "precision — series too large/extreme for the exact statistic")))))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("_stat").desc, col("_k"))
    scored.withColumn("_r", row_number().over(wPick)).where(col("_r") === 1)
      .select(col(keyCol).cast("string").as("series_key"),
        col("_n").as("n"), col("_k").as("cp_idx"), col(tsCol).as("cp_ts"),
        (col("_stat").cast("double") / col("_n")).as("cusum_stat"))
  }

  /** Per-series winsorization: clamp each observation into its series'
    * [pLo, pHi] exact interpolated-percentile band — the standard
    * heavy-tail taming step ahead of mean-based models (the robust
    * alternative to DROPPING outliers: mass is preserved, only leverage
    * is cut). Reference treats out-of-range values via replace/flag
    * (types.py DetectOutOfRange family); winsorize is the continuous
    * counterpart.
    *
    * Determinism: Spark `percentile` is the exact interpolated order
    * statistic, verified bit-identical to DuckDB `quantile_cont`
    * (ts_percentiles); both bounds are rounded to 6 dp BEFORE the clamp
    * so the branch decision and the emitted value are engine-portable
    * (the clamp itself copies bits, no arithmetic).
    *
    * Scale shape: one map-side-combinable percentile aggregate (O(series)
    * rows) + a join back on the SAME key the final consumer groups on —
    * Catalyst broadcasts the bounds frame while small and falls back to a
    * co-partitioned join beyond that. No window over the raw stream. */
  def winsorize(obs: DataFrame, pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    val r6: Column => Column = c => floor(c * 1000000.0 + 0.5) / 1000000.0
    val bounds = obs.groupBy(col(KeyCol)).agg(
      r6(expr(s"percentile($ValueCol, $pLo)")).as("_lo"),
      r6(expr(s"percentile($ValueCol, $pHi)")).as("_hi"))
    obs.join(bounds, KeyCol)
      .select(col(KeyCol), col(TsCol), col(ValueCol),
        when(col(ValueCol) < col("_lo"), col("_lo"))
          .when(col(ValueCol) > col("_hi"), col("_hi"))
          .otherwise(col(ValueCol)).as("value_w"),
        (col(ValueCol) < col("_lo") || col(ValueCol) > col("_hi"))
          .cast("long").as("clipped"))
  }
}
