package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ordering primitives.
  *
  * A naive global `row_number() OVER (ORDER BY …)` collapses the whole
  * relation into ONE task — the classic scale-killer for ranking,
  * percentile and equi-depth-histogram queries. The shape that survives
  * 100 TB is range-partition → local sort → local row_number → add
  * per-partition offsets (a ~nParts-row cumulative sum, broadcast back).
  * Total cost: one range shuffle + one tiny side aggregate, with full
  * nParts-way parallelism on the big side.
  *
  * Fan-out: every entry point takes `nParts` with default 0 = "use
  * `spark.sql.shuffle.partitions`". A hard-coded constant here would cap
  * the rank/prefix stages of every caller at that constant regardless of
  * cluster size — the session conf is the knob operators size to the
  * cluster, so the rank stages scale with it like every other shuffle.
  * Callers with a genuine reason (tiny side frames, tests) pass an
  * explicit positive override.
  */
object Ranks {

  /** Resolve the fan-out: a positive override wins, else the session's
    * `spark.sql.shuffle.partitions` (the same default every hash/range
    * exchange in the plan gets). */
  private def fanOut(df: DataFrame, nParts: Int): Int =
    if (nParts > 0) nParts
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Global 1-based row numbers under the total order `ord` (callers must
    * include a unique tiebreak column so the order — and therefore the
    * numbering — is deterministic under any partitioning).
    *
    * The per-partition offset frame is O(nParts) rows: its single-
    * partition cumulative-sum window is driver-trivial by construction,
    * and it joins back broadcast. `spark_partition_id` is ordered by the
    * range partitioner (partition i holds keys below partition i+1), so
    * offset(p) = Σ counts of partitions < p is exactly the global rank
    * base.
    *
    * The (_pid, _lrn)-stamped frame is PINNED with an eager
    * localCheckpoint before the offset aggregate and the join both
    * consume it: RangePartitioner's boundary sample is seeded by the
    * RDD id, so two EXECUTIONS of the same range exchange draw
    * different boundaries — un-pinned, the offset branch and the rank
    * branch can disagree on what partition a row landed in and the
    * global numbers come out silently wrong (the ranks1m tier caught
    * exactly this at 1M rows; below ~full-sample sizes both executions
    * see every row and the bug hides). At cluster scale the pin is the
    * standard between-stage materialization of the frame being
    * ranked. */
  def globalRowNumber(df: DataFrame, ord: Seq[Column], nParts: Int = 0,
      out: String = "rn"): DataFrame = {
    val np = fanOut(df, nParts)
    // (_pid, _lrn) derive from monotonically_increasing_id AFTER an
    // explicit within-partition sort: mid = (partitionIndex << 33) +
    // rowOrdinal, and range partition i holds keys below partition
    // i+1, so the pair IS the (partition, local rank) the old
    // row_number window computed — without the window's second
    // full-corpus hash exchange on _pid (one shuffle + one local sort
    // total; ordinals overflow only past 2^33 rows per partition).
    // The id is evaluated exactly once thanks to the pin below.
    val local = df.repartitionByRange(np, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33).cast("int"))
      .withColumn("_lrn",
        col("_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
      .drop("_mid")
      .transform(Pin.pin)
    val offsets = local.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_off", coalesce(
        sum(col("_cnt")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    local.join(broadcast(offsets), Seq("_pid"))
      .withColumn(out, col("_off") + col("_lrn"))
      .drop("_pid", "_lrn", "_off")
  }

  /** Per-stratum 1-based row numbers under the total order `ord` WITHIN
    * each stratum (same contract as [[globalRowNumber]]: `ord` must be a
    * total order inside a stratum). The range partitioner keys on
    * (strata, ord) so a stratum spans a CONTIGUOUS run of partitions and
    * every partition holds full parallel work even when one stratum is
    * most of the corpus — the skewed-language regime that makes a plain
    * `Window.partitionBy(stratum)` a single-task stall. The offset frame
    * is O(nParts · nStrataPerBoundary) rows and joins back broadcast. */
  def stratifiedRowNumber(df: DataFrame, strata: Seq[String],
      ord: Seq[Column], nParts: Int = 0, out: String = "rn"): DataFrame = {
    val np = fanOut(df, nParts)
    val sCols = strata.map(col)
    // same one-shuffle construction as [[globalRowNumber]]: a stratum's
    // rows are CONTIGUOUS within a partition (the local sort leads with
    // the strata), so mid − min(mid over (partition, stratum)) is the
    // 0-based per-stratum local rank — the per-(partition, stratum)
    // minimum rides the SAME O(nParts·strata) frame as the offsets.
    val local = df.repartitionByRange(np, (sCols ++ ord): _*)
      .sortWithinPartitions((sCols ++ ord): _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33).cast("int"))
      // pinned for the same two-consumer boundary-determinism reason as
      // [[globalRowNumber]] — see its doc comment
      .transform(Pin.pin)
    val offsets = local.groupBy((col("_pid") +: sCols): _*)
      .agg(count(lit(1)).as("_cnt"), min(col("_mid")).as("_base"))
      .withColumn("_off", coalesce(
        sum(col("_cnt")).over(Window.partitionBy(sCols: _*)
          .orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((col("_pid") +: sCols :+ col("_base") :+ col("_off")): _*)
    // NULL is a stratum of its own (window partitioning groups NULLs
    // together), so the offset join must be null-safe — a plain equi-join
    // never matches a NULL stratum key and silently DROPS those rows.
    local.join(broadcast(nullSafeRenamed(offsets, strata)),
        nullSafeCond(strata), "inner")
      .withColumn(out, col("_off") + (col("_mid") - col("_base")) + lit(1L))
      .drop(nullSafeDrops(strata): _*)
      .drop("_pid", "_mid", "_base", "_off")
  }

  /** Offset frame with `_pid` and the strata renamed to collision-free
    * `_ns_*` names so the null-safe join condition can reference both
    * sides unambiguously. */
  private def nullSafeRenamed(offsets: DataFrame,
      strata: Seq[String]): DataFrame =
    ("_pid" +: strata).foldLeft(offsets)((d, c) =>
      d.withColumnRenamed(c, "_ns_" + c))

  /** `_pid` equality plus `<=>` on every stratum column — NULL strata
    * match NULL strata, matching window-partitioning semantics. */
  private def nullSafeCond(strata: Seq[String]): Column =
    ("_pid" +: strata)
      .map(c => col(c) <=> col("_ns_" + c))
      .reduce(_ && _)

  private def nullSafeDrops(strata: Seq[String]): Seq[String] =
    ("_pid" +: strata).map("_ns_" + _)

  /** Per-stratum INCLUSIVE running sum of `value` under the total order
    * `ord` — the distributed prefix-sum primitive behind budget
    * truncation ("take documents in hash order until the stratum's
    * token budget is spent"), cumulative-share curves, and greedy
    * packing decisions. A naive `sum(v) OVER (PARTITION BY stratum
    * ORDER BY ord)` collapses each stratum into ONE task, and the
    * dominant stratum of a real corpus IS most of the corpus — the same
    * single-task stall [[stratifiedRowNumber]] exists to avoid, except
    * rank can ride partition ordinals while a running SUM genuinely
    * needs the values scanned in order. The scale shape here is the
    * textbook two-phase parallel prefix sum, relationally:
    *
    *   1. range-partition on (strata, ord) — a stratum spans a
    *      CONTIGUOUS run of partitions, every partition holds parallel
    *      work even under one-stratum skew;
    *   2. per-(partition, stratum) local running sums — computed by the
    *      custom [[graft.plans.PartitionPrefixSum]] physical operator
    *      in one forward pass over each partition's stored order. A
    *      window (`sum(v) OVER (PARTITION BY _pid, strata ORDER BY
    *      ord)`) computes the same values but WindowExec demands its
    *      child be hash-partitioned on the partition keys, re-shuffling
    *      the corpus the range exchange just placed — a second
    *      full-width exchange carrying zero information, which is
    *      exactly the custom-SparkPlan case in the build plan's
    *      preference order;
    *   3. per-(partition, stratum) totals — an O(nParts · strata) frame
    *      — prefix-summed over `_pid` per stratum and broadcast back as
    *      each slice's base offset.
    *
    * ONE corpus exchange total (the range shuffle; the offsets
    * aggregate moves O(nParts · strata) rows and the offset join is
    * broadcast). `value` is cast to long — the offsets and the local
    * sums must add exactly for the result to be partitioning-invariant
    * (the repo-wide exact-sum discipline). The range-partitioned sorted
    * frame is PINNED with an eager localCheckpoint BOTH for the
    * two-consumer boundary-determinism reason of [[globalRowNumber]]
    * (offsets and prefix scan consume it) and because the custom
    * operator's contract is "rows arrive grouped and ordered as
    * stored". */
  def stratifiedRunningSum(df: DataFrame, strata: Seq[String],
      ord: Seq[Column], value: Column, nParts: Int = 0,
      out: String = "run_sum"): DataFrame = {
    val np = fanOut(df, nParts)
    val sCols = strata.map(col)
    val local = df.withColumn("_val", value.cast("long"))
      .repartitionByRange(np, (sCols ++ ord): _*)
      .sortWithinPartitions((sCols ++ ord): _*)
      .withColumn("_pid", spark_partition_id())
      .transform(Pin.pin)
    // _off stays NULL when no earlier partition of the stratum carried a
    // non-null value — `sum() OVER` semantics demand the running sum be
    // null exactly until the stratum's first non-null value, and that
    // first value can sit partitions away from a row whose own local
    // prefix (_ls) is still null
    val offsets = local.groupBy((col("_pid") +: sCols): _*)
      .agg(sum(col("_val")).as("_psum"))
      .withColumn("_off",
        sum(col("_psum")).over(Window.partitionBy(sCols: _*)
          .orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select((col("_pid") +: sCols :+ col("_off")): _*)
    // null-safe offset join for the same reason as [[stratifiedRowNumber]]:
    // NULL is a stratum of its own, and a plain equi-join would drop every
    // null-stratum row on the floor
    graft.plans.PartitionPrefixSum.runningSum(local, strata, "_val", "_ls")
      .join(broadcast(nullSafeRenamed(offsets, strata)),
        nullSafeCond(strata), "inner")
      .withColumn(out,
        when(col("_ls").isNull && col("_off").isNull, lit(null).cast("bigint"))
          .otherwise(coalesce(col("_off"), lit(0L)) +
            coalesce(col("_ls"), lit(0L))))
      .drop(nullSafeDrops(strata): _*)
      .drop("_pid", "_val", "_ls", "_off")
  }

  /** Exact (t/q)-quantile cutoff frame (_lo, _hi, _r) over `value` with
    * tiebreak `tie`: the two order statistics bracketing position
    * (n−1)·t/q, picked from a [[globalRowNumber]] rank frame — one
    * range shuffle with full parallelism, never a corpus-sized
    * sorted-list aggregate on one task. `_lo`/`_hi` are DECIMAL(38,6)
    * (values are 6-dp grid ranks/scores), `_r` = (t·(n−1)) mod q, so
    * callers compare `q·v ≥ (q−_r)·_lo + _r·_hi` in exact decimal
    * arithmetic. An empty input yields one all-null row — downstream
    * comparisons are null → filters drop everything, the
    * degrade-to-empty contract. */
  def orderStatCut(df: DataFrame, value: Column, tie: Column,
      t: Int, q: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val nF = df.agg(count(lit(1)).as("_n"))
    val ranked = globalRowNumber(
      df.select(value.as("_v"), tie.as("_tb")),
      Seq(col("_v"), col("_tb")), out = "_rn")
    val loIdx = floor(lit(t) * (col("_n") - 1) / q) + 1
    val hiIdx = least(loIdx + 1, col("_n"))
    ranked.crossJoin(broadcast(nF))
      .where(col("_rn") === loIdx || col("_rn") === hiIdx)
      .agg(
        min(when(col("_rn") === loIdx, col("_v"))).cast(dec).as("_lo"),
        min(when(col("_rn") === hiIdx, col("_v"))).cast(dec).as("_hi"),
        min(pmod(lit(t) * (col("_n") - 1), lit(q.toLong))).as("_r"))
  }
}
