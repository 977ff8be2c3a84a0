package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers. AQE's skew-join handling covers joins at
  * runtime; these cover the aggregation side: a handful of hot keys (one
  * sensor emitting 100× the others, one user dominating an event stream)
  * turn a single reduce partition into the straggler. Salted two-stage
  * aggregation spreads each key over a fixed number of salt values for
  * the partial pass and re-combines — the standard pattern at 100 TB
  * where per-key cardinality is unbounded.
  */
object Skew {

  /** Salt values each key is spread over in the partial pass. */
  private val Salts = 16

  /** Two-stage salted aggregation for algebraic aggregates expressed as
    * (sum, count): stage 1 aggregates (key, salt) — spreading hot keys
    * across [[Salts]] reducers — stage 2 combines the partials per key.
    * Returns (key, sum, n, mean) with the engine's deterministic-mean
    * discipline (exact decimal partials survive both stages). */
  def saltedMeanByKey(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val stage1 = df
      .withColumn("_salt", pmod(xxhash64(col(keyCol), spark_partition_id()), lit(Salts.toLong)))
      .groupBy(col(keyCol), col("_salt"))
      .agg(
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(27, 8))).as("_psum"),
        count(col(valueCol)).as("_pn"))
    stage1.groupBy(col(keyCol))
      .agg(sum(col("_psum")).as("_sum"), sum(col("_pn")).as("n"))
      .select(col(keyCol),
        col("_sum").cast("double").as("sum"),
        col("n").cast("long").as("n"),
        (col("_sum").cast("double") / col("n")).as("mean"))
  }
}
