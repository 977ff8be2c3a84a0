package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The tall observations schema: one row per (series, timestamp) —
  * the 100 TB-scale representation of the reference's per-column
  * `pd.Series` (SURVEY.md §1.4). Partition/shuffle unit is `series_key`;
  * all window specs partition by it so a single upstream repartition is
  * reused across chained operators.
  */
object Observations {
  val KeyCol = "series_key"
  val TsCol = "ts"
  val ValueCol = "value"

  val schema: StructType = StructType(Seq(
    StructField(KeyCol, StringType, nullable = false),
    StructField(TsCol, TimestampType, nullable = false),
    StructField(ValueCol, DoubleType, nullable = true)))

  /** Normalize an arbitrary 3-column frame into the canonical schema. */
  def from(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    df.select(
      col(key).cast(StringType).as(KeyCol),
      col(ts).cast(TimestampType).as(TsCol),
      col(value).cast(DoubleType).as(ValueCol))

  /** Canonical frame that KEEPS the source value dtype (the reference
    * stores any pandas dtype and restores it on load, types.py:264-290;
    * string/long state series flow through the type-agnostic operators —
    * dedup, replace, last-resample — unchanged). */
  def fromTyped(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    df.select(
      col(key).cast(StringType).as(KeyCol),
      col(ts).cast(TimestampType).as(TsCol),
      col(value).as(ValueCol))

  /** Ingest a wide frame (one column per series — the reference's
    * `Signal.__init__` DataFrame path, types.py:547-606) by unpivoting. */
  def fromWide(df: DataFrame, tsCol: String, valueCols: Seq[String]): DataFrame = {
    val stacked = df.unpivot(
      Array(col(tsCol)), valueCols.map(col).toArray, KeyCol, ValueCol)
    stacked.select(
      col(KeyCol),
      col(tsCol).cast(TimestampType).as(TsCol),
      col(ValueCol).cast(DoubleType).as(ValueCol))
  }

  /** Union two observation frames, tolerating differing value dtypes:
    * mixed unions are carried as LOSSLESS STRINGS (mirroring
    * SignalIO.catalogDtype; `MeteauSignal.series` re-imposes each series'
    * catalog dtype on access). Spark's own set-operation coercion widens
    * string+double to DOUBLE, which throws under ANSI (or silently nulls
    * under legacy) on every non-numeric value. */
  def union(a: DataFrame, b: DataFrame): DataFrame = {
    val (ta, tb) = (a.schema(ValueCol).dataType, b.schema(ValueCol).dataType)
    if (ta == tb) a.unionByName(b)
    else a.withColumn(ValueCol, col(ValueCol).cast(StringType))
      .unionByName(b.withColumn(ValueCol, col(ValueCol).cast(StringType)))
  }

  /** Empty observations frame. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Normalize the event-time column [[TsCol]] to session-tz `TimestampType`,
    * whatever dtype the producer wrote it as. The events fixture has
    * shipped as nanos-as-long (parquet NANOS read raw), as
    * `timestamp[us]`-no-tz (Spark 4's `TIMESTAMP_NTZ`), and as plain
    * TIMESTAMP — this is the single place that absorbs the next drift.
    * The session timezone is pinned UTC, so the NTZ→TZ cast is a pure
    * retag (same micros value), and all downstream epoch math stays exact.
    * Works on batch and streaming frames alike (schema-driven, no data
    * peek). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema(TsCol).dataType match {
      case LongType => // raw parquet NANOS read as long (nanosAsLong=true)
        df.withColumn(TsCol, expr(s"timestamp_micros($TsCol div 1000)"))
      case TimestampNTZType =>
        df.withColumn(TsCol, col(TsCol).cast(TimestampType))
      case _ => df
    }
}
