package graft.streaming

import graft.core.Observations._
import graft.ops.Resample
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the engine operators over the same
  * tall observations schema (SURVEY.md §2.3 "Streaming"). The reference is
  * batch-only; these are the extension surface a live sensor feed needs.
  * Semantics match the batch operators exactly — the streaming resample is
  * the same tumbling-window deterministic mean, so a bounded stream
  * replayed through it hash-matches the batch result (tested in
  * StreamingSpec and the stream_resample oracle query).
  */
object StreamingOps {

  /** Tumbling-window resample as a streaming aggregation. With a watermark
    * the state store evicts closed windows (append mode for unbounded
    * runs); for bounded replays run in complete mode. */
  def resampleStream(stream: DataFrame, sec: Long,
      watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark(TsCol, watermark)
      // group on the window column ITSELF: extracting .start before the
      // groupBy severs the event-time column from the grouping keys and
      // the analyzer rejects append mode ("aggregation without watermark")
      .groupBy(col(KeyCol), window(col(TsCol), s"$sec seconds").as("_w"))
      .agg(Resample.detMean(col(ValueCol)).as(ValueCol))
      .select(col(KeyCol), col("_w").getField("start").as(TsCol), col(ValueCol))

  /** Replay a bounded parquet table through the streaming engine and
    * return the materialized result (memory sink, available-now trigger).
    * This is how the oracle checks the streaming path: bounded replay ≡
    * batch semantics. */
  def replayResample(spark: SparkSession, parquetPath: String,
      toObs: DataFrame => DataFrame, sec: Long,
      queryName: String): DataFrame = {
    // single-file fixture or part-file directory — streamSource branches
    val stream = StreamingDedup.streamSource(spark, parquetPath)
    val agg = resampleStream(toObs(stream), sec)
    // reuse the sink name across invocations: drop the previous run's
    // memory table so repeated replays don't accumulate result copies
    spark.catalog.dropTempView(queryName)
    // StreamingDedup.runBounded narrows the replay to 8 shuffle
    // partitions and skips the no-data micro-batch (the Complete-mode agg
    // needs no watermark-advancing empty batch) — one data batch, one
    // commit round; results are partitioning-independent (detMean's
    // exact decimal partials).
    //
    // Measured floor (sf0.1, 100 k rows, r6): total ≈ 1.6 s, of which
    // addBatch ≈ 1.1 s — the streaming stateful-agg execution itself, not
    // tunables: checkpoint-on-tmpfs, 2/8/32 state partitions, and
    // dropping the watermark all measure within noise, and a stream
    // grouped the same way with count() instead of the windowed detMean
    // still costs ≈ 0.45 s addBatch. The batch twin of this exact plan
    // runs 0.45 s end-to-end, so the remaining gap is the
    // StateStoreRestore/Save path around the aggregate — per-batch cost
    // that amortizes with batch size on a live stream, which is what the
    // operator is for; the bounded replay pays it once per run.
    //
    // RocksDB state store: the r8 streamfloor tier measured min-of-3
    // replay times batch=0.49 s / hdfs=1.23 s / rocksdb=1.14 s at sf0.1,
    // so RocksDB shaves ~8% off the state-store commit floor and is the
    // provider a long-running production stream wants anyway (state
    // spills off-heap instead of living in executor memory). Recorded in
    // BASELINE.md §streaming-floor.
    StreamingDedup.runBounded(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(
      agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory")
        .queryName(queryName))
    spark.table(queryName)
  }

  /** Streaming gap-based sessionization with explicit per-key state:
    * events accumulate into an open session; a session closes (and is
    * emitted) when a later event arrives more than `gapSeconds` after the
    * session's end — OR when the event-time watermark passes the
    * session's end + gap (idle sessions flush via
    * `GroupStateTimeout.EventTimeTimeout`, so state is bounded: a key
    * that stops sending holds state only until the watermark catches up,
    * not forever). The streaming twin of EventOps.sessionStats — the
    * flatMapGroupsWithState extension point for session-window state.
    * `watermark` is the late-arrival tolerance; it also bounds the state
    * store size at scale (keys × open-session window). */
  case class SessionState(startS: Long, endS: Long, n: Long)
  case class SessionOut(series_key: String, start_s: Long, end_s: Long,
      n_events: Long)

  def sessionizeStream(stream: DataFrame, gapSeconds: Long,
      watermark: String = "1 hour")
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    stream
      .withWatermark(TsCol, watermark)
      .as[ObsEvent]
      .groupByKey(_.series_key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, events: Iterator[ObsEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap with no new events: nothing can
            // extend this session any more — flush and drop the state
            val out = state.getOption
              .map(c => SessionOut(key, c.startS, c.endS, c.n)).iterator
            state.remove()
            out
          } else {
            val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.value))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val s = e.ts.getTime / 1000L
              cur match {
                case Some(c) if s - c.endS <= gapSeconds =>
                  cur = Some(c.copy(endS = s, n = c.n + 1))
                case Some(c) =>
                  closed += SessionOut(key, c.startS, c.endS, c.n)
                  cur = Some(SessionState(s, s, 1))
                case None =>
                  cur = Some(SessionState(s, s, 1))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // flush once the watermark passes the session-extension
              // horizon (timeout timestamps may not trail the watermark)
              state.setTimeoutTimestamp(math.max((c.endS + gapSeconds) * 1000L,
                state.getCurrentWatermarkMs() + 1000L))
            }
            closed.iterator
          }
      }
      .toDF()
  }

  /** Replay one bounded parquet table as TWO independent streams and run
    * a stream-stream probe over them (the two-sided twin of
    * [[StreamingDedup.replayDocs]]). This is the harness for
    * stream-stream JOINS: each side gets its own file-source lineage, so
    * the join really executes through the streaming symmetric-hash-join
    * operator with per-side watermark state — not a self-join collapse.
    * Same narrowed session conf as the one-stream replay
    * ([[StreamingDedup.runBounded]]); results land in a memory sink. */
  def replayTwoStreams(spark: SparkSession, parquetPath: String,
      queryName: String)
      (probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    def mkStream() = StreamingDedup.streamSource(spark, parquetPath)
    spark.catalog.dropTempView(queryName)
    StreamingDedup.runBounded(spark)(probe(mkStream(), mkStream()).writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName))
    spark.table(queryName)
  }

  case class ObsEvent(series_key: String, ts: java.sql.Timestamp, value: Double)
  case class SeriesState(n: Long, sumE8: Long)
  case class SeriesStat(series_key: String, n: Long, mean: Double)

  /** Per-key running statistics via explicit state — the
    * mapGroupsWithState extension point for custom streaming state
    * (count + running mean per series). The sum accumulates as a SCALED
    * LONG (value·10⁸, exact for the ≤ 8-dp fixture values — the same
    * exactness rule as `Resample.detMean`'s DECIMAL(27,8) cast), so the
    * state is ORDER-INVARIANT: the emitted mean is bit-identical
    * whatever order events arrive in, across micro-batch boundaries,
    * and to the batch aggregate — which is what lets the bounded-replay
    * oracle (`stream_running_stats`) hash-pin this path. The final mean
    * reproduces the decimal→double→÷count op sequence of the batch
    * detMean exactly. */
  def runningStats(stream: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    stream.as[ObsEvent]
      .groupByKey(_.series_key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[ObsEvent], state: GroupState[SeriesState]) =>
          val prev = state.getOption.getOrElse(SeriesState(0L, 0L))
          var n = prev.n; var s = prev.sumE8
          events.foreach { e => n += 1; s += math.round(e.value * 1e8) }
          state.update(SeriesState(n, s))
          val mean = if (n == 0) 0.0
            else new java.math.BigDecimal(s).movePointLeft(8).doubleValue() / n
          SeriesStat(key, n, mean)
      }
      .toDF()
  }
}
