package perfbench

import graft.core.{DataEquality, MeteauDataset, MeteauSignal, Observations}
import graft.io.SignalIO
import graft.model.Parameters
import graft.ops.{AverageSignals, Interpolate, PredictPrevious, ReplaceRanges, Resample}
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructType, TimestampType}
import scala.collection.mutable

/** The paper's own path: seeded 6-minute signals with gaps go through
  * ingest → resample → replace-ranges → interpolate → predict-previous per
  * signal, a dataset-level average, the lineage walk, and a save → load →
  * read round trip. Nothing is pinned, so every version re-derives from
  * the raw rows. The query is the live feed of the same sensors: one file
  * of new readings lands, and the query ends when the streaming resample's
  * micro-batch over it has committed (closed loop: the next file lands
  * only then). */
final class TsLineage extends Workload {
  import Observations.{KeyCol, TsCol, ValueCol}

  /** Each signal adds a fixed set of Spark jobs and each reading a row
    * cost; perfbench/README.md gives the measured sizes. */
  private val NSig = 2
  private def nObs(ctx: Ctx) = if (ctx.opts.tiny) 400 else 20000
  private def raw(ctx: Ctx) = s"${ctx.work}/ts/raw"
  private def saved(ctx: Ctx) = s"${ctx.work}/ts/saved"
  private def feedDir(ctx: Ctx) = s"${ctx.work}/ts/feed"
  /** Feed files staged at set-up, one per query. */
  private val FeedFiles = 60
  /** Readings per signal in one feed file: five hours. */
  private val FeedObs = 50
  private val FeedSec = 720L
  private val FeedSchema = new StructType().add("sig", IntegerType)
    .add(TsCol, TimestampType).add("value", DoubleType)
  private var feed: StreamingQuery = _
  private var landed = 0
  /** The feed's resampled windows, (series, window start ms) → mean, as
    * the update-mode micro-batches emit them. */
  private val feedOut = mutable.HashMap.empty[(String, Long), Double]
  private val Avg = "AVERAGE#1_RAW#1"
  private val Freq = Parameters.of("frequency" -> "12min")
  private var inputRows = 0L
  /** The pipeline's dataset, computed and pinned at warm-up: the
    * reference the checks compare the last batch's loaded output with. */
  private var reference: MeteauDataset = _

  /** A six-hour sensor calibration window on the first day. */
  private val Ranges =
    Parameters.of("ranges" -> "2020-01-01 03:00:00/2020-01-01 09:00:00")

  def setup(ctx: Ctx): Unit = {
    Files.rmTree(new java.io.File(feedDir(ctx)))
    ctx.span("spark", "stage") {
      val rows = Gen.signals(ctx.opts.seed, NSig, nObs(ctx))
      inputRows = rows.size.toLong
      ctx.spark.createDataFrame(rows).toDF("sig", TsCol, "value")
        .write.mode("overwrite").parquet(raw(ctx))
      // the feed replays the same sensors, one file per FeedObs readings
      val t0 = java.time.Instant.parse("2020-01-01T00:00:00Z").toEpochMilli
      ctx.spark.createDataFrame(Gen.signals(ctx.opts.seed, NSig,
          FeedFiles * FeedObs).map { case (sig, ts, v) =>
            (sig, ts, v, ((ts.getTime - t0) / (FeedObs * 360000L)).toInt) })
        .toDF("sig", TsCol, "value", "chunk").repartition(col("chunk"))
        .write.partitionBy("chunk").parquet(s"${feedDir(ctx)}/staged")
    }
    landed = 0
    feedOut.clear()
    new java.io.File(s"${feedDir(ctx)}/in").mkdirs()
    feed = null
  }

  /** The streaming resample over the feed directory, one file per
    * micro-batch, emitting changed windows. It starts with the first query
    * and stops at the output checks, so that its idle polling runs beside
    * no batch. The stream thread inherits no span; each micro-batch opens
    * its own. */
  private def startFeed(ctx: Ctx): StreamingQuery = ctx.tracer.paused {
    val spark = ctx.spark
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val obs = spark.readStream.schema(FeedSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"${feedDir(ctx)}/in")
      .select(concat(lit("S"), col("sig")).as(KeyCol), col(TsCol),
        col("value").as(ValueCol))
    // a landed file is one micro-batch: no extra batch to move the
    // watermark, which processAllAvailable would not wait for. Two series
    // need one state partition; the stream keeps it for its lifetime.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try StreamingOps.resampleStream(obs, FeedSec).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${feedDir(ctx)}/ckpt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = ctx.span("streaming", "micro_batch")(df.collect())
        feedOut.synchronized(rows.foreach(r =>
          feedOut((r.getString(0), r.getTimestamp(1).getTime)) = r.getDouble(2)))
      }
      .start()
    finally {
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
  }

  private def pipeline(ctx: Ctx): MeteauDataset = {
    val obs = ctx.spark.read.parquet(raw(ctx))
    val sigs = (0 until NSig).map { i =>
      val one = obs.where(col("sig") === i).select(col(TsCol), col("value"))
      val s0 = ctx.span("core", "ingest")(MeteauSignal.ingest(one, s"S$i", "mg/l"))
      val n = s0.meta.name
      val steps = Seq(
        ("resample", s"${n}_RAW#1", Resample, Freq),
        ("replace_ranges", s"${n}_RESAMPLED#1", ReplaceRanges, Ranges),
        ("interpolate", s"${n}_REPLACED-RANGES#1", Interpolate, Parameters.empty),
        ("predict_previous", s"${n}_LIN-INT#1", PredictPrevious, Freq))
      steps.foldLeft(s0) { case (s, (name, in, op, p)) =>
        ctx.span("ops", name)(s.process(Seq(in), op, p))
      }
    }
    val ds = ctx.span("core", "dataset")(MeteauDataset.of("bench", sigs))
    ctx.span("core", "average")(ds.process(
      sigs.map(s => s"${s.meta.name}_PREV-PRED#1"), AverageSignals))
  }

  private def expectedEdges(ctx: Ctx): Set[(String, String)] =
    (0 until NSig).flatMap { i =>
      val n = s"S$i#1"
      Seq(s"${n}_RAW#1" -> s"${n}_RESAMPLED#1",
        s"${n}_RESAMPLED#1" -> s"${n}_REPLACED-RANGES#1",
        s"${n}_REPLACED-RANGES#1" -> s"${n}_LIN-INT#1",
        s"${n}_LIN-INT#1" -> s"${n}_PREV-PRED#1",
        s"${n}_PREV-PRED#1" -> Avg)
    }.toSet

  override def warmup(ctx: Ctx): Unit = {
    val ds = pipeline(ctx)
    reference = ds.copy(data = ds.data.localCheckpoint(true))
    SignalIO.save(reference, saved(ctx))
    Hash.of(SignalIO.load(ctx.spark, saved(ctx)).data): Unit
  }

  def batch(ctx: Ctx): BatchOut = {
    val ds = pipeline(ctx)
    val edges = ctx.span("core", "dependency_edges")(ds.dependencyEdges(Avg))
    require(edges.size == 5 * NSig, s"lineage has ${edges.size} edges")
    ctx.span("io", "save")(SignalIO.save(ds, saved(ctx)))
    val back = ctx.span("io", "load")(SignalIO.load(ctx.spark, saved(ctx)))
    BatchOut(ctx.span("io", "read")(Hash.of(back.data)))
  }

  override def maxQueries: Int = FeedFiles

  /** Lands the next staged feed file and waits for its micro-batch. */
  def query: Option[(Ctx, Int) => Unit] = Some { (ctx, _) =>
    if (feed == null) feed = startFeed(ctx)
    val chunk = new java.io.File(s"${feedDir(ctx)}/staged/chunk=$landed")
    val file = chunk.listFiles().filter(_.getName.endsWith(".parquet")).head
    require(file.renameTo(new java.io.File(
      f"${feedDir(ctx)}/in/part-$landed%05d.parquet")), s"cannot land $file")
    landed += 1
    feed.processAllAvailable()
  }

  /** The landed readings' window means in plain Scala: exact decimal
    * sums over counts, as the engine's resample defines them. */
  private def feedReference(ctx: Ctx): Map[(String, Long), Double] = {
    val ms = FeedSec * 1000
    ctx.spark.read.schema(FeedSchema).parquet(s"${feedDir(ctx)}/in")
      .collect().toSeq
      .groupBy(r => (s"S${r.getInt(0)}", Math.floorDiv(r.getTimestamp(1).getTime, ms) * ms))
      .map { case (k, rs) =>
        val sum = rs.map(r => BigDecimal(r.getDouble(2))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum
        k -> sum.toDouble / rs.size }
  }

  def check(ctx: Ctx, last: BatchOut, dropRow: Boolean): Seq[Check] = {
    val loaded = SignalIO.load(ctx.spark, saved(ctx))
    val back = if (!dropRow) loaded
      else loaded.copy(data = Hash.dropOne(loaded.data))
    val edges = loaded.dependencyEdges(Avg)
      .map(e => e.origin -> e.destination).toSet
    val keys = back.data.select(KeyCol).distinct().count()
    // the feed is done once its output is checked
    if (feed != null) feed.stop()
    val streamed = feedOut.synchronized(feedOut.toMap)
    val got = if (dropRow) streamed - streamed.keys.min else streamed
    val want = feedReference(ctx)
    Seq(
      Check("streamed window means equal the plain-Scala reference",
        want.nonEmpty && got.keySet == want.keySet &&
          want.forall { case (k, v) => math.abs(got(k) - v) <= 1e-9 },
        s"${got.size} windows from $landed files; reference ${want.size}"),
      Check("save/load round trip equals the computed dataset",
        DataEquality.sameDataset(reference, back), s"$keys series"),
      Check("lineage edges of the average equal the expected DAG",
        edges == expectedEdges(ctx),
        s"${edges.size} edges, ${expectedEdges(ctx).size} expected"))
  }

  def figures(ctx: Ctx): Seq[Figure] = {
    val (out, _) = Files.usage(saved(ctx))
    val (in, _) = Files.usage(raw(ctx))
    Seq(Figure("stored_bytes_per_input_byte", out.toDouble / in, "x", 1))
  }

  def ratios(ctx: Ctx, t: TraceSummary): Map[String, Double] = Map(
    "ops.scan_amp" -> t.rowsUnder("save").toDouble /
      math.max(1L, t.spansNamed("save") * inputRows),
    "io.files_written" -> Files.usage(saved(ctx))._2.toDouble,
    // the feed's checkpoint: offset and commit logs, state-store files
    "streaming.state_files" -> Files.usage(s"${feedDir(ctx)}/ckpt")._2.toDouble)
}
