package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command-line options of one benchmark run. `tiny` shrinks every input
  * for the self-test; `dropRow` deletes one output row before the output
  * checks, which must then fail. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, tiny: Boolean, dropRow: Boolean, root: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(workload = need("--workload"), seed = need("--seed").toLong,
      seconds = need("--seconds").toDouble,
      trace = need("--trace") == "1",
      tiny = kv.get("--size").contains("tiny"),
      dropRow = kv.get("--drop-row").contains("1"),
      root = need("--root"))
  }
}

/** The outcome of one batch operation: an order-independent hash of its
  * output, and the per-item latencies the operation produced on the way
  * (the micro-batch durations of a streaming replay). */
final case class BatchOut(hash: String, itemMs: Seq[Double] = Nil)

final case class Check(name: String, ok: Boolean, detail: String)

/** An end-to-end figure for the human-readable report. */
final case class Figure(name: String, value: Double, unit: String,
    samples: Int)

/** One benchmark workload. The runner owns timing, tracing and
  * reporting; a workload only generates its inputs, runs the program's
  * public functions and checks their outputs. */
trait Workload {
  /** One-off builds a user pays once per input: staging, trained models,
    * indexes. Called several times; each call rebuilds from scratch. */
  def setup(ctx: Ctx): Unit
  /** One complete batch operation, input to collected result. */
  def batch(ctx: Ctx): BatchOut
  /** The untimed warm-up before the timed batches: first-run codegen and
    * JIT are not what a user pays per batch. A workload whose output
    * checks need a reference computed by the batch's own code builds it
    * here, once. */
  def warmup(ctx: Ctx): Unit = batch(ctx): Unit
  /** One closed-loop single query; `None` when the workload's per-item
    * latencies come from [[BatchOut.itemMs]] instead. */
  def query: Option[(Ctx, Int) => Unit]
  /** The most queries, warm-up included, one set-up can serve. */
  def maxQueries: Int = Int.MaxValue
  /** Output checks against references, on the last batch's output. */
  def check(ctx: Ctx, last: BatchOut, dropRow: Boolean): Seq[Check]
  /** Workload-specific end-to-end figures (recall, storage ratios). */
  def figures(ctx: Ctx): Seq[Figure]
  /** Workload-specific per-layer ratios, from the traced run. */
  def ratios(ctx: Ctx, t: TraceSummary): Map[String, Double]
}

/** What a workload sees of the run: the session, the options, its private
  * work directory, the tracer and the micro-batch durations. */
final class Ctx(val spark: SparkSession, val opts: Opts, val work: String,
    val tracer: Tracer, val streams: StreamWatch) {
  def span[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, name)(body)
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "ts_lineage" -> (() => new TsLineage),
    "corpus_curate" -> (() => new CorpusCurate),
    "vector_search" -> (() => new VectorSearch),
    "stream_dedup" -> (() => new StreamDedup))

  val SetupReps = 3
  /** Timed batches at least: one, and a traced run alternates a traced
    * and an untraced one. */
  def minBatchReps(trace: Boolean): Int = if (trace) 2 else 1
  val MinQueries = 10
  val WarmQueries = 2
  /** Workload-specific per-layer ratios; a workload without one reads 0. */
  val Ratios = Seq("ops.scan_amp", "io.files_written", "ext.vector.scan_frac",
    "streaming.state_files")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(v: Any): String = json.writeValueAsString(v)

  def session(opts: Opts, cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one workload. A comma-separated list runs each in turn, each
    * on a fresh session: the class-loading pass whose classes run.py
    * records into the JVM's class-data archive. */
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val names = opts.workload.split(',').toSeq
    val codes = names.map { w =>
      val make = Workloads.getOrElse(w,
        throw new IllegalArgumentException(s"unknown workload $w"))
      val work = s"${opts.root}/.bench_build/work/$w-" +
        ProcessHandle.current().pid()
      try {
        if (names.size > 1) classPass(opts.copy(workload = w), make(), work)
        else run(opts, make(), work)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally {
        if (names.size > 1) SparkSession.getDefaultSession.foreach(_.stop())
        Files.rmTree(new java.io.File(work))
      }
    }
    System.out.flush()
    System.exit(codes.max)
  }

  private def median(xs: collection.Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Each call of the workload once, untimed: the classes a run loads. */
  private def classPass(opts: Opts, wl: Workload, work: String): Int = {
    val ctx = newCtx(session(opts, 4, work), opts, work, trace = false)
    wl.setup(ctx)
    wl.warmup(ctx)
    val out = wl.batch(ctx)
    wl.query.foreach(q => q(ctx, 0))
    val ok = wl.check(ctx, out, dropRow = false).forall(_.ok)
    wl.figures(ctx)
    if (ok) 0 else 1
  }

  def newCtx(spark: SparkSession, opts: Opts, work: String,
      trace: Boolean): Ctx = {
    val streams = new StreamWatch(spark)
    spark.streams.addListener(streams)
    new Ctx(spark, opts, work, new Tracer(spark, trace), streams)
  }

  /** Runs `op` repeatedly until `seconds` have passed and at least `min`
    * runs are done, but at most `max` times; returns the wall time of each
    * successful run and the number that threw. `before` and `after` run
    * untimed around each. */
  private def loop[T](seconds: Double, min: Int, max: Int = Int.MaxValue,
      before: () => Unit = () => (), after: () => Unit = () => ())(op: Int => T)
      : (ArrayBuffer[Double], ArrayBuffer[T], Int) = {
    val times = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[T]
    var failed = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < max && (i < min || System.nanoTime() < end)) {
      before()
      val t0 = System.nanoTime()
      try {
        outs += op(i)
        times += (System.nanoTime() - t0) / 1e6
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: timed operation $i failed: $e")
      }
      after()
      i += 1
    }
    (times, outs, failed)
  }

  def run(opts: Opts, wl: Workload, work: String): Int = {
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val noiseBefore = Noise.sample()
    phase("noise")
    val t0 = System.nanoTime()
    val spark = session(opts, 4, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    phase("session")
    val storage = new StorageWatch(spark)
    spark.sparkContext.addSparkListener(storage)
    val ctx = newCtx(spark, opts, work, opts.trace)
    val tracer = ctx.tracer

    val setupS = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime()
      tracer.span("spark", "setup")(wl.setup(ctx))
      (System.nanoTime() - s0) / 1e9
    }
    phase("setup")
    tracer.paused(wl.warmup(ctx))
    phase("warmup")

    val batchSecs = if (wl.query.isDefined) opts.seconds / 2 else opts.seconds
    // traced runs alternate traced and untraced reps so that the
    // overhead of tracing is measured on the same host state
    val (batchMs, outs, batchFailed) = loop(batchSecs, minBatchReps(opts.trace),
        before = () => storage.startRep(), after = () => storage.endRep()) { i =>
      val traced = opts.trace && i % 2 == 0
      val o = if (traced) tracer.span("spark", "batch")(wl.batch(ctx))
              else tracer.paused(wl.batch(ctx))
      (traced, o)
    }
    phase("batches")
    val tracedMs = batchMs.zip(outs).collect { case (t, (true, _)) => t }
    val plainMs = batchMs.zip(outs).collect { case (t, (false, _)) => t }
    val itemMs = outs.flatMap(_._2.itemMs)
    val (queryMs, _, queryFailed) = wl.query match {
      case Some(q) =>
        (1 to WarmQueries).foreach(i => tracer.paused(q(ctx, -i)))
        loop(opts.seconds - batchSecs, MinQueries,
            wl.maxQueries - WarmQueries) { i =>
          tracer.span("spark", "query")(q(ctx, i))
        }
      case None => (ArrayBuffer.empty[Double], ArrayBuffer.empty[Unit], 0)
    }
    phase("queries")
    val last = outs.lastOption.map(_._2).getOrElse(BatchOut("none"))
    val stable = Check("output hash identical across batch reps",
      outs.map(_._2.hash).distinct.size == 1,
      outs.map(_._2.hash).distinct.mkString(","))
    var checks = stable +: tracer.paused(wl.check(ctx, last, opts.dropRow))
    val figures = tracer.paused(wl.figures(ctx))
    phase("checks")
    val noiseAfter = Noise.sample()

    val attempted = batchMs.size + batchFailed + queryMs.size + queryFailed
    val failed = batchFailed + queryFailed
    val samplesMs = if (wl.query.isDefined) queryMs else itemMs
    val e2e = Seq(
      Figure("setup_s", median(setupS), "s", setupS.size),
      Figure("batch_s_p50", median(plainMs) / 1e3, "s", plainMs.size),
      Figure("query_ms_p50", median(samplesMs), "ms", samplesMs.size),
      Figure("query_ms_p90", Stats.quantile(samplesMs, 0.9), "ms",
        samplesMs.size),
      Figure("session_start_s", sessionS, "s", 1),
      Figure("peak_storage_mb", storage.peakMb, "MB", batchMs.size),
      Figure("failed_frac", failed.toDouble / math.max(1, attempted), "frac",
        attempted)) ++ figures

    val perLayer: Map[String, Double] =
      if (!opts.trace) Map.empty
      else {
        val summary = tracer.summary(cores = 4)
        // the ratios read the four-core run's files, before the one-core
        // run writes its own
        val ratios = wl.ratios(ctx, summary)
        val oneCore = singleCore(opts, wl, s"$work/local1", spark)
        checks :+= Check("output hash identical on local[1]",
          oneCore._1 == last.hash, s"${oneCore._1} vs ${last.hash}")
        summary.metrics ++ Ratios.map(_ -> 0.0) ++ ratios ++ Map(
          "trace.overhead_frac" -> (median(tracedMs) / median(plainMs) - 1),
          "speedup_4v1" -> oneCore._2 / median(plainMs))
      }

    val correct = checks.forall(_.ok) && attempted > failed
    val noise = Noise.judge(noiseBefore, noiseAfter)
    val report = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "metrics" -> e2e.map(f => f.name -> Map("value" -> f.value,
        "unit" -> f.unit, "samples" -> f.samples)).toMap,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "noise" -> noise, "phases_s" -> phases.toMap,
      "samples_ms" -> Map("setup" -> setupS.map(_ * 1e3), "batch" -> batchMs,
        "query" -> samplesMs))
    println("perfbench.report " + toJson(report))
    if (opts.trace) {
      val path = s"${opts.root}/.bench_build/trace/${opts.workload}-seed${opts.seed}.json"
      new java.io.File(path).getParentFile.mkdirs()
      Files.write(path, toJson(tracer.record(report, perLayer)))
      println(s"perfbench.trace $path")
    }
    checks.filterNot(_.ok).foreach(c =>
      System.err.println(s"perfbench: CHECK FAILED ${c.name}: ${c.detail}"))

    val contract: Map[String, Map[String, Any]] =
      if (opts.trace) perLayer.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> LayerUnits.of(k)) }
      else e2e.filter(f => Contract.EndToEnd.contains(f.name))
        .map(f => f.name -> Map[String, Any]("value" -> f.value,
          "unit" -> f.unit)).toMap
    println(toJson(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> contract)))
    if (correct) 0 else 1
  }

  /** Re-runs the workload's batch once on a one-core session, in a work
    * directory of its own: the output must not depend on the partition
    * count, and the time ratio is the four-core speed-up. Returns (hash,
    * wall ms). */
  private def singleCore(opts: Opts, wl: Workload, work: String,
      four: SparkSession): (String, Double) = {
    four.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val one = session(opts, 1, work)
    try {
      val ctx = newCtx(one, opts, work, trace = false)
      wl.setup(ctx)
      val t0 = System.nanoTime()
      val o = wl.batch(ctx)
      (o.hash, (System.nanoTime() - t0) / 1e6)
    } finally one.stop()
  }
}

/** The metric names the contract file lists for untraced runs. */
object Contract {
  val EndToEnd = Set("setup_s", "batch_s_p50", "query_ms_p50")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), NaN when empty. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Files {
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s.getBytes("UTF-8")): Unit

  /** (bytes, data files) under a directory, skipping checksum and
    * marker files. */
  def usage(dir: String): (Long, Int) = {
    var bytes = 0L
    var files = 0
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        bytes += f.length()
        files += 1
      }
    walk(new java.io.File(dir))
    (bytes, files)
  }
}
