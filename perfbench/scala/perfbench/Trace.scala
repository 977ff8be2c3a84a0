package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The repository's modules, as the layers the trace reports. */
object Layers {
  val all: Seq[String] = Seq("core", "ops", "io", "ext.dedup", "ext.text",
    "ext.corpus", "ext.vector", "streaming", "spark")

  private val byFile: Map[String, String] = Map(
    "core" -> Seq("Engine", "Naming", "Observations", "Model"),
    "ops" -> Seq("Transforms", "IntAxis", "Multivariate", "Pca",
      "TimedeltaAxis"),
    "io" -> Seq("SignalIO"),
    "ext.dedup" -> Seq("Dedup", "UrlOps"),
    "ext.text" -> Seq("TextAnalysis", "QualityModel"),
    "ext.corpus" -> Seq("Corpus", "Ranks", "Graph", "CurationPipeline",
      "PartitionPrefixSum"),
    "ext.vector" -> Seq("Similarity", "Kmeans"),
    "streaming" -> Seq("StreamingDedup", "StreamingOps", "StreamingAnn"))
    .toSeq.flatMap { case (l, fs) => fs.map(f => s"$f.scala" -> l) }.toMap

  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** The first module file in a job's call stack (Spark's long call
    * site), skipping shared helpers such as `Pin.scala`: the module that
    * asked for the job. */
  def moduleFile(longCallSite: String): Option[String] =
    Frame.findAllMatchIn(longCallSite).map(_.group(1)).find(byFile.contains)

  /** A job belongs to its module file's layer; a job the benchmark
    * itself triggered belongs to its span's layer. */
  def of(file: Option[String], spanLayer: String): String =
    file.flatMap(byFile.get).getOrElse(spanLayer)
}

object LayerUnits {
  def of(metric: String): String = metric.split('.').last match {
    case "jobs" | "tasks" | "scan_rows" | "state_files" | "files_written" =>
      "count"
    case "shuffle_mb" | "spill_mb" => "MB"
    case "skew_max" | "scan_amp" | "speedup_4v1" => "x"
    case "wall_s" => "s"
    case "plan_ms" => "ms"
    case _ => "frac"
  }
}

final class SpanRec(val id: Int, val parent: Int, val layer: String,
    val name: String, val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

final class JobRec(val id: Int, val span: Int, val callSite: String,
    var file: Option[String], val execution: Option[String],
    val startMs: Long) {
  var endMs: Long = startMs
}

final class StageRec(val span: Int, val job: Option[Int]) {
  val runMs = mutable.ArrayBuffer.empty[Long]
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rows = 0L
}

final class QeRec(val span: Int, val func: String, val planMs: Long,
    val counters: Map[String, Int])

/** Per-layer figures of a traced run, plus the raw span tree for the
  * workload-specific ratios. */
final case class TraceSummary(metrics: Map[String, Double],
    spanNames: Map[Int, String], spanParents: Map[Int, Int],
    stageRows: Seq[(Int, Long)]) {
  private def under(span: Int, name: String): Boolean =
    span >= 0 && (spanNames.get(span).contains(name) ||
      under(spanParents.getOrElse(span, -1), name))

  /** Rows read by scans inside spans named `name` (at any depth). */
  def rowsUnder(name: String): Long =
    stageRows.collect { case (s, r) if under(s, name) => r }.sum

  def spansNamed(name: String): Int = spanNames.values.count(_ == name)
}

/** Records a span around each benchmark call into a module and attributes
  * every Spark job, stage, task and executed plan to the span that was
  * open when it ran. A disabled tracer runs bodies untouched, so untraced
  * runs pay nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Key

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var current = -1
  @volatile private var pausedDepth = 0

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s => Tracer.this.synchronized {
        // the result stage carries the job's call site: its name is the
        // short form, its details the call stack
        val result = e.stageInfos.sortBy(_.stageId).lastOption
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
        jobs(e.jobId) = new JobRec(e.jobId, s, result.map(_.name).getOrElse(""),
          result.flatMap(r => Layers.moduleFile(r.details)), exec, e.time)
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }}
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s => Tracer.this.synchronized {
        stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
          new StageRec(s, stageJob.get(e.stageInfo.stageId))
      }}
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        for (st <- stages.get((e.stageId, e.stageAttemptId));
             m <- Option(e.taskMetrics)) {
          st.runMs += m.executorRunTime
          st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.rows += m.inputMetrics.recordsRead
        }
      }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val s = current
      if (s >= 0) {
        val planMs = qe.tracker.phases
          .collect { case (p, ph) if p != "parsing" => ph.durationMs }.sum
        val counters = scala.util.Try(
          graft.PlanAudit.counters(qe.executedPlan.toString) ++
            graft.PlanAudit.scaleCounters(qe.sparkPlan)).getOrElse(Map.empty)
        Tracer.this.synchronized { qes += new QeRec(s, func, planMs, counters) }
      }
    }
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || pausedDepth > 0) body
    else {
      val sc = spark.sparkContext
      // plan events of the parent's queries are delivered asynchronously
      // and read `current`: deliver them before the child opens
      PerfbenchBus.drain(sc)
      val parent = current
      val rec = synchronized {
        val r = new SpanRec(spans.size, parent, layer, name,
          System.currentTimeMillis(), System.nanoTime())
        spans += r
        r
      }
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, rec.id.toString)
      current = rec.id
      try body
      finally {
        PerfbenchBus.drain(sc)
        rec.endMs = System.currentTimeMillis()
        rec.endNs = System.nanoTime()
        sc.setLocalProperty(Key, prev)
        current = parent
      }
    }

  /** Runs `body` with tracing off: its jobs carry no span and are not
    * counted. */
  def paused[T](body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    val prev = sc.getLocalProperty(Key)
    val prevCurrent = current
    sc.setLocalProperty(Key, null)
    current = -1
    pausedDepth += 1
    try body
    finally {
      PerfbenchBus.drain(sc)
      pausedDepth -= 1
      current = prevCurrent
      sc.setLocalProperty(Key, prev)
    }
  }

  private def unionMs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Adaptive execution runs each query stage as a job of its own whose
    * call stack is a thread pool's; such a job takes the module file of
    * a job of the same SQL execution. */
  private def resolveFiles(): Unit = {
    val byExec = jobs.values.flatMap(j => for (e <- j.execution; f <- j.file)
      yield e -> f).toMap
    jobs.values.filter(_.file.isEmpty).foreach(j =>
      j.file = j.execution.flatMap(byExec.get))
  }

  def summary(cores: Int): TraceSummary = synchronized {
    resolveFiles()
    val spanLayer = spans.map(s => s.id -> s.layer).toMap
    val roots = spans.filter(_.parent < 0)
    val totalMs = roots.map(_.ms).sum
    def layerOf(j: JobRec) = Layers.of(j.file, spanLayer(j.span))
    val jobLayer = jobs.values.map(j => j -> layerOf(j)).toSeq
    val stageLayer = stages.values.map(s => s -> s.job.flatMap(jobs.get)
      .map(layerOf).getOrElse(spanLayer(s.span))).toSeq
    val nonSparkMs = unionMs(jobLayer.collect {
      case (j, l) if l != "spark" => (j.startMs, j.endMs) })
    val planByLayer = qes.groupBy(q => spanLayer(q.span))
      .map { case (l, qs) => l -> qs.map(_.planMs).sum }
    val perLayer = Layers.all.flatMap { l =>
      val js = jobLayer.collect { case (j, `l`) => j }
      val ss = stageLayer.collect { case (s, `l`) => s }
      val wallMs =
        if (l == "spark") math.max(0.0, totalMs - nonSparkMs)
        else unionMs(js.map(j => (j.startMs, j.endMs))).toDouble
      val runMs = ss.flatMap(_.runMs).sum.toDouble
      val skew = ss.filter(_.runMs.size >= 2).map { s =>
        s.runMs.max / math.max(1.0, Stats.quantile(s.runMs.map(_.toDouble).toSeq, 0.5))
      }
      Seq(
        s"$l.jobs" -> js.size.toDouble,
        s"$l.tasks" -> ss.map(_.runMs.size).sum.toDouble,
        s"$l.busy_frac" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
        s"$l.shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1048576.0,
        s"$l.spill_mb" -> ss.map(_.spillBytes).sum / 1048576.0,
        s"$l.skew_max" -> (if (skew.isEmpty) 0.0 else skew.max),
        s"$l.plan_share" -> planByLayer.getOrElse(l, 0L) / math.max(1.0, totalMs),
        s"$l.scan_rows" -> ss.map(_.rows).sum.toDouble,
        s"$l.wall_share" -> wallMs / math.max(1.0, totalMs))
    }
    TraceSummary(
      perLayer.toMap ++ Map(
        "trace.wall_s" -> totalMs / 1e3,
        "trace.plan_ms" -> qes.map(_.planMs).sum.toDouble),
      spans.map(s => s.id -> s.name).toMap,
      spans.map(s => s.id -> s.parent).toMap,
      stages.values.map(s => (s.span, s.rows)).toSeq)
  }

  /** The full trace record: spans, jobs with their call-site files,
    * executed plans with their shape counters, and the figures. */
  def record(report: Map[String, Any], perLayer: Map[String, Double])
      : Map[String, Any] = synchronized {
    val spanLayer = spans.map(s => s.id -> s.layer).toMap
    val jobRecs = jobs.values.toSeq.map { j =>
      Map("job" -> j.id, "span" -> j.span, "call_site" -> j.callSite,
        "file" -> j.file.getOrElse(""),
        "layer" -> Layers.of(j.file, spanLayer(j.span)),
        "ms" -> (j.endMs - j.startMs))
    }
    val byFile = jobs.values.groupBy(_.file.getOrElse("(none)"))
      .map { case (f, js) => f -> Map("jobs" -> js.size,
        "ms" -> js.map(j => j.endMs - j.startMs).sum) }
    Map("report" -> report, "per_layer" -> perLayer,
      "jobs_by_file" -> byFile,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "ms" -> s.ms)),
      "jobs" -> jobRecs,
      "plans" -> qes.toSeq.map(q => Map("span" -> q.span, "func" -> q.func,
        "plan_ms" -> q.planMs, "counters" -> q.counters)))
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Storage memory held by cached, pinned and checkpointed RDD blocks,
  * from the block manager's own updates. `peakMb` is the most any one
  * batch rep added on top of what was held when it started. */
final class StorageWatch(spark: SparkSession) extends SparkListener {
  private val held = mutable.HashMap.empty[String, Long]
  private var cur = 0L
  private var repBase = 0L
  private var repPeak = 0L
  var peakMb = 0.0

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val id = i.blockId.name
      cur += i.memSize - held.getOrElse(id, 0L)
      if (i.memSize == 0) held -= id else held(id) = i.memSize
      repPeak = math.max(repPeak, cur)
    }
  }

  def startRep(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { repBase = cur; repPeak = cur }
  }

  def endRep(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      peakMb = math.max(peakMb, (repPeak - repBase) / 1048576.0)
    }
  }
}

/** Micro-batch durations (`triggerExecution`) of the streaming queries a
  * batch ran, in arrival order. */
final class StreamWatch(spark: SparkSession) extends StreamingQueryListener {
  private val ms = mutable.ArrayBuffer.empty[Double]
  private val inputRows = mutable.ArrayBuffer.empty[Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0)
      Option(e.progress.durationMs.get("triggerExecution"))
        .foreach(v => ms += v.toDouble)
  }

  /** Durations recorded since the last call. */
  def take(): Seq[Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { val out = ms.toList; ms.clear(); out }
  }
}

/** Host-noise sentinel: a fixed CPU loop on one thread and on four at
  * once, and the load average, sampled before and after a run. A run whose
  * loop times drift is flagged as noisy instead of being read as a change
  * in the program. */
object Noise {
  final case class Sample(calibMs: Double, calib4Ms: Double, load1: Double)

  @volatile private var sink = 0L

  private def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }

  /** Wall time of four loops on four threads. */
  private def spin4(): Double = {
    val t0 = System.nanoTime()
    val ts = Seq.fill(4)(new Thread(() => { spin(); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def sample(): Sample = {
    spin()
    val calib = Seq.fill(3)(spin()).min
    val calib4 = Seq.fill(2)(spin4()).min
    val load = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg")
      .getLines().next().split(' ').head.toDouble).getOrElse(-1.0)
    Sample(calib, calib4, load)
  }

  val MaxDrift = 1.25

  def judge(before: Sample, after: Sample): Map[String, Any] = {
    val drift = after.calibMs / before.calibMs
    val drift4 = after.calib4Ms / before.calib4Ms
    def off(d: Double) = d > MaxDrift || d < 1 / MaxDrift
    Map("calib_ms_before" -> before.calibMs, "calib_ms_after" -> after.calibMs,
      "calib4_ms_before" -> before.calib4Ms,
      "calib4_ms_after" -> after.calib4Ms,
      "load1_before" -> before.load1, "load1_after" -> after.load1,
      "drift" -> drift, "drift4" -> drift4,
      "noisy" -> (off(drift) || off(drift4)))
  }
}
