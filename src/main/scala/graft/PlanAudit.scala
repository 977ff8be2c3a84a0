package graft

/** Ad-hoc physical-plan audit over declared queries: one summary line of
  * join/exchange/codegen structure per query, plus the full formatted
  * plan with `--full`. The cheap way to answer "did this query pick up
  * an accidental cartesian / lose its broadcast / fall out of
  * whole-stage codegen" without reading walls of explain output.
  *
  *   sbt "runMain graft.PlanAudit <sfDir> q1,q2,..."
  *   sbt "runMain graft.PlanAudit <sfDir> q1 --full"
  *   sbt "runMain graft.PlanAudit <sfDir> --record plan_shapes.json"
  *
  * `--record` snapshots the counters of EVERY declared query into a JSON
  * baseline, under the name of the sf dir (`sf0.1`, ...): plans differ
  * by scale (a join broadcast at one scale shuffles at another), so each
  * scale has its own entry, and recording one leaves the others as they
  * are. [[QueryProbe]]'s `--guard` replays its scale's entry and goes
  * red when a query grows a CartesianProduct / BroadcastNestedLoop /
  * extra shuffle Exchange / extra shuffle-side join relative to it
  * (r10 VERDICT task 5 — a plan regression is a red build, not a
  * next-round forensic exercise).
  */
object PlanAudit {

  /** scale (sf dir name) → query → counter → value */
  type Snapshot = Map[String, Map[String, Map[String, Int]]]

  /** The snapshot key of an sf dir: its last path element. */
  def scaleOf(sfDir: String): String = new java.io.File(sfDir).getName

  /** The snapshot in `file`; empty when there is no such file. */
  def readSnapshot(file: java.io.File): Snapshot = {
    import scala.jdk.CollectionConverters._
    type JMap = java.util.Map[String, Object]
    def obj(o: Object) = o.asInstanceOf[JMap].asScala.toMap
    if (!file.exists()) Map.empty
    else obj(new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(file, classOf[JMap]))
      .map { case (sf, qs) => sf -> obj(qs).map { case (q, m) =>
        q -> obj(m).map { case (k, v) => k -> v.asInstanceOf[Number].intValue }
      } }
  }

  /** One line per query, scales and queries sorted by name. */
  private def render(snap: Snapshot): String = {
    def q(s: String) = "\"" + s + "\""
    snap.toSeq.sortBy(_._1).map { case (sf, qs) =>
      qs.toSeq.sortBy(_._1).map { case (n, m) =>
        s"    ${q(n)}: " + m.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
      }.mkString(s"  ${q(sf)}: {\n", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")
  }

  /** The guarded plan-shape counters, from an executedPlan string.
    * Codegen spans are NOT here: under AQE the pre-execution plan
    * carries no codegen markers (isFinalPlan=false), so they'd record
    * as zero and guard nothing — the join/exchange structure is the
    * reliable, deterministic part of a pre-execution audit. */
  def counters(plan: String): Map[String, Int] = {
    def c(re: String) = re.r.findAllIn(plan).length
    Map(
      "cart" -> c("CartesianProduct"),
      "bnl" -> c("BroadcastNestedLoop"),
      "bhj" -> c("BroadcastHashJoin"),
      "smj" -> c("SortMergeJoin"),
      "shj" -> c("ShuffledHashJoin"),
      // negative lookbehind: "BroadcastExchange " must not inflate the
      // SHUFFLE-exchange count (r10 review)
      "exch" -> c("(?<!Broadcast)Exchange "))
  }

  /** Scale-shape counters from the PHYSICAL PLAN TREE (the r12 verdict's
    * order-statistic family, guarded structurally):
    *
    *  - `gwin`: unpartitioned Window operators whose input is NOT
    *    already aggregate-reduced — the single-task global-sort shape
    *    that collapses a corpus onto one task. A tiny unpartitioned
    *    window ABOVE an aggregate (e.g. [[graft.ext.Ranks]]' O(nParts)
    *    offset cumulative sum) is benign by construction and excluded.
    *  - `gclist`: collect_list in an aggregate with NO grouping keys —
    *    the corpus-sized sorted-list buffer (per-group collect_lists
    *    over bounded groups, e.g. per-series, are not counted).
    *
    * Computed over `sparkPlan` (pre-AQE, full operator tree — under AQE
    * the executed plan is a leaf wrapper that `collect` cannot
    * descend). */
  def scaleCounters(plan: org.apache.spark.sql.execution.SparkPlan)
      : Map[String, Int] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    def isAgg(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => true
      case _ => false
    }
    val gwin = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
          w.child.find(isAgg).isEmpty => w
    }.size
    val gclist = plan.collect {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.exists(_.toString.contains("collect_list")) => a
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.exists(_.toString.contains("collect_list")) => a
      case a: SortAggregateExec if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.exists(_.toString.contains("collect_list")) => a
    }.size
    Map("gwin" -> gwin, "gclist" -> gclist)
  }

  /** Merged string + tree counters for one declared query — what
    * `--record` snapshots and [[QueryProbe]]'s guard replays. */
  def countersOf(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    counters(df.queryExecution.executedPlan.toString) ++
      scaleCounters(df.queryExecution.sparkPlan)

  /** Pre-execution plan string of one declared query (the point both
    * `--record` and the guard sample, so the two always compare plans
    * captured at the same lifecycle stage). */
  def planOf(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val record = args(1) == "--record"
    val full = args.contains("--full")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (record) {
      val out = args(2)
      // sample plans under the GUARD's conditions: recall off and an
      // empty cache catalog per query. Building a query whose fixture
      // persists a frame registers it eagerly, so a later query's plan would
      // otherwise compile against InMemoryRelation subtrees the guard
      // (which clearCache()s between queries) never sees — the r13
      // gate flagged doc_pipeline_funnel for exactly this record/guard
      // asymmetry, not a real regression.
      sys.props("graft.recall") = "off"
      val rows = SparkEntry.queries.keys.toSeq.sorted.map { n =>
        val m = countersOf(SparkEntry.queries(n)(spark, sfDir))
        spark.catalog.clearCache()
        println(s"[plans] $n $m")
        n -> m
      }
      val scale = scaleOf(sfDir)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        render(readSnapshot(new java.io.File(out)) + (scale -> rows.toMap)))
      println(s"[plans] recorded ${rows.size} queries under $scale -> $out")
    } else {
      val names = args(1).split(",").toSeq
      for (n <- names) {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val m = countersOf(df)
        println(s"=== $n ===")
        println(s"  CartesianProduct=${m("cart")}" +
          s" BroadcastNestedLoop=${m("bnl")}" +
          s" BroadcastHashJoin=${m("bhj")}" +
          s" SortMergeJoin=${m("smj")}" +
          s" ShuffledHashJoin=${m("shj")}" +
          s" Exchange=${m("exch")}" +
          s" GlobalWindow=${m("gwin")}" +
          s" GlobalCollectList=${m("gclist")}")
        if (full) println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
