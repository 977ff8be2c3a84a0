package graft

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timing probe and bench-contract guard.
  *
  *  - `runMain graft.QueryProbe <sfDir> <name> [reps]` times one declared
  *    query repeatedly (noop sink). Each rep prints its wall time and
  *    the number of Spark jobs it started (building the frame included,
  *    so rep 1 also counts the fixture builds it triggers).
  *  - `runMain graft.QueryProbe <sfDir> --explain <name>` prints the
  *    formatted physical plan of one declared query (the iterate-on-
  *    `.explain` loop the scale mandate prescribes, without writing a
  *    throwaway main).
  *  - `runMain graft.QueryProbe <sfDir> --guard <benchJson> [reps]` times
  *    EVERY query recorded in a bench JSON (`BENCH_r03.json` shape:
  *    `{"queries":{name:sec,...}}`) under bench conditions (recall
  *    instrumentation off, min over interleaved reps) and FAILS (exit 1)
  *    if any query exceeds `max(2x recorded, recorded + 1.5s)` — 2×
  *    relative plus 1.5 s absolute slack, so sub-second queries don't
  *    red-flag on whole-second host jitter — making a regression a red
  *    build, not a next-round forensic exercise. Documented in
  *    README §bench.
  *
  * The guard ALSO audits plan shapes (r10 VERDICT task 5): each guarded
  * query's pre-execution plan counters are compared against the entry
  * `PlanAudit --record` wrote for the same scale (sf dir name) in
  * `plan_shapes.json` — a CartesianProduct or BroadcastNestedLoop
  * appearing, a shuffle Exchange count growing, or a broadcast join
  * degrading to a shuffle-side join (smj+shj growth) is a red build even
  * if the wall time still squeaks under the 2× timing slack. With no
  * entry for that scale the guard exits 1 before timing anything. New
  * queries absent from the entry only warn — re-record to enroll them.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    if (args.length > 2 && args(1) == "--explain") {
      val spark = session()
      SparkEntry.queries(args(2))(spark, sfDir).explain("formatted")
      spark.stop()
      return
    }
    if (args.length > 1 && args(1) == "--guard") {
      val baseline = if (args.length > 2) args(2) else "bench_out.json"
      val reps = if (args.length > 3) args(3).toInt else 2
      sys.exit(guard(sfDir, baseline, reps))
    }
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = session()
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      timeJobs(spark, s"$name#$i") {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // match Bench methodology: without this, a query whose fixture
      // persists a frame serves reps 2+ from the cache (the CacheManager
      // matches the rebuilt rep's canonical plan), timing a cache read
      // instead of the query
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def wall(thunk: => Unit): Double = {
    val t0 = System.nanoTime()
    thunk
    (System.nanoTime() - t0) / 1e9
  }

  private def time(tag: String)(thunk: => Unit): Double = {
    val t = wall(thunk)
    println(f"[probe] $tag%-28s $t%8.2f s")
    t
  }

  /** [[time]] plus the number of Spark jobs `thunk` started. */
  private def timeJobs(spark: SparkSession, tag: String)(thunk: => Unit)
      : Unit = {
    val (t, jobs) = ListenerBus.jobsDuring(spark.sparkContext)(wall(thunk))
    println(f"[probe] $tag%-28s $t%8.2f s ${jobs.size}%6d jobs")
  }

  /** Bench-contract guard (see object doc). Returns the exit code. */
  private def guard(sfDir: String, baselineJson: String, reps: Int): Int = {
    import scala.jdk.CollectionConverters._
    sys.props("graft.recall") = "off" // match Bench conditions
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val top = mapper.readValue(new java.io.File(baselineJson),
      classOf[java.util.Map[String, Object]])
    // accept both the raw Bench line and the driver's BENCH_rN.json
    // wrapper (bench record nested under "parsed")
    val root =
      if (top.containsKey("queries")) top
      else top.get("parsed").asInstanceOf[java.util.Map[String, Object]]
    val recorded = root.get("queries").asInstanceOf[java.util.Map[String, Object]]
      .asScala.toMap.map { case (k, v) => k -> v.asInstanceOf[Number].doubleValue }
    // plan-shape snapshot of this scale (PlanAudit --record)
    val scale = PlanAudit.scaleOf(sfDir)
    val shapes = PlanAudit.readSnapshot(new java.io.File("plan_shapes.json"))
        .get(scale) match {
      case Some(m) => m
      case None =>
        println(s"[guard] plan_shapes.json has no entry for $scale; record " +
          s"one with `runMain graft.PlanAudit $sfDir --record plan_shapes.json`")
        return 1
    }
    val spark = session()
    val names = SparkEntry.queries.keys.toSeq.filter(recorded.contains)
    val best = scala.collection.mutable.Map.empty[String, Double]
    val first = scala.collection.mutable.Map.empty[String, Double]
    val crashed = scala.collection.mutable.Map.empty[String, String]
    val planRegressions = scala.collection.mutable.ArrayBuffer.empty[String]
    // interleave reps like Bench: min spans different host-noise windows
    for (rep <- 1 to reps; name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // audit the same pre-execution plan PlanAudit --record sampled;
        // rep 1 only (the plan is deterministic per (query, sfDir))
        if (rep == 1 && shapes.contains(name) &&
            !Seq("cart", "bnl", "exch", "smj", "shj")
              .forall(shapes(name).contains)) {
          // a malformed snapshot (hand-edited, or written by a different
          // counters() shape) is a guard-CONFIG problem — surface it as
          // one instead of letting Map.apply throw inside the rep loop
          // and masquerade as a query crash
          println(s"[guard] WARN $name snapshot missing counter keys " +
            s"(${Seq("cart", "bnl", "exch", "smj", "shj")
              .filterNot(shapes(name).contains).mkString(",")}) — " +
            "re-record with PlanAudit --record")
        } else if (rep == 1 && shapes.contains(name)) {
          val base = shapes(name)
          val now = PlanAudit.countersOf(df)
          if (now("cart") > base("cart") || now("bnl") > base("bnl"))
            planRegressions += s"$name: cartesian/nested-loop join appeared " +
              s"(cart ${base("cart")}->${now("cart")}, bnl ${base("bnl")}->${now("bnl")})"
          if (now("exch") > base("exch"))
            planRegressions += s"$name: shuffle Exchange count grew " +
              s"${base("exch")}->${now("exch")}"
          if (now("smj") + now("shj") > base("smj") + base("shj"))
            planRegressions += s"$name: shuffle-side join count grew " +
              s"${base("smj") + base("shj")}->${now("smj") + now("shj")}" +
              " (broadcast lost?)"
          // single-task order-statistic shapes (r12 verdict): a
          // corpus-collapsing unpartitioned Window or a global
          // collect_list reappearing is a red build. Snapshots recorded
          // before these counters existed just skip the check.
          for (k <- Seq("gwin", "gclist") if base.contains(k))
            if (now(k) > base(k))
              planRegressions += s"$name: single-task shape counter $k " +
                s"grew ${base(k)}->${now(k)}"
        } else if (rep == 1)
          println(s"[guard] WARN $name not in plan_shapes.json ($scale) — " +
            "re-record with PlanAudit --record to enroll it")
        val t = time(s"$name#$rep") {
          df.write.format("noop").mode("overwrite").save()
        }
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
        if (!first.contains(name)) first(name) = t
      } catch { case e: Throwable =>
        crashed(name) = s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200)
      }
      spark.catalog.clearCache()
    }
    // Too-fast triage (still on the live session): a query whose COLD
    // first rep beat the bench record >5x either stopped doing the work
    // or is legitimately amortizing a per-JVM index/cache another query
    // (or Bench's own in-query build) already paid for — the streaming
    // band/window indexes and the IVF family are `Artifact` fixtures,
    // cached per (session, sf dir), so guard reps after the first are
    // warm by DESIGN.
    // Distinguish the two directly: probe whether the query still
    // produces rows. Empty result -> red (lost work); rows -> warm-cache
    // note, not a failure.
    val fastButEmpty = scala.collection.mutable.Map.empty[String, Boolean]
    for (n <- names
         if recorded.getOrElse(n, 0.0) >= 0.5 && best.contains(n) &&
           first.getOrElse(n, best(n)) < recorded(n) / 5.0) {
      fastButEmpty(n) =
        try SparkEntry.queries(n)(spark, sfDir).isEmpty
        catch { case _: Throwable => true }
      spark.catalog.clearCache()
    }
    spark.stop()
    val failures = names.flatMap { n =>
      if (crashed.contains(n) && !best.contains(n))
        Some(s"$n: CRASHED every rep (${crashed(n)})")
      else if (recorded(n) < 0)
        // Bench's failed-query sentinel: the baseline itself records a
        // crash — a guard run must stay red until a real time replaces it
        Some(f"$n: baseline holds the -1 failure sentinel; re-bench after fixing")
      else {
        // 2x relative + 1.5 s absolute slack: sub-second queries jitter by
        // whole seconds on this host (noisy-neighbor stalls), and a real
        // regression on a query that cheap is invisible in the round total
        val limit = math.max(2.0 * recorded(n), recorded(n) + 1.5)
        // and a LOWER bound: a measurable query that "got >5x faster" did
        // not get faster — it almost certainly stopped doing the work
        // (r8: six analysis-time crashes graded as 10-100x speedups) —
        // UNLESS the rows-exist probe above confirmed real output, in
        // which case the speedup is the per-JVM index/cache reuse the
        // guard's shared session makes legal (see triage comment).
        // Floor of 0.5 s recorded keeps trivial queries out of this check.
        if (best(n) > limit)
          Some(f"$n: ${best(n)}%.2f s > limit $limit%.2f s (recorded ${recorded(n)}%.2f s)")
        else if (fastButEmpty.getOrElse(n, false))
          Some(f"$n: ${best(n)}%.2f s is >5x faster than recorded " +
            f"${recorded(n)}%.2f s AND the result is empty — silent crash " +
            "or lost work; verify and re-baseline deliberately")
        else None
      }
    }
    fastButEmpty.collect { case (n, false) =>
      println(f"[guard] note $n: ${first.getOrElse(n, best(n))}%.2f s vs " +
        f"recorded ${recorded(n)}%.2f s — warm per-JVM index/cache reuse, " +
        "rows confirmed present")
    }
    // cold-build walls of the per-JVM artifact caches, same 2x + 1.5s
    // slack as query times (r12 verdict task 6): this guard run built
    // each artifact once on first touch, so SparkEntry.buildWalls holds
    // comparable first-build numbers
    val recordedWalls: Map[String, Double] =
      if (!root.containsKey("build_walls")) Map.empty
      else root.get("build_walls").asInstanceOf[java.util.Map[String, Object]]
        .asScala.toMap.map { case (k, v) =>
          k -> v.asInstanceOf[Number].doubleValue }
    val wallFailures = recordedWalls.toSeq.sorted.flatMap { case (k, rec) =>
      SparkEntry.buildWalls.collectFirst {
        case (key, w) if key.takeWhile(_ != ':') == k => w
      } match {
        case Some(w) if w > math.max(2.0 * rec, rec + 1.5) =>
          Some(f"build($k): $w%.2f s > limit ${math.max(2.0 * rec, rec + 1.5)}%.2f s (recorded $rec%.2f s)")
        case Some(w) =>
          println(f"[guard] build($k): $w%.2f s (recorded $rec%.2f s)"); None
        case None =>
          println(s"[guard] WARN build($k) recorded but not built this run"); None
      }
    }
    // walls the baseline predates: shown, never judged
    SparkEntry.buildWalls.toSeq.map { case (key, w) =>
      (key.takeWhile(_ != ':'), w) }.sorted
      .filterNot { case (k, _) => recordedWalls.contains(k) }
      .foreach { case (k, w) =>
        println(f"[guard] build($k): $w%.2f s (not recorded)") }
    println(f"[guard] ${names.size - failures.size}/${names.size} queries within " +
      "2x of the recorded bench")
    println(s"[guard] plan shapes: ${planRegressions.size} regressions " +
      s"against the ${shapes.size}-query $scale snapshot")
    failures.foreach(f => println(s"[guard] REGRESSION $f"))
    planRegressions.foreach(f => println(s"[guard] PLAN-REGRESSION $f"))
    wallFailures.foreach(f => println(s"[guard] BUILD-REGRESSION $f"))
    if (failures.isEmpty && planRegressions.isEmpty && wallFailures.isEmpty) 0
    else 1
  }
}
