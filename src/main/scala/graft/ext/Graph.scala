package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-analysis operators for crawl curation: PageRank by power
  * iteration — the host/page centrality signal large crawl-derived
  * corpora rank and sample by (Common Crawl publishes exactly this
  * family of link-graph ranks; a curation pipeline joins them back as a
  * quality prior).
  *
  * == Exact float discipline ==
  *
  * The classic distributed PageRank is float-sum order-dependent; here
  * every cross-row aggregation is EXACT so ranks are partition- and
  * engine-invariant (the [[Kmeans]]/[[QualityModel]] replay discipline
  * applied to graph iteration): per-edge contributions round to a
  * 10^-gridDp grid BEFORE an exact DECIMAL(38,gridDp) sum, and the
  * damping update is correctly-rounded IEEE ops re-snapped to the grid
  * (the grid must resolve the teleport floor — see [[pageRank]]'s
  * gridDp note) — evaluated in
  * the identical operation order by the DuckDB oracle, which replays
  * every iteration bit-for-bit ([[pageRankOracleSql]]). The scalar
  * seeds (1/n teleport floor, (1−d)/n base) are single IEEE divisions
  * over exact integers, spelled with the same op order in both engines.
  *
  * == Scale shape ==
  *
  * Per iteration: ONE equi-join (ranks ⋈ edges on src — both sides
  * key-partitioned, the edge frame cached with its out-degree already
  * attached) + ONE hash aggregate keyed by dst (map-side combinable
  * decimal partials) + ONE scalar aggregate for the dangling mass
  * (node-keyed semi-join against the checkpointed dangling universe,
  * broadcast back — the standard Pregel aggregator, in-plan). The rank
  * frame is localCheckpoint'ed each round,
  * so the plan stays O(1) in iteration count — at cluster scale this
  * becomes a reliably-replicated checkpoint every few rounds, the
  * standard Pregel cadence. Driver traffic in the loop is zero rows.
  */
object Graph {

  /** Damping and rank grid (decimal places), replayed by the oracle. */
  private[graft] val Damping = 0.85
  private[graft] val GridDp = 6

  /** PageRank over an integer-node edge list by `iters` damped
    * power-iteration rounds. `nodes` is the (node) universe frame (one
    * BIGINT column); nodes with no in-links hold the teleport floor;
    * dangling nodes (no out-links — ~⅓ of a real crawl graph) follow
    * the canonical semantics: their mass is REDISTRIBUTED UNIFORMLY
    * each round (Brin & Page 1998's random surfer jumps anywhere from a
    * sink), so total rank mass stays ≡ 1 up to per-node grid drift.
    * The dangling share rides the plan as one exact-decimal aggregate
    * over the (checkpointed) dangling-node semi-join, broadcast back as
    * a scalar — zero driver rows, and on a dangling-free graph the
    * share is exactly 0.0 so results are bit-identical to the pure
    * contribution recursion. One `nodes.count()` driver action seeds
    * the 1/n scalars. Emits one row per node: (node, rank, in_deg,
    * out_deg). */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int,
      damping: Double = Damping, gridDp: Int = GridDp): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(gridDp >= 1 && gridDp <= 18, "gridDp out of range")
    // the rounding grid must resolve the teleport floor: quantum 10^-dp
    // must sit well below 1/n (at 1M nodes a 6-dp grid EQUALS the rank
    // magnitude and the recursion collapses onto grid artifacts) — pick
    // dp with ~3 spare digits; the declared corpus query uses 6 dp at
    // 5k docs (ranks ~2e-4 = 200 quanta)
    // exact decimal-string parse, not pow() (pow is not guaranteed
    // correctly rounded; the parse is)
    val scaleD = ("1" + "0" * gridDp + ".0").toDouble
    val dec = DecimalType(38, gridDp)
    def rp(c: Column): Column =
      floor(c * lit(scaleD) + lit(0.5)) / lit(scaleD)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodesN = nodes.select(col(nodes.columns.head).cast("long").as("node"))
      .transform(Pin.pin)
    val n = nodesN.count()
    require(n > 0, "empty node universe")
    // enforce the gridDp note above at runtime (the pagerank1m tier hit
    // this silently before it was a guard): quantum >= 1/n means ranks
    // collapse onto grid artifacts outright — refuse; under ~10 quanta
    // per average rank the recursion is quantization-dominated — warn.
    // Both engines degrade identically so the oracle gate cannot catch
    // this; only the caller can, and only if told.
    require(1.0 / scaleD < 1.0 / n,
      s"gridDp=$gridDp quantum ${1.0 / scaleD} >= average rank ${1.0 / n} " +
        s"at n=$n — ranks would collapse onto the rounding grid; raise " +
        "gridDp (keep ~3 spare digits below 1/n)")
    if (10.0 / scaleD > 1.0 / n)
      org.slf4j.LoggerFactory.getLogger("graft.ext.Graph").warn(
        s"pageRank gridDp=$gridDp leaves under 10 quanta per average " +
          s"rank at n=$n — results are quantization-dominated; raise gridDp")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // out-degree rides the cached edge frame: the per-round join touches
    // ONE corpus-sized table, not two
    val ed = e.join(deg, "src").transform(Pin.pin)
    // dangling universe computed ONCE (node-keyed anti-join, same
    // partitioning family as the rank updates); empty on sink-free graphs
    val dangling = nodesN
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .transform(Pin.pin)
    // decided ONCE on the pinned frame (r17): a dangling-free graph's
    // per-round mass aggregate is identically the decimal 0, whose share
    // term rp(0.0/n) = 0.0 adds nothing (x + 0.0 ≡ x in IEEE for the
    // non-negative sums here) — the object doc's "bit-identical to the
    // pure contribution recursion" equivalence. Skipping it removes one
    // broadcast job (a full pass over the rank frame) per round; the
    // dangling-free callers (doc_pagerank's synthetic graph, most host
    // graphs) run ONE job per round.
    val hasDangling = !dangling.isEmpty
    // same op order as the oracle: 1.0/n, ×scale, +0.5, floor, ÷scale
    val r0 = math.floor(1.0 / n * scaleD + 0.5) / scaleD
    val base = (1.0 - damping) / n
    var ranks = nodesN.select(col("node"), lit(r0).as("rank"))
    for (_ <- 1 to iters) {
      val sums = ed.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          rp(col("rank") / col("outdeg")).cast(dec).as("_c"))
        .groupBy(col("dst")).agg(sum(col("_c")).as("_s"))
      val contrib = coalesce(col("_s").cast("double"), lit(0.0))
      ranks =
        if (!hasDangling)
          nodesN
            .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
            .select(col("node"),
              rp(lit(base) + lit(damping) * contrib).as("rank"))
            .transform(Pin.pin)
        else {
          // dangling mass: ranks are already grid values, so the decimal
          // sum is exact with no pre-round; the per-node share is ONE
          // IEEE division re-snapped to the grid, spelled identically in
          // SQL
          val dm = ranks.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("rank").cast(dec)), lit(0).cast(dec))
              .as("_dm"))
          nodesN
            .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
            .crossJoin(broadcast(dm))
            .select(col("node"),
              rp(lit(base) + lit(damping) * (contrib +
                rp(col("_dm").cast("double") / lit(n.toDouble)))).as("rank"))
            .transform(Pin.pin)
        }
    }
    val indeg = e.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
    ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(indeg.withColumnRenamed("dst", "node"), Seq("node"), "left")
      .select(col("node"), col("rank"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("outdeg"), lit(0L)).as("out_deg"))
  }

  /** DuckDB replay of [[pageRank]]: `edgeSql` must produce (src, dst)
    * BIGINT rows and `nodeSql` the (node) universe, both identical to
    * the engine's frames; `n`, the teleport scalars, and every
    * iteration are computed IN SQL with the engine's operation order
    * (one CTE pair per round: contribution-round → exact decimal sum →
    * damped grid update), so the same oracle text replays any corpus
    * size. [[Damping]] is interpolated via Double.toString (shortest
    * round-trip repr — DuckDB parses back the identical double). */
  def pageRankOracleSql(edgeSql: String, nodeSql: String,
      iters: Int): String =
    pageRankOracleCtes(edgeSql, nodeSql, iters) + s"""
       |SELECT n.node AS node, r$iters.rank AS rank,
       |  COALESCE(i.in_deg, 0) AS in_deg, COALESCE(deg.outdeg, 0) AS out_deg
       |FROM nodes n JOIN r$iters ON n.node = r$iters.node
       |LEFT JOIN (SELECT dst, CAST(COUNT(*) AS BIGINT) AS in_deg
       |           FROM e GROUP BY 1) i ON n.node = i.dst
       |LEFT JOIN deg ON n.node = deg.src
       |ORDER BY node""".stripMargin

  /** The CTE prefix of [[pageRankOracleSql]], for callers composing the
    * final rank frame (`<px>r<iters>` over `<px>nodes`) into a larger
    * replay. `px` prefixes every CTE name so the generated block can be
    * concatenated into a WITH list that already uses the bare names
    * (the composed-pipeline oracle shares a list with the quality-LR
    * training CTEs, which also define `nn` and `r<i>`). */
  def pageRankOracleCtes(edgeSql: String, nodeSql: String, iters: Int,
      px: String = ""): String = {
    val d = Damping.toString
    val sc = "1" + "0" * GridDp + ".0"
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${px}e AS MATERIALIZED ($edgeSql),
         |${px}nodes AS MATERIALIZED (SELECT node FROM ($nodeSql)),
         |${px}nn AS MATERIALIZED (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ${px}nodes),
         |${px}deg AS MATERIALIZED (
         |  SELECT src, COUNT(*) AS outdeg FROM ${px}e GROUP BY 1),
         |${px}ed AS MATERIALIZED (
         |  SELECT e.src, e.dst, deg.outdeg
         |  FROM ${px}e e JOIN ${px}deg deg USING (src)),
         |${px}dang AS MATERIALIZED (
         |  SELECT node FROM ${px}nodes LEFT JOIN ${px}deg deg
         |    ON node = deg.src
         |  WHERE deg.src IS NULL),
         |${px}sc AS MATERIALIZED (SELECT
         |  floor(CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) * $sc + 0.5)
         |    / $sc AS r0,
         |  (CAST(1.0 AS DOUBLE) - CAST($d AS DOUBLE)) / CAST(n AS DOUBLE)
         |    AS base FROM ${px}nn),
         |${px}r0 AS MATERIALIZED (
         |  SELECT node, sc.r0 AS rank FROM ${px}nodes, ${px}sc sc)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(s""",
         |${px}s$i AS MATERIALIZED (
         |  SELECT ed.dst, SUM(CAST(floor(r.rank / ed.outdeg * $sc + 0.5)
         |      / $sc AS DECIMAL(38,$GridDp))) AS s
         |  FROM ${px}ed ed JOIN ${px}r$p r ON ed.src = r.node GROUP BY 1),
         |${px}d$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(CAST(r.rank AS DECIMAL(38,$GridDp))),
         |    CAST(0 AS DECIMAL(38,$GridDp))) AS dm
         |  FROM ${px}r$p r JOIN ${px}dang dang ON r.node = dang.node),
         |${px}r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    floor((sc.base + CAST($d AS DOUBLE)
         |        * (COALESCE(CAST(s.s AS DOUBLE), 0.0)
         |           + floor(CAST(dd.dm AS DOUBLE) / CAST(nn.n AS DOUBLE)
         |               * $sc + 0.5) / $sc))
         |        * $sc + 0.5) / $sc AS rank
         |  FROM ${px}nodes n LEFT JOIN ${px}s$i s ON n.node = s.dst,
         |    ${px}sc sc, ${px}d$i dd, ${px}nn nn)"""
        .stripMargin)
    }
    sb.toString
  }
}
