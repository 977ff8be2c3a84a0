package graft

import graft.ext.EventOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The relational and event-log queries (`rel_`, `event_`).
  * Each entry pairs a declared query with its DuckDB oracle SQL; see
  * [[SparkEntry]]. */
object RelQueries {
  import SparkEntry.{t, events, fmtTs, scratch, Artifact, r6, Query}

  /** Recall-instrumentation toggle. Bench sets `-Dgraft.recall=off` so
    * the timed plan is the approximate operator ALONE — in r3 the in-query
    * exact references double-counted the exact operators in BENCH_r03
    * (ADVICE item 1). Verify (the correctness gate) leaves it on, so the
    * driver's row check still pins the recall evidence columns. */
  private def recallOn: Boolean =
    sys.props.getOrElse("graft.recall", "on") != "off"

  /** `orders` and `customer` written as session tables bucketed 8 ways
    * and sorted on the customer key (rel_bucketed_join): returns the two
    * table names. */
  private val bucketedFor = Artifact("bucketedJoin") { (s, dir) =>
    val p = scratch("bucketed", dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    def bucketed(table: String, key: String): String = {
      val name = s"graft_bkt_${table}_$tag"
      t(s, dir, table).write.mode("overwrite")
        .bucketBy(8, key).sortBy(key)
        .option("path", s"$p/$table")
        .saveAsTable(name)
      name
    }
    (bucketed("orders", "o_custkey"), bucketed("customer", "c_custkey"))
  }

  private[graft] def queries: Seq[(String, (Query, String))] = Seq(

    // RFM segmentation (recency / frequency / monetary quintiles): the
    // classic behavioral-scoring rollup. One per-user aggregate; the
    // quintile CUTOFFS are exact interpolated percentiles over the
    // per-user frame (tiny — O(users)) rounded 6 dp and broadcast back,
    // so membership is a row-local threshold CASE — no per-segment
    // ntile sort of the corpus, and the scores are engine-portable.
    // All three scores are quintile indexes by ASCENDING value.
    "event_rfm" -> (((s, dir) => {
      val e = events(s, dir)
      val perUser = e.groupBy(col("user_id").cast("string").as("series_key"))
        .agg(max(EventOps.epochS(col("ts"))).as("last_s"),
          count(lit(1)).as("freq"),
          r6(sum(col("value").cast(DecimalType(27, 8))).cast("double"))
            .as("monetary"))
      val refTs = e.agg(max(EventOps.epochS(col("ts"))).as("_ref"))
      val rfm = perUser.crossJoin(broadcast(refTs))
        .withColumn("recency_days",
          ((col("_ref") - col("last_s")) - pmod(col("_ref") - col("last_s"),
            lit(86400L))) / lit(86400L))
        .withColumn("recency_days", col("recency_days").cast("long"))
      def cuts(c: String) = rfm.agg(
        r6(expr(s"percentile($c, 0.2)")).as(s"${c}_20"),
        r6(expr(s"percentile($c, 0.4)")).as(s"${c}_40"),
        r6(expr(s"percentile($c, 0.6)")).as(s"${c}_60"),
        r6(expr(s"percentile($c, 0.8)")).as(s"${c}_80"))
      def score(c: String) =
        (lit(1L) + (col(c) > col(s"${c}_20")).cast("long") +
          (col(c) > col(s"${c}_40")).cast("long") +
          (col(c) > col(s"${c}_60")).cast("long") +
          (col(c) > col(s"${c}_80")).cast("long")).as(s"${c.take(1)}_score")
      rfm.crossJoin(broadcast(cuts("recency_days")))
        .crossJoin(broadcast(cuts("freq")))
        .crossJoin(broadcast(cuts("monetary")))
        .select(col("series_key"), col("recency_days"), col("freq"),
          col("monetary"), score("recency_days"), score("freq"),
          score("monetary"))
        
    },
      // identical per-user rollup, identical 6-dp quantile_cont cutoffs,
      // identical ascending-quintile threshold CASEs
      """WITH pu AS (
        |  SELECT CAST(user_id AS VARCHAR) AS series_key,
        |    MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s,
        |    COUNT(*) AS freq,
        |    floor(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 AS monetary
        |  FROM events GROUP BY 1),
        |ref AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS r FROM events),
        |rfm AS (SELECT series_key,
        |    CAST(((ref.r - last_s) - (ref.r - last_s) % 86400) / 86400 AS BIGINT)
        |      AS recency_days,
        |    freq, monetary
        |  FROM pu CROSS JOIN ref),
        |c AS (SELECT
        |    floor(quantile_cont(recency_days, 0.2) * 1000000.0 + 0.5) / 1000000.0 AS r20,
        |    floor(quantile_cont(recency_days, 0.4) * 1000000.0 + 0.5) / 1000000.0 AS r40,
        |    floor(quantile_cont(recency_days, 0.6) * 1000000.0 + 0.5) / 1000000.0 AS r60,
        |    floor(quantile_cont(recency_days, 0.8) * 1000000.0 + 0.5) / 1000000.0 AS r80,
        |    floor(quantile_cont(freq, 0.2) * 1000000.0 + 0.5) / 1000000.0 AS f20,
        |    floor(quantile_cont(freq, 0.4) * 1000000.0 + 0.5) / 1000000.0 AS f40,
        |    floor(quantile_cont(freq, 0.6) * 1000000.0 + 0.5) / 1000000.0 AS f60,
        |    floor(quantile_cont(freq, 0.8) * 1000000.0 + 0.5) / 1000000.0 AS f80,
        |    floor(quantile_cont(monetary, 0.2) * 1000000.0 + 0.5) / 1000000.0 AS m20,
        |    floor(quantile_cont(monetary, 0.4) * 1000000.0 + 0.5) / 1000000.0 AS m40,
        |    floor(quantile_cont(monetary, 0.6) * 1000000.0 + 0.5) / 1000000.0 AS m60,
        |    floor(quantile_cont(monetary, 0.8) * 1000000.0 + 0.5) / 1000000.0 AS m80
        |  FROM rfm)
        |SELECT series_key, recency_days, freq, monetary,
        |  1 + CAST(recency_days > r20 AS BIGINT) + CAST(recency_days > r40 AS BIGINT)
        |    + CAST(recency_days > r60 AS BIGINT) + CAST(recency_days > r80 AS BIGINT)
        |    AS r_score,
        |  1 + CAST(freq > f20 AS BIGINT) + CAST(freq > f40 AS BIGINT)
        |    + CAST(freq > f60 AS BIGINT) + CAST(freq > f80 AS BIGINT) AS f_score,
        |  1 + CAST(monetary > m20 AS BIGINT) + CAST(monetary > m40 AS BIGINT)
        |    + CAST(monetary > m60 AS BIGINT) + CAST(monetary > m80 AS BIGINT)
        |    AS m_score
        |FROM rfm CROSS JOIN c ORDER BY 1""".stripMargin)),

    // ------------------------------------------------- relational coverage
    // scan + hash aggregate with exact decimal sums (TPC-H Q1 shape)
    "rel_pricing_summary" -> (((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(24, 6))).cast("double"), 4).as("sum_disc"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).cast(DecimalType(24, 6))).cast("double"), 4)
            .as("sum_charge"),
          count(lit(1)).as("count_order"))
        
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE), 4) AS sum_disc,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE), 4) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TPC-H Q3 (shipping priority): the canonical 3-way selective join —
    // filters push to all three scans, the pruned customer key set
    // broadcasts, lineitem (the fact) never shuffles before its
    // aggregate, and the top-10 is a TakeOrdered, not a global sort.
    // Revenue sums are exact decimals of the row-local double product
    // (engine-identical), so the top-k cut is deterministic.
    "rel_q3_shipping" -> (((s, dir) => {
      val cut = lit("1995-03-15").cast("date")
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        // portable floor-based round, not native round: revenue feeds the
        // top-10 cut below, so the rounding must be engine-identical
        .agg((floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast("double") * 10000.0 + 0.5) / 10000.0)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd")
          .as("orderdate"), col("o_orderpriority").as("priority"), col("revenue"))
    },
      // identical filters, exact-decimal revenue, rounded-value top-10 cut
      """SELECT l_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
        |  o_orderpriority AS priority,
        |  floor(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(24,6))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // broadcast-join chain + aggregate (orders ⋈ customer ⋈ nation)
    "rel_revenue_by_nation" -> (((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"), 2)
          .as("revenue"), count(lit(1)).as("n_orders"))
        
    },
      """SELECT n_name,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // co-located join via bucketed tables: both sides bucketed 8 ways on
    // the customer key at write time, so the merge join executes with
    // ZERO exchange and ZERO sort — the plan's only shuffle is the final
    // group-by. THE 100 TB pattern for repeated fact-dim joins on a
    // stable key: pay the partitioning once at ingest, every downstream
    // join is shuffle-free (the merge hint stands in for the
    // beyond-broadcast dimension size this models; ExtSpec "bucketed-table
    // merge join runs with zero exchange; rows match plain join" pins the
    // exchange-free plan). The bucketed copies are a fixture
    // ([[bucketedFor]]), built once per session and sf dir.
    "rel_bucketed_join" -> (((s, dir) => {
      val (ot, ct) = bucketedFor(s, dir)
      s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double"), 2).as("revenue"))
        
    },
      // plain-parquet twin of the bucketed-table join (same rows by
      // construction; bucketing only changes the physical plan)
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // window-function rank: top-3 orders per customer
    "rel_top_orders_per_cust" -> (((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        
    },
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),

    // global sort + limit (top-k scan)
    "rel_part_topk" -> (((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
        .limit(20)
    },
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 20""".stripMargin)),

    // distinct aggregation (expand-based distinct-agg plan)
    "rel_distinct_users" -> (((s, dir) => {
      events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        
    },
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // sketch aggregates (the 100 TB staples): HyperLogLog++ distinct and
    // quantile-sketch median. Verify pins each sketch against its exact
    // twin IN the query (the emitted flags hash-match an all-TRUE oracle,
    // so the driver gate enforces the error bounds); Bench (graft.recall
    // =off) times the sketch-only plan — the exact twins are Verify-time
    // evidence, not workload: exact percentile buffers every group's
    // values in the agg buffer (executor-OOM at 100×) and dual
    // exact+approx countDistinct forces an Expand that doubles scan input
    // (r4 VERDICT wrong-item 1).
    "rel_sketches" -> (((s, dir) => {
      val e = events(s, dir)
      if (recallOn)
        e.groupBy(col("event_type")).agg(
            countDistinct(col("user_id")).as("n_users"),
            approx_count_distinct(col("user_id"), 0.02).as("_apx"),
            expr("percentile(value, 0.5)").as("_p50"),
            expr("approx_percentile(value, 0.5, 1000)").as("_ap50"))
          .select(col("event_type"), col("n_users"),
            (abs(col("_apx") - col("n_users")) <= col("n_users") * 0.05)
              .as("hll_within_5pct"),
            (abs(col("_ap50") - col("_p50")) <= abs(col("_p50")) * 0.05 + 1.0)
              .as("quantile_within_5pct"))
          .orderBy("event_type")
      else
        e.groupBy(col("event_type")).agg(
            approx_count_distinct(col("user_id"), 0.02).as("n_users"),
            expr("approx_percentile(value, 0.5, 1000)").as("p50"))
          
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |  TRUE AS hll_within_5pct, TRUE AS quantile_within_5pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // grouping sets: ROLLUP over (status, priority) with subtotal rows
    // (labels coalesced so null-ordering semantics never differ)
    "rel_rollup" -> (((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
        
    },
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin)),

    // full CUBE with grouping_id: all four aggregation lattices of
    // (returnflag, linestatus) in one pass — Spark expands the cube
    // map-side, so the whole lattice costs the same single shuffle as a
    // plain group-by.
    "rel_cube" -> (((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double"), 2).as("sum_qty"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("sum_qty"))
        
    },
      // same lattice, same grouping bitmask convention (left col = high bit)
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  COUNT(*) AS n,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2, 3""".stripMargin)),

    // GROUPING SETS (the general multi-rollup cube/rollup can't spell):
    // the exact four aggregation grains of interest — (priority,status),
    // each alone, and the grand total — in ONE pass over the fact table
    // (Expand + a single hash aggregate; four separate GROUP BYs would
    // scan the corpus four times at 100 TB). grouping() flags + '(all)'
    // coalescing keep the rollup rows engine-portable (no NULL-ordering
    // divergence).
    "rel_grouping_sets" -> (((s, dir) => {
      t(s, dir, "orders").groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq(col("o_orderstatus")),
            Seq.empty),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (floor(sum(col("o_totalprice").cast(DecimalType(27, 8)))
            .cast("double") * 100.0 + 0.5) / 100.0).as("revenue"),
          grouping(col("o_orderpriority")).cast("long").as("g_pri"),
          grouping(col("o_orderstatus")).cast("long").as("g_st"))
        .select(coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          col("g_pri"), col("g_st"), col("n_orders"), col("revenue"))
        
    },
      // identical four grains; '(all)' coalescing sidesteps NULL ordering
      """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
        |  COALESCE(o_orderstatus, '(all)') AS status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
        |  COUNT(*) AS n_orders,
        |  floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,8))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_pri, g_st, priority, status""".stripMargin)),

    // PIVOT: per-year revenue spread across order statuses as columns.
    // Explicit pivot values (F/O/P) — without them Spark runs an extra
    // distinct-collect job over the corpus just to discover the column
    // set, a full scan that 100 TB cannot afford; with them the whole
    // query is ONE hash aggregate with three conditional exact-decimal
    // sums (the identical plan the oracle's CASE aggregation declares).
    "rel_pivot" -> (((s, dir) => {
      val r2: Column => Column = c => floor(c * 100.0 + 0.5) / 100.0
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(r2(sum(col("o_totalprice").cast(DecimalType(27, 8)))
          .cast("double")))
        .withColumnsRenamed(Map("F" -> "rev_f", "O" -> "rev_o", "P" -> "rev_p"))
        
    },
      // pivot ≡ conditional aggregation (the plan Spark's explicit-values
      // pivot compiles to); empty cells NULL in both engines
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  floor(CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |      THEN CAST(o_totalprice AS DECIMAL(27,8)) END) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS rev_f,
        |  floor(CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |      THEN CAST(o_totalprice AS DECIMAL(27,8)) END) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS rev_o,
        |  floor(CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |      THEN CAST(o_totalprice AS DECIMAL(27,8)) END) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS rev_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EQUI-DEPTH HISTOGRAM (decile stats): global positional deciles over
    // order totals WITHOUT a single-partition sort — Ranks.globalRowNumber
    // is the range-partition + local-rank + offset-join shape that keeps
    // full parallelism at 100 TB (a bare row_number() OVER (ORDER BY …)
    // collapses the corpus into one task). decile = ((rn−1)·10) div n —
    // exact integer arithmetic, identical in the oracle.
    "rel_decile_stats" -> (((s, dir) => {
      val ranked = graft.ext.Ranks.globalRowNumber(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")))
      val n = broadcast(ranked.groupBy().agg(count(lit(1)).as("_n")))
      ranked.crossJoin(n)
        .withColumn("decile", expr("((rn - 1) * 10) div _n") + 1)
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          (floor(sum(col("o_totalprice").cast(DecimalType(27, 8)))
            .cast("double") * 100.0 + 0.5) / 100.0).as("revenue"))
        
    },
      // same total order (price, orderkey), same positional-decile integer
      // arithmetic — the oracle's single-node row_number IS the semantics
      // the distributed range-partition + offset ranking reproduces
      """WITH r AS (SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM orders)
        |SELECT CAST(((rn - 1) * 10) // n + 1 AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,8))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS revenue
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RANGE-frame window (calendar-aware moving aggregate): 7-day
    // trailing revenue per order priority. The frame is RANGE BETWEEN 6
    // PRECEDING over an epoch-day axis, so calendar gaps shrink the
    // window (a ROWS frame would silently span them) — the classic
    // time-relative rollup a ROWS-only engine can't express. Scale
    // shape: the pre-aggregate shrinks the corpus to priorities×days
    // rows BEFORE the window, and the window partitions by priority —
    // no single-task global sort; moving sums stay DECIMAL (exact,
    // order-free) until one cast + round at the end.
    "rel_moving_avg" -> (((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(27, 8))).as("_rev"))
        .withColumn("_day_n",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      val w = Window.partitionBy(col("priority")).orderBy(col("_day_n"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("_mov", sum(col("_rev")).over(w))
        .withColumn("_nd", count(lit(1)).over(w))
        .select(col("priority"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          r6(col("_rev").cast("double")).as("day_rev"),
          r6(col("_mov").cast("double")).as("rev_7d"),
          r6(col("_mov").cast("double") / col("_nd")).as("avg_rev_7d"))
        
    },
      // identical RANGE frame over the epoch-day axis; decimal moving sums
      """WITH d AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(27,8))) AS rev
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT priority, day, rev,
        |    SUM(rev) OVER (PARTITION BY priority
        |      ORDER BY date_diff('day', DATE '1970-01-01', day)
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov,
        |    COUNT(*) OVER (PARTITION BY priority
        |      ORDER BY date_diff('day', DATE '1970-01-01', day)
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS nd
        |  FROM d)
        |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
        |  floor(CAST(rev AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS day_rev,
        |  floor(CAST(mov AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS rev_7d,
        |  floor(CAST(mov AS DOUBLE) / nd * 1000000.0 + 0.5) / 1000000.0 AS avg_rev_7d
        |FROM w ORDER BY 1, 2""".stripMargin)),

    // left-semi join (TPC-H Q4 shape): orders with at least one
    // late-shipped lineitem, counted per priority — the EXISTS plan
    "rel_semi_join" -> (((s, dir) => {
      val late = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1995-06-01").cast("date"))
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > DATE '1995-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // left-anti join (TPC-H Q22 flavor): customers with no 1995 orders,
    // rolled up per nation — the NOT IN-subquery plan. The anti side is
    // year-sliced so the kept set is non-trivial (every customer in the
    // fixture has SOME order; ~2/3 have none in 1995), making the gate
    // exercise the anti-join data path rather than pin empty == empty.
    "rel_anti_join" -> (((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(year(col("o_orderdate")) === 1995),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total_acctbal"))
        
    },
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND year(o_orderdate) = 1995)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // set operations: customers ordering in 1995-01 EXCEPT 1995-02, and
    // the INTERSECT of both months, tagged and unioned. Month granularity
    // (the fixture's orders span 1995-01..2001-08) keeps both branches
    // non-empty at every SF, so EXCEPT and INTERSECT each prune/keep real
    // rows instead of matching on empty sets.
    "rel_set_ops" -> (((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(m: String) = o
        .where(date_format(col("o_orderdate"), "yyyy-MM") === m)
        .select(col("o_custkey"))
      val onlyJan = custs("1995-01").except(custs("1995-02"))
        .select(lit("only_jan").as("tag"), col("o_custkey"))
      val both = custs("1995-01").intersect(custs("1995-02"))
        .select(lit("both_months").as("tag"), col("o_custkey"))
      onlyJan.unionByName(both)
    },
      """SELECT 'only_jan' AS tag, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-02')
        |UNION ALL
        |SELECT 'both_months' AS tag, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-02')
        |ORDER BY 1, 2""".stripMargin)),

    // time-window rollup on a date column (monthly order stats)
    "rel_orders_monthly" -> (((s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        
    },
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // tumbling-window rollup per event type over the JSON-extracted metric
    "event_window_rollup" -> (((s, dir) => {
      val e = events(s, dir)
        .withColumn("k", EventOps.jsonLong(col("props"), "$.k"))
      EventOps.windowRollup(e, "ts", "event_type", col("k"), 21600L)
        .select(col("event_type"), fmtTs(col("bucket")).as("bucket_ts"),
          col("n"), col("sum_m").cast("long").as("sum_m"),
          col("min_m"), col("max_m"))
        
    },
      """SELECT event_type,
        |  strftime(time_bucket(INTERVAL '21600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_m,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_m,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_m
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // bucketed range join: events matched into 2h maintenance windows
    // (every 13h) via bucket equi-join + containment filter
    "event_range_join" -> (((s, dir) => {
      val iv = s.range(50).select(col("id").as("interval_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 46800L).as("start_ts"),
        timestamp_seconds(lit(1704067200L) + col("id") * 46800L + 7200L).as("end_ts"))
      EventOps.bucketedRangeJoin(events(s, dir), iv, "ts", "start_ts", "end_ts", 3600L)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(27, 8))).cast("double").as("sum_v"))
        
    },
      """WITH iv AS (
        |  SELECT i AS interval_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '46800 seconds' AS s,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '46800 seconds' + INTERVAL '7200 seconds' AS e
        |  FROM generate_series(0, 49) t(i))
        |SELECT interval_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS sum_v
        |FROM iv JOIN events ON ts >= s AND ts <= e
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // conversion funnel: per signup, the earliest LATER purchase by the
    // same user (forward-looking min via a REVERSED-order running frame
    // — rowsBetween(0, unboundedFollowing) evaluates O(partition²), the
    // desc-ordered unboundedPreceding..-1 twin is one running pass);
    // converted iff within 7 days; rolled up per signup-month cohort.
    "event_funnel" -> (((s, dir) => {
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), EventOps.epochS(col("ts")).as("ts_s"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val nxt = e.withColumn("nps",
        min(when(col("event_type") === "purchase", col("ts_s"))).over(w))
      val signups = nxt.where(col("event_type") === "signup")
        .select(date_format(timestamp_seconds(col("ts_s")), "yyyy-MM")
            .as("cohort"),
          (col("nps").isNotNull && col("nps") - col("ts_s") <= 604800L)
            .cast("long").as("conv"))
      signups.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_signups"), sum(col("conv")).as("n_converted"))
        .withColumn("rate",
          round(col("n_converted").cast("double") / col("n_signups"), 6))
        
    },
      // same reversed-frame forward min, same second-truncated epoch math
      // and (ts_s, event_id) tie order, same 7-day window and month cohort
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |n AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts_s END)
        |      OVER (PARTITION BY user_id ORDER BY ts_s DESC, event_id DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nps
        |  FROM e),
        |s AS (SELECT strftime(make_timestamp(ts_s * 1000000), '%Y-%m') AS cohort,
        |    CASE WHEN nps IS NOT NULL AND nps - ts_s <= 604800
        |         THEN 1 ELSE 0 END AS conv
        |  FROM n WHERE event_type = 'signup')
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_signups,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS rate
        |FROM s GROUP BY cohort ORDER BY cohort""".stripMargin)),

    // top in-session event-type transitions (Markov edge mining): the
    // session windows and the lead() share one key-shuffle; pair counts
    // collapse map-side to <= |types|^2 rows before the top-k.
    "event_topk_paths" -> (((s, dir) => {
      EventOps.transitionTopK(events(s, dir), "user_id", "ts", "event_id",
        gapSeconds = 1800L, typeCol = "event_type", k = 20)
    },
      // same sessionization CTE as event_sessions, then lead within
      // (user, session), same (n desc, from, to) top-k tie-break
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR (epoch(ts) - epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, event_type,
        |        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM o),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id, session_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM s)
        |SELECT from_type, to_type, COUNT(*) AS n FROM p
        |WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 20""".stripMargin)),

    // weekly cohort retention: cohort = first-activity epoch week
    // (absolute floor(epoch/604800) index — no calendar-week semantics
    // to diverge on); per (cohort, offset) active-user counts and the
    // week-0-normalized retained fraction.
    // ordered 3-step funnel (signup -> click -> purchase within 1 day of
    // first signup, each step strictly after the previous): k co-keyed
    // frontier joins, no window over raw events
    "event_funnel_steps" -> (((s, dir) => {
      EventOps.funnelSteps(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"), windowSec = 86400L)
        
    },
      // same ordered frontier chain, same strict-after + 1-day window
      """WITH e AS (SELECT user_id AS u, event_type AS et,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |f1 AS (SELECT u, MIN(ts_s) AS t1 FROM e WHERE et = 'signup' GROUP BY u),
        |f2 AS (SELECT e.u, f1.t1, MIN(e.ts_s) AS tp FROM e JOIN f1 ON e.u = f1.u
        |       WHERE e.et = 'click' AND e.ts_s > f1.t1
        |         AND e.ts_s <= f1.t1 + 86400 GROUP BY 1, 2),
        |f3 AS (SELECT e.u, f2.t1, MIN(e.ts_s) AS tp FROM e JOIN f2 ON e.u = f2.u
        |       WHERE e.et = 'purchase' AND e.ts_s > f2.tp
        |         AND e.ts_s <= f2.t1 + 86400 GROUP BY 1, 2),
        |c AS (SELECT 1 AS step_idx, 'signup' AS step,
        |        CAST((SELECT COUNT(*) FROM f1) AS BIGINT) AS n_users
        |      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM f2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM f3))
        |SELECT step_idx, step, n_users,
        |  round(CAST(n_users AS DOUBLE) /
        |    MAX(CASE WHEN step_idx = 1 THEN n_users END) OVER (), 6) AS rate
        |FROM c ORDER BY step_idx""".stripMargin)),

    // daily + trailing-7-day active users: one (user, day) distinct, a
    // broadcast day-list range join (<= 7x fan-out of the collapsed
    // frame), no sliding window over raw events
    "event_dau_wau" -> (((s, dir) => {
      EventOps.activeUsers(events(s, dir), "user_id", "ts")
        
    },
      // same (user, day) distinct core, same <= 7-day range join
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0) AS BIGINT) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |wau AS (SELECT days.day, CAST(COUNT(DISTINCT ud.u) AS BIGINT) AS wau
        |        FROM days JOIN ud ON ud.d BETWEEN days.day - 6 AND days.day
        |        GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau
        |FROM dau JOIN wau ON dau.day = wau.day ORDER BY 1""".stripMargin)),

    // purchase events only — the sparse activity signal that gives the
    // fixture real cohort decay (every user has SOME event every week)
    "event_retention" -> (((s, dir) => {
      EventOps.weeklyRetention(
          events(s, dir).where(col("event_type") === "purchase"),
          "user_id", "ts")
        
    },
      // same absolute week index, integer counts, one 6-dp division
      """WITH a AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800.0) AS BIGINT) AS week
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT u, MIN(week) AS cohort_week FROM a GROUP BY u),
        |g AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |        CAST(COUNT(*) AS BIGINT) AS n_users
        |      FROM a JOIN c ON a.u = c.u GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  round(CAST(n_users AS DOUBLE) /
        |    MAX(CASE WHEN week_offset = 0 THEN n_users END)
        |      OVER (PARTITION BY cohort_week), 6) AS retention
        |FROM g ORDER BY cohort_week, week_offset""".stripMargin)),

    // gap-based sessionization (30 min) + per-session rollup
    "event_sessions" -> (((s, dir) => {
      EventOps.sessionStats(events(s, dir), "user_id", "ts", "event_id", 1800L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_s"), col("end_s"), col("duration_s"))
        
    },
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR (epoch(ts) - epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts,
        |        CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM o)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS start_s,
        |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS end_s,
        |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) - MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // as-of lookup: for each purchase, the user's most recent prior signup
    "event_asof" -> (((s, dir) => {
      val e = events(s, dir)
      EventOps.asOfMarker(e, "user_id", "ts", "event_id",
          col("event_type") === "signup", "asof_ts")
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          EventOps.epochS(col("ts")).as("purchase_s"),
          EventOps.epochS(col("asof_ts")).as("signup_s"))
        
    },
      """WITH m AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_ts
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s,
        |  CAST(floor(epoch(asof_ts)) AS BIGINT) AS signup_s
        |FROM m WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    // LAST-TOUCH ATTRIBUTION: each purchase attributed to the user's most
    // recent at-or-before click, revenue rolled up by the click's
    // props-k decile (−1 = organic / no prior click). Exercises the FULL
    // asOfJoin payload path (the click's parsed attribute rides the
    // union-sort-window join — one sorted window pass, never a pairwise
    // product); the k-bucket rollup is exact integer division + exact
    // decimal revenue sums.
    "event_attribution" -> (((s, dir) => {
      val e = events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          EventOps.jsonLong(col("props"), "$.k").as("ck"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      EventOps.asOfJoin(purchases, clicks, "user_id", "ts", Seq("ck"),
          rightIdCol = Some("event_id"))
        .groupBy(coalesce(expr("ck div 10"), lit(-1L)).as("k_bucket"))
        .agg(count(lit(1)).as("n_purchases"),
          (floor(sum(col("value").cast(DecimalType(27, 8)))
            .cast("double") * 100.0 + 0.5) / 100.0).as("revenue"))
        
    },
      // same union-tag sorted-window as-of fill (clicks sort before
      // purchases at equal ts via side, max event_id breaks right-side
      // ties), same k-decile integer division and exact decimal revenue
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS side, NULL AS rid, NULL AS ck, value
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS side, event_id AS rid,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS ck,
        |    NULL AS value
        |  FROM events WHERE event_type = 'click'),
        |f AS (SELECT user_id, side, value,
        |    last_value(CASE WHEN side = 0 THEN ck END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, side, rid
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
        |  FROM u)
        |SELECT COALESCE(ck // 10, -1) AS k_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  floor(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS revenue
        |FROM f WHERE side = 1 GROUP BY 1 ORDER BY 1""".stripMargin)))
}
