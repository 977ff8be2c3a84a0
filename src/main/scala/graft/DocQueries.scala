package graft

import graft.ext.{Corpus, Dedup, Graph, Kmeans, Pin, QualityModel, Ranks, TextAnalysis, UrlOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The document-corpus curation queries (`doc_`): dedup, quality,
  * sampling, packing, z-order layouts and the composed pipeline.
  * Each entry pairs a declared query with its DuckDB oracle SQL; see
  * [[SparkEntry]]. */
object DocQueries {
  import SparkEntry.{t, sortSmall, sortBig, scratch, Artifact, unigramDictFor,
    bpeMergesFor, syntheticUrls, UrlCanonCtes, e2eOracleSql, SyntheticEdgeSql,
    syntheticEdges, lrModelFor, rankFor, concurrently, e2eStagesFor, r6,
    ShingleCtes, BudgetCapCtes, BudgetAllocCtes, HostBlocklistOracle,
    SimhashCtes, BloomProbeCtes, Query}

  /** Approximate-percentile SERVING-TWIN audit frame (r12 verdict task
    * 7): one row with the exact (t/q)-quantile order statistics
    * (exact_lo, exact_hi, r — replayable by the oracle) plus
    * `within_bound` = does `percentile_approx`'s answer lie between the
    * exact order statistics at target ± (⌈n/accuracy⌉ + 2) ranks (the
    * GK sketch's documented rank-error bound, +2 for its different
    * rank anchor). The oracle pins the exact values AND `TRUE` for the
    * bound — a sketch drifting past its guarantee is a red gate. The
    * sketch side is the shape a 100 TB run ships (mergeable,
    * O(accuracy) state, no rank shuffle); the exact side rides
    * [[graft.ext.Ranks.globalRowNumber]]. */
  private def approxCutAudit(df: DataFrame, value: Column, tie: Column,
      t: Int, q: Int, accuracy: Int = 1000): DataFrame = {
    val vt = df.select(value.as("_v"), tie.as("_tb"))
    val nF = vt.agg(count(lit(1)).as("_n"),
      percentile_approx(col("_v"), lit(t.toDouble / q), lit(accuracy))
        .as("_apx"))
    val ranked = Ranks.globalRowNumber(vt, Seq(col("_v"), col("_tb")),
      out = "_rn")
    val tgt = floor(lit(t) * (col("_n") - 1) / q) + 1
    val slack = ceil(col("_n").cast("double") / accuracy) + 2
    val loB = greatest(lit(1L), (tgt - slack).cast("long"))
    val hiB = least(col("_n"), (tgt + slack).cast("long"))
    def pick(at: Column) = min(when(col("_rn") === at, col("_v")))
    val apx = min(col("_apx"))
    ranked.crossJoin(broadcast(nF))
      .where(col("_rn") === tgt || col("_rn") === least(tgt + 1, col("_n")) ||
        col("_rn") === loB || col("_rn") === hiB)
      .agg(pick(tgt).as("exact_lo"),
        pick(least(tgt + 1, col("_n"))).as("exact_hi"),
        min(pmod(lit(t) * (col("_n") - 1), lit(q.toLong))).as("r"),
        (apx >= pick(loB) && apx <= pick(hiB)).as("within_bound"))
  }

  /** Near-dup cluster labels, shared by doc_dedup_clusters, doc_keep_best,
    * doc_dedup_keep and the two sinks. The frame is localCheckpointed
    * inside dedupClusters (RDD-backed, survives catalog clearCache).
    * Exact-dup short-circuit around the EXACT PPJoin miner: identical
    * docs collapse to one representative before any shingle-keyed join,
    * so copy-heavy corpora cannot create O(k²) prefix buckets; output is
    * proven equal to clustering the full pair graph (ExtSpec), so the
    * oracle (exact-Jaccard recursive closure over ALL docs) is
    * unchanged. */
  private val clustersFor = Artifact("clusters") { (s, dir) =>
    Dedup.dedupClustersDistinctWith(
      t(s, dir, "documents"), "doc_id", "text")(repDocs =>
      Dedup.jaccardPairs(
        Dedup.hashedShingles(repDocs, "doc_id", "text", 3), 0.5))
  }

  /** The filtered corpus of doc_dedup_sink, written once; the declared
    * query audits the files on disk — the artifact shape an LLM data
    * pipeline actually ships. */
  private val dedupSinkFor = Artifact("dedupSink") { (s, dir) =>
    val p = scratch("dedup_corpus", dir)
    val cl = clustersFor(s, dir)
    val docs = t(s, dir, "documents")
    docs.join(cl, docs("doc_id") === cl("doc"), "left")
      .where(col("root").isNull || col("root") === col("doc_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(p)
    p
  }

  /** The CURATED corpus of doc_curate_sink: quality filter → language
    * filter → repetition filter → near-dup keep-join → lang-partitioned
    * write. */
  private val curateSinkFor = Artifact("curateSink") { (s, dir) =>
    val p = scratch("curated_corpus", dir)
    val docs = t(s, dir, "documents")
    val qual = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .where(col("n_tokens") >= 15 && col("stopword_ratio") >= 0.01 &&
        col("distinct_ratio") >= 0.3)
      .select(col("doc_id"))
    val calm = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .where(col("top_2gram_frac") <= 0.1)
      .select(col("doc").as("doc_id"))
    val lid = TextAnalysis.languageId(docs, "doc_id", "text")
      .where(col("pred_lang") =!= "und")
      .select(col("doc_id"))
    val cl = clustersFor(s, dir)
    docs.join(cl, docs("doc_id") === cl("doc"), "left")
      .where(col("root").isNull || col("root") === docs("doc_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .join(qual, Seq("doc_id"), "left_semi")
      .join(calm, Seq("doc_id"), "left_semi")
      .join(lid, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").partitionBy("lang").parquet(p)
    p
  }

  /** Bit-interleaved 16-bit Morton key over the b1/b2 bucket columns —
    * [[graft.ext.ZTable.zkeyExpr]]. */
  private def zkeyExpr: Column = graft.ext.ZTable.zkeyExpr

  /** Shared frame of the z-order layout experiment (doc_zorder_skipping
    * and its materialized twin): two equi-depth 8-bit dimension ranks
    * (b1 over n_chars, b2 over an md5-derived second dimension), the
    * bit-interleaved z-key, and the three layout ranks (zrank/lrank/
    * hrank) plus `_rpf` = rows-per-file for 64 logical files. Rank
    * passes ride [[graft.ext.Ranks.globalRowNumber]] — the same range
    * shuffles a real OPTIMIZE ZORDER runs. */
  private def zorderRankedFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
      pmod(conv(substring(md5(concat(lit("zdim:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(10000L)).as("d2"))
    val nF = docs.agg(count(lit(1)).as("_n"))
    def toBits(df: DataFrame, vCol: String, out: String) =
      Ranks.globalRowNumber(df, Seq(col(vCol), col("doc_id")), out = "_r")
        .crossJoin(broadcast(nF))
        .withColumn(out, expr("((_r - 1) * 256) div _n"))
        .drop("_r", "_n")
    val z = toBits(toBits(docs, "n_chars", "b1"), "d2", "b2")
      .withColumn("zkey", zkeyExpr)
      .withColumn("hkey",
        md5(concat(lit("h:"), col("doc_id").cast("string"))))
    Ranks.globalRowNumber(
      Ranks.globalRowNumber(
        Ranks.globalRowNumber(z, Seq(col("zkey"), col("doc_id")),
          out = "zrank"),
        Seq(col("b1"), col("b2"), col("doc_id")), out = "lrank"),
      Seq(col("hkey"), col("doc_id")), out = "hrank")
      .crossJoin(broadcast(nF))
      .withColumn("_rpf", expr("(_n + 63) div 64"))
  }

  /** The PINNED z-order rank frame (r17): seven call sites (the logical
    * skipping audit + six materialized-table builds) each re-derived the
    * identical deterministic frame — 5 range-rank passes apiece, ~30 s
    * of the bench's fixture build wall re-spent on the same rows. A real
    * lakehouse materializes its layout-rank table once per OPTIMIZE, not
    * per consumer. */
  private val zorderRankedFor = Artifact("zorderRanked") { (s, dir) =>
    zorderRankedFrame(s, dir).transform(Pin.pin)
  }

  /** The MATERIALIZED z-order layout corpora (doc_zorder_skipping_mat):
    * the three layouts written as real parquet, one data file per
    * logical file_id, each WITH its write-time stats manifest at
    * `<root>/<tag>/_stats` (the `_`-prefixed dir is invisible to Spark's
    * parquet reader, so the manifest lives under the table root like a
    * `_delta_log`). */
  private val zorderMatFor = Artifact("zorderMat") { (s, dir) =>
    val p = scratch("zorder_mat", dir)
    // three layout writers consume one rank frame, already pinned by
    // zorderRankedFor (the writer derives its own rpf — drop the
    // frame's _n/_rpf so its internal count crossJoin can't collide)
    val ranked = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"),
        col("zrank"), col("lrank"), col("hrank"))
    // the three layouts are independent writers over the one pinned
    // frame into disjoint dirs — submit them concurrently (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially); wall ≈ the slowest write instead of the sum
    concurrently(Seq(("zorder", "zrank"), ("linear", "lrank"),
        ("hash", "hrank"))) { case (tag, rank) =>
      val st = zorderWriteFiles(ranked, rank, nFiles = 64, offset = 0,
        out = s"$p/$tag")
      writeStatsManifest(st, s"$p/$tag/_stats")
    }
    p
  }

  /** The z-order append/OPTIMIZE experiment (doc_zorder_append_optimize):
    * base z-ordered files + an unsorted appended batch + the OPTIMIZE
    * rewrite. Global equi-depth bits + z/h keys come from the shared
    * rank frame, so appended rows land in the same bit space as base
    * rows. The three phase tables are independent writers over the one
    * pinned frame into disjoint dirs (unlike the incremental table,
    * whose transactions share a dir and must serialize) — submitted
    * concurrently, guide §2.6. */
  private val zorderIncFor = Artifact("zorderInc") { (s, dir) =>
    val p = scratch("zorder_inc", dir)
    val z = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
        col("hkey"))
    val baseRows = z.where(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val appRows = z.where(pmod(col("doc_id"), lit(5L)) === 0L)
    concurrently(Seq(
      (baseRows, col("zkey"), 52, 0, "base"),
      (appRows, col("hkey"), 12, 52, "append"),
      (z, col("zkey"), 64, 0, "optimized"))) {
      case (rows, key, nFiles, offset, tag) =>
        writeStatsManifest(zorderWriteFiles(
          Ranks.globalRowNumber(rows, Seq(key, col("doc_id")),
            out = "_rk"),
          "_rk", nFiles = nFiles, offset = offset, out = s"$p/$tag"),
          s"$p/$tag/_stats")
    }
    p
  }

  /** The INCREMENTAL-OPTIMIZE z-order table (doc_zorder_incr_optimize):
    * ONE evolving table dir whose data files accumulate across
    * transactions, plus three manifest snapshots
    * (`_stats_base/_stats_appended/_stats_optimized` — the
    * transaction-log role: logically removed files stay on disk until a
    * VACUUM, so every snapshot remains readable).
    *
    * The experiment: (1) base = the corpus
    * minus a key-space-LOCALIZED batch, z-ordered into 52 files with a
    * write-time manifest; (2) append = the localized batch (b2 ≥ 144,
    * even doc_id — the time-correlated shape real ingest has: new data
    * clusters in part of the clustering key space) written hash-ordered
    * into 12 files, manifest rows APPENDED (no data re-read); (3)
    * incremental OPTIMIZE — the production compaction: the rewrite set
    * is chosen FROM THE MANIFEST ALONE (files whose stats box intersects
    * the appended files' bounding box — you cannot rewrite 100 TB on a
    * schedule, and you cannot even SCAN it to decide what to rewrite),
    * only those files are read, re-z-ordered (zkey re-derived row-locally
    * from b1/b2) into new files sized by the table's global rows-per-file,
    * and the manifest swaps rewritten rows for new-file rows. Base files
    * outside the appended key region are never read OR rewritten. */
  private val zorderIncrFor = Artifact("zorderIncr") { (s, dir) =>
    val p = scratch("zorder_incr2", dir)
    buildZorderIncrTable(s, dir, p)
    p
  }

  /** The three incremental-OPTIMIZE transactions into `p/table` +
    * manifest snapshots under `p` — shared by the incr-optimize and
    * VACUUM experiments, each on its own table dir (VACUUM deletes
    * files earlier snapshots reference, so the two audits cannot share
    * a table). */
  private def buildZorderIncrTable(s: SparkSession, dir: String,
      p: String): Unit = {
      val z = zorderRankedFor(s, dir)
        .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
          col("hkey"))
      val isApp = col("b2") >= 144 && pmod(col("doc_id"), lit(2L)) === 0L
      val table = s"$p/table"
      // txn 1 (static overwrite wipes any stale table dir): base
      val stBase = zorderWriteFiles(
        Ranks.globalRowNumber(z.where(!isApp),
          Seq(col("zkey"), col("doc_id")), out = "_rk"),
        "_rk", nFiles = 52, offset = 0, out = table)
      writeStatsManifest(stBase, s"$p/_stats_base")
      // txn 2: localized append, arrival (hash) order, NEW file ids only
      val stApp = zorderWriteFiles(
        Ranks.globalRowNumber(z.where(isApp),
          Seq(col("hkey"), col("doc_id")), out = "_rk"),
        "_rk", nFiles = 12, offset = 52, out = table, mode = "append")
      writeStatsManifest(stBase.unionByName(stApp), s"$p/_stats_appended")
      // txn 3: incremental OPTIMIZE — metadata-only rewrite selection
      // (appended files are the ids ≥ 52 this table's txn 2 wrote)
      val (optimized, _, _) = graft.ext.ZTable.incrementalOptimize(s,
        s.read.parquet(s"$p/_stats_appended"),
        isAppended = _.getAs[Long]("file_id") >= 52,
        tablePath = table, newOffset = 1000)
      writeStatsManifest(optimized, s"$p/_stats_optimized")
  }

  /** The VACUUM experiment (doc_zorder_vacuum): the same three
    * incremental-OPTIMIZE transactions on a fresh table, then VACUUM —
    * list the table's data files (metadata), diff against the optimized
    * manifest's referenced paths, DELETE the orphans (the files the
    * incremental OPTIMIZE logically removed; earlier snapshots become
    * time-travel-expired, the Delta VACUUM contract). Accounting lands in
    * `_vacuum.json`. */
  private val zorderVacFor = Artifact("zorderVac") { (s, dir) =>
    val p = scratch("zorder_vac", dir)
    buildZorderIncrTable(s, dir, p)
    val (before, deleted) = graft.ext.ZTable.vacuum(s, s"$p/table",
      s.read.parquet(s"$p/_stats_optimized"))
    val conf = s.sparkContext.hadoopConfiguration
    val accP = new org.apache.hadoop.fs.Path(s"$p/_vacuum.json")
    val out = accP.getFileSystem(conf).create(accP, true)
    out.write(s"""{"before":$before,"deleted":$deleted}"""
      .getBytes("UTF-8"))
    out.close()
    p
  }

  /** The OCC interleaved-writer experiment (doc_zorder_occ, r15 VERDICT
    * task 1): the zorderVac lifecycle re-run through the VERSIONED manifest log
    * ([[graft.ext.ZTable.logCommit]]) with two adversarial
    * interleavings. v0 base (z-ordered), v1 hot append A1; optimizer O1
    * reads v1 and rewrites A1's region, but appender A2 (synthetic
    * rows forced to the DISJOINT cold band b2 % 64) commits v2 first —
    * O1's commit detects the advance, the boxes are disjoint, so it
    * REBASES to v3 carrying A2's rows (the lost update the single-file
    * overwrite would silently drop, and a VACUUM would then delete A2's
    * live files). Optimizer O2 then reads v3 to compact A2's region,
    * but appender A3 lands INSIDE its box and commits v4 first — O2's
    * commit is SUPERSEDED (stale selection must abort, its attempt
    * files become orphans), and the OCC loop re-selects from v4
    * (now covering A2 ∪ A3) and commits v5. VACUUM against v5 then
    * reclaims the replaced files AND the superseded attempt's orphans.
    * Every protocol step is enforced by a require, so the declared
    * query's hash match certifies the whole interleaving. */
  private val zorderOccFor = Artifact("zorderOcc") { (s, dir) =>
    import graft.ext.ZTable
    val p = scratch("zorder_occ", dir)
    val table = s"$p/table"
    val root = s"$p/_log"
    val z = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
        col("hkey"))
    val isApp = col("b2") >= 144 && pmod(col("doc_id"), lit(2L)) === 0L
    val stBase = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(!isApp),
        Seq(col("zkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 52, offset = 0, out = table)
    require(ZTable.logCommit(s, root, -1L, stBase) == 0L)
    val stA1 = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(isApp),
        Seq(col("hkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 12, offset = 100, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 0L, stA1) == 1L)
    // O1 reads v1 and rewrites the hot region (data files land now;
    // the stale v1-based manifest is what a non-OCC writer would
    // overwrite the log with)
    val man1 = ZTable.logRead(s, root, 1L).collect()
    val isApp1 = (r: org.apache.spark.sql.Row) => {
      val f = r.getAs[Long]("file_id"); f >= 100 && f < 200
    }
    val box1 = ZTable.appendedBox(man1, isApp1)
    val (staleManDf, _, _) = ZTable.incrementalOptimize(s,
      ZTable.logRead(s, root, 1L), isApp1, table, newOffset = 1000)
    val staleIds = staleManDf.collect().map(_.getAs[Long]("file_id")).toSet
    val rwIds1 = man1.map(_.getAs[Long]("file_id")).toSet -- staleIds
    val stNew1 = staleManDf.where(col("file_id") >= 1000)
    // concurrent A2: synthetic rows pinned to the cold band (b2 % 64
    // — disjoint from O1's box), arrival order, fresh ids
    val a2 = z.where(pmod(col("doc_id"), lit(31L)) === 5L)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("b1"),
        pmod(col("b2"), lit(64L)).as("b2"), col("hkey"))
    val stA2 = zorderWriteFiles(
      Ranks.globalRowNumber(a2, Seq(col("hkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 3, offset = 200, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 1L, stA2) == 2L)
    // O1 commits at its v1 snapshot: conflict → disjoint → rebase
    require(ZTable.commitOptimize(s, root, 1L, rwIds1, stNew1,
      box1) == 3L)
    val man3 = ZTable.logRead(s, root, 3L).collect()
    require(stA2.collect().map(_.getAs[Long]("file_id")).toSet
        .subsetOf(man3.map(_.getAs[Long]("file_id")).toSet),
      "rebase must carry the concurrent append (lost update)")
    // O2 reads v3 to compact A2's region; A3 lands INSIDE its box
    val isApp2 = (r: org.apache.spark.sql.Row) => {
      val f = r.getAs[Long]("file_id"); f >= 200 && f < 300
    }
    val box2 = ZTable.appendedBox(man3, isApp2)
    val (staleMan2Df, _, _) = ZTable.incrementalOptimize(s,
      ZTable.logRead(s, root, 3L), isApp2, table, newOffset = 2000)
    val stale2Ids = staleMan2Df.collect().map(_.getAs[Long]("file_id")).toSet
    val rwIds2 = man3.map(_.getAs[Long]("file_id")).toSet -- stale2Ids
    val stNew2 = staleMan2Df.where(col("file_id") >= 2000)
    val a3 = z.where(pmod(col("doc_id"), lit(31L)) === 6L)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("b1"),
        pmod(col("b2"), lit(64L)).as("b2"), col("hkey"))
    val stA3 = zorderWriteFiles(
      Ranks.globalRowNumber(a3, Seq(col("hkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 2, offset = 300, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 3L, stA3) == 4L)
    val superseded =
      try { ZTable.commitOptimize(s, root, 3L, rwIds2, stNew2, box2)
        false }
      catch { case _: ZTable.OptimizeSuperseded => true }
    require(superseded, "O2 must abort: A3 landed inside its box")
    val (v5, _, _, aborts) = ZTable.incrementalOptimizeOcc(s, root,
      table, r => { val f = r.getAs[Long]("file_id")
        f >= 200 && f < 1000 }, newOffset = 3000)
    require(v5 == 5L && aborts == 0L)
    // VACUUM against the COMMITTED latest: replaced files + the
    // superseded attempt's orphans go; everything live survives
    val man5 = ZTable.logRead(s, root, 5L).collect()
    val (_, _) = ZTable.vacuum(s, table, ZTable.logRead(s, root, 5L))
    require(ZTable.listDataFiles(s, table).length == man5.length,
      "post-vacuum listing must equal the committed manifest")
    // by-construction protocol counters (each enforced above)
    val accP = new org.apache.hadoop.fs.Path(s"$p/_occ.json")
    val out = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(accP, true)
    out.write("""{"versions":6,"conflicts":2,"aborts":1}"""
      .getBytes("UTF-8"))
    out.close()
    p
  }

  /** The TIME-TRAVEL / retention-VACUUM experiment (doc_zorder_timetravel,
    * r16): the incremental-OPTIMIZE
    * lifecycle through the versioned log — v0 base, v1 hot append, v2
    * incremental OPTIMIZE, v3 cold-band append — then a
    * RETENTION-BOUNDED VACUUM with version floor 2
    * ([[graft.ext.ZTable.vacuumRetain]]): files referenced only by
    * expired snapshots (exactly the optimize's rewrite set) are
    * physically deleted, while v2 — a HISTORICAL version, one commit
    * behind latest — must stay fully readable: A2's rows are on disk
    * but invisible to a v2 reader (snapshot isolation for time-travel
    * reads). Each retention property is a require; the declared row
    * certifies content at both versions plus the expiry accounting. */
  private val zorderTTFor = Artifact("zorderTT") { (s, dir) =>
    import graft.ext.ZTable
    val p = scratch("zorder_tt", dir)
    val table = s"$p/table"
    val root = s"$p/_log"
    val z = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
        col("hkey"))
    val isApp = col("b2") >= 144 && pmod(col("doc_id"), lit(2L)) === 0L
    val stBase = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(!isApp),
        Seq(col("zkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 52, offset = 0, out = table)
    require(ZTable.logCommit(s, root, -1L, stBase) == 0L)
    val stA1 = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(isApp),
        Seq(col("hkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 12, offset = 100, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 0L, stA1) == 1L)
    val (v2, filesRw, _, aborts) = ZTable.incrementalOptimizeOcc(s, root,
      table, r => { val f = r.getAs[Long]("file_id")
        f >= 100 && f < 200 }, newOffset = 1000)
    require(v2 == 2L && aborts == 0L)
    val a2 = z.where(pmod(col("doc_id"), lit(31L)) === 5L)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("b1"),
        pmod(col("b2"), lit(64L)).as("b2"), col("hkey"))
    val stA2 = zorderWriteFiles(
      Ranks.globalRowNumber(a2, Seq(col("hkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 3, offset = 200, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 2L, stA2) == 3L)
    val (before, deleted) = ZTable.vacuumRetain(s, table, root,
      fromVersion = 2L)
    require(deleted == filesRw, "retention must expire exactly the " +
      s"rewrite set ($filesRw files), got $deleted")
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
    def onDisk(f: String) = fs.exists(new org.apache.hadoop.fs.Path(f))
    val v2Paths = ZTable.logRead(s, root, 2L).select(col("path"))
      .collect().map(_.getString(0))
    require(v2Paths.forall(onDisk),
      "every retained snapshot's file must survive the retention vacuum")
    val v1Paths = ZTable.logRead(s, root, 1L).select(col("path"))
      .collect().map(_.getString(0))
    require(v1Paths.exists(f => !onDisk(f)),
      "the expired snapshot must have lost files (time-travel expiry)")
    val accP = new org.apache.hadoop.fs.Path(s"$p/_tt.json")
    val out = accP.getFileSystem(conf).create(accP, true)
    out.write(s"""{"before":$before,"deleted":$deleted}"""
      .getBytes("UTF-8"))
    out.close()
    p
  }

  /** Write `frame` (doc_id, b1, b2 + a rank column) as real parquet
    * under `out`, one data file per logical file id: file_id = offset +
    * (rank−1) div rpf with rpf = ceil(n/nFiles) (or `rpfOverride` when
    * ≥ 1 — the incremental-OPTIMIZE path sizes new files by the
    * TABLE's global rows-per-file, not the batch's), rows sorted by
    * rank within each file (the maxRecordsPerFile run a writer would
    * produce).
    *
    * Returns the WRITE-TIME stats manifest (file_id, path, b1_min,
    * b1_max, b2_min, b2_max, n_rows): per-file min/max computed from
    * the frame being written — never re-derived by scanning data files
    * afterwards, which at 100 TB would cost the full scan the layout
    * exists to avoid — with `path` resolved from a directory LISTING of
    * the just-written file_id partitions (metadata-only; mode `append`
    * adds only NEW file_id dirs, so each listed dir holds exactly one
    * data file). Callers persist it next to the data (the `_delta_log`
    * role); Spark's parquet reader skips `_`-prefixed dirs, so the
    * manifest can live under the table root. */
  private def zorderWriteFiles(frame: DataFrame, rankCol: String,
      nFiles: Int, offset: Int, out: String, mode: String = "overwrite",
      rpfOverride: Long = -1L): DataFrame =
    graft.ext.ZTable.writeFiles(frame, rankCol, nFiles, offset, out, mode,
      rpfOverride)

  /** Persist a [[zorderWriteFiles]] stats manifest (one small file —
    * the table-format transaction-log role: the reader prunes from this
    * metadata without touching data files). */
  private def writeStatsManifest(st: DataFrame, path: String): Unit =
    graft.ext.ZTable.writeManifest(st, path)

  /** Skipping audit from a PERSISTED write-time stats manifest — the
    * production read path (Delta/Iceberg discipline): the prune
    * decision touches ONLY manifest metadata (≤ table file count rows,
    * collected driver-side like any table format's log replay), then
    * Spark scans exactly the surviving data files and the box aggregate
    * over that pruned read must reproduce the phase's full box (a
    * wrongly pruned file — i.e. a wrong manifest — hash-mismatches the
    * oracle). Contrast [[zorderAudit]], the one-shot audit that
    * re-derives stats by scanning data; at 100 TB only this path is
    * viable. */
  private def manifestAudit(s: SparkSession, tag: String,
      manifests: Seq[String]): DataFrame = {
    import s.implicits._
    val st = manifests.map(s.read.parquet(_)).reduce(_ unionByName _)
      .collect()
    val scanned = st.filter(r => r.getAs[Long]("b1_max") >= 64 &&
      r.getAs[Long]("b1_min") <= 127 && r.getAs[Long]("b2_max") >= 128 &&
      r.getAs[Long]("b2_min") <= 191)
    val sel = scanned.map(_.getAs[String]("path")).sorted.toSeq
    val rowsScanned = scanned.map(_.getAs[Long]("n_rows")).sum
    val (boxRows, boxSum) =
      if (sel.isEmpty) (0L, 0L)
      else {
        val r = s.read.parquet(sel: _*)
          .where(col("b1").between(64, 127) && col("b2").between(128, 191))
          .agg(count(lit(1)).as("box_rows"),
            coalesce(sum(col("doc_id")), lit(0L)).as("box_sum_doc"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    Seq((tag, st.length.toLong, scanned.length.toLong, rowsScanned,
        boxRows, boxSum))
      .toDF("phase", "n_files", "files_scanned", "rows_scanned",
        "box_rows", "box_sum_doc")
  }

  /** Measured skipping audit over materialized layout roots: per-file
    * stats from the files on disk → manifest prune with the
    * quarter×quarter box → Spark scan of ONLY the surviving files →
    * box aggregate (which must reproduce the phase's full box — a
    * wrongly pruned file hash-mismatches the oracle). */
  private def zorderAudit(s: SparkSession, tag: String,
      roots: Seq[String]): DataFrame = {
    val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
    val stats = roots.map(r => s.read.parquet(r)
        .groupBy(input_file_name().as("_file"))
        .agg(min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
          min(col("b2")).as("b2_min"), max(col("b2")).as("b2_max"),
          count(lit(1)).as("n_rows")))
      .reduce(_ unionByName _)
    val scanCond = col("b1_max") >= 64 && col("b1_min") <= 127 &&
      col("b2_max") >= 128 && col("b2_min") <= 191
    val m = stats.agg(
      count(lit(1)).as("n_files"),
      sum(when(scanCond, 1L).otherwise(0L)).as("files_scanned"),
      coalesce(sum(when(scanCond, col("n_rows"))), lit(0L))
        .as("rows_scanned"))
    val sel = stats.where(scanCond).select(col("_file"))
      .collect().map(_.getString(0)).toSeq.sorted
    val box =
      (if (sel.isEmpty) s.read.parquet(roots.head).where(lit(false))
       else s.read.parquet(sel: _*)).where(boxPred)
        .agg(count(lit(1)).as("box_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("box_sum_doc"))
    m.crossJoin(box).select(lit(tag).as("phase"), col("n_files"),
      col("files_scanned"), col("rows_scanned"), col("box_rows"),
      col("box_sum_doc"))
  }

  /** [[SparkEntry.ShingleCtes]] plus the shingle intersection size of
    * each doc pair (CTE inter): the first three CTEs of the Jaccard
    * oracles. */
  private val JaccardCtes: String =
    s"""$ShingleCtes,
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** The doc pairs at word-3-gram Jaccard >= 0.5 (doc_jaccard_pairs,
    * doc_minhash_lsh). */
  private val JaccardOracle =
    s"""WITH $JaccardCtes
      |SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The z-order layout replay the doc_zorder_* oracles share: two
    * equi-depth 8-bit dimension ranks, b1 over n_chars and b2 over an
    * md5-derived second dimension (CTEs d, nn, r, b). */
  private val ZorderBucketCtes: String =
    """WITH d AS (SELECT doc_id, n_chars,
      |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
      |      1, 15))::BIGINT % 10000 AS d2
      |  FROM documents),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |r AS (SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
      |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
      |  FROM d),
      |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
      |    ((r2 - 1) * 256) // n AS b2
      |  FROM r CROSS JOIN nn)""".stripMargin

  /** [[ZorderBucketCtes]] plus the bit-interleaved z-key and the hash
    * key of each document (CTE z). */
  private val ZorderKeyCtes: String =
    s"""$ZorderBucketCtes,
      |z AS (SELECT doc_id, b1, b2,
      |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
      |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
      |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
      |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
      |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
      |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
      |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
      |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
      |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
      |  FROM b)""".stripMargin

  /** [[ZorderKeyCtes]] plus the zorder/linear/hash layout ranks (CTE zr). */
  private val ZorderRankCtes: String =
    s"""$ZorderKeyCtes,
      |zr AS (SELECT doc_id, b1, b2,
      |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS zrank,
      |    CAST(row_number() OVER (ORDER BY b1, b2, doc_id) AS BIGINT)
      |      AS lrank,
      |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS hrank
      |  FROM z)""".stripMargin

  /** The append-then-OPTIMIZE replay over [[ZorderKeyCtes]]: base files
    * fa, appended hash-ordered files fb, the files a box query rewrites
    * (rw) and their z-ordered rewrite fn. */
  private val ZorderAppendCtes: String =
    """za AS (SELECT doc_id, b1, b2, zkey,
      |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
      |  FROM z WHERE NOT (b2 >= 144 AND doc_id % 2 = 0)),
      |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
      |fa AS (SELECT doc_id, b1, b2, zkey, (rk - 1) // ((n + 51) // 52)
      |    AS file_id FROM za CROSS JOIN na),
      |zb AS (SELECT doc_id, b1, b2, zkey,
      |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS rk
      |  FROM z WHERE b2 >= 144 AND doc_id % 2 = 0),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
      |fb AS (SELECT doc_id, b1, b2, zkey, 52 + (rk - 1) // ((n + 11) // 12)
      |    AS file_id FROM zb CROSS JOIN nb),
      |allf AS (SELECT doc_id, b1, b2, zkey, file_id FROM fa
      |  UNION ALL SELECT doc_id, b1, b2, zkey, file_id FROM fb),
      |fst AS (SELECT file_id,
      |    min(b1) AS b1_min, max(b1) AS b1_max,
      |    min(b2) AS b2_min, max(b2) AS b2_max,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM allf GROUP BY 1),
      |bbox AS (SELECT min(b1) AS a1, max(b1) AS a2,
      |    min(b2) AS a3, max(b2) AS a4 FROM zb),
      |rw AS (SELECT file_id, n_rows FROM fst CROSS JOIN bbox
      |  WHERE b1_min <= a2 AND b1_max >= a1
      |    AND b2_min <= a4 AND b2_max >= a3),
      |zn AS (SELECT doc_id, b1, b2,
      |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
      |  FROM allf WHERE file_id IN (SELECT file_id FROM rw)),
      |fn AS (SELECT doc_id, b1, b2, 1000 + (rk - 1) // ((n + 63) // 64)
      |    AS file_id FROM zn CROSS JOIN nn)""".stripMargin

  /** Per-phase file stats of a `ph(phase, doc_id, b1, b2, file_id)`
    * replay (CTE f) and the files and rows a quarter×quarter box query
    * scans in each phase (CTE fs). */
  private val ZorderPhaseScanCtes: String =
    """f AS (SELECT phase, file_id,
      |    min(b1) AS b1_min, max(b1) AS b1_max,
      |    min(b2) AS b2_min, max(b2) AS b2_max,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM ph GROUP BY 1, 2),
      |fs AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_files,
      |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
      |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
      |      AS BIGINT) AS files_scanned,
      |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
      |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
      |      AS BIGINT) AS rows_scanned
      |  FROM f GROUP BY 1)""".stripMargin

  /** The oracle of doc_zorder_skipping_mat and doc_zorder_manifest_prune:
    * the three layouts replayed logically, per-file stats → manifest
    * prune → scanned-file/row counts, plus the box aggregate over the
    * full table (which the engine must reproduce from ONLY its pruned
    * read). The two queries differ in the ENGINE path only. */
  private val ZorderMatAuditOracle: String =
    s"""$ZorderRankCtes,
      |lay AS (
      |  SELECT 'zorder' AS layout, (zrank - 1) // ((n + 63) // 64)
      |    AS file_id, b1, b2 FROM zr CROSS JOIN nn
      |  UNION ALL
      |  SELECT 'linear', (lrank - 1) // ((n + 63) // 64), b1, b2
      |  FROM zr CROSS JOIN nn
      |  UNION ALL
      |  SELECT 'hash', (hrank - 1) // ((n + 63) // 64), b1, b2
      |  FROM zr CROSS JOIN nn),
      |f AS (SELECT layout, file_id,
      |    min(b1) AS b1_min, max(b1) AS b1_max,
      |    min(b2) AS b2_min, max(b2) AS b2_max,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM lay GROUP BY 1, 2),
      |fs AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
      |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
      |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
      |      AS BIGINT) AS files_scanned,
      |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
      |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
      |      AS BIGINT) AS rows_scanned
      |  FROM f GROUP BY 1),
      |bx AS (SELECT CAST(count(*) AS BIGINT) AS box_rows,
      |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS box_sum_doc
      |  FROM b WHERE b1 BETWEEN 64 AND 127 AND b2 BETWEEN 128 AND 191)
      |SELECT layout, n_files, files_scanned, rows_scanned, box_rows,
      |  box_sum_doc
      |FROM fs CROSS JOIN bx ORDER BY layout""".stripMargin

  /** The near-duplicate closure the doc_dedup_* oracles share: word
    * 3-gram shingles, Jaccard >= 0.5 pairs and their transitive
    * closure `reach(x, y)` (CTEs sh, cnt, inter, pairs, edges, reach). */
  private val ShingleClosureCtes: String =
    s"""WITH RECURSIVE $JaccardCtes,
      |pairs AS (SELECT doc_a, doc_b FROM inter
      |          JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
      |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs
      |          UNION SELECT doc_a, doc_a FROM pairs
      |          UNION SELECT doc_b, doc_b FROM pairs),
      |reach(x, y) AS (SELECT x, y FROM edges
      |  UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)""".stripMargin

  /** The substring-dedup replay of doc_substring_dedup and
    * doc_substring_strip: the documents plus planted leak-prefix copies (d)
    * and the md5 of every 8-token window of each (t, w). */
  private val SubstringWindowCtes: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, 'planted leak prefix alpha beta ' || text
      |  FROM documents WHERE doc_id % 37 = 0),
      |t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM d),
      |w AS (SELECT doc_id, u.pos AS pos, md5(u.s) AS whash FROM (
      |    SELECT doc_id, unnest([{'pos': i - 1,
      |        's': array_to_string(toks[i:i+7], ' ')}
      |      for i in generate_series(1, len(toks) - 7)]) AS u
      |    FROM t WHERE len(toks) >= 8) x)""".stripMargin

  private[graft] def queries: Seq[(String, (Query, String))] = Seq(

    // ------------------------------------------------- extension operators
    // exact dedup (hash-groupBy, deterministic keeper)
    "doc_dedup_exact" -> (((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_copies"))
        
    },
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin)),

    // corpus snapshot diff (data versioning for iterated training-set
    // builds): v1 = doc_id % 5 != 0, v2 = doc_id % 7 != 0 with every
    // % 10 == 3 doc's text mutated — added/removed/changed/unchanged per
    // id via one co-partitioned full-outer join over (id, md5) pairs
    // (digests computed row-local; bodies never shuffle).
    "doc_snapshot_diff" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 5 =!= 0)
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      Corpus.snapshotDiff(v1, v2, "doc_id", "text")
        
    },
      // same version split, same mutation, same md5-compare classification
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE doc_id % 5 <> 0),
        |v2 AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 3 THEN text || ' [rev2]'
        |             ELSE text END) AS h
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.h <> v2.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY 1""".stripMargin)),

    // token-budget truncation to 64 whitespace tokens: before/after
    // counts + an md5 digest of the kept prefix pinning the exact cut.
    "doc_truncate_tokens" -> (((s, dir) => {
      TextAnalysis.truncateTokens(t(s, dir, "documents"), "doc_id",
          "text", maxTokens = 64)
        
    },
      // same 64-token slice, same md5 of the space-joined prefix
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(least(len(toks), 64) AS BIGINT) AS n_kept,
        |  md5(array_to_string(toks[1:64], ' ')) AS kept_md5
        |FROM d ORDER BY doc_id""".stripMargin)),

    // portable Bloom-filter incremental dedup: the historical corpus
    // (doc_id % 5 != 0) compresses to a <= 65536-bit filter (as its
    // distinct set-bit frame — broadcastable no matter the corpus size);
    // the probe batch (doc_id % 5 == 0, plus PLANTED verbatim copies of
    // corpus docs under +100000 ids so true duplicates exist at every sf)
    // flags maybe-dups row-locally. md5-derived bit positions make the
    // filter ENGINE-NEUTRAL, so DuckDB rebuilds the identical bits and
    // the gate pins the full Bloom semantics — flags, the planted
    // no-false-negative guarantee, and any false positives — exactly.
    // exact_dup (a distinct-text semi-join) rides along as ground truth:
    // maybe_dup >= exact_dup row-for-row is the Bloom contract.
    "doc_bloom_dedup" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val planted = corpus.where(col("doc_id") % 50 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val probes = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).unionByName(planted)
      val bits = Dedup.bloomBuild(corpus, "text", m = 65536, k = 5)
      val flagged = Dedup.bloomProbe(probes, "doc_id", "text", bits,
        m = 65536, k = 5)
      val truth = probes.join(
          corpus.select(col("text")).distinct().withColumn("_in", lit(1L)),
          Seq("text"), "left")
        .select(col("doc_id"), coalesce(col("_in"), lit(0L)).as("exact_dup"))
      sortSmall(flagged.join(truth, "doc_id")
        .select(col("doc_id").as("doc"), col("maybe_dup"), col("exact_dup")),
        "doc")
    },
      // identical portable md5 bit positions (60-bit prefix % 65536, k = 5
      // seeds "0:".."4:"), same corpus/probe/plant split; maybe_dup =
      // all-k-bits-set over the corpus's distinct bit set, exact_dup = the
      // distinct-text membership ground truth
      s"""$BloomProbeCtes,
        |flags AS (SELECT doc_id,
        |    CAST(CASE WHEN bool_and(c.bit IS NOT NULL) THEN 1 ELSE 0 END AS BIGINT)
        |      AS maybe_dup
        |  FROM pbits p LEFT JOIN cbits c USING (bit) GROUP BY doc_id)
        |SELECT f.doc_id AS doc, f.maybe_dup,
        |  CAST(CASE WHEN p.text IN (SELECT text FROM corpus) THEN 1 ELSE 0 END AS BIGINT)
        |    AS exact_dup
        |FROM flags f JOIN probes p USING (doc_id) ORDER BY doc""".stripMargin)),

    // exact n-gram Jaccard near-dup pairs
    "doc_jaccard_pairs" -> (((s, dir) => {
      val sh = Dedup.hashedShingles(t(s, dir, "documents"), "doc_id", "text", 3)
      sortSmall(Dedup.jaccardPairs(sh, 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
        "doc_a", "doc_b")
    },
      JaccardOracle)),

    // asymmetric containment pairs (doc-inside-doc detection): fragment
    // copies Jaccard misses when the host is much larger — one-sided
    // prefix filter (containee) × full probe (host), both directions
    "doc_containment_pairs" -> (((s, dir) => {
      val sh = Dedup.hashedShingles(t(s, dir, "documents"), "doc_id", "text", 3)
      sortSmall(Dedup.containmentPairs(sh, 0.8)
        .select(col("doc_a"), col("doc_b"),
          round(col("containment"), 6).as("containment")),
        "doc_a", "doc_b")
    },
      // same string-gram sets; asymmetric ratio, both directions
      s"""WITH $ShingleCtes,
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(i AS DOUBLE) / ca.n, 6) AS containment
        |FROM inter JOIN cnt ca ON doc_a = ca.doc_id
        |WHERE CAST(i AS DOUBLE) / ca.n >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // MinHash-LSH near-dup pairs with exact verification (same oracle as
    // exact Jaccard — recall at the planted-dup level is ~1)
    "doc_minhash_lsh" -> (((s, dir) => {
      sortSmall(Dedup.minhashDupPairs(t(s, dir, "documents"), "doc_id", "text", 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
        "doc_a", "doc_b")
    },
      JaccardOracle)),

    // cluster resolution over the near-dup pair graph: connected
    // components by min-label propagation — each doc's keeper is the
    // minimum reachable id (the keep-one-per-cluster dedup decision).
    // Oracle: DuckDB recursive-CTE transitive closure over the same
    // exact-Jaccard pairs.
    "doc_dedup_clusters" -> (((s, dir) => {
      val cl = clustersFor(s, dir)
      val sizes = cl.groupBy(col("root")).agg(count(lit(1)).as("cluster_size"))
      sortSmall(cl.join(sizes, "root")
        .select(col("doc").as("doc_id"), col("root").as("keeper"),
          col("cluster_size")), "doc_id")
    },
      // connected components over the JaccardOracle pair graph via
      // recursive-CTE transitive closure (tiny graph — pairs only)
      s"""$ShingleClosureCtes,
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x),
        |sizes AS (SELECT keeper, COUNT(*) AS cluster_size FROM comp GROUP BY keeper)
        |SELECT c.doc_id, c.keeper, s.cluster_size
        |FROM comp c JOIN sizes s USING (keeper)
        |ORDER BY doc_id""".stripMargin)),

    // keep-BEST-in-cluster: same near-dup clusters, but the kept
    // representative is the highest-quality member (most ws-tokens, ties
    // to the lowest id) instead of the min-id root — the decision layer a
    // production pipeline actually wants (keep the longest variant, drop
    // the truncated copies). One join of the cluster table to row-local
    // token counts + a per-root window over cluster-sized groups.
    "doc_keep_best" -> (((s, dir) => {
      val cl = clustersFor(s, dir)
      val q = t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val member = cl.join(q, cl("doc") === q("doc_id"))
      val w = Window.partitionBy(col("root"))
        .orderBy(col("n_tokens").desc, col("doc"))
      sortSmall(member.withColumn("_r", row_number().over(w))
        .where(col("_r") === 1)
        .select(col("root"), col("doc").as("best_doc"), col("n_tokens")),
        "root")
    },
      // kept = all docs minus cluster members that are not their cluster's
      // keeper (same recursive-CTE closure as doc_dedup_clusters)
      // same recursive-closure clusters; keeper re-picked by
      // (n_tokens DESC, doc_id) inside each component
      s"""$ShingleClosureCtes,
        |comp AS (SELECT x AS doc_id, min(y) AS root FROM reach GROUP BY x),
        |m AS (SELECT c.root, c.doc_id,
        |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |      FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
        |r AS (SELECT root, doc_id, n_tokens,
        |        row_number() OVER (PARTITION BY root
        |          ORDER BY n_tokens DESC, doc_id) AS rn
        |      FROM m)
        |SELECT root, doc_id AS best_doc, n_tokens FROM r WHERE rn = 1
        |ORDER BY root""".stripMargin)),

    // the end-to-end dedup DECISION: which documents a training pipeline
    // keeps. Exact duplicates have Jaccard 1, so the near-dup pair graph
    // subsumes exact dedup — kept = docs outside any cluster plus each
    // cluster's keeper. Left anti/semi composition over the shared
    // cluster table (mined once per sf dir).
    "doc_dedup_keep" -> (((s, dir) => {
      val cl = clustersFor(s, dir)
      val kept = t(s, dir, "documents").select(col("doc_id"))
        .join(cl, col("doc_id") === col("doc"), "left")
        .where(col("root").isNull || col("root") === col("doc_id"))
        .select(col("doc_id"))
      sortBig(kept, "doc_id")
    },
      s"""$ShingleClosureCtes,
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x)
        |SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL OR c.keeper = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // the MATERIALIZED dedup decision: join the keep-list back to the
    // documents table, write the deduped corpus as lang-partitioned
    // parquet (the artifact an LLM training-data pipeline ships), then
    // audit the files on disk — per-lang count, id/char sums, and an
    // md5-derived content checksum over the text actually written. The
    // oracle recomputes the same keep-join + checksums from the source
    // table, so a green row proves the end-to-end
    // mine→cluster→keep→write→read-back path, not just the plan.
    "doc_dedup_sink" -> (((s, dir) => {
      val sink = s.read.parquet(dedupSinkFor(s, dir))
      sortSmall(sink.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long"), lit(1000003L))).as("checksum")),
        "lang")
    },
      // same recursive-CTE keep-join as doc_dedup_keep, then the identical
      // per-lang audit aggregates the engine computes over the files it
      // wrote (md5-prefix checksum is the cross-engine text fingerprint)
      s"""$ShingleClosureCtes,
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x),
        |kept AS (SELECT d.* FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |         WHERE c.doc_id IS NULL OR c.keeper = d.doc_id)
        |SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(doc_id)::BIGINT AS sum_doc_id,
        |  SUM(n_chars)::BIGINT AS sum_n_chars,
        |  SUM(('0x' || substring(md5(text),1,15))::BIGINT % 1000003)::BIGINT AS checksum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin)),

    // the FULL curation pipeline an LLM data pipeline actually ships,
    // composed from operators this engine already declares one-by-one:
    // quality thresholds (n_tokens >= 15, stopword_ratio >= 0.01,
    // distinct_ratio >= 0.3 — each cuts real rows on this corpus),
    // Gopher-style repetition cut (top_2gram_frac <= 0.1), language-ID
    // confidence (pred_lang <> 'und' — drops the ~24% of docs whose
    // function-word hits are zero, e.g. zh), then the near-dup keep-join,
    // materialized as lang-partitioned parquet and AUDITED ON DISK (the
    // oracle recomputes the identical filter+keep join + checksums from
    // the source table). All predicate comparisons are on ROUNDED ratio
    // values the per-operator gates already hash-match, so the filter
    // boundary is bit-identical across engines. Scale shape: the three
    // filters are row-local projections / one (doc, gram) aggregate;
    // every join key is doc_id, so the composite aligns on one exchange
    // and the write shuffles once into lang partitions.
    "doc_curate_sink" -> (((s, dir) => {
      val sink = s.read.parquet(curateSinkFor(s, dir))
      sortSmall(sink.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long"), lit(1000003L))).as("checksum")),
        "lang")
    },
      // the composite curation pipeline: the SAME quality / repetition /
      // language-ID predicates as the per-operator oracles (text_quality,
      // text_repetition, text_langid — all on rounded ratios), the SAME
      // recursive-CTE keep-join as doc_dedup_sink, then the identical
      // per-lang audit over the kept set
      s"""$ShingleClosureCtes,
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |qual AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      CAST(len(toks) AS BIGINT) AS n_tokens,
        |      round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS distinct_ratio,
        |      round(CAST(len([x for x in toks if list_contains(['the','a','of','and','to','in','is','it','for','on','with','as','at','by','an','be','this','that'], x)]) AS DOUBLE) / len(toks), 6) AS stopword_ratio
        |    FROM tk)
        |  WHERE n_tokens >= 15 AND stopword_ratio >= 0.01 AND distinct_ratio >= 0.3),
        |grams AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
        |calm AS (SELECT doc_id FROM (
        |    SELECT doc_id, round(MAX(c)::DOUBLE / SUM(c), 6) AS top_2gram_frac
        |    FROM gc GROUP BY 1)
        |  WHERE top_2gram_frac <= 0.1),
        |lt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |lh AS (SELECT doc_id,
        |  len([x for x in toks if list_contains(['the','and','of','to','is','in','that','it'], x)]) AS hits_en,
        |  len([x for x in toks if list_contains(['der','die','das','und','ist','nicht','ein','zu'], x)]) AS hits_de,
        |  len([x for x in toks if list_contains(['el','la','de','que','y','en','un','es'], x)]) AS hits_es,
        |  len([x for x in toks if list_contains(['le','la','et','les','des','est','un','dans'], x)]) AS hits_fr
        |  FROM lt),
        |lid AS (SELECT doc_id FROM lh
        |  WHERE hits_en > 0 OR hits_de > 0 OR hits_es > 0 OR hits_fr > 0),
        |kept AS (SELECT d.* FROM documents d
        |         LEFT JOIN comp c ON d.doc_id = c.doc_id
        |         WHERE (c.doc_id IS NULL OR c.keeper = d.doc_id)
        |           AND d.doc_id IN (SELECT doc_id FROM qual)
        |           AND d.doc_id IN (SELECT doc_id FROM calm)
        |           AND d.doc_id IN (SELECT doc_id FROM lid))
        |SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(doc_id)::BIGINT AS sum_doc_id,
        |  SUM(n_chars)::BIGINT AS sum_n_chars,
        |  SUM(('0x' || substring(md5(text),1,15))::BIGINT % 1000003)::BIGINT AS checksum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin)),

    // token-budget SHARD PACKING — the concat-then-chunk layout step
    // that turns a curated corpus into fixed-size training shards:
    // documents laid end to end in doc_id order, a document's shard is
    // where its first token lands. Computed as a distributed two-stage
    // prefix sum (per-id-range token totals → exclusive prefix over the
    // tiny bucket frame → partitioned intra-bucket running sum), so no
    // corpus-wide single-task window exists in the plan; bucketWidth 64
    // exercises multiple buckets at this sf (output is width-invariant,
    // pinned in ExtSpec). Exact integer arithmetic throughout.
    "doc_pack_shards" -> (((s, dir) => {
      sortBig(Corpus.packShards(t(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 1000L, bucketWidth = 64L), "doc")
    },
      // global concat-then-chunk shard assignment: one ordered window
      // cumsum — the oracle's single-node luxury; the engine computes the
      // same exclusive prefix with the two-stage bucket decomposition
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id AS doc, n_tokens, start_offset,
        |  CAST(start_offset // 1000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc""".stripMargin)),

    // fixed-length SEQUENCE packing (context-window layout): documents
    // laid end to end, cut every 256 tokens; each doc's sequence span +
    // in-sequence offset — the loader-facing twin of doc_pack_shards
    // (same decomposed prefix sum, docs SPAN cuts instead of binning)
    "doc_seq_pack" -> (((s, dir) => {
      sortBig(Corpus.packSequences(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 256L, bucketWidth = 64L), "doc")
    },
      // same prefix sum; span columns are integer divisions on top
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id AS doc, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS seq_start,
        |  CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS seq_end,
        |  CAST(start_offset % 256 AS BIGINT) AS offset_in_seq,
        |  CAST((start_offset + n_tokens - 1) // 256
        |    - start_offset // 256 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc""".stripMargin)),

    // seeded GLOBAL SHUFFLE + shard packing — the reproducible
    // training-order step: shuffle key = md5(seed:doc), documents laid
    // end to end in key order, cut every 1000 tokens. Same decomposed
    // prefix sum as doc_pack_shards but bucketed by the key's first two
    // hex digits (256 uniformly-loaded hash ranges — md5 balances them
    // by construction, so the shuffle also FIXES any id skew).
    "doc_shuffle_pack" -> (((s, dir) => {
      sortBig(Corpus.shufflePack(t(s, dir, "documents"), "doc_id", "text",
        seed = "shuf42", budgetTokens = 1000L), "doc")
    },
      // hash-ordered twin of doc_pack_shards: the oracle orders by the
      // same md5 shuffle key; the engine's 256-way hash-prefix bucket
      // decomposition must land on the identical global offsets
      """WITH k AS (SELECT doc_id AS doc,
        |    md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc, shuffle_key, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM k)
        |SELECT doc, shuffle_key, n_tokens, start_offset,
        |  CAST(start_offset // 1000 AS BIGINT) AS shard_id
        |FROM o ORDER BY doc""".stripMargin)),

    // sequence packing keyed on REAL learned-BPE token counts (the
    // budget a training loader actually fills) instead of the
    // whitespace approximation — the trained merge table feeds the same
    // decomposed prefix-sum packing; the oracle composes the generated
    // BPE replay with the packing arithmetic.
    "doc_seq_pack_bpe" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      val counts = graft.ext.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .select(col("doc"), col("bpe_tokens").as("n_tokens"))
      sortBig(Corpus.packSequencesFromCounts(counts, seqLen = 256L,
        bucketWidth = 64L), "doc")
    },
      // the generated BPE replay (bpe CTE) composed with the identical
      // packing arithmetic, keyed on real token counts
      (graft.ext.Bpe.oracleCountsCte(8) +
      """,
        |c AS (SELECT doc, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM bpe)
        |SELECT doc, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS seq_start,
        |  CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS seq_end,
        |  CAST(start_offset % 256 AS BIGINT) AS offset_in_seq,
        |  CAST((start_offset + n_tokens - 1) // 256
        |    - start_offset // 256 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc""".stripMargin))),

    // the same packing keyed on the TRAINED UNIGRAM tokenizer's counts
    // (r14) — the loader-budget composition for the second tokenizer
    // family; the oracle composes the generated unigram training replay
    // with the identical packing arithmetic
    "doc_seq_pack_unigram" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = graft.ext.Unigram.tokenCountsFromDict(docs, "doc_id",
          "text", unigramDictFor(s, dir))
        .select(col("doc"), col("uni_tokens").as("n_tokens"))
      sortBig(Corpus.packSequencesFromCounts(counts, seqLen = 256L,
        bucketWidth = 64L), "doc")
    },
      // the generated unigram replay (uni CTE) composed with the identical
      // packing arithmetic, keyed on trained-unigram token counts
      (graft.ext.Unigram.oracleCountsCte(64) +
      """,
        |c AS (SELECT doc, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM uni)
        |SELECT doc, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS seq_start,
        |  CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS seq_end,
        |  CAST(start_offset % 256 AS BIGINT) AS offset_in_seq,
        |  CAST((start_offset + n_tokens - 1) // 256
        |    - start_offset // 256 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc""".stripMargin))),

    // FUZZY decontamination — the near-dup completion of
    // doc_decontaminate's exact 5-gram overlap: benchmark docs that were
    // lightly EDITED before leaking into the train side (here: planted
    // with the first word dropped, so exact-prefix matching breaks but
    // shingle Jaccard stays high) are caught by an EXACT cross-corpus
    // shingle join (crossJaccardPairs): the bench side is small enough
    // to broadcast — the decontamination case always is — so recall is
    // 1.0 by construction and the brute-force oracle matches
    // definitionally at any scale (a banded MinHash detector has ~64%
    // per-pair recall exactly AT J = 0.5, a latent data-dependent red if
    // a natural just-above-threshold pair ever appears). Train corpus
    // never shuffled on a content key.
    // Decision layer: per train doc, how many benchmark docs it collides
    // with and the worst exact Jaccard — the drop list a pipeline feeds
    // back into curation.
    "doc_fuzzy_decon" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
            .as("text"))
      sortBig(Dedup.crossJaccardPairs(docs, bench, "doc_id", "text",
          minJ = 0.5)
        .groupBy(col("doc_a"))
        .agg(count(lit(1)).as("n_bench"),
          max(round(col("jaccard"), 6)).as("max_jaccard"))
        .select(col("doc_a").as("doc"), col("n_bench"), col("max_jaccard")),
        "doc")
    },
      // cross-corpus exact-Jaccard replay: the oracle brute-forces every
      // (train, bench) pair over the STRING shingles (pinning the hashed
      // engine path), with the bench side rebuilt by the same
      // drop-first-word edit
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |be AS (SELECT doc_id + 1000000 AS doc_id, w[2:] AS w
        |       FROM w WHERE doc_id % 20 = 7),
        |sha AS (SELECT doc_id,
        |    unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM w),
        |shb AS (SELECT doc_id,
        |    unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM be),
        |cna AS (SELECT doc_id, COUNT(*) n FROM sha GROUP BY 1),
        |cnb AS (SELECT doc_id, COUNT(*) n FROM shb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sha a JOIN shb b ON a.s = b.s GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b,
        |    CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS j
        |  FROM inter JOIN cna ca ON doc_a = ca.doc_id
        |  JOIN cnb cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5)
        |SELECT doc_a AS doc, CAST(COUNT(*) AS BIGINT) AS n_bench,
        |  MAX(round(j, 6)) AS max_jaccard
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // URL-level dedup (r11 verdict task 7 — C4's other dedup axis):
    // RFC 3986 case/port/path normalization + fragment and
    // tracking-parameter strip, keeper = min doc_id per canonical
    // form. Planted twins (tracking query / fragment / uppercase host
    // + default port + trailing slash) must collapse; a planted KEPT
    // content query (?page=2) must stay distinct. Canonicalization is
    // row-local; the dedup is one canon-keyed hash aggregate + join.
    "doc_url_dedup" -> (((s, dir) => {
      sortBig(UrlOps.urlDedup(
        syntheticUrls(t(s, dir, "documents")), "doc_id", "url"), "doc")
    },
      // identical planted URLs + canonicalization regex steps + min-id
      // keeper per canonical form
      (s"WITH $UrlCanonCtes" + """
      |SELECT cn.doc_id AS doc, cn.host, cn.canon,
      |  cn.doc_id = k.keeper AS is_keeper
      |FROM cn JOIN k USING (canon) ORDER BY doc""".stripMargin))),

    // host-level aggregation joining the LINK-GRAPH PRIOR: per host,
    // doc/canonical counts and the exact-decimal mean PageRank of the
    // KEPT docs — the host-quality table a crawl pipeline ranks and
    // budgets by (URL dedup composed with doc_pagerank's rank frame)
    "doc_url_host_rank" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val pr = rankFor(s, dir)
        .select(col("node").as("doc"), col("rank"))
      val du = UrlOps.urlDedup(syntheticUrls(docs), "doc_id", "url")
      sortSmall(du.join(pr, "doc")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_canonical"),
          sum(col("is_keeper").cast("long")).as("n_kept"),
          r6(sum(when(col("is_keeper"), col("rank")).otherwise(lit(0.0))
            .cast(DecimalType(38, 6))).cast("double") /
            sum(col("is_keeper").cast("long"))).as("mean_kept_rank")),
        "host")
    },
      // URL CTEs + the pageRank replay prefix: per-host counts and the
      // exact-decimal mean rank of kept docs
      (Graph.pageRankOracleCtes(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8) + ",\n" +
      UrlCanonCtes + """
      |SELECT cn.host, COUNT(*)::BIGINT AS n_docs,
      |  COUNT(DISTINCT cn.canon)::BIGINT AS n_canonical,
      |  SUM(CASE WHEN cn.doc_id = k.keeper THEN 1 ELSE 0 END)::BIGINT
      |    AS n_kept,
      |  floor(CAST(SUM(CASE WHEN cn.doc_id = k.keeper
      |      THEN CAST(r8.rank AS DECIMAL(38,6))
      |      ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
      |    / SUM(CASE WHEN cn.doc_id = k.keeper THEN 1 ELSE 0 END)
      |    * 1000000.0 + 0.5) / 1000000.0 AS mean_kept_rank
      |FROM cn JOIN k USING (canon) JOIN r8 ON cn.doc_id = r8.node
      |GROUP BY 1 ORDER BY 1""".stripMargin))),

    // THE COMPOSED END-TO-END CURATION PIPELINE (r11 verdict task 1):
    // every stage already ships as a declared operator; this runs the
    // REAL pipeline shape a user runs — ingest → C4 line cleaning →
    // exact+fuzzy dedup → Gopher gates → trained-LR quality gate →
    // fuzzy decontamination → temperature mix → seeded shuffle-pack —
    // as ONE composed job graph, oracle-pinned end to end by composed
    // CTEs (the pack offsets depend on every upstream keep decision, so
    // one hash-matched row set proves the whole composition: which docs
    // survived, in what order, at what offsets). The cross-stage
    // interactions per-stage queries can't see — dedup keepers feeding
    // the gates, mix rates computed from POST-filter source counts —
    // are exactly what this pins. Scale shape: stage filters are
    // row-local or id-keyed semi/anti joins aligned on doc_id; the
    // cluster miner and decon are the bucketed/broadcast forms; the
    // pack is the decomposed 256-bucket prefix sum. localCheckpoints
    // sit where a real pipeline materializes (cleaned / deduped /
    // curated corpus).
    "doc_pipeline_e2e" -> (((s, dir) => {
      sortBig(e2eStagesFor(s, dir).packed, "doc")
    },
      // the composed pipeline replayed END TO END: LR training CTEs +
      // ingest/clean/dedup-closure/gopher/LR-gate/decon/mix/pack CTEs —
      // the packed row set (offsets included) pins every upstream keep
      // decision in one hash match
      e2eOracleSql(
      """SELECT doc, lang, source, shuffle_key, n_tokens, start_offset,
        |  CAST(start_offset // 1000 AS BIGINT) AS shard_id
        |FROM ppo ORDER BY doc""".stripMargin))),

    // the pipeline's per-stage FUNNEL accounting (docs surviving each
    // stage + final shard/token mass) — the telemetry row a pipeline
    // run reports; one tiny crossed aggregate per stage over the shared
    // staged frames (broadcast scalars, the doc_lsh_audit shape)
    "doc_pipeline_funnel" -> (((s, dir) => {
      val st = e2eStagesFor(s, dir)
      st.ingest.agg(count(lit(1)).as("n_ingest"))
        .crossJoin(st.urlDeduped.agg(count(lit(1)).as("n_url_dedup")))
        .crossJoin(st.cleaned.agg(count(lit(1)).as("n_clean")))
        .crossJoin(st.deduped.agg(count(lit(1)).as("n_dedup")))
        .crossJoin(st.gated.agg(count(lit(1)).as("n_gopher")))
        .crossJoin(st.scoredKeep.agg(count(lit(1)).as("n_quality")))
        .crossJoin(st.ranked.agg(count(lit(1)).as("n_rank")))
        .crossJoin(st.decon.agg(count(lit(1)).as("n_decon")))
        .crossJoin(st.mixed.agg(count(lit(1)).as("n_mix")))
        .crossJoin(st.packed.agg(
          countDistinct(col("shard_id")).as("n_shards"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("sum_tokens")))
    },
      // same CTE prefix, funnel tail: per-stage survivor counts + final
      // shard/token mass
      e2eOracleSql(
      """SELECT
        |  (SELECT COUNT(*)::BIGINT FROM ing) AS n_ingest,
        |  (SELECT COUNT(*)::BIGINT FROM udd) AS n_url_dedup,
        |  (SELECT COUNT(*)::BIGINT FROM cln) AS n_clean,
        |  (SELECT COUNT(*)::BIGINT FROM dd) AS n_dedup,
        |  (SELECT COUNT(*)::BIGINT FROM ag) AS n_gopher,
        |  (SELECT COUNT(*)::BIGINT FROM al) AS n_quality,
        |  (SELECT COUNT(*)::BIGINT FROM rkp) AS n_rank,
        |  (SELECT COUNT(*)::BIGINT FROM ad) AS n_decon,
        |  (SELECT COUNT(*)::BIGINT FROM am) AS n_mix,
        |  (SELECT COUNT(DISTINCT CAST(start_offset // 1000 AS BIGINT))
        |     ::BIGINT FROM ppo) AS n_shards,
        |  (SELECT COALESCE(SUM(n_tokens), 0)::BIGINT FROM ppk)
        |    AS sum_tokens""".stripMargin))),

    // model-in-the-loop quality gate: a linear classifier TRAINED
    // INSIDE the engine (full-batch GD over hashed bag-of-words, 16
    // rounds, Elliott rational sigmoid) then scored over every doc.
    // Training aggregation is EXACT — weights/residuals live on the
    // 2^-20 dyadic grid, counts are integers, so every float partial
    // sum is exactly representable and order/partition-invariant; every
    // remaining scalar op is IEEE correctly-rounded (no exp anywhere).
    // The oracle therefore REPLAYS THE WHOLE TRAINING in DuckDB (the
    // BPE generated-oracle discipline applied to gradient descent) and
    // lands on the bit-identical model. One aggregate job per GD round
    // (driver traffic O(d) doubles), row-local scoring — corpus scanned
    // T times from cache, never shuffled on a token key.
    "doc_quality_lr" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      sortBig(QualityModel.scoreLogReg(feat, lrModelFor(s, dir)), "doc")
    },
      // generated training-replay oracle (the BPE discipline applied to
      // gradient descent): DuckDB re-runs all 16 GD rounds — sound
      // because every aggregate in the loop is exact dyadic arithmetic
      // and every scalar op is IEEE correctly-rounded (see QualityModel)
      QualityModel.qualityOracleSql(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"))),

    // calibration audit of the SAME trained gate (reliability bins):
    // before a pipeline trusts classifier probabilities as sampling
    // weights it must know whether 0.8 means 80 % — ten fixed-width
    // probability bins, each with mean predicted probability vs
    // observed positive fraction and their gap (the per-bin ECE term).
    // The oracle replays training (shared generated CTEs) + the binning;
    // probabilities use the same Elliott sigmoid, bin means use the
    // 6-dp-round-then-exact-decimal-sum discipline.
    "doc_lr_calibration" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      sortSmall(QualityModel.calibrationBins(
        QualityModel.scoreLogReg(feat, lrModelFor(s, dir))
          .select(col("doc"), col("y"), col("score"))), "bin")
    },
      // same generated training CTEs, calibration tail: Elliott
      // probabilities, ten fixed bins, 6-dp-round-then-decimal-sum means
      QualityModel.calibrationOracleSql(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"))),

    // DSIR importance resampling (Xie et al. 2023) — select raw docs
    // whose hashed-unigram profile looks like the TARGET slice:
    // add-1-smoothed per-bucket log mass ratio (ONE ln per bucket over
    // an exact int64 ratio, rounded to 6 dp before any use), per-doc
    // importance = exact-decimal Σ c_j·λ_j, keep the top 20% by
    // (score, doc). Target membership is a row-local predicate carried
    // through the one bow aggregate — the target slice is corpus-sized
    // and is never broadcast or re-joined; the d-row weight table is
    // the only broadcast. The global rank is exact here; at 100 TB the
    // keep decision becomes a quantile threshold on score (same
    // weights, no total order needed).
    "doc_dsir_sample" -> (((s, dir) => {
      sortBig(QualityModel.dsirSample(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en"), "doc")
    },
      QualityModel.dsirOracleSql("lang = 'en'"))),

    // deterministic stratified Bernoulli sampling — the training-mix
    // rebalancing step: per-lang keep rates in basis points, keep iff
    // the portable md5-derived sampling hash of doc_id falls under the
    // stratum's rate. Row-local predicate (no shuffle, no RNG state,
    // scan-pushable) and engine-portable, so a different engine — or a
    // re-run, or any partitioning — selects the IDENTICAL rows: the
    // reproducibility a training-data recipe needs. Downsamples the
    // dominant strata (en 2500 bp, zh 5000 bp), keeps the rest whole.
    "doc_sample_stratified" -> (((s, dir) => {
      sortBig(Corpus.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 2500L, "zh" -> 5000L))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("sample_bucket")), "doc_id")
    },
      // identical portable md5 sampling hash + per-stratum rate predicate
      """WITH s AS (SELECT doc_id, lang, n_chars,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 10000 AS BIGINT) AS sample_bucket
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, sample_bucket FROM s
        |WHERE sample_bucket < CASE WHEN lang = 'en' THEN 2500
        |                           WHEN lang = 'zh' THEN 5000
        |                           ELSE 10000 END
        |ORDER BY doc_id""".stripMargin)),

    // deterministic train/validation/test split (90/5/5) — the held-out
    // assignment step: split is a pure function of (salt, doc_id) via
    // the portable salted md5 bucket, so a document can NEVER migrate
    // from test into train across re-runs/partitionings/engines (the
    // classic eval leak a rand() split invites), and the whole op is a
    // shuffle-free row-local projection that pushes to the scan. The
    // salt keeps the split hash independent of sample_bucket's, so
    // sampling and splitting decisions stay statistically independent.
    "doc_hash_split" -> (((s, dir) => {
      sortBig(Corpus.hashSplit(t(s, dir, "documents"), "doc_id",
          salt = "split", trainBp = 9000L, valBp = 500L)
        .select(col("doc_id"), col("lang"), col("split_bucket"),
          col("split")), "doc_id")
    },
      // identical salted md5 bucket + the same basis-point thresholds
      """WITH s AS (SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS BIGINT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, lang, split_bucket,
        |  CASE WHEN split_bucket < 9000 THEN 'train'
        |       WHEN split_bucket < 9500 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM s ORDER BY doc_id""".stripMargin)),

    // exact-k uniform sample without replacement — the exact-BUDGET
    // sibling of doc_sample_stratified's rate form: the k smallest
    // salted md5 keys win. orderBy(key).limit(k) compiles to
    // TakeOrderedAndProject (size-k heap per partition + k-row driver
    // merge — no global sort, no corpus shuffle), and the min-wise hash
    // property means growing the corpus can only evict, never
    // reshuffle, previously selected docs.
    "doc_sample_topk" -> (((s, dir) => {
      sortSmall(Corpus.uniformSampleK(t(s, dir, "documents"), "doc_id",
          k = 100)
        .select(col("doc_id"), col("lang"), col("sample_key")),
        "sample_key", "doc_id")
    },
      // same salted md5 keys, ANSI top-k
      """SELECT doc_id, lang,
        |  md5('usample:' || CAST(doc_id AS VARCHAR)) AS sample_key
        |FROM documents ORDER BY sample_key, doc_id LIMIT 100""".stripMargin)),

    // exact-k WEIGHTED sample without replacement (Efraimidis–Spirtes
    // exponential keys: u from the salted 60-bit md5 bucket, keep the k
    // smallest -ln(u)/w) — here length-biased by n_chars: the
    // exact-budget form of importance sampling (DSIR gives the same
    // bias as a rate). Keys rounded to 6 dp + id tie-break so the
    // selected set is engine-portable; same TakeOrderedAndProject
    // shape, no corpus shuffle.
    "doc_sample_weighted" -> (((s, dir) => {
      sortSmall(Corpus.weightedSampleK(t(s, dir, "documents"), "doc_id",
          "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars"), col("es_key")),
        "es_key", "doc_id")
    },
      // identical exponential-key arithmetic: u = (bucket + 0.5)/2^60,
      // key = round(-ln(u)/w, 6), k smallest; the w > 0 filter mirrors the
      // engine's (E-S gives non-positive weights probability 0)
      """WITH b AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT AS bucket
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars,
        |  round(-ln((bucket + 0.5) / 1152921504606846976.0) / n_chars, 6)
        |    AS es_key
        |FROM b ORDER BY es_key, doc_id LIMIT 100""".stripMargin)),

    // UniMax WATER-FILLING budget allocation (r13): distribute a token
    // budget (80% of total capacity) across languages as EVENLY as the
    // data allows — small languages keep everything (saturated), large
    // ones are cut to the common level λ with Σ min(cap, λ) = budget.
    // Exact integer closed form over cap-ascending prefix sums; the
    // corpus side is ONE map-side-combinable aggregate, every window
    // runs on the |langs|-row aggregated frame.
    "doc_budget_waterfill" -> (((s, dir) => {
      sortSmall(Corpus.waterfillAlloc(t(s, dir, "documents"), "lang",
        "n_chars", budgetBp = 8000L), "lang")
    },
      // the same exact-integer water-filling closed form over the
      // cap-ascending prefix sums (BIGINT casts pin DuckDB's
      // HUGEINT window sums back to the engine's long arithmetic)
      s"""$BudgetCapCtes
        |SELECT lang, cap AS cap_tokens,
        |  CASE WHEN saturated THEN cap
        |       ELSE least(cap, (b - psat) // (n - nsat)
        |         + CASE WHEN i - nsat <= (b - psat) % (n - nsat)
        |                THEN 1 ELSE 0 END) END AS alloc_tokens,
        |  saturated,
        |  CASE WHEN n - nsat > 0 THEN (b - psat) // (n - nsat) END AS level
        |FROM s CROSS JOIN a
        |ORDER BY lang""".stripMargin)),

    // APPLY the water-filled budget: per language, keep docs in
    // salted-hash order while the inclusive running token total fits
    // the allocation — greedy exact-budget fill, deterministic pure
    // function of (salt, ids, allocs). The running total rides
    // Ranks.stratifiedRunningSum (two full-width corpus exchanges),
    // never a one-task-per-language window — the dominant language IS
    // most of a real corpus.
    "doc_budget_fill" -> (((s, dir) => {
      sortBig(Corpus.waterfillFill(t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "lang", "n_chars", budgetBp = 8000L)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("fill_key"),
          col("cum_tokens"), col("alloc_tokens")), "doc_id")
    },
      // the same allocation CTEs + the per-language greedy hash-order
      // prefix fill (window frame is rows by the unique (fill_key, id)
      // order, so RANGE vs ROWS framing cannot differ)
      s"""$BudgetAllocCtes,
        |k AS (SELECT doc_id, lang, n_chars,
        |    md5('bfill:' || CAST(doc_id AS VARCHAR)) AS fill_key
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars, fill_key,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY fill_key, doc_id) AS BIGINT) AS cum_tokens
        |  FROM k)
        |SELECT doc_id, c.lang, n_chars, fill_key, cum_tokens, alloc_tokens
        |FROM c JOIN al ON c.lang = al.lang
        |WHERE cum_tokens <= alloc_tokens
        |ORDER BY doc_id""".stripMargin)),

    // per-STRATUM exact-k sample (the "k docs from every language"
    // quota form of doc_sample_topk): k smallest salted md5 keys per
    // stratum via Ranks.stratifiedRowNumber — range keys (lang, key,
    // id), so the dominant stratum spreads over all partitions instead
    // of stalling one task the way Window.partitionBy(lang) would.
    // Same min-wise hash property per stratum: growing the corpus can
    // only evict, never reshuffle, selected docs.
    "doc_sample_stratified_k" -> (((s, dir) => {
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          Corpus.sampleKey(col("doc_id"), "ssample").as("sample_key"))
      sortSmall(Ranks.stratifiedRowNumber(keyed, Seq("lang"),
          Seq(col("sample_key"), col("doc_id")), out = "sample_rank")
        .where(col("sample_rank") <= 20)
        .select(col("doc_id"), col("lang"), col("sample_key"),
          col("sample_rank")),
        "lang", "sample_rank")
    },
      // same salted keys, per-stratum ANSI window rank
      """WITH k AS (SELECT doc_id, lang,
        |    md5('ssample:' || CAST(doc_id AS VARCHAR)) AS sample_key
        |  FROM documents),
        |r AS (SELECT doc_id, lang, sample_key,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank
        |  FROM k)
        |SELECT doc_id, lang, sample_key, sample_rank FROM r
        |WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin)),

    // CORPUS REPORT CARD — the per-source dataset-card profile a
    // training-data release ships: doc/token counts, language breadth,
    // exact-decimal mean length, exact-dup rate (1 − distinct content
    // hashes / docs), and the EXACT median length order statistics via
    // the skew-safe stratified rank frame (never a per-source
    // collect_list). One corpus aggregate + one range-shuffle rank
    // pass; output is |sources| rows.
    "doc_corpus_card" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).cast("long").as("n_tokens"),
        r6(sum(col("n_chars").cast(DecimalType(38, 6))).cast("double") /
          count(lit(1))).as("mean_chars"),
        r6(lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
          count(lit(1))).as("dup_rate"))
      val nS = docs.groupBy(col("source")).agg(count(lit(1)).as("_n"))
      val med = Ranks.stratifiedRowNumber(
          docs.select(col("source"), col("n_chars"), col("doc_id")),
          Seq("source"), Seq(col("n_chars"), col("doc_id")), out = "_rn")
        .join(broadcast(nS), "source")
        .withColumn("_lo", expr("((_n - 1) div 2) + 1"))
        // odd n: the _lo order statistic IS the median, so the bracket
        // collapses (hi = lo); even n: the two middle statistics. A
        // blanket lo+1 would report the (m+1)-th statistic as median_hi
        // for odd sources and consumers averaging lo/hi would be wrong.
        .withColumn("_hi",
          when(pmod(col("_n"), lit(2L)) === 1, col("_lo"))
            .otherwise(col("_lo") + 1))
        .where(col("_rn") === col("_lo") || col("_rn") === col("_hi"))
        .groupBy(col("source"))
        .agg(min(when(col("_rn") === col("_lo"), col("n_chars")))
            .as("median_lo"),
          min(when(col("_rn") === col("_hi"), col("n_chars")))
            .as("median_hi"))
      sortSmall(base.join(med, "source"), "source")
    },
      // per-source aggregates + the window-rank median replay (the engine
      // side rides the stratified rank frame; ranks under a total order
      // are engine-invariant)
      """WITH base AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_tokens,
        |    floor(CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_chars,
        |    floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |      / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
        |  FROM documents GROUP BY 1),
        |rk AS (SELECT source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents),
        |med AS (SELECT source,
        |    min(CASE WHEN rn = ((n - 1) // 2) + 1 THEN n_chars END)
        |      AS median_lo,
        |    min(CASE WHEN rn = (CASE WHEN n % 2 = 1 THEN ((n - 1) // 2) + 1
        |                             ELSE ((n - 1) // 2) + 2 END)
        |      THEN n_chars END) AS median_hi
        |  FROM rk GROUP BY 1)
        |SELECT base.source, n_docs, n_langs, n_tokens, mean_chars, dup_rate,
        |  median_lo, median_hi
        |FROM base JOIN med ON base.source = med.source
        |ORDER BY base.source""".stripMargin)),

    // DOMAIN BLOCKLIST — the crawl front-gate (C4/CCNet drop spam and
    // bad-word DOMAINS before any content processing), with
    // subdomain-suffix semantics (PSL-style: an entry blocks itself and
    // everything under it). The suffix-chain explode turns "equals or
    // is a subdomain of" into an EQUI-join against the broadcast entry
    // set — a LIKE-OR predicate would plan the banned
    // BroadcastNestedLoop. Planted ads.{source} subdomains (doc_id % 7
    // == 2) exercise the suffix path; rule = longest (most specific)
    // match.
    "doc_host_blocklist" -> (((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 7 === 2, concat(lit("ads."), col("source")))
            .otherwise(col("source")),
          lit(".example.com/p/"),
          pmod(col("doc_id"), lit(50L)).cast("string")).as("url"))
      val bl = Seq("src3.example.com", "ads.src7.example.com",
        "spam.example.net").toDF("pattern")
      sortBig(UrlOps.hostBlocklist(urls, "doc_id", "url", bl), "doc")
    },
      // same planted URLs, suffix-chain explode, broadcast-entry
      // equi-join; longest-rule pick via the lpad(length)||rule encoding
      // (= the engine's max(struct(length, rule)) for lengths <= 999)
      HostBlocklistOracle)),

    // EPOCH-CAPPED MIXTURE MANIFEST — the data-REPETITION side of
    // mixing (LLaMA-style recipes upsample small high-quality sources
    // by running several epochs over them, capped where repetition
    // stops paying): per language, want = share·budget docs emitted as
    // full epochs (capped at 3) + an exact remainder of extra-epoch
    // docs picked min-wise per stratum. The fixture shares exercise
    // every branch at once: en gets 1 full epoch + remainder, zh hits
    // the 3-epoch cap exactly, de runs 2 epochs + remainder, es
    // degrades to a sub-1-epoch exact downsample.
    "doc_mix_epoch_cap" -> (((s, dir) => {
      sortBig(Corpus.epochCapMix(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 4000L, "zh" -> 3000L, "de" -> 1500L,
            "fr" -> 1000L, "es" -> 500L),
          budgetBp = 20000L, maxEpochs = 3),
        "doc_id", "epoch")
    },
      // same integer want/full/remainder arithmetic over the identical
      // salted keys; the per-lang extra-epoch picks replay through the
      // same window rank
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents),
        |w AS (SELECT lang, n,
        |    ((CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 3000
        |                WHEN 'de' THEN 1500 WHEN 'fr' THEN 1000
        |                WHEN 'es' THEN 500 ELSE 0 END)
        |      * ((t * 20000) // 10000)) // 10000 AS want
        |  FROM n CROSS JOIN tot),
        |e AS (SELECT lang, n,
        |    least(want // n, 3) AS full_epochs,
        |    CASE WHEN want // n >= 3 THEN 0 ELSE want % n END AS rem
        |  FROM w),
        |k AS (SELECT doc_id, lang,
        |    md5('emix:' || CAST(doc_id AS VARCHAR)) AS key FROM documents),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY key, doc_id) AS BIGINT) AS rn FROM k),
        |d AS (SELECT r.doc_id, r.lang,
        |    e.full_epochs + CASE WHEN rn <= e.rem THEN 1 ELSE 0 END AS ep
        |  FROM r JOIN e ON r.lang = e.lang)
        |SELECT doc_id, lang,
        |  CAST(unnest(generate_series(1, ep)) AS BIGINT) AS epoch
        |FROM d WHERE ep > 0
        |ORDER BY doc_id, epoch""".stripMargin)),

    // CROSS-SOURCE OVERLAP MATRIX — which sources near-duplicate each
    // other (mirror-site / syndicated-content detection, the telemetry
    // a crawl pipeline reads before deciding source-level dedup
    // policy): the PPJoin prefix-filtered Jaccard pairs joined to their
    // sources on both sides, grouped to an unordered source pair with
    // pair count and exact-decimal mean similarity. Corpus work is the
    // bounded candidate miner + two id-keyed broadcast-size joins; the
    // matrix is |sources|² at most.
    "doc_source_overlap" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(
        Dedup.hashedShingles(docs, "doc_id", "text", 3), 0.5)
      val src = docs.select(col("doc_id"), col("source"))
      sortSmall(pairs
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), "doc_b")
        .groupBy(least(col("source_a"), col("source_b")).as("source_lo"),
          greatest(col("source_a"), col("source_b")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          r6(sum(round(col("jaccard"), 6).cast(DecimalType(38, 6)))
            .cast("double") / count(lit(1))).as("mean_jaccard")),
        "source_lo", "source_hi")
    },
      // the JaccardOracle pair CTEs + source joins, unordered pair keys,
      // exact-decimal mean of the 6-dp-rounded similarities
      s"""WITH $ShingleCtes,
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id
        |             JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |j AS (SELECT least(sa.source, sb.source) AS source_lo,
        |        greatest(sa.source, sb.source) AS source_hi, jaccard
        |      FROM pairs
        |      JOIN documents sa ON doc_a = sa.doc_id
        |      JOIN documents sb ON doc_b = sb.doc_id)
        |SELECT source_lo, source_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(CAST(sum(CAST(jaccard AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_jaccard
        |FROM j GROUP BY 1, 2
        |ORDER BY source_lo, source_hi""".stripMargin)),

    // CURRICULUM ORDERING MANIFEST — the training-order recipe
    // (curriculum learning: feed examples in difficulty bands rather
    // than fully shuffled): docs binned into quality DECILES by the
    // trained-LR score (equi-depth via the skew-safe global rank — the
    // deciles ascend by score, so a curriculum run starts at decile 0
    // and a reverse curriculum reads the manifest backwards) and
    // SHUFFLED within each decile by a salted hash (within-band order
    // must carry no content signal). Both rank passes are
    // Ranks.globalRowNumber range shuffles; the manifest is a pure
    // function of (corpus, salt) — re-runs and engines agree on every
    // position.
    "doc_curriculum_order" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      val scored = QualityModel.scoreLogReg(feat, lrModelFor(s, dir))
        .select(col("doc"), col("score"))
      val nF = scored.agg(count(lit(1)).as("_n"))
      val dec = Ranks.globalRowNumber(scored,
          Seq(col("score"), col("doc")), out = "_r")
        .crossJoin(broadcast(nF))
        .withColumn("decile", expr("((_r - 1) * 10) div _n"))
        .withColumn("_sk",
          md5(concat(lit("curr:"), col("doc").cast("string"))))
      sortBig(Ranks.globalRowNumber(dec,
          Seq(col("decile"), col("_sk"), col("doc")),
          out = "curriculum_rank")
        .select(col("doc"), col("score"), col("decile"),
          col("curriculum_rank")),
        "curriculum_rank")
    },
      // the generated LR training CTEs (ending in `scored`) + the decile
      // binning and the salted within-decile shuffle as window ranks
      (QualityModel.qualityOracleCtes(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)") + """,
      |ncnt AS (SELECT CAST(count(*) AS BIGINT) AS cn FROM scored),
      |rk AS (SELECT doc, score,
      |    CAST(row_number() OVER (ORDER BY score, doc) AS BIGINT) AS r
      |  FROM scored),
      |dz AS (SELECT doc, score, ((r - 1) * 10) // cn AS decile,
      |    md5('curr:' || CAST(doc AS VARCHAR)) AS sk
      |  FROM rk CROSS JOIN ncnt)
      |SELECT doc, score, decile,
      |  CAST(row_number() OVER (ORDER BY decile, sk, doc) AS BIGINT)
      |    AS curriculum_rank
      |FROM dz ORDER BY curriculum_rank""".stripMargin))),

    // Z-ORDER LAYOUT + FILE-SKIPPING AUDIT — the physical-layout lever
    // that matters most at 100 TB: interleaving the bits of two
    // equi-depth 8-bit dimension ranks clusters MULTI-dimensional
    // locality into the linear file order, so a reader pruning on
    // min/max footer stats (parquet row groups, Delta/Iceberg file
    // stats) skips files on BOTH predicates at once — a linear sort
    // prunes only its leading dimension and a hash layout prunes
    // nothing. The audit materializes all three layouts LOGICALLY
    // (file_id = rank div rowsPerFile over 64 files — the deterministic
    // stand-in for a writer's maxRecordsPerFile), computes each file's
    // min/max stats, and marks which files a fixed quarter×quarter box
    // query must scan. Rank passes ride Ranks.globalRowNumber (range
    // shuffles — the same passes a real OPTIMIZE ZORDER runs); the
    // audit output is 3 × 64 rows.
    "doc_zorder_skipping" -> (((s, dir) => {
      val ranked = zorderRankedFor(s, dir)
      def layout(tag: String, rank: String) =
        ranked.select(lit(tag).as("layout"),
          expr(s"($rank - 1) div _rpf").as("file_id"),
          col("b1"), col("b2"))
      val lay = layout("zorder", "zrank")
        .unionByName(layout("linear", "lrank"))
        .unionByName(layout("hash", "hrank"))
      sortSmall(lay.groupBy(col("layout"), col("file_id"))
        .agg(min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
          min(col("b2")).as("b2_min"), max(col("b2")).as("b2_max"),
          count(lit(1)).as("n_rows"))
        .withColumn("scanned",
          col("b1_max") >= 64 && col("b1_min") <= 127 &&
            col("b2_max") >= 128 && col("b2_min") <= 191),
        "layout", "file_id")
    },
      // same equi-depth rank bits, explicit bit-interleave as a sum of
      // div/mod terms (no engine bit operators needed), three window-rank
      // layouts, per-file min/max + the same box intersection
      s"""$ZorderRankCtes,
        |lay AS (
        |  SELECT 'zorder' AS layout, (zrank - 1) // ((n + 63) // 64)
        |    AS file_id, b1, b2 FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'linear', (lrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'hash', (hrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn)
        |SELECT layout, file_id,
        |  min(b1) AS b1_min, max(b1) AS b1_max,
        |  min(b2) AS b2_min, max(b2) AS b2_max,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  (max(b1) >= 64 AND min(b1) <= 127 AND
        |   max(b2) >= 128 AND min(b2) <= 191) AS scanned
        |FROM lay GROUP BY 1, 2
        |ORDER BY layout, file_id""".stripMargin)),

    // MATERIALIZED Z-ORDER LAYOUT — the logical audit above made REAL
    // (r13 verdict task 3): each layout is WRITTEN as parquet with
    // exactly one data file per logical file_id (repartition on file_id
    // puts each id in one task; partitionBy splits that task's output
    // one file per id; sortWithinPartitions gives the within-file
    // order a writer's maxRecordsPerFile run would). The reader then
    // does what Delta/Iceberg do: build the stats manifest FROM THE
    // FILES ON DISK (read-back per-file min/max — the disk-audit
    // discipline of doc_dedup_sink), prune the manifest with the
    // quarter×quarter box, and hand Spark's parquet scan ONLY the
    // surviving files. files_scanned is therefore the MEASURED file
    // count the engine's scan actually opened, and box_rows proves the
    // pruned read returns every box row (the oracle computes the box
    // from the full table — a file wrongly pruned would hash-mismatch).
    "doc_zorder_skipping_mat" -> (((s, dir) => {
      val path = zorderMatFor(s, dir)
      // the manifest prune inside zorderAudit collects a ≤64-entry file
      // list driver-side by design (table-format metadata, not data)
      def audit(tag: String): DataFrame =
        zorderAudit(s, tag, Seq(s"$path/$tag"))
          .withColumnRenamed("phase", "layout")
      sortSmall(audit("zorder").unionByName(audit("linear"))
        .unionByName(audit("hash")), "layout")
    },
      ZorderMatAuditOracle)),

    // WRITE-TIME STATS MANIFEST — the PRODUCTION read path over the
    // same three materialized layouts (r14 verdict task: at 100 TB,
    // re-deriving per-file stats by scanning data costs the full scan
    // the layout exists to avoid). Each layout writer persisted a
    // `_stats` manifest computed from the frame being written — the
    // Delta/Iceberg discipline of stats captured in the commit, not
    // recovered by a later audit. The reader's prune decision touches
    // ONLY that metadata; Spark then scans exactly the surviving files,
    // and the box aggregate over the pruned read must reproduce the
    // full-table box (a stale or wrong manifest row would either scan a
    // pruned-file set missing box rows — hash mismatch — or misreport
    // files_scanned vs the oracle's logical replay). Same numbers as
    // doc_zorder_skipping_mat BY CONSTRUCTION: that equality, enforced
    // by the shared oracle, is the proof the write-time manifest
    // carries the same information as the full-scan audit.
    "doc_zorder_manifest_prune" -> (((s, dir) => {
      val path = zorderMatFor(s, dir)
      def au(tag: String): DataFrame =
        manifestAudit(s, tag, Seq(s"$path/$tag/_stats"))
          .withColumnRenamed("phase", "layout")
      sortSmall(au("zorder").unionByName(au("linear"))
        .unionByName(au("hash")), "layout")
    },
      // identical logical replay to doc_zorder_skipping_mat — the ENGINE
      // path differs (prune from the persisted write-time manifest, no
      // data-scan stats derivation), the numbers must not: that equality
      // is the proof the write-time manifest equals the full-scan audit
      ZorderMatAuditOracle)),

    // Z-ORDER MAINTENANCE UNDER APPEND — the OPTIMIZE lifecycle every
    // clustered table needs: ingest APPENDS files in arrival (hash)
    // order, so data skipping DEGRADES as unsorted files accumulate
    // (every appended file straddles the box), and a periodic OPTIMIZE
    // rewrite re-clusters the union and restores pruning. Three
    // materialized phases, each audited FROM THE FILES ON DISK with the
    // measured-manifest discipline of doc_zorder_skipping_mat: `base`
    // (80% of the corpus z-ordered into 52 files), `appended` (base
    // plus the other 20% appended hash-ordered into 12 files — the
    // ingest state), `optimized` (the union re-z-ordered into 64
    // files). At 100 TB this is the compaction job a table format
    // schedules; the audit is the evidence it pays for itself.
    "doc_zorder_append_optimize" -> (((s, dir) => {
      val path = zorderIncFor(s, dir)
      sortSmall(
        zorderAudit(s, "base", Seq(s"$path/base"))
          .unionByName(zorderAudit(s, "appended",
            Seq(s"$path/base", s"$path/append")))
          .unionByName(zorderAudit(s, "optimized", Seq(s"$path/optimized"))),
        "phase")
    },
      // the same global bit space; per-subset window ranks replay the
      // three phase layouts logically (base z-order over 80%, hash-order
      // append files over 20%, optimized z-order over the union); stats,
      // manifest prune and the per-phase box from the phase's own rows
      s"""$ZorderKeyCtes,
        |za AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE doc_id % 5 <> 0),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
        |fa AS (SELECT doc_id, b1, b2, (rk - 1) // ((n + 51) // 52)
        |    AS file_id FROM za CROSS JOIN na),
        |zb AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE doc_id % 5 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
        |fb AS (SELECT doc_id, b1, b2, 52 + (rk - 1) // ((n + 11) // 12)
        |    AS file_id FROM zb CROSS JOIN nb),
        |zo AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z),
        |fo AS (SELECT doc_id, b1, b2, (rk - 1) // ((n + 63) // 64)
        |    AS file_id FROM zo CROSS JOIN nn),
        |ph AS (
        |  SELECT 'base' AS phase, doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT 'appended', doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT 'appended', doc_id, b1, b2, file_id FROM fb
        |  UNION ALL SELECT 'optimized', doc_id, b1, b2, file_id FROM fo),
        |$ZorderPhaseScanCtes,
        |bx AS (SELECT phase, CAST(count(*) FILTER (WHERE b1 BETWEEN 64
        |      AND 127 AND b2 BETWEEN 128 AND 191) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc
        |  FROM ph GROUP BY 1)
        |SELECT fs.phase AS phase, n_files, files_scanned, rows_scanned,
        |  box_rows, box_sum_doc
        |FROM fs JOIN bx ON fs.phase = bx.phase
        |ORDER BY fs.phase""".stripMargin)),

    // INCREMENTAL OPTIMIZE — the r14 verdict's missing piece: the full
    // rewrite above re-clusters the whole union, which a 100 TB table
    // cannot schedule. Here the compaction (see [[zorderIncrFor]])
    // rewrites ONLY the appended files plus the base files whose
    // manifest box straddles the appended key region — selected from
    // the write-time manifest without scanning ANY data — and the audit
    // proves both halves: skipping restored (files_scanned back near
    // the clustered optimum) AND files_rewritten/rows_rewritten < the
    // table (base files outside the appended region were never touched;
    // at scale with time-localized appends that untouched fraction is
    // the whole point). Rewrite accounting is itself metadata: a file
    // was rewritten iff it left the manifest between the appended and
    // optimized snapshots.
    "doc_zorder_incr_optimize" -> (((s, dir) => {
      val p = zorderIncrFor(s, dir)
      val appMan = s.read.parquet(s"$p/_stats_appended").collect()
      val optIds = s.read.parquet(s"$p/_stats_optimized")
        .select(col("file_id")).collect().map(_.getLong(0)).toSet
      val rw = appMan.filter(r => !optIds(r.getAs[Long]("file_id")))
      def au(phase: String, frw: Long, rrw: Long): DataFrame =
        manifestAudit(s, phase, Seq(s"$p/_stats_$phase"))
          .withColumn("files_rewritten", lit(frw))
          .withColumn("rows_rewritten", lit(rrw))
      sortSmall(au("base", 0L, 0L)
        .unionByName(au("appended", 0L, 0L))
        .unionByName(au("optimized", rw.length.toLong,
          rw.map(_.getAs[Long]("n_rows")).sum)), "phase")
    },
      // incremental OPTIMIZE replay: base = corpus minus the localized
      // batch (b2 >= 144, even doc_id) z-ordered into 52 files; append =
      // that batch hash-ordered into 12 files; rewrite set = files whose
      // per-file box intersects the appended rows' bounding box (the
      // manifest-only selection), re-z-ordered into new files sized by
      // the global rows-per-file; phase stats/prune/box as before, plus
      // the rewrite accounting the engine reads off its manifests
      s"""$ZorderKeyCtes,
        |$ZorderAppendCtes,
        |ph AS (
        |  SELECT 'base' AS phase, doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT 'appended', doc_id, b1, b2, file_id FROM allf
        |  UNION ALL SELECT 'optimized', doc_id, b1, b2, file_id FROM allf
        |    WHERE file_id NOT IN (SELECT file_id FROM rw)
        |  UNION ALL SELECT 'optimized', doc_id, b1, b2, file_id FROM fn),
        |$ZorderPhaseScanCtes,
        |bx AS (SELECT phase, CAST(count(*) FILTER (WHERE b1 BETWEEN 64
        |      AND 127 AND b2 BETWEEN 128 AND 191) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc
        |  FROM ph GROUP BY 1),
        |rwc AS (SELECT CAST(count(*) AS BIGINT) AS frw,
        |    CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rrw FROM rw)
        |SELECT fs.phase AS phase, n_files, files_scanned, rows_scanned,
        |  box_rows, box_sum_doc,
        |  CASE WHEN fs.phase = 'optimized' THEN frw
        |       ELSE CAST(0 AS BIGINT) END AS files_rewritten,
        |  CASE WHEN fs.phase = 'optimized' THEN rrw
        |       ELSE CAST(0 AS BIGINT) END AS rows_rewritten
        |FROM fs JOIN bx ON fs.phase = bx.phase CROSS JOIN rwc
        |ORDER BY fs.phase""".stripMargin)),

    // VACUUM — the lifecycle's last transaction: the incremental
    // OPTIMIZE above only LOGICALLY removes rewritten files (they stay
    // on disk so earlier manifest snapshots remain readable — time
    // travel); at 100 TB those orphans are real storage, so a
    // scheduled VACUUM deletes every data file the newest manifest no
    // longer references (selection is a listing-vs-manifest diff —
    // metadata only, no data read). Runs on its OWN table build
    // ([[zorderVacFor]]) because deletion expires the earlier
    // snapshots doc_zorder_incr_optimize audits. The declared row
    // proves all three halves: files really deleted
    // (files_on_disk_after recounted from a fresh listing), exactly
    // the logically-removed set deleted (counts match the manifest
    // diff), and the live snapshot intact post-delete (manifest prune
    // + box aggregate still reproduce the full table).
    "doc_zorder_vacuum" -> (((s, dir) => {
      val p = zorderVacFor(s, dir)
      val accP = new org.apache.hadoop.fs.Path(s"$p/_vacuum.json")
      val fs2 = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val in = fs2.open(accP)
      val acc = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close()
      def field(k: String): Long =
        s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(acc).get.group(1).toLong
      val after =
        graft.ext.ZTable.listDataFiles(s, s"$p/table").length.toLong
      manifestAudit(s, "vacuumed", Seq(s"$p/_stats_optimized"))
        .withColumn("files_on_disk_before", lit(field("before")))
        .withColumn("files_deleted", lit(field("deleted")))
        .withColumn("files_on_disk_after", lit(after))
    },
      // same replay as doc_zorder_incr_optimize, final state only, plus
      // the vacuum accounting: on-disk-before = every file any snapshot
      // references (base + append + new), deleted = the rewrite set,
      // after = the optimized manifest's files — the engine recounts
      // `after` from a fresh post-delete listing, so a match proves the
      // orphans are physically gone and the live snapshot is intact
      s"""$ZorderKeyCtes,
        |$ZorderAppendCtes,
        |opt AS (SELECT doc_id, b1, b2, file_id FROM allf
        |    WHERE file_id NOT IN (SELECT file_id FROM rw)
        |  UNION ALL SELECT doc_id, b1, b2, file_id FROM fn),
        |f AS (SELECT file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM opt GROUP BY 1),
        |fs AS (SELECT CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS files_scanned,
        |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS rows_scanned
        |  FROM f),
        |bx AS (SELECT CAST(count(*) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS box_sum_doc
        |  FROM opt WHERE b1 BETWEEN 64 AND 127 AND b2 BETWEEN 128 AND 191),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS nfn
        |  FROM (SELECT DISTINCT file_id FROM fn)),
        |acc AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM fst) + nfn AS before_f,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rw) AS deleted_f
        |  FROM nf)
        |SELECT 'vacuumed' AS phase, n_files, files_scanned, rows_scanned,
        |  box_rows, box_sum_doc,
        |  before_f AS files_on_disk_before, deleted_f AS files_deleted,
        |  before_f - deleted_f AS files_on_disk_after
        |FROM fs CROSS JOIN bx CROSS JOIN acc""".stripMargin)),

    // OCC COMMIT PROTOCOL, end to end (r15 VERDICT task 1): two
    // interleaved append+optimize transactions run through the
    // versioned manifest log — O1's commit rebases over a DISJOINT
    // concurrent append (lost-update prevention), O2's commit ABORTS
    // when a concurrent append lands inside its box (stale selection),
    // the OCC loop re-selects and commits, and VACUUM runs against the
    // committed latest. Every protocol step is a require in the
    // builder; the declared row certifies the outcome: live-row truth
    // (count + id sum + hot-box aggregate) read back THROUGH the final
    // manifest's file set equals the logical row set the four writers
    // produced — a lost append, doubled rewrite, or vacuumed live file
    // hash-mismatches.
    "doc_zorder_occ" -> (((s, dir) => {
      import graft.ext.ZTable
      val p = zorderOccFor(s, dir)
      val root = s"$p/_log"
      val man = ZTable.logRead(s, root, ZTable.logLatest(s, root)).collect()
      val manRows = man.map(_.getAs[Long]("n_rows")).sum
      val paths = man.map(_.getAs[String]("path")).sorted.toSeq
      val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
      val acc = {
        val accP = new org.apache.hadoop.fs.Path(s"$p/_occ.json")
        val in = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .open(accP)
        val str = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        (k: String) => s""""$k"\\s*:\\s*(\\d+)""".r
          .findFirstMatchIn(str).get.group(1).toLong
      }
      s.read.parquet(paths: _*).agg(
          count(lit(1)).as("live_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("live_sum_doc"),
          coalesce(sum(when(boxPred, 1L)), lit(0L)).as("box_rows"),
          coalesce(sum(when(boxPred, col("doc_id"))), lit(0L))
            .as("box_sum_doc"))
        .select(lit("occ").as("phase"),
          lit(acc("versions")).as("n_versions"),
          lit(acc("conflicts")).as("conflicts"),
          lit(acc("aborts")).as("aborts"),
          col("live_rows"), lit(manRows).as("man_rows"),
          col("live_sum_doc"), col("box_rows"), col("box_sum_doc"))
    },
      // OCC interleaving row truth: the live set after the four writers is
      // every base doc (base ∪ A1 = all documents, whatever optimize did
      // to the file layout) plus the two synthetic cold-band appends; the
      // protocol counters are by-construction constants, each enforced by
      // a require in the builder
      s"""$ZorderBucketCtes,
        |live AS (
        |  SELECT doc_id, b1, b2 FROM b
        |  UNION ALL
        |  SELECT doc_id + 3000000, b1, b2 % 64 FROM b WHERE doc_id % 31 = 5
        |  UNION ALL
        |  SELECT doc_id + 4000000, b1, b2 % 64 FROM b WHERE doc_id % 31 = 6)
        |SELECT 'occ' AS phase, CAST(6 AS BIGINT) AS n_versions,
        |  CAST(2 AS BIGINT) AS conflicts, CAST(1 AS BIGINT) AS aborts,
        |  CAST(count(*) AS BIGINT) AS live_rows,
        |  CAST(count(*) AS BIGINT) AS man_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS live_sum_doc,
        |  CAST(coalesce(count(*) FILTER (WHERE b1 BETWEEN 64 AND 127
        |    AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_rows,
        |  CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |    AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc
        |FROM live""".stripMargin)),

    // TIME TRAVEL + RETENTION-BOUNDED VACUUM (r16): v0 base, v1 hot
    // append, v2 incremental OPTIMIZE, v3 cold append, then
    // vacuumRetain(floor = 2). The declared row reads the table at TWO
    // versions through their manifests — the HISTORICAL v2 (A2's rows
    // are on disk but invisible: snapshot isolation for time-travel
    // readers) and the latest v3 — and certifies the expiry accounting:
    // exactly the optimize's rewrite set was deleted (it is referenced
    // only by expired snapshots), every retained file survived (a
    // wrongly deleted v2 file crashes the v2 read; a kept orphan
    // mismatches files_on_disk_after, recounted from a fresh listing).
    "doc_zorder_timetravel" -> (((s, dir) => {
      import graft.ext.ZTable
      val p = zorderTTFor(s, dir)
      val root = s"$p/_log"
      val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
      def pathsAt(v: Long) = ZTable.logRead(s, root, v).collect()
        .map(_.getAs[String]("path")).sorted.toSeq
      val acc = {
        val accP = new org.apache.hadoop.fs.Path(s"$p/_tt.json")
        val in = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .open(accP)
        val str = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        (k: String) => s""""$k"\\s*:\\s*(\\d+)""".r
          .findFirstMatchIn(str).get.group(1).toLong
      }
      val after = ZTable.listDataFiles(s, s"$p/table").length.toLong
      val v2Agg = s.read.parquet(pathsAt(2L): _*).agg(
        count(lit(1)).as("rows_v2"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_v2"),
        coalesce(sum(when(boxPred, 1L)), lit(0L)).as("box_rows_v2"),
        coalesce(sum(when(boxPred, col("doc_id"))), lit(0L))
          .as("box_sum_doc_v2"))
      val v3Agg = s.read.parquet(pathsAt(3L): _*).agg(
        count(lit(1)).as("rows_latest"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_latest"))
      v2Agg.crossJoin(v3Agg)
        .select(lit("timetravel").as("phase"),
          lit(4L).as("n_versions"), lit(2L).as("retained_from"),
          col("rows_v2"), col("sum_doc_v2"), col("box_rows_v2"),
          col("box_sum_doc_v2"), col("rows_latest"), col("sum_doc_latest"),
          lit(acc("deleted")).as("files_expired"),
          lit(after).as("files_on_disk_after"))
    },
      // Time-travel row truth: v2's content is the whole corpus (base ∪
      // A1 — optimize is content-neutral), latest adds the synthetic
      // cold-band A2; files_expired replays the optimize's rewrite-set
      // selection (boxes intersecting A1's bbox), and files_on_disk_after
      // is pure file-assignment arithmetic — base+append file count, plus
      // ceil(rewritten_rows / global_rpf) optimize files, plus A2's
      // ceil(m / rpf2) files, minus the expired rewrite set
      s"""$ZorderBucketCtes,
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey
        |  FROM b),
        |za AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE NOT (b2 >= 144 AND doc_id % 2 = 0)),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
        |fa AS (SELECT doc_id, b1, b2, (rk - 1) // ((n + 51) // 52)
        |    AS file_id FROM za CROSS JOIN na),
        |zb AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY
        |      md5('h:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM z WHERE b2 >= 144 AND doc_id % 2 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
        |fb AS (SELECT doc_id, b1, b2, 100 + (rk - 1) // ((n + 11) // 12)
        |    AS file_id FROM zb CROSS JOIN nb),
        |allf AS (SELECT doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT doc_id, b1, b2, file_id FROM fb),
        |fst AS (SELECT file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM allf GROUP BY 1),
        |nfst AS (SELECT CAST(count(*) AS BIGINT) AS nf FROM fst),
        |bbox AS (SELECT min(b1) AS a1, max(b1) AS a2,
        |    min(b2) AS a3, max(b2) AS a4 FROM zb),
        |rwc AS (SELECT CAST(count(*) AS BIGINT) AS nrw,
        |    CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rws
        |  FROM fst CROSS JOIN bbox
        |  WHERE b1_min <= a2 AND b1_max >= a1
        |    AND b2_min <= a4 AND b2_max >= a3),
        |a2c AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(coalesce(sum(doc_id + 3000000), 0) AS BIGINT) AS sm
        |  FROM b WHERE doc_id % 31 = 5),
        |v2c AS (SELECT CAST(count(*) AS BIGINT) AS rows_v2,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_doc_v2,
        |    CAST(coalesce(count(*) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_rows_v2,
        |    CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc_v2
        |  FROM b)
        |SELECT 'timetravel' AS phase, CAST(4 AS BIGINT) AS n_versions,
        |  CAST(2 AS BIGINT) AS retained_from,
        |  rows_v2, sum_doc_v2, box_rows_v2, box_sum_doc_v2,
        |  CAST(rows_v2 + m AS BIGINT) AS rows_latest,
        |  CAST(sum_doc_v2 + sm AS BIGINT) AS sum_doc_latest,
        |  nrw AS files_expired,
        |  CAST(nf + (rws + ((n + 63) // 64) - 1) // ((n + 63) // 64)
        |    + (CASE WHEN m = 0 THEN 0
        |        ELSE (m + ((m + 2) // 3) - 1) // ((m + 2) // 3) END)
        |    - nrw AS BIGINT) AS files_on_disk_after
        |FROM v2c CROSS JOIN a2c CROSS JOIN rwc CROSS JOIN nfst
        |  CROSS JOIN nn""".stripMargin)),

    // SPLIT-LEAKAGE AUDIT — the eval-contamination check a held-out
    // split must pass after assignment: near-duplicate pairs whose
    // members landed in DIFFERENT splits are train↔test leaks (a
    // hash split assigns re-crawled clones independently, so without a
    // split-aware dedup pass they leak — the reason C4/Pile-style
    // pipelines dedup BEFORE splitting). Planted leaks guarantee a
    // non-empty gate: every doc_id % 17 == 3 re-enters verbatim under
    // id + 2000000, and the clone's split hash re-deals. PPJoin
    // prefix-filtered candidate pairs + two broadcast-size split joins
    // on the PAIRS side only — no corpus-squared work, no new shuffle
    // family.
    "doc_split_leak_audit" -> (((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.unionByName(base.where(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val sp = Corpus.hashSplit(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      val sh = Dedup.hashedShingles(docs, "doc_id", "text", 3)
      sortSmall(Dedup.jaccardPairs(sh, 0.5)
        .join(sp.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .where(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          round(col("jaccard"), 6).as("jaccard")),
        "doc_a", "doc_b")
    },
      // the JaccardOracle CTEs over the planted-clone corpus + the salted
      // split CASE; leaks = pairs whose members' splits differ
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 17 = 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id
        |             JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |sp AS (SELECT doc_id,
        |    CASE WHEN b < 9000 THEN 'train'
        |         WHEN b < 9500 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
        |        1, 15))::BIGINT % 10000 AS b
        |    FROM all_docs))
        |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, jaccard
        |FROM pairs JOIN sp sa ON doc_a = sa.doc_id
        |           JOIN sp sb ON doc_b = sb.doc_id
        |WHERE sa.split <> sb.split
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // benchmark-contamination detection (DECONTAMINATION) — the hygiene
    // pass a training pipeline runs before shipping: any training doc
    // sharing a word 5-gram with the benchmark/eval slice is flagged
    // with its distinct-shared-gram count. The benchmark gram set is
    // tiny next to the corpus, so it broadcasts; the corpus side does
    // one explode + broadcast join + per-doc aggregate (no corpus-side
    // self-join). The gate is guaranteed non-empty by DETERMINISTIC
    // PLANTED LEAKS computed inside the query (every benchmark doc
    // re-enters the training side verbatim under id + 1000000 — the
    // exact test-set-leak failure mode decontamination exists to catch);
    // natural near-dup crossings add to the plant. The oracle joins the
    // STRING grams, pinning the hashed-gram engine path exactly.
    "doc_decontaminate" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val leaks = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      sortBig(Corpus.contamination(docs.unionByName(leaks), "doc_id",
        "text", col("doc_id") % 20 === 7 && col("doc_id") < 1000000L,
        n = 5), "doc")
    },
      // string-gram recomputation of the hashed-gram contamination join,
      // same planted leaks
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 7),
        |g AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+4], ' ')
        |        for i in generate_series(1, greatest(len(w)-4, 0))])) AS s
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d)),
        |bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 20 = 7 AND doc_id < 1000000)
        |SELECT doc_id AS doc,
        |  CAST(COUNT(DISTINCT s) AS BIGINT) AS n_contaminated_grams
        |FROM g JOIN bg USING (s)
        |WHERE NOT (doc_id % 20 = 7 AND doc_id < 1000000)
        |GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // chunk-level exact dedup — repeated-passage/boilerplate removal
    // (the sub-document granularity doc_dedup_exact can't see): fixed
    // 16-token chunks, one corpus-wide keeper per distinct chunk text
    // (lowest (doc, chunk_idx)), per-doc kept/dropped accounting.
    // Chunking is row-local; the keeper decision is a sort-free min
    // window on the 64-bit chunk hash; the oracle re-chunks with
    // list-slice arithmetic and keys on the chunk STRING, pinning the
    // hashed engine path exactly. Synthetic docs repeat short word-soup
    // heavily, so the dropped set is large and the gate carries signal.
    "doc_chunk_dedup" -> (((s, dir) => {
      sortBig(Dedup.chunkDedup(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 16), "doc")
    },
      // re-chunk with list-slice arithmetic, keeper = min (doc, chunk_idx)
      // per chunk STRING (pins the engine's hashed-key path)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS chunk_text
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(0,
        |        CAST((len(w) + 15) // 16 AS BIGINT) - 1)) AS i FROM t)),
        |k AS (SELECT doc_id, chunk_idx, chunk_text,
        |    doc_id * 1000000 + chunk_idx =
        |      MIN(doc_id * 1000000 + chunk_idx) OVER (PARTITION BY chunk_text)
        |      AS keep
        |  FROM c)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
        |  CAST(SUM(CASE WHEN keep THEN len(string_split(chunk_text, ' '))
        |           ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // HTML → text extraction (the CommonCrawl ingest step ahead of every
    // quality gate): synthetic HTML is built DETERMINISTICALLY from the
    // documents table — real text wrapped in chrome with planted
    // boilerplate (nav link farm, sponsored aside, rights-reserved
    // footer, script/style bodies) — then HtmlExtract strips tags,
    // applies the block text-density + boilerplate-phrase rules, and
    // reassembles. text_md5 pins every extracted byte; the oracle
    // replays construction AND extraction with the same RE2-safe
    // regexps.
    "doc_html_extract" -> (((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>body {font-size:12px}</style></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact</a></nav><div><p>"),
        col("text"),
        lit("</p><p>Continued article body with additional narrative " +
          "content for extraction quality.</p></div>" +
          "<aside><a href=\"/ads\">Sponsored</a> " +
          "<a href=\"/more\">More</a></aside>" +
          "<footer>Copyright 2024 Example Corp. All rights reserved. " +
          "<a href=\"/privacy\">Privacy</a></footer>" +
          "<script>var tracking = 1;</script></body></html>"))
      sortBig(graft.ext.HtmlExtract.extract(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .drop("text"), "doc")
    },
      // identical HTML construction, script/style removal, block split,
      // tag strip, density + phrase rules, and ORDER BY-bidx reassembly
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>body {font-size:12px}</style></head><body>' ||
        |    '<nav><a href="/">Home</a> <a href="/about">About</a> ' ||
        |    '<a href="/contact">Contact</a></nav><div><p>' || text ||
        |    '</p><p>Continued article body with additional narrative ' ||
        |    'content for extraction quality.</p></div>' ||
        |    '<aside><a href="/ads">Sponsored</a> ' ||
        |    '<a href="/more">More</a></aside>' ||
        |    '<footer>Copyright 2024 Example Corp. All rights reserved. ' ||
        |    '<a href="/privacy">Privacy</a></footer>' ||
        |    '<script>var tracking = 1;</script></body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, regexp_replace(html,
        |    '(?i)<(?:script|style)[^>]*>[\s\S]*?</(?:script|style)>',
        |    ' ', 'g') AS nh FROM h),
        |sg AS (SELECT doc_id, string_split_regex(nh,
        |    '(?i)</?(?:p|div|li|ul|ol|nav|aside|footer|header|h[1-6]|br|table|tr|td|section|article)[^>]*>')
        |    AS segs FROM c),
        |b AS (SELECT doc_id, u.i AS bidx, u.raw FROM (
        |    SELECT doc_id, unnest([{'i': i - 1, 'raw': segs[i]}
        |      for i in generate_series(1, len(segs))]) AS u FROM sg) z),
        |x AS (SELECT doc_id, bidx,
        |    trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS txt, len(raw) AS rawlen FROM b),
        |f AS (SELECT doc_id, bidx, txt,
        |    len(string_split(txt, ' ')) AS words,
        |    CAST(len(txt) AS DOUBLE) / greatest(rawlen, 1) AS density
        |  FROM x WHERE txt <> ''),
        |k AS (SELECT doc_id, bidx, txt,
        |    (words >= 5 AND density >= 0.55 AND NOT regexp_matches(txt,
        |      '(?i)(all rights reserved|privacy policy|terms of (use|service)|cookie|copyright)'))
        |      AS keep
        |  FROM f)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
        |  CAST(COALESCE(len(string_agg(CASE WHEN keep THEN txt END, ' '
        |    ORDER BY bidx)), 0) AS BIGINT) AS n_chars,
        |  md5(string_agg(CASE WHEN keep THEN txt END, ' ' ORDER BY bidx))
        |    AS text_md5
        |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // exact substring dedup (Lee et al. 2022): verbatim ≥ 8-token runs
    // occurring more than once in the corpus, AT ANY OFFSET, merged into
    // per-doc maximal duplicate spans — the arbitrary-offset leak class
    // chunk dedup (fixed boundaries) and line dedup (whole frequent
    // lines) both miss. The fixture plants exactly that: every
    // doc_id % 37 == 0 doc re-appears under doc_id + 100000 behind a
    // 5-token prefix, so the whole text is a duplicated run at SHIFTED
    // offsets in the two copies. The oracle replays window hashes +
    // gaps-and-islands span merge verbatim.
    "doc_substring_dedup" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("planted leak prefix alpha beta "), col("text"))
            .as("text"))
      sortBig(Dedup.substringDupSpans(docs.unionByName(planted),
          "doc_id", "text", k = 8)
        .select(col("doc"), col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"), col("n_windows")),
        "doc", "span_start")
    },
      // identical plant, window hashes (md5 of the space-joined 8-token
      // window over \S+ tokens), ≥2 corpus-wide count, and
      // gaps-and-islands span merge
      s"""$SubstringWindowCtes,
        |dups AS (SELECT whash FROM w GROUP BY 1 HAVING COUNT(*) >= 2),
        |m AS (SELECT w.doc_id, w.pos FROM w JOIN dups USING (whash)),
        |b AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |           IS NULL THEN 1
        |         WHEN pos > lag(pos) OVER (PARTITION BY doc_id
        |           ORDER BY pos) + 8 THEN 1
        |         ELSE 0 END AS brk
        |  FROM m),
        |i AS (SELECT doc_id, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM b)
        |SELECT doc_id AS doc, MIN(pos) AS span_start,
        |  MAX(pos) + 7 AS span_end, COUNT(*) AS n_windows
        |FROM i GROUP BY doc_id, isl ORDER BY doc, span_start""".stripMargin)),

    // the REMOVAL half of substring dedup (same plant as
    // doc_substring_dedup): earliest occurrence of every duplicated
    // 8-token run survives, every other occurrence's covered tokens are
    // stripped and the survivor text rebuilt in order — kept_md5 pins
    // every surviving byte, so the keeper decision, coverage arithmetic,
    // and reassembly are all on the gate.
    "doc_substring_strip" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("planted leak prefix alpha beta "), col("text"))
            .as("text"))
      sortBig(Dedup.substringStrip(docs.unionByName(planted),
        "doc_id", "text", k = 8), "doc")
    },
      // identical plant and window hashes; keeper = lexicographic-min
      // (doc, pos) STRUCT per duplicated hash, keeper-occurrence positions
      // protected from removal, coverage via generate_series, ORDER BY-pos
      // reassembly of the survivors
      s"""$SubstringWindowCtes,
        |dups AS (SELECT whash,
        |    MIN(struct_pack(d := doc_id, p := pos)) AS k
        |  FROM w GROUP BY 1 HAVING COUNT(*) >= 2),
        |rem AS (SELECT w.doc_id, w.pos FROM w JOIN dups USING (whash)
        |  WHERE NOT (w.doc_id = dups.k.d AND w.pos = dups.k.p)),
        |keepw AS (SELECT w.doc_id, w.pos FROM w JOIN dups USING (whash)
        |  WHERE w.doc_id = dups.k.d AND w.pos = dups.k.p),
        |prot AS (SELECT DISTINCT doc_id, p FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
        |  FROM keepw) y0),
        |cov AS (SELECT r.doc_id, r.p FROM (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
        |    FROM rem) y1) r
        |  LEFT JOIN prot ON r.doc_id = prot.doc_id AND r.p = prot.p
        |  WHERE prot.p IS NULL),
        |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]}
        |      for i in generate_series(1, len(toks))]) AS u FROM t) z),
        |fl AS (SELECT tok.doc_id, tok.pos, tok.tok,
        |    cov.p IS NOT NULL AS covered
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.p)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed_tokens,
        |  CASE WHEN COUNT(*) > SUM(CASE WHEN covered THEN 1 ELSE 0 END)
        |    THEN md5(string_agg(CASE WHEN NOT covered THEN tok END, ' '
        |      ORDER BY pos)) END AS kept_md5
        |FROM fl GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // C4-style corpus-frequency line filter: every 8-token chunk present
    // in >2 distinct documents is removed from ALL of them (boilerplate-
    // by-repetition, Raffel et al. 2020 §2.2) and the survivors are
    // reassembled in order — kept_md5 pins the rebuilt text byte-level.
    // The frequent set is a heavy-hitter list (small by construction) so
    // the membership test is a broadcast join, never a corpus shuffle.
    "doc_line_dedup" -> (((s, dir) => {
      sortBig(Dedup.lineFreqFilter(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 8, maxDocs = 2), "doc")
    },
      // identical chunking, corpus document-frequency > 2 membership, and
      // in-order reassembly (string_agg ORDER BY ≡ the sorted-struct fold)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS ci,
        |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(0,
        |        CAST((len(w) + 7) // 8 AS BIGINT) - 1)) AS i FROM t)),
        |f AS (SELECT chunk FROM c GROUP BY chunk
        |      HAVING COUNT(DISTINCT doc_id) > 2),
        |k AS (SELECT c.doc_id, c.ci, c.chunk, f.chunk IS NOT NULL AS hit
        |  FROM c LEFT JOIN f ON c.chunk = f.chunk)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS kept_chunks,
        |  md5(COALESCE(string_agg(CASE WHEN hit THEN NULL ELSE chunk END,
        |    ' ' ORDER BY ci), '')) AS kept_md5
        |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // target-MIX sampling — rates DERIVED from a target composition
    // (en 40% / zh 20% / es 20% / de 10% / fr 10% of a 250-doc budget)
    // against observed per-lang counts, exact integer div throughout,
    // then the same portable md5 keep predicate as doc_sample_stratified.
    // One tiny count aggregate + broadcast rate join + row-local filter.
    "doc_mix_sample" -> (((s, dir) => {
      sortBig(Corpus.targetMixSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 4000L, "zh" -> 2000L, "es" -> 2000L,
            "de" -> 1000L, "fr" -> 1000L), budget = 250L)
        .select(col("doc_id"), col("lang"), col("rate_bp"),
          col("sample_bucket")), "doc_id")
    },
      // identical integer-div rate derivation + portable md5 keep predicate
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |    LEAST(10000, (((CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000
        |                              WHEN 'es' THEN 2000 WHEN 'de' THEN 1000
        |                              WHEN 'fr' THEN 1000 ELSE 0 END
        |      * 250) // 10000) * 10000) // n) AS rate_bp
        |  FROM c)
        |SELECT doc_id, lang, CAST(rate_bp AS BIGINT) AS rate_bp,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 AS BIGINT) AS sample_bucket
        |FROM documents JOIN r USING (lang)
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 < rate_bp
        |ORDER BY doc_id""".stripMargin)),

    // temperature-reweighted source mixing (the multi-corpus pretraining
    // sampler): per-source keep rates ∝ sqrt(n_s)/n_s at a 50% overall
    // budget — rare sources boosted, hot sources cut, α = 1/2 chosen
    // because sqrt is the one correctly-rounded IEEE power (no pow() in
    // the portable arithmetic). Rates are one tiny source aggregate +
    // an exact-decimal weight sum + one broadcast; the keep decision is
    // the row-local md5 sample bucket — shuffle-free, scan-pushable,
    // rerun-stable (Corpus.temperatureMixSample).
    "doc_mix_temperature" -> (((s, dir) => {
      sortBig(Corpus.temperatureMixSample(t(s, dir, "documents"), "doc_id",
          "source", keepBp = 5000L)
        .select(col("doc_id"), col("source"), col("rate_bp"),
          col("sample_bucket"), col("selected")), "doc_id")
    },
      // identical rate arithmetic: 6-dp floor-round of each sqrt, exact
      // DECIMAL(18,6) weight sum, one multiply chain + one division + one
      // floor in the SAME IEEE order, then the same md5 bucket predicate
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS DECIMAL(18,6)) AS w6 FROM c),
        |tot AS (SELECT SUM(w6) AS den, SUM(n) AS nn FROM w),
        |r AS (SELECT source,
        |    LEAST(10000, CAST(floor(5000.0 * tot.nn * CAST(w.w6 AS DOUBLE)
        |      / (CAST(tot.den AS DOUBLE) * w.n)) AS BIGINT)) AS rate_bp
        |  FROM w, tot)
        |SELECT d.doc_id, d.source, CAST(r.rate_bp AS BIGINT) AS rate_bp,
        |  CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 AS BIGINT) AS sample_bucket,
        |  ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 < r.rate_bp AS selected
        |FROM documents d JOIN r USING (source)
        |ORDER BY d.doc_id""".stripMargin)),

    // source-reputation (domain-level) filter — the C4/RefinedWeb stage
    // that drops whole ORIGINS rather than single documents: per-source
    // duplicate share (corpus dup-count keyed on md5(text) — a narrow
    // fixed-width shuffle key, text never crosses the wire twice) and
    // mean distinct-token ratio (6dp-rounded per doc, exact-decimal
    // mean), gated at dup_share <= 0.2 AND mean_distinct_ratio >= 0.5.
    // The natural corpus is uniform across its 20 synthetic sources, so
    // two sources are PLANTED bad in-query (every third doc replaced by
    // one boilerplate line) guaranteeing both flag states at every sf;
    // the oracle applies the identical plant and formulas.
    "doc_source_filter" -> (((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
          when(col("source").isin("src3", "src7") && col("doc_id") % 3 === 0,
            lit("boiler plate boiler plate boiler plate"))
            .otherwise(col("text")))
        .withColumn("_k", md5(col("text")))
      val dupc = docs.groupBy(col("_k")).agg(count(lit(1)).as("_c"))
      val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("distinct_ratio"))
      val perDoc = docs.select(col("doc_id"), col("source"), col("_k"))
        .join(dupc, "_k").join(q, "doc_id")
      val stats = perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        round(sum(when(col("_c") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_share"),
        round(sum(col("distinct_ratio").cast(DecimalType(38, 6)))
          .cast("double") / count(lit(1)), 6).as("mean_distinct_ratio"))
      sortSmall(stats.withColumn("kept",
        (col("dup_share") <= 0.2 && col("mean_distinct_ratio") >= 0.5)
          .cast("long")), "source")
    },
      // identical plant, md5-keyed dup counts, 6dp-rounded distinct ratios
      // summed as DECIMAL(38,6), and the same two-signal keep gate
      """WITH d0 AS (SELECT doc_id, source,
        |    CASE WHEN source IN ('src3', 'src7') AND doc_id % 3 = 0
        |         THEN 'boiler plate boiler plate boiler plate'
        |         ELSE text END AS text
        |  FROM documents),
        |dup AS (SELECT md5(text) AS k, COUNT(*) AS c FROM d0 GROUP BY 1),
        |q AS (SELECT doc_id,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS dr
        |  FROM d0),
        |j AS (SELECT d0.source, dup.c, q.dr
        |  FROM d0 JOIN dup ON md5(d0.text) = dup.k JOIN q USING (doc_id)),
        |stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / COUNT(*), 6) AS dup_share,
        |    round(CAST(SUM(CAST(dr AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean_distinct_ratio
        |  FROM j GROUP BY source)
        |SELECT source, n_docs, dup_share, mean_distinct_ratio,
        |  CAST(CASE WHEN dup_share <= 0.2 AND mean_distinct_ratio >= 0.5
        |       THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM stats ORDER BY source""".stripMargin)),

    // SimHash near-dup pairs, ORACLE-PINNED (r7 VERDICT next-round 1):
    // declared over the portable md5-derived 60-bit fingerprint
    // (Dedup.portableSimhash64 — the construction stream_simhash_dedup
    // already proved any SQL engine recomputes bit-identically), mined
    // with the same Manku combination banding as the engine-hash scale
    // path. Banding is EXACT for hamming <= maxDist (pigeonhole) and
    // the Hamming verify removes every false candidate, so the output
    // is deterministically the full <= 3 pair set — the DuckDB oracle
    // recomputes the fingerprints and scans all pairs, no recall margin.
    // ExtSpec separately pins the engine-xxhash64 variant (chunk ==
    // combination banding) and planted-near-dup recovery.
    "doc_simhash_pairs" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      sortSmall(Dedup.simhashDupPairsAtScalePortable(docs, "doc_id", "text",
          maxDist = 3, nBlocks = 6)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("long").as("hamming")),
        "doc_a", "doc_b")
    },
      // independent recomputation of the portable md5-derived 60-bit
      // simhash (same construction as stream_simhash_dedup's oracle:
      // token hash = first 15 md5 hex chars, per-bit ±1 sums, bit =
      // sum >= 0, packed MSB-first) + exhaustive all-pairs Hamming scan.
      // The engine's combination banding is exact for hamming <= 3, so
      // the sets match bit-for-bit — no recall margin.
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |$SimhashCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // SemDeDup (Abbas et al. 2023) — semantic dedup at the embedding
    // level: k-means-cluster the corpus (the in-engine exact Lloyd
    // above), mine cosine-near-dup pairs ONLY within clusters (the
    // paper's point: clustering bounds pair work to Σ|cluster|², never
    // the corpus square — k scales ∝ N / target-cluster-size), resolve
    // connected components inside each cluster in one grouped
    // union-find pass (a pair never crosses clusters), keep the member
    // CLOSEST TO ITS CLUSTER CENTROID per component (the paper's keep rule,
    // ties to the smaller id). Planted exact copies (vec_id % 10 == 0,
    // shifted +100000 — the emb_dedup_clusters fixture) make the dup
    // structure non-trivial; the oracle replays training, pairing, and
    // a recursive-CTE closure. One row per vector:
    // (vec_id, cluster, root, keeper, keep).
    "doc_semdedup" -> (((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      sortBig(Kmeans.semDedup(base.unionByName(planted), "vec_id",
        "embedding", k = 8, iters = 3, minCosine = 0.95), "vec_id")
    },
      // same training replay over base ∪ planted copies, then intra-cluster
      // cosine pairs (identical list-fold + portable round), recursive-CTE
      // closure, keeper = argmin (dist-to-centroid, id) per component
      (Kmeans.oracleCtes(8, 3,
        """SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, embedding::DOUBLE[]
          |  FROM embeddings WHERE vec_id % 10 = 0""".stripMargin,
        recursive = true) +
      """,
        |pr AS MATERIALIZED (
        |  SELECT aa.vec_id AS id_a, bb.vec_id AS id_b
        |  FROM af aa JOIN af bb ON aa.cl = bb.cl AND aa.vec_id < bb.vec_id
        |  JOIN e ea ON ea.vec_id = aa.vec_id
        |  JOIN e eb ON eb.vec_id = bb.vec_id
        |  WHERE floor(
        |      list_sum([ea.v[i] * eb.v[i]
        |                for i in generate_series(1, len(ea.v))])
        |      / (sqrt(list_sum([ea.v[i] * ea.v[i]
        |                for i in generate_series(1, len(ea.v))]))
        |       * sqrt(list_sum([eb.v[i] * eb.v[i]
        |                for i in generate_series(1, len(eb.v))])))
        |      * 1000000.0 + 0.5) / 1000000.0 >= 0.95),
        |edges AS (SELECT id_a AS x, id_b AS y FROM pr
        |          UNION SELECT id_b, id_a FROM pr
        |          UNION SELECT id_a, id_a FROM pr
        |          UNION SELECT id_b, id_b FROM pr),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, g.y FROM reach r JOIN edges g ON r.y = g.x),
        |comp AS (SELECT x AS vec_id, MIN(y) AS root FROM reach GROUP BY x),
        |wr AS (SELECT af.vec_id, af.cl,
        |         COALESCE(comp.root, af.vec_id) AS root, af.dist2
        |       FROM af LEFT JOIN comp USING (vec_id)),
        |kp AS (SELECT root, vec_id AS keeper FROM (
        |    SELECT root, vec_id, row_number() OVER (
        |      PARTITION BY root ORDER BY dist2, vec_id) AS rn FROM wr)
        |  WHERE rn = 1)
        |SELECT wr.vec_id, wr.cl AS cluster, wr.root, kp.keeper,
        |  wr.vec_id = kp.keeper AS keep
        |FROM wr JOIN kp USING (root) ORDER BY wr.vec_id""".stripMargin))),

    // PageRank link analysis (Brin & Page 1998) — the crawl-graph
    // centrality prior corpus curation ranks hosts/pages by (Common
    // Crawl ships exactly this rank family). The link graph is
    // deterministic synthetic over doc ids (out-degree 1 + id % 3,
    // targets spread by a fixed affine rule — no self-loops, no
    // dangling nodes), built identically in the oracle; 8 damped power
    // iterations with the exact-decimal contribution discipline make
    // ranks partition- AND engine-invariant, so the oracle replays
    // every round bit-for-bit. Per round: one key-partitioned join +
    // one map-side-combinable decimal aggregate — no driver traffic.
    "doc_pagerank" -> (((s, dir) => {
      sortBig(rankFor(s, dir), "node")
    },
      // generated power-iteration replay over the same deterministic
      // synthetic link graph (affine spread, out-degree 1 + id % 3, no
      // self-loops or dangling nodes); n and the teleport scalars are
      // computed IN SQL with the engine's op order, so one oracle text
      // serves every corpus size
      Graph.pageRankOracleSql(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8))),

    // PageRank with a PLANTED DANGLING STRATUM (~⅓ of nodes lose every
    // out-edge — the real-crawl-graph regime): the canonical
    // redistribute-uniformly semantics (one exact-decimal dangling-mass
    // aggregate folded into each round's base term, broadcast in-plan)
    // keeps total rank mass ≡ 1 on the grid instead of leaking ~⅓ of it
    // per round. Same generated bit-for-bit oracle replay; the
    // dangling-free doc_pagerank result is unchanged (share exactly 0.0
    // there).
    "doc_pagerank_dangling" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e = syntheticEdges(docs).where(pmod(col("src"), lit(3L)) =!= 0L)
      sortBig(Graph.pageRank(e, docs, iters = 8), "node")
    },
      // the same generated replay over the dangling-stratum graph: the
      // oracle's per-round d<i> CTE sums dangling ranks in exact decimal
      // and folds the uniform share with the engine's op order, so
      // mass-conserving ranks stay bit-identical across engines
      Graph.pageRankOracleSql(
      s"SELECT src, dst FROM ($SyntheticEdgeSql) WHERE src % 3 <> 0",
      "SELECT doc_id AS node FROM documents", iters = 8))),

    // HOST-graph PageRank (r12 verdict task 5): collapse the page-level
    // link graph to hosts via the URL canonicalization chain and rank
    // HOSTS — the granularity Common Crawl actually publishes
    // (harmonic/PageRank at host level) and the prior a crawl budget
    // allocates by. Host ids are the portable md5-bigint of the host
    // string (both engines compute it identically); host edges are the
    // DISTINCT cross-host projections of the page edges (self-edges
    // dropped — a within-host link carries no cross-host endorsement).
    // One groupBy collapses pages to hosts; the rank loop then runs on
    // the tiny host graph — at crawl scale this is how a 10^10-page
    // graph becomes a 10^7-host one the rank iteration can chew.
    "doc_host_pagerank" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      // pinned: four consumers (hsrc, hdst, hn, perHost) fan out of this
      // corpus-wide canon/md5 projection — un-pinned each one re-runs
      // the full documents scan + regex chain (4 corpus scans for 1)
      val hframe = syntheticUrls(docs).select(col("doc_id"),
          UrlOps.hostOf(UrlOps.canonicalUrl(col("url"))).as("host"))
        .withColumn("hid",
          conv(substring(md5(col("host")), 1, 15), 16, 10).cast("long"))
        .transform(Pin.pin)
      val hsrc = hframe.select(col("doc_id").as("src"),
        col("hid").as("hsrc"))
      val hdst = hframe.select(col("doc_id").as("dst"),
        col("hid").as("hdst"))
      val he = syntheticEdges(docs.select(col("doc_id")))
        .join(hsrc, "src").join(hdst, "dst")
        .where(col("hsrc") =!= col("hdst"))
        .select(col("hsrc").as("src"), col("hdst").as("dst")).distinct()
      val hn = hframe.select(col("hid")).distinct()
      val pr = Graph.pageRank(he, hn, iters = 8)
      val perHost = hframe.groupBy(col("hid"), col("host"))
        .agg(count(lit(1)).as("n_docs"))
      sortSmall(pr.join(perHost, pr("node") === perHost("hid"))
        .select(col("host"), col("rank"), col("in_deg"), col("out_deg"),
          col("n_docs")), "host")
    },
      // host-graph replay: the URL canonicalization CTEs produce per-doc
      // hosts; hosts get the portable md5-bigint id; the page edges
      // project to DISTINCT cross-host edges; then the same generated
      // 8-round power-iteration replay (prefix `h`) over the host graph
      (s"WITH $UrlCanonCtes,\n" +
      """hh AS (SELECT doc_id, host,
        |  ('0x' || substr(md5(host), 1, 15))::BIGINT AS hid FROM cn),"""
        .stripMargin + "\n" +
      Graph.pageRankOracleCtes(
        s"""SELECT DISTINCT a.hid AS src, b.hid AS dst
           |  FROM ($SyntheticEdgeSql) pe
           |  JOIN hh a ON pe.src = a.doc_id JOIN hh b ON pe.dst = b.doc_id
           |  WHERE a.hid <> b.hid""".stripMargin,
        "SELECT DISTINCT hid AS node FROM hh", iters = 8, px = "h")
        .stripPrefix("WITH ") + """
      |SELECT h2.host, r.rank,
      |  COALESCE(i.in_deg, 0) AS in_deg, COALESCE(hdeg.outdeg, 0)
      |    AS out_deg, h2.n_docs
      |FROM (SELECT host, hid, COUNT(*)::BIGINT AS n_docs FROM hh
      |      GROUP BY 1, 2) h2
      |JOIN hr8 r ON h2.hid = r.node
      |LEFT JOIN (SELECT dst, CAST(COUNT(*) AS BIGINT) AS in_deg
      |           FROM he GROUP BY 1) i ON h2.hid = i.dst
      |LEFT JOIN hdeg ON h2.hid = hdeg.src
      |ORDER BY host""".stripMargin))),

    // rank-prior CURATION composition — the decision a crawl pipeline
    // actually ships: keep a page only when its link-graph centrality
    // clears the 75th-percentile cutoff AND it passes the Gopher format
    // gates. The cutoff is an EXACT order statistic compared in exact
    // decimal arithmetic (the nllBuckets tercile discipline: position
    // (n−1)·3/4 has fraction r/4, r = (3·(n−1)) mod 4, so
    // rank ≥ cut ⟺ 4·rank ≥ (4−r)·lo + r·hi over DECIMAL(38,6) grid
    // values) — interpolated percentile on both sides left a one-ulp
    // boundary exposure with heavily-tied 6-dp ranks. The two order
    // statistics come from Ranks.globalRowNumber over (rank, doc_id) —
    // a range shuffle with full parallelism, never a corpus-sized
    // sorted-list buffer on one task; per-lang accounting with an md5
    // content checksum — the doc_curate_sink audit shape.
    "doc_curate_rank" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val pr = rankFor(s, dir)
        .select(col("node").as("doc_id"), col("rank"))
      val cutoff = Ranks.orderStatCut(pr, col("rank"), col("doc_id"), 3, 4)
      val gp = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .where(col("gopher_pass")).select(col("doc_id"))
      sortSmall(docs.join(pr, "doc_id").crossJoin(broadcast(cutoff))
        .where(col("rank").cast("decimal(38,6)") * 4 >=
          (lit(4) - col("_r")) * col("_lo") + col("_r") * col("_hi"))
        .join(gp, Seq("doc_id"), "left_semi")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long"), lit(1000003L))).as("checksum")),
        "lang")
    },
      // rank-prior curation replay: the pageRank CTE prefix + the exact
      // order-statistic cutoff (the nllBuckets tercile discipline at
      // p=3/4: 4·rank ≥ (4−r)·lo + r·hi in exact DECIMAL(38,6) — no
      // engine-dependent interpolation float order) + the Gopher pass
      // CTEs + the curate_sink accounting
      (Graph.pageRankOracleCtes(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8) +
      """,
        |rs AS (SELECT list_sort(list(rank)) AS s, COUNT(*) AS n FROM r8),
        |cut AS (SELECT
        |  CAST(s[CAST(floor(3*(n-1)/4) AS BIGINT) + 1] AS DECIMAL(38,6)) AS lo,
        |  CAST(s[least(CAST(floor(3*(n-1)/4) AS BIGINT) + 2, n)]
        |    AS DECIMAL(38,6)) AS hi,
        |  (3*(n-1)) % 4 AS r FROM rs),
        |gd AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  string_split(text, chr(10)) AS glines, text FROM documents),
        |gm AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |  CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ell,
        |  CAST(len(glines) AS BIGINT) AS n_lines,
        |  CAST(len([l for l in glines if substr(ltrim(l), 1, 1) IN ('-', '*')]) AS BIGINT) AS n_bullet,
        |  CAST(len([l for l in glines if rtrim(l) LIKE '%...']) AS BIGINT) AS n_ellline,
        |  CAST(len([x for x in toks if length(regexp_replace(x, '[^a-zA-Z]', '', 'g')) > 0]) AS BIGINT) AS n_alphaword,
        |  CAST(list_sum([length(x) for x in toks]) AS BIGINT) AS sum_word_len
        |  FROM gd),
        |gp AS (SELECT doc_id FROM (
        |  SELECT doc_id, n_tokens,
        |    round(CAST(sum_word_len AS DOUBLE) / n_tokens, 6) AS mwl,
        |    round(CAST(n_hash + n_ell AS DOUBLE) / n_tokens, 6) AS swr,
        |    round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS blf,
        |    round(CAST(n_ellline AS DOUBLE) / n_lines, 6) AS elf,
        |    round(CAST(n_alphaword AS DOUBLE) / n_tokens, 6) AS awf
        |  FROM gm)
        |  WHERE n_tokens BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8),
        |kept AS (SELECT d.* FROM documents d
        |  JOIN r8 ON d.doc_id = r8.node, cut
        |  WHERE 4*CAST(r8.rank AS DECIMAL(38,6)) >= (4-cut.r)*cut.lo
        |      + cut.r*cut.hi
        |    AND d.doc_id IN (SELECT doc_id FROM gp))
        |SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |  SUM(doc_id)::BIGINT AS sum_doc_id,
        |  SUM(('0x' || substring(md5(text),1,15))::BIGINT % 1000003)::BIGINT
        |    AS checksum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin))),

    // approximate-percentile serving twins (r12 verdict task 7): the
    // task-1 exact cutoffs re-served by percentile_approx with the
    // sketch's rank-error bound ASSERTED in-query against the exact
    // order statistics — the rel_sketches/doc_lsh_audit operating-point
    // discipline applied to quantile serving
    "doc_curate_rank_approx" -> (((s, dir) => {
      val pr = rankFor(s, dir)
        .select(col("node").as("doc_id"), col("rank"))
      approxCutAudit(pr, col("rank"), col("doc_id"), 3, 4)
    },
      // exact p75 order statistics over the replayed rank table + TRUE
      // bound flags (see text_nll_cuts_approx)
      (Graph.pageRankOracleCtes(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8) + """,
        |rs AS (SELECT list_sort(list(rank)) AS s, COUNT(*) AS n FROM r8)
        |SELECT s[CAST(floor(3*(n-1)/4) AS BIGINT) + 1] AS exact_lo,
        |  s[least(CAST(floor(3*(n-1)/4) AS BIGINT) + 2, n)] AS exact_hi,
        |  (3*(n-1)) % 4 AS r, TRUE AS within_bound FROM rs""".stripMargin))),

    "doc_pipeline_median_approx" -> (((s, dir) => {
      val st = e2eStagesFor(s, dir)
      val scz = st.gated.withColumn("_sc",
        QualityModel.scoreText(col("text"), lrModelFor(s, dir)))
      approxCutAudit(scz, col("_sc"), col("doc_id"), 1, 2)
    },
      // exact median order statistics over the composed pipeline's gated
      // score frame + TRUE bound flag
      e2eOracleSql(
      """SELECT s[CAST(floor((n-1)/2) AS BIGINT) + 1] AS exact_lo,
        |  s[least(CAST(floor((n-1)/2) AS BIGINT) + 2, n)] AS exact_hi,
        |  (n-1) % 2 AS r, TRUE AS within_bound FROM psr""".stripMargin))),

    // LSH operating-point AUDIT: precision/recall of the portable
    // 60-bit simhash hamming ≤ 3 detector against exact 3-gram
    // Jaccard ≥ 0.5 ground truth (both sides exactly replayable — the
    // methodological telemetry that justifies a banding threshold
    // before it curates 100 TB). Planted drop-first-word edits make
    // the truth set non-trivial; both sides run on the SAME corpus and
    // the truth side is the bucketed PPJoin, never all-pairs.
    "doc_lsh_audit" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val edited = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
            .as("text"))
      val corpus = docs.unionByName(edited).transform(Pin.pin)
      // both pair frames feed TWO consumers (their own count + the hits
      // join): pinned (r16), each mining pass runs once — unpinned, the
      // full PPJoin truth pass and the simhash banding pass re-executed
      // for the second consumer
      val truth = Pin.pin(Dedup.jaccardPairs(
          Dedup.hashedShingles(corpus, "doc_id", "text", 3), 0.5)
        .select(col("doc_a"), col("doc_b")))
      val cand = Pin.pin(Dedup.simhashDupPairsAtScalePortable(corpus,
          "doc_id", "text", maxDist = 3, nBlocks = 6)
        .select(col("doc_a"), col("doc_b")))
      val hits = cand.join(truth, Seq("doc_a", "doc_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_truth"), col("n_cand"), col("n_hits"),
          round(col("n_hits").cast("double") /
            col("n_cand").cast("double"), 6).as("precision"),
          round(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"))
    },
      // both audit sides replayed exactly: string-shingle Jaccard truth
      // (the JaccardOracle construction over the planted-edit corpus) vs
      // portable-simhash hamming <= 3 candidates (the doc_simhash_pairs
      // construction), then set counts
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(w[2:], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents WHERE doc_id % 20 = 7)),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM base)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |truth AS MATERIALIZED (SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM base),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
        |contrib AS (
        |  SELECT doc_id, b.b AS b,
        |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sim AS MATERIALIZED (SELECT doc_id,
        |    SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT
        |      AS simhash
        |  FROM contrib GROUP BY doc_id),
        |cand AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |hits AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
        |  round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
        |    CAST((SELECT COUNT(*) FROM cand) AS DOUBLE), 6) AS precision,
        |  round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
        |    CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall""".stripMargin)),

    // corpus length-distribution telemetry: token-length histogram per
    // lang in fixed 100-token buckets — one row-local projection + one
    // combinable aggregate (the shape any corpus-stats dashboard needs)
    "doc_length_histogram" -> (((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("_n"),
          col("n_chars"))
        .groupBy(col("lang"), (col("_n") - pmod(col("_n"), lit(100L)))
          .as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("total_tokens"),
          r6(sum(col("n_chars").cast(DecimalType(27, 8))).cast("double") /
            count(lit(1))).as("mean_chars"))
        
    },
      // identical 100-token buckets, exact-decimal char mean
      """SELECT lang,
        |  CAST(len(string_split(text, ' ')) -
        |    len(string_split(text, ' ')) % 100 AS BIGINT) AS len_bucket,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  floor(CAST(SUM(CAST(n_chars AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*)
        |    * 1000000.0 + 0.5) / 1000000.0 AS mean_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // snapshot UPSERT/MERGE (compaction): latest-version-wins merge of a
    // delta batch (revised + brand-new docs) into the base snapshot —
    // the SCD/compaction primitive an incremental corpus pipeline runs
    // per ingest cycle. Keyed window (no global sort); content pinned
    // via md5 so the oracle audits the merged TEXT, not just row counts.
    "doc_upsert_merge" -> (((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = docs.withColumn("version", lit(1L))
      val revised = docs.where(col("doc_id") % 10 === 3)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"),
          lit(2L).as("version"))
      val fresh = docs.where(col("doc_id") % 20 === 11)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          lit(2L).as("version"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
      sortBig(base.unionByName(revised).unionByName(fresh)
        .withColumn("_r", row_number().over(w)).where(col("_r") === 1)
        .select(col("doc_id"), col("version"), md5(col("text")).as("content_md5")),
        "doc_id")
    },
      // identical latest-version-wins merge; md5 pins the merged text
      """WITH all_rows AS (
        |  SELECT doc_id, text, 1 AS version FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' [rev2]', 2 FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 2 FROM documents WHERE doc_id % 20 = 11),
        |r AS (SELECT doc_id, version, text,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        |  FROM all_rows)
        |SELECT doc_id, CAST(version AS BIGINT) AS version, md5(text) AS content_md5
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)))
}
