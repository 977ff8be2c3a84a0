package graft

import graft.ext.{Bpe, CurationPipeline, Dedup, Graph, Pin, QualityModel, Ranks}
import org.apache.spark.sql.functions._

/** The reliable-checkpoint toggle must be value-invisible: every pinned
  * iterative loop returns bit-identical results whether pins ride the
  * default eager localCheckpoint (executor storage, fastest) or the
  * opt-in reliable checkpoint() (checkpoint-filesystem blocks — the
  * cluster-grade form that survives executor loss mid-iteration). */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[T](f: => T): T = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toString
    spark.conf.set(Pin.ReliableKey, "true")
    spark.conf.set(Pin.DirKey, dir)
    try f
    finally {
      spark.conf.set(Pin.ReliableKey, "false")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("reliable-checkpoint pins require a checkpoint dir") {
    spark.conf.set(Pin.ReliableKey, "true")
    try {
      // no context checkpoint dir, no conf dir -> refuse loudly
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException] {
          Pin.pin(Seq(1L).toDF("x"))
        }
        assert(e.getMessage.contains(Pin.DirKey))
      }
    } finally spark.conf.set(Pin.ReliableKey, "false")
  }

  test("Ranks, pageRank and dedupClusters are bit-identical under reliable checkpointing") {
    val orders = spark.read.parquet(sf("orders"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val ord = Seq(col("o_totalprice"), col("o_orderkey"))
    val rnLocal = Ranks.globalRowNumber(orders, ord, nParts = 5)
      .select("o_orderkey", "rn").as[(Long, Long)].collect().toSet

    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val nodes = (1L to 6L).toDF("node")
    val prLocal = Graph.pageRank(edges, nodes, iters = 4)
      .select("node", "rank").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toSet

    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val ccLocal = Dedup.dedupClusters(pairs, "a", "b")
      .select("doc", "root").as[(Long, Long)].collect().toSet

    withReliable {
      val rn = Ranks.globalRowNumber(orders, ord, nParts = 5)
        .select("o_orderkey", "rn").as[(Long, Long)].collect().toSet
      assert(rn == rnLocal)
      val pr = Graph.pageRank(edges, nodes, iters = 4)
        .select("node", "rank").collect()
        .map(r => (r.getLong(0), r.get(1).toString)).toSet
      assert(pr == prLocal)
      val cc = Dedup.dedupClusters(pairs, "a", "b")
        .select("doc", "root").as[(Long, Long)].collect().toSet
      assert(cc == ccLocal)
      // the reliable path actually wrote checkpoint data
      assert(spark.sparkContext.getCheckpointDir.nonEmpty)
    }
  }

  test("CurationPipeline stages and Bpe.trainMerges are bit-identical under reliable checkpointing") {
    val docs = spark.read.parquet(sf("documents"))
    val ingest = docs.select(col("doc_id"), col("lang"), col("source"),
      regexp_replace(col("text"), " line ", ".\n").as("text"))
    // dyadic weights: scores spread around the median gate, grid-exact
    val model = QualityModel.LinearModel(
      Array.tabulate(64)(i => (i % 5 - 2) / 8.0), 0.0, 0L)
    def stages(): Seq[Set[String]] = {
      val st = CurationPipeline.run(ingest, model,
        benchOf = _.where(col("doc_id") % 20 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
        urls = ingest.select(col("doc_id"), concat(lit("https://"),
          col("source"), lit(".example.com/d/"),
          col("doc_id").cast("string")).as("url")),
        ranks = ingest.select(col("doc_id"),
          (pmod(col("doc_id"), lit(10L)) / 10000.0).as("rank")))
      Seq(st.deduped, st.gated, st.scoredKeep, st.ranked, st.decon,
          st.mixed, st.packed)
        .map(_.collect().map(_.toString).toSet)
    }
    // files under the checkpoint dir: grows only when a pin goes through
    // the reliable checkpoint, not a local one
    def ckptFiles(): Long = spark.sparkContext.getCheckpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getFileCount else 0L
    }.getOrElse(0L)
    val curatedLocal = stages()
    assert(curatedLocal.last.nonEmpty, "degenerate fixture: nothing packed")
    val mergesLocal = Bpe.trainMerges(docs, "text", m = 4)
    withReliable {
      val n0 = ckptFiles()
      assert(stages() == curatedLocal)
      val n1 = ckptFiles()
      assert(n1 > n0, "CurationPipeline pins skipped the reliable checkpoint")
      assert(Bpe.trainMerges(docs, "text", m = 4) == mergesLocal)
      assert(ckptFiles() > n1, "Bpe.trainMerges pins skipped the reliable checkpoint")
    }
  }
}
