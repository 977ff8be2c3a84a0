package perfbench

import graft.ext.{Corpus, Kmeans, QualityModel, Similarity}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Semantic deduplication of a document corpus by its embeddings: seeded
  * clustered embeddings, each with a document, plus exact planted copies
  * (vector and text) of every tenth one (+100000 ids). Set-up stages the
  * corpus, builds the IVF index, trains a quality model on the documents
  * and freezes its median score as the quality cut. The batch is a
  * SemDeDup pass, then the quality gate on the survivors' text and a
  * seeded shuffle-pack of what passes into token shards. The queries are
  * single-vector probes of the persisted index. */
final class VectorSearch extends Workload {
  private def nVec(ctx: Ctx) = if (ctx.opts.tiny) 200 else 1000
  private def vecPath(ctx: Ctx) = s"${ctx.work}/vec/corpus"
  private def ivfPath(ctx: Ctx) = s"${ctx.work}/vec/ivf"
  private def docsPath(ctx: Ctx) = s"${ctx.work}/vec/docs"
  private val NLists = 16
  private val K = 10
  private val D = 32
  private val Budget = 1000L
  private val PackSeed = "perfbench"
  private var pool: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var model: QualityModel.LinearModel = _
  private var cut = 0.0
  private var lastOut: Seq[Row] = Nil
  private var packed: Seq[Row] = Nil

  /** The toy quality label: documents of 50 words or more. */
  private def label(text: Column): Column =
    (size(split(text, " ")) >= 50).cast("double")

  /** The documents among `ids` (vec_id) whose quality score clears the
    * frozen cut. */
  private def gate(ctx: Ctx, ids: Seq[Long]): DataFrame = {
    val kept = ctx.spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")
    ctx.spark.read.parquet(docsPath(ctx)).join(kept, "vec_id")
      .where(QualityModel.scoreText(col("text"), model) >= cut)
  }

  private def corpus(ctx: Ctx) = ctx.spark.read.parquet(vecPath(ctx))

  private def queries(ctx: Ctx, ids: Seq[Int]): DataFrame =
    ctx.spark.createDataFrame(ids.map(pool)).toDF("vec_id", "embedding")

  def setup(ctx: Ctx): Unit = {
    val base = Gen.vectors(ctx.opts.seed, nVec(ctx))
    pool = (base ++ base.filter(_._1 % 10 == 0)
      .map { case (id, v) => (id + 100000L, v) }).toIndexedSeq
    val text = Gen.docs(ctx.opts.seed, nVec(ctx)).map(_.text)
    ctx.span("spark", "stage") {
      ctx.spark.createDataFrame(pool).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(vecPath(ctx))
      ctx.spark.createDataFrame(pool.map { case (id, _) =>
          (id, text((id % 100000L).toInt)) })
        .toDF("vec_id", "text").write.mode("overwrite").parquet(docsPath(ctx))
    }
    ctx.span("ext.vector", "build_ivf_index")(Similarity.buildIvfIndex(
      corpus(ctx), "vec_id", "embedding", ivfPath(ctx), nLists = NLists,
      iters = 2))
    val docs = ctx.spark.read.parquet(docsPath(ctx))
    model = ctx.span("ext.text", "train_quality_model") {
      val labels = docs.select(col("vec_id").as("doc"),
        label(col("text")).as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "vec_id", "text", D), labels, D).persist()
      try QualityModel.trainLogReg(feat, d = D, iters = 2, lr = 0.125)
      finally feat.unpersist(false)
    }
    val scores = ctx.span("ext.text", "score_corpus")(docs
      .select(QualityModel.scoreText(col("text"), model)).collect()
      .map(_.getDouble(0)).sorted)
    cut = scores(scores.length / 2)
  }

  def batch(ctx: Ctx): BatchOut = {
    val out = ctx.span("ext.vector", "sem_dedup")(Kmeans.semDedup(
      corpus(ctx), "vec_id", "embedding", k = 8, iters = 3, minCosine = 0.95))
    lastOut = ctx.span("spark", "read")(out.select("vec_id", "keep")
      .collect().toSeq)
    val gated = ctx.span("ext.text", "quality_gate")(
      gate(ctx, lastOut.filter(_.getBoolean(1)).map(_.getLong(0)))
        .localCheckpoint(true))
    packed = ctx.span("ext.corpus", "shuffle_pack")(Corpus.shufflePack(
        gated, "vec_id", "text", seed = PackSeed, budgetTokens = Budget)
      .select(col("doc"), col("n_tokens"), col("start_offset"),
        col("shard_id")).collect().toSeq)
    BatchOut(Hash.rows(lastOut ++ packed))
  }

  private def probe(ctx: Ctx, q: DataFrame, nProbe: Int): DataFrame =
    Similarity.ivfProbeIndex(ctx.spark, ivfPath(ctx), q, "vec_id",
      "embedding", k = K, nProbe = nProbe)
      .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))

  def query: Option[(Ctx, Int) => Unit] = Some { (ctx, i) =>
    val r = Gen.rng(ctx.opts.seed, 200L + i)
    val q = queries(ctx, Seq(r.nextInt(pool.size)))
    ctx.span("ext.vector", "ivf_probe")(probe(ctx, q, 4).collect())
  }

  private def exact(ctx: Ctx, q: DataFrame): DataFrame =
    Similarity.cosineTopK(corpus(ctx), q, "vec_id", "embedding", K)
      .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))

  private def sample(ctx: Ctx, n: Int, salt: Long): Seq[Int] = {
    val r = Gen.rng(ctx.opts.seed, salt)
    Seq.fill(n)(r.nextInt(pool.size)).distinct
  }

  def check(ctx: Ctx, last: BatchOut, dropRow: Boolean): Seq[Check] = {
    val q = queries(ctx, sample(ctx, 8, 300))
    val full = probe(ctx, q, NLists)
    val got = (if (dropRow) Hash.dropOne(full) else full).collect().toSet
    val want = exact(ctx, q).collect().toSet
    // drop a kept member of a planted group, so the group loses its keeper
    val out = lastOut.map(r => (r.getLong(0), r.getBoolean(1)))
      .filterNot { case (id, keep) => dropRow && keep && id % 100000L == 0 }
    val bad = out.filter(_._1 % 100000L % 10 == 0)
      .groupBy(_._1 % 100000L).values.count(_.count(_._2) != 1)
    // the pack of the gated survivors, laid out in plain Scala: documents
    // in md5(seed:doc) order, end to end, cut every Budget tokens
    val refGated = gate(ctx, out.filter(_._2).map(_._1))
      .select(col("vec_id"), md5(concat(lit(s"$PackSeed:"),
        col("vec_id").cast("string"))).as("key"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
      .sorted
    val offsets = refGated.scanLeft(0L)(_ + _._3)
    val refPack = refGated.zip(offsets).map { case ((_, d, n), off) =>
      (d, n, off, off / Budget) }.toSet
    val pack = (if (dropRow) packed.drop(1) else packed)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Seq(
      Check("exhaustive IVF probe equals exact cosine top-k",
        got == want, s"${got.size} rows vs ${want.size}"),
      Check("SemDeDup keeps exactly one member of each planted group",
        bad == 0, s"$bad groups without exactly one keeper"),
      Check("packed shards equal the plain-Scala layout of the gated survivors",
        pack == refPack && refPack.nonEmpty,
        s"${pack.size} packed docs; reference ${refPack.size}"))
  }

  /** recall@10 of the nProbe=4 probe against exact top-10, over 20
    * seeded queries. */
  def figures(ctx: Ctx): Seq[Figure] = {
    val q = queries(ctx, sample(ctx, 20, 400))
    val approx = probe(ctx, q, 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = exact(ctx, q).collect().map(r => (r.getLong(0), r.getLong(2)))
    Seq(Figure("recall_at_10",
      truth.count(approx.contains).toDouble / truth.length, "frac",
      q.count().toInt))
  }

  def ratios(ctx: Ctx, t: TraceSummary): Map[String, Double] = Map(
    "ext.vector.scan_frac" -> t.rowsUnder("ivf_probe").toDouble /
      math.max(1L, t.spansNamed("ivf_probe").toLong * pool.size))
}
