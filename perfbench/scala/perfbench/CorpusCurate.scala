package perfbench

import graft.ext.{CurationPipeline, Dedup, Graph, QualityModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed curation pipeline on a seeded corpus with planted strata:
  * exact copies (+2M ids), near-miss copies missing their first line
  * (+3M) and tracking-URL re-crawls (+4M), about 12% of the ingest.
  * Set-up trains the quality model and the link-graph rank table once.
  * The query is a single-document contamination check against the
  * curated set. */
final class CorpusCurate extends Workload {
  private def nDocs(ctx: Ctx) = if (ctx.opts.tiny) 150 else 300
  private def docsPath(ctx: Ctx) = s"${ctx.work}/corpus/docs"
  private var model: QualityModel.LinearModel = _
  private var ranks: DataFrame = _
  private var stages: CurationPipeline.Stages = _
  private var refHash: String = _
  private var packed: Seq[org.apache.spark.sql.Row] = Nil
  private var pool: IndexedSeq[Gen.Doc] = IndexedSeq.empty

  /** Sentence breaks planted at ` line `, plus the lorem-ipsum, curly
    * brace and javascript strata the C4 rules remove. */
  private def structuredText: Column =
    concat(call_function("replace", col("text"), lit(" line "), lit(".\n")),
      lit("."),
      when(col("doc_id") % 17 === 3, lit("\nlorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(col("doc_id") % 23 === 5, lit(" {code.}")).otherwise(lit("")),
      when(col("doc_id") % 29 === 7,
        lit("\nthis page uses javascript to render it.")).otherwise(lit("")))

  private def ingest(docs: DataFrame): DataFrame = {
    val s = docs.select(col("doc_id"), col("lang"), col("source"),
      structuredText.as("text"))
    def stratum(res: Int, shift: Long, text: Column) =
      s.where(col("doc_id") % 25 === res).select(
        (col("doc_id") + shift).as("doc_id"), col("lang"), col("source"),
        text.as("text"))
    s.unionByName(stratum(3, 2000000L, col("text")))
      .unionByName(stratum(11, 3000000L, array_join(
        slice(split(col("text"), "\n"), 2, 1000000), "\n")))
      .unionByName(stratum(17, 4000000L, col("text")))
  }

  /** Re-crawls share their source page's canonical URL. */
  private def url: Column = {
    val recrawl = col("doc_id") >= 4000000L
    concat(lit("https://"), col("source"), lit(".example.com/d/"),
      when(recrawl, col("doc_id") - 4000000L).otherwise(col("doc_id"))
        .cast("string"),
      when(recrawl, lit("?utm_source=feed&ref=x#s2")).otherwise(lit("")))
  }

  /** The decontamination benchmark: first-word-dropped edits of cleaned
    * original documents. */
  private def benchOf(cleaned: DataFrame): DataFrame = cleaned
    .where(col("doc_id") % 20 === 7 && col("doc_id") < 2000000L)
    .select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 2, 1000000)).as("text"))

  /** Out-degree 1 + id % 3 link graph without self-loops. */
  private def edges(ids: DataFrame, n: Long): DataFrame =
    ids.select(col("doc_id").as("src"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(3L))))
          .as("c"))
      .select(col("src"), pmod(col("src") + lit(1L) +
        pmod(col("src") * 31L + col("c") * 97L, lit(n - 1L)), lit(n)).as("dst"))

  def setup(ctx: Ctx): Unit = {
    val docs = Gen.docs(ctx.opts.seed, nDocs(ctx))
    pool = docs.toIndexedSeq
    ctx.span("spark", "stage") {
      ctx.spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(docsPath(ctx))
    }
    val d = ctx.spark.read.parquet(docsPath(ctx))
    model = ctx.span("ext.text", "train_quality_model") {
      val labels = d.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(d, "doc_id", "text", 64), labels, 64).persist()
      try QualityModel.trainLogReg(feat, d = 64, iters = 4, lr = 0.125)
      finally feat.unpersist(false)
    }
    ranks = ctx.span("ext.corpus", "page_rank") {
      val ids = d.select(col("doc_id"))
      Graph.pageRank(edges(ids, nDocs(ctx).toLong), ids, iters = 3)
        .localCheckpoint(true)
        .select(col("node").as("doc_id"), col("rank"))
    }
  }

  def batch(ctx: Ctx): BatchOut = {
    val in = ingest(ctx.spark.read.parquet(docsPath(ctx)))
    stages = ctx.span("ext.corpus", "curation_pipeline")(
      CurationPipeline.run(in, model, benchOf = benchOf,
        urls = in.select(col("doc_id"), url.as("url")), ranks = ranks,
        minSentences = 2))
    packed = ctx.span("spark", "read")(stages.packed.collect().toSeq)
    val h = Hash.rows(packed)
    if (refHash == null) refHash = h
    BatchOut(h)
  }

  /** Half the queries are first-word-dropped edits of corpus documents,
    * half are fresh random documents. */
  def query: Option[(Ctx, Int) => Unit] = Some { (ctx, i) =>
    val r = Gen.rng(ctx.opts.seed, 100L + i)
    val text =
      if (i % 2 == 0) pool(r.nextInt(pool.size)).text.split(' ').drop(1)
        .mkString(" ")
      else Gen.words(r, 10 + r.nextInt(91))
    val q = ctx.spark.createDataFrame(Seq((9000000L + i, text)))
      .toDF("doc_id", "text")
    val curated = stages.mixed.select(col("doc_id"), col("text"))
    ctx.span("ext.dedup", "cross_jaccard")(
      Dedup.crossJaccardPairs(curated, q, "doc_id", "text", minJ = 0.5)
        .collect())
  }

  def check(ctx: Ctx, last: BatchOut, dropRow: Boolean): Seq[Check] = {
    val h = Hash.rows(if (dropRow) packed.drop(1) else packed)
    val kept = packed.map(_.getAs[Long]("doc")).toSet
    val twins = kept.filter(d => d >= 2000000L && d < 3000000L &&
      kept.contains(d - 2000000L))
    Seq(
      Check("packed rows equal the first batch's", h == refHash,
        s"$h vs $refHash"),
      Check("no planted exact copy survives next to its original",
        twins.isEmpty, s"${twins.size} twins among ${kept.size} packed"))
  }

  def figures(ctx: Ctx): Seq[Figure] = Nil

  def ratios(ctx: Ctx, t: TraceSummary): Map[String, Double] = Map.empty
}
