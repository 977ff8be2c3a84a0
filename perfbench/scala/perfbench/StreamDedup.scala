package perfbench

import graft.ext.Dedup
import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming near-dup filtering against an evolving shingle index. About
  * half the documents seed the index at set-up; the rest, plus edits of
  * 12% of all documents missing their first word, arrive one file per
  * micro-batch. Each micro-batch seals its drop decisions before it
  * appends itself to the index. A batch is one replay of the whole
  * stream from the seeded index; its micro-batch durations are the
  * per-item latencies. */
final class StreamDedup extends Workload {
  private def nDocs(ctx: Ctx) = if (ctx.opts.tiny) 120 else 600
  private def nFiles(ctx: Ctx) = if (ctx.opts.tiny) 3 else 4
  private def dir(ctx: Ctx) = s"${ctx.work}/stream"
  private def index(ctx: Ctx) = s"${dir(ctx)}/index"
  private def sink(ctx: Ctx) = s"${dir(ctx)}/sink"
  private var textBytes = 0L
  private var sealedRows: Seq[org.apache.spark.sql.Row] = Nil

  /** Edit ids shift the residue by one, so an edit of a streamed
    * document arrives one micro-batch after its original. */
  private def editShift(ctx: Ctx): Long = nFiles(ctx) * 1000000L + 1

  def setup(ctx: Ctx): Unit = {
    val docs = Gen.docs(ctx.opts.seed, nDocs(ctx))
    val r = Gen.shape(5)
    val (seed, rest) = docs.partition(_ => r.nextBoolean())
    val edits = docs.filter(_ => r.nextDouble() < 0.12).map(d =>
      (d.docId + editShift(ctx), d.text.split(' ').drop(1).mkString(" ")))
    val stream = rest.map(d => (d.docId, d.text)) ++ edits
    textBytes = (seed.map(_.text) ++ stream.map(_._2)).map(_.length.toLong).sum
    ctx.span("spark", "stage") {
      ctx.spark.createDataFrame(seed.map(d => (d.docId, d.text)))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"${dir(ctx)}/seed")
      ctx.spark.createDataFrame(stream).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"${dir(ctx)}/arrivals")
    }
    Files.rmTree(new java.io.File(index(ctx)))
    ctx.span("streaming", "seed_index")(StreamingDedup.appendShingleIndexBatch(
      ctx.spark.read.parquet(s"${dir(ctx)}/seed"), "doc_id", "text",
      index(ctx), batchId = 0L))
  }

  /** Back to the seeded index: drop every appended batch, the sink and
    * the stream's checkpoint. */
  private def reset(ctx: Ctx): Unit = {
    Option(new java.io.File(index(ctx)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("batch=") && f.getName != "batch=0")
      .foreach(Files.rmTree)
    Seq("sink", "files", "ckpt").foreach(d =>
      Files.rmTree(new java.io.File(s"${dir(ctx)}/$d")))
  }

  def batch(ctx: Ctx): BatchOut = {
    reset(ctx)
    val spark = ctx.spark
    ctx.span("streaming", "replay") {
      StreamingDedup.replayForeachBatchResidue(spark, s"${dir(ctx)}/arrivals",
        s"${dir(ctx)}/files", s"${dir(ctx)}/ckpt", nFiles(ctx), "doc_id",
        OutputMode.Append())(identity) { (arrived, id) =>
        ctx.span("streaming", "micro_batch") {
          val b = arrived.select(col("doc_id").cast("long").as("doc_id"),
            col("text")).localCheckpoint(true)
          val dropped = StreamingDedup.shingleDropStream(spark, b, "doc_id",
              "text", index(ctx), minJ = 0.5, excludeBatchFrom = id + 1)
            .withColumn("_d", lit(true))
          b.select(col("doc_id").as("doc")).join(dropped, Seq("doc"), "left")
            .select(col("doc"), coalesce(col("_d"), lit(false)).as("dropped"))
            .write.mode("overwrite").parquet(s"${sink(ctx)}/batch=$id")
          StreamingDedup.appendShingleIndexBatch(b, "doc_id", "text",
            index(ctx), batchId = id + 1)
        }
      }
    }
    sealedRows = ctx.span("spark", "read")(spark.read.parquet(sink(ctx))
      .select(col("doc"), col("dropped")).collect().toSeq)
    BatchOut(Hash.rows(sealedRows), ctx.streams.take())
  }

  def query: Option[(Ctx, Int) => Unit] = None

  /** The sealed decisions must equal a batch Jaccard self-join under the
    * same rule: a document is dropped iff a smaller id that arrived in an
    * earlier batch (the seed index is batch 0) shares Jaccard >= 0.5. */
  def check(ctx: Ctx, last: BatchOut, dropRow: Boolean): Seq[Check] = {
    val spark = ctx.spark
    val seed = spark.read.parquet(s"${dir(ctx)}/seed")
      .select(col("doc_id"), col("text"), lit(0L).as("b"))
    val arrivals = spark.read.parquet(s"${dir(ctx)}/arrivals")
      .select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(nFiles(ctx).toLong)) + 1).as("b"))
    val all = seed.unionByName(arrivals)
    val pairs = Dedup.jaccardPairs(
      Dedup.hashedShingles(all, "doc_id", "text", 3), 0.5)
    val ba = all.select(col("doc_id").as("doc_a"), col("b").as("ba"))
    val bb = all.select(col("doc_id").as("doc_b"), col("b").as("bb"))
    val droppedRef = pairs.join(ba, "doc_a").join(bb, "doc_b")
      .where(col("ba") < col("bb")).select(col("doc_b").as("doc")).distinct()
    val want = arrivals.select(col("doc_id").as("doc"))
      .join(droppedRef.withColumn("_d", lit(true)), Seq("doc"), "left")
      .select(col("doc"), coalesce(col("_d"), lit(false)).as("dropped"))
    val got = (if (dropRow) sealedRows.drop(1) else sealedRows)
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val ref = want.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    Seq(Check("sealed drops equal the batch Jaccard reference",
      got == ref && ref.exists(_._2),
      s"${got.count(_._2)} dropped of ${got.size}; reference " +
        s"${ref.count(_._2)} of ${ref.size}"))
  }

  def figures(ctx: Ctx): Seq[Figure] = Seq(Figure(
    "stored_bytes_per_input_byte",
    Files.usage(index(ctx))._1.toDouble / textBytes, "x", 1))

  /** The files the stream keeps between micro-batches: its index and its
    * checkpoint. */
  def ratios(ctx: Ctx, t: TraceSummary): Map[String, Double] = Map(
    "streaming.state_files" -> (Files.usage(index(ctx))._2 +
      Files.usage(s"${dir(ctx)}/ckpt")._2).toDouble)
}
