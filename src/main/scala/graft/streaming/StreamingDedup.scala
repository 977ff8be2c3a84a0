package graft.streaming

import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Streaming near-duplicate detection against a PERSISTED corpus index —
  * the streaming face of the batch dedup operators (the same move
  * `Similarity.buildIvfIndex` makes for ANN: pay the corpus pass once,
  * then probe incrementally). Batch builds the band tables; new documents
  * stream in, band row-locally (no streaming aggregation — the signature
  * is computed per row, so every stage before the join is stateless),
  * equi-join the static band table for candidates, and verify exactly.
  *
  * Scale shape: the stream side carries only (doc, bands, shingle-hash
  * array) — fixed-width keys plus one array per NEW doc; the corpus side
  * is a static parquet equi-joined on (band, bandhash), which Spark plans
  * as a broadcast or shuffled hash join per micro-batch. Candidate work is
  * proportional to band collisions (true near-dups + negligible random
  * collisions at the banded key widths), never new×corpus. The one
  * stateful op is the candidate-pair dedup, whose state is bounded by the
  * number of distinct near-dup pairs seen; production deployments with
  * unbounded streams should add an ingest-time watermark column and
  * `dropDuplicatesWithinWatermark` to bound it in time as well.
  */
object StreamingDedup {

  /** The MinHash index shape: shingle width in words, signature length
    * and band count. [[buildMinhashIndex]] writes its band table in this
    * shape and [[minhashDupStream]] bands its probes the same way, so a
    * probe always joins on band keys its index holds. */
  private val MinhashShingle = 3
  private val MinhashHashes = 64
  private val MinhashBands = 16

  /** The SimHash index shape: the Hamming radius and the Manku block
    * count, shared by [[buildSimhashIndex]] and [[simhashDupStream]]. */
  private val SimhashMaxDist = 3
  private val SimhashBlocks = 6

  /** Row-local per-document profile: sorted distinct shingle hashes, set
    * size, and MinHash signature — everything the probe needs, computed
    * without explode/groupBy so it runs as a stateless streaming stage.
    * Hash-identical to the batch path (shared column builders in
    * [[graft.ext.Dedup]]). Documents with fewer than [[MinhashShingle]]
    * words have no shingles and are dropped, matching the batch
    * operators. */
  def docProfiles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), split(col(textCol), " ").as("_w"))
      .select(col("doc"), Dedup.shingleArray(col("_w"), MinhashShingle).as("shs"))
      .where(size(col("shs")) > 0)
      .select(col("doc"), sort_array(col("shs")).as("shs"),
        size(col("shs")).as("n"),
        Dedup.minhashSignature(col("shs"), MinhashHashes).as("sig"))

  /** Build the persisted MinHash index of a corpus: `<path>/bands` — one
    * (doc, band, bandhash) row per document band, the candidate-join side —
    * and `<path>/docs` — (doc, shs, n), the exact-verification side. Both
    * written sorted by their join key so the static scans cluster. */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val prof = docProfiles(df, idCol, textCol).cache()
    try {
      Dedup.minhashBands(prof.select(col("doc"), col("sig")),
          MinhashBands, MinhashHashes / MinhashBands)
        .sortWithinPartitions("band", "bandhash")
        .write.mode("overwrite").parquet(s"$path/bands")
      prof.select(col("doc"), col("shs"), col("n"))
        .sortWithinPartitions("doc")
        .write.mode("overwrite").parquet(s"$path/docs")
    } finally prof.unpersist()
  }

  /** Probe a stream of new documents against a [[buildMinhashIndex]]
    * index: emits exactly-verified near-dup pairs
    * (doc_new, doc_corpus, jaccard >= minJ), each pair once. Candidate
    * pairs are deduped BEFORE verification (multi-band collisions would
    * otherwise re-verify the same pair), which also makes emission
    * exactly-once across micro-batches. */
  def minhashDupStream(spark: SparkSession, stream: DataFrame,
      idCol: String, textCol: String, indexPath: String,
      minJ: Double): DataFrame = {
    val corpusBands = spark.read.parquet(s"$indexPath/bands")
      .select(col("doc"), col("band"), col("bandhash"))
    val corpusDocs = spark.read.parquet(s"$indexPath/docs")
    // band the new docs, carrying each one's shingle set on the row (a
    // later join back to the stream would be a stream-stream self join)
    val q = docProfiles(stream, idCol, textCol)
      .select(col("doc"), col("shs"), col("n"),
        posexplode(Dedup.minhashBandKeys(col("sig"), MinhashBands,
          MinhashHashes / MinhashBands)))
      .toDF("doc", "shs", "n", "band", "bandhash")
    val cand = q.as("q").join(corpusBands.as("c"),
        col("q.band") === col("c.band") && col("q.bandhash") === col("c.bandhash"))
      .where(col("q.doc") =!= col("c.doc"))
      .select(col("q.doc").as("doc_new"), col("q.shs").as("sha"),
        col("q.n").as("na"), col("c.doc").as("doc_corpus"))
      .dropDuplicates("doc_new", "doc_corpus")
    cand.join(corpusDocs.select(col("doc").as("doc_corpus"),
        col("shs").as("shb"), col("n").as("nb")), "doc_corpus")
      .where(col("nb") >= col("na") * minJ && col("na") >= col("nb") * minJ)
      .withColumn("i", graft.functions.VectorFunctions
        .sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= minJ)
      .select(col("doc_new"), col("doc_corpus"), col("jaccard"))
  }

  /** Build the persisted SimHash index: the Manku combination-banding
    * table (doc, simhash, band, bandkey). The fingerprint rides on every
    * band row, so the probe verifies hamming distance row-locally — no
    * second corpus table needed. The fingerprint is
    * [[Dedup.portableSimhash64]] (md5-derived, oracle-reproducible), the
    * one [[simhashDupStream]] probes with. */
  def buildSimhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    Dedup.simhashBands(Dedup.portableSimhash64(df, idCol, textCol),
        SimhashMaxDist, SimhashBlocks)
      .sortWithinPartitions("band", "bandkey")
      .write.mode("overwrite").parquet(path)

  /** Build the persisted CHUNK index of a corpus — the distinct 64-bit
    * hashes of every [[graft.ext.Dedup.chunkRows]] chunk — for
    * boilerplate filtering ON INGEST: new documents probe it to find
    * which of their chunks the corpus already contains. One distinct
    * aggregate over fixed-width longs (chunk text never persists). */
  def buildChunkIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, chunkTokens: Int = 16): Unit =
    Dedup.chunkRows(df, idCol, textCol, chunkTokens)
      .select(xxhash64(col("chunk_text")).as("ck")).distinct()
      .sortWithinPartitions("ck").write.mode("overwrite").parquet(path)

  /** Persist the DISTINCT k-token window-hash set of a corpus — the
    * substring-dedup twin of [[buildChunkIndex]] for ARBITRARY-OFFSET
    * verbatim runs (an offset-shifted leak crosses every fixed chunk
    * boundary, so the chunk index misses it; the overlapping-window
    * index cannot). One distinct aggregate over the row-local
    * [[graft.ext.Dedup.windowHashes]] frame; hashes stay md5 STRINGS so
    * a SQL oracle replays the probe byte-for-byte. */
  def buildWindowIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 8): Unit = {
    graft.ext.Dedup.windowHashes(df, idCol, textCol, k)
      .select(col("whash")).distinct()
      .sortWithinPartitions("whash")
      .write.mode("overwrite").parquet(path)
  }

  /** Crash recovery for a rename-aside index swap: index missing +
    * `<path>_old` present means a crash landed between the renames —
    * restore automatically on the next probe. */
  private def recoverIndex(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(s"${path}_old")
    val fs = dst.getFileSystem(conf)
    if (!fs.exists(dst) && fs.exists(old)) { fs.rename(old, dst): Unit }
  }

  /** Canonical-URL KEEPER index — (canon, _keeper) with _keeper = the
    * smallest doc id ever seen for the canonical URL. Because min is
    * associative/commutative, the persisted layout may hold MANY rows
    * per canon: [[keeperOf]] folds them at probe time. */
  def buildKeeperIndex(pairs: DataFrame, path: String): Unit =
    pairs.select(col(pairs.columns.head).cast("long").as("_keeper"),
        col(pairs.columns(1)).as("canon"))
      .groupBy(col("canon")).agg(min(col("_keeper")).as("_keeper"))
      .sortWithinPartitions("canon")
      .write.mode("overwrite").parquet(path)

  /** The probe view: one (canon, _keeper) row per canon, the min fold
    * over however many appended rows the layout holds. */
  def keeperOf(spark: SparkSession, path: String): DataFrame = {
    recoverIndex(spark, path)
    spark.read.parquet(path)
      .groupBy(col("canon")).agg(min(col("_keeper")).as("_keeper"))
  }

  /** Corpus SHINGLE index — (cdoc, sh, nc): each indexed doc's distinct
    * hashed shingles, every row carrying the doc's shingle count nc so
    * the Jaccard probe needs no full-index aggregate. Writes the FLAT
    * layout; a stream that evolves its index starts from an empty root
    * and grows it with [[appendShingleIndexBatch]]. */
  def buildShingleIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3): Unit =
    shingleRows(df, idCol, textCol, n).sortWithinPartitions("sh")
      .write.mode("overwrite").parquet(path)

  /** Exactly-once per-micro-batch shingle-index append: batch
    * `batchId`'s rows land in their OWN `batch=<id>` subdir with
    * overwrite — a RETRIED micro-batch rewrites only its directory (the
    * stream_sink_rollup discipline), where a flat append would double
    * the replayed batch's rows and corrupt every later Jaccard against
    * them. Probes keep reading the index root (partition discovery
    * unions the batch dirs; the extra
    * `batch` partition column is inert to the probe join — and a
    * probe-then-append stream passes its own batch id as
    * [[shingleDropStream]]'s `excludeBatchFrom` so an at-least-once
    * retry reproduces the pre-append decision). The form a stream that
    * BOTH probes and evolves the index needs.
    *
    * MUTUALLY EXCLUSIVE with the flat [[buildShingleIndex]] layout:
    * Spark partition discovery cannot read a root mixing bare data files
    * with `batch=` dirs, so the
    * first batch append REQUIRES an empty/absent root or an
    * already-batch-partitioned one (guarded here, not at read time —
    * the failure would otherwise surface as an opaque discovery error
    * on some later probe). */
  def appendShingleIndexBatch(df: DataFrame, idCol: String,
      textCol: String, path: String, batchId: Long, n: Int = 3): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) {
      val flat = fs.listStatus(root).exists(st =>
        !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") &&
          !(st.isDirectory && st.getPath.getName.startsWith("batch=")))
      require(!flat, s"shingle index at $path has a FLAT layout " +
        "(buildShingleIndex); batch appends require " +
        "an empty or batch-partitioned root — the two layouts cannot mix")
    }
    shingleRows(df, idCol, textCol, n)
      .sortWithinPartitions("sh")
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // nc rides the row-local distinct shingle ARRAY (its size IS the
    // per-doc distinct count hashedShingles' explode produces), so the
    // pin + doc-keyed count self-join the r15 form ran per build/append
    // — two jobs and a shuffle per micro-batch on the evolve path — is
    // one stateless projection (r17; values identical: shingleArray is
    // exactly hashedShingles' pre-explode array)
    df.select(col(idCol).cast("long").as("cdoc"),
        graft.ext.Dedup.shingleArray(split(col(textCol), " "), n).as("_shs"))
      .select(col("cdoc"), explode(col("_shs")).as("sh"),
        size(col("_shs")).cast("long").as("nc"))

  /** The near-dup Jaccard probe against a persisted shingle index: a
    * probe doc is DROPPED iff some indexed doc with a smaller id shares
    * Jaccard ≥ minJ — exactly stream_pipeline's batch decision, from
    * the files on disk. Returns the dropped probe ids.
    *
    * `excludeBatchFrom`: for a BATCH-PARTITIONED index (grown by
    * [[appendShingleIndexBatch]]) pass the probing micro-batch's own id
    * so the probe reads only `batch < excludeBatchFrom`. foreachBatch
    * is at-least-once: a batch that fails AFTER its own append
    * succeeded re-fires, and without the exclusion the retry would
    * probe an index that already contains the batch's own rows —
    * flipping intra-batch smaller-id near-dups into drops and sealing a
    * decision that diverges from the original. With it, a retried
    * batch reproduces the original decision exactly. Leave at -1 for
    * flat (non-batch-partitioned) indexes. */
  def shingleDropStream(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, indexPath: String,
      minJ: Double, n: Int = 3, excludeBatchFrom: Long = -1L): DataFrame = {
    recoverIndex(spark, indexPath)
    val idx0 = spark.read.parquet(indexPath)
    val idx = if (excludeBatchFrom >= 0L)
      idx0.where(col("batch") < lit(excludeBatchFrom)) else idx0
    val xs = graft.ext.Dedup.hashedShingles(batch, idCol, textCol, n)
    val xc = xs.groupBy(col("doc")).agg(count(lit(1)).as("nx"))
    xs.join(idx, "sh")
      .where(col("cdoc") < col("doc"))
      .groupBy(col("doc"), col("cdoc"), col("nc"))
      .agg(count(lit(1)).as("i"))
      .join(xc, "doc")
      .where(col("i").cast("double") /
        (col("nx") + col("nc") - col("i")) >= minJ)
      .select(col("doc")).distinct()
  }

  /** Probe a stream of new documents against a [[buildWindowIndex]]
    * index: emits (doc_new, pos) for every k-token window the corpus
    * already contains AT ANY OFFSET. Fully STATELESS — windowing is
    * row-local and the corpus side is a static frame probed with a
    * LEFT SEMI join: multiplicity 1 for any index layout; no dedup
    * state (the window hash IS the decision, like [[chunkHitStream]]). */
  def windowHitStream(spark: SparkSession, stream: DataFrame,
      idCol: String, textCol: String, indexPath: String,
      k: Int = 8): DataFrame = {
    recoverIndex(spark, indexPath)
    val index = spark.read.parquet(indexPath).select(col("whash"))
    graft.ext.Dedup.windowHashes(stream, idCol, textCol, k)
      .join(index, Seq("whash"), "left_semi")
      .select(col("doc").as("doc_new"), col("pos"))
  }

  /** Persist the portable Bloom filter of a corpus for ingest-time
    * dedup: the distinct set-bit frame of
    * [[graft.ext.Dedup.bloomBuild]] — ≤ m rows whatever the corpus
    * size, one tiny parquet. */
  def buildBloomIndex(df: DataFrame, textCol: String, path: String,
      m: Int = 65536, k: Int = 5): Unit = {
    Dedup.bloomBuild(df, textCol, m, k)
      .coalesce(1).sortWithinPartitions("bit")
      .write.mode("overwrite").parquet(path)
  }

  /** STATELESS streaming Bloom probe: the persisted filter loads and
    * packs ONCE at stream definition (m/8 bytes on the driver), rides
    * into every micro-batch as an array literal, and each streamed row
    * flags itself row-locally — the cheapest ingest filter in the
    * family: no join, no aggregation, no state store, no shuffle. Emits
    * (doc, maybe_dup); Bloom semantics as in [[Dedup.bloomBuild]]
    * (never a false negative, FP ≈ (1−e^{−kn/m})^k). */
  def bloomFilterStream(spark: SparkSession, stream: DataFrame,
      idCol: String, textCol: String, indexPath: String,
      m: Int = 65536, k: Int = 5): DataFrame = {
    val words = Dedup.packBloomBits(spark.read.parquet(indexPath), m)
    stream.select(col(idCol).as("doc"),
      Dedup.bloomMightContain(col(textCol), words, m, k)
        .cast("long").as("maybe_dup"))
  }

  /** Probe a stream of new documents against a [[buildChunkIndex]]
    * index: emits (doc_new, chunk_idx) for every chunk the corpus
    * ALREADY CONTAINS. Fully STATELESS — chunking is row-local and the
    * corpus side is a static frame with distinct keys (join multiplicity
    * 1, so no dedup state is needed; unlike the band probes there is no
    * candidate-verify stage because the chunk hash IS the decision).
    * Exact by construction modulo xxhash64 collisions, which the
    * hash-match gate would surface. */
  def chunkHitStream(spark: SparkSession, stream: DataFrame,
      idCol: String, textCol: String, indexPath: String,
      chunkTokens: Int = 16): DataFrame = {
    val index = spark.read.parquet(indexPath).select(col("ck"))
    Dedup.chunkRows(stream, idCol, textCol, chunkTokens)
      .withColumn("ck", xxhash64(col("chunk_text")))
      .join(index, "ck")
      .select(col("doc").as("doc_new"), col("chunk_idx"))
  }

  /** Probe a stream of new documents against a [[buildSimhashIndex]]
    * index: emits (doc_new, doc_corpus, hamming <= [[SimhashMaxDist]])
    * pairs, each once. Same recall guarantee as the batch operator (the
    * pigeonhole over combination bands — EXACT within that radius, so unlike
    * the MinHash probe there is no banding-recall margin to mind). */
  def simhashDupStream(spark: SparkSession, stream: DataFrame,
      idCol: String, textCol: String, indexPath: String): DataFrame = {
    val index = spark.read.parquet(indexPath)
      .select(col("doc"), col("simhash"), col("band"), col("bandkey"))
    val q = Dedup.simhashBands(Dedup.portableSimhash64(stream, idCol, textCol),
      SimhashMaxDist, SimhashBlocks)
    q.as("q").join(index.as("c"),
        col("q.band") === col("c.band") && col("q.bandkey") === col("c.bandkey"))
      .where(col("q.doc") =!= col("c.doc"))
      .select(col("q.doc").as("doc_new"), col("c.doc").as("doc_corpus"),
        col("q.simhash").as("sim_q"), col("c.simhash").as("sim_c"))
      .dropDuplicates("doc_new", "doc_corpus")
      .withColumn("hamming", bit_count(col("sim_q").bitwiseXOR(col("sim_c"))))
      .where(col("hamming") <= SimhashMaxDist)
      .select(col("doc_new"), col("doc_corpus"), col("hamming"))
  }

  /** Schema of a replay source, cached per (path, mtime, length): a
    * bounded replay is re-run per bench rep, and the footer-read batch
    * job it starts is pure fixed overhead after the first call. Keying on
    * the file's modification time and length (one driver-side FS stat,
    * no Spark job) means a rewritten fixture at the same path — e.g. a
    * regenerated /tmp file with a different schema in the same JVM —
    * invalidates the entry instead of silently building the stream with
    * the stale schema. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), org.apache.spark.sql.types.StructType]()
  private[streaming] def cachedSchema(spark: SparkSession, parquetPath: String) = {
    val p = new org.apache.hadoop.fs.Path(parquetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    schemaCache.computeIfAbsent((parquetPath, st.getModificationTime, st.getLen),
      _ => spark.read.parquet(parquetPath).schema)
  }

  /** File-source stream over a parquet TABLE path, whichever layout the
    * producer used: a DIRECTORY of part files (the only layout that
    * exists at cluster scale — every distributed writer emits parts;
    * the source's default hidden-file rule skips _SUCCESS/_metadata) is
    * streamed directly, while a bare single-file fixture keeps the
    * parent-dir + pathGlobFilter form (a file stream source wants a
    * directory to list). Before r11 only the single-file form existed,
    * and a directory table silently streamed ZERO files — the all10x
    * tier caught every stream query finishing instantly at 10×. */
  private[streaming] def streamSource(spark: SparkSession,
      parquetPath: String): DataFrame = {
    val schema = cachedSchema(spark, parquetPath)
    val p = new org.apache.hadoop.fs.Path(parquetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory)
      spark.readStream.schema(schema).parquet(parquetPath)
    else {
      val dir = parquetPath.substring(0, parquetPath.lastIndexOf('/'))
      val fileName = parquetPath.substring(parquetPath.lastIndexOf('/') + 1)
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileName).parquet(dir)
    }
  }

  /** Run one bounded replay to completion inside a session-conf scope:
    * set the replay keys (plus the caller's `extraConf`), start the
    * stream `writer` builds with an available-now trigger, wait for it,
    * and put every key back as the session had it — a key it had not set
    * is unset again — also when building the probe or running the stream
    * throws. `writer` is by-name, so the probe is built inside the scope.
    *
    * A bounded replay's stateful ops commit one state-store partition per
    * shuffle partition per micro-batch; at the session default (32) that
    * fixed commit overhead dominates the tiny replay, so the stream runs
    * at 8. No replayed probe has event-time timeouts to fire, so the
    * trailing no-data micro-batch is skipped as well — halving commit
    * rounds. */
  private[streaming] def runBounded(spark: SparkSession,
      extraConf: (String, String)*)(writer: => DataStreamWriter[Row]): Unit = {
    val conf = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") ++ extraConf
    val set = spark.conf.getAll
    val prev = conf.map { case (k, _) => k -> set.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Replay a bounded parquet table of documents through a streaming
    * probe and return the materialized result (memory sink, available-now
    * trigger) — how the oracle checks the streaming dedup path, mirroring
    * [[StreamingOps.replayResample]]. */
  def replayDocs(spark: SparkSession, parquetPath: String, queryName: String,
      outputMode: OutputMode = OutputMode.Append)
      (probe: DataFrame => DataFrame): DataFrame = {
    val stream = streamSource(spark, parquetPath)
    spark.catalog.dropTempView(queryName)
    runBounded(spark)(probe(stream).writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName))
    spark.table(queryName)
  }

  /** Bounded replay into a `foreachBatch` FILE materialization — the
    * production pattern for landing a Complete-mode streaming rollup as
    * files: each committed micro-batch rewrites the directory, the
    * checkpoint makes the commit exactly-once (a crashed batch replays,
    * a committed one never re-fires), and the LAST committed batch owns
    * the final contents. Same replay/session-conf discipline as
    * [[replayDocs]]. */
  def replayForeachBatch(spark: SparkSession, parquetPath: String,
      checkpoint: String, outputMode: OutputMode)
      (probe: DataFrame => DataFrame)
      (write: (DataFrame, Long) => Unit): Unit = {
    val stream = streamSource(spark, parquetPath)
    runBounded(spark)(probe(stream).writeStream
      .outputMode(outputMode)
      .foreachBatch(write)
      .option("checkpointLocation", checkpoint))
  }

  /** Replay a parquet table as `nRes` micro-batches, each containing
    * exactly one RESIDUE CLASS (`idCol % nRes`) — the deterministic
    * batch partition hash-sharded quota twins need: batch MEMBERSHIP is
    * a pure function of the id (unlike [[replayForeachBatchSplit]]'s
    * round-robin repartition), so a SQL oracle can replay per-batch
    * decisions without knowing arrival order, and any batch-keyed
    * decision is invariant to the order classes happen to arrive in.
    * One file per class (written under a leading-underscore temp dir,
    * which the file source ignores, then moved into place) keeps
    * maxFilesPerTrigger=1 ≡ one class per micro-batch. */
  def replayForeachBatchResidue(spark: SparkSession, parquetPath: String,
      scratchDir: String, checkpoint: String, nRes: Int, idCol: String,
      outputMode: OutputMode)
      (probe: DataFrame => DataFrame)
      (write: (DataFrame, Long) => Unit): Unit = {
    require(nRes > 0, "nRes must be positive")
    val src = spark.read.parquet(parquetPath)
    new java.io.File(scratchDir).mkdirs()
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
      f.delete(): Unit
    }
    // ONE write job for all residue classes (r16): repartition on the
    // residue puts each class in exactly one task, partitionBy splits
    // that task's output one file per class — the per-class
    // coalesce(1)-write loop this replaces ran nRes sequential jobs for
    // the same files. The file stream source orders micro-batches by
    // (modification time, path), so each class file's mtime is set
    // explicitly to a strictly increasing value — batch k = residue k,
    // exactly the arrival order the per-class loop produced by writing
    // sequentially. Classes empty at this sf (possible at tiny scale
    // factors) get an explicit empty file so the batch count — and with
    // it every batch=<id> sink dir — stays a function of nRes alone.
    val tmp = s"$scratchDir/_tmp_all"
    src.withColumn("_res", pmod(col(idCol).cast("long"), lit(nRes.toLong)))
      .repartition(nRes, col("_res"))
      .write.mode("overwrite").partitionBy("_res").parquet(tmp)
    val t0 = System.currentTimeMillis()
    (0 until nRes).foreach { b =>
      val dst = java.nio.file.Paths.get(s"$scratchDir/res-$b.parquet")
      val part = Option(new java.io.File(s"$tmp/_res=$b").listFiles())
        .getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      part match {
        case Some(p) =>
          java.nio.file.Files.move(p.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        case None =>
          // empty class: one 0-row file with the source schema
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              src.schema)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$tmp/_empty_$b")
          Option(new java.io.File(s"$tmp/_empty_$b").listFiles())
            .getOrElse(Array.empty)
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet"))
            .foreach { p =>
              java.nio.file.Files.move(p.toPath, dst,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
            }
      }
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + b * 1000L)): Unit
    }
    rmTree(new java.io.File(tmp))
    val schema = cachedSchema(spark, parquetPath)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(scratchDir)
    runBounded(spark)(probe(stream).writeStream
      .outputMode(outputMode)
      .foreachBatch(write)
      .option("checkpointLocation", checkpoint))
  }

  /** [[replayForeachBatch]] over a MULTI-BATCH bounded replay: the batch
    * parquet is split into `splitN` files in `scratchDir` and streamed
    * one file per micro-batch (`maxFilesPerTrigger=1`), so cross-batch
    * state logic actually executes `splitN` times — a single-file source
    * collapses AvailableNow to ONE micro-batch, which can't exercise a
    * running-state merge at all. Batch arrival order is file-listing
    * order; callers' merge logic must be order-insensitive (top-k/set
    * merges are), which is also the production truth: replayed streams
    * reorder. */
  def replayForeachBatchSplit(spark: SparkSession, parquetPath: String,
      scratchDir: String, checkpoint: String, splitN: Int,
      outputMode: OutputMode)
      (probe: DataFrame => DataFrame)
      (write: (DataFrame, Long) => Unit): Unit = {
    require(splitN > 0, "splitN must be positive")
    spark.read.parquet(parquetPath).repartition(splitN)
      .write.mode("overwrite").parquet(scratchDir)
    val schema = cachedSchema(spark, parquetPath)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(scratchDir)
    runBounded(spark)(probe(stream).writeStream
      .outputMode(outputMode)
      .foreachBatch(write)
      .option("checkpointLocation", checkpoint))
  }

}
