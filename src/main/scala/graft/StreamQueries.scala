package graft

import graft.core.Observations
import graft.ext.{Corpus, Dedup, EventOps, Kmeans, Pin, QualityModel, Ranks, Similarity, Sketches, TextAnalysis, UrlOps}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The streaming queries (`stream_`): bounded replays of the batch
  * operators and their persisted indexes.
  * Each entry pairs a declared query with its DuckDB oracle SQL; see
  * [[SparkEntry]]. */
object StreamQueries {
  import Observations.{KeyCol, TsCol, ValueCol}
  import SparkEntry.{t, events, fmtTs, sortSmall, sortBig, scratch, Artifact,
    C4RulesOracle, syntheticUrls, UrlCanonCtes, e2eOracleSql,
    c4StructuredText, lrModelFor, rankFor, e2eStagesFor, e2eIngest, e2eUrl,
    e2eBenchOf, r6, DetMeanSql, ShingleCtes, BudgetAllocCtes,
    HostBlocklistOracle, CmsTopkCtes, SimhashCtes, BloomProbeCtes,
    CosinePairSelect, Query}

  /** Write `df` as ONE parquet file under `path` — a replay source the
    * file-stream reader takes as one micro-batch — and return that
    * file's path. */
  private def replayParquet(df: DataFrame, path: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .find(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .getOrElse(throw new IllegalStateException(
        s"replay write left no parquet file under $path"))
  }

  /** The persisted IVF index stream_ivf_topk serves from. */
  private val streamIvfIndexFor = Artifact("streamIvfIdx") { (s, dir) =>
    val p = scratch("stream_ivf_idx", dir)
    Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id",
      "embedding", p, nLists = 16, iters = 2)
    p
  }

  /** The STREAMING logged-table ingest experiment (stream_ztable_append,
    * r16):
    * four residue-class micro-batches each append to the z-table
    * THROUGH the versioned manifest log via
    * [[graft.ext.ZTable.appendBatchTxn]] — the Delta txnAppId/
    * txnVersion discipline that turns foreachBatch's at-least-once
    * delivery into exactly-once at the table. Both replay hazards are
    * INJECTED and proven harmless: batch 1 simulates a crash AFTER its
    * data landed but BEFORE its commit (the retry's dynamic
    * partition-overwrite rewrites exactly its own file dirs — a plain
    * append would leave two part files per dir), and batch 2 runs its
    * whole commit path TWICE (the retry sees its txn marker in the log
    * and writes nothing). A final full VACUUM against the committed
    * latest must find ZERO orphans — nothing leaked, nothing doubled —
    * and the on-disk file count must equal the manifest's. */
  private val ztabStreamFor = Artifact("ztabStream") { (s, dir) =>
    import graft.ext.ZTable
    val p = scratch("ztab_stream", dir)
    val table = s"$p/table"
    val root = s"$p/_log"
    val nRes = 4
    var skips = 0L
    graft.streaming.StreamingDedup.replayForeachBatchResidue(
      s, s"$dir/documents.parquet", s"$p/src", s"$p/ckpt", nRes,
      "doc_id", org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
      st.select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
    } { (batch, batchId) =>
      // bucket dims derived ROW-LOCALLY (a stream cannot know global
      // ranks): b1 from length, b2 from the portable md5 dimension
      val rows = batch.select(col("doc_id"),
        pmod(col("n_chars"), lit(256L)).as("b1"),
        pmod(pmod(conv(substring(md5(concat(lit("zdim:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(10000L)), lit(256L)).as("b2"))
      val ranked = Ranks.globalRowNumber(rows, Seq(col("doc_id")),
        out = "_rk")
      val offset = (batchId * 10).toInt
      if (batchId == 1L) {
        // pre-commit crash: data landed, log didn't advance — the
        // retry below must rewrite these very dirs, never double them
        ZTable.writeFiles(ranked, "_rk", nFiles = 4, offset = offset,
          out = table, dynamicOverwrite = true): Unit
      }
      val (_, committed) = ZTable.appendBatchTxn(s, table, root,
        "ztap", batchId, ranked, "_rk", nFiles = 4, offset = offset)
      require(committed, s"batch $batchId first commit must land")
      if (batchId == 2L) {
        // post-commit replay: the whole commit path re-fires; the txn
        // marker must short-circuit it BEFORE any data write
        val before = ZTable.logLatest(s, root)
        val (v, again) = ZTable.appendBatchTxn(s, table, root,
          "ztap", batchId, ranked, "_rk", nFiles = 4, offset = offset)
        require(!again && v == before,
          "replayed batch must skip via its txn marker")
        skips += 1
      }
    }
    val latest = ZTable.logLatest(s, root)
    require(latest == nRes - 1L, s"expected v${nRes - 1}, got v$latest")
    val man = ZTable.logRead(s, root, latest)
    val (_, orphans) = ZTable.vacuum(s, table, man)
    require(orphans == 0L,
      s"exactly-once ingest must leave zero orphan files, got $orphans")
    require(ZTable.listDataFiles(s, table).length == man.count(),
      "on-disk files must equal the committed manifest")
    val conf = s.sparkContext.hadoopConfiguration
    val accP = new org.apache.hadoop.fs.Path(s"$p/_ztap.json")
    val out = accP.getFileSystem(conf).create(accP, true)
    out.write(
      s"""{"versions":$nRes,"skips":$skips,"orphans":0}"""
        .getBytes("UTF-8"))
    out.close()
    p
  }

  /** The streaming composed pipeline's sink (stream_pipeline):
    * checkpointed foreachBatch parquet of per-doc ingest decisions
    * against the frozen batch artifacts. The checkpoint and the two
    * indexes sit BESIDE the sink root, not inside it. */
  private val streamPipeFor = Artifact("streamPipeline") { (s, dir) =>
    val st = e2eStagesFor(s, dir)
    val m = lrModelFor(s, dir)
    val dec6 = DecimalType(38, 6)
    val p = scratch("stream_pipe", dir)
    val cp = scratch("stream_pipe_ckpt", dir)
    // the two corpus-sized artifacts are PERSISTED INDEXES: the batch
    // probes below read them from disk
    val kIdx = scratch("stream_pipe_url_keeper", dir)
    val shIdx = scratch("stream_pipe_shingle_idx", dir)
    graft.streaming.StreamingDedup.buildKeeperIndex(
      e2eIngest(t(s, dir, "documents"))
        .select(col("doc_id"), e2eUrl.as("url"))
        .select(col("doc_id"), UrlOps.canonicalUrl(col("url"))
          .as("canon")), kIdx)
    graft.streaming.StreamingDedup.buildShingleIndex(
      st.cleaned, "doc_id", "text", shIdx, n = 3)
    // the folded keeper view is pinned for the replay (the index is
    // frozen here)
    val canonKeeper = Pin.pin(
      graft.streaming.StreamingDedup.keeperOf(s, kIdx))
    val medianCut = st.medianCut.transform(Pin.pin)
    val rankCut = st.rankCut.transform(Pin.pin)
    val ranks = rankFor(s, dir)
      .select(col("node").as("doc_id"), col("rank"))
    val bench = e2eBenchOf(st.cleaned).transform(Pin.pin)
    val rates = Corpus.temperatureRates(st.decon, "source", 5000L)
      .transform(Pin.pin)
    graft.streaming.StreamingDedup.replayForeachBatch(
      s, s"$dir/documents.parquet", cp,
      org.apache.spark.sql.streaming.OutputMode.Append()) { stDocs =>
      // streaming side: row-local only — strata synth + the URL
      e2eIngest(stDocs).withColumn("url", e2eUrl)
    } { (batch, _) =>
      val urlKept = batch
        .withColumn("canon", UrlOps.canonicalUrl(col("url")))
        .join(canonKeeper, "canon")
        .where(col("doc_id") === col("_keeper"))
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val cleaned = TextAnalysis.c4Clean(urlKept, "doc_id", "text",
          carry = Seq("lang", "source"), minSentences = 2)
        .where(col("c4_keep"))
        .select(col("doc_id"), col("c4_text").as("text"), col("lang"),
          col("source"))
      val dropped = graft.streaming.StreamingDedup.shingleDropStream(
          s, cleaned, "doc_id", "text", shIdx, minJ = 0.5, n = 3)
        .select(col("doc").as("doc_id"))
      val deduped = cleaned.join(dropped, Seq("doc_id"), "left_anti")
      val gp = TextAnalysis.gopherRules(deduped, "doc_id", "text")
        .where(col("gopher_pass")).select(col("doc_id"))
      val gated = deduped.join(gp, Seq("doc_id"), "left_semi")
      val q = gated.withColumn("_sc",
          QualityModel.scoreText(col("text"), m))
        .crossJoin(broadcast(medianCut))
        .where(col("_sc") * 2 > (lit(2) - col("_r")) * col("_lo") +
          col("_r") * col("_hi"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val rked = q.join(ranks, "doc_id")
        .crossJoin(broadcast(rankCut))
        .where(col("rank").cast(dec6) * 4 >=
          (lit(4) - col("_r")) * col("_lo") + col("_r") * col("_hi"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val contam = Dedup.crossJaccardPairs(rked, bench, "doc_id",
          "text", minJ = 0.5)
        .select(col("doc_a").as("doc_id")).distinct()
      val decon = rked.join(contam, Seq("doc_id"), "left_anti")
      decon.join(broadcast(rates), "source")
        .withColumn("sample_bucket", Corpus.sampleBucket(col("doc_id")))
        .where(col("sample_bucket") < col("rate_bp"))
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .write.mode("append").parquet(p)
    }
    p
  }

  /** The Complete-mode rollup of stream_sink_rollup landed as
    * event_type-partitioned parquet: checkpointed foreachBatch output.
    * The checkpoint is a SIBLING of the sink root — each committed batch
    * overwrites the root, which would delete a checkpoint nested in it;
    * a stale checkpoint would mark the source processed and never fire
    * the batch. */
  private val streamSinkFor = Artifact("streamSink") { (s, dir) =>
    val p = scratch("stream_sink", dir)
    val cp = scratch("stream_sink_ckpt", dir)
    graft.streaming.StreamingDedup.replayForeachBatch(
      s, s"$dir/events.parquet", cp,
      org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
      Observations.normalizeEventTs(st)
        .groupBy(col("event_type"),
          window(col("ts"), "10800 seconds").as("_w"))
        .agg(count(lit(1)).as("n_events"),
          Resample.detMean(col("value")).as("mean_value"))
        .select(col("event_type"), col("_w").getField("start").as("ws"),
          col("n_events"), col("mean_value"))
    } { (batch, _) =>
      batch.write.mode("overwrite").partitionBy("event_type").parquet(p)
    }
    p
  }

  /** The corpus split (doc_id % 5 != 0) every stream-dedup probe runs
    * against. */
  private def dedupCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") % 5 =!= 0)

  /** Persisted MinHash band index (stream_minhash_dedup). Corpus
    * indexing is paid once and probes are incremental, so bench reps 2+
    * time the probe, not the build (rep 1 absorbs the build like it
    * absorbs codegen). */
  private val minhashIndexFor = Artifact("minhashIdx") { (s, dir) =>
    val p = scratch("stream_minhash_idx", dir)
    graft.streaming.StreamingDedup.buildMinhashIndex(dedupCorpus(s, dir),
      "doc_id", "text", p)
    p
  }

  /** Persisted portable-SimHash band index, probed by
    * stream_simhash_dedup and stream_curate. */
  private val simhashIndexFor = Artifact("simhashIdx") { (s, dir) =>
    val p = scratch("stream_simhash_idx", dir)
    graft.streaming.StreamingDedup.buildSimhashIndex(dedupCorpus(s, dir),
      "doc_id", "text", p)
    p
  }

  /** Persisted distinct 16-token chunk-hash index (stream_chunk_dedup). */
  private val chunkIndexFor = Artifact("chunkIdx") { (s, dir) =>
    val p = scratch("stream_chunk_idx", dir)
    graft.streaming.StreamingDedup.buildChunkIndex(dedupCorpus(s, dir),
      "doc_id", "text", p, chunkTokens = 16)
    p
  }

  /** Persisted distinct 8-token window-hash index
    * (stream_substring_dedup). */
  private val windowIndexFor = Artifact("windowIdx") { (s, dir) =>
    val p = scratch("stream_window_idx", dir)
    graft.streaming.StreamingDedup.buildWindowIndex(dedupCorpus(s, dir),
      "doc_id", "text", p, k = 8)
    p
  }

  /** Persisted portable Bloom filter of the corpus split
    * (stream_bloom_filter). */
  private val bloomIndexFor = Artifact("bloomIdx") { (s, dir) =>
    val p = scratch("bloom_idx", dir)
    graft.streaming.StreamingDedup.buildBloomIndex(dedupCorpus(s, dir),
      "text", p, m = 65536, k = 5)
    p
  }

  /** stream_bloom_filter's probe replay: the probe split plus planted
    * verbatim corpus copies under +100000 ids. */
  private val bloomReplayFor = Artifact("bloomReplay") { (s, dir) =>
    val docs = t(s, dir, "documents")
    replayParquet(
      docs.where(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 5 =!= 0 &&
            col("doc_id") % 50 === 1)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))),
      scratch("bloom_replay", dir))
  }

  /** stream_substring_dedup's probe replay: the probe split plus planted
    * offset-shifted leaks. */
  private val substringReplayFor = Artifact("substrReplay") { (s, dir) =>
    val docs = t(s, dir, "documents")
    replayParquet(
      docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 5 =!= 0 &&
            col("doc_id") % 7 === 3)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("planted leak prefix alpha beta "), col("text"))
              .as("text"))),
      scratch("substr_replay", dir))
  }

  /** The frozen k-means model stream_semdedup assigns against. */
  private val semModelFor = Artifact("semKmeans") { (s, dir) =>
    Kmeans.train(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8,
      iters = 3)
  }

  /** stream_semdedup's replay: planted exact copies (+100000) and
    * negated vectors (+200000). */
  private val semReplayFor = Artifact("semReplay") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    replayParquet(
      emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        .unionByName(emb.where(col("vec_id") % 10 === 5)
          .select((col("vec_id") + 200000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))),
      scratch("stream_sem", dir))
  }

  /** stream_sessions' replay: the user-sliced obs frame plus one per-key
    * SENTINEL event far past the data. The sentinel closes each key's
    * final session through the ARRIVAL path (an event more than `gap`
    * after the open session's end), so a bounded replay emits exactly
    * the true sessions — the sentinel's own session stays open in state
    * and is never emitted. */
  private val sessionReplayFor = Artifact("sessionReplay") { (s, dir) =>
    val obs = Observations.from(
      events(s, dir).where(col("user_id") < 40), "user_id", "ts", "value")
    val sentinels = obs.groupBy(col(KeyCol))
      .agg(max(col(TsCol)).as("mx"))
      .select(col(KeyCol),
        (col("mx") + expr("interval 9000 seconds")).as(TsCol),
        lit(0.0).as(ValueCol))
    replayParquet(
      obs.select(col(KeyCol), col(TsCol), col(ValueCol))
        .unionByName(sentinels),
      scratch("stream_sessions", dir))
  }

  private[graft] def queries: Seq[(String, (Query, String))] = Seq(

    // URL dedup AT INGEST — the streaming twin of doc_url_dedup:
    // canonicalization is a stateless row-local map on the live row;
    // the keeper decision is keyed STATE on the canonical string
    // (dropDuplicates — first arrival wins), so the emitted set is the
    // canonical-key set regardless of arrival order, ≡ the batch
    // distinct. Bounded replay keeps state finite here; at unbounded
    // ingest the same topology runs dropDuplicatesWithinWatermark on an
    // ingest-time column (the stream_dedup_watermark shape) so state
    // stays bounded by the watermark horizon.
    "stream_url_dedup" -> (((s, dir) => {
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_url_dedup_result") { st =>
        syntheticUrls(st)
          .select(UrlOps.canonicalUrl(col("url")).as("canon"))
          .withColumn("host", UrlOps.hostOf(col("canon")))
          .dropDuplicates("canon")
      }
      sortBig(res.select(col("canon"), col("host")), "canon")
    },
      // the streamed canonical-key set must equal the batch distinct —
      // same canonicalization CTEs, distinct tail
      (s"WITH $UrlCanonCtes" + """
      |SELECT DISTINCT cn.canon, cn.host FROM cn ORDER BY 1""".stripMargin))),

    // STREAMING twin of the composed pipeline (r12 verdict task 3) —
    // the ingest-time form: each arriving doc carries its crawl URL
    // through the stateless row-local stages (structured ingest synth,
    // URL canonicalization, C4 clean, Gopher, frozen-LR scoring) and is
    // decided per micro-batch against the FROZEN batch artifacts: the
    // canonical-URL keeper index, the cleaned-corpus shingle index (a
    // doc is a dup iff a SMALLER-id corpus doc shares Jaccard ≥ 0.5 —
    // proven equal to the batch closure on this corpus: every dup
    // component is a star rooted at its min id), the exact median and
    // p75 rank cutoffs, the rank table, the benchmark shingle set, and
    // the temperature-mix rates. Every decision is per-doc independent
    // of arrival order, so the bounded replay lands on the batch
    // pipeline's kept set EXACTLY — the oracle is the batch e2e replay
    // (`am`), hash-matched. foreachBatch materialization with an
    // exactly-once checkpoint (the stream_sink_rollup discipline); at
    // unbounded ingest the same topology holds, with the keyed indexes
    // maintained by the append/compact lifecycle the IVF/window indexes
    // already ship.
    "stream_pipeline" -> (((s, dir) => {
      sortSmall(s.read.parquet(streamPipeFor(s, dir)), "doc_id")
    },
      // the streamed per-doc decisions must land on the batch pipeline's
      // kept set exactly — same composed replay, mix-stage tail
      e2eOracleSql(
      """SELECT doc_id, lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM am ORDER BY doc_id""".stripMargin))),

    // streaming quality gate: the SAME in-engine-trained classifier
    // applied at INGEST as a STATELESS stream stage — one weight lookup
    // per token, folded row-locally. Every term is a dyadic-grid
    // element, so the fold equals the batch margin bit-for-bit: stream
    // scoring ≡ batch scoring ≡ the training-replay oracle. No feature
    // frame, no aggregate, no state store — frozen-model scoring rides
    // any ingest topology for free.
    "stream_quality_lr" -> (((s, dir) => {
      val m = lrModelFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_qlr_result") { st =>
        st.select(col("doc_id").as("doc"),
          (col("lang") === "en").cast("double").as("y"),
          QualityModel.scoreText(col("text"), m).as("score"))
          .withColumn("pred", (col("score") > lit(0.0)).cast("int"))
      }
      sortBig(res.select(col("doc"), col("y"), col("score"), col("pred")),
        "doc")
    },
      // the streamed scoring must land on the batch result bit-for-bit
      // (stateless dyadic fold) — same generated training-replay oracle
      QualityModel.qualityOracleSql(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"))),

    // HASH-SHARDED QUOTA ENFORCEMENT AT INGEST — the streaming form of
    // doc_budget_fill: a GLOBAL exact prefix fill needs every smaller
    // hash key before deciding a doc, which an unbounded stream can't
    // know, so the production pattern splits each language's allocation
    // into per-shard sub-quotas (shard = doc_id mod 8, the micro-batch
    // key) that every shard enforces with NO cross-shard coordination —
    // the distributed-rate-limiter discipline. Each micro-batch is one
    // whole residue class (replayForeachBatchResidue), decisions are a
    // window prefix sum within the batch against the broadcast FROZEN
    // sub-quota table, and the kept set is a pure function of (salt,
    // ids, allocs) — batch arrival order cannot matter. The sub-quota
    // boundary loss vs the batch fill's global cutoff is the documented
    // price of coordination-free enforcement.
    "stream_budget_fill" -> (((s, dir) => {
      val nRes = 8
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val sub = Corpus.waterfillAlloc(docs, "lang", "n_chars", 8000L)
        .select(col("lang"), col("alloc_tokens"))
        .crossJoin(s.range(nRes).select(col("id").as("res")))
        .withColumn("sub_alloc", expr(s"alloc_tokens div ${nRes}L") +
          when(col("res") < pmod(col("alloc_tokens"), lit(nRes.toLong)), 1L)
            .otherwise(0L))
        .select(col("lang"), col("res"), col("sub_alloc"))
        .transform(Pin.pin)
      val p = scratch("stream_bfill", dir)
      // kept rows land in a per-batch parquet SINK (overwrite into a
      // batch=<id> subdir — a retried batch rewrites only its own
      // directory, the exactly-once discipline of stream_sink_rollup),
      // never on the driver: the kept set IS the budget-fill output,
      // i.e. corpus-scale at a 100 TB budget, and a driver-side merge
      // would hoard it in one JVM. The declared result is the sink read
      // back — the files on disk are what's audited.
      val sink = s"$p/sink"
      graft.streaming.StreamingDedup.replayForeachBatchResidue(
        s, s"$dir/documents.parquet", s"$p/src", s"$p/ckpt", nRes, "doc_id",
        org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
        // explicit long casts: a replayed source may carry narrower
        // integer types than the sf parquet (the 10x synth tables do),
        // and the sink schema must be batch-invariant
        st.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
      } { (batch, batchId) =>
        // one micro-batch = one residue class, so partitionBy(lang) here
        // is the per-(lang, shard) sub-quota scan — bounded by the
        // micro-batch, not the corpus
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("fill_key"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        batch
          .withColumn("res", pmod(col("doc_id"), lit(nRes.toLong)))
          .withColumn("fill_key", Corpus.sampleKey(col("doc_id"), "bfill"))
          .withColumn("cum_tokens", sum(col("n_chars")).over(w))
          .join(broadcast(sub), Seq("lang", "res"))
          .where(col("cum_tokens") <= col("sub_alloc"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("res"),
            col("cum_tokens"), col("sub_alloc"))
          .write.mode("overwrite").parquet(s"$sink/batch=$batchId")
      }
      sortBig(s.read.option("basePath", sink).parquet(sink)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("res"),
            col("cum_tokens"), col("sub_alloc")),
        "doc_id")
    },
      // the same allocation CTEs, sub-quotas by residue class, and
      // per-(lang, shard) window prefix fill — batch arrival order cannot
      // appear anywhere because shard membership is doc_id mod 8
      s"""$BudgetAllocCtes,
        |rb AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS res),
        |sub AS (SELECT lang, res,
        |    alloc_tokens // 8 + CASE WHEN res < alloc_tokens % 8
        |                             THEN 1 ELSE 0 END AS sub_alloc
        |  FROM al CROSS JOIN rb),
        |k AS (SELECT doc_id, lang, n_chars, doc_id % 8 AS res,
        |    md5('bfill:' || CAST(doc_id AS VARCHAR)) AS fill_key
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars, res,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang, res
        |      ORDER BY fill_key, doc_id) AS BIGINT) AS cum_tokens
        |  FROM k)
        |SELECT doc_id, c.lang, n_chars, CAST(c.res AS BIGINT) AS res,
        |  cum_tokens, sub_alloc
        |FROM c JOIN sub ON c.lang = sub.lang AND c.res = sub.res
        |WHERE cum_tokens <= sub_alloc
        |ORDER BY doc_id""".stripMargin)),

    // STREAMING INGEST INTO THE LOGGED TABLE (r16): micro-batches
    // append through the OCC manifest log with Delta-style txn markers
    // (appId, batchId) — foreachBatch is at-least-once, and BOTH replay
    // hazards are injected in the builder: a pre-commit crash (data
    // landed, log didn't — the retry's dynamic partition-overwrite
    // rewrites exactly its own file dirs) and a post-commit replay (the
    // txn marker short-circuits before any data write). The declared
    // rows read the live set THROUGH the final manifest: a doubled
    // batch, lost batch, or leaked orphan mismatches the per-residue
    // content sums; the counters are by-construction, each a require.
    "stream_ztable_append" -> (((s, dir) => {
      import graft.ext.ZTable
      val p = ztabStreamFor(s, dir)
      val root = s"$p/_log"
      val man = ZTable.logRead(s, root, ZTable.logLatest(s, root)).collect()
      val paths = man.map(_.getAs[String]("path")).sorted.toSeq
      val acc = {
        val accP = new org.apache.hadoop.fs.Path(s"$p/_ztap.json")
        val in = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .open(accP)
        val str = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        (k: String) => s""""$k"\\s*:\\s*(\\d+)""".r
          .findFirstMatchIn(str).get.group(1).toLong
      }
      s.read.parquet(paths: _*)
        .groupBy(pmod(col("doc_id"), lit(4L)).as("res"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc"),
          coalesce(sum(col("b1")), lit(0L)).as("sum_b1"),
          coalesce(sum(col("b2")), lit(0L)).as("sum_b2"))
        .withColumn("n_versions", lit(acc("versions")))
        .withColumn("txn_skips", lit(acc("skips")))
        .withColumn("orphan_files", lit(acc("orphans")))
        
    },
      // exactly-once ingest truth: every document lands exactly once
      // whatever batch replays fired — the per-residue content sums over
      // the row-local bucket dims; the counters are by-construction,
      // each enforced by a require in the builder
      """WITH d AS (SELECT doc_id, n_chars % 256 AS b1,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 % 256 AS b2
        |  FROM documents)
        |SELECT CAST(doc_id % 4 AS BIGINT) AS res,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
        |  CAST(sum(b1) AS BIGINT) AS sum_b1,
        |  CAST(sum(b2) AS BIGINT) AS sum_b2,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS txn_skips,
        |  CAST(0 AS BIGINT) AS orphan_files
        |FROM d GROUP BY 1""".stripMargin)),

    // SUB-QUOTA BOUNDARY LOSS — the number an operator needs to SIZE
    // shards: per language, how far stream_budget_fill's
    // coordination-free per-shard sub-quotas land from doc_budget_fill's
    // global cutoff. `lost` = kept by the global fill but dropped by the
    // sharded one (a shard hit its sub-quota while another had slack);
    // `extra` = the converse (a shard's slack admitted a doc the global
    // prefix had already cut). Both fills are pure functions of (salt,
    // ids, allocs) — the stream-kept set is computed RELATIONALLY here
    // (its ≡-to-the-stream is stream_budget_fill's own oracle), as two
    // chained skew-safe stratified running sums over ONE keyed frame:
    // per-(lang, shard) for the sub-quota decision, per-lang for the
    // global one — no corpus-scale self-join, flags are row-local, and
    // the output is |langs| rows.
    "stream_budget_loss" -> (((s, dir) => {
      val nRes = 8
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val alloc = Corpus.waterfillAlloc(docs, "lang", "n_chars", 8000L)
        .select(col("lang"), col("alloc_tokens"))
      val sub = alloc
        .crossJoin(s.range(nRes).select(col("id").as("res")))
        .withColumn("sub_alloc", expr(s"alloc_tokens div ${nRes}L") +
          when(col("res") < pmod(col("alloc_tokens"), lit(nRes.toLong)), 1L)
            .otherwise(0L))
        .select(col("lang"), col("res"), col("sub_alloc"))
      val keyed = docs
        .withColumn("res", pmod(col("doc_id"), lit(nRes.toLong)))
        .withColumn("fill_key", Corpus.sampleKey(col("doc_id"), "bfill"))
      val ord = Seq(col("fill_key"), col("doc_id"))
      val both = Ranks.stratifiedRunningSum(
          Ranks.stratifiedRunningSum(keyed, Seq("lang", "res"), ord,
            col("n_chars"), out = "cum_s"),
          Seq("lang"), ord, col("n_chars"), out = "cum_g")
        .join(broadcast(alloc), Seq("lang"))
        .join(broadcast(sub), Seq("lang", "res"))
        .withColumn("kg", col("cum_g") <= col("alloc_tokens"))
        .withColumn("ks", col("cum_s") <= col("sub_alloc"))
      sortSmall(both.groupBy(col("lang")).agg(
          sum(when(col("kg") && col("ks"), 1L).otherwise(0L))
            .as("kept_both"),
          sum(when(col("kg") && !col("ks"), 1L).otherwise(0L))
            .as("lost_docs"),
          sum(when(col("kg") && !col("ks"), col("n_chars")).otherwise(0L))
            .cast("long").as("lost_tokens"),
          sum(when(!col("kg") && col("ks"), 1L).otherwise(0L))
            .as("extra_docs"),
          sum(when(!col("kg") && col("ks"), col("n_chars")).otherwise(0L))
            .cast("long").as("extra_tokens"),
          max(col("alloc_tokens")).as("alloc_tokens")),
        "lang")
    },
      // both fills replayed over one keyed frame: per-(lang, res) prefix
      // for the sub-quota decision, per-lang prefix for the global one,
      // flags row-local, |langs| aggregate rows
      s"""$BudgetAllocCtes,
        |rb AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS res),
        |sub AS (SELECT lang, res,
        |    alloc_tokens // 8 + CASE WHEN res < alloc_tokens % 8
        |                             THEN 1 ELSE 0 END AS sub_alloc
        |  FROM al CROSS JOIN rb),
        |k AS (SELECT doc_id, lang, n_chars, doc_id % 8 AS res,
        |    md5('bfill:' || CAST(doc_id AS VARCHAR)) AS fill_key
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars, res,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang, res
        |      ORDER BY fill_key, doc_id) AS BIGINT) AS cum_s,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY fill_key, doc_id) AS BIGINT) AS cum_g
        |  FROM k),
        |f AS (SELECT c.lang, n_chars, alloc_tokens,
        |    cum_g <= alloc_tokens AS kg, cum_s <= sub_alloc AS ks
        |  FROM c JOIN al ON c.lang = al.lang
        |    JOIN sub ON c.lang = sub.lang AND c.res = sub.res)
        |SELECT lang,
        |  CAST(count(*) FILTER (WHERE kg AND ks) AS BIGINT) AS kept_both,
        |  CAST(count(*) FILTER (WHERE kg AND NOT ks) AS BIGINT) AS lost_docs,
        |  CAST(coalesce(sum(n_chars) FILTER (WHERE kg AND NOT ks), 0)
        |    AS BIGINT) AS lost_tokens,
        |  CAST(count(*) FILTER (WHERE NOT kg AND ks) AS BIGINT) AS extra_docs,
        |  CAST(coalesce(sum(n_chars) FILTER (WHERE NOT kg AND ks), 0)
        |    AS BIGINT) AS extra_tokens,
        |  CAST(max(alloc_tokens) AS BIGINT) AS alloc_tokens
        |FROM f GROUP BY 1 ORDER BY lang""".stripMargin)),

    // MID-STREAM INDEX EVOLUTION — the r14 verdict's last growth item:
    // stream_pipeline probes indexes FROZEN for the replay and the
    // append lifecycle was proven separately; here every micro-batch
    // BOTH probes and grows the same on-disk shingle index — probe
    // against batches 0..k−1, seal the decision in the sink, THEN
    // append batch k (exactly-once via its own batch=<id> dir, so a
    // retried batch rewrites only itself). Ordering is the whole
    // query: the sink write materializes the probe against the
    // pre-append index — an unsealed lazy decision read later would
    // silently probe the GROWN index (its own batch included, flipping
    // smaller-id near-dups within the batch). The oracle replays the
    // prefix semantics relationally (dropped iff an earlier-RESIDUE doc
    // with a smaller id shares Jaccard ≥ 0.5), so a hash match proves
    // decision consistency while the index evolves mid-stream. Planted
    // cross-batch exact copies (+2000001 shifts the residue by one) put
    // a guaranteed drop in every sf; organic near-dups ride along.
    "stream_index_evolve" -> (((s, dir) => {
      val nRes = 4
      val p = scratch("stream_idxev", dir)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.unionByName(docs.where(pmod(col("doc_id"), lit(8L)) === 1L)
          .select((col("doc_id") + 2000001L).as("doc_id"), col("text")))
        .write.mode("overwrite").parquet(s"$p/planted")
      val idx = s"$p/shingle_idx"
      val sink = s"$p/sink"
      graft.streaming.StreamingDedup.replayForeachBatchResidue(
        s, s"$p/planted", s"$p/src", s"$p/ckpt", nRes, "doc_id",
        org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
        st.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      } { (batch0, batchId) =>
        // one materialization feeds the probe, the left side of the
        // decision join, and the index append
        val b = batch0.transform(Pin.pin)
        val decided =
          if (batchId == 0L) // nothing indexed yet: all kept
            b.select(col("doc_id").as("doc"), lit(false).as("dropped"))
          else {
            // excludeBatchFrom = batchId: foreachBatch is at-least-once,
            // and a batch that crashed AFTER its own append re-fires —
            // without the exclusion the retry would probe its own
            // appended rows and seal a diverged decision (intra-batch
            // smaller-id near-dups flipped to drops)
            val dropped = graft.streaming.StreamingDedup.shingleDropStream(
                s, b, "doc_id", "text", idx, minJ = 0.5,
                excludeBatchFrom = batchId)
              .withColumn("_d", lit(true))
            b.select(col("doc_id").as("doc"))
              .join(dropped, Seq("doc"), "left")
              .select(col("doc"),
                coalesce(col("_d"), lit(false)).as("dropped"))
          }
        // SEAL the decision before the index evolves under it
        decided.write.mode("overwrite").parquet(s"$sink/batch=$batchId")
        graft.streaming.StreamingDedup.appendShingleIndexBatch(
          b, "doc_id", "text", idx, batchId)
      }
      sortBig(s.read.option("basePath", sink).parquet(sink)
          .select(col("doc"), col("batch").cast("long").as("batch"),
            col("dropped")),
        "doc")
    },
      // prefix-batch replay of the evolving-index decisions: doc d
      // (residue/batch d % 4) is dropped iff some doc in an EARLIER
      // residue with a SMALLER id shares 3-shingle Jaccard >= 0.5 —
      // exactly what probing the growing index sees, without any notion
      // of the index (same string-shingle math as JaccardOracle)
      """WITH src AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000001, text FROM documents WHERE doc_id % 8 = 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM src)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d, b.doc_id AS e, COUNT(*) i
        |  FROM sh a JOIN sh b ON a.s = b.s
        |    AND b.doc_id % 4 < a.doc_id % 4 AND b.doc_id < a.doc_id
        |  GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT d AS doc_id FROM inter
        |  JOIN cnt ca ON inter.d = ca.doc_id
        |  JOIN cnt cb ON inter.e = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5)
        |SELECT src.doc_id AS doc, CAST(src.doc_id % 4 AS BIGINT) AS batch,
        |  src.doc_id IN (SELECT doc_id FROM drops) AS dropped
        |FROM src ORDER BY doc""".stripMargin)),

    // BLOCKLIST AT INGEST — the streaming twin of doc_host_blocklist:
    // the frozen blocklist ships as a literal array (at cluster scale, a
    // broadcast variable) and the whole decision is a stateless
    // row-local HOF pass — suffix chain, membership filter, and a
    // longest-match fold that replays max(struct(length, rule))
    // exactly. No explode, no join, no state: the form an ingest-time
    // URL filter actually runs in front of the crawl pipeline.
    "stream_host_blocklist" -> (((s, dir) => {
      val blArr = array(lit("src3.example.com"),
        lit("ads.src7.example.com"), lit("spam.example.net"))
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_host_blocklist_result") { st =>
        st.select(col("doc_id").cast("long").as("doc"),
            UrlOps.hostOf(UrlOps.canonicalUrl(concat(
              lit("https://"),
              when(col("doc_id") % 7 === 2,
                concat(lit("ads."), col("source"))).otherwise(col("source")),
              lit(".example.com/p/"),
              pmod(col("doc_id"), lit(50L)).cast("string")))).as("host"))
          .withColumn("_m", filter(UrlOps.hostSuffixes(col("host")),
            x => array_contains(blArr, x)))
          .select(col("doc"), col("host"),
            (size(col("_m")) > 0).as("blocked"),
            aggregate(col("_m"), lit(null).cast("string"), (acc, x) =>
              when(acc.isNull || length(x) > length(acc) ||
                (length(x) === length(acc) && x > acc), x)
                .otherwise(acc)).as("rule"))
      }
      sortBig(res, "doc")
    },
      // the streamed stateless decision must land on the batch blocklist
      // verdicts exactly — same oracle as doc_host_blocklist
      HostBlocklistOracle)),

    // STREAMING twin of doc_sample_topk — maintain an exact-k uniform
    // sample of an unbounded stream: per micro-batch a distributed
    // TakeOrdered picks the batch's k smallest salted md5 keys, then a
    // k-row driver-side merge keeps top-k of (state ∪ batch). Min-wise
    // hashing makes this the classic bounded-state stream sampler: the
    // merge is associative AND commutative (batch order can't matter),
    // state is O(k) regardless of stream length, and the final sample
    // ≡ the batch top-k over everything streamed — same salt, same
    // kept set, same oracle as doc_sample_topk. Replayed as 8 REAL
    // micro-batches (split source, maxFilesPerTrigger=1) so cross-batch
    // eviction actually executes.
    "stream_sample_topk" -> (((s, dir) => {
      val k = 100
      val p = scratch("stream_topk", dir)
      var state = Vector.empty[(String, Long, String)]
      graft.streaming.StreamingDedup.replayForeachBatchSplit(
        s, s"$dir/documents.parquet", s"$p/src", s"$p/ckpt", 8,
        org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
        st.select(col("doc_id"), col("lang"),
          Corpus.sampleKey(col("doc_id")).as("sample_key"))
      } { (batch, _) =>
        val top = batch.orderBy(col("sample_key"), col("doc_id")).limit(k)
          .collect()
          .map(r => (r.getString(2), r.getLong(0), r.getString(1)))
        // distinct makes the merge IDEMPOTENT as well as associative and
        // commutative: foreachBatch is at-least-once, and a re-delivered
        // batch must not let duplicate tuples occupy top-k slots
        state = (state ++ top).distinct.sortBy(t => (t._1, t._2)).take(k)
      }
      import s.implicits._
      sortSmall(state.toDF("sample_key", "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("sample_key")),
        "sample_key", "doc_id")
    },
      // the streamed running top-k must land on the batch top-k exactly
      // (min-wise merge ≡ global top-k) — same oracle as doc_sample_topk
      """SELECT doc_id, lang,
        |  md5('usample:' || CAST(doc_id AS VARCHAR)) AS sample_key
        |FROM documents ORDER BY sample_key, doc_id LIMIT 100""".stripMargin)),

    // the C4 bundle applied at INGEST: every rule is row-local string
    // work, so the whole line-then-page filter runs as a fully
    // STATELESS stream stage — no state store, no aggregate — and the
    // streamed result equals the batch result row-for-row (same oracle
    // pins stream ≡ batch ≡ replay).
    "stream_c4_rules" -> (((s, dir) => {
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_c4_result") { st =>
        TextAnalysis.c4Rules(
          st.select(col("doc_id"), c4StructuredText.as("text")),
          "doc_id", "text")
      }
      sortBig(res, "doc_id")
    },
      // the stateless streamed C4 pass must equal the batch pass
      // row-for-row — same oracle
      C4RulesOracle)),

    // Structured Streaming resample: bounded replay through the streaming
    // engine (file source → windowed agg → memory sink) ≡ batch semantics
    "stream_resample" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val name = "stream_resample_result" // stable: replay drops + reuses
      val res = graft.streaming.StreamingOps.replayResample(
        s, s"$dir/events.parquet",
        df => Observations.from(
          Observations.normalizeEventTs(df), "user_id", "ts", "value"),
        900, name)
      res.select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    },
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // stream-static enrichment join: the live event stream joined to the
    // broadcast customer dimension (the canonical streaming enrich shape
    // — dimension broadcast per micro-batch, stateless, no shuffle on
    // the stream side), then a per-(segment, day) Complete-mode windowed
    // rollup with the exact-decimal mean. Bounded replay ≡ batch
    // semantics, so the DuckDB oracle pins the streaming join path.
    "stream_enrich_join" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/events.parquet", "stream_enrich_result",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        Observations.normalizeEventTs(st)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"),
            window(col("ts"), "86400 seconds").as("_w"))
          .agg(count(lit(1)).as("n_events"),
            graft.ops.Resample.detMean(col("value")).as("mean_value"))
      }
      sortSmall(res.select(col("c_mktsegment"),
        fmtTs(col("_w").getField("start")).as("day"), col("n_events"),
        r6(col("mean_value")).as("mean_value")), "c_mktsegment", "day")
    },
      // same epoch-aligned day bucket, exact-decimal mean, portable 6-dp
      s"""SELECT c_mktsegment,
         |  strftime(time_bucket(INTERVAL '86400 seconds', ts), '%Y-%m-%d %H:%M:%S') AS day,
         |  COUNT(*) AS n_events,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // SLIDING-window streaming rollup: 2 h windows every 1 h per event
    // type — the overlapping-window shape (each event lands in TWO
    // windows via the streaming window() operator's Expand) that
    // tumbling stream_resample can't express. Complete-mode bounded
    // replay ≡ batch, so the oracle's two-shifted-bucket union pins the
    // streaming sliding-window path exactly; exact-decimal means.
    "stream_sliding_rollup" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/events.parquet", "stream_sliding_result",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        Observations.normalizeEventTs(st)
          .groupBy(col("event_type"),
            window(col("ts"), "7200 seconds", "3600 seconds").as("_w"))
          .agg(count(lit(1)).as("n_events"),
            graft.ops.Resample.detMean(col("value")).as("mean_value"))
      }
      sortBig(res.select(col("event_type"),
        fmtTs(col("_w").getField("start")).as("win_start"), col("n_events"),
        r6(col("mean_value")).as("mean_value")), "event_type", "win_start")
    },
      // sliding windows ≡ two shifted tumbling buckets per event (2 h / 1 h)
      s"""WITH x AS (
         |  SELECT event_type,
         |    unnest([time_bucket(INTERVAL '3600 seconds', ts),
         |            time_bucket(INTERVAL '3600 seconds', ts)
         |              - INTERVAL '3600 seconds']) AS ws,
         |    value
         |  FROM events)
         |SELECT event_type,
         |  strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
         |  COUNT(*) AS n_events,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING FILE SINK (checkpointed foreachBatch materialization):
    // the Complete-mode rollup lands as event_type-partitioned parquet —
    // each committed micro-batch rewrites the directory exactly-once
    // under the checkpoint, the last committed batch owns the files, and
    // the declared query AUDITS THE FILES ON DISK (read back, not the
    // in-memory result) against the batch oracle.
    "stream_sink_rollup" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      sortBig(s.read.parquet(streamSinkFor(s, dir))
        .select(col("event_type"), fmtTs(col("ws")).as("bucket_ts"),
          col("n_events"), r6(col("mean_value")).as("mean_value")),
        "event_type", "bucket_ts")
    },
      // the disk contents must equal the direct batch rollup
      s"""SELECT event_type,
         |  strftime(time_bucket(INTERVAL '10800 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  COUNT(*) AS n_events,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING foreign-LM scoring — the production shape: incoming docs
    // score against a FROZEN LM (static count frames from the trusted
    // batch subset). Row-local gram explode → two stateless
    // stream-static joins → ONE streaming aggregate per doc (streaming
    // allows a single stateful agg, so contributions round
    // PER-OCCURRENCE — the oracle declares exactly that form).
    "stream_lm_score" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val dec6 = DecimalType(38, 6)
      def grams(d: DataFrame) = d.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("_tk"))
        .select(col("doc_id"), explode(expr(
          "transform(slice(_tk, 1, greatest(size(_tk) - 1, 0))," +
            " (w, i) -> struct(w AS prev," +
            " concat(w, ' ', element_at(_tk, i + 2)) AS big," +
            " element_at(_tk, i + 2) AS cur))")).as("x"))
        .select(col("doc_id"), col("x.prev").as("prev"),
          col("x.big").as("big"), col("x.cur").as("cur"))
      val lmDocs = t(s, dir, "documents").where(col("lang") === "en")
      val lmG = grams(lmDocs)
      val known = lmG.groupBy(col("big")).agg(count(lit(1)).as("c2"))
        .join(lmG.groupBy(col("prev")).agg(count(lit(1)).as("c1")),
          expr("split(big, ' ')[0] = prev"))
        .select(col("big"),
          log(col("c1").cast("double") / col("c2")).as("known_cost"))
        .cache()
      val uF = lmDocs.select(explode(TextAnalysis.tokens(col("text"))).as("cur"))
        .groupBy(col("cur")).agg(count(lit(1)).as("u")).cache()
      val nLm = uF.agg(sum(col("u"))).collect()(0).getLong(0)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_lm_result",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        grams(st)
          .join(known, Seq("big"), "left")
          .join(uF, Seq("cur"), "left")
          .select(col("doc_id"),
            when(col("known_cost").isNotNull, col("known_cost"))
              .otherwise(log(lit(nLm + 1).cast("double") /
                (lit(0.4) * (coalesce(col("u"), lit(0L)) + 1)))).as("cost"),
            col("known_cost").isNull.cast("long").as("oov"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(round(col("cost"), 6).cast(dec6)).as("_c"),
            sum(col("oov")).as("_o"))
      }
      sortBig(res.select(col("doc_id"), col("n_bigrams"),
        r6(col("_c").cast("double") / col("n_bigrams")).as("nll"),
        r6(col("_o").cast("double") / col("n_bigrams")).as("oov_frac")),
        "doc_id")
    },
      // same frozen-LM lookups; contributions round per OCCURRENCE (the
      // single-streaming-aggregate form)
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, lang,
        |    unnest([{'prev': w[i], 'big': w[i] || ' ' || w[i+1], 'cur': w[i+1]}
        |            for i in generate_series(1, len(w) - 1)]) AS x
        |  FROM toks),
        |c2 AS (SELECT x.big AS big, COUNT(*) AS c2 FROM g
        |       WHERE lang = 'en' GROUP BY 1),
        |c1 AS (SELECT x.prev AS prev, COUNT(*) AS c1 FROM g
        |       WHERE lang = 'en' GROUP BY 1),
        |u AS (SELECT cur, COUNT(*) AS u FROM
        |        (SELECT unnest(w) AS cur FROM toks WHERE lang = 'en')
        |      GROUP BY 1),
        |n AS (SELECT SUM(u) AS n_lm FROM u),
        |occ AS (SELECT g.doc_id,
        |    CASE WHEN c2.c2 IS NOT NULL THEN ln(c1.c1::DOUBLE / c2.c2)
        |         ELSE ln((n.n_lm + 1)::DOUBLE / (0.4 * (COALESCE(u.u, 0) + 1)))
        |    END AS cost,
        |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM g LEFT JOIN c2 ON g.x.big = c2.big
        |  LEFT JOIN c1 ON g.x.prev = c1.prev
        |  LEFT JOIN u ON g.x.cur = u.cur CROSS JOIN n)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  floor(CAST(SUM(CAST(round(cost, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |    / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS nll,
        |  floor(CAST(SUM(oov) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5)
        |    / 1000000.0 AS oov_frac
        |FROM occ GROUP BY 1 ORDER BY 1""".stripMargin)),

    // stream-stream interval join: signups and purchases replay as TWO
    // independent streams through the symmetric-hash-join operator with
    // per-side watermark state, matched on user within a 7-day
    // event-time range — the canonical attribution join shape. The
    // time-range predicate is what lets the streaming engine BOUND the
    // join state (rows age out once the watermark passes s_ts + 7d);
    // without it a stream-stream join holds both sides forever. Output
    // is the order-invariant matched-pair set, so the bounded replay
    // hash-matches the batch self-join oracle.
    "stream_stream_join" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val res = graft.streaming.StreamingOps.replayTwoStreams(
        s, s"$dir/events.parquet", "stream_ss_join_result") { (e1, e2) =>
        val su = Observations.normalizeEventTs(e1)
          .where(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"),
            col("user_id").as("s_user"), col("ts").as("s_ts"))
          .withWatermark("s_ts", "1 hour")
        val pu = Observations.normalizeEventTs(e2)
          .where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        su.join(pu, expr(
          "s_user = p_user AND p_ts >= s_ts AND " +
            "p_ts <= s_ts + interval 7 days"))
      }
      sortBig(res.select(col("signup_id"), col("purchase_id"),
        (EventOps.epochS(col("p_ts")) - EventOps.epochS(col("s_ts")))
          .as("gap_s")), "signup_id", "purchase_id")
    },
      // batch self-join twin of the streaming interval join: same 7-day
      // event-time range, same floor-epoch gap
      """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) -
        |    CAST(floor(epoch(s.ts)) AS BIGINT) AS gap_s
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        |  AND s.event_type = 'signup' AND p.event_type = 'purchase'
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |ORDER BY 1, 2""".stripMargin)),

    // streaming exact dedup via dropDuplicatesWithinWatermark — the
    // engine's bounded-state dedup (per-key state is EVICTED once the
    // watermark passes its event time, so state never grows beyond the
    // lateness horizon — the streaming twin of batch DISTINCT that
    // survives an unbounded feed). Output is the order-invariant
    // distinct key set, so the bounded replay hash-matches a batch
    // DISTINCT oracle whatever the arrival order.
    "stream_dedup_watermark" -> (((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/events.parquet", "stream_dedup_wm_result") { st =>
        Observations.normalizeEventTs(st)
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), col("event_type"), col("ts"))
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
      }
      sortBig(res, "user_id", "event_type")
    },
      // the watermark-bounded streaming dedup emits exactly the distinct
      // key set of the bounded replay
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY 1, 2""".stripMargin)),

    // streaming near-dup dedup against a persisted MinHash band index:
    // the corpus (doc_id % 5 != 0) is indexed once in batch; the rest of
    // the documents REPLAY as a stream probing it — band row-locally
    // (stateless), equi-join the static band table, verify exact Jaccard.
    // The oracle computes the same new-vs-corpus exact-Jaccard pairs
    // directly, so the driver gate pins streaming ≡ batch semantics.
    "stream_minhash_dedup" -> (((s, dir) => {
      val idx = minhashIndexFor(s, dir)
      // minJ = 0.9 keeps the hash-equal gate off the banding-recall
      // cliff: 16 bands × 4 rows misses a true pair with probability
      // (1 − J⁴)¹⁶ — ≈ 36% at J = 0.5 (a data-dependent flake if the
      // fixture ever gained near-threshold pairs) but < 4e-8 at J ≥ 0.9.
      // The fixture's cross-split pairs all sit at J ≥ 0.90.
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_minhash_dedup_result") { st =>
        graft.streaming.StreamingDedup.minhashDupStream(
          s, st.where(col("doc_id") % 5 === 0), "doc_id", "text", idx, 0.9)
      }
      sortSmall(res.select(col("doc_new"), col("doc_corpus"),
        round(col("jaccard"), 6).as("jaccard")), "doc_new", "doc_corpus")
    },
      // same shingle/Jaccard math as JaccardOracle, restricted to pairs
      // crossing the stream/corpus split (new = doc_id % 5 == 0)
      s"""WITH $ShingleCtes,
        |inter AS (SELECT a.doc_id AS doc_new, b.doc_id AS doc_corpus, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s
        |          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 GROUP BY 1, 2)
        |SELECT doc_new, doc_corpus,
        |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |FROM inter JOIN cnt ca ON doc_new = ca.doc_id
        |           JOIN cnt cb ON doc_corpus = cb.doc_id
        |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.9
        |ORDER BY doc_new, doc_corpus""".stripMargin)),

    // streaming SimHash near-dup probe against a persisted combination-
    // band index — the second streaming dedup family, and unlike MinHash
    // it is oracle-pinned EXACTLY: the Manku pigeonhole guarantees every
    // hamming<=3 pair collides on some band (no banding-recall margin),
    // and the fingerprint is the PORTABLE md5-derived simhash, so DuckDB
    // recomputes the identical 60-bit values from the raw text and the
    // hash-equal gate pins streaming ≡ batch ≡ oracle.
    "stream_simhash_dedup" -> (((s, dir) => {
      val idx = simhashIndexFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_simhash_dedup_result") { st =>
        graft.streaming.StreamingDedup.simhashDupStream(
          s, st.where(col("doc_id") % 5 === 0), "doc_id", "text", idx)
      }
      sortSmall(res.select(col("doc_new"), col("doc_corpus"),
        col("hamming").cast("long").as("hamming")), "doc_new", "doc_corpus")
    },
      // independent recomputation of the portable md5-derived 60-bit
      // simhash (same construction as Dedup.portableSimhash64: token hash
      // = first 15 md5 hex chars, per-bit ±1 sums, bit = sum >= 0, packed
      // MSB-first) + exact hamming over the stream/corpus split
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |$SimhashCtes
        |SELECT n.doc_id AS doc_new, c.doc_id AS doc_corpus,
        |       bit_count(xor(n.simhash, c.simhash))::BIGINT AS hamming
        |FROM sim n JOIN sim c ON n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        |WHERE bit_count(xor(n.simhash, c.simhash)) <= 3
        |ORDER BY doc_new, doc_corpus""".stripMargin)),

    // streaming CURATION-ON-INGEST — the end-to-end decision a live
    // training-data pipeline makes per arriving document, composed from
    // already-gated pieces: the stateless row-local curation signals
    // (TextAnalysis.withCurationSignals — same formulas and rounding as
    // the batch quality/langid gates) filter INSIDE the stream, pruning
    // the expensive band join to filter-passing docs (the production
    // order), then the survivors probe the SAME persisted portable-
    // simhash index stream_simhash_dedup uses. A new doc is KEPT iff it
    // passes quality (n_tokens >= 15, stopword_ratio >= 0.01,
    // distinct_ratio >= 0.3), has a determinable language, and has no
    // corpus near-dup within hamming <= 3. Every stage is exact and
    // engine-portable (pigeonhole banding + exact Hamming verify, no
    // recall margin), so the DuckDB oracle recomputes the identical
    // kept set — the fourth hash-matched streaming family becomes a
    // composite, not just a probe.
    "stream_curate" -> (((s, dir) => {
      val idx = simhashIndexFor(s, dir)
      def passes(df: DataFrame): DataFrame =
        TextAnalysis.withCurationSignals(df, "text")
          .where(col("n_tokens") >= 15 && col("stopword_ratio") >= 0.01 &&
            col("distinct_ratio") >= 0.3 && col("pred_lang") =!= "und")
      val pairs = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_curate_pairs") { st =>
        graft.streaming.StreamingDedup.simhashDupStream(
          s, passes(st.where(col("doc_id") % 5 === 0)), "doc_id", "text",
          idx)
      }
      // keep decision: filter-passing new docs minus near-dup hits. The
      // filters are deterministic row-local projections, so recomputing
      // them over the same rows batch-side is the same predicate; the
      // pair set comes from the stream (which only probed passing docs —
      // restricting the probe cannot change the kept set, since dropped
      // docs are already out).
      val kept = passes(t(s, dir, "documents").where(col("doc_id") % 5 === 0))
        .join(pairs.select(col("doc_new")),
          col("doc_id") === col("doc_new"), "left_anti")
      sortSmall(kept.select(col("doc_id"), col("pred_lang"),
        col("n_tokens")), "doc_id")
    },
      // streaming curation decision: quality + langid (same rounded
      // expressions as the batch gates) over the new split, minus docs
      // with a portable-simhash corpus near-dup (exact: pigeonhole
      // banding + Hamming verify has no recall margin)
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |$SimhashCtes,
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |       WHERE doc_id % 5 = 0),
        |qual AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk
        |  WHERE CAST(len(toks) AS BIGINT) >= 15
        |    AND round(CAST(len([x for x in toks if list_contains(['the','a','of','and','to','in','is','it','for','on','with','as','at','by','an','be','this','that'], x)]) AS DOUBLE) / len(toks), 6) >= 0.01
        |    AND round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) >= 0.3),
        |lt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |       WHERE doc_id % 5 = 0),
        |lh AS (SELECT doc_id,
        |  CAST(len([x for x in toks if list_contains(['the','and','of','to','is','in','that','it'], x)]) AS BIGINT) AS hits_en,
        |  CAST(len([x for x in toks if list_contains(['der','die','das','und','ist','nicht','ein','zu'], x)]) AS BIGINT) AS hits_de,
        |  CAST(len([x for x in toks if list_contains(['el','la','de','que','y','en','un','es'], x)]) AS BIGINT) AS hits_es,
        |  CAST(len([x for x in toks if list_contains(['le','la','et','les','des','est','un','dans'], x)]) AS BIGINT) AS hits_fr
        |  FROM lt),
        |lid AS (SELECT doc_id,
        |  CASE WHEN hits_en > 0 AND hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |       WHEN hits_de > 0 AND hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |       WHEN hits_es > 0 AND hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
        |       WHEN hits_fr > 0 AND hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es THEN 'fr'
        |       ELSE 'und' END AS pred_lang
        |  FROM lh)
        |SELECT q.doc_id, l.pred_lang, q.n_tokens
        |FROM qual q JOIN lid l ON q.doc_id = l.doc_id
        |WHERE l.pred_lang <> 'und'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM sim a, sim c
        |    WHERE a.doc_id = q.doc_id AND c.doc_id % 5 <> 0
        |      AND bit_count(xor(a.simhash, c.simhash)) <= 3)
        |ORDER BY q.doc_id""".stripMargin)),

    // streaming CHUNK-dedup on ingest — the boilerplate filter a live
    // pipeline applies per arriving document: row-local 16-token
    // chunking INSIDE the stream (stateless — Dedup.chunkRows), a
    // stream-static join against the persisted distinct-chunk-hash
    // index of the corpus split, and batch-side kept/dropped accounting
    // for the new split. No candidate-verify stage and no streaming
    // state at all: the index keys are distinct, so join multiplicity
    // is 1 and the chunk hash IS the decision. The oracle recomputes
    // chunk membership over the chunk STRINGS (EXISTS against the
    // corpus split), pinning the hashed engine path exactly — fifth
    // oracle-pinned streaming family.
    "stream_chunk_dedup" -> (((s, dir) => {
      val idx = chunkIndexFor(s, dir)
      val hits = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_chunk_hits") { st =>
        graft.streaming.StreamingDedup.chunkHitStream(
          s, st.where(col("doc_id") % 5 === 0), "doc_id", "text", idx,
          chunkTokens = 16)
      }
      val tot = Dedup.chunkRows(
          t(s, dir, "documents").where(col("doc_id") % 5 === 0),
          "doc_id", "text", 16)
        .groupBy(col("doc"))
        .agg(count(lit(1)).cast("long").as("n_chunks"))
      val dup = hits.groupBy(col("doc_new").as("doc"))
        .agg(count(lit(1)).cast("long").as("dup_chunks"))
      sortSmall(tot.join(dup, Seq("doc"), "left")
        .select(col("doc"), col("n_chunks"),
          coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
          (col("n_chunks") - coalesce(col("dup_chunks"), lit(0L)))
            .as("kept_chunks")), "doc")
    },
      // chunk membership recomputed over chunk STRINGS: per new-split doc,
      // how many of its 16-token chunks the corpus split already contains
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS chunk_text
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(0,
        |        CAST((len(w) + 15) // 16 AS BIGINT) - 1)) AS i FROM t)),
        |corp AS (SELECT DISTINCT chunk_text FROM c WHERE doc_id % 5 <> 0),
        |nw AS (SELECT doc_id, chunk_idx, chunk_text FROM c WHERE doc_id % 5 = 0)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM corp
        |      WHERE corp.chunk_text = nw.chunk_text) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS dup_chunks,
        |  CAST(COUNT(*) - SUM(CASE WHEN EXISTS (SELECT 1 FROM corp
        |      WHERE corp.chunk_text = nw.chunk_text) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS kept_chunks
        |FROM nw GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // streaming hot-term monitor: the count-min cells are THE streaming
    // frequency state — a stateful (row, cell) sum in Complete mode,
    // bounded at d·w rows no matter how long the stream runs (the whole
    // point of sketched frequency state: exact per-term state grows with
    // the vocab, the sketch never does). The replayed slice's cells are
    // then point-queried batch-side for the top terms; cells and
    // estimates are md5-portable, so the DuckDB oracle pins
    // streaming ≡ batch ≡ oracle with zero approximation slack beyond
    // the sketch's own deterministic collisions.
    "stream_cms_topk" -> (((s, dir) => {
      val cells = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_cms_cells",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        val tf = st.where(col("doc_id") % 5 === 0)
          .select(explode(split(col("text"), " ")).as("term"),
            lit(1L).as("cnt"))
        Sketches.cmsBuild(tf, "term", "cnt", d = 4, w = 1024)
      }
      val tf = t(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val top = Sketches.cmsEstimate(tf.select(col("term")), "term",
          cells, d = 4, w = 1024)
        .join(tf, "term")
        .orderBy(col("est").desc, col("term")).limit(20)
      top.withColumn("rank", row_number()
          .over(Window.orderBy(col("est").desc, col("term"))).cast("long"))
        .select(col("rank"), col("term"), col("est"), col("cnt").as("exact"))
        
    },
      // the streamed cells equal the batch cells (stateful sum ≡ batch
      // sum), so the oracle is the batch CMS oracle on the replayed slice
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE doc_id % 5 = 0),
        |$CmsTopkCtes""".stripMargin)),

    // per-key running stats through explicit mapGroupsWithState state —
    // the custom-streaming-state extension point, driver-gated: the
    // scaled-long exact state makes the emitted mean order-invariant and
    // bit-equal to the batch detMean, so a bounded Update-mode replay
    // hash-matches the plain batch aggregate oracle.
    "stream_running_stats" -> (((s, dir) => {
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/events.parquet", "stream_running_stats_result",
        org.apache.spark.sql.streaming.OutputMode.Update()) { st =>
        graft.streaming.StreamingOps.runningStats(
          Observations.from(Observations.normalizeEventTs(st),
            "user_id", "ts", "value"))
      }
      sortSmall(res.select(col("series_key"), col("n"),
        round(col("mean"), 6).as("mean")), "series_key")
    },
      // the stateful running mean reproduces the batch detMean op sequence
      // exactly (scaled-long exact sum -> decimal -> double -> / count)
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(COUNT(value) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)
        |    / COUNT(value), 6) AS mean
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // streaming Bloom ingest filter: the corpus (doc_id % 5 != 0)
    // compresses ONCE into the persisted portable filter; the probe set
    // (doc_id % 5 == 0 plus planted verbatim corpus copies under +100000
    // ids — same split as doc_bloom_dedup) REPLAYS as a stream flagging
    // each row against the packed bits ROW-LOCALLY: no join, no state
    // store, no shuffle — the cheapest ingest filter in the streaming
    // family. md5-portable bits mean the DuckDB oracle rebuilds the
    // identical filter, pinning streaming ≡ batch ≡ oracle exactly.
    "stream_bloom_filter" -> (((s, dir) => {
      val idx = bloomIndexFor(s, dir)
      val rp = bloomReplayFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, rp, "stream_bloom_result") { st =>
        graft.streaming.StreamingDedup.bloomFilterStream(
          s, st, "doc_id", "text", idx, m = 65536, k = 5)
      }
      sortSmall(res.select(col("doc"), col("maybe_dup")), "doc")
    },
      // the streaming twin probes the same portable filter over the same
      // probe/plant split, so the oracle is the batch oracle's flags CTE
      s"""$BloomProbeCtes
        |SELECT doc_id AS doc,
        |  CAST(CASE WHEN bool_and(c.bit IS NOT NULL) THEN 1 ELSE 0 END AS BIGINT)
        |    AS maybe_dup
        |FROM pbits p LEFT JOIN cbits c USING (bit)
        |GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // STREAMING substring dedup: incoming docs probe a persisted
    // DISTINCT window-hash index of the corpus — the ingest-time twin of
    // doc_substring_dedup for ARBITRARY-OFFSET verbatim leaks, which the
    // chunk index (fixed boundaries) structurally misses. Planted
    // shifted-prefix copies of corpus docs guarantee hits whose windows
    // sit at offsets no chunk grid aligns with. Stateless stream-static
    // join; per-doc accounting aggregated batch-side after the bounded
    // replay; oracle replays index + probe with the same md5 windows.
    "stream_substring_dedup" -> (((s, dir) => {
      val idx = windowIndexFor(s, dir)
      val rp = substringReplayFor(s, dir)
      val hits = graft.streaming.StreamingDedup.replayDocs(
        s, rp, "stream_substr_hits") { st =>
        graft.streaming.StreamingDedup.windowHitStream(
          s, st, "doc_id", "text", idx, k = 8)
      }
      val tot = Dedup.windowHashes(s.read.parquet(rp), "doc_id", "text", 8)
        .groupBy(col("doc"))
        .agg(count(lit(1)).cast("long").as("n_windows"))
      val dup = hits.groupBy(col("doc_new").as("doc"))
        .agg(count(lit(1)).cast("long").as("dup_windows"))
      sortBig(tot.join(dup, Seq("doc"), "left")
        .select(col("doc"), col("n_windows"),
          coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
          (col("n_windows") - coalesce(col("dup_windows"), lit(0L)))
            .as("clean_windows")), "doc")
    },
      // identical corpus window-hash index (distinct md5 8-token windows
      // of the %5<>0 slice), identical probe slice + planted
      // shifted-prefix leaks, LEFT JOIN membership accounting
      """WITH cw AS (SELECT DISTINCT md5(u.s) AS whash FROM (
        |    SELECT unnest([{'s': array_to_string(toks[i:i+7], ' ')}
        |      for i in generate_series(1, len(toks) - 7)]) AS u
        |    FROM (SELECT regexp_extract_all(text, '\S+') AS toks
        |          FROM documents WHERE doc_id % 5 <> 0) t0
        |    WHERE len(toks) >= 8) x),
        |p AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |      UNION ALL
        |      SELECT doc_id + 100000,
        |        'planted leak prefix alpha beta ' || text
        |      FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 = 3),
        |pt AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |       FROM p),
        |pw AS (SELECT doc_id, md5(u.s) AS whash FROM (
        |    SELECT doc_id, unnest([{'s': array_to_string(toks[i:i+7], ' ')}
        |      for i in generate_series(1, len(toks) - 7)]) AS u
        |    FROM pt WHERE len(toks) >= 8) y)
        |SELECT pw.doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN cw.whash IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS dup_windows,
        |  CAST(COUNT(*) - SUM(CASE WHEN cw.whash IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS clean_windows
        |FROM pw LEFT JOIN cw ON pw.whash = cw.whash
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // streaming ANN serving against the persisted IVF index: queries
    // REPLAY as a stream probing the batch-built index (update-style
    // micro-batch top-k via StreamingAnn.ivfProbeStream). Probed
    // EXHAUSTIVELY (nProbe = nLists) so the streamed result is the exact
    // cosine top-k and the hash-equal gate pins streaming ≡ batch ≡
    // oracle with no recall margin — the partial-probing scan-fraction
    // story is pinned separately (ExtSpec parity + ScaleSmoke ann1m at
    // 3.1% scan). Third oracle-pinned streaming family after
    // resample/dedup.
    "stream_ivf_topk" -> (((s, dir) => {
      val idx = streamIvfIndexFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/embeddings.parquet", "stream_ivf_topk_result",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        graft.streaming.StreamingAnn.ivfProbeStream(
          s, st.where(col("vec_id") >= 8 && col("vec_id") < 16),
          "vec_id", "embedding", idx, k = 3, nProbe = 16)
      }
      sortSmall(res.select(col("query_id"), col("rank").cast("long").as("rank"),
        col("candidate_id"), col("cosine")), "query_id", "rank")
    },
      // exhaustive probing (nProbe = nLists) makes the streamed IVF probe
      // the exact cosine top-k, so the oracle is brute force over the same
      // query slice — identical score formula and (cosine desc, candidate)
      // tie order as the engine's probe
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |$CosinePairSelect
        |  FROM e q JOIN e c ON q.vec_id >= 8 AND q.vec_id < 16 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // streaming SemDeDup probe — semantic dedup at INGEST: arriving
    // vectors are cluster-assigned ROW-LOCALLY against the frozen
    // k-means model (the native serving argmin; the oracle replays the
    // identical left-to-right double fold as a list comprehension — the
    // cosine-topk precedent — so the decision is bit-stable with no
    // state store), stream-static-joined to that ONE cluster's corpus
    // members, flagged on cosine ≥ 0.95. BOTH sides assign through the
    // same serving fold, so an exact copy provably lands in its
    // original's cluster. Replay = planted exact copies (vec_id%10==0,
    // +100000 → must flag their original) ∪ negated vectors
    // (vec_id%10==5, +200000, −v → must stay clean). Fourth member of
    // the in-engine-model streaming family (quality_lr / lm_score /
    // ivf_topk / semdedup).
    "stream_semdedup" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = semModelFor(s, dir)
      val members = Kmeans.assignServing(emb, "vec_id", "embedding", m)
        .join(emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("mv")), "vec_id")
        .select(col("cluster"), col("vec_id").as("member_id"), col("mv"))
      val rp = semReplayFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, rp, "stream_semdedup_result",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        Kmeans.semProbeStream(st, "vec_id", "embedding", m, members,
          minCosine = 0.95)
      }
      sortBig(res.select(col("query_id"), col("n_dups"), col("first_dup")),
        "query_id")
    },
      // same corpus training replay; stream queries re-derived from e
      // (copies + negations); BOTH query and member assignments replay the
      // serving path's left-to-right double fold as list comprehensions
      // (the cosine-topk fold precedent), then the same portable round +
      // (dist2, cl) argmin; hits joined within the one cluster
      (Kmeans.oracleCtes(8, 3,
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings") +
      """,
        |c3l AS MATERIALIZED (
        |  SELECT cl, list(cv ORDER BY dim) AS cvec FROM c3 GROUP BY cl),
        |q AS MATERIALIZED (
        |  SELECT vec_id + 100000 AS query_id, v FROM e WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, [-x for x in v] FROM e WHERE vec_id % 10 = 5),
        |dq AS MATERIALIZED (
        |  SELECT q.query_id, c.cl,
        |    floor(list_sum([(q.v[i] - c.cvec[i]) * (q.v[i] - c.cvec[i])
        |            for i in generate_series(1, len(q.v))])
        |      * 1000000.0 + 0.5) / 1000000.0 AS dist2
        |  FROM q, c3l c),
        |aq AS MATERIALIZED (
        |  SELECT query_id, cl FROM (
        |    SELECT query_id, cl, row_number() OVER (
        |      PARTITION BY query_id ORDER BY dist2, cl) AS rn FROM dq)
        |  WHERE rn = 1),
        |dm AS MATERIALIZED (
        |  SELECT e.vec_id, c.cl,
        |    floor(list_sum([(e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])
        |            for i in generate_series(1, len(e.v))])
        |      * 1000000.0 + 0.5) / 1000000.0 AS dist2
        |  FROM e, c3l c),
        |am AS MATERIALIZED (
        |  SELECT vec_id, cl FROM (
        |    SELECT vec_id, cl, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist2, cl) AS rn FROM dm)
        |  WHERE rn = 1),
        |hits AS MATERIALIZED (
        |  SELECT aq.query_id, am.vec_id AS member_id
        |  FROM aq JOIN am ON aq.cl = am.cl
        |  JOIN e ON e.vec_id = am.vec_id
        |  JOIN q ON q.query_id = aq.query_id
        |  WHERE floor(
        |      list_sum([q.v[i] * e.v[i]
        |                for i in generate_series(1, len(q.v))])
        |      / (sqrt(list_sum([q.v[i] * q.v[i]
        |                for i in generate_series(1, len(q.v))]))
        |       * sqrt(list_sum([e.v[i] * e.v[i]
        |                for i in generate_series(1, len(e.v))])))
        |      * 1000000.0 + 0.5) / 1000000.0 >= 0.95)
        |SELECT q.query_id, COALESCE(h.n, 0) AS n_dups, h.fd AS first_dup
        |FROM q LEFT JOIN (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(member_id) AS fd FROM hits GROUP BY 1) h USING (query_id)
        |ORDER BY q.query_id""".stripMargin))),

    // streaming gap sessionization over a bounded replay: per-key
    // sentinel events (10 gaps past each key's last event) close every
    // real session through the ARRIVAL path, so append-mode
    // flatMapGroupsWithState emits exactly the true sessions and the
    // DuckDB gap-sessionization oracle pins streaming ≡ batch. Gap math
    // runs on SECOND-truncated timestamps and ties order by
    // (epoch-millis, value) — mirrored exactly in the oracle.
    "stream_sessions" -> (((s, dir) => {
      val path = sessionReplayFor(s, dir)
      implicit val sp: SparkSession = s
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, path, "stream_sessions_result") { st =>
        graft.streaming.StreamingOps.sessionizeStream(st, 900)
      }
      sortBig(res.select(col("series_key"), col("start_s"), col("end_s"),
        col("n_events")), "series_key", "start_s")
    },
      // streaming sessionization: gap math on SECOND-truncated epochs,
      // ties ordered by (epoch-millis, value) — the exact semantics of
      // StreamingOps.sessionizeStream; sentinel rows exist only in the
      // replay table and are never emitted (their sessions stay open)
      """WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, epoch_ms(ts) AS ms,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s, value AS v
        |  FROM events WHERE user_id < 40),
        |o AS (
        |  SELECT k, ms, s, v,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 900
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY k ORDER BY ms, v)),
        |g AS (SELECT k, s,
        |        CAST(SUM(is_start) OVER (PARTITION BY k ORDER BY ms, v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |      FROM o)
        |SELECT k AS series_key, MIN(s) AS start_s, MAX(s) AS end_s,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY k, sid ORDER BY series_key, start_s""".stripMargin)))
}
