package graft

import graft.core.Observations
import graft.ops.Resample
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Streaming ≡ batch semantics on bounded replays. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming resample over a bounded replay equals the batch resample") {
    val toObs = (df: org.apache.spark.sql.DataFrame) =>
      Observations.from(
        Observations.normalizeEventTs(df), "user_id", "ts", "value")
    val streamed = StreamingOps.replayResample(spark, sf("events"), toObs,
        900, "streaming_spec_tbl")
      .select(col("series_key"), col("ts"), round(col("value"), 6).as("v"))
    val batch = Resample.transformFixed(
        toObs(spark.read.parquet(sf("events"))), 900, grid = false)
      .select(col("series_key"), col("ts"), round(col("value"), 6).as("v"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming sliding-window rollup over a bounded replay equals the batch agg") {
    val slide = (df: org.apache.spark.sql.DataFrame) =>
      Observations.normalizeEventTs(df)
        .groupBy(col("event_type"),
          window(col("ts"), "7200 seconds", "3600 seconds").as("_w"))
        .agg(count(lit(1)).as("n"),
          graft.ops.Resample.detMean(col("value")).as("m"))
        .select(col("event_type"), col("_w").getField("start").as("ws"),
          col("n"), round(col("m"), 6).as("m"))
    val streamed = graft.streaming.StreamingDedup.replayDocs(
      spark, sf("events"), "sliding_spec_tbl",
      org.apache.spark.sql.streaming.OutputMode.Complete())(slide)
      .select("event_type", "ws", "n", "m")
    val batch = slide(spark.read.parquet(sf("events")))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap, keeps open ones in state") {
    implicit val s = spark
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(key: String, offS: Long, v: Double) =
      (key, new java.sql.Timestamp(t0 + offS * 1000), v)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, Double)](spark, 1)
    val df = input.toDF().toDF("series_key", "ts", "value")
    val q = StreamingOps.sessionizeStream(df, gapSeconds = 60)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessionize_tbl").start()
    // batch 1: two events close together, then a far event -> first session closes
    input.addData(ev("a", 0, 1.0), ev("a", 30, 2.0), ev("a", 500, 3.0))
    q.processAllAvailable()
    val closed1 = spark.table("sessionize_tbl")
      .select("series_key", "start_s", "end_s", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(closed1 == Set(("a", t0 / 1000, t0 / 1000 + 30, 2L)))
    // batch 2: event near the open session extends it; a far one closes it
    input.addData(ev("a", 530, 4.0), ev("a", 2000, 5.0))
    q.processAllAvailable()
    q.stop()
    val closedAll = spark.table("sessionize_tbl")
      .select("series_key", "start_s", "end_s", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(closedAll.contains(("a", t0 / 1000 + 500, t0 / 1000 + 530, 2L)),
      s"open session should have been extended across batches then closed: $closedAll")
  }

  test("append-mode resample emits a window only after the watermark closes it") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(offS: Long, v: Double) =
      ("a", new java.sql.Timestamp(t0 + offS * 1000), v)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, Double)](spark, 1)
    val df = input.toDF().toDF("series_key", "ts", "value")
    val q = StreamingOps.resampleStream(df, 900, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("resample_append_tbl").start()
    // two events in the first 15-min window, one far ahead
    input.addData(ev(60, 1.0), ev(120, 3.0), ev(3000, 9.0))
    q.processAllAvailable()
    // watermark (previous batch max) hasn't closed anything yet in batch 1;
    // a later batch advances it past the first window's end
    input.addData(ev(4000, 5.0))
    q.processAllAvailable()
    input.addData(ev(5000, 7.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("resample_append_tbl")
      .select(col("ts").cast("long"), round(col("value"), 6))
      .as[(Long, Double)].collect().toMap
    // first window [00:00, 00:15) finalized with the deterministic mean;
    // the still-open last window must NOT be in append output
    assert(got.contains(t0 / 1000) && got(t0 / 1000) == 2.0, got.toString)
    assert(!got.contains(t0 / 1000 + 4500), "open window must not be emitted")
  }

  test("idle session flushes via event-time timeout once the watermark passes") {
    implicit val s = spark
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(key: String, offS: Long, v: Double) =
      (key, new java.sql.Timestamp(t0 + offS * 1000), v)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, Double)](spark, 1)
    val df = input.toDF().toDF("series_key", "ts", "value")
    val q = StreamingOps.sessionizeStream(df, gapSeconds = 60,
        watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessionize_timeout_tbl").start()
    // the session for "a" ends at t0+30 and no event for "a" ever follows
    input.addData(ev("a", 0, 1.0), ev("a", 30, 2.0))
    q.processAllAvailable()
    assert(spark.table("sessionize_timeout_tbl").isEmpty) // still open
    // advance event time via another key; the watermark (computed from the
    // previous batch's max event time) passes t0+30+60 on the next batch
    input.addData(ev("b", 5000, 1.0))
    q.processAllAvailable()
    input.addData(ev("b", 5010, 1.0))
    q.processAllAvailable()
    q.stop()
    val flushed = spark.table("sessionize_timeout_tbl")
      .select("series_key", "start_s", "end_s", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(flushed.contains(("a", t0 / 1000, t0 / 1000 + 30, 2L)),
      s"idle session must flush via timeout, got: $flushed")
  }

  test("streaming minhash probe equals batch near-dup pairs on a planted set") {
    import graft.ext.Dedup
    import graft.streaming.StreamingDedup
    def text(i: Int) = (1 to 20).map(w => s"w${i}_$w").mkString(" ")
    val corpus = (1 to 20).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    // 101 ~ corpus doc 1 (one word changed), 102 == corpus doc 2 exactly,
    // 103 unique, 104 ~ 103 (new-vs-new: must NOT be emitted)
    val newDocs = Seq(
      (101L, text(1).replace("w1_20", "changed")),
      (102L, text(2)),
      (103L, text(103)),
      (104L, text(103).replace("w103_20", "changed")))
    val idx = "/tmp/graft_test_minhash_idx"
    StreamingDedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String)](spark, 1)
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamingDedup.minhashDupStream(spark, df, "doc_id", "text", idx, 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("minhash_stream_tbl").start()
    input.addData(newDocs.take(2): _*)
    q.processAllAvailable()
    input.addData(newDocs.drop(2): _*)
    input.addData(newDocs.head) // re-sent in a later batch: emitted once
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("minhash_stream_tbl")
      .select("doc_new", "doc_corpus", "jaccard")
      .as[(Long, Long, Double)].collect().toList
    assert(streamed.size == streamed.toSet.size, "duplicate pair emitted")
    // batch reference: exact-Jaccard pairs over the union, restricted to
    // new-vs-corpus (the probe's contract)
    val union = corpus.union(newDocs.toDF("doc_id", "text"))
    val batch = Dedup.jaccardPairs(
        Dedup.hashedShingles(union, "doc_id", "text"), 0.5)
      .where(col("doc_a") <= 20 && col("doc_b") >= 100)
      .select(col("doc_b"), col("doc_a"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed.toSet == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.map(_._1).toSet == Set(101L, 102L))
  }

  test("portable simhash: pinned cross-engine values, streaming probe exact") {
    import graft.ext.Dedup
    import graft.streaming.StreamingDedup
    // values recomputed independently from the construction's definition
    // (python hashlib md5 and DuckDB agree on both)
    val pinned = Seq((1L, "hello world"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val got = Dedup.portableSimhash64(pinned, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 565086321623167679L, s"got ${got(1L)}")
    assert(got(2L) == 71287727808099948L, s"got ${got(2L)}")
    // streaming probe over a portable index == brute-force hamming over
    // the portable fingerprints (the exact contract the DuckDB oracle of
    // stream_simhash_dedup recomputes from raw text)
    def text(i: Int) = (1 to 20).map(w => s"w${i}_$w").mkString(" ")
    val corpus = (1 to 20).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val newDocs = Seq((201L, text(5)), (202L, text(202)))
    val idx = "/tmp/graft_test_simhash_portable_idx"
    StreamingDedup.buildSimhashIndex(corpus, "doc_id", "text", idx)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String)](spark, 1)
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamingDedup.simhashDupStream(spark, df, "doc_id", "text", idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("simhash_portable_stream_tbl").start()
    input.addData(newDocs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("simhash_portable_stream_tbl")
      .select("doc_new", "doc_corpus", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val union = corpus.union(newDocs.toDF("doc_id", "text"))
    val sims = Dedup.portableSimhash64(union, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      (n, _) <- newDocs
      c <- 1L to 20L
      d = java.lang.Long.bitCount(sims(n) ^ sims(c))
      if d <= 3
    } yield (n, c, d)).toSet
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
    assert(streamed.contains((201L, 5L, 0)))
  }

  test("streaming IVF probe equals the batch index probe") {
    import graft.ext.Similarity
    import graft.streaming.StreamingAnn
    val emb = spark.read.parquet(sf("embeddings"))
    val idx = "/tmp/graft_test_stream_ivf_idx"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
      nLists = 8, iters = 2)
    val queries = emb.where(col("vec_id") < 6)
    val batch = Similarity.ivfProbeIndex(spark, idx, queries,
        "vec_id", "embedding", k = 5, nProbe = 3)
      .select("query_id", "rank", "candidate_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val qRows = queries.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Seq[Double])](spark, 1)
    val df = input.toDF().toDF("vec_id", "embedding")
    val q = StreamingAnn.ivfProbeStream(spark, df, "vec_id", "embedding",
        idx, k = 5, nProbe = 3)
      .writeStream.outputMode("update")
      .format("memory").queryName("ivf_stream_tbl").start()
    input.addData(qRows.take(3): _*)
    q.processAllAvailable()
    input.addData(qRows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ivf_stream_tbl")
      .select("query_id", "rank", "candidate_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"streamed-only=${streamed -- batch} batch-only=${batch -- streamed}")
  }

  test("mapGroupsWithState running stats accumulate per series") {
    implicit val s = spark
    val events = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 3.0),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 10.0))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, Double)](spark, 1)
    input.addData(events: _*)
    val df = input.toDF().toDF("series_key", "ts", "value")
    val q = StreamingOps.runningStats(df).writeStream
      .outputMode("update").format("memory").queryName("running_stats_tbl").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("running_stats_tbl")
      .select("series_key", "n", "mean").as[(String, Long, Double)]
      .collect().toSet
    assert(got == Set(("a", 2L, 2.0), ("b", 1L, 10.0)))
  }

  test("stream_curate keep decision equals the batch composition") {
    import graft.ext.{Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("stream_curate")(spark, dir)
    // independent batch recomputation: same filters, near-dup = ANY
    // corpus doc within portable-simhash hamming <= 3 (exhaustive scan —
    // no banding involved, so this also re-proves the pigeonhole's
    // completeness on this fixture)
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
    val sim = Dedup.portableSimhash64(docsAll, "doc_id", "text").cache()
    val newSim = sim.where(col("doc") % 5 === 0)
      .select(col("doc").as("a"), col("simhash").as("sa"))
    val corpSim = sim.where(col("doc") % 5 =!= 0)
      .select(col("doc").as("b"), col("simhash").as("sb"))
    val dupNew = newSim.join(corpSim,
        bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select(col("a").as("dup_id")).distinct()
    val kept = TextAnalysis.withCurationSignals(
        docsAll.where(col("doc_id") % 5 === 0), "text")
      .where(col("n_tokens") >= 15 && col("stopword_ratio") >= 0.01 &&
        col("distinct_ratio") >= 0.3 && col("pred_lang") =!= "und")
      .join(dupNew, col("doc_id") === col("dup_id"), "left_anti")
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"))
    assert(streamed.count() > 0, "curation kept nothing — fixture degenerate")
    assert(streamed.exceptAll(kept).count() == 0 &&
      kept.exceptAll(streamed).count() == 0)
    sim.unpersist()
  }

  test("stream_chunk_dedup accounting equals the exhaustive batch chunk join") {
    import graft.ext.Dedup
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("stream_chunk_dedup")(spark, dir)
    // independent batch recomputation over chunk STRINGS (no hashing):
    // a new-split chunk is a dup iff its text appears anywhere in the
    // corpus split
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
    val chunks = Dedup.chunkRows(docsAll, "doc_id", "text", 16).cache()
    val corp = chunks.where(col("doc") % 5 =!= 0)
      .select(col("chunk_text")).distinct()
    val nw = chunks.where(col("doc") % 5 === 0)
    val dup = nw.join(corp, Seq("chunk_text"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).cast("long").as("dup_chunks"))
    val expected = nw.groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_chunks"))
      .join(dup, Seq("doc"), "left")
      .select(col("doc"), col("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
        (col("n_chunks") - coalesce(col("dup_chunks"), lit(0L)))
          .as("kept_chunks"))
    assert(streamed.where(col("dup_chunks") > 0).count() > 0,
      "no corpus-dup chunks — fixture degenerate")
    assert(streamed.exceptAll(expected).count() == 0 &&
      expected.exceptAll(streamed).count() == 0)
    chunks.unpersist()
  }

  test("stream_substring_dedup equals batch window join; planted leaks fully flagged") {
    import graft.ext.Dedup
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("stream_substring_dedup")(spark, dir)
    // independent batch recomputation over the same window frame: a
    // probe window is a dup iff its hash exists anywhere in the corpus
    // split — replayed with Dedup.windowHashes directly (no index, no
    // stream)
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docsAll.where(col("doc_id") % 5 =!= 0)
    val probe = docsAll.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("planted leak prefix alpha beta "), col("text"))
            .as("text")))
    val cw = Dedup.windowHashes(corpus, "doc_id", "text", 8)
      .select(col("whash")).distinct()
    val pw = Dedup.windowHashes(probe, "doc_id", "text", 8).cache()
    val dup = pw.join(cw, Seq("whash"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).cast("long").as("dup_windows"))
    val expected = pw.groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_windows"))
      .join(dup, Seq("doc"), "left")
      .select(col("doc"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        (col("n_windows") - coalesce(col("dup_windows"), lit(0L)))
          .as("clean_windows"))
    assert(streamed.exceptAll(expected).count() == 0 &&
      expected.exceptAll(streamed).count() == 0)
    // every planted shifted copy is FULLY flagged (all its original-text
    // windows are corpus windows) — the arbitrary-offset guarantee the
    // fixed-boundary chunk index cannot give for a 5-token shift
    val planted = streamed.where(col("doc") >= 100000L)
    assert(planted.count() > 0, "no planted leaks — fixture degenerate")
    // the planted doc's windows = 5 prefix-spanning + all original
    // windows; the original windows are all dups, so clean_windows ≤ 5
    assert(planted.where(col("clean_windows") > 5).count() == 0)
    pw.unpersist()
  }

  test("file-source replay accepts directory tables, not just single-file fixtures") {
    // at cluster scale every table is a DIRECTORY of part files; before
    // r11 the glob-filter source streamed ZERO files from one (all10x
    // caught it: every stream query finished instantly at 10x)
    import graft.streaming.StreamingDedup
    val dir = "/tmp/graft_test_dir_table/docs.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(3) // several part files + _SUCCESS
      .write.mode("overwrite").parquet(dir)
    val streamed = StreamingDedup.replayDocs(spark, dir, "dir_table_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
      st.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }
    val batch = spark.read.parquet(dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed.as[(String, Long)].collect().toSet == batch)
  }

  // the replay keys the test session does not set itself; a failed replay
  // must leave them unset and put the shuffle width back
  private val replayOnlyKeys = Seq(
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.stateStore.providerClass")

  private def assertConfRestoredAfterFailure(replay: => Unit): Unit = {
    replayOnlyKeys.foreach(k => spark.conf.unset(k))
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    intercept[Exception](replay)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    replayOnlyKeys.foreach { k =>
      val left = spark.conf.getAll.get(k)
      assert(left.isEmpty, s"$k left set after the replay: $left")
    }
  }

  test("replayDocs restores the session conf when its probe throws") {
    import graft.streaming.StreamingDedup
    var inScope = ""
    assertConfRestoredAfterFailure {
      StreamingDedup.replayDocs(spark, sf("documents"), "replay_fail_tbl") { _ =>
        inScope = spark.conf.get("spark.sql.shuffle.partitions")
        throw new IllegalStateException("probe failed")
      }
    }
    assert(inScope == "8", "the probe is built inside the replay scope")
  }

  test("replayResample restores the session conf when its stream fails") {
    val failing = (df: org.apache.spark.sql.DataFrame) =>
      Observations.from(
          Observations.normalizeEventTs(df), "user_id", "ts", "value")
        .withColumn("value", raise_error(lit("replay failed")).cast("double"))
    assertConfRestoredAfterFailure {
      StreamingOps.replayResample(spark, sf("events"), failing, 900,
        "replay_resample_fail_tbl")
    }
  }

  test("appendShingleIndexBatch refuses a FLAT buildShingleIndex root") {
    import graft.streaming.StreamingDedup
    val docsAll = spark.read.parquet(sf("documents"))
    val a = docsAll.where(col("doc_id") % 2 === 0)
    val b = docsAll.where(col("doc_id") % 2 === 1)
    // partition discovery cannot read bare data files next to batch=
    // dirs, so the batch append must refuse the flat layout up front
    val flat = "/tmp/graft_test_shidx_flat"
    StreamingDedup.buildShingleIndex(a, "doc_id", "text", flat)
    val e = intercept[IllegalArgumentException](
      StreamingDedup.appendShingleIndexBatch(b, "doc_id", "text", flat, 0L))
    assert(e.getMessage.contains("FLAT layout"), e.getMessage)
    assert(!new java.io.File(s"$flat/batch=0").exists(),
      "the refused append must write nothing")
    // an absent root, then a batch-partitioned one, accept batch appends
    val batched = "/tmp/graft_test_shidx_batched"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(batched))
    StreamingDedup.appendShingleIndexBatch(a, "doc_id", "text", batched, 0L)
    StreamingDedup.appendShingleIndexBatch(b, "doc_id", "text", batched, 1L)
    assert(spark.read.parquet(batched).select("batch").distinct().count() == 2)
  }

  test("mid-stream index evolution: frozen-index decisions are a strict subset") {
    import graft.streaming.StreamingDedup
    val dir = "/root/testdata/sf0.001"
    val evolved = SparkEntry.queries("stream_index_evolve")(spark, dir)
      .where(col("dropped")).select(col("doc")).as[Long].collect().toSet
    assert(evolved.nonEmpty, "no drops — degenerate fixture")
    // replay the same batches against an index FROZEN at batch 0: every
    // frozen drop must also be an evolved drop (the growing index only
    // ADDS candidates), and some evolved drop must be missing — the
    // decision that REQUIRED the mid-stream growth
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = docsAll.unionByName(
      docsAll.where(pmod(col("doc_id"), lit(8L)) === 1L)
        .select((col("doc_id") + 2000001L).as("doc_id"), col("text")))
      .localCheckpoint(true)
    val frozenIdx = "/tmp/graft_test_idxev_frozen"
    StreamingDedup.buildShingleIndex(
      planted.where(pmod(col("doc_id"), lit(4L)) === 0L), "doc_id", "text",
      frozenIdx)
    val frozen = (1 to 3).flatMap { k =>
      StreamingDedup.shingleDropStream(spark,
          planted.where(pmod(col("doc_id"), lit(4L)) === k.toLong),
          "doc_id", "text", frozenIdx, minJ = 0.5)
        .as[Long].collect()
    }.toSet
    assert(frozen.subsetOf(evolved),
      "frozen-index drop not reproduced by the evolving index")
    assert((evolved -- frozen).nonEmpty,
      "no decision required the mid-stream growth")
  }

  test("stream-stream interval join over a bounded replay equals the batch join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("stream_stream_join")(spark, dir)
      .select("signup_id", "purchase_id", "gap_s")
    val e = graft.core.Observations.normalizeEventTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val su = e.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        col("user_id").as("s_user"), col("ts").as("s_ts"))
    val pu = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = su.join(pu, expr(
        "s_user = p_user AND p_ts >= s_ts AND " +
          "p_ts <= s_ts + interval 7 days"))
      .select(col("signup_id"), col("purchase_id"),
        (graft.ext.EventOps.epochS(col("p_ts")) -
          graft.ext.EventOps.epochS(col("s_ts"))).as("gap_s"))
    assert(batch.count() > 0, "fixture has no signup->purchase pairs")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("replayForeachBatchResidue: running top-k == batch top-k") {
    import graft.streaming.StreamingDedup
    val n = 200L
    val src = (0L until n).map(i => (i, s"d$i")).toDF("id", "s")
    val base = "/tmp/graft_test_residue_topk"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    src.coalesce(1).write.parquet(s"$base/in")
    val k = 10
    var batches = 0
    var state = Vector.empty[(String, Long)]
    StreamingDedup.replayForeachBatchResidue(spark, s"$base/in",
        s"$base/src", s"$base/ckpt", 4, "id",
        org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
      st.select(col("id"), md5(col("id").cast("string")).as("key"))
    } { (b, _) =>
      batches += 1
      val top = b.orderBy(col("key"), col("id")).limit(k).collect()
        .map(r => (r.getString(1), r.getLong(0)))
      // running bounded-state merge: top-k of (state ∪ batch top-k);
      // distinct = idempotence under at-least-once batch re-delivery
      state = (state ++ top).distinct.sortBy(identity).take(k)
    }
    assert(batches == 4, s"expected 4 micro-batches, got $batches")
    val expect = src
      .select(col("id"), md5(col("id").cast("string")).as("key"))
      .orderBy(col("key"), col("id")).limit(k).collect()
      .map(r => (r.getString(1), r.getLong(0))).toVector
    assert(state == expect.sortBy(identity),
      s"streamed running top-k diverged from batch top-k")
    // cross-batch merging really happened: batch b holds the ids with
    // id % 4 == b, and the winners come from more than one of them
    val classes = state.map(_._2 % 4).distinct
    assert(classes.size > 1, s"every winner came from one batch: $classes")
  }

  test("replayForeachBatchResidue delivers one whole residue class per micro-batch") {
    import graft.streaming.StreamingDedup
    val n = 100L
    val src = (0L until n).map(i => (i, s"d$i")).toDF("id", "s")
    val base = "/tmp/graft_test_residue_replay"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    src.coalesce(1).write.parquet(s"$base/in")
    var batches = Vector.empty[Set[Long]]
    StreamingDedup.replayForeachBatchResidue(spark, s"$base/in",
        s"$base/src", s"$base/ckpt", 5, "id",
        org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
      st.select(col("id"))
    } { (b, _) =>
      batches = batches :+ b.collect().map(_.getLong(0)).toSet
    }
    assert(batches.size == 5, s"expected 5 micro-batches, got ${batches.size}")
    // every batch is exactly one residue class, whole
    batches.foreach { ids =>
      val residues = ids.map(_ % 5)
      assert(residues.size == 1, s"batch mixed residues: $residues")
      val r = residues.head
      assert(ids == (0L until n).filter(_ % 5 == r).toSet,
        s"residue class $r not delivered whole")
    }
    // together they cover the table exactly once
    assert(batches.map(_.size).sum == n)
  }

  test("checkpoint restart: killed sink-backed rollup resumes to the uninterrupted result") {
    // the exactly-once claim of the sink-backed streams
    // (stream_sink_rollup / stream_budget_fill) proven ACROSS a
    // kill-and-resume, not just per-batch overwrite idempotence: batch 2
    // commits its sink dir, then the query dies BEFORE the checkpoint
    // commit; the restarted query re-fires batch 2 from the WAL,
    // rewrites only its own batch=<id> dir, and the final sink equals an
    // uninterrupted run byte-for-byte
    import graft.streaming.StreamingDedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
    val base = "/tmp/graft_test_restart_rollup"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    docs.coalesce(1).write.parquet(s"$base/in")
    def runReplay(sink: String, ckpt: String,
        failOnce: java.util.concurrent.atomic.AtomicBoolean): Unit =
      StreamingDedup.replayForeachBatchResidue(spark, s"$base/in",
          s"$base/src", ckpt, 4, "doc_id",
          org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
        st.select(col("doc_id"), col("lang"))
      } { (b, batchId) =>
        b.groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$sink/batch=$batchId")
        if (batchId == 2L && failOnce.compareAndSet(true, false))
          throw new RuntimeException("injected crash after sink commit")
      }
    // crashed run: dies on batch 2 AFTER its sink dir committed
    val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runReplay(s"$base/sink", s"$base/ckpt", crash)
    }
    assert(new java.io.File(s"$base/sink/batch=2").isDirectory,
      "crash must land after batch 2's sink commit")
    assert(!new java.io.File(s"$base/sink/batch=3").exists,
      "batch 3 must not have run before the crash")
    // resume from the same checkpoint — batch 2 re-fires, 3 follows
    runReplay(s"$base/sink", s"$base/ckpt",
      new java.util.concurrent.atomic.AtomicBoolean(false))
    // uninterrupted control run (fresh sink + checkpoint)
    runReplay(s"$base/sink_ctl", s"$base/ckpt_ctl",
      new java.util.concurrent.atomic.AtomicBoolean(false))
    def slurp(p: String) = spark.read.option("basePath", p).parquet(p)
      .select(col("batch").cast("long"), col("lang"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val resumed = slurp(s"$base/sink")
    assert(resumed == slurp(s"$base/sink_ctl"),
      "resumed sink != uninterrupted run")
    assert(resumed.map(_._1) == Set(0L, 1L, 2L, 3L), "missing batches")
  }

  test("checkpoint restart: index-evolve batch killed after its append re-probes the pre-append index") {
    // the seal-then-append ordering of stream_index_evolve across a
    // restart: batch 2 seals its decision, APPENDS itself to the shingle
    // index, then dies before the checkpoint commit. The retry re-probes
    // with excludeBatchFrom = batchId, so its own already-appended rows
    // are invisible and the decision is reproduced exactly — without the
    // exclusion, a planted same-residue clone pair inside batch 2 would
    // flip to dropped on the retry (negative control asserted below)
    import graft.streaming.StreamingDedup
    val base = "/tmp/graft_test_restart_idxev"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // +2000001 shifts residue (cross-batch dups, dropped by the evolving
    // probe); +4000000 preserves residue mod 4 (intra-batch dups in
    // batch 2 — the pairs ONLY a self-probing retry would flip)
    val planted = docs
      .unionByName(docs.where(pmod(col("doc_id"), lit(8L)) === 1L)
        .select((col("doc_id") + 2000001L).as("doc_id"), col("text")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(4L)) === 2L)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      .localCheckpoint(true)
    planted.coalesce(1).write.parquet(s"$base/in")
    def runReplay(sink: String, idx: String, ckpt: String,
        failOnce: java.util.concurrent.atomic.AtomicBoolean): Unit =
      StreamingDedup.replayForeachBatchResidue(spark, s"$base/in",
          s"$base/src", ckpt, 4, "doc_id",
          org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
        st.select(col("doc_id"), col("text"))
      } { (batch0, batchId) =>
        val b = batch0.localCheckpoint(true)
        val decided =
          if (batchId == 0L)
            b.select(col("doc_id").as("doc"), lit(false).as("dropped"))
          else {
            val dropped = StreamingDedup.shingleDropStream(
                spark, b, "doc_id", "text", idx, minJ = 0.5,
                excludeBatchFrom = batchId)
              .withColumn("_d", lit(true))
            b.select(col("doc_id").as("doc"))
              .join(dropped, Seq("doc"), "left")
              .select(col("doc"), coalesce(col("_d"), lit(false)).as("dropped"))
          }
        decided.write.mode("overwrite").parquet(s"$sink/batch=$batchId")
        StreamingDedup.appendShingleIndexBatch(b, "doc_id", "text", idx, batchId)
        if (batchId == 2L && failOnce.compareAndSet(true, false))
          throw new RuntimeException("injected crash after index append")
      }
    val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runReplay(s"$base/sink", s"$base/idx", s"$base/ckpt", crash)
    }
    assert(new java.io.File(s"$base/idx/batch=2").isDirectory,
      "crash must land after batch 2's own index append")
    // negative control at the crash point: batch 2's frame re-probed
    // WITHOUT the exclusion sees its own appended rows — the planted
    // same-residue clones flip to dropped; WITH it, the original
    // (pre-append) decision is reproduced
    val b2 = planted.where(pmod(col("doc_id"), lit(4L)) === 2L)
    val withOwn = StreamingDedup.shingleDropStream(spark, b2, "doc_id",
      "text", s"$base/idx", minJ = 0.5).as[Long].collect().toSet
    val excluded = StreamingDedup.shingleDropStream(spark, b2, "doc_id",
      "text", s"$base/idx", minJ = 0.5, excludeBatchFrom = 2L)
      .as[Long].collect().toSet
    assert((withOwn -- excluded).exists(_ >= 4000000L),
      "self-probe must flip a planted intra-batch clone (negative control)")
    val sealedDrops = spark.read.parquet(s"$base/sink/batch=2")
      .where(col("dropped")).select(col("doc")).as[Long].collect().toSet
    assert(excluded == sealedDrops,
      "excluded re-probe must reproduce the sealed pre-crash decision")
    // resume, then compare against an uninterrupted control run
    runReplay(s"$base/sink", s"$base/idx", s"$base/ckpt",
      new java.util.concurrent.atomic.AtomicBoolean(false))
    runReplay(s"$base/sink_ctl", s"$base/idx_ctl", s"$base/ckpt_ctl",
      new java.util.concurrent.atomic.AtomicBoolean(false))
    def slurp(p: String) = spark.read.option("basePath", p).parquet(p)
      .select(col("doc"), col("batch").cast("long"), col("dropped"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val resumed = slurp(s"$base/sink")
    assert(resumed == slurp(s"$base/sink_ctl"),
      "resumed decisions != uninterrupted run")
    // the planted intra-batch clones survived (probe is earlier-batch
    // only; their cross-batch twins at +2000001 did not all survive)
    assert(resumed.exists(r => r._1 >= 4000000L && !r._3))
    assert(resumed.exists(r => r._1 >= 2000001L && r._1 < 4000000L && r._3))
  }

  test("checkpoint restart: killed z-table txn ingest resumes " +
      "exactly-once through its txn markers") {
    // stream_ztable_append's exactly-once ACROSS a kill-and-resume:
    // batch 2's appendBatchTxn commits to the manifest log, then the
    // query dies BEFORE the checkpoint commit; the WAL re-fires batch 2
    // on restart, its txn marker short-circuits the replay BEFORE any
    // data write, and the resumed table — log version, manifest, and
    // row content — equals an uninterrupted control run with zero
    // orphan files.
    import graft.streaming.StreamingDedup
    import graft.ext.{Ranks, ZTable}
    val base = "/tmp/graft_test_restart_ztap"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$base/in")
    def runReplay(tag: String,
        failOnce: java.util.concurrent.atomic.AtomicBoolean): Unit =
      StreamingDedup.replayForeachBatchResidue(spark, s"$base/in",
          s"$base/src", s"$base/ckpt_$tag", 4, "doc_id",
          org.apache.spark.sql.streaming.OutputMode.Append()) { st =>
        st.select(col("doc_id"), col("n_chars"))
      } { (b, batchId) =>
        val rows = b.select(col("doc_id"),
          pmod(col("n_chars"), lit(256L)).as("b1"),
          pmod(col("doc_id"), lit(256L)).as("b2"))
        val ranked = Ranks.globalRowNumber(rows, Seq(col("doc_id")),
          out = "_rk")
        ZTable.appendBatchTxn(spark, s"$base/table_$tag",
          s"$base/log_$tag", "ztap", batchId, ranked, "_rk",
          nFiles = 2, offset = (batchId * 10).toInt): Unit
        if (batchId == 2L && failOnce.compareAndSet(true, false))
          throw new RuntimeException("injected crash after table commit")
      }
    val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runReplay("a", crash)
    }
    assert(ZTable.logLatest(spark, s"$base/log_a") == 2L,
      "crash must land after batch 2's log commit")
    runReplay("a", new java.util.concurrent.atomic.AtomicBoolean(false))
    runReplay("b", new java.util.concurrent.atomic.AtomicBoolean(false))
    def state(tag: String) = {
      val root = s"$base/log_$tag"
      val latest = ZTable.logLatest(spark, root)
      val man = ZTable.logRead(spark, root, latest)
      val (_, orphans) = ZTable.vacuum(spark, s"$base/table_$tag", man)
      val rows = spark.read.parquet(man.collect()
          .map(_.getAs[String]("path")).toSeq: _*)
        .select(col("doc_id"), col("b1"), col("b2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      (latest, orphans, rows)
    }
    val (la, oa, ra) = state("a")
    val (lb, ob, rb) = state("b")
    assert(la == 3L && lb == 3L, s"both logs must end at v3: $la, $lb")
    assert(oa == 0L && ob == 0L,
      "the resumed run must leave zero orphan files")
    assert(ra == rb, "resumed table content != uninterrupted run")
  }
}
