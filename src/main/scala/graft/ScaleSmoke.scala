package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Scale smoke: each tier synthesizes planted data with `spark.range` (no
  * local collections), runs one operator family at two sizes (mostly 250k
  * and 1M rows) and asserts exact planted answers, recall and scan-fraction
  * floors and near-linear wall growth — the local stand-in for the 100 TB
  * question "does the plan shape survive a scale-up". Not part of
  * `graft.Bench`; run one tier per JVM:
  *   sbt "runMain graft.ScaleSmoke <tier> [args]"
  *   scripts/scale_smoke.sh [tier ...]
  * Exit codes: 0 when every check of the tier holds; 1 when a check fails
  * (its message, if any, is printed) or the tier throws; 2 when no tier or
  * an unknown tier is named (the tier names are printed).
  */
object ScaleSmoke {
  /** What `main` hands a tier: the one session, the arguments after the
    * tier name, and the checks whose failures make the exit code 1. */
  private[graft] final class Ctx(val spark: SparkSession,
      val args: Seq[String]) {
    private var failures = 0
    def failed: Boolean = failures > 0
    /** Records a failure unless `ok`, printing `msg` when one is given. */
    def check(ok: Boolean, msg: => String = ""): Unit =
      if (!ok) {
        if (msg.nonEmpty) println(msg)
        failures += 1
      }
    /** The wall at the large size must stay within `factor` × the wall at
      * the small size + `slack` seconds. */
    def growth(tag: String, small: Double, large: Double, factor: Double,
        slack: Double): Unit =
      check(large <= factor * small + slack,
        f"$tag super-linear wall: $small%.1f -> $large%.1f s")
  }

  /** A tier's body and its session settings: `cores` is the default of
    * SPARK_GRAFT_CPUS (master threads and shuffle partitions); `conf` is
    * set on the session. */
  private[graft] final case class Tier(run: Ctx => Unit, cores: String = "8",
      conf: Map[String, String] = Map.empty)

  private[graft] val tiers: ListMap[String, Tier] = ListMap(
    "dedup1m" -> Tier(dedup1m),
    "streamdedup1m" -> Tier(streamdedup1m),
    "ann1m" -> Tier(ann1m),
    "clusters1m" -> Tier(clusters1m),
    "chains1m" -> Tier(chains1m),
    "pq1m" -> Tier(pq1m),
    "toppairs1m" -> Tier(toppairs1m),
    "hotbucket1m" -> Tier(hotbucket1m),
    // the doc_id-only keep-lists sit near the 10 MB broadcast
    // threshold at these tiers (2 MB at 250k, 8 MB at 1M), so leaving
    // auto-broadcast on makes the plan SHAPE a function of corpus size
    // — the 1M tier flipped one semi-join broadcast→shuffle and failed
    // the exchange-invariance check. At the target scale every
    // keep-list is corpus-sized and must shuffle, so the tier pins the
    // shuffle path and the exchange count becomes size-invariant.
    "curate1m" -> Tier(curate1m,
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    "pack1m" -> Tier(pack1m),
    "chunk1m" -> Tier(chunk1m),
    "bloom1m" -> Tier(bloom1m),
    "centroid1m" -> Tier(centroid1m),
    "engage10m" -> Tier(engage10m),
    "hamming1m" -> Tier(hamming1m),
    "contain1m" -> Tier(contain1m),
    "phash200k" -> Tier(phash200k),
    "linefreq1m" -> Tier(linefreq1m),
    "heavy10x" -> Tier(heavy10x),
    "exactann1m" -> Tier(exactann1m),
    "substr1m" -> Tier(substr1m),
    "unigram250k" -> Tier(unigram250k),
    "unigram32k" -> Tier(unigram32k),
    "zorderinc1m" -> Tier(zorderinc1m),
    // These fixtures are megabytes, so at the DEFAULT 128 MB split /
    // 4 MB open-cost both scales pack every scan into ONE task and a
    // ratio measures serial work growth under frozen parallelism —
    // the first run of this tier showed row-local scans at ~12×
    // (text_token_counts) purely from that packing. A real cluster
    // splits 10× the bytes into 10× the tasks; 2 MB splits restore
    // that proportionality here so ratios measure ASYMPTOTICS.
    "all10x" -> Tier(all10x, cores = "16", conf = Map(
      "spark.sql.files.maxPartitionBytes" -> (2L << 20).toString,
      "spark.sql.files.openCostInBytes" -> (256L << 10).toString)),
    "qmodel1m" -> Tier(qmodel1m),
    "kmeans1m" -> Tier(kmeans1m),
    "kmhof" -> Tier(kmhof),
    "pagerank1m" -> Tier(pagerank1m),
    "kn1m" -> Tier(kn1m),
    "kn10m" -> Tier(kn10m),
    "semdedup10m" -> Tier(semdedup10m),
    "shuffle1m" -> Tier(shuffle1m),
    "pipeline1m" -> Tier(pipeline1m),
    "ivfdrift" -> Tier(ivfdrift),
    "langid1m" -> Tier(langid1m),
    "ranks1m" -> Tier(ranks1m),
    "sample1m" -> Tier(sample1m),
    "waterfill1m" -> Tier(waterfill1m))

  def main(args: Array[String]): Unit = {
    val tier = args.headOption.flatMap(tiers.get).getOrElse {
      println("usage: runMain graft.ScaleSmoke <tier> [args]; tiers:")
      tiers.keys.foreach(name => println(s"  $name"))
      sys.exit(2)
    }
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", tier.cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(tier.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, args.toSeq.drop(1))
    try tier.run(c) finally spark.stop()
    if (c.failed) sys.exit(1)
  }

  /** 64-dim vectors with planted near-neighbors: id ≡ 1 mod 100 is a
    * ±0.01-perturbed copy of id − 1 (cosine ≈ 0.999); every other id draws
    * its own uniform [−1, 1] components. */
  private[graft] def plantedPairVecs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(when(pmod(col("id"), lit(100L)) === 1L, col("id") - 1)
            .otherwise(col("id")), i), lit(2001L)) - 1000L).cast("double") / 1000.0)
          + when(pmod(col("id"), lit(100L)) === 1L,
              (pmod(xxhash64(col("id"), i, lit(99L)), lit(21L)) - 10L).cast("double") / 1000.0)
            .otherwise(lit(0.0))).as("embedding"))

  /** 64-dim vectors around `kA` hash-derived anchors in [0,1)^64: id mod kA
    * is the anchor, plus a per-dim jitter below 0.01. */
  private[graft] def clusteredVecs(spark: SparkSession, n: Long,
      kA: Int): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        pmod(xxhash64(pmod(col("id"), lit(kA.toLong)), j), lit(1000L))
          .cast("double") / 1000.0 +
        pmod(xxhash64(col("id"), j, lit(7)), lit(100L)).cast("double")
          / 10000.0).as("embedding"))

  /** `len` globally unique tokens per id: "w" + xxhash64(id, j). */
  private def uniqueToks(id: Column, len: Int): Column =
    transform(sequence(lit(0), lit(len - 1)), j =>
      concat(lit("w"), xxhash64(id, j)))

  /** Containment plants: ids below n/2 are 12-token fragments, the rest
    * 20-token hosts; every 100th host embeds its fragment verbatim, the
    * others append unique filler. */
  private def containDocs(spark: SparkSession, n: Long): DataFrame = {
    val half = n / 2
    val hostBase = transform(sequence(lit(0), lit(19)), j =>
      concat(lit("w"), xxhash64(col("id"), j + 100)))
    val filler = transform(sequence(lit(0), lit(11)), j =>
      concat(lit("w"), xxhash64(col("id"), j + 200)))
    val planted = pmod(col("id") - half, lit(100L)) === 0L
    spark.range(n).select(col("id"),
      when(col("id") < half, array_join(uniqueToks(col("id"), 12), " "))
        .otherwise(array_join(concat(hostBase,
          when(planted, uniqueToks(col("id") - half, 12)).otherwise(filler)), " "))
        .as("text"))
  }

  /** `n` docs of `words` words drawn from `vocab` word ids; a word is
    * `len` base-4 digits of its id, spelled a..d. */
  private def base4Docs(spark: SparkSession, n: Long, vocab: Long, len: Int,
      words: Int): DataFrame = {
    def wordExpr(wid: Column) =
      concat_ws("", transform(sequence(lit(0), lit(len - 1)), d =>
        element_at(array(lit("a"), lit("b"), lit("c"), lit("d")),
          (pmod(floor(wid.cast("double") / pow(lit(4.0), d.cast("double")))
            .cast("long"), lit(4L)) + 1).cast("int"))))
    spark.range(n).select(col("id"),
        array_join(transform(sequence(lit(0), lit(words - 1)), j =>
          wordExpr(pmod(xxhash64(col("id"), j), lit(vocab)))), " ")
          .as("text"))
      .localCheckpoint(true)
  }

  /** 1M-tier candidate-growth measurement (`runMain graft.ScaleSmoke
    * dedup1m`): for each near-dup operator, count CANDIDATE COMPARISONS
    * as banding-bucket occupancy Σ k·(k−1)/2 — the work the verify stage
    * would do — at 250k and 1M docs/vectors, and assert the growth is
    * near-linear (4× rows → <6× candidates; a quadratic operator shows
    * 16×). Occupancy is an O(n) aggregate, so the measurement itself
    * never materializes a pair join. Measured slopes are recorded in
    * README §scale. */
  private def dedup1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import graft.functions.VectorFunctions
    import c.spark
    import spark.implicits._

    // bucket occupancy Σ k·(k−1)/2 over the banding key
    def occupancy(df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("k"))
        .agg(coalesce(sum(col("k") * (col("k") - 1)), lit(0L)).as("c2"))
        .as[Long].head() / 2

    // synthetic docs: 60 words over a 5000-word vocab, 2% planted near-dups
    def synthDocs(n: Long) = {
      val vocab = array((0 until 5000).map(i => lit(s"w$i")): _*)
      val base = spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(50L)) === 1L, col("id") - 1)
          .otherwise(col("id")).as("seed"),
        pmod(col("id"), lit(50L)).as("variant"))
      base.select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(59)), i =>
          when(i === 0 && col("variant") === 1L, lit("wX"))
            .otherwise(element_at(vocab,
              (pmod(xxhash64(col("seed"), i), lit(5000L)) + 1).cast("int"))))).as("text"))
    }

    val sizes = Seq(250000L, 1000000L)
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    def record(op: String, n: Long, c: Long): Unit = {
      println(f"SCALE1M $op%-24s n=$n%8d candidates=$c%12d")
      results(op) = results.getOrElse(op, Nil) :+ c
    }

    sizes.foreach { n =>
      val docs = synthDocs(n)
      val sh = Dedup.hashedShingles(docs, "doc_id", "text", 3).cache()
      record("jaccard-prefix", n,
        occupancy(Dedup.jaccardPrefixes(sh, 0.5), Seq("sh")))
      sh.unpersist()
      // the row-local signature minhashDupPairs bands
      val sig = docs.select(col("doc_id").as("doc"), Dedup.minhashSignature(
        Dedup.shingleArray(split(col("text"), " "), Dedup.ShingleWidth),
        Dedup.MinhashHashes).as("sig"))
      record("minhash-bands", n,
        occupancy(Dedup.minhashBands(sig, Dedup.MinhashBands,
          Dedup.MinhashHashes / Dedup.MinhashBands), Seq("band", "bandhash")))
      val sim = Dedup.portableSimhash64(docs, "doc_id", "text").cache()
      record("simhash-manku-bands", n,
        occupancy(Dedup.simhashBands(sim, Dedup.SimhashMaxDist,
          Dedup.SimhashBlocks), Seq("band", "bandkey")))
      sim.unpersist()
      // hyperplane LSH with the bits ≈ log2(n)+2 sizing rule
      val bits = (math.ceil(math.log(n.toDouble) / math.log(2.0)) + 2).toInt
      val vecs = plantedPairVecs(spark, n)
      val sigs = (0 until 8).map(b => vecs.select(lit(b).as("band"),
          VectorFunctions.hyperplaneSig(col("embedding"), bits, b.toLong)
            .as("lsh_sig")))
        .reduce(_ unionByName _)
      record(s"hyperplane-lsh-b$bits", n,
        occupancy(sigs, Seq("band", "lsh_sig")))
    }

    println("--- growth (4x rows), near-linear target < 6x ---")
    results.foreach { case (op, cs) =>
      // the sizing rule changes the op label per size for hyperplane —
      // handled below by prefix grouping
      if (cs.size == 2) {
        val ratio = cs(1).toDouble / math.max(cs(0), 1L)
        val linear = ratio < 6.0
        c.check(linear)
        println(f"SCALE1M $op%-24s growth=${ratio}%.2fx " +
          (if (linear) "NEAR-LINEAR" else "NOT LINEAR"))
      }
    }
    val hp = results.filter(_._1.startsWith("hyperplane"))
    if (hp.size == 2) {
      val ratio = hp.values.last.head.toDouble / math.max(hp.values.head.head, 1L)
      val linear = ratio < 6.0
      c.check(linear)
      println(f"SCALE1M hyperplane-sized        growth=${ratio}%.2fx " +
        (if (linear) "NEAR-LINEAR" else "NOT LINEAR"))
    }
  }

  /** 1M-tier streaming-dedup measurement (`runMain graft.ScaleSmoke
    * streamdedup1m`), bulk batches against an unbucketed index: the
    * candidate join scans the fixed-width band table once per batch —
    * sequential columnar IO that amortizes over the batch. Measured:
    * build time at 250k/1M docs (~linear) and a 10k-doc probe at both
    * sizes; asserts probe growth < 3× across the 4× corpus (sub-linear
    * — the scan is bytes-bound, the join work is ∝ collisions) plus one
    * real streaming replay with identical output. Measured numbers are
    * recorded in README §scale. */
  private def streamdedup1m(c: Ctx): Unit = {
    import graft.streaming.StreamingDedup
    import c.spark

    // 60-word docs over a 5000-word vocab (same generator family as
    // dedup1m); word 0 only touches shingle 0, so a one-word variant
    // sits at shingle-Jaccard ≈ 57/59 ≈ 0.966 — comfortably above the
    // 0.9 probe threshold and the 16×4 banding-recall cliff
    val vocab = array((0 until 5000).map(i => lit(s"w$i")): _*)
    def stream60(seed: org.apache.spark.sql.Column,
        variantWord: org.apache.spark.sql.Column) = concat_ws(" ",
      transform(sequence(lit(0), lit(59)), i =>
        when(i === 0 && variantWord.isNotNull, variantWord)
          .otherwise(element_at(vocab,
            (pmod(xxhash64(seed, i), lit(5000L)) + 1).cast("int")))))
    def corpusDocs(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      stream60(col("id"), lit(null).cast("string")).as("text"))
    // 10k new docs: every 5th reuses a corpus word stream with word 0
    // changed (a true cross-corpus near-dup); the rest are fresh streams
    def newDocs(corpusN: Long, count: Long) =
      spark.range(corpusN, corpusN + count).select(col("id").as("doc_id"),
        stream60(
          when(pmod(col("id"), lit(5L)) === 1L,
            pmod((col("id") - corpusN) * 31L, lit(corpusN)))
            .otherwise(col("id")),
          when(pmod(col("id"), lit(5L)) === 1L, lit("wY"))
            .otherwise(lit(null).cast("string"))).as("text"))

    val probeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    Seq(250000L, 1000000L).foreach { n =>
      val idx = s"/tmp/graft_smoke_stream_idx_$n"
      val t0 = System.nanoTime()
      StreamingDedup.buildMinhashIndex(corpusDocs(n), "doc_id", "text", idx)
      val buildS = (System.nanoTime() - t0) / 1e9
      val nd = newDocs(n, 10000L).cache()
      val expected = nd.count() / 5 // every 5th (id % 5 == 1) is planted
      var pairs = 0L
      val probeS = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        pairs = StreamingDedup.minhashDupStream(spark, nd,
          "doc_id", "text", idx, 0.9).count()
        (System.nanoTime() - t1) / 1e9
      }.min
      // one real streaming replay over the same batch (end-to-end
      // micro-batch cost, includes the fixed streaming machinery)
      val ndDir = s"/tmp/graft_smoke_stream_new_$n"
      nd.coalesce(1).write.mode("overwrite").parquet(ndDir)
      val part = new java.io.File(ndDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      val t2 = System.nanoTime()
      val streamed = StreamingDedup.replayDocs(spark, part,
        s"smoke_stream_dedup_$n") { st =>
        StreamingDedup.minhashDupStream(spark, st, "doc_id", "text", idx, 0.9)
      }.count()
      val replayS = (System.nanoTime() - t2) / 1e9
      nd.unpersist()
      probeTimes += probeS
      println(f"SCALE1M stream-dedup n=$n%8d build=$buildS%6.1f s " +
        f"probe10k=$probeS%5.2f s replay10k=$replayS%5.2f s pairs=$pairs " +
        f"(planted=$expected, streamed=$streamed)")
      // every planted pair found (banding miss < 1e-8 at J≈0.97), and the
      // streamed replay sees exactly the batch-twin pairs
      c.check(pairs >= expected && streamed == pairs)
    }
    if (probeTimes.size == 2) {
      val growth = probeTimes(1) / math.max(probeTimes(0), 1e-9)
      val subLinear = growth < 3.0
      println(f"SCALE1M stream-dedup 10k-probe growth at 4x corpus = " +
        f"$growth%.2fx " +
        (if (subLinear) "SUB-LINEAR (throughput mode: bytes-bound band scan)"
         else "NOT SUB-LINEAR"))
      c.check(subLinear)
    }
  }

  /** 1M-tier cluster-resolution measurement (`runMain graft.ScaleSmoke
    * clusters1m`): synthesize pair graphs of chain-shaped components
    * (family size 5 → diameter 4, the worst realistic near-dup family
    * shape) at 250k and 1M pairs and run [[graft.ext.Dedup.dedupClusters]]
    * end to end. Verifies the two claims the operator makes at scale:
    * round count is bounded by component diameter (not data size — the
    * SAME rounds at 4× pairs), and wall time grows near-linearly. Roots
    * are verified exactly (every doc's keeper must be its family head). */
  private def clusters1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark

    val fam = 5L // docs per chain family; 4 pairs each
    val times = Seq(250000L, 1000000L).map { nPairs =>
      val nDocs = nPairs / (fam - 1) * fam
      // chain pairs (i, i+1) within each family of `fam` consecutive ids
      val pairs = spark.range(nDocs)
        .where(pmod(col("id"), lit(fam)) =!= (fam - 1))
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val t0 = System.nanoTime()
      val labels = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      val wrong = labels
        .where(col("root") =!= (col("doc") - pmod(col("doc"), lit(fam))))
        .count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"SCALECL pairs=$nPairs%8d docs=$nDocs%8d wrong=$wrong $t%.1f s")
      c.check(wrong == 0)
      t
    }
    val growth = times(1) / math.max(times.head, 0.001)
    println(f"SCALECL growth (4x pairs) = $growth%.2fx " +
      (if (growth < 8.0) "NEAR-LINEAR" else "NOT LINEAR"))
    c.check(growth < 8.0)
  }

  /** Adversarial long-chain cluster measurement (`runMain graft.ScaleSmoke
    * chains1m`): pair graphs that are single chains of diameter ~10³ —
    * the shape plain min-label propagation needs ~10³ rounds for. Pins
    * the pointer-doubling claim: rounds must stay ≈ log₂(diameter) + a
    * small constant (< 20), roots exact, and 4× pairs must not change
    * the round count. */
  private def chains1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark
    val fam = 1024L // docs per chain family → diameter 1023
    val stats = Seq(250000L, 1000000L).map { nPairs =>
      val nDocs = nPairs / (fam - 1) * fam
      val pairs = spark.range(nDocs)
        .where(pmod(col("id"), lit(fam)) =!= (fam - 1))
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val t0 = System.nanoTime()
      val (labels, rounds) = Dedup.clustersWithRounds(pairs, "doc_a", "doc_b")
      val wrong = labels
        .where(col("root") =!= (col("doc") - pmod(col("doc"), lit(fam))))
        .count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"SCALECHAIN pairs=$nPairs%8d diameter=${fam - 1} rounds=$rounds wrong=$wrong $t%.1f s")
      c.check(wrong == 0 && rounds < 20)
      (rounds, t)
    }
    if (stats(0)._1 != stats(1)._1)
      println(s"SCALECHAIN note: round count varied with size (${stats.map(_._1)})")
  }

  /** End-to-end CURATION pipeline at the 1M tier (`runMain graft.ScaleSmoke
    * curate1m`): the doc_curate_sink composition — quality thresholds +
    * Gopher repetition cut + language-ID confidence + exact/near-dup
    * keep-join via [[graft.ext.Dedup.dedupClustersDistinctWith]] —
    * materialized as lang-partitioned parquet over a synthetic corpus
    * with PLANTED failure modes, at 250k and 1M docs. Each filter owns a
    * disjoint planted population, so the tier pins per-filter cut counts
    * exactly, not just a total:
    *   - doc_id < n/100: exact copies of ONE passing doc → dedup keeps
    *     only doc 0 (the hot-family short-circuit end-to-end);
    *   - mode 3 (doc_id%17==3): quality-passing text with zero
    *     function-word hits in any language → cut ONLY by langid;
    *   - mode 5: 40 normal tokens + one 2-gram repeated 10× (top frac
    *     ≈ 0.17) → cut ONLY by the repetition filter;
    *   - mode 7: ~16 distinct tokens of 60 (ratio ≈ 0.27) → cut ONLY by
    *     the quality distinct_ratio threshold;
    *   - variant (doc_id%50==1, seed normal): near-dup of doc_id−1 →
    *     cut by the keep-join (non-root cluster member);
    *   - everything else passes all filters.
    * Asserts: per-filter cuts land exactly on their planted populations;
    * kept counts scale ×4 between tiers (deterministic arithmetic);
    * every lang partition non-empty on disk; plan shape (Exchange count)
    * size-invariant; wall near-linear 250k→1M. Measured output recorded
    * in README §scale. */
  private def curate1m(c: Ctx): Unit = {
    import graft.ext.{Dedup, TextAnalysis}
    import c.spark
    import spark.implicits._

    // four language profiles; the stopword interleave makes pred_lang
    // deterministic and keeps quality's (English-list) stopword_ratio
    // above threshold via the two extra English fillers at i=2,7 —
    // "a"/"for" for mode-3 docs, which count for quality but sit in NO
    // langid list, so those docs land exactly on the langid cut
    val langNames = Seq("en", "de", "es", "fr")
    val langStops = Seq(
      Seq("the", "and", "of", "to", "is", "in", "that", "it"),
      Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
      Seq("el", "la", "de", "que", "y", "en", "un", "es"),
      Seq("le", "la", "et", "les", "des", "est", "un", "dans"))
    def synthDocs(n: Long): org.apache.spark.sql.DataFrame = {
      val vocab = array((0 until 5000).map(i => lit(s"w$i")): _*)
      val stops = array(langStops.map(s => array(s.map(lit): _*)): _*)
      val hot = n / 100
      // langi derives from SEED, not doc_id: a near-dup twin must carry
      // its seed's stopword language, or the 12 interleaved stop tokens
      // all differ and twin-seed Jaccard drops to ~0.26 — below the 0.5
      // mining threshold, which would make the planted twins undetectable
      val base = spark.range(n)
        .select(col("id").as("doc_id"),
          pmod(col("id"), lit(17L)).as("mode"),
          when(pmod(col("id"), lit(50L)) === 1L, col("id") - 1)
            .otherwise(col("id")).as("seed"),
          pmod(col("id"), lit(50L)).as("variant"))
        .withColumn("langi", pmod(col("seed"), lit(4L)))
      def vocabTok(seedCol: org.apache.spark.sql.Column,
          i: org.apache.spark.sql.Column) =
        element_at(vocab,
          (pmod(xxhash64(seedCol, i), lit(5000L)) + 1).cast("int"))
      def stopTok(i: org.apache.spark.sql.Column) =
        element_at(element_at(stops, (col("langi") + 1).cast("int")),
          (pmod(i / 5, lit(8L)) + 1).cast("int"))
      // normal/near-dup doc: stopword every 5th token, English fillers
      // at 2 and 7, vocab elsewhere; variant==1 flips token 1 to "wX"
      def normalTok(i: org.apache.spark.sql.Column) =
        when(i % 5 === 0, stopTok(i))
          .when(i === 2, lit("the")).when(i === 7, lit("of"))
          .when(i === 1 && col("variant") === 1L, lit("wX"))
          .otherwise(vocabTok(col("seed"), i))
      val toks = sequence(lit(0), lit(59))
      val text =
        when(col("doc_id") < hot,
          lit(((0 until 60).map { i =>
            if (i % 5 == 0) "the" else if (i == 2) "the" else if (i == 7) "of"
            else s"h$i"
          }).mkString(" ")))
        .when(col("mode") === 3L, concat_ws(" ", transform(toks, i =>
          when(i === 2, lit("a")).when(i === 7, lit("for"))
            .otherwise(vocabTok(col("doc_id"), i)))))
        .when(col("mode") === 5L, concat_ws(" ", transform(toks, i =>
          when(i >= 40, when(i % 2 === 0, lit("ra")).otherwise(lit("rb")))
            .otherwise(normalTok(i)))))
        .when(col("mode") === 7L, concat_ws(" ", transform(toks, i =>
          when(i % 5 === 0, stopTok(i))
            .when(i === 2, lit("the")).when(i === 7, lit("of"))
            .otherwise(vocabTok(lit(0L), i % 6)))))
        .otherwise(concat_ws(" ", transform(toks, normalTok(_))))
      base.select(col("doc_id"), text.as("text"),
        element_at(array(langNames.map(lit): _*),
          (col("langi") + 1).cast("int")).as("lang"))
    }

    val stats = Seq(250000L, 1000000L).map { n =>
      val hot = n / 100
      val docs = synthDocs(n).localCheckpoint(true)
      val t0 = System.nanoTime()
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
      val cl = Dedup.dedupClustersDistinctWith(docs, "doc_id", "text")(
        repDocs => Dedup.jaccardPairs(
          Dedup.hashedShingles(repDocs, "doc_id", "text", 3), 0.5))
      val kept = docs.join(cl, docs("doc_id") === cl("doc"), "left")
        .where(col("root").isNull || col("root") === docs("doc_id"))
        .select(docs("doc_id"), col("text"), col("lang"))
        .join(qual, Seq("doc_id"), "left_semi")
        .join(calm, Seq("doc_id"), "left_semi")
        .join(lid, Seq("doc_id"), "left_semi")
      val out = s"/tmp/graft_curate1m_$n"
      kept.write.mode("overwrite").partitionBy("lang").parquet(out)
      val t = (System.nanoTime() - t0) / 1e9
      val nExchanges = "Exchange".r
        .findAllIn(kept.queryExecution.executedPlan.toString).length
      val sink = spark.read.parquet(out).localCheckpoint(true)
      val nKept = sink.count()
      // per-filter cut accounting against the planted populations: the
      // modes are disjoint by construction (hot ids excluded from each)
      def cnt(c: org.apache.spark.sql.Column) = sink.where(c).count()
      val keptHot = cnt(col("doc_id") < hot)
      val keptM3 = cnt(col("doc_id") >= hot && pmod(col("doc_id"), lit(17L)) === 3L)
      val keptM5 = cnt(col("doc_id") >= hot && pmod(col("doc_id"), lit(17L)) === 5L)
      val keptM7 = cnt(col("doc_id") >= hot && pmod(col("doc_id"), lit(17L)) === 7L)
      // near-dup twins whose seed is a NORMAL kept doc must be dropped
      // (cluster non-roots); twins whose seed is itself planted-bad sink
      // with their seed's filter instead, so restrict to clean seeds
      val twinDropped = sink.where(
        pmod(col("doc_id"), lit(50L)) === 1L && col("doc_id") >= hot &&
          pmod(col("doc_id"), lit(17L)).isin(3L, 5L, 7L) === false &&
          pmod(col("doc_id") - 1, lit(17L)).isin(3L, 5L, 7L) === false &&
          col("doc_id") - 1 >= hot).count()
      val langsOnDisk = sink.select(col("lang")).distinct()
        .as[String].collect().sorted.toSeq
      println(f"SCALECURATE n=$n%8d kept=$nKept%8d (hot=$keptHot twin=$twinDropped " +
        f"m3=$keptM3 m5=$keptM5 m7=$keptM7) langs=${langsOnDisk.mkString(",")} " +
        f"exchanges=$nExchanges $t%6.1f s")
      c.check(keptHot == 1, s"SCALECURATE hot family should keep exactly doc 0, kept $keptHot")
      c.check(keptM3 == 0 && keptM5 == 0 && keptM7 == 0,
        "SCALECURATE planted-bad docs leaked through their filter")
      c.check(twinDropped == 0,
        s"SCALECURATE $twinDropped clean near-dup twins survived the keep-join")
      c.check(langsOnDisk == langNames.sorted,
        s"SCALECURATE lang partitions wrong: $langsOnDisk")
      (n, nKept, nExchanges, t)
    }
    val Seq((_, k1, e1, t1), (_, k2, e2, t2)) = stats
    // kept counts are deterministic doc_id arithmetic → ×4 within
    // boundary effects; wall-clock near-linear (4× data, ≤6× time)
    c.check(k2 >= 3.8 * k1 && k2 <= 4.2 * k1,
      f"SCALECURATE kept ratio ${k2.toDouble / k1}%.2f not ~4")
    c.check(e1 == e2, s"SCALECURATE plan shape changed with size: $e1 vs $e2 exchanges")
    c.growth("SCALECURATE", t1, t2, 6, 10)
  }

  /** Token-budget SHARD PACKING at the 1M tier (`runMain graft.ScaleSmoke
    * pack1m`): [[graft.ext.Corpus.packShards]] over synthetic 60-token
    * docs at 250k and 1M. Fixed token counts make every output value
    * closed-form arithmetic (start_offset = 60·doc_id, shard =
    * 60·doc_id div 2²⁰), so the tier asserts the ENTIRE frame against
    * the closed form — any error in the two-stage prefix decomposition
    * (a dropped bucket, an off-by-one boundary, a wrong offset join)
    * breaks equality somewhere among the million rows. Also asserts
    * bucketWidth invariance at 1M (2¹⁶ vs one-bucket degenerate = the
    * single-window formulation) and near-linear wall 250k→1M. Measured
    * output recorded in README §scale. */
  private def pack1m(c: Ctx): Unit = {
    import graft.ext.Corpus
    import c.spark

    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)), i =>
        concat(lit("w"), pmod(xxhash64(col("id"), i), lit(50000L)))))
        .as("text"))
    val budget = 1L << 20
    val walls = Seq(250000L, 1000000L).map { n =>
      val docs = synth(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = Corpus.packShards(docs, "doc_id", "text", budget, 1L << 16)
        .localCheckpoint(true)
      val nOut = out.count()
      val t = (System.nanoTime() - t0) / 1e9
      val wrong = out.where(col("n_tokens") =!= 60L ||
        col("start_offset") =!= col("doc") * 60L ||
        col("shard_id") =!= floor(col("doc") * 60L / lit(budget))).count()
      val maxShard = out.agg(max(col("shard_id"))).head().getLong(0)
      val expectShards = 60L * (n - 1) / budget
      println(f"SCALEPACK n=$n%8d rows=$nOut wrong=$wrong " +
        f"maxShard=$maxShard (expect $expectShards) $t%6.1f s")
      c.check(nOut == n && wrong == 0 && maxShard == expectShards,
        "SCALEPACK closed-form mismatch")
      if (n == 1000000L) {
        val alt = Corpus.packShards(docs, "doc_id", "text", budget, 1L << 40)
        val diff = out.exceptAll(alt).count() + alt.exceptAll(out).count()
        c.check(diff == 0, s"SCALEPACK width-variance: $diff differing rows")
      }
      t
    }
    c.growth("SCALEPACK", walls(0), walls(1), 6, 10)
  }

  /** Adversarial HOT-CHUNK boilerplate measurement (`runMain
    * graft.ScaleSmoke chunk1m`): [[graft.ext.Dedup.chunkDedup]] over
    * synthetic 64-token docs whose FIRST 16-token chunk is identical in
    * every document — the shared-boilerplate worst case, n copies of one
    * chunk at n docs (10⁶ at 1M) — while the remaining three chunks are
    * globally unique. Expected output is closed-form (doc 0 keeps 4
    * chunks / 64 tokens, every other doc 3 / 48), so the tier asserts
    * the ENTIRE frame; the keeper aggregate's map-side combine is what
    * makes the hot chunk safe (partials collapse per input task — a
    * window-partitioned formulation would funnel all n copies into one
    * sorted partition). Asserts closed form at 250k and 1M plus
    * near-linear wall growth. Measured output recorded in README
    * §scale. */
  private def chunk1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark

    val boiler = (0 until 16).map(i => s"b$i").mkString(" ")
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(boiler + " "),
        concat_ws(" ", transform(sequence(lit(0), lit(47)), i =>
          concat(lit("u"), col("id") * 48 + i)))).as("text"))

    val walls = Seq(250000L, 1000000L).map { n =>
      val docs = synth(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 16)
        .localCheckpoint(true)
      val nOut = out.count()
      val t = (System.nanoTime() - t0) / 1e9
      val wrong = out.where(col("n_chunks") =!= 4L ||
        (col("doc") === 0L &&
          (col("kept_chunks") =!= 4L || col("kept_tokens") =!= 64L)) ||
        (col("doc") =!= 0L &&
          (col("kept_chunks") =!= 3L || col("kept_tokens") =!= 48L))).count()
      println(f"SCALECHUNK n=$n%8d rows=$nOut wrong=$wrong $t%6.1f s")
      c.check(nOut == n && wrong == 0, "SCALECHUNK closed-form mismatch")
      t
    }
    c.growth("SCALECHUNK", walls(0), walls(1), 6, 10)
  }

  /** Binary-code ANN scale tier (`runMain graft.ScaleSmoke hamming1m`):
    * hammingTopK over 1M synthetic 64-dim vectors (8 queries, each with a
    * planted hamming-2 twin half the corpus away). Checks (a) the planted
    * twin ranks first for every query at every size — the packing and
    * popcount ranking stay exact as the corpus grows — and (b) the wall
    * scales ~linearly: the scorer is ONE corpus pass over two packed
    * longs per row (the 64 floats never cross the join). */
  /** Image perceptual-dedup scale tier (`runMain graft.ScaleSmoke
    * phash200k`): 50k → 200k REAL PNG payloads (encode + ImageIO decode
    * per image — the codec-bound regime an image corpus actually runs
    * in), 1% planted brightness-shifted twins. phashPairs must recover
    * exactly the planted set at hamming 0 (byte payloads all differ);
    * wall tracks codec throughput and must stay ~linear — the pair
    * search itself is band-bounded. */
  private def phash200k(c: Ctx): Unit = {
    import graft.ext.{Multimodal, MultimodalCodecs}
    import c.spark
    implicit val s: SparkSession = spark
    import spark.implicits._

    def synth(n: Long) = {
      val half = n / 2
      // upper-half id i+half shares lower-half id i's pattern when
      // i % 50 == 0 (planted twin at a different brightness); everyone
      // else gets their own pattern
      spark.range(n)
        .select(col("id"), when(col("id") >= half &&
            pmod(col("id") - half, lit(50L)) === 0L, col("id") - half)
          .otherwise(col("id")).as("pat"),
          pmod(col("id"), lit(33L)).cast("int").as("bright"))
        .repartition(col("id"))
        .as[(Long, Long, Int)]
        .mapPartitions(_.map { case (id, pat, bright) =>
          val seed = java.security.MessageDigest.getInstance("MD5")
            .digest(java.lang.Long.toString(pat).getBytes("UTF-8"))
          (id, MultimodalCodecs.syntheticImage(seed, brightness = bright))
        }).toDF("doc_id", "payload")
    }

    val walls = Seq(50000L, 200000L).map { n =>
      val half = n / 2
      val t0 = System.nanoTime()
      val hashed = Multimodal.dHashes(synth(n), "doc_id", "payload")
        .localCheckpoint(true)
      val tCodec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val pairs = Multimodal.phashPairs(hashed)
        .localCheckpoint(true)
      val tPairs = (System.nanoTime() - t1) / 1e9
      val nPairs = pairs.count()
      val bad = pairs.where(col("doc_b") =!= col("doc_a") + half ||
        pmod(col("doc_a"), lit(50L)) =!= 0L ||
        col("hamming") =!= 0L).count()
      println(f"SCALEPHASH n=$n%7d pairs=$nPairs bad=$bad codec=$tCodec%6.1f s " +
        f"(${n / tCodec}%.0f img/s) pairs=$tPairs%5.1f s")
      c.check(nPairs == half / 50 && bad == 0, "SCALEPHASH planted-twin mismatch")
      tCodec + tPairs
    }
    c.growth("SCALEPHASH", walls(0), walls(1), 8, 10)
  }

  /** Containment-join scale tier (`runMain graft.ScaleSmoke contain1m`):
    * lower half = 12-token fragments (globally unique token streams),
    * upper half = 20-token hosts; 1% of hosts embed their matching
    * fragment verbatim (the planted doc-inside-doc set), the rest append
    * unique filler. The one-sided prefix filter must recover EXACTLY the
    * planted (frag, host) pairs at containment 1.0 — token uniqueness
    * makes any extra candidate a correctness bug, and the rarest-first
    * prefix keeps host prefixes on their f=1 unique shingles so the
    * candidate volume is ~the planted set, not hosts×frags. Wall must
    * stay ~linear 250k → 1M. */
  private def contain1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark

    val walls = Seq(250000L, 1000000L).map { n =>
      val half = n / 2
      val docs = containDocs(spark, n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val sh = Dedup.hashedShingles(docs, "id", "text", 3)
      val pairs = Dedup.containmentPairs(sh, 0.9).localCheckpoint(true)
      val t = (System.nanoTime() - t0) / 1e9
      val nPairs = pairs.count()
      val bad = pairs.where(col("doc_b") =!= col("doc_a") + half ||
        pmod(col("doc_a"), lit(100L)) =!= 0L ||
        col("containment") =!= 1.0).count()
      println(f"SCALECONTAIN n=$n%8d pairs=$nPairs bad=$bad $t%6.1f s")
      c.check(nPairs == half / 100 && bad == 0, "SCALECONTAIN planted-pair mismatch")
      t
    }
    c.growth("SCALECONTAIN", walls(0), walls(1), 6, 10)
  }

  private def hamming1m(c: Ctx): Unit = {
    import graft.ext.Similarity
    import c.spark

    // sign pattern keyed by (id mod half): ids i and i+half share it,
    // except dims 0-1 flip on the upper half -> planted hamming-2 twins
    def synth(n: Long) = {
      val half = n / 2
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          when(pmod(xxhash64(pmod(col("id"), lit(half)), i), lit(2L)) === 0L,
            lit(0.5f)).otherwise(lit(-0.5f)) *
          when(col("id") >= half && i < 2, lit(-1.0f)).otherwise(lit(1.0f)))
          .as("embedding"))
    }

    val walls = Seq(250000L, 1000000L).map { n =>
      val vecs = synth(n).localCheckpoint(true)
      val queries = vecs.where(col("vec_id") < 8).localCheckpoint(true)
      val t0 = System.nanoTime()
      val top = Similarity.hammingTopK(vecs, queries, "vec_id", "embedding",
          k = 3)
        .localCheckpoint(true)
      val nOut = top.count()
      val t = (System.nanoTime() - t0) / 1e9
      val wrongTop = top.where(col("rank") === 1 &&
        (col("candidate_id") =!= col("query_id") + n / 2 ||
          col("hamming") =!= 2L)).count()
      println(f"SCALEHAMMING n=$n%8d rows=$nOut wrongTop=$wrongTop $t%6.1f s")
      c.check(nOut == 24 && wrongTop == 0, "SCALEHAMMING planted-twin mismatch")
      t
    }
    c.growth("SCALEHAMMING", walls(0), walls(1), 6, 10)
  }

  /** C4 line-frequency filter scale tier (`runMain graft.ScaleSmoke
    * linefreq1m`): 1M docs, each = one corpus-wide 8-token boilerplate
    * chunk + 3 unique chunks. The frequent set resolves to exactly ONE
    * hash (broadcast stays trivially small no matter the corpus size);
    * every doc must keep 3 of 4 chunks; the wall must stay ~linear
    * (one long-keyed aggregate + broadcast probe + doc-keyed rebuild). */
  private def linefreq1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark

    val boiler = (0 until 8).map(i => s"b$i").mkString(" ")
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(boiler + " "),
        concat_ws(" ", transform(sequence(lit(0), lit(23)), i =>
          concat(lit("u"), col("id") * 24 + i)))).as("text"))

    val walls = Seq(250000L, 1000000L).map { n =>
      val docs = synth(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = Dedup.lineFreqFilter(docs, "doc_id", "text", chunkTokens = 8)
        .localCheckpoint(true)
      val nOut = out.count()
      val t = (System.nanoTime() - t0) / 1e9
      val wrong = out.where(col("n_chunks") =!= 4L ||
        col("kept_chunks") =!= 3L).count()
      println(f"SCALELINEFREQ n=$n%8d rows=$nOut wrong=$wrong $t%6.1f s")
      c.check(nOut == n && wrong == 0, "SCALELINEFREQ closed-form mismatch")
      t
    }
    c.growth("SCALELINEFREQ", walls(0), walls(1), 6, 10)
  }

  /** Mean-pooling scale tier (`runMain graft.ScaleSmoke centroid1m`):
    * element-wise per-label centroids over 1M 64-dim vectors (64M
    * exploded rows into 16·64 groups). Pins: (1) BIT-EQUALITY under
    * different partitioning (the exact-decimal-partials claim at
    * volume); (2) near-linear wall 250k → 1M (map-side combine holds —
    * the aggregate's group count is constant, so all growth is the
    * narrow scan+explode). */
  /** Engagement-analytics scale tier (`runMain graft.ScaleSmoke
    * engage10m`): DAU/WAU and weekly retention over synthetic event
    * streams at 2.5M and 10M rows × 100k users. The property that
    * matters at corpus scale: the ONLY event-volume-sized operation is
    * the (user, day|week) distinct collapse; everything downstream runs
    * on the collapsed O(users × periods) frame, and the WAU range join
    * fans those rows ≤ 7×. Pins: bit-equal results under repartition
    * (exact integer counts), full day coverage, multiple retention
    * cohorts, and near-linear wall 2.5M → 10M. */
  private def engage10m(c: Ctx): Unit = {
    import graft.ext.EventOps
    import c.spark
    def synth(n: Long) = spark.range(n).select(
      col("id").as("event_id"),
      (col("id") % 100000L).as("user_id"),
      // 60 uniform days; per-user sparsity emerges from the hash spread
      timestamp_seconds(lit(1704067200L) +
        pmod(xxhash64(col("id")), lit(5184000L))).as("ts"))
    val walls = Seq(2500000L, 10000000L).map { n =>
      val ev = synth(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val au = EventOps.activeUsers(ev, "user_id", "ts")
        .orderBy("day").collect().toSeq
      val ret = EventOps.weeklyRetention(ev, "user_id", "ts")
        .orderBy("cohort_week", "week_offset").collect().toSeq
      val t = (System.nanoTime() - t0) / 1e9
      val au2 = EventOps.activeUsers(ev.repartition(29), "user_id", "ts")
        .orderBy("day").collect().toSeq
      val cohorts = ret.map(_.getLong(0)).distinct.size
      println(f"SCALEENGAGE n=$n%9d days=${au.size} cohorts=$cohorts " +
        f"bitEqual=${au == au2} $t%6.1f s")
      c.check(au.size == 60 && cohorts >= 2 && au == au2, "SCALEENGAGE invariant violated")
      t
    }
    c.growth("SCALEENGAGE", walls(0), walls(1), 6, 10)
  }

  private def centroid1m(c: Ctx): Unit = {
    import graft.ext.Similarity
    import c.spark
    def synth(n: Long) = spark.range(n).select(
      (col("id") % 16).cast("int").as("label"),
      transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id"), i), lit(2001L)) - 1000L).cast("double")
          / 1000.0).as("vec"))
    val walls = Seq(250000L, 1000000L).map { n =>
      val vecs = synth(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val a = Similarity.meanVectorByKey(vecs, "label", "vec")
        .orderBy("label", "dim").collect().toSeq
      val t = (System.nanoTime() - t0) / 1e9
      val b = Similarity.meanVectorByKey(vecs.repartition(29), "label", "vec")
        .orderBy("label", "dim").collect().toSeq
      val eq = a == b
      println(f"SCALECENTROID n=$n%8d groups=${a.size} bitEqual=$eq $t%6.1f s")
      c.check(a.size == 16 * 64 && eq, "SCALECENTROID invariance violated")
      t
    }
    c.growth("SCALECENTROID", walls(0), walls(1), 6, 10)
  }

  /** Portable-Bloom scale tier (`runMain graft.ScaleSmoke bloom1m`):
    * build the m = 2²³-bit filter over an ~0.8n-doc corpus, pack it
    * (collect bounded by m/64 words, not corpus size), probe 0.2n docs
    * both ways — the broadcast-join form and the packed row-local form —
    * and pin: (1) ZERO false negatives at both sizes (every planted
    * duplicate flagged); (2) the measured false-positive rate within 3×
    * of the (1−e^{−kn/m})^k formula (the filter actually behaves like a
    * Bloom filter, not a degenerate hash); (3) the two probe forms make
    * IDENTICAL decisions; (4) probe wall near-linear 250k → 1M. */
  private def bloom1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark

    // text(id) = unique 8-token line, except id % 10 == 0 copies id + 1:
    // probes (id % 5 == 0) then contain n/10 planted true duplicates of
    // corpus docs (id + 1 % 5 != 0) and n/10 novel docs (id % 10 == 5)
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(7)), i =>
        concat(lit("w"),
          when(col("id") % 10 === 0, col("id") + 1).otherwise(col("id")) * 8 + i)))
        .as("text"))

    val m = 1 << 23
    val k = 5
    val walls = Seq(250000L, 1000000L).map { n =>
      val docs = synth(n).localCheckpoint(true)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val probes = docs.where(col("doc_id") % 5 === 0).localCheckpoint(true)
      val t0 = System.nanoTime()
      val bits = Dedup.bloomBuild(corpus, "text", m, k).localCheckpoint(true)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val joined = Dedup.bloomProbe(probes, "doc_id", "text", bits, m, k)
        .localCheckpoint(true)
      joined.count()
      val tJoin = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val words = Dedup.packBloomBits(bits, m)
      val tPack = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val local = probes.select(col("doc_id"),
          Dedup.bloomMightContain(col("text"), words, m, k)
            .cast("long").as("maybe_dup")).localCheckpoint(true)
      local.count()
      val tLocal = (System.nanoTime() - t3) / 1e9
      // (1) no false negatives: every planted dup (id % 10 == 0) flags
      val fn = joined.where(col("doc_id") % 10 === 0 && col("maybe_dup") === 0L)
        .count()
      // (2) FP rate among novel probes (id % 10 == 5) vs the formula
      val novel = joined.where(col("doc_id") % 10 === 5)
      val fp = novel.where(col("maybe_dup") === 1L).count()
      val nNovel = novel.count()
      val nDistinct = corpus.select(col("text")).distinct().count()
      val expFp = math.pow(1.0 - math.exp(-k.toDouble * nDistinct / m), k)
      val fpRate = fp.toDouble / nNovel
      // (3) the two probe forms agree row-for-row
      val disagree = joined.as("a").join(local.as("b"),
          col("a.doc_id") === col("b.doc_id"))
        .where(col("a.maybe_dup") =!= col("b.maybe_dup")).count()
      println(f"SCALEBLOOM n=$n%8d distinct=$nDistinct fn=$fn " +
        f"fp=$fp/$nNovel (rate=$fpRate%.5f, formula=$expFp%.5f) " +
        f"disagree=$disagree build=$tBuild%.1f s join-probe=$tJoin%.1f s " +
        f"pack=$tPack%.1f s local-probe=$tLocal%.1f s")
      c.check(fn == 0 && disagree == 0, "SCALEBLOOM exactness violated")
      c.check(fpRate <= 3 * expFp + 1e-4 && (expFp <= 1e-3 || fpRate >= expFp / 3),
        "SCALEBLOOM FP rate off the Bloom formula")
      tJoin + tLocal
    }
    c.growth("SCALEBLOOM probe", walls(0), walls(1), 6, 10)
  }

  /** Adversarial HOT-BUCKET skew measurement (`runMain graft.ScaleSmoke
    * hotbucket1m`): an identical-doc-heavy corpus — n/100 exact copies of
    * ONE document inside n docs (10k copies at 1M) — drives every copy
    * into the same (band, key) bucket of every MinHash band, so naive
    * banding does O(k²) candidate work inside single straggler tasks:
    * the classic LSH skew failure at 100×. Pins the
    * [[graft.ext.Dedup.dedupClustersDistinctWith]] short-circuit claims:
    * (1) banding INPUT is distinct-content only — max banding-bucket
    * size stays O(1) while the naive max bucket equals the copy count;
    * (2) candidate-pair occupancy is ~flat vs the copy count (naive
    * grows with k²); (3) the end-to-end cluster pipeline stays
    * near-linear in n under the adversarial mix, with exact roots (the
    * hot family resolves to one cluster of exactly k copies rooted at
    * doc 0). */
  private def hotbucket1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark
    import spark.implicits._

    def occupancyStats(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): (Long, Long) = {
      val r = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("k"))
        .agg(coalesce(sum(col("k") * (col("k") - 1)), lit(0L)).as("c2"),
          coalesce(max(col("k")), lit(0L)).as("mx"))
        .as[(Long, Long)].head()
      (r._1 / 2, r._2)
    }

    // the dedup1m corpus (60 words / 5000 vocab, 2% planted near-dups)
    // with an adversarial hot block: ids < n/100 all carry the SAME text
    def synthDocs(n: Long) = {
      val vocab = array((0 until 5000).map(i => lit(s"w$i")): _*)
      val hot = n / 100
      val base = spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(50L)) === 1L, col("id") - 1)
          .otherwise(col("id")).as("seed"),
        pmod(col("id"), lit(50L)).as("variant"))
      base.select(col("doc_id"),
        when(col("doc_id") < hot,
          lit((0 until 60).map(i => s"hot$i").mkString(" ")))
        .otherwise(concat_ws(" ",
          transform(sequence(lit(0), lit(59)), i =>
            when(i === 0 && col("variant") === 1L, lit("wX"))
              .otherwise(element_at(vocab,
                (pmod(xxhash64(col("seed"), i), lit(5000L)) + 1).cast("int"))))))
          .as("text"))
    }

    val times = Seq(250000L, 1000000L).map { n =>
      val k = n / 100
      val docs = synthDocs(n).localCheckpoint(true)
      // the row-local signature minhashDupPairs bands
      def sigs(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id").as("doc"), Dedup.minhashSignature(
          Dedup.shingleArray(split(col("text"), " "), Dedup.ShingleWidth),
          Dedup.MinhashHashes).as("sig"))
      // naive banding over ALL docs: the hot bucket holds every copy
      val (naiveCand, naiveMax) = occupancyStats(
        Dedup.minhashBands(sigs(docs), Dedup.MinhashBands,
          Dedup.MinhashHashes / Dedup.MinhashBands), Seq("band", "bandhash"))
      // short-circuit banding input: distinct representatives only
      val reps = Dedup.exactDupReps(docs, "doc_id", "text")
      val repDocs = docs.join(
        reps.where(col("doc") === col("rep")).select(col("doc")),
        col("doc_id") === col("doc"), "left_semi")
      val (scCand, scMax) = occupancyStats(
        Dedup.minhashBands(sigs(repDocs), Dedup.MinhashBands,
          Dedup.MinhashHashes / Dedup.MinhashBands), Seq("band", "bandhash"))
      println(f"SCALEHOT n=$n%8d copies=$k%6d naive: cand=$naiveCand%12d maxBucket=$naiveMax%6d | " +
        f"distinct: cand=$scCand%12d maxBucket=$scMax%6d")
      // claim 1+2: naive max bucket == copy count; short-circuited banding
      // never sees the copies (max bucket stays small and copy-independent)
      c.check(naiveMax >= k, "SCALEHOT naive max bucket should equal copy count")
      c.check(scMax <= 64, s"SCALEHOT distinct-banding max bucket $scMax too large")
      c.check(scCand * 100 <= naiveCand, "SCALEHOT expected >=100x candidate reduction")
      // claim 3: end-to-end clustering under the mix — exact roots
      val t0 = System.nanoTime()
      val labels = Dedup.dedupClustersDistinctWith(docs, "doc_id", "text")(
          Dedup.minhashDupPairs(_, "doc_id", "text", 0.5))
        .localCheckpoint(true)
      val hotWrong = labels.where(col("doc") < k && col("root") =!= 0L).count()
      val hotSize = labels.where(col("root") === 0L).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"SCALEHOT n=$n%8d cluster(hot): size=$hotSize (want $k) wrong=$hotWrong $t%.1f s")
      c.check(hotWrong == 0 && hotSize == k)
      t
    }
    val growth = times(1) / math.max(times.head, 0.001)
    // REPORT-ONLY: this shared host shows minute-scale noisy-neighbor
    // windows (the bench already discards 10-30 s stalls via best-of-2;
    // a single end-to-end run can't), so wall growth is recorded but
    // the tier's hard assertions are the load-independent ones above —
    // bucket sizes, candidate counts and exact roots.
    println(f"SCALEHOT growth (4x rows) = $growth%.2fx " +
      (if (growth < 8.0) "NEAR-LINEAR" else "(noise-prone wall clock)"))
  }

  /** 1M-tier IVF-PQ measurement (`runMain graft.ScaleSmoke pq1m`):
    * builds the persisted compressed index at 250k and 1M vectors
    * (same planted-neighbor fixture as ann1m) and measures what
    * justifies PQ's existence at 100 TB: recall@10 WITH the IVFADC+R
    * exact re-rank, the probed-partition scan fraction, and the
    * on-disk BYTES of the ADC long-list corpus (codes + recon norm)
    * vs the full-vector corpus — the factor by which the dominant
    * scan shrinks. Asserts recall ≥ 0.9, scan fraction < 0.15, byte
    * reduction ≥ 4×. */
  private def pq1m(c: Ctx): Unit = {
    import graft.ext.Similarity
    import c.spark
    import spark.implicits._
    def dirBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    val nLists = 128; val nProbe = 8; val k = 10; val nQueries = 100L
    Seq(250000L, 1000000L).foreach { n =>
      println(s"--- pq1m: $n vectors (64-dim), nLists=$nLists nProbe=$nProbe m=8 ---")
      val vecs = plantedPairVecs(spark, n).cache(); vecs.count()
      val idx = s"/tmp/graft_scale_pq_idx_$n"
      var t0 = System.nanoTime()
      Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", idx,
        nLists = nLists, m = 8, pqK = 256, iters = 2)
      println(f"SCALEPQ build-index              ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val pqBytes = dirBytes(s"$idx/corpus_pq")
      val fullBytes = dirBytes(s"$idx/corpus")
      val ratio = fullBytes.toDouble / pqBytes
      println(f"SCALEPQ scan-bytes               codes=$pqBytes%12d full=$fullBytes%12d reduction=${ratio}%.1fx")
      // measured scan fraction over the probed lists
      val cents = Similarity.loadIvfCentroids(spark, idx)
      val queries = vecs.where(pmod(col("vec_id"), lit(100L)) === 1L &&
        col("vec_id") < lit(100L * nQueries)).cache()
      val listSizes = spark.read.parquet(s"$idx/corpus_pq")
        .groupBy("list").agg(count(lit(1)).as("sz"))
      val scanFrac = queries
        .select(col("vec_id").as("query_id"),
          explode(Similarity.nearestLists(col("embedding"), cents, nProbe)).as("list"))
        .join(listSizes, "list")
        .groupBy("query_id").agg(sum(col("sz")).as("scanned"))
        .agg(avg(col("scanned"))).as[Double].head() / n
      t0 = System.nanoTime()
      val topk = Similarity.ivfPqProbeRerank(spark, idx, queries,
        "vec_id", "embedding", k = k, nProbe = nProbe, rerankR = 40)
      val hits = topk.where(col("candidate_id") === col("query_id") - 1)
        .select(countDistinct(col("query_id"))).as[Long].head()
      val recall = hits.toDouble / nQueries
      println(f"SCALEPQ adc-rerank-probe         ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println(f"SCALEPQ recall@$k with rerank    $recall%.3f (scan fraction $scanFrac%.4f)")
      c.check(recall >= 0.9 && scanFrac <= 0.15 && ratio >= 4.0)
      queries.unpersist(); vecs.unpersist()
    }
  }

  /** Planted-duplicate global top-N measurement (`runMain
    * graft.ScaleSmoke toppairs1m`): 250k/1M vectors with 1%-planted
    * near-duplicate pairs (cosine ≈ 0.999). [[graft.ext.Similarity
    * .topPairsLsh]] must recover the planted set through banded-LSH
    * candidates + exact verify — the declared emb_lsh_top_pairs plan
    * shape — while generating orders of magnitude fewer candidate
    * pairs than the n²/2 a brute-force top-N would score. Asserts
    * recall ≥ 0.999 and zero non-planted emissions. */
  private def toppairs1m(c: Ctx): Unit = {
    import graft.ext.Similarity
    import graft.functions.VectorFunctions
    import c.spark
    import spark.implicits._
    Seq(250000L, 1000000L).foreach { n =>
      val nPlanted = n / 100
      val bits = (math.ceil(math.log(n.toDouble) / math.log(2.0)) + 2).toInt
      println(s"--- toppairs1m: $n vectors, $nPlanted planted pairs, bits=$bits bands=16 ---")
      val vecs = plantedPairVecs(spark, n).cache(); vecs.count()
      // candidate volume: banding-bucket occupancy Σ k(k−1)/2 — the pair
      // count the verify stage scores, vs n²/2 for brute force
      val sigs = (0 until 16).map(b => vecs.select(lit(b).as("band"),
          VectorFunctions.hyperplaneSig(col("embedding"), bits, b.toLong)
            .as("lsh_sig")))
        .reduce(_ unionByName _)
      val cand = sigs.groupBy("band", "lsh_sig").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L))).as[Long].head() / 2
      val bruteForce = n * (n - 1) / 2
      println(f"SCALETOP candidates=$cand%12d vs brute=$bruteForce%15d (${bruteForce.toDouble / math.max(cand, 1)}%.0fx fewer)")
      val t0 = System.nanoTime()
      val got = Similarity.topPairsLsh(vecs, "vec_id", "embedding",
          topN = nPlanted.toInt, minCosine = 0.9, bits = bits, bands = 16)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val t = (System.nanoTime() - t0) / 1e9
      val planted = (0L until n by 100L).map(i => (i, i + 1)).toSet
      val recall = got.intersect(planted).size.toDouble / planted.size
      val falsePos = (got -- planted).size
      println(f"SCALETOP top-$nPlanted recovered  recall=$recall%.4f falsePos=$falsePos $t%.1f s")
      c.check(recall >= 0.999 && falsePos == 0)
      vecs.unpersist()
    }
  }

  /** 1M-tier ANN recall/probe-fraction measurement (`runMain
    * graft.ScaleSmoke ann1m`): synthetic 64-dim vectors with planted
    * near-neighbors (id ≡ 1 mod 100 is a perturbed copy of id−1,
    * cosine ≈ 0.999), at 250k and 1M vectors. For IVF (one shared k-means
    * training per tier): recall@10 of the planted neighbor over 500
    * planted queries, plus the MEASURED scan fraction — mean over queries
    * of Σ probed-list sizes / n, the number that says what fraction of a
    * 100 TB corpus a probe actually touches. For banded hyperplane LSH
    * (bits ≈ log2 n + 2 sizing rule): recall of the planted pairs.
    * Asserts recall floors (0.9) and scan fraction < 0.15; measured
    * output is recorded in README §scale. */
  private def ann1m(c: Ctx): Unit = {
    import graft.ext.Similarity
    import c.spark
    import spark.implicits._

    val nLists = 256; val nProbe = 8; val k = 10; val nQueries = 500L
    Seq(250000L, 1000000L).foreach { n =>
      println(s"--- ann1m: $n vectors (64-dim), nLists=$nLists nProbe=$nProbe ---")
      val vecs = plantedPairVecs(spark, n).cache(); vecs.count()
      // ---- IVF: one training shared by the recall and fraction probes
      var t0 = System.nanoTime()
      val cents = Similarity.learnCentroidArrays(
        vecs, "vec_id", "embedding", nLists, 2)
      println(f"SCALEANN train-kmeans            ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val assigned = vecs
        .withColumn("list", Similarity.nearestList(col("embedding"), cents))
        .cache()
      val listSizes = assigned.groupBy("list").agg(count(lit(1)).as("sz"))
      // planted queries: the perturbed copies; expected neighbor = id − 1
      val queries = vecs.where(pmod(col("vec_id"), lit(100L)) === 1L &&
        col("vec_id") < lit(100L * nQueries))
      val qProbes = queries.select(col("vec_id").as("query_id"),
          col("embedding").as("qvec"),
          explode(Similarity.nearestLists(col("embedding"), cents, nProbe))
            .as("list"))
        .cache()
      // measured scan fraction: what a probe actually reads of the corpus
      val scanFrac = qProbes.join(listSizes, "list")
        .groupBy("query_id").agg(sum(col("sz")).as("scanned"))
        .agg(avg(col("scanned"))).as[Double].head() / n
      t0 = System.nanoTime()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("candidate_id"))
      val topk = assigned.join(broadcast(qProbes), Seq("list"))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("candidate_id"),
          (Similarity.dot(col("qvec"), col("embedding")) /
            (Similarity.norm(col("qvec")) * Similarity.norm(col("embedding"))))
            .as("cosine"))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      val hits = topk.where(col("candidate_id") === col("query_id") - 1)
        .select(countDistinct(col("query_id"))).as[Long].head()
      val ivfRecall = hits.toDouble / nQueries
      println(f"SCALEANN ivf-probe               ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println(f"SCALEANN ivf-recall@$k           $ivfRecall%.3f (scan fraction $scanFrac%.4f)")
      c.check(ivfRecall >= 0.9 && scanFrac <= 0.15)
      qProbes.unpersist(); assigned.unpersist()
      // ---- banded hyperplane LSH with the sized-bits rule
      val bits = (math.ceil(math.log(n.toDouble) / math.log(2.0)) + 2).toInt
      t0 = System.nanoTime()
      val planted = Similarity.lshBucketedPairs(vecs, "vec_id", "embedding",
          minCosine = 0.9, bits = bits, bands = 8)
        .where(col("id_b") === col("id_a") + 1 &&
          pmod(col("id_a"), lit(100L)) === 0L)
        .count()
      val nPlanted = n / 100
      val lshRecall = planted.toDouble / nPlanted
      println(f"SCALEANN lsh-pairs-b$bits         ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println(f"SCALEANN lsh-recall              $lshRecall%.3f ($planted of $nPlanted planted)")
      c.check(lshRecall >= 0.9)
      vecs.unpersist()
    }
  }

  /** Exact pruned ANN at 1M (`runMain graft.ScaleSmoke exactann1m`):
    * the r10 guaranteed-exact IVF probe on a CLUSTERED corpus — the
    * regime the triangle-inequality bound exists for. 64 tight planted
    * clusters (spread 0.02 around xxhash-derived centers), 1M vectors,
    * 100 queries: ivfTopKExact must return EXACTLY brute-force top-10
    * (set equality, 1 000 rows) while the bound-qualifying scan stays a
    * small fraction of the corpus and the wall beats the brute-force
    * scan. Red (exit 1) on any mismatch, on scan fraction > 0.5, or on
    * pruned wall > brute wall. */
  private def exactann1m(c: Ctx): Unit = {
    import graft.ext.Similarity
    import c.spark
    import spark.implicits._
    val n = 1000000L; val cClusters = 64; val k = 10; val nProbe = 4
    def synthClustered(n: Long) = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(pmod(col("id"), lit(cClusters.toLong)), i),
            lit(2001L)) - 1000L).cast("double") / 1000.0)
          + ((pmod(xxhash64(col("id"), i, lit(7L)), lit(2001L)) - 1000L)
            .cast("double") / 1000.0) * 0.02).as("embedding"))
    val vecs = synthClustered(n).cache(); vecs.count()
    val queries = vecs.where(col("vec_id") < 100L).cache(); queries.count()
    var t0 = System.nanoTime()
    val cents = Similarity.learnCentroidArrays(
      vecs, "vec_id", "embedding", cClusters, 2)
    println(f"SCALEEXACTANN train-kmeans   ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    t0 = System.nanoTime()
    val radii = Similarity.listRadii(vecs, "embedding", cents)
    println(f"SCALEEXACTANN list-radii     ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    t0 = System.nanoTime()
    val pruned = Similarity.ivfTopKExact(vecs, queries, "vec_id",
        "embedding", k, nProbe, cents, Some(radii))
      .select(col("query_id"), col("rank"), col("candidate_id"),
        col("cosine"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val tPruned = (System.nanoTime() - t0) / 1e9
    println(f"SCALEEXACTANN pruned-exact   $tPruned%6.1f s (${pruned.size} rows)")
    t0 = System.nanoTime()
    val brute = Similarity.cosineTopK(vecs, queries, "vec_id", "embedding", k)
      .select(col("query_id"), col("rank"), col("candidate_id"),
        col("cosine"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val tBrute = (System.nanoTime() - t0) / 1e9
    println(f"SCALEEXACTANN brute-force    $tBrute%6.1f s (${brute.size} rows)")
    c.check(pruned == brute, "SCALEEXACTANN MISMATCH vs brute")
    // post-hoc bound audit: the fraction of the corpus the bound admits
    // (phase-1 probed lists ∪ bound-qualifying lists), from the exact
    // kth cosines — the number that holds at 1000 executors
    val anchors = cents.map { c =>
      val nn = math.sqrt(c.map(x => x * x).sum)
      if (nn == 0.0) c else c.map(_ / nn)
    }
    val listSz = vecs
      .withColumn("list", Similarity.nearestList(col("embedding"), cents))
      .groupBy("list").agg(count(lit(1)).as("sz"))
      .as[(Int, Long)].collect().toMap
    // r11 advice: τ must come from the PHASE-1 probe's kth cosine — the
    // cut the engine actually evaluates — not from brute force's kth
    // (probe kth ≤ brute kth ⇒ probe τ ≥ brute τ, so a brute-derived
    // audit could understate what the engine admits). Replay phase 1
    // exactly: probe the nProbe lists with the engine's routing, score
    // with the engine's rounded cosine, take the kth of that set.
    val aud = vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .withColumn("list", Similarity.nearestList(col("embedding"), cents))
      .withColumn("_cn", Similarity.norm(col("embedding")))
    val qProbesAud = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qvec"))
      .withColumn("_qn", Similarity.norm(col("qvec")))
      .withColumn("list",
        explode(Similarity.nearestLists(col("qvec"), cents, nProbe)))
    val wAud = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("candidate_id"))
    val p1kth = aud.join(broadcast(qProbesAud), Seq("list"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("candidate_id"),
        round(Similarity.dot(col("qvec"), col("embedding")) /
          (col("_qn") * col("_cn")), 6).as("cosine"))
      .withColumn("_rk", row_number().over(wAud)).where(col("_rk") <= k)
      .groupBy(col("query_id"))
      .agg(min(col("cosine")).as("cosk"), count(lit(1)).as("nk"))
      .as[(Long, Double, Long)].collect()
      .map { case (q, ck, nk) => q -> (if (nk == k) Some(ck) else None) }
      .toMap
    val qv = queries.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val fracs = qv.map { case (qid, v) =>
      val qn = math.sqrt(v.map(x => x * x).sum)
      val qh = v.map(_ / qn).toArray
      val tau = p1kth.getOrElse(qid, None) match {
        case Some(ck) => math.sqrt(2.0 * (1.0 - ck) + 4e-6)
        case None => 2.1
      }
      // phase-1 probe set replayed the way the ENGINE routes: RAW-vector
      // distance to RAW centroids with the (score, list) tie order of
      // nearestLists — unit anchors enter only the phase-2 bound (r10
      // review: auditing a unit-anchor probe set could measure a
      // different scan than the one that ran)
      val probed = cents.indices.sortBy { l =>
        (v.zip(cents(l)).map { case (a, b) => (a - b) * (a - b) }.sum, l)
      }.take(nProbe).toSet
      val admitted = anchors.indices.filter { l =>
        val qa = math.sqrt(
          qh.zip(anchors(l)).map { case (a, b) => (a - b) * (a - b) }.sum)
        probed(l) || qa <= tau + radii.getOrElse(l, 2.0)
      }
      admitted.map(l => listSz.getOrElse(l, 0L)).sum.toDouble / n
    }
    val avgFrac = fracs.sum / fracs.length
    println(f"SCALEEXACTANN scan-fraction  $avgFrac%6.3f (avg over ${qv.length} queries)")
    c.check(avgFrac <= 0.5, "SCALEEXACTANN bound admits too much")
    c.check(tPruned <= tBrute, "SCALEEXACTANN no speedup over brute")
  }

  /** Substring-dedup scale tier (`runMain graft.ScaleSmoke substr1m`):
    * spans + strip at 250k and 1M docs. Unique-token docs (30 tokens,
    * xxhash-derived per doc) with 1% planted SHIFTED copies — doc i
    * (i % 100 == 1 in the upper half) carries a 5-token shared prefix
    * plus doc (i−1)'s token stream — so duplicated windows track the
    * planted set, not n². Exactness is asserted in closed form: each
    * planted pair yields exactly one span (0, 29, 23 windows) in the
    * original and one (5, 34, 23) in the copy, nothing else; strip
    * removes exactly 30 tokens per copy and zero elsewhere. Wall must
    * stay near-linear 250k → 1M (red above 6× + 10 s). */
  private def substr1m(c: Ctx): Unit = {
    import graft.ext.Dedup
    import c.spark
    def synth(n: Long) = {
      val planted = col("id") >= n / 2 && pmod(col("id"), lit(100L)) === 1L
      spark.range(n).select(col("id"),
        when(planted, concat_ws(" ",
            lit("p0 p1 p2 p3 p4"), array_join(uniqueToks(col("id") - 1, 30), " ")))
          .otherwise(array_join(uniqueToks(col("id"), 30), " ")).as("text"))
    }
    val walls = Seq(250000L, 1000000L).map { n =>
      val nPlanted = spark.range(n).where(col("id") >= n / 2 &&
        pmod(col("id"), lit(100L)) === 1L).count()
      val docs = synth(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val spans = Dedup.substringDupSpans(docs, "id", "text", 8)
        .localCheckpoint(true)
      val tSpans = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val strip = Dedup.substringStrip(docs, "id", "text", 8)
        .agg(sum(col("removed_tokens")), count(lit(1))).collect()(0)
      val tStrip = (System.nanoTime() - t1) / 1e9
      println(f"SCALESUBSTR n=$n%8d spans=$tSpans%6.1f s strip=$tStrip%6.1f s")
      val t = tSpans + tStrip
      val nSpans = spans.count()
      val badSpans = spans.where(
        !(col("span_start") === 0 && col("span_end") === 29 &&
            col("n_windows") === 23) &&
        !(col("span_start") === 5 && col("span_end") === 34 &&
            col("n_windows") === 23)).count()
      val removed = strip.getLong(0)
      println(f"SCALESUBSTR n=$n%8d planted=$nPlanted spans=$nSpans " +
        f"bad=$badSpans removed=$removed $t%6.1f s")
      c.check(nSpans == 2 * nPlanted && badSpans == 0 && removed == 30 * nPlanted,
        "SCALESUBSTR planted accounting mismatch")
      t
    }
    c.growth("SCALESUBSTR", walls(0), walls(1), 6, 10)
  }

  /** Synthesize a 10× copy of an sf directory: every fact table becomes
    * ten key-shifted copies (stride 10^8 — far above any real or
    * query-planted key), so join fan-outs, group sizes, and duplicate /
    * near-duplicate group structure are PRESERVED per copy while
    * cardinality grows 10× — the shape of real corpus growth (new
    * shards bring new users/docs/vectors, not denser hot keys).
    * Dimension tables (region, nation) stay fixed, as TPC-H scaling
    * does. Cross-copy content is decorrelated on purpose:
    *  - documents: copies ≥ 1 tag every token (`tok` → `x3tok`), so
    *    intra-copy exact/near/substring duplicate relations replicate
    *    exactly but NO token, shingle, or window hash matches across
    *    copies — without this, 10 verbatim copies of each doc would
    *    turn every planted duplicate group into a 10×-bigger group and
    *    quadratic-in-group-size pair miners would red on DATA shape,
    *    not plan shape.
    *  - embeddings: copy i is circularly shifted by i positions — a
    *    permutation (orthogonal), so all intra-copy inner products are
    *    preserved bit-for-bit while cross-copy vectors decorrelate.
    *  - events: users shift (10× users at the same per-user density),
    *    timestamps keep their window/session structure. */
  private def make10x(spark: SparkSession, src: String, dst: String): Unit = {
    import org.apache.spark.sql.{Column, DataFrame}
    val K = 100000000L
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def tenfold(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until 10).map(i => copy(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    def sh(c: String, i: Int): Column = col(c) + lit(i * K)
    for (d <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$d.parquet")
        .write.mode("overwrite").parquet(s"$dst/$d.parquet")
    tenfold("customer")((df, i) => df.withColumn("c_custkey", sh("c_custkey", i)))
    tenfold("supplier")((df, i) => df.withColumn("s_suppkey", sh("s_suppkey", i)))
    tenfold("part")((df, i) => df.withColumn("p_partkey", sh("p_partkey", i)))
    tenfold("orders")((df, i) => df
      .withColumn("o_orderkey", sh("o_orderkey", i))
      .withColumn("o_custkey", sh("o_custkey", i)))
    tenfold("lineitem")((df, i) => df
      .withColumn("l_orderkey", sh("l_orderkey", i))
      .withColumn("l_partkey", sh("l_partkey", i))
      .withColumn("l_suppkey", sh("l_suppkey", i)))
    tenfold("events")((df, i) => df
      .withColumn("event_id", sh("event_id", i))
      .withColumn("user_id", sh("user_id", i)))
    tenfold("documents")((df, i) => {
      val txt = if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"x$i$$1")
      df.withColumn("doc_id", sh("doc_id", i))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt).cast("int"))
    })
    tenfold("embeddings")((df, i) => {
      val e = col("embedding")
      val rolled = if (i == 0) e
        else concat(slice(e, lit(i + 1), size(e) - i), slice(e, lit(1), lit(i)))
      df.withColumn("vec_id", sh("vec_id", i)).withColumn("embedding", rolled)
    })
  }

  /** Full-surface 10× sweep (`runMain graft.ScaleSmoke all10x [reps]`),
    * r10 VERDICT task 1: EVERY declared query timed at sf0.1 and at a
    * synthetic 10× of sf0.1 ([[make10x]]), per-query wall ratios
    * recorded, RED on any query whose ratio exceeds 15 (a linear-with-
    * shuffle query lands well under 15×; a quietly-quadratic one blows
    * through even from a cheap 1× base) — the heavy10x tier only
    * watched the 5 bench-heaviest queries, so a super-linear CHEAP
    * query could hide. Ratio noise containment: interleaved best-of-
    * `reps` (default 2) at both scales, and queries whose 10× wall
    * stays under 1 s are reported but never red (sub-second walls on
    * this host are scheduling noise, not asymptotics). Crashes at
    * either scale are red. Writes the full table to
    * /tmp/graft_all10x.json for BASELINE.md. */
  private def all10x(c: Ctx): Unit = {
    import c.spark
    val reps = c.args.headOption.map(_.toInt).getOrElse(2)
    sys.props("graft.recall") = "off" // bench conditions
    val src = "/root/testdata/sf0.1"
    val dst = "/tmp/graft_scale_sf10x"
    var t0 = System.nanoTime()
    make10x(spark, src, dst)
    println(f"SCALEALL10X synth        ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    val crashed = scala.collection.mutable.Map.empty[(String, String), String]
    for (rep <- 1 to reps; (tag, dir) <- Seq("1x" -> src, "10x" -> dst);
         name <- names) {
      t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        best((name, tag)) =
          math.min(best.getOrElse((name, tag), Double.MaxValue), t)
      } catch { case e: Throwable =>
        crashed((name, tag)) = s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200)
      }
      spark.catalog.clearCache()
    }
    val rows = names.map { n =>
      val miss = Seq("1x", "10x").filter(tg =>
        !best.contains((n, tg)) && crashed.contains((n, tg)))
      if (miss.nonEmpty) {
        c.check(false, s"SCALEALL10X $n CRASHED at ${miss.mkString(",")}: " +
          crashed((n, miss.head)))
        s""""$n": {"t1": -1, "t10": -1, "ratio": -1}"""
      } else {
        val (t1, t10) = (best((n, "1x")), best((n, "10x")))
        val ratio = t10 / math.max(t1, 0.05)
        val red = t10 >= 1.0 && ratio > 15.0
        c.check(!red)
        println(f"SCALEALL10X $n%-28s 1x $t1%7.2f s  10x $t10%7.2f s  " +
          f"ratio $ratio%6.2f${if (red) "  RED" else ""}")
        f""""$n": {"t1": $t1%.3f, "t10": $t10%.3f, "ratio": $ratio%.2f}"""
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft_all10x.json"),
      rows.mkString("{\n", ",\n", "\n}\n"))
    val ratios = names.flatMap(n => best.get((n, "1x")).zip(best.get((n, "10x")))
      .map { case (a, b) => b / math.max(a, 0.05) })
    if (ratios.nonEmpty) {
      val srt = ratios.sorted
      println(f"SCALEALL10X ${ratios.size} queries  median ratio " +
        f"${srt(srt.size / 2)}%4.2f  p90 ${srt((srt.size * 9) / 10)}%4.2f  " +
        f"max ${srt.last}%4.2f")
    }
    if (c.failed) println("SCALEALL10X RED")
  }

  /** Unigram-LM tokenizer trainer tier (`runMain graft.ScaleSmoke
    * unigram250k`), r13 VERDICT task 6: the Viterbi-EM trainer on
    * 250k docs, 30k word types (8 chars over a 4-letter alphabet),
    * k = 256 pieces, 2 EM rounds. Pins (a) the TYPE-LEVEL training wall
    * (the DP runs over 30k types, never 10M occurrences), (b) training
    * determinism under repartitioning (the integer-micro-cost +
    * string-min construction is partitioning-invariant by design), and
    * (c) apply totals within [n_words, n_symbols]. */
  private def unigram250k(c: Ctx): Unit = {
    import graft.ext.Unigram
    import c.spark
    import spark.implicits._
    val n = 250000L; val vocab = 30000L; val wordsPerDoc = 39
    val docs = base4Docs(spark, n, vocab, 8, wordsPerDoc + 1)
    var t0 = System.nanoTime()
    val trained = Unigram.train(docs, "text", k = 256)
    val tTrain = (System.nanoTime() - t0) / 1e9
    println(f"SCALEUNI train-256      $tTrain%6.1f s (${trained.size} pieces)")
    c.check(trained.size == 256, "SCALEUNI vocab size off")
    // determinism: training is a pure function of the corpus — a
    // different input partitioning must yield the identical cost table
    val trained7 = Unigram.train(docs.repartition(7), "text", k = 256)
    c.check(trained7 == trained, "SCALEUNI training not partitioning-invariant")
    t0 = System.nanoTime()
    val dict = graft.ext.Pin.pin(Unigram.typedDict(docs, "text", trained))
    val tot = Unigram.tokenCountsFromDict(docs, "id", "text", dict)
      .agg(sum(col("n_words")).cast("long"),
        sum(col("uni_tokens")).cast("long"))
      .as[(Long, Long)].head()
    val tApply = (System.nanoTime() - t0) / 1e9
    val nOcc = n * (wordsPerDoc + 1)
    println(f"SCALEUNI apply-typed    $tApply%6.1f s " +
      f"(words=${tot._1} tokens=${tot._2} symbols=${nOcc * 8})")
    c.check(tot._1 == nOcc && tot._2 >= nOcc && tot._2 <= nOcc * 8,
      "SCALEUNI token totals outside [n_words, n_symbols]")
    // a 256-piece unigram vocab must compress below the char baseline
    // on a 4-letter corpus (multi-char pieces exist and win somewhere)
    c.check(tot._2 < nOcc * 8, "SCALEUNI no compression vs chars")
    c.check(tTrain <= 420, "SCALEUNI train wall red")
    c.check(tApply <= 180, "SCALEUNI apply wall red")
  }

  /** Multi-generation incremental-OPTIMIZE tier (`runMain
    * graft.ScaleSmoke zorderinc1m`): the declared query proves ONE
    * append→compact cycle; a production table lives through MANY. 1M
    * base rows z-ordered into 256 files, then five generations of 50k
    * key-space-localized appends (shifting b2 bands — the
    * time-correlated ingest shape), each followed by a manifest-driven
    * incremental OPTIMIZE sized by the TABLE's rows-per-file, then a
    * final VACUUM. Pins, per cycle: (a) the rewrite set stays a
    * BOUNDED fraction of the table (the whole point — a 100 TB table
    * cannot rewrite itself per cycle); (b) manifest-pruned scans of the
    * fixed quarter×quarter box stay near the clustered optimum after
    * every compaction and never exceed a red line; (c) box counts from
    * the pruned read equal an independently-derived truth every cycle
    * (a wrong manifest or a lost row surfaces immediately); (d) VACUUM
    * reclaims exactly the cumulative logically-removed files and the
    * listing equals the live manifest. */
  private def zorderinc1m(c: Ctx): Unit = {
    import graft.ext.{Ranks, ZTable}
    import c.spark
    val n = 1000000L
    val p = "/tmp/graft_scale_zinc"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(p))
    val table = s"$p/table"
    def h(c: org.apache.spark.sql.Column, tag: String) =
      pmod(xxhash64(c, lit(tag)), lit(256L))
    val base = spark.range(n).select(col("id").as("doc_id"),
        h(col("id"), "b1").as("b1"), h(col("id"), "b2").as("b2"))
      .withColumn("zkey", ZTable.zkeyExpr)
    val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
    var expectedBox = base.where(boxPred).count()
    var t0 = System.nanoTime()
    var manifest = ZTable.writeFiles(
      Ranks.globalRowNumber(base, Seq(col("zkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 256, offset = 0, out = table)
    ZTable.writeManifest(manifest, s"$p/_stats_g0")
    manifest = spark.read.parquet(s"$p/_stats_g0")
    val rpfT = (n + 255L) / 256L // the TABLE's target rows-per-file
    println(f"SCALEZINC base-write    ${(System.nanoTime() - t0) / 1e9}%6.1f s" +
      f" (256 files, rpf $rpfT)")
    var totalRows = n
    var cumDeleted = 0L
    def scanned(m: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
      ZTable.pruneManifest(m.collect(), 64, 127, 128, 191)
    for (g <- 1 to 5) {
      val lo = 128 + 16 * g // shifting localized band [lo, lo+31]
      val app = spark.range(50000).select(
          (col("id") + lit(100000000L * g)).as("doc_id"),
          h(col("id") + lit(7919L * g), "b1").as("b1"),
          (lit(lo.toLong) + pmod(xxhash64(col("id"), lit(s"band$g")),
            lit(32L))).as("b2"))
        .withColumn("hkey",
          md5(concat(lit(s"g$g:"), col("doc_id").cast("string"))))
        .localCheckpoint(true)
      expectedBox += app.where(boxPred).count()
      totalRows += 50000L
      t0 = System.nanoTime()
      val stApp = ZTable.writeFiles(
        Ranks.globalRowNumber(app, Seq(col("hkey"), col("doc_id")),
          out = "_rk"),
        "_rk", nFiles = 12, offset = 10000 * g, out = table,
        mode = "append")
      val tApp = (System.nanoTime() - t0) / 1e9
      val appIds = stApp.select(col("file_id"))
        .collect().map(_.getLong(0)).toSet
      val grown = manifest.unionByName(stApp)
      val scannedBefore = scanned(grown).length
      t0 = System.nanoTime()
      val (newMan, frw, rrw) = ZTable.incrementalOptimize(spark, grown,
        isAppended = r => appIds(r.getAs[Long]("file_id")),
        tablePath = table, newOffset = 1000000 * g, rpf = rpfT)
      val tOpt = (System.nanoTime() - t0) / 1e9
      ZTable.writeManifest(newMan, s"$p/_stats_g$g")
      manifest = spark.read.parquet(s"$p/_stats_g$g")
      cumDeleted += frw
      val sc = scanned(manifest)
      val nFiles = manifest.count()
      // box truth from the pruned read — the correctness of the whole
      // manifest chain, re-proven every cycle
      val boxRows = spark.read
        .parquet(sc.map(_.getAs[String]("path")).toSeq.sorted: _*)
        .where(boxPred).count()
      val frac = rrw.toDouble / totalRows
      println(f"SCALEZINC gen$g append $tApp%5.1f s  optimize $tOpt%5.1f s  " +
        f"rewrote $frw%3d files/$rrw%7d rows (${frac * 100}%4.1f%%)  " +
        f"scan $scannedBefore%3d -> ${sc.length}%3d of $nFiles files  " +
        f"box $boxRows")
      c.check(boxRows == expectedBox,
        s"SCALEZINC gen$g box mismatch: $boxRows != $expectedBox")
      c.check(frac <= 0.6, s"SCALEZINC gen$g rewrite fraction red")
      c.check(sc.length <= nFiles / 4, s"SCALEZINC gen$g post-optimize skipping red")
      // ±2 files of boundary jitter allowed: re-clustering a band
      // OUTSIDE the probe box repacks rows near the box edge, so a new
      // file can straddle the boundary a pruned old file didn't
      // (measured: gen4's [192,223] band, 27 → 28 of 308) — the health
      // line is the nFiles/4 bound above, not monotonicity
      c.check(sc.length <= scannedBefore + 2, s"SCALEZINC gen$g optimize worsened skipping")
      c.check(tOpt <= 180, s"SCALEZINC gen$g wall red")
    }
    // VACUUM: exactly the cumulative logically-removed files go; the
    // listing equals the live manifest afterwards
    val live = manifest.count()
    val (before, deleted) = ZTable.vacuum(spark, table, manifest)
    val after = ZTable.listDataFiles(spark, table).length.toLong
    println(f"SCALEZINC vacuum        $before%4d files -> $after%4d " +
      f"(deleted $deleted, live manifest $live)")
    c.check(deleted == cumDeleted && after == live && before - deleted == after,
      "SCALEZINC vacuum accounting off")
  }

  /** PRODUCTION-VOCAB unigram tier (`runMain graft.ScaleSmoke
    * unigram32k`), r14 VERDICT task: SentencePiece-scale k = 32768
    * pieces (the r14 queries prove k ≤ 256 only) over a 16-letter /
    * 8-char-word corpus whose 4-gram space (65536) comfortably seeds a
    * 32k vocab. Pins (a) the trainer at production vocab — every
    * E-step's compiled cost table now rides the BROADCAST-bound
    * segmenter ([[graft.ext.Unigram.BcastVocabThreshold]]), shipping
    * the multi-MB table once per executor instead of inside every task
    * binary; (b) bit-identity of the broadcast and plan-bound
    * expressions at 32k pieces over the full type frame; (c) train and
    * apply walls at 100k docs / ~177k word types. */
  private def unigram32k(c: Ctx): Unit = {
    import graft.ext.Unigram
    import c.spark
    import spark.implicits._
    val n = 100000L; val vocabTypes = 200000L; val wordsPerDoc = 39
    val letters = array((0 until 16).map(i =>
      lit(('a' + i).toChar.toString)): _*)
    def wordExpr(wid: org.apache.spark.sql.Column) =
      concat_ws("", transform(sequence(lit(0), lit(7)), d =>
        element_at(letters,
          (pmod(floor(wid.cast("double") / pow(lit(16.0), d.cast("double")))
            .cast("long"), lit(16L)) + 1).cast("int"))))
    val docs = spark.range(n).select(col("id"),
        array_join(transform(sequence(lit(0), lit(wordsPerDoc)), j =>
          wordExpr(pmod(xxhash64(col("id"), j), lit(vocabTypes)))), " ")
          .as("text"))
      .localCheckpoint(true)
    var t0 = System.nanoTime()
    val trained = Unigram.train(docs, "text", k = 32768)
    val tTrain = (System.nanoTime() - t0) / 1e9
    println(f"SCALEUNI32K train-32768 $tTrain%6.1f s (${trained.size} pieces)")
    c.check(trained.size == 32768, "SCALEUNI32K vocab size off")
    val types = docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val nTypes = types.count()
    // bit-identity at production vocab: broadcast-bound vs plan-bound
    t0 = System.nanoTime()
    val bc = graft.ext.Pin.pin(
      Unigram.viterbiPathsNativeBcast(types, trained, 12))
    val tBc = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val plan = graft.ext.Pin.pin(types.where(length(col("word")) <= 12)
      .withColumn("path",
        graft.functions.UnigramFunctions.segment(col("word"), trained, 12))
      .where(col("path").isNotNull)
      .select(col("word"), col("freq"), col("path")))
    val tPlan = (System.nanoTime() - t0) / 1e9
    println(f"SCALEUNI32K apply bcast $tBc%6.1f s / plan-bound $tPlan%6.1f s" +
      f" over $nTypes types")
    c.check(bc.exceptAll(plan).count() == 0 && plan.exceptAll(bc).count() == 0,
      "SCALEUNI32K broadcast segmenter != plan-bound")
    c.check(bc.count() != 0, "SCALEUNI32K empty apply")
    // corpus-level apply through the typed dict (auto-routes to bcast)
    t0 = System.nanoTime()
    val dict = graft.ext.Pin.pin(Unigram.typedDict(docs, "text", trained))
    val tot = Unigram.tokenCountsFromDict(docs, "id", "text", dict)
      .agg(sum(col("n_words")).cast("long"),
        sum(col("uni_tokens")).cast("long"))
      .as[(Long, Long)].head()
    val tApply = (System.nanoTime() - t0) / 1e9
    val nOcc = n * (wordsPerDoc + 1)
    println(f"SCALEUNI32K apply-typed $tApply%6.1f s " +
      f"(words=${tot._1} tokens=${tot._2} symbols=${nOcc * 8})")
    c.check(tot._1 == nOcc && tot._2 >= nOcc && tot._2 <= nOcc * 8,
      "SCALEUNI32K token totals outside [n_words, n_symbols]")
    c.check(tTrain <= 600, "SCALEUNI32K train wall red")
    c.check(tApply <= 240, "SCALEUNI32K apply wall red")
  }

  /** Heavy-query 10× tier (`runMain graft.ScaleSmoke heavy10x`), r9
    * VERDICT task 7: the five bench-heaviest queries re-run on synthetic
    * inputs at the sf0.1 document count (5k) and at 10× (50k), pinning
    * the sub-quadratic claims their plan comments make. Each family uses
    * the shape that isolates PLAN scaling from workload scaling:
    * LM scoring / bigram NLL / streaming LM over vocab-bounded word-soup
    * docs (gram-type counts saturate, occurrence volume scales 10×);
    * containment over unique-token fragment/host plants (candidates =
    * planted set at both sizes — the contain1m construction); audio
    * fingerprints over synthetic WAV payloads with planted gain-shifted
    * copies (banded pair mining, codec-bound). Fails (exit 1) if any
    * 10× wall exceeds 15× + 10 s of its 1× wall — a quadratic plan
    * lands at ~100×. */
  private def heavy10x(c: Ctx): Unit = {
    import graft.ext.{Dedup, Multimodal, TextAnalysis}
    import c.spark
    implicit val sp: SparkSession = spark
    import spark.implicits._

    val langs = array(lit("en"), lit("zh"), lit("es"), lit("de"), lit("fr"))
    // vocab-bounded word soup: 2000 types, 60 tokens/doc, lang by id%5
    def synthDocs(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      element_at(langs, pmod(col("id"), lit(5L)).cast("int") + 1).as("lang"),
      array_join(transform(sequence(lit(0), lit(59)), j =>
        concat(lit("w"), pmod(xxhash64(col("id"), j), lit(2000L)))), " ")
        .as("text"))

    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def tier(name: String)(run: Long => Unit): Unit = {
      val walls = Seq(5000L, 50000L).map { n =>
        val t0 = System.nanoTime()
        run(n)
        (System.nanoTime() - t0) / 1e9
      }
      val ratio = walls(1) / math.max(walls(0), 0.001)
      println(f"SCALEHEAVY $name%-16s 5k=${walls(0)}%6.1f s  " +
        f"50k=${walls(1)}%6.1f s  ratio=$ratio%5.1f")
      c.growth(s"SCALEHEAVY $name", walls(0), walls(1), 15, 10)
    }

    tier("text_lm_score") { n =>
      val docs = synthDocs(n).localCheckpoint(true)
      exec(TextAnalysis.lmScore(docs, "doc_id", "text", col("lang") === "en"))
    }
    tier("text_bigram_nll") { n =>
      val docs = synthDocs(n).localCheckpoint(true)
      exec(TextAnalysis.bigramNll(docs, "doc_id", "text"))
    }
    tier("containment") { n =>
      // unique-token fragment/host plants (contain1m construction):
      // candidate volume tracks the planted 1%, not n²
      val docs = containDocs(spark, n).localCheckpoint(true)
      exec(Dedup.containmentPairs(
        Dedup.hashedShingles(docs, "id", "text", 3), 0.9))
    }
    tier("stream_lm_score") { n =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_heavy_stream_").toString
      // replayDocs takes a single-FILE path (testdata layout): write one
      // part and rename it to a stable name
      synthDocs(n).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val docsFile = new java.io.File(tmp, "docs.parquet")
      require(part.renameTo(docsFile), s"rename failed in $tmp")
      val docs = spark.read.parquet(docsFile.getAbsolutePath)
      def grams(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
        .select(col("doc_id"), explode(expr(
          "transform(slice(_tk, 1, greatest(size(_tk) - 1, 0))," +
            " (w, i) -> struct(w AS prev," +
            " concat(w, ' ', element_at(_tk, i + 2)) AS big," +
            " element_at(_tk, i + 2) AS cur))")).as("x"))
        .select(col("doc_id"), col("x.prev").as("prev"),
          col("x.big").as("big"), col("x.cur").as("cur"))
      val lmG = grams(docs.where(col("lang") === "en"))
      val known = lmG.groupBy(col("big")).agg(count(lit(1)).as("c2"))
        .join(lmG.groupBy(col("prev")).agg(count(lit(1)).as("c1")),
          expr("split(big, ' ')[0] = prev"))
        .select(col("big"),
          log(col("c1").cast("double") / col("c2")).as("known_cost"))
        .localCheckpoint(true)
      val res = graft.streaming.StreamingDedup.replayDocs(
        spark, docsFile.getAbsolutePath, s"heavy_stream_lm_$n",
        org.apache.spark.sql.streaming.OutputMode.Complete()) { st =>
        grams(st).join(known, Seq("big"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(coalesce(col("known_cost"), lit(20.0))).as("_c"))
      }
      exec(res)
    }
    tier("audio_fp_pairs") { n =>
      val media = synthDocs(n)
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val seed = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8"))
          (id, graft.ext.MultimodalCodecs.syntheticWav(seed,
            gainShift = if (id % 20 == 7) 1 else 0))
        }).toDF("doc_id", "payload")
      exec(Multimodal.phashPairs(
        Multimodal.audioFps(media, "doc_id", "payload")))
    }
  }

  /** Model-in-the-loop curation at scale
    * (`runMain graft.ScaleSmoke qmodel1m`): the r11 trained-classifier /
    * DSIR / fuzzy-decon family at 1M synthetic docs.
    *
    *  - LR training (d=64, 16 GD rounds): wall at 1M, corpus-linearity
    *    vs 250k (T fixed ⇒ wall ratio ≲ data ratio; the per-round job
    *    count is ITERATIONS, not data), and the exactness claim AT
    *    SCALE — weights bit-identical when the 1M-doc feature frame is
    *    repartitioned (the dyadic-grid argument measured, not argued).
    *  - learnability: disjoint class vocabularies ⇒ held-in accuracy 1.
    *  - DSIR at 1M: weights + exact-decimal scoring + global rank.
    */
  private def qmodel1m(c: Ctx): Unit = {
    import graft.ext.QualityModel
    import c.spark
    import spark.implicits._
    // LR/DSIR fixture: class 1 (id%2==0) carries markers em0..em9, the
    // rest wm0..wm9, plus 50 shared-soup tokens. Separability must
    // survive HASHING: the two marker sets land in disjoint md5 buckets
    // (checked offline; a 2000-type disjoint-vocab corpus is NOT
    // separable after 64-bucket hashing — every bucket mixes classes).
    // Classes are BALANCED so the shared soup is gradient-neutral —
    // under a 1:4 imbalance the soup buckets soak up a large common
    // negative weight (a distributed bias) whose per-doc count variance
    // drowns the marker margin within 16 rounds (measured: acc 0.95).
    def synthLabeled(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      (pmod(col("id"), lit(2L)) === 0L).cast("double").as("y"),
      concat_ws(" ",
        // markers ×3: tf=3 triples the marker gradient/margin so 16
        // rounds leave the per-doc soup-count noise far behind (at tf=1
        // the margin reached only ~5x the noise — acc 0.996, not 1.0)
        array_join(transform(sequence(lit(0), lit(29)), j =>
          concat(when(pmod(col("id"), lit(2L)) === 0L, lit("em"))
            .otherwise(lit("wm")), pmod(j, lit(10)).cast("string"))), " "),
        array_join(transform(sequence(lit(0), lit(49)), j =>
          concat(lit("s"), pmod(xxhash64(col("id"), j), lit(2000L)))), " "))
        .as("text"))

    def trainAt(n: Long, parts: Int): (QualityModel.LinearModel, Double) = {
      val docs = synthLabeled(n).repartition(parts).localCheckpoint(true)
      val labels = docs.select(col("doc_id").as("doc"), col("y"))
      val d = QualityModel.Dim
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", d), labels, d)
        .persist()
      feat.count()
      val t0 = System.nanoTime()
      val m = QualityModel.trainLogReg(feat, d, QualityModel.Iters,
        QualityModel.Lr)
      val wall = (System.nanoTime() - t0) / 1e9
      val acc = QualityModel.scoreLogReg(feat, m)
        .select(avg((col("pred").cast("double") === col("y"))
          .cast("double"))).as[Double].head()
      feat.unpersist(true)
      c.check(acc >= 0.999,
        f"SCALEQM accuracy $acc%.4f at n=$n — separable corpus " +
          "not separated")
      (m, wall)
    }
    val (m250, t250) = trainAt(250000L, 32)
    val (m1a, t1m) = trainAt(1000000L, 32)
    val (m1b, _) = trainAt(1000000L, 7)
    println(f"SCALEQM lr-train        250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)")
    c.check(m1a.w.toSeq == m1b.w.toSeq && m1a.b == m1b.b,
        "SCALEQM weights differ across partitionings at 1M " +
        "— exactness claim broken")
    if (m250.w.toSeq == m1a.w.toSeq)
      println("SCALEQM note: 250k and 1M models coincide (fine)")
    c.growth("SCALEQM train", t250, t1m, 12, 10)
    c.check(t1m <= 300, "SCALEQM train wall red")

    val t0 = System.nanoTime()
    val lab1m = synthLabeled(1000000L).localCheckpoint(true)
    val sel = QualityModel.dsirSample(lab1m, "doc_id", "text",
        col("y") === 1.0)
      .agg(sum(when(col("selected"), 1L).otherwise(0L)),
        sum(when(col("selected") && col("doc") % 2 === 0L, 1L)
          .otherwise(0L))).as[(Long, Long)].head()
    val tDsir = (System.nanoTime() - t0) / 1e9
    println(f"SCALEQM dsir-1m         $tDsir%6.1f s " +
      f"(selected=${sel._1} target-class=${sel._2})")
    c.check(sel._1 == 200000L, "SCALEQM dsir keep count wrong")
    // disjoint vocabularies: every selected doc must be target-class
    c.check(sel._2 == 200000L, "SCALEQM dsir selected non-target docs")
    c.check(tDsir <= 120, "SCALEQM dsir wall red")
  }

  /** Seeded global shuffle + packing at scale (`runMain graft.ScaleSmoke
    * shuffle1m`): the 256-hex-prefix-bucket decomposed prefix sum at
    * 250k vs 1M docs must (a) EQUAL the corpus-wide single-task window
    * reference row-for-row (exact integer offsets), (b) stay invariant
    * across input partitionings, (c) scale ≲ linearly, and (d) show the
    * md5 buckets uniformly loaded (max/min bucket token mass ≤ 1.2 at
    * 1M — the no-skewed-bucket-by-construction claim, measured). */
  private def shuffle1m(c: Ctx): Unit = {
    import graft.ext.Corpus
    import c.spark
    // 5..14 tokens per doc, deterministic
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(0), pmod(xxhash64(col("id")), lit(10L)) + 4L),
        j => concat(lit("t"), xxhash64(col("id"), j))), " ").as("text"))
    def runAt(n: Long, parts: Int): Double = {
      val df = synth(n).repartition(parts).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = Corpus.shufflePack(df, "doc_id", "text", "s1m", 4096L)
        .localCheckpoint(true)
      val t = (System.nanoTime() - t0) / 1e9
      // reference: ONE corpus-wide window (the tier's single-node
      // luxury; the engine plan must never contain it)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("shuffle_key"), col("doc"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val ref = out.select(col("doc"), col("shuffle_key"), col("n_tokens"))
        .withColumn("ref_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      val mism = out.join(ref.select(col("doc"), col("ref_off")), "doc")
        .where(col("start_offset") =!= col("ref_off")).count()
      c.check(mism == 0L, s"SCALESHUF offsets != single-window reference at $n: $mism")
      t
    }
    val t250 = runAt(250000L, 32)
    val t1m = runAt(1000000L, 32)
    println(f"SCALESHUF wall          250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)")
    c.growth("SCALESHUF", t250, t1m, 10, 10)
    c.check(t1m <= 120, "SCALESHUF wall red")
    // partition invariance + bucket balance at 1M
    val a = Corpus.shufflePack(synth(1000000L).repartition(32),
      "doc_id", "text", "s1m", 4096L)
    val b = Corpus.shufflePack(synth(1000000L).repartition(7),
      "doc_id", "text", "s1m", 4096L)
    val mism = a.withColumnRenamed("start_offset", "_oa")
      .select(col("doc"), col("_oa"))
      .join(b.select(col("doc"), col("start_offset")), "doc")
      .where(col("_oa") =!= col("start_offset")).count()
    println(s"SCALESHUF partition-invariance mismatches at 1M: $mism")
    c.check(mism == 0L)
    val balance = a
      .groupBy(substring(col("shuffle_key"), 1, 2).as("_b"))
      .agg(sum(col("n_tokens")).as("_m"))
      .agg((max(col("_m")).cast("double") / min(col("_m")).cast("double"))
        .as("_r")).head().getDouble(0)
    println(f"SCALESHUF bucket max/min token mass at 1M: $balance%.3f")
    c.check(balance <= 1.2, "SCALESHUF md5 buckets skewed — balance claim broken")
  }

  /** Kneser–Ney trigram scoring at scale (`runMain graft.ScaleSmoke
    * kn1m`): 250k vs 1M synthetic 30-token docs (uniform 30k-word
    * vocab — trigram types ≈ tokens, the worst case for the type
    * frame) with a planted 1 % stratum of VERBATIM copies of doc 0
    * (hot trigrams: tf ≈ n/100 each — exercises the broadcast-head
    * skew split). Checks: wall ≲ linear in tokens (five type-frame
    * aggregates + one skew-split token-mass join, all ∝ corpus);
    * planted copies must score strictly below every unique-content doc
    * (repetition ⇒ high P ⇒ low NLL — the semantic point of the
    * score); per-doc NLLs BIT-IDENTICAL across partitionings at 1M
    * (rounded-cost + exact-decimal-sum discipline at scale). */
  private def kn1m(c: Ctx): Unit = {
    import graft.ext.TextAnalysis
    import c.spark
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(29)), j =>
        concat(lit("w"), pmod(xxhash64(
          // planted stratum: id % 100 == 0 reuses doc 0's token stream
          when(pmod(col("id"), lit(100L)) === 0L, lit(0L)).otherwise(col("id")),
          j), lit(30000L)))), " ").as("text"))
    def runAt(n: Long, parts: Int): (Double, Seq[(Long, Long, Double)]) = {
      val df = synth(n).repartition(parts).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = TextAnalysis.kn3Nll(df, "doc_id", "text").localCheckpoint(true)
      val cnt = out.count()
      val t = (System.nanoTime() - t0) / 1e9
      c.check(cnt == n, s"SCALEKN row count $cnt != $n")
      val planted = out.where(col("doc") % 100 === 0)
        .agg(max(col("kn_nll"))).head().getDouble(0)
      val uniqueMin = out.where(col("doc") % 100 =!= 0)
        .agg(min(col("kn_nll"))).head().getDouble(0)
      c.check(planted < uniqueMin,
        f"SCALEKN planted copies must score lowest: " +
          f"plantedMax=$planted%.4f uniqueMin=$uniqueMin%.4f")
      ((t, Seq.empty))
    }
    val (t250, _) = runAt(250000L, 32)
    val (t1m, _) = runAt(1000000L, 32)
    println(f"SCALEKN wall            250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)")
    c.growth("SCALEKN", t250, t1m, 10, 10)
    c.check(t1m <= 420, "SCALEKN wall red")
    // exactness at scale: per-doc NLL bit-identical across partitionings
    val a = TextAnalysis.kn3Nll(synth(1000000L).repartition(32),
      "doc_id", "text")
    val b = TextAnalysis.kn3Nll(synth(1000000L).repartition(7),
      "doc_id", "text")
    val mism = a.withColumnRenamed("kn_nll", "_na")
      .select(col("doc"), col("_na"))
      .join(b.select(col("doc"), col("kn_nll")), "doc")
      .where(col("_na") =!= col("kn_nll")).count()
    println(s"SCALEKN partition-invariance mismatches at 1M: $mism")
    c.check(mism == 0L)
  }

  /** Kneser-Ney trigram NLL at 10M docs (`runMain graft.ScaleSmoke
    * kn10m`) — the r15 verdict's 100× headline leg for the heaviest
    * text operator: kn1m proves 250k→1M; this pins 1M→10M (two orders
    * above the sf0.1 bench corpus), the first place the type-frame
    * assumption (distinct-trigram tables ≪ token stream) would crack.
    * Unlike kn1m's adversarial all-unique token streams (where trigram
    * TYPES ≈ tokens — 280M type rows at 10M docs, a shape no real
    * corpus has and the honest stressor at 1M), this leg uses the
    * REALISTIC repetition shape the claim is actually about: each doc
    * reads a 30-token window from a 600k-position virtual tape (stride
    * 1), so the type frame is tape-bounded (~600k trigrams) while the
    * token stream grows with docs — type frame ≪ tokens, and every
    * per-type aggregate is crushed by map-side combine. The planted
    * stratum (id % 100 == 0) reads its OWN tape region at offset 10M
    * (no sliding neighbor can approach its trigram mass), so it must
    * score strictly lowest. Checks: row conservation, planted ordering,
    * wall ≲ linear 1M → 10M. Needs SPARK_DRIVER_MEM=48g. */
  private def kn10m(c: Ctx): Unit = {
    import graft.ext.TextAnalysis
    import c.spark
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(29)), j =>
        concat(lit("w"), pmod(xxhash64(
          when(pmod(col("id"), lit(100L)) === 0L, lit(10000000L))
            .otherwise(pmod(col("id"), lit(600000L))) + j.cast("long")),
          lit(30000L)))), " ").as("text"))
    def runAt(n: Long, parts: Int): Double = {
      val df = synth(n).repartition(parts).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = TextAnalysis.kn3Nll(df, "doc_id", "text").localCheckpoint(true)
      val cnt = out.count()
      val t = (System.nanoTime() - t0) / 1e9
      c.check(cnt == n, s"SCALEKN10M row count $cnt != $n")
      val planted = out.where(col("doc") % 100 === 0)
        .agg(max(col("kn_nll"))).head().getDouble(0)
      val uniqueMin = out.where(col("doc") % 100 =!= 0)
        .agg(min(col("kn_nll"))).head().getDouble(0)
      c.check(planted < uniqueMin,
        f"SCALEKN10M planted copies must score lowest: " +
          f"plantedMax=$planted%.4f uniqueMin=$uniqueMin%.4f")
      t
    }
    val t1m = runAt(1000000L, 32)
    val t10m = runAt(10000000L, 64)
    println(f"SCALEKN10M wall         1m=$t1m%6.1f s  10m=$t10m%6.1f s " +
      f"(ratio ${t10m / t1m}%.2f)")
    c.growth("SCALEKN10M", t1m, t10m, 12, 30)
  }

  /** SemDeDup at 1M vectors / k=4096 (`runMain graft.ScaleSmoke
    * semdedup10m`): [[Kmeans.semDedup]](fast) with exact planted
    * accounting — every id%100==1 twin dropped with keeper id−1, zero
    * extra drops. Synthetic: 4096 anchor clusters in [0,1)^64 + centered
    * ±1 noise (within-cluster organic cosine ≈ 0.5, far below the 0.999
    * cut), twins = exact copies. Measured: 55.9 s on 16 cores, 419.0 s
    * on 4. */
  private def semdedup10m(c: Ctx): Unit = {
    import graft.ext.Kmeans
    import c.spark
    val kA = 4096
    def synthVecs(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => {
        val baseId = when(pmod(col("id"), lit(100L)) === 1L, col("id") - 1)
          .otherwise(col("id"))
        pmod(xxhash64(pmod(baseId, lit(kA.toLong)), j), lit(1000L))
          .cast("double") / 1000.0 +
          (pmod(xxhash64(baseId, j, lit(7)), lit(2001L)) - 1000L)
            .cast("double") / 1000.0
      }).as("embedding"))
    def accounting(tag: String, out: org.apache.spark.sql.DataFrame,
        n: Long): Unit = {
      val twins = n / 100L // ids 1, 101, ... (id % 100 == 1)
      val dropped = out.where(!col("keep")).localCheckpoint(true)
      val nDrop = dropped.count()
      val wrongKeeper = dropped.where(pmod(col("vec_id"), lit(100L)) === 1L)
        .where(col("keeper") =!= col("vec_id") - 1).count()
      val extra = dropped.where(pmod(col("vec_id"), lit(100L)) =!= 1L).count()
      println(s"SCALESEMDEDUP10M $tag drops=$nDrop (planted=$twins " +
        s"extra=$extra wrongKeeper=$wrongKeeper)")
      c.check(nDrop == twins && extra == 0L && wrongKeeper == 0L,
        s"SCALESEMDEDUP10M $tag planted accounting red")
    }
    val v1 = synthVecs(1000000L).repartition(32).localCheckpoint(true)
    val t0 = System.nanoTime()
    val exact1 = Kmeans.semDedup(v1, "vec_id", "embedding", k = kA,
      iters = 1, minCosine = 0.999, fast = true).localCheckpoint(true)
    val tExact1 = (System.nanoTime() - t0) / 1e9
    accounting("1m-exact", exact1, 1000000L)
    println(f"SCALESEMDEDUP10M walls: 1m exact=$tExact1%6.1f s")
  }

  /** PageRank at scale (`runMain graft.ScaleSmoke pagerank1m`):
    * 8 damped rounds over the affine synthetic graph (out-degree
    * 1 + id % 3, ~2 edges/node) plus a planted hub (every id % 100 == 1
    * also links to node 0) at 250k vs 1M nodes. Checks:
    *  - wall scales ≲ linearly in edges (fixed round count; each round
    *    is one key-partitioned join + one decimal hash aggregate);
    *  - ranks BIT-IDENTICAL across partitionings at 1M — the
    *    exact-decimal contribution claim measured at scale;
    *  - the hub out-ranks the teleport floor by an order of magnitude
    *    (semantic sanity), and total rank mass stays ≈ 1 within the
    *    per-node grid drift bound (leakless graph);
    *  - a DANGLING stratum (~333k sinks at 1M — every out-edge of
    *    id % 3 == 0 dropped) conserves mass under the canonical
    *    uniform redistribution, at a wall comparable to the sink-free
    *    run (measured: 13.9 s vs 20.5 s — fewer edges outweigh the
    *    extra per-round mass aggregate). */
  private def pagerank1m(c: Ctx): Unit = {
    import graft.ext.Graph
    import c.spark
    def edgesAt(n: Long, parts: Int) = {
      val base = spark.range(n).select(col("id").as("src"),
          explode(sequence(lit(1L), lit(1L) + pmod(col("id"), lit(3L)))).as("c"))
        .select(col("src"),
          pmod(col("src") + lit(1L) +
            pmod(col("src") * 31L + col("c") * 97L, lit(n - 1L)),
            lit(n)).as("dst"))
      val hub = spark.range(n).where(pmod(col("id"), lit(100L)) === 1L)
        .select(col("id").as("src"), lit(0L).as("dst"))
      base.unionByName(hub).repartition(parts).localCheckpoint(true)
    }
    def runAt(n: Long, parts: Int): (Double, Seq[(Long, Double)], Double) = {
      val nodes = spark.range(n).select(col("id").as("node"))
      val e = edgesAt(n, parts)
      val t0 = System.nanoTime()
      val out = Graph.pageRank(e, nodes, iters = 8, gridDp = 9)
        .localCheckpoint(true)
      val mass = out.agg(sum(col("rank"))).head().getDouble(0)
      val t = (System.nanoTime() - t0) / 1e9
      val top = out.orderBy(col("rank").desc, col("node")).limit(3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      ((t, top, mass))
    }
    val (t250, top250, _) = runAt(250000L, 32)
    val (t1m, top1m, mass1m) = runAt(1000000L, 32)
    println(f"SCALEPR wall            250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)  hub=${top1m.head}  mass=$mass1m%.4f")
    c.check(top1m.head._1 == 0L && top1m.head._2 >= 20.0 / 1000000.0,
      s"SCALEPR hub rank wrong: ${top1m.head}")
    c.check(math.abs(mass1m - 1.0) <= 0.01, s"SCALEPR mass drifted: $mass1m")
    c.growth("SCALEPR", t250, t1m, 10, 10)
    c.check(t1m <= 240, "SCALEPR wall red")
    // exactness at scale: ranks bit-identical across partitionings
    val nodes1m = spark.range(1000000L).select(col("id").as("node"))
    val rA = Graph.pageRank(edgesAt(1000000L, 32), nodes1m, iters = 3,
      gridDp = 9)
    val rB = Graph.pageRank(edgesAt(1000000L, 7), nodes1m, iters = 3,
      gridDp = 9)
    val mism = rA.withColumnRenamed("rank", "_ra")
      .select(col("node"), col("_ra"))
      .join(rB.select(col("node"), col("rank")), "node")
      .where(col("_ra") =!= col("rank")).count()
    println(s"SCALEPR partition-invariance mismatches at 1M: $mism")
    c.check(mism == 0L)
    // DANGLING STRATUM at 1M (r11 verdict task 2): drop every out-edge
    // of id % 3 == 0 (~333k sinks — the real-crawl regime); canonical
    // redistribution must conserve total mass within per-node grid
    // drift, and the extra per-round mass aggregate must not change the
    // wall's shape (still one join + two aggregates per round)
    val eDang = edgesAt(1000000L, 32)
      .where(pmod(col("src"), lit(3L)) =!= 0L).localCheckpoint(true)
    val tD0 = System.nanoTime()
    val outD = Graph.pageRank(eDang, nodes1m, iters = 8, gridDp = 9)
      .localCheckpoint(true)
    val massD = outD.agg(sum(col("rank"))).head().getDouble(0)
    val tD = (System.nanoTime() - tD0) / 1e9
    val nDang = nodes1m.join(
      eDang.select(col("src").as("node")).distinct(), Seq("node"),
      "left_anti").count()
    println(f"SCALEPR dangling 1m wall=$tD%6.1f s  mass=$massD%.6f  " +
      s"sinks=$nDang")
    c.check(math.abs(massD - 1.0) <= 0.01, s"SCALEPR dangling mass drifted: $massD")
    c.check(nDang >= 300000L, s"SCALEPR dangling stratum too small: $nDang")
    c.check(tD <= 3 * t1m + 30, "SCALEPR dangling wall red (mass aggregate too expensive)")
  }

  /** Uncontended native-vs-HOF serving-assignment measurement
    * (`runMain graft.ScaleSmoke kmhof`) — the BASELINE figure for the
    * `NearestCentroid` codegen gap. kmeans1m asserts correctness; this
    * mode exists so the RATIO is measured on an otherwise idle JVM/host
    * (the first recording ran under sbt-test contention). Asserts the
    * two formulations agree on every row of the 1M corpus (cluster AND
    * 6-dp dist2) before trusting either wall. */
  private def kmhof(c: Ctx): Unit = {
    import graft.ext.Kmeans
    import c.spark
    val kA = 32
    val corpus = clusteredVecs(spark, 1000000L, kA).repartition(32).localCheckpoint(true)
    val m = Kmeans.trainFast(corpus, "vec_id", "embedding", k = kA, iters = 1)
    // force the argmin per row: count() would let Catalyst prune the
    // assignment expression entirely (first measurement did exactly
    // that); summing the OUTPUT columns cannot be pruned
    def wall(tag: String, df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val r = df.agg(sum(col("cluster")), sum(col("dist2"))).head()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"SCALEKMHOF $tag%-8s $t%6.1f s (sum=${r.getLong(0)})")
      t
    }
    val tN = wall("native", Kmeans.assignServing(corpus, "vec_id", "embedding", m))
    val tH = wall("hof", Kmeans.assignServingHof(corpus, "vec_id", "embedding", m))
    println(f"SCALEKMHOF ratio    ${tH / tN}%6.1f x")
    val mism = Kmeans.assignServing(corpus, "vec_id", "embedding", m)
      .withColumnRenamed("cluster", "_cn").withColumnRenamed("dist2", "_dn")
      .join(Kmeans.assignServingHof(corpus, "vec_id", "embedding", m), "vec_id")
      .where(col("_cn") =!= col("cluster") || col("_dn") =!= col("dist2"))
      .count()
    c.check(mism == 0L, s"SCALEKMHOF formulations disagree on $mism rows")
    if (tH <= tN) {
      println("SCALEKMHOF note: HOF not slower — ratio claim needs revisit")
    }
  }

  /** k-means + SemDeDup at scale (`runMain graft.ScaleSmoke kmeans1m`).
    *
    *  - trainFast (k = 32, d = 64, 3 Lloyd rounds) at 250k vs 1M
    *    clustered vectors: the serving-path trainer's wall must scale
    *    ≲ linearly in the corpus (each round is one job: the
    *    literal argmin and the exact update run in one treeAggregate),
    *    trained centroids must be BIT-IDENTICAL when the 1M
    *    corpus is repartitioned (the decimal + 6-dp-grid update claim
    *    measured at scale), and the final assignment must recover the
    *    planted anchor structure exactly (seeds = ids 0..31 are one
    *    per anchor, separation ≫ jitter).
    *  - SemDeDup (fast path) at FIXED ~316-vector cluster size across a
    *    4× corpus step (25k/k=79 → 100k/k=316): with s = N/k held
    *    constant the intra-cluster pair stage is N·s/2 cosines — linear
    *    in N — so the wall ratio must stay ≲ the data ratio plus
    *    overhead; planted exact copies (1%) must be recovered exactly
    *    (identical vectors assign identically → same cluster → pair),
    *    with every copy's keeper being its original (centroid-distance
    *    tie breaks to the lower id).
    */
  private def kmeans1m(c: Ctx): Unit = {
    import graft.ext.Kmeans
    import c.spark
    import spark.implicits._

    // kA anchors in [0,1)^64 (hash-derived, pairwise distance ~ sqrt(d/6)
    // ≈ 3.3), jitter ±0.005 — separation ≫ jitter, so Lloyd converges in
    // one round and purity is exact. id % kA == anchor; ids 0..kA-1 seed
    // one cluster per anchor IN ORDER, so cluster index == anchor id.
    val kA = 32

    def trainAt(n: Long, parts: Int): (Kmeans.Model, Double) = {
      val df = clusteredVecs(spark, n, kA).repartition(parts).localCheckpoint(true)
      val t0 = System.nanoTime()
      val m = Kmeans.trainFast(df, "vec_id", "embedding", k = kA, iters = 3)
      ((m, (System.nanoTime() - t0) / 1e9))
    }
    val (m250, t250) = trainAt(250000L, 32)
    val (m1a, t1m) = trainAt(1000000L, 32)
    val (m1b, _) = trainAt(1000000L, 7)
    println(f"SCALEKM train           250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)")
    c.check(m1a.cents.map(_.toSeq).toSeq == m1b.cents.map(_.toSeq).toSeq,
        "SCALEKM centroids differ across partitionings at 1M " +
        "— exactness claim broken")
    if (m250.cents.map(_.toSeq).toSeq != m1a.cents.map(_.toSeq).toSeq)
      println("SCALEKM note: 250k and 1M centroids differ (fine — " +
        "different corpora)")
    c.growth("SCALEKM train", t250, t1m, 12, 10)
    c.check(t1m <= 180, "SCALEKM train wall red")

    val t0 = System.nanoTime()
    val impure = Kmeans.assignServing(clusteredVecs(spark, 1000000L, kA), "vec_id",
        "embedding", m1a)
      .where(col("cluster") =!= pmod(col("vec_id"), lit(kA.toLong)))
      .count()
    val tAssign = (System.nanoTime() - t0) / 1e9
    println(f"SCALEKM assign-1m       $tAssign%6.1f s (impure=$impure)")
    c.check(impure == 0L, "SCALEKM assignment missed the planted anchors")
    c.check(tAssign <= 60, "SCALEKM assign wall red")

    // SemDeDup at fixed cluster size s ≈ N/k: 1% planted exact copies
    def semAt(n: Long, k: Int): (Long, Long, Long, Double) = {
      val base = clusteredVecs(spark, n, kA)
      val copies = base.where(col("vec_id") % 100 === 0L)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val all = base.unionByName(copies).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = Kmeans.semDedup(all, "vec_id", "embedding", k = k,
        iters = 2, minCosine = 0.999999, fast = true)
      val r = out.agg(
        count(lit(1)),
        sum(when(col("keep"), 1L).otherwise(0L)),
        sum(when(col("vec_id") >= 10000000L &&
          col("keeper") === col("vec_id") - 10000000L, 1L).otherwise(0L)))
        .as[(Long, Long, Long)].head()
      ((r._1, r._2, r._3, (System.nanoTime() - t0) / 1e9))
    }
    val (rows25, keep25, planted25, tSem25) = semAt(25000L, 79)
    val (rows100, keep100, planted100, tSem100) = semAt(100000L, 316)
    println(f"SCALEKM semdedup        25k=$tSem25%6.1f s  100k=$tSem100%6.1f s " +
      f"(ratio ${tSem100 / tSem25}%.2f)")
    c.check(rows25 == 25250L && keep25 == 25000L && planted25 == 250L,
        s"SCALEKM semdedup 25k accounting wrong: " +
        s"rows=$rows25 keep=$keep25 planted=$planted25")
    c.check(rows100 == 101000L && keep100 == 100000L && planted100 == 1000L,
        s"SCALEKM semdedup 100k accounting wrong: " +
        s"rows=$rows100 keep=$keep100 planted=$planted100")
    c.growth("SCALEKM semdedup", tSem25, tSem100, 10, 10)
    c.check(tSem100 <= 240, "SCALEKM semdedup wall red")
  }

  /** Composed-pipeline tier (`runMain graft.ScaleSmoke pipeline1m`) —
    * the r11-verdict task-1 scale evidence: the FULL curation pipeline
    * (URL dedup → C4 clean → exact+fuzzy dedup → Gopher → median-LR
    * gate → p75 rank-prior gate → exact cross-Jaccard decon →
    * temperature mix → shuffle-pack) over a structured synthetic corpus
    * at 250k vs 1M docs (~60-80 tokens each; planted exact-copy /
    * dropped-first-line / tracking-URL-re-crawl / lorem / brace /
    * short-doc strata so every stage cuts; rank table = deterministic
    * 6-dp grid values over the base ids — the pipeline consumes a
    * FROZEN rank table like the frozen model, pagerank1m measures the
    * rank build itself). Checks:
    *  - ONE wall number per scale; ratio ≲ linear in docs (every stage
    *    is row-local, id-keyed, bucketed, or broadcast — nothing in the
    *    composition is super-linear);
    *  - the funnel strictly decreases and no stage empties;
    *  - the packed layout (doc, start_offset, shard_id) is
    *    BIT-IDENTICAL across partitionings at 1M — the composed
    *    end-to-end determinism claim (every stage decision replayable)
    *    measured at scale. */
  private def pipeline1m(c: Ctx): Unit = {
    import graft.ext.{CurationPipeline, QualityModel}
    import c.spark
    // 1 + id%4 sentences of 20 soup words + '.', one per line; lorem /
    // brace strata planted on id residues; sources skewed via id%16
    def synthDocs(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(16L)).cast("string"))
        .as("source"),
      when(pmod(col("id"), lit(2L)) === 0L, lit("en")).otherwise(lit("de"))
        .as("lang"),
      concat(
        array_join(transform(
          sequence(lit(0L), pmod(col("id"), lit(4L))), si =>
            concat(array_join(transform(sequence(lit(0), lit(19)), j =>
              concat(lit("w"), pmod(xxhash64(col("id"), si, j),
                lit(2000L)))), " "), lit("."))), "\n"),
        when(pmod(col("id"), lit(17L)) === 3L,
          lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(pmod(col("id"), lit(23L)) === 5L, lit(" {x.}"))
          .otherwise(lit(""))).as("text"))
    // frozen quality gate: deterministic dyadic weights (the pipeline
    // consumes a FROZEN model; training its own is qmodel1m's job)
    val model = QualityModel.LinearModel(
      Array.tabulate(64)(j => QualityModel.gridQ((j % 7 - 3) * 0.01)),
      QualityModel.gridQ(0.05), 0L)
    def ingestAt(n: Long, parts: Int) = {
      val base = synthDocs(n)
      val copies = base.where(pmod(col("doc_id"), lit(25L)) === 3L)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
          col("lang"), col("text"))
      val nearMiss = base.where(pmod(col("doc_id"), lit(25L)) === 11L)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("source"),
          col("lang"),
          array_join(slice(split(col("text"), "\n"), 2, 1000000), "\n")
            .as("text"))
      val recrawls = base.where(pmod(col("doc_id"), lit(25L)) === 17L)
        .select((col("doc_id") + 40000000L).as("doc_id"), col("source"),
          col("lang"), col("text"))
      base.unionByName(copies).unionByName(nearMiss).unionByName(recrawls)
        .repartition(parts).localCheckpoint(true)
    }
    def urlsOf(ing: org.apache.spark.sql.DataFrame) = ing.select(
      col("doc_id"),
      concat(lit("https://"), col("source"), lit(".example.com/d/"),
        when(col("doc_id") >= 40000000L, col("doc_id") - 40000000L)
          .otherwise(col("doc_id")).cast("string"),
        when(col("doc_id") >= 40000000L, lit("?utm_source=feed&ref=x#s2"))
          .otherwise(lit(""))).as("url"))
    def ranksOf(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      ((pmod(xxhash64(col("id"), lit(99L)), lit(900000L)) + 100000L)
        .cast("double") / 1000000.0).as("rank"))
    def benchOf(cleaned: org.apache.spark.sql.DataFrame) = cleaned
      .where(col("doc_id") % 200 === 7 && col("doc_id") < 10000000L)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
          .as("text"))
    def runAt(n: Long, parts: Int): (Double, Seq[Long],
        org.apache.spark.sql.DataFrame) = {
      val ing = ingestAt(n, parts)
      val t0 = System.nanoTime()
      val st = CurationPipeline.run(ing, model, benchOf,
        urls = urlsOf(ing), ranks = ranksOf(n))
      val funnel = Seq(st.ingest, st.urlDeduped, st.cleaned, st.deduped,
        st.gated, st.scoredKeep, st.ranked, st.decon, st.mixed)
        .map(_.count()) :+ st.packed.count()
      val wall = (System.nanoTime() - t0) / 1e9
      ((wall, funnel, st.packed))
    }
    val (t250, f250, _) = runAt(250000L, 32)
    val (t1m, f1m, packedA) = runAt(1000000L, 32)
    println(f"SCALEPIPE wall          250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)")
    println(s"SCALEPIPE funnel 250k   ${f250.mkString(" -> ")}")
    println(s"SCALEPIPE funnel 1m     ${f1m.mkString(" -> ")}")
    // every stage cuts and none empties (ingest>urlDeduped>cleaned>
    // deduped>gated>scoredKeep>ranked>decon>mixed; packed == mixed rows)
    val strict = f1m.init
    c.check(strict.zip(strict.tail).forall { case (a, b) => a > b && b > 0 },
      "SCALEPIPE funnel red (a stage emptied or cut nothing)")
    c.check(f1m.last == f1m(8), "SCALEPIPE pack row drift red")
    c.growth("SCALEPIPE", t250, t1m, 8, 30)
    c.check(t1m <= 600, "SCALEPIPE wall red")
    // composed end-to-end determinism across partitionings at 1M
    val (_, _, packedB) = runAt(1000000L, 7)
    val mism = packedA.select(col("doc"), col("start_offset").as("_oa"),
        col("shard_id").as("_sa"))
      .join(packedB.select(col("doc"), col("start_offset"),
        col("shard_id")), "doc")
      .where(col("_oa") =!= col("start_offset") ||
        col("_sa") =!= col("shard_id")).count()
    val rowsA = packedA.count(); val rowsB = packedB.count()
    println(s"SCALEPIPE partition-invariance at 1M: rows $rowsA vs $rowsB, " +
      s"offset/shard mismatches $mism")
    c.check(rowsA == rowsB && mism == 0L)
  }

  /** IVF index DRIFT telemetry tier (`runMain graft.ScaleSmoke
    * ivfdrift`) — the r11 verdict task-6 measurement: the append/
    * compact lifecycle exists, but nothing measured what growth under
    * DISTRIBUTION DRIFT does to the index. Builds a 250k-vector index
    * (64 lists), then appends 4 waves of 250k each whose cluster
    * anchors shift further from the trained centroids every wave
    * (anchor + 0.15·w per dim), recording per wave:
    *  - the append drift ratio (mean distance-to-assigned-centroid
    *    after/before — `IvfAppendStats`, the cheap online signal);
    *  - plain-probe RECALL@10 on fresh-wave queries vs brute force
    *    (the quality a non-exact consumer actually loses);
    *  - the EXACT probe's bound-admitted scan fraction (the 0.192
    *    honesty metric from exactann1m, replayed engine-true) — the
    *    price the guaranteed-exact path pays as radii inflate.
    *
    * RETRAIN THRESHOLD (documented contract): retrain when the
    * post-append mean-distance ratio vs the BUILD-time mean exceeds
    * 1.5, or fresh-query recall@10 drops below 0.9, or the exact-probe
    * scan fraction exceeds 2× its build-time value. The tier retrains
    * (rebuild on the grown corpus) after the last wave and asserts the
    * telemetry recovers — proving the signal is actionable, not just
    * recorded. */
  private def ivfdrift(c: Ctx): Unit = {
    import graft.ext.Similarity
    import c.spark
    import spark.implicits._
    val nWave = 250000L
    val nLists = 64; val k = 10; val nProbe = 4
    // wave 0 = build corpus (tight 64-anchor clusters, jitter 0.02);
    // wave w introduces 64 RELOCATED anchors (hash-keyed by wave) with
    // mildly widening spread (0.02 + 0.1·w) — the topical-drift mode a
    // crawl actually sees: new content forms NEW coherent clusters the
    // stale centroids never trained on, so list radii inflate and the
    // exact probe's prunability decays, while a RETRAIN (which can see
    // the new clusters) genuinely recovers it. Two rejected fixtures,
    // recorded because each failure is informative: a uniform anchor
    // SHIFT raises mean-dist but makes cosine EASIER (the shared shift
    // dominates every inner product — recall and scan fraction
    // improve); pure spread GROWTH (amplitude 0.35·w) dissolves the
    // cluster structure itself — scan fraction saturates at 1.0 by
    // wave 3 and NO retrain can restore prunability (measured: frac
    // stays 1.000 post-rebuild), because exactness on unclustered data
    // costs the scan brute force pays anyway. Relocation is the drift
    // that telemetry + retrain are FOR.
    def synth(wave: Int) = spark.range(wave * nWave, (wave + 1) * nWave)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(pmod(col("id"), lit(nLists.toLong))
              + lit(wave * 977L), i),
              lit(2001L)) - 1000L).cast("double") / 1000.0)
            + ((pmod(xxhash64(col("id"), i, lit(7L)), lit(2001L)) - 1000L)
              .cast("double") / 1000.0) * lit(0.02 + 0.1 * wave))
          .as("embedding"))
    val path = s"/tmp/graft_ivfdrift_${System.nanoTime()}"
    Similarity.buildIvfIndex(synth(0), "vec_id", "embedding", path,
      nLists = nLists, iters = 2)

    // engine-true exact-probe scan-fraction audit (the exactann1m
    // replay: phase-1 routing on RAW centroids, τ from the phase-1 kth
    // cosine, unit anchors only in the phase-2 bound)
    def scanFraction(queries: org.apache.spark.sql.DataFrame): Double = {
      val cents = Similarity.loadIvfCentroids(spark, path)
      val corpus = spark.read.parquet(s"$path/corpus")
      val nTot = corpus.count()
      val radii = Similarity.listRadii(corpus, "embedding", cents)
      val anchors = cents.map { c =>
        val nn = math.sqrt(c.map(x => x * x).sum)
        if (nn == 0.0) c else c.map(_ / nn)
      }
      val listSz = corpus.groupBy("list").agg(count(lit(1)).as("sz"))
        .as[(Int, Long)].collect().toMap
      val aud = corpus.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .withColumn("list", Similarity.nearestList(col("embedding"), cents))
        .withColumn("_cn", Similarity.norm(col("embedding")))
      val qProbesAud = queries.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qvec"))
        .withColumn("_qn", Similarity.norm(col("qvec")))
        .withColumn("list",
          explode(Similarity.nearestLists(col("qvec"), cents, nProbe)))
      val wAud = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("candidate_id"))
      val p1kth = aud.join(broadcast(qProbesAud), Seq("list"))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("candidate_id"),
          round(Similarity.dot(col("qvec"), col("embedding")) /
            (col("_qn") * col("_cn")), 6).as("cosine"))
        .withColumn("_rk", row_number().over(wAud)).where(col("_rk") <= k)
        .groupBy(col("query_id"))
        .agg(min(col("cosine")).as("cosk"), count(lit(1)).as("nk"))
        .as[(Long, Double, Long)].collect()
        .map { case (q, ck, nk) => q -> (if (nk == k) Some(ck) else None) }
        .toMap
      val qv = queries.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
      val fracs = qv.map { case (qid, v) =>
        val qn = math.sqrt(v.map(x => x * x).sum)
        val qh = v.map(_ / qn).toArray
        val tau = p1kth.getOrElse(qid, None) match {
          case Some(ck) => math.sqrt(2.0 * (1.0 - ck) + 4e-6)
          case None => 2.1
        }
        val probed = cents.indices.sortBy { l =>
          (v.zip(cents(l)).map { case (a, b) => (a - b) * (a - b) }.sum, l)
        }.take(nProbe).toSet
        val admitted = anchors.indices.filter { l =>
          val qa = math.sqrt(
            qh.zip(anchors(l)).map { case (a, b) => (a - b) * (a - b) }.sum)
          probed(l) || qa <= tau + radii.getOrElse(l, 2.0)
        }
        admitted.map(l => listSz.getOrElse(l, 0L)).sum.toDouble / nTot
      }
      fracs.sum / fracs.length
    }
    def recallAt(queries: org.apache.spark.sql.DataFrame): Double = {
      val corpus = spark.read.parquet(s"$path/corpus")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val probe = Similarity.ivfProbeIndex(spark, path, queries, "vec_id",
          "embedding", k, nProbe)
        .select(col("query_id"), col("candidate_id"))
        .as[(Long, Long)].collect().toSet
      val brute = Similarity.cosineTopK(corpus, queries, "vec_id",
          "embedding", k)
        .select(col("query_id"), col("candidate_id"))
        .as[(Long, Long)].collect().toSet
      probe.intersect(brute).size.toDouble / brute.size
    }
    val q0 = synth(0).where(col("vec_id") < 100L).localCheckpoint(true)
    val frac0 = scanFraction(q0)
    val rec0 = recallAt(q0)
    val mean0 = {
      val st0 = Similarity.ivfAppend(spark, path,
        synth(1).where(lit(false)), "embedding")
      st0.meanDistBefore // build-time mean distance, via a no-op append
    }
    println(f"SCALEIVFDRIFT wave=0 (build)  mean-dist=$mean0%8.4f  " +
      f"recall@10=$rec0%5.3f  scan-frac=$frac0%6.3f")
    var lastFrac = frac0; var lastRec = rec0; var lastMean = mean0
    for (w <- 1 to 4) {
      val st = Similarity.ivfAppend(spark, path, synth(w), "embedding")
      val qw = synth(w)
        .where(col("vec_id") < w * nWave + 100L).localCheckpoint(true)
      val frac = scanFraction(qw)
      val rec = recallAt(qw)
      val meanRatio = st.meanDistAfter / mean0
      val retrain = meanRatio > 1.5 || rec < 0.9 || frac > 2.0 * frac0
      println(f"SCALEIVFDRIFT wave=$w%d  mean-dist=${st.meanDistAfter}%8.4f" +
        f" (x$meanRatio%5.2f vs build)  recall@10=$rec%5.3f  " +
        f"scan-frac=$frac%6.3f  retrain=$retrain%b")
      lastFrac = frac; lastRec = rec; lastMean = st.meanDistAfter
    }
    // the drift must actually REGISTER in the telemetry (otherwise the
    // retrain trigger can never fire on real drift)
    c.check(lastMean / mean0 >= 1.2 || lastRec <= 0.98 || lastFrac >= 1.5 * frac0,
      "SCALEIVFDRIFT drift fixture too weak — no signal moved")
    // RETRAIN at the documented threshold: rebuild on the grown corpus,
    // telemetry must recover
    val grown = spark.read.parquet(s"$path/corpus")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val t0 = System.nanoTime()
    // retrain RESCALES nLists with the corpus (5x the build corpus ->
    // 5x the lists): a 64-centroid refit over 320 relocated clusters
    // leaves ~5 scattered blobs per list and radii stay inflated
    // (measured: scan fraction only 0.989 -> 0.896); the k-prop-to-N
    // rescale is what actually restores prunability
    Similarity.buildIvfIndex(grown, "vec_id", "embedding", path,
      nLists = nLists * 5, iters = 2)
    val tRetrain = (System.nanoTime() - t0) / 1e9
    val q4 = synth(4).where(col("vec_id") < 4 * nWave + 100L)
      .localCheckpoint(true)
    val fracR = scanFraction(q4)
    val recR = recallAt(q4)
    println(f"SCALEIVFDRIFT retrain ($tRetrain%5.1f s)  recall@10=$recR%5.3f" +
      f"  scan-frac=$fracR%6.3f (was recall=$lastRec%5.3f frac=$lastFrac%6.3f)")
    c.check(recR >= lastRec - 0.001 && fracR <= lastFrac * 1.05,
      "SCALEIVFDRIFT retrain did not recover the telemetry")
    c.check(recR >= 0.95, "SCALEIVFDRIFT post-retrain recall red")
    // the tier owns the /tmp index path (1.25M vectors + rebuilt copy,
    // ~1 GB) — delete it before stopping (r12 ADVICE: leaked per run)
    try {
      def rmTree(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rmTree)
        f.delete(): Unit
      }
      rmTree(new java.io.File(path))
    } catch { case _: Throwable => () }
  }

  /** Trained-langid tier (`runMain graft.ScaleSmoke langid1m`): the NB
    * char-trigram classifier at 250k vs 1M docs (5 balanced langs,
    * per-lang marker tokens with disjoint trigram inventories ×3 per
    * doc + 25 shared-soup tokens — separable by construction, so
    * accuracy is a correctness check, not a hope). Checks:
    *  - wall ≲ linear in docs (training is two map-combinable
    *    aggregates over the trigram explode; scoring one broadcast
    *    join + two aggregates);
    *  - accuracy ≥ 0.999 at both scales (hash collisions into d=256
    *    buckets must not drown the tf-3 marker margin);
    *  - predictions BIT-IDENTICAL across partitionings at 1M (the
    *    DSIR round-then-exact-decimal discipline measured at scale). */
  /** Order-statistic cutoff tier (`runMain graft.ScaleSmoke ranks1m`) —
    * the r12-verdict plan-shape fix measured at 1M rows: proves the
    * globalRowNumber / stratifiedRowNumber rank stage's MAX per-task
    * input is O(n/nParts) (the single-task global window / sorted-list
    * aggregate it replaced is O(n) by construction), including under
    * the skewed-stratum regime where one stratum is 90% of the corpus,
    * and that the picked median order statistics are bit-identical to
    * the single-task reference. */
  /** 1M-doc sampler tier: exact-budget top-k sampling (uniform + E-S
    * weighted) and the held-out hash split at 1M ids. Confirms the
    * TakeOrderedAndProject plan survives (no global sort appears at this
    * size), the kept set is partitioning-invariant, and — the property
    * that makes min-wise sampling shard-parallel and stream-mergeable at
    * 100 TB — top-k(A ∪ B) == top-k(top-k(A) ∪ top-k(B)), so shard-local
    * heaps compose without ever sorting the corpus. */
  private def sample1m(c: Ctx): Unit = {
    import graft.ext.Corpus
    import c.spark
    val n = 1000000L
    val k = 1000
    val docs = spark.range(n).select(col("id").as("doc_id"),
        (pmod(xxhash64(col("id"), lit(3)), lit(2000L)) + 50L).as("n_chars"))
      .localCheckpoint(true)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // uniform: wall, plan, partitioning invariance
    val uni = Corpus.uniformSampleK(docs, "doc_id", k)
    c.check(uni.queryExecution.sparkPlan.toString
        .contains("TakeOrderedAndProject"),
      "SCALESAMPLE uniform plan lost TakeOrderedAndProject")
    val (uniRows, tUni) = timed(uni.collect())
    val uniIds = uniRows.map(_.getLong(0)).toSet
    println(f"SCALESAMPLE uniform top-$k of ${n / 1000000}M: $tUni%.1f s")
    val uniIds7 = Corpus.uniformSampleK(docs.repartition(7), "doc_id", k)
      .collect().map(_.getLong(0)).toSet
    c.check(uniIds == uniIds7, "SCALESAMPLE uniform kept set not partitioning-invariant")
    // mergeability: shard-local top-k heaps compose to the global top-k
    val lo = Corpus.uniformSampleK(docs.where(col("doc_id") < n / 2),
      "doc_id", k)
    val hi = Corpus.uniformSampleK(docs.where(col("doc_id") >= n / 2),
      "doc_id", k)
    val mergedIds = Corpus.uniformSampleK(lo.unionByName(hi)
        .drop("sample_key"), "doc_id", k)
      .collect().map(_.getLong(0)).toSet
    c.check(mergedIds == uniIds, "SCALESAMPLE shard-merge law violated: " +
      s"${(mergedIds -- uniIds).size}/${(uniIds -- mergedIds).size} diffs")
    if (mergedIds == uniIds) println("SCALESAMPLE shard-merge law holds: " +
      "top-k(A∪B) == top-k(top-k(A) ∪ top-k(B))")
    // weighted: wall, invariance, and the length bias it exists for
    val (wRows, tW) = timed(
      Corpus.weightedSampleK(docs, "doc_id", "n_chars", k).collect())
    println(f"SCALESAMPLE weighted top-$k: $tW%.1f s")
    val wIds = wRows.map(_.getLong(0)).toSet
    val wIds5 = Corpus.weightedSampleK(docs.repartition(5), "doc_id",
      "n_chars", k).collect().map(_.getLong(0)).toSet
    c.check(wIds == wIds5, "SCALESAMPLE weighted kept set not partitioning-invariant")
    val wMean = wRows.map(_.getLong(1)).sum.toDouble / wRows.length
    val uMean = uniRows.map(_.getLong(1)).sum.toDouble / uniRows.length
    println(f"SCALESAMPLE mean weight: weighted $wMean%.0f vs uniform $uMean%.0f")
    c.check(wMean > uMean, "SCALESAMPLE weighted sample shows no weight bias")
    // hash split at 1M: one row-local projection; shares within 4 sigma
    val (splits, tS) = timed(Corpus.hashSplit(docs, "doc_id")
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    println(f"SCALESAMPLE hashSplit of ${n / 1000000}M: $tS%.1f s -> $splits")
    def within(name: String, p: Double): Unit = {
      val got = splits.getOrElse(name, 0L).toDouble
      val sigma = math.sqrt(n * p * (1 - p))
      c.check(math.abs(got - n * p) <= 4 * sigma,
        f"SCALESAMPLE $name share off: $got%.0f vs ${n * p}%.0f " +
          f"(4 sigma = ${4 * sigma}%.0f)")
    }
    within("train", 0.90); within("validation", 0.05); within("test", 0.05)
  }

  private def ranks1m(c: Ctx): Unit = {
    import graft.ext.Ranks
    import c.spark
    val n = 1000000L
    val nParts = 32
    // heavy ties (3-dp grid scores) make the tiebreak column do real work
    val scored = spark.range(n).select(col("id").as("doc"),
        (pmod(xxhash64(col("id")), lit(4000L)) / 4000.0).as("score"))
      .localCheckpoint(true)
    val ord = Seq(col("score"), col("doc"))
    // max per-task input of the rank stage = per-partition rows of the
    // range exchange (the stage that replaced the single-task buffer)
    val maxTask = scored.repartitionByRange(nParts, ord: _*)
      .groupBy(spark_partition_id().as("_p")).count()
      .agg(max(col("count"))).head().getLong(0)
    val even = n / nParts
    println(s"SCALERANKS max rank-stage task input: $maxTask rows " +
      f"(even share $even, ratio ${maxTask.toDouble / even}%.2f)")
    c.check(maxTask <= 3 * even, "SCALERANKS rank-stage task input red (not O(n/nParts))")
    // the distributed median pick must equal the single-task reference
    def medianOf(ranked: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val lo = n / 2 // floor((n-1)/2)+1 with n even = n/2
      val r = ranked.where(col("rn") === lo || col("rn") === lo + 1)
        .orderBy("rn").collect()
      (r(0).getAs[Double]("score"), r(1).getAs[Double]("score"))
    }
    val t0 = System.nanoTime()
    val distMed = medianOf(Ranks.globalRowNumber(scored, ord, nParts))
    val tDist = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val refMed = medianOf(scored.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(ord: _*)).cast("long")))
    val tRef = (System.nanoTime() - t1) / 1e9
    println(f"SCALERANKS median pick: dist=$tDist%.1f s single-task=$tRef%.1f s " +
      s"values $distMed vs $refMed")
    c.check(distMed == refMed, "SCALERANKS median mismatch")
    // skewed-stratum regime: one language is 90% of the corpus — a
    // Window.partitionBy(lang) puts 900k rows in ONE task; the
    // stratified rank stage must stay O(n/nParts)
    val strat = scored.withColumn("lang",
        when(pmod(col("doc"), lit(10L)) < 9L, lit("en"))
          .otherwise(concat(lit("l"), pmod(col("doc"), lit(10L)))))
      .localCheckpoint(true)
    val maxStrat = strat
      .repartitionByRange(nParts, col("lang"), col("score"), col("doc"))
      .groupBy(spark_partition_id().as("_p")).count()
      .agg(max(col("count"))).head().getLong(0)
    println(s"SCALERANKS max stratified task input: $maxStrat rows " +
      f"(ratio ${maxStrat.toDouble / even}%.2f; dominant stratum 900k)")
    c.check(maxStrat <= 3 * even, "SCALERANKS stratified task input red")
    val sr = Ranks.stratifiedRowNumber(strat, Seq("lang"), ord, nParts)
    val refS = strat.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(ord: _*)).cast("long"))
    val mism = sr.select(col("doc"), col("rn"))
      .join(refS.select(col("doc"), col("rn").as("_r")), "doc")
      .where(col("rn") =!= col("_r")).count()
    println(s"SCALERANKS stratified rank mismatches vs window: $mism")
    c.check(mism == 0L)
    // adaptive fan-out (r13 verdict task 1): with no explicit override
    // the rank stage's task count must TRACK spark.sql.shuffle.partitions
    // — the conf a cluster sizes its exchanges with — and the rank
    // values must be bit-identical across settings
    val prevConf = spark.conf.get("spark.sql.shuffle.partitions")
    def ranksAt(conf: Int): (Int, Long) = {
      spark.conf.set("spark.sql.shuffle.partitions", conf.toString)
      val rk = Ranks.globalRowNumber(scored, ord)
      val parts = rk.rdd.getNumPartitions
      // order-free checksum over (doc, rn): any rank difference moves it
      val chk = rk.agg(sum(pmod(col("doc") * 1000003L + col("rn"),
        lit(1000000007L)))).head().getLong(0)
      (parts, chk)
    }
    val (p16, c16) = ranksAt(16)
    val (p48, c48) = ranksAt(48)
    spark.conf.set("spark.sql.shuffle.partitions", prevConf)
    println(s"SCALERANKS adaptive fan-out: conf=16 -> $p16 tasks, " +
      s"conf=48 -> $p48 tasks; checksums ${c16 == c48}")
    c.check(p16 == 16 && p48 == 48, "SCALERANKS rank-stage task count does not track the conf")
    c.check(c16 == c48, "SCALERANKS ranks differ across fan-out settings")
    // z-order LAYOUT BUILD under a 90%-skewed dimension (r15 verdict
    // task 7): 90% of rows share b2 bucket 7, so zkeys collide heavily —
    // but the layout's rank pass orders by (zkey, doc_id) and
    // range-partitions on BOTH, so tied keys spread by the tiebreak; and
    // file assignment is rank ARITHMETIC (file_id = (rank−1) div rpf, so
    // every file carries exactly rpf rows whatever the dimension skew),
    // which means repartition(col("file_id")) can have no hot file — a
    // task is at worst a few whole files by hash-bin collision, never a
    // skewed key's whole mass
    val zrows = spark.range(n).select(col("id").as("doc_id"),
        pmod(xxhash64(col("id"), lit(1)), lit(256L)).as("b1"),
        when(pmod(col("id"), lit(10L)) < 9L, lit(7L))
          .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(256L))).as("b2"))
      .withColumn("zkey", graft.ext.ZTable.zkeyExpr)
      .localCheckpoint(true)
    val maxZRank = zrows
      .repartitionByRange(nParts, col("zkey"), col("doc_id"))
      .groupBy(spark_partition_id().as("_p")).count()
      .agg(max(col("count"))).head().getLong(0)
    println(s"SCALERANKS zorder skewed rank-stage max task input: " +
      f"$maxZRank rows (ratio ${maxZRank.toDouble / even}%.2f; " +
      "90% of rows share one b2 bucket)")
    c.check(maxZRank <= 3 * even, "SCALERANKS zorder skewed rank stage red")
    val nFiles = 64
    val rpf = (n + nFiles - 1) / nFiles
    val staged = Ranks.globalRowNumber(zrows,
        Seq(col("zkey"), col("doc_id")), nParts, out = "_rk")
      .withColumn("file_id", expr(s"(_rk - 1) div $rpf"))
      .localCheckpoint(true)
    val shufParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val evenW = n / shufParts
    // Measure the raw HASH distribution of file_ids over write tasks:
    // at this tier's scale the whole staged frame is ~50 MB, so AQE's
    // partition coalescing (advisory 64 MB) legitimately merges every
    // bin into ONE task — correct for tiny tables, but it hides the
    // distribution under test (at real file sizes no coalescing fires:
    // each bin is ≥ one ~100 MB file). Disable just the coalescer for
    // the measurement.
    val coalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceConf)
    spark.conf.set(coalesceConf, "false")
    val maxWrite = staged.repartition(col("file_id"))
      .groupBy(spark_partition_id().as("_p")).count()
      .agg(max(col("count"))).head().getLong(0)
    spark.conf.set(coalesceConf, prevCoalesce)
    val fileRows = staged.groupBy(col("file_id")).count()
      .agg(max(col("count")), count(lit(1))).head()
    println(s"SCALERANKS zorder write-stage max task input: $maxWrite " +
      f"rows (even $evenW, ratio ${maxWrite.toDouble / evenW}%.2f; " +
      s"max file rows ${fileRows.getLong(0)} == rpf $rpf over " +
      s"${fileRows.getLong(1)} files)")
    c.check(fileRows.getLong(0) == rpf,
      "SCALERANKS zorder file rows must be exactly rpf under skew")
    // bins-into-tasks bound: worst task holds a few whole files, never a
    // skewed fraction of the corpus
    c.check(maxWrite <= 6 * evenW, "SCALERANKS zorder write-stage task input red")
  }

  private def langid1m(c: Ctx): Unit = {
    import graft.ext.TextAnalysis
    import c.spark
    val langArr = array(Seq("en", "de", "es", "fr", "zh").map(lit): _*)
    val markArr = array(Seq("ethereth", "dunderdun", "osolosol",
      "fraisfrai", "zhouzhou").map(lit): _*)
    def synth(n: Long) = {
      val li = (pmod(col("id"), lit(5L)).cast("int") + 1)
      val mark = element_at(markArr, li)
      spark.range(n).select(col("id").as("doc_id"),
        element_at(langArr, li).as("lang"),
        concat_ws(" ", mark, mark, mark,
          array_join(transform(sequence(lit(0), lit(24)), j =>
            concat(lit("w"), pmod(xxhash64(col("id"), j), lit(2000L)))),
            " ")).as("text"))
    }
    def runAt(n: Long, parts: Int) = {
      val docs = synth(n).repartition(parts).localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = TextAnalysis.langIdTrained(docs, "doc_id", "text", "lang")
        .localCheckpoint(true)
      val acc = out.where(col("lang") === col("pred_lang")).count()
        .toDouble / n
      (((System.nanoTime() - t0) / 1e9, acc, out))
    }
    val (t250, acc250, _) = runAt(250000L, 32)
    val (t1m, acc1m, outA) = runAt(1000000L, 32)
    println(f"SCALELANGID wall        250k=$t250%6.1f s  1m=$t1m%6.1f s " +
      f"(ratio ${t1m / t250}%.2f)  acc 250k=$acc250%.4f 1m=$acc1m%.4f")
    c.check(acc250 >= 0.999 && acc1m >= 0.999, "SCALELANGID accuracy red")
    c.growth("SCALELANGID", t250, t1m, 8, 30)
    c.check(t1m <= 600, "SCALELANGID wall red")
    val (_, _, outB) = runAt(1000000L, 7)
    val mism = outA.select(col("doc"), col("pred_lang").as("_pa"),
        col("score").as("_sa"))
      .join(outB.select(col("doc"), col("pred_lang"), col("score")), "doc")
      .where(col("_pa") =!= col("pred_lang") || col("_sa") =!= col("score"))
      .count()
    println(s"SCALELANGID partition-invariance mismatches at 1M: $mism")
    c.check(mism == 0L)
  }

  /** Water-filled budget fill at 1M docs under 90%-one-language skew
    * (`sbt "runMain graft.ScaleSmoke waterfill1m"`) — the r13
    * prefix-sum family's scale evidence:
    *
    *  - allocation exactness: Σ alloc == budget (the water-filling
    *    closed form leaves nothing stranded while a stratum can absorb
    *    it), saturated strata keep exactly their caps;
    *  - the fill's running-sum stage must stay O(n/nParts) per task
    *    with ONE stratum at 90% of the corpus — the regime where
    *    `sum() OVER (PARTITION BY lang ORDER BY …)` puts 900k rows in
    *    a single task — measured directly (max task input of the range
    *    exchange) and raced against the single-task window reference;
    *  - kept set bit-identical across partitionings (32 vs 7) and
    *    equal to the window reference.
    */
  private def waterfill1m(c: Ctx): Unit = {
    import graft.ext.Corpus
    import c.spark
    val n = 1000000L
    val nParts = 32
    val even = n / nParts
    // 90% en + 9 minor languages at ~1.1% each (ids ≡ 9 mod 10 spread
    // over l9/l19/…/l89 via mod 90); token lengths on a 64..2111 grid
    val docs = spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10L)) < 9L, lit("en"))
          .otherwise(concat(lit("l"), pmod(col("id"), lit(90L)))).as("lang"),
        (pmod(xxhash64(col("id"), lit(3L)), lit(2048L)) + 64L).as("n_chars"))
      .localCheckpoint(true)
    val bp = 6000L
    val alloc = Corpus.waterfillAlloc(docs, "lang", "n_chars", bp)
      .localCheckpoint(true)
    val totCap = alloc.agg(sum(col("cap_tokens"))).head().getLong(0)
    val budget = totCap * bp / 10000L
    val totAlloc = alloc.agg(sum(col("alloc_tokens"))).head().getLong(0)
    val satBad = alloc.where(col("saturated") &&
      col("alloc_tokens") =!= col("cap_tokens")).count()
    println(s"SCALEWATERFILL alloc: budget=$budget allocated=$totAlloc " +
      s"strata=${alloc.count()} satViolations=$satBad")
    c.check(totAlloc == budget, "SCALEWATERFILL stranded/overspent budget red")
    c.check(satBad == 0L, "SCALEWATERFILL saturation red")
    // max task input of the fill's range-exchange stage under the skew
    val keyed = docs.withColumn("fill_key",
      Corpus.sampleKey(col("doc_id"), Corpus.FillSalt))
    val maxTask = keyed
      .repartitionByRange(nParts, col("lang"), col("fill_key"), col("doc_id"))
      .groupBy(spark_partition_id().as("_p")).count()
      .agg(max(col("count"))).head().getLong(0)
    println(s"SCALEWATERFILL max fill-stage task input: $maxTask rows " +
      f"(even share $even, ratio ${maxTask.toDouble / even}%.2f; " +
      "dominant stratum 900k)")
    c.check(maxTask <= 3 * even, "SCALEWATERFILL fill-stage task input red (not O(n/nParts))")
    def keptOf(parts: Int): org.apache.spark.sql.DataFrame =
      Corpus.waterfillFill(docs, "doc_id", "lang", "n_chars", bp,
          nParts = parts)
        .select(col("doc_id"), col("cum_tokens"))
    val t0 = System.nanoTime()
    val kept32 = keptOf(32).localCheckpoint(true)
    val nKept = kept32.count()
    val tDist = (System.nanoTime() - t0) / 1e9
    // the single-task reference: same greedy fill through ONE window
    val t1 = System.nanoTime()
    val ref = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("fill_key"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      keyed.withColumn("cum_tokens", sum(col("n_chars")).over(w))
        .join(broadcast(alloc.select(col("lang"), col("alloc_tokens"))), "lang")
        .where(col("cum_tokens") <= col("alloc_tokens"))
        .select(col("doc_id"), col("cum_tokens")).localCheckpoint(true)
    }
    val refN = ref.count()
    val tRef = (System.nanoTime() - t1) / 1e9
    println(f"SCALEWATERFILL fill wall: dist=$tDist%.1f s " +
      f"single-task-window=$tRef%.1f s  kept=$nKept (ref $refN)")
    val mism = kept32.join(ref.withColumnRenamed("cum_tokens", "_c"), "doc_id")
      .where(col("cum_tokens") =!= col("_c")).count()
    c.check(nKept == refN && mism == 0L,
      "SCALEWATERFILL kept-set mismatch vs window reference")
    val kept7 = keptOf(7)
    val d1 = kept32.exceptAll(kept7).count()
    val d2 = kept7.exceptAll(kept32).count()
    println(s"SCALEWATERFILL partition-invariance diffs (32 vs 7): ${d1 + d2}")
    c.check(d1 + d2 == 0L)
  }
}
