package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines: token-budget
  * shard packing (the concatenate-then-chunk layout step that turns a
  * curated corpus into fixed-size training shards) and deterministic
  * stratified sampling (hash-Bernoulli per stratum — the language/source
  * rebalancing step). Both are designed for the 100 TB shape: packing is
  * a distributed two-stage prefix sum (no corpus-wide single-task
  * window), sampling is a shuffle-free row-local predicate.
  */
object Corpus {

  /** Per-operator md5 sampling-key salts (independent draws); a twin or
    * oracle that replays one uses the same string. */
  private[graft] val UniformSalt = "usample"
  private[graft] val WeightedSalt = "wsample"
  private[graft] val FillSalt = "bfill"
  private[graft] val EpochSalt = "emix"
  /** Range partitions of the per-stratum rank and running-sum passes. */
  private[graft] val RankParts = 32

  /** Assign every document a training SHARD by token budget, in stable
    * `idCol` order — the concat-then-chunk assignment GPT-style data
    * prep uses: lay all documents end to end and cut every
    * `budgetTokens`; a document belongs to the shard its first token
    * lands in (`shard_id = start_offset div budget`). Emits
    * (doc, n_tokens, start_offset, shard_id).
    *
    * The global running sum is computed WITHOUT a corpus-wide
    * single-task window (`Window.orderBy` with no partition keys — the
    * classic scale trap): documents group into order-preserving id
    * ranges of `bucketWidth` (stage 1: one map-side-combinable hash
    * aggregate for per-bucket token totals), the exclusive prefix over
    * bucket totals runs on the BUCKET frame only (stage 2: a single-task
    * window over corpusSize/bucketWidth rows — at 10⁹ docs and the
    * default 2²⁰ width that is ~1 000 rows), and each document adds its
    * intra-bucket exclusive running sum to its bucket's offset (stage 3:
    * a window PARTITIONED by bucket, plus a broadcast join of the tiny
    * offset frame). Output is invariant to `bucketWidth` (ExtSpec pins
    * it), so the width is purely a parallelism knob.
    *
    * Counts use whitespace tokens ([[TextAnalysis.tokens]]); all
    * arithmetic is exact integers — engine-portable with no rounding. */
  def packShards(df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long, bucketWidth: Long = 1L << 20): DataFrame =
    packShardsFromCounts(
      df.select(col(idCol).cast("long").as("doc"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens")),
      budgetTokens, bucketWidth)

  /** [[packShards]] over a precomputed per-doc token-count frame
    * (doc, n_tokens) — the counting rule becomes a parameter, so a REAL
    * tokenizer ([[Bpe.tokenCounts]]) keys the budget arithmetic instead
    * of the whitespace approximation. Same decomposed prefix sum. */
  def packShardsFromCounts(counts: DataFrame, budgetTokens: Long,
      bucketWidth: Long = 1L << 20): DataFrame = {
    require(budgetTokens > 0 && bucketWidth > 0,
      "budgetTokens and bucketWidth must be positive")
    val base = counts.select(col("doc").cast("long").as("doc"),
        col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("_bucket", floor(col("doc") / lit(bucketWidth)))
    val bucketTotals = base.groupBy(col("_bucket"))
      .agg(sum(col("n_tokens")).as("_btok"))
    // exclusive prefix over bucket totals: single-task by construction,
    // but over #buckets rows, not the corpus
    val wBuckets = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .select(col("_bucket"),
        coalesce(sum(col("_btok")).over(wBuckets), lit(0L)).as("_boff"))
    val wInBucket = Window.partitionBy(col("_bucket")).orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), "_bucket")
      .select(col("doc"), col("n_tokens"),
        (col("_boff") +
          coalesce(sum(col("n_tokens")).over(wInBucket), lit(0L)))
          .as("start_offset"))
      .withColumn("shard_id", floor(col("start_offset") / lit(budgetTokens)))
  }

  /** Fixed-length SEQUENCE packing — the context-window layout step that
    * turns a curated corpus into training sequences: lay all documents
    * end to end in stable `idCol` order and cut every `seqLen` tokens.
    * Unlike [[packShards]] (budgeted bins, document keeps one shard), a
    * document here SPANS every sequence its token range crosses — the
    * packing arithmetic an attention-mask/boundary-aware loader needs.
    * Emits (doc, n_tokens, start_offset, seq_start, seq_end,
    * offset_in_seq, n_seqs); all exact integer arithmetic.
    *
    * Scale shape: identical to [[packShards]] — the global offset is the
    * decomposed two-stage prefix sum (no corpus-wide single-task
    * window); the span columns are row-local divisions on top. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Long, bucketWidth: Long = 1L << 20): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    seqSpanCols(packShards(df, idCol, textCol, seqLen, bucketWidth), seqLen)
  }

  /** [[packSequences]] over a precomputed (doc, n_tokens) frame — see
    * [[packShardsFromCounts]]. */
  def packSequencesFromCounts(counts: DataFrame, seqLen: Long,
      bucketWidth: Long = 1L << 20): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    seqSpanCols(packShardsFromCounts(counts, seqLen, bucketWidth), seqLen)
  }

  /** Deterministic seeded GLOBAL SHUFFLE + shard packing — the
    * training-order step between curation and the loader: every epoch's
    * document order must be (a) uniformly shuffled, (b) reproducible
    * from a seed alone, and (c) computable without any single-machine
    * sort. Each document's shuffle key is `md5(seed ':' doc)` (a pure
    * row-local projection); documents are laid end to end in key order
    * and cut every `budgetTokens` exactly like [[packShards]]. Emits
    * (doc, shuffle_key, n_tokens, start_offset, shard_id).
    *
    * Scale shape: the same decomposed two-stage prefix sum as
    * [[packShards]], but bucketed by the key's first two hex digits
    * (256 order-preserving ranges of the hash space, uniformly loaded
    * BY CONSTRUCTION — md5 is the balancer, so there is no skewed
    * bucket even when doc ids are). No corpus-wide single-task window;
    * changing the seed re-shuffles everything with zero code path
    * difference. */
  def shufflePack(df: DataFrame, idCol: String, textCol: String,
      seed: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val base = df.select(col(idCol).cast("long").as("doc"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("shuffle_key",
        md5(concat(lit(seed), lit(":"), col("doc").cast("string"))))
      .withColumn("_bucket", substring(col("shuffle_key"), 1, 2))
    val bucketTotals = base.groupBy(col("_bucket"))
      .agg(sum(col("n_tokens")).as("_btok"))
    val wBuckets = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .select(col("_bucket"),
        coalesce(sum(col("_btok")).over(wBuckets), lit(0L)).as("_boff"))
    val wInBucket = Window.partitionBy(col("_bucket"))
      .orderBy(col("shuffle_key"), col("doc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), "_bucket")
      .select(col("doc"), col("shuffle_key"), col("n_tokens"),
        (col("_boff") +
          coalesce(sum(col("n_tokens")).over(wInBucket), lit(0L)))
          .as("start_offset"))
      .withColumn("shard_id", floor(col("start_offset") / lit(budgetTokens)))
  }

  private def seqSpanCols(packed: DataFrame, seqLen: Long): DataFrame =
    packed
      .select(col("doc"), col("n_tokens"), col("start_offset"),
        col("shard_id").as("seq_start"),
        floor((col("start_offset") + col("n_tokens") - 1) / lit(seqLen))
          .as("seq_end"),
        (col("start_offset") % lit(seqLen)).as("offset_in_seq"))
      .withColumn("n_seqs", col("seq_end") - col("seq_start") + 1)

  /** Benchmark CONTAMINATION detection — the decontamination step a
    * training pipeline runs before shipping a corpus: find every
    * training document sharing at least one word `n`-gram with the
    * benchmark/eval set, with the count of distinct shared grams as the
    * evidence column. Emits (doc, n_contaminated_grams) for training
    * rows only (`benchPred` marks benchmark rows).
    *
    * Scale shape: the benchmark gram set is tiny next to the corpus
    * (eval suites are MBs against TBs), so it is distinct-aggregated
    * and BROADCAST; the corpus side streams through the hashed-gram
    * explode → broadcast semi-ish inner join → one count-distinct
    * aggregate keyed by doc. No corpus-side shuffle except the final
    * per-doc aggregate (keyed by doc id, skew-free). Grams are hashed
    * ([[Dedup.shingleArray]] — row-locally distinct, fixed-width longs);
    * an independent engine joining the STRING grams reproduces the
    * counts exactly unless xxhash64 collides, which the hash-match gate
    * would surface. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      benchPred: Column, n: Int = 5): DataFrame = {
    val grams = df.select(col(idCol).as("doc"), benchPred.as("_isb"),
        split(col(textCol), " ").as("_w"))
      .select(col("doc"), col("_isb"),
        explode(Dedup.shingleArray(col("_w"), n)).as("sh"))
    val benchGrams = grams.where(col("_isb")).select(col("sh")).distinct()
    grams.where(!col("_isb"))
      .join(broadcast(benchGrams), "sh")
      .groupBy(col("doc"))
      .agg(count_distinct(col("sh")).as("n_contaminated_grams"))
  }

  /** The portable per-document sampling hash: the first 15 hex chars of
    * md5 of the DECIMAL id string, as a long in [0, 10000) — the same
    * md5-prefix construction the dedup checksums and the portable
    * simhash use, so any SQL engine recomputes the keep decision
    * bit-identically (`('0x' || substring(md5(id::VARCHAR), 1, 15))
    * ::BIGINT % 10000` in DuckDB). */
  def sampleBucket(idCol: Column): Column =
    pmod(conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(10000L))

  /** Deterministic stratified Bernoulli sample: keep a row iff its
    * [[sampleBucket]] falls under its stratum's rate (in basis points of
    * 10000). Row-local predicate — no shuffle, no RNG state, pushes down
    * to the scan, and re-runs (or a different partitioning, or a
    * different engine) select the IDENTICAL rows, which is what a
    * reproducible training-mix recipe needs. Strata not in `ratesBp`
    * keep every row. Emits the input rows plus the sampling bucket. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      ratesBp: Map[String, Long]): DataFrame = {
    require(ratesBp.values.forall(r => r >= 0 && r <= 10000),
      "rates are basis points in [0, 10000]")
    val rate = ratesBp.foldLeft(lit(10000L)) { case (acc, (stratum, bp)) =>
      when(col(strataCol) === stratum, lit(bp)).otherwise(acc)
    }
    df.withColumn("sample_bucket", sampleBucket(col(idCol)))
      .where(col("sample_bucket") < rate)
  }

  /** Deterministic train/validation/test split by salted id hash — the
    * held-out-set assignment step of a training-data pipeline. A document
    * lands in `train` iff its salted bucket falls under `trainBp` (basis
    * points of 10000), `validation` under `trainBp + valBp`, else `test`.
    *
    * Two properties the naive `rand()` split lacks, both load-bearing at
    * corpus scale: (1) the assignment is a pure function of (salt, id) —
    * re-runs, different partitionings, incremental re-crawls and other
    * engines all agree, so a document can NEVER migrate from test into
    * train between pipeline versions (the classic eval-leak); (2) it is a
    * shuffle-free row-local projection that pushes down to the scan — no
    * global sort, no RNG state to coordinate across 1000 executors. The
    * salt is prepended so the split hash is independent of every other
    * md5-bucket decision in the pipeline ([[sampleBucket]], shuffle keys):
    * sampling and splitting stay statistically independent even though
    * both read the same id. Emits input rows + (split_bucket, split). */
  def hashSplit(df: DataFrame, idCol: String, salt: String = "split",
      trainBp: Long = 9000L, valBp: Long = 500L): DataFrame = {
    require(trainBp >= 0 && valBp >= 0 && trainBp + valBp <= 10000,
      "trainBp/valBp are basis points with trainBp + valBp <= 10000")
    val bucket = pmod(conv(substring(md5(
        concat(lit(salt + ":"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(10000L))
    df.withColumn("split_bucket", bucket)
      .withColumn("split",
        when(col("split_bucket") < trainBp, lit("train"))
          .when(col("split_bucket") < trainBp + valBp, lit("validation"))
          .otherwise(lit("test")))
  }

  /** Exact-k uniform sample WITHOUT replacement: the k rows with the
    * smallest salted md5 keys. Bernoulli sampling ([[stratifiedSample]])
    * delivers a rate; this delivers an exact BUDGET — "give me exactly
    * 10M held-out docs" — while keeping every reproducibility property
    * of the hash discipline (pure function of (salt, id): re-runs,
    * partitionings and engines agree; adding documents can only evict,
    * never reshuffle, previously selected ones — the min-wise property).
    *
    * Scale shape: `orderBy(key).limit(k)` compiles to
    * TakeOrderedAndProject — a size-k heap per partition + a k-row
    * driver merge. No global sort, no corpus shuffle; the corpus-side
    * work is one row-local md5 projection. k must fit the driver (it is
    * the OUTPUT — millions, not billions). */
  def uniformSampleK(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.withColumn("sample_key", sampleKey(col(idCol), UniformSalt))
      .orderBy(col("sample_key"), col(idCol)).limit(k)
  }

  /** The salted md5 sampling key [[uniformSampleK]] ranks on — exposed so
    * streaming twins rank on the byte-identical key (any drift in the
    * salt/separator convention must change both sides at once). */
  def sampleKey(idCol: Column, salt: String = UniformSalt): Column =
    md5(concat(lit(salt + ":"), idCol.cast("string")))

  /** Exact-k WEIGHTED sample without replacement (Efraimidis & Spirtes
    * 2006, "Weighted random sampling with a reservoir"): each row draws
    * u ~ U(0,1) from its salted 60-bit md5 bucket ((bucket + 0.5)/2^60 —
    * never 0 or 1) and the k smallest exponential keys -ln(u)/w win,
    * which selects row i with probability proportional to w_i at every
    * prefix — the one-pass exact-budget form of importance sampling
    * (DSIR delivers the same bias as a RATE; this delivers a BUDGET).
    * Keys are rounded to 6 dp with the id as total tie-break, so the
    * selected set is engine-portable under the repo's ln() rounding
    * discipline (same as bm25/tfidf). Same TakeOrderedAndProject shape
    * as [[uniformSampleK]]: no global sort, no corpus shuffle.
    *
    * Rows with non-positive (or null) weight are FILTERED, not ranked:
    * E-S gives them selection probability 0, and mechanically a w <= 0
    * key would be null/negative-infinite — and ascending null placement
    * differs across engines (Spark sorts nulls first, ANSI engines
    * last), so the filter is also what keeps the kept set portable. */
  def weightedSampleK(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val bucket = conv(substring(md5(concat(lit(WeightedSalt + ":"),
        col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val u = (bucket.cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    df.where(col(weightCol) > 0)
      .withColumn("es_key",
        round(-log(u) / col(weightCol).cast("double"), 6))
      .orderBy(col("es_key"), col(idCol)).limit(k)
  }

  /** Target-MIX sampling: derive each stratum's keep rate FROM a target
    * composition instead of taking fixed rates — the "make the training
    * mix 40% en / 20% zh / ..." recipe step. For stratum s with observed
    * count n_s, target share share_s (basis points) and a total document
    * budget B:
    *
    *   want_s    = (share_s * B) div 10000        (docs wanted from s)
    *   rate_s_bp = min(10000, (want_s * 10000) div n_s)
    *
    * then keep a row iff [[sampleBucket]](id) < rate_s_bp — the same
    * portable md5 predicate as [[stratifiedSample]], so the selected set
    * is engine/partitioning/re-run invariant. All arithmetic is exact
    * integer `div` (no doubles), so an independent SQL engine derives
    * bit-identical rates. Strata absent from `targetSharesBp` get share
    * 0 and are dropped.
    *
    * Scale shape: one map-side-combinable count aggregate over the
    * corpus (tiny result — one row per stratum), a broadcast join of the
    * derived rate frame, and a row-local keep predicate. No corpus-side
    * shuffle at all; an under-supplied stratum (n_s < want_s) saturates
    * at 10000 bp = keep everything, which is the standard behavior when
    * a source can't fill its quota. Emits input rows + (sample_bucket,
    * rate_bp). */
  def targetMixSample(df: DataFrame, idCol: String, strataCol: String,
      targetSharesBp: Map[String, Long], budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(targetSharesBp.values.forall(s => s >= 0 && s <= 10000),
      "shares are basis points in [0, 10000]")
    val share = targetSharesBp.foldLeft(lit(0L)) { case (acc, (stratum, bp)) =>
      when(col(strataCol) === stratum, lit(bp)).otherwise(acc)
    }
    val rates = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("long").as("_n"))
      .withColumn("_share_bp", share)
      .withColumn("_budget", lit(budget))
      // overflow-safe split of (share · budget) div 10^4: budget =
      // q·10^4 + r gives share·q + (share·r) div 10^4 EXACTLY (same
      // value as the naive product for every non-overflowing input, so
      // the oracle's naive form still hash-matches — and DuckDB's
      // checked arithmetic would THROW where Spark's would silently
      // wrap, which is why the engine side is the one that splits)
      .withColumn("_want",
        expr("(_budget div 10000) * _share_bp" +
          " + ((_budget % 10000) * _share_bp) div 10000"))
      // cap BEFORE the 10^4 rescale: want >= n means the rate saturates
      // anyway. The rescale uses the same exact div/mod split as _want
      // itself — (w·10^4) div n = (w div n)·10^4 + ((w mod n)·10^4) div n
      // identically, and the remainder term is bounded by n·10^4, so the
      // product can't wrap int64 for any stratum below ~9.2e14 rows
      // (the naive w·10^4 wraps as soon as w exceeds that, n-independent)
      .select(col(strataCol),
        when(col("_want") >= col("_n"), lit(10000L))
          .otherwise(expr("least(10000L, (_want div _n) * 10000" +
            " + ((_want % _n) * 10000) div _n)"))
          .as("rate_bp"))
    df.join(broadcast(rates), strataCol)
      .withColumn("sample_bucket", sampleBucket(col(idCol)))
      .where(col("sample_bucket") < col("rate_bp"))
  }

  /** Temperature-reweighted source mixing — the pretraining-mixture
    * sampler (the "sampling temperature" of multi-corpus LM recipes):
    * source shares are flattened from their natural n_s toward uniform
    * by exponent α, here α = 1/2 so the weight is sqrt(n_s) (sqrt is the
    * one power IEEE guarantees correctly rounded, which is what keeps
    * the rate arithmetic engine-portable — no pow()). Each source's keep
    * rate in basis points is
    *
    *   rate_s = floor(keepBp · N · w_s / (Σw · n_s)),  w_s = round6(√n_s)
    *
    * capped at 10000 — rare sources get boosted rates, hot sources get
    * cut, expected total ≈ keepBp/10000 · N. The op sequence (6-dp
    * floor-round of each √, exact DECIMAL(18,6) sum across the tiny
    * source frame, then one multiply chain + one division + one floor —
    * every step correctly rounded IEEE in the SAME order in both
    * engines) makes the rate bit-identical, and the keep decision is the
    * [[sampleBucket]] row-local hash predicate — shuffle-free,
    * scan-pushable, reproducible. Emits input rows + (rate_bp,
    * sample_bucket, selected). */
  def temperatureMixSample(df: DataFrame, idCol: String, strataCol: String,
      keepBp: Long): DataFrame =
    df.join(broadcast(temperatureRates(df, strataCol, keepBp)), strataCol)
      .withColumn("sample_bucket", sampleBucket(col(idCol)))
      .withColumn("selected", col("sample_bucket") < col("rate_bp"))

  /** The per-stratum rate table of [[temperatureMixSample]] (stratum,
    * rate_bp), exposed so a streaming twin can FREEZE the rates from a
    * batch corpus and apply the row-local keep predicate at ingest. */
  def temperatureRates(df: DataFrame, strataCol: String,
      keepBp: Long): DataFrame = {
    require(keepBp >= 0 && keepBp <= 10000, "keepBp in [0, 10000]")
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("long").as("_n"))
      .withColumn("_w6",
        (floor(sqrt(col("_n").cast("double")) * 1000000.0 + 0.5) / 1000000.0)
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
    val tot = counts.agg(sum(col("_w6")).as("_den"),
      sum(col("_n")).as("_nn"))
    counts.crossJoin(broadcast(tot))
      .select(col(strataCol),
        least(lit(10000L),
          floor(lit(keepBp.toDouble) * col("_nn") * col("_w6").cast("double")
            / (col("_den").cast("double") * col("_n"))).cast("long"))
          .as("rate_bp"))
  }

  /** Exact water-filling allocation of a token budget across strata —
    * the UniMax discipline (Chung et al. 2023: allocate a multilingual
    * budget as EVENLY as the data allows, each language capped by its
    * capacity) generalized to any stratum column. [[targetMixSample]]
    * takes target shares as INPUT and saturates silently;
    * water-filling DERIVES the shares: find the level λ with
    * Σ_s min(cap_s, λ) = budget, allocate min(cap_s, λ) to each
    * stratum — small strata keep everything they have, large strata
    * are cut to the common level, and no budget is stranded while an
    * unsaturated stratum could absorb it.
    *
    * All arithmetic is exact integer (the closed form over the
    * cap-ascending prefix sums: stratum at ascending rank i saturates
    * iff P_{i−1} + cap_i · (n − i + 1) ≤ B, then λ = (B − P_sat) div
    * r with the mod-r remainder handed one token each to the r
    * smallest-cap unsaturated strata — a deterministic, engine-
    * replayable tie policy). A budget ≥ total capacity degrades to
    * alloc = cap everywhere (the leftover is unassignable by
    * definition).
    *
    * Scale shape: ONE map-side-combinable count/sum aggregate over the
    * corpus to a frame of |strata| rows; every window below runs on
    * that aggregated tiny frame (driver-trivial by construction — the
    * plan-guard's unpartitioned-window counter exempts aggregated
    * inputs for exactly this shape). Emits one row per stratum:
    * (stratum, cap_tokens, alloc_tokens, saturated, level). */
  def waterfillAlloc(df: DataFrame, strataCol: String, weightCol: String,
      budgetBp: Long): DataFrame = {
    require(budgetBp >= 0 && budgetBp <= 10000,
      "budgetBp is basis points of total capacity in [0, 10000]")
    val caps = df.groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("cap_tokens"))
    val w = Window.orderBy(col("cap_tokens"), col(strataCol))
    val tot = caps.agg(sum(col("cap_tokens")).as("_tot"),
        count(lit(1)).as("_nstrata"))
      // same overflow-safe split as [[targetMixSample]]'s _want: exact
      // identity with (_tot · bp) div 10^4, no wrap at 100 TB token
      // totals (budgetBp <= 10^4 by the require above, so both terms
      // stay far inside int64 for any long _tot)
      .withColumn("_budget", expr("(_tot div 10000) * " + budgetBp +
        "L + ((_tot % 10000) * " + budgetBp + "L) div 10000"))
    val ranked = caps.crossJoin(broadcast(tot))
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_p", sum(col("cap_tokens")).over(w))
      .withColumn("saturated",
        (col("_p") - col("cap_tokens")) +
          col("cap_tokens") * (col("_nstrata") - col("_i") + 1) <=
          col("_budget"))
    val sat = ranked.agg(
      sum(when(col("saturated"), 1L).otherwise(0L)).as("_nsat"),
      coalesce(sum(when(col("saturated"), col("cap_tokens"))), lit(0L))
        .as("_psat"))
    ranked.crossJoin(broadcast(sat))
      .withColumn("_r", col("_nstrata") - col("_nsat"))
      .withColumn("level", when(col("_r") > 0,
        expr("(_budget - _psat) div _r")))
      .withColumn("_rem", when(col("_r") > 0,
        pmod(col("_budget") - col("_psat"), col("_r"))).otherwise(lit(0L)))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("cap_tokens"))
          .otherwise(least(col("cap_tokens"),
            col("level") +
              when(col("_i") - col("_nsat") <= col("_rem"), 1L)
                .otherwise(0L))))
      .select(col(strataCol), col("cap_tokens"), col("alloc_tokens"),
        col("saturated"), col("level"))
  }

  /** Apply a [[waterfillAlloc]] budget: within each stratum, keep
    * documents in salted-hash order while the INCLUSIVE running token
    * total fits the stratum's allocation — the greedy exact-budget fill
    * (documents are atomic; the first doc that would overflow the
    * budget is dropped, as is everything after it in hash order, so the
    * kept set is a deterministic pure function of (salt, ids, allocs)
    * and growing the corpus can only displace docs later in hash
    * order). The running total rides [[Ranks.stratifiedRunningSum]] —
    * two full-width corpus exchanges, never a one-task-per-stratum
    * window stall when one stratum dominates the corpus. Emits kept
    * rows + (fill_key, cum_tokens, alloc_tokens). */
  def waterfillFill(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String, budgetBp: Long,
      nParts: Int = RankParts): DataFrame = {
    val alloc = waterfillAlloc(df, strataCol, weightCol, budgetBp)
      .select(col(strataCol), col("alloc_tokens"))
    val keyed = df.withColumn("fill_key", sampleKey(col(idCol), FillSalt))
    Ranks.stratifiedRunningSum(keyed, Seq(strataCol),
        Seq(col("fill_key"), col(idCol)), col(weightCol), nParts,
        out = "cum_tokens")
      .join(broadcast(alloc), strataCol)
      .where(col("cum_tokens") <= col("alloc_tokens"))
  }

  /** Epoch-capped mixture materialization — the data-REPETITION side of
    * corpus mixing (LLaMA-style recipes upsample small high-quality
    * sources by running multiple epochs over them; the cap reflects the
    * data-constrained-scaling result that repetition beyond a few
    * epochs stops paying). For stratum s with natural count n_s, target
    * share share_s (basis points) of a total budget B =
    * (N · budgetBp) div 10000 emitted docs:
    *
    *   want_s = (share_s · B) div 10000
    *   full_s = min(maxEpochs, want_s div n_s)     full epochs, capped
    *   rem_s  = want_s mod n_s  (0 when capped)    docs getting 1 extra
    *
    * The rem_s extra-epoch docs are the stratum's smallest salted md5
    * keys (min-wise: growing the corpus can only displace, never
    * reshuffle, the extras), picked per stratum with the skew-safe
    * [[Ranks.stratifiedRowNumber]]. full_s = 0 strata degrade to a plain
    * exact-rem_s downsample; capped strata emit exactly maxEpochs · n_s.
    * All integer arithmetic — engine-replayable.
    *
    * Scale shape: one count aggregate (tiny), one stratified rank pass
    * (range shuffle, full parallelism), a broadcast rate join and a
    * row-local `explode(sequence(1, n_epochs))`. Emits (doc, stratum,
    * epoch ∈ [1, n_epochs]) — the materialized training-mix manifest. */
  def epochCapMix(df: DataFrame, idCol: String, strataCol: String,
      targetSharesBp: Map[String, Long], budgetBp: Long,
      maxEpochs: Int): DataFrame = {
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    // 10^6 bp = 100 corpus epochs; the bound keeps (_t div 10^4)·bp
    // inside int64 for corpora up to ~9·10^16 docs
    require(budgetBp >= 0 && budgetBp <= 1000000L,
      "budgetBp must be in [0, 1000000] (at most 100 corpus epochs)")
    require(targetSharesBp.values.forall(s => s >= 0 && s <= 10000),
      "shares are basis points in [0, 10000]")
    val share = targetSharesBp.foldLeft(lit(0L)) { case (acc, (stratum, bp)) =>
      when(col(strataCol) === stratum, lit(bp)).otherwise(acc)
    }
    val tot = df.agg(count(lit(1)).cast("long").as("_t"))
    val rates = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("long").as("_n"))
      .crossJoin(broadcast(tot))
      .withColumn("_share_bp", share)
      // two-level overflow-safe split (see [[targetMixSample]]): first
      // B = (t · budgetBp) div 10^4, then want = (share · B) div 10^4 —
      // both exact identities with the naive products, neither can wrap
      .withColumn("_budget", expr(s"(_t div 10000) * ${budgetBp}L" +
        s" + ((_t % 10000) * ${budgetBp}L) div 10000"))
      .withColumn("_want",
        expr("(_budget div 10000) * _share_bp" +
          " + ((_budget % 10000) * _share_bp) div 10000"))
      .withColumn("_full0", expr("_want div _n"))
      .withColumn("full_epochs",
        least(col("_full0"), lit(maxEpochs.toLong)))
      .withColumn("rem_docs",
        when(col("_full0") >= maxEpochs, lit(0L))
          .otherwise(pmod(col("_want"), col("_n"))))
      .select(col(strataCol), col("full_epochs"), col("rem_docs"))
    val keyed = df.select(col(idCol), col(strataCol))
      .withColumn("_key", sampleKey(col(idCol), EpochSalt))
    Ranks.stratifiedRowNumber(keyed, Seq(strataCol),
        Seq(col("_key"), col(idCol)), RankParts, out = "_rn")
      .join(broadcast(rates), strataCol)
      .withColumn("n_epochs", col("full_epochs") +
        when(col("_rn") <= col("rem_docs"), 1L).otherwise(0L))
      .where(col("n_epochs") > 0)
      .select(col(idCol), col(strataCol),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
  }

  /** Corpus snapshot diff — the data-versioning primitive for iterated
    * training-set builds: classify every doc id across two snapshots as
    * `added` / `removed` / `changed` / `unchanged` by full-outer-joining
    * on id and comparing md5 content digests. At scale this is ONE
    * id-keyed shuffle join (both sides co-partitioned on the join key)
    * with the digest computed row-local before the join, so only
    * (id, hash) ever moves — not document bodies. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def hashed(df: DataFrame, tag: String) =
      df.select(col(idCol).as(s"_id_$tag"), md5(col(textCol)).as(s"_h_$tag"))
    hashed(v1, "a").join(hashed(v2, "b"),
        col("_id_a") === col("_id_b"), "full_outer")
      .select(coalesce(col("_id_a"), col("_id_b")).as(idCol),
        when(col("_id_a").isNull, "added")
          .when(col("_id_b").isNull, "removed")
          .when(col("_h_a") =!= col("_h_b"), "changed")
          .otherwise("unchanged").as("status"))
  }
}
