package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED end-to-end curation pipeline — the shape a real
  * LLM-training-data build runs as one job, assembled from this
  * engine's per-stage operators:
  *
  *   ingest → URL dedup (canonical-key keeper — URL dedupe precedes
  *   content dedupe, the C4 order, Raffel et al. 2020 §2.2) → C4 line
  *   cleaning (downstream stages see the CLEANED text) → exact+fuzzy
  *   dedup keep-join → Gopher format gates → trained-LR quality gate
  *   (keep strictly above the exact MEDIAN score — the relative form a
  *   pipeline ships; an absolute cutoff empties the corpus wherever
  *   the trained bias lands negative) → link-graph RANK-PRIOR gate
  *   (keep pages whose PageRank clears the exact p75 cutoff of the
  *   rank table — the centrality prior a crawl pipeline budgets by;
  *   docs with NO rank node, e.g. re-crawl strata that slipped past
  *   dedup, carry no centrality evidence and are dropped) → fuzzy
  *   decontamination against a benchmark set → temperature mix (rates
  *   computed from POST-filter source counts — the cross-stage
  *   interaction per-stage queries can't see) → seeded shuffle-pack.
  *
  * == Scale shape ==
  *
  * Stage filters are row-local projections or doc_id-keyed semi/anti
  * joins, so the composition aligns on one id exchange; URL
  * canonicalization is row-local + ONE canon-keyed keeper aggregate;
  * the rank gate is one id-keyed join against the rank table plus a
  * broadcast two-row cutoff frame ([[Ranks.orderStatCut]] — range-
  * partitioned, never a single-task buffer); the near-dup
  * miner is the exact-dup-short-circuited PPJoin ([[Dedup
  * .dedupClustersDistinctWith]]), decontamination is the broadcast
  * exact cross-Jaccard ([[Dedup.crossJaccardPairs]] — the bench side is
  * eval-suite-sized), the mix decision is a row-local md5 predicate
  * over broadcast per-source rates, and the pack is the decomposed
  * 256-bucket prefix sum ([[Corpus.shufflePack]] — no corpus-wide
  * single-task window). localCheckpoint boundaries sit exactly where a
  * real pipeline would materialize an artifact (the cleaned corpus,
  * the deduped corpus, the shipped curated set); at cluster scale
  * these become the reliably-replicated checkpoints/tables between
  * pipeline phases.
  *
  * Every stage decision is engine-replayable (grid-exact arithmetic,
  * portable md5 hashes), so a SQL oracle can replay the WHOLE
  * composition — the doc_pipeline_e2e query hash-matches the packed
  * row set (offsets included) against DuckDB.
  */
object CurationPipeline {

  /** The staged frames, exposed individually so callers can audit the
    * funnel (each stage's survivor count) as well as consume the final
    * packed layout. `medianCut` / `rankCut` are the two-order-statistic
    * cutoff frames (_lo, _hi, _r — one row each): the FROZEN artifacts
    * a streaming twin broadcasts to apply the same gates per arriving
    * doc. */
  final case class Stages(ingest: DataFrame, urlDeduped: DataFrame,
    cleaned: DataFrame, deduped: DataFrame, gated: DataFrame,
    scoredKeep: DataFrame, ranked: DataFrame, decon: DataFrame,
    mixed: DataFrame, packed: DataFrame,
    medianCut: DataFrame, rankCut: DataFrame)

  /** Run the pipeline over `ingest` (columns: doc_id, text, lang,
    * source). `urls` carries one (doc_id, url) row per ingest doc — the
    * crawl source URL the ingest-time dedup keys on; `ranks` is the
    * link-graph rank table (doc_id, rank — 6-dp grid values, e.g.
    * [[Graph.pageRank]] output keyed to doc ids). `model` is the frozen
    * trained quality gate (score fold is stateless and dyadic-exact);
    * `benchOf` builds the benchmark / eval-suite frame (doc_id, text)
    * FROM the cleaned corpus — planted fixtures and real eval suites
    * both fit this hook. `minSentences` scales the C4 sentence floor to
    * the corpus (canonical 5). */
  def run(ingest: DataFrame, model: QualityModel.LinearModel,
      benchOf: DataFrame => DataFrame, urls: DataFrame, ranks: DataFrame,
      minSentences: Int = 2,
      keepBp: Long = 5000L, seed: String = "e2e42",
      budgetTokens: Long = 1000L): Stages = {
    // URL-level dedup FIRST (the C4 order: a re-crawled tracking-URL
    // variant never reaches content processing): row-local
    // canonicalization + one canon-keyed keeper aggregate + an id-keyed
    // semi join — all aligned on doc_id like every other stage filter
    val keepUrl = UrlOps.urlDedup(urls, "doc_id", "url")
      .where(col("is_keeper")).select(col("doc").as("doc_id"))
    // every exposed stage is pinned (r16): the funnel audit
    // (doc_pipeline_funnel) and the streaming-twin build count/consume
    // EVERY stage, and each unpinned stage re-ran its tail from the
    // nearest pin per consumer (the funnel's 10 crossJoined aggregates
    // re-executed url-dedup, the Gopher rule pass, the rank-cut Ranks
    // pass and the mix sample on every evaluation). A pin here is
    // where a real pipeline materializes the stage artifact anyway.
    val urlDeduped = ingest.join(keepUrl, Seq("doc_id"), "left_semi")
      .transform(Pin.pin)
    val cleaned = TextAnalysis.c4Clean(urlDeduped, "doc_id", "text",
        carry = Seq("lang", "source"), minSentences = minSentences)
      .where(col("c4_keep"))
      .select(col("doc_id"), col("c4_text").as("text"), col("lang"),
        col("source"))
      .transform(Pin.pin)
    val cl = Dedup.dedupClustersDistinctWith(cleaned, "doc_id", "text")(
      rep => Dedup.jaccardPairs(
        Dedup.hashedShingles(rep, "doc_id", "text", 3), 0.5))
    val deduped = cleaned.join(cl, cleaned("doc_id") === cl("doc"), "left")
      .where(col("root").isNull || col("root") === cleaned("doc_id"))
      .select(cleaned("doc_id"), col("text"), col("lang"), col("source"))
      .transform(Pin.pin)
    val gp = TextAnalysis.gopherRules(deduped, "doc_id", "text")
      .where(col("gopher_pass")).select(col("doc_id"))
    val gated = deduped.join(gp, Seq("doc_id"), "left_semi")
      .transform(Pin.pin)
    // exact-median cutoff compared in exact dyadic double arithmetic
    // (scores are 2^-20-grid sums), so the boundary is engine- and
    // partition-invariant. The two median order statistics come from
    // [[Ranks.globalRowNumber]] — a range shuffle with full parallelism
    // — instead of a corpus-sized sorted-list aggregate on one task;
    // (_sc, doc_id) is a total order, so the rank-k score IS the k-th
    // smallest score and the cutoff frame is the same two values. The
    // scored frame is checkpointed (a real pipeline materializes the
    // gated+scored corpus) so the rank pass, the count and the keep
    // filter share one build. An EMPTY gated frame degrades to an empty
    // keep set: the cutoff aggregate yields nulls, the comparison is
    // null, the filter drops everything — no element_at(_, 0) crash.
    val scz = gated.withColumn("_sc",
        QualityModel.scoreText(col("text"), model))
      .transform(Pin.pin)
    val nF = scz.agg(count(lit(1)).as("_n"))
    val medRanked = Ranks.globalRowNumber(
      scz.select(col("_sc"), col("doc_id")),
      Seq(col("_sc"), col("doc_id")), out = "_rn")
    val loIdx = floor((col("_n") - 1) / 2) + 1
    val hiIdx = least(loIdx + 1, col("_n"))
    val scut = medRanked.crossJoin(broadcast(nF))
      .where(col("_rn") === loIdx || col("_rn") === hiIdx)
      .agg(
        min(when(col("_rn") === loIdx, col("_sc"))).as("_lo"),
        min(when(col("_rn") === hiIdx, col("_sc"))).as("_hi"),
        min(pmod(col("_n") - 1, lit(2L))).as("_r"))
    val scoredKeep = scz.crossJoin(broadcast(scut))
      .where(col("_sc") * 2 > (lit(2) - col("_r")) * col("_lo") +
        col("_r") * col("_hi"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .transform(Pin.pin)
    // rank-prior gate: keep pages whose link-graph rank clears the
    // exact p75 order-statistic cutoff of the FULL rank table (the
    // doc_curate_rank discipline: 4·rank ≥ (4−r)·lo + r·hi over
    // DECIMAL(38,6) grid values — no interpolation float order). The
    // inner join drops docs without a rank node: no centrality
    // evidence, the conservative crawl decision.
    val rk = ranks.select(col("doc_id"), col("rank"))
    val rcut = Ranks.orderStatCut(rk, col("rank"), col("doc_id"), 3, 4)
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val ranked = scoredKeep.join(rk, "doc_id")
      .crossJoin(broadcast(rcut))
      .where(col("rank").cast(dec6) * 4 >=
        (lit(4) - col("_r")) * col("_lo") + col("_r") * col("_hi"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .transform(Pin.pin)
    val bench = benchOf(cleaned)
    val contam = Dedup.crossJaccardPairs(ranked, bench, "doc_id",
        "text", minJ = 0.5)
      .select(col("doc_a").as("doc_id")).distinct()
    val decon = ranked.join(contam, Seq("doc_id"), "left_anti")
      .transform(Pin.pin)
    val mixed = Corpus.temperatureMixSample(decon, "doc_id", "source",
        keepBp = keepBp)
      .where(col("selected"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .transform(Pin.pin)
    val packed = Corpus.shufflePack(mixed, "doc_id", "text",
        seed = seed, budgetTokens = budgetTokens)
      .join(mixed.select(col("doc_id").as("doc"), col("lang"),
        col("source")), "doc")
      .select(col("doc"), col("lang"), col("source"), col("shuffle_key"),
        col("n_tokens"), col("start_offset"), col("shard_id"))
      .transform(Pin.pin)
    Stages(ingest, urlDeduped, cleaned, deduped, gated, scoredKeep,
      ranked, decon, mixed, packed, medianCut = scut, rankCut = rcut)
  }
}
