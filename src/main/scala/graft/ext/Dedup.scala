package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text pipelines. All operators
  * are pure DataFrame compositions (hash aggregates + equi-joins on
  * short keys) — no UDFs, no driver-side loops — so they distribute and
  * AQE/skew-join handling applies at 100 TB.
  *
  * Scale notes: exact dedup is one hash aggregate on the dedup key (never
  * a window over the full row). MinHash-LSH reduces the pairwise problem
  * from O(n²) to O(n·b) band-bucket joins; candidate verification touches
  * only bucket-colliding pairs. Shingle joins carry only (id, shingle-hash)
  * pairs — fixed-width rows — not document text.
  */
object Dedup {

  /** Shingle width in words of the n-gram sets the Jaccard ops compare. */
  private[graft] val ShingleWidth = 3
  /** The MinHash index shape: signature length and LSH band count of
    * [[minhashDupPairs]] and of the streaming probe
    * (`StreamingDedup.buildMinhashIndex`/`minhashDupStream`), which reads
    * these so its hashes match the batch path by construction. */
  private[graft] val MinhashHashes = 64
  private[graft] val MinhashBands = 16
  /** The SimHash index shape: the Hamming radius and block count of the
    * combination banding ([[simhashBands]]) behind
    * [[simhashDupPairsAtScalePortable]] and the streaming probe
    * (`StreamingDedup.buildSimhashIndex`/`simhashDupStream`). */
  private[graft] val SimhashMaxDist = 3
  private[graft] val SimhashBlocks = 6

  /** Exact dedup: one surviving row id per distinct key, deterministic
    * keeper = min id. `SELECT min(id), count(*) GROUP BY key` — map-side
    * partial aggregation, one shuffle on the key hash. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  // ---------- portable Bloom filter (incremental membership dedup) ----------

  /** The k md5-derived bit positions of `key` in an m-bit Bloom filter:
    * position_i = 60-bit prefix of md5("i:" ++ key) mod m. PORTABLE by the
    * same rationale as [[portableSimhash64]] — any SQL engine with md5
    * recomputes the identical filter, so the artifact is engine-neutral
    * and the whole probe result is exact-oracle-checkable. The 60-bit
    * prefix is non-negative and exact in a long, so `%` and `pmod`
    * agree across engines. */
  def bloomBitPositions(key: Column, m: Int, k: Int): Column =
    array((0 until k).map(i =>
      conv(substring(md5(concat(lit(i + ":"), key)), 1, 15), 16, 10)
        .cast("long") % m): _*)

  /** Build the filter artifact: the DISTINCT set bit positions over all
    * keys — at most m rows regardless of corpus size, so the filter
    * BROADCASTS and later batches never join against history again.
    * This is the incremental-ingest dedup shape at 100 TB: the
    * historical corpus compresses once into ≤ m bits; every new batch
    * probes row-locally against the broadcast bits. Bloom semantics:
    * NO false negatives ever (every true duplicate is flagged); false
    * positives at rate ≈ (1 − e^{−kn/m})^k drop only novel rows —
    * tune m/k to the acceptable novel-data loss. The set-bits frame is
    * also the natural union/merge representation: filters of two
    * corpora union by `UNION DISTINCT` of their bit frames. */
  def bloomBuild(df: DataFrame, keyCol: String, m: Int, k: Int): DataFrame =
    df.select(explode(bloomBitPositions(col(keyCol), m, k)).as("bit"))
      .distinct()

  /** Probe a batch against a built filter: a row is `maybe_dup` (1) iff
    * ALL k of its bit positions are set. Explode-to-k-rows + broadcast
    * join + partial `min` aggregate — the probe side is one narrow pass
    * with a k-way fan-out on ids only (key text never leaves its row),
    * no shuffle of the corpus, no state. */
  def bloomProbe(df: DataFrame, idCol: String, keyCol: String,
      bits: DataFrame, m: Int, k: Int): DataFrame = {
    val pos = df.select(col(idCol),
      explode(bloomBitPositions(col(keyCol), m, k)).as("bit"))
    pos.join(broadcast(bits.withColumn("_hit", lit(1))), Seq("bit"), "left")
      .groupBy(col(idCol))
      .agg(min(coalesce(col("_hit"), lit(0))).cast("long").as("maybe_dup"))
  }

  /** Pack a built bit frame into (m+63)/64 words — the driver-small
    * (m/8 bytes: 8 KiB at m = 65536) form of the filter, for row-local
    * probing. Bits OR into words DISTRIBUTED-side (`bit_or` partial
    * aggregation), so the driver collects at most m/64 word rows — never
    * a row per set bit, never anything proportional to the corpus; same
    * driver-smallness argument as the IVF centroid arrays. */
  def packBloomBits(bits: DataFrame, m: Int): Array[Long] = {
    val words = new Array[Long]((m + 63) / 64)
    bits.selectExpr("CAST(bit div 64 AS INT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT)) AS v")
      .groupBy(col("w")).agg(expr("bit_or(v)").as("v"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** ROW-LOCAL Bloom membership over the packed words — the form a
    * STATELESS streaming stage or a scan-side pre-filter wants: no join,
    * no aggregation, no state; the whole filter rides as an m/8-byte
    * array literal and each row answers with k md5s + k bit tests.
    * Identical decisions to [[bloomProbe]] over the same built bits
    * (pinned in ExtSpec). */
  def bloomMightContain(key: Column, words: Array[Long], m: Int, k: Int): Column =
    forall(bloomBitPositions(key, m, k), p => {
      val pi = p.cast("int")
      val word = element_at(typedLit(words.toSeq),
        call_function("shiftright", pi, lit(6)) + 1)
      call_function("shiftright", word, pi.bitwiseAND(lit(63)))
        .bitwiseAND(lit(1L)) === lit(1L)
    })

  /** CHUNK-level exact dedup — the repeated-passage/boilerplate removal
    * pass (the sub-document half of "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022, at fixed-chunk rather
    * than suffix-array granularity): split every document into
    * consecutive `chunkTokens`-token chunks, keep each distinct chunk
    * text exactly once corpus-wide (deterministic keeper = lowest
    * (doc, chunk_idx)), and report per-document kept/dropped accounting
    * (doc, n_chunks, kept_chunks, kept_tokens).
    *
    * Scale shape: chunking is ROW-LOCAL (one `transform(sequence, slice)`
    * over the token array — no explode-then-groupBy reassembly, so chunk
    * text never crosses the wire attached to anything but its own row);
    * the keeper decision is `min(ord) GROUP BY chunk-hash` — a
    * MAP-SIDE-COMBINABLE aggregate on the 64-bit chunk key (xxhash64
    * collisions would surface in the hash-match gate, same argument as
    * [[graft.ext.Corpus.contamination]]), so a 10⁶-copy boilerplate
    * chunk collapses to one partial per input task BEFORE the shuffle —
    * no hot window partition, no sort, no pairwise blow-up (a window
    * formulation would funnel every copy into one partition; the
    * chunk1m tier measures the difference). The per-doc rollups and the
    * final doc-keyed join are skew-free (chunk counts per doc are
    * bounded). One sortable long encodes the (doc, chunk_idx) keeper
    * order; chunk_idx < 10⁶ ≫ maxDocTokens/chunkTokens. */
  /** The ROW-LOCAL fixed-width chunking both the batch dedup and the
    * streaming probe share: (doc, chunk_idx, chunk_text), one row per
    * consecutive `chunkTokens`-token chunk (trailing partial included).
    * Stateless — `transform(sequence, slice)` + posexplode — so it runs
    * unchanged inside a streaming stage. */
  def chunkRows(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val ct = chunkTokens
    df.select(col(idCol).cast("long").as("doc"),
        split(col(textCol), " ").as("_w"))
      .select(col("doc"), posexplode(transform(
        sequence(lit(0),
          floor((size(col("_w")) + ct - 1) / lit(ct.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(col("_w"), i * ct + 1, lit(ct))))))
      .toDF("doc", "chunk_idx", "chunk_text")
  }

  /** Exact substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — public algorithm): find every
    * verbatim run of ≥ k tokens that occurs more than once in the
    * corpus, at ANY offset, and emit the per-doc MERGED duplicate spans.
    * This is the family chunk dedup ([[chunkDedup]], fixed-boundary) and
    * line dedup (frequent whole lines) both miss: an offset-shifted
    * verbatim leak crosses chunk boundaries and spans many lines.
    *
    * Shape (the suffix-array of the paper re-expressed relationally):
    * every doc explodes to its overlapping k-token window hashes — a
    * row-local projection, |tokens| windows per doc, linear in corpus
    * bytes; one hash-keyed count (map-side combinable) marks the
    * windows occurring ≥ 2× corpus-wide; marked windows join back
    * (hash-keyed shuffle, candidates ∝ duplicated text, not corpus²)
    * and a per-doc gaps-and-islands window merges overlapping /
    * adjacent marked windows (same pos ⇒ coverage [pos, pos+k−1];
    * islands break when pos > prev + k) into maximal spans. No
    * corpus-global order, no driver state.
    *
    * Determinism/portability: tokens are `\S+` runs (regexp_extract_all
    * on both engines), window hash is md5 of the space-joined window —
    * engine-portable string hashing, so a DuckDB oracle replays the
    * whole lifecycle bit-for-bit.
    *
    * Output: (doc, span_start, span_end, n_windows) — token-index
    * inclusive span bounds of every merged duplicate region. */
  /** The overlapping k-token window-hash frame (doc, pos, whash) —
    * shared by [[substringDupSpans]] (reporting), [[substringStrip]]
    * (removal), and the streaming window index
    * ([[graft.streaming.StreamingDedup.buildWindowIndex]]). Row-local:
    * |tokens| windows per doc, linear in corpus bytes; md5 window
    * hashes so any SQL engine replays them byte-for-byte. */
  def windowHashes(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
    df.select(col(idCol).as("doc"), toks.as("_t"))
      .where(size(col("_t")) >= k)
      .select(col("doc"), explode(transform(
        sequence(lit(0), size(col("_t")) - k),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(col("_t"), i + 1, lit(k)))).as("whash"))))
        .as("_w"))
      .select(col("doc"), col("_w.pos").as("pos"),
        col("_w.whash").as("whash"))
  }

  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val windows = windowHashes(df, idCol, textCol, k)
    val dups = windows.groupBy(col("whash"))
      .agg(count(lit(1)).as("_c")).where(col("_c") >= 2)
      .select(col("whash"))
    val marked = windows.join(dups, "whash")
      .select(col("doc"), col("pos"))
    val wd = Window.partitionBy(col("doc")).orderBy(col("pos"))
    marked
      .withColumn("_brk",
        when(col("pos") > lag(col("pos"), 1).over(wd) + k, 1)
          .when(lag(col("pos"), 1).over(wd).isNull, 1).otherwise(0))
      .withColumn("_isl", sum(col("_brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc"), col("_isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** The REMOVAL half of Lee et al. 2022 substring dedup: keep ONE
    * occurrence of every duplicated ≥k-token run — the globally earliest
    * (doc, pos), compared as a STRUCT so no doc/pos packing can overflow
    * (r10 review: a doc·10⁶+pos ordinal picks wrong keepers past 10⁶
    * tokens per doc) — and strip the covered tokens from every other
    * occurrence, rebuilding the surviving text in order.
    *
    * Keeper PROTECTION (r10 review): positions covered by any KEEPER
    * occurrence are never stripped, even when a DIFFERENT duplicated
    * hash's removable occurrence overlaps them — without the carve-out,
    * chained cross-doc overlaps could strip a run from EVERY document
    * (keeper of run B loses its tokens to the removal of overlapping
    * run A). With it, every duplicated run survives verbatim in its
    * keeper doc; the cost is conservative (protected positions may keep
    * a few additionally-duplicated tokens).
    *
    * [[substringDupSpans]] reports where the duplicates are; this emits
    * the deduplicated corpus accounting — (doc, n_tokens,
    * removed_tokens, kept_md5), the md5 pinning every surviving byte.
    *
    * Shape (r17): window hashes (row-local; RECOMPUTED per consumer, not
    * materialized — a corpus-scale localCheckpoint measured SLOWER than
    * re-running the cheap regex+md5 projection at both sf0.1 and 1M,
    * and at 100 TB there is nowhere to park the frame anyway) → keeper
    * decision (one hash-keyed map-side-combinable struct-min aggregate)
    * → per-doc sorted occurrence list (one doc-keyed aggregate, rows ∝
    * duplicated windows) → ONE doc-keyed join back to the corpus → the
    * [[graft.functions.SubstringStripScan]] row-local coverage sweep
    * (O(tokens + occurrences) per doc). This replaces the r16 shape's
    * covered-position explode (`sequence(pos, pos+k-1)` — a k× row
    * blowup of the duplicated volume), its (doc, pos)-keyed aggregate,
    * the corpus token explode, the (doc, pos)-keyed join, and the
    * per-doc sorted-struct fold: at 100 TB the k× exploded shuffle and
    * the token-level join were the two heaviest exchanges of the query.
    * Same values by construction (fixed-length-k coverage reduces to a
    * two-pointer sweep over sorted starts); ExtSpec pins equality
    * against the exploded pipeline rebuilt inline over the real
    * fixture. All joins hash-keyed; no corpus-global order. */
  def substringStrip(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val windows = windowHashes(df, idCol, textCol, k)
    val keepers = windows.groupBy(col("whash"))
      .agg(count(lit(1)).as("_c"),
        min(struct(col("doc"), col("pos"))).as("_k"))
      .where(col("_c") >= 2)
      .select(col("whash"), col("_k.doc").as("_kdoc"),
        col("_k.pos").as("_kpos"))
    // duplicated-hash occurrences with their keeper flag — the
    // occurrence list decides both sides of the rule (removable-covered
    // AND not keeper-protected) inside the row-local sweep
    val keyed = windows.join(keepers, "whash")
      .select(col("doc"), col("pos"),
        (col("doc") === col("_kdoc") && col("pos") === col("_kpos"))
          .as("_isk"))
    // one row per doc: its duplicated-window occurrences sorted by pos
    // (pos is unique per doc, so the struct sort IS a pos sort)
    val markedPerDoc = keyed.groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("pos"), col("_isk"))))
        .as("_mk"))
    val toks = regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
    df.select(col(idCol).as("doc"), toks.as("_t"))
      // posexplode of an empty/null token array emitted nothing — docs
      // with no tokens stay absent from the output, as before
      .where(size(col("_t")) >= 1)
      .join(markedPerDoc, Seq("doc"), "left")
      // staged projection: the scan struct is expensive and referenced
      // twice below, so CollapseProject keeps it evaluated once per row
      .withColumn("_sr", graft.functions.StripFunctions.substringStripScan(
        col("_t"), coalesce(col("_mk"), array()), k))
      .select(col("doc"), size(col("_t")).cast("long").as("n_tokens"),
        col("_sr").getField("removed").as("removed_tokens"),
        when(size(col("_t")).cast("long") >
            col("_sr").getField("removed"),
          md5(col("_sr").getField("kept"))).as("kept_md5"))
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 16): DataFrame = {
    val chunks = chunkRows(df, idCol, textCol, chunkTokens)
      .select(col("doc"),
        xxhash64(col("chunk_text")).as("_ck"),
        size(split(col("chunk_text"), " ")).cast("long").as("_clen"),
        (col("doc") * lit(1000000L) + col("chunk_idx")).as("_ord"))
    val keepers = chunks.groupBy(col("_ck"))
      .agg(min(col("_ord")).as("_kord"), min(col("_clen")).as("_clen"))
      .select(expr("_kord div 1000000").as("doc"), col("_clen"))
    val keptPerDoc = keepers.groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("kept_chunks"),
        sum(col("_clen")).as("kept_tokens"))
    chunks.groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_chunks"))
      .join(keptPerDoc, Seq("doc"), "left")
      .select(col("doc"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** C4-style corpus-frequency line filter (Raffel et al. 2020, §2.2 of
    * the C4 cleaning recipe: drop any line occurring ≥3 times in the
    * corpus — boilerplate detection by repetition): every document loses
    * ALL its copies of any `chunkTokens`-token chunk that appears in more
    * than `maxDocs` distinct documents, and the survivors are reassembled
    * in original order.
    *
    * Scale shape: chunks carry an xxhash64 key so the document-frequency
    * aggregate shuffles fixed-width longs, not strings; the frequent set
    * is a heavy-hitter list — SMALL by construction (only chunks repeated
    * across >maxDocs docs) — so it broadcasts and the corpus side never
    * shuffles for the membership test. One hash aggregate over chunks +
    * one broadcast join + one doc-keyed aggregate; reassembly is a
    * row-local sorted-struct fold. `kept_md5` pins the reassembled text
    * byte-for-byte. */
  def lineFreqFilter(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, maxDocs: Int = 2): DataFrame = {
    val chunks = chunkRows(df, idCol, textCol, chunkTokens)
      .withColumn("_ck", xxhash64(col("chunk_text")))
    val frequent = chunks.groupBy(col("_ck"))
      .agg(count_distinct(col("doc")).as("_df"))
      .where(col("_df") > maxDocs)
      .select(col("_ck"), lit(1).as("_hit"))
    chunks.join(broadcast(frequent), Seq("_ck"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).cast("long")
          .as("kept_chunks"),
        array_sort(collect_list(when(col("_hit").isNull,
          struct(col("chunk_idx"), col("chunk_text"))))).as("_ks"))
      .select(col("doc"), col("n_chunks"), col("kept_chunks"),
        md5(array_join(transform(col("_ks"), x => x("chunk_text")), " "))
          .as("kept_md5"))
  }

  /** Shingles hashed to 64-bit keys: all downstream joins/aggregates run on
    * fixed-width longs instead of strings (cheaper hashing, shuffles, and
    * comparisons at scale; xxhash64 collisions are negligible for dedup).
    * Hashes the n words directly (multi-arg xxhash64) — no intermediate
    * shingle strings are materialized. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleWidth): DataFrame =
    df.select(col(idCol).as("doc"), split(col(textCol), " ").as("_w"))
      .select(col("doc"), explode(shingleArray(col("_w"), n)).as("sh"))

  /** Row-local distinct hashed-shingle ARRAY — the un-exploded form of
    * [[hashedShingles]] (identical hash values), for stateless per-row
    * pipelines like the streaming probes. Native codegen'd expression;
    * bit-identical to the HOF formulation
    * `array_distinct(transform(sequence, i -> xxhash64(w_{i+1}..w_{i+n})))`
    * it replaced (ExtSpec pins the equality), which evaluated interpreted
    * per element — ~0.65 s for 52 k shingles at sf0.1. */
  def shingleArray(words: Column, n: Int): Column =
    graft.functions.MinHashFunctions.shingleHashes(words, n)

  /** Row-local MinHash signature from a hashed-shingle array:
    * signature[i] = min over shingles of xxhash64(i, shingle), computed
    * without an explode/groupBy, so a streaming (stateless) stage can
    * compute it. Native codegen'd expression; bit-identical to
    * `array((0 until k).map(i => array_min(transform(shs, s ->
    * xxhash64(lit(i), s)))))` (ExtSpec pins the equality) — the HOF form
    * re-walked the shingle array through 64 interpreted lambda passes. */
  def minhashSignature(shs: Column, numHashes: Int): Column =
    graft.functions.MinHashFunctions.minhashSig(shs, numHashes)

  /** Exact pairwise n-gram Jaccard over a hashed-shingle frame (columns
    * doc, sh); emits pairs with similarity >= minJ (doc_a < doc_b).
    *
    * Uses PPJoin-style prefix filtering so hub shingles don't explode the
    * self-join: J(A,B) >= t implies |A∩B| >= ceil(t·|A|), so any qualifying
    * pair must collide within each doc's (n - ceil(t·n) + 1)-prefix under a
    * global shingle order. Ordering shingles rarest-first makes prefixes
    * collide almost only for true near-dups. Candidates then pass a length
    * filter (t·na <= nb <= na/t) and exact intersection counting — work is
    * proportional to candidate pairs, not Σ k² over shingle buckets. */
  def jaccardPairs(shIn: DataFrame, minJ: Double): DataFrame = {
    val sh = shIn.cache() // reused for frequencies, prefixes, verification
    val pref = jaccardPrefixes(sh, minJ)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh, minJ)
  }

  /** Asymmetric CONTAINMENT pairs: c(A→B) = |A∩B| / |A| ≥ minC — the
    * doc-inside-doc detector (quotes, mirrored sub-pages, train/eval
    * leakage where only a fragment was copied) that symmetric Jaccard
    * misses whenever the host document is much larger than the copied
    * fragment. Emits BOTH directions (doc_a is the containee).
    *
    * Same prefix-filter principle as [[jaccardPairs]] but one-sided:
    * c ≥ t ⇒ |A∩B| ≥ ceil(t·|A|) ⇒ A must collide with B inside A's
    * (n − ceil(t·n) + 1)-prefix under the rarest-first order — exactly
    * the [[jaccardPrefixes]] frame — while B probes with its FULL set
    * (no bound exists on |B|). Candidates are prefix(A) ⨝ corpus(B);
    * verification packs both sorted sets and counts the intersection
    * row-locally, gated by the size precondition nb ≥ ceil(t·na). */
  def containmentPairs(shIn: DataFrame, minC: Double): DataFrame = {
    // localCheckpoint (eager), not cache(): repeated invocations in one
    // JVM would otherwise accumulate storage memory relying on LRU
    // eviction (ADVICE r9); checkpoint blocks are freed by the
    // ContextCleaner as soon as the frame is unreferenced.
    val sh = shIn.transform(Pin.pin)
    val pref = jaccardPrefixes(sh, minC)
    val cand = pref.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") =!= col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val docSets = sh.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("sh"))).as("shs"),
        count(lit(1)).as("n"))
    // merge, not shuffle_hash: spillable, broadcast-proof — see
    // verifyPairsWithSets (the r12 all10x build-memory lesson)
    cand.hint("merge")
      .join(docSets.select(col("doc").as("doc_a"), col("shs").as("sha"),
        col("n").as("na")), "doc_a")
      .hint("merge")
      .join(docSets.select(col("doc").as("doc_b"), col("shs").as("shb"),
        col("n").as("nb")), "doc_b")
      .where(col("nb") >= ceil(col("na") * minC))
      .withColumn("i", graft.functions.VectorFunctions
        .sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("containment", col("i").cast("double") / col("na"))
      .where(col("containment") >= minC)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** The PPJoin prefix frame (doc, sh): the shingles on which any
    * qualifying pair must collide. Public so scale diagnostics
    * (ScaleSmoke) can measure candidate work as bucket occupancy
    * Σ k·(k−1)/2 without materializing the join. */
  def jaccardPrefixes(sh: DataFrame, minJ: Double): DataFrame = {
    // global order: frequency ascending (rarest first), hash tie-break.
    // Both per-shingle frequency and per-doc size come from WINDOW
    // aggregates rather than groupBy+join-back: f's window shares the
    // sh-keyed exchange a join would need anyway minus the join itself,
    // and n/rnk share ONE doc-keyed exchange+sort (same partition key ⇒
    // Catalyst stacks the two Window execs on a single sort) — two
    // shuffles total where the join formulation took four plus two
    // sort-merge joins.
    val wSh = Window.partitionBy(col("sh"))
    val wDoc = Window.partitionBy(col("doc")).orderBy(col("f"), col("sh"))
    sh.withColumn("f", count(lit(1)).over(wSh))
      .withColumn("rnk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc"))))
      .where(col("rnk") <= col("n") - ceil(col("n") * minJ) + 1)
      .select(col("doc"), col("sh"))
  }

  /** Exact-Jaccard verification of candidate pairs: each doc's shingle set
    * is packed into one sorted array row, pairs get both arrays via two
    * equi-joins (rows ∝ candidates), and the intersection is counted
    * row-locally with `array_intersect` — no shingle-level join explosion.
    * Includes the length filter (t·na <= nb <= na/t) before touching
    * arrays. */
  private def verifyPairs(cand: DataFrame, sh: DataFrame,
      minJ: Double): DataFrame =
    verifyPairsWithSets(cand,
      sh.groupBy(col("doc"))
        .agg(sort_array(collect_list(col("sh"))).as("shs"),
          count(lit(1)).as("n")),
      minJ)

  /** [[verifyPairs]] against a prebuilt (doc, shs sorted, n) frame — lets
    * row-local callers skip the collect_list re-aggregation.
    *
    * Join strategy is pinned to SORT-MERGE: docSets is corpus-sized with
    * heavy shingle arrays but its size ESTIMATE is tiny when it derives
    * from range/checkpoint inputs, which baits Catalyst into
    * broadcasting the corpus side (a driver-built 100 MB+ hash relation
    * per join) — the merge hint forbids that while staying SPILLABLE.
    * This replaced a shuffle_hash pin (build from the candidate side):
    * a hash build is an unspillable per-task map, and the r12 all10x
    * sweep caught it failing to acquire build memory on the 10× corpus
    * (candidate mass grows with the corpus; per-task memory does not) —
    * exactly the failure mode a 100-TB run cannot risk. Sort-merge
    * sorts both sides on the id key (the candidate side is tiny, the
    * corpus side spills as needed) and streams the arrays once. */
  private def verifyPairsWithSets(cand: DataFrame, docSets: DataFrame,
      minJ: Double): DataFrame = {
    cand.hint("merge")
      .join(docSets.select(col("doc").as("doc_a"), col("shs").as("sha"),
        col("n").as("na")), "doc_a")
      .hint("merge")
      .join(docSets.select(col("doc").as("doc_b"), col("shs").as("shb"),
        col("n").as("nb")), "doc_b")
      .where(col("nb") >= col("na") * minJ && col("na") >= col("nb") * minJ)
      .withColumn("i", graft.functions.VectorFunctions
        .sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The banded signature frame (doc, band, bandhash) behind
    * [[lshCandidates]] — public for occupancy diagnostics. */
  def minhashBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("doc"),
        posexplode(minhashBandKeys(col("sig"), bands, rowsPerBand)))
      .toDF("doc", "band", "bandhash")

  /** The per-band hash keys of one signature array — shared by
    * [[minhashBands]] and the streaming probe so batch index and stream
    * side band identically. Native codegen'd expression; bit-identical to
    * `transform(sequence(0, bands-1), b -> xxhash64(b, slice(sig,
    * b·r+1, r)))` (ExtSpec pins the equality). */
  def minhashBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.MinHashFunctions.bandKeys(sig, bands, rowsPerBand)

  /** LSH banding: signature rows are grouped into `bands` bands of
    * `rowsPerBand`; documents colliding on any full band become candidate
    * pairs. Join key is (band_id, band_hash) — short and uniformly
    * distributed, so the shuffle is balanced. */
  def lshCandidates(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = minhashBands(sig, bands, rowsPerBand)
    // force sort-merge: both sides are corpus-sized (n·bands rows), but
    // range/checkpoint-derived inputs carry low-ball size estimates that
    // otherwise bait Catalyst into BROADCASTING one side — a driver-built
    // 100 MB+ hash relation (observed: the dominant cost of the composed
    // pipeline). SMJ shuffles on the short (band, bandhash) key and is
    // memory-safe at any corpus size.
    banded.as("a").hint("merge").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandhash") === col("b.bandhash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup detection with exact-Jaccard verification of the
    * candidate set: LSH prunes the pair space; the final filter computes
    * true Jaccard only for colliding pairs, so output = exact pairs subject
    * to LSH recall (with 64 hashes / 16 bands × 4 rows, miss probability at
    * j >= 0.8 is ~2e-4; at the planted-dup level j >= 0.9 it is < 1e-9).
    *
    * Everything before the band join is ROW-LOCAL native-expression work
    * (shingle hashes, signature, and the sorted verification array are
    * per-row projections — no explode, no corpus-wide aggregate), so the
    * only shuffles are the (band, bandhash) candidate join and the two
    * candidate-sized verification joins. The r1 formulation exploded
    * shingles and ran a 64-way min aggregate over them (~58M rows × 64
    * hash evals at 1M docs) plus a collect_list re-aggregation for
    * verification; ExtSpec pins the native expressions bit-identical to
    * those aggregates, so results are unchanged. */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      minJ: Double): DataFrame = {
    val docs = df.select(col(idCol).as("doc"),
      shingleArray(split(col(textCol), " "), ShingleWidth).as("_shs"))
    // materialize the signature frame ONCE (eager localCheckpoint): the
    // band self-join otherwise recomputes the full
    // split→shingle→signature chain in BOTH join sides (measured as the
    // dominant cost of the composed pipeline in the event log), and the
    // materialized form is small — one 64-long array per doc
    val sigs = docs.select(col("doc"),
        minhashSignature(col("_shs"), MinhashHashes).as("sig"))
      .transform(Pin.pin)
    // materialize the candidate set too: candidates are
    // banding-collision-bounded (tiny next to the corpus), and handing
    // the verify stage a checkpointed input keeps it a small broadcast
    // join instead of a branch of one mega-DAG. Checkpoint blocks free
    // via the ContextCleaner.
    val cand = lshCandidates(sigs, MinhashBands, MinhashHashes / MinhashBands)
      .transform(Pin.pin)
    val docSets = docs.select(col("doc"), sort_array(col("_shs")).as("shs"),
      size(col("_shs")).cast("long").as("n"))
    verifyPairsWithSets(cand, docSets, minJ)
  }

  /** EXACT cross-corpus near-dup pairs: every (train, bench) pair with
    * hashed-shingle Jaccard >= minJ — recall 1.0 BY CONSTRUCTION (no
    * banding recall curve), so a brute-force oracle matches it
    * definitionally at any scale or data. The bench side (benchmark /
    * eval suites — small next to the train corpus) is broadcast twice:
    * an inverted shingle index for intersection counting and the
    * set-size frame for the Jaccard denominator. The train corpus is
    * scanned once, exploded row-locally, and aggregated on
    * (doc_a, doc_b) — candidate mass is bounded by
    * shared-shingle pairs, and the train side is never shuffled on a
    * content key (the (doc_a, doc_b) aggregate is map-side combinable).
    * Use this when the bench side fits a broadcast (the decontamination
    * case). */
  def crossJaccardPairs(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, minJ: Double, n: Int = ShingleWidth): DataFrame = {
    def prep(df: DataFrame) = df.select(col(idCol).as("doc"),
      shingleArray(split(col(textCol), " "), n).as("_shs"))
    val be = prep(bench).transform(Pin.pin)
    val beSh = be.select(col("doc").as("doc_b"), explode(col("_shs")).as("sh"))
    val beN = be.select(col("doc").as("doc_b"),
      size(col("_shs")).cast("long").as("nb"))
    val tr = prep(train).select(col("doc").as("doc_a"),
      size(col("_shs")).cast("long").as("na"), explode(col("_shs")).as("sh"))
    tr.join(broadcast(beSh), "sh")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"), first(col("na")).as("na"))
      .join(broadcast(beN), "doc_b")
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Cross-engine-reproducible 60-bit SimHash: the token hash is the
    * first 15 hex chars of md5(token) parsed as an integer — a
    * construction any SQL engine with md5() replicates exactly (15
    * nibbles = 60 bits keeps the packed value non-negative in
    * signed-64-only engines) — sign-summed per bit over all tokens
    * (multiplicity-weighted), bit set iff the sum >= 0, packed
    * MSB-first. It exists for one purpose: letting simhash dedup be
    * pinned against an independent SQL oracle (`stream_simhash_dedup`)
    * instead of a rows-only check. Row-local — safe as a stateless
    * streaming stage; works unchanged with [[simhashBands]] (the zero top
    * 4 bits sit in one block and never differ). Native codegen'd
    * expressions; bit-identical to the original HOF formulation
    * (`transform(split, t -> conv(substring(md5(t),1,15),16,10))` folded
    * through a 60-wide interpreted sign-sum — StreamingSpec pins the
    * fingerprint values, and the DuckDB oracle recomputes them from raw
    * text), which cost ~1.4 s per 1 000 docs at sf0.1. */
  def portableSimhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
      graft.functions.VectorFunctions.simhash60(
        graft.functions.VectorFunctions.md5Hash60Tokens(
          split(col(textCol), " "))).as("simhash"))

  /** Manku-style COMBINATION banding frame (doc, simhash, band, bandkey)
    * for [[simhashDupPairsAtScalePortable]]: the 64 bits split into
    * `nBlocks` near-equal blocks; one table (band) per
    * (nBlocks − maxDist)-block combination, keyed by the hash of those blocks' values. A pair
    * within Hamming distance `maxDist` differs in at most `maxDist`
    * blocks, so some combination avoids every differing block and the
    * pair collides there — the same exact-recall pigeonhole as plain chunk
    * banding, but each table key now carries ≈ 64·(nBlocks−maxDist)/
    * nBlocks bits: with the 6-block/d=3 shape that is C(6,3)=20 tables
    * of 32-bit keys → 2³² buckets/table, vs 2¹⁶ for the 4×16 chunking.
    * Ref: Manku, Jain, Sarma — "Detecting Near-Duplicates for Web
    * Crawling", WWW'07 §3 (public algorithm). */
  def simhashBands(sim: DataFrame, maxDist: Int, nBlocks: Int): DataFrame = {
    require(maxDist < nBlocks, "need nBlocks > maxDist for the pigeonhole")
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    // block i: width base(+1 for the first `extra`), little-endian offsets
    val widths = (0 until nBlocks).map(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blockVal(i: Int) =
      shiftright(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1))
    val combos = (0 until nBlocks).combinations(nBlocks - maxDist).toSeq
    val keys = combos.zipWithIndex.map { case (blocks, b) =>
      xxhash64(lit(b) +: blocks.map(blockVal): _*)
    }
    sim.select(col("doc"), col("simhash"),
        posexplode(array(keys: _*)))
      .toDF("doc", "simhash", "band", "bandkey")
  }

  /** Combination-banded near-dup pairs over the PORTABLE 60-bit
    * fingerprint ([[portableSimhash64]]) instead of the engine xxhash64
    * one. The output is fully DETERMINISTIC and engine-independent:
    * banding guarantees every pair within [[SimhashMaxDist]] collides in
    * some band (pigeonhole) and the exact Hamming verify removes every
    * false candidate, so the result is EXACTLY the set of pairs with
    * portable-fingerprint Hamming distance <= [[SimhashMaxDist]] — an
    * independent SQL engine recomputing md5-token simhashes and an
    * all-pairs Hamming scan reproduces it bit-for-bit. Combination
    * banding pays C(6, 3) = 20× the shuffle volume of a 4×16 chunk
    * banding to push bucket count from ~2¹⁶ to ~2³² per band, so random
    * collisions stay negligible out to ~10⁹ docs. */
  def simhashDupPairsAtScalePortable(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    dupPairsFromSim(portableSimhash64(df, idCol, textCol).cache(),
      SimhashMaxDist, SimhashBlocks)

  /** Shared banding+verify tail: `sim` is a (doc, simhash) frame. */
  private[ext] def dupPairsFromSim(sim: DataFrame, maxDist: Int,
      nBlocks: Int): DataFrame = {
    val banded = simhashBands(sim, maxDist, nBlocks)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandkey") === col("b.bandkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("a.simhash").as("sim_a"),
        col("b.doc").as("doc_b"), col("b.simhash").as("sim_b"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Resolve near-dup pairs into CLUSTERS (connected components): every
    * doc maps to the minimum id reachable through the pair graph — the
    * keep-one-per-cluster decision a dedup pipeline actually ships
    * (keeper = root; drop rows where doc != root). Iterative min-label
    * propagation: each round, a doc's label becomes the min of its own,
    * its neighbors', and its current root's label — the last term is
    * pointer doubling (Shiloach–Vishkin pointer jumping; same effect as
    * large-star/small-star, Kiveris et al. SoCC'14), which makes rounds
    * O(log diameter) instead of O(diameter), so adversarially long chains
    * converge too (ScaleSmoke chain tier measures it). Two equi-joins +
    * one aggregate per round. Near-dup components are tiny (pair chains
    * within a duplicated document family), so rounds stay single-digit;
    * the label frame holds only docs that appear in a pair, not the
    * corpus. The fixpoint test is a distributed count of changed labels —
    * nothing data-sized reaches the driver.
    *
    * Consumers are the global pair graphs, where no key bounds a
    * component: the exact-Jaccard PPJoin pairs through
    * [[dedupClustersDistinctWith]] (DocQueries' `clusters` fixture and
    * [[CurationPipeline.run]]), the banded hyperplane-LSH cosine pairs
    * of `emb_dedup_clusters`, and ScaleSmoke's MinHash and chain tiers.
    * SemDeDup does not call it: its pairs never cross a k-means cluster,
    * so [[Kmeans.keepWithinClusters]] resolves them per cluster in one
    * pass. */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    clustersWithRounds(pairs, aCol, bCol)._1

  /** [[dedupClusters]] and the number of label-propagation rounds it ran
    * (ScaleSmoke's chain tier pins the O(log diameter) claim with it). */
  private[graft] def clustersWithRounds(pairs: DataFrame, aCol: String,
      bCol: String): (DataFrame, Int) = {
    // eagerly checkpoint the pair frame FIRST: the two union branches
    // below execute CONCURRENTLY inside one job, and a cache() does not
    // help there — the branches race the cache population, so the second
    // one re-runs the whole (expensive) pair-mining child (observed in
    // the event log as a duplicated verify subtree). An eager
    // localCheckpoint materializes mining exactly once; the tiny pair
    // RDD is freed by the ContextCleaner when unreferenced.
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .transform(Pin.pin)
    val edges = p.select(col("a").as("x"), col("b").as("y"))
      .union(p.select(col("b").as("x"), col("a").as("y")))
      .distinct().transform(Pin.pin)
    // localCheckpoint severs the logical lineage (the iterative-algorithm
    // discipline): without it every round's plan re-embeds the whole
    // pair-mining subtree — analysis alone of the final tree costs
    // seconds, and lineage doubles per round
    var labels = edges.select(col("x").as("doc")).distinct()
      .withColumn("root", col("doc")).transform(Pin.pin)
    val nLabels = labels.count()
    // the label table is sized by docs-in-pairs; when it is broadcastable
    // the loop's joins run map-side (no per-round shuffle of edges) —
    // the adaptive choice a 100 TB run makes too (huge pair graphs keep
    // the shuffled path)
    val bc: DataFrame => DataFrame =
      if (nLabels <= 5000000L) broadcast else identity
    // the label frame is sized by docs-in-pairs, far smaller than the
    // corpus — run the loop's shuffles narrow (restored after; the
    // result is partitioning-independent: min propagation is order-free)
    val spark = pairs.sparkSession
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var changed = 1L
    var rounds = 0
    try {
      while (changed > 0 && rounds < 50) {
        val nbMin = edges.join(bc(labels), col("y") === col("doc"))
          .groupBy(col("x")).agg(min(col("root")).as("nbRoot"))
        // pointer doubling (Shiloach–Vishkin-style pointer jumping): each
        // round a doc also adopts its root's root. Every root is the id of
        // a same-component doc, so the jump stays in-component; the radius
        // a label has propagated over DOUBLES per round instead of
        // growing by one, making rounds O(log diameter) — a diameter-10³
        // chain converges in ~11 rounds, not 10³ (measured in
        // ScaleSmoke's chain tier).
        val rootRoot = labels
          .select(col("doc").as("_rd"), col("root").as("_rr"))
        // carry the previous root so the fixpoint test reads the SAME
        // cached frame instead of re-joining next against labels
        val next = labels.as("l")
          .join(bc(nbMin), col("l.doc") === nbMin("x"), "left")
          .join(bc(rootRoot), col("l.root") === col("_rd"), "left")
          .select(col("l.doc").as("doc"), col("l.root").as("_old"),
            least(col("l.root"), coalesce(col("nbRoot"), col("l.root")),
              coalesce(col("_rr"), col("l.root")))
              .as("root"))
          .transform(Pin.pin)
        changed = next.where(col("root") =!= col("_old")).count()
        labels = next.select(col("doc"), col("root"))
        rounds += 1
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    // never return silently-wrong labels: a non-converged exit would hand
    // downstream keep/drop decisions wrong roots with no error signal.
    // With pointer doubling the cap corresponds to diameter ~2^49, so
    // tripping this means a bug, not a big graph.
    require(changed == 0,
      s"dedupClusters did not converge in $rounds rounds ($changed labels still changing)")
    (labels, rounds)
  }

  /** doc → representative (min doc id of identical full content) — the
    * exact-duplicate grouping stage of [[dedupClustersDistinctWith]]. One
    * hash aggregate on md5(text) + one equi-join; no banding involved. */
  def exactDupReps(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("doc"), md5(col(textCol)).as("_ck"))
    val repOf = keyed.groupBy(col("_ck"))
      .agg(min(col("doc")).as("rep"), count(lit(1)).as("n_copies"))
    keyed.join(repOf, "_ck").select(col("doc"), col("rep"), col("n_copies"))
  }

  /** Near-dup cluster resolution with an EXACT-DUPLICATE SHORT-CIRCUIT —
    * the hot-bucket-skew hardening for identical-doc-heavy corpora. A
    * corpus with k copies of one document puts all k in the same
    * (band, key) bucket of every band, making the candidate self-join do
    * O(k²) work inside single straggler tasks (k = 10⁴ ⇒ ~5·10⁷ pairs
    * per band — the classic LSH skew failure at 100 TB). Identical
    * content needs no banding to find: stage 1 groups by full-content
    * hash (one aggregate, perfectly parallel), stage 2 bands ONLY the
    * distinct representatives (bucket occupancy is now bounded by
    * distinct-content collisions, not copy counts), stage 3 resolves
    * rep-level clusters with [[dedupClusters]], and stage 4 expands
    * membership back through the exact-dup groups with one join.
    *
    * `mine` gets the distinct-content representatives and returns
    * (doc_a, doc_b) pairs — the exact PPJoin miner and the MinHash one
    * get the same short-circuit: identical documents have identical
    * shingle sets, so ANY shingle-keyed candidate join (prefix buckets
    * included) does O(k²) work on k copies unless the copies are
    * collapsed first. Output ≡ `dedupClusters(mine(all docs))` (same
    * (doc, root) rows) for any miner that respects content equality,
    * which every shingle-derived miner does: the full pair graph is the
    * content-group blow-up of the rep graph, so its components are the
    * expanded rep components, and each root (min id) is preserved
    * because every rep is already its group's min id. ExtSpec pins the
    * equality; the ScaleSmoke `hotbucket1m` tier measures the flat task
    * profile under a 10⁴-copy adversarial mix. */
  def dedupClustersDistinctWith(df: DataFrame, idCol: String,
      textCol: String)(mine: DataFrame => DataFrame): DataFrame = {
    // localCheckpoint (eager): consumed by the rep slice now and the
    // expansion join later (after the caller materializes) — a cache()
    // would need an unpersist no safe place exists for (cf. the
    // ivfPqProbeRerank shortlist); checkpoint blocks free themselves via
    // the ContextCleaner once the frame is unreferenced
    val reps = exactDupReps(df, idCol, textCol).transform(Pin.pin)
    val repDocs = df.select(col(idCol), col(textCol))
      .join(reps.where(col("doc") === col("rep")).select(col("doc")),
        col(idCol) === col("doc"), "left_semi")
    val repClusters = dedupClusters(mine(repDocs), "doc_a", "doc_b")
      .select(col("doc").as("_cdoc"), col("root").as("_croot"))
    // expand: a doc is clustered iff its rep is near-dup-clustered OR its
    // content group has >1 member (exact dups are Jaccard-1 pairs)
    reps.join(repClusters, col("rep") === col("_cdoc"), "left")
      .where(col("_croot").isNotNull || col("n_copies") > 1L)
      .select(col("doc"), coalesce(col("_croot"), col("rep")).as("root"))
  }
}
