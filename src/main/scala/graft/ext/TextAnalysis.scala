package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, n-gram-heuristic language ID, and rolling-hash document
  * fingerprints. Everything is row-local native-expression work (perfectly
  * parallel, whole-stage codegen) except the corpus-level token frequency,
  * which is one hash aggregate.
  */
object TextAnalysis {

  /** Hottest types the NLL scorers join by broadcast (skew-split head). */
  private val HeadTypes = 4096
  /** Trigram buckets of the trained language-ID model and its oracle. */
  private[graft] val LangIdDim = 256
  /** The Kneser–Ney absolute discount of [[kn3Nll]] and its oracle. */
  private[graft] val KnDiscount = 0.75
  /** `percentile_approx` accuracy of [[nllCutsApprox]]'s sketch. */
  private val SketchAccuracy = 1000

  /** Whitespace tokens. */
  def tokens(c: Column): Column = split(c, " ")

  /** BPE-ish word/number tokens via regex (strips punctuation).
    *
    * Formulated as `regexp_extract_all` of the token RUNS rather than
    * `split` on the separator complement: provably the same token list
    * (verified array-equal over a 50k-doc corpus), but ~11× faster and
    * core-scalable — `StringSplit` re-compiles its `Pattern` per ROW,
    * and under a many-core single JVM that allocation storm contends so
    * badly the split ran SLOWER on 16 threads than on 1 (the r11 all10x
    * tier caught text_token_counts at a 13× wall ratio from it).
    * `RegExpExtractAll` caches the compiled pattern per expression
    * instance, and the extract form also needs no empty-string filter
    * HOF. */
  def regexTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9']+"), lit(0))

  private val stopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is",
    "it", "for", "on", "with", "as", "at", "by", "an", "be", "this", "that")

  /** Per-document quality metrics: token counts, distinct ratio, mean token
    * length, stopword ratio, alpha-char ratio — the standard cheap quality
    * filters for LLM corpus curation. All ratios are single IEEE divisions
    * over exact integer counts (engine-portable). */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize once into an attribute; downstream metrics reference it
    val toks = col("_toks")
    val nTok = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val nChars = length(col(textCol)).cast("long")
    val nAlpha = length(regexp_replace(col(textCol), "[^a-zA-Z]", "")).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwordsEn: _*))).cast("long")
    df.withColumn("_toks", tokens(col(textCol))).select(
      col(idCol),
      nTok.as("n_tokens"),
      nDistinct.as("n_distinct_tokens"),
      nChars.as("n_chars_computed"),
      round(nChars.cast("double") / nTok, 6).as("mean_token_span"),
      round(nDistinct.cast("double") / nTok, 6).as("distinct_ratio"),
      round(nStop.cast("double") / nTok, 6).as("stopword_ratio"),
      round(nAlpha.cast("double") / nChars, 6).as("alpha_ratio"))
  }

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic. Deterministic, dictionary-free. */
  private val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "dans"))

  /** TRAINED language ID (r11 verdict task 5): multinomial Naive Bayes
    * over hashed CHARACTER TRIGRAMS — the classic fastText-family
    * baseline (Cavnar & Trenkle 1994 n-gram profiles; Joulin et al.
    * 2016 use the same hashed char-n-gram features), trained in-engine
    * from the corpus' own `langCol` labels. On the fixture corpus it
    * lifts accuracy 32% → 51% over the stopword-hit heuristic
    * ([[languageId]]) and eliminates its 24% "und" failure mode.
    *
    * == Exactness (the DSIR discipline) ==
    * Training is COUNTING — exact integers. Each per-(lang, bucket)
    * log-likelihood λ = round₆(ln((c+1)/(N_lang+d))) is ONE ln over an
    * exact integer ratio rounded to 6 dp before any use; per-doc score
    * = prior + exact-DECIMAL Σ round₆(c_j·λ_j); argmax ties break
    * toward the LARGER lang code via max(struct(score, lang)) — every
    * step replayed by the SQL oracle in the same op order, so
    * predictions are partition- and engine-invariant.
    *
    * == Scale shape ==
    * One trigram explode feeds two map-combinable aggregates (the
    * (lang, bucket) model counts and the (doc, bucket) scoring bow);
    * the model is langs×d rows — BROADCAST; scoring is one broadcast
    * join + one (doc, lang) aggregate + one per-doc argmax aggregate.
    * No corpus shuffle on a content key; at 100 TB the exploded
    * trigram frame would be persisted once instead of recomputed for
    * the two aggregates. */
  def langIdTrained(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val d = LangIdDim
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val text = col(textCol)
    // char trigrams, 1-based, defensive about len<3 (sequence(1,0) is
    // DESCENDING in Spark, empty in DuckDB — the length filter aligns
    // both: no 3-char window, no feature)
    val tri = df.select(col(idCol).as("doc"), col(langCol).as("lang"),
        explode(transform(
          sequence(lit(1), greatest(length(text) - 2, lit(1))),
          i => text.substr(i, lit(3)))).as("_t"))
      .where(length(col("_t")) === 3)
      .select(col("doc"), col("lang"),
        QualityModel.tokenBucket(col("_t"), d).as("bucket"))
    // ONE corpus trigram pass (r17): the (doc, lang, bucket) counts are
    // the finest grain both model sides need — doc determines lang, so
    // grouping by (doc, lang, bucket) is the per-doc bag-of-buckets with
    // lang carried, and the per-(lang, bucket) training counts are its
    // re-aggregation (sum of counts ≡ count of rows). Unpinned, the
    // trigram explode subtree — one row per corpus character — was
    // planned into BOTH consumers; the pin is ≤ docs·d rows.
    val bowl = graft.ext.Pin.pin(
      tri.groupBy(col("doc"), col("lang"), col("bucket"))
        .agg(count(lit(1)).as("c")))
    val cl = bowl.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    val grid = df.select(col(langCol).as("lang")).distinct()
      .crossJoin(df.sparkSession.range(d).select(col("id").as("bucket")))
    val nl = cl.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val lam = grid.join(cl, Seq("lang", "bucket"), "left")
      .join(nl, "lang")
      .select(col("lang"), col("bucket"),
        round(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n") + d).cast("double")), 6).as("lam"))
    val pri = df.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("dl"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("dt"))))
      .select(col("lang"),
        round(log(col("dl").cast("double") / col("dt").cast("double")), 6)
          .as("pri"))
    val bow = bowl.select(col("doc"), col("bucket"), col("c"))
    val sc = bow.join(broadcast(lam), "bucket")
      .withColumn("_contrib", round(col("c") * col("lam"), 6).cast(dec6))
      .groupBy(col("doc"), col("lang"))
      .agg(sum(col("_contrib")).as("_s"))
      .join(broadcast(pri), "lang")
      .select(col("doc"), col("lang"),
        (col("pri") + col("_s").cast("double")).as("score"))
    val pred = sc.groupBy(col("doc"))
      .agg(max(struct(col("score"), col("lang"))).as("_b"))
      .select(col("doc"), col("_b.lang").as("pred_lang"),
        round(col("_b.score"), 6).as("score"))
    // docs with NO char trigram (len < 3, or empty text) have an empty
    // feature vector: every per-lang score degenerates to the prior, so
    // the argmax is the PRIOR argmax (ties toward the larger lang code,
    // as everywhere). A plain inner join would silently DROP such docs
    // from a classifier output (r12 ADVICE) — left-join and fall back.
    val fb = pri.agg(max(struct(col("pri"), col("lang"))).as("_f"))
      .select(col("_f.lang").as("_fl"), round(col("_f.pri"), 6).as("_fs"))
    df.select(col(idCol).as("doc"), col(langCol).as("lang"))
      .join(pred, Seq("doc"), "left")
      .crossJoin(broadcast(fb))
      .select(col("doc"), col("lang"),
        coalesce(col("pred_lang"), col("_fl")).as("pred_lang"),
        coalesce(col("score"), col("_fs")).as("score"))
  }

  /** Language ID: count function-word hits per language; predict the
    * argmax with a fixed precedence tie-break (en > de > es > fr order as
    * declared), "und" (undetermined) when no hits. Integer scoring —
    * deterministic across engines. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = langWords.map(_._1)
    val scored = langWords.foldLeft(
        df.select(col(idCol), tokens(lower(col(textCol))).as("_toks"))) {
      case (d, (lang, words)) => d.withColumn(s"hits_$lang",
        size(filter(col("_toks"), t => t.isin(words: _*))).cast("long"))
    }
    val best = langs.foldRight(lit("und")) { (lang, acc) =>
      when(col(s"hits_$lang") > lit(0) &&
        langs.filter(_ != lang).map(o => col(s"hits_$lang") >= col(s"hits_$o"))
          .reduce(_ && _), lit(lang)).otherwise(acc)
    }
    scored.withColumn("pred_lang", best).drop("_toks")
  }

  /** Polynomial rolling-hash fingerprint over the ordered token stream,
    * mod 10^15+37 (fits 64-bit intermediate: acc*31 + tokenTerm < 2^63).
    * The per-token term uses only arithmetic both engines share (length
    * and first/last char codes), so the oracle can reproduce it exactly:
    * acc' = (acc*31 + len*1315423911 + ascii(first)*2654435761 +
    * ascii(last)*97) % M. */
  val FingerprintMod = 1000000000000037L

  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val term: Column => Column = t =>
      length(t).cast("long") * 1315423911L +
        ascii(substring(t, 1, 1)).cast("long") * 2654435761L +
        ascii(substring(t, -1, 1)).cast("long") * 97L
    val fp = aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * 31L + term(t), lit(FingerprintMod)))
    df.select(col(idCol), fp.as("fingerprint"))
  }

  /** CJK character class for [[segmentCjk]] — explicit public Unicode
    * block ranges (CJK Unified Ideographs + Extension A + Compatibility
    * Ideographs, Hiragana, Katakana, Hangul syllables), spelled as
    * literal char ranges so the identical class works in Java regex
    * (Spark) and RE2 (the DuckDB oracle). */
  val CjkClass: String = {
    def r(a: Int, b: Int) = s"${a.toChar}-${b.toChar}"
    "[" + r(0x3400, 0x4DBF) + r(0x4E00, 0x9FFF) + r(0xF900, 0xFAFF) +
      r(0x3040, 0x30FF) + r(0xAC00, 0xD7AF) + "]"
  }

  /** Character-class fallback segmentation for no-whitespace scripts
    * (r10 VERDICT task 3): every CJK codepoint becomes its own
    * whitespace-delimited token (the public convention BERT's basic
    * tokenizer uses for Han; extended to kana + hangul so ja/ko text
    * doesn't collapse into one giant token either). Pure ASCII text is
    * untouched — the surrounding-space padding only fires on CJK chars,
    * so Latin-script counters keep their exact values. Row-local
    * codegen'd regex; compose it UNDER any `\S+` counter
    * ([[tokenCounts]], [[Bpe.wordDict]]-based budgets, fertility) to
    * make them honest on CJK strata: without it a Chinese document is
    * ONE token and every budget derived from it is silently wrong. */
  def segmentCjk(text: Column): Column =
    regexp_replace(text, s"($CjkClass)", " $1 ")

  /** Per-document token counts under both tokenizers: whitespace and the
    * BPE-ish regex (lowercase word/number/apostrophe runs) — the pair of
    * counting modes an LLM-data pipeline budget check needs. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_ws_tokens"),
      size(regexTokens(col(textCol))).cast("long").as("n_re_tokens"),
      size(array_distinct(regexTokens(col(textCol)))).cast("long")
        .as("n_re_distinct"))

  /** Corpus-level token frequencies: top-N by count (tie-break token). */
  def tokenStats(df: DataFrame, textCol: String, topN: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(topN)

  /** Corpus-level word-bigram frequencies: top-N by count (tie-break
    * bigram) — the collocation / boilerplate-phrase miner (feeds stopword
    * lists, template detection, and n-gram-LM vocabularies). Unlike
    * [[repetitionStats]]'s per-doc window, the gram stream here is built
    * ROW-LOCALLY (`slice` + `transform` over the token array — codegen'd,
    * zero shuffle before the count aggregate), so the only shuffles are
    * the map-side-combinable count and the final top-N — the shape that
    * holds at corpus scale. Documents with fewer than two tokens
    * contribute nothing. */
  def bigramTopK(df: DataFrame, textCol: String, topN: Int): DataFrame =
    df.select(tokens(col(textCol)).as("_tk"))
      .select(explode(expr(
        "transform(slice(_tk, 1, greatest(size(_tk) - 1, 0))," +
          " (w, i) -> concat(w, ' ', element_at(_tk, i + 2)))")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bigram"))
      .limit(topN)

  /** Per-document 2-gram repetition statistics — the Gopher-style
    * repetition filters (Rae et al. 2021, "Scaling Language Models",
    * §A1.1 repetition rules) an LLM curation pipeline applies before
    * training: `top_2gram_frac` (share of all 2-grams taken by the most
    * frequent one) and `dup_2gram_frac` (share of 2-gram occurrences
    * beyond each gram's first). All counts are exact integers; the two
    * ratios are single IEEE divisions — engine-portable.
    *
    * Spark shape: posexplode + one window `lead` per doc builds the gram
    * stream without per-element lambda dispatch, then two hash
    * aggregates. Documents with fewer than two tokens have no 2-grams
    * and are omitted (matches the oracle's empty-list semantics). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        posexplode(tokens(col(textCol))))
      .toDF("doc", "pos", "tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    val grams = toks.withColumn("nxt", lead(col("tok"), 1).over(w))
      .where(col("nxt").isNotNull)
      .select(col("doc"), concat_ws(" ", col("tok"), col("nxt")).as("gram"))
    grams.groupBy(col("doc"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_2grams"), max(col("c")).as("mx"),
        count(lit(1)).as("dist"))
      .select(col("doc"), col("n_2grams"),
        round(col("mx").cast("double") / col("n_2grams"), 6)
          .as("top_2gram_frac"),
        round((col("n_2grams") - col("dist")).cast("double") / col("n_2grams"), 6)
          .as("dup_2gram_frac"))
  }

  /** Shannon entropy of the per-document token distribution (nats) — the
    * information-density quality signal a curation pipeline uses to
    * catch template/boilerplate text (low entropy) that length and
    * repetition rules miss. Deterministic float discipline: token counts
    * are exact integers, and the -Σ p·ln p fold runs in sorted-token
    * order on BOTH engines (Spark: `sort_array` + sequential
    * `aggregate`; oracle: `list(c ORDER BY tok)` + `list_sum`), so the
    * IEEE op sequence is identical before the 6-dp round. Shape: one
    * explode + two hash aggregates; the collect_list is per-document
    * (bounded by doc length), never corpus-wide. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("c"))
    val agg1 = tf.groupBy(col("doc"))
      .agg(sum(col("c")).cast("long").as("n"),
        sort_array(collect_list(struct(col("tok"), col("c")))).as("l"))
    agg1.select(col("doc").as(idCol), col("n").as("n_tokens"),
      // + 0.0 normalizes the -0.0 a zero-entropy doc would produce
      round(aggregate(col("l"), lit(0.0), (acc, s) =>
          acc + (s.getField("c").cast("double") / col("n").cast("double")) *
            log(s.getField("c").cast("double") / col("n").cast("double")))
        * lit(-1.0) + lit(0.0), 6).as("token_entropy"))
  }

  /** Token-budget truncation — the context-window fitting pass every
    * training-data pipeline runs before packing: keep the first
    * `maxTokens` whitespace tokens of each document. Row-local slice +
    * join (no shuffle); emits the kept text, before/after counts, and an
    * md5 digest of the kept prefix so the oracle pins the exact cut
    * byte-for-byte. */
  def truncateTokens(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val kept = array_join(slice(toks, 1, maxTokens), " ")
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      least(size(toks), lit(maxTokens)).cast("long").as("n_kept"),
      md5(kept).as("kept_md5"))
  }

  /** Gopher-style format/symbol document filters (Rae et al. 2021,
    * "Scaling Language Models", §A1.1 — the quality rules beyond the
    * repetition family covered by [[repetitionStats]]): mean word length,
    * symbol-to-word ratio (`#` and `...`), bullet-/ellipsis-line
    * fractions, and the fraction of words containing at least one
    * alphabetic character, plus the conjunction flag `gopher_pass` with
    * the paper's published thresholds. Every metric is a row-local
    * native-expression computation over exact integer counts with one
    * 6-dp-rounded IEEE division each — perfectly parallel, whole-stage
    * codegen, engine-portable (the oracle reproduces each count with the
    * same split/replace/regex primitives). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    // occurrences of '#' and '...' via length deltas (portable substring
    // counting; no regex-count builtin shared by both engines)
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val nEllipsis = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isin("-", "*"))).cast("long")
    val nEllLine = size(filter(lines, l =>
      rtrim(l).endsWith("..."))).cast("long")
    val nAlphaWord = size(filter(toks, t =>
      length(regexp_replace(t, "[^a-zA-Z]", "")) > 0)).cast("long")
    val sumWordLen = aggregate(toks, lit(0L), (acc, t) =>
      acc + length(t).cast("long"))
    val meanWordLen = round(sumWordLen.cast("double") / nTok, 6)
    val symbolRatio = round((nHash + nEllipsis).cast("double") / nTok, 6)
    val bulletFrac = round(nBullet.cast("double") / nLines, 6)
    val ellFrac = round(nEllLine.cast("double") / nLines, 6)
    val alphaFrac = round(nAlphaWord.cast("double") / nTok, 6)
    df.select(col(idCol),
      nTok.as("n_tokens"),
      meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_word_ratio"),
      bulletFrac.as("bullet_line_frac"),
      ellFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      (nTok >= 50L && nTok <= 100000L &&
        meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
        symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellFrac <= 0.3 &&
        alphaFrac >= 0.8).as("gopher_pass"))
  }

  /** ADD the row-local curation signal columns (`n_tokens`,
    * `distinct_ratio`, `stopword_ratio`, `pred_lang`) to a frame while
    * KEEPING its existing columns — the streaming-shaped form of
    * [[qualityScore]] + [[languageId]]. Those two return metric-only
    * projections, which a bounded batch pipeline joins back by id; a
    * stateless streaming stage cannot (a self-join of two derivations of
    * the same stream is a stream-stream join), so curation-on-ingest
    * needs the signals as added columns on the live row, text included.
    * The expressions are the SAME formulas with the SAME 6-dp rounding —
    * ExtSpec pins column-for-column equality against the two canonical
    * operators so the filter boundary cannot drift. */
  def withCurationSignals(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwordsEn: _*))).cast("long")
    val lowToks = tokens(lower(col(textCol)))
    val langs = langWords.map(_._1)
    val hits: Map[String, Column] = langWords.toMap.map { case (lang, words) =>
      lang -> size(filter(lowToks, t => t.isin(words: _*))).cast("long")
    }
    val best = langs.foldRight(lit("und")) { (lang, acc) =>
      when(hits(lang) > lit(0) &&
        langs.filter(_ != lang).map(o => hits(lang) >= hits(o))
          .reduce(_ && _), lit(lang)).otherwise(acc)
    }
    df.withColumn("n_tokens", nTok)
      .withColumn("distinct_ratio",
        round(nDistinct.cast("double") / nTok, 6))
      .withColumn("stopword_ratio",
        round(nStop.cast("double") / nTok, 6))
      .withColumn("pred_lang", best)
  }

  /** Per-document top-N terms by TF-IDF (tf = raw in-doc count, idf =
    * ln(N / df) over the whole corpus) — the classic corpus-statistics
    * keyword extractor a curation pipeline uses for topic tagging and
    * near-template detection.
    *
    * Scale shape: one explode + two hash aggregates — (doc, term) counts,
    * then term document-frequency derived FROM that frame (no second
    * corpus pass) — a broadcast of the single-row corpus count, and a
    * per-doc window for the top-N. All shuffles are on (doc, term) / term
    * keys; nothing driver-side. Ranking uses the ROUNDED score (6 dp,
    * ties by term ascending) so rank order is reproducible across engines
    * — raw ln products differ in final bits between libms, rounded ones
    * do not. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 3): DataFrame = {
    // pinned (r16): tf feeds dfreq and the scored join — the same
    // duplicated-subtree shape as [[unigramNll]]
    val tf = Pin.pin(df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        log(col("n").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
      .select(col("doc"), col("rank"), col("term"), col("tfidf"))
  }

  /** BM25 top-k retrieval (Robertson–Spärck Jones; the Lucene
    * `(N−df+0.5)/(df+0.5)+1` idf form, always positive) for a FIXED set
    * of term-set queries — the missing ranked-retrieval sibling of
    * [[tfidfTopTerms]]: given (query_id, terms), return each query's
    * top-k documents by BM25 score.
    *
    * Scale shape: the corpus pays ONE row-local tokenize (dl = doc
    * length comes from `size()` on the token array, no explode needed
    * for it) and one explode immediately FILTERED to the query terms —
    * the (doc, term, tf) frame is bounded by matches, not corpus
    * tokens. df derives from that frame; corpus N/avgdl is a one-row
    * broadcast; the query map is a literal broadcast. No corpus-keyed
    * shuffle at all until the per-(query, doc) sum, which is bounded by
    * matching docs.
    *
    * Determinism: every (doc, term) contribution is ROUNDED (6 dp) then
    * summed as exact DECIMAL — partition-order-invariant, the
    * [[unigramNll]] discipline — and ranked (score desc, doc asc) over
    * the exact sum. The oracle mirrors the arithmetic token-for-token
    * (same literals, same association) so both engines evaluate
    * identical IEEE expression trees. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, Seq[String])], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val terms = queries.flatMap(_._2).distinct
    val base = df.select(col(idCol).as("doc"),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("_t"))
      .withColumn("dl", size(col("_t")).cast("long"))
    // pinned (r16): tf feeds dfreq AND the contribution join — unpinned,
    // the corpus tokenize+explode re-ran for each (the postings frame is
    // tiny: only query-term hits survive the filter)
    val tf = Pin.pin(base
      .select(col("doc"), col("dl"), explode(col("_t")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val qmap = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log((col("n") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val contrib = tf.join(broadcast(dfreq), "term")
      .join(broadcast(qmap), "term")
      .crossJoin(broadcast(stats))
      .withColumn("c", round(idf * (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl") / avgdl)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc"))
    contrib.groupBy(col("query_id"), col("doc"))
      .agg(sum(col("c").cast("decimal(38,6)")).cast("double").as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc"), col("score"))
  }

  /** Corpus-unigram-LM negative log-likelihood per document — the
    * engine-internal stand-in for CCNet-style perplexity bucketing
    * (Wenzek et al. 2020 filter corpora by KenLM perplexity; with no
    * external LM in scope, the corpus's own unigram model is the
    * distributable proxy): nll(d) = Σ_t tf_dt·ln(N/f_t) / len_d, low =
    * typical text, high = rare-token noise. Emits (doc, n_tokens, nll).
    *
    * Determinism: each (doc, term) contribution is ROUNDED (6 dp) then
    * summed as DECIMAL(38,6) — exact, order-invariant — with ONE IEEE
    * division + round at the end, so the result is partition-count- and
    * engine-invariant (the same exact-decimal-partials rule the
    * aggregate queries use; raw double Σln differs in final bits by
    * summation order).
    *
    * Scale shape: tf is one explode + (doc, term) hash aggregate; term
    * frequencies derive FROM the tf frame (no second corpus pass); the
    * corpus total N broadcasts as a single row. The tf ⋈ freq join is
    * SKEW-SPLIT: stopwords are the classic hot keys of a term-keyed
    * shuffle (a handful of terms own a double-digit share of all tf
    * rows), so the [[HeadTypes]] hottest terms join via BROADCAST (tiny
    * frame, no shuffle of their tf mass at all) and only the long tail —
    * near-uniform by construction once the head is gone — takes the
    * equi-join shuffle. The full vocab is never broadcast (at 100 TB the
    * vocab is itself a big frame); the identical tf/freq subtrees across
    * the two branches collapse via exchange reuse, so the split costs
    * one ~[[HeadTypes]]-row broadcast. */
  def unigramNll(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // tf feeds THREE consumers (freq, hot, tail) and freq three more
    // (n, head, tail-join): pinned (r16), one corpus tokenize pass and
    // one vocab aggregate run ONCE instead of re-expanding per branch —
    // the un-pinned logical tree re-embedded the whole scan+explode
    // subtree 3× (12 scans / 34 exchanges in the static plan; exchange
    // reuse recovered some of it at runtime, none of the planning cost)
    val tf = Pin.pin(df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf")))
    val freq = tf.groupBy(col("term")).agg(sum(col("tf")).as("f"))
    val n = freq.agg(sum(col("f")).as("n"))
    // deterministic head set: ties on f broken by term
    val head = freq.orderBy(col("f").desc, col("term")).limit(HeadTypes)
    val hot = tf.join(broadcast(head), Seq("term"))
    val tail = tf.join(broadcast(head.select(col("term"))), Seq("term"), "left_anti")
      .join(freq, Seq("term"))
    hot.unionByName(tail)
      .crossJoin(broadcast(n))
      .withColumn("_contrib",
        round(col("tf") * log(col("n").cast("double") / col("f")), 6)
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)))
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("_contrib")).cast("double") /
          sum(col("tf")).cast("double"), 6).as("nll"))
  }

  /** Bigram conditional NLL — the second-order LM quality score (one
    * step closer to the KenLM scorer CCNet used than [[unigramNll]]):
    * per-token cost −ln P(w_i | w_{i−1}) with P = C(w_{i−1} w_i) /
    * C(w_{i−1}·), counts from the corpus itself. Word-salad text scores
    * HIGH (its bigrams are rare even when its unigrams are common — the
    * failure mode a unigram score cannot see); templated text scores
    * low. Backoff is deliberately absent: self-scored corpora never hit
    * a zero bigram (every observed bigram has C2 ≥ 1), so a backoff
    * branch would be dead code here — score a FOREIGN corpus by swapping
    * the count frames and adding the smoothing the caller wants.
    *
    * Float discipline ≡ [[unigramNll]]: each (doc, bigram) contribution
    * tf·ln(C1/C2) rounds to 6 dp, sums as DECIMAL(38,6) (exact,
    * order-free), one IEEE division + round at the end.
    *
    * Scale shape: the gram stream is ROW-LOCAL (slice+transform — no
    * per-doc window); counts derive from the single (doc, bigram) hash
    * aggregate (no second corpus pass). The type-level c2 ⋈ c1 join is
    * bounded by DISTINCT bigram types, not token mass; the token-mass
    * join (tf ⋈ scored) is skew-split exactly like unigramNll: the
    * [[HeadTypes]] hottest bigrams broadcast, the long tail — near-uniform
    * once the head is gone — takes the equi-join shuffle. */
  def bigramNll(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    // tf (3 consumers) and scored (2) pinned — same rationale as
    // [[unigramNll]] (r16): one gram pass, one type-score build
    val tf = Pin.pin(df.select(col(idCol).as("doc"),
        tokens(col(textCol)).as("_tk"))
      .select(col("doc"), explode(expr(
        "transform(slice(_tk, 1, greatest(size(_tk) - 1, 0))," +
          " (w, i) -> struct(w AS prev," +
          " concat(w, ' ', element_at(_tk, i + 2)) AS big))")).as("x"))
      .select(col("doc"), col("x.prev").as("prev"), col("x.big").as("big"))
      .groupBy(col("doc"), col("prev"), col("big"))
      .agg(count(lit(1)).as("tf")))
    val c2 = tf.groupBy(col("big")).agg(sum(col("tf")).as("c2"),
      first(col("prev")).as("prev"))
    val c1 = tf.groupBy(col("prev")).agg(sum(col("tf")).as("c1"))
    val scored = Pin.pin(
      c2.join(c1, "prev").select(col("big"), col("c1"), col("c2")))
    val head = scored.orderBy(col("c2").desc, col("big")).limit(HeadTypes)
    val hot = tf.join(broadcast(head), Seq("big"))
    val tail = tf.join(broadcast(head.select(col("big"))), Seq("big"), "left_anti")
      .join(scored, Seq("big"))
    hot.select(col("doc"), col("tf"), col("c1"), col("c2"))
      .unionByName(tail.select(col("doc"), col("tf"), col("c1"), col("c2")))
      .withColumn("_contrib",
        round(col("tf") * log(col("c1").cast("double") / col("c2")), 6)
          .cast(dec6))
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("_contrib")).cast("double") /
          sum(col("tf")).cast("double"), 6).as("nll"))
  }

  /** FOREIGN-LM bigram scoring with stupid backoff — the real CCNet
    * shape: the LM counts come from a TRUSTED subset (`lmPred` rows),
    * and every document is scored against them, so unseen bigrams are a
    * live code path (unlike [[bigramNll]]'s self-scoring where every
    * observed bigram has count ≥ 1). Per-token cost:
    * −ln(c2/c1) when the LM saw the bigram, else the stupid-backoff
    * −ln(0.4·(u+1)/(N+1)) on the continuation's unigram count (add-one
    * for full OOV). Also emits `oov_frac` (backoff token share) — the
    * companion filter signal. Float discipline ≡ [[unigramNll]].
    *
    * Scale shape: all LM lookups happen on the TYPE level — the scored
    * corpus' DISTINCT (prev, big, cur) frame left-joins the LM count
    * frames, so hot tokens are single rows there, no mass skew; the one
    * token-mass join (tf ⋈ per-big cost) is skew-split with the same
    * [[HeadTypes]] broadcast-head as unigramNll/bigramNll. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      lmPred: Column): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val base = df.select(col(idCol).as("doc"), lmPred.as("_lm"),
      tokens(col(textCol)).as("_tk"))
    def grams(d: DataFrame) = d.select(col("doc"), explode(expr(
        "transform(slice(_tk, 1, greatest(size(_tk) - 1, 0))," +
          " (w, i) -> struct(w AS prev," +
          " concat(w, ' ', element_at(_tk, i + 2)) AS big," +
          " element_at(_tk, i + 2) AS cur))")).as("x"))
      .select(col("doc"), col("x.prev").as("prev"), col("x.big").as("big"),
        col("x.cur").as("cur"))
    // tf (3 consumers), lm (2) and cost (2) pinned (r16) — same
    // duplicated-subtree rationale as [[unigramNll]]
    val tf = Pin.pin(grams(base).groupBy(col("doc"), col("prev"),
      col("big"), col("cur")).agg(count(lit(1)).as("tf")))
    val lm = Pin.pin(grams(base.where(col("_lm"))))
    val c2 = lm.groupBy(col("big")).agg(count(lit(1)).as("c2"))
    val c1 = lm.groupBy(col("prev")).agg(count(lit(1)).as("c1"))
    val u = base.where(col("_lm"))
      .select(explode(col("_tk")).as("cur"))
      .groupBy(col("cur")).agg(count(lit(1)).as("u"))
    val n = u.agg(sum(col("u")).as("n_lm"))
    val cost = Pin.pin(
      tf.select(col("prev"), col("big"), col("cur")).distinct()
      .join(c2, Seq("big"), "left")
      .join(c1, Seq("prev"), "left")
      .join(u, Seq("cur"), "left")
      .crossJoin(broadcast(n))
      .select(col("big"),
        when(col("c2").isNotNull,
          log(col("c1").cast("double") / col("c2")))
          .otherwise(log((col("n_lm") + 1).cast("double") /
            (lit(0.4) * (coalesce(col("u"), lit(0L)) + 1)))).as("cost"),
        col("c2").isNull.cast("long").as("oov")))
    val mass = tf.groupBy(col("big")).agg(sum(col("tf")).as("_m"))
    val head = mass.orderBy(col("_m").desc, col("big")).limit(HeadTypes)
      .select(col("big")).join(cost, "big")
    val hot = tf.join(broadcast(head), Seq("big"))
    val tail = tf.join(broadcast(head.select(col("big"))), Seq("big"), "left_anti")
      .join(cost, Seq("big"))
    hot.select(col("doc"), col("tf"), col("cost"), col("oov"))
      .unionByName(tail.select(col("doc"), col("tf"), col("cost"), col("oov")))
      .withColumn("_contrib", round(col("tf") * col("cost"), 6).cast(dec6))
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("_contrib")).cast("double") /
          sum(col("tf")).cast("double"), 6).as("nll"),
        round(sum(col("tf") * col("oov")).cast("double") /
          sum(col("tf")).cast("double"), 6).as("oov_frac"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 split each
    * language's corpus into head/middle/tail by LM-score terciles before
    * training-data selection): per-stratum EXACT interpolated tercile
    * cutoffs over the [[unigramNll]] score, then a row-local CASE
    * bucket (1 = head/typical … 3 = tail/noisy).
    *
    * Scale shape: cutoffs are one tiny per-stratum aggregate (the exact
    * `percentile`, interpolation-identical to `quantile_cont` — pinned
    * bit-for-bit by ts_percentiles) broadcast back; bucketing never
    * sorts the corpus. An ntile window would need a TOTAL ORDER per
    * stratum — one partition per language, the classic straggler at
    * corpus scale; score cutoffs are the formulation CCNet itself uses
    * (bucket boundaries from sampled scores, membership by threshold). */
  def nllBuckets(df: DataFrame, idCol: String, textCol: String,
      strataCol: String): DataFrame = {
    // materialize the per-doc score frame ONCE (eager localCheckpoint,
    // same pattern as minhashDupPairs' signature frame): the cutoff
    // aggregate and the final bucketing join both consume it, and
    // without the boundary Catalyst re-executes the whole explode +
    // tf ⋈ freq pipeline for each consumer (observed: 28 parquet scans
    // in the un-checkpointed plan, zero exchange reuse). One row per
    // doc — small next to the token-level work it caps.
    val nll = unigramNll(df, idCol, textCol)
      .join(df.select(col(idCol).as("doc"), col(strataCol)), "doc")
      .transform(Pin.pin)
    // Tercile cutoffs as EXACT order statistics, compared in EXACT
    // decimal arithmetic: interpolated-percentile cutoffs (Spark
    // `percentile` vs DuckDB `quantile_cont`) evaluate `lo + (hi-lo)·g`
    // in different float orders, and the sf0.1 gate caught a boundary
    // doc landing between the two engines' cutoffs (one ulp apart).
    // The linear interpolation at position (n-1)·p with p = t/3 has
    // fraction r/3, r = (t·(n-1)) mod 3 ∈ {0,1,2}, so the bucket rule
    //   nll ≤ lo + (hi-lo)·r/3  ⟺  3·nll ≤ (3-r)·lo + r·hi
    // — and the right side is exact DECIMAL(38,6) arithmetic over
    // round-6 values. The per-stratum order statistics come from
    // [[Ranks.stratifiedRowNumber]] — range-partitioned on (stratum,
    // nll, doc) so even the dominant language (most of a real corpus,
    // and the skewed key) spreads over the full partition count instead
    // of buffering its whole stratum in one sorted-list aggregate task.
    // (nll, doc) is a total order within a stratum, so the rank-k row's
    // nll IS the k-th order statistic — identical cutoffs.
    val ranked = Ranks.stratifiedRowNumber(
      nll.select(col(strataCol), col("nll"), col("doc")),
      Seq(strataCol), Seq(col("nll"), col("doc")), out = "_rn")
    val ns = nll.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
    def loIdx(t: Int) = floor(lit(t) * (col("n") - 1) / 3) + 1
    def hiIdx(t: Int) = least(loIdx(t) + 1, col("n"))
    def r(t: Int) = pmod(lit(t) * (col("n") - 1), lit(3L))
    def pick(t: Int, at: Column) =
      min(when(col("_rn") === at, col("nll"))).cast("decimal(38,6)")
    val cuts = ranked.join(broadcast(ns), strataCol)
      .where(col("_rn") === loIdx(1) || col("_rn") === hiIdx(1) ||
        col("_rn") === loIdx(2) || col("_rn") === hiIdx(2))
      .groupBy(col(strataCol))
      .agg(
        pick(1, loIdx(1)).as("q1lo"), pick(1, hiIdx(1)).as("q1hi"),
        min(r(1)).as("r1"),
        pick(2, loIdx(2)).as("q2lo"), pick(2, hiIdx(2)).as("q2hi"),
        min(r(2)).as("r2"))
    val nllD = col("nll").cast("decimal(38,6)")
    nll.join(broadcast(cuts), strataCol)
      .withColumn("bucket",
        when(nllD * 3 <= (lit(3) - col("r1")) * col("q1lo") +
          col("r1") * col("q1hi"), lit(1L))
          .when(nllD * 3 <= (lit(3) - col("r2")) * col("q2lo") +
            col("r2") * col("q2hi"), lit(2L))
          .otherwise(lit(3L)))
      .select(col("doc"), col(strataCol), col("n_tokens"), col("nll"),
        col("bucket"))
  }

  /** Approximate-percentile SERVING TWIN of [[nllBuckets]]'s tercile
    * cutoffs (r12 verdict task 7) — the form a 100 TB run ships when
    * exactness isn't contractual: per-stratum `percentile_approx`
    * (GK sketch, mergeable, O(accuracy) state — no rank shuffle at all)
    * with the error vs the exact order statistics PINNED IN-QUERY. The
    * sketch guarantees a rank error ≤ n/accuracy; the emitted
    * `q*_within` booleans assert the approx value lies between the
    * exact order statistics at target ± (⌈n/accuracy⌉ + 2) ranks (the
    * +2 absorbs the sketch's different rank anchor), so a sketch
    * violating its bound is a red correctness gate, not a silent
    * quality drift. Exact picks ride [[Ranks.stratifiedRowNumber]]. */
  def nllCutsApprox(df: DataFrame, idCol: String, textCol: String,
      strataCol: String): DataFrame = {
    val nll = unigramNll(df, idCol, textCol)
      .join(df.select(col(idCol).as("doc"), col(strataCol)), "doc")
      .transform(Pin.pin)
    val ranked = Ranks.stratifiedRowNumber(
      nll.select(col(strataCol), col("nll"), col("doc")),
      Seq(strataCol), Seq(col("nll"), col("doc")), out = "_rn")
    val ns = nll.groupBy(col(strataCol)).agg(count(lit(1)).as("n"),
      percentile_approx(col("nll"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(SketchAccuracy)).as("_apx"))
    def tgt(t: Int) = floor(lit(t) * (col("n") - 1) / 3) + 1
    val slack = ceil(col("n").cast("double") / SketchAccuracy) + 2
    def loB(t: Int) = greatest(lit(1L), (tgt(t) - slack).cast("long"))
    def hiB(t: Int) = least(col("n"), (tgt(t) + slack).cast("long"))
    def pick(at: Column) = min(when(col("_rn") === at, col("nll")))
    def apx(t: Int) = min(element_at(col("_apx"), t))
    ranked.join(broadcast(ns), strataCol)
      .where(Seq(1, 2).map(t =>
        col("_rn") === tgt(t) || col("_rn") === least(tgt(t) + 1, col("n")) ||
          col("_rn") === loB(t) || col("_rn") === hiB(t)).reduce(_ || _))
      .groupBy(col(strataCol))
      .agg(
        pick(tgt(1)).as("q1_exact_lo"),
        pick(least(tgt(1) + 1, col("n"))).as("q1_exact_hi"),
        min(pmod(lit(1) * (col("n") - 1), lit(3L))).as("r1"),
        (apx(1) >= pick(loB(1)) && apx(1) <= pick(hiB(1))).as("q1_within"),
        pick(tgt(2)).as("q2_exact_lo"),
        pick(least(tgt(2) + 1, col("n"))).as("q2_exact_hi"),
        min(pmod(lit(2) * (col("n") - 1), lit(3L))).as("r2"),
        (apx(2) >= pick(loB(2)) && apx(2) <= pick(hiB(2))).as("q2_within"))
  }

  /** PII patterns, restricted to the Java-regex ∩ RE2 common subset
    * (character classes, bounded repetition, `\b`, `\d`, non-capturing
    * groups — no lookaround, no backreferences) so Spark and any
    * RE2-based SQL engine match the IDENTICAL spans. Replacement order
    * is fixed (email → phone → IPv4 → SSN → credit card) and counts are
    * taken on the ORIGINAL text, so composition is deterministic even
    * where patterns could nest. The five patterns are mutually
    * non-overlapping by construction (`\b` forbids a match starting
    * inside another's digit run; 3-3-4 phone, 3-2-4 SSN, and 4-4-4-4
    * card groupings are pairwise incompatible). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val SsnRe   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val CcRe    = "\\b(?:\\d{4}[- ]){3}\\d{4}\\b|\\b\\d{16}\\b"

  /** Luhn checksum over a card-shaped span (digits plus `-`/space
    * separators), as a pure integer Catalyst expression — portable to any
    * engine with higher-order list functions (the oracle runs the same
    * arithmetic in DuckDB lambdas). Position 1 = rightmost digit; every
    * even position doubles with a 9-subtraction carry; valid iff the sum
    * is ≡ 0 (mod 10). */
  def luhnOk(c: Column): Column = {
    val rd = reverse(regexp_replace(c, "[- ]", ""))
    val total = aggregate(
      transform(sequence(lit(1), length(rd)), i => {
        val d = rd.substr(i, lit(1)).cast("int")
        when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
          .otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    total % 10 === 0
  }

  /** PII REDACTION — the scrubbing pass a training pipeline runs before
    * any text leaves curation: replace email / US-phone / IPv4 / SSN /
    * credit-card spans with typed placeholders and report per-document
    * match counts plus the redacted text. Card candidates are redacted
    * (and counted) ONLY when they pass the Luhn check — the standard
    * false-positive filter for 16-digit lookalikes; Luhn-invalid spans
    * stay untouched. Entirely ROW-LOCAL (regexp extracts, a regexp_replace
    * chain, and a higher-order fold over the per-row candidate list, all
    * inside whole-stage codegen): no shuffle, no state, pushes through
    * any partitioning unchanged — the 100 TB shape is a pure map over
    * the scan. Emits (doc, n_emails, n_phones, n_ips, n_ssns, n_ccs,
    * redacted). */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def nMatches(re: String) =
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    val base = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>"),
      SsnRe, "<SSN>")
    // candidates come from the ORIGINAL text (their spans are disjoint
    // from every earlier pattern, so they survive into `base` verbatim);
    // each Luhn-valid span is literal-replaced in match order
    val validCcs = filter(regexp_extract_all(t, lit(CcRe), lit(0)), luhnOk(_))
    val redacted = aggregate(validCcs, base,
      (acc, c) => call_function("replace", acc, c, lit("<CC>")))
    df.select(col(idCol).as("doc"),
      nMatches(EmailRe).as("n_emails"),
      nMatches(PhoneRe).as("n_phones"),
      nMatches(Ipv4Re).as("n_ips"),
      nMatches(SsnRe).as("n_ssns"),
      size(validCcs).cast("long").as("n_ccs"),
      redacted.as("redacted"))
  }

  /** Tiny stand-in blocklist for the C4 "bad words" page filter — the
    * real pipeline plugs in the public List-of-Dirty-Naughty-Obscene
    * list; the RULE (any blocklisted word anywhere on the page drops the
    * page) is what's implemented and tested. */
  private val c4BadWords = Seq("damnedword", "obsceneword")

  /** C4 curation rule bundle (Raffel et al. 2020, §2.2 — the public
    * heuristics behind the C4 corpus), line stage then page stage:
    * keep a LINE only when it ends in terminal punctuation (. ! ? "),
    * has ≥ 3 whitespace words, and doesn't mention "javascript";
    * keep the PAGE only when the kept text still has ≥ 5 sentence
    * terminators, no "lorem ipsum", no curly brace, and no blocklisted
    * word. Emits per doc: line accounting, the page flags, an md5 of
    * the reassembled kept text (so the filtered CONTENT is pinned, not
    * just counts), and the final keep decision.
    *
    * Scale shape: pure row-local string work (split / filter /
    * length-delta counting) inside whole-stage codegen — no shuffle, no
    * state; the 100 TB form is a map over the scan, same as
    * [[gopherRules]]. */
  /** The C4 line-keep predicate (terminal punctuation, >= 3 words, no
    * "javascript" — Raffel et al. 2020 §2.2), shared by the metric form
    * [[c4Rules]] and the rewriting form [[c4Clean]]. */
  private def c4LineOk(l: Column): Column = {
    val tl = rtrim(l)
    val nWords = size(filter(split(l, " "), w => w =!= ""))
    substring(tl, -1, 1).isin(".", "!", "?", "\"") &&
      nWords >= 3 && !lower(l).contains("javascript")
  }

  /** The REWRITING form of [[c4Rules]] for pipeline composition: emits
    * the cleaned text itself (kept lines re-joined with '\n') plus the
    * page-keep verdict, carrying `carry` columns through — the stage a
    * real curation pipeline feeds downstream (dedup/gates run on the
    * CLEANED text, not the raw page). `minSentences` parameterizes the
    * sentence floor (canonical C4 uses 5; a sparse fixture corpus scales
    * it down); every other rule is the canonical bundle unchanged.
    * Row-local projection — shuffle-free, scan-pushable. */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil, minSentences: Int = 5): DataFrame = {
    val text = col(textCol)
    val kept = filter(split(text, "\n"), c4LineOk(_))
    val keptText = array_join(kept, "\n")
    val nSent = (length(keptText) -
      length(regexp_replace(keptText, "[.!?]", ""))).cast("long")
    val lowText = lower(text)
    val hasBad = c4BadWords.map(w => lowText.contains(w)).reduce(_ || _)
    val keep = nSent >= lit(minSentences.toLong) &&
      !lowText.contains("lorem ipsum") && !text.contains("{") && !hasBad
    df.select((col(idCol) +: carry.map(col)) :+
      keptText.as("c4_text") :+ keep.as("c4_keep"): _*)
  }

  def c4Rules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val lines = split(text, "\n")
    val kept = filter(lines, c4LineOk(_))
    val keptText = array_join(kept, "\n")
    // sentence proxy: terminal-punctuation characters in the kept text
    // (portable length-delta counting; both engines strip [.!?])
    val nSent = (length(keptText) -
      length(regexp_replace(keptText, "[.!?]", ""))).cast("long")
    val lowText = lower(text)
    val hasBad = c4BadWords.map(w => lowText.contains(w))
      .reduce(_ || _)
    val hasLorem = lowText.contains("lorem ipsum")
    val hasBrace = text.contains("{")
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nSent.as("n_sentences"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      hasBad.as("has_badword"),
      md5(keptText).as("kept_md5"),
      (nSent >= 5L && !hasLorem && !hasBrace && !hasBad).as("c4_keep"))
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999 eq. 18, fixed discount D), self-estimated on the
    * corpus — the third-order completion of [[bigramNll]]: a document
    * of locally-plausible bigrams stitched into incoherent triples
    * scores high here and not there. All lower-order distributions use
    * CONTINUATION type counts derived from the distinct-trigram frame
    * (the KN insight — "Francisco" is common but follows few
    * histories):
    *
    *   P(w₃|w₁w₂) = max(c₃−D,0)/c(h) + D·N₁₊(h•)/c(h) · P(w₃|w₂)
    *   P(w₃|w₂)  = max(N₁₊(•w₂w₃)−D,0)/N₁₊(•w₂•)
    *                 + D·N₁₊(w₂•)/N₁₊(•w₂•) · P_cont(w₃)
    *   P_cont(w₃) = N₁₊(•w₃)/N₁₊(••)
    *
    * with c(h) = Σ_w c₃(h,w) (histories defined over observed
    * trigrams, so the model is self-consistent at document edges).
    *
    * Float discipline ≡ [[bigramNll]]: P is a fixed arithmetic
    * expression over exact integer type counts (identical operation
    * order in the oracle), the per-trigram-type cost −ln(P) multiplies
    * an integer tf and rounds to 6 dp BEFORE the per-doc sum, which
    * runs in exact DECIMAL — partition- and engine-invariant.
    *
    * Scale shape: gram construction is row-local (slice+transform, no
    * pre-aggregate shuffle); every KN statistic lives on the TYPE level
    * (distinct trigrams), so hot grams are single rows there; the one
    * token-mass join (per-doc tf ⋈ per-type cost) is skew-split with
    * the same broadcast top-[[HeadTypes]] head as [[bigramNll]]. */
  def kn3Nll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    // tf (3 consumers), types (5), lowStats (4), scored (2) pinned
    // (r16): the un-pinned logical tree re-embedded the corpus
    // tokenize+explode subtree into every branch — 40 parquet scans /
    // 130 exchanges in the static plan, with planning cost to match
    val tf = Pin.pin(df.select(col(idCol).as("doc"),
        tokens(col(textCol)).as("_tk"))
      .select(col("doc"), explode(expr(
        "transform(slice(_tk, 1, greatest(size(_tk) - 2, 0))," +
          " (w, i) -> concat(w, ' ', element_at(_tk, i + 2)," +
          " ' ', element_at(_tk, i + 3)))")).as("tri"))
      .groupBy(col("doc"), col("tri"))
      .agg(count(lit(1)).as("tf")))
    // the TYPE frame: every distinct trigram with its token count and
    // its decomposition (history = w1 w2, low = w2 w3, mid = w2, cur = w3)
    val types = Pin.pin(tf.groupBy(col("tri")).agg(sum(col("tf")).as("c3"))
      .withColumn("_p", split(col("tri"), " "))
      .select(col("tri"), col("c3"),
        concat(element_at(col("_p"), 1), lit(" "),
          element_at(col("_p"), 2)).as("hist"),
        concat(element_at(col("_p"), 2), lit(" "),
          element_at(col("_p"), 3)).as("low"),
        element_at(col("_p"), 2).as("mid"),
        element_at(col("_p"), 3).as("cur")))
    val histStats = types.groupBy(col("hist"))
      .agg(sum(col("c3")).as("ch"), count(lit(1)).as("n1h"))
    // distinct (w1) per (w2,w3): the continuation count N1+(• w2 w3)
    val lowStats = types.groupBy(col("low"))
      .agg(count(lit(1)).as("n1low"))
      .withColumn("_p2", split(col("low"), " "))
      .select(col("low"), col("n1low"),
        element_at(col("_p2"), 1).as("mid"),
        element_at(col("_p2"), 2).as("cur"))
    val midStats = lowStats.groupBy(col("mid"))
      .agg(sum(col("n1low")).as("nmid"), count(lit(1)).as("n1mid"))
    val curStats = lowStats.groupBy(col("cur")).agg(count(lit(1)).as("n1cur"))
    val nTypes = lowStats.select(count(lit(1)).as("ntypes"))
    val d = lit(KnDiscount)
    // P evaluated with the exact operation order the oracle replays
    val p3 =
      greatest(col("c3").cast("double") - d, lit(0.0)) /
        col("ch").cast("double") +
      d * col("n1h").cast("double") / col("ch").cast("double") *
        (greatest(col("n1low").cast("double") - d, lit(0.0)) /
            col("nmid").cast("double") +
          d * col("n1mid").cast("double") / col("nmid").cast("double") *
            (col("n1cur").cast("double") / col("ntypes").cast("double")))
    val scored = Pin.pin(types
      .join(histStats, "hist")
      .join(lowStats.select(col("low"), col("n1low")), "low")
      .join(midStats, "mid")
      .join(curStats, "cur")
      .crossJoin(broadcast(nTypes))
      .select(col("tri"), col("c3"), round(-log(p3), 6).as("cost")))
    val head = scored.orderBy(col("c3").desc, col("tri")).limit(HeadTypes)
      .select(col("tri"), col("cost"))
    val hot = tf.join(broadcast(head), Seq("tri"))
    val tail = tf.join(broadcast(head.select(col("tri"))), Seq("tri"), "left_anti")
      .join(scored.select(col("tri"), col("cost")), Seq("tri"))
    hot.unionByName(tail)
      .withColumn("_contrib",
        round(col("tf").cast("double") * col("cost"), 6).cast(dec6))
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_trigrams"),
        round(sum(col("_contrib")).cast("double") /
          sum(col("tf")).cast("double"), 6).as("kn_nll"))
  }

  /** Unicode NFC-normalization audit (UAX #15): per document, the raw and
    * normalized character counts, whether normalization changed the text,
    * and an md5 checksum of the NFC form — the canonical-form pass every
    * multilingual corpus pipeline runs before tokenization and dedup
    * (decomposed "e"+U+0301 and precomposed U+00E9 must hash identically
    * or the dedup keyspace silently splits). Normalization itself is the
    * codegen'd [[graft.functions.NormalizeUnicode]] native expression;
    * the whole audit is a shuffle-free row-local projection that stays
    * inside one whole-stage-codegen span. */
  def nfcAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nf = graft.functions.StringFunctions
      .normalizeUnicode(col(textCol), "NFC")
    df.select(col(idCol).as("doc"), col(textCol).as("_r"), nf.as("_nf"))
      .select(col("doc"),
        length(col("_r")).as("n_raw"),
        length(col("_nf")).as("n_nfc"),
        (col("_r") =!= col("_nf")).as("changed"),
        md5(col("_nf")).as("h"))
  }
}
