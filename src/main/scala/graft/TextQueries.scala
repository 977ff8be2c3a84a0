package graft

import graft.ext.{Pin, Sketches, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The text analysis and tokenizer queries (`text_`).
  * Each entry pairs a declared query with its DuckDB oracle SQL; see
  * [[SparkEntry]]. */
object TextQueries {
  import SparkEntry.{t, Artifact, unigramDictFor,
    bpeMergesFor, C4RulesOracle, c4StructuredText, r6, CmsTopkCtes, Query}
  import TextAnalysis.{KnDiscount, LangIdDim}

  /** Trained-langid oracle CTE prefix (text_langid_trained /
    * text_langid_trained_confusion): the full NB training replay —
    * char-trigram bucket counts per lang, add-1 smoothed 6-dp log
    * model over the complete (lang × bucket) grid, doc priors, then
    * per-doc scoring and the struct-max argmax. */
  private val LangIdTrainedCtes: String =
    s"""WITH tri AS (SELECT doc_id, lang,
      |    unnest([text[i:i+2] for i in
      |      generate_series(1, greatest(length(text)-2, 0))]) AS t
      |  FROM documents),
      |trib AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT % $LangIdDim AS bucket FROM tri),
      |lcl AS (SELECT lang, bucket, COUNT(*)::BIGINT AS c
      |  FROM trib GROUP BY 1, 2),
      |lgrid AS (SELECT l.lang, b.bucket
      |  FROM (SELECT DISTINCT lang FROM documents) l,
      |    (SELECT unnest(generate_series(0, ${LangIdDim - 1}))::BIGINT AS bucket) b),
      |lnl AS (SELECT lang, SUM(c)::BIGINT AS n FROM lcl GROUP BY 1),
      |llam AS (SELECT g.lang, g.bucket,
      |    round(ln(CAST(COALESCE(lcl.c, 0) + 1 AS DOUBLE)
      |      / CAST(lnl.n + $LangIdDim AS DOUBLE)), 6) AS lam
      |  FROM lgrid g LEFT JOIN lcl ON g.lang = lcl.lang
      |    AND g.bucket = lcl.bucket
      |  JOIN lnl ON g.lang = lnl.lang),
      |lpri AS (SELECT lang,
      |    round(ln(CAST(dl AS DOUBLE) / CAST(dt AS DOUBLE)), 6) AS pri
      |  FROM (SELECT lang, COUNT(*)::BIGINT AS dl FROM documents
      |        GROUP BY 1),
      |    (SELECT COUNT(*)::BIGINT AS dt FROM documents)),
      |lbow AS (SELECT doc_id, bucket, COUNT(*)::BIGINT AS c
      |  FROM trib GROUP BY 1, 2),
      |lsc AS (SELECT lbow.doc_id, llam.lang,
      |    lpri.pri + CAST(SUM(CAST(round(lbow.c * llam.lam, 6)
      |      AS DECIMAL(38,6))) AS DOUBLE) AS score
      |  FROM lbow JOIN llam USING (bucket)
      |  JOIN lpri ON llam.lang = lpri.lang
      |  GROUP BY lbow.doc_id, llam.lang, lpri.pri),
      |pred AS (SELECT doc_id,
      |    max(struct_pack(score := score, lang := lang)) AS b
      |  FROM lsc GROUP BY 1),
      |lfb AS (SELECT max(struct_pack(pri := pri, lang := lang)) AS f
      |  FROM lpri)""".stripMargin

  /** The unigram NLL replay: each document's term counts (tf), the
    * corpus frequencies (f, n) and each term's rounded -log p
    * contribution (c). */
  private val NllContribCtes: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |    FROM toks GROUP BY doc_id, term),
      |f AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS f FROM tf GROUP BY term),
      |n AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM f),
      |c AS (SELECT doc_id, tf,
      |    CAST(ROUND(tf * ln(CAST(n AS DOUBLE) / f), 6) AS DECIMAL(38,6))
      |      AS contrib
      |  FROM tf JOIN f USING (term) CROSS JOIN n)""".stripMargin

  /** Shared unigram-NLL oracle prefix (text_nll_buckets /
    * text_nll_cuts_approx): per-doc 6-dp-rounded unigram NLL, joined to
    * lang, ending with `sl` (doc, lang, n_tokens, nll) and `q` (lang,
    * n, sorted nll list — the oracle MAY buffer per-stratum, it is the
    * referee, not the engine plan). */
  private val NllOracleCtes: String =
    s"""$NllContribCtes,
      |s AS (SELECT doc_id AS doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |    ROUND(CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
      |      AS nll
      |  FROM c GROUP BY doc_id),
      |sl AS (SELECT s.doc, d.lang, s.n_tokens, s.nll
      |  FROM s JOIN documents d ON s.doc = d.doc_id),
      |q AS (SELECT lang, COUNT(*) AS n,
      |    array_agg(nll ORDER BY nll) AS sv
      |  FROM sl GROUP BY lang)""".stripMargin

  /** Fixed BM25 retrieval query set (text_bm25) — interpolated into the
    * generated oracle, so engine and oracle always score the same
    * terms. */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("hash", "table"),
    3 -> Seq("window", "agg"))

  /** Trained-langid predictions (doc, lang, pred_lang, score) —
    * train-once / consume-twice across the per-doc and confusion
    * queries. */
  private val langIdTrainedFor = Artifact("langIdTrained") { (s, dir) =>
    TextAnalysis.langIdTrained(t(s, dir, "documents"),
      "doc_id", "text", "lang").transform(Pin.pin)
  }

  private val LangIdOracle =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |h AS (SELECT doc_id,
      |  CAST(len([x for x in toks if list_contains(['the','and','of','to','is','in','that','it'], x)]) AS BIGINT) AS hits_en,
      |  CAST(len([x for x in toks if list_contains(['der','die','das','und','ist','nicht','ein','zu'], x)]) AS BIGINT) AS hits_de,
      |  CAST(len([x for x in toks if list_contains(['el','la','de','que','y','en','un','es'], x)]) AS BIGINT) AS hits_es,
      |  CAST(len([x for x in toks if list_contains(['le','la','et','les','des','est','un','dans'], x)]) AS BIGINT) AS hits_fr
      |  FROM d)
      |SELECT doc_id,
      |  CASE WHEN hits_en > 0 AND hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
      |       WHEN hits_de > 0 AND hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
      |       WHEN hits_es > 0 AND hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
      |       WHEN hits_fr > 0 AND hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es THEN 'fr'
      |       ELSE 'und' END AS pred_lang,
      |  hits_en, hits_de, hits_es, hits_fr
      |FROM h ORDER BY doc_id""".stripMargin

  private[graft] def queries: Seq[(String, (Query, String))] = Seq(

    // per-language tokenizer FERTILITY (BPE tokens per word) — the
    // cross-lingual tokenizer-fairness metric a multilingual corpus
    // audit reports (a language with high fertility pays more context
    // budget per word). Same cached merge table; one tiny per-lang
    // aggregate on top of the per-doc counts.
    "text_bpe_fertility" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      graft.ext.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .join(docs.select(col("doc_id").as("doc"), col("lang")), "doc")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("n_words"),
          sum(col("bpe_tokens")).cast("long").as("bpe_tokens"))
        .withColumn("fertility",
          r6(col("bpe_tokens").cast("double") / col("n_words")))
        
    },
      // the generated BPE replay composed with the per-lang fertility
      // aggregate (same floor-round division as the engine)
      (graft.ext.Bpe.oracleCountsCte(8) +
      """
        |SELECT documents.lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(bpe.n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(bpe.n_tokens) AS BIGINT) AS bpe_tokens,
        |  floor(CAST(SUM(bpe.n_tokens) AS DOUBLE) / SUM(bpe.n_words)
        |    * 1000000.0 + 0.5) / 1000000.0 AS fertility
        |FROM bpe JOIN documents ON bpe.doc = documents.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin))),

    // PII redaction — scrub emails / US phones / IPv4s / SSNs /
    // Luhn-valid credit cards to typed placeholders with per-doc counts.
    // Patterns live in the Java-regex ∩ RE2 common subset so both
    // engines match identical spans; DETERMINISTIC PLANTED PII computed
    // inside the query (the word-soup corpus has none naturally)
    // guarantees non-empty counts for every pattern, including a
    // mixed-type row and a Luhn-INVALID card-shaped span that must
    // survive unredacted. Row-local map — the oracle recomputes counts,
    // the Luhn filter, and the md5 of the redacted text.
    "text_pii_redact" -> (((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 10 === 0,
            lit(" reach alice.smith@example.org now"))
          .when(col("doc_id") % 10 === 1,
            lit(" call 555-867-5309 or 555-123-4567"))
          .when(col("doc_id") % 10 === 2,
            lit(" from 10.0.0.1 and 192.168.1.255"))
          .when(col("doc_id") % 10 === 3,
            lit(" ping bob@test.io 555-000-1111 127.0.0.1"))
          .when(col("doc_id") % 10 === 4,
            lit(" ssn 078-05-1120 card 4111-1111-1111-1111"))
          .when(col("doc_id") % 10 === 5,
            lit(" pay 5500005555555559 not 1234-5678-9012-3456"))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.piiRedact(planted, "doc_id", "text")
        .select(col("doc"), col("n_emails"), col("n_phones"), col("n_ips"),
          col("n_ssns"), col("n_ccs"),
          md5(col("redacted")).as("redacted_md5"))
    },
      // same plant, same RE2-compatible patterns, same
      // email->phone->ip->ssn->card replacement order; counts on the
      // original text; the identical Luhn integer arithmetic runs in
      // DuckDB lambdas (valid cards redact via a literal-replace fold,
      // invalid card-shaped spans stay)
      """WITH p AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 10 = 0 THEN ' reach alice.smith@example.org now'
        |         WHEN doc_id % 10 = 1 THEN ' call 555-867-5309 or 555-123-4567'
        |         WHEN doc_id % 10 = 2 THEN ' from 10.0.0.1 and 192.168.1.255'
        |         WHEN doc_id % 10 = 3 THEN ' ping bob@test.io 555-000-1111 127.0.0.1'
        |         WHEN doc_id % 10 = 4 THEN ' ssn 078-05-1120 card 4111-1111-1111-1111'
        |         WHEN doc_id % 10 = 5 THEN ' pay 5500005555555559 not 1234-5678-9012-3456'
        |         ELSE '' END AS text
        |  FROM documents),
        |v AS (SELECT doc_id, text,
        |  list_filter(regexp_extract_all(text,
        |      '\b(?:\d{4}[- ]){3}\d{4}\b|\b\d{16}\b'), x ->
        |    list_sum(list_transform(
        |      range(1, length(regexp_replace(x, '[- ]', '', 'g')) + 1), i ->
        |      CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN 2*CAST(substr(reverse(regexp_replace(x, '[- ]', '', 'g')), i, 1) AS INT) > 9
        |             THEN 2*CAST(substr(reverse(regexp_replace(x, '[- ]', '', 'g')), i, 1) AS INT) - 9
        |             ELSE 2*CAST(substr(reverse(regexp_replace(x, '[- ]', '', 'g')), i, 1) AS INT) END
        |      ELSE CAST(substr(reverse(regexp_replace(x, '[- ]', '', 'g')), i, 1) AS INT) END))
        |    % 10 = 0) AS valid_ccs
        |  FROM p)
        |SELECT doc_id AS doc,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssns,
        |  CAST(len(valid_ccs) AS BIGINT) AS n_ccs,
        |  md5(list_reduce(list_prepend(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    valid_ccs), (acc, x) -> replace(acc, x, '<CC>')))
        |    AS redacted_md5
        |FROM v ORDER BY doc""".stripMargin)),

    // corpus-unigram-LM negative log-likelihood — the CCNet-style
    // perplexity-bucketing quality proxy: per-doc mean -ln p(token)
    // under the corpus's own unigram model. Rounded-then-decimal-summed
    // contributions make the result engine/partitioning-invariant; term
    // frequencies derive from the tf frame (single corpus pass), the
    // corpus total broadcasts, tf joins freq on term under AQE skew
    // handling.
    "text_unigram_nll" -> (((s, dir) => {
      TextAnalysis.unigramNll(t(s, dir, "documents"),
        "doc_id", "text")
    },
      // identical rounded-contribution decimal sum + one final IEEE
      // division; ln ulp differences die in the 6 dp round
      s"""$NllContribCtes
        |SELECT doc_id AS doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
        |    AS nll
        |FROM c GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // portable count-min-sketch heavy hitters: the corpus term counts
    // compress into a 4×1024-cell sketch (≤ d·w rows whatever the vocab,
    // mergeable cell-wise across shards), every distinct term is
    // point-estimated back (min over rows), and the top 20 by estimate
    // surface with their exact counts riding along — est >= exact always,
    // collisions overestimate deterministically. md5-derived bucket
    // hashes make the sketch engine-neutral, so the DuckDB oracle
    // rebuilds the identical cells and every estimate hash-matches.
    "text_cms_topk" -> (((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val sketch = Sketches.cmsBuild(tf, "term", "cnt", d = 4, w = 1024)
      val top = Sketches.cmsEstimate(tf.select(col("term")), "term",
          sketch, d = 4, w = 1024)
        .join(tf, "term")
        .orderBy(col("est").desc, col("term")).limit(20)
      top.withColumn("rank", row_number()
          .over(Window.orderBy(col("est").desc, col("term"))).cast("long"))
        .select(col("rank"), col("term"), col("est"), col("cnt").as("exact"))
        
    },
      // identical md5 bucket hashes ('cms<row>:<term>' 60-bit prefix % w),
      // identical cell sums, min-over-rows estimates, and (est desc, term)
      // top-20 tie order
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |$CmsTopkCtes""".stripMargin)),

    // CCNet head/middle/tail selection: per-language exact tercile
    // cutoffs over the unigram-LM score, row-local threshold bucketing —
    // no per-language total order (see TextAnalysis.nllBuckets scale
    // note). The oracle recomputes cutoffs with quantile_cont, which
    // ts_percentiles already pinned bit-identical to Spark's percentile.
    "text_nll_buckets" -> (((s, dir) => {
      TextAnalysis.nllBuckets(t(s, dir, "documents"),
        "doc_id", "text", "lang")
    },
      // same nll computation, then per-language quantile_cont tercile
      // cutoffs (interpolation-identical to Spark's percentile) and the
      // same <=-threshold CASE bucketing
      (NllOracleCtes + """,
        |b AS (SELECT lang,
        |    CAST(sv[CAST((1*(n-1))//3 + 1 AS BIGINT)] AS DECIMAL(38,6)) AS q1lo,
        |    CAST(sv[CAST(LEAST((1*(n-1))//3 + 2, n) AS BIGINT)]
        |      AS DECIMAL(38,6)) AS q1hi,
        |    (1*(n-1)) % 3 AS r1,
        |    CAST(sv[CAST((2*(n-1))//3 + 1 AS BIGINT)] AS DECIMAL(38,6)) AS q2lo,
        |    CAST(sv[CAST(LEAST((2*(n-1))//3 + 2, n) AS BIGINT)]
        |      AS DECIMAL(38,6)) AS q2hi,
        |    (2*(n-1)) % 3 AS r2
        |  FROM q)
        |SELECT doc, lang, n_tokens, nll,
        |  CAST(CASE
        |    WHEN 3*CAST(nll AS DECIMAL(38,6)) <= (3-r1)*q1lo + r1*q1hi THEN 1
        |    WHEN 3*CAST(nll AS DECIMAL(38,6)) <= (3-r2)*q2lo + r2*q2hi THEN 2
        |    ELSE 3 END AS BIGINT) AS bucket
        |FROM sl JOIN b USING (lang) ORDER BY doc""".stripMargin))),

    // text quality scoring
    "text_quality" -> (((s, dir) => {
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        
    },
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, text,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_computed,
        |  CAST(len([x for x in toks if list_contains(['the','a','of','and','to','in','is','it','for','on','with','as','at','by','an','be','this','that'], x)]) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha
        |  FROM d)
        |SELECT doc_id, n_tokens, n_distinct_tokens, n_chars_computed,
        |  round(CAST(n_chars_computed AS DOUBLE) / n_tokens, 6) AS mean_token_span,
        |  round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
        |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
        |  round(CAST(n_alpha AS DOUBLE) / n_chars_computed, 6) AS alpha_ratio
        |FROM m ORDER BY doc_id""".stripMargin)),

    // per-document token-distribution Shannon entropy (nats): the
    // information-density signal for template/boilerplate detection;
    // sorted-order fold keeps the float sum engine-identical.
    "text_entropy" -> (((s, dir) => {
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        
    },
      // identical sorted-token fold: list(c ORDER BY tok) + sequential
      // list_sum, -0.0 normalized by + 0.0, 6-dp round
      """WITH tf AS (SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |        list(c ORDER BY tok) AS l
        |      FROM tf GROUP BY 1)
        |SELECT doc_id, n AS n_tokens,
        |  round(-list_sum([(x / CAST(n AS DOUBLE)) * ln(x / CAST(n AS DOUBLE))
        |    for x in l]) + 0.0, 6) AS token_entropy
        |FROM a ORDER BY doc_id""".stripMargin)),

    // Gopher-style format/symbol quality rules (Rae et al. 2021 §A1.1):
    // mean word length, symbol-to-word ratio, bullet/ellipsis line
    // fractions, alpha-word fraction, and the published-threshold
    // conjunction flag — all row-local codegen'd expressions.
    "text_gopher_rules" -> (((s, dir) => {
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        
    },
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |  string_split(text, chr(10)) AS lines FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |  CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ell,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len([l for l in lines if substr(ltrim(l), 1, 1) IN ('-', '*')]) AS BIGINT) AS n_bullet,
        |  CAST(len([l for l in lines if rtrim(l) LIKE '%...']) AS BIGINT) AS n_ellline,
        |  CAST(len([x for x in toks if length(regexp_replace(x, '[^a-zA-Z]', '', 'g')) > 0]) AS BIGINT) AS n_alphaword,
        |  CAST(list_sum([length(x) for x in toks]) AS BIGINT) AS sum_word_len
        |  FROM d),
        |r AS (SELECT doc_id, n_tokens,
        |  round(CAST(sum_word_len AS DOUBLE) / n_tokens, 6) AS mean_word_len,
        |  round(CAST(n_hash + n_ell AS DOUBLE) / n_tokens, 6) AS symbol_word_ratio,
        |  round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_line_frac,
        |  round(CAST(n_ellline AS DOUBLE) / n_lines, 6) AS ellipsis_line_frac,
        |  round(CAST(n_alphaword AS DOUBLE) / n_tokens, 6) AS alpha_word_frac
        |  FROM m)
        |SELECT doc_id, n_tokens, mean_word_len, symbol_word_ratio,
        |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
        |  (n_tokens BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        |   AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8) AS gopher_pass
        |FROM r ORDER BY doc_id""".stripMargin)),

    // C4 rule bundle (Raffel et al. 2020 §2.2) — the line-then-page
    // heuristic filter the C4 corpus shipped with: terminal-punctuation
    // / ≥3-word / no-"javascript" line keeps, then lorem-ipsum, curly
    // brace, blocklist and ≥5-sentence page gates. kept_md5 pins the
    // reassembled kept TEXT, not just counts. The fixture corpus is
    // punctuation-free word salad, so the query derives a STRUCTURED
    // twin first (same deterministic enrichment in the oracle — the
    // text_token_cjk planting discipline): sentence breaks at ' line ',
    // a terminal period, and planted lorem-ipsum / brace / javascript
    // strata so every rule fires on a known doc subset. Pure row-local
    // string work — the 100 TB form is a map over the scan.
    "text_c4_rules" -> (((s, dir) => {
      val structured = t(s, dir, "documents")
        .select(col("doc_id"), c4StructuredText.as("text"))
      TextAnalysis.c4Rules(structured, "doc_id", "text")
    },
      // C4 line/page rules: DuckDB list comprehension mirrors the Spark
      // filter() lambda clause for clause; kept text reassembled with the
      // same separator before the md5 pin
      C4RulesOracle)),

    "text_nll_cuts_approx" -> (((s, dir) => {
      TextAnalysis.nllCutsApprox(t(s, dir, "documents"),
        "doc_id", "text", "lang")
    },
      // the serving twin pins the exact tercile order statistics plus
      // TRUE for both sketch bounds — a percentile_approx answer outside
      // its guaranteed rank window is a hash mismatch
      (NllOracleCtes + """
        |SELECT lang,
        |  sv[CAST((1*(n-1))//3 + 1 AS BIGINT)] AS q1_exact_lo,
        |  sv[CAST(LEAST((1*(n-1))//3 + 2, n) AS BIGINT)] AS q1_exact_hi,
        |  (1*(n-1)) % 3 AS r1, TRUE AS q1_within,
        |  sv[CAST((2*(n-1))//3 + 1 AS BIGINT)] AS q2_exact_lo,
        |  sv[CAST(LEAST((2*(n-1))//3 + 2, n) AS BIGINT)] AS q2_exact_hi,
        |  (2*(n-1)) % 3 AS r2, TRUE AS q2_within
        |FROM q ORDER BY lang""".stripMargin))),

    // TRAINED language ID (r11 verdict task 5): multinomial NB over
    // hashed char trigrams, trained in-engine from the corpus labels —
    // counting-only training, so the oracle replays model AND argmax
    // bit-for-bit (DSIR log discipline). Beats the stopword heuristic
    // 51% vs 32% on this corpus and never answers "und". Train-once /
    // consume-twice: the scored frame is cached per (session, sf dir) —
    // the confusion audit reads the same predictions a pipeline would.
    "text_langid_trained" -> (((s, dir) => {
      langIdTrainedFor(s, dir)
    },
      // NB training replay: (lang, bucket) counts -> add-1 smoothed
      // 6-dp-rounded log-likelihoods -> exact-decimal per-(doc, lang)
      // sums -> struct-max argmax (ties to the larger lang code)
      (LangIdTrainedCtes + """
      |SELECT d.doc_id AS doc, d.lang,
      |  COALESCE(p.b.lang, lfb.f.lang) AS pred_lang,
      |  COALESCE(round(p.b.score, 6), round(lfb.f.pri, 6)) AS score
      |FROM documents d LEFT JOIN pred p USING (doc_id), lfb
      |ORDER BY doc""".stripMargin))),

    // the trained model's confusion matrix — directly comparable to
    // text_lang_confusion (the heuristic's); the audit a pipeline reads
    // before trusting a language gate
    "text_langid_trained_confusion" -> (((s, dir) => {
      langIdTrainedFor(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        
    },
      (LangIdTrainedCtes + """
      |SELECT d.lang, COALESCE(p.b.lang, lfb.f.lang) AS pred_lang,
      |  COUNT(*)::BIGINT AS n_docs
      |FROM documents d LEFT JOIN pred p USING (doc_id), lfb
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),

    // language ID heuristic
    "text_langid" -> (((s, dir) => {
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"), col("hits_en"), col("hits_de"),
          col("hits_es"), col("hits_fr"))
        
    },
      LangIdOracle)),

    // token counting under whitespace + BPE-ish regex tokenizers
    "text_token_counts" -> (((s, dir) => {
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        
    },
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len([x for x in string_split_regex(lower(text), '[^a-z0-9'']+') if x <> '']) AS BIGINT) AS n_re_tokens,
        |  CAST(len(list_distinct([x for x in string_split_regex(lower(text), '[^a-z0-9'']+') if x <> ''])) AS BIGINT) AS n_re_distinct
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL learned-BPE token counts (r9 VERDICT task 5): 8 merge rounds
    // trained from this corpus' word dict (Sennrich ACL'16), applied as
    // a row-local codegen'd replace chain — the whitespace/regex
    // counters above approximate what this measures. Merges train ONCE
    // per (session, sf dir); the oracle is GENERATED (Bpe.oracleSql) so
    // engine and oracle replay the identical rounds, argmax tie-breaks,
    // and 6-pass replace semantics.
    "text_bpe_tokens" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      graft.ext.Bpe.tokenCounts(docs, "doc_id", "text", merges)
    },
      // generated replay of the full BPE lifecycle: 8 training rounds over
      // the word dict + the same 6-pass replace application
      graft.ext.Bpe.oracleSql(8))),

    // UNIGRAM-LM (SentencePiece-style) learned tokenizer (Kudo ACL'18;
    // r13 verdict task 6) — the OTHER tokenizer real LLM pipelines
    // train: a fixed seed vocabulary (all chars + top substrings)
    // scored by Viterbi-EM over the word TYPE frame, integer micro-nat
    // costs on the 6-dp probability grid, 2 fixed EM rounds. The
    // oracle is GENERATED (Unigram.oracleSql) so engine and oracle
    // replay identical seeding, DP tie-breaks (min over the
    // cost‖path-encoded string) and round counts. Type-level apply:
    // Viterbi once per dictionary word, occurrences join back.
    "text_unigram_tokens" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Unigram.tokenCountsFromDict(docs, "doc_id", "text",
        unigramDictFor(s, dir))
    },
      // generated unigram-LM training replay (seed -> 2 Viterbi-EM rounds
      // -> final segmentation), identical arithmetic and tie-breaks
      graft.ext.Unigram.oracleSql(64))),

    // tokenizer bake-off — the fertility/compression comparison a
    // tokenizer choice is actually made on: per language, tokens/word
    // for the trained BPE vs the trained unigram LM over the SAME
    // corpus. Both training replays compose into one generated oracle.
    "text_tokenizer_compare" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      val bpe = graft.ext.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .select(col("doc"), col("n_words"), col("bpe_tokens"))
      val uni = graft.ext.Unigram.tokenCountsFromDict(docs, "doc_id", "text",
          unigramDictFor(s, dir))
        .select(col("doc"), col("uni_tokens"))
      bpe.join(uni, "doc")
        .join(docs.select(col("doc_id").as("doc"), col("lang")), "doc")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("n_words"),
          sum(col("bpe_tokens")).cast("long").as("bpe_tokens"),
          sum(col("uni_tokens")).cast("long").as("uni_tokens"))
        .withColumn("bpe_fertility",
          r6(col("bpe_tokens").cast("double") / col("n_words")))
        .withColumn("uni_fertility",
          r6(col("uni_tokens").cast("double") / col("n_words")))
        
    },
      // both generated training replays composed, per-lang fertility
      (graft.ext.Bpe.oracleCountsCte(8) + ",\n" +
      graft.ext.Unigram.oracleCteBody(64) +
      """
        |SELECT documents.lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(bpe.n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(bpe.n_tokens) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(uni.n_tokens) AS BIGINT) AS uni_tokens,
        |  floor(CAST(SUM(bpe.n_tokens) AS DOUBLE) / SUM(bpe.n_words)
        |    * 1000000.0 + 0.5) / 1000000.0 AS bpe_fertility,
        |  floor(CAST(SUM(uni.n_tokens) AS DOUBLE) / SUM(bpe.n_words)
        |    * 1000000.0 + 0.5) / 1000000.0 AS uni_fertility
        |FROM bpe JOIN uni ON bpe.doc = uni.doc
        |JOIN documents ON bpe.doc = documents.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin))),

    // the production-merge-count apply path (r10 VERDICT task 2): the
    // replace chain runs once per word TYPE in bounded-depth batches,
    // occurrence counts join back by word — same merges, same oracle,
    // same hashes as text_bpe_tokens, different physical plan
    "text_bpe_tokens_typed" -> (((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      graft.ext.Bpe.tokenCountsTyped(docs, "doc_id", "text", merges)
    },
      // the type-level apply path must be the SAME function — identical
      // generated oracle, so the dict-once + join-back plan is pinned to
      // the row-local semantics by DuckDB, not just by the unit spec
      graft.ext.Bpe.oracleSql(8))),

    // corpus token frequencies (top 50)
    "text_token_stats" -> (((s, dir) => {
      TextAnalysis.tokenStats(t(s, dir, "documents"), "text", 50)
    },
      """SELECT token, COUNT(*) AS c
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY c DESC, token LIMIT 50""".stripMargin)),

    // CJK tokenization honesty (r10 VERDICT task 3): a planted CJK
    // stratum (every 20th doc deterministically transliterated to Han
    // characters with whitespace removed — built identically in the
    // oracle, so both engines see the same no-whitespace text) is ONE
    // whitespace token per doc; the character-class fallback
    // segmentation recovers per-character tokens, while Latin docs'
    // counts are provably unchanged (ws_tokens = seg_tokens there).
    "text_token_cjk" -> (((s, dir) => {
      import org.apache.spark.sql.functions.{replace => sreplace}
      val cjk26 = (0x4E00 until 0x4E1A).map(_.toChar).mkString
      val planted = pmod(col("doc_id"), lit(20L)) === 0L
      val txt = when(planted, sreplace(
          translate(lower(substring(col("text"), 1, 120)),
            "abcdefghijklmnopqrstuvwxyz", cjk26),
          lit(" "), lit("")))
        .otherwise(col("text"))
      def nTok(c: Column) =
        size(regexp_extract_all(c, lit("\\S+"), lit(0))).cast("long")
      t(s, dir, "documents").select(col("doc_id").as("doc"),
        planted.cast("long").as("is_cjk"),
        nTok(txt).as("ws_tokens"),
        nTok(TextAnalysis.segmentCjk(txt)).as("seg_tokens"))
    },
      // same planted transliteration + the same literal character-class
      // ranges (TextAnalysis.CjkClass interpolated verbatim — Java regex
      // and RE2 agree on literal char ranges); RE2 replacement uses \1
      // and needs the 'g' flag for global
      {
      val cjk26 = (0x4E00 until 0x4E1A).map(_.toChar).mkString
      val cls = graft.ext.TextAnalysis.CjkClass
      s"""SELECT doc_id AS doc,
        |  CAST(doc_id % 20 = 0 AS BIGINT) AS is_cjk,
        |  CAST(len(regexp_extract_all(txt, '\\S+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(txt, '($cls)', ' \\1 ', 'g'), '\\S+')) AS BIGINT)
        |    AS seg_tokens
        |FROM (SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN
        |    replace(translate(lower(substr(text, 1, 120)),
        |      'abcdefghijklmnopqrstuvwxyz', '$cjk26'), ' ', '')
        |  ELSE text END AS txt FROM documents)
        |ORDER BY doc""".stripMargin
    })),

    // rolling-hash document fingerprint
    "text_fingerprint" -> (((s, dir) => {
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        
    },
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(length(t) AS BIGINT) * 1315423911 + ascii(t[1]) * 2654435761 + ascii(t[-1]) * 97
        |       for t in string_split(text, ' ')]),
        |    (acc, x) -> (acc * 31 + x) % 1000000000000037) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gopher-style 2-gram repetition filters (top-gram share, duplicate
    // share) — the pre-training curation signal, exact-count arithmetic
    // FOREIGN-LM quality scoring (the real CCNet shape): every doc
    // scored against a bigram LM counted from the TRUSTED subset
    // (lang='en'), stupid backoff on unseen bigrams — OOV is a live
    // path, unlike the self-scored text_bigram_nll; oov_frac is the
    // companion filter signal
    "text_lm_score" -> (((s, dir) => {
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("nll"),
          col("oov_frac"))
    },
      // identical LM counts from the en subset, identical backoff formula
      // and 6-dp contribution discipline
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, lang,
        |    unnest([{'prev': w[i], 'big': w[i] || ' ' || w[i+1], 'cur': w[i+1]}
        |            for i in generate_series(1, len(w) - 1)]) AS x
        |  FROM toks),
        |tf AS (SELECT doc_id, x.prev AS prev, x.big AS big, x.cur AS cur,
        |         COUNT(*) AS tf
        |       FROM g GROUP BY 1, 2, 3, 4),
        |c2 AS (SELECT x.big AS big, COUNT(*) AS c2 FROM g
        |       WHERE lang = 'en' GROUP BY 1),
        |c1 AS (SELECT x.prev AS prev, COUNT(*) AS c1 FROM g
        |       WHERE lang = 'en' GROUP BY 1),
        |u AS (SELECT cur, COUNT(*) AS u FROM
        |        (SELECT unnest(w) AS cur FROM toks WHERE lang = 'en')
        |      GROUP BY 1),
        |n AS (SELECT SUM(u) AS n_lm FROM u),
        |cost AS (SELECT t.big,
        |    CASE WHEN c2.c2 IS NOT NULL THEN ln(c1.c1::DOUBLE / c2.c2)
        |         ELSE ln((n.n_lm + 1)::DOUBLE / (0.4 * (COALESCE(u.u, 0) + 1)))
        |    END AS cost,
        |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM (SELECT DISTINCT prev, big, cur FROM tf) t
        |  LEFT JOIN c2 USING (big) LEFT JOIN c1 USING (prev)
        |  LEFT JOIN u USING (cur) CROSS JOIN n)
        |SELECT tf.doc_id AS doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(CAST(round(tf.tf * cost.cost, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) / SUM(tf.tf), 6) AS nll,
        |  round(CAST(SUM(tf.tf * cost.oov) AS DOUBLE) / SUM(tf.tf), 6) AS oov_frac
        |FROM tf JOIN cost USING (big)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // langid CONFUSION audit (labeled lang × predicted lang): the
    // classifier-drift telemetry a curation pipeline tracks per batch —
    // one join + one tiny aggregate over the already-row-local langid
    "text_lang_confusion" -> (((s, dir) => {
      val pred = TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"))
      t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        
    },
      // confusion over the SAME stopword-hit langid the text_langid oracle
      // declares
      s"""WITH pred AS ($LangIdOracle)
         |SELECT d.lang, p.pred_lang, COUNT(*) AS n_docs
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // bigram conditional NLL (second-order LM quality score): word-salad
    // scores high even when its unigrams are common — the failure mode
    // text_unigram_nll cannot see; same skew-split token-mass join
    "text_bigram_nll" -> (((s, dir) => {
      TextAnalysis.bigramNll(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("nll"))
    },
      // identical bigram stream, count frames, 6-dp contribution rounds,
      // exact-decimal sum, one final division
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id,
        |    unnest([{'prev': w[i], 'big': w[i] || ' ' || w[i+1]}
        |            for i in generate_series(1, len(w) - 1)]) AS u
        |  FROM toks),
        |tf AS (SELECT doc_id, u.prev AS prev, u.big AS big, COUNT(*) AS tf
        |       FROM p GROUP BY 1, 2, 3),
        |c2 AS (SELECT big, SUM(tf) AS c2 FROM tf GROUP BY 1),
        |c1 AS (SELECT prev, SUM(tf) AS c1 FROM tf GROUP BY 1)
        |SELECT tf.doc_id AS doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(CAST(round(tf.tf * ln(c1.c1::DOUBLE / c2.c2), 6)
        |    AS DECIMAL(38,6))) AS DOUBLE) / SUM(tf.tf), 6) AS nll
        |FROM tf JOIN c2 USING (big) JOIN c1 USING (prev)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // interpolated Kneser–Ney TRIGRAM NLL — the third-order LM score
    // with proper continuation-count smoothing (the n-gram LM quality
    // filters like CCNet actually use KN models): word salad built from
    // plausible bigrams scores high here and not under text_bigram_nll.
    // All statistics live on the distinct-trigram TYPE frame; the one
    // token-mass join is skew-split (broadcast head). The oracle replays
    // the identical type counts and operation-ordered float formula.
    "text_kn3_nll" -> (((s, dir) => {
      TextAnalysis.kn3Nll(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_trigrams"), col("kn_nll"))
    },
      // interpolated Kneser–Ney trigram replay: identical type-count CTEs
      // (history / continuation / middle statistics all from the distinct
      // trigram frame) and the SAME operation-ordered float expression —
      // every count is exact integer, P is one fixed arithmetic tree, the
      // per-type cost rounds to 6 dp before the exact-decimal per-doc sum
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tf AS MATERIALIZED (SELECT doc_id AS doc, tri, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w) - 2, 0))]) AS tri
        |    FROM tk)
        |  GROUP BY 1, 2),
        |ty AS MATERIALIZED (SELECT tri, c3,
        |    string_split(tri, ' ')[1] || ' ' || string_split(tri, ' ')[2] AS hist,
        |    string_split(tri, ' ')[2] || ' ' || string_split(tri, ' ')[3] AS low,
        |    string_split(tri, ' ')[2] AS mid,
        |    string_split(tri, ' ')[3] AS cur
        |  FROM (SELECT tri, SUM(tf) AS c3 FROM tf GROUP BY 1)),
        |hs AS (SELECT hist, SUM(c3) AS ch, COUNT(*) AS n1h FROM ty GROUP BY 1),
        |ls AS MATERIALIZED (SELECT low, COUNT(*) AS n1low,
        |    string_split(low, ' ')[1] AS lmid, string_split(low, ' ')[2] AS lcur
        |  FROM ty GROUP BY 1),
        |ms AS (SELECT lmid AS mid, SUM(n1low) AS nmid, COUNT(*) AS n1mid
        |  FROM ls GROUP BY 1),
        |cs AS (SELECT lcur AS cur, COUNT(*) AS n1cur FROM ls GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM ls),
        |sc AS MATERIALIZED (SELECT t.tri,
        |    round(-ln(
        |      greatest(CAST(t.c3 AS DOUBLE) - $KnDiscount, 0.0) / CAST(hs.ch AS DOUBLE)
        |      + $KnDiscount * CAST(hs.n1h AS DOUBLE) / CAST(hs.ch AS DOUBLE)
        |        * (greatest(CAST(ls.n1low AS DOUBLE) - $KnDiscount, 0.0)
        |             / CAST(ms.nmid AS DOUBLE)
        |           + $KnDiscount * CAST(ms.n1mid AS DOUBLE) / CAST(ms.nmid AS DOUBLE)
        |             * (CAST(cs.n1cur AS DOUBLE) / CAST(nt.ntypes AS DOUBLE)))),
        |      6) AS cost
        |  FROM ty t JOIN hs ON t.hist = hs.hist JOIN ls ON t.low = ls.low
        |    JOIN ms ON t.mid = ms.mid JOIN cs ON t.cur = cs.cur, nt)
        |SELECT tf.doc AS doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_trigrams,
        |  round(CAST(SUM(CAST(round(CAST(tf.tf AS DOUBLE) * sc.cost, 6)
        |    AS DECIMAL(38,6))) AS DOUBLE) / CAST(SUM(tf.tf) AS DOUBLE), 6)
        |    AS kn_nll
        |FROM tf JOIN sc ON tf.tri = sc.tri
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // corpus bigram top-40 (collocation / boilerplate-phrase mining):
    // row-local gram construction (slice+transform, zero pre-agg
    // shuffle) → map-side-combinable count → top-N; ties → bigram asc
    "text_bigram_topk" -> (((s, dir) => {
      TextAnalysis.bigramTopK(t(s, dir, "documents"), "text", 40)
    },
      // identical tokenization (single-space split) and gram join
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT unnest([w[i] || ' ' || w[i+1]
        |                     for i in generate_series(1, len(w) - 1)]) AS bigram
        |      FROM toks)
        |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c
        |FROM g GROUP BY 1 ORDER BY c DESC, bigram LIMIT 40""".stripMargin)),

    "text_repetition" -> (((s, dir) => {
      TextAnalysis.repetitionStats(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_2grams"),
          col("top_2gram_frac"), col("dup_2gram_frac"))
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        unnest([w[i] || ' ' || w[i+1]
        |                for i in generate_series(1, len(w) - 1)]) AS gram
        |      FROM toks),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
        |          MAX(c) AS mx, COUNT(*) AS dist
        |        FROM c GROUP BY 1)
        |SELECT doc_id, n_2grams,
        |  round(mx::DOUBLE / n_2grams, 6) AS top_2gram_frac,
        |  round((n_2grams - dist)::DOUBLE / n_2grams, 6) AS dup_2gram_frac
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // per-document top-3 TF-IDF terms (corpus-statistics keyword
    // extraction); ranking is over the ROUNDED score so cross-engine
    // last-bit ln() differences cannot reorder ranks
    "text_tfidf" -> (((s, dir) => {
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"),
          "doc_id", "text", topN = 3)
        .select(col("doc").as("doc_id"), col("rank"), col("term"),
          col("tfidf"))
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS tfidf
        |  FROM tf CROSS JOIN n JOIN dfreq ON tf.term = dfreq.term),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, rank, term, tfidf FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Unicode NFC normalization audit (UAX #15) — the canonical-form
    // pass run before tokenization and dedup so decomposed e+U+0301 and
    // precomposed U+00E9 hash identically. The corpus is ASCII (already
    // NFC), so a deterministic non-NFC prefix is planted by doc_id % 3:
    // a combining-acute sequence (NFC contracts it to one char), U+212B
    // ANGSTROM SIGN (NFC maps it to U+00C5), and U+FB01 fi-ligature
    // (NFC-stable — the negative control; only NFKC folds it).
    // Normalization is the codegen'd native NormalizeUnicode
    // expression; the audit is one row-local projection, no shuffle.
    "text_normalize" -> (((s, dir) => {
      val pre = when(col("doc_id") % 3 === 0, lit("e\u0301"))
        .when(col("doc_id") % 3 === 1, lit("\u212B"))
        .otherwise(lit("\uFB01"))
      val raw = t(s, dir, "documents")
        .select(col("doc_id"), concat(pre, lit(" "), col("text")).as("text"))
      TextAnalysis.nfcAudit(raw, "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_raw"), col("n_nfc"),
          col("changed"), col("h"))
    },
      // same planted prefixes built from codepoints (chr), normalized with
      // DuckDB's ICU nfc_normalize — pins the JDK Normalizer NFC output,
      // the char counts, and the md5 of the normalized bytes
      """WITH raw AS (SELECT doc_id,
        |    (CASE CAST(doc_id % 3 AS INTEGER)
        |       WHEN 0 THEN 'e' || chr(769)
        |       WHEN 1 THEN chr(8491)
        |       ELSE chr(64257) END || ' ' || text) AS r
        |  FROM documents),
        |n AS (SELECT doc_id, r, nfc_normalize(r) AS nf FROM raw)
        |SELECT doc_id, length(r) AS n_raw, length(nf) AS n_nfc,
        |  (r <> nf) AS changed, md5(nf) AS h
        |FROM n ORDER BY doc_id""".stripMargin)),

    // BM25 ranked retrieval for a fixed query set — the retrieval
    // sibling of text_tfidf (Lucene idf form, k1=1.2, b=0.75): corpus
    // pays one row-local tokenize + one explode filtered to the query
    // terms; contributions rounded-then-decimal-summed so ranks are
    // partition- and engine-invariant
    "text_bm25" -> (((s, dir) => {
      TextAnalysis.bm25TopK(t(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, k1 = 1.2, b = 0.75, topK = 10)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("score"))
    },
      // GENERATED from Bm25Queries so engine and oracle score identical
      // terms; arithmetic mirrors TextAnalysis.bm25TopK token-for-token
      // (same literals, same association) so both engines evaluate the
      // same IEEE expression tree before the round-then-decimal-sum
      {
      val vals = Bm25Queries.flatMap { case (qid, ts) =>
        ts.map(t => s"($qid, '$t')") }.mkString(", ")
      val inList = Bm25Queries.flatMap(_._2).distinct
        .map(t => s"'$t'").mkString(", ")
      s"""WITH q AS (SELECT * FROM (VALUES $vals) AS v(query_id, term)),
        |base AS (SELECT doc_id AS doc, regexp_extract_all(text, '\\S+') AS t
        |         FROM documents),
        |stats AS (SELECT count(*) AS n, sum(len(t)) AS sumdl FROM base),
        |toks AS (SELECT doc, len(t) AS dl, unnest(t) AS term FROM base),
        |tfc AS (SELECT doc, term, dl, count(*) AS tf FROM toks
        |        WHERE term IN ($inList) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |contrib AS (SELECT q.query_id, tfc.doc,
        |    round(ln((n - df + 0.5) / (df + 0.5) + 1.0)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl)
        |          / (CAST(sumdl AS DOUBLE) / n))), 6) AS c
        |  FROM tfc JOIN dfreq USING (term) JOIN q USING (term)
        |  CROSS JOIN stats),
        |score AS (SELECT query_id, doc AS doc_id,
        |    CAST(sum(CAST(c AS DECIMAL(38,6))) AS DOUBLE) AS score
        |  FROM contrib GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM score)
        |SELECT query_id, rank, doc_id, score FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    })))
}
