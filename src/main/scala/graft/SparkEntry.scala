package graft

import graft.core.Observations
import graft.ext.{Graph, Pin, QualityModel}
import graft.model.Parameters
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: every operator from SURVEY.md §2 exposed as a named
  * query over the driver's parquet tables, each paired with equivalent
  * ANSI SQL for the DuckDB oracle.
  *
  * A query and its oracle are one registry entry, `name -> (body,
  * oracleSql)`, in the family object its name prefix selects:
  * [[TsQueries]], [[DocQueries]], [[TextQueries]], [[EmbQueries]],
  * [[StreamQueries]] and [[RelQueries]]. This object derives `queries`
  * and `oracleSql` from them and holds what two or more families share:
  * the table readers, the [[Artifact]] fixtures and the oracle SQL
  * fragments.
  *
  * Determinism rules (SURVEY.md §7.4 item 5) used throughout so results
  * hash-match across engines, partitionings, and row orders:
  *  - a query returns a row set in no particular order (the gate sorts
  *    rows before hashing); every rank, pick or first-of inside it is
  *    totally ordered (explicit tie-breaks);
  *  - big-sum aggregates go through exact decimal sums cast back to double
  *    (one IEEE division max afterwards);
  *  - doubles are rounded (6 places — round(x,6) has no representable
  *    halfway cases, so both engines' rounding modes agree);
  *  - timestamps are emitted as formatted strings or floor-epoch seconds,
  *    never raw (the events table is nanosecond parquet: both Spark and
  *    DuckDB truncate to micros, but bucket/format in both engines anyway).
  */
object SparkEntry {
  import Observations.{KeyCol, TsCol, ValueCol}

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events table with its event-time column normalized to session-tz
    * TimestampType whatever the producer wrote: nanos-as-long (parquet
    * NANOS, Spark 4 reads only as raw longs), `timestamp[us]`-no-tz
    * (TIMESTAMP_NTZ), or plain TIMESTAMP. All dtype branching lives in
    * `Observations.normalizeEventTs` so the next upstream drift breaks one
    * function, not every raw-events consumer. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Observations.normalizeEventTs(t(spark, dir, "events"))
  }

  /** events as the tall observations frame: user_id → series_key. */
  private[graft] def obsEvents(spark: SparkSession, dir: String): DataFrame =
    Observations.from(events(spark, dir), "user_id", "ts", "value")

  private[graft] def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Per-PROCESS scratch root for every derived sink/index/checkpoint
    * path. [[Artifact]] only guards within one JVM; two concurrent JVMs
    * (parallel Verify/Bench runs over the same testdata dir) racing on a
    * fixed /tmp path would corrupt a streaming commit or read partial
    * files (ADVICE r9). Unique per process, recursively deleted on clean
    * JVM exit. */
  private[graft] lazy val scratchBase: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit))
    p.toString
  }

  /** The scratch path `graft_<tag>_<sf dir>` under [[scratchBase]],
    * deleted before it is returned: whatever writes there starts from an
    * empty root, so a retry never reads files a failed or earlier attempt
    * left behind. */
  private[graft] def scratch(tag: String, dir: String): String = {
    val p = s"$scratchBase/graft_${tag}_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    p
  }

  /** First-build wall seconds per [[Artifact]], keyed "<artifact>:<sfDir>"
    * (r12 verdict task 6): bench entries for queries that consume a
    * cached artifact (doc_pagerank 0.09 s, doc_pipeline_e2e 0.13 s,
    * text_langid_trained 0.09 s in the quiet r12 run) time a checkpoint
    * READ, not the build — this map carries the cold build cost into
    * `bench_out.json` (`build_walls`) so a training-cost regression can't
    * hide behind the cache. The guard replays them with the same 2× slack
    * as query times. */
  val buildWalls = scala.collection.concurrent.TrieMap.empty[String, Double]

  private def timedBuild[T](artifact: String, dir: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    buildWalls.put(s"$artifact:$dir", (System.nanoTime() - t0) / 1e9)
    r
  }

  /** A fixture built once per (session, sf dir) and shared by every query
    * that needs it — the way a pipeline reuses one table across
    * downstream decisions. The cached value is served only to the session
    * that built it (a localCheckpoint'd frame is bound to its
    * SparkContext, so an entry from an earlier, stopped session would
    * fail at runtime); any other session rebuilds. Each build is timed
    * into [[buildWalls]] under `name`. A build that throws caches
    * nothing, and builds write only under [[scratch]] roots, which start
    * empty — so a retry never sees the failed attempt's files. Roots are
    * cleared, not written to a temp dir and renamed: stats manifests
    * record absolute file paths, which a rename would break. Builds of
    * one artifact are serialized, as they share their scratch roots. */
  private[graft] final class Artifact[T](name: String)(
      build: (SparkSession, String) => T) {
    private val built =
      scala.collection.mutable.HashMap.empty[String, (SparkSession, T)]

    def apply(s: SparkSession, dir: String): T = synchronized {
      built.get(dir).collect { case (sparkSession, v) if sparkSession eq s => v }
        .getOrElse {
          val v = timedBuild(name, dir)(build(s, dir))
          built.put(dir, (s, v))
          v
        }
    }
  }

  private[graft] object Artifact {
    def apply[T](name: String)(build: (SparkSession, String) => T): Artifact[T] =
      new Artifact(name)(build)
  }

  /** The unigram word→ntok typed dictionary (pinned): the vocabulary is
    * trained and the DP applied once, and both consumers join against the
    * pin. */
  private[graft] val unigramDictFor = Artifact("unigramDict") { (s, dir) =>
    val docs = t(s, dir, "documents")
    Pin.pin(graft.ext.Unigram.typedDict(docs, "text",
      graft.ext.Unigram.train(docs, "text", k = 64)))
  }

  /** Trained BPE merge list (8 rounds), shared by the text_bpe_* and
    * doc_seq_pack_bpe queries: train once, apply many. */
  private[graft] val bpeMergesFor = Artifact("bpeMerges") { (s, dir) =>
    graft.ext.Bpe.trainMerges(t(s, dir, "documents"), "text", m = 8)
  }

  /** Word-3-gram shingle sets (sh) and their sizes (cnt) over the
    * documents table: the base of the Jaccard and containment oracles
    * of the doc_ and stream_ dedup queries. */
  private[graft] val ShingleCtes: String =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1)""".stripMargin

  /** The per-language token budget the doc_/stream_ budget oracles
    * share: 80% of the corpus tokens water-filled over the languages,
    * smallest cap first (CTEs caps, tot, r, s, a; a language is
    * `saturated` when its whole cap fits). */
  private[graft] val BudgetCapCtes: String =
    """WITH caps AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS cap
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST((sum(cap) * 8000) // 10000 AS BIGINT) AS b FROM caps),
      |r AS (SELECT lang, cap,
      |    CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
      |    CAST(sum(cap) OVER (ORDER BY cap, lang) AS BIGINT) AS p
      |  FROM caps),
      |s AS (SELECT r.*, n, b,
      |    (p - cap) + cap * (n - i + 1) <= b AS saturated
      |  FROM r CROSS JOIN tot),
      |a AS (SELECT CAST(count(*) FILTER (WHERE saturated) AS BIGINT) AS nsat,
      |    CAST(coalesce(sum(cap) FILTER (WHERE saturated), 0) AS BIGINT)
      |      AS psat
      |  FROM s)""".stripMargin

  /** [[BudgetCapCtes]] plus each language's allocation (CTE al). */
  private[graft] val BudgetAllocCtes: String =
    s"""$BudgetCapCtes,
      |al AS (SELECT lang,
      |    CASE WHEN saturated THEN cap
      |         ELSE least(cap, (b - psat) // (n - nsat)
      |           + CASE WHEN i - nsat <= (b - psat) % (n - nsat)
      |                  THEN 1 ELSE 0 END) END AS alloc_tokens
      |  FROM s CROSS JOIN a)""".stripMargin

  /** The oracle of doc_host_blocklist and stream_host_blocklist: each
    * document's synthetic URL host matched, suffix by suffix, against the
    * blocklist; the longest matching pattern is the rule. */
  private[graft] val HostBlocklistOracle: String =
    """WITH u AS (SELECT doc_id,
      |    'https://' || (CASE WHEN doc_id % 7 = 2 THEN 'ads.' || source
      |                        ELSE source END)
      |      || '.example.com/p/' || CAST(doc_id % 50 AS VARCHAR) AS url
      |  FROM documents),
      |h AS (SELECT doc_id AS doc,
      |    lower(regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host
      |  FROM u),
      |sfx AS (SELECT doc, host,
      |    unnest([array_to_string(p[i:], '.')
      |            for i in generate_series(1, len(p))]) AS s
      |  FROM (SELECT doc, host, string_split(host, '.') AS p FROM h)),
      |bl AS (SELECT unnest(['src3.example.com', 'ads.src7.example.com',
      |    'spam.example.net']) AS pattern),
      |j AS (SELECT doc, host, pattern FROM sfx LEFT JOIN bl
      |  ON s = pattern),
      |g AS (SELECT doc, host,
      |    bool_or(pattern IS NOT NULL) AS blocked,
      |    max(CASE WHEN pattern IS NOT NULL
      |        THEN lpad(CAST(length(pattern) AS VARCHAR), 3, '0')
      |          || pattern END) AS enc
      |  FROM j GROUP BY 1, 2)
      |SELECT doc, host, blocked,
      |  CASE WHEN enc IS NULL THEN NULL ELSE substring(enc, 4) END AS rule
      |FROM g ORDER BY doc""".stripMargin

  /** The count-min-sketch top-20 over a `toks` term column (4 rows of
    * 1024 md5 cells; CTEs tf, pos, cells, est, top), with each term's
    * exact count: the tail of the text_/stream_cms_topk oracles. */
  private[graft] val CmsTopkCtes: String =
    """tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      |    FROM toks GROUP BY term),
      |pos AS (SELECT term, r.i AS row,
      |    ('0x' || substring(md5('cms' || CAST(r.i AS VARCHAR) || ':' || term), 1, 15))::BIGINT
      |      % 1024 AS cell
      |  FROM tf CROSS JOIN range(0, 4) r(i)),
      |cells AS (SELECT p.row, p.cell, CAST(SUM(tf.cnt) AS BIGINT) AS cnt
      |  FROM pos p JOIN tf USING (term) GROUP BY p.row, p.cell),
      |est AS (SELECT p.term, MIN(c.cnt) AS est
      |  FROM pos p JOIN cells c ON p.row = c.row AND p.cell = c.cell
      |  GROUP BY p.term),
      |top AS (SELECT term, est, cnt AS exact
      |  FROM est JOIN tf USING (term)
      |  ORDER BY est DESC, term LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY est DESC, term) AS BIGINT)
      |    AS rank, term, est, exact
      |FROM top ORDER BY rank""".stripMargin

  /** The portable 60-bit SimHash of each doc_id over a `toks(doc_id, t)`
    * token relation, as `Dedup.portableSimhash64` computes it: token hash
    * = first 15 md5 hex chars, per-bit +-1 sums, bit = sum >= 0, packed
    * MSB-first (CTEs h, contrib, sim). */
  private[graft] val SimhashCtes: String =
    """h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
      |contrib AS (
      |  SELECT doc_id, b.b AS b,
      |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
      |  GROUP BY doc_id, b.b),
      |sim AS (SELECT doc_id,
      |          SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT AS simhash
      |        FROM contrib GROUP BY doc_id)""".stripMargin

  /** The Bloom-filter replay of doc_bloom_dedup and stream_bloom_filter:
    * the corpus split, the probes (the held-out split plus planted corpus
    * copies) and the 5 md5 bits of each over a 65536-bit filter (CTEs
    * corpus, probes, cbits, pbits). */
  private[graft] val BloomProbeCtes: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |probes AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM corpus WHERE doc_id % 50 = 1),
      |cbits AS (SELECT DISTINCT
      |    ('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || text), 1, 15))::BIGINT
      |      % 65536 AS bit
      |  FROM corpus CROSS JOIN range(0, 5) r(i)),
      |pbits AS (SELECT doc_id,
      |    ('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || text), 1, 15))::BIGINT
      |      % 65536 AS bit
      |  FROM probes CROSS JOIN range(0, 5) r(i))""".stripMargin

  /** The SELECT list of the brute-force cosine oracles: query and candidate
    * ids and their cosine over `e q` x `e c` (v = the embedding as
    * DOUBLE[]), rounded to 6 places. */
  private[graft] val CosinePairSelect: String =
    """  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
      |    round(
      |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
      |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
      |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine""".stripMargin

  /** C4 rule-bundle oracle, shared by the batch and streaming
    * queries (the streamed pass must equal the batch pass). */
  private[graft] val C4RulesOracle: String =
    """WITH s0 AS (SELECT doc_id,
        |    replace(text, ' line ', '.' || chr(10)) || '.'
        |    || (CASE WHEN doc_id % 17 = 3
        |          THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END)
        |    || (CASE WHEN doc_id % 23 = 5 THEN ' {code.}' ELSE '' END)
        |    || (CASE WHEN doc_id % 29 = 7
        |          THEN chr(10) || 'this page uses javascript to render it.'
        |          ELSE '' END) AS text
        |  FROM documents),
        |d AS (SELECT doc_id, text,
        |    string_split(text, chr(10)) AS lines FROM s0),
        |k AS (SELECT doc_id, text, lines,
        |  [l for l in lines if right(rtrim(l), 1) IN ('.', '!', '?', '"')
        |     and len([w for w in string_split(l, ' ') if w <> '']) >= 3
        |     and not contains(lower(l), 'javascript')] AS kept
        |  FROM d),
        |m AS (SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS kept_text,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_brace,
        |  (contains(lower(text), 'damnedword')
        |    OR contains(lower(text), 'obsceneword')) AS has_badword
        |  FROM k),
        |r AS (SELECT doc_id, n_lines, n_kept_lines,
        |  CAST(length(kept_text) -
        |    length(regexp_replace(kept_text, '[.!?]', '', 'g')) AS BIGINT)
        |    AS n_sentences,
        |  has_lorem, has_brace, has_badword, md5(kept_text) AS kept_md5
        |  FROM m)
        |SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
        |  has_brace, has_badword, kept_md5,
        |  (n_sentences >= 5 AND NOT has_lorem AND NOT has_brace
        |    AND NOT has_badword) AS c4_keep
        |FROM r ORDER BY doc_id""".stripMargin

  /** The oracle's structured-text expression (the SQL twin of
    * [[c4StructuredText]]), shared by the C4 oracle and the composed
    * pipeline oracle. */
  private val StructuredTextSql: String =
    """replace(text, ' line ', '.' || chr(10)) || '.'
      |    || (CASE WHEN doc_id % 17 = 3
      |          THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END)
      |    || (CASE WHEN doc_id % 23 = 5 THEN ' {code.}' ELSE '' END)
      |    || (CASE WHEN doc_id % 29 = 7
      |          THEN chr(10) || 'this page uses javascript to render it.'
      |          ELSE '' END)""".stripMargin

  /** CTE suffix replaying the COMPOSED curation pipeline
    * (doc_pipeline_e2e / doc_pipeline_funnel) stage by stage: ingest
    * with the planted copy strata → URL dedup (min-id keeper per
    * canonical URL; the oracle builds the canonical form BY
    * CONSTRUCTION — the tracking params/fragment the engine strips via
    * [[graft.ext.UrlOps.canonicalUrl]]'s regex steps are planted, and
    * the regex path itself is pinned by doc_url_dedup's full replay) →
    * C4 clean (minSentences 2) → exact-Jaccard recursive-closure dedup
    * keepers (the doc_curate_sink construction, over CLEANED text) →
    * Gopher gates → LR gate scoring cleaned text with the replayed
    * w16/b16 weights (requires [[QualityModel.qualityOracleCtes]] as
    * the WITH prefix, patched to WITH RECURSIVE) → p75 rank-prior gate
    * against the prefixed PageRank replay (`prr8`, inner join — no
    * rank node, no keep) → exact cross-Jaccard decon → temperature mix
    * with rates from post-filter counts → md5 shuffle-key prefix-sum
    * pack. */
  private val E2EPipelineCtes: String = (""",
    |ing AS MATERIALIZED (
    |  SELECT doc_id, lang, source, @STRUCT@ AS text
    |  FROM documents
    |  UNION ALL
    |  SELECT doc_id + 2000000, lang, source, @STRUCT@ AS text
    |  FROM documents WHERE doc_id % 25 = 3
    |  UNION ALL
    |  SELECT doc_id + 3000000, lang, source,
    |    array_to_string(string_split(@STRUCT@, chr(10))[2:],
    |      chr(10)) AS text
    |  FROM documents WHERE doc_id % 25 = 11
    |  UNION ALL
    |  SELECT doc_id + 4000000, lang, source, @STRUCT@ AS text
    |  FROM documents WHERE doc_id % 25 = 17),
    |uky AS (SELECT doc_id,
    |    'https://' || source || '.example.com/d/' ||
    |    CAST(CASE WHEN doc_id >= 4000000 THEN doc_id - 4000000
    |         ELSE doc_id END AS VARCHAR) AS canon
    |  FROM ing),
    |ukp AS (SELECT canon, MIN(doc_id) AS keeper FROM uky GROUP BY 1),
    |udd AS MATERIALIZED (SELECT ing.* FROM ing
    |  JOIN uky USING (doc_id) JOIN ukp USING (canon)
    |  WHERE ing.doc_id = ukp.keeper),
    |ck AS (SELECT doc_id, lang, source, text,
    |    COALESCE(array_to_string([l for l in string_split(text, chr(10))
    |      if right(rtrim(l), 1) IN ('.', '!', '?', '"')
    |         and len([w for w in string_split(l, ' ') if w <> '']) >= 3
    |         and not contains(lower(l), 'javascript')], chr(10)), '')
    |      AS ctext
    |  FROM udd),
    |cln AS MATERIALIZED (
    |  SELECT doc_id, lang, source, ctext AS text FROM ck
    |  WHERE CAST(length(ctext) -
    |      length(regexp_replace(ctext, '[.!?]', '', 'g')) AS BIGINT) >= 2
    |    AND NOT contains(lower(text), 'lorem ipsum')
    |    AND NOT contains(text, '{')
    |    AND NOT (contains(lower(text), 'damnedword')
    |             OR contains(lower(text), 'obsceneword'))),
    |psh AS MATERIALIZED (
    |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
    |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
    |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM cln)),
    |pcnt AS (SELECT doc_id, COUNT(*) n FROM psh GROUP BY 1),
    |pint AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
    |         FROM psh a JOIN psh b ON a.s = b.s AND a.doc_id < b.doc_id
    |         GROUP BY 1, 2),
    |ppair AS (SELECT doc_a, doc_b FROM pint
    |          JOIN pcnt ca ON doc_a = ca.doc_id
    |          JOIN pcnt cb ON doc_b = cb.doc_id
    |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
    |pedge AS (SELECT doc_a AS x, doc_b AS y FROM ppair
    |          UNION SELECT doc_b, doc_a FROM ppair
    |          UNION SELECT doc_a, doc_a FROM ppair
    |          UNION SELECT doc_b, doc_b FROM ppair),
    |preach(x, y) AS (SELECT x, y FROM pedge
    |  UNION SELECT r.x, e.y FROM preach r JOIN pedge e ON r.y = e.x),
    |pcomp AS (SELECT x AS doc_id, min(y) AS keeper FROM preach GROUP BY x),
    |dd AS MATERIALIZED (SELECT c.* FROM cln c
    |  LEFT JOIN pcomp pc ON c.doc_id = pc.doc_id
    |  WHERE pc.doc_id IS NULL OR pc.keeper = c.doc_id),
    |pgd AS (SELECT doc_id, string_split(text, ' ') AS toks,
    |    string_split(text, chr(10)) AS glines, text FROM dd),
    |pgm AS (SELECT doc_id,
    |  CAST(len(toks) AS BIGINT) AS n_tokens,
    |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
    |    AS n_hash,
    |  CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
    |    AS n_ell,
    |  CAST(len(glines) AS BIGINT) AS n_lines,
    |  CAST(len([l for l in glines if substr(ltrim(l), 1, 1) IN ('-', '*')])
    |    AS BIGINT) AS n_bullet,
    |  CAST(len([l for l in glines if rtrim(l) LIKE '%...']) AS BIGINT)
    |    AS n_ellline,
    |  CAST(len([x for x in toks
    |    if length(regexp_replace(x, '[^a-zA-Z]', '', 'g')) > 0]) AS BIGINT)
    |    AS n_alphaword,
    |  CAST(list_sum([length(x) for x in toks]) AS BIGINT) AS sum_word_len
    |  FROM pgd),
    |pgp AS (SELECT doc_id FROM (
    |  SELECT doc_id, n_tokens,
    |    round(CAST(sum_word_len AS DOUBLE) / n_tokens, 6) AS mwl,
    |    round(CAST(n_hash + n_ell AS DOUBLE) / n_tokens, 6) AS swr,
    |    round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS blf,
    |    round(CAST(n_ellline AS DOUBLE) / n_lines, 6) AS elf,
    |    round(CAST(n_alphaword AS DOUBLE) / n_tokens, 6) AS awf
    |  FROM pgm)
    |  WHERE n_tokens BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
    |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8),
    |ag AS MATERIALIZED (SELECT dd.* FROM dd
    |  WHERE dd.doc_id IN (SELECT doc_id FROM pgp)),
    |pfc AS (SELECT doc_id,
    |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
    |    CAST(COUNT(*) AS BIGINT) AS c
    |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM ag)
    |  GROUP BY 1, 2),
    |psc AS (SELECT pfc.doc_id, SUM(pfc.c * w.w) + ANY_VALUE(b16.b) AS score
    |  FROM pfc JOIN w16 w USING (bucket), b16 GROUP BY 1),
    |psr AS (SELECT list_sort(list(score)) AS s, COUNT(*) AS n FROM psc),
    |pct AS (SELECT s[CAST(floor((n-1)/2) AS BIGINT) + 1] AS lo,
    |        s[least(CAST(floor((n-1)/2) AS BIGINT) + 2, n)] AS hi,
    |        (n-1) % 2 AS r FROM psr),
    |al AS MATERIALIZED (SELECT ag.* FROM ag
    |  JOIN psc ON ag.doc_id = psc.doc_id, pct
    |  WHERE 2*psc.score > (2-pct.r)*pct.lo + pct.r*pct.hi),
    |rrs AS (SELECT list_sort(list(rank)) AS s, COUNT(*) AS n FROM prr8),
    |rct AS (SELECT
    |  CAST(s[CAST(floor(3*(n-1)/4) AS BIGINT) + 1] AS DECIMAL(38,6)) AS lo,
    |  CAST(s[least(CAST(floor(3*(n-1)/4) AS BIGINT) + 2, n)]
    |    AS DECIMAL(38,6)) AS hi,
    |  (3*(n-1)) % 4 AS r FROM rrs),
    |rkp AS MATERIALIZED (SELECT al.* FROM al
    |  JOIN prr8 ON al.doc_id = prr8.node, rct
    |  WHERE 4*CAST(prr8.rank AS DECIMAL(38,6)) >= (4-rct.r)*rct.lo
    |      + rct.r*rct.hi),
    |ben AS MATERIALIZED (SELECT doc_id + 1000000 AS doc_id,
    |    array_to_string(w[2:], ' ') AS text
    |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM cln
    |        WHERE doc_id % 20 = 7 AND doc_id < 2000000)),
    |bsh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2],
    |      ' ') for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
    |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM ben)),
    |tsh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2],
    |      ' ') for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
    |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rkp)),
    |tcn AS (SELECT doc_id, COUNT(*) n FROM tsh GROUP BY 1),
    |bcn AS (SELECT doc_id, COUNT(*) n FROM bsh GROUP BY 1),
    |xin AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
    |        FROM tsh a JOIN bsh b ON a.s = b.s GROUP BY 1, 2),
    |ctm AS (SELECT DISTINCT doc_a AS doc_id FROM xin
    |        JOIN tcn ca ON doc_a = ca.doc_id JOIN bcn cb ON doc_b = cb.doc_id
    |        WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
    |ad AS MATERIALIZED (SELECT rkp.* FROM rkp
    |  LEFT JOIN ctm ON rkp.doc_id = ctm.doc_id WHERE ctm.doc_id IS NULL),
    |pmc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ad
    |  GROUP BY source),
    |pmw AS (SELECT source, n,
    |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
    |      / 1000000.0 AS DECIMAL(18,6)) AS w6 FROM pmc),
    |pmt AS (SELECT SUM(w6) AS den, SUM(n) AS nn FROM pmw),
    |pmr AS (SELECT source, LEAST(10000,
    |    CAST(floor(5000.0 * pmt.nn * CAST(pmw.w6 AS DOUBLE)
    |      / (CAST(pmt.den AS DOUBLE) * pmw.n)) AS BIGINT)) AS rate_bp
    |  FROM pmw, pmt),
    |am AS MATERIALIZED (SELECT ad.* FROM ad JOIN pmr USING (source)
    |  WHERE ('0x' || substring(md5(CAST(ad.doc_id AS VARCHAR)), 1, 15))
    |    ::BIGINT % 10000 < pmr.rate_bp),
    |ppk AS (SELECT doc_id AS doc, lang, source,
    |    md5('e2e42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
    |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    |  FROM am),
    |ppo AS (SELECT doc, lang, source, shuffle_key, n_tokens,
    |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS start_offset
    |  FROM ppk)""").stripMargin
    // the structured-text expression contains `||` operator lines that a
    // stripMargin over the COMPOSED string would truncate to `|`, so it
    // is substituted after the margins are stripped
    .replace("@STRUCT@", StructuredTextSql)

  /** Deterministic synthetic URL per doc (doc_url_dedup /
    * doc_url_host_rank; the oracle builds the same string): host from
    * `source`, path from doc_id % 50 (so docs sharing (source, path)
    * collapse), plus planted NON-canonical variants on id residues —
    * tracking query (% 4 = 1), fragment (% 4 = 2), uppercase host +
    * default port + trailing slash (% 4 = 3), and a KEPT content query
    * (% 20 = 6) that must stay distinct. */
  private[graft] def syntheticUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(
        when(col("doc_id") % 4 === 3, lit("HTTPS://"))
          .otherwise(lit("https://")),
        when(col("doc_id") % 4 === 3, upper(col("source")))
          .otherwise(col("source")),
        lit(".example.com"),
        when(col("doc_id") % 4 === 3, lit(":443")).otherwise(lit("")),
        lit("/p/"), pmod(col("doc_id"), lit(50L)).cast("string"),
        when(col("doc_id") % 4 === 3, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 1, lit("?utm_source=feed&ref=x"))
          .otherwise(lit("")),
        when(col("doc_id") % 20 === 6, lit("?page=2")).otherwise(lit("")),
        when(col("doc_id") % 4 === 2, lit("#section-2")).otherwise(lit("")))
        .as("url"))

  /** SQL twin of [[syntheticUrls]] + [[graft.ext.UrlOps.canonicalUrl]]:
    * builds the same planted URLs, canonicalizes with the identical
    * regex steps, ends with `cn` (doc_id, host, canon) and `k`
    * (canon, keeper) CTEs for the callers' tails. */
  private[graft] val UrlCanonCtes: String =
    """u AS (SELECT doc_id, source,
      |  (CASE WHEN doc_id % 4 = 3 THEN 'HTTPS://' ELSE 'https://' END)
      |  || (CASE WHEN doc_id % 4 = 3 THEN upper(source) ELSE source END)
      |  || '.example.com'
      |  || (CASE WHEN doc_id % 4 = 3 THEN ':443' ELSE '' END)
      |  || '/p/' || CAST(doc_id % 50 AS VARCHAR)
      |  || (CASE WHEN doc_id % 4 = 3 THEN '/' ELSE '' END)
      |  || (CASE WHEN doc_id % 4 = 1 THEN '?utm_source=feed&ref=x' ELSE '' END)
      |  || (CASE WHEN doc_id % 20 = 6 THEN '?page=2' ELSE '' END)
      |  || (CASE WHEN doc_id % 4 = 2 THEN '#section-2' ELSE '' END) AS url
      |  FROM documents),
      |n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf
      |  FROM u),
      |n2 AS (SELECT doc_id, url, nf,
      |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |    AS scheme,
      |  lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      |    AS hostport,
      |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      |    AS rest,
      |  regexp_extract(nf, '\?([^#]*)', 1) AS query FROM n1),
      |n3 AS (SELECT doc_id, url, scheme,
      |  CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |       WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |       ELSE hostport END AS host,
      |  CASE WHEN rest = '' THEN '/' ELSE rest END AS p0,
      |  [p for p in string_split(query, '&') if p <> ''
      |     and not starts_with(p, 'utm_') and not starts_with(p, 'ref=')]
      |    AS kept
      |  FROM n2),
      |cn AS (SELECT doc_id,
      |  CASE WHEN n3.scheme = '' OR n3.host = ''
      |       THEN regexp_extract(n3.url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
      |       ELSE n3.host END AS host,
      |  CASE WHEN n3.scheme = '' OR n3.host = '' THEN n3.url
      |  ELSE n3.scheme || '://' || n3.host ||
      |    (CASE WHEN p0 <> '/' THEN regexp_replace(p0, '/$', '') ELSE p0 END) ||
      |    (CASE WHEN len(kept) = 0 THEN ''
      |          ELSE '?' || array_to_string(kept, '&') END) END AS canon
      |  FROM n3),
      |k AS (SELECT canon, MIN(doc_id) AS keeper FROM cn GROUP BY 1)"""
      .stripMargin

  /** Composed-pipeline oracle: the LR training-replay CTEs (shared with
    * doc_quality_lr — the pipeline's gate scores cleaned text with the
    * same replayed weights) + the 8-round PageRank replay (prefix `pr`:
    * the bare names `nn`/`r<i>` collide with the LR CTEs; `prr8` is the
    * rank table the rank-prior gate cuts) + the pipeline stage CTEs +
    * the caller's tail select. WITH → WITH RECURSIVE for the dedup
    * closure. */
  private[graft] def e2eOracleSql(tail: String): String =
    QualityModel.qualityOracleCtes(LrLabelSql)
      .replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      Graph.pageRankOracleCtes(SyntheticEdgeSql,
        "SELECT doc_id AS node FROM documents", iters = 8, px = "pr")
        .stripPrefix("WITH ") + E2EPipelineCtes +
      "\n" + tail

  /** Deterministic STRUCTURED twin of the fixture text for the C4 rule
    * queries (batch + streaming share it; the oracle builds the same
    * string): the corpus is punctuation-free word salad, so sentence
    * breaks are planted at ' line ', a terminal period added, and
    * lorem-ipsum / curly-brace / javascript strata planted on fixed id
    * residues so every C4 rule fires on a known doc subset. */
  private[graft] def c4StructuredText: Column = {
    val base2 = concat(call_function("replace", col("text"),
      lit(" line "), lit(".\n")), lit("."))
    concat(base2,
      when(col("doc_id") % 17 === 3,
        lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
      when(col("doc_id") % 23 === 5, lit(" {code.}")).otherwise(lit("")),
      when(col("doc_id") % 29 === 7,
        lit("\nthis page uses javascript to render it.")).otherwise(lit("")))
  }

  /** The oracle's twin of [[syntheticEdges]] (n computed in SQL). */
  private[graft] val SyntheticEdgeSql: String =
    """SELECT src, (src + 1 + ((src * 31 + c * 97) % (nn2.n - 1))) % nn2.n
      |    AS dst
      |  FROM (SELECT doc_id AS src,
      |          unnest(generate_series(1, 1 + doc_id % 3)) AS c
      |        FROM documents),
      |       (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents) nn2"""
      .stripMargin

  /** Deterministic synthetic link graph over the doc-id universe
    * (doc_pagerank / doc_curate_rank; the oracle builds the same affine
    * rule): out-degree 1 + id % 3, targets spread by (src·31 + c·97)
    * mod (n−1) shifted off src — no self-loops, no dangling nodes. One
    * count() action sizes the id space. */
  private[graft] def syntheticEdges(ids: DataFrame): DataFrame = {
    val n = ids.count()
    ids.select(col(ids.columns.head).as("src"),
        explode(sequence(lit(1L),
          lit(1L) + pmod(col(ids.columns.head), lit(3L)))).as("c"))
      .select(col("src"),
        pmod(col("src") + lit(1L) +
          pmod(col("src") * 31L + col("c") * 97L, lit(n - 1L)),
          lit(n)).as("dst"))
  }

  /** The trained quality-LR model (doc_quality_lr / stream_quality_lr /
    * doc_lr_calibration): dense features + 16 GD rounds. Training is
    * deterministic (exact dyadic GD), so train-once / score-many is a
    * pure time save. */
  private[graft] val lrModelFor = Artifact("lrModel") { (s, dir) =>
    val feat = lrFeatures(s, dir).persist()
    try QualityModel.trainLogReg(feat, QualityModel.Dim, QualityModel.Iters,
      QualityModel.Lr)
    finally { feat.unpersist(false): Unit }
  }

  /** The quality gate's dense feature frame (doc, f, y) over
    * `documents`, y = 1.0 for English docs: what [[lrModelFor]] trains
    * on and the doc_ quality queries score. */
  private[graft] def lrFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = docs.select(col("doc_id").as("doc"),
      (col("lang") === "en").cast("double").as("y"))
    QualityModel.denseFeatures(QualityModel.hashedBow(docs, "doc_id", "text",
      QualityModel.Dim), labels, QualityModel.Dim)
  }

  /** [[lrFeatures]]' label as DuckDB SQL over `documents`. */
  private[graft] val LrLabelSql =
    "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"

  /** The synthetic link graph's 8-round PageRank frame (node, rank,
    * in_deg, out_deg), shared by doc_pagerank, doc_curate_rank and
    * doc_url_host_rank; localCheckpoint-backed via pageRank's per-round
    * checkpoints, with one final checkpoint pinning the join output.
    * doc_pagerank_dangling runs a DIFFERENT graph and stays uncached. */
  private[graft] val rankFor = Artifact("rank") { (s, dir) =>
    val ids = t(s, dir, "documents").select(col("doc_id"))
    Graph.pageRank(syntheticEdges(ids), ids, iters = 8)
      .transform(Pin.pin)
  }

  /** Run independent Spark actions from a small thread pool so the next
    * job's tasks back-fill executors freed by the current job's tail
    * (guide §2.6). FIFO scheduling keeps the earlier job first. Every
    * task is awaited before the first failure is rethrown (later ones
    * ride along as suppressed), so a failed build never returns — and
    * gets retried — while a sibling is still writing its output. */
  private[graft] def concurrently[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, 4))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val failures = items.map(it => Future(f(it))).flatMap(t =>
        scala.util.Try(Await.result(t, scala.concurrent.duration.Duration.Inf))
          .failed.toOption)
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    } finally pool.shutdown()
  }

  /** Staged frames of the COMPOSED end-to-end curation pipeline
    * (doc_pipeline_e2e / doc_pipeline_funnel) — ingest (structured text
    * + planted exact-copy and dropped-first-line near-miss strata) →
    * C4 line cleaning (downstream stages see the CLEANED text) →
    * exact+fuzzy dedup keep-join → Gopher format gates → trained-LR
    * quality gate → fuzzy decontamination → temperature mix (rates
    * computed from POST-filter counts — the cross-stage interaction a
    * per-stage query can't see) → seeded shuffle-pack. localCheckpoint
    * boundaries sit exactly where a real pipeline would materialize (the
    * cleaned corpus, the deduped corpus, the shipped curated set) so
    * each stage's plan stays O(its own work) instead of re-deriving the
    * whole upstream chain per consumer.
    *
    * minSentences = 2: the fixture's planted ' line ' sentence breaks
    * are sparse (median 2 kept sentences/doc), so the canonical 5 would
    * cut 92% at stage one and starve the downstream stages; the rule
    * COMPOSITION is what this query pins, the floor is corpus-scaled
    * (same discipline as pageRank's gridDp). The quality gate scores
    * cleaned text with the model trained on the raw corpus
    * (doc_quality_lr's cached model — the oracle replays it from the
    * shared training CTEs); the decon bench is the planted
    * drop-first-word edit of cleaned ORIGINAL docs. */
  private[graft] val e2eStagesFor = Artifact("e2ePipeline") { (s, dir) =>
    val ingest = e2eIngest(t(s, dir, "documents"))
    val ranks = rankFor(s, dir).select(col("node").as("doc_id"), col("rank"))
    graft.ext.CurationPipeline.run(ingest, lrModelFor(s, dir),
      benchOf = e2eBenchOf,
      urls = ingest.select(col("doc_id"), e2eUrl.as("url")), ranks = ranks,
      minSentences = 2)
  }

  /** The composed pipeline's INGEST frame from a docs frame (batch table
    * or streaming source — every construction is row-local): structured
    * text plus the planted strata that give each dedup stage a
    * deterministic cut at any sf. Exact copies at +2M (same structured
    * text, so the C4 verdict matches the source's — distinct URL, a
    * mirror crawl: content dedup's workload), near-miss copies at +3M
    * with the first LINE dropped (near-dup, not exact), TRACKING-URL
    * re-crawls at +4M (same text, same URL up to utm_/ref params +
    * fragment — the URL stage's workload, removed before content
    * processing ever sees them). */
  private[graft] def e2eIngest(docs: DataFrame): DataFrame = {
    val structured = docs.select(col("doc_id"), col("lang"),
      col("source"), c4StructuredText.as("text"))
    val copies = structured.where(col("doc_id") % 25 === 3)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
        col("source"), col("text"))
    val nearMiss = structured.where(col("doc_id") % 25 === 11)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
        col("source"),
        array_join(slice(split(col("text"), "\n"), 2, 1000000), "\n")
          .as("text"))
    val recrawls = structured.where(col("doc_id") % 25 === 17)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("lang"),
        col("source"), col("text"))
    structured.unionByName(copies).unionByName(nearMiss)
      .unionByName(recrawls)
  }

  /** One crawl URL per ingest row (row-local): path keyed by the
    * ORIGINAL doc id — a +4M re-crawl shares its source page's canonical
    * form and only the tracking decoration differs; every other stratum
    * keeps its own id → its own canonical key. */
  private[graft] def e2eUrl: Column =
    concat(lit("https://"), col("source"), lit(".example.com/d/"),
      when(col("doc_id") >= 4000000L, col("doc_id") - 4000000L)
        .otherwise(col("doc_id")).cast("string"),
      when(col("doc_id") >= 4000000L, lit("?utm_source=feed&ref=x#s2"))
        .otherwise(lit("")))

  /** The decon benchmark: planted drop-first-word edits of cleaned
    * ORIGINAL docs. */
  private[graft] def e2eBenchOf(cleaned: DataFrame): DataFrame = cleaned
    .where(col("doc_id") % 20 === 7 && col("doc_id") < 2000000L)
    .select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
        .as("text"))

  /** Portable round-half-up at 6 places via explicit float arithmetic —
    * used where interpolation's dyadic time fractions can land values
    * exactly on x.xxxxxx5 halfway points (native round() semantics differ
    * between engines there; floor(x*1e6+0.5)/1e6 is the same IEEE op
    * sequence in both). */
  private[graft] def r6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** Flagship query (sf0.001 smoke): the reference's canonical pipeline —
    * resample to a 1 h grid, then gap-fill by linear interpolation — over
    * every user series of the events table. */
  def entry(spark: SparkSession): DataFrame = {
    val obs = obsEvents(spark, "/root/testdata/sf0.001")
    val resampled = Resample.transformFixed(obs, 3600, grid = true)
    Interpolate.transform(resampled, Parameters.empty)
      .select(col(KeyCol), fmtTs(col(TsCol)).as("bucket_ts"),
        r6(col(ValueCol)).as(ValueCol))
      .orderBy(KeyCol, "bucket_ts")
  }

  /** DuckDB rendering of [[Resample.detMean]]. */
  private[graft] val DetMeanSql = "CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)/COUNT(value)"

  /** A declared query: (session, sf dir) => result frame. */
  private[graft] type Query = (SparkSession, String) => DataFrame

  /** Every declared query as one entry `name -> (body, oracleSql)`, from
    * the six family objects (the family is the name prefix). Lazy: a
    * family reads this object's shared fragments and fixtures when it
    * initializes, so it must not be initialized from inside this
    * object's initializer, where those vals are still null. */
  private lazy val registry: Seq[(String, (Query, String))] =
    TsQueries.queries ++ DocQueries.queries ++ TextQueries.queries ++
      EmbQueries.queries ++ StreamQueries.queries ++ RelQueries.queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, (query, _)) => name -> query }.toMap

  def oracleSql: Map[String, String] =
    registry.map { case (name, (_, sql)) => name -> sql }.toMap
}
