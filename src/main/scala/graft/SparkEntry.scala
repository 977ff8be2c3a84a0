package graft

import graft.core.{MeteauSignal, Observations}
import graft.ext.{Corpus, Dedup, EventOps, Graph, Kmeans, Pin, QualityModel, Ranks, Similarity, Sketches, TextAnalysis, UrlOps}
import graft.model.{DataProvenance, Parameters}
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract: every operator from SURVEY.md §2 exposed as a named
  * query over the driver's parquet tables, each paired with equivalent
  * ANSI SQL for the DuckDB oracle.
  *
  * Determinism rules (SURVEY.md §7.4 item 5) used throughout so results
  * hash-match across engines, partitionings, and row orders:
  *  - every query is totally ordered (explicit tie-breaks);
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

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events table with its event-time column normalized to session-tz
    * TimestampType whatever the producer wrote: nanos-as-long (parquet
    * NANOS, Spark 4 reads only as raw longs), `timestamp[us]`-no-tz
    * (TIMESTAMP_NTZ), or plain TIMESTAMP. All dtype branching lives in
    * `Observations.normalizeEventTs` so the next upstream drift breaks one
    * function, not every raw-events consumer. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Observations.normalizeEventTs(t(spark, dir, "events"))
  }

  /** events as the tall observations frame: user_id → series_key. */
  private def obsEvents(spark: SparkSession, dir: String): DataFrame =
    Observations.from(events(spark, dir), "user_id", "ts", "value")

  /** events keyed by event_type (the cross-signal alignment fixtures). */
  private def obsByType(spark: SparkSession, dir: String): DataFrame =
    Observations.from(events(spark, dir), "event_type", "ts", "value")

  private def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Final presentation sorts are OFF BY DEFAULT (r16 optimization,
    * guide §2.4 "an `orderBy` used only to make output deterministic"),
    * and since r17 the dropped contract is EXPLICIT rather than a silent
    * identity function (r16 VERDICT item 8 / ADVICE): declared queries
    * return UNORDERED row sets, matched by a canonicalizing oracle — the
    * driver's gate sorts columns by name and rows before hashing
    * (`scripts/check_oracle.py` is its faithful local stand-in; five
    * declared oracles with no `ORDER BY` at all, `stream_ztable_append`
    * and `ts_pca` among them multi-row, have hash-matched Spark's
    * differently-ordered output for 15 straight rounds). What the
    * default skips is a global range-partitioned sort of the full result
    * (range-sample pass + sort shuffle) or a single-task gather — pure
    * tail cost with no consumer: the bench's noop sink discards the
    * order and a 100 TB pipeline's next stage re-partitions by ITS key.
    *
    * A consumer that DOES want ordered presentation output (a report
    * writer, a strict harness) sets `spark.graft.presentationSort=true`
    * and gets the query's documented natural order back: every call
    * site still names its columns, so the contract is recoverable, not
    * erased. `sortSmall` is for small-by-construction results (one
    * gather task), `sortBig` for corpus-sized ones (real range sort). */
  private def presentationSort(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.presentationSort", "false")
      .toBoolean

  private def sortSmall(df: DataFrame, cols: String*): DataFrame =
    if (!presentationSort(df)) df
    else df.repartition(1).sortWithinPartitions(cols.map(col): _*)

  private def sortBig(df: DataFrame, cols: String*): DataFrame =
    if (!presentationSort(df)) df
    else df.orderBy(cols.map(col): _*)

  /** Approximate-percentile SERVING-TWIN audit frame (r12 verdict task
    * 7): one row with the exact (t/q)-quantile order statistics
    * (exact_lo, exact_hi, r — replayable by the oracle) plus
    * `within_bound` = does `percentile_approx`'s answer lie between the
    * exact order statistics at target ± (⌈n/accuracy⌉ + 2) ranks (the
    * GK sketch's documented rank-error bound, +2 for its different
    * rank anchor). The oracle pins the exact values AND `TRUE` for the
    * bound — a sketch drifting past its guarantee is a red gate. The
    * sketch side is the shape a 100 TB run ships (mergeable,
    * O(accuracy) state, no rank shuffle); the exact side rides
    * [[graft.ext.Ranks.globalRowNumber]]. */
  private def approxCutAudit(df: DataFrame, value: Column, tie: Column,
      t: Int, q: Int, accuracy: Int = 1000): DataFrame = {
    val vt = df.select(value.as("_v"), tie.as("_tb"))
    val nF = vt.agg(count(lit(1)).as("_n"),
      percentile_approx(col("_v"), lit(t.toDouble / q), lit(accuracy))
        .as("_apx"))
    val ranked = Ranks.globalRowNumber(vt, Seq(col("_v"), col("_tb")),
      out = "_rn")
    val tgt = floor(lit(t) * (col("_n") - 1) / q) + 1
    val slack = ceil(col("_n").cast("double") / accuracy) + 2
    val loB = greatest(lit(1L), (tgt - slack).cast("long"))
    val hiB = least(col("_n"), (tgt + slack).cast("long"))
    def pick(at: Column) = min(when(col("_rn") === at, col("_v")))
    val apx = min(col("_apx"))
    ranked.crossJoin(broadcast(nF))
      .where(col("_rn") === tgt || col("_rn") === least(tgt + 1, col("_n")) ||
        col("_rn") === loB || col("_rn") === hiB)
      .agg(pick(tgt).as("exact_lo"),
        pick(least(tgt + 1, col("_n"))).as("exact_hi"),
        min(pmod(lit(t) * (col("_n") - 1), lit(q.toLong))).as("r"),
        (apx >= pick(loB) && apx <= pick(hiB)).as("within_bound"))
  }

  /** Recall-instrumentation toggle. Bench sets `-Dgraft.recall=off` so
    * the timed plan is the approximate operator ALONE — in r3 the in-query
    * exact references double-counted the exact operators in BENCH_r03
    * (ADVICE item 1). Verify (the correctness gate) leaves it on, so the
    * driver's row check still pins the recall evidence columns. */
  private def recallOn: Boolean =
    sys.props.getOrElse("graft.recall", "on") != "off"

  /** Per-PROCESS scratch root for every derived sink/index/checkpoint
    * path. [[Artifact]] only guards within one JVM; two concurrent JVMs
    * (parallel Verify/Bench runs over the same testdata dir) racing on a
    * fixed /tmp path would corrupt a streaming commit or read partial
    * files (ADVICE r9). Unique per process, recursively deleted on clean
    * JVM exit. */
  private lazy val scratchBase: String = {
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

  /** The unigram word→ntok typed dictionary (pinned): the vocabulary is
    * trained and the DP applied once, and both consumers join against the
    * pin. */
  private val unigramDictFor = Artifact("unigramDict") { (s, dir) =>
    val docs = t(s, dir, "documents")
    Pin.pin(graft.ext.Unigram.typedDict(docs, "text",
      graft.ext.Unigram.train(docs, "text", k = 64)))
  }

  /** Trained BPE merge list (8 rounds), shared by the text_bpe_* and
    * doc_seq_pack_bpe queries: train once, apply many. */
  private val bpeMergesFor = Artifact("bpeMerges") { (s, dir) =>
    graft.ext.Bpe.trainMerges(t(s, dir, "documents"), "text", m = 8)
  }

  /** The documents table exported as JSONL (io_jsonl_roundtrip): written
    * once, read back per rep. */
  private val jsonlFor = Artifact("jsonl") { (s, dir) =>
    val p = scratch("jsonl", dir)
    t(s, dir, "documents").write.mode("overwrite").json(p)
    p
  }

  /** C4 rule-bundle oracle, shared by the batch and streaming
    * queries (the streamed pass must equal the batch pass). */
  private val C4RulesOracle: String =
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
  private def syntheticUrls(docs: DataFrame): DataFrame =
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
  private val UrlCanonCtes: String =
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

  /** Trained-langid oracle CTE prefix (text_langid_trained /
    * text_langid_trained_confusion): the full NB training replay —
    * char-trigram bucket counts per lang, add-1 smoothed 6-dp log
    * model over the complete (lang × bucket) grid, doc priors, then
    * per-doc scoring and the struct-max argmax. */
  private val LangIdTrainedCtes: String =
    """WITH tri AS (SELECT doc_id, lang,
      |    unnest([text[i:i+2] for i in
      |      generate_series(1, greatest(length(text)-2, 0))]) AS t
      |  FROM documents),
      |trib AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS bucket FROM tri),
      |lcl AS (SELECT lang, bucket, COUNT(*)::BIGINT AS c
      |  FROM trib GROUP BY 1, 2),
      |lgrid AS (SELECT l.lang, b.bucket
      |  FROM (SELECT DISTINCT lang FROM documents) l,
      |    (SELECT unnest(generate_series(0, 255))::BIGINT AS bucket) b),
      |lnl AS (SELECT lang, SUM(c)::BIGINT AS n FROM lcl GROUP BY 1),
      |llam AS (SELECT g.lang, g.bucket,
      |    round(ln(CAST(COALESCE(lcl.c, 0) + 1 AS DOUBLE)
      |      / CAST(lnl.n + 256 AS DOUBLE)), 6) AS lam
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

  /** Shared unigram-NLL oracle prefix (text_nll_buckets /
    * text_nll_cuts_approx): per-doc 6-dp-rounded unigram NLL, joined to
    * lang, ending with `sl` (doc, lang, n_tokens, nll) and `q` (lang,
    * n, sorted nll list — the oracle MAY buffer per-stratum, it is the
    * referee, not the engine plan). */
  private val NllOracleCtes: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |    FROM toks GROUP BY doc_id, term),
      |f AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS f FROM tf GROUP BY term),
      |n AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM f),
      |c AS (SELECT doc_id, tf,
      |    CAST(ROUND(tf * ln(CAST(n AS DOUBLE) / f), 6) AS DECIMAL(38,6))
      |      AS contrib
      |  FROM tf JOIN f USING (term) CROSS JOIN n),
      |s AS (SELECT doc_id AS doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |    ROUND(CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
      |      AS nll
      |  FROM c GROUP BY doc_id),
      |sl AS (SELECT s.doc, d.lang, s.n_tokens, s.nll
      |  FROM s JOIN documents d ON s.doc = d.doc_id),
      |q AS (SELECT lang, COUNT(*) AS n,
      |    array_agg(nll ORDER BY nll) AS sv
      |  FROM sl GROUP BY lang)""".stripMargin

  /** Composed-pipeline oracle: the LR training-replay CTEs (shared with
    * doc_quality_lr — the pipeline's gate scores cleaned text with the
    * same replayed weights) + the 8-round PageRank replay (prefix `pr`:
    * the bare names `nn`/`r<i>` collide with the LR CTEs; `prr8` is the
    * rank table the rank-prior gate cuts) + the pipeline stage CTEs +
    * the caller's tail select. WITH → WITH RECURSIVE for the dedup
    * closure. */
  private def e2eOracleSql(tail: String): String =
    graft.ext.QualityModel.qualityOracleCtes(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)")
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
  private def c4StructuredText: Column = {
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
  private val SyntheticEdgeSql: String =
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
  private def syntheticEdges(ids: DataFrame): DataFrame = {
    val n = ids.count()
    ids.select(col(ids.columns.head).as("src"),
        explode(sequence(lit(1L),
          lit(1L) + pmod(col(ids.columns.head), lit(3L)))).as("c"))
      .select(col("src"),
        pmod(col("src") + lit(1L) +
          pmod(col("src") * 31L + col("c") * 97L, lit(n - 1L)),
          lit(n)).as("dst"))
  }

  /** Fixed BM25 retrieval query set (text_bm25) — interpolated into the
    * generated oracle, so engine and oracle always score the same
    * terms. */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("hash", "table"),
    3 -> Seq("window", "agg"))

  /** Trained IVF centroids (emb_ivf_topk, emb_ivf_exhaustive): the
    * train-once / probe-per-rep shape of the persisted indexes. */
  private val ivfCentsFor = Artifact("ivfCents") { (s, dir) =>
    Similarity.learnCentroidArrays(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 16, iters = 3)
  }

  /** Per-list pruning radii (emb_ivf_topk's exact probe) — index
    * metadata derived once, like the centroids they bound. */
  private val ivfRadiiFor = Artifact("ivfRadii") { (s, dir) =>
    Similarity.listRadii(t(s, dir, "embeddings"), "embedding",
      ivfCentsFor(s, dir))
  }

  /** The IVF-PQ index probed by emb_ivfpq_topk and emb_ivfpq_rerank. */
  private val ivfPqIndexFor = Artifact("ivfPqIdx") { (s, dir) =>
    val p = scratch("ivfpq_idx", dir)
    Similarity.buildIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
      "embedding", p, nLists = 16, m = 16, pqK = 64, iters = 2)
    p
  }

  /** The persisted IVF index stream_ivf_topk serves from. */
  private val streamIvfIndexFor = Artifact("streamIvfIdx") { (s, dir) =>
    val p = scratch("stream_ivf_idx", dir)
    Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id",
      "embedding", p, nLists = 16, iters = 2)
    p
  }

  /** The IVF RETRAIN-ON-DRIFT lifecycle (r15 VERDICT task 5): build an
    * index on the base embeddings, append a deterministically DRIFTED
    * wave (+3.0 on every dimension in double space — far from every
    * trained centroid, so its mass concentrates in whichever few lists
    * point that way), then [[Similarity.ivfRetrainDrifted]] re-clusters
    * ONLY the lists whose per-list mean distance crossed 1.5× the
    * index-wide mean. The requires pin the incremental contract at
    * build time: some lists drifted, NOT all (the untouched majority is
    * the point), and the retrain reduced the drifted set's mean
    * distance. Accounting lands in `_retrain.json` for the spec/tier;
    * the declared query probes the retrained index. */
  private val ivfDriftFor = Artifact("ivfDriftRetrain") { (s, dir) =>
    val p = scratch("ivf_drift", dir)
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", p,
      nLists = 16, iters = 2)
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x + lit(3.0d)).as("embedding"))
    Similarity.ivfAppend(s, p, shifted, "embedding")
    val rt = Similarity.ivfRetrainDrifted(s, p, "vec_id", "embedding",
      bound = 1.5, iters = 2)
    require(rt.drifted.nonEmpty, "no list crossed the drift bound")
    require(rt.drifted.length < rt.nLists,
      s"retrain must be incremental: ${rt.drifted.length}/${rt.nLists}")
    require(rt.meanDriftedAfter < rt.meanDriftedBefore,
      "retrain must reduce the drifted lists' mean distance")
    val accP = new org.apache.hadoop.fs.Path(s"$p/_retrain.json")
    val out = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(accP, true)
    out.write((s"""{"drifted":[${rt.drifted.mkString(",")}],""" +
      s""""nLists":${rt.nLists},"rows":${rt.rowsReclustered},""" +
      s""""before":${rt.meanDriftedBefore},"after":${rt.meanDriftedAfter}}""")
      .getBytes("UTF-8"))
    out.close()
    p
  }

  /** The trained quality-LR model (doc_quality_lr / stream_quality_lr /
    * doc_lr_calibration): dense features + 16 GD rounds. Training is
    * deterministic (exact dyadic GD), so train-once / score-many is a
    * pure time save. */
  private val lrModelFor = Artifact("lrModel") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val labels = docs.select(col("doc_id").as("doc"),
      (col("lang") === "en").cast("double").as("y"))
    val feat = QualityModel.denseFeatures(
      QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      .persist()
    try QualityModel.trainLogReg(feat, d = 64, iters = 16, lr = 0.125)
    finally { feat.unpersist(false): Unit }
  }

  /** Near-dup cluster labels, shared by doc_dedup_clusters, doc_keep_best,
    * doc_dedup_keep and the two sinks. The frame is localCheckpointed
    * inside dedupClusters (RDD-backed, survives catalog clearCache).
    * Exact-dup short-circuit around the EXACT PPJoin miner: identical
    * docs collapse to one representative before any shingle-keyed join,
    * so copy-heavy corpora cannot create O(k²) prefix buckets; output is
    * proven equal to clustering the full pair graph (ExtSpec), so the
    * oracle (exact-Jaccard recursive closure over ALL docs) is
    * unchanged. */
  private val clustersFor = Artifact("clusters") { (s, dir) =>
    Dedup.dedupClustersDistinctWith(
      t(s, dir, "documents"), "doc_id", "text")(repDocs =>
      Dedup.jaccardPairs(
        Dedup.hashedShingles(repDocs, "doc_id", "text", 3), 0.5))
  }

  /** The synthetic link graph's 8-round PageRank frame (node, rank,
    * in_deg, out_deg), shared by doc_pagerank, doc_curate_rank and
    * doc_url_host_rank; localCheckpoint-backed via pageRank's per-round
    * checkpoints, with one final checkpoint pinning the join output.
    * doc_pagerank_dangling runs a DIFFERENT graph and stays uncached. */
  private val rankFor = Artifact("rank") { (s, dir) =>
    val ids = t(s, dir, "documents").select(col("doc_id"))
    Graph.pageRank(syntheticEdges(ids), ids, iters = 8)
      .transform(Pin.pin)
  }

  /** The filtered corpus of doc_dedup_sink, written once; the declared
    * query audits the files on disk — the artifact shape an LLM data
    * pipeline actually ships. */
  private val dedupSinkFor = Artifact("dedupSink") { (s, dir) =>
    val p = scratch("dedup_corpus", dir)
    val cl = clustersFor(s, dir)
    val docs = t(s, dir, "documents")
    docs.join(cl, docs("doc_id") === cl("doc"), "left")
      .where(col("root").isNull || col("root") === col("doc_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(p)
    p
  }

  /** The CURATED corpus of doc_curate_sink: quality filter → language
    * filter → repetition filter → near-dup keep-join → lang-partitioned
    * write. */
  private val curateSinkFor = Artifact("curateSink") { (s, dir) =>
    val p = scratch("curated_corpus", dir)
    val docs = t(s, dir, "documents")
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
    val cl = clustersFor(s, dir)
    docs.join(cl, docs("doc_id") === cl("doc"), "left")
      .where(col("root").isNull || col("root") === docs("doc_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .join(qual, Seq("doc_id"), "left_semi")
      .join(calm, Seq("doc_id"), "left_semi")
      .join(lid, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").partitionBy("lang").parquet(p)
    p
  }

  /** Shared frame of the z-order layout experiment (doc_zorder_skipping
    * and its materialized twin): two equi-depth 8-bit dimension ranks
    * (b1 over n_chars, b2 over an md5-derived second dimension), the
    * bit-interleaved z-key, and the three layout ranks (zrank/lrank/
    * hrank) plus `_rpf` = rows-per-file for 64 logical files. Rank
    * passes ride [[graft.ext.Ranks.globalRowNumber]] — the same range
    * shuffles a real OPTIMIZE ZORDER runs. */
  /** Bit-interleaved 16-bit Morton key over the b1/b2 bucket columns —
    * [[graft.ext.ZTable.zkeyExpr]]. */
  private def zkeyExpr: Column = graft.ext.ZTable.zkeyExpr

  private def zorderRankedFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
      pmod(conv(substring(md5(concat(lit("zdim:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(10000L)).as("d2"))
    val nF = docs.agg(count(lit(1)).as("_n"))
    def toBits(df: DataFrame, vCol: String, out: String) =
      Ranks.globalRowNumber(df, Seq(col(vCol), col("doc_id")), out = "_r")
        .crossJoin(broadcast(nF))
        .withColumn(out, expr("((_r - 1) * 256) div _n"))
        .drop("_r", "_n")
    val z = toBits(toBits(docs, "n_chars", "b1"), "d2", "b2")
      .withColumn("zkey", zkeyExpr)
      .withColumn("hkey",
        md5(concat(lit("h:"), col("doc_id").cast("string"))))
    Ranks.globalRowNumber(
      Ranks.globalRowNumber(
        Ranks.globalRowNumber(z, Seq(col("zkey"), col("doc_id")),
          out = "zrank"),
        Seq(col("b1"), col("b2"), col("doc_id")), out = "lrank"),
      Seq(col("hkey"), col("doc_id")), out = "hrank")
      .crossJoin(broadcast(nF))
      .withColumn("_rpf", expr("(_n + 63) div 64"))
  }

  /** The PINNED z-order rank frame (r17): seven call sites (the logical
    * skipping audit + six materialized-table builds) each re-derived the
    * identical deterministic frame — 5 range-rank passes apiece, ~30 s
    * of the bench's fixture build wall re-spent on the same rows. A real
    * lakehouse materializes its layout-rank table once per OPTIMIZE, not
    * per consumer. */
  private val zorderRankedFor = Artifact("zorderRanked") { (s, dir) =>
    zorderRankedFrame(s, dir).transform(Pin.pin)
  }

  /** The MATERIALIZED z-order layout corpora (doc_zorder_skipping_mat):
    * the three layouts written as real parquet, one data file per
    * logical file_id, each WITH its write-time stats manifest at
    * `<root>/<tag>/_stats` (the `_`-prefixed dir is invisible to Spark's
    * parquet reader, so the manifest lives under the table root like a
    * `_delta_log`). */
  private val zorderMatFor = Artifact("zorderMat") { (s, dir) =>
    val p = scratch("zorder_mat", dir)
    // three layout writers consume one rank frame, already pinned by
    // zorderRankedFor (the writer derives its own rpf — drop the
    // frame's _n/_rpf so its internal count crossJoin can't collide)
    val ranked = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"),
        col("zrank"), col("lrank"), col("hrank"))
    // the three layouts are independent writers over the one pinned
    // frame into disjoint dirs — submit them concurrently (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially); wall ≈ the slowest write instead of the sum
    concurrently(Seq(("zorder", "zrank"), ("linear", "lrank"),
        ("hash", "hrank"))) { case (tag, rank) =>
      val st = zorderWriteFiles(ranked, rank, nFiles = 64, offset = 0,
        out = s"$p/$tag")
      writeStatsManifest(st, s"$p/$tag/_stats")
    }
    p
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

  /** The z-order append/OPTIMIZE experiment (doc_zorder_append_optimize):
    * base z-ordered files + an unsorted appended batch + the OPTIMIZE
    * rewrite. Global equi-depth bits + z/h keys come from the shared
    * rank frame, so appended rows land in the same bit space as base
    * rows. The three phase tables are independent writers over the one
    * pinned frame into disjoint dirs (unlike the incremental table,
    * whose transactions share a dir and must serialize) — submitted
    * concurrently, guide §2.6. */
  private val zorderIncFor = Artifact("zorderInc") { (s, dir) =>
    val p = scratch("zorder_inc", dir)
    val z = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
        col("hkey"))
    val baseRows = z.where(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val appRows = z.where(pmod(col("doc_id"), lit(5L)) === 0L)
    concurrently(Seq(
      (baseRows, col("zkey"), 52, 0, "base"),
      (appRows, col("hkey"), 12, 52, "append"),
      (z, col("zkey"), 64, 0, "optimized"))) {
      case (rows, key, nFiles, offset, tag) =>
        writeStatsManifest(zorderWriteFiles(
          Ranks.globalRowNumber(rows, Seq(key, col("doc_id")),
            out = "_rk"),
          "_rk", nFiles = nFiles, offset = offset, out = s"$p/$tag"),
          s"$p/$tag/_stats")
    }
    p
  }

  /** The INCREMENTAL-OPTIMIZE z-order table (doc_zorder_incr_optimize):
    * ONE evolving table dir whose data files accumulate across
    * transactions, plus three manifest snapshots
    * (`_stats_base/_stats_appended/_stats_optimized` — the
    * transaction-log role: logically removed files stay on disk until a
    * VACUUM, so every snapshot remains readable).
    *
    * The experiment: (1) base = the corpus
    * minus a key-space-LOCALIZED batch, z-ordered into 52 files with a
    * write-time manifest; (2) append = the localized batch (b2 ≥ 144,
    * even doc_id — the time-correlated shape real ingest has: new data
    * clusters in part of the clustering key space) written hash-ordered
    * into 12 files, manifest rows APPENDED (no data re-read); (3)
    * incremental OPTIMIZE — the production compaction: the rewrite set
    * is chosen FROM THE MANIFEST ALONE (files whose stats box intersects
    * the appended files' bounding box — you cannot rewrite 100 TB on a
    * schedule, and you cannot even SCAN it to decide what to rewrite),
    * only those files are read, re-z-ordered (zkey re-derived row-locally
    * from b1/b2) into new files sized by the table's global rows-per-file,
    * and the manifest swaps rewritten rows for new-file rows. Base files
    * outside the appended key region are never read OR rewritten. */
  private val zorderIncrFor = Artifact("zorderIncr") { (s, dir) =>
    val p = scratch("zorder_incr2", dir)
    buildZorderIncrTable(s, dir, p)
    p
  }

  /** The three incremental-OPTIMIZE transactions into `p/table` +
    * manifest snapshots under `p` — shared by the incr-optimize and
    * VACUUM experiments, each on its own table dir (VACUUM deletes
    * files earlier snapshots reference, so the two audits cannot share
    * a table). */
  private def buildZorderIncrTable(s: SparkSession, dir: String,
      p: String): Unit = {
      val z = zorderRankedFor(s, dir)
        .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
          col("hkey"))
      val isApp = col("b2") >= 144 && pmod(col("doc_id"), lit(2L)) === 0L
      val table = s"$p/table"
      // txn 1 (static overwrite wipes any stale table dir): base
      val stBase = zorderWriteFiles(
        Ranks.globalRowNumber(z.where(!isApp),
          Seq(col("zkey"), col("doc_id")), out = "_rk"),
        "_rk", nFiles = 52, offset = 0, out = table)
      writeStatsManifest(stBase, s"$p/_stats_base")
      // txn 2: localized append, arrival (hash) order, NEW file ids only
      val stApp = zorderWriteFiles(
        Ranks.globalRowNumber(z.where(isApp),
          Seq(col("hkey"), col("doc_id")), out = "_rk"),
        "_rk", nFiles = 12, offset = 52, out = table, mode = "append")
      writeStatsManifest(stBase.unionByName(stApp), s"$p/_stats_appended")
      // txn 3: incremental OPTIMIZE — metadata-only rewrite selection
      // (appended files are the ids ≥ 52 this table's txn 2 wrote)
      val (optimized, _, _) = graft.ext.ZTable.incrementalOptimize(s,
        s.read.parquet(s"$p/_stats_appended"),
        isAppended = _.getAs[Long]("file_id") >= 52,
        tablePath = table, newOffset = 1000)
      writeStatsManifest(optimized, s"$p/_stats_optimized")
  }

  /** The VACUUM experiment (doc_zorder_vacuum): the same three
    * incremental-OPTIMIZE transactions on a fresh table, then VACUUM —
    * list the table's data files (metadata), diff against the optimized
    * manifest's referenced paths, DELETE the orphans (the files the
    * incremental OPTIMIZE logically removed; earlier snapshots become
    * time-travel-expired, the Delta VACUUM contract). Accounting lands in
    * `_vacuum.json`. */
  private val zorderVacFor = Artifact("zorderVac") { (s, dir) =>
    val p = scratch("zorder_vac", dir)
    buildZorderIncrTable(s, dir, p)
    val (before, deleted) = graft.ext.ZTable.vacuum(s, s"$p/table",
      s.read.parquet(s"$p/_stats_optimized"))
    val conf = s.sparkContext.hadoopConfiguration
    val accP = new org.apache.hadoop.fs.Path(s"$p/_vacuum.json")
    val out = accP.getFileSystem(conf).create(accP, true)
    out.write(s"""{"before":$before,"deleted":$deleted}"""
      .getBytes("UTF-8"))
    out.close()
    p
  }

  /** The OCC interleaved-writer experiment (doc_zorder_occ, r15 VERDICT
    * task 1): the zorderVac lifecycle re-run through the VERSIONED manifest log
    * ([[graft.ext.ZTable.logCommit]]) with two adversarial
    * interleavings. v0 base (z-ordered), v1 hot append A1; optimizer O1
    * reads v1 and rewrites A1's region, but appender A2 (synthetic
    * rows forced to the DISJOINT cold band b2 % 64) commits v2 first —
    * O1's commit detects the advance, the boxes are disjoint, so it
    * REBASES to v3 carrying A2's rows (the lost update the single-file
    * overwrite would silently drop, and a VACUUM would then delete A2's
    * live files). Optimizer O2 then reads v3 to compact A2's region,
    * but appender A3 lands INSIDE its box and commits v4 first — O2's
    * commit is SUPERSEDED (stale selection must abort, its attempt
    * files become orphans), and the OCC loop re-selects from v4
    * (now covering A2 ∪ A3) and commits v5. VACUUM against v5 then
    * reclaims the replaced files AND the superseded attempt's orphans.
    * Every protocol step is enforced by a require, so the declared
    * query's hash match certifies the whole interleaving. */
  private val zorderOccFor = Artifact("zorderOcc") { (s, dir) =>
    import graft.ext.ZTable
    val p = scratch("zorder_occ", dir)
    val table = s"$p/table"
    val root = s"$p/_log"
    val z = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
        col("hkey"))
    val isApp = col("b2") >= 144 && pmod(col("doc_id"), lit(2L)) === 0L
    val stBase = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(!isApp),
        Seq(col("zkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 52, offset = 0, out = table)
    require(ZTable.logCommit(s, root, -1L, stBase) == 0L)
    val stA1 = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(isApp),
        Seq(col("hkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 12, offset = 100, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 0L, stA1) == 1L)
    // O1 reads v1 and rewrites the hot region (data files land now;
    // the stale v1-based manifest is what a non-OCC writer would
    // overwrite the log with)
    val man1 = ZTable.logRead(s, root, 1L).collect()
    val isApp1 = (r: org.apache.spark.sql.Row) => {
      val f = r.getAs[Long]("file_id"); f >= 100 && f < 200
    }
    val box1 = ZTable.appendedBox(man1, isApp1)
    val (staleManDf, _, _) = ZTable.incrementalOptimize(s,
      ZTable.logRead(s, root, 1L), isApp1, table, newOffset = 1000)
    val staleIds = staleManDf.collect().map(_.getAs[Long]("file_id")).toSet
    val rwIds1 = man1.map(_.getAs[Long]("file_id")).toSet -- staleIds
    val stNew1 = staleManDf.where(col("file_id") >= 1000)
    // concurrent A2: synthetic rows pinned to the cold band (b2 % 64
    // — disjoint from O1's box), arrival order, fresh ids
    val a2 = z.where(pmod(col("doc_id"), lit(31L)) === 5L)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("b1"),
        pmod(col("b2"), lit(64L)).as("b2"), col("hkey"))
    val stA2 = zorderWriteFiles(
      Ranks.globalRowNumber(a2, Seq(col("hkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 3, offset = 200, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 1L, stA2) == 2L)
    // O1 commits at its v1 snapshot: conflict → disjoint → rebase
    require(ZTable.commitOptimize(s, root, 1L, rwIds1, stNew1,
      box1) == 3L)
    val man3 = ZTable.logRead(s, root, 3L).collect()
    require(stA2.collect().map(_.getAs[Long]("file_id")).toSet
        .subsetOf(man3.map(_.getAs[Long]("file_id")).toSet),
      "rebase must carry the concurrent append (lost update)")
    // O2 reads v3 to compact A2's region; A3 lands INSIDE its box
    val isApp2 = (r: org.apache.spark.sql.Row) => {
      val f = r.getAs[Long]("file_id"); f >= 200 && f < 300
    }
    val box2 = ZTable.appendedBox(man3, isApp2)
    val (staleMan2Df, _, _) = ZTable.incrementalOptimize(s,
      ZTable.logRead(s, root, 3L), isApp2, table, newOffset = 2000)
    val stale2Ids = staleMan2Df.collect().map(_.getAs[Long]("file_id")).toSet
    val rwIds2 = man3.map(_.getAs[Long]("file_id")).toSet -- stale2Ids
    val stNew2 = staleMan2Df.where(col("file_id") >= 2000)
    val a3 = z.where(pmod(col("doc_id"), lit(31L)) === 6L)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("b1"),
        pmod(col("b2"), lit(64L)).as("b2"), col("hkey"))
    val stA3 = zorderWriteFiles(
      Ranks.globalRowNumber(a3, Seq(col("hkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 2, offset = 300, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 3L, stA3) == 4L)
    val superseded =
      try { ZTable.commitOptimize(s, root, 3L, rwIds2, stNew2, box2)
        false }
      catch { case _: ZTable.OptimizeSuperseded => true }
    require(superseded, "O2 must abort: A3 landed inside its box")
    val (v5, _, _, aborts) = ZTable.incrementalOptimizeOcc(s, root,
      table, r => { val f = r.getAs[Long]("file_id")
        f >= 200 && f < 1000 }, newOffset = 3000)
    require(v5 == 5L && aborts == 0L)
    // VACUUM against the COMMITTED latest: replaced files + the
    // superseded attempt's orphans go; everything live survives
    val man5 = ZTable.logRead(s, root, 5L).collect()
    val (_, _) = ZTable.vacuum(s, table, ZTable.logRead(s, root, 5L))
    require(ZTable.listDataFiles(s, table).length == man5.length,
      "post-vacuum listing must equal the committed manifest")
    // by-construction protocol counters (each enforced above)
    val accP = new org.apache.hadoop.fs.Path(s"$p/_occ.json")
    val out = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(accP, true)
    out.write("""{"versions":6,"conflicts":2,"aborts":1}"""
      .getBytes("UTF-8"))
    out.close()
    p
  }

  /** The TIME-TRAVEL / retention-VACUUM experiment (doc_zorder_timetravel,
    * r16): the incremental-OPTIMIZE
    * lifecycle through the versioned log — v0 base, v1 hot append, v2
    * incremental OPTIMIZE, v3 cold-band append — then a
    * RETENTION-BOUNDED VACUUM with version floor 2
    * ([[graft.ext.ZTable.vacuumRetain]]): files referenced only by
    * expired snapshots (exactly the optimize's rewrite set) are
    * physically deleted, while v2 — a HISTORICAL version, one commit
    * behind latest — must stay fully readable: A2's rows are on disk
    * but invisible to a v2 reader (snapshot isolation for time-travel
    * reads). Each retention property is a require; the declared row
    * certifies content at both versions plus the expiry accounting. */
  private val zorderTTFor = Artifact("zorderTT") { (s, dir) =>
    import graft.ext.ZTable
    val p = scratch("zorder_tt", dir)
    val table = s"$p/table"
    val root = s"$p/_log"
    val z = zorderRankedFor(s, dir)
      .select(col("doc_id"), col("b1"), col("b2"), col("zkey"),
        col("hkey"))
    val isApp = col("b2") >= 144 && pmod(col("doc_id"), lit(2L)) === 0L
    val stBase = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(!isApp),
        Seq(col("zkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 52, offset = 0, out = table)
    require(ZTable.logCommit(s, root, -1L, stBase) == 0L)
    val stA1 = zorderWriteFiles(
      Ranks.globalRowNumber(z.where(isApp),
        Seq(col("hkey"), col("doc_id")), out = "_rk"),
      "_rk", nFiles = 12, offset = 100, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 0L, stA1) == 1L)
    val (v2, filesRw, _, aborts) = ZTable.incrementalOptimizeOcc(s, root,
      table, r => { val f = r.getAs[Long]("file_id")
        f >= 100 && f < 200 }, newOffset = 1000)
    require(v2 == 2L && aborts == 0L)
    val a2 = z.where(pmod(col("doc_id"), lit(31L)) === 5L)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("b1"),
        pmod(col("b2"), lit(64L)).as("b2"), col("hkey"))
    val stA2 = zorderWriteFiles(
      Ranks.globalRowNumber(a2, Seq(col("hkey"), col("doc_id")),
        out = "_rk"),
      "_rk", nFiles = 3, offset = 200, out = table, mode = "append")
    require(ZTable.commitAppend(s, root, 2L, stA2) == 3L)
    val (before, deleted) = ZTable.vacuumRetain(s, table, root,
      fromVersion = 2L)
    require(deleted == filesRw, "retention must expire exactly the " +
      s"rewrite set ($filesRw files), got $deleted")
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
    def onDisk(f: String) = fs.exists(new org.apache.hadoop.fs.Path(f))
    val v2Paths = ZTable.logRead(s, root, 2L).select(col("path"))
      .collect().map(_.getString(0))
    require(v2Paths.forall(onDisk),
      "every retained snapshot's file must survive the retention vacuum")
    val v1Paths = ZTable.logRead(s, root, 1L).select(col("path"))
      .collect().map(_.getString(0))
    require(v1Paths.exists(f => !onDisk(f)),
      "the expired snapshot must have lost files (time-travel expiry)")
    val accP = new org.apache.hadoop.fs.Path(s"$p/_tt.json")
    val out = accP.getFileSystem(conf).create(accP, true)
    out.write(s"""{"before":$before,"deleted":$deleted}"""
      .getBytes("UTF-8"))
    out.close()
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

  /** Write `frame` (doc_id, b1, b2 + a rank column) as real parquet
    * under `out`, one data file per logical file id: file_id = offset +
    * (rank−1) div rpf with rpf = ceil(n/nFiles) (or `rpfOverride` when
    * ≥ 1 — the incremental-OPTIMIZE path sizes new files by the
    * TABLE's global rows-per-file, not the batch's), rows sorted by
    * rank within each file (the maxRecordsPerFile run a writer would
    * produce).
    *
    * Returns the WRITE-TIME stats manifest (file_id, path, b1_min,
    * b1_max, b2_min, b2_max, n_rows): per-file min/max computed from
    * the frame being written — never re-derived by scanning data files
    * afterwards, which at 100 TB would cost the full scan the layout
    * exists to avoid — with `path` resolved from a directory LISTING of
    * the just-written file_id partitions (metadata-only; mode `append`
    * adds only NEW file_id dirs, so each listed dir holds exactly one
    * data file). Callers persist it next to the data (the `_delta_log`
    * role); Spark's parquet reader skips `_`-prefixed dirs, so the
    * manifest can live under the table root. */
  private def zorderWriteFiles(frame: DataFrame, rankCol: String,
      nFiles: Int, offset: Int, out: String, mode: String = "overwrite",
      rpfOverride: Long = -1L): DataFrame =
    graft.ext.ZTable.writeFiles(frame, rankCol, nFiles, offset, out, mode,
      rpfOverride)

  /** Persist a [[zorderWriteFiles]] stats manifest (one small file —
    * the table-format transaction-log role: the reader prunes from this
    * metadata without touching data files). */
  private def writeStatsManifest(st: DataFrame, path: String): Unit =
    graft.ext.ZTable.writeManifest(st, path)

  /** Skipping audit from a PERSISTED write-time stats manifest — the
    * production read path (Delta/Iceberg discipline): the prune
    * decision touches ONLY manifest metadata (≤ table file count rows,
    * collected driver-side like any table format's log replay), then
    * Spark scans exactly the surviving data files and the box aggregate
    * over that pruned read must reproduce the phase's full box (a
    * wrongly pruned file — i.e. a wrong manifest — hash-mismatches the
    * oracle). Contrast [[zorderAudit]], the one-shot audit that
    * re-derives stats by scanning data; at 100 TB only this path is
    * viable. */
  private def manifestAudit(s: SparkSession, tag: String,
      manifests: Seq[String]): DataFrame = {
    import s.implicits._
    val st = manifests.map(s.read.parquet(_)).reduce(_ unionByName _)
      .collect()
    val scanned = st.filter(r => r.getAs[Long]("b1_max") >= 64 &&
      r.getAs[Long]("b1_min") <= 127 && r.getAs[Long]("b2_max") >= 128 &&
      r.getAs[Long]("b2_min") <= 191)
    val sel = scanned.map(_.getAs[String]("path")).sorted.toSeq
    val rowsScanned = scanned.map(_.getAs[Long]("n_rows")).sum
    val (boxRows, boxSum) =
      if (sel.isEmpty) (0L, 0L)
      else {
        val r = s.read.parquet(sel: _*)
          .where(col("b1").between(64, 127) && col("b2").between(128, 191))
          .agg(count(lit(1)).as("box_rows"),
            coalesce(sum(col("doc_id")), lit(0L)).as("box_sum_doc"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    Seq((tag, st.length.toLong, scanned.length.toLong, rowsScanned,
        boxRows, boxSum))
      .toDF("phase", "n_files", "files_scanned", "rows_scanned",
        "box_rows", "box_sum_doc")
  }

  /** Measured skipping audit over materialized layout roots: per-file
    * stats from the files on disk → manifest prune with the
    * quarter×quarter box → Spark scan of ONLY the surviving files →
    * box aggregate (which must reproduce the phase's full box — a
    * wrongly pruned file hash-mismatches the oracle). */
  private def zorderAudit(s: SparkSession, tag: String,
      roots: Seq[String]): DataFrame = {
    val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
    val stats = roots.map(r => s.read.parquet(r)
        .groupBy(input_file_name().as("_file"))
        .agg(min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
          min(col("b2")).as("b2_min"), max(col("b2")).as("b2_max"),
          count(lit(1)).as("n_rows")))
      .reduce(_ unionByName _)
    val scanCond = col("b1_max") >= 64 && col("b1_min") <= 127 &&
      col("b2_max") >= 128 && col("b2_min") <= 191
    val m = stats.agg(
      count(lit(1)).as("n_files"),
      sum(when(scanCond, 1L).otherwise(0L)).as("files_scanned"),
      coalesce(sum(when(scanCond, col("n_rows"))), lit(0L))
        .as("rows_scanned"))
    val sel = stats.where(scanCond).select(col("_file"))
      .collect().map(_.getString(0)).toSeq.sorted
    val box =
      (if (sel.isEmpty) s.read.parquet(roots.head).where(lit(false))
       else s.read.parquet(sel: _*)).where(boxPred)
        .agg(count(lit(1)).as("box_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("box_sum_doc"))
    m.crossJoin(box).select(lit(tag).as("phase"), col("n_files"),
      col("files_scanned"), col("rows_scanned"), col("box_rows"),
      col("box_sum_doc"))
  }

  /** Trained-langid predictions (doc, lang, pred_lang, score) —
    * train-once / consume-twice across the per-doc and confusion
    * queries. */
  private val langIdTrainedFor = Artifact("langIdTrained") { (s, dir) =>
    TextAnalysis.langIdTrained(t(s, dir, "documents"),
      "doc_id", "text", "lang").transform(Pin.pin)
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
  private val e2eStagesFor = Artifact("e2ePipeline") { (s, dir) =>
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
  private def e2eIngest(docs: DataFrame): DataFrame = {
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
  private def e2eUrl: Column =
    concat(lit("https://"), col("source"), lit(".example.com/d/"),
      when(col("doc_id") >= 4000000L, col("doc_id") - 4000000L)
        .otherwise(col("doc_id")).cast("string"),
      when(col("doc_id") >= 4000000L, lit("?utm_source=feed&ref=x#s2"))
        .otherwise(lit("")))

  /** The decon benchmark: planted drop-first-word edits of cleaned
    * ORIGINAL docs. */
  private def e2eBenchOf(cleaned: DataFrame): DataFrame = cleaned
    .where(col("doc_id") % 20 === 7 && col("doc_id") < 2000000L)
    .select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
        .as("text"))

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

  /** Portable round-half-up at 6 places via explicit float arithmetic —
    * used where interpolation's dyadic time fractions can land values
    * exactly on x.xxxxxx5 halfway points (native round() semantics differ
    * between engines there; floor(x*1e6+0.5)/1e6 is the same IEEE op
    * sequence in both). */
  private def r6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

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
  private val DetMeanSql = "CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)/COUNT(value)"

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // T1 resample (non-grid): tumbling-window deterministic mean per user
    "ts_resample" -> ((s, dir) => {
      Resample.transformFixed(obsEvents(s, dir), 900, grid = false)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // T1 resample (pandas-parity full grid, empty buckets null)
    "ts_resample_grid" -> ((s, dir) => {
      sortBig(Resample.transformFixed(obsEvents(s, dir), 3600, grid = true)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value")),
        "series_key", "bucket_ts")
    }),

    // calendar-frequency resample: monthly mean per user (pandas
    // resample("MS") semantics — month bins aren't fixed-duration)
    "ts_resample_month" -> ((s, dir) => {
      ResampleCalendar.transformUnit(obsEvents(s, dir), "month")
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // T2 linear interpolation over the gridded resample
    "ts_interpolate" -> ((s, dir) => {
      val grid = Resample.transformFixed(obsEvents(s, dir), 3600, grid = true)
      sortBig(Interpolate.transform(grid, Parameters.empty)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value")),
        "series_key", "bucket_ts")
    }),

    // T3 replace-ranges (calibration-window nulling) on raw events
    "ts_replace_ranges" -> ((s, dir) => {
      val params = Parameters.of(
        "ranges" -> "2024-01-10 00:00:00/2024-01-12 00:00:00;2024-01-20 12:00:00/2024-01-21 00:00:00",
        "reason" -> "sensor calibration procedure")
      ReplaceRanges.transform(obsEvents(s, dir), params)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol).as("value"))
        
    }),

    // T4 previous-point prediction (materialized one-step shift)
    "ts_predict_prev" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      PredictPrevious.transform(resampled, Parameters.of("frequency" -> "1h"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // T5 cross-signal average: click+view event-type series aligned on 15 min
    "ts_average" -> ((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")),
        900, grid = false)
      AverageSignals.transform(byType, Parameters.empty)
        .select(fmtTs(col(TsCol)).as("bucket_ts"), r6(col(ValueCol)).as("value"))
        
    }),

    // T6 cross-signal sum (documented my_dataset_func pattern)
    "ts_sum" -> ((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      SumSignals.transform(byType, Parameters.empty)
        .select(fmtTs(col(TsCol)).as("bucket_ts"), r6(col(ValueCol)).as("value"))
        
    }),

    // T7 scalar map (documented my_func pattern): value*2 on a resample
    "ts_scale" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      ScaleValues.transform(resampled, Parameters.of("factor" -> "2.0"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // SMOOTHING: centered moving average over the hourly resample
    "ts_smooth" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      Smooth.transform(resampled, Parameters.of("window" -> "2"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // SMOOTHING (robust variant): centered rolling median over +/-3
    // resampled points — exact sorted-pick semantics, no float drift
    "ts_rolling_median" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      RollingMedian.transform(resampled, Parameters.of("window" -> "3"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // SMOOTHING (recency-weighted variant): trailing EWMA over the hourly
    // resample — both folds replayed verbatim by the oracle's list_reduce,
    // α=1/2 keeps every weight a power of two (no pow(), no libm drift)
    "ts_ewma" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
      Ewma.transform(resampled, Parameters.of("window" -> "32", "alpha" -> "0.5"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // LTTB plot downsampling: one visually-representative point per
    // hourly bucket (max triangle area vs neighbor-bucket mean anchors)
    // — the scale path for the plot-data surface; a resample averages
    // spikes away, LTTB keeps them.
    "plot_lttb" -> ((s, dir) => {
      LttbDownsample.transform(obsEvents(s, dir),
          Parameters.of("bucketSeconds" -> "3600"))
        .select(col(KeyCol).as("series_key"),
          graft.ext.EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol))
        
    }),

    // FAULT_DETECTION (statistical): per-series 3-sigma outlier counts,
    // decided via the division-free (n*x - S1)^2 > 9*(n*S2 - S1^2) form
    // over exact decimal sums — bit-stable under any partitioning
    "ts_zscore_anomaly" -> ((s, dir) => {
      graft.ext.CrossStats.zscoreAnomalies(obsEvents(s, dir))
        
    }),

    // FAULT_DETECTION (robust variant): MAD outlier counts — the
    // median/MAD pair shrugs off the wild spikes that inflate σ and mask
    // each other in the z-score path; exact sorted-pick medians so the
    // oracle's list_sort picks replay bit-for-bit
    "ts_outlier_mad" -> ((s, dir) => {
      graft.ext.CrossStats.madOutliers(obsEvents(s, dir))
        .select(col("series_key"), col("n"), r6(col("med")).as("med"),
          r6(col("mad")).as("mad"), col("n_outliers"))
        
    }),

    // WINSORIZE (robust clamp): per-series [p05, p95] percentile clamp —
    // the continuous counterpart of the replace/flag family: preserves
    // mass, cuts leverage. Bounds are exact interpolated percentiles
    // (ts_percentiles pinned them ≡ quantile_cont bit-for-bit), rounded
    // 6 dp BEFORE the branch so clamp decisions are engine-portable.
    "ts_winsorize" -> ((s, dir) => {
      sortBig(graft.ext.CrossStats.winsorize(obsEvents(s, dir), 0.05, 0.95)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"),
          r6(col("value_w")).as("value_w"), col("clipped")),
        // clipped as 4th key: value == hi (clipped=0) and value > hi
        // (clipped=1) rows tie on the first three, and the tie order
        // would otherwise be engine-arbitrary (ADVICE r9)
        "series_key", "ts_s", "value_w", "clipped")
    }),

    // FAULT_DETECTION: threshold flags on raw observations
    "ts_fault_flags" -> ((s, dir) => {
      DetectOutOfRange.transform(obsEvents(s, dir),
          Parameters.of("lo" -> "10.0", "hi" -> "150.0"))
        .groupBy(col(KeyCol).as("series_key"))
        // coalesce: an all-null series must count 0 faults like the
        // oracle's CASE ... ELSE 0 (sum over all-null is NULL in Spark)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col(ValueCol)), lit(0.0)).cast("long").as("n_faults"))
        
    }),

    // REMOVE_DUPLICATES: one observation per (series, second)
    "ts_dedup_ts" -> ((s, dir) => {
      val secs = obsEvents(s, dir)
        .select(col(KeyCol), EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol))
        .select(col(KeyCol), timestamp_seconds(col("ts_s")).as(TsCol), col(ValueCol))
      DedupTimestamps.transform(secs, Parameters.empty)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol).as("value"))
        
    }),

    // non-double value dtype on the data path: STRING state series
    // (user_id → sequence of event_type states) deduped per second with
    // the type-agnostic REMOVE_DUPLICATES operator (reference stores any
    // pandas dtype, types.py:264-290)
    "ts_state_dedup" -> ((s, dir) => {
      val obs = Observations.fromTyped(events(s, dir), "user_id", "ts", "event_type")
      val secs = obs.select(col(KeyCol),
        timestamp_seconds(EventOps.epochS(col(TsCol))).as(TsCol), col(ValueCol))
      DedupTimestamps.transform(secs, Parameters.empty)
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"), col(ValueCol).as("state"))
        
    }),

    // string state series resampled-by-last (hourly latest state per user;
    // type-agnostic max(struct(ts, value)) hash aggregate)
    "ts_state_last" -> ((s, dir) => {
      val obs = Observations.fromTyped(events(s, dir), "user_id", "ts", "event_type")
      ResampleLast.transformFixed(obs, 3600)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          col(ValueCol).as("state"))
        
    }),

    // RangeIndex (integer axis) resample: per-user series indexed by the
    // event_id counter instead of a timestamp (reference RangeIndex
    // round-trip, tests/test_index_metadata.py:94-211)
    "ts_int_resample" -> ((s, dir) => {
      val obs = events(s, dir).select(col("user_id").cast("string").as(KeyCol),
        col("event_id").as(IntAxis.IdxCol), col("value"))
      IntAxis.resampleFixed(obs, 1000L, grid = false)
        .select(col(KeyCol).as("series_key"), col(IntAxis.IdxCol),
          r6(col(ValueCol)).as("value"))
        
    }),

    // RangeIndex gridded resample + linear interpolation over the gaps
    "ts_int_interpolate" -> ((s, dir) => {
      val obs = events(s, dir).select(col("user_id").cast("string").as(KeyCol),
        col("event_id").as(IntAxis.IdxCol), col("value"))
      sortBig(IntAxis.interpolate(IntAxis.resampleFixed(obs, 1000L, grid = true))
        .select(col(KeyCol).as("series_key"), col(IntAxis.IdxCol),
          r6(col(ValueCol)).as("value")),
        "series_key", IntAxis.IdxCol)
    }),

    // E12 wide-frame ingest: one column per series (the reference's
    // Signal DataFrame ctor path, types.py:547-606) unpivoted back to the
    // tall schema via Observations.fromWide — round trip through a pivot
    // must equal the direct tall computation, nulls preserved for
    // timestamps where a series has no bucket
    "ts_wide_ingest" -> ((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      val wide = byType.groupBy(col(TsCol))
        .pivot(KeyCol, Seq("click", "view"))
        .agg(first(col(ValueCol)))
      Observations.fromWide(wide, TsCol, Seq("click", "view"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          col(ValueCol).as("value"))
        
    }),

    // E2 dataset executor end-to-end: two event-type signals ingested,
    // resampled through Signal.process, then averaged through
    // Dataset.process — must equal the pure-SQL alignment+mean
    "dataset_average" -> ((s, dir) => {
      val ev = events(s, dir)
      def sigOf(t: String, name: String) = MeteauSignal.ingest(
        Observations.from(ev.where(col("event_type") === t),
          "event_type", "ts", "value").select(col(TsCol), col(ValueCol)),
        name, "mg/l")
        .process(Seq(s"$name#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "15min", "grid" -> "false"))
      val ds = graft.core.MeteauDataset.of("da",
          Seq(sigOf("click", "C"), sigOf("view", "V")))
        .process(Seq("C#1_RESAMPLED#1", "V#1_RESAMPLED#1"), AverageSignals)
      ds.signal("AVERAGE#1").series("AVERAGE#1_RAW#1")
        .select(fmtTs(col(TsCol)).as("bucket_ts"), r6(col(ValueCol)).as("value"))
        
    }),

    // TimedeltaIndex compute path: per-user ELAPSED-TIME series (µs since
    // the user's first event) resampled into exact integer-µs buckets via
    // the long axis — the reference's resample-on-TimedeltaIndex contract
    // (processing_steps/univariate/resample.py:43-46)
    "ts_td_resample" -> ((s, dir) => {
      val base = events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val w = Window.partitionBy("user_id")
      val td = base
        .withColumn("_m", min(unix_micros(col("ts"))).over(w))
        .select(col("user_id").cast("string").as(KeyCol),
          timestamp_micros(unix_micros(col("ts")) - col("_m")).as(TsCol),
          col("value").as(ValueCol))
      TimedeltaAxis.resample(td, "15min", grid = false)
        .select(col(KeyCol).as("series_key"),
          unix_micros(col(TsCol)).as("td_us"), r6(col(ValueCol)).as("value"))
        
    }),

    // timedelta gridded resample + interpolation: exact integer-µs grid,
    // gaps filled with exact µs ratios
    "ts_td_interpolate" -> ((s, dir) => {
      val base = events(s, dir).where(col("user_id") < 20)
        .select(col("user_id"), col("ts"), col("value"))
      val w = Window.partitionBy("user_id")
      val td = base
        .withColumn("_m", min(unix_micros(col("ts"))).over(w))
        .select(col("user_id").cast("string").as(KeyCol),
          timestamp_micros(unix_micros(col("ts")) - col("_m")).as(TsCol),
          col("value").as(ValueCol))
      TimedeltaAxis.interpolate(
          TimedeltaAxis.resample(td, "1h", grid = true))
        .select(col(KeyCol).as("series_key"),
          unix_micros(col(TsCol)).as("td_us"), r6(col(ValueCol)).as("value"))
        
    }),

    // SORTING: ascending-value rank re-index (RangeIndex output) over the
    // hourly resample — closes the declared-but-unshipped enum category
    "ts_sort" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      SortValues.transform(resampled, Parameters.empty)
        .select(col(KeyCol).as("series_key"),
          col(TsCol).cast("long").as("rank"), col(ValueCol).as("value"))
        
    }),

    // FAULT_IDENTIFICATION: per-point class labels over the hourly
    // resample (unique buckets make the lag deterministic)
    "ts_fault_identify" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      FaultIdentify.transform(resampled,
          Parameters.of("lo" -> "20.0", "hi" -> "140.0", "jump" -> "40.0"))
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          col(ValueCol).as("fault_class"))
        
    }),

    // FAULT_DIAGNOSIS: one per-series verdict over the fault classes
    // (integer-percent thresholds — no float division in the rules)
    "ts_fault_diagnosis" -> ((s, dir) => {
      val resampled = Resample.transformFixed(obsEvents(s, dir), 3600, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      val classes = FaultIdentify.transform(resampled,
        Parameters.of("lo" -> "20.0", "hi" -> "140.0", "jump" -> "40.0"))
      FaultDiagnose.transform(classes,
          Parameters.of("high_pct" -> "7", "jump_pct" -> "30", "low_pct" -> "35"))
        .select(col(KeyCol).as("series_key"),
          fmtTs(col(TsCol)).as("last_bucket_ts"), col(ValueCol).as("diagnosis"))
        
    }),

    // DIMENSIONALITY_REDUCTION: PCA over the click/view aligned series.
    // The distributed part (exact-decimal scatter accumulation, ops/Pca
    // .fit) is the scale path; the d=2 eigensolve here uses the closed
    // form in a PINNED float shape both engines share (the general-d
    // Jacobi solver is exercised against it in TransformsSpec).
    "ts_pca" -> ((s, dir) => {
      import s.implicits._
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      val m = Pca.fit(byType, Seq("click", "view"))
      val (cxx, cyy, cxy) = (m.cov(0)(0), m.cov(1)(1), m.cov(0)(1))
      val disc = math.sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy)
      val lam1 = ((cxx + cyy) + disc) / 2
      val lam2 = ((cxx + cyy) - disc) / 2
      val nrm = math.sqrt(cxy * cxy + (lam1 - cxx) * (lam1 - cxx))
      val ex = cxy / nrm
      val ey = (lam1 - cxx) / nrm
      def r6d(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
      Seq((m.n, r6d(lam1), r6d(lam2), r6d(lam1 / (lam1 + lam2)),
          r6d(if (ex < 0) -ex else ex), r6d(if (ex < 0) -ey else ey)))
        .toDF("n", "lam1", "lam2", "var_explained", "pc1_x", "pc1_y")
    }),

    // order statistics: exact interpolated percentiles per series
    // (Spark `percentile` ≡ DuckDB `quantile_cont`, verified bit-identical)
    "ts_percentiles" -> ((s, dir) => {
      events(s, dir).groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        
    }),

    // RFM segmentation (recency / frequency / monetary quintiles): the
    // classic behavioral-scoring rollup. One per-user aggregate; the
    // quintile CUTOFFS are exact interpolated percentiles over the
    // per-user frame (tiny — O(users)) rounded 6 dp and broadcast back,
    // so membership is a row-local threshold CASE — no per-segment
    // ntile sort of the corpus, and the scores are engine-portable.
    // All three scores are quintile indexes by ASCENDING value.
    "event_rfm" -> ((s, dir) => {
      val e = events(s, dir)
      val perUser = e.groupBy(col("user_id").cast("string").as("series_key"))
        .agg(max(EventOps.epochS(col("ts"))).as("last_s"),
          count(lit(1)).as("freq"),
          r6(sum(col("value").cast(DecimalType(27, 8))).cast("double"))
            .as("monetary"))
      val refTs = e.agg(max(EventOps.epochS(col("ts"))).as("_ref"))
      val rfm = perUser.crossJoin(broadcast(refTs))
        .withColumn("recency_days",
          ((col("_ref") - col("last_s")) - pmod(col("_ref") - col("last_s"),
            lit(86400L))) / lit(86400L))
        .withColumn("recency_days", col("recency_days").cast("long"))
      def cuts(c: String) = rfm.agg(
        r6(expr(s"percentile($c, 0.2)")).as(s"${c}_20"),
        r6(expr(s"percentile($c, 0.4)")).as(s"${c}_40"),
        r6(expr(s"percentile($c, 0.6)")).as(s"${c}_60"),
        r6(expr(s"percentile($c, 0.8)")).as(s"${c}_80"))
      def score(c: String) =
        (lit(1L) + (col(c) > col(s"${c}_20")).cast("long") +
          (col(c) > col(s"${c}_40")).cast("long") +
          (col(c) > col(s"${c}_60")).cast("long") +
          (col(c) > col(s"${c}_80")).cast("long")).as(s"${c.take(1)}_score")
      rfm.crossJoin(broadcast(cuts("recency_days")))
        .crossJoin(broadcast(cuts("freq")))
        .crossJoin(broadcast(cuts("monetary")))
        .select(col("series_key"), col("recency_days"), col("freq"),
          col("monetary"), score("recency_days"), score("freq"),
          score("monetary"))
        
    }),

    // per-series CUSUM changepoint — WHERE the level moved (z-score/MAD
    // only say THAT outliers exist): argmax of the exact integer-scaled
    // |n·S_k − k·S_n| (decimal running sums, no float before the
    // decision), earliest-index ties
    "ts_changepoint" -> ((s, dir) => {
      graft.ext.CrossStats.cusumChangepoint(events(s, dir), "user_id",
          "ts", "event_id", "value")
        .select(col("series_key"), col("n"),
          col("cp_idx").cast("long").as("cp_idx"),
          EventOps.epochS(col("cp_ts")).as("cp_ts_s"),
          r6(col("cusum_stat")).as("cusum_stat"))
        
    }),

    // per-series lag-1 autocorrelation (persistence / mean-reversion /
    // white-noise diagnostic): Pearson over consecutive-observation
    // pairs, event_id tie-break makes the sequence order total
    "ts_autocorr" -> ((s, dir) => {
      graft.ext.CrossStats.acf1ByKey(events(s, dir), "user_id", "ts",
          "event_id", "value")
        .select(col("series_key"), col("n"), r6(col("acf1")).as("acf1"))
        
    }),

    // cross-series Pearson correlation (deterministic decimal accumulators)
    "ts_correlation" -> ((s, dir) => {
      val byType = Resample.transformFixed(
        obsByType(s, dir).where(col(KeyCol).isin("click", "view")), 900, grid = false)
        .select(col(KeyCol), col(TsCol), r6(col(ValueCol)).as(ValueCol))
      graft.ext.CrossStats.correlation(byType, "click", "view")
        .select(col("n"), round(col("corr"), 6).as("corr"))
    }),

    // E1/E3/E5 engine executor + versioned naming + dependency graph:
    // run the canonical pipeline through Signal.process and emit the
    // dependency edges of the final series (pinned contract).
    "lineage_edges" -> ((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l",
          DataProvenance(parameter = Some("COD")))
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "true"))
        .process(Seq("A#1_RESAMPLED#1"), ReplaceRanges,
          Parameters.of("ranges" -> "2024-01-10 00:00:00/2024-01-12 00:00:00"))
        .process(Seq("A#1_REPLACED-RANGES#1"), Interpolate)
      sig.dependencyEdges("A#1_LIN-INT#1")
        .toDF().select(col("step"), col("stepType").as("step_type"),
          col("origin"), col("destination"))
        
    }),

    // E11 layout: the dependency-graph geometry the reference's
    // plot_dependency_graph draws (node boxes + edge lines, 0.1 pad,
    // i/n staggering), computed from LIVE engine lineage; the oracle
    // recomputes the same arithmetic in SQL from the pinned edge list
    // (recursive-CTE topological depth = the reference's created_on
    // order on engine-produced lineage)
    "lineage_layout" -> ((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l",
          DataProvenance(parameter = Some("COD")))
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "true"))
        .process(Seq("A#1_RESAMPLED#1"), ReplaceRanges,
          Parameters.of("ranges" -> "2024-01-10 00:00:00/2024-01-12 00:00:00"))
        .process(Seq("A#1_REPLACED-RANGES#1"), Interpolate)
      sig.dependencyLayout("A#1_LIN-INT#1")
        .toDF().select(col("kind"), col("label"),
          round(col("x0"), 6).as("x0"), round(col("y0"), 6).as("y0"),
          round(col("x1"), 6).as("x1"), round(col("y1"), 6).as("y1"),
          round(col("xm"), 6).as("xm"), round(col("ym"), 6).as("ym"))
        
    }),

    // E4 lineage dedup: two inputs sharing an identical upstream step
    // (the SAME resample of the SAME raw series) merge into ONE lineage
    // with first-occurrence order preserved — resample appears once,
    // before the interpolation that only one branch carries
    // (types.py:466-473 remove_duplicated_steps)
    "lineage_dedup" -> ((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l")
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RAW#1"), Resample, // identical step → RESAMPLED#2
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RESAMPLED#1"), Interpolate)
      val ds = graft.core.MeteauDataset.of("ld", Seq(sig))
        .process(Seq("A#1_LIN-INT#1", "A#1_RESAMPLED#2"), AverageSignals)
      val steps = ds.signal("AVERAGE#1").meta
        .seriesMeta("AVERAGE#1_RAW#1").get.steps
      steps.zipWithIndex.map { case (st, i) =>
        (i + 1, st.functionInfo.name, st.stepType.value)
      }.toDF("step_idx", "step", "step_type")
    }),

    // E9 JSON serde: the full catalog (8 index kinds' worth of fields,
    // lineage, provenance) survives toJson→fromJson losslessly; the
    // emitted per-series rows come from the REPARSED catalog and the
    // round_trip flag pins deep equality with the original
    "json_serde" -> ((s, dir) => {
      import s.implicits._
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l",
          DataProvenance(parameter = Some("COD")))
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RESAMPLED#1"), Interpolate)
      val meta = graft.core.MeteauDataset.of("js", Seq(sig)).meta
      val back = graft.io.SignalIO.fromJson(graft.io.SignalIO.toJson(meta))
      back.signals.flatMap(sm => sm.series.map { se =>
        (se.seriesKey, se.valuesDtype, se.index.kind.value, se.steps.size,
          se.steps.lastOption.map(_.functionInfo.name).getOrElse(""),
          back == meta)
      }).toDF("series_key", "dtype", "index_kind", "n_steps",
        "last_step", "round_trip")
    }),

    // E11 plot-data operator: the canonical pipeline's series with
    // display mode per trace (prediction rendered lines+markers)
    "plot_frame" -> ((s, dir) => {
      val raw = Observations.from(events(s, dir).where(col("user_id") === 1),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "A", "mg/l")
        .process(Seq("A#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
        .process(Seq("A#1_RESAMPLED#1"), PredictPrevious,
          Parameters.of("frequency" -> "1h"))
      sig.plotFrame(Seq("A#1_RAW#1", "A#1_RESAMPLED#1", "A#1_PREV-PRED#1"), 3600L)
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("ts_str"),
          r6(col(ValueCol)).as("value"), col("mode"))
        
    }),

    // dataset-level plot frame: stacked per-signal subplot rows over two
    // engine-built signals (reference Dataset.plot, types.py:1431-1473)
    "dataset_plot_frame" -> ((s, dir) => {
      val ev = events(s, dir)
      def sigOf(t: String, name: String) = MeteauSignal.ingest(
        Observations.from(ev.where(col("event_type") === t),
          "event_type", "ts", "value").select(col(TsCol), col(ValueCol)),
        name, "mg/l")
        .process(Seq(s"$name#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "15min", "grid" -> "false"))
      val ds = graft.core.MeteauDataset.of("dp",
        Seq(sigOf("click", "C"), sigOf("view", "V")))
      ds.plotFrame(Seq("C#1_RAW#1", "C#1_RESAMPLED#1",
          "V#1_RAW#1", "V#1_RESAMPLED#1"), 900L)
        .select(col(KeyCol).as("series_key"), col("subplot_row"),
          fmtTs(col(TsCol)).as("ts_str"), r6(col(ValueCol)).as("value"),
          col("mode"))
        
    }),

    // ------------------------------------------------- relational coverage

    // scan + hash aggregate with exact decimal sums (TPC-H Q1 shape)
    "rel_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(24, 6))).cast("double"), 4).as("sum_disc"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).cast(DecimalType(24, 6))).cast("double"), 4)
            .as("sum_charge"),
          count(lit(1)).as("count_order"))
        
    }),

    // TPC-H Q3 (shipping priority): the canonical 3-way selective join —
    // filters push to all three scans, the pruned customer key set
    // broadcasts, lineitem (the fact) never shuffles before its
    // aggregate, and the top-10 is a TakeOrdered, not a global sort.
    // Revenue sums are exact decimals of the row-local double product
    // (engine-identical), so the top-k cut is deterministic.
    "rel_q3_shipping" -> ((s, dir) => {
      val cut = lit("1995-03-15").cast("date")
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        // portable floor-based round, not native round: revenue feeds the
        // top-10 cut below, so the rounding must be engine-identical
        .agg((floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast("double") * 10000.0 + 0.5) / 10000.0)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd")
          .as("orderdate"), col("o_orderpriority").as("priority"), col("revenue"))
    }),

    // broadcast-join chain + aggregate (orders ⋈ customer ⋈ nation)
    "rel_revenue_by_nation" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"), 2)
          .as("revenue"), count(lit(1)).as("n_orders"))
        
    }),

    // co-located join via bucketed tables: both sides bucketed 8 ways on
    // the customer key at write time, so the merge join executes with
    // ZERO exchange and ZERO sort — the plan's only shuffle is the final
    // group-by. THE 100 TB pattern for repeated fact-dim joins on a
    // stable key: pay the partitioning once at ingest, every downstream
    // join is shuffle-free (the merge hint stands in for the
    // beyond-broadcast dimension size this models; BucketedJoinSpec pins
    // the exchange-free plan). Bucketed copies materialize once per
    // (JVM, sf-dir); bench rep 1 absorbs the write like it absorbs
    // codegen.
    "rel_bucketed_join" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ot = s"graft_bkt_orders_$tag"
      val ct = s"graft_bkt_customer_$tag"
      if (!s.catalog.tableExists(ot)) {
        t(s, dir, "orders").write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$scratchBase/graft_bucketed_$tag/orders")
          .saveAsTable(ot)
      }
      if (!s.catalog.tableExists(ct)) {
        t(s, dir, "customer").write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$scratchBase/graft_bucketed_$tag/customer")
          .saveAsTable(ct)
      }
      s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double"), 2).as("revenue"))
        
    }),

    // window-function rank: top-3 orders per customer
    "rel_top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        
    }),

    // global sort + limit (top-k scan)
    "rel_part_topk" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
        .limit(20)
    }),

    // distinct aggregation (expand-based distinct-agg plan)
    "rel_distinct_users" -> ((s, dir) => {
      events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        
    }),

    // sketch aggregates (the 100 TB staples): HyperLogLog++ distinct and
    // quantile-sketch median. Verify pins each sketch against its exact
    // twin IN the query (the emitted flags hash-match an all-TRUE oracle,
    // so the driver gate enforces the error bounds); Bench (graft.recall
    // =off) times the sketch-only plan — the exact twins are Verify-time
    // evidence, not workload: exact percentile buffers every group's
    // values in the agg buffer (executor-OOM at 100×) and dual
    // exact+approx countDistinct forces an Expand that doubles scan input
    // (r4 VERDICT wrong-item 1).
    "rel_sketches" -> ((s, dir) => {
      val e = events(s, dir)
      if (recallOn)
        e.groupBy(col("event_type")).agg(
            countDistinct(col("user_id")).as("n_users"),
            approx_count_distinct(col("user_id"), 0.02).as("_apx"),
            expr("percentile(value, 0.5)").as("_p50"),
            expr("approx_percentile(value, 0.5, 1000)").as("_ap50"))
          .select(col("event_type"), col("n_users"),
            (abs(col("_apx") - col("n_users")) <= col("n_users") * 0.05)
              .as("hll_within_5pct"),
            (abs(col("_ap50") - col("_p50")) <= abs(col("_p50")) * 0.05 + 1.0)
              .as("quantile_within_5pct"))
          .orderBy("event_type")
      else
        e.groupBy(col("event_type")).agg(
            approx_count_distinct(col("user_id"), 0.02).as("n_users"),
            expr("approx_percentile(value, 0.5, 1000)").as("p50"))
          
    }),

    // salted two-stage aggregation (skew-resistant; exact decimal partials
    // make the result independent of the salt distribution)
    "skew_salted_mean" -> ((s, dir) => {
      graft.ext.Skew.saltedMeanByKey(events(s, dir), "user_id", "value")
        .select(col("user_id"), round(col("sum"), 2).as("sum"), col("n"),
          r6(col("mean")).as("mean")) // sum/2^k counts can land on x.xxxxxx5
        
    }),

    // grouping sets: ROLLUP over (status, priority) with subtotal rows
    // (labels coalesced so null-ordering semantics never differ)
    "rel_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
        
    }),

    // full CUBE with grouping_id: all four aggregation lattices of
    // (returnflag, linestatus) in one pass — Spark expands the cube
    // map-side, so the whole lattice costs the same single shuffle as a
    // plain group-by.
    "rel_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double"), 2).as("sum_qty"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("sum_qty"))
        
    }),

    // GROUPING SETS (the general multi-rollup cube/rollup can't spell):
    // the exact four aggregation grains of interest — (priority,status),
    // each alone, and the grand total — in ONE pass over the fact table
    // (Expand + a single hash aggregate; four separate GROUP BYs would
    // scan the corpus four times at 100 TB). grouping() flags + '(all)'
    // coalescing keep the rollup rows engine-portable (no NULL-ordering
    // divergence).
    "rel_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq(col("o_orderstatus")),
            Seq.empty),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (floor(sum(col("o_totalprice").cast(DecimalType(27, 8)))
            .cast("double") * 100.0 + 0.5) / 100.0).as("revenue"),
          grouping(col("o_orderpriority")).cast("long").as("g_pri"),
          grouping(col("o_orderstatus")).cast("long").as("g_st"))
        .select(coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          col("g_pri"), col("g_st"), col("n_orders"), col("revenue"))
        
    }),

    // PIVOT: per-year revenue spread across order statuses as columns.
    // Explicit pivot values (F/O/P) — without them Spark runs an extra
    // distinct-collect job over the corpus just to discover the column
    // set, a full scan that 100 TB cannot afford; with them the whole
    // query is ONE hash aggregate with three conditional exact-decimal
    // sums (the identical plan the oracle's CASE aggregation declares).
    "rel_pivot" -> ((s, dir) => {
      val r2: Column => Column = c => floor(c * 100.0 + 0.5) / 100.0
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(r2(sum(col("o_totalprice").cast(DecimalType(27, 8)))
          .cast("double")))
        .withColumnsRenamed(Map("F" -> "rev_f", "O" -> "rev_o", "P" -> "rev_p"))
        
    }),

    // EQUI-DEPTH HISTOGRAM (decile stats): global positional deciles over
    // order totals WITHOUT a single-partition sort — Ranks.globalRowNumber
    // is the range-partition + local-rank + offset-join shape that keeps
    // full parallelism at 100 TB (a bare row_number() OVER (ORDER BY …)
    // collapses the corpus into one task). decile = ((rn−1)·10) div n —
    // exact integer arithmetic, identical in the oracle.
    "rel_decile_stats" -> ((s, dir) => {
      val ranked = graft.ext.Ranks.globalRowNumber(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")))
      val n = broadcast(ranked.groupBy().agg(count(lit(1)).as("_n")))
      ranked.crossJoin(n)
        .withColumn("decile", expr("((rn - 1) * 10) div _n") + 1)
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          (floor(sum(col("o_totalprice").cast(DecimalType(27, 8)))
            .cast("double") * 100.0 + 0.5) / 100.0).as("revenue"))
        
    }),

    // RANGE-frame window (calendar-aware moving aggregate): 7-day
    // trailing revenue per order priority. The frame is RANGE BETWEEN 6
    // PRECEDING over an epoch-day axis, so calendar gaps shrink the
    // window (a ROWS frame would silently span them) — the classic
    // time-relative rollup a ROWS-only engine can't express. Scale
    // shape: the pre-aggregate shrinks the corpus to priorities×days
    // rows BEFORE the window, and the window partitions by priority —
    // no single-task global sort; moving sums stay DECIMAL (exact,
    // order-free) until one cast + round at the end.
    "rel_moving_avg" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(27, 8))).as("_rev"))
        .withColumn("_day_n",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      val w = Window.partitionBy(col("priority")).orderBy(col("_day_n"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("_mov", sum(col("_rev")).over(w))
        .withColumn("_nd", count(lit(1)).over(w))
        .select(col("priority"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          r6(col("_rev").cast("double")).as("day_rev"),
          r6(col("_mov").cast("double")).as("rev_7d"),
          r6(col("_mov").cast("double") / col("_nd")).as("avg_rev_7d"))
        
    }),

    // left-semi join (TPC-H Q4 shape): orders with at least one
    // late-shipped lineitem, counted per priority — the EXISTS plan
    "rel_semi_join" -> ((s, dir) => {
      val late = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1995-06-01").cast("date"))
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        
    }),

    // left-anti join (TPC-H Q22 flavor): customers with no 1995 orders,
    // rolled up per nation — the NOT IN-subquery plan. The anti side is
    // year-sliced so the kept set is non-trivial (every customer in the
    // fixture has SOME order; ~2/3 have none in 1995), making the gate
    // exercise the anti-join data path rather than pin empty == empty.
    "rel_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(year(col("o_orderdate")) === 1995),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total_acctbal"))
        
    }),

    // set operations: customers ordering in 1995-01 EXCEPT 1995-02, and
    // the INTERSECT of both months, tagged and unioned. Month granularity
    // (the fixture's orders span 1995-01..2001-08) keeps both branches
    // non-empty at every SF, so EXCEPT and INTERSECT each prune/keep real
    // rows instead of matching on empty sets.
    "rel_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(m: String) = o
        .where(date_format(col("o_orderdate"), "yyyy-MM") === m)
        .select(col("o_custkey"))
      val onlyJan = custs("1995-01").except(custs("1995-02"))
        .select(lit("only_jan").as("tag"), col("o_custkey"))
      val both = custs("1995-01").intersect(custs("1995-02"))
        .select(lit("both_months").as("tag"), col("o_custkey"))
      onlyJan.unionByName(both)
    }),

    // time-window rollup on a date column (monthly order stats)
    "rel_orders_monthly" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        
    }),

    // ------------------------------------------------- extension operators

    // exact dedup (hash-groupBy, deterministic keeper)
    "doc_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_copies"))
        
    }),

    // JSON-lines corpus interchange — the lingua-franca export format of
    // LLM data pipelines: write the documents table as JSONL, read it
    // back with an EXPLICIT schema (no driver-side inference pass over
    // TBs), and prove byte fidelity via per-lang counts + id/char sums +
    // an md5-derived text checksum computed on the round-tripped rows.
    // The oracle computes identical checksums from the source table, so
    // a green row pins the encode/decode of every text byte (JSON
    // escaping included).
    "io_jsonl_roundtrip" -> ((s, dir) => {
      val back = s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(jsonlFor(s, dir))
      sortSmall(back.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long"), lit(1000003L))).as("checksum")), "lang")
    }),

    // corpus snapshot diff (data versioning for iterated training-set
    // builds): v1 = doc_id % 5 != 0, v2 = doc_id % 7 != 0 with every
    // % 10 == 3 doc's text mutated — added/removed/changed/unchanged per
    // id via one co-partitioned full-outer join over (id, md5) pairs
    // (digests computed row-local; bodies never shuffle).
    "doc_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 5 =!= 0)
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      Corpus.snapshotDiff(v1, v2, "doc_id", "text")
        
    }),

    // token-budget truncation to 64 whitespace tokens: before/after
    // counts + an md5 digest of the kept prefix pinning the exact cut.
    "doc_truncate_tokens" -> ((s, dir) => {
      TextAnalysis.truncateTokens(t(s, dir, "documents"), "doc_id",
          "text", maxTokens = 64)
        
    }),

    // portable Bloom-filter incremental dedup: the historical corpus
    // (doc_id % 5 != 0) compresses to a <= 65536-bit filter (as its
    // distinct set-bit frame — broadcastable no matter the corpus size);
    // the probe batch (doc_id % 5 == 0, plus PLANTED verbatim copies of
    // corpus docs under +100000 ids so true duplicates exist at every sf)
    // flags maybe-dups row-locally. md5-derived bit positions make the
    // filter ENGINE-NEUTRAL, so DuckDB rebuilds the identical bits and
    // the gate pins the full Bloom semantics — flags, the planted
    // no-false-negative guarantee, and any false positives — exactly.
    // exact_dup (a distinct-text semi-join) rides along as ground truth:
    // maybe_dup >= exact_dup row-for-row is the Bloom contract.
    "doc_bloom_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val planted = corpus.where(col("doc_id") % 50 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val probes = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).unionByName(planted)
      val bits = Dedup.bloomBuild(corpus, "text", m = 65536, k = 5)
      val flagged = Dedup.bloomProbe(probes, "doc_id", "text", bits,
        m = 65536, k = 5)
      val truth = probes.join(
          corpus.select(col("text")).distinct().withColumn("_in", lit(1L)),
          Seq("text"), "left")
        .select(col("doc_id"), coalesce(col("_in"), lit(0L)).as("exact_dup"))
      sortSmall(flagged.join(truth, "doc_id")
        .select(col("doc_id").as("doc"), col("maybe_dup"), col("exact_dup")),
        "doc")
    }),

    // exact n-gram Jaccard near-dup pairs
    "doc_jaccard_pairs" -> ((s, dir) => {
      val sh = Dedup.hashedShingles(t(s, dir, "documents"), "doc_id", "text", 3)
      sortSmall(Dedup.jaccardPairs(sh, 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
        "doc_a", "doc_b")
    }),

    // asymmetric containment pairs (doc-inside-doc detection): fragment
    // copies Jaccard misses when the host is much larger — one-sided
    // prefix filter (containee) × full probe (host), both directions
    "doc_containment_pairs" -> ((s, dir) => {
      val sh = Dedup.hashedShingles(t(s, dir, "documents"), "doc_id", "text", 3)
      sortSmall(Dedup.containmentPairs(sh, 0.8)
        .select(col("doc_a"), col("doc_b"),
          round(col("containment"), 6).as("containment")),
        "doc_a", "doc_b")
    }),

    // MinHash-LSH near-dup pairs with exact verification (same oracle as
    // exact Jaccard — recall at the planted-dup level is ~1)
    "doc_minhash_lsh" -> ((s, dir) => {
      sortSmall(Dedup.minhashDupPairs(t(s, dir, "documents"), "doc_id", "text", 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
        "doc_a", "doc_b")
    }),

    // cluster resolution over the near-dup pair graph: connected
    // components by min-label propagation — each doc's keeper is the
    // minimum reachable id (the keep-one-per-cluster dedup decision).
    // Oracle: DuckDB recursive-CTE transitive closure over the same
    // exact-Jaccard pairs.
    "doc_dedup_clusters" -> ((s, dir) => {
      val cl = clustersFor(s, dir)
      val sizes = cl.groupBy(col("root")).agg(count(lit(1)).as("cluster_size"))
      sortSmall(cl.join(sizes, "root")
        .select(col("doc").as("doc_id"), col("root").as("keeper"),
          col("cluster_size")), "doc_id")
    }),

    // keep-BEST-in-cluster: same near-dup clusters, but the kept
    // representative is the highest-quality member (most ws-tokens, ties
    // to the lowest id) instead of the min-id root — the decision layer a
    // production pipeline actually wants (keep the longest variant, drop
    // the truncated copies). One join of the cluster table to row-local
    // token counts + a per-root window over cluster-sized groups.
    "doc_keep_best" -> ((s, dir) => {
      val cl = clustersFor(s, dir)
      val q = t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val member = cl.join(q, cl("doc") === q("doc_id"))
      val w = Window.partitionBy(col("root"))
        .orderBy(col("n_tokens").desc, col("doc"))
      sortSmall(member.withColumn("_r", row_number().over(w))
        .where(col("_r") === 1)
        .select(col("root"), col("doc").as("best_doc"), col("n_tokens")),
        "root")
    }),

    // the end-to-end dedup DECISION: which documents a training pipeline
    // keeps. Exact duplicates have Jaccard 1, so the near-dup pair graph
    // subsumes exact dedup — kept = docs outside any cluster plus each
    // cluster's keeper. Left anti/semi composition over the shared
    // cluster table (mined once per sf dir).
    "doc_dedup_keep" -> ((s, dir) => {
      val cl = clustersFor(s, dir)
      val kept = t(s, dir, "documents").select(col("doc_id"))
        .join(cl, col("doc_id") === col("doc"), "left")
        .where(col("root").isNull || col("root") === col("doc_id"))
        .select(col("doc_id"))
      sortBig(kept, "doc_id")
    }),

    // the MATERIALIZED dedup decision: join the keep-list back to the
    // documents table, write the deduped corpus as lang-partitioned
    // parquet (the artifact an LLM training-data pipeline ships), then
    // audit the files on disk — per-lang count, id/char sums, and an
    // md5-derived content checksum over the text actually written. The
    // oracle recomputes the same keep-join + checksums from the source
    // table, so a green row proves the end-to-end
    // mine→cluster→keep→write→read-back path, not just the plan.
    "doc_dedup_sink" -> ((s, dir) => {
      val sink = s.read.parquet(dedupSinkFor(s, dir))
      sortSmall(sink.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long"), lit(1000003L))).as("checksum")),
        "lang")
    }),

    // the FULL curation pipeline an LLM data pipeline actually ships,
    // composed from operators this engine already declares one-by-one:
    // quality thresholds (n_tokens >= 15, stopword_ratio >= 0.01,
    // distinct_ratio >= 0.3 — each cuts real rows on this corpus),
    // Gopher-style repetition cut (top_2gram_frac <= 0.1), language-ID
    // confidence (pred_lang <> 'und' — drops the ~24% of docs whose
    // function-word hits are zero, e.g. zh), then the near-dup keep-join,
    // materialized as lang-partitioned parquet and AUDITED ON DISK (the
    // oracle recomputes the identical filter+keep join + checksums from
    // the source table). All predicate comparisons are on ROUNDED ratio
    // values the per-operator gates already hash-match, so the filter
    // boundary is bit-identical across engines. Scale shape: the three
    // filters are row-local projections / one (doc, gram) aggregate;
    // every join key is doc_id, so the composite aligns on one exchange
    // and the write shuffles once into lang partitions.
    "doc_curate_sink" -> ((s, dir) => {
      val sink = s.read.parquet(curateSinkFor(s, dir))
      sortSmall(sink.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long"), lit(1000003L))).as("checksum")),
        "lang")
    }),

    // token-budget SHARD PACKING — the concat-then-chunk layout step
    // that turns a curated corpus into fixed-size training shards:
    // documents laid end to end in doc_id order, a document's shard is
    // where its first token lands. Computed as a distributed two-stage
    // prefix sum (per-id-range token totals → exclusive prefix over the
    // tiny bucket frame → partitioned intra-bucket running sum), so no
    // corpus-wide single-task window exists in the plan; bucketWidth 64
    // exercises multiple buckets at this sf (output is width-invariant,
    // pinned in ExtSpec). Exact integer arithmetic throughout.
    "doc_pack_shards" -> ((s, dir) => {
      sortBig(Corpus.packShards(t(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 1000L, bucketWidth = 64L), "doc")
    }),

    // fixed-length SEQUENCE packing (context-window layout): documents
    // laid end to end, cut every 256 tokens; each doc's sequence span +
    // in-sequence offset — the loader-facing twin of doc_pack_shards
    // (same decomposed prefix sum, docs SPAN cuts instead of binning)
    "doc_seq_pack" -> ((s, dir) => {
      sortBig(Corpus.packSequences(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 256L, bucketWidth = 64L), "doc")
    }),

    // seeded GLOBAL SHUFFLE + shard packing — the reproducible
    // training-order step: shuffle key = md5(seed:doc), documents laid
    // end to end in key order, cut every 1000 tokens. Same decomposed
    // prefix sum as doc_pack_shards but bucketed by the key's first two
    // hex digits (256 uniformly-loaded hash ranges — md5 balances them
    // by construction, so the shuffle also FIXES any id skew).
    "doc_shuffle_pack" -> ((s, dir) => {
      sortBig(Corpus.shufflePack(t(s, dir, "documents"), "doc_id", "text",
        seed = "shuf42", budgetTokens = 1000L), "doc")
    }),

    // per-language tokenizer FERTILITY (BPE tokens per word) — the
    // cross-lingual tokenizer-fairness metric a multilingual corpus
    // audit reports (a language with high fertility pays more context
    // budget per word). Same cached merge table; one tiny per-lang
    // aggregate on top of the per-doc counts.
    "text_bpe_fertility" -> ((s, dir) => {
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
        
    }),

    // sequence packing keyed on REAL learned-BPE token counts (the
    // budget a training loader actually fills) instead of the
    // whitespace approximation — the trained merge table feeds the same
    // decomposed prefix-sum packing; the oracle composes the generated
    // BPE replay with the packing arithmetic.
    "doc_seq_pack_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      val counts = graft.ext.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .select(col("doc"), col("bpe_tokens").as("n_tokens"))
      sortBig(Corpus.packSequencesFromCounts(counts, seqLen = 256L,
        bucketWidth = 64L), "doc")
    }),

    // the same packing keyed on the TRAINED UNIGRAM tokenizer's counts
    // (r14) — the loader-budget composition for the second tokenizer
    // family; the oracle composes the generated unigram training replay
    // with the identical packing arithmetic
    "doc_seq_pack_unigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = graft.ext.Unigram.tokenCountsFromDict(docs, "doc_id",
          "text", unigramDictFor(s, dir))
        .select(col("doc"), col("uni_tokens").as("n_tokens"))
      sortBig(Corpus.packSequencesFromCounts(counts, seqLen = 256L,
        bucketWidth = 64L), "doc")
    }),

    // FUZZY decontamination — the near-dup completion of
    // doc_decontaminate's exact 5-gram overlap: benchmark docs that were
    // lightly EDITED before leaking into the train side (here: planted
    // with the first word dropped, so exact-prefix matching breaks but
    // shingle Jaccard stays high) are caught by an EXACT cross-corpus
    // shingle join (crossJaccardPairs): the bench side is small enough
    // to broadcast — the decontamination case always is — so recall is
    // 1.0 by construction and the brute-force oracle matches
    // definitionally at any scale (a banded MinHash detector has ~64%
    // per-pair recall exactly AT J = 0.5, a latent data-dependent red if
    // a natural just-above-threshold pair ever appears). Train corpus
    // never shuffled on a content key.
    // Decision layer: per train doc, how many benchmark docs it collides
    // with and the worst exact Jaccard — the drop list a pipeline feeds
    // back into curation.
    "doc_fuzzy_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
            .as("text"))
      sortBig(Dedup.crossJaccardPairs(docs, bench, "doc_id", "text",
          minJ = 0.5)
        .groupBy(col("doc_a"))
        .agg(count(lit(1)).as("n_bench"),
          max(round(col("jaccard"), 6)).as("max_jaccard"))
        .select(col("doc_a").as("doc"), col("n_bench"), col("max_jaccard")),
        "doc")
    }),

    // URL-level dedup (r11 verdict task 7 — C4's other dedup axis):
    // RFC 3986 case/port/path normalization + fragment and
    // tracking-parameter strip, keeper = min doc_id per canonical
    // form. Planted twins (tracking query / fragment / uppercase host
    // + default port + trailing slash) must collapse; a planted KEPT
    // content query (?page=2) must stay distinct. Canonicalization is
    // row-local; the dedup is one canon-keyed hash aggregate + join.
    "doc_url_dedup" -> ((s, dir) => {
      sortBig(UrlOps.urlDedup(
        syntheticUrls(t(s, dir, "documents")), "doc_id", "url"), "doc")
    }),

    // host-level aggregation joining the LINK-GRAPH PRIOR: per host,
    // doc/canonical counts and the exact-decimal mean PageRank of the
    // KEPT docs — the host-quality table a crawl pipeline ranks and
    // budgets by (URL dedup composed with doc_pagerank's rank frame)
    "doc_url_host_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pr = rankFor(s, dir)
        .select(col("node").as("doc"), col("rank"))
      val du = UrlOps.urlDedup(syntheticUrls(docs), "doc_id", "url")
      sortSmall(du.join(pr, "doc")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_canonical"),
          sum(col("is_keeper").cast("long")).as("n_kept"),
          r6(sum(when(col("is_keeper"), col("rank")).otherwise(lit(0.0))
            .cast(DecimalType(38, 6))).cast("double") /
            sum(col("is_keeper").cast("long"))).as("mean_kept_rank")),
        "host")
    }),

    // URL dedup AT INGEST — the streaming twin of doc_url_dedup:
    // canonicalization is a stateless row-local map on the live row;
    // the keeper decision is keyed STATE on the canonical string
    // (dropDuplicates — first arrival wins), so the emitted set is the
    // canonical-key set regardless of arrival order, ≡ the batch
    // distinct. Bounded replay keeps state finite here; at unbounded
    // ingest the same topology runs dropDuplicatesWithinWatermark on an
    // ingest-time column (the stream_dedup_watermark shape) so state
    // stays bounded by the watermark horizon.
    "stream_url_dedup" -> ((s, dir) => {
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_url_dedup_result") { st =>
        syntheticUrls(st)
          .select(UrlOps.canonicalUrl(col("url")).as("canon"))
          .withColumn("host", UrlOps.hostOf(col("canon")))
          .dropDuplicates("canon")
      }
      sortBig(res.select(col("canon"), col("host")), "canon")
    }),

    // THE COMPOSED END-TO-END CURATION PIPELINE (r11 verdict task 1):
    // every stage already ships as a declared operator; this runs the
    // REAL pipeline shape a user runs — ingest → C4 line cleaning →
    // exact+fuzzy dedup → Gopher gates → trained-LR quality gate →
    // fuzzy decontamination → temperature mix → seeded shuffle-pack —
    // as ONE composed job graph, oracle-pinned end to end by composed
    // CTEs (the pack offsets depend on every upstream keep decision, so
    // one hash-matched row set proves the whole composition: which docs
    // survived, in what order, at what offsets). The cross-stage
    // interactions per-stage queries can't see — dedup keepers feeding
    // the gates, mix rates computed from POST-filter source counts —
    // are exactly what this pins. Scale shape: stage filters are
    // row-local or id-keyed semi/anti joins aligned on doc_id; the
    // cluster miner and decon are the bucketed/broadcast forms; the
    // pack is the decomposed 256-bucket prefix sum. localCheckpoints
    // sit where a real pipeline materializes (cleaned / deduped /
    // curated corpus).
    "doc_pipeline_e2e" -> ((s, dir) => {
      sortBig(e2eStagesFor(s, dir).packed, "doc")
    }),

    // the pipeline's per-stage FUNNEL accounting (docs surviving each
    // stage + final shard/token mass) — the telemetry row a pipeline
    // run reports; one tiny crossed aggregate per stage over the shared
    // staged frames (broadcast scalars, the doc_lsh_audit shape)
    "doc_pipeline_funnel" -> ((s, dir) => {
      val st = e2eStagesFor(s, dir)
      st.ingest.agg(count(lit(1)).as("n_ingest"))
        .crossJoin(st.urlDeduped.agg(count(lit(1)).as("n_url_dedup")))
        .crossJoin(st.cleaned.agg(count(lit(1)).as("n_clean")))
        .crossJoin(st.deduped.agg(count(lit(1)).as("n_dedup")))
        .crossJoin(st.gated.agg(count(lit(1)).as("n_gopher")))
        .crossJoin(st.scoredKeep.agg(count(lit(1)).as("n_quality")))
        .crossJoin(st.ranked.agg(count(lit(1)).as("n_rank")))
        .crossJoin(st.decon.agg(count(lit(1)).as("n_decon")))
        .crossJoin(st.mixed.agg(count(lit(1)).as("n_mix")))
        .crossJoin(st.packed.agg(
          countDistinct(col("shard_id")).as("n_shards"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("sum_tokens")))
    }),

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
    "stream_pipeline" -> ((s, dir) => {
      sortSmall(s.read.parquet(streamPipeFor(s, dir)), "doc_id")
    }),

    // model-in-the-loop quality gate: a linear classifier TRAINED
    // INSIDE the engine (full-batch GD over hashed bag-of-words, 16
    // rounds, Elliott rational sigmoid) then scored over every doc.
    // Training aggregation is EXACT — weights/residuals live on the
    // 2^-20 dyadic grid, counts are integers, so every float partial
    // sum is exactly representable and order/partition-invariant; every
    // remaining scalar op is IEEE correctly-rounded (no exp anywhere).
    // The oracle therefore REPLAYS THE WHOLE TRAINING in DuckDB (the
    // BPE generated-oracle discipline applied to gradient descent) and
    // lands on the bit-identical model. One aggregate job per GD round
    // (driver traffic O(d) doubles), row-local scoring — corpus scanned
    // T times from cache, never shuffled on a token key.
    "doc_quality_lr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      sortBig(QualityModel.scoreLogReg(feat, lrModelFor(s, dir)), "doc")
    }),

    // calibration audit of the SAME trained gate (reliability bins):
    // before a pipeline trusts classifier probabilities as sampling
    // weights it must know whether 0.8 means 80 % — ten fixed-width
    // probability bins, each with mean predicted probability vs
    // observed positive fraction and their gap (the per-bin ECE term).
    // The oracle replays training (shared generated CTEs) + the binning;
    // probabilities use the same Elliott sigmoid, bin means use the
    // 6-dp-round-then-exact-decimal-sum discipline.
    "doc_lr_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      sortSmall(QualityModel.calibrationBins(
        QualityModel.scoreLogReg(feat, lrModelFor(s, dir))
          .select(col("doc"), col("y"), col("score"))), "bin")
    }),

    // streaming quality gate: the SAME in-engine-trained classifier
    // applied at INGEST as a STATELESS stream stage — one weight lookup
    // per token, folded row-locally. Every term is a dyadic-grid
    // element, so the fold equals the batch margin bit-for-bit: stream
    // scoring ≡ batch scoring ≡ the training-replay oracle. No feature
    // frame, no aggregate, no state store — frozen-model scoring rides
    // any ingest topology for free.
    "stream_quality_lr" -> ((s, dir) => {
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
    }),

    // DSIR importance resampling (Xie et al. 2023) — select raw docs
    // whose hashed-unigram profile looks like the TARGET slice:
    // add-1-smoothed per-bucket log mass ratio (ONE ln per bucket over
    // an exact int64 ratio, rounded to 6 dp before any use), per-doc
    // importance = exact-decimal Σ c_j·λ_j, keep the top 20% by
    // (score, doc). Target membership is a row-local predicate carried
    // through the one bow aggregate — the target slice is corpus-sized
    // and is never broadcast or re-joined; the d-row weight table is
    // the only broadcast. The global rank is exact here; at 100 TB the
    // keep decision becomes a quantile threshold on score (same
    // weights, no total order needed).
    "doc_dsir_sample" -> ((s, dir) => {
      sortBig(QualityModel.dsirSample(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en"), "doc")
    }),

    // deterministic stratified Bernoulli sampling — the training-mix
    // rebalancing step: per-lang keep rates in basis points, keep iff
    // the portable md5-derived sampling hash of doc_id falls under the
    // stratum's rate. Row-local predicate (no shuffle, no RNG state,
    // scan-pushable) and engine-portable, so a different engine — or a
    // re-run, or any partitioning — selects the IDENTICAL rows: the
    // reproducibility a training-data recipe needs. Downsamples the
    // dominant strata (en 2500 bp, zh 5000 bp), keeps the rest whole.
    "doc_sample_stratified" -> ((s, dir) => {
      sortBig(Corpus.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 2500L, "zh" -> 5000L))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("sample_bucket")), "doc_id")
    }),

    // deterministic train/validation/test split (90/5/5) — the held-out
    // assignment step: split is a pure function of (salt, doc_id) via
    // the portable salted md5 bucket, so a document can NEVER migrate
    // from test into train across re-runs/partitionings/engines (the
    // classic eval leak a rand() split invites), and the whole op is a
    // shuffle-free row-local projection that pushes to the scan. The
    // salt keeps the split hash independent of sample_bucket's, so
    // sampling and splitting decisions stay statistically independent.
    "doc_hash_split" -> ((s, dir) => {
      sortBig(Corpus.hashSplit(t(s, dir, "documents"), "doc_id",
          salt = "split", trainBp = 9000L, valBp = 500L)
        .select(col("doc_id"), col("lang"), col("split_bucket"),
          col("split")), "doc_id")
    }),

    // exact-k uniform sample without replacement — the exact-BUDGET
    // sibling of doc_sample_stratified's rate form: the k smallest
    // salted md5 keys win. orderBy(key).limit(k) compiles to
    // TakeOrderedAndProject (size-k heap per partition + k-row driver
    // merge — no global sort, no corpus shuffle), and the min-wise hash
    // property means growing the corpus can only evict, never
    // reshuffle, previously selected docs.
    "doc_sample_topk" -> ((s, dir) => {
      sortSmall(Corpus.uniformSampleK(t(s, dir, "documents"), "doc_id",
          k = 100)
        .select(col("doc_id"), col("lang"), col("sample_key")),
        "sample_key", "doc_id")
    }),

    // exact-k WEIGHTED sample without replacement (Efraimidis–Spirtes
    // exponential keys: u from the salted 60-bit md5 bucket, keep the k
    // smallest -ln(u)/w) — here length-biased by n_chars: the
    // exact-budget form of importance sampling (DSIR gives the same
    // bias as a rate). Keys rounded to 6 dp + id tie-break so the
    // selected set is engine-portable; same TakeOrderedAndProject
    // shape, no corpus shuffle.
    "doc_sample_weighted" -> ((s, dir) => {
      sortSmall(Corpus.weightedSampleK(t(s, dir, "documents"), "doc_id",
          "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars"), col("es_key")),
        "es_key", "doc_id")
    }),

    // UniMax WATER-FILLING budget allocation (r13): distribute a token
    // budget (80% of total capacity) across languages as EVENLY as the
    // data allows — small languages keep everything (saturated), large
    // ones are cut to the common level λ with Σ min(cap, λ) = budget.
    // Exact integer closed form over cap-ascending prefix sums; the
    // corpus side is ONE map-side-combinable aggregate, every window
    // runs on the |langs|-row aggregated frame.
    "doc_budget_waterfill" -> ((s, dir) => {
      sortSmall(Corpus.waterfillAlloc(t(s, dir, "documents"), "lang",
        "n_chars", budgetBp = 8000L), "lang")
    }),

    // APPLY the water-filled budget: per language, keep docs in
    // salted-hash order while the inclusive running token total fits
    // the allocation — greedy exact-budget fill, deterministic pure
    // function of (salt, ids, allocs). The running total rides
    // Ranks.stratifiedRunningSum (two full-width corpus exchanges),
    // never a one-task-per-language window — the dominant language IS
    // most of a real corpus.
    "doc_budget_fill" -> ((s, dir) => {
      sortBig(Corpus.waterfillFill(t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "lang", "n_chars", budgetBp = 8000L)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("fill_key"),
          col("cum_tokens"), col("alloc_tokens")), "doc_id")
    }),

    // per-STRATUM exact-k sample (the "k docs from every language"
    // quota form of doc_sample_topk): k smallest salted md5 keys per
    // stratum via Ranks.stratifiedRowNumber — range keys (lang, key,
    // id), so the dominant stratum spreads over all partitions instead
    // of stalling one task the way Window.partitionBy(lang) would.
    // Same min-wise hash property per stratum: growing the corpus can
    // only evict, never reshuffle, selected docs.
    "doc_sample_stratified_k" -> ((s, dir) => {
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          Corpus.sampleKey(col("doc_id"), "ssample").as("sample_key"))
      sortSmall(Ranks.stratifiedRowNumber(keyed, Seq("lang"),
          Seq(col("sample_key"), col("doc_id")), out = "sample_rank")
        .where(col("sample_rank") <= 20)
        .select(col("doc_id"), col("lang"), col("sample_key"),
          col("sample_rank")),
        "lang", "sample_rank")
    }),

    // CORPUS REPORT CARD — the per-source dataset-card profile a
    // training-data release ships: doc/token counts, language breadth,
    // exact-decimal mean length, exact-dup rate (1 − distinct content
    // hashes / docs), and the EXACT median length order statistics via
    // the skew-safe stratified rank frame (never a per-source
    // collect_list). One corpus aggregate + one range-shuffle rank
    // pass; output is |sources| rows.
    "doc_corpus_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).cast("long").as("n_tokens"),
        r6(sum(col("n_chars").cast(DecimalType(38, 6))).cast("double") /
          count(lit(1))).as("mean_chars"),
        r6(lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
          count(lit(1))).as("dup_rate"))
      val nS = docs.groupBy(col("source")).agg(count(lit(1)).as("_n"))
      val med = Ranks.stratifiedRowNumber(
          docs.select(col("source"), col("n_chars"), col("doc_id")),
          Seq("source"), Seq(col("n_chars"), col("doc_id")), out = "_rn")
        .join(broadcast(nS), "source")
        .withColumn("_lo", expr("((_n - 1) div 2) + 1"))
        // odd n: the _lo order statistic IS the median, so the bracket
        // collapses (hi = lo); even n: the two middle statistics. A
        // blanket lo+1 would report the (m+1)-th statistic as median_hi
        // for odd sources and consumers averaging lo/hi would be wrong.
        .withColumn("_hi",
          when(pmod(col("_n"), lit(2L)) === 1, col("_lo"))
            .otherwise(col("_lo") + 1))
        .where(col("_rn") === col("_lo") || col("_rn") === col("_hi"))
        .groupBy(col("source"))
        .agg(min(when(col("_rn") === col("_lo"), col("n_chars")))
            .as("median_lo"),
          min(when(col("_rn") === col("_hi"), col("n_chars")))
            .as("median_hi"))
      sortSmall(base.join(med, "source"), "source")
    }),

    // DOMAIN BLOCKLIST — the crawl front-gate (C4/CCNet drop spam and
    // bad-word DOMAINS before any content processing), with
    // subdomain-suffix semantics (PSL-style: an entry blocks itself and
    // everything under it). The suffix-chain explode turns "equals or
    // is a subdomain of" into an EQUI-join against the broadcast entry
    // set — a LIKE-OR predicate would plan the banned
    // BroadcastNestedLoop. Planted ads.{source} subdomains (doc_id % 7
    // == 2) exercise the suffix path; rule = longest (most specific)
    // match.
    "doc_host_blocklist" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 7 === 2, concat(lit("ads."), col("source")))
            .otherwise(col("source")),
          lit(".example.com/p/"),
          pmod(col("doc_id"), lit(50L)).cast("string")).as("url"))
      val bl = Seq("src3.example.com", "ads.src7.example.com",
        "spam.example.net").toDF("pattern")
      sortBig(UrlOps.hostBlocklist(urls, "doc_id", "url", bl), "doc")
    }),

    // EPOCH-CAPPED MIXTURE MANIFEST — the data-REPETITION side of
    // mixing (LLaMA-style recipes upsample small high-quality sources
    // by running several epochs over them, capped where repetition
    // stops paying): per language, want = share·budget docs emitted as
    // full epochs (capped at 3) + an exact remainder of extra-epoch
    // docs picked min-wise per stratum. The fixture shares exercise
    // every branch at once: en gets 1 full epoch + remainder, zh hits
    // the 3-epoch cap exactly, de runs 2 epochs + remainder, es
    // degrades to a sub-1-epoch exact downsample.
    "doc_mix_epoch_cap" -> ((s, dir) => {
      sortBig(Corpus.epochCapMix(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 4000L, "zh" -> 3000L, "de" -> 1500L,
            "fr" -> 1000L, "es" -> 500L),
          budgetBp = 20000L, maxEpochs = 3),
        "doc_id", "epoch")
    }),

    // CROSS-SOURCE OVERLAP MATRIX — which sources near-duplicate each
    // other (mirror-site / syndicated-content detection, the telemetry
    // a crawl pipeline reads before deciding source-level dedup
    // policy): the PPJoin prefix-filtered Jaccard pairs joined to their
    // sources on both sides, grouped to an unordered source pair with
    // pair count and exact-decimal mean similarity. Corpus work is the
    // bounded candidate miner + two id-keyed broadcast-size joins; the
    // matrix is |sources|² at most.
    "doc_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(
        Dedup.hashedShingles(docs, "doc_id", "text", 3), 0.5)
      val src = docs.select(col("doc_id"), col("source"))
      sortSmall(pairs
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), "doc_b")
        .groupBy(least(col("source_a"), col("source_b")).as("source_lo"),
          greatest(col("source_a"), col("source_b")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          r6(sum(round(col("jaccard"), 6).cast(DecimalType(38, 6)))
            .cast("double") / count(lit(1))).as("mean_jaccard")),
        "source_lo", "source_hi")
    }),

    // CURRICULUM ORDERING MANIFEST — the training-order recipe
    // (curriculum learning: feed examples in difficulty bands rather
    // than fully shuffled): docs binned into quality DECILES by the
    // trained-LR score (equi-depth via the skew-safe global rank — the
    // deciles ascend by score, so a curriculum run starts at decile 0
    // and a reverse curriculum reads the manifest backwards) and
    // SHUFFLED within each decile by a salted hash (within-band order
    // must carry no content signal). Both rank passes are
    // Ranks.globalRowNumber range shuffles; the manifest is a pure
    // function of (corpus, salt) — re-runs and engines agree on every
    // position.
    "doc_curriculum_order" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("doc"),
        (col("lang") === "en").cast("double").as("y"))
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(docs, "doc_id", "text", 64), labels, 64)
      val scored = QualityModel.scoreLogReg(feat, lrModelFor(s, dir))
        .select(col("doc"), col("score"))
      val nF = scored.agg(count(lit(1)).as("_n"))
      val dec = Ranks.globalRowNumber(scored,
          Seq(col("score"), col("doc")), out = "_r")
        .crossJoin(broadcast(nF))
        .withColumn("decile", expr("((_r - 1) * 10) div _n"))
        .withColumn("_sk",
          md5(concat(lit("curr:"), col("doc").cast("string"))))
      sortBig(Ranks.globalRowNumber(dec,
          Seq(col("decile"), col("_sk"), col("doc")),
          out = "curriculum_rank")
        .select(col("doc"), col("score"), col("decile"),
          col("curriculum_rank")),
        "curriculum_rank")
    }),

    // Z-ORDER LAYOUT + FILE-SKIPPING AUDIT — the physical-layout lever
    // that matters most at 100 TB: interleaving the bits of two
    // equi-depth 8-bit dimension ranks clusters MULTI-dimensional
    // locality into the linear file order, so a reader pruning on
    // min/max footer stats (parquet row groups, Delta/Iceberg file
    // stats) skips files on BOTH predicates at once — a linear sort
    // prunes only its leading dimension and a hash layout prunes
    // nothing. The audit materializes all three layouts LOGICALLY
    // (file_id = rank div rowsPerFile over 64 files — the deterministic
    // stand-in for a writer's maxRecordsPerFile), computes each file's
    // min/max stats, and marks which files a fixed quarter×quarter box
    // query must scan. Rank passes ride Ranks.globalRowNumber (range
    // shuffles — the same passes a real OPTIMIZE ZORDER runs); the
    // audit output is 3 × 64 rows.
    "doc_zorder_skipping" -> ((s, dir) => {
      val ranked = zorderRankedFor(s, dir)
      def layout(tag: String, rank: String) =
        ranked.select(lit(tag).as("layout"),
          expr(s"($rank - 1) div _rpf").as("file_id"),
          col("b1"), col("b2"))
      val lay = layout("zorder", "zrank")
        .unionByName(layout("linear", "lrank"))
        .unionByName(layout("hash", "hrank"))
      sortSmall(lay.groupBy(col("layout"), col("file_id"))
        .agg(min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
          min(col("b2")).as("b2_min"), max(col("b2")).as("b2_max"),
          count(lit(1)).as("n_rows"))
        .withColumn("scanned",
          col("b1_max") >= 64 && col("b1_min") <= 127 &&
            col("b2_max") >= 128 && col("b2_min") <= 191),
        "layout", "file_id")
    }),

    // MATERIALIZED Z-ORDER LAYOUT — the logical audit above made REAL
    // (r13 verdict task 3): each layout is WRITTEN as parquet with
    // exactly one data file per logical file_id (repartition on file_id
    // puts each id in one task; partitionBy splits that task's output
    // one file per id; sortWithinPartitions gives the within-file
    // order a writer's maxRecordsPerFile run would). The reader then
    // does what Delta/Iceberg do: build the stats manifest FROM THE
    // FILES ON DISK (read-back per-file min/max — the disk-audit
    // discipline of doc_dedup_sink), prune the manifest with the
    // quarter×quarter box, and hand Spark's parquet scan ONLY the
    // surviving files. files_scanned is therefore the MEASURED file
    // count the engine's scan actually opened, and box_rows proves the
    // pruned read returns every box row (the oracle computes the box
    // from the full table — a file wrongly pruned would hash-mismatch).
    "doc_zorder_skipping_mat" -> ((s, dir) => {
      val path = zorderMatFor(s, dir)
      // the manifest prune inside zorderAudit collects a ≤64-entry file
      // list driver-side by design (table-format metadata, not data)
      def audit(tag: String): DataFrame =
        zorderAudit(s, tag, Seq(s"$path/$tag"))
          .withColumnRenamed("phase", "layout")
      sortSmall(audit("zorder").unionByName(audit("linear"))
        .unionByName(audit("hash")), "layout")
    }),

    // WRITE-TIME STATS MANIFEST — the PRODUCTION read path over the
    // same three materialized layouts (r14 verdict task: at 100 TB,
    // re-deriving per-file stats by scanning data costs the full scan
    // the layout exists to avoid). Each layout writer persisted a
    // `_stats` manifest computed from the frame being written — the
    // Delta/Iceberg discipline of stats captured in the commit, not
    // recovered by a later audit. The reader's prune decision touches
    // ONLY that metadata; Spark then scans exactly the surviving files,
    // and the box aggregate over the pruned read must reproduce the
    // full-table box (a stale or wrong manifest row would either scan a
    // pruned-file set missing box rows — hash mismatch — or misreport
    // files_scanned vs the oracle's logical replay). Same numbers as
    // doc_zorder_skipping_mat BY CONSTRUCTION: that equality, enforced
    // by the shared oracle, is the proof the write-time manifest
    // carries the same information as the full-scan audit.
    "doc_zorder_manifest_prune" -> ((s, dir) => {
      val path = zorderMatFor(s, dir)
      def au(tag: String): DataFrame =
        manifestAudit(s, tag, Seq(s"$path/$tag/_stats"))
          .withColumnRenamed("phase", "layout")
      sortSmall(au("zorder").unionByName(au("linear"))
        .unionByName(au("hash")), "layout")
    }),

    // Z-ORDER MAINTENANCE UNDER APPEND — the OPTIMIZE lifecycle every
    // clustered table needs: ingest APPENDS files in arrival (hash)
    // order, so data skipping DEGRADES as unsorted files accumulate
    // (every appended file straddles the box), and a periodic OPTIMIZE
    // rewrite re-clusters the union and restores pruning. Three
    // materialized phases, each audited FROM THE FILES ON DISK with the
    // measured-manifest discipline of doc_zorder_skipping_mat: `base`
    // (80% of the corpus z-ordered into 52 files), `appended` (base
    // plus the other 20% appended hash-ordered into 12 files — the
    // ingest state), `optimized` (the union re-z-ordered into 64
    // files). At 100 TB this is the compaction job a table format
    // schedules; the audit is the evidence it pays for itself.
    "doc_zorder_append_optimize" -> ((s, dir) => {
      val path = zorderIncFor(s, dir)
      sortSmall(
        zorderAudit(s, "base", Seq(s"$path/base"))
          .unionByName(zorderAudit(s, "appended",
            Seq(s"$path/base", s"$path/append")))
          .unionByName(zorderAudit(s, "optimized", Seq(s"$path/optimized"))),
        "phase")
    }),

    // INCREMENTAL OPTIMIZE — the r14 verdict's missing piece: the full
    // rewrite above re-clusters the whole union, which a 100 TB table
    // cannot schedule. Here the compaction (see [[zorderIncrFor]])
    // rewrites ONLY the appended files plus the base files whose
    // manifest box straddles the appended key region — selected from
    // the write-time manifest without scanning ANY data — and the audit
    // proves both halves: skipping restored (files_scanned back near
    // the clustered optimum) AND files_rewritten/rows_rewritten < the
    // table (base files outside the appended region were never touched;
    // at scale with time-localized appends that untouched fraction is
    // the whole point). Rewrite accounting is itself metadata: a file
    // was rewritten iff it left the manifest between the appended and
    // optimized snapshots.
    "doc_zorder_incr_optimize" -> ((s, dir) => {
      val p = zorderIncrFor(s, dir)
      val appMan = s.read.parquet(s"$p/_stats_appended").collect()
      val optIds = s.read.parquet(s"$p/_stats_optimized")
        .select(col("file_id")).collect().map(_.getLong(0)).toSet
      val rw = appMan.filter(r => !optIds(r.getAs[Long]("file_id")))
      def au(phase: String, frw: Long, rrw: Long): DataFrame =
        manifestAudit(s, phase, Seq(s"$p/_stats_$phase"))
          .withColumn("files_rewritten", lit(frw))
          .withColumn("rows_rewritten", lit(rrw))
      sortSmall(au("base", 0L, 0L)
        .unionByName(au("appended", 0L, 0L))
        .unionByName(au("optimized", rw.length.toLong,
          rw.map(_.getAs[Long]("n_rows")).sum)), "phase")
    }),

    // VACUUM — the lifecycle's last transaction: the incremental
    // OPTIMIZE above only LOGICALLY removes rewritten files (they stay
    // on disk so earlier manifest snapshots remain readable — time
    // travel); at 100 TB those orphans are real storage, so a
    // scheduled VACUUM deletes every data file the newest manifest no
    // longer references (selection is a listing-vs-manifest diff —
    // metadata only, no data read). Runs on its OWN table build
    // ([[zorderVacFor]]) because deletion expires the earlier
    // snapshots doc_zorder_incr_optimize audits. The declared row
    // proves all three halves: files really deleted
    // (files_on_disk_after recounted from a fresh listing), exactly
    // the logically-removed set deleted (counts match the manifest
    // diff), and the live snapshot intact post-delete (manifest prune
    // + box aggregate still reproduce the full table).
    "doc_zorder_vacuum" -> ((s, dir) => {
      val p = zorderVacFor(s, dir)
      val accP = new org.apache.hadoop.fs.Path(s"$p/_vacuum.json")
      val fs2 = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val in = fs2.open(accP)
      val acc = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close()
      def field(k: String): Long =
        s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(acc).get.group(1).toLong
      val after =
        graft.ext.ZTable.listDataFiles(s, s"$p/table").length.toLong
      manifestAudit(s, "vacuumed", Seq(s"$p/_stats_optimized"))
        .withColumn("files_on_disk_before", lit(field("before")))
        .withColumn("files_deleted", lit(field("deleted")))
        .withColumn("files_on_disk_after", lit(after))
    }),

    // OCC COMMIT PROTOCOL, end to end (r15 VERDICT task 1): two
    // interleaved append+optimize transactions run through the
    // versioned manifest log — O1's commit rebases over a DISJOINT
    // concurrent append (lost-update prevention), O2's commit ABORTS
    // when a concurrent append lands inside its box (stale selection),
    // the OCC loop re-selects and commits, and VACUUM runs against the
    // committed latest. Every protocol step is a require in the
    // builder; the declared row certifies the outcome: live-row truth
    // (count + id sum + hot-box aggregate) read back THROUGH the final
    // manifest's file set equals the logical row set the four writers
    // produced — a lost append, doubled rewrite, or vacuumed live file
    // hash-mismatches.
    "doc_zorder_occ" -> ((s, dir) => {
      import graft.ext.ZTable
      val p = zorderOccFor(s, dir)
      val root = s"$p/_log"
      val man = ZTable.logRead(s, root, ZTable.logLatest(s, root)).collect()
      val manRows = man.map(_.getAs[Long]("n_rows")).sum
      val paths = man.map(_.getAs[String]("path")).sorted.toSeq
      val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
      val acc = {
        val accP = new org.apache.hadoop.fs.Path(s"$p/_occ.json")
        val in = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .open(accP)
        val str = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        (k: String) => s""""$k"\\s*:\\s*(\\d+)""".r
          .findFirstMatchIn(str).get.group(1).toLong
      }
      s.read.parquet(paths: _*).agg(
          count(lit(1)).as("live_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("live_sum_doc"),
          coalesce(sum(when(boxPred, 1L)), lit(0L)).as("box_rows"),
          coalesce(sum(when(boxPred, col("doc_id"))), lit(0L))
            .as("box_sum_doc"))
        .select(lit("occ").as("phase"),
          lit(acc("versions")).as("n_versions"),
          lit(acc("conflicts")).as("conflicts"),
          lit(acc("aborts")).as("aborts"),
          col("live_rows"), lit(manRows).as("man_rows"),
          col("live_sum_doc"), col("box_rows"), col("box_sum_doc"))
    }),

    // TIME TRAVEL + RETENTION-BOUNDED VACUUM (r16): v0 base, v1 hot
    // append, v2 incremental OPTIMIZE, v3 cold append, then
    // vacuumRetain(floor = 2). The declared row reads the table at TWO
    // versions through their manifests — the HISTORICAL v2 (A2's rows
    // are on disk but invisible: snapshot isolation for time-travel
    // readers) and the latest v3 — and certifies the expiry accounting:
    // exactly the optimize's rewrite set was deleted (it is referenced
    // only by expired snapshots), every retained file survived (a
    // wrongly deleted v2 file crashes the v2 read; a kept orphan
    // mismatches files_on_disk_after, recounted from a fresh listing).
    "doc_zorder_timetravel" -> ((s, dir) => {
      import graft.ext.ZTable
      val p = zorderTTFor(s, dir)
      val root = s"$p/_log"
      val boxPred = col("b1").between(64, 127) && col("b2").between(128, 191)
      def pathsAt(v: Long) = ZTable.logRead(s, root, v).collect()
        .map(_.getAs[String]("path")).sorted.toSeq
      val acc = {
        val accP = new org.apache.hadoop.fs.Path(s"$p/_tt.json")
        val in = accP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .open(accP)
        val str = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        (k: String) => s""""$k"\\s*:\\s*(\\d+)""".r
          .findFirstMatchIn(str).get.group(1).toLong
      }
      val after = ZTable.listDataFiles(s, s"$p/table").length.toLong
      val v2Agg = s.read.parquet(pathsAt(2L): _*).agg(
        count(lit(1)).as("rows_v2"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_v2"),
        coalesce(sum(when(boxPred, 1L)), lit(0L)).as("box_rows_v2"),
        coalesce(sum(when(boxPred, col("doc_id"))), lit(0L))
          .as("box_sum_doc_v2"))
      val v3Agg = s.read.parquet(pathsAt(3L): _*).agg(
        count(lit(1)).as("rows_latest"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_latest"))
      v2Agg.crossJoin(v3Agg)
        .select(lit("timetravel").as("phase"),
          lit(4L).as("n_versions"), lit(2L).as("retained_from"),
          col("rows_v2"), col("sum_doc_v2"), col("box_rows_v2"),
          col("box_sum_doc_v2"), col("rows_latest"), col("sum_doc_latest"),
          lit(acc("deleted")).as("files_expired"),
          lit(after).as("files_on_disk_after"))
    }),

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
    "stream_budget_fill" -> ((s, dir) => {
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
    }),

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
    "stream_ztable_append" -> ((s, dir) => {
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
        
    }),

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
    "stream_budget_loss" -> ((s, dir) => {
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
    }),

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
    "stream_index_evolve" -> ((s, dir) => {
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
    }),

    // BLOCKLIST AT INGEST — the streaming twin of doc_host_blocklist:
    // the frozen blocklist ships as a literal array (at cluster scale, a
    // broadcast variable) and the whole decision is a stateless
    // row-local HOF pass — suffix chain, membership filter, and a
    // longest-match fold that replays max(struct(length, rule))
    // exactly. No explode, no join, no state: the form an ingest-time
    // URL filter actually runs in front of the crawl pipeline.
    "stream_host_blocklist" -> ((s, dir) => {
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
    }),

    // SPLIT-LEAKAGE AUDIT — the eval-contamination check a held-out
    // split must pass after assignment: near-duplicate pairs whose
    // members landed in DIFFERENT splits are train↔test leaks (a
    // hash split assigns re-crawled clones independently, so without a
    // split-aware dedup pass they leak — the reason C4/Pile-style
    // pipelines dedup BEFORE splitting). Planted leaks guarantee a
    // non-empty gate: every doc_id % 17 == 3 re-enters verbatim under
    // id + 2000000, and the clone's split hash re-deals. PPJoin
    // prefix-filtered candidate pairs + two broadcast-size split joins
    // on the PAIRS side only — no corpus-squared work, no new shuffle
    // family.
    "doc_split_leak_audit" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.unionByName(base.where(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val sp = Corpus.hashSplit(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      val sh = Dedup.hashedShingles(docs, "doc_id", "text", 3)
      sortSmall(Dedup.jaccardPairs(sh, 0.5)
        .join(sp.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .where(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          round(col("jaccard"), 6).as("jaccard")),
        "doc_a", "doc_b")
    }),

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
    "stream_sample_topk" -> ((s, dir) => {
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
    }),

    // benchmark-contamination detection (DECONTAMINATION) — the hygiene
    // pass a training pipeline runs before shipping: any training doc
    // sharing a word 5-gram with the benchmark/eval slice is flagged
    // with its distinct-shared-gram count. The benchmark gram set is
    // tiny next to the corpus, so it broadcasts; the corpus side does
    // one explode + broadcast join + per-doc aggregate (no corpus-side
    // self-join). The gate is guaranteed non-empty by DETERMINISTIC
    // PLANTED LEAKS computed inside the query (every benchmark doc
    // re-enters the training side verbatim under id + 1000000 — the
    // exact test-set-leak failure mode decontamination exists to catch);
    // natural near-dup crossings add to the plant. The oracle joins the
    // STRING grams, pinning the hashed-gram engine path exactly.
    "doc_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val leaks = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      sortBig(Corpus.contamination(docs.unionByName(leaks), "doc_id",
        "text", col("doc_id") % 20 === 7 && col("doc_id") < 1000000L,
        n = 5), "doc")
    }),

    // chunk-level exact dedup — repeated-passage/boilerplate removal
    // (the sub-document granularity doc_dedup_exact can't see): fixed
    // 16-token chunks, one corpus-wide keeper per distinct chunk text
    // (lowest (doc, chunk_idx)), per-doc kept/dropped accounting.
    // Chunking is row-local; the keeper decision is a sort-free min
    // window on the 64-bit chunk hash; the oracle re-chunks with
    // list-slice arithmetic and keys on the chunk STRING, pinning the
    // hashed engine path exactly. Synthetic docs repeat short word-soup
    // heavily, so the dropped set is large and the gate carries signal.
    "doc_chunk_dedup" -> ((s, dir) => {
      sortBig(Dedup.chunkDedup(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 16), "doc")
    }),

    // HTML → text extraction (the CommonCrawl ingest step ahead of every
    // quality gate): synthetic HTML is built DETERMINISTICALLY from the
    // documents table — real text wrapped in chrome with planted
    // boilerplate (nav link farm, sponsored aside, rights-reserved
    // footer, script/style bodies) — then HtmlExtract strips tags,
    // applies the block text-density + boilerplate-phrase rules, and
    // reassembles. text_md5 pins every extracted byte; the oracle
    // replays construction AND extraction with the same RE2-safe
    // regexps.
    "doc_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>body {font-size:12px}</style></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact</a></nav><div><p>"),
        col("text"),
        lit("</p><p>Continued article body with additional narrative " +
          "content for extraction quality.</p></div>" +
          "<aside><a href=\"/ads\">Sponsored</a> " +
          "<a href=\"/more\">More</a></aside>" +
          "<footer>Copyright 2024 Example Corp. All rights reserved. " +
          "<a href=\"/privacy\">Privacy</a></footer>" +
          "<script>var tracking = 1;</script></body></html>"))
      sortBig(graft.ext.HtmlExtract.extract(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .drop("text"), "doc")
    }),

    // exact substring dedup (Lee et al. 2022): verbatim ≥ 8-token runs
    // occurring more than once in the corpus, AT ANY OFFSET, merged into
    // per-doc maximal duplicate spans — the arbitrary-offset leak class
    // chunk dedup (fixed boundaries) and line dedup (whole frequent
    // lines) both miss. The fixture plants exactly that: every
    // doc_id % 37 == 0 doc re-appears under doc_id + 100000 behind a
    // 5-token prefix, so the whole text is a duplicated run at SHIFTED
    // offsets in the two copies. The oracle replays window hashes +
    // gaps-and-islands span merge verbatim.
    "doc_substring_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("planted leak prefix alpha beta "), col("text"))
            .as("text"))
      sortBig(Dedup.substringDupSpans(docs.unionByName(planted),
          "doc_id", "text", k = 8)
        .select(col("doc"), col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"), col("n_windows")),
        "doc", "span_start")
    }),

    // the REMOVAL half of substring dedup (same plant as
    // doc_substring_dedup): earliest occurrence of every duplicated
    // 8-token run survives, every other occurrence's covered tokens are
    // stripped and the survivor text rebuilt in order — kept_md5 pins
    // every surviving byte, so the keeper decision, coverage arithmetic,
    // and reassembly are all on the gate.
    "doc_substring_strip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("planted leak prefix alpha beta "), col("text"))
            .as("text"))
      sortBig(Dedup.substringStrip(docs.unionByName(planted),
        "doc_id", "text", k = 8), "doc")
    }),

    // C4-style corpus-frequency line filter: every 8-token chunk present
    // in >2 distinct documents is removed from ALL of them (boilerplate-
    // by-repetition, Raffel et al. 2020 §2.2) and the survivors are
    // reassembled in order — kept_md5 pins the rebuilt text byte-level.
    // The frequent set is a heavy-hitter list (small by construction) so
    // the membership test is a broadcast join, never a corpus shuffle.
    "doc_line_dedup" -> ((s, dir) => {
      sortBig(Dedup.lineFreqFilter(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 8, maxDocs = 2), "doc")
    }),

    // target-MIX sampling — rates DERIVED from a target composition
    // (en 40% / zh 20% / es 20% / de 10% / fr 10% of a 250-doc budget)
    // against observed per-lang counts, exact integer div throughout,
    // then the same portable md5 keep predicate as doc_sample_stratified.
    // One tiny count aggregate + broadcast rate join + row-local filter.
    "doc_mix_sample" -> ((s, dir) => {
      sortBig(Corpus.targetMixSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 4000L, "zh" -> 2000L, "es" -> 2000L,
            "de" -> 1000L, "fr" -> 1000L), budget = 250L)
        .select(col("doc_id"), col("lang"), col("rate_bp"),
          col("sample_bucket")), "doc_id")
    }),

    // temperature-reweighted source mixing (the multi-corpus pretraining
    // sampler): per-source keep rates ∝ sqrt(n_s)/n_s at a 50% overall
    // budget — rare sources boosted, hot sources cut, α = 1/2 chosen
    // because sqrt is the one correctly-rounded IEEE power (no pow() in
    // the portable arithmetic). Rates are one tiny source aggregate +
    // an exact-decimal weight sum + one broadcast; the keep decision is
    // the row-local md5 sample bucket — shuffle-free, scan-pushable,
    // rerun-stable (Corpus.temperatureMixSample).
    "doc_mix_temperature" -> ((s, dir) => {
      sortBig(Corpus.temperatureMixSample(t(s, dir, "documents"), "doc_id",
          "source", keepBp = 5000L)
        .select(col("doc_id"), col("source"), col("rate_bp"),
          col("sample_bucket"), col("selected")), "doc_id")
    }),

    // PII redaction — scrub emails / US phones / IPv4s / SSNs /
    // Luhn-valid credit cards to typed placeholders with per-doc counts.
    // Patterns live in the Java-regex ∩ RE2 common subset so both
    // engines match identical spans; DETERMINISTIC PLANTED PII computed
    // inside the query (the word-soup corpus has none naturally)
    // guarantees non-empty counts for every pattern, including a
    // mixed-type row and a Luhn-INVALID card-shaped span that must
    // survive unredacted. Row-local map — the oracle recomputes counts,
    // the Luhn filter, and the md5 of the redacted text.
    "text_pii_redact" -> ((s, dir) => {
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
      sortBig(TextAnalysis.piiRedact(planted, "doc_id", "text")
        .select(col("doc"), col("n_emails"), col("n_phones"), col("n_ips"),
          col("n_ssns"), col("n_ccs"),
          md5(col("redacted")).as("redacted_md5")), "doc")
    }),

    // corpus-unigram-LM negative log-likelihood — the CCNet-style
    // perplexity-bucketing quality proxy: per-doc mean -ln p(token)
    // under the corpus's own unigram model. Rounded-then-decimal-summed
    // contributions make the result engine/partitioning-invariant; term
    // frequencies derive from the tf frame (single corpus pass), the
    // corpus total broadcasts, tf joins freq on term under AQE skew
    // handling.
    "text_unigram_nll" -> ((s, dir) => {
      sortBig(TextAnalysis.unigramNll(t(s, dir, "documents"),
        "doc_id", "text"), "doc")
    }),

    // source-reputation (domain-level) filter — the C4/RefinedWeb stage
    // that drops whole ORIGINS rather than single documents: per-source
    // duplicate share (corpus dup-count keyed on md5(text) — a narrow
    // fixed-width shuffle key, text never crosses the wire twice) and
    // mean distinct-token ratio (6dp-rounded per doc, exact-decimal
    // mean), gated at dup_share <= 0.2 AND mean_distinct_ratio >= 0.5.
    // The natural corpus is uniform across its 20 synthetic sources, so
    // two sources are PLANTED bad in-query (every third doc replaced by
    // one boilerplate line) guaranteeing both flag states at every sf;
    // the oracle applies the identical plant and formulas.
    "doc_source_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
          when(col("source").isin("src3", "src7") && col("doc_id") % 3 === 0,
            lit("boiler plate boiler plate boiler plate"))
            .otherwise(col("text")))
        .withColumn("_k", md5(col("text")))
      val dupc = docs.groupBy(col("_k")).agg(count(lit(1)).as("_c"))
      val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("distinct_ratio"))
      val perDoc = docs.select(col("doc_id"), col("source"), col("_k"))
        .join(dupc, "_k").join(q, "doc_id")
      val stats = perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        round(sum(when(col("_c") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_share"),
        round(sum(col("distinct_ratio").cast(DecimalType(38, 6)))
          .cast("double") / count(lit(1)), 6).as("mean_distinct_ratio"))
      sortSmall(stats.withColumn("kept",
        (col("dup_share") <= 0.2 && col("mean_distinct_ratio") >= 0.5)
          .cast("long")), "source")
    }),

    // portable count-min-sketch heavy hitters: the corpus term counts
    // compress into a 4×1024-cell sketch (≤ d·w rows whatever the vocab,
    // mergeable cell-wise across shards), every distinct term is
    // point-estimated back (min over rows), and the top 20 by estimate
    // surface with their exact counts riding along — est >= exact always,
    // collisions overestimate deterministically. md5-derived bucket
    // hashes make the sketch engine-neutral, so the DuckDB oracle
    // rebuilds the identical cells and every estimate hash-matches.
    "text_cms_topk" -> ((s, dir) => {
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
        
    }),

    // CCNet head/middle/tail selection: per-language exact tercile
    // cutoffs over the unigram-LM score, row-local threshold bucketing —
    // no per-language total order (see TextAnalysis.nllBuckets scale
    // note). The oracle recomputes cutoffs with quantile_cont, which
    // ts_percentiles already pinned bit-identical to Spark's percentile.
    "text_nll_buckets" -> ((s, dir) => {
      sortBig(TextAnalysis.nllBuckets(t(s, dir, "documents"),
        "doc_id", "text", "lang"), "doc")
    }),

    // SimHash near-dup pairs, ORACLE-PINNED (r7 VERDICT next-round 1):
    // declared over the portable md5-derived 60-bit fingerprint
    // (Dedup.portableSimhash64 — the construction stream_simhash_dedup
    // already proved any SQL engine recomputes bit-identically), mined
    // with the same Manku combination banding as the engine-hash scale
    // path. Banding is EXACT for hamming <= maxDist (pigeonhole) and
    // the Hamming verify removes every false candidate, so the output
    // is deterministically the full <= 3 pair set — the DuckDB oracle
    // recomputes the fingerprints and scans all pairs, no recall margin.
    // ExtSpec separately pins the engine-xxhash64 variant (chunk ==
    // combination banding) and planted-near-dup recovery.
    "doc_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      sortSmall(Dedup.simhashDupPairsAtScalePortable(docs, "doc_id", "text",
          maxDist = 3, nBlocks = 6)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("long").as("hamming")),
        "doc_a", "doc_b")
    }),

    // banded hyperplane-LSH similar pairs — the threshold-complete PAIRS
    // operator (vs emb_lsh_top_pairs' top-N cut), ORACLE-PINNED since r8
    // (r7 VERDICT next-round 3): bits sizes buckets (2^10 per band —
    // pick ≈ log2(n)+slack so occupancy stays O(1) at scale); bands buy
    // recall back via OR-amplification. The natural corpus is
    // near-orthogonal (max pair cosine 0.51 at sf0.01 / 0.60 at sf0.1),
    // so the >= 0.8 regime is populated by DETERMINISTIC PLANTED
    // DUPLICATES computed inside the query: every vec_id % 10 == 0 row
    // is copied under vec_id + 100000 (a DENSER plant than top_pairs'
    // % 25, exercising the unbounded all-pairs-above-threshold
    // semantics). Identical vectors collide in every band, so recovery
    // is probability-1, and the exact-cosine verify makes any natural
    // collision fail the >= 0.8 cut — the DuckDB oracle's exhaustive
    // scan therefore matches bit-for-bit: planted recovery AND zero
    // false positives, no recall margin. The low-threshold natural
    // regime (measured recall ≈ the banding formula's prediction) is
    // pinned in ExtSpec instead.
    "emb_lsh_pairs" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      sortSmall(Similarity.lshBucketedPairs(base.unionByName(planted),
          "vec_id", "embedding", minCosine = 0.8, bits = 10, bands = 8),
        "id_a", "id_b")
    }),

    // SEMANTIC DEDUP (SemDeDup-style, Abbas et al. 2023): the keep
    // decision in EMBEDDING space — near-dup pairs are cosine >= 0.8
    // rather than textual n-gram overlap, resolved into connected
    // components by the same pointer-doubling label propagation the
    // text dedup ships, so keeper = min vec_id per semantic cluster.
    // Pair mining reuses the banded hyperplane-LSH path with the same
    // in-query planted duplicates as emb_lsh_pairs (identical vectors
    // collide in every band → probability-1 recovery; the exact-cosine
    // verify keeps natural near-orthogonal pairs out), so the pair
    // graph is deterministic and the recursive-CTE oracle reproduces
    // the exact clustering. Composite of two already-gated operators —
    // the embedding-space twin of doc_dedup_clusters.
    "emb_dedup_clusters" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val pairs = Similarity.lshBucketedPairs(base.unionByName(planted),
          "vec_id", "embedding", minCosine = 0.8, bits = 10, bands = 8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val cl = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      val sizes = cl.groupBy(col("root")).agg(count(lit(1)).as("cluster_size"))
      sortSmall(cl.join(sizes, "root")
        .select(col("doc").as("vec_id"), col("root"), col("cluster_size")),
        "vec_id")
    }),

    // IVFADC+R probe over a persisted compressed index (rows-only:
    // IVF routing is approximate by construction). The ADC long-list
    // scans codes (+_rn), never float vectors — 1/16 of the corpus
    // bytes — statically pruned to the probed lists; the top-R
    // short-list is then re-ranked with the exact cosine against the
    // <= R·|queries| full-vector rows it names (id-pushdown read), so
    // quantization error no longer bounds recall (measured: re-rank
    // recall == the IVF routing ceiling at every setting). The residual
    // loss is ROUTING on this fixture's uniform-random near-orthogonal
    // vectors — ANN's statistically hardest case, where any sublinear
    // scan must trade recall — hence the honest 12/16 probed fraction
    // here (recall 0.975 at sf0.01); real clustered corpora route at
    // small fractions (ScaleSmoke ann1m: recall 1.0 at 3.1% scan).
    // Index built once per (session, sf dir) like the stream-dedup band
    // index. The declared output is GUARANTEED-EXACT (r9 VERDICT task 1):
    // stage 1 times the ordinary approximate IVFADC+R probe (nProbe =
    // 12/16, rerankR = 100), whose kth cosine then drives the
    // triangle-inequality + reconstruction-error bounds that admit every
    // point the probe could have missed (Similarity.ivfPqProbeExact), so
    // the result hash-matches a brute-force DuckDB oracle while the scan
    // stays codes-only and list-pruned wherever the corpus clusters.
    // Distinct query slice (vec_id 48..55) so the gate is not a literal
    // re-run of the other ANN anchors.
    "emb_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 48 && col("vec_id") < 56)
      val idx = ivfPqIndexFor(s, dir)
      sortSmall(Similarity.ivfPqProbeExact(s, idx, queries, "vec_id",
          "embedding", k = 5, nProbe = 12, rerankR = 100)
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine")),
        "query_id", "rank")
    }),

    // IVFADC+R at EXHAUSTIVE routing (nProbe = nLists) — the oracle-pinned
    // correctness anchor for the whole PQ path: with every list probed and
    // a short-list covering the corpus, the re-rank stage's exact-cosine
    // rescore reproduces brute-force top-k BIT-FOR-BIT (ExtSpec pins the
    // set equality; the re-rank scoring is the same IEEE op sequence as
    // cosineTopK), so a brute-force DuckDB oracle hash-matches it. This
    // converts PQ correctness from rows-only to driver-gate green while
    // emb_ivfpq_topk above stays the honest TIMED approximate path
    // (nProbe < nLists). Distinct query slice (vec_id 16..23, k = 10) so
    // the gate is not a literal re-run of emb_cosine_topk.
    "emb_ivfpq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 16 && col("vec_id") < 24)
      val idx = ivfPqIndexFor(s, dir)
      sortSmall(Similarity.ivfPqProbeRerank(s, idx, queries, "vec_id",
          "embedding", k = 10, nProbe = 16, rerankR = 100000)
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine")),
        "query_id", "rank")
    }),

    // learned-centroid IVF top-k, GUARANTEED-EXACT (r9 VERDICT task 1):
    // the nProbe = 4/16 probe still runs and is timed, but its kth-best
    // cosine now drives a triangle-inequality completeness pass
    // (Similarity.ivfTopKExact) that scans exactly the lists whose
    // centroid bound admits a better candidate — so the declared output
    // is brute-force top-k bit-for-bit (DuckDB brute-force oracle
    // hash-matches) for ANY centroid quality, and the probe's recall
    // trade becomes a scan-fraction trade instead. Centroids + radii
    // trained/derived ONCE per (session, sf dir) — the realistic
    // train-once / probe-many shape. Distinct query slice (vec_id
    // 32..39, k = 6) so the gate is not a literal re-run of the other
    // ANN anchors.
    "emb_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 32 && col("vec_id") < 40)
      sortSmall(Similarity.ivfTopKExact(emb, queries, "vec_id",
          "embedding", k = 6, nProbe = 4, ivfCentsFor(s, dir),
          Some(ivfRadiiFor(s, dir)))
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine")),
        "query_id", "rank")
    }),

    // learned-centroid IVF at EXHAUSTIVE routing (nProbe = nLists) — the
    // oracle-pinned anchor for the non-PQ IVF lifecycle, mirroring what
    // emb_ivfpq_rerank does for the PQ path: with every list probed, each
    // candidate joins exactly once (its single assigned list) and gets
    // the exact cosine, so the result IS brute-force top-k and a
    // brute-force DuckDB oracle hash-matches it — routing, assignment,
    // and scoring all sit on the driver gate. emb_ivf_topk above stays
    // the honest TIMED approximate path (nProbe < nLists, rows-only).
    // Distinct query slice (vec_id 8..15, k = 7) so the gate is not a
    // literal re-run of emb_cosine_topk or the PQ anchor.
    "emb_ivf_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 8 && col("vec_id") < 16)
      sortSmall(Similarity.ivfTopKLearned(emb, queries, "vec_id",
          "embedding", k = 7, nLists = 16, nProbe = 16,
          precomputedCents = Some(ivfCentsFor(s, dir)))
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine")),
        "query_id", "rank")
    }),

    // IVF RETRAIN-ON-DRIFT, oracle-pinned probe parity: after the
    // build → drifted append → bounded retrain lifecycle ([[ivfDriftFor]],
    // requires pin incrementality + drift reduction at build time), the
    // exhaustive probe (nProbe = nLists) over the retrained index still
    // returns brute-force top-k bit-for-bit — assignment is routing
    // metadata, never scoring, so re-clustering the drifted lists CANNOT
    // change exact results (what it restores is approximate-probe recall
    // and the exact probe's scan fraction). A lost/duplicated row or a
    // mangled vector in the partition swap would hash-mismatch the
    // brute-force oracle over base ∪ shifted wave. Query slice 24..31,
    // k = 8 — not a literal re-run of the other ANN anchors.
    "emb_ivf_drift_retrain" -> ((s, dir) => {
      val p = ivfDriftFor(s, dir)
      val queries = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .where(col("vec_id") >= 24 && col("vec_id") < 32)
      sortSmall(Similarity.ivfProbeIndex(s, p, queries, "vec_id",
          "embedding", k = 8, nProbe = 16)
        .select(col("query_id"), col("rank"), col("candidate_id"),
          col("cosine")),
        "query_id", "rank")
    }),

    // per-label embedding centroids: element-wise mean-pooling — the
    // class-centroid / cluster-representative primitive (what seeds an
    // IVF retrain or picks a semantic-dedup representative). Flat
    // (label, dim, mean) output: posexplode + one (label, dim) hash
    // aggregate, exact DECIMAL(38,12) partials, one division + round(6)
    // at the end — partitioning- and engine-invariant.
    "emb_label_centroids" -> ((s, dir) => {
      sortSmall(Similarity.meanVectorByKey(t(s, dir, "embeddings"),
        "label", "embedding"), "label", "dim")
    }),

    // in-engine Lloyd k-means, trained BY the engine and pinned BY the
    // oracle: the QualityModel generated-oracle discipline applied to
    // clustering — every Lloyd round's assignment argmin runs on
    // 6-dp-portably-rounded exact-decimal distances and every centroid
    // update is an exact decimal sum + one IEEE division snapped to the
    // 6-dp grid, so a DuckDB replay of all 3 rounds (4 CTEs per round)
    // lands on bit-identical centroids. Seeds = the k smallest-id
    // vectors (no RNG); empty clusters carry forward. Output: final
    // centroids + final-assignment cluster sizes (k·d rows). Scale: the
    // working set is the cached flat (id, dim, x) frame; each round is
    // one broadcast join + two hash aggregates with O(k·d) driver
    // traffic — corpus-size-independent rounds (see Kmeans object doc).
    "emb_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = Kmeans.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      val af = Kmeans.assignFinal(emb, "vec_id", "embedding", m)
      val sizes = af.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      sortSmall(Kmeans.centroidFrame(s, m)
        .join(sizes, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
          col("dim"), col("c")),
        "cluster", "dim")
    }),

    // SemDeDup (Abbas et al. 2023) — semantic dedup at the embedding
    // level: k-means-cluster the corpus (the in-engine exact Lloyd
    // above), mine cosine-near-dup pairs ONLY within clusters (the
    // paper's point: clustering bounds pair work to Σ|cluster|², never
    // the corpus square — k scales ∝ N / target-cluster-size), resolve
    // connected components inside each cluster in one grouped
    // union-find pass (a pair never crosses clusters), keep the member
    // CLOSEST TO ITS CLUSTER CENTROID per component (the paper's keep rule,
    // ties to the smaller id). Planted exact copies (vec_id % 10 == 0,
    // shifted +100000 — the emb_dedup_clusters fixture) make the dup
    // structure non-trivial; the oracle replays training, pairing, and
    // a recursive-CTE closure. One row per vector:
    // (vec_id, cluster, root, keeper, keep).
    "doc_semdedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      sortBig(Kmeans.semDedup(base.unionByName(planted), "vec_id",
        "embedding", k = 8, iters = 3, minCosine = 0.95), "vec_id")
    }),

    // nearest-centroid assignment (prototype classification / DCLM-style
    // cluster-based curation audit): every vector labelled with its
    // closest label-centroid by squared L2, argmin over the 6-dp-rounded
    // exact-decimal distance so the decision is engine-portable. The
    // relational audit form (broadcast dim-join + one hash agg); the
    // serving twin with literal centroids is Similarity.nearestList.
    "emb_nearest_centroid" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // sortBig, not sortSmall: one output row PER VECTOR — a
      // repartition(1) final sort would single-task the whole corpus at
      // scale (VERDICT r9 weak #1)
      sortBig(Similarity.nearestCentroid(emb, "vec_id", "label", "embedding")
        .join(emb.select(col("vec_id"),
          col("label").cast("long").as("true_label")), "vec_id")
        .select(col("vec_id"), col("true_label"), col("assigned"),
          col("dist2")),
        "vec_id")
    }),

    // symmetric per-vector int8 quantization (scale = max|x|/127, half-up
    // explicit as floor(x+0.5)): the storage/serving compression pass for
    // an embedding corpus. Row-local codegen'd array expressions — zero
    // shuffle; the audit stats pin every element (exact integer q_sum /
    // q_l1) plus the 6-dp reconstruction-error bound.
    "emb_quantize_int8" -> ((s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        
    }),

    // Achlioptas ±1 sign projection to 16 dims: the cheap JL
    // dimensionality reduction ahead of exact reranking. The md5-derived
    // sign matrix materializes driver-side into plan literals — the
    // projection itself is a zero-shuffle row-local codegen'd map.
    "emb_rand_proj" -> ((s, dir) => {
      Similarity.signProjection(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 16)
        
    }),

    // k-NN label classification (label propagation): each query's label
    // predicted by majority vote over its 9 nearest neighbors by cosine,
    // ties broken toward the smallest label — the standard embedding-
    // space labeling pass (works off the same cosineTopK primitive the
    // ANN family shares; at scale the candidate pass swaps for the IVF
    // probe unchanged). Fresh query slice (24..31) so the gate is not a
    // re-run of the other top-k anchors.
    "emb_knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 24 && col("vec_id") < 32)
      val nn = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
          k = 9)
        .join(emb.select(col("vec_id").as("candidate_id"),
          col("label").cast("long").as("nbr_label")), "candidate_id")
      val votes = nn.groupBy(col("query_id"), col("nbr_label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("nbr_label"))
      val pred = votes.withColumn("_r", row_number().over(w))
        .where(col("_r") === 1)
        .select(col("query_id"), col("nbr_label").as("predicted"),
          col("n_votes"))
      sortSmall(pred.join(emb.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"), col("predicted"),
          col("n_votes")), "query_id")
    }),

    // HARD-NEGATIVE MINING — the contrastive-training data miner: per
    // query, the top-k most-similar candidates with a DIFFERENT label
    // (high cosine + wrong class = the hardest negatives, the pairs a
    // metric-learning run needs most). Same one-pass scan shape as
    // emb_cosine_topk (queries broadcast, label filter BEFORE the
    // per-query top-k window cuts each group to k); at 100 TB the label
    // filter also rides the scan. Labels carried on both sides so the
    // miner's output is directly a triplet-builder input.
    "emb_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label").cast("long").as("label"))
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          Similarity.norm(col("v")).as("_qn"),
          col("label").as("query_label"))
      val c = emb.withColumn("_cn", Similarity.norm(col("v")))
        .repartition(col("vec_id"))
      val scored = c.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id") &&
          col("label") =!= col("query_label"))
        .select(col("query_id"), col("query_label"),
          col("vec_id").as("candidate_id"),
          col("label").as("candidate_label"),
          round(Similarity.dot(col("qv"), col("v")) /
            (col("_qn") * col("_cn")), 6).as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("candidate_id"))
      sortSmall(scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("query_id"), col("query_label"), col("rank"),
          col("candidate_id"), col("candidate_label"), col("cosine")),
        "query_id", "rank")
    }),

    // 1-bit-quantized Hamming top-k: sign-pack each embedding into two
    // 32-bit code halves (exact MSB-first integer folds), rank by
    // popcount of the XOR — the binary-code ANN baseline (64× smaller
    // than the floats; distance = 2 codegen'd integer ops per pair).
    // Fresh query slice (40..47) so the gate is not a re-run of the
    // cosine/IVF anchors.
    "emb_hamming_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      sortSmall(Similarity.hammingTopK(emb,
          emb.where(col("vec_id") >= 40 && col("vec_id") < 48),
          "vec_id", "embedding", k = 10),
        "query_id", "rank")
    }),

    // brute-force cosine top-k (ANN baseline; queries = vec_id < 8)
    "emb_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      sortSmall(Similarity.cosineTopK(emb, emb.where(col("vec_id") < 8), "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine")),
        "query_id", "rank")
    }),

    // most-similar pairs within a BOUNDED id-slice — the exact audit
    // form, scoped so its plan is O(1) in corpus size (VERDICT r9 weak
    // #2): global top-N at unrestricted similarity is inherently
    // quadratic (this fixture's top-20 pair cosines measure 0.44–0.51,
    // below any useful sign-LSH amplification threshold — recovering
    // them via banding costs more candidates than the join), so the
    // HEADLINE corpus-scale pair miner is emb_lsh_top_pairs below
    // (banded candidates + exact verify, complete for cosine ≥ 0.8) and
    // the exact all-pairs form audits a FIXED 1000-id slice — the same
    // bounded-slice discipline the recall_* columns use. `_slice` in the
    // name declares the scope.
    // matryoshka-style dimension-truncation audit: recall@10 of
    // prefix-truncated cosine search (8/16/32 of 64 dims) against the
    // full-dimension top-10 — the serving cost/quality tradeoff an
    // embedding-store operator reads before dropping dims at scale.
    // Four bounded brute-force passes over the 32-query slice (the
    // recall_* audit discipline); ranks on the 6-dp-rounded cosine with
    // the id tie order, so the recall fractions are engine-exact.
    "emb_dim_truncate" -> ((s, dir) => {
      // r17: ONE pair pass instead of five brute-force cosineTopK passes.
      // The sliced cosine at cut d is the dot fold's accumulator after d
      // terms (DotProduct sums left-to-right from 0.0), so a single
      // PrefixCosines kernel observes all four budgets' cosines
      // bit-identically in one corpus × query scan; the d = 64 cut IS the
      // full-dimension reference set. Four rank windows share the one
      // pinned scored frame (ExtSpec pins equality against the five-pass
      // formulation rebuilt inline).
      val cuts = Seq(8, 16, 32, 64)
      // the d = cuts.max cut stands in for full width only if every vector
      // is exactly that wide: fail loudly in the projection (no extra job)
      val width = size(col("embedding"))
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"),
          when(col("embedding").isNotNull && width =!= cuts.max,
            raise_error(concat(lit("emb_dim_truncate: embedding width "),
              width.cast("string"), lit(s" != ${cuts.max}"))))
            .otherwise(col("embedding").cast("array<double>")).as("_v"))
      val q = base.where(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"), col("_v").as("_qv"))
      val scored = Pin.pin(base.repartition(col("vec_id"))
        .crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("_pc", graft.functions.VectorFunctions.prefixCosines(
          col("_qv"), col("_v"), cuts))
        .select(Seq(col("query_id"), col("vec_id").as("candidate_id")) ++
          cuts.indices.map(i =>
            round(element_at(col("_pc"), i + 1), 6).as(s"_cos$i")): _*))
      def topk(i: Int) = {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col(s"_cos$i").desc, col("candidate_id"))
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .select(col("query_id"), col("candidate_id"))
      }
      val full = topk(cuts.length - 1).transform(Pin.pin)
      cuts.zipWithIndex.map { case (d, i) =>
        topk(i).join(full, Seq("query_id", "candidate_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(d.toLong).as("dims"), col("hits"))
      }.reduce(_ unionByName _)
        .select(col("dims"), col("hits"),
          round(col("hits").cast("double") / lit(320.0), 6).as("recall_at_10"))

    }),

    "emb_top_pairs_slice" -> ((s, dir) => {
      Similarity.topPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 1000),
        "vec_id", "embedding", 20)
    }),

    // thresholded global top-N via LSH candidates + exact verify — the
    // scale path (topPairsLsh): complete for cosine >= 0.8 by banding
    // design, deterministic for exact duplicates (identical signatures
    // collide in every band). The natural corpus is near-orthogonal
    // (measured max pair cosine 0.51 at sf0.01 / 0.60 at sf0.1), so the
    // >= 0.8 regime is populated by DETERMINISTIC PLANTED DUPLICATES
    // computed inside the query: every vec_id % 25 == 0 row is copied
    // under vec_id + 100000. The DuckDB oracle applies the identical
    // plant and an exhaustive >= 0.8 scan, so the gate now exercises
    // banding recall on a non-empty result (planted pairs are recovered
    // with probability 1 — identical signatures collide in every band)
    // while still pinning zero false positives from the natural corpus.
    "emb_lsh_top_pairs" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Similarity.topPairsLsh(base.unionByName(planted), "vec_id", "embedding",
        topN = 20, minCosine = 0.8, bits = 12, bands = 16)
    }),

    // text quality scoring
    "text_quality" -> ((s, dir) => {
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        
    }),

    // per-document token-distribution Shannon entropy (nats): the
    // information-density signal for template/boilerplate detection;
    // sorted-order fold keeps the float sum engine-identical.
    "text_entropy" -> ((s, dir) => {
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        
    }),

    // Gopher-style format/symbol quality rules (Rae et al. 2021 §A1.1):
    // mean word length, symbol-to-word ratio, bullet/ellipsis line
    // fractions, alpha-word fraction, and the published-threshold
    // conjunction flag — all row-local codegen'd expressions.
    "text_gopher_rules" -> ((s, dir) => {
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        
    }),

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
    "text_c4_rules" -> ((s, dir) => {
      val structured = t(s, dir, "documents")
        .select(col("doc_id"), c4StructuredText.as("text"))
      sortBig(TextAnalysis.c4Rules(structured, "doc_id", "text"), "doc_id")
    }),

    // the C4 bundle applied at INGEST: every rule is row-local string
    // work, so the whole line-then-page filter runs as a fully
    // STATELESS stream stage — no state store, no aggregate — and the
    // streamed result equals the batch result row-for-row (same oracle
    // pins stream ≡ batch ≡ replay).
    "stream_c4_rules" -> ((s, dir) => {
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_c4_result") { st =>
        TextAnalysis.c4Rules(
          st.select(col("doc_id"), c4StructuredText.as("text")),
          "doc_id", "text")
      }
      sortBig(res, "doc_id")
    }),

    // PageRank link analysis (Brin & Page 1998) — the crawl-graph
    // centrality prior corpus curation ranks hosts/pages by (Common
    // Crawl ships exactly this rank family). The link graph is
    // deterministic synthetic over doc ids (out-degree 1 + id % 3,
    // targets spread by a fixed affine rule — no self-loops, no
    // dangling nodes), built identically in the oracle; 8 damped power
    // iterations with the exact-decimal contribution discipline make
    // ranks partition- AND engine-invariant, so the oracle replays
    // every round bit-for-bit. Per round: one key-partitioned join +
    // one map-side-combinable decimal aggregate — no driver traffic.
    "doc_pagerank" -> ((s, dir) => {
      sortBig(rankFor(s, dir), "node")
    }),

    // PageRank with a PLANTED DANGLING STRATUM (~⅓ of nodes lose every
    // out-edge — the real-crawl-graph regime): the canonical
    // redistribute-uniformly semantics (one exact-decimal dangling-mass
    // aggregate folded into each round's base term, broadcast in-plan)
    // keeps total rank mass ≡ 1 on the grid instead of leaking ~⅓ of it
    // per round. Same generated bit-for-bit oracle replay; the
    // dangling-free doc_pagerank result is unchanged (share exactly 0.0
    // there).
    "doc_pagerank_dangling" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e = syntheticEdges(docs).where(pmod(col("src"), lit(3L)) =!= 0L)
      sortBig(Graph.pageRank(e, docs, iters = 8), "node")
    }),

    // HOST-graph PageRank (r12 verdict task 5): collapse the page-level
    // link graph to hosts via the URL canonicalization chain and rank
    // HOSTS — the granularity Common Crawl actually publishes
    // (harmonic/PageRank at host level) and the prior a crawl budget
    // allocates by. Host ids are the portable md5-bigint of the host
    // string (both engines compute it identically); host edges are the
    // DISTINCT cross-host projections of the page edges (self-edges
    // dropped — a within-host link carries no cross-host endorsement).
    // One groupBy collapses pages to hosts; the rank loop then runs on
    // the tiny host graph — at crawl scale this is how a 10^10-page
    // graph becomes a 10^7-host one the rank iteration can chew.
    "doc_host_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // pinned: four consumers (hsrc, hdst, hn, perHost) fan out of this
      // corpus-wide canon/md5 projection — un-pinned each one re-runs
      // the full documents scan + regex chain (4 corpus scans for 1)
      val hframe = syntheticUrls(docs).select(col("doc_id"),
          UrlOps.hostOf(UrlOps.canonicalUrl(col("url"))).as("host"))
        .withColumn("hid",
          conv(substring(md5(col("host")), 1, 15), 16, 10).cast("long"))
        .transform(Pin.pin)
      val hsrc = hframe.select(col("doc_id").as("src"),
        col("hid").as("hsrc"))
      val hdst = hframe.select(col("doc_id").as("dst"),
        col("hid").as("hdst"))
      val he = syntheticEdges(docs.select(col("doc_id")))
        .join(hsrc, "src").join(hdst, "dst")
        .where(col("hsrc") =!= col("hdst"))
        .select(col("hsrc").as("src"), col("hdst").as("dst")).distinct()
      val hn = hframe.select(col("hid")).distinct()
      val pr = Graph.pageRank(he, hn, iters = 8)
      val perHost = hframe.groupBy(col("hid"), col("host"))
        .agg(count(lit(1)).as("n_docs"))
      sortSmall(pr.join(perHost, pr("node") === perHost("hid"))
        .select(col("host"), col("rank"), col("in_deg"), col("out_deg"),
          col("n_docs")), "host")
    }),

    // rank-prior CURATION composition — the decision a crawl pipeline
    // actually ships: keep a page only when its link-graph centrality
    // clears the 75th-percentile cutoff AND it passes the Gopher format
    // gates. The cutoff is an EXACT order statistic compared in exact
    // decimal arithmetic (the nllBuckets tercile discipline: position
    // (n−1)·3/4 has fraction r/4, r = (3·(n−1)) mod 4, so
    // rank ≥ cut ⟺ 4·rank ≥ (4−r)·lo + r·hi over DECIMAL(38,6) grid
    // values) — interpolated percentile on both sides left a one-ulp
    // boundary exposure with heavily-tied 6-dp ranks. The two order
    // statistics come from Ranks.globalRowNumber over (rank, doc_id) —
    // a range shuffle with full parallelism, never a corpus-sized
    // sorted-list buffer on one task; per-lang accounting with an md5
    // content checksum — the doc_curate_sink audit shape.
    "doc_curate_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pr = rankFor(s, dir)
        .select(col("node").as("doc_id"), col("rank"))
      val cutoff = Ranks.orderStatCut(pr, col("rank"), col("doc_id"), 3, 4)
      val gp = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .where(col("gopher_pass")).select(col("doc_id"))
      sortSmall(docs.join(pr, "doc_id").crossJoin(broadcast(cutoff))
        .where(col("rank").cast("decimal(38,6)") * 4 >=
          (lit(4) - col("_r")) * col("_lo") + col("_r") * col("_hi"))
        .join(gp, Seq("doc_id"), "left_semi")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long"), lit(1000003L))).as("checksum")),
        "lang")
    }),

    // approximate-percentile serving twins (r12 verdict task 7): the
    // task-1 exact cutoffs re-served by percentile_approx with the
    // sketch's rank-error bound ASSERTED in-query against the exact
    // order statistics — the rel_sketches/doc_lsh_audit operating-point
    // discipline applied to quantile serving
    "doc_curate_rank_approx" -> ((s, dir) => {
      val pr = rankFor(s, dir)
        .select(col("node").as("doc_id"), col("rank"))
      approxCutAudit(pr, col("rank"), col("doc_id"), 3, 4)
    }),

    "doc_pipeline_median_approx" -> ((s, dir) => {
      val st = e2eStagesFor(s, dir)
      val scz = st.gated.withColumn("_sc",
        QualityModel.scoreText(col("text"), lrModelFor(s, dir)))
      approxCutAudit(scz, col("_sc"), col("doc_id"), 1, 2)
    }),

    "text_nll_cuts_approx" -> ((s, dir) => {
      sortSmall(TextAnalysis.nllCutsApprox(t(s, dir, "documents"),
        "doc_id", "text", "lang"), "lang")
    }),

    // LSH operating-point AUDIT: precision/recall of the portable
    // 60-bit simhash hamming ≤ 3 detector against exact 3-gram
    // Jaccard ≥ 0.5 ground truth (both sides exactly replayable — the
    // methodological telemetry that justifies a banding threshold
    // before it curates 100 TB). Planted drop-first-word edits make
    // the truth set non-trivial; both sides run on the SAME corpus and
    // the truth side is the bucketed PPJoin, never all-pairs.
    "doc_lsh_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val edited = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 2, 1000000))
            .as("text"))
      val corpus = docs.unionByName(edited).transform(Pin.pin)
      // both pair frames feed TWO consumers (their own count + the hits
      // join): pinned (r16), each mining pass runs once — unpinned, the
      // full PPJoin truth pass and the simhash banding pass re-executed
      // for the second consumer
      val truth = Pin.pin(Dedup.jaccardPairs(
          Dedup.hashedShingles(corpus, "doc_id", "text", 3), 0.5)
        .select(col("doc_a"), col("doc_b")))
      val cand = Pin.pin(Dedup.simhashDupPairsAtScalePortable(corpus,
          "doc_id", "text", maxDist = 3, nBlocks = 6)
        .select(col("doc_a"), col("doc_b")))
      val hits = cand.join(truth, Seq("doc_a", "doc_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_truth"), col("n_cand"), col("n_hits"),
          round(col("n_hits").cast("double") /
            col("n_cand").cast("double"), 6).as("precision"),
          round(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"))
    }),

    // TRAINED language ID (r11 verdict task 5): multinomial NB over
    // hashed char trigrams, trained in-engine from the corpus labels —
    // counting-only training, so the oracle replays model AND argmax
    // bit-for-bit (DSIR log discipline). Beats the stopword heuristic
    // 51% vs 32% on this corpus and never answers "und". Train-once /
    // consume-twice: the scored frame is cached per (session, sf dir) —
    // the confusion audit reads the same predictions a pipeline would.
    "text_langid_trained" -> ((s, dir) => {
      sortBig(langIdTrainedFor(s, dir), "doc")
    }),

    // the trained model's confusion matrix — directly comparable to
    // text_lang_confusion (the heuristic's); the audit a pipeline reads
    // before trusting a language gate
    "text_langid_trained_confusion" -> ((s, dir) => {
      langIdTrainedFor(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        
    }),

    // language ID heuristic
    "text_langid" -> ((s, dir) => {
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"), col("hits_en"), col("hits_de"),
          col("hits_es"), col("hits_fr"))
        
    }),

    // token counting under whitespace + BPE-ish regex tokenizers
    "text_token_counts" -> ((s, dir) => {
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        
    }),

    // REAL learned-BPE token counts (r9 VERDICT task 5): 8 merge rounds
    // trained from this corpus' word dict (Sennrich ACL'16), applied as
    // a row-local codegen'd replace chain — the whitespace/regex
    // counters above approximate what this measures. Merges train ONCE
    // per (session, sf dir); the oracle is GENERATED (Bpe.oracleSql) so
    // engine and oracle replay the identical rounds, argmax tie-breaks,
    // and 6-pass replace semantics.
    "text_bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      sortBig(graft.ext.Bpe.tokenCounts(docs, "doc_id", "text", merges),
        "doc")
    }),

    // UNIGRAM-LM (SentencePiece-style) learned tokenizer (Kudo ACL'18;
    // r13 verdict task 6) — the OTHER tokenizer real LLM pipelines
    // train: a fixed seed vocabulary (all chars + top substrings)
    // scored by Viterbi-EM over the word TYPE frame, integer micro-nat
    // costs on the 6-dp probability grid, 2 fixed EM rounds. The
    // oracle is GENERATED (Unigram.oracleSql) so engine and oracle
    // replay identical seeding, DP tie-breaks (min over the
    // cost‖path-encoded string) and round counts. Type-level apply:
    // Viterbi once per dictionary word, occurrences join back.
    "text_unigram_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      sortBig(graft.ext.Unigram.tokenCountsFromDict(docs, "doc_id", "text",
        unigramDictFor(s, dir)), "doc")
    }),

    // tokenizer bake-off — the fertility/compression comparison a
    // tokenizer choice is actually made on: per language, tokens/word
    // for the trained BPE vs the trained unigram LM over the SAME
    // corpus. Both training replays compose into one generated oracle.
    "text_tokenizer_compare" -> ((s, dir) => {
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
        
    }),

    // the production-merge-count apply path (r10 VERDICT task 2): the
    // replace chain runs once per word TYPE in bounded-depth batches,
    // occurrence counts join back by word — same merges, same oracle,
    // same hashes as text_bpe_tokens, different physical plan
    "text_bpe_tokens_typed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeMergesFor(s, dir)
      sortBig(graft.ext.Bpe.tokenCountsTyped(docs, "doc_id", "text", merges),
        "doc")
    }),

    // corpus token frequencies (top 50)
    "text_token_stats" -> ((s, dir) => {
      TextAnalysis.tokenStats(t(s, dir, "documents"), "text", 50)
    }),

    // CJK tokenization honesty (r10 VERDICT task 3): a planted CJK
    // stratum (every 20th doc deterministically transliterated to Han
    // characters with whitespace removed — built identically in the
    // oracle, so both engines see the same no-whitespace text) is ONE
    // whitespace token per doc; the character-class fallback
    // segmentation recovers per-character tokens, while Latin docs'
    // counts are provably unchanged (ws_tokens = seg_tokens there).
    "text_token_cjk" -> ((s, dir) => {
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
      sortBig(t(s, dir, "documents").select(col("doc_id").as("doc"),
        planted.cast("long").as("is_cjk"),
        nTok(txt).as("ws_tokens"),
        nTok(TextAnalysis.segmentCjk(txt)).as("seg_tokens")), "doc")
    }),

    // rolling-hash document fingerprint
    "text_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        
    }),

    // Gopher-style 2-gram repetition filters (top-gram share, duplicate
    // share) — the pre-training curation signal, exact-count arithmetic
    // FOREIGN-LM quality scoring (the real CCNet shape): every doc
    // scored against a bigram LM counted from the TRUSTED subset
    // (lang='en'), stupid backoff on unseen bigrams — OOV is a live
    // path, unlike the self-scored text_bigram_nll; oov_frac is the
    // companion filter signal
    "text_lm_score" -> ((s, dir) => {
      sortBig(TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("nll"),
          col("oov_frac")),
        "doc_id")
    }),

    // langid CONFUSION audit (labeled lang × predicted lang): the
    // classifier-drift telemetry a curation pipeline tracks per batch —
    // one join + one tiny aggregate over the already-row-local langid
    "text_lang_confusion" -> ((s, dir) => {
      val pred = TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"))
      t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        
    }),

    // corpus length-distribution telemetry: token-length histogram per
    // lang in fixed 100-token buckets — one row-local projection + one
    // combinable aggregate (the shape any corpus-stats dashboard needs)
    "doc_length_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("_n"),
          col("n_chars"))
        .groupBy(col("lang"), (col("_n") - pmod(col("_n"), lit(100L)))
          .as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("total_tokens"),
          r6(sum(col("n_chars").cast(DecimalType(27, 8))).cast("double") /
            count(lit(1))).as("mean_chars"))
        
    }),

    // snapshot UPSERT/MERGE (compaction): latest-version-wins merge of a
    // delta batch (revised + brand-new docs) into the base snapshot —
    // the SCD/compaction primitive an incremental corpus pipeline runs
    // per ingest cycle. Keyed window (no global sort); content pinned
    // via md5 so the oracle audits the merged TEXT, not just row counts.
    "doc_upsert_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = docs.withColumn("version", lit(1L))
      val revised = docs.where(col("doc_id") % 10 === 3)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"),
          lit(2L).as("version"))
      val fresh = docs.where(col("doc_id") % 20 === 11)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          lit(2L).as("version"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
      sortBig(base.unionByName(revised).unionByName(fresh)
        .withColumn("_r", row_number().over(w)).where(col("_r") === 1)
        .select(col("doc_id"), col("version"), md5(col("text")).as("content_md5")),
        "doc_id")
    }),

    // bigram conditional NLL (second-order LM quality score): word-salad
    // scores high even when its unigrams are common — the failure mode
    // text_unigram_nll cannot see; same skew-split token-mass join
    "text_bigram_nll" -> ((s, dir) => {
      sortBig(TextAnalysis.bigramNll(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("nll")),
        "doc_id")
    }),

    // interpolated Kneser–Ney TRIGRAM NLL — the third-order LM score
    // with proper continuation-count smoothing (the n-gram LM quality
    // filters like CCNet actually use KN models): word salad built from
    // plausible bigrams scores high here and not under text_bigram_nll.
    // All statistics live on the distinct-trigram TYPE frame; the one
    // token-mass join is skew-split (broadcast head). The oracle replays
    // the identical type counts and operation-ordered float formula.
    "text_kn3_nll" -> ((s, dir) => {
      sortBig(TextAnalysis.kn3Nll(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_trigrams"), col("kn_nll")),
        "doc_id")
    }),

    // corpus bigram top-40 (collocation / boilerplate-phrase mining):
    // row-local gram construction (slice+transform, zero pre-agg
    // shuffle) → map-side-combinable count → top-N; ties → bigram asc
    "text_bigram_topk" -> ((s, dir) => {
      TextAnalysis.bigramTopK(t(s, dir, "documents"), "text", 40)
    }),

    "text_repetition" -> ((s, dir) => {
      sortBig(TextAnalysis.repetitionStats(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_2grams"),
          col("top_2gram_frac"), col("dup_2gram_frac")), "doc_id")
    }),

    // per-document top-3 TF-IDF terms (corpus-statistics keyword
    // extraction); ranking is over the ROUNDED score so cross-engine
    // last-bit ln() differences cannot reorder ranks
    "text_tfidf" -> ((s, dir) => {
      sortBig(TextAnalysis.tfidfTopTerms(t(s, dir, "documents"),
          "doc_id", "text", topN = 3)
        .select(col("doc").as("doc_id"), col("rank"), col("term"),
          col("tfidf")), "doc_id", "rank")
    }),

    // Unicode NFC normalization audit (UAX #15) — the canonical-form
    // pass run before tokenization and dedup so decomposed e+U+0301 and
    // precomposed U+00E9 hash identically. The corpus is ASCII (already
    // NFC), so a deterministic non-NFC prefix is planted by doc_id % 3:
    // a combining-acute sequence (NFC contracts it to one char), U+212B
    // ANGSTROM SIGN (NFC maps it to U+00C5), and U+FB01 fi-ligature
    // (NFC-stable — the negative control; only NFKC folds it).
    // Normalization is the codegen'd native NormalizeUnicode
    // expression; the audit is one row-local projection, no shuffle.
    "text_normalize" -> ((s, dir) => {
      val pre = when(col("doc_id") % 3 === 0, lit("e\u0301"))
        .when(col("doc_id") % 3 === 1, lit("\u212B"))
        .otherwise(lit("\uFB01"))
      val raw = t(s, dir, "documents")
        .select(col("doc_id"), concat(pre, lit(" "), col("text")).as("text"))
      sortBig(TextAnalysis.nfcAudit(raw, "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_raw"), col("n_nfc"),
          col("changed"), col("h")), "doc_id")
    }),

    // BM25 ranked retrieval for a fixed query set — the retrieval
    // sibling of text_tfidf (Lucene idf form, k1=1.2, b=0.75): corpus
    // pays one row-local tokenize + one explode filtered to the query
    // terms; contributions rounded-then-decimal-summed so ranks are
    // partition- and engine-invariant
    "text_bm25" -> ((s, dir) => {
      sortSmall(TextAnalysis.bm25TopK(t(s, dir, "documents"),
          "doc_id", "text", Bm25Queries, k1 = 1.2, b = 0.75, topK = 10)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("score")), "query_id", "rank")
    }),

    // JSON property extraction (multimodal sidecar) + rollup per type
    "json_props" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("k", EventOps.jsonLong(col("props"), "$.k"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        
    }),

    // multimodal ingest: binary payload + typed metadata (sha256/bytes)
    "multimodal_meta" -> ((s, dir) => {
      graft.ext.Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "source")
        .select(col("doc_id"), col("meta.modality").as("modality"),
          col("meta.byteLen").as("byte_len"), col("meta.sha256").as("sha256"))
        
    }),

    // IMAGE perceptual near-dup pairs (content-level image dedup): dHash
    // over REAL decoded pixels (javax.imageio), banded hamming search —
    // no all-pairs. The corpus is the deterministic procedural-PNG
    // stand-in (no image corpus ships in the testdata): pattern from
    // md5(text), brightness from doc_id — so text-twin docs yield
    // byte-DIFFERENT payloads (sha256 all differ) whose dHash is exactly
    // equal (uniform-brightness invariance, proven in MultimodalSpec),
    // and the oracle can pin the content-match set relationally while
    // the engine path exercises real decode + banding end to end.
    "multimodal_phash_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // planted content twins (same text, different id ⇒ different
      // brightness ⇒ different bytes): the image-corpus analogue of the
      // dedup fixtures' copy planting
      val copies = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      // codec-bound stage: a small parquet arrives as ONE split, which
      // would serialize ~ms-per-image encode+decode on a single core —
      // spread the row-local codec work across the executors first (at
      // real image-corpus scale the input splits already provide this)
      val media = docs.unionByName(copies)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val seed = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8"))
          // 18×16 payloads: the fixture-synthesis cost (PNG encode) is
          // NOT the operator under test — keep it small so the timed
          // number tracks decode+hash+banding; phash200k carries the
          // full-size codec-throughput evidence
          (id, graft.ext.MultimodalCodecs.syntheticImage(seed, w = 18, h = 16,
            brightness = (id % 33).toInt))
        }).toDF("doc_id", "payload")
      val hashed = graft.ext.Multimodal.dHashes(media, "doc_id", "payload")
      sortSmall(graft.ext.Multimodal.phashPairs(hashed, maxHamming = 3),
        "doc_a", "doc_b")
    }),

    // AUDIO fingerprint near-dup pairs (content-level audio dedup): the
    // gain-invariant RMS-delta-sign fingerprint over REAL decoded PCM
    // (javax.sound), same Manku-banded hamming search as the image path.
    // Planted twins render the SAME seed at a power-of-two gain apart —
    // byte-different WAV files (sha256 differs), identical fingerprints.
    "multimodal_audio_fp_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val media = docs.unionByName(copies)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val seed = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8"))
          (id, graft.ext.MultimodalCodecs.syntheticWav(seed,
            gainShift = if (id >= 1000000L) 1 else 0))
        }).toDF("doc_id", "payload")
      val fps = graft.ext.Multimodal.audioFps(media, "doc_id", "payload")
      sortSmall(graft.ext.Multimodal.phashPairs(fps, maxHamming = 3),
        "doc_a", "doc_b")
    }),

    // CROSS-MODAL DEDUP COMPOSITION (r15 VERDICT task 6): one keep
    // decision over the UNION of the text simhash pair graph and the
    // image dHash pair graph — the curation form a multimodal corpus
    // needs, because each planted twin class is INVISIBLE to the other
    // modality: `imgclone` rows (+1000000, doc_id % 20 == 3) re-ship the
    // SAME image under token-wise unrelated text (only the image graph
    // pairs them); `txtclone` rows (+2000000, doc_id % 20 == 11) re-ship
    // the same text under a DIFFERENT image (only the text graph pairs
    // them). A doc is a duplicate iff EITHER modality pairs it with a
    // smaller id. Both graphs are banded (Manku combination bands — no
    // all-pairs stage), images are REAL decoded pixels (dHash over the
    // procedural-PNG stand-in, brightness-invariant), and the oracle
    // replays the text side's portable simhash bit-exactly and the image
    // side by seed equality (the multimodal_phash_pairs content-match
    // replay).
    "multimodal_cross_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // (doc_id, text, iseed): iseed is the image CONTENT key (the
      // procedural pattern seed); text is what the simhash sees
      val corpus = docs.select(col("doc_id"), col("text"),
          col("text").as("iseed"))
        .unionByName(docs.where(col("doc_id") % 20 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", lit("imgclone"), col("doc_id").cast("string"),
              md5(col("text"))).as("text"),
            col("text").as("iseed")))
        .unionByName(docs.where(col("doc_id") % 20 === 11)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            concat_ws(" ", lit("txtimgseed"), col("doc_id").cast("string"),
              md5(col("text"))).as("iseed")))
        .transform(Pin.pin) // three consumers: text graph, media, ids
      val media = corpus.select(col("doc_id"), col("iseed"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, seed) =>
          val sd = java.security.MessageDigest.getInstance("MD5")
            .digest(seed.getBytes("UTF-8"))
          (id, graft.ext.MultimodalCodecs.syntheticImage(sd, w = 18, h = 16,
            brightness = (id % 33).toInt))
        }).toDF("doc_id", "payload")
      val pairsT = Dedup.simhashDupPairsAtScalePortable(corpus, "doc_id",
        "text", maxDist = 3, nBlocks = 6)
      val pairsI = graft.ext.Multimodal.phashPairs(
        graft.ext.Multimodal.dHashes(media, "doc_id", "payload"),
        maxHamming = 3)
      sortBig(corpus.select(col("doc_id"))
        .join(pairsT.select(col("doc_b").as("doc_id")).distinct()
          .withColumn("_t", lit(true)), Seq("doc_id"), "left")
        .join(pairsI.select(col("doc_b").as("doc_id")).distinct()
          .withColumn("_i", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_t"), lit(false)).as("dup_text"),
          coalesce(col("_i"), lit(false)).as("dup_image"),
          (!(coalesce(col("_t"), lit(false)) ||
             coalesce(col("_i"), lit(false)))).as("keep")),
        "doc_id")
    }),

    // E6/E7/E8 persistence round trip: pipeline → save (parquet + JSON
    // catalog) → load → query the reloaded data; matching the oracle's
    // direct computation proves data fidelity through the sink
    "io_roundtrip" -> ((s, dir) => {
      val raw = Observations.from(events(s, dir).where(col("user_id") === 7),
        "user_id", "ts", "value")
        .select(col(TsCol), col(ValueCol))
      val sig = MeteauSignal.ingest(raw, "E", "mg/l")
        .process(Seq("E#1_RAW#1"), Resample,
          Parameters.of("frequency" -> "1h", "grid" -> "false"))
      val ds = graft.core.MeteauDataset.of("rt", Seq(sig))
      val path = scratch("io_roundtrip", dir)
      graft.io.SignalIO.save(ds, path)
      val loaded = graft.io.SignalIO.load(s, path)
      loaded.signal("E#1").series("E#1_RESAMPLED#1")
        .select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // mixed-dtype persistence round trip (r3 VERDICT wrong-item 1): a
    // DOUBLE signal and a STRING signal in ONE dataset survive save/load —
    // the tall frame carries mixed catalogs as lossless strings and
    // MeteauSignal.series() re-imposes each series' catalog dtype on
    // access, so neither side nulls or corrupts (the r3 code cast the
    // whole frame to double, nulling every string value)
    "io_roundtrip_mixed" -> ((s, dir) => {
      val ev = events(s, dir).where(col("user_id") === 7)
      val num = MeteauSignal.ingest(
        Observations.from(ev, "user_id", "ts", "value")
          .select(col(TsCol), col(ValueCol)), "N", "mg/l")
      val st = MeteauSignal.ingest(
        Observations.fromTyped(ev, "user_id", "ts", "event_type")
          .select(col(TsCol), col(ValueCol)), "S", "state")
      val ds = graft.core.MeteauDataset.of("mx", Seq(num, st))
      val path = scratch("io_roundtrip_mixed", dir)
      graft.io.SignalIO.save(ds, path)
      val loaded = graft.io.SignalIO.load(s, path)
      val numB = loaded.signal("N#1").series("N#1_RAW#1")
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"),
          r6(col(ValueCol)).as("num_value"),
          lit(null).cast("string").as("str_value"))
      val strB = loaded.signal("S#1").series("S#1_RAW#1")
        .select(col(KeyCol).as("series_key"),
          EventOps.epochS(col(TsCol)).as("ts_s"),
          lit(null).cast("double").as("num_value"),
          col(ValueCol).as("str_value"))
      numB.unionByName(strB)
        
    }),

    // Structured Streaming resample: bounded replay through the streaming
    // engine (file source → windowed agg → memory sink) ≡ batch semantics
    "stream_resample" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val name = "stream_resample_result" // stable: replay drops + reuses
      val res = graft.streaming.StreamingOps.replayResample(
        s, s"$dir/events.parquet",
        df => Observations.from(
          Observations.normalizeEventTs(df), "user_id", "ts", "value"),
        900, name)
      res.select(col(KeyCol).as("series_key"), fmtTs(col(TsCol)).as("bucket_ts"),
          r6(col(ValueCol)).as("value"))
        
    }),

    // stream-static enrichment join: the live event stream joined to the
    // broadcast customer dimension (the canonical streaming enrich shape
    // — dimension broadcast per micro-batch, stateless, no shuffle on
    // the stream side), then a per-(segment, day) Complete-mode windowed
    // rollup with the exact-decimal mean. Bounded replay ≡ batch
    // semantics, so the DuckDB oracle pins the streaming join path.
    "stream_enrich_join" -> ((s, dir) => {
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
    }),

    // SLIDING-window streaming rollup: 2 h windows every 1 h per event
    // type — the overlapping-window shape (each event lands in TWO
    // windows via the streaming window() operator's Expand) that
    // tumbling stream_resample can't express. Complete-mode bounded
    // replay ≡ batch, so the oracle's two-shifted-bucket union pins the
    // streaming sliding-window path exactly; exact-decimal means.
    "stream_sliding_rollup" -> ((s, dir) => {
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
    }),

    // STREAMING FILE SINK (checkpointed foreachBatch materialization):
    // the Complete-mode rollup lands as event_type-partitioned parquet —
    // each committed micro-batch rewrites the directory exactly-once
    // under the checkpoint, the last committed batch owns the files, and
    // the declared query AUDITS THE FILES ON DISK (read back, not the
    // in-memory result) against the batch oracle.
    "stream_sink_rollup" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      sortBig(s.read.parquet(streamSinkFor(s, dir))
        .select(col("event_type"), fmtTs(col("ws")).as("bucket_ts"),
          col("n_events"), r6(col("mean_value")).as("mean_value")),
        "event_type", "bucket_ts")
    }),

    // STREAMING foreign-LM scoring — the production shape: incoming docs
    // score against a FROZEN LM (static count frames from the trusted
    // batch subset). Row-local gram explode → two stateless
    // stream-static joins → ONE streaming aggregate per doc (streaming
    // allows a single stateful agg, so contributions round
    // PER-OCCURRENCE — the oracle declares exactly that form).
    "stream_lm_score" -> ((s, dir) => {
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
    }),

    // stream-stream interval join: signups and purchases replay as TWO
    // independent streams through the symmetric-hash-join operator with
    // per-side watermark state, matched on user within a 7-day
    // event-time range — the canonical attribution join shape. The
    // time-range predicate is what lets the streaming engine BOUND the
    // join state (rows age out once the watermark passes s_ts + 7d);
    // without it a stream-stream join holds both sides forever. Output
    // is the order-invariant matched-pair set, so the bounded replay
    // hash-matches the batch self-join oracle.
    "stream_stream_join" -> ((s, dir) => {
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
    }),

    // streaming exact dedup via dropDuplicatesWithinWatermark — the
    // engine's bounded-state dedup (per-key state is EVICTED once the
    // watermark passes its event time, so state never grows beyond the
    // lateness horizon — the streaming twin of batch DISTINCT that
    // survives an unbounded feed). Output is the order-invariant
    // distinct key set, so the bounded replay hash-matches a batch
    // DISTINCT oracle whatever the arrival order.
    "stream_dedup_watermark" -> ((s, dir) => {
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
    }),

    // streaming near-dup dedup against a persisted MinHash band index:
    // the corpus (doc_id % 5 != 0) is indexed once in batch; the rest of
    // the documents REPLAY as a stream probing it — band row-locally
    // (stateless), equi-join the static band table, verify exact Jaccard.
    // The oracle computes the same new-vs-corpus exact-Jaccard pairs
    // directly, so the driver gate pins streaming ≡ batch semantics.
    "stream_minhash_dedup" -> ((s, dir) => {
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
    }),

    // streaming SimHash near-dup probe against a persisted combination-
    // band index — the second streaming dedup family, and unlike MinHash
    // it is oracle-pinned EXACTLY: the Manku pigeonhole guarantees every
    // hamming<=3 pair collides on some band (no banding-recall margin),
    // and the fingerprint is the PORTABLE md5-derived simhash, so DuckDB
    // recomputes the identical 60-bit values from the raw text and the
    // hash-equal gate pins streaming ≡ batch ≡ oracle.
    "stream_simhash_dedup" -> ((s, dir) => {
      val idx = simhashIndexFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_simhash_dedup_result") { st =>
        graft.streaming.StreamingDedup.simhashDupStream(
          s, st.where(col("doc_id") % 5 === 0), "doc_id", "text", idx,
          maxDist = 3)
      }
      sortSmall(res.select(col("doc_new"), col("doc_corpus"),
        col("hamming").cast("long").as("hamming")), "doc_new", "doc_corpus")
    }),

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
    "stream_curate" -> ((s, dir) => {
      val idx = simhashIndexFor(s, dir)
      def passes(df: DataFrame): DataFrame =
        TextAnalysis.withCurationSignals(df, "text")
          .where(col("n_tokens") >= 15 && col("stopword_ratio") >= 0.01 &&
            col("distinct_ratio") >= 0.3 && col("pred_lang") =!= "und")
      val pairs = graft.streaming.StreamingDedup.replayDocs(
        s, s"$dir/documents.parquet", "stream_curate_pairs") { st =>
        graft.streaming.StreamingDedup.simhashDupStream(
          s, passes(st.where(col("doc_id") % 5 === 0)), "doc_id", "text",
          idx, maxDist = 3)
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
    }),

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
    "stream_chunk_dedup" -> ((s, dir) => {
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
    }),

    // streaming hot-term monitor: the count-min cells are THE streaming
    // frequency state — a stateful (row, cell) sum in Complete mode,
    // bounded at d·w rows no matter how long the stream runs (the whole
    // point of sketched frequency state: exact per-term state grows with
    // the vocab, the sketch never does). The replayed slice's cells are
    // then point-queried batch-side for the top terms; cells and
    // estimates are md5-portable, so the DuckDB oracle pins
    // streaming ≡ batch ≡ oracle with zero approximation slack beyond
    // the sketch's own deterministic collisions.
    "stream_cms_topk" -> ((s, dir) => {
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
        
    }),

    // per-key running stats through explicit mapGroupsWithState state —
    // the custom-streaming-state extension point, driver-gated: the
    // scaled-long exact state makes the emitted mean order-invariant and
    // bit-equal to the batch detMean, so a bounded Update-mode replay
    // hash-matches the plain batch aggregate oracle.
    "stream_running_stats" -> ((s, dir) => {
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
    }),

    // streaming Bloom ingest filter: the corpus (doc_id % 5 != 0)
    // compresses ONCE into the persisted portable filter; the probe set
    // (doc_id % 5 == 0 plus planted verbatim corpus copies under +100000
    // ids — same split as doc_bloom_dedup) REPLAYS as a stream flagging
    // each row against the packed bits ROW-LOCALLY: no join, no state
    // store, no shuffle — the cheapest ingest filter in the streaming
    // family. md5-portable bits mean the DuckDB oracle rebuilds the
    // identical filter, pinning streaming ≡ batch ≡ oracle exactly.
    "stream_bloom_filter" -> ((s, dir) => {
      val idx = bloomIndexFor(s, dir)
      val rp = bloomReplayFor(s, dir)
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, rp, "stream_bloom_result") { st =>
        graft.streaming.StreamingDedup.bloomFilterStream(
          s, st, "doc_id", "text", idx, m = 65536, k = 5)
      }
      sortSmall(res.select(col("doc"), col("maybe_dup")), "doc")
    }),

    // STREAMING substring dedup: incoming docs probe a persisted
    // DISTINCT window-hash index of the corpus — the ingest-time twin of
    // doc_substring_dedup for ARBITRARY-OFFSET verbatim leaks, which the
    // chunk index (fixed boundaries) structurally misses. Planted
    // shifted-prefix copies of corpus docs guarantee hits whose windows
    // sit at offsets no chunk grid aligns with. Stateless stream-static
    // join; per-doc accounting aggregated batch-side after the bounded
    // replay; oracle replays index + probe with the same md5 windows.
    "stream_substring_dedup" -> ((s, dir) => {
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
    }),

    // streaming ANN serving against the persisted IVF index: queries
    // REPLAY as a stream probing the batch-built index (update-style
    // micro-batch top-k via StreamingAnn.ivfProbeStream). Probed
    // EXHAUSTIVELY (nProbe = nLists) so the streamed result is the exact
    // cosine top-k and the hash-equal gate pins streaming ≡ batch ≡
    // oracle with no recall margin — the partial-probing scan-fraction
    // story is pinned separately (ExtSpec parity + ScaleSmoke ann1m at
    // 3.1% scan). Third oracle-pinned streaming family after
    // resample/dedup.
    "stream_ivf_topk" -> ((s, dir) => {
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
    }),

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
    "stream_semdedup" -> ((s, dir) => {
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
    }),

    // streaming gap sessionization over a bounded replay: per-key
    // sentinel events (10 gaps past each key's last event) close every
    // real session through the ARRIVAL path, so append-mode
    // flatMapGroupsWithState emits exactly the true sessions and the
    // DuckDB gap-sessionization oracle pins streaming ≡ batch. Gap math
    // runs on SECOND-truncated timestamps and ties order by
    // (epoch-millis, value) — mirrored exactly in the oracle.
    "stream_sessions" -> ((s, dir) => {
      val path = sessionReplayFor(s, dir)
      implicit val sp: SparkSession = s
      val res = graft.streaming.StreamingDedup.replayDocs(
        s, path, "stream_sessions_result") { st =>
        graft.streaming.StreamingOps.sessionizeStream(st, 900)
      }
      sortBig(res.select(col("series_key"), col("start_s"), col("end_s"),
        col("n_events")), "series_key", "start_s")
    }),

    // tumbling-window rollup per event type over the JSON-extracted metric
    "event_window_rollup" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("k", EventOps.jsonLong(col("props"), "$.k"))
      EventOps.windowRollup(e, "ts", "event_type", col("k"), 21600L)
        .select(col("event_type"), fmtTs(col("bucket")).as("bucket_ts"),
          col("n"), col("sum_m").cast("long").as("sum_m"),
          col("min_m"), col("max_m"))
        
    }),

    // bucketed range join: events matched into 2h maintenance windows
    // (every 13h) via bucket equi-join + containment filter
    "event_range_join" -> ((s, dir) => {
      val iv = s.range(50).select(col("id").as("interval_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 46800L).as("start_ts"),
        timestamp_seconds(lit(1704067200L) + col("id") * 46800L + 7200L).as("end_ts"))
      EventOps.bucketedRangeJoin(events(s, dir), iv, "ts", "start_ts", "end_ts", 3600L)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(27, 8))).cast("double").as("sum_v"))
        
    }),

    // conversion funnel: per signup, the earliest LATER purchase by the
    // same user (forward-looking min via a REVERSED-order running frame
    // — rowsBetween(0, unboundedFollowing) evaluates O(partition²), the
    // desc-ordered unboundedPreceding..-1 twin is one running pass);
    // converted iff within 7 days; rolled up per signup-month cohort.
    "event_funnel" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), EventOps.epochS(col("ts")).as("ts_s"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val nxt = e.withColumn("nps",
        min(when(col("event_type") === "purchase", col("ts_s"))).over(w))
      val signups = nxt.where(col("event_type") === "signup")
        .select(date_format(timestamp_seconds(col("ts_s")), "yyyy-MM")
            .as("cohort"),
          (col("nps").isNotNull && col("nps") - col("ts_s") <= 604800L)
            .cast("long").as("conv"))
      signups.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_signups"), sum(col("conv")).as("n_converted"))
        .withColumn("rate",
          round(col("n_converted").cast("double") / col("n_signups"), 6))
        
    }),

    // top in-session event-type transitions (Markov edge mining): the
    // session windows and the lead() share one key-shuffle; pair counts
    // collapse map-side to <= |types|^2 rows before the top-k.
    "event_topk_paths" -> ((s, dir) => {
      EventOps.transitionTopK(events(s, dir), "user_id", "ts", "event_id",
        gapSeconds = 1800L, typeCol = "event_type", k = 20)
    }),

    // weekly cohort retention: cohort = first-activity epoch week
    // (absolute floor(epoch/604800) index — no calendar-week semantics
    // to diverge on); per (cohort, offset) active-user counts and the
    // week-0-normalized retained fraction.
    // ordered 3-step funnel (signup -> click -> purchase within 1 day of
    // first signup, each step strictly after the previous): k co-keyed
    // frontier joins, no window over raw events
    "event_funnel_steps" -> ((s, dir) => {
      EventOps.funnelSteps(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"), windowSec = 86400L)
        
    }),

    // daily + trailing-7-day active users: one (user, day) distinct, a
    // broadcast day-list range join (<= 7x fan-out of the collapsed
    // frame), no sliding window over raw events
    "event_dau_wau" -> ((s, dir) => {
      EventOps.activeUsers(events(s, dir), "user_id", "ts")
        
    }),

    // diurnal profile: per-series hour-of-day deterministic mean — the
    // seasonal-baseline op behind anomaly scoring and capacity planning
    "ts_seasonal_mean" -> ((s, dir) => {
      obsEvents(s, dir)
        .groupBy(col(KeyCol).as("series_key"),
          hour(col(TsCol)).cast("long").as("hour_of_day"))
        .agg(count(lit(1)).as("n"),
          r6(Resample.detMean(col(ValueCol))).as("mean_value"))
        
    }),

    // purchase events only — the sparse activity signal that gives the
    // fixture real cohort decay (every user has SOME event every week)
    "event_retention" -> ((s, dir) => {
      EventOps.weeklyRetention(
          events(s, dir).where(col("event_type") === "purchase"),
          "user_id", "ts")
        
    }),

    // gap-based sessionization (30 min) + per-session rollup
    "event_sessions" -> ((s, dir) => {
      EventOps.sessionStats(events(s, dir), "user_id", "ts", "event_id", 1800L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_s"), col("end_s"), col("duration_s"))
        
    }),

    // as-of lookup: for each purchase, the user's most recent prior signup
    "event_asof" -> ((s, dir) => {
      val e = events(s, dir)
      EventOps.asOfMarker(e, "user_id", "ts", "event_id",
          col("event_type") === "signup", "asof_ts")
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          EventOps.epochS(col("ts")).as("purchase_s"),
          EventOps.epochS(col("asof_ts")).as("signup_s"))
        
    }),

    // LAST-TOUCH ATTRIBUTION: each purchase attributed to the user's most
    // recent at-or-before click, revenue rolled up by the click's
    // props-k decile (−1 = organic / no prior click). Exercises the FULL
    // asOfJoin payload path (the click's parsed attribute rides the
    // union-sort-window join — one sorted window pass, never a pairwise
    // product); the k-bucket rollup is exact integer division + exact
    // decimal revenue sums.
    "event_attribution" -> ((s, dir) => {
      val e = events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          EventOps.jsonLong(col("props"), "$.k").as("ck"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      EventOps.asOfJoin(purchases, clicks, "user_id", "ts", Seq("ck"),
          rightIdCol = Some("event_id"))
        .groupBy(coalesce(expr("ck div 10"), lit(-1L)).as("k_bucket"))
        .agg(count(lit(1)).as("n_purchases"),
          (floor(sum(col("value").cast(DecimalType(27, 8)))
            .cast("double") * 100.0 + 0.5) / 100.0).as("revenue"))
        
    }))

  // ------------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = Map(

    "ts_resample" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_resample_grid" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bt) mn, max(bt) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '3600 seconds')) AS bt FROM spans)
         |SELECT CAST(grid.user_id AS VARCHAR) AS series_key,
         |  strftime(grid.bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, b.v AS value
         |FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bt = b.bt
         |ORDER BY 1, 2""".stripMargin,

    "ts_interpolate" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bt) mn, max(bt) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '3600 seconds')) AS bt FROM spans),
         |g AS (SELECT grid.user_id, grid.bt, b.v, epoch(grid.bt) AS e
         |      FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bt = b.bt),
         |w AS (SELECT user_id, bt, v, e,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
         |  FROM g)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
         |                THEN pv + (nv - pv) * (e - pt) / (nt - pt)
         |              WHEN pv IS NOT NULL THEN pv END) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin,

    "ts_replace_ranges" ->
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  CASE WHEN (ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-12 00:00:00')
        |         OR (ts >= TIMESTAMP '2024-01-20 12:00:00' AND ts <= TIMESTAMP '2024-01-21 00:00:00')
        |       THEN NULL ELSE value END AS value
        |FROM events ORDER BY 1, 2, 3""".stripMargin,

    "ts_predict_prev" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '3600 seconds', ts) + INTERVAL '3600 seconds', '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY user_id, time_bucket(INTERVAL '3600 seconds', ts)
         |ORDER BY 1, 2""".stripMargin,

    "ts_average" ->
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
         |SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE)/COUNT(v)) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM b GROUP BY bt ORDER BY 1""".stripMargin,

    "ts_sum" ->
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
         |SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  round(CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE), 6) AS value
         |FROM b GROUP BY bt ORDER BY 1""".stripMargin,

    "ts_scale" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '3600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(((floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0) * 2.0) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY user_id, time_bucket(INTERVAL '3600 seconds', ts)
         |ORDER BY 1, 2""".stripMargin,

    "ts_smooth" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CAST(SUM(CAST(v AS DECIMAL(27,8))) OVER w AS DOUBLE) / COUNT(v) OVER w) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM b
         |WINDOW w AS (PARTITION BY user_id ORDER BY bt ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         |ORDER BY 1, 2""".stripMargin,

    // same hourly detMean buckets, same sorted-window median picks
    "ts_rolling_median" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT user_id, bt,
         |        list_sort(list(v) OVER (PARTITION BY user_id ORDER BY bt
         |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS l
         |      FROM b)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(((l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2.0)
         |    * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM m ORDER BY 1, 2""".stripMargin,

    // same hourly detMean buckets, both EWMA folds replayed verbatim by
    // list_reduce over the identical 32-point trailing frame (num seeded
    // by its first element ≡ the 0-init fold; den folds a ones-list)
    "ts_ewma" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, bt,
         |        list(v) OVER (PARTITION BY user_id ORDER BY bt
         |          ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS lv
         |      FROM b)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((list_reduce(lv, (acc, x) -> acc * 0.5 + x) /
         |         list_reduce(list_transform(lv, x -> CAST(1.0 AS DOUBLE)),
         |           (acc, x) -> acc * 0.5 + x)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS value
         |FROM l ORDER BY 1, 2""".stripMargin,

    // same bucket means (exact decimals), same area sequence + 6-dp
    // round, same (area desc, ts, value) pick
    "plot_lttb" ->
      """WITH o AS (SELECT CAST(user_id AS VARCHAR) AS k, ts, value,
        |    epoch(ts) AS td,
        |    CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b FROM events),
        |bs AS (SELECT k, b,
        |    CAST(SUM(CAST(td AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*) AS mt,
        |    CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*) AS mv
        |  FROM o GROUP BY 1, 2),
        |a AS (SELECT k, b,
        |    lag(mt) OVER w AS pt, lag(mv) OVER w AS pv,
        |    lead(mt) OVER w AS nt, lead(mv) OVER w AS nv
        |  FROM bs WINDOW w AS (PARTITION BY k ORDER BY b)),
        |j AS (SELECT o.k, o.ts, o.value, o.b,
        |    CASE WHEN a.pt IS NULL OR a.nt IS NULL THEN 0.0
        |         ELSE round(abs((a.pt - a.nt) * (o.value - a.pv) -
        |                        (a.pv - a.nv) * (o.td - a.pt)), 6) END AS rk
        |  FROM o JOIN a ON o.k = a.k AND o.b = a.b),
        |r AS (SELECT k, ts, value,
        |    row_number() OVER (PARTITION BY k, b
        |      ORDER BY rk DESC, ts, value) AS rn
        |  FROM j)
        |SELECT k AS series_key, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
        |FROM r WHERE rn = 1 ORDER BY 1, 2, 3""".stripMargin,

    // same exact-decimal sums, same division-free threshold sequence
    "ts_zscore_anomaly" ->
      """WITH s AS (SELECT user_id, COUNT(value) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1)
        |SELECT CAST(e.user_id AS VARCHAR) AS series_key, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN
        |      (CAST(s.n AS DOUBLE) * e.value - s.s1) *
        |      (CAST(s.n AS DOUBLE) * e.value - s.s1) >
        |      9.0 * (CAST(s.n AS DOUBLE) * s.s2 - s.s1 * s.s1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM events e JOIN s USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin,

    // same sorted-pick medians (exact middle elements / one IEEE mean),
    // same row-local deviation transform, same 3·MAD strict threshold
    "ts_outlier_mad" ->
      """WITH s AS (SELECT user_id, list_sort(list(value)) AS sv
        |    FROM events GROUP BY 1),
        |m AS (SELECT user_id, sv,
        |    (sv[(len(sv) + 1) // 2] + sv[len(sv) // 2 + 1]) / 2.0 AS med
        |  FROM s),
        |d AS (SELECT user_id, sv, med,
        |    list_sort(list_transform(sv, x -> abs(x - med))) AS dv FROM m)
        |SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(len(sv) AS BIGINT) AS n,
        |  floor(med * 1000000.0 + 0.5) / 1000000.0 AS med,
        |  floor(((dv[(len(dv) + 1) // 2] + dv[len(dv) // 2 + 1]) / 2.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS mad,
        |  CAST(len(list_filter(sv, x -> abs(x - med) >
        |    3.0 * ((dv[(len(dv) + 1) // 2] + dv[len(dv) // 2 + 1]) / 2.0)))
        |    AS BIGINT) AS n_outliers
        |FROM d ORDER BY 1""".stripMargin,

    // identical bounds (quantile_cont ≡ Spark percentile bit-for-bit,
    // rounded 6 dp before the branch) and identical clamp decision
    "ts_winsorize" ->
      """WITH b AS (SELECT user_id,
        |    floor(quantile_cont(value, 0.05) * 1000000.0 + 0.5) / 1000000.0 AS lo,
        |    floor(quantile_cont(value, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS hi
        |  FROM events GROUP BY 1)
        |SELECT CAST(e.user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  floor((CASE WHEN value < lo THEN lo
        |              WHEN value > hi THEN hi
        |              ELSE value END) * 1000000.0 + 0.5) / 1000000.0 AS value_w,
        |  CAST(value < lo OR value > hi AS BIGINT) AS clipped
        |FROM events e JOIN b ON e.user_id = b.user_id
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    "ts_fault_flags" ->
      """SELECT CAST(user_id AS VARCHAR) AS series_key, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < 10.0 OR value > 150.0 THEN 1.0 ELSE 0.0 END) AS BIGINT) AS n_faults
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_dedup_ts" ->
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, MIN(value) AS value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_resample_month" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_state_dedup" ->
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, MIN(event_type) AS state
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_state_last" ->
      """WITH w AS (
        |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt, event_type,
        |    row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '3600 seconds', ts)
        |      ORDER BY epoch_us(ts) DESC, event_type DESC) AS rn
        |  FROM events)
        |SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, event_type AS state
        |FROM w WHERE rn = 1 ORDER BY 1, 2""".stripMargin,

    "ts_int_resample" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  event_id - (event_id % 1000) AS idx,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_int_interpolate" ->
      s"""WITH b AS (
         |  SELECT user_id, event_id - (event_id % 1000) AS bi,
         |         $DetMeanSql AS v
         |  FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bi) mn, max(bi) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, 1000)) AS bi FROM spans),
         |g AS (SELECT grid.user_id, grid.bi, b.v, CAST(grid.bi AS DOUBLE) AS e
         |      FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bi = b.bi),
         |w AS (SELECT user_id, bi, v, e,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
         |  FROM g)
         |SELECT CAST(user_id AS VARCHAR) AS series_key, bi AS idx,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
         |                THEN pv + (nv - pv) * (e - pt) / (nt - pt)
         |              WHEN pv IS NOT NULL THEN pv END) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin,

    "ts_wide_ingest" ->
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
         |g AS (SELECT DISTINCT bt FROM b),
         |t AS (SELECT * FROM (VALUES ('click'), ('view')) x(typ))
         |SELECT t.typ AS series_key,
         |  strftime(g.bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, b.v AS value
         |FROM g CROSS JOIN t
         |LEFT JOIN b ON b.event_type = t.typ AND b.bt = g.bt
         |ORDER BY 1, 2""".stripMargin,

    "dataset_average" ->
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         $DetMeanSql AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
         |SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor((CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE)/COUNT(v)) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM b GROUP BY bt ORDER BY 1""".stripMargin,

    "ts_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical per-user rollup, identical 6-dp quantile_cont cutoffs,
    // identical ascending-quintile threshold CASEs
    "event_rfm" ->
      """WITH pu AS (
        |  SELECT CAST(user_id AS VARCHAR) AS series_key,
        |    MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s,
        |    COUNT(*) AS freq,
        |    floor(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 AS monetary
        |  FROM events GROUP BY 1),
        |ref AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS r FROM events),
        |rfm AS (SELECT series_key,
        |    CAST(((ref.r - last_s) - (ref.r - last_s) % 86400) / 86400 AS BIGINT)
        |      AS recency_days,
        |    freq, monetary
        |  FROM pu CROSS JOIN ref),
        |c AS (SELECT
        |    floor(quantile_cont(recency_days, 0.2) * 1000000.0 + 0.5) / 1000000.0 AS r20,
        |    floor(quantile_cont(recency_days, 0.4) * 1000000.0 + 0.5) / 1000000.0 AS r40,
        |    floor(quantile_cont(recency_days, 0.6) * 1000000.0 + 0.5) / 1000000.0 AS r60,
        |    floor(quantile_cont(recency_days, 0.8) * 1000000.0 + 0.5) / 1000000.0 AS r80,
        |    floor(quantile_cont(freq, 0.2) * 1000000.0 + 0.5) / 1000000.0 AS f20,
        |    floor(quantile_cont(freq, 0.4) * 1000000.0 + 0.5) / 1000000.0 AS f40,
        |    floor(quantile_cont(freq, 0.6) * 1000000.0 + 0.5) / 1000000.0 AS f60,
        |    floor(quantile_cont(freq, 0.8) * 1000000.0 + 0.5) / 1000000.0 AS f80,
        |    floor(quantile_cont(monetary, 0.2) * 1000000.0 + 0.5) / 1000000.0 AS m20,
        |    floor(quantile_cont(monetary, 0.4) * 1000000.0 + 0.5) / 1000000.0 AS m40,
        |    floor(quantile_cont(monetary, 0.6) * 1000000.0 + 0.5) / 1000000.0 AS m60,
        |    floor(quantile_cont(monetary, 0.8) * 1000000.0 + 0.5) / 1000000.0 AS m80
        |  FROM rfm)
        |SELECT series_key, recency_days, freq, monetary,
        |  1 + CAST(recency_days > r20 AS BIGINT) + CAST(recency_days > r40 AS BIGINT)
        |    + CAST(recency_days > r60 AS BIGINT) + CAST(recency_days > r80 AS BIGINT)
        |    AS r_score,
        |  1 + CAST(freq > f20 AS BIGINT) + CAST(freq > f40 AS BIGINT)
        |    + CAST(freq > f60 AS BIGINT) + CAST(freq > f80 AS BIGINT) AS f_score,
        |  1 + CAST(monetary > m20 AS BIGINT) + CAST(monetary > m40 AS BIGINT)
        |    + CAST(monetary > m60 AS BIGINT) + CAST(monetary > m80 AS BIGINT)
        |    AS m_score
        |FROM rfm CROSS JOIN c ORDER BY 1""".stripMargin,

    // identical exact decimal running sums and integer-scaled argmax
    "ts_changepoint" ->
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k,
        |    SUM(CAST(value AS DECIMAL(38,6)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n,
        |    SUM(CAST(value AS DECIMAL(38,6)))
        |      OVER (PARTITION BY user_id) AS sn
        |  FROM events),
        |t AS (SELECT user_id, ts, k, n, abs(n * sk - k * sn) AS stat,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY abs(n * sk - k * sn) DESC, k) AS r
        |  FROM s)
        |SELECT CAST(user_id AS VARCHAR) AS series_key, n, CAST(k AS BIGINT) AS cp_idx,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS cp_ts_s,
        |  floor((CAST(stat AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS cusum_stat
        |FROM t WHERE r = 1 ORDER BY 1""".stripMargin,

    // identical lead pairing (ts, event_id total order), identical
    // decimal accumulators and scalar sequence
    "ts_autocorr" ->
      """WITH p AS (
        |  SELECT user_id, value AS x,
        |    lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
        |  FROM events),
        |agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS series_key, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT series_key, n,
        |  floor((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    * 1000000.0 + 0.5) / 1000000.0 AS acf1
        |FROM agg ORDER BY 1""".stripMargin,

    "ts_correlation" ->
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
         |j AS (SELECT c.v AS x, w.v AS y FROM b c JOIN b w
         |      ON c.bt = w.bt AND c.event_type = 'click' AND w.event_type = 'view'),
         |agg AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |  CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |  CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         |  CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         |  CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
         |  FROM j)
         |SELECT n, round((n * sxy - sx * sy) /
         |  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
         |FROM agg""".stripMargin,

    "ts_td_resample" ->
      s"""WITH t AS (
         |  SELECT user_id,
         |    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS td,
         |    value
         |  FROM events)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  td - td % 900000000 AS td_us,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_td_interpolate" ->
      s"""WITH t AS (
         |  SELECT user_id,
         |    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS td,
         |    value
         |  FROM events WHERE user_id < 20),
         |b AS (
         |  SELECT user_id, td - td % 3600000000 AS bi, $DetMeanSql AS v
         |  FROM t GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(bi) mn, max(bi) mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, 3600000000)) AS bi FROM spans),
         |g AS (SELECT grid.user_id, grid.bi, b.v, CAST(grid.bi AS DOUBLE) AS e
         |      FROM grid LEFT JOIN b ON grid.user_id = b.user_id AND grid.bi = b.bi),
         |w AS (SELECT user_id, bi, v, e,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
         |  FROM g)
         |SELECT CAST(user_id AS VARCHAR) AS series_key, bi AS td_us,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
         |                THEN pv + (nv - pv) * (e - pt) / (nt - pt)
         |              WHEN pv IS NOT NULL THEN pv END) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin,

    "ts_sort" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  row_number() OVER (PARTITION BY user_id ORDER BY v, bt) - 1 AS rank,
         |  v AS value
         |FROM b ORDER BY 1, 2""".stripMargin,

    "ts_fault_identify" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, bt, v,
         |        lag(v) OVER (PARTITION BY user_id ORDER BY bt) AS pv FROM b)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  CASE WHEN v IS NULL THEN 'missing'
         |       WHEN v < 20.0 THEN 'low'
         |       WHEN v > 140.0 THEN 'high'
         |       WHEN pv IS NOT NULL AND abs(v - pv) > 40.0 THEN 'jump'
         |       ELSE 'ok' END AS fault_class
         |FROM l ORDER BY 1, 2""".stripMargin,

    "ts_fault_diagnosis" ->
      s"""WITH b AS (
         |  SELECT user_id, time_bucket(INTERVAL '3600 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, bt, v,
         |        lag(v) OVER (PARTITION BY user_id ORDER BY bt) AS pv FROM b),
         |cls AS (SELECT user_id, bt,
         |  CASE WHEN v IS NULL THEN 'missing'
         |       WHEN v < 20.0 THEN 'low'
         |       WHEN v > 140.0 THEN 'high'
         |       WHEN pv IS NOT NULL AND abs(v - pv) > 40.0 THEN 'jump'
         |       ELSE 'ok' END AS fc
         |  FROM l),
         |c AS (SELECT user_id, max(bt) AS mbt, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN fc = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS miss,
         |  CAST(SUM(CASE WHEN fc = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS high,
         |  CAST(SUM(CASE WHEN fc = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS low,
         |  CAST(SUM(CASE WHEN fc = 'jump' THEN 1 ELSE 0 END) AS BIGINT) AS jmp
         |  FROM cls GROUP BY 1)
         |SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(mbt, '%Y-%m-%d %H:%M:%S') AS last_bucket_ts,
         |  CASE WHEN miss * 2 >= n THEN 'insufficient_data'
         |       WHEN high * 100 >= n * 7 THEN 'over_range'
         |       WHEN jmp * 100 >= n * 30 THEN 'unstable'
         |       WHEN low * 100 >= n * 35 THEN 'under_range'
         |       ELSE 'healthy' END AS diagnosis
         |FROM c ORDER BY 1""".stripMargin,

    "ts_pca" ->
      s"""WITH b AS (
         |  SELECT event_type, time_bucket(INTERVAL '900 seconds', ts) AS bt,
         |         floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
         |j AS (SELECT c.v AS x, w.v AS y FROM b c JOIN b w
         |      ON c.bt = w.bt AND c.event_type = 'click' AND w.event_type = 'view'),
         |agg AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |  CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |  CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         |  CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         |  CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
         |  FROM j),
         |cov AS (SELECT n,
         |  (sxx - sx * sx / n) / (n - 1) AS cxx,
         |  (syy - sy * sy / n) / (n - 1) AS cyy,
         |  (sxy - sx * sy / n) / (n - 1) AS cxy
         |  FROM agg),
         |eig AS (SELECT n, cxx, cyy, cxy,
         |  sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy) AS disc FROM cov),
         |lam AS (SELECT n, cxx, cxy,
         |  ((cxx + cyy) + disc) / 2 AS lam1,
         |  ((cxx + cyy) - disc) / 2 AS lam2 FROM eig),
         |vec AS (SELECT n, lam1, lam2,
         |  cxy / sqrt(cxy * cxy + (lam1 - cxx) * (lam1 - cxx)) AS ex,
         |  (lam1 - cxx) / sqrt(cxy * cxy + (lam1 - cxx) * (lam1 - cxx)) AS ey
         |  FROM lam)
         |SELECT n,
         |  floor(lam1 * 1000000.0 + 0.5) / 1000000.0 AS lam1,
         |  floor(lam2 * 1000000.0 + 0.5) / 1000000.0 AS lam2,
         |  floor((lam1 / (lam1 + lam2)) * 1000000.0 + 0.5) / 1000000.0 AS var_explained,
         |  floor((CASE WHEN ex < 0 THEN -ex ELSE ex END) * 1000000.0 + 0.5) / 1000000.0 AS pc1_x,
         |  floor((CASE WHEN ex < 0 THEN -ey ELSE ey END) * 1000000.0 + 0.5) / 1000000.0 AS pc1_y
         |FROM vec""".stripMargin,

    "lineage_edges" ->
      """SELECT * FROM (VALUES
        |  ('linear_interpolation', 'gap_filling', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1'),
        |  ('replace_ranges', 'filtering', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |  ('resample', 'resampling', 'A#1_RAW#1', 'A#1_RESAMPLED#1')
        |) t(step, step_type, origin, destination) ORDER BY destination""".stripMargin,

    "lineage_dedup" ->
      """SELECT * FROM (VALUES
        |  (1, 'resample', 'resampling'),
        |  (2, 'linear_interpolation', 'gap_filling'),
        |  (3, 'average_signals', 'dimensionality_reduction')
        |) t(step_idx, step, step_type) ORDER BY step_idx""".stripMargin,

    // recomputes the reference's plot_dependency_graph geometry from the
    // pinned edge list: recursive-CTE topological depth orders the nodes,
    // then the i/n box arithmetic and edge midpoints — an independent
    // re-derivation of the same layout math the engine computes
    "lineage_layout" ->
      """WITH RECURSIVE walk(name, d) AS (
        |  SELECT origin, 0 FROM (VALUES
        |    ('resample', 'A#1_RAW#1', 'A#1_RESAMPLED#1'),
        |    ('replace_ranges', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |    ('linear_interpolation', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1')
        |  ) e(step, origin, destination)
        |  WHERE origin NOT IN (SELECT destination FROM (VALUES
        |    ('A#1_RESAMPLED#1'), ('A#1_REPLACED-RANGES#1'), ('A#1_LIN-INT#1')) d(destination))
        |  UNION ALL
        |  SELECT e.destination, w.d + 1
        |  FROM walk w JOIN (VALUES
        |    ('resample', 'A#1_RAW#1', 'A#1_RESAMPLED#1'),
        |    ('replace_ranges', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |    ('linear_interpolation', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1')
        |  ) e(step, origin, destination) ON e.origin = w.name),
        |dep AS (SELECT name, MAX(d) AS d FROM walk GROUP BY 1),
        |ord AS (SELECT name, row_number() OVER (ORDER BY d, name) - 1 AS i,
        |          (SELECT COUNT(*) FROM dep) AS n
        |        FROM dep),
        |edges AS (SELECT * FROM (VALUES
        |    ('resample', 'A#1_RAW#1', 'A#1_RESAMPLED#1'),
        |    ('replace_ranges', 'A#1_RESAMPLED#1', 'A#1_REPLACED-RANGES#1'),
        |    ('linear_interpolation', 'A#1_REPLACED-RANGES#1', 'A#1_LIN-INT#1')
        |  ) e(step, origin, destination)),
        |noderows AS (
        |  SELECT 'node' AS kind, name AS label,
        |    round(i + 0.1, 6) AS x0, round(i::DOUBLE / n + 0.1, 6) AS y0,
        |    round((i + 1) - 0.1, 6) AS x1, round((i + 1)::DOUBLE / n - 0.1, 6) AS y1,
        |    round(i + 0.5, 6) AS xm, round((i + 0.5) / n, 6) AS ym
        |  FROM ord),
        |edgerows AS (
        |  SELECT 'edge' AS kind, e.step AS label,
        |    round((o.i + 1) - 0.1, 6) AS x0, round((o.i + 0.5) / o.n, 6) AS y0,
        |    round(d.i + 0.1, 6) AS x1, round((d.i + 0.5) / d.n, 6) AS y1,
        |    round(((o.i + 0.5) + (d.i + 0.5)) / 2, 6) AS xm,
        |    round(((o.i + 0.5) / o.n + (d.i + 0.5) / d.n) / 2, 6) AS ym
        |  FROM edges e JOIN ord o ON e.origin = o.name
        |    JOIN ord d ON e.destination = d.name)
        |SELECT * FROM (SELECT * FROM noderows UNION ALL SELECT * FROM edgerows)
        |ORDER BY kind, label""".stripMargin,

    "json_serde" ->
      """SELECT * FROM (VALUES
        |  ('A#1_LIN-INT#1', 'double', 'datetime', 2, 'linear_interpolation', TRUE),
        |  ('A#1_RAW#1', 'double', 'datetime', 0, '', TRUE),
        |  ('A#1_RESAMPLED#1', 'double', 'datetime', 1, 'resample', TRUE)
        |) t(series_key, dtype, index_kind, n_steps, last_step, round_trip)
        |ORDER BY series_key""".stripMargin,

    "plot_frame" ->
      s"""WITH raw AS (
         |  SELECT 'A#1_RAW#1' AS series_key,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor((value) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE user_id = 1),
         |res AS (
         |  SELECT 'A#1_RESAMPLED#1' AS series_key,
         |    strftime(time_bucket(INTERVAL '3600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE user_id = 1
         |  GROUP BY time_bucket(INTERVAL '3600 seconds', ts)),
         |pred AS (
         |  SELECT 'A#1_PREV-PRED#1' AS series_key,
         |    strftime(time_bucket(INTERVAL '3600 seconds', ts) + INTERVAL '3600 seconds', '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines+markers' AS mode
         |  FROM events WHERE user_id = 1
         |  GROUP BY time_bucket(INTERVAL '3600 seconds', ts))
         |SELECT * FROM (SELECT * FROM raw UNION ALL SELECT * FROM res UNION ALL SELECT * FROM pred)
         |ORDER BY series_key, ts_str, value""".stripMargin,

    "dataset_plot_frame" ->
      s"""WITH craw AS (
         |  SELECT 'C#1_RAW#1' AS series_key, 1 AS subplot_row,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor((value) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'click'),
         |cres AS (
         |  SELECT 'C#1_RESAMPLED#1' AS series_key, 1 AS subplot_row,
         |    strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'click'
         |  GROUP BY time_bucket(INTERVAL '900 seconds', ts)),
         |vraw AS (
         |  SELECT 'V#1_RAW#1' AS series_key, 2 AS subplot_row,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor((value) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'view'),
         |vres AS (
         |  SELECT 'V#1_RESAMPLED#1' AS series_key, 2 AS subplot_row,
         |    strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         |    floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value, 'lines' AS mode
         |  FROM events WHERE event_type = 'view'
         |  GROUP BY time_bucket(INTERVAL '900 seconds', ts))
         |SELECT * FROM (SELECT * FROM craw UNION ALL SELECT * FROM cres
         |  UNION ALL SELECT * FROM vraw UNION ALL SELECT * FROM vres)
         |ORDER BY series_key, ts_str, value""".stripMargin,

    "rel_distinct_users" ->
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_sketches" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |  TRUE AS hll_within_5pct, TRUE AS quantile_within_5pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "skew_salted_mean" ->
      s"""SELECT user_id,
         |  round(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE), 2) AS sum,
         |  COUNT(value) AS n,
         |  floor((CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / COUNT(value)) * 1000000.0 + 0.5) / 1000000.0 AS mean
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE), 4) AS sum_disc,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE), 4) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_revenue_by_nation" ->
      """SELECT n_name,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // plain-parquet twin of the bucketed-table join (same rows by
    // construction; bucketing only changes the physical plan)
    "rel_bucketed_join" ->
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_top_orders_per_cust" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "rel_part_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 20""".stripMargin,

    "rel_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,

    // same lattice, same grouping bitmask convention (left col = high bit)
    "rel_cube" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  COUNT(*) AS n,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2, 3""".stripMargin,

    // identical four grains; '(all)' coalescing sidesteps NULL ordering
    "rel_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
        |  COALESCE(o_orderstatus, '(all)') AS status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
        |  COUNT(*) AS n_orders,
        |  floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,8))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_pri, g_st, priority, status""".stripMargin,

    // pivot ≡ conditional aggregation (the plan Spark's explicit-values
    // pivot compiles to); empty cells NULL in both engines
    "rel_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  floor(CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |      THEN CAST(o_totalprice AS DECIMAL(27,8)) END) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS rev_f,
        |  floor(CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |      THEN CAST(o_totalprice AS DECIMAL(27,8)) END) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS rev_o,
        |  floor(CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |      THEN CAST(o_totalprice AS DECIMAL(27,8)) END) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS rev_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // same total order (price, orderkey), same positional-decile integer
    // arithmetic — the oracle's single-node row_number IS the semantics
    // the distributed range-partition + offset ranking reproduces
    "rel_decile_stats" ->
      """WITH r AS (SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM orders)
        |SELECT CAST(((rn - 1) * 10) // n + 1 AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,8))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS revenue
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical RANGE frame over the epoch-day axis; decimal moving sums
    "rel_moving_avg" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(27,8))) AS rev
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT priority, day, rev,
        |    SUM(rev) OVER (PARTITION BY priority
        |      ORDER BY date_diff('day', DATE '1970-01-01', day)
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov,
        |    COUNT(*) OVER (PARTITION BY priority
        |      ORDER BY date_diff('day', DATE '1970-01-01', day)
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS nd
        |  FROM d)
        |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
        |  floor(CAST(rev AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS day_rev,
        |  floor(CAST(mov AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS rev_7d,
        |  floor(CAST(mov AS DOUBLE) / nd * 1000000.0 + 0.5) / 1000000.0 AS avg_rev_7d
        |FROM w ORDER BY 1, 2""".stripMargin,

    // identical filters, exact-decimal revenue, rounded-value top-10 cut
    "rel_q3_shipping" ->
      """SELECT l_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
        |  o_orderpriority AS priority,
        |  floor(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(24,6))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "rel_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > DATE '1995-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND year(o_orderdate) = 1995)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_set_ops" ->
      """SELECT 'only_jan' AS tag, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-02')
        |UNION ALL
        |SELECT 'both_months' AS tag, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-02')
        |ORDER BY 1, 2""".stripMargin,

    "rel_orders_monthly" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "io_roundtrip" ->
      s"""SELECT 'E#1_RESAMPLED#1' AS series_key,
         |  strftime(time_bucket(INTERVAL '3600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events WHERE user_id = 7
         |GROUP BY time_bucket(INTERVAL '3600 seconds', ts)
         |ORDER BY 2""".stripMargin,

    "io_roundtrip_mixed" ->
      """SELECT 'N#1_RAW#1' AS series_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  floor(value * 1000000.0 + 0.5) / 1000000.0 AS num_value,
        |  CAST(NULL AS VARCHAR) AS str_value
        |FROM events WHERE user_id = 7
        |UNION ALL
        |SELECT 'S#1_RAW#1', CAST(floor(epoch(ts)) AS BIGINT),
        |  CAST(NULL AS DOUBLE), event_type
        |FROM events WHERE user_id = 7
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    "stream_resample" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  strftime(time_bucket(INTERVAL '900 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same epoch-aligned day bucket, exact-decimal mean, portable 6-dp
    "stream_enrich_join" ->
      s"""SELECT c_mktsegment,
         |  strftime(time_bucket(INTERVAL '86400 seconds', ts), '%Y-%m-%d %H:%M:%S') AS day,
         |  COUNT(*) AS n_events,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the disk contents must equal the direct batch rollup
    "stream_sink_rollup" ->
      s"""SELECT event_type,
         |  strftime(time_bucket(INTERVAL '10800 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         |  COUNT(*) AS n_events,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same frozen-LM lookups; contributions round per OCCURRENCE (the
    // single-streaming-aggregate form)
    "stream_lm_score" ->
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
        |FROM occ GROUP BY 1 ORDER BY 1""".stripMargin,

    // sliding windows ≡ two shifted tumbling buckets per event (2 h / 1 h)
    "stream_sliding_rollup" ->
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
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // batch self-join twin of the streaming interval join: same 7-day
    // event-time range, same floor-epoch gap
    "stream_stream_join" ->
      """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) -
        |    CAST(floor(epoch(s.ts)) AS BIGINT) AS gap_s
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        |  AND s.event_type = 'signup' AND p.event_type = 'purchase'
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |ORDER BY 1, 2""".stripMargin,

    // the watermark-bounded streaming dedup emits exactly the distinct
    // key set of the bounded replay
    "stream_dedup_watermark" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY 1, 2""".stripMargin,

    "doc_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin,

    // the roundtrip must preserve every byte: the oracle computes the
    // identical per-lang checksums from the SOURCE table
    "io_jsonl_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(SUM(('0x' || substring(md5(text), 1, 15))::BIGINT % 1000003)
        |    AS BIGINT) AS checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // same version split, same mutation, same md5-compare classification
    "doc_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE doc_id % 5 <> 0),
        |v2 AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 3 THEN text || ' [rev2]'
        |             ELSE text END) AS h
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.h <> v2.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY 1""".stripMargin,

    // same 64-token slice, same md5 of the space-joined prefix
    "doc_truncate_tokens" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(least(len(toks), 64) AS BIGINT) AS n_kept,
        |  md5(array_to_string(toks[1:64], ' ')) AS kept_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    // identical portable md5 bit positions (60-bit prefix % 65536, k = 5
    // seeds "0:".."4:"), same corpus/probe/plant split; maybe_dup =
    // all-k-bits-set over the corpus's distinct bit set, exact_dup = the
    // distinct-text membership ground truth
    "doc_bloom_dedup" ->
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
        |  FROM probes CROSS JOIN range(0, 5) r(i)),
        |flags AS (SELECT doc_id,
        |    CAST(CASE WHEN bool_and(c.bit IS NOT NULL) THEN 1 ELSE 0 END AS BIGINT)
        |      AS maybe_dup
        |  FROM pbits p LEFT JOIN cbits c USING (bit) GROUP BY doc_id)
        |SELECT f.doc_id AS doc, f.maybe_dup,
        |  CAST(CASE WHEN p.text IN (SELECT text FROM corpus) THEN 1 ELSE 0 END AS BIGINT)
        |    AS exact_dup
        |FROM flags f JOIN probes p USING (doc_id) ORDER BY doc""".stripMargin,

    // the stateful running mean reproduces the batch detMean op sequence
    // exactly (scaled-long exact sum -> decimal -> double -> / count)
    "stream_running_stats" ->
      """SELECT CAST(user_id AS VARCHAR) AS series_key,
        |  CAST(COUNT(value) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)
        |    / COUNT(value), 6) AS mean
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the streaming twin probes the same portable filter over the same
    // probe/plant split, so the oracle is the batch oracle's flags CTE
    "stream_bloom_filter" ->
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
        |  FROM probes CROSS JOIN range(0, 5) r(i))
        |SELECT doc_id AS doc,
        |  CAST(CASE WHEN bool_and(c.bit IS NOT NULL) THEN 1 ELSE 0 END AS BIGINT)
        |    AS maybe_dup
        |FROM pbits p LEFT JOIN cbits c USING (bit)
        |GROUP BY doc_id ORDER BY doc""".stripMargin,

    "doc_jaccard_pairs" -> JaccardOracle,

    // same string-gram sets; asymmetric ratio, both directions
    "doc_containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(i AS DOUBLE) / ca.n, 6) AS containment
        |FROM inter JOIN cnt ca ON doc_a = ca.doc_id
        |WHERE CAST(i AS DOUBLE) / ca.n >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "doc_minhash_lsh" -> JaccardOracle,

    // independent recomputation of the portable md5-derived 60-bit
    // simhash (same construction as stream_simhash_dedup's oracle:
    // token hash = first 15 md5 hex chars, per-bit ±1 sums, bit =
    // sum >= 0, packed MSB-first) + exhaustive all-pairs Hamming scan.
    // The engine's combination banding is exact for hamming <= 3, so
    // the sets match bit-for-bit — no recall margin.
    "doc_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
        |contrib AS (
        |  SELECT doc_id, b.b AS b,
        |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sim AS (SELECT doc_id,
        |          SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT AS simhash
        |        FROM contrib GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // connected components over the JaccardOracle pair graph via
    // recursive-CTE transitive closure (tiny graph — pairs only)
    "doc_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs
        |          UNION SELECT doc_a, doc_a FROM pairs
        |          UNION SELECT doc_b, doc_b FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x),
        |sizes AS (SELECT keeper, COUNT(*) AS cluster_size FROM comp GROUP BY keeper)
        |SELECT c.doc_id, c.keeper, s.cluster_size
        |FROM comp c JOIN sizes s USING (keeper)
        |ORDER BY doc_id""".stripMargin,

    // kept = all docs minus cluster members that are not their cluster's
    // keeper (same recursive-CTE closure as doc_dedup_clusters)
    // same recursive-closure clusters; keeper re-picked by
    // (n_tokens DESC, doc_id) inside each component
    "doc_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs
        |          UNION SELECT doc_a, doc_a FROM pairs
        |          UNION SELECT doc_b, doc_b FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |comp AS (SELECT x AS doc_id, min(y) AS root FROM reach GROUP BY x),
        |m AS (SELECT c.root, c.doc_id,
        |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |      FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
        |r AS (SELECT root, doc_id, n_tokens,
        |        row_number() OVER (PARTITION BY root
        |          ORDER BY n_tokens DESC, doc_id) AS rn
        |      FROM m)
        |SELECT root, doc_id AS best_doc, n_tokens FROM r WHERE rn = 1
        |ORDER BY root""".stripMargin,

    "doc_dedup_keep" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs
        |          UNION SELECT doc_a, doc_a FROM pairs
        |          UNION SELECT doc_b, doc_b FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x)
        |SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL OR c.keeper = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same recursive-CTE keep-join as doc_dedup_keep, then the identical
    // per-lang audit aggregates the engine computes over the files it
    // wrote (md5-prefix checksum is the cross-engine text fingerprint)
    "doc_dedup_sink" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs
        |          UNION SELECT doc_a, doc_a FROM pairs
        |          UNION SELECT doc_b, doc_b FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x),
        |kept AS (SELECT d.* FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |         WHERE c.doc_id IS NULL OR c.keeper = d.doc_id)
        |SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(doc_id)::BIGINT AS sum_doc_id,
        |  SUM(n_chars)::BIGINT AS sum_n_chars,
        |  SUM(('0x' || substring(md5(text),1,15))::BIGINT % 1000003)::BIGINT AS checksum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    // the composite curation pipeline: the SAME quality / repetition /
    // language-ID predicates as the per-operator oracles (text_quality,
    // text_repetition, text_langid — all on rounded ratios), the SAME
    // recursive-CTE keep-join as doc_dedup_sink, then the identical
    // per-lang audit over the kept set
    "doc_curate_sink" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs
        |          UNION SELECT doc_a, doc_a FROM pairs
        |          UNION SELECT doc_b, doc_b FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |comp AS (SELECT x AS doc_id, min(y) AS keeper FROM reach GROUP BY x),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |qual AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      CAST(len(toks) AS BIGINT) AS n_tokens,
        |      round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS distinct_ratio,
        |      round(CAST(len([x for x in toks if list_contains(['the','a','of','and','to','in','is','it','for','on','with','as','at','by','an','be','this','that'], x)]) AS DOUBLE) / len(toks), 6) AS stopword_ratio
        |    FROM tk)
        |  WHERE n_tokens >= 15 AND stopword_ratio >= 0.01 AND distinct_ratio >= 0.3),
        |grams AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
        |calm AS (SELECT doc_id FROM (
        |    SELECT doc_id, round(MAX(c)::DOUBLE / SUM(c), 6) AS top_2gram_frac
        |    FROM gc GROUP BY 1)
        |  WHERE top_2gram_frac <= 0.1),
        |lt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |lh AS (SELECT doc_id,
        |  len([x for x in toks if list_contains(['the','and','of','to','is','in','that','it'], x)]) AS hits_en,
        |  len([x for x in toks if list_contains(['der','die','das','und','ist','nicht','ein','zu'], x)]) AS hits_de,
        |  len([x for x in toks if list_contains(['el','la','de','que','y','en','un','es'], x)]) AS hits_es,
        |  len([x for x in toks if list_contains(['le','la','et','les','des','est','un','dans'], x)]) AS hits_fr
        |  FROM lt),
        |lid AS (SELECT doc_id FROM lh
        |  WHERE hits_en > 0 OR hits_de > 0 OR hits_es > 0 OR hits_fr > 0),
        |kept AS (SELECT d.* FROM documents d
        |         LEFT JOIN comp c ON d.doc_id = c.doc_id
        |         WHERE (c.doc_id IS NULL OR c.keeper = d.doc_id)
        |           AND d.doc_id IN (SELECT doc_id FROM qual)
        |           AND d.doc_id IN (SELECT doc_id FROM calm)
        |           AND d.doc_id IN (SELECT doc_id FROM lid))
        |SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(doc_id)::BIGINT AS sum_doc_id,
        |  SUM(n_chars)::BIGINT AS sum_n_chars,
        |  SUM(('0x' || substring(md5(text),1,15))::BIGINT % 1000003)::BIGINT AS checksum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    // global concat-then-chunk shard assignment: one ordered window
    // cumsum — the oracle's single-node luxury; the engine computes the
    // same exclusive prefix with the two-stage bucket decomposition
    "doc_pack_shards" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id AS doc, n_tokens, start_offset,
        |  CAST(start_offset // 1000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc""".stripMargin,

    // hash-ordered twin of doc_pack_shards: the oracle orders by the
    // same md5 shuffle key; the engine's 256-way hash-prefix bucket
    // decomposition must land on the identical global offsets
    "doc_shuffle_pack" ->
      """WITH k AS (SELECT doc_id AS doc,
        |    md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc, shuffle_key, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM k)
        |SELECT doc, shuffle_key, n_tokens, start_offset,
        |  CAST(start_offset // 1000 AS BIGINT) AS shard_id
        |FROM o ORDER BY doc""".stripMargin,

    // same prefix sum; span columns are integer divisions on top
    "doc_seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id AS doc, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS seq_start,
        |  CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS seq_end,
        |  CAST(start_offset % 256 AS BIGINT) AS offset_in_seq,
        |  CAST((start_offset + n_tokens - 1) // 256
        |    - start_offset // 256 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc""".stripMargin,

    // the generated BPE replay composed with the per-lang fertility
    // aggregate (same floor-round division as the engine)
    "text_bpe_fertility" -> (graft.ext.Bpe.oracleCountsCte(8) +
      """
        |SELECT documents.lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(bpe.n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(bpe.n_tokens) AS BIGINT) AS bpe_tokens,
        |  floor(CAST(SUM(bpe.n_tokens) AS DOUBLE) / SUM(bpe.n_words)
        |    * 1000000.0 + 0.5) / 1000000.0 AS fertility
        |FROM bpe JOIN documents ON bpe.doc = documents.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // the generated BPE replay (bpe CTE) composed with the identical
    // packing arithmetic, keyed on real token counts
    "doc_seq_pack_bpe" -> (graft.ext.Bpe.oracleCountsCte(8) +
      """,
        |c AS (SELECT doc, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM bpe)
        |SELECT doc, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS seq_start,
        |  CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS seq_end,
        |  CAST(start_offset % 256 AS BIGINT) AS offset_in_seq,
        |  CAST((start_offset + n_tokens - 1) // 256
        |    - start_offset // 256 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc""".stripMargin),

    // the generated unigram replay (uni CTE) composed with the identical
    // packing arithmetic, keyed on trained-unigram token counts
    "doc_seq_pack_unigram" -> (graft.ext.Unigram.oracleCountsCte(64) +
      """,
        |c AS (SELECT doc, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM uni)
        |SELECT doc, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS seq_start,
        |  CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS seq_end,
        |  CAST(start_offset % 256 AS BIGINT) AS offset_in_seq,
        |  CAST((start_offset + n_tokens - 1) // 256
        |    - start_offset // 256 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc""".stripMargin),

    // string-gram recomputation of the hashed-gram contamination join,
    // same planted leaks
    "doc_decontaminate" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 7),
        |g AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+4], ' ')
        |        for i in generate_series(1, greatest(len(w)-4, 0))])) AS s
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d)),
        |bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 20 = 7 AND doc_id < 1000000)
        |SELECT doc_id AS doc,
        |  CAST(COUNT(DISTINCT s) AS BIGINT) AS n_contaminated_grams
        |FROM g JOIN bg USING (s)
        |WHERE NOT (doc_id % 20 = 7 AND doc_id < 1000000)
        |GROUP BY doc_id ORDER BY doc""".stripMargin,

    // identical portable md5 sampling hash + per-stratum rate predicate
    "doc_sample_stratified" ->
      """WITH s AS (SELECT doc_id, lang, n_chars,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 10000 AS BIGINT) AS sample_bucket
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, sample_bucket FROM s
        |WHERE sample_bucket < CASE WHEN lang = 'en' THEN 2500
        |                           WHEN lang = 'zh' THEN 5000
        |                           ELSE 10000 END
        |ORDER BY doc_id""".stripMargin,

    // identical salted md5 bucket + the same basis-point thresholds
    "doc_hash_split" ->
      """WITH s AS (SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS BIGINT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, lang, split_bucket,
        |  CASE WHEN split_bucket < 9000 THEN 'train'
        |       WHEN split_bucket < 9500 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM s ORDER BY doc_id""".stripMargin,

    // same salted md5 keys, ANSI top-k
    "doc_sample_topk" ->
      """SELECT doc_id, lang,
        |  md5('usample:' || CAST(doc_id AS VARCHAR)) AS sample_key
        |FROM documents ORDER BY sample_key, doc_id LIMIT 100""".stripMargin,

    // the streamed running top-k must land on the batch top-k exactly
    // (min-wise merge ≡ global top-k) — same oracle as doc_sample_topk
    "stream_sample_topk" ->
      """SELECT doc_id, lang,
        |  md5('usample:' || CAST(doc_id AS VARCHAR)) AS sample_key
        |FROM documents ORDER BY sample_key, doc_id LIMIT 100""".stripMargin,

    // the same exact-integer water-filling closed form over the
    // cap-ascending prefix sums (BIGINT casts pin DuckDB's
    // HUGEINT window sums back to the engine's long arithmetic)
    "doc_budget_waterfill" ->
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
        |  FROM s)
        |SELECT lang, cap AS cap_tokens,
        |  CASE WHEN saturated THEN cap
        |       ELSE least(cap, (b - psat) // (n - nsat)
        |         + CASE WHEN i - nsat <= (b - psat) % (n - nsat)
        |                THEN 1 ELSE 0 END) END AS alloc_tokens,
        |  saturated,
        |  CASE WHEN n - nsat > 0 THEN (b - psat) // (n - nsat) END AS level
        |FROM s CROSS JOIN a
        |ORDER BY lang""".stripMargin,

    // the same allocation CTEs + the per-language greedy hash-order
    // prefix fill (window frame is rows by the unique (fill_key, id)
    // order, so RANGE vs ROWS framing cannot differ)
    "doc_budget_fill" ->
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
        |  FROM s),
        |al AS (SELECT lang,
        |    CASE WHEN saturated THEN cap
        |         ELSE least(cap, (b - psat) // (n - nsat)
        |           + CASE WHEN i - nsat <= (b - psat) % (n - nsat)
        |                  THEN 1 ELSE 0 END) END AS alloc_tokens
        |  FROM s CROSS JOIN a),
        |k AS (SELECT doc_id, lang, n_chars,
        |    md5('bfill:' || CAST(doc_id AS VARCHAR)) AS fill_key
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars, fill_key,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY fill_key, doc_id) AS BIGINT) AS cum_tokens
        |  FROM k)
        |SELECT doc_id, c.lang, n_chars, fill_key, cum_tokens, alloc_tokens
        |FROM c JOIN al ON c.lang = al.lang
        |WHERE cum_tokens <= alloc_tokens
        |ORDER BY doc_id""".stripMargin,

    // same salted keys, per-stratum ANSI window rank
    "doc_sample_stratified_k" ->
      """WITH k AS (SELECT doc_id, lang,
        |    md5('ssample:' || CAST(doc_id AS VARCHAR)) AS sample_key
        |  FROM documents),
        |r AS (SELECT doc_id, lang, sample_key,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank
        |  FROM k)
        |SELECT doc_id, lang, sample_key, sample_rank FROM r
        |WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin,

    // per-source aggregates + the window-rank median replay (the engine
    // side rides the stratified rank frame; ranks under a total order
    // are engine-invariant)
    "doc_corpus_card" ->
      """WITH base AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_tokens,
        |    floor(CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_chars,
        |    floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |      / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
        |  FROM documents GROUP BY 1),
        |rk AS (SELECT source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents),
        |med AS (SELECT source,
        |    min(CASE WHEN rn = ((n - 1) // 2) + 1 THEN n_chars END)
        |      AS median_lo,
        |    min(CASE WHEN rn = (CASE WHEN n % 2 = 1 THEN ((n - 1) // 2) + 1
        |                             ELSE ((n - 1) // 2) + 2 END)
        |      THEN n_chars END) AS median_hi
        |  FROM rk GROUP BY 1)
        |SELECT base.source, n_docs, n_langs, n_tokens, mean_chars, dup_rate,
        |  median_lo, median_hi
        |FROM base JOIN med ON base.source = med.source
        |ORDER BY base.source""".stripMargin,

    // same planted URLs, suffix-chain explode, broadcast-entry
    // equi-join; longest-rule pick via the lpad(length)||rule encoding
    // (= the engine's max(struct(length, rule)) for lengths <= 999)
    "doc_host_blocklist" ->
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
        |FROM g ORDER BY doc""".stripMargin,

    // same integer want/full/remainder arithmetic over the identical
    // salted keys; the per-lang extra-epoch picks replay through the
    // same window rank
    "doc_mix_epoch_cap" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents),
        |w AS (SELECT lang, n,
        |    ((CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 3000
        |                WHEN 'de' THEN 1500 WHEN 'fr' THEN 1000
        |                WHEN 'es' THEN 500 ELSE 0 END)
        |      * ((t * 20000) // 10000)) // 10000 AS want
        |  FROM n CROSS JOIN tot),
        |e AS (SELECT lang, n,
        |    least(want // n, 3) AS full_epochs,
        |    CASE WHEN want // n >= 3 THEN 0 ELSE want % n END AS rem
        |  FROM w),
        |k AS (SELECT doc_id, lang,
        |    md5('emix:' || CAST(doc_id AS VARCHAR)) AS key FROM documents),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY key, doc_id) AS BIGINT) AS rn FROM k),
        |d AS (SELECT r.doc_id, r.lang,
        |    e.full_epochs + CASE WHEN rn <= e.rem THEN 1 ELSE 0 END AS ep
        |  FROM r JOIN e ON r.lang = e.lang)
        |SELECT doc_id, lang,
        |  CAST(unnest(generate_series(1, ep)) AS BIGINT) AS epoch
        |FROM d WHERE ep > 0
        |ORDER BY doc_id, epoch""".stripMargin,

    // the JaccardOracle pair CTEs + source joins, unordered pair keys,
    // exact-decimal mean of the 6-dp-rounded similarities
    "doc_source_overlap" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id
        |             JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |j AS (SELECT least(sa.source, sb.source) AS source_lo,
        |        greatest(sa.source, sb.source) AS source_hi, jaccard
        |      FROM pairs
        |      JOIN documents sa ON doc_a = sa.doc_id
        |      JOIN documents sb ON doc_b = sb.doc_id)
        |SELECT source_lo, source_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(CAST(sum(CAST(jaccard AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_jaccard
        |FROM j GROUP BY 1, 2
        |ORDER BY source_lo, source_hi""".stripMargin,

    // the generated LR training CTEs (ending in `scored`) + the decile
    // binning and the salted within-decile shuffle as window ranks
    "doc_curriculum_order" -> (QualityModel.qualityOracleCtes(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)") + """,
      |ncnt AS (SELECT CAST(count(*) AS BIGINT) AS cn FROM scored),
      |rk AS (SELECT doc, score,
      |    CAST(row_number() OVER (ORDER BY score, doc) AS BIGINT) AS r
      |  FROM scored),
      |dz AS (SELECT doc, score, ((r - 1) * 10) // cn AS decile,
      |    md5('curr:' || CAST(doc AS VARCHAR)) AS sk
      |  FROM rk CROSS JOIN ncnt)
      |SELECT doc, score, decile,
      |  CAST(row_number() OVER (ORDER BY decile, sk, doc) AS BIGINT)
      |    AS curriculum_rank
      |FROM dz ORDER BY curriculum_rank""".stripMargin),

    // same equi-depth rank bits, explicit bit-interleave as a sum of
    // div/mod terms (no engine bit operators needed), three window-rank
    // layouts, per-file min/max + the same box intersection
    "doc_zorder_skipping" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
        |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM b),
        |zr AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS zrank,
        |    CAST(row_number() OVER (ORDER BY b1, b2, doc_id) AS BIGINT)
        |      AS lrank,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS hrank
        |  FROM z),
        |lay AS (
        |  SELECT 'zorder' AS layout, (zrank - 1) // ((n + 63) // 64)
        |    AS file_id, b1, b2 FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'linear', (lrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'hash', (hrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn)
        |SELECT layout, file_id,
        |  min(b1) AS b1_min, max(b1) AS b1_max,
        |  min(b2) AS b2_min, max(b2) AS b2_max,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  (max(b1) >= 64 AND min(b1) <= 127 AND
        |   max(b2) >= 128 AND min(b2) <= 191) AS scanned
        |FROM lay GROUP BY 1, 2
        |ORDER BY layout, file_id""".stripMargin,

    // same layouts replayed logically; per-file stats → manifest prune →
    // scanned-file/row counts, plus the box aggregate over the full
    // table (which the engine must reproduce from ONLY its pruned read)
    "doc_zorder_skipping_mat" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
        |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM b),
        |zr AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS zrank,
        |    CAST(row_number() OVER (ORDER BY b1, b2, doc_id) AS BIGINT)
        |      AS lrank,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS hrank
        |  FROM z),
        |lay AS (
        |  SELECT 'zorder' AS layout, (zrank - 1) // ((n + 63) // 64)
        |    AS file_id, b1, b2 FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'linear', (lrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'hash', (hrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn),
        |f AS (SELECT layout, file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lay GROUP BY 1, 2),
        |fs AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS files_scanned,
        |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS rows_scanned
        |  FROM f GROUP BY 1),
        |bx AS (SELECT CAST(count(*) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS box_sum_doc
        |  FROM b WHERE b1 BETWEEN 64 AND 127 AND b2 BETWEEN 128 AND 191)
        |SELECT layout, n_files, files_scanned, rows_scanned, box_rows,
        |  box_sum_doc
        |FROM fs CROSS JOIN bx ORDER BY layout""".stripMargin,

    // identical logical replay to doc_zorder_skipping_mat — the ENGINE
    // path differs (prune from the persisted write-time manifest, no
    // data-scan stats derivation), the numbers must not: that equality
    // is the proof the write-time manifest equals the full-scan audit
    "doc_zorder_manifest_prune" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
        |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM b),
        |zr AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS zrank,
        |    CAST(row_number() OVER (ORDER BY b1, b2, doc_id) AS BIGINT)
        |      AS lrank,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS hrank
        |  FROM z),
        |lay AS (
        |  SELECT 'zorder' AS layout, (zrank - 1) // ((n + 63) // 64)
        |    AS file_id, b1, b2 FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'linear', (lrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn
        |  UNION ALL
        |  SELECT 'hash', (hrank - 1) // ((n + 63) // 64), b1, b2
        |  FROM zr CROSS JOIN nn),
        |f AS (SELECT layout, file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lay GROUP BY 1, 2),
        |fs AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS files_scanned,
        |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS rows_scanned
        |  FROM f GROUP BY 1),
        |bx AS (SELECT CAST(count(*) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS box_sum_doc
        |  FROM b WHERE b1 BETWEEN 64 AND 127 AND b2 BETWEEN 128 AND 191)
        |SELECT layout, n_files, files_scanned, rows_scanned, box_rows,
        |  box_sum_doc
        |FROM fs CROSS JOIN bx ORDER BY layout""".stripMargin,

    // the same global bit space; per-subset window ranks replay the
    // three phase layouts logically (base z-order over 80%, hash-order
    // append files over 20%, optimized z-order over the union); stats,
    // manifest prune and the per-phase box from the phase's own rows
    "doc_zorder_append_optimize" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
        |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM b),
        |za AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE doc_id % 5 <> 0),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
        |fa AS (SELECT doc_id, b1, b2, (rk - 1) // ((n + 51) // 52)
        |    AS file_id FROM za CROSS JOIN na),
        |zb AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE doc_id % 5 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
        |fb AS (SELECT doc_id, b1, b2, 52 + (rk - 1) // ((n + 11) // 12)
        |    AS file_id FROM zb CROSS JOIN nb),
        |zo AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z),
        |fo AS (SELECT doc_id, b1, b2, (rk - 1) // ((n + 63) // 64)
        |    AS file_id FROM zo CROSS JOIN nn),
        |ph AS (
        |  SELECT 'base' AS phase, doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT 'appended', doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT 'appended', doc_id, b1, b2, file_id FROM fb
        |  UNION ALL SELECT 'optimized', doc_id, b1, b2, file_id FROM fo),
        |f AS (SELECT phase, file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM ph GROUP BY 1, 2),
        |fs AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS files_scanned,
        |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS rows_scanned
        |  FROM f GROUP BY 1),
        |bx AS (SELECT phase, CAST(count(*) FILTER (WHERE b1 BETWEEN 64
        |      AND 127 AND b2 BETWEEN 128 AND 191) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc
        |  FROM ph GROUP BY 1)
        |SELECT fs.phase AS phase, n_files, files_scanned, rows_scanned,
        |  box_rows, box_sum_doc
        |FROM fs JOIN bx ON fs.phase = bx.phase
        |ORDER BY fs.phase""".stripMargin,

    // incremental OPTIMIZE replay: base = corpus minus the localized
    // batch (b2 >= 144, even doc_id) z-ordered into 52 files; append =
    // that batch hash-ordered into 12 files; rewrite set = files whose
    // per-file box intersects the appended rows' bounding box (the
    // manifest-only selection), re-z-ordered into new files sized by
    // the global rows-per-file; phase stats/prune/box as before, plus
    // the rewrite accounting the engine reads off its manifests
    "doc_zorder_incr_optimize" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
        |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM b),
        |za AS (SELECT doc_id, b1, b2, zkey,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE NOT (b2 >= 144 AND doc_id % 2 = 0)),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
        |fa AS (SELECT doc_id, b1, b2, zkey, (rk - 1) // ((n + 51) // 52)
        |    AS file_id FROM za CROSS JOIN na),
        |zb AS (SELECT doc_id, b1, b2, zkey,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE b2 >= 144 AND doc_id % 2 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
        |fb AS (SELECT doc_id, b1, b2, zkey, 52 + (rk - 1) // ((n + 11) // 12)
        |    AS file_id FROM zb CROSS JOIN nb),
        |allf AS (SELECT doc_id, b1, b2, zkey, file_id FROM fa
        |  UNION ALL SELECT doc_id, b1, b2, zkey, file_id FROM fb),
        |fst AS (SELECT file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM allf GROUP BY 1),
        |bbox AS (SELECT min(b1) AS a1, max(b1) AS a2,
        |    min(b2) AS a3, max(b2) AS a4 FROM zb),
        |rw AS (SELECT file_id, n_rows FROM fst CROSS JOIN bbox
        |  WHERE b1_min <= a2 AND b1_max >= a1
        |    AND b2_min <= a4 AND b2_max >= a3),
        |zn AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM allf WHERE file_id IN (SELECT file_id FROM rw)),
        |fn AS (SELECT doc_id, b1, b2, 1000 + (rk - 1) // ((n + 63) // 64)
        |    AS file_id FROM zn CROSS JOIN nn),
        |ph AS (
        |  SELECT 'base' AS phase, doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT 'appended', doc_id, b1, b2, file_id FROM allf
        |  UNION ALL SELECT 'optimized', doc_id, b1, b2, file_id FROM allf
        |    WHERE file_id NOT IN (SELECT file_id FROM rw)
        |  UNION ALL SELECT 'optimized', doc_id, b1, b2, file_id FROM fn),
        |f AS (SELECT phase, file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM ph GROUP BY 1, 2),
        |fs AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS files_scanned,
        |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS rows_scanned
        |  FROM f GROUP BY 1),
        |bx AS (SELECT phase, CAST(count(*) FILTER (WHERE b1 BETWEEN 64
        |      AND 127 AND b2 BETWEEN 128 AND 191) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc
        |  FROM ph GROUP BY 1),
        |rwc AS (SELECT CAST(count(*) AS BIGINT) AS frw,
        |    CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rrw FROM rw)
        |SELECT fs.phase AS phase, n_files, files_scanned, rows_scanned,
        |  box_rows, box_sum_doc,
        |  CASE WHEN fs.phase = 'optimized' THEN frw
        |       ELSE CAST(0 AS BIGINT) END AS files_rewritten,
        |  CASE WHEN fs.phase = 'optimized' THEN rrw
        |       ELSE CAST(0 AS BIGINT) END AS rows_rewritten
        |FROM fs JOIN bx ON fs.phase = bx.phase CROSS JOIN rwc
        |ORDER BY fs.phase""".stripMargin,

    // same replay as doc_zorder_incr_optimize, final state only, plus
    // the vacuum accounting: on-disk-before = every file any snapshot
    // references (base + append + new), deleted = the rewrite set,
    // after = the optimized manifest's files — the engine recounts
    // `after` from a fresh post-delete listing, so a match proves the
    // orphans are physically gone and the live snapshot is intact
    "doc_zorder_vacuum" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey,
        |    md5('h:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM b),
        |za AS (SELECT doc_id, b1, b2, zkey,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE NOT (b2 >= 144 AND doc_id % 2 = 0)),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
        |fa AS (SELECT doc_id, b1, b2, zkey, (rk - 1) // ((n + 51) // 52)
        |    AS file_id FROM za CROSS JOIN na),
        |zb AS (SELECT doc_id, b1, b2, zkey,
        |    CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE b2 >= 144 AND doc_id % 2 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
        |fb AS (SELECT doc_id, b1, b2, zkey, 52 + (rk - 1) // ((n + 11) // 12)
        |    AS file_id FROM zb CROSS JOIN nb),
        |allf AS (SELECT doc_id, b1, b2, zkey, file_id FROM fa
        |  UNION ALL SELECT doc_id, b1, b2, zkey, file_id FROM fb),
        |fst AS (SELECT file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM allf GROUP BY 1),
        |bbox AS (SELECT min(b1) AS a1, max(b1) AS a2,
        |    min(b2) AS a3, max(b2) AS a4 FROM zb),
        |rw AS (SELECT file_id, n_rows FROM fst CROSS JOIN bbox
        |  WHERE b1_min <= a2 AND b1_max >= a1
        |    AND b2_min <= a4 AND b2_max >= a3),
        |zn AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM allf WHERE file_id IN (SELECT file_id FROM rw)),
        |fn AS (SELECT doc_id, b1, b2, 1000 + (rk - 1) // ((n + 63) // 64)
        |    AS file_id FROM zn CROSS JOIN nn),
        |opt AS (SELECT doc_id, b1, b2, file_id FROM allf
        |    WHERE file_id NOT IN (SELECT file_id FROM rw)
        |  UNION ALL SELECT doc_id, b1, b2, file_id FROM fn),
        |f AS (SELECT file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM opt GROUP BY 1),
        |fs AS (SELECT CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(coalesce(count(*) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS files_scanned,
        |    CAST(coalesce(sum(n_rows) FILTER (WHERE b1_max >= 64
        |      AND b1_min <= 127 AND b2_max >= 128 AND b2_min <= 191), 0)
        |      AS BIGINT) AS rows_scanned
        |  FROM f),
        |bx AS (SELECT CAST(count(*) AS BIGINT) AS box_rows,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS box_sum_doc
        |  FROM opt WHERE b1 BETWEEN 64 AND 127 AND b2 BETWEEN 128 AND 191),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS nfn
        |  FROM (SELECT DISTINCT file_id FROM fn)),
        |acc AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM fst) + nfn AS before_f,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rw) AS deleted_f
        |  FROM nf)
        |SELECT 'vacuumed' AS phase, n_files, files_scanned, rows_scanned,
        |  box_rows, box_sum_doc,
        |  before_f AS files_on_disk_before, deleted_f AS files_deleted,
        |  before_f - deleted_f AS files_on_disk_after
        |FROM fs CROSS JOIN bx CROSS JOIN acc""".stripMargin,

    // OCC interleaving row truth: the live set after the four writers is
    // every base doc (base ∪ A1 = all documents, whatever optimize did
    // to the file layout) plus the two synthetic cold-band appends; the
    // protocol counters are by-construction constants, each enforced by
    // a require in the builder
    "doc_zorder_occ" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |live AS (
        |  SELECT doc_id, b1, b2 FROM b
        |  UNION ALL
        |  SELECT doc_id + 3000000, b1, b2 % 64 FROM b WHERE doc_id % 31 = 5
        |  UNION ALL
        |  SELECT doc_id + 4000000, b1, b2 % 64 FROM b WHERE doc_id % 31 = 6)
        |SELECT 'occ' AS phase, CAST(6 AS BIGINT) AS n_versions,
        |  CAST(2 AS BIGINT) AS conflicts, CAST(1 AS BIGINT) AS aborts,
        |  CAST(count(*) AS BIGINT) AS live_rows,
        |  CAST(count(*) AS BIGINT) AS man_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS live_sum_doc,
        |  CAST(coalesce(count(*) FILTER (WHERE b1 BETWEEN 64 AND 127
        |    AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_rows,
        |  CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |    AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc
        |FROM live""".stripMargin,

    // Time-travel row truth: v2's content is the whole corpus (base ∪
    // A1 — optimize is content-neutral), latest adds the synthetic
    // cold-band A2; files_expired replays the optimize's rewrite-set
    // selection (boxes intersecting A1's bbox), and files_on_disk_after
    // is pure file-assignment arithmetic — base+append file count, plus
    // ceil(rewritten_rows / global_rpf) optimize files, plus A2's
    // ceil(m / rpf2) files, minus the expired rewrite set
    "doc_zorder_timetravel" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('zdim:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 10000 AS d2
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS r2
        |  FROM d),
        |b AS (SELECT doc_id, ((r1 - 1) * 256) // n AS b1,
        |    ((r2 - 1) * 256) // n AS b2
        |  FROM r CROSS JOIN nn),
        |z AS (SELECT doc_id, b1, b2,
        |    ((b1 // 1) % 2) * 2 + ((b1 // 2) % 2) * 8
        |      + ((b1 // 4) % 2) * 32 + ((b1 // 8) % 2) * 128
        |      + ((b1 // 16) % 2) * 512 + ((b1 // 32) % 2) * 2048
        |      + ((b1 // 64) % 2) * 8192 + ((b1 // 128) % 2) * 32768
        |      + ((b2 // 1) % 2) * 1 + ((b2 // 2) % 2) * 4
        |      + ((b2 // 4) % 2) * 16 + ((b2 // 8) % 2) * 64
        |      + ((b2 // 16) % 2) * 256 + ((b2 // 32) % 2) * 1024
        |      + ((b2 // 64) % 2) * 4096 + ((b2 // 128) % 2) * 16384 AS zkey
        |  FROM b),
        |za AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY zkey, doc_id) AS BIGINT) AS rk
        |  FROM z WHERE NOT (b2 >= 144 AND doc_id % 2 = 0)),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM za),
        |fa AS (SELECT doc_id, b1, b2, (rk - 1) // ((n + 51) // 52)
        |    AS file_id FROM za CROSS JOIN na),
        |zb AS (SELECT doc_id, b1, b2,
        |    CAST(row_number() OVER (ORDER BY
        |      md5('h:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM z WHERE b2 >= 144 AND doc_id % 2 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zb),
        |fb AS (SELECT doc_id, b1, b2, 100 + (rk - 1) // ((n + 11) // 12)
        |    AS file_id FROM zb CROSS JOIN nb),
        |allf AS (SELECT doc_id, b1, b2, file_id FROM fa
        |  UNION ALL SELECT doc_id, b1, b2, file_id FROM fb),
        |fst AS (SELECT file_id,
        |    min(b1) AS b1_min, max(b1) AS b1_max,
        |    min(b2) AS b2_min, max(b2) AS b2_max,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM allf GROUP BY 1),
        |nfst AS (SELECT CAST(count(*) AS BIGINT) AS nf FROM fst),
        |bbox AS (SELECT min(b1) AS a1, max(b1) AS a2,
        |    min(b2) AS a3, max(b2) AS a4 FROM zb),
        |rwc AS (SELECT CAST(count(*) AS BIGINT) AS nrw,
        |    CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rws
        |  FROM fst CROSS JOIN bbox
        |  WHERE b1_min <= a2 AND b1_max >= a1
        |    AND b2_min <= a4 AND b2_max >= a3),
        |a2c AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(coalesce(sum(doc_id + 3000000), 0) AS BIGINT) AS sm
        |  FROM b WHERE doc_id % 31 = 5),
        |v2c AS (SELECT CAST(count(*) AS BIGINT) AS rows_v2,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_doc_v2,
        |    CAST(coalesce(count(*) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_rows_v2,
        |    CAST(coalesce(sum(doc_id) FILTER (WHERE b1 BETWEEN 64 AND 127
        |      AND b2 BETWEEN 128 AND 191), 0) AS BIGINT) AS box_sum_doc_v2
        |  FROM b)
        |SELECT 'timetravel' AS phase, CAST(4 AS BIGINT) AS n_versions,
        |  CAST(2 AS BIGINT) AS retained_from,
        |  rows_v2, sum_doc_v2, box_rows_v2, box_sum_doc_v2,
        |  CAST(rows_v2 + m AS BIGINT) AS rows_latest,
        |  CAST(sum_doc_v2 + sm AS BIGINT) AS sum_doc_latest,
        |  nrw AS files_expired,
        |  CAST(nf + (rws + ((n + 63) // 64) - 1) // ((n + 63) // 64)
        |    + (CASE WHEN m = 0 THEN 0
        |        ELSE (m + ((m + 2) // 3) - 1) // ((m + 2) // 3) END)
        |    - nrw AS BIGINT) AS files_on_disk_after
        |FROM v2c CROSS JOIN a2c CROSS JOIN rwc CROSS JOIN nfst
        |  CROSS JOIN nn""".stripMargin,

    // the same allocation CTEs, sub-quotas by residue class, and
    // per-(lang, shard) window prefix fill — batch arrival order cannot
    // appear anywhere because shard membership is doc_id mod 8
    "stream_budget_fill" ->
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
        |  FROM s),
        |al AS (SELECT lang,
        |    CASE WHEN saturated THEN cap
        |         ELSE least(cap, (b - psat) // (n - nsat)
        |           + CASE WHEN i - nsat <= (b - psat) % (n - nsat)
        |                  THEN 1 ELSE 0 END) END AS alloc_tokens
        |  FROM s CROSS JOIN a),
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
        |ORDER BY doc_id""".stripMargin,

    // exactly-once ingest truth: every document lands exactly once
    // whatever batch replays fired — the per-residue content sums over
    // the row-local bucket dims; the counters are by-construction,
    // each enforced by a require in the builder
    "stream_ztable_append" ->
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
        |FROM d GROUP BY 1""".stripMargin,

    // both fills replayed over one keyed frame: per-(lang, res) prefix
    // for the sub-quota decision, per-lang prefix for the global one,
    // flags row-local, |langs| aggregate rows
    "stream_budget_loss" ->
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
        |  FROM s),
        |al AS (SELECT lang,
        |    CASE WHEN saturated THEN cap
        |         ELSE least(cap, (b - psat) // (n - nsat)
        |           + CASE WHEN i - nsat <= (b - psat) % (n - nsat)
        |                  THEN 1 ELSE 0 END) END AS alloc_tokens
        |  FROM s CROSS JOIN a),
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
        |FROM f GROUP BY 1 ORDER BY lang""".stripMargin,

    // prefix-batch replay of the evolving-index decisions: doc d
    // (residue/batch d % 4) is dropped iff some doc in an EARLIER
    // residue with a SMALLER id shares 3-shingle Jaccard >= 0.5 —
    // exactly what probing the growing index sees, without any notion
    // of the index (same string-shingle math as JaccardOracle)
    "stream_index_evolve" ->
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
        |FROM src ORDER BY doc""".stripMargin,

    // the streamed stateless decision must land on the batch blocklist
    // verdicts exactly — same oracle as doc_host_blocklist
    "stream_host_blocklist" ->
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
        |FROM g ORDER BY doc""".stripMargin,

    // the JaccardOracle CTEs over the planted-clone corpus + the salted
    // split CASE; leaks = pairs whose members' splits differ
    "doc_split_leak_audit" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 17 = 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id
        |             JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |sp AS (SELECT doc_id,
        |    CASE WHEN b < 9000 THEN 'train'
        |         WHEN b < 9500 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
        |        1, 15))::BIGINT % 10000 AS b
        |    FROM all_docs))
        |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, jaccard
        |FROM pairs JOIN sp sa ON doc_a = sa.doc_id
        |           JOIN sp sb ON doc_b = sb.doc_id
        |WHERE sa.split <> sb.split
        |ORDER BY doc_a, doc_b""".stripMargin,

    // identical exponential-key arithmetic: u = (bucket + 0.5)/2^60,
    // key = round(-ln(u)/w, 6), k smallest; the w > 0 filter mirrors the
    // engine's (E-S gives non-positive weights probability 0)
    "doc_sample_weighted" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    ('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT AS bucket
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars,
        |  round(-ln((bucket + 0.5) / 1152921504606846976.0) / n_chars, 6)
        |    AS es_key
        |FROM b ORDER BY es_key, doc_id LIMIT 100""".stripMargin,

    // re-chunk with list-slice arithmetic, keeper = min (doc, chunk_idx)
    // per chunk STRING (pins the engine's hashed-key path)
    "doc_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS chunk_text
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(0,
        |        CAST((len(w) + 15) // 16 AS BIGINT) - 1)) AS i FROM t)),
        |k AS (SELECT doc_id, chunk_idx, chunk_text,
        |    doc_id * 1000000 + chunk_idx =
        |      MIN(doc_id * 1000000 + chunk_idx) OVER (PARTITION BY chunk_text)
        |      AS keep
        |  FROM c)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
        |  CAST(SUM(CASE WHEN keep THEN len(string_split(chunk_text, ' '))
        |           ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin,

    // identical corpus window-hash index (distinct md5 8-token windows
    // of the %5<>0 slice), identical probe slice + planted
    // shifted-prefix leaks, LEFT JOIN membership accounting
    "stream_substring_dedup" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical HTML construction, script/style removal, block split,
    // tag strip, density + phrase rules, and ORDER BY-bidx reassembly
    "doc_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>body {font-size:12px}</style></head><body>' ||
        |    '<nav><a href="/">Home</a> <a href="/about">About</a> ' ||
        |    '<a href="/contact">Contact</a></nav><div><p>' || text ||
        |    '</p><p>Continued article body with additional narrative ' ||
        |    'content for extraction quality.</p></div>' ||
        |    '<aside><a href="/ads">Sponsored</a> ' ||
        |    '<a href="/more">More</a></aside>' ||
        |    '<footer>Copyright 2024 Example Corp. All rights reserved. ' ||
        |    '<a href="/privacy">Privacy</a></footer>' ||
        |    '<script>var tracking = 1;</script></body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, regexp_replace(html,
        |    '(?i)<(?:script|style)[^>]*>[\s\S]*?</(?:script|style)>',
        |    ' ', 'g') AS nh FROM h),
        |sg AS (SELECT doc_id, string_split_regex(nh,
        |    '(?i)</?(?:p|div|li|ul|ol|nav|aside|footer|header|h[1-6]|br|table|tr|td|section|article)[^>]*>')
        |    AS segs FROM c),
        |b AS (SELECT doc_id, u.i AS bidx, u.raw FROM (
        |    SELECT doc_id, unnest([{'i': i - 1, 'raw': segs[i]}
        |      for i in generate_series(1, len(segs))]) AS u FROM sg) z),
        |x AS (SELECT doc_id, bidx,
        |    trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS txt, len(raw) AS rawlen FROM b),
        |f AS (SELECT doc_id, bidx, txt,
        |    len(string_split(txt, ' ')) AS words,
        |    CAST(len(txt) AS DOUBLE) / greatest(rawlen, 1) AS density
        |  FROM x WHERE txt <> ''),
        |k AS (SELECT doc_id, bidx, txt,
        |    (words >= 5 AND density >= 0.55 AND NOT regexp_matches(txt,
        |      '(?i)(all rights reserved|privacy policy|terms of (use|service)|cookie|copyright)'))
        |      AS keep
        |  FROM f)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
        |  CAST(COALESCE(len(string_agg(CASE WHEN keep THEN txt END, ' '
        |    ORDER BY bidx)), 0) AS BIGINT) AS n_chars,
        |  md5(string_agg(CASE WHEN keep THEN txt END, ' ' ORDER BY bidx))
        |    AS text_md5
        |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin,

    // identical plant and window hashes; keeper = lexicographic-min
    // (doc, pos) STRUCT per duplicated hash, keeper-occurrence positions
    // protected from removal, coverage via generate_series, ORDER BY-pos
    // reassembly of the survivors
    "doc_substring_strip" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'planted leak prefix alpha beta ' || text
        |  FROM documents WHERE doc_id % 37 = 0),
        |t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM d),
        |w AS (SELECT doc_id, u.pos AS pos, md5(u.s) AS whash FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1,
        |        's': array_to_string(toks[i:i+7], ' ')}
        |      for i in generate_series(1, len(toks) - 7)]) AS u
        |    FROM t WHERE len(toks) >= 8) x),
        |dups AS (SELECT whash,
        |    MIN(struct_pack(d := doc_id, p := pos)) AS k
        |  FROM w GROUP BY 1 HAVING COUNT(*) >= 2),
        |rem AS (SELECT w.doc_id, w.pos FROM w JOIN dups USING (whash)
        |  WHERE NOT (w.doc_id = dups.k.d AND w.pos = dups.k.p)),
        |keepw AS (SELECT w.doc_id, w.pos FROM w JOIN dups USING (whash)
        |  WHERE w.doc_id = dups.k.d AND w.pos = dups.k.p),
        |prot AS (SELECT DISTINCT doc_id, p FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
        |  FROM keepw) y0),
        |cov AS (SELECT r.doc_id, r.p FROM (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
        |    FROM rem) y1) r
        |  LEFT JOIN prot ON r.doc_id = prot.doc_id AND r.p = prot.p
        |  WHERE prot.p IS NULL),
        |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]}
        |      for i in generate_series(1, len(toks))]) AS u FROM t) z),
        |fl AS (SELECT tok.doc_id, tok.pos, tok.tok,
        |    cov.p IS NOT NULL AS covered
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.p)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed_tokens,
        |  CASE WHEN COUNT(*) > SUM(CASE WHEN covered THEN 1 ELSE 0 END)
        |    THEN md5(string_agg(CASE WHEN NOT covered THEN tok END, ' '
        |      ORDER BY pos)) END AS kept_md5
        |FROM fl GROUP BY doc_id ORDER BY doc""".stripMargin,

    // identical plant, window hashes (md5 of the space-joined 8-token
    // window over \S+ tokens), ≥2 corpus-wide count, and
    // gaps-and-islands span merge
    "doc_substring_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'planted leak prefix alpha beta ' || text
        |  FROM documents WHERE doc_id % 37 = 0),
        |t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM d),
        |w AS (SELECT doc_id, u.pos AS pos, md5(u.s) AS whash FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1,
        |        's': array_to_string(toks[i:i+7], ' ')}
        |      for i in generate_series(1, len(toks) - 7)]) AS u
        |    FROM t WHERE len(toks) >= 8) x),
        |dups AS (SELECT whash FROM w GROUP BY 1 HAVING COUNT(*) >= 2),
        |m AS (SELECT w.doc_id, w.pos FROM w JOIN dups USING (whash)),
        |b AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |           IS NULL THEN 1
        |         WHEN pos > lag(pos) OVER (PARTITION BY doc_id
        |           ORDER BY pos) + 8 THEN 1
        |         ELSE 0 END AS brk
        |  FROM m),
        |i AS (SELECT doc_id, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM b)
        |SELECT doc_id AS doc, MIN(pos) AS span_start,
        |  MAX(pos) + 7 AS span_end, COUNT(*) AS n_windows
        |FROM i GROUP BY doc_id, isl ORDER BY doc, span_start""".stripMargin,

    // identical chunking, corpus document-frequency > 2 membership, and
    // in-order reassembly (string_agg ORDER BY ≡ the sorted-struct fold)
    "doc_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS ci,
        |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(0,
        |        CAST((len(w) + 7) // 8 AS BIGINT) - 1)) AS i FROM t)),
        |f AS (SELECT chunk FROM c GROUP BY chunk
        |      HAVING COUNT(DISTINCT doc_id) > 2),
        |k AS (SELECT c.doc_id, c.ci, c.chunk, f.chunk IS NOT NULL AS hit
        |  FROM c LEFT JOIN f ON c.chunk = f.chunk)
        |SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS kept_chunks,
        |  md5(COALESCE(string_agg(CASE WHEN hit THEN NULL ELSE chunk END,
        |    ' ' ORDER BY ci), '')) AS kept_md5
        |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin,

    // identical integer-div rate derivation + portable md5 keep predicate
    "doc_mix_sample" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |    LEAST(10000, (((CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000
        |                              WHEN 'es' THEN 2000 WHEN 'de' THEN 1000
        |                              WHEN 'fr' THEN 1000 ELSE 0 END
        |      * 250) // 10000) * 10000) // n) AS rate_bp
        |  FROM c)
        |SELECT doc_id, lang, CAST(rate_bp AS BIGINT) AS rate_bp,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 AS BIGINT) AS sample_bucket
        |FROM documents JOIN r USING (lang)
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 < rate_bp
        |ORDER BY doc_id""".stripMargin,

    // identical rate arithmetic: 6-dp floor-round of each sqrt, exact
    // DECIMAL(18,6) weight sum, one multiply chain + one division + one
    // floor in the SAME IEEE order, then the same md5 bucket predicate
    "doc_mix_temperature" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS DECIMAL(18,6)) AS w6 FROM c),
        |tot AS (SELECT SUM(w6) AS den, SUM(n) AS nn FROM w),
        |r AS (SELECT source,
        |    LEAST(10000, CAST(floor(5000.0 * tot.nn * CAST(w.w6 AS DOUBLE)
        |      / (CAST(tot.den AS DOUBLE) * w.n)) AS BIGINT)) AS rate_bp
        |  FROM w, tot)
        |SELECT d.doc_id, d.source, CAST(r.rate_bp AS BIGINT) AS rate_bp,
        |  CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 AS BIGINT) AS sample_bucket,
        |  ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 10000 < r.rate_bp AS selected
        |FROM documents d JOIN r USING (source)
        |ORDER BY d.doc_id""".stripMargin,

    // identical rounded-contribution decimal sum + one final IEEE
    // division; ln ulp differences die in the 6 dp round
    "text_unigram_nll" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |    FROM toks GROUP BY doc_id, term),
        |f AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS f FROM tf GROUP BY term),
        |n AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM f),
        |c AS (SELECT doc_id, tf,
        |    CAST(ROUND(tf * ln(CAST(n AS DOUBLE) / f), 6) AS DECIMAL(38,6))
        |      AS contrib
        |  FROM tf JOIN f USING (term) CROSS JOIN n)
        |SELECT doc_id AS doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
        |    AS nll
        |FROM c GROUP BY doc_id ORDER BY doc""".stripMargin,

    // the streamed cells equal the batch cells (stateful sum ≡ batch
    // sum), so the oracle is the batch CMS oracle on the replayed slice
    "stream_cms_topk" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE doc_id % 5 = 0),
        |tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
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
        |FROM top ORDER BY rank""".stripMargin,

    // identical plant, md5-keyed dup counts, 6dp-rounded distinct ratios
    // summed as DECIMAL(38,6), and the same two-signal keep gate
    "doc_source_filter" ->
      """WITH d0 AS (SELECT doc_id, source,
        |    CASE WHEN source IN ('src3', 'src7') AND doc_id % 3 = 0
        |         THEN 'boiler plate boiler plate boiler plate'
        |         ELSE text END AS text
        |  FROM documents),
        |dup AS (SELECT md5(text) AS k, COUNT(*) AS c FROM d0 GROUP BY 1),
        |q AS (SELECT doc_id,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS dr
        |  FROM d0),
        |j AS (SELECT d0.source, dup.c, q.dr
        |  FROM d0 JOIN dup ON md5(d0.text) = dup.k JOIN q USING (doc_id)),
        |stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / COUNT(*), 6) AS dup_share,
        |    round(CAST(SUM(CAST(dr AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean_distinct_ratio
        |  FROM j GROUP BY source)
        |SELECT source, n_docs, dup_share, mean_distinct_ratio,
        |  CAST(CASE WHEN dup_share <= 0.2 AND mean_distinct_ratio >= 0.5
        |       THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM stats ORDER BY source""".stripMargin,

    // identical md5 bucket hashes ('cms<row>:<term>' 60-bit prefix % w),
    // identical cell sums, min-over-rows estimates, and (est desc, term)
    // top-20 tie order
    "text_cms_topk" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
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
        |FROM top ORDER BY rank""".stripMargin,

    // same nll computation, then per-language quantile_cont tercile
    // cutoffs (interpolation-identical to Spark's percentile) and the
    // same <=-threshold CASE bucketing
    "text_nll_buckets" -> (NllOracleCtes + """,
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
        |FROM sl JOIN b USING (lang) ORDER BY doc""".stripMargin),

    // the serving twin pins the exact tercile order statistics plus
    // TRUE for both sketch bounds — a percentile_approx answer outside
    // its guaranteed rank window is a hash mismatch
    "text_nll_cuts_approx" -> (NllOracleCtes + """
        |SELECT lang,
        |  sv[CAST((1*(n-1))//3 + 1 AS BIGINT)] AS q1_exact_lo,
        |  sv[CAST(LEAST((1*(n-1))//3 + 2, n) AS BIGINT)] AS q1_exact_hi,
        |  (1*(n-1)) % 3 AS r1, TRUE AS q1_within,
        |  sv[CAST((2*(n-1))//3 + 1 AS BIGINT)] AS q2_exact_lo,
        |  sv[CAST(LEAST((2*(n-1))//3 + 2, n) AS BIGINT)] AS q2_exact_hi,
        |  (2*(n-1)) % 3 AS r2, TRUE AS q2_within
        |FROM q ORDER BY lang""".stripMargin),

    // exact p75 order statistics over the replayed rank table + TRUE
    // bound flags (see text_nll_cuts_approx)
    "doc_curate_rank_approx" -> (Graph.pageRankOracleCtes(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8) + """,
        |rs AS (SELECT list_sort(list(rank)) AS s, COUNT(*) AS n FROM r8)
        |SELECT s[CAST(floor(3*(n-1)/4) AS BIGINT) + 1] AS exact_lo,
        |  s[least(CAST(floor(3*(n-1)/4) AS BIGINT) + 2, n)] AS exact_hi,
        |  (3*(n-1)) % 4 AS r, TRUE AS within_bound FROM rs""".stripMargin),

    // exact median order statistics over the composed pipeline's gated
    // score frame + TRUE bound flag
    "doc_pipeline_median_approx" -> e2eOracleSql(
      """SELECT s[CAST(floor((n-1)/2) AS BIGINT) + 1] AS exact_lo,
        |  s[least(CAST(floor((n-1)/2) AS BIGINT) + 2, n)] AS exact_hi,
        |  (n-1) % 2 AS r, TRUE AS within_bound FROM psr""".stripMargin),

    // same plant, same RE2-compatible patterns, same
    // email->phone->ip->ssn->card replacement order; counts on the
    // original text; the identical Luhn integer arithmetic runs in
    // DuckDB lambdas (valid cards redact via a literal-replace fold,
    // invalid card-shaped spans stay)
    "text_pii_redact" ->
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
        |FROM v ORDER BY doc""".stripMargin,

    // streaming curation decision: quality + langid (same rounded
    // expressions as the batch gates) over the new split, minus docs
    // with a portable-simhash corpus near-dup (exact: pigeonhole
    // banding + Hamming verify has no recall margin)
    "stream_curate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
        |contrib AS (
        |  SELECT doc_id, b.b AS b,
        |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sim AS (SELECT doc_id,
        |          SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT AS simhash
        |        FROM contrib GROUP BY doc_id),
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
        |ORDER BY q.doc_id""".stripMargin,

    // same shingle/Jaccard math as JaccardOracle, restricted to pairs
    // crossing the stream/corpus split (new = doc_id % 5 == 0)
    "stream_minhash_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_new, b.doc_id AS doc_corpus, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s
        |          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 GROUP BY 1, 2)
        |SELECT doc_new, doc_corpus,
        |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |FROM inter JOIN cnt ca ON doc_new = ca.doc_id
        |           JOIN cnt cb ON doc_corpus = cb.doc_id
        |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.9
        |ORDER BY doc_new, doc_corpus""".stripMargin,

    // independent recomputation of the portable md5-derived 60-bit
    // simhash (same construction as Dedup.portableSimhash64: token hash
    // = first 15 md5 hex chars, per-bit ±1 sums, bit = sum >= 0, packed
    // MSB-first) + exact hamming over the stream/corpus split
    "stream_simhash_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
        |contrib AS (
        |  SELECT doc_id, b.b AS b,
        |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sim AS (SELECT doc_id,
        |          SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT AS simhash
        |        FROM contrib GROUP BY doc_id)
        |SELECT n.doc_id AS doc_new, c.doc_id AS doc_corpus,
        |       bit_count(xor(n.simhash, c.simhash))::BIGINT AS hamming
        |FROM sim n JOIN sim c ON n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        |WHERE bit_count(xor(n.simhash, c.simhash)) <= 3
        |ORDER BY doc_new, doc_corpus""".stripMargin,

    // chunk membership recomputed over chunk STRINGS: per new-split doc,
    // how many of its 16-token chunks the corpus split already contains
    "stream_chunk_dedup" ->
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
        |FROM nw GROUP BY doc_id ORDER BY doc""".stripMargin,

    // exhaustive probing (nProbe = nLists) makes the streamed IVF probe
    // the exact cosine top-k, so the oracle is brute force over the same
    // query slice — identical score formula and (cosine desc, candidate)
    // tie order as the engine's probe
    "stream_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 8 AND q.vec_id < 16 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // same brute-force 9-NN by (cosine desc, candidate) rank, majority
    // vote with (votes desc, label asc) tie order
    "emb_knn_classify" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    c.label AS nbr_label,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 24 AND q.vec_id < 32 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, nbr_label, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rnk
        |      FROM s),
        |v AS (SELECT query_id, CAST(nbr_label AS BIGINT) AS nbr_label,
        |        CAST(COUNT(*) AS BIGINT) AS n_votes
        |      FROM r WHERE rnk <= 9 GROUP BY query_id, nbr_label),
        |p AS (SELECT query_id, nbr_label AS predicted, n_votes,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY n_votes DESC, nbr_label) AS pr
        |      FROM v)
        |SELECT p.query_id, CAST(e.label AS BIGINT) AS true_label,
        |  p.predicted, p.n_votes
        |FROM p JOIN e ON p.query_id = e.vec_id
        |WHERE p.pr = 1 ORDER BY p.query_id""".stripMargin,

    // identical 6-dp centroids, identical exact-decimal distance sums,
    // identical (dist2, label) argmin tie order
    "emb_nearest_centroid" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT vec_id,
        |    unnest([{'dim': i - 1, 'val': v[i]}
        |            for i in generate_series(1, len(v))]) AS u
        |  FROM e),
        |xl AS (SELECT label,
        |    unnest([{'dim': i - 1, 'val': v[i]}
        |            for i in generate_series(1, len(v))]) AS u
        |  FROM e),
        |c AS (SELECT label, u.dim AS dim,
        |    ROUND(CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean
        |  FROM xl GROUP BY label, u.dim),
        |d AS (SELECT x.vec_id, c.label AS ckey,
        |    floor(CAST(SUM(CAST((x.u.val - c.mean) * (x.u.val - c.mean)
        |      AS DECIMAL(38,12))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS dist2
        |  FROM x JOIN c ON x.u.dim = c.dim GROUP BY 1, 2),
        |p AS (SELECT vec_id, ckey, dist2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, ckey) AS rn
        |  FROM d)
        |SELECT p.vec_id, CAST(e.label AS BIGINT) AS true_label,
        |  CAST(p.ckey AS BIGINT) AS assigned, p.dist2
        |FROM p JOIN e ON p.vec_id = e.vec_id
        |WHERE p.rn = 1 ORDER BY p.vec_id""".stripMargin,

    // same element-wise exact-decimal mean per (label, dim)
    "emb_label_centroids" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label,
        |    unnest([{'dim': i - 1, 'val': v[i]}
        |            for i in generate_series(1, len(v))]) AS u
        |  FROM e)
        |SELECT label, u.dim AS dim,
        |  ROUND(CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean
        |FROM x GROUP BY label, u.dim ORDER BY label, dim""".stripMargin,

    // generated training replay: 3 Lloyd rounds as CTE chains (distance /
    // argmin / update / carry-forward), exact-decimal aggregates + the
    // portable floor-round — lands on bit-identical centroids (the
    // QualityModel generated-oracle discipline applied to clustering)
    "emb_kmeans" ->
      (Kmeans.oracleCtes(8, 3,
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings") +
      """,
        |sz AS (SELECT cl, COUNT(*) AS n FROM af GROUP BY 1)
        |SELECT c.cl AS cluster, COALESCE(sz.n, 0) AS n, c.dim AS dim,
        |  c.cv AS c
        |FROM c3 c LEFT JOIN sz ON c.cl = sz.cl
        |ORDER BY cluster, dim""".stripMargin),

    // same training replay over base ∪ planted copies, then intra-cluster
    // cosine pairs (identical list-fold + portable round), recursive-CTE
    // closure, keeper = argmin (dist-to-centroid, id) per component
    "doc_semdedup" ->
      (Kmeans.oracleCtes(8, 3,
        """SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, embedding::DOUBLE[]
          |  FROM embeddings WHERE vec_id % 10 = 0""".stripMargin,
        recursive = true) +
      """,
        |pr AS MATERIALIZED (
        |  SELECT aa.vec_id AS id_a, bb.vec_id AS id_b
        |  FROM af aa JOIN af bb ON aa.cl = bb.cl AND aa.vec_id < bb.vec_id
        |  JOIN e ea ON ea.vec_id = aa.vec_id
        |  JOIN e eb ON eb.vec_id = bb.vec_id
        |  WHERE floor(
        |      list_sum([ea.v[i] * eb.v[i]
        |                for i in generate_series(1, len(ea.v))])
        |      / (sqrt(list_sum([ea.v[i] * ea.v[i]
        |                for i in generate_series(1, len(ea.v))]))
        |       * sqrt(list_sum([eb.v[i] * eb.v[i]
        |                for i in generate_series(1, len(eb.v))])))
        |      * 1000000.0 + 0.5) / 1000000.0 >= 0.95),
        |edges AS (SELECT id_a AS x, id_b AS y FROM pr
        |          UNION SELECT id_b, id_a FROM pr
        |          UNION SELECT id_a, id_a FROM pr
        |          UNION SELECT id_b, id_b FROM pr),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, g.y FROM reach r JOIN edges g ON r.y = g.x),
        |comp AS (SELECT x AS vec_id, MIN(y) AS root FROM reach GROUP BY x),
        |wr AS (SELECT af.vec_id, af.cl,
        |         COALESCE(comp.root, af.vec_id) AS root, af.dist2
        |       FROM af LEFT JOIN comp USING (vec_id)),
        |kp AS (SELECT root, vec_id AS keeper FROM (
        |    SELECT root, vec_id, row_number() OVER (
        |      PARTITION BY root ORDER BY dist2, vec_id) AS rn FROM wr)
        |  WHERE rn = 1)
        |SELECT wr.vec_id, wr.cl AS cluster, wr.root, kp.keeper,
        |  wr.vec_id = kp.keeper AS keep
        |FROM wr JOIN kp USING (root) ORDER BY wr.vec_id""".stripMargin),

    // same corpus training replay; stream queries re-derived from e
    // (copies + negations); BOTH query and member assignments replay the
    // serving path's left-to-right double fold as list comprehensions
    // (the cosine-topk fold precedent), then the same portable round +
    // (dist2, cl) argmin; hits joined within the one cluster
    "stream_semdedup" ->
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
        |ORDER BY q.query_id""".stripMargin),

    // identical sign matrix from md5("i:j") first-hex-digit parity,
    // identical sequential fold, 6-dp round
    "emb_rand_proj" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, j AS dim,
        |  round(list_sum([v[i] *
        |      (CASE WHEN substr(md5((i - 1)::VARCHAR || ':' || j::VARCHAR), 1, 1)
        |              BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END)
        |    for i in generate_series(1, len(v))]), 6) AS p
        |FROM e CROSS JOIN generate_series(0, 15) g(j)
        |ORDER BY vec_id, dim""".stripMargin,

    // identical op sequence: amax/127, floor(x/scale+0.5), exact int
    // aggregates, 6-dp error bound
    "emb_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max([abs(x) for x in v]) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |  CASE WHEN scale = 0
        |    THEN [CAST(0 AS BIGINT) for x in v]
        |    ELSE [CAST(floor(x / scale + 0.5) AS BIGINT) for x in v]
        |  END AS qv FROM s)
        |SELECT vec_id, round(scale, 6) AS qscale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum([abs(x) for x in qv]) AS BIGINT) AS q_l1,
        |  round(list_max([abs(v[i] - qv[i] * scale)
        |    for i in generate_series(1, len(v))]), 6) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,

    // identical MSB-first sign packing (sum of powers of two ≡ the
    // acc-doubling fold), identical popcount-of-XOR distance
    "emb_hamming_topk" ->
      """WITH p AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN i < 32 AND embedding[i+1] >= 0
        |      THEN 1::BIGINT << (31 - i) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(SUM(CASE WHEN i >= 32 AND embedding[i+1] >= 0
        |      THEN 1::BIGINT << (63 - i) ELSE 0 END) AS BIGINT) AS b1
        |  FROM embeddings, range(0, 64) t(i) GROUP BY 1),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    CAST(bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1))
        |      AS BIGINT) AS hamming
        |  FROM p q JOIN p c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id >= 40 AND q.vec_id < 48),
        |r AS (SELECT query_id, candidate_id, hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, candidate_id) AS rank FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, candidate_id, hamming
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "emb_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // same brute-force cosine replay with the different-label filter
    // applied before the per-query rank
    "emb_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, q.label AS query_label,
        |    c.vec_id AS candidate_id, c.label AS candidate_label,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
        |    AND c.label <> q.label),
        |r AS (SELECT query_id, query_label, candidate_id, candidate_label,
        |    cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, candidate_id) AS rank
        |  FROM s)
        |SELECT query_id, query_label, rank, candidate_id, candidate_label,
        |  cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // same brute-force replay per truncation width; the full-width
    // top-10 is the dims = 64 slice of the same ranked frame
    "emb_dim_truncate" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dd AS (SELECT unnest([8, 16, 32, 64]) AS dims),
        |s AS MATERIALIZED (
        |  SELECT dd.dims, q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, dd.dims)]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, dd.dims)])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, dd.dims)]))), 6)
        |      AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 32 AND c.vec_id <> q.vec_id, dd),
        |r AS MATERIALIZED (
        |  SELECT dims, query_id, candidate_id, row_number() OVER (
        |    PARTITION BY dims, query_id ORDER BY cosine DESC, candidate_id)
        |    AS rank
        |  FROM s),
        |full10 AS (SELECT query_id, candidate_id FROM r
        |           WHERE dims = 64 AND rank <= 10),
        |h AS (SELECT r.dims, CAST(COUNT(*) AS BIGINT) AS hits
        |      FROM r JOIN full10 USING (query_id, candidate_id)
        |      WHERE r.rank <= 10 GROUP BY 1)
        |SELECT CAST(dims AS BIGINT) AS dims, hits,
        |  round(CAST(hits AS DOUBLE) / 320.0, 6) AS recall_at_10
        |FROM h ORDER BY dims""".stripMargin,

    "emb_top_pairs_slice" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE vec_id < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |    (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |     sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin,

    // the exact pruned IVF probe returns brute-force top-k by the
    // triangle-inequality completeness argument (Similarity.ivfTopKExact
    // scaladoc), so the oracle is brute force over the 32..39 query
    // slice with the engine's (cosine desc, candidate) tie order
    "emb_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 32 AND q.vec_id < 40 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 6 ORDER BY query_id, rank""".stripMargin,

    // the exact pruned IVFADC probe (list bound + per-point
    // reconstruction-error bound + exact rescore) likewise returns
    // brute-force top-k — brute-force oracle over the 48..55 slice
    "emb_ivfpq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 48 AND q.vec_id < 56 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // exhaustive-routing learned-centroid IVF ≡ brute-force exact top-k
    // (every list probed ⇒ every candidate scored with the exact cosine
    // exactly once), so the oracle is brute force over the 8..15 query
    // slice with the engine's (cosine desc, candidate) tie order
    "emb_ivf_exhaustive" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 8 AND q.vec_id < 16 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 7 ORDER BY query_id, rank""".stripMargin,

    // retrain-on-drift probe parity: the retrained index's exhaustive
    // probe is still brute-force top-k over base ∪ the +3.0-shifted
    // drifted wave (queries are base vectors 24..31; the shifted twins
    // are candidates like any other row)
    "emb_ivf_drift_retrain" ->
      """WITH e0 AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM e0
        |  UNION ALL
        |  SELECT vec_id + 1000000, [x + 3.0 for x in v] FROM e0),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e0 q JOIN e c ON q.vec_id >= 24 AND q.vec_id < 32
        |    AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 8 ORDER BY query_id, rank""".stripMargin,

    // exhaustive-routing IVFADC+R ≡ brute-force exact top-k (ExtSpec pins
    // the bit-for-bit set equality), so the oracle is brute force over the
    // same query slice — identical score formula and (cosine desc,
    // candidate) tie order as the engine's re-rank stage
    "emb_ivfpq_rerank" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 16 AND q.vec_id < 24 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // exhaustive thresholded top-N over the SAME planted corpus the
    // engine builds (id-offset exact copies of every vec_id % 25 == 0
    // row): the engine's LSH-pruned result is exact-verified, so it must
    // equal this set wherever the banding recall contract holds — and for
    // exact duplicates (the only pairs >= 0.8 on this near-orthogonal
    // fixture) recall is deterministic.
    // same plant construction as the engine query (vec_id % 10 == 0
    // copied under +100000) + an exhaustive >= 0.8 scan: only
    // identical-vector pairs reach 0.8 on this near-orthogonal corpus,
    // and those collide in every LSH band, so the sets match exactly
    "emb_lsh_pairs" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(
        |      list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |      (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |       sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // recursive-CTE transitive closure over the exhaustive cosine >= 0.8
    // pair graph (same plant as emb_lsh_pairs) — the embedding-space
    // twin of the doc_dedup_clusters oracle
    "emb_dedup_clusters" ->
      """WITH RECURSIVE base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |      (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |       sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) >= 0.8),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM p
        |          UNION SELECT doc_b, doc_a FROM p
        |          UNION SELECT doc_a, doc_a FROM p
        |          UNION SELECT doc_b, doc_b FROM p),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e2.y FROM reach r JOIN edges e2 ON r.y = e2.x),
        |comp AS (SELECT x AS vec_id, min(y) AS root FROM reach GROUP BY x),
        |sizes AS (SELECT root, COUNT(*) AS cluster_size FROM comp GROUP BY root)
        |SELECT c.vec_id, c.root, s.cluster_size
        |FROM comp c JOIN sizes s USING (root)
        |ORDER BY vec_id""".stripMargin,

    "emb_lsh_top_pairs" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base WHERE vec_id % 25 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(
        |      list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |      (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |       sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.8
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin,

    "text_quality" ->
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
        |FROM m ORDER BY doc_id""".stripMargin,

    // identical sorted-token fold: list(c ORDER BY tok) + sequential
    // list_sum, -0.0 normalized by + 0.0, 6-dp round
    "text_entropy" ->
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
        |FROM a ORDER BY doc_id""".stripMargin,

    "text_gopher_rules" ->
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
        |FROM r ORDER BY doc_id""".stripMargin,

    // C4 line/page rules: DuckDB list comprehension mirrors the Spark
    // filter() lambda clause for clause; kept text reassembled with the
    // same separator before the md5 pin
    "text_c4_rules" -> C4RulesOracle,

    // the stateless streamed C4 pass must equal the batch pass
    // row-for-row — same oracle
    "stream_c4_rules" -> C4RulesOracle,

    // generated power-iteration replay over the same deterministic
    // synthetic link graph (affine spread, out-degree 1 + id % 3, no
    // self-loops or dangling nodes); n and the teleport scalars are
    // computed IN SQL with the engine's op order, so one oracle text
    // serves every corpus size
    "doc_pagerank" -> Graph.pageRankOracleSql(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8),

    // the same generated replay over the dangling-stratum graph: the
    // oracle's per-round d<i> CTE sums dangling ranks in exact decimal
    // and folds the uniform share with the engine's op order, so
    // mass-conserving ranks stay bit-identical across engines
    "doc_pagerank_dangling" -> Graph.pageRankOracleSql(
      s"SELECT src, dst FROM ($SyntheticEdgeSql) WHERE src % 3 <> 0",
      "SELECT doc_id AS node FROM documents", iters = 8),

    // rank-prior curation replay: the pageRank CTE prefix + the exact
    // order-statistic cutoff (the nllBuckets tercile discipline at
    // p=3/4: 4·rank ≥ (4−r)·lo + r·hi in exact DECIMAL(38,6) — no
    // engine-dependent interpolation float order) + the Gopher pass
    // CTEs + the curate_sink accounting
    "doc_curate_rank" -> (Graph.pageRankOracleCtes(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8) +
      """,
        |rs AS (SELECT list_sort(list(rank)) AS s, COUNT(*) AS n FROM r8),
        |cut AS (SELECT
        |  CAST(s[CAST(floor(3*(n-1)/4) AS BIGINT) + 1] AS DECIMAL(38,6)) AS lo,
        |  CAST(s[least(CAST(floor(3*(n-1)/4) AS BIGINT) + 2, n)]
        |    AS DECIMAL(38,6)) AS hi,
        |  (3*(n-1)) % 4 AS r FROM rs),
        |gd AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  string_split(text, chr(10)) AS glines, text FROM documents),
        |gm AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |  CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ell,
        |  CAST(len(glines) AS BIGINT) AS n_lines,
        |  CAST(len([l for l in glines if substr(ltrim(l), 1, 1) IN ('-', '*')]) AS BIGINT) AS n_bullet,
        |  CAST(len([l for l in glines if rtrim(l) LIKE '%...']) AS BIGINT) AS n_ellline,
        |  CAST(len([x for x in toks if length(regexp_replace(x, '[^a-zA-Z]', '', 'g')) > 0]) AS BIGINT) AS n_alphaword,
        |  CAST(list_sum([length(x) for x in toks]) AS BIGINT) AS sum_word_len
        |  FROM gd),
        |gp AS (SELECT doc_id FROM (
        |  SELECT doc_id, n_tokens,
        |    round(CAST(sum_word_len AS DOUBLE) / n_tokens, 6) AS mwl,
        |    round(CAST(n_hash + n_ell AS DOUBLE) / n_tokens, 6) AS swr,
        |    round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS blf,
        |    round(CAST(n_ellline AS DOUBLE) / n_lines, 6) AS elf,
        |    round(CAST(n_alphaword AS DOUBLE) / n_tokens, 6) AS awf
        |  FROM gm)
        |  WHERE n_tokens BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8),
        |kept AS (SELECT d.* FROM documents d
        |  JOIN r8 ON d.doc_id = r8.node, cut
        |  WHERE 4*CAST(r8.rank AS DECIMAL(38,6)) >= (4-cut.r)*cut.lo
        |      + cut.r*cut.hi
        |    AND d.doc_id IN (SELECT doc_id FROM gp))
        |SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |  SUM(doc_id)::BIGINT AS sum_doc_id,
        |  SUM(('0x' || substring(md5(text),1,15))::BIGINT % 1000003)::BIGINT
        |    AS checksum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),

    // both audit sides replayed exactly: string-shingle Jaccard truth
    // (the JaccardOracle construction over the planted-edit corpus) vs
    // portable-simhash hamming <= 3 candidates (the doc_simhash_pairs
    // construction), then set counts
    "doc_lsh_audit" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(w[2:], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents WHERE doc_id % 20 = 7)),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM base)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |truth AS MATERIALIZED (SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM base),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
        |contrib AS (
        |  SELECT doc_id, b.b AS b,
        |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sim AS MATERIALIZED (SELECT doc_id,
        |    SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT
        |      AS simhash
        |  FROM contrib GROUP BY doc_id),
        |cand AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |hits AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
        |  round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
        |    CAST((SELECT COUNT(*) FROM cand) AS DOUBLE), 6) AS precision,
        |  round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
        |    CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall""".stripMargin,

    // NB training replay: (lang, bucket) counts -> add-1 smoothed
    // 6-dp-rounded log-likelihoods -> exact-decimal per-(doc, lang)
    // sums -> struct-max argmax (ties to the larger lang code)
    "text_langid_trained" -> (LangIdTrainedCtes + """
      |SELECT d.doc_id AS doc, d.lang,
      |  COALESCE(p.b.lang, lfb.f.lang) AS pred_lang,
      |  COALESCE(round(p.b.score, 6), round(lfb.f.pri, 6)) AS score
      |FROM documents d LEFT JOIN pred p USING (doc_id), lfb
      |ORDER BY doc""".stripMargin),

    "text_langid_trained_confusion" -> (LangIdTrainedCtes + """
      |SELECT d.lang, COALESCE(p.b.lang, lfb.f.lang) AS pred_lang,
      |  COUNT(*)::BIGINT AS n_docs
      |FROM documents d LEFT JOIN pred p USING (doc_id), lfb
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "text_langid" -> LangIdOracle,

    "text_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len([x for x in string_split_regex(lower(text), '[^a-z0-9'']+') if x <> '']) AS BIGINT) AS n_re_tokens,
        |  CAST(len(list_distinct([x for x in string_split_regex(lower(text), '[^a-z0-9'']+') if x <> ''])) AS BIGINT) AS n_re_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,

    // generated replay of the full BPE lifecycle: 8 training rounds over
    // the word dict + the same 6-pass replace application
    "text_bpe_tokens" -> graft.ext.Bpe.oracleSql(8),

    // generated unigram-LM training replay (seed -> 2 Viterbi-EM rounds
    // -> final segmentation), identical arithmetic and tie-breaks
    "text_unigram_tokens" -> graft.ext.Unigram.oracleSql(64),

    // both generated training replays composed, per-lang fertility
    "text_tokenizer_compare" -> (graft.ext.Bpe.oracleCountsCte(8) + ",\n" +
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // cross-corpus exact-Jaccard replay: the oracle brute-forces every
    // (train, bench) pair over the STRING shingles (pinning the hashed
    // engine path), with the bench side rebuilt by the same
    // drop-first-word edit
    "doc_fuzzy_decon" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |be AS (SELECT doc_id + 1000000 AS doc_id, w[2:] AS w
        |       FROM w WHERE doc_id % 20 = 7),
        |sha AS (SELECT doc_id,
        |    unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM w),
        |shb AS (SELECT doc_id,
        |    unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
        |  FROM be),
        |cna AS (SELECT doc_id, COUNT(*) n FROM sha GROUP BY 1),
        |cnb AS (SELECT doc_id, COUNT(*) n FROM shb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
        |          FROM sha a JOIN shb b ON a.s = b.s GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b,
        |    CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS j
        |  FROM inter JOIN cna ca ON doc_a = ca.doc_id
        |  JOIN cnb cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5)
        |SELECT doc_a AS doc, CAST(COUNT(*) AS BIGINT) AS n_bench,
        |  MAX(round(j, 6)) AS max_jaccard
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical planted URLs + canonicalization regex steps + min-id
    // keeper per canonical form
    "doc_url_dedup" -> (s"WITH $UrlCanonCtes" + """
      |SELECT cn.doc_id AS doc, cn.host, cn.canon,
      |  cn.doc_id = k.keeper AS is_keeper
      |FROM cn JOIN k USING (canon) ORDER BY doc""".stripMargin),

    // the streamed canonical-key set must equal the batch distinct —
    // same canonicalization CTEs, distinct tail
    "stream_url_dedup" -> (s"WITH $UrlCanonCtes" + """
      |SELECT DISTINCT cn.canon, cn.host FROM cn ORDER BY 1""".stripMargin),

    // URL CTEs + the pageRank replay prefix: per-host counts and the
    // exact-decimal mean rank of kept docs
    "doc_url_host_rank" -> (Graph.pageRankOracleCtes(SyntheticEdgeSql,
      "SELECT doc_id AS node FROM documents", iters = 8) + ",\n" +
      UrlCanonCtes + """
      |SELECT cn.host, COUNT(*)::BIGINT AS n_docs,
      |  COUNT(DISTINCT cn.canon)::BIGINT AS n_canonical,
      |  SUM(CASE WHEN cn.doc_id = k.keeper THEN 1 ELSE 0 END)::BIGINT
      |    AS n_kept,
      |  floor(CAST(SUM(CASE WHEN cn.doc_id = k.keeper
      |      THEN CAST(r8.rank AS DECIMAL(38,6))
      |      ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
      |    / SUM(CASE WHEN cn.doc_id = k.keeper THEN 1 ELSE 0 END)
      |    * 1000000.0 + 0.5) / 1000000.0 AS mean_kept_rank
      |FROM cn JOIN k USING (canon) JOIN r8 ON cn.doc_id = r8.node
      |GROUP BY 1 ORDER BY 1""".stripMargin),

    // host-graph replay: the URL canonicalization CTEs produce per-doc
    // hosts; hosts get the portable md5-bigint id; the page edges
    // project to DISTINCT cross-host edges; then the same generated
    // 8-round power-iteration replay (prefix `h`) over the host graph
    "doc_host_pagerank" -> (s"WITH $UrlCanonCtes,\n" +
      """hh AS (SELECT doc_id, host,
        |  ('0x' || substr(md5(host), 1, 15))::BIGINT AS hid FROM cn),"""
        .stripMargin + "\n" +
      Graph.pageRankOracleCtes(
        s"""SELECT DISTINCT a.hid AS src, b.hid AS dst
           |  FROM ($SyntheticEdgeSql) pe
           |  JOIN hh a ON pe.src = a.doc_id JOIN hh b ON pe.dst = b.doc_id
           |  WHERE a.hid <> b.hid""".stripMargin,
        "SELECT DISTINCT hid AS node FROM hh", iters = 8, px = "h")
        .stripPrefix("WITH ") + """
      |SELECT h2.host, r.rank,
      |  COALESCE(i.in_deg, 0) AS in_deg, COALESCE(hdeg.outdeg, 0)
      |    AS out_deg, h2.n_docs
      |FROM (SELECT host, hid, COUNT(*)::BIGINT AS n_docs FROM hh
      |      GROUP BY 1, 2) h2
      |JOIN hr8 r ON h2.hid = r.node
      |LEFT JOIN (SELECT dst, CAST(COUNT(*) AS BIGINT) AS in_deg
      |           FROM he GROUP BY 1) i ON h2.hid = i.dst
      |LEFT JOIN hdeg ON h2.hid = hdeg.src
      |ORDER BY host""".stripMargin),

    // the composed pipeline replayed END TO END: LR training CTEs +
    // ingest/clean/dedup-closure/gopher/LR-gate/decon/mix/pack CTEs —
    // the packed row set (offsets included) pins every upstream keep
    // decision in one hash match
    "doc_pipeline_e2e" -> e2eOracleSql(
      """SELECT doc, lang, source, shuffle_key, n_tokens, start_offset,
        |  CAST(start_offset // 1000 AS BIGINT) AS shard_id
        |FROM ppo ORDER BY doc""".stripMargin),

    // the streamed per-doc decisions must land on the batch pipeline's
    // kept set exactly — same composed replay, mix-stage tail
    "stream_pipeline" -> e2eOracleSql(
      """SELECT doc_id, lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM am ORDER BY doc_id""".stripMargin),

    // same CTE prefix, funnel tail: per-stage survivor counts + final
    // shard/token mass
    "doc_pipeline_funnel" -> e2eOracleSql(
      """SELECT
        |  (SELECT COUNT(*)::BIGINT FROM ing) AS n_ingest,
        |  (SELECT COUNT(*)::BIGINT FROM udd) AS n_url_dedup,
        |  (SELECT COUNT(*)::BIGINT FROM cln) AS n_clean,
        |  (SELECT COUNT(*)::BIGINT FROM dd) AS n_dedup,
        |  (SELECT COUNT(*)::BIGINT FROM ag) AS n_gopher,
        |  (SELECT COUNT(*)::BIGINT FROM al) AS n_quality,
        |  (SELECT COUNT(*)::BIGINT FROM rkp) AS n_rank,
        |  (SELECT COUNT(*)::BIGINT FROM ad) AS n_decon,
        |  (SELECT COUNT(*)::BIGINT FROM am) AS n_mix,
        |  (SELECT COUNT(DISTINCT CAST(start_offset // 1000 AS BIGINT))
        |     ::BIGINT FROM ppo) AS n_shards,
        |  (SELECT COALESCE(SUM(n_tokens), 0)::BIGINT FROM ppk)
        |    AS sum_tokens""".stripMargin),

    // generated training-replay oracle (the BPE discipline applied to
    // gradient descent): DuckDB re-runs all 16 GD rounds — sound
    // because every aggregate in the loop is exact dyadic arithmetic
    // and every scalar op is IEEE correctly-rounded (see QualityModel)
    "doc_quality_lr" -> QualityModel.qualityOracleSql(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"),

    // same generated training CTEs, calibration tail: Elliott
    // probabilities, ten fixed bins, 6-dp-round-then-decimal-sum means
    "doc_lr_calibration" -> QualityModel.calibrationOracleSql(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"),

    // the streamed scoring must land on the batch result bit-for-bit
    // (stateless dyadic fold) — same generated training-replay oracle
    "stream_quality_lr" -> QualityModel.qualityOracleSql(
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE)"),

    "doc_dsir_sample" -> QualityModel.dsirOracleSql("lang = 'en'"),

    // the type-level apply path must be the SAME function — identical
    // generated oracle, so the dict-once + join-back plan is pinned to
    // the row-local semantics by DuckDB, not just by the unit spec
    "text_bpe_tokens_typed" -> graft.ext.Bpe.oracleSql(8),

    "text_token_stats" ->
      """SELECT token, COUNT(*) AS c
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY c DESC, token LIMIT 50""".stripMargin,

    // same planted transliteration + the same literal character-class
    // ranges (TextAnalysis.CjkClass interpolated verbatim — Java regex
    // and RE2 agree on literal char ranges); RE2 replacement uses \1
    // and needs the 'g' flag for global
    "text_token_cjk" -> {
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
    },

    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(length(t) AS BIGINT) * 1315423911 + ascii(t[1]) * 2654435761 + ascii(t[-1]) * 97
        |       for t in string_split(text, ' ')]),
        |    (acc, x) -> (acc * 31 + x) % 1000000000000037) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identical LM counts from the en subset, identical backoff formula
    // and 6-dp contribution discipline
    "text_lm_score" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // confusion over the SAME stopword-hit langid the text_langid oracle
    // declares
    "text_lang_confusion" ->
      s"""WITH pred AS ($LangIdOracle)
         |SELECT d.lang, p.pred_lang, COUNT(*) AS n_docs
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical 100-token buckets, exact-decimal char mean
    "doc_length_histogram" ->
      """SELECT lang,
        |  CAST(len(string_split(text, ' ')) -
        |    len(string_split(text, ' ')) % 100 AS BIGINT) AS len_bucket,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  floor(CAST(SUM(CAST(n_chars AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*)
        |    * 1000000.0 + 0.5) / 1000000.0 AS mean_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical latest-version-wins merge; md5 pins the merged text
    "doc_upsert_merge" ->
      """WITH all_rows AS (
        |  SELECT doc_id, text, 1 AS version FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' [rev2]', 2 FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 2 FROM documents WHERE doc_id % 20 = 11),
        |r AS (SELECT doc_id, version, text,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        |  FROM all_rows)
        |SELECT doc_id, CAST(version AS BIGINT) AS version, md5(text) AS content_md5
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // identical bigram stream, count frames, 6-dp contribution rounds,
    // exact-decimal sum, one final division
    "text_bigram_nll" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // interpolated Kneser–Ney trigram replay: identical type-count CTEs
    // (history / continuation / middle statistics all from the distinct
    // trigram frame) and the SAME operation-ordered float expression —
    // every count is exact integer, P is one fixed arithmetic tree, the
    // per-type cost rounds to 6 dp before the exact-decimal per-doc sum
    "text_kn3_nll" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
        |      greatest(CAST(t.c3 AS DOUBLE) - 0.75, 0.0) / CAST(hs.ch AS DOUBLE)
        |      + 0.75 * CAST(hs.n1h AS DOUBLE) / CAST(hs.ch AS DOUBLE)
        |        * (greatest(CAST(ls.n1low AS DOUBLE) - 0.75, 0.0)
        |             / CAST(ms.nmid AS DOUBLE)
        |           + 0.75 * CAST(ms.n1mid AS DOUBLE) / CAST(ms.nmid AS DOUBLE)
        |             * (CAST(cs.n1cur AS DOUBLE) / CAST(nt.ntypes AS DOUBLE)))),
        |      6) AS cost
        |  FROM ty t JOIN hs ON t.hist = hs.hist JOIN ls ON t.low = ls.low
        |    JOIN ms ON t.mid = ms.mid JOIN cs ON t.cur = cs.cur, nt)
        |SELECT tf.doc AS doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_trigrams,
        |  round(CAST(SUM(CAST(round(CAST(tf.tf AS DOUBLE) * sc.cost, 6)
        |    AS DECIMAL(38,6))) AS DOUBLE) / CAST(SUM(tf.tf) AS DOUBLE), 6)
        |    AS kn_nll
        |FROM tf JOIN sc ON tf.tri = sc.tri
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical tokenization (single-space split) and gram join
    "text_bigram_topk" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT unnest([w[i] || ' ' || w[i+1]
        |                     for i in generate_series(1, len(w) - 1)]) AS bigram
        |      FROM toks)
        |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c
        |FROM g GROUP BY 1 ORDER BY c DESC, bigram LIMIT 40""".stripMargin,

    "text_repetition" ->
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
        |FROM agg ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
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
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // same planted prefixes built from codepoints (chr), normalized with
    // DuckDB's ICU nfc_normalize — pins the JDK Normalizer NFC output,
    // the char counts, and the md5 of the normalized bytes
    "text_normalize" ->
      """WITH raw AS (SELECT doc_id,
        |    (CASE CAST(doc_id % 3 AS INTEGER)
        |       WHEN 0 THEN 'e' || chr(769)
        |       WHEN 1 THEN chr(8491)
        |       ELSE chr(64257) END || ' ' || text) AS r
        |  FROM documents),
        |n AS (SELECT doc_id, r, nfc_normalize(r) AS nf FROM raw)
        |SELECT doc_id, length(r) AS n_raw, length(nf) AS n_nfc,
        |  (r <> nf) AS changed, md5(nf) AS h
        |FROM n ORDER BY doc_id""".stripMargin,

    // GENERATED from Bm25Queries so engine and oracle score identical
    // terms; arithmetic mirrors TextAnalysis.bm25TopK token-for-token
    // (same literals, same association) so both engines evaluate the
    // same IEEE expression tree before the round-then-decimal-sum
    "text_bm25" -> {
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
    },

    "json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, source AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, sha256(text) AS sha256
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the content-match set is exactly the text-twin pairs: same md5 ⇒
    // same pattern ⇒ dHash equal (hamming 0) despite byte-different
    // payloads; different md5 ⇒ independent patterns, far beyond 6 bits
    "multimodal_phash_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents
        |           WHERE doc_id % 20 = 7),
        |t AS (SELECT doc_id, md5(text) AS m FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM t a JOIN t b ON a.m = b.m AND a.doc_id < b.doc_id
        |ORDER BY 1, 2""".stripMargin,

    // union-of-graphs keep decision: the text side replays the portable
    // simhash bit-exactly (doc_simhash_pairs machinery over the planted
    // corpus), the image side pairs by seed equality (same md5 ⇒ same
    // pattern ⇒ dHash 0, the multimodal_phash_pairs content replay)
    "multimodal_cross_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, text AS iseed FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    concat_ws(' ', 'imgclone', CAST(doc_id AS VARCHAR), md5(text)),
        |    text
        |  FROM documents WHERE doc_id % 20 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text,
        |    concat_ws(' ', 'txtimgseed', CAST(doc_id AS VARCHAR), md5(text))
        |  FROM documents WHERE doc_id % 20 = 11),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t),1,15))::BIGINT AS v FROM toks),
        |contrib AS (
        |  SELECT doc_id, b.b AS b,
        |    SUM(CASE WHEN ((v >> (59 - b.b)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sim AS (SELECT doc_id,
        |          SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (59 - b)) ELSE 0 END)::BIGINT AS simhash
        |        FROM contrib GROUP BY doc_id),
        |tp AS (SELECT b.doc_id AS doc_id
        |       FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |dupt AS (SELECT DISTINCT doc_id FROM tp),
        |im AS (SELECT doc_id, md5(iseed) AS m FROM d),
        |dupi AS (SELECT DISTINCT b.doc_id AS doc_id
        |         FROM im a JOIN im b ON a.m = b.m AND a.doc_id < b.doc_id)
        |SELECT d.doc_id,
        |  (dupt.doc_id IS NOT NULL) AS dup_text,
        |  (dupi.doc_id IS NOT NULL) AS dup_image,
        |  NOT ((dupt.doc_id IS NOT NULL) OR (dupi.doc_id IS NOT NULL)) AS keep
        |FROM d LEFT JOIN dupt ON d.doc_id = dupt.doc_id
        |  LEFT JOIN dupi ON d.doc_id = dupi.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same planted set as the image path: twins are the gain-shifted
    // renders, content-equal ⇒ hamming 0
    "multimodal_audio_fp_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents
        |           WHERE doc_id % 20 = 7),
        |t AS (SELECT doc_id, md5(text) AS m FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM t a JOIN t b ON a.m = b.m AND a.doc_id < b.doc_id
        |ORDER BY 1, 2""".stripMargin,

    "event_window_rollup" ->
      """SELECT event_type,
        |  strftime(time_bucket(INTERVAL '21600 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_m,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_m,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_m
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "event_range_join" ->
      """WITH iv AS (
        |  SELECT i AS interval_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '46800 seconds' AS s,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '46800 seconds' + INTERVAL '7200 seconds' AS e
        |  FROM generate_series(0, 49) t(i))
        |SELECT interval_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS sum_v
        |FROM iv JOIN events ON ts >= s AND ts <= e
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // streaming sessionization: gap math on SECOND-truncated epochs,
    // ties ordered by (epoch-millis, value) — the exact semantics of
    // StreamingOps.sessionizeStream; sentinel rows exist only in the
    // replay table and are never emitted (their sessions stay open)
    "stream_sessions" ->
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
        |FROM g GROUP BY k, sid ORDER BY series_key, start_s""".stripMargin,

    // same reversed-frame forward min, same second-truncated epoch math
    // and (ts_s, event_id) tie order, same 7-day window and month cohort
    "event_funnel" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |n AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts_s END)
        |      OVER (PARTITION BY user_id ORDER BY ts_s DESC, event_id DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nps
        |  FROM e),
        |s AS (SELECT strftime(make_timestamp(ts_s * 1000000), '%Y-%m') AS cohort,
        |    CASE WHEN nps IS NOT NULL AND nps - ts_s <= 604800
        |         THEN 1 ELSE 0 END AS conv
        |  FROM n WHERE event_type = 'signup')
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_signups,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS rate
        |FROM s GROUP BY cohort ORDER BY cohort""".stripMargin,

    // same ordered frontier chain, same strict-after + 1-day window
    "event_funnel_steps" ->
      """WITH e AS (SELECT user_id AS u, event_type AS et,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |f1 AS (SELECT u, MIN(ts_s) AS t1 FROM e WHERE et = 'signup' GROUP BY u),
        |f2 AS (SELECT e.u, f1.t1, MIN(e.ts_s) AS tp FROM e JOIN f1 ON e.u = f1.u
        |       WHERE e.et = 'click' AND e.ts_s > f1.t1
        |         AND e.ts_s <= f1.t1 + 86400 GROUP BY 1, 2),
        |f3 AS (SELECT e.u, f2.t1, MIN(e.ts_s) AS tp FROM e JOIN f2 ON e.u = f2.u
        |       WHERE e.et = 'purchase' AND e.ts_s > f2.tp
        |         AND e.ts_s <= f2.t1 + 86400 GROUP BY 1, 2),
        |c AS (SELECT 1 AS step_idx, 'signup' AS step,
        |        CAST((SELECT COUNT(*) FROM f1) AS BIGINT) AS n_users
        |      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM f2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM f3))
        |SELECT step_idx, step, n_users,
        |  round(CAST(n_users AS DOUBLE) /
        |    MAX(CASE WHEN step_idx = 1 THEN n_users END) OVER (), 6) AS rate
        |FROM c ORDER BY step_idx""".stripMargin,

    // same (user, day) distinct core, same <= 7-day range join
    "event_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0) AS BIGINT) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |wau AS (SELECT days.day, CAST(COUNT(DISTINCT ud.u) AS BIGINT) AS wau
        |        FROM days JOIN ud ON ud.d BETWEEN days.day - 6 AND days.day
        |        GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau
        |FROM dau JOIN wau ON dau.day = wau.day ORDER BY 1""".stripMargin,

    // same hour extraction (UTC), same exact-decimal mean
    "ts_seasonal_mean" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS series_key,
         |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
         |  COUNT(*) AS n,
         |  floor(($DetMeanSql) * 1000000.0 + 0.5) / 1000000.0 AS mean_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same sessionization CTE as event_sessions, then lead within
    // (user, session), same (n desc, from, to) top-k tie-break
    "event_topk_paths" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR (epoch(ts) - epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, event_type,
        |        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM o),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id, session_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM s)
        |SELECT from_type, to_type, COUNT(*) AS n FROM p
        |WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 20""".stripMargin,

    // same absolute week index, integer counts, one 6-dp division
    "event_retention" ->
      """WITH a AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800.0) AS BIGINT) AS week
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT u, MIN(week) AS cohort_week FROM a GROUP BY u),
        |g AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |        CAST(COUNT(*) AS BIGINT) AS n_users
        |      FROM a JOIN c ON a.u = c.u GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  round(CAST(n_users AS DOUBLE) /
        |    MAX(CASE WHEN week_offset = 0 THEN n_users END)
        |      OVER (PARTITION BY cohort_week), 6) AS retention
        |FROM g ORDER BY cohort_week, week_offset""".stripMargin,

    "event_sessions" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR (epoch(ts) - epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts,
        |        CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM o)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS start_s,
        |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS end_s,
        |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) - MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "event_asof" ->
      """WITH m AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_ts
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s,
        |  CAST(floor(epoch(asof_ts)) AS BIGINT) AS signup_s
        |FROM m WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // same union-tag sorted-window as-of fill (clicks sort before
    // purchases at equal ts via side, max event_id breaks right-side
    // ties), same k-decile integer division and exact decimal revenue
    "event_attribution" ->
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS side, NULL AS rid, NULL AS ck, value
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS side, event_id AS rid,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS ck,
        |    NULL AS value
        |  FROM events WHERE event_type = 'click'),
        |f AS (SELECT user_id, side, value,
        |    last_value(CASE WHEN side = 0 THEN ck END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, side, rid
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
        |  FROM u)
        |SELECT COALESCE(ck // 10, -1) AS k_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  floor(CAST(SUM(CAST(value AS DECIMAL(27,8))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS revenue
        |FROM f WHERE side = 1 GROUP BY 1 ORDER BY 1""".stripMargin)

  private val JaccardOracle =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |      for i in generate_series(1, greatest(len(w)-2, 0))])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

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
}
