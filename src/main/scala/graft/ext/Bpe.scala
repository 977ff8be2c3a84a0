package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Learned byte-pair encoding (Sennrich, Haddow, Birch — "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016; public
  * algorithm): train deterministic merges from the corpus word
  * frequency dictionary, apply them as row-local string projections —
  * the REAL token counter behind every LLM token budget (the
  * whitespace/regex counters in [[TextAnalysis]] approximate it).
  *
  * Engine-portable representation: a word is its symbol sequence joined
  * by single spaces with a leading/trailing space (" h e l l o "), so
  * one merge (l, r → lr) is the plain string replacement
  * " l r " → " lr ". A single left-to-right `replace` pass misses
  * chained occurrences (" a b a b " consumes the shared boundary
  * space), so a merge application is a FIXED [[Passes]]-fold repeat of
  * the same replace — both engines repeat identically, which makes the
  * semantics deterministic by construction (and 6 passes resolve
  * chains up to 2^6 symbols, beyond any natural word).
  *
  * Training shape at scale: the word DICTIONARY (types, not
  * occurrences) is the working set — one explode + hash aggregate
  * builds it, each round is one map-side-combinable pair-count
  * aggregate over the dict plus one row-local replace projection,
  * localCheckpoint'ed per round so round r never recomputes rounds
  * < r (the learnCentroidArrays discipline). Only the argmax pair
  * (ONE row) reaches the driver per round. Ties break (count desc,
  * left asc, right asc) — binary UTF-8 string order on both engines.
  *
  * Apply shape, two paths sharing one semantics:
  * - [[tokenCounts]] (row-local): the merge list rides as plan
  *   literals; token counting is a codegen'd replace chain per word
  *   OCCURRENCE (zero shuffle until the per-doc sum). Wins for small
  *   merge lists — no join, no dict materialization.
  * - [[tokenCountsTyped]] (type-level, the production-merge-count
  *   path): the replace chain runs ONCE per word TYPE over the dict,
  *   in bounded-depth projection batches (a 6·m-deep expression tree
  *   at m=30k would break planning; batches of ~32 merges keep each
  *   projection codegen-sized and a localCheckpoint between batches
  *   truncates lineage), then per-(doc, word) occurrence counts join
  *   back by word. The join input is pre-aggregated to (doc, word)
  *   pairs — a stop word contributes one row per doc, not one per
  *   occurrence — so the string-keyed shuffle is bounded by doc
  *   vocabulary, and the dict side is vocab-sized (AQE broadcast-able
  *   for real corpora).
  *
  * Training: [[trainMerges]] is textbook sequential BPE — one
  * driver-synchronized round per merge, the oracle-replayable
  * semantics. */
object Bpe {

  /** Symbolized word-frequency dict: (word, freq, rep). */
  private def wordDict(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(lit(" "),
          concat_ws(" ", regexp_extract_all(col("word"), lit("."), lit(0))),
          lit(" ")).as("rep"))

  /** Replace passes per merge, in the engine chain and the oracle. */
  private val Passes = 6

  /** One merge application as the fixed [[Passes]]-fold replace chain. */
  private def applyMerge(repCol: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column =
    (1 to Passes).foldLeft(repCol)((c, _) =>
      replace(c, lit(s" $l $r "), lit(s" $l$r ")))

  /** Train `m` merges; stops early if the dict runs out of pairs. */
  def trainMerges(df: DataFrame, textCol: String,
      m: Int): Seq[(String, String)] = {
    var rep = wordDict(df, textCol).transform(Pin.pin)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var round = 0
    while (round < m && !exhausted) {
      val s = split(trim(col("rep")), " ")
      val best = rep.where(size(s) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(0), size(s) - 2),
          i => struct(element_at(s, i + 1).as("l"),
            element_at(s, i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += ((l, r))
        rep = rep.withColumn("rep", applyMerge(col("rep"), l, r))
          .transform(Pin.pin)
      }
      round += 1
    }
    merges.toSeq
  }

  /** Per-doc BPE token counts under a trained merge list: (doc, n_words,
    * bpe_tokens). The replace chain is row-local codegen; the only
    * shuffle is the per-doc sum. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val rep0 = concat(lit(" "),
      concat_ws(" ", regexp_extract_all(col("word"), lit("."), lit(0))),
      lit(" "))
    val repN = merges.foldLeft(rep0) { case (c, (l, r)) =>
      applyMerge(c, l, r) }
    df.select(col(idCol).as("doc"),
        explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .as("word"))
      .select(col("doc"), size(split(trim(repN), " ")).as("_nt"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_nt")).cast("long").as("bpe_tokens"))
  }

  /** Apply a merge list over a `rep`-carrying dict in bounded-depth
    * projection batches: `batch` merges (6·batch nested replaces) per
    * projection, localCheckpoint between batches so neither the
    * expression tree nor the lineage grows with m. */
  private def applyMergesBatched(dict: DataFrame,
      merges: Seq[(String, String)], batch: Int): DataFrame =
    merges.grouped(batch).foldLeft(dict) { (d, g) =>
      d.withColumn("rep", g.foldLeft(col("rep")) {
          case (c, (l, r)) => applyMerge(c, l, r) })
        .transform(Pin.pin)
    }

  /** [[tokenCounts]] by the type-level path (header note): replace
    * chain once per word TYPE, occurrence counts joined back by word.
    * Identical output to [[tokenCounts]] for any merge list; the path
    * for production merge counts, where a per-occurrence 6·m replace
    * chain is both CPU-wasteful and (at m in the thousands) too deep to
    * plan as one expression. */
  def tokenCountsTyped(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], batch: Int = 32): DataFrame = {
    val occ = df.select(col(idCol).as("doc"),
        explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .as("word"))
      .groupBy(col("doc"), col("word")).agg(count(lit(1)).as("occ"))
    val dict0 = occ.select(col("word")).distinct()
      .withColumn("rep", concat(lit(" "),
        concat_ws(" ", regexp_extract_all(col("word"), lit("."), lit(0))),
        lit(" ")))
    val dict = applyMergesBatched(dict0, merges, batch)
      .select(col("word"), size(split(trim(col("rep")), " ")).as("_nt"))
    occ.join(dict, Seq("word"))
      .groupBy(col("doc"))
      .agg(sum(col("occ")).cast("long").as("n_words"),
        sum(col("occ") * col("_nt")).cast("long").as("bpe_tokens"))
  }

  /** The DuckDB oracle for [[trainMerges]] + [[tokenCounts]], generated
    * for `m` rounds: each round recomputes pair frequencies over the
    * previous round's reps, picks the same (count desc, l, r) argmax as
    * a scalar subquery (COALESCE to an unmatchable chr(1) pair when the
    * dict runs out — the engine stops early, the oracle no-ops), and
    * applies the same [[Passes]]-fold replace. Generated, not
    * hand-written, so engine and oracle can never drift on round
    * count. */
  def oracleSql(m: Int): String =
    oracleCtePrefix(m) + s"""
      |SELECT d.doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(len(string_split(trim(r$m.rep), ' '))) AS BIGINT)
      |    AS bpe_tokens
      |FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word
      |      FROM documents) d
      |JOIN r$m ON d.word = r$m.word
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The training replay + per-doc BPE token counts as a CTE block
    * ending in `bpe(doc, n_words, n_tokens)` — composable into
    * downstream oracles (packing keyed on real tokens, per-lang
    * fertility). */
  def oracleCountsCte(m: Int): String =
    oracleCtePrefix(m) + s""",
      |bpe AS MATERIALIZED (
      |  SELECT d.doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(len(string_split(trim(r$m.rep), ' '))) AS BIGINT)
      |      AS n_tokens
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word
      |        FROM documents) d
      |  JOIN r$m ON d.word = r$m.word
      |  GROUP BY 1)""".stripMargin

  /** The `WITH w0 … r<m>` training-replay chain shared by the oracles. */
  private def oracleCtePrefix(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(regexp_extract_all(text, '\S+')) AS word
        |    FROM documents) GROUP BY word),
        |r0 AS MATERIALIZED (SELECT word, freq,
        |    ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
        |    || ' ' AS rep FROM w0)""".stripMargin)
    for (i <- 1 to m) {
      val prev = s"r${i - 1}"
      sb.append(s""",
        |p$i AS MATERIALIZED (SELECT u.l AS l, u.r AS r, SUM(freq) AS c FROM (
        |    SELECT freq, unnest([{'l': s[j], 'r': s[j + 1]}
        |      for j in generate_series(1, len(s) - 1)]) AS u
        |    FROM (SELECT freq, string_split(trim(rep), ' ') AS s
        |          FROM $prev)) GROUP BY 1, 2),
        |b$i AS MATERIALIZED (SELECT
        |    COALESCE((SELECT l FROM p$i ORDER BY c DESC, l, r LIMIT 1),
        |      chr(1)) AS l,
        |    COALESCE((SELECT r FROM p$i ORDER BY c DESC, l, r LIMIT 1),
        |      chr(1)) AS r),
        |r$i AS MATERIALIZED (SELECT word, freq, $nestedReplace AS rep
        |  FROM $prev, b$i)""".stripMargin)
    }
    sb.toString
  }

  /** [[Passes]]-fold nested replace of " l r " → " lr " over column
    * rep, with l/r coming from the round's b-CTE. */
  private val nestedReplace: String =
    (1 to Passes).foldLeft("rep")((acc, _) =>
      s"replace($acc, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')")
}
