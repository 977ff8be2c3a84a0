package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer trainer — Kudo,
  * "Subword Regularization" (ACL 2018; public algorithm) — the OTHER
  * tokenizer real LLM pipelines train, complementing [[Bpe]]: instead
  * of greedy merge growth, a fixed candidate vocabulary is scored by a
  * unigram language model whose piece probabilities are re-estimated by
  * EM, and a word's tokenization is its most-probable segmentation
  * (Viterbi). This implementation is the hard-EM (Viterbi-EM) form with
  * everything pinned to engine-portable arithmetic so a generated
  * DuckDB oracle replays training round-for-round (the [[Bpe]]
  * generated-oracle discipline):
  *
  *  - training runs over the word TYPE frame (types, not occurrences —
  *    the Heaps'-law working set, corpus-size-independent), each type
  *    weighted by its corpus frequency;
  *  - seed vocabulary: every single character (coverage guarantee) plus
  *    the top (k − nChars) multi-character substrings of length ≤ l by
  *    (weighted count desc, piece asc) — a deterministic TakeOrdered,
  *    the same (count, key) tie-break order BPE uses;
  *  - piece costs are INTEGER MICRO-NATS: p = round6(count / total)
  *    (the repo's 6-dp probability grid), cost = round(−ln(p)·10⁶) as a
  *    BIGINT; a zero-count piece gets the sentinel 99·10⁶ (worse than
  *    any real cost — −ln(10⁻⁶) ≈ 13.8·10⁶ — but still usable, so
  *    character coverage never breaks). Viterbi then MINIMIZES an exact
  *    integer sum — no float accumulation anywhere in the DP;
  *  - the Viterbi DP is relational: level j holds each word's best
  *    segmentation of its length-j prefix as the string
  *    lpad(costMicros, 12) ‖ " piece₁ piece₂ …", and `min(enc)` under
  *    binary string order IS the (cost, lexicographic-path) argmin —
  *    one deterministic tie-break, identical memcmp semantics on both
  *    engines. Level j joins levels j−1…j−l against the (broadcast)
  *    vocab on an equality of `substr(word, i+1, j−i)` — l
  *    vocab-bounded equi-joins per level, nothing quadratic;
  *  - E-step: explode the winning paths, sum type frequencies per
  *    piece (exact integer expected counts — hard-EM's "expectation");
  *    M-step: re-derive micro-nat costs from those counts. [[Rounds]]
  *    EM rounds, fixed — both engines run exactly the same number;
  *  - words longer than [[Depth]] (the DP depth) are excluded from
  *    training and tokenize by the documented character fallback
  *    (ntok = length) — deterministic on both engines; the depth should
  *    cover the corpus (max word length here is 8; 12 leaves headroom).
  *
  * Apply shape (the production path): the final cost table segments the
  * word DICTIONARY once (type-level, like [[Bpe.tokenCountsTyped]]),
  * per-(doc, word) occurrence counts join back by word — the
  * string-keyed shuffle is bounded by doc vocabulary, the corpus-scale
  * work is one explode + hash aggregate.
  */
object Unigram {

  private val EncW = 12 // lpad width of the cost prefix in `enc`

  /** Longest seed piece, Viterbi DP depth (longest word segmented) and
    * EM rounds: read by [[train]], [[typedDict]] and the oracle alike. */
  private[graft] val MaxPiece = 4
  private[graft] val Depth = 12
  private[graft] val Rounds = 2

  /** Word-type frame (word, freq) over whitespace tokens. */
  private def wordTypes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** round6 on both engines: floor(x·10⁶ + 0.5) / 10⁶. */
  private def r6d(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** Micro-nat cost table from (piece, cnt) counts: p = round6(cnt/tot),
    * cm = round(−ln(p)·10⁶); zero-probability pieces get the 99·10⁶
    * sentinel. The sentinel gates on the ROUNDED probability, not just
    * cnt: a piece with cnt ≥ 1 but cnt/tot < 5e-7 rounds to p = 0, and
    * log(0) is NULL in Spark (ln(0) fails in DuckDB) — reachable for
    * rare characters on any large corpus since tot is the
    * substring-weighted total. `pieces` is the fixed vocab (piece);
    * `counts` may miss pieces (left join → sentinel). */
  private def costs(pieces: DataFrame, counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("cnt")).cast("long").as("tot"))
    val p = r6d(col("cnt").cast("double") / col("tot").cast("double"))
    pieces.select(col("piece"))
      .join(counts, Seq("piece"), "left")
      .crossJoin(broadcast(tot))
      .select(col("piece"),
        when(coalesce(col("cnt"), lit(0L)) <= 0L || p <= lit(0.0),
            lit(99000000L))
          .otherwise(floor(-log(p) * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("cm"))
  }

  /** Viterbi best segmentation per word type under cost table `vocab`
    * (piece, cm): returns (word, freq, path) for every word with
    * length ≤ d; path is the space-joined piece sequence. */
  def viterbiPaths(types: DataFrame, vocab: DataFrame, l: Int,
      d: Int): DataFrame = {
    val t0 = types.where(length(col("word")) <= d)
    // cap the DP depth at the actual max word length — levels beyond it
    // are empty frames whose pin jobs would be pure overhead (the
    // oracle's fixed-depth levels are empty past this point too, so the
    // output is identical by construction)
    val maxLen = t0.agg(max(length(col("word")))).collect()(0)
    val effD = if (maxLen.isNullAt(0)) 0 else math.min(d, maxLen.getInt(0))
    if (effD == 0)
      return t0.select(col("word"), col("freq"), lit("").as("path"))
        .where(lit(false))
    var lvls = Vector(t0.select(col("word"), col("freq"),
      lit("0" * EncW).as("enc")))
    val fins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (j <- 1 to effD) {
      val cands = (1 to math.min(l, j)).map { kk =>
        val i = j - kk
        val v = broadcast(vocab.where(length(col("piece")) === kk))
        lvls(i).where(length(col("word")) >= j)
          .join(v, col("piece") === col("word").substr(i + 1, kk))
          .select(col("word"), col("freq"),
            concat(
              lpad((expr(s"cast(substring(enc, 1, $EncW) as bigint)") +
                col("cm")).cast("string"), EncW, "0"),
              expr(s"substring(enc, ${EncW + 1})"),
              lit(" "), col("piece")).as("enc"))
      }.reduce(_ unionByName _)
      val lj0 = cands.groupBy(col("word"), col("freq"))
        .agg(min(col("enc")).as("enc"))
      // pin EVERY level: level j is consumed by up to l later levels
      // plus the finished filter, and Catalyst plans trees, not DAGs —
      // unpinned, each consumer re-embeds the whole level-j subtree and
      // the plan grows ~l^d (measured: 390 s and 13.5 MiB task
      // binaries at d=12 with pins only every 4 levels; ~3 s pinned).
      // The level frame is type-frame sized — the pin is cheap by
      // construction.
      val lj = Pin.pin(lj0)
      lvls = lvls :+ lj
      fins += lj.where(length(col("word")) === j)
    }
    fins.reduce(_ unionByName _)
      .select(col("word"), col("freq"),
        trim(expr(s"substring(enc, ${EncW + 1})")).as("path"))
  }

  /** Vocab size above which [[viterbiPathsNative]] ships the compiled
    * cost table as a Spark broadcast variable instead of a plan
    * reference object: a reference object rides EVERY task binary
    * (per-task wire + deserialize — a 32k-piece production vocab is a
    * multi-MB hash table), a broadcast ships once per executor and is
    * shared by its tasks. Results are bit-identical either way
    * (UnigramSpec pins it; the unigram32k tier exercises it at
    * production vocab scale). */
  val BcastVocabThreshold = 1024

  /** Native-expression Viterbi — identical semantics to the relational
    * [[viterbiPaths]] (UnigramSpec pins the equivalence, including
    * tie-breaks), one codegen'd projection instead of d levels × l
    * vocab joins: the production form for both training E-steps and the
    * typed-dict apply. Uncoverable words drop (null path), mirroring
    * the relational inner joins. Vocabs above [[BcastVocabThreshold]]
    * route through the broadcast-bound expression automatically. */
  def viterbiPathsNative(types: DataFrame, vocab: Seq[(String, Long)],
      d: Int): DataFrame =
    if (vocab.size > BcastVocabThreshold) viterbiPathsNativeBcast(types, vocab, d)
    else
      types.where(length(col("word")) <= d)
        .withColumn("path",
          graft.functions.UnigramFunctions.segment(col("word"), vocab, d))
        .where(col("path").isNotNull)
        .select(col("word"), col("freq"), col("path"))

  /** [[viterbiPathsNative]] with the compiled cost table as a BROADCAST
    * variable — the production-vocab form, callable directly (tests pin
    * it against the plan-bound twin at small k too).
    *
    * Broadcast lifecycle: each call allocates a fresh multi-MB
    * broadcast that this method cannot destroy (the returned frame is
    * lazy — the consuming action happens in the caller). One-shot
    * callers rely on driver GC + ContextCleaner to reclaim it, which is
    * fine for a single apply but accumulates in long loops; iterative
    * callers (e.g. [[train]]'s E-step, whose table changes every round
    * so the broadcast can never be reused) should allocate the
    * broadcast themselves via the two-arg overload and `destroy()` it
    * after the consuming action. */
  def viterbiPathsNativeBcast(types: DataFrame, vocab: Seq[(String, Long)],
      d: Int): DataFrame =
    viterbiPathsNativeBcast(types, types.sparkSession.sparkContext
      .broadcast(graft.functions.UnigramHelpers.compile(vocab)), d)

  /** [[viterbiPathsNativeBcast]] over a caller-owned broadcast of the
    * compiled cost table — the caller controls the lifecycle (destroy
    * after the action that consumes the returned frame). */
  def viterbiPathsNativeBcast(types: DataFrame,
      b: org.apache.spark.broadcast.Broadcast[graft.functions.UnigramHelpers.VocabTable],
      d: Int): DataFrame =
    types.where(length(col("word")) <= d)
      .withColumn("path",
        graft.functions.UnigramFunctions.segmentBcast(col("word"), b, d))
      .where(col("path").isNotNull)
      .select(col("word"), col("freq"), col("path"))

  /** Train the k-piece unigram LM: returns the final (piece, costMicros)
    * table as a collected, deterministic list (count desc order is NOT
    * preserved — sorted by piece for stability). The cost table is
    * vocab-sized (k rows), so each M-step collects it and the next
    * E-step runs the native row-local DP — 2 jobs per EM round. */
  def train(df: DataFrame, textCol: String, k: Int): Seq[(String, Long)] = {
    require(k > 0, "vocab size k must be positive")
    val t0 = Pin.pin(wordTypes(df, textCol)
      .where(length(col("word")) <= Depth))
    // seed: all substrings of length 1..MaxPiece, weighted by type freq
    val subs = t0.select(col("freq"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))), i =>
          transform(sequence(lit(1),
              least(lit(MaxPiece), length(col("word")) - i + lit(1))),
            n => col("word").substr(i, n))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast("long").as("cnt"))
    val chars = subs.where(length(col("piece")) === 1)
    val nChars = chars.count().toInt
    require(k > nChars, s"vocab k=$k must exceed the $nChars single chars")
    val multi = subs.where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(k - nChars)
    val pieces = Pin.pin(chars.unionByName(multi))
    def collected(v: DataFrame): Seq[(String, Long)] =
      v.orderBy(col("piece")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    var vSeq = collected(costs(pieces, pieces))
    for (_ <- 1 to Rounds) {
      // above the broadcast threshold, own the round's broadcast and
      // destroy it once the M-step collect has consumed the E-step —
      // the table changes every round so it can never be reused, and
      // leaving multi-MB broadcasts to ContextCleaner accumulates
      // executor/driver memory across long-lived sessions
      val b = if (vSeq.size > BcastVocabThreshold)
        Some(t0.sparkSession.sparkContext
          .broadcast(graft.functions.UnigramHelpers.compile(vSeq)))
      else None
      val segs = b.map(viterbiPathsNativeBcast(t0, _, Depth))
        .getOrElse(viterbiPathsNative(t0, vSeq, Depth))
      val cnts = segs
        .select(col("freq"), explode(split(col("path"), " ")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).cast("long").as("cnt"))
      vSeq = collected(costs(pieces, cnts))
      b.foreach(_.destroy())
    }
    vSeq
  }

  /** Word → token-count dictionary under a trained cost table: Viterbi
    * once per dictionary word; words longer than [[Depth]] take the
    * documented character fallback (ntok = length). Train-once /
    * apply-many callers should build this ONCE per corpus and pin it —
    * the DP apply is the expensive half of token counting. */
  def typedDict(df: DataFrame, textCol: String,
      vocab: Seq[(String, Long)]): DataFrame = {
    val types = wordTypes(df, textCol)
    val short = viterbiPathsNative(types, vocab, Depth)
      .select(col("word"), size(split(col("path"), " ")).as("ntok"))
    val long = types.where(length(col("word")) > Depth)
      .select(col("word"), length(col("word")).cast("int").as("ntok"))
    short.unionByName(long)
  }

  /** Per-doc counts from a prebuilt [[typedDict]] frame: the
    * corpus-scale half — one explode + (doc, word) hash aggregate,
    * dict joins back by word (doc-vocabulary-bounded shuffle). */
  def tokenCountsFromDict(df: DataFrame, idCol: String, textCol: String,
      dict: DataFrame): DataFrame = {
    val occ = df.select(col(idCol).as("doc"),
        explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .as("word"))
      .groupBy(col("doc"), col("word")).agg(count(lit(1)).as("occ"))
    occ.join(dict, Seq("word"))
      .groupBy(col("doc"))
      .agg(sum(col("occ")).cast("long").as("n_words"),
        sum(col("occ") * col("ntok")).cast("long").as("uni_tokens"))
  }

  // ---------------------------------------------------------------- //
  // Generated DuckDB oracle: replays seeding, the EM rounds and the   //
  // final apply with identical arithmetic and tie-breaks.             //
  // ---------------------------------------------------------------- //

  /** CASE expression deriving micro-nat cm from (cnt, tot). Like the
    * engine's [[costs]], the sentinel also gates on the ROUNDED
    * probability: cnt ≥ 1 with cnt/tot < 5e-7 rounds to p = 0 and
    * DuckDB's ln(0) errors. */
  private def cmSql(cnt: String, tot: String): String =
    s"""CASE WHEN COALESCE($cnt, 0) <= 0
       | OR floor(CAST($cnt AS DOUBLE)
       |   / CAST($tot AS DOUBLE) * 1000000.0 + 0.5) <= 0 THEN 99000000
       | ELSE CAST(floor(-ln(floor(CAST($cnt AS DOUBLE)
       |   / CAST($tot AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
       |   * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin

  /** One Viterbi pass (levels + seg CTE) under cost table `vTab`,
    * emitting CTEs named `lvl{tag}_j` and `seg{tag}`. */
  private def dpSql(sb: StringBuilder, tag: String, vTab: String): Unit = {
    sb.append(s""",
      |lvl${tag}_0 AS MATERIALIZED (SELECT word, freq, repeat('0', $EncW)
      |  AS enc FROM ut0)""".stripMargin)
    for (j <- 1 to Depth) {
      val branches = (1 to math.min(MaxPiece, j)).map { kk =>
        val i = j - kk
        // note: no generated line may START with "||" — this block is
        // embedded into an outer stripMargin which would eat the first
        // bar of a leading "||"
        s"""SELECT p.word, p.freq,
           |  lpad(CAST(CAST(substring(p.enc, 1, $EncW) AS BIGINT) + v.cm
           |    AS VARCHAR), $EncW, '0') ||
           |    substring(p.enc, ${EncW + 1}) || ' ' || v.piece AS enc
           |FROM lvl${tag}_$i p JOIN $vTab v
           |  ON len(p.word) >= $j
           |  AND v.piece = substring(p.word, ${i + 1}, $kk)""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      sb.append(s""",
        |lvl${tag}_$j AS MATERIALIZED (SELECT word, freq, min(enc) AS enc
        |  FROM (
        |  $branches
        |  ) GROUP BY 1, 2)""".stripMargin)
    }
    val segs = (1 to Depth).map(j =>
      s"""SELECT word, freq, trim(substring(enc, ${EncW + 1})) AS path
         |  FROM lvl${tag}_$j WHERE len(word) = $j""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    sb.append(s""",
      |seg$tag AS MATERIALIZED (
      |  $segs)""".stripMargin)
  }

  /** The full training-replay CTE chain, ending in a `uni(doc, n_words,
    * n_tokens)` CTE. */
  def oracleCountsCte(k: Int): String = "WITH " + oracleCteBody(k)

  /** The CTE chain WITHOUT the leading WITH — append to another
    * oracle's CTE list (u-prefixed names avoid collision with the BPE
    * replay's w0/r·/p·/b·/bpe). */
  def oracleCteBody(k: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""uw0 AS MATERIALIZED (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(regexp_extract_all(text, '\\S+')) AS word
      |    FROM documents) GROUP BY word),
      |ut0 AS MATERIALIZED (SELECT word, freq FROM uw0 WHERE len(word) <= $Depth),
      |usub0 AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT freq, unnest(flatten([[substring(word, i, n)
      |      for n in generate_series(1, least($MaxPiece, len(word) - i + 1))]
      |      for i in generate_series(1, len(word))])) AS piece
      |    FROM ut0) GROUP BY 1),
      |uch0 AS MATERIALIZED (SELECT piece, cnt FROM usub0 WHERE len(piece) = 1),
      |umu0 AS MATERIALIZED (SELECT piece, cnt FROM usub0 WHERE len(piece) > 1
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, piece)
      |    <= $k - (SELECT count(*) FROM uch0)),
      |uvp AS MATERIALIZED (SELECT piece, cnt FROM uch0
      |  UNION ALL SELECT piece, cnt FROM umu0),
      |uv0 AS MATERIALIZED (SELECT piece,
      |  ${cmSql("cnt", "(SELECT SUM(cnt) FROM uvp)")} AS cm FROM uvp)"""
      .stripMargin)
    for (r <- 1 to Rounds) {
      dpSql(sb, s"r$r", s"uv${r - 1}")
      sb.append(s""",
        |ucnt$r AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT)
        |    AS cnt
        |  FROM (SELECT freq, unnest(string_split(path, ' ')) AS piece
        |    FROM segr$r) GROUP BY 1),
        |uv$r AS MATERIALIZED (SELECT uvp.piece,
        |  ${cmSql(s"ucnt$r.cnt", s"(SELECT SUM(cnt) FROM ucnt$r)")} AS cm
        |  FROM uvp LEFT JOIN ucnt$r ON uvp.piece = ucnt$r.piece)""".stripMargin)
    }
    dpSql(sb, "f", s"uv$Rounds")
    sb.append(s""",
      |udict AS MATERIALIZED (
      |  SELECT word, CAST(len(string_split(path, ' ')) AS INT) AS ntok
      |  FROM segf
      |  UNION ALL
      |  SELECT word, CAST(len(word) AS INT) FROM uw0 WHERE len(word) > $Depth),
      |uocc AS MATERIALIZED (SELECT doc_id AS doc, word,
      |    CAST(COUNT(*) AS BIGINT) AS occ
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+'))
      |      AS word FROM documents) GROUP BY 1, 2),
      |uni AS MATERIALIZED (
      |  SELECT uocc.doc AS doc, CAST(SUM(occ) AS BIGINT) AS n_words,
      |    CAST(SUM(occ * ntok) AS BIGINT) AS n_tokens
      |  FROM uocc JOIN udict ON uocc.word = udict.word
      |  GROUP BY 1)""".stripMargin)
    sb.toString
  }

  /** Stand-alone oracle for the per-doc token-count query. */
  def oracleSql(k: Int): String =
    oracleCountsCte(k) + """
      |SELECT doc, n_words, n_tokens AS uni_tokens
      |FROM uni ORDER BY doc""".stripMargin
}
