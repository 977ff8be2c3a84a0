package graft

import graft.ext.Unigram
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer semantics: the Viterbi DP must pick the true
  * min-cost segmentation with the documented deterministic tie-break,
  * segmentations must re-concatenate to their words, and the type-level
  * apply must be consistent with the corpus. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("viterbi picks the min-cost segmentation") {
    // costs in micro-nats: "ab"+"c" (3+5) beats "a"+"b"+"c" (5+5+5)
    // and the sentinel-cost "abc"
    val vocab = Seq(("a", 5000000L), ("b", 5000000L), ("c", 5000000L),
      ("ab", 3000000L), ("abc", 99000000L)).toDF("piece", "cm")
    val types = Seq(("abc", 4L), ("c", 1L)).toDF("word", "freq")
    val got = Unigram.viterbiPaths(types, vocab, l = 4, d = 12)
      .select("word", "path").as[(String, String)].collect().toMap
    assert(got == Map("abc" -> "ab c", "c" -> "c"), got.toString)
  }

  test("equal-cost paths break ties lexicographically on the piece sequence") {
    // "x y" (5+5) ties "xy" (10): the encoded-string min compares the
    // path suffix — " x y" < " xy" under binary order, so the split wins
    val vocab = Seq(("x", 5000000L), ("y", 5000000L), ("xy", 10000000L))
      .toDF("piece", "cm")
    val types = Seq(("xy", 1L)).toDF("word", "freq")
    val got = Unigram.viterbiPaths(types, vocab, l = 2, d = 4)
      .select("path").as[String].collect().head
    assert(got == "x y", got)
  }

  test("native Viterbi expression == relational DP, including tie-breaks") {
    // includes the cost-tie case and a word the vocab cannot cover
    // (relational drops it via the inner joins; native must yield null
    // and the frame must drop it identically)
    val vocabSeq = Seq(("a", 5000000L), ("b", 5000000L), ("c", 5000000L),
      ("ab", 3000000L), ("x", 5000000L), ("y", 5000000L),
      ("xy", 10000000L), ("abc", 99000000L))
    val vocabDf = vocabSeq.toDF("piece", "cm")
    val types = Seq(("abc", 4L), ("xy", 2L), ("abcab", 1L), ("qqq", 1L),
      ("a", 9L)).toDF("word", "freq")
    val rel = Unigram.viterbiPaths(types, vocabDf, l = 4, d = 12)
      .select("word", "path").as[(String, String)].collect().toSet
    val nat = Unigram.viterbiPathsNative(types, vocabSeq, d = 12)
      .select("word", "path").as[(String, String)].collect().toSet
    assert(rel == nat, s"rel=$rel nat=$nat")
    assert(!rel.exists(_._1 == "qqq"), "uncoverable word must drop")
    // and on the real corpus with a trained vocab
    val docs = spark.read.parquet(sf("documents"))
    val trained = Unigram.train(docs, "text", k = 64)
    val words = docs.select(explode(
        regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val relC = Unigram.viterbiPaths(words, trained.toDF("piece", "cm"),
        l = 4, d = 12)
      .select("word", "path").as[(String, String)].collect().toSet
    val natC = Unigram.viterbiPathsNative(words, trained, d = 12)
      .select("word", "path").as[(String, String)].collect().toSet
    assert(relC == natC)
  }

  test("native Viterbi indexes by code points (astral chars == relational substr)") {
    // U+1F600 is two UTF-16 code units; piece boundaries must fall on
    // code points or the native DP would split a surrogate pair where
    // Spark's substr (code-point-based) never does
    val g = "😀" // 😀
    val vocabSeq = Seq((g, 4000000L), ("a", 5000000L), (s"a$g", 2000000L))
    val types = Seq((s"a$g$g", 1L), (g, 2L)).toDF("word", "freq")
    val nat = Unigram.viterbiPathsNative(types, vocabSeq, d = 12)
      .select("word", "path").as[(String, String)].collect().toSet
    val rel = Unigram.viterbiPaths(types, vocabSeq.toDF("piece", "cm"),
        l = 4, d = 12)
      .select("word", "path").as[(String, String)].collect().toSet
    assert(nat == rel, s"nat=$nat rel=$rel")
    assert(nat == Set((s"a$g$g", s"a$g $g"), (g, g)), nat.toString)
  }

  test("trained segmentations re-concatenate to their words; apply is corpus-consistent") {
    val docs = spark.read.parquet(sf("documents"))
    val vocab = Unigram.train(docs, "text", k = 64)
    assert(vocab.size == 64, s"vocab ${vocab.size}")
    // every single character of the (len<=12) types is in the vocab
    val dict = Unigram.typedDict(docs, "text", vocab)
    val words = docs.select(explode(
        regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("word"))
      .distinct()
    // total dictionary coverage: every corpus word tokenizes
    assert(dict.count() == words.count())
    // type-level counts: n_words equals the whitespace token count and
    // every word costs at least one token, at most its length
    val chk = Unigram.tokenCountsFromDict(docs, "doc_id", "text", dict)
      .join(docs.select(col("doc_id").as("doc"), col("text")), "doc")
      .select(
        (col("n_words") ===
          size(split(trim(col("text")), "\\s+"))).as("nw_ok"),
        (col("uni_tokens") >= col("n_words")).as("lo_ok"))
    assert(chk.where(!col("nw_ok") || !col("lo_ok")).count() == 0)
    // paths re-concatenate: replace(path, ' ', '') == word for all types
    val paths = Unigram.viterbiPaths(
      words.withColumn("freq", lit(1L)),
      vocab.toDF("piece", "cm"), l = 4, d = 12)
    assert(paths.where(
      regexp_replace(col("path"), " ", "") =!= col("word")).count() == 0)
  }

  test("broadcast-bound segmenter == plan-bound segmenter, bit-identical") {
    val docs = spark.read.parquet(sf("documents"))
    val vocab = Unigram.train(docs, "text", k = 64)
    val types = docs.select(explode(
        regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val plan = Unigram.viterbiPathsNative(types, vocab, 12) // k=64 → plan-bound
    val bc = Unigram.viterbiPathsNativeBcast(types, vocab, 12)
    assert(plan.exceptAll(bc).count() == 0 && bc.exceptAll(plan).count() == 0,
      "broadcast segmenter diverged from the plan-bound form")
    assert(bc.count() > 0)
  }

  test("a piece whose probability rounds to zero gets the sentinel, not NULL") {
    // one rare char against a substring-weighted total > 2e6 makes
    // cnt/tot < 5e-7, which round6's to p = 0 — log(0) is NULL in
    // Spark, and an ungated sentinel crashed train() with an NPE at
    // the collected cost table (ADVICE r14). Word type "aaaaaaaa"
    // (len 8, l=4) contributes 26 substrings × freq 700000 ≈ 1.8e7
    // to the seed total, and its ≥3-piece segmentation keeps the
    // M-step totals above 2.1e6 — the lone "z" rounds to zero
    // probability in every cost table, so the sentinel must reach
    // the returned vocab.
    val rare = Seq.fill(700000)("aaaaaaaa") :+ "z"
    val df = rare.toDF("text")
    val vocab = Unigram.train(df, "text", k = 4)
    val z = vocab.find(_._1 == "z")
    assert(z.nonEmpty, "rare char missing from vocab")
    assert(z.get._2 == 99000000L,
      s"zero-rounded probability must take the sentinel, got ${z.get._2}")
    // the frequent pieces still get finite real costs
    assert(vocab.exists(v => v._1 != "z" && v._2 < 99000000L))
  }
}
