package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime support for [[UnigramSegment]] — static methods + a compiled
  * vocab table so whole-stage codegen can call straight in. */
object UnigramHelpers {

  /** Vocab compiled for the row-local DP: piece → micro-nat cost, plus
    * the max piece length (in code points) bounding the DP's lookback. */
  final class VocabTable(val costs: java.util.HashMap[String, java.lang.Long],
      val maxPieceLen: Int) extends Serializable

  def compile(vocab: Seq[(String, Long)]): VocabTable = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    var maxLen = 1
    vocab.foreach { case (p, c) =>
      m.put(p, java.lang.Long.valueOf(c))
      val n = p.codePointCount(0, p.length)
      if (n > maxLen) maxLen = n
    }
    new VocabTable(m, maxLen)
  }

  /** Min-(cost, path) Viterbi segmentation of `word` — IDENTICAL
    * semantics to the relational DP in [[graft.ext.Unigram]]: integer
    * micro-nat cost sums, ties broken by the lexicographically smallest
    * space-joined piece path under UTF-8 BINARY order (paths at one DP
    * level concatenate to the same prefix, so neither is a strict
    * prefix of the other and first-difference comparison is stable
    * under any common suffix — the per-level greedy min is globally
    * correct, same argument as the relational min(enc)). Code-POINT
    * indexing mirrors Spark's `substr` / DuckDB's `substring`. Returns
    * null when the word exceeds `maxDepth` code points or the vocab
    * cannot cover it (the relational form drops those rows the same
    * way). */
  def path(word: UTF8String, table: VocabTable, maxDepth: Int): UTF8String = {
    val s = word.toString
    val nCp = s.codePointCount(0, s.length)
    if (nCp == 0 || nCp > maxDepth) return null
    // code-point offsets so substring boundaries match Spark/DuckDB
    val off = new Array[Int](nCp + 1)
    var i = 0
    var cp = 0
    while (cp < nCp) { off(cp) = i; i = s.offsetByCodePoints(i, 1); cp += 1 }
    off(nCp) = s.length
    val INF = Long.MaxValue
    val cost = new Array[Long](nCp + 1)
    val path = new Array[String](nCp + 1)
    cost(0) = 0L; path(0) = ""
    var j = 1
    while (j <= nCp) {
      cost(j) = INF; path(j) = null
      var k = 1
      val kMax = math.min(table.maxPieceLen, j)
      while (k <= kMax) {
        if (cost(j - k) != INF) {
          val piece = s.substring(off(j - k), off(j))
          val c = table.costs.get(piece)
          if (c != null) {
            val cand = cost(j - k) + c.longValue()
            if (cand < cost(j) ||
                (cand == cost(j) && {
                  val p = path(j - k) + " " + piece
                  UTF8String.fromString(p)
                    .compareTo(UTF8String.fromString(path(j))) < 0
                })) {
              cost(j) = cand
              path(j) = path(j - k) + " " + piece
            }
          }
        }
        k += 1
      }
      j += 1
    }
    if (cost(nCp) == INF) null
    else UTF8String.fromString(path(nCp).substring(1)) // drop leading space
  }
}

/** Row-local unigram-LM Viterbi segmentation as a codegen'd native
  * expression: the production form of [[graft.ext.Unigram]]'s relational
  * DP — one projection instead of d levels × l vocab joins per pass
  * (UnigramSpec pins native ≡ relational including tie-breaks; the
  * declared queries' generated oracles replay the relational form, so
  * every hash-match also gates this expression). The vocab is a
  * plan-time constant (trained cost table) bound into codegen as a
  * reference object — right up to ~1k pieces; production vocabs (32k+)
  * take the broadcast-bound twin [[UnigramSegmentBcast]], which
  * [[graft.ext.Unigram.viterbiPathsNative]] auto-selects above
  * [[graft.ext.Unigram.BcastVocabThreshold]].
  *
  * nullable: a word the vocab can't cover (or longer than `maxDepth`)
  * yields NULL from a non-null input — without `nullable = true` codegen
  * would emit invalid Java (the isNull-rvalue gotcha). */
case class UnigramSegment(child: Expression, vocab: Seq[(String, Long)],
    maxDepth: Int) extends UnaryExpression {

  @transient private lazy val table: UnigramHelpers.VocabTable =
    UnigramHelpers.compile(vocab)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnigramHelpers.path(input.asInstanceOf[UTF8String], table, maxDepth)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramVocab", table,
      classOf[UnigramHelpers.VocabTable].getName)
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.UnigramHelpers.path($a, $ref, $maxDepth);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnigramSegment = copy(child = newChild)
}

/** [[UnigramSegment]] with the compiled cost table carried by a Spark
  * BROADCAST VARIABLE instead of a plan reference object. At the
  * declared k = 64/256 the reference form is fine; at production
  * SentencePiece vocabs (32k+ pieces, a multi-MB hash table) the
  * reference object is serialized into EVERY task binary — per-task
  * wire and deserialize cost on every stage that segments — while a
  * broadcast ships once per executor (torrent protocol) and is shared
  * by all its tasks; the generated code unwraps `bcast.value()` once
  * per operator instance. Same [[UnigramHelpers.path]] kernel, so
  * output is bit-identical to the reference form (UnigramSpec pins
  * it). */
case class UnigramSegmentBcast(child: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[UnigramHelpers.VocabTable],
    maxDepth: Int) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnigramHelpers.path(input.asInstanceOf[UTF8String], bcast.value,
      maxDepth)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tblCls = classOf[UnigramHelpers.VocabTable].getName
    val bRef = ctx.addReferenceObj("unigramVocabBcast", bcast,
      "org.apache.spark.broadcast.Broadcast")
    // unwrap the broadcast ONCE per operator instance, not per row
    val tbl = ctx.addMutableState(tblCls, "unigramBcastTbl",
      v => s"$v = ($tblCls) $bRef.value();")
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.UnigramHelpers.path($a, $tbl, $maxDepth);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnigramSegmentBcast = copy(child = newChild)
}

object UnigramFunctions {
  /** Viterbi segmentation path of `word` under the trained cost table
    * (space-joined pieces; null when uncoverable or longer than
    * maxDepth). */
  def segment(word: Column, vocab: Seq[(String, Long)],
      maxDepth: Int): Column =
    ColumnBridge.column(
      UnigramSegment(ColumnBridge.expression(word), vocab, maxDepth))

  /** [[segment]] over a BROADCAST compiled cost table — the
    * production-vocab serving form (ships once per executor, not per
    * task). */
  def segmentBcast(word: Column,
      bcast: org.apache.spark.broadcast.Broadcast[UnigramHelpers.VocabTable],
      maxDepth: Int): Column =
    ColumnBridge.column(UnigramSegmentBcast(ColumnBridge.expression(word),
      bcast, maxDepth))
}
