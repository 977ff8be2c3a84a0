package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the dense dot product of two
  * `array<double>` columns.
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: higher-order
  * functions are evaluated through per-element lambda dispatch and
  * allocate an intermediate array per row — measured ~7 µs per 64-dim dot
  * on this workload. This expression compiles to a tight primitive loop
  * inside whole-stage codegen (no allocation, no boxing) and keeps the
  * exact same left-to-right IEEE summation order, so results are
  * bit-identical to the HOF formulation (and to the DuckDB oracle's
  * sequential list arithmetic).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Can yield NULL even from non-null inputs (length mismatch, null
  // element). Without this override, non-nullable children make codegen
  // treat ev.isNull as constant-false while doGenCode assigns to it —
  // invalid generated Java ("isNull_x is not an rvalue") and a silent
  // whole-stage-codegen fallback (seen in the r1 bench on the k-means
  // centroid path, where collect_list-derived arrays are non-nullable).
  override def nullable: Boolean = true

  // HOF-equivalent null semantics: length mismatch or any null element
  // yields NULL (zip_with pads ragged arrays with null and null propagates
  // through the fold), so this stays a drop-in for the reference
  // formulation on dirty data too.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Prefix cosines of two `array<double>` vectors at fixed dimension cut
  * points — the matryoshka dimension-truncation audit's pair kernel
  * (`emb_dim_truncate`): for each cut d it returns
  * `dot(a[0..d), b[0..d)) / (sqrt(Σa²) · sqrt(Σb²))` over the first
  * min(d, len) elements, UNROUNDED (callers apply the engine `round`
  * so the 6-dp boundary semantics stay Spark's own).
  *
  * Bit-identity with the sliced formulation it replaces
  * (`dot(slice(a,1,d), slice(b,1,d)) / (norm(slice(a,1,d)) *
  * norm(slice(b,1,d)))`): [[DotProduct]] folds products left-to-right
  * from 0.0, so the value of the accumulator after d terms IS the dot
  * of the d-slice — one pass per cut observes the identical IEEE op
  * sequence, and one pair row yields every cut without re-scanning the
  * corpus per dimension budget. Null semantics mirror the sliced form:
  * effective lengths min(d, len) must match between the sides and a
  * null element inside the window nulls that cut. */
case class PrefixCosines(left: Expression, right: Expression, cuts: Seq[Int])
    extends BinaryExpression {
  require(cuts.nonEmpty && cuts.forall(_ >= 1), s"bad cuts $cuts")

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    DoubleType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    PrefixCosines.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], cuts.toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cutsRef = ctx.addReferenceObj("pfxCuts", cuts.toArray, "int[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PrefixCosines.compute($a, $b, $cutsRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PrefixCosines =
    copy(left = newLeft, right = newRight)
}

object PrefixCosines {
  /** One cosine per cut (see class doc) — shared by interpreted eval and
    * generated code. */
  def compute(a: ArrayData, b: ArrayData,
      cuts: Array[Int]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val la = a.numElements(); val lb = b.numElements()
    val out = new Array[Any](cuts.length)
    var i = 0
    while (i < cuts.length) {
      val ea = math.min(cuts(i), la); val eb = math.min(cuts(i), lb)
      if (ea == eb) {
        var dot = 0.0; var aa = 0.0; var bb = 0.0
        var j = 0
        var ok = true
        while (ok && j < ea) {
          if (a.isNullAt(j) || b.isNullAt(j)) ok = false
          else {
            val x = a.getDouble(j); val y = b.getDouble(j)
            dot += x * y; aa += x * x; bb += y * y
            j += 1
          }
        }
        if (ok) out(i) = dot / (math.sqrt(aa) * math.sqrt(bb))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Intersection size of two SORTED `array<long>` columns by linear merge —
  * O(n+m) with zero allocation, vs `array_intersect`'s per-row hash-set
  * build. Used for near-dup candidate verification where millions of pairs
  * each carry two pre-sorted shingle-hash sets. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Helpers for the portable (md5-derived) 60-bit SimHash — shared by the
  * interpreted and generated paths of [[Md5Hash60Tokens]]/[[SimHash60]]. */
object SimHash60Helpers {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(token) as a non-negative long — the value
    * `conv(substring(md5(t), 1, 15), 16, 10)` produces: the first 15 hex
    * chars are the first 7.5 digest bytes, i.e. the big-endian first-8-
    * bytes long shifted right by one nibble. */
  def md5Hash60(token: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(token.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def md5Tokens(words: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = words.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i))
        out(i) = md5Hash60(words.get(i, org.apache.spark.sql.types.StringType)
          .asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 60-bit sign-sum fingerprint over 60-bit token hashes. Matches the
    * original HOF fold exactly: a null token hash contributes −1 to every
    * bit (counted in n, not in ones), and the tie rule is `sum >= 0`
    * (bit set iff 2·ones >= n). */
  def simhash60(hashes: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = hashes.numElements()
    val ones = new Array[Int](60)
    var t = 0
    while (t < n) {
      if (!hashes.isNullAt(t)) {
        val h = hashes.getLong(t)
        var b = 0
        while (b < 60) { ones(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * ones(b) >= n) sig |= (1L << b); b += 1 }
    sig
  }
}

/** `array<string>` tokens → `array<long>` portable 60-bit md5 token hashes,
  * bit-identical to `transform(tokens, t ->
  * conv(substring(md5(t), 1, 15), 16, 10) :: long)` (StreamingSpec pins the
  * fingerprint values) — the HOF form paid interpreted per-element lambda
  * dispatch on top of the md5. */
case class Md5Hash60Tokens(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = true)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SimHash60Helpers.md5Tokens(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash60Helpers.md5Tokens($a);")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60Tokens =
    copy(child = newChild)
}

/** 60-bit portable SimHash of an `array<long>` token-hash column: one
  * native token×bit loop with the md5-oracle bit width and the original
  * fold's `>= 0` tie rule. */
case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SimHash60Helpers.simhash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash60Helpers.simhash60($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) dot product for product-quantized search:
  * given a query vector and a corpus row's per-subspace codebook codes,
  * computes Σ_i dot(q[i·w .. i·w+w), codebook_i[code_i]) — the PQ
  * approximation of dot(q, corpus_vec). The codebook rides on the
  * expression as a flattened table (embedded via `addReferenceObj` in
  * codegen), so per-row cost is m·w multiply-adds — replaces a nested
  * interpreted `aggregate(zip_with(slice…, element_at(element_at(...))))`
  * HOF evaluated once per (corpus row × query) pair in the probe's hot
  * loop. Summation order matches the HOF exactly (per-subspace partial,
  * then outer accumulation), so scores are bit-identical.
  *
  * Null semantics mirror the HOF: a null/short query slice or an
  * out-of-range code yields NULL (zip_with pads ragged arrays with null;
  * element_at past the end is null; null propagates through the fold). */
case class PqAdcDot(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends BinaryExpression {

  private val m = codebooks.length
  private val pqK = codebooks.head.length
  private val w = codebooks.head.head.length

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // NULL from non-null inputs (short vector, bad code) — see DotProduct
  override def nullable: Boolean = true

  // flat[i*pqK*w + c*w + j] = codebooks(i)(c)(j)
  @transient private lazy val flat: Array[Double] = PqAdcDot.flatten(codebooks)

  override def nullSafeEval(q: Any, c: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    PqAdcDot.score(qv, codes, flat, m, pqK, w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.PqAdcDot.score($q, $c, $flatRef, $m, $pqK, $w);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) $boxed).doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDot =
    copy(left = newLeft, right = newRight)
}

object PqAdcDot {
  def flatten(cb: Array[Array[Array[Double]]]): Array[Double] = {
    val m = cb.length; val k = cb.head.length; val w = cb.head.head.length
    val out = new Array[Double](m * k * w)
    var i = 0
    while (i < m) {
      var c = 0
      while (c < k) {
        System.arraycopy(cb(i)(c), 0, out, (i * k + c) * w, w)
        c += 1
      }
      i += 1
    }
    out
  }

  /** Boxed Double, or null on a short query vector / bad code — shared by
    * interpreted eval and the generated code. */
  def score(qv: ArrayData, codes: ArrayData, flat: Array[Double],
      m: Int, pqK: Int, w: Int): java.lang.Double = {
    if (codes.numElements() != m || qv.numElements() < m * w) return null
    var acc = 0.0
    var i = 0
    while (i < m) {
      if (codes.isNullAt(i)) return null
      val code = codes.getInt(i)
      if (code < 0 || code >= pqK) return null
      var sub = 0.0
      val off = (i * pqK + code) * w
      val qOff = i * w
      var j = 0
      while (j < w) {
        if (qv.isNullAt(qOff + j)) return null
        sub += qv.getDouble(qOff + j) * flat(off + j)
        j += 1
      }
      acc += sub
      i += 1
    }
    acc
  }
}

/** The `nProbe` nearest-centroid list ids of an `array<double>` vector,
  * ascending by (score, list) where score = c·c − 2·v·c (argmin-preserving
  * squared L2; |v|² cancels). Replaces the
  * `transform(centLiteral, s -> struct(cc − 2·dot, list))` + `array_sort`
  * HOF pipeline, whose lambda wrapper evaluated interpreted once per
  * row × centroid — the per-row cost of every IVF assignment pass (index
  * build, learned top-k, append, drift stats). Scores use the identical
  * IEEE op sequence (sequential self-dot and dot, one multiply by 2.0, one
  * subtract), and ties resolve to the lower list id, so assignments are
  * bit-identical to the HOF formulation (ExtSpec pins the equality). */
case class NearestLists(child: Expression, cents: Array[Array[Double]],
    nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(nProbe >= 1 && nProbe <= cents.length,
    s"nProbe must be in [1, ${cents.length}], got $nProbe")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // NULL on a null element / dims mismatch — see DotProduct.nullable
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NearestLists.probes(input.asInstanceOf[ArrayData], cents, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.NearestLists.probes($a, $centsRef, $nProbe);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $boxed; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestLists =
    copy(child = newChild)
}

object NearestLists {
  /** ArrayData of the nProbe best list ids, or null on null element /
    * length mismatch — shared by interpreted eval and generated code. */
  def probes(vec: ArrayData, cents: Array[Array[Double]],
      nProbe: Int): ArrayData = {
    val k = cents.length
    val dims = cents(0).length
    if (vec.numElements() != dims) return null
    var j = 0
    while (j < dims) { if (vec.isNullAt(j)) return null; j += 1 }
    val scores = new Array[Double](k)
    var i = 0
    while (i < k) {
      val c = cents(i)
      var cc = 0.0
      var d = 0.0
      j = 0
      while (j < dims) {
        val cj = c(j)
        cc += cj * cj
        d += vec.getDouble(j) * cj
        j += 1
      }
      scores(i) = cc - 2.0 * d
      i += 1
    }
    // nProbe smallest by (score, list): argmin sweep per slot; strict <
    // keeps the first (lowest-list) occurrence on bitwise-equal scores
    val out = new Array[Int](nProbe)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < nProbe) {
      var best = -1
      i = 0
      while (i < k) {
        if (!taken(i) && (best < 0 || scores(i) < scores(best))) best = i
        i += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Deterministic pseudo-random hyperplane table for sign-LSH signatures:
  * `bits × dims` components in [-1, 1], derived from a splitmix64 mix of
  * (seed, bit, dim). Computed once per (bits, dims, seed) and cached by the
  * consuming expression, so the per-row cost is pure multiply-adds. */
object HyperplaneWeights {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def table(bits: Int, dims: Int, seed: Long): Array[Double] = {
    val w = new Array[Double](bits * dims)
    var b = 0
    while (b < bits) {
      var i = 0
      while (i < dims) {
        val h = mix(mix(seed) ^ ((b.toLong << 32) | i.toLong))
        val m = (((h % 2001L) + 2001L) % 2001L).toInt
        w(b * dims + i) = (m - 1000) / 1000.0
        i += 1
      }
      b += 1
    }
    w
  }
}

/** Sign-LSH signature of an `array<double>` vector: `bits` sign bits of
  * projections onto [[HyperplaneWeights]] hyperplanes, packed into a long.
  * The weight table is lazily cached (per expression instance in
  * interpreted mode, per generated class in codegen), so evaluation is a
  * `bits × dims` multiply-add loop with zero allocation — replaces the
  * unrolled per-bit HOF projections of the original formulation. */
case class HyperplaneSig(child: Expression, bits: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  // Null on a null vector element even when the array itself is non-null
  // (same contract note as DotProduct.nullable).
  override def nullable: Boolean = true

  @transient private var cachedW: Array[Double] = _
  @transient private var cachedDims: Int = -1

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    if (cachedW == null || cachedDims != n) {
      cachedW = HyperplaneWeights.table(bits, n, seed)
      cachedDims = n
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      var acc = 0.0
      val off = b * n
      i = 0
      while (i < n) { acc += arr.getDouble(i) * cachedW(off + i); i += 1 }
      if (acc > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addMutableState("double[]", "hpWeights")
    val wDims = ctx.addMutableState("int", "hpWeightsDims", v => s"$v = -1;")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      val sig = ctx.freshName("sig")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $n = $a.numElements();
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) if ($a.isNullAt($i)) { $hasNull = true; break; }
         |if ($hasNull) { ${ev.isNull} = true; }
         |else {
         |  if ($w == null || $wDims != $n) {
         |    $w = graft.functions.HyperplaneWeights.table($bits, $n, ${seed}L);
         |    $wDims = $n;
         |  }
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    double $acc = 0.0;
         |    int $off = $b * $n;
         |    for (int $j = 0; $j < $n; $j++) $acc += $a.getDouble($j) * $w[$off + $j];
         |    if ($acc > 0) $sig |= (1L << $b);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Nearest-centroid assignment of an `array<double>` vector against a
  * literal k×d centroid matrix: returns `struct(dist2 double, cluster
  * long)` where dist2 is the portable 6-dp floor-round of the
  * left-to-right Σ(x−c)² fold and the argmin keeps the FIRST minimum
  * under strict < (ties → lower cluster index) — the exact op sequence
  * of [[graft.ext.Kmeans]]'s HOF serving fold, bit-for-bit, compiled to
  * a tight primitive loop (the HOF nested fold pays per-element lambda
  * dispatch twice over: measured ~47 s for 1M×32×64 vs ~2 s here). */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dist2", DoubleType,
      nullable = false),
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  // NULL on a null element / dims mismatch — see DotProduct.nullable
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.assign(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.NearestCentroid.assign($a, $centsRef);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $boxed; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** [[NearestCentroid]] with the EXACT-DECIMAL distance discipline of
  * [[graft.ext.Kmeans.train]]'s relational assignment, row-local: each
  * (x−c)² term is one correctly-rounded IEEE double op, cast to
  * DECIMAL(38,12) by Spark's rule (`BigDecimal.valueOf(term)` — the
  * shortest-decimal string — `setScale(12, HALF_UP)`), summed EXACTLY,
  * cast back to double (`BigDecimal.doubleValue`), 6-dp floor-rounded,
  * and only then argmin'd (strict <, first minimum — ties toward the
  * smaller cluster index). This is bit-for-bit the op sequence of the
  * explode → broadcast-join-on-dim → decimal-SUM groupBy → per-id
  * window pipeline it replaces (the DuckDB oracle's replay target), with
  * ZERO shuffles: the relational form materialized N·k aggregate groups
  * plus an N-keyed window per Lloyd round purely to get order-invariant
  * decimal sums, which a row-local exact accumulation gets for free
  * (decimal addition is associative and commutative — there is no
  * ordering to protect).
  *
  * Exactness bound: the terms are summed by [[Decimal12Sums]] on scaled
  * longs. A term's cast takes the `floor(t²·1e12 + 0.5)` fast path only
  * when `|t²·1e12| < 2^42` and its fraction lies more than 1e-3 from ½;
  * there the double product and the shortest-repr string are together
  * off by less than 6.9e-4 (see [[Decimal12]]), so the rounded integer
  * is the cast's. Wider terms, near-ties and sums that overflow a `Long`
  * fall back to `BigDecimal`, so every distance equals the one a
  * `BigDecimal` per term gives. */
case class NearestCentroidDecimal(child: Expression,
    cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dist2", DoubleType,
      nullable = false),
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  // NULL on a null element / dims mismatch — see DotProduct.nullable
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NearestCentroidDecimal.assign(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCentsDec", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.NearestCentroidDecimal.assign($a, $centsRef);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $boxed; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidDecimal =
    copy(child = newChild)
}

object NearestCentroidDecimal {
  /** (dist2, cluster) InternalRow under the exact-decimal op sequence, or
    * null on null element / length mismatch — shared by interpreted eval
    * and generated code. */
  def assign(vec: ArrayData,
      cents: Array[Array[Double]]): org.apache.spark.sql.catalyst.InternalRow = {
    val k = cents.length
    val dims = cents(0).length
    if (vec.numElements() != dims) return null
    var j = 0
    while (j < dims) { if (vec.isNullAt(j)) return null; j += 1 }
    var bestD = Double.MaxValue
    var bestJ = -1L
    val acc = new Decimal12Sums(1)
    var i = 0
    while (i < k) {
      val c = cents(i)
      // exact decimal accumulation of the per-dim terms: each term is
      // cast double → DECIMAL(38,12) exactly as Spark's Cast does and
      // the sum is exact, so it is the value SUM(CAST(term AS
      // DECIMAL(38,12))) aggregates — in any order, on any engine.
      acc.clear(0)
      j = 0
      while (j < dims) {
        val t = vec.getDouble(j) - c(j)
        val t2 = t * t
        // non-finite guard (r16 ADVICE): the relational pipeline cast
        // each term to DECIMAL(38,12) — Infinity/NaN casts to NULL and
        // SUM skips it — where Decimal12's BigDecimal path would THROW.
        // Skip the term to reproduce the cast-to-null + skip semantics.
        if (java.lang.Double.isFinite(t2)) acc.add(0, t2)
        j += 1
      }
      // all-null terms → NULL distance: such a centroid never wins the
      // argmin. This is the kernel's own rule, not an equivalence with an
      // ascending window (Spark sorts NULLS FIRST by default); it only
      // matters for non-finite vectors, which the contract excludes.
      if (!acc.isEmpty(0)) {
        val d = math.floor(acc.toDouble(0) * 1000000.0 + 0.5) / 1000000.0
        if (d < bestD) { bestD = d; bestJ = i }
      }
      i += 1
    }
    // every centroid's distance degenerated (pathological input): the
    // relational argmin emitted no row for this id — return null rather
    // than a cluster = -1 row (r16 ADVICE: element_at(_, 0) crash)
    if (bestJ < 0) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestJ))
  }
}

object NearestCentroid {
  /** (dist2, cluster) InternalRow, or null on null element / length
    * mismatch — shared by interpreted eval and generated code. Keeps the
    * HOF fold's exact IEEE op order: sequential Σ(x−c)² from 0.0, then
    * floor(d·1e6 + 0.5)/1e6, then strict-< first-min argmin. */
  def assign(vec: ArrayData,
      cents: Array[Array[Double]]): org.apache.spark.sql.catalyst.InternalRow = {
    val k = cents.length
    val dims = cents(0).length
    if (vec.numElements() != dims) return null
    var j = 0
    while (j < dims) { if (vec.isNullAt(j)) return null; j += 1 }
    var bestD = Double.MaxValue
    var bestJ = -1L
    var i = 0
    while (i < k) {
      val c = cents(i)
      var d = 0.0
      j = 0
      while (j < dims) {
        val t = vec.getDouble(j) - c(j)
        d += t * t
        j += 1
      }
      d = math.floor(d * 1000000.0 + 0.5) / 1000000.0
      if (d < bestD) { bestD = d; bestJ = i }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestJ))
  }
}

object VectorFunctions {
  /** Dot product of two `array<double>` columns as a codegen'd native
    * expression. */
  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Prefix cosines of two `array<double>` columns at fixed dimension
    * cuts (unrounded — see [[PrefixCosines]]). */
  def prefixCosines(a: Column, b: Column, cuts: Seq[Int]): Column =
    ColumnBridge.column(PrefixCosines(
      ColumnBridge.expression(a), ColumnBridge.expression(b), cuts))

  /** Nearest-centroid (dist2, cluster) struct of an `array<double>`
    * vector against a literal centroid matrix. */
  def nearestCentroidNative(vec: Column, cents: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(vec), cents))

  /** Nearest-centroid (dist2, cluster) struct under the EXACT-DECIMAL
    * distance discipline of [[graft.ext.Kmeans.train]] — the
    * oracle-replayable assignment as one row-local codegen'd loop. */
  def nearestCentroidDecimal(vec: Column,
      cents: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroidDecimal(
      ColumnBridge.expression(vec), cents))

  /** Intersection count of two sorted `array<long>` columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Portable 60-bit md5 hashes of an `array<string>` token column. */
  def md5Hash60Tokens(tokens: Column): Column =
    ColumnBridge.column(Md5Hash60Tokens(ColumnBridge.expression(tokens)))

  /** Portable 60-bit SimHash of an `array<long>` md5-token-hash column. */
  def simhash60(tokenHashes: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(tokenHashes)))

  /** `bits`-bit sign-LSH signature of an `array<double>` vector column. */
  def hyperplaneSig(vec: Column, bits: Int, seed: Long): Column =
    ColumnBridge.column(HyperplaneSig(ColumnBridge.expression(vec), bits, seed))

  /** PQ asymmetric-distance dot of an `array<double>` query vector
    * against an `array<int>` codes column under the given codebooks. */
  def pqAdcDot(qvec: Column, codes: Column,
      codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqAdcDot(ColumnBridge.expression(qvec),
      ColumnBridge.expression(codes), codebooks))

  /** The `nProbe` nearest-centroid list ids of an `array<double>` vector. */
  def nearestLists(vec: Column, cents: Array[Array[Double]],
      nProbe: Int): Column =
    ColumnBridge.column(NearestLists(ColumnBridge.expression(vec), cents, nProbe))
}
