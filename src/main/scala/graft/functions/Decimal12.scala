package graft.functions

/** Spark's `CAST(x AS DECIMAL(38,12))` of a double, computed on scaled
  * longs where that is provably exact, and on `java.math.BigDecimal`
  * otherwise.
  *
  * Spark casts a double to a decimal through its shortest-repr string
  * (`Double.toString`), then rounds HALF_UP to 12 places. The exact
  * k-means casts once per (vector, centroid, dim) term, and building a
  * `BigDecimal` for each was most of its argmin's time.
  *
  * Fast path. Let `y = fl(x · 1e12)` and `D` the decimal
  * `Double.toString(x)` spells. For `|y| < 2^42`:
  *  - the product's rounding error is at most ulp(y)/2 ≤ 2^-12 ≈ 2.44e-4;
  *  - `D` rounds back to `x`, so `|D − x| ≤ ulp(x)/2`, and with
  *    `|x| < 2^42/1e12 < 8` that is `≤ 2^-51`, or ≈ 4.44e-4 once scaled
  *    by 1e12;
  *  - so `|D · 1e12 − y| < 6.9e-4`.
  * When `y` also lies more than 1e-3 from the nearest half-integer,
  * `D · 1e12` lies on the same side of it, and HALF_UP at scale 12 (a
  * tie rule that never applies there) gives the integer nearest `y`:
  * `floor(y + 0.5)`. `y + 0.5` may round once more (by at most 2^-11),
  * which cannot cross an integer either. `frac(y) = y − floor(y)` is
  * exact for `|y| < 2^52`. Everything else (`|y| ≥ 2^42`, a near-tie)
  * takes the `BigDecimal` path, which is Spark's cast verbatim. */
object Decimal12 {
  val Scale = 12

  /** Returned by [[unscaled]] when the cast's unscaled value needs more
    * than 63 bits. `Long.MinValue` is never a real result: a double's
    * shortest repr has at most 17 significant digits, so an unscaled
    * value of 19 digits ends in "00", and 2^63 ends in "08". */
  val Wide = Long.MinValue

  private final val FastLimit = 4398046511104.0 // 2^42
  private final val TieMargin = 1e-3
  private final val ExactLong = 4503599627370496L // 2^52

  /** `CAST(x AS DECIMAL(38,12))` as Spark computes it, unbounded: the
    * caller checks the 38-digit precision where it matters. `x` must be
    * finite. */
  def cast(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(Scale,
      java.math.RoundingMode.HALF_UP)

  /** The unscaled value of `CAST(x AS DECIMAL(38,12))`, or [[Wide]] when
    * it does not fit a `Long` (`|x|` ≳ 9.2e6). `x` must be finite. */
  def unscaled(x: Double): Long = {
    val y = x * 1e12
    if (Math.abs(y) < FastLimit &&
        Math.abs(y - Math.floor(y) - 0.5) > TieMargin)
      return Math.floor(y + 0.5).toLong
    val u = cast(x).unscaledValue
    if (u.bitLength < 64) u.longValue else Wide
  }

  /** The double nearest the decimal `s · 10^-12`: one correctly rounded
    * division while `s` and `10^12` are exact doubles, which is what
    * JDK 17's `BigDecimal.doubleValue` does itself, and that method
    * otherwise. */
  def toDouble(s: Long): Double =
    if (Math.abs(s) < ExactLong) s.toDouble / 1e12
    else java.math.BigDecimal.valueOf(s, Scale).doubleValue
}

/** `n` exact sums of `CAST(x AS DECIMAL(38,12))` terms, indexed
  * `0 until n`. Each is a scaled `Long` while it fits (`Math.addExact`),
  * plus a `BigDecimal` part that takes a term too wide for a `Long` and
  * every sum that overflows one; the `BigDecimal` array exists only once
  * some sum needs it. A sum's value is its two parts added, so the order
  * of `add` and `merge` calls never changes it. Unbounded: the 38-digit
  * limit of DECIMAL(38,12) is the caller's to check. */
final class Decimal12Sums(n: Int) extends Serializable {
  private val lo = new Array[Long](n)
  private val terms = new Array[Boolean](n)
  private var hi: Array[java.math.BigDecimal] = null

  def clear(i: Int): Unit = {
    lo(i) = 0L
    terms(i) = false
    if (hi != null) hi(i) = null
  }

  /** True while sum `i` has no term (a SUM over no rows is NULL). */
  def isEmpty(i: Int): Boolean = !terms(i)

  /** Adds `CAST(x AS DECIMAL(38,12))` to sum `i`; `x` must be finite. */
  def add(i: Int, x: Double): Unit = {
    terms(i) = true
    val u = Decimal12.unscaled(x)
    if (u != Decimal12.Wide) addUnscaled(i, u)
    else spill(i, Decimal12.cast(x))
  }

  /** Adds each of `o`'s sums to this one's; `o` must hold `n` sums. */
  def merge(o: Decimal12Sums): Unit = {
    var i = 0
    while (i < n) {
      if (o.terms(i)) {
        terms(i) = true
        addUnscaled(i, o.lo(i))
        if (o.hi != null && o.hi(i) != null) spill(i, o.hi(i))
      }
      i += 1
    }
  }

  def toBigDecimal(i: Int): java.math.BigDecimal = {
    val l = java.math.BigDecimal.valueOf(lo(i), Decimal12.Scale)
    if (hi == null || hi(i) == null) l else hi(i).add(l)
  }

  /** Sum `i` cast to double, as Spark's `CAST(d AS DOUBLE)` rounds it. */
  def toDouble(i: Int): Double =
    if (hi == null || hi(i) == null) Decimal12.toDouble(lo(i))
    else toBigDecimal(i).doubleValue

  private def addUnscaled(i: Int, u: Long): Unit =
    try lo(i) = Math.addExact(lo(i), u)
    catch {
      case _: ArithmeticException =>
        spill(i, java.math.BigDecimal.valueOf(u, Decimal12.Scale))
    }

  private def spill(i: Int, b: java.math.BigDecimal): Unit = {
    if (hi == null) hi = new Array[java.math.BigDecimal](n)
    hi(i) = if (hi(i) == null) b else hi(i).add(b)
  }
}
