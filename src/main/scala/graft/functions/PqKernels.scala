package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.Decimal

/** The IVF/PQ model arithmetic — one object for both of its callers:
  * the driver-side training loops ([[graft.sources.IvfIndex]] seeding
  * and Lloyd, [[graft.api.PqOps]] codebook training) and the Catalyst
  * expressions in [[PqExpressions]] that apply a trained model to the
  * corpus. Both call the same functions, so the driver and the
  * executors agree bit for bit by construction.
  *
  * Every function reproduces a SQL formulation exactly (PropertySpec
  * compares each against it):
  *  - dot products are graft_dot's left fold Σ (double)a[i]·(double)b[i]
  *    over min(|a|, |b|) elements;
  *  - `round` is Spark's ROUND on a double (HALF_UP on the decimal
  *    string, NaN and infinities pass through), skipping the string
  *    where the double product decides the rounding;
  *  - orderings are Spark's (`SQLOrderingUtil.compareDoubles`: NaN
  *    largest, -0.0 == 0.0; NULL fields first);
  *  - [[dec6]] is `CAST(d AS DECIMAL(38,6))`, so an ADC sum of them
  *    is the DECIMAL(38,6) sum;
  *  - the int64 twins ([[l2CodesLongs]], [[longTable]],
  *    [[adcSumLongs]]) are integer PQ's
  *    `aggregate(zip_with(sv, cent, (x, y) -> (x - y) * (x - y)), 0L,
  *    (a, b) -> a + b)` and `sum` under ANSI arithmetic: an overflow
  *    raises, a NULL element or a length mismatch makes the distance
  *    NULL, and a NULL distance sorts first.
  */
object PqKernels {

  /** Σ a[ao+i]·b[bo+i] for i < n, left to right. */
  private def dotRange(a: Array[Double], ao: Int, b: Array[Double], bo: Int,
    n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += a(ao + i) * b(bo + i); i += 1 }
    s
  }

  /** graft_dot(a, b). */
  def dot(a: Array[Double], b: Array[Double]): Double =
    dotRange(a, 0, b, 0, math.min(a.length, b.length))

  private val Pow10 = Array.tabulate(10)(i => math.pow(10, i))

  /** HALF_UP(D·10^scale) as an integral double, D the decimal string of
    * x — or NaN where the double product t = x·10^scale cannot decide
    * it. t is within |t|·2^-52 of D·10^scale (one rounding of the
    * product, D within half an ulp of x), so outside that margin of a
    * half the nearest integer to t is the HALF_UP result. Skipping the
    * decimal string is measured: with the string path alone, the
    * service benchmark's ivfPqSearch (2k × 64-d, the encode, distance
    * tables and ADC sums all rounding) took 1.7–2.1 s instead of
    * 1.0–1.4 s (three traced pairs, 4-core x86 VM). */
  private def halfUpScaled(x: Double, scale: Int): Double = {
    val t = x * Pow10(scale)
    if (!(math.abs(t) < 4.0e15)) Double.NaN
    else {
      val f = math.floor(t)
      val frac = t - f
      if (math.abs(frac - 0.5) <= 1e-9 + math.abs(t) * 1e-15) Double.NaN
      else if (frac < 0.5) f else f + 1
    }
  }

  /** Spark's `round(x, scale)` on a double:
    * `BigDecimal.valueOf(x).setScale(scale, HALF_UP).doubleValue()`,
    * NaN and infinities passed through. The decided cases skip the
    * decimal string: n / 10^scale is exactly what `doubleValue()`
    * computes for an unscaled value under 2^52, and a zero comes back
    * +0.0 as BigDecimal has no negative zero. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else {
      val n = halfUpScaled(x, scale)
      if (n.isNaN)
        JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue()
      else if (n == 0) 0.0
      else n / Pow10(scale)
    }

  /** Length of `slice(x, j·sub + 1, sub)`. */
  private def sliceLen(x: Array[Double], j: Int, sub: Int): Int =
    math.max(0, math.min(sub, x.length - j * sub))

  /** Elements [j·sub, j·sub + sub) of x, clipped — `slice(x, j·sub+1, sub)`. */
  def slice(x: Array[Double], j: Int, sub: Int): Array[Double] =
    java.util.Arrays.copyOfRange(x, j * sub, j * sub + sliceLen(x, j, sub))

  /** The nearest cell by cosine: the minimum of
    * (isn, −round(cos, 4), cell), where isn = 1 when the cosine is NULL
    * (a zero norm on either side) and −round is then read as 0. A NULL
    * vector has every cosine NULL and falls to the lowest cell. */
  def cosArgmax(v: Array[Double], m: CellModel): Int = {
    val n2 = if (v == null) 0.0 else dot(v, v)
    var bIsn = 0
    var bNc = 0.0
    var bCell = 0
    var i = 0
    while (i < m.cells.length) {
      val den = if (v == null) 0.0 else math.sqrt(n2) * math.sqrt(m.cn2(i))
      val isn = if (den != 0) 0 else 1
      val nc = if (isn == 0) -round(dot(v, m.cents(i)) / den, 4) else 0.0
      val cell = m.cells(i)
      if (i == 0 || isn < bIsn || (isn == bIsn && {
          val c = SQLOrderingUtil.compareDoubles(nc, bNc)
          c < 0 || (c == 0 && cell < bCell)
        })) {
        bIsn = isn; bNc = nc; bCell = cell
      }
      i += 1
    }
    bCell
  }

  /** round((sv·sv − 2·sv·cent) + cent·cent, 6) for sv the j-th slice of x. */
  private def l2d6(x: Array[Double], j: Int, sub: Int, cent: Array[Double],
    cn2: Double): Double = {
    val off = j * sub
    val n = sliceLen(x, j, sub)
    val ss = dotRange(x, off, x, off, n)
    val sc = dotRange(x, off, cent, 0, math.min(n, cent.length))
    round((ss - 2.0 * sc) + cn2, 6)
  }

  /** Per subspace, the code at the minimum (l2d6, code); a NULL vector
    * has every distance NULL and takes each subspace's lowest code. */
  def l2Codes(x: Array[Double], cb: Codebook): Array[Int] = {
    val out = new Array[Int](cb.m)
    var j = 0
    while (j < cb.m) {
      val codes = cb.codes(j)
      var best = codes(0)
      if (x != null) {
        var bd = 0.0
        var i = 0
        while (i < codes.length) {
          val d = l2d6(x, j, cb.sub, cb.cents(j)(i), cb.cn2(j)(i))
          val c = if (i == 0) -1 else SQLOrderingUtil.compareDoubles(d, bd)
          if (c < 0 || (c == 0 && codes(i) < best)) { bd = d; best = codes(i) }
          i += 1
        }
      } else {
        var i = 1
        while (i < codes.length) { best = math.min(best, codes(i)); i += 1 }
      }
      out(j) = best
      j += 1
    }
    out
  }

  /** The ADC distance table of x: entry j·width + code holds
    * l2d6(slice j of x, cent of that code); codes the codebook does not
    * hold stay unset (see [[Codebook.present]]). */
  def l2Table(x: Array[Double], cb: Codebook): Array[Double] = {
    val out = new Array[Double](cb.m * cb.width)
    var j = 0
    while (j < cb.m) {
      var i = 0
      while (i < cb.codes(j).length) {
        out(j * cb.width + cb.codes(j)(i)) =
          l2d6(x, j, cb.sub, cb.cents(j)(i), cb.cn2(j)(i))
        i += 1
      }
      j += 1
    }
    out
  }

  /** `CAST(d AS DECIMAL(38,6))` before its precision check; null
    * where Spark's cast yields NULL (NaN, infinities). A decided case
    * is its unscaled value, as in [[round]]. */
  def dec6(d: Double): JBigDecimal =
    if (d.isNaN || d.isInfinite) null
    else {
      val n = halfUpScaled(d, 6)
      if (n.isNaN) JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP)
      else JBigDecimal.valueOf(n.toLong, 6)
    }

  /** ADC score of one encoded vector against one distance table:
    * Σ_j dec6(table[j·width + codes[j]]) — the DECIMAL(38,6) SUM of the
    * per-subspace distances, NULL terms skipped, NULL when none is
    * left. The sum is exact over the whole type; past 38 digits it
    * fails, as the ANSI cast and sum do. */
  def adcSum(codes: ArrayData, table: ArrayData): Decimal = {
    val m = codes.numElements()
    val width = if (m == 0) 0 else table.numElements() / m
    var s: JBigDecimal = null
    var j = 0
    while (j < m) {
      val at = slot(codes, table, width, j)
      if (at >= 0) {
        val u = dec6(table.getDouble(at))
        if (u != null) s = if (s == null) u else s.add(u)
      }
      j += 1
    }
    if (s == null) null else Decimal(s, 38, 6)
  }

  /** The table slot of subspace j's code, or -1 where the code is
    * NULL, outside the table's width or its slot NULL. */
  private def slot(codes: ArrayData, table: ArrayData, width: Int, j: Int)
  : Int =
    if (codes.isNullAt(j)) -1
    else {
      val code = codes.getInt(j)
      val at = j * width + code
      if (code >= 0 && code < width && !table.isNullAt(at)) at else -1
    }

  /** The integer squared L2 of slice j of x (`nulls` marks NULL
    * elements, or is null) against `cent`, or -1 for NULL. Every pair
    * is evaluated, as `zip_with` does, so an overflow past a NULL
    * still raises; the sum stops at the first NULL term, as
    * `aggregate` does. A real distance is never negative. */
  private def l2Long(x: Array[Long], nulls: Array[Boolean], j: Int, sub: Int,
    cent: Array[Long]): Long = {
    val off = j * sub
    val ns = math.max(0, math.min(sub, x.length - off))
    var s = 0L
    var isNull = false
    var i = 0
    while (i < math.max(ns, cent.length)) {
      if (i < ns && i < cent.length && (nulls == null || !nulls(off + i))) {
        val d = Math.subtractExact(x(off + i), cent(i))
        val t = Math.multiplyExact(d, d)
        if (!isNull) s = Math.addExact(s, t)
      } else isNull = true
      i += 1
    }
    if (isNull) -1L else s
  }

  /** x's int64 distance table, -1 for a NULL distance, for a code the
    * codebook does not hold, and everywhere for a NULL vector. */
  private def longTable(x: ArrayData, cb: IntCodebook): Array[Long] = {
    val t = Array.fill(cb.m * cb.width)(-1L)
    if (x != null) {
      val v = x.toLongArray()
      val nulls = if (hasNull(x)) Array.tabulate(v.length)(x.isNullAt) else null
      for (j <- 0 until cb.m; i <- cb.codes(j).indices)
        t(j * cb.width + cb.codes(j)(i)) = l2Long(v, nulls, j, cb.sub, cb.cents(j)(i))
    }
    t
  }

  /** [[l2Codes]] in int64 units: per subspace the code at the minimum
    * (distance, code), a NULL distance (-1) first; a NULL vector takes
    * each subspace's lowest code. */
  private def l2CodesLongs(x: ArrayData, cb: IntCodebook): ArrayData = {
    val t = longTable(x, cb)
    ArrayData.toArrayData(Array.tabulate(cb.m) { j =>
      cb.codes(j).reduce { (a, b) =>
        val da = t(j * cb.width + a); val db = t(j * cb.width + b)
        if (db < da || (db == da && b < a)) b else a
      }
    })
  }

  /** [[adcSum]] in int64 units: Σ_j table[j·width + codes[j]], NULL
    * terms skipped, NULL when none is left; an overflow raises, as the
    * ANSI `sum` does. */
  def adcSumLongs(codes: ArrayData, table: ArrayData): java.lang.Long = {
    val m = codes.numElements()
    val width = if (m == 0) 0 else table.numElements() / m
    var s = 0L
    var any = false
    var j = 0
    while (j < m) {
      val at = slot(codes, table, width, j)
      if (at >= 0) { s = Math.addExact(s, table.getLong(at)); any = true }
      j += 1
    }
    if (any) s else null
  }

  /** CAST(a[i] AS DOUBLE) − b[i], `zip_with` semantics: the longer
    * length, NULL where either side has no (or a NULL) element. */
  def vsub(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean)
  : ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == nb && !hasNull(a) && !hasNull(b)) {
      val out = new Array[Double](na)
      var i = 0
      while (i < na) { out(i) = get(a, aFloat, i) - get(b, bFloat, i); i += 1 }
      ArrayData.toArrayData(out)
    } else {
      val n = math.max(na, nb)
      new GenericArrayData(Array.tabulate[Any](n) { i =>
        if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) null
        else get(a, aFloat, i) - get(b, bFloat, i)
      })
    }
  }

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements() && !a.isNullAt(i)) i += 1
    i < a.numElements()
  }

  private def get(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** A float or double array as doubles (exact widening); a NULL element
    * reads as 0, as graft_dot reads it. */
  def toDoubles(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (a == null) null
    else {
      val out = new Array[Double](a.numElements())
      var i = 0
      while (i < out.length) {
        out(i) = if (a.isNullAt(i)) 0.0 else get(a, isFloat, i)
        i += 1
      }
      out
    }

  /** [[cosArgmax]] on a Catalyst array (the graft_cos_argmax entry). */
  def cosArgmaxData(v: ArrayData, isFloat: Boolean, m: CellModel): Int =
    cosArgmax(toDoubles(v, isFloat), m)

  /** [[l2Codes]], or [[l2CodesLongs]] for an integer codebook, on a
    * Catalyst array (the graft_l2_codes entry). */
  def l2CodesData(x: ArrayData, isFloat: Boolean, cb: CodeLayout): ArrayData =
    cb match {
      case c: Codebook => ArrayData.toArrayData(l2Codes(toDoubles(x, isFloat), c))
      case c: IntCodebook => l2CodesLongs(x, c)
    }

  /** [[l2Table]], or its int64 twin for an integer codebook, on a
    * Catalyst array (the graft_l2_table entry): NULL for a NULL vector,
    * NULL slots for codes the codebook does not hold (and, in int64,
    * for NULL distances). */
  def l2TableData(x: ArrayData, isFloat: Boolean, cb: CodeLayout): ArrayData =
    cb match {
      case _ if x == null => null
      case c: Codebook => l2TableDoubles(x, isFloat, c)
      case c: IntCodebook =>
        val t = longTable(x, c)
        if (t.forall(_ >= 0)) ArrayData.toArrayData(t)
        else new GenericArrayData(t.map(d => if (d < 0) null else d: Any))
    }

  private def l2TableDoubles(x: ArrayData, isFloat: Boolean, cb: Codebook)
  : ArrayData = {
    val t = l2Table(toDoubles(x, isFloat), cb)
    if (cb.complete) ArrayData.toArrayData(t)
    else new GenericArrayData(Array.tabulate[Any](t.length) { i =>
      if (cb.present(i)) t(i) else null
    })
  }

  /** The Lloyd update: per key, the exact decimal-mean centroid of the
    * vectors (read as floats, as `CAST(v AS ARRAY<FLOAT>)`), by the same
    * [[CentroidAggregator]] the cluster rounds run. Keys come back in
    * ascending order; a key with no vector does not appear. */
  def centroids[K: Ordering](rows: Iterator[(K, Array[Double])], dim: Int)
  : IndexedSeq[(K, Array[Double])] = {
    val agg = new CentroidAggregator(dim)
    val bufs = scala.collection.mutable.HashMap.empty[K, (Array[Long], Long)]
    rows.foreach { case (k, v) =>
      bufs(k) = agg.reduce(bufs.getOrElse(k, agg.zero), v.map(_.toFloat))
    }
    bufs.toIndexedSeq.sortBy(_._1).map { case (k, b) => (k, agg.finish(b)) }
  }
}

/** A cell table for [[PqKernels.cosArgmax]]: centroid i is cell
  * `cells(i)`; the self-dots are taken once. */
final class CellModel(val cents: Array[Array[Double]], val cells: Array[Int])
  extends Serializable {
  require(cents.length == cells.length && cells.nonEmpty,
    s"a cell model needs one id per centroid and at least one cell")
  val cn2: Array[Double] = cents.map(c => PqKernels.dot(c, c))
}

/** The code layout of m per-subspace codebooks of `sub`-wide
  * centroids: subspace j holds codes `codes(j)`. `width` is one past
  * the largest code, the stride of a distance-table row. */
sealed abstract class CodeLayout(val sub: Int, val codes: Array[Array[Int]],
  centsPerSubspace: Array[Int]) extends Serializable {
  require(centsPerSubspace.sameElements(codes.map(_.length)),
    "a codebook needs one code per centroid")
  require(codes.forall(_.nonEmpty),
    "a codebook needs >= 1 surviving code per subspace, got " +
      codes.map(_.length).mkString(","))
  val m: Int = codes.length
  val width: Int = codes.iterator.flatMap(_.iterator).max + 1
  /** Which table slots hold a code. */
  val present: Array[Boolean] = {
    val p = new Array[Boolean](m * width)
    for (j <- 0 until m; c <- codes(j)) p(j * width + c) = true
    p
  }
  val complete: Boolean = present.forall(identity)
}

/** Float PQ codebooks: `cents(j)(i)` is code `codes(j)(i)`. */
final class Codebook(sub: Int, val cents: Array[Array[Array[Double]]],
  codes: Array[Array[Int]]) extends CodeLayout(sub, codes, cents.map(_.length)) {
  val cn2: Array[Array[Double]] = cents.map(_.map(c => PqKernels.dot(c, c)))
}

/** Integer PQ codebooks in int64 units, laid out as [[Codebook]]. */
final class IntCodebook(sub: Int, val cents: Array[Array[Array[Long]]],
  codes: Array[Array[Int]]) extends CodeLayout(sub, codes, cents.map(_.length))
