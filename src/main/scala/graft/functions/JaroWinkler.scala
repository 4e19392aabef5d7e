package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity (Winkler 1990), the string-agreement signal
  * the north rule requires for pairwise scoring. Spark has no built-in
  * (only `levenshtein`), so this is a custom Catalyst expression with
  * whole-stage codegen via a static Java-callable kernel — it stays
  * inside the generated loop, unlike a Scala UDF.
  *
  * Semantics take the role of the reference's per-signal similarity in
  * its multi-signal link probability
  * (reference: src/core/cross_device_linker.py:143-216).
  */
object JW {
  /** Standard parameters: prefix scale 0.1, max common prefix 4,
    * Winkler boost only when jaro > 0.7.
    *
    * Hot path: ASCII strings ≤ 64 bytes run allocation-free on the
    * UTF8String bytes against a per-thread pattern-match table of `r`
    * ([[PM]]), with Long bitmasks for the match flags — the
    * String-materializing path allocates millions of objects/sec at
    * bench scale and turns stage S GC-bound (measured: thread-scaling
    * efficiency 0.70 with allocations). Non-ASCII or long inputs fall
    * back to the reference char implementation. */
  def jw(l: UTF8String, r: UTF8String): Double = {
    val la = l.numBytes
    val lb = r.numBytes
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    if (PM.fits(l) && PM.fits(r)) jwAsciiSmall(l, r)
    else jaroWinkler(l.toString, r.toString)
  }

  /** Thresholded variant: returns the exact Jaro-Winkler value when it
    * can reach `cutoff`, else 0.0. Inside the match loop, an upper
    * bound on the final Jaro value (all remaining characters match)
    * lets ~dissimilar pairs abort after a prefix scan — no allocation,
    * no loss for any caller comparing against thresholds ≥ cutoff.
    * Scoring uses cutoff = its lowest decision threshold. */
  def jwGE(l: UTF8String, r: UTF8String, cutoff: Double): Double =
    if (PM.fits(l) && PM.fits(r)) {
      val pm = PM.table()
      PM.load(pm, r)
      try jwGEPM(l, r, pm, cutoff) finally PM.clear(pm, r)
    } else {
      // jaro handles the empty cases (1.0 for two empties, else 0.0)
      val v = jaroWinkler(l.toString, r.toString)
      if (v >= cutoff) v else 0.0
    }

  /** [[jwGE]] with `b` already loaded into `pm`; both sides fit the
    * table. [[FusedSpanKernel]] calls this once per span pair while it
    * holds one load of `b` for all spans of `a`. */
  private[functions] def jwGEPM(a: UTF8String, b: UTF8String, pm: Array[Long], cutoff: Double): Double = {
    val la = a.numBytes
    val lb = b.numBytes
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val v = jwPM(a, b, pm, cutoff)
    if (v >= cutoff) v else 0.0
  }

  /** Jaro-Winkler for ASCII ≤ 64 bytes over a pattern-match table of
    * `b` (loaded and cleared around this one call). */
  private[graft] def jwAsciiSmall(a: UTF8String, b: UTF8String, cutoff: Double = 0.0): Double = {
    val pm = PM.table()
    PM.load(pm, b)
    try jwPM(a, b, pm, cutoff) finally PM.clear(pm, b)
  }

  /** The match scan over a loaded table: for each byte of `a`,
    * `pm(a(i)) & ~claimed & window` is the set of free matching
    * positions of `b` inside the match window, and its lowest set bit
    * is exactly the reference scan's greedy choice. The per-byte step
    * is branch-free (most span pairs run the whole scan, and a
    * matched-or-not branch mispredicts on real text): `bit` is the
    * claimed position or 0, `nz` its 0/1 flag. Transpositions walk only
    * the matched bits, also branch-free. Abort-check
    * placement matches the reference kernel exactly, so thresholded
    * results agree too (bit-identical to [[jwAsciiSmallRef]]:
    * JaroWinklerSpec, SpanKernelPropSpec). */
  private def jwPM(a: UTF8String, b: UTF8String, pm: Array[Long], cutoff: Double): Double = {
    val la = a.numBytes
    val lb = b.numBytes
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val needJ = if (cutoff > 0.0) {
      var p = 0
      val maxP = math.min(4, math.min(la, lb))
      while (p < maxP && a.getByte(p) == b.getByte(p)) p += 1
      (cutoff - 0.1 * p) / (1.0 - 0.1 * p)
    } else 0.0
    if (cutoff > 0.0) {
      val mn = math.min(la, lb).toDouble
      val mx = math.max(la, lb).toDouble
      if ((mn / mx + 2.0) / 3.0 < needJ) return 0.0
    }
    var aM = 0L
    var bM = 0L
    var matches = 0
    var i = 0
    while (i < la) {
      // bits lo..hi, 0 when hi < lo (a past b's end; an empty b has an empty table)
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      val winMask = (-1L >>> (63 - hi)) & (-1L << lo)
      val valid = pm(a.getByte(i)) & ~bM & winMask
      val bit = valid & -valid
      val nz = (bit | -bit) >>> 63
      bM |= bit
      aM |= nz << i
      matches += nz.toInt
      i += 1
      if (cutoff > 0.0 && (i & 7) == 0) {
        val mMax = (matches + (la - i)).toDouble
        if ((mMax / la + mMax / lb + 1.0) / 3.0 < needJ) return 0.0
      }
    }
    if (matches == 0) return 0.0
    // the j-th matched byte of a pairs with the j-th matched byte of b
    var t = 0
    var am = aM
    var bm = bM
    while (am != 0L) {
      val ka = java.lang.Long.numberOfTrailingZeros(am)
      val kb = java.lang.Long.numberOfTrailingZeros(bm)
      val x = a.getByte(ka) ^ b.getByte(kb)
      t += (x | -x) >>> 31 // 1 iff x ≠ 0
      am &= am - 1L
      bm &= bm - 1L
    }
    val m = matches.toDouble
    val j = (m / la + m / lb + (m - t / 2.0) / m) / 3.0
    if (j <= 0.7) j
    else {
      var l = 0
      val maxP = math.min(4, math.min(la, lb))
      while (l < maxP && a.getByte(l) == b.getByte(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    }
  }

  /** The byte-at-a-time reference kernel (differential-test oracle for
    * the pattern-match path above; not on the hot path). */
  private[graft] def jwAsciiSmallRef(a: UTF8String, b: UTF8String, cutoff: Double = 0.0): Double = {
    val la = a.numBytes
    val lb = b.numBytes
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    // Abort bound with the ACTUAL Winkler prefix: jw = j·(1−0.1·p) + 0.1·p
    // for common prefix p ≤ 4, so jw ≥ cutoff requires
    // j ≥ (cutoff − 0.1·p)/(1 − 0.1·p). Checked every 8 chars against
    // the optimistic remaining-matches bound; also applied to the
    // length-only bound up front.
    val needJ = if (cutoff > 0.0) {
      var p = 0
      val maxP = math.min(4, math.min(la, lb))
      while (p < maxP && a.getByte(p) == b.getByte(p)) p += 1
      (cutoff - 0.1 * p) / (1.0 - 0.1 * p)
    } else 0.0
    if (cutoff > 0.0) {
      val mn = math.min(la, lb).toDouble
      val mx = math.max(la, lb).toDouble
      if ((mn / mx + 2.0) / 3.0 < needJ) return 0.0
    }
    var aM = 0L
    var bM = 0L
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      val ca = a.getByte(i)
      var k = lo
      var found = false
      while (k <= hi && !found) {
        if (((bM >>> k) & 1L) == 0L && ca == b.getByte(k)) {
          aM |= 1L << i; bM |= 1L << k; matches += 1; found = true
        }
        k += 1
      }
      i += 1
      if (cutoff > 0.0 && (i & 7) == 0) {
        val mMax = (matches + (la - i)).toDouble
        if ((mMax / la + mMax / lb + 1.0) / 3.0 < needJ) return 0.0
      }
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (((aM >>> i) & 1L) == 1L) {
        while (((bM >>> k) & 1L) == 0L) k += 1
        if (a.getByte(i) != b.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val j = (m / la + m / lb + (m - t / 2.0) / m) / 3.0
    if (j <= 0.7) j
    else {
      var l = 0
      val maxP = math.min(4, math.min(la, lb))
      while (l < maxP && a.getByte(l) == b.getByte(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    }
  }

  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) j
    else {
      var l = 0
      val maxP = math.min(4, math.min(a.length, b.length))
      while (l < maxP && a.charAt(l) == b.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    }
  }

  def jaro(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var k = lo
      var found = false
      while (k <= hi && !found) {
        if (!bMatch(k) && a.charAt(i) == b.charAt(k)) {
          aMatch(i) = true; bMatch(k) = true; matches += 1; found = true
        }
        k += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: compare matched chars in order
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / la + m / lb + (m - t / 2.0) / m) / 3.0
  }
}

case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(l: Any, r: Any): Any =
    JW.jw(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.functions.JW.jw($l, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Thresholded JW: exact value when ≥ `cutoff`, else 0.0 — enables the
  * kernel's early-abort path. Used by stage-S scoring, whose lowest
  * decision threshold is the cutoff; the exact [[JaroWinklerExpr]]
  * stays available for SQL users. */
case class JaroWinklerGate(left: Expression, right: Expression, cutoff: Double)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler_ge"

  override def nullSafeEval(l: Any, r: Any): Any =
    JW.jwGE(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], cutoff)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.functions.JW.jwGE($l, $r, ${cutoff}D)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr {
  /** Thresholded Column variant (see JaroWinklerGate). */
  def jaroWinklerGE(a: Column, b: Column, cutoff: Double): Column =
    GraftShim.column(JaroWinklerGate(GraftShim.expression(a), GraftShim.expression(b), cutoff))

  /** Column-API entry point. */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftShim.column(JaroWinklerExpr(GraftShim.expression(a), GraftShim.expression(b)))

  /** Register `jaro_winkler` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler",
      exprs => JaroWinklerExpr(exprs.head, exprs(1)),
      "scala_udf"
    )
}
