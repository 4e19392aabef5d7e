package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Pattern-match (PM) table shared by the bit-parallel span kernels
  * ([[JW]] Jaro-Winkler and [[Lev]] Levenshtein): for an ASCII string
  * `b` of at most 64 bytes, entry `c` holds the bitmask of the positions
  * of byte `c` in `b` (bit k set iff `b(k) == c`).
  *
  * The table is one per-thread `Array[Long](128)`. [[load]] sets the
  * entries of `b`'s bytes and [[clear]] zeroes exactly those entries
  * again, so a load/clear pair costs O(|b|) and the table is all-zero
  * between uses. Callers must clear what they loaded before any other
  * kernel on the same thread loads a string (the single-call kernels
  * do so in a `finally`); [[FusedSpanKernel]] loads each `b` span once
  * per candidate pair and reuses it for every span of `a`.
  */
private[graft] object PM {

  private val tables = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](128))

  /** This thread's table (all-zero unless a caller holds a load). */
  def table(): Array[Long] = tables.get()

  /** True when `s` can be loaded into (or scanned against) the table:
    * at most 64 bytes, all ASCII. */
  def fits(s: UTF8String): Boolean = {
    val n = s.numBytes
    if (n > 64) return false
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }

  /** Set `b`'s position masks; `b` must satisfy [[fits]]. */
  def load(pm: Array[Long], b: UTF8String): Unit = {
    val n = b.numBytes
    var k = 0
    while (k < n) {
      pm(b.getByte(k)) |= 1L << k
      k += 1
    }
  }

  /** Zero the entries [[load]] set for `b`. */
  def clear(pm: Array[Long], b: UTF8String): Unit = {
    val n = b.numBytes
    var k = 0
    while (k < n) {
      pm(b.getByte(k)) = 0L
      k += 1
    }
  }
}

/** The normalized Levenshtein similarity stage S uses:
  * `1 - lev(x, y) / max(numChars(x), numChars(y), 1)`, with `lev` the
  * unit-cost edit distance over characters.
  *
  * ASCII inputs of at most 64 bytes run Myers' bit-parallel algorithm
  * (Myers 1999) in Hyyrö's edit-distance form (Hyyrö 2001) over the
  * [[PM]] table of `y`: one column of the DP matrix per byte of `x`,
  * held as vertical +1/−1 delta vectors in two longs, so the whole
  * distance costs ~15 word operations per byte of `x` with no
  * allocation. Other inputs fall back to Spark's
  * `UTF8String.levenshteinDistance` (the built-in `levenshtein`), whose
  * values the bit-parallel path reproduces exactly (SpanKernelPropSpec).
  */
object Lev {

  def sim(x: UTF8String, y: UTF8String): Double =
    if (PM.fits(x) && PM.fits(y)) {
      val pm = PM.table()
      PM.load(pm, y)
      try simPM(x, y, pm) finally PM.clear(pm, y)
    } else {
      val mx = math.max(math.max(x.numChars, y.numChars), 1)
      1.0 - x.levenshteinDistance(y).toDouble / mx
    }

  /** [[sim]] with `b` already loaded into `pm`; both sides fit. */
  private[functions] def simPM(a: UTF8String, b: UTF8String, pm: Array[Long]): Double = {
    val mx = math.max(math.max(a.numBytes, b.numBytes), 1)
    1.0 - myers(a, b.numBytes, pm).toDouble / mx
  }

  /** Edit distance between text `a` and the pattern of length `m`
    * (1 ≤ m ≤ 64 bits of `pm`, or 0) loaded into `pm`. Bit i of
    * `pv`/`mv` is the +1/−1 vertical delta at pattern row i; row m's
    * horizontal delta (`last`) tracks the bottom-row score. The
    * horizontal delta entering row 0 is +1 (`ph << 1 | 1`): that is
    * D[0][j] = j, global distance rather than substring search. Bits at
    * or above m carry garbage that only ever moves upward (shifts and
    * carries), so no row mask is needed. */
  private def myers(a: UTF8String, m: Int, pm: Array[Long]): Int = {
    val n = a.numBytes
    if (m == 0) return n
    val last = 1L << (m - 1)
    var pv = -1L
    var mv = 0L
    var score = m
    var j = 0
    while (j < n) {
      val eq = pm(a.getByte(j))
      val xv = eq | mv
      val xh = (((eq & pv) + pv) ^ pv) | eq
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & last) != 0L) score += 1
      else if ((mh & last) != 0L) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      j += 1
    }
    score
  }
}
