package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused MinHash/LSH band keys: normalized text → the `bands` LSH band
  * keys in ONE compiled pass, bit-identical to the declarative chain
  * `bandKeys(minhashAgg(explode(shingleHashes(charShingles(t, n)))))`
  * (TextOps.scala; BlockingFusedSpec holds that formulation as the
  * reference).
  *
  * Why: the exploded formulation pushes ~len(text) shingle-hash rows
  * per doc through a Generate and a k-column min() hash aggregate —
  * at bench scale ~90M rows through partial-agg machinery whose
  * UnsafeRow/hash-map traffic, not the hashing itself, dominates
  * stage-B CPU (same lesson as stage S, see
  * [[graft.functions.FusedSpanKernel]]). Here the rolling shingle
  * window, the k affine permutation minima, and the band mixing stay
  * in registers; the only per-doc output is `bands` longs.
  *
  * Bit-equality contract (asserted by BlockingFusedSpec):
  *  - shingle hash = Spark `xxhash64(substr)` = XXH64 over the
  *    substring's UTF-8 bytes, seed 42 (duplicates are irrelevant
  *    under min, so shingleHashes' array_distinct needs no mirror);
  *  - permutation j: floorMod(floorMod(h, P)·a_j + b_j, P) with
  *    TextOps.affineConsts — exact, products < 2^62;
  *  - band key j = xxhash64(lit(j), slice(sig, j·r+1, r)): Spark's
  *    multi-arg hash chains the seed through children, so
  *    hashInt(j, 42) then hashLong over the r minima in order.
  *
  * Reference semantics: candidate pruning via banded MinHash,
  * src/core/cross_device_linker.py:385-412.
  */
object MinHashKernel {

  private val P = 2147483647L // Mersenne 2^31 − 1, TextOps.mersennePrime

  /** x mod P for P = 2^31 − 1 without the 64-bit division (round 6;
    * the idiv was the inner-loop bottleneck at k=48 per shingle):
    * 2^31 ≡ 1 (mod P), so folding the high bits into the low 31
    * preserves the residue. For any non-negative long, two folds bring
    * x to [0, P + 3] and one conditional subtract finishes — EXACTLY
    * floorMod(x, P) (BlockingFusedSpec checks it over [0, Long.MaxValue]). */
  private[graft] def modP(x: Long): Long = {
    var v = (x & P) + (x >>> 31)
    v = (v & P) + (v >>> 31)
    if (v >= P) v - P else v
  }

  /** `offsets(i)` = byte offset of char i (length nc+1) — only built
    * for non-ASCII inputs; normText output is ASCII in practice. */
  private def charOffsets(t: UTF8String, nc: Int): Array[Int] = {
    val out = new Array[Int](nc + 1)
    var bo = 0
    var ci = 0
    while (ci < nc) {
      out(ci) = bo
      bo += UTF8String.numBytesForFirstByte(t.getByte(bo))
      ci += 1
    }
    out(nc) = t.numBytes
    out
  }

  def bands(t: UTF8String, n: Int, nBands: Int, as_ : Array[Long], bs: Array[Long]): ArrayData = {
    val k = as_.length
    val nc = t.numChars
    if (nc == 0) return new GenericArrayData(Array.emptyLongArray)
    val nb = t.numBytes
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)

    def accum(h: Long): Unit = {
      val hm = java.lang.Math.floorMod(h, P)
      var j = 0
      while (j < k) {
        // hm·a + b < 2^62 and non-negative (hm, a, b < P)
        val v = modP(hm * as_(j) + bs(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }

    if (nc < n) accum(XXH64.hashUnsafeBytes(base, off, nb, 42L))
    else if (nb == nc) {
      // ASCII: char window == byte window
      var i = 0
      while (i <= nb - n) { accum(XXH64.hashUnsafeBytes(base, off + i, n, 42L)); i += 1 }
    } else {
      val offs = charOffsets(t, nc)
      var i = 0
      while (i <= nc - n) {
        accum(XXH64.hashUnsafeBytes(base, off + offs(i), offs(i + n) - offs(i), 42L))
        i += 1
      }
    }

    val rows = k / nBands
    val out = new Array[Long](nBands)
    var j = 0
    while (j < nBands) {
      var s = XXH64.hashInt(j, 42L)
      var r = 0
      while (r < rows) { s = XXH64.hashLong(mins(j * rows + r), s); r += 1 }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashBandsExpr(child: Expression, shingleN: Int, k: Int, nBands: Int, seed: Long)
    extends UnaryExpression {

  require(k % nBands == 0, "k must be divisible by nBands")

  override def prettyName: String = "minhash_band_keys"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // affine constants are deterministic in (k, seed): recomputed per
  // expression instance, shared by all rows via codegen reference objs
  @transient private lazy val ab = graft.text.TextOps.affineConsts(k, seed)
  @transient private lazy val asArr: Array[Long] = ab.map(_._1).toArray
  @transient private lazy val bsArr: Array[Long] = ab.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.bands(input.asInstanceOf[UTF8String], shingleN, nBands, asArr, bsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhAs", asArr, "long[]")
    val bRef = ctx.addReferenceObj("mhBs", bsArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashKernel.bands($c, $shingleN, $nBands, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  /** Column API: LSH band keys (array<long>, length `nBands`; empty for
    * empty text) of the MinHash signature of `text`. */
  def bandKeys(text: Column, shingleN: Int, k: Int, nBands: Int, seed: Long = 42L): Column =
    GraftShim.column(MinHashBandsExpr(GraftShim.expression(text), shingleN, k, nBands, seed))
}
