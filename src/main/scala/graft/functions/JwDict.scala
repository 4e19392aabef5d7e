package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** The broadcast span-text dictionary, packed FLAT: one UTF-8 byte
  * blob plus an (n+1)-entry offset table, entry i = bytes
  * [offs(i), offs(i+1)).
  *
  * Why flat instead of `Array[Array[Byte]]`: the broadcast is
  * deserialized once per EXECUTOR JVM, and at bench scale the nested
  * form is 1.65M separate byte-array objects — java deserialization
  * allocates and tracks each one, the heap pays ~16-24 B of object
  * header per entry, and every full GC re-scans 1.65M references for
  * the broadcast's lifetime. The flat form deserializes as TWO large
  * primitive arrays (effectively a memcpy) and is GC-opaque. This is
  * per-executor FIXED cost — invisible at local[N] (one JVM), paid
  * ×E on an E-executor cluster (the N-vs-4N runs in BASELINE.md §13
  * measured the 4× step's fixed-cost inflation directly).
  */
final class PackedDict(val flat: Array[Byte], val offs: Array[Int]) extends Serializable {
  def size: Int = offs.length - 1
}

/** Dictionary-indexed similarity kernels: Jaro-Winkler / Levenshtein
  * over dense text ids, with the distinct normalized span texts shipped
  * ONCE per executor as a broadcast [[PackedDict]].
  *
  * Why: stage S explodes candidate pairs into span-pair rows, and with
  * inline string kernels every exploded row materializes both span
  * texts (and each Generate re-copies the inner text array per outer
  * row) — measured as the stage's memory-bandwidth ceiling at 32
  * threads. With dict ids the whole exploded stream is fixed-width
  * ints; the kernel reads text bytes from the broadcast dictionary,
  * where consecutive rows of the same candidate pair hit the same ~10
  * entries — cache-resident, ~15× less DRAM traffic.
  *
  * The kernels themselves are the bit-parallel ones: [[JW.jwGE]] scans
  * a per-thread pattern-match table of the right-hand text ([[PM]]),
  * [[Lev.sim]] runs Myers' bit-parallel Levenshtein over the same
  * table; texts that are non-ASCII or over 64 bytes take the
  * String / `UTF8String.levenshteinDistance` fallbacks, same values.
  * Stage S calls them through [[FusedSpanKernel]], which loads each
  * table once per candidate pair instead of once per span pair.
  *
  * Scale bound: the dictionary must fit in executor memory (bench
  * fixture: 1.65M distinct texts ≈ 150 MB heap). Corpora beyond that
  * use [[graft.scoring.Scoring.scoreWithRepsDirect]] — same results,
  * streaming text bytes instead.
  */
object JwDict {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.ref.SoftReference[Array[UTF8String]]]()

  /** Per-JVM view-build instrumentation (builds should be ≤1 per
    * broadcast per JVM; Bench reads these in local mode, executor
    * stderr carries the log line under spark-submit). */
  @volatile var buildCount: Long = 0L
  @volatile var buildNanos: Long = 0L

  /** Per-JVM memoized UTF8String view of the broadcast dictionary
    * (UTF8String.fromBytes is zero-copy over the flat blob; the
    * conversion happens once per executor, not per row). Soft
    * references: a long-lived JVM running many pipelines (bench, test
    * suite, a streaming driver) would otherwise pin every run's ~200 MB
    * dictionary view forever — under heap pressure stale views are
    * collected and rebuilt on demand. The build is guarded by a lock:
    * without it, every task that starts while the view is cold builds
    * its own 1.65M-entry copy (on an 8-core executor that is up to 8
    * redundant builds racing the same cache slot — measured fixed-cost
    * inflation on the N-vs-4N executor runs, pure waste). */
  def arr(bc: Broadcast[PackedDict]): Array[UTF8String] = {
    val ref = cache.get(bc.id)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) hit
    else cache.synchronized {
      // double-check under the lock: the first waiter builds, the rest reuse
      val ref2 = cache.get(bc.id)
      val hit2 = if (ref2 == null) null else ref2.get()
      if (hit2 != null) hit2
      else {
        val t0 = System.nanoTime()
        val d = bc.value
        val n = d.size
        val built = new Array[UTF8String](n)
        var i = 0
        while (i < n) {
          built(i) = UTF8String.fromBytes(d.flat, d.offs(i), d.offs(i + 1) - d.offs(i))
          i += 1
        }
        cache.put(bc.id, new java.lang.ref.SoftReference(built))
        val ms = (System.nanoTime() - t0) / 1000000
        buildCount += 1
        buildNanos += System.nanoTime() - t0
        System.err.println(s"[graft] dict view built: $n entries, $ms ms (jvm build #$buildCount)")
        built
      }
    }
  }

  /** Thresholded Jaro-Winkler on dict ids; equal ids are equal texts
    * (dense ids are collision-free by construction) → exact 1.0 without
    * a lookup, matching JW.jwGE on identical strings. */
  def jwGE(bc: Broadcast[PackedDict], a: Int, b: Int, cutoff: Double): Double = {
    if (a == b) return 1.0
    val d = arr(bc)
    JW.jwGE(d(a), d(b), cutoff)
  }

  /** Normalized Levenshtein similarity on dict ids — identical to
    * `1 - levenshtein(ta, tb) / greatest(length(ta), length(tb), 1)`
    * (the built-in levenshtein is UTF8String.levenshteinDistance);
    * computed by [[Lev.sim]], Myers' bit-parallel kernel for ASCII
    * spans ≤ 64 bytes. */
  def levSim(bc: Broadcast[PackedDict], a: Int, b: Int): Double = {
    if (a == b) return 1.0
    val d = arr(bc)
    Lev.sim(d(a), d(b))
  }
}

private[functions] abstract class DictKernelExpr extends BinaryExpression {
  def bc: Broadcast[PackedDict]
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  protected def genCall(ctx: CodegenContext, l: String, r: String): String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jwDictBc", bc, "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, (l, r) => genCall(ctx, l, r).replace("$BC", ref))
  }
}

case class JwDictGate(left: Expression, right: Expression, cutoff: Double, bc: Broadcast[PackedDict])
    extends DictKernelExpr {
  override def prettyName: String = "jaro_winkler_dict_ge"
  override def nullSafeEval(l: Any, r: Any): Any =
    JwDict.jwGE(bc, l.asInstanceOf[Int], r.asInstanceOf[Int], cutoff)
  override protected def genCall(ctx: CodegenContext, l: String, r: String): String =
    s"graft.functions.JwDict.jwGE($$BC, $l, $r, ${cutoff}D)"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class LevDictSim(left: Expression, right: Expression, bc: Broadcast[PackedDict])
    extends DictKernelExpr {
  override def prettyName: String = "lev_sim_dict"
  override def nullSafeEval(l: Any, r: Any): Any =
    JwDict.levSim(bc, l.asInstanceOf[Int], r.asInstanceOf[Int])
  override protected def genCall(ctx: CodegenContext, l: String, r: String): String =
    s"graft.functions.JwDict.levSim($$BC, $l, $r)"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JwDictExpr {
  def jwGE(a: Column, b: Column, cutoff: Double, bc: Broadcast[PackedDict]): Column =
    GraftShim.column(JwDictGate(GraftShim.expression(a), GraftShim.expression(b), cutoff, bc))
  def levSim(a: Column, b: Column, bc: Broadcast[PackedDict]): Column =
    GraftShim.column(LevDictSim(GraftShim.expression(a), GraftShim.expression(b), bc))
}
