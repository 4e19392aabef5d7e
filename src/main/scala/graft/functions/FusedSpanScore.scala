package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Fused stage-S text kernel: the ENTIRE per-pair text score — best
  * Jaro-Winkler, best rescue-Levenshtein, and the two strong-span bit
  * masks — computed in ONE compiled pass over the two dict-id arrays.
  *
  * Why: the exploded formulation (posexplode × posexplode → filter →
  * hash aggregate back to pair grain) pushes ~na×nb rows per candidate
  * pair through a Generate chain and a 6.6M-group aggregate; at bench
  * scale that is ~500M UnsafeRow writes + hash-map probes whose memory
  * traffic dominated stage-S CPU (2-core scoring CPU 503 core-s ≈
  * 76 µs/pair, and it is the part that stops scaling at 32 threads).
  * Here the cross product lives in registers inside one codegen'd
  * expression: no Generate, no aggregate, no span-pair shuffle — stage
  * S becomes join → map.
  *
  * The span kernels then are most of what is left: single-threaded on
  * the benchmark's `full` corpus (≈26 span pairs per candidate pair,
  * 4-core Xeon), this call measured 51–60 µs/pair with a per-call SWAR
  * Jaro-Winkler and Spark's `levenshteinDistance`, 16–22 µs/pair with
  * the pattern-match table and Myers kernels below (11.7–13.0 when
  * re-measured), and 7.8–8.8 µs/pair once the JW match scan went
  * branch-free (perfbench `functions.fused_ns_per_pair`, seeds 1–3).
  *
  * Value-identical to the exploded formulation by construction: max
  * and bit-OR are order-independent, and per span pair the arithmetic
  * is exactly [[JwDict.jwGE]] / [[JwDict.levSim]] on the same dictionary
  * strings (SpanKernelPropSpec; column-exact against the pipeline's
  * dictionary-free fallback, Scoring.scoreWithRepsDirect, in
  * ScoringDedupSpec).
  *
  * Reference semantics: the multi-signal link probability of
  * src/core/cross_device_linker.py:143-216, re-expressed as
  * Fellegi-Sunter field levels (see [[graft.scoring.Scoring]]).
  */
object FusedSpanKernel {

  /** One pass over the span-id cross product of a candidate pair.
    * `cutoff` is the kernel floor (lowest threshold scoring consults),
    * `jwStrong`/`levStrong` the strong-agreement thresholds. Span
    * indexes are < 64 by textRep's slice cap, so the masks are exact.
    *
    * The outer loop runs over `b`'s spans: each one that fits the
    * pattern-match table ([[PM.fits]]) is loaded ONCE and serves the
    * Jaro-Winkler scan and the Myers Levenshtein of every span of `a`;
    * `a`'s table eligibility is computed once per pair. Spans that do
    * not fit (non-ASCII, > 64 bytes) take the single-call kernels,
    * whose fallback paths never touch the table. */
  def score(
      bc: Broadcast[PackedDict],
      a: ArrayData,
      b: ArrayData,
      cutoff: Double,
      jwStrong: Double,
      levStrong: Double
  ): InternalRow = {
    val d = JwDict.arr(bc)
    val na = a.numElements()
    val nb = b.numElements()
    var fitA = 0L
    var ia = 0
    while (ia < na && ia < 64) {
      if (PM.fits(d(a.getInt(ia)))) fitA |= 1L << ia
      ia += 1
    }
    val pm = PM.table()
    var jwBest = 0.0
    var levBest = 0.0
    var maskA = 0L
    var maskB = 0L
    var ib = 0
    while (ib < nb) {
      val tib = b.getInt(ib)
      val ub = d(tib)
      val fitB = PM.fits(ub)
      if (fitB) PM.load(pm, ub)
      try {
        ia = 0
        while (ia < na) {
          val tia = a.getInt(ia)
          var jw = 0.0
          var lev = 0.0
          if (tia == tib) jw = 1.0
          else {
            val ua = d(tia)
            val fast = fitB && (if (ia < 64) ((fitA >>> ia) & 1L) != 0L else PM.fits(ua))
            jw = if (fast) JW.jwGEPM(ua, ub, pm, cutoff) else JW.jwGE(ua, ub, cutoff)
            if (jw >= cutoff && jw < jwStrong)
              lev = if (fast) Lev.simPM(ua, ub, pm) else Lev.sim(ua, ub)
          }
          if (jw > 0.0) {
            if (jw > jwBest) jwBest = jw
            if (lev > levBest) levBest = lev
            if (jw >= jwStrong || lev >= levStrong) {
              maskA |= 1L << ia
              maskB |= 1L << ib
            }
          }
          ia += 1
        }
      } finally if (fitB) PM.clear(pm, ub)
      ib += 1
    }
    new GenericInternalRow(Array[Any](jwBest, levBest, maskA, maskB))
  }
}

case class FusedSpanScore(
    left: Expression,
    right: Expression,
    cutoff: Double,
    jwStrong: Double,
    levStrong: Double,
    bc: Broadcast[PackedDict]
) extends BinaryExpression {

  override def prettyName: String = "fused_span_score"
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = FusedSpanScore.schema

  override def nullSafeEval(l: Any, r: Any): Any =
    FusedSpanKernel.score(
      bc, l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], cutoff, jwStrong, levStrong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fusedBc", bc, "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.FusedSpanKernel.score(" +
        s"$ref, $l, $r, ${cutoff}D, ${jwStrong}D, ${levStrong}D);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FusedSpanScore {
  val schema: StructType = StructType(Seq(
    StructField("jw_best", DoubleType, nullable = false),
    StructField("lev_best", DoubleType, nullable = false),
    StructField("mask_a", LongType, nullable = false),
    StructField("mask_b", LongType, nullable = false)
  ))

  def score(
      a: Column,
      b: Column,
      cutoff: Double,
      jwStrong: Double,
      levStrong: Double,
      bc: Broadcast[PackedDict]
  ): Column =
    GraftShim.column(FusedSpanScore(
      GraftShim.expression(a), GraftShim.expression(b), cutoff, jwStrong, levStrong, bc))
}
