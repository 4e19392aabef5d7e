package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{FusedSpanKernel, JW, JwDict, Lev, PM, PackedDict}
import graft.scoring.Scoring

/** Property specs for the bit-parallel span kernels: the pattern-match
  * Jaro-Winkler against the byte-at-a-time and String references, the
  * Myers Levenshtein against Spark's `levenshteinDistance`, and the
  * fused per-pair kernel against a per-span-pair composition of the
  * single-call dictionary kernels. Every comparison is exact (Double
  * bits, masks), and every kernel call must leave the per-thread
  * pattern-match table all-zero. */
class SpanKernelPropSpec extends AnyFunSuite {

  private def u(s: String): UTF8String = UTF8String.fromString(s)
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
  private def gate(v: Double, cutoff: Double): Double = if (v >= cutoff) v else 0.0
  private def tableClean: Boolean = PM.table().forall(_ == 0L)

  // three alphabets: fixture-like syllables (many near matches and
  // transpositions), a tiny one (dense match windows), and all of ASCII
  // including NUL and DEL (the table's first and last entries)
  private val alphabet: Gen[Gen[Char]] = Gen.oneOf(
    Gen.oneOf("abcdefghijklmnopqrstuvwxyz0123456789 "),
    Gen.oneOf("abc "),
    Gen.choose(0, 127).map(_.toChar)
  )
  private def strOf(len: Gen[Int]): Gen[String] =
    for { n <- len; a <- alphabet; cs <- Gen.listOfN(n, a) } yield cs.mkString
  private val len0to64: Gen[Int] = Gen.frequency(6 -> Gen.choose(0, 64), 1 -> Gen.oneOf(63, 64))
  private def edit(s: String, maxLen: Int): Gen[String] =
    Gen.listOfN(3, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1 << 20), Gen.oneOf("abcxyz 09"))).map { eds =>
      val sb = new StringBuilder(s)
      eds.foreach { case (op, pos, c) =>
        op match {
          case 0 if sb.nonEmpty => sb.setCharAt(pos % sb.length, c)
          case 1 if sb.length < maxLen => sb.insert(pos % (sb.length + 1), c)
          case 2 if sb.nonEmpty => sb.deleteCharAt(pos % sb.length)
          case _ =>
        }
      }
      sb.toString
    }
  private def pairOf(len: Gen[Int], maxLen: Int): Gen[(String, String)] = Gen.oneOf(
    Gen.zip(strOf(len), strOf(len)),
    strOf(len).flatMap(a => edit(a, maxLen).map(b => (a, b)))
  )

  test("pattern-match JW equals the byte-at-a-time and String references (0-64 bytes, cutoff 0 and 0.75)") {
    PropCheck.check(Prop.forAll(pairOf(len0to64, 64)) { case (a, b) =>
      val (ua, ub) = (u(a), u(b))
      val s = JW.jaroWinkler(a, b)
      (bits(JW.jwAsciiSmall(ua, ub)) == bits(JW.jwAsciiSmallRef(ua, ub))) :| "plain vs ref" &&
      (bits(JW.jwAsciiSmall(ua, ub, 0.75)) == bits(JW.jwAsciiSmallRef(ua, ub, 0.75))) :| "gated vs ref" &&
      (bits(JW.jw(ua, ub)) == bits(s)) :| "jw vs String" &&
      (bits(JW.jwGE(ua, ub, 0.0)) == bits(s)) :| "jwGE 0 vs String" &&
      (bits(JW.jwGE(ua, ub, 0.75)) == bits(gate(s, 0.75))) :| "jwGE 0.75 vs String" &&
      tableClean :| "table left dirty"
    }, 20000)
  }

  test("JW at the 64-byte table edge: 63/64 bytes run the table, 65 falls back, same values") {
    val edge = Gen.oneOf(63, 64, 65)
    PropCheck.check(Prop.forAll(pairOf(edge, 65)) { case (a, b) =>
      val (ua, ub) = (u(a), u(b))
      val s = JW.jaroWinkler(a, b)
      val small = a.length <= 64 && b.length <= 64
      (!small || bits(JW.jwAsciiSmall(ua, ub, 0.75)) == bits(JW.jwAsciiSmallRef(ua, ub, 0.75))) :| "gated vs ref" &&
      (bits(JW.jw(ua, ub)) == bits(s)) :| "jw vs String" &&
      (bits(JW.jwGE(ua, ub, 0.75)) == bits(gate(s, 0.75))) :| "jwGE vs String" &&
      tableClean :| "table left dirty"
    }, 4000)
  }

  // sim = 1 - d / mx with mx fixed by the inputs, so equal bits mean an
  // equal distance
  test("Myers Levenshtein equals UTF8String.levenshteinDistance (pattern length 1, 63, 64 and 0-64)") {
    val patLen = Gen.frequency(1 -> Gen.const(1), 1 -> Gen.const(63), 1 -> Gen.const(64), 2 -> Gen.choose(0, 64))
    val gen = Gen.oneOf(
      Gen.zip(strOf(len0to64), strOf(patLen)),
      strOf(patLen).flatMap(p => edit(p, 64).map(t => (t, p)))
    )
    PropCheck.check(Prop.forAll(gen) { case (x, y) =>
      val (ux, uy) = (u(x), u(y))
      val ref = ux.levenshteinDistance(uy)
      val refSim = 1.0 - ref.toDouble / math.max(math.max(ux.numChars, uy.numChars), 1)
      (bits(Lev.sim(ux, uy)) == bits(refSim)) :| s"distance $ref, sim ${Lev.sim(ux, uy)} != $refSim" &&
      tableClean :| "table left dirty"
    }, 20000)
  }

  test("Levenshtein fallback: non-ASCII and over-64-byte inputs keep Spark's values") {
    val gen = Gen.zip(
      Gen.oneOf(strOf(Gen.choose(65, 90)), strOf(Gen.choose(0, 20)).map(_ + "é")),
      strOf(len0to64))
    def refSim(x: UTF8String, y: UTF8String): Double =
      1.0 - x.levenshteinDistance(y).toDouble / math.max(math.max(x.numChars, y.numChars), 1)
    PropCheck.check(Prop.forAll(gen) { case (x, y) =>
      val (ux, uy) = (u(x), u(y))
      bits(Lev.sim(ux, uy)) == bits(refSim(ux, uy)) &&
      bits(Lev.sim(uy, ux)) == bits(refSim(uy, ux)) && tableClean
    }, 1000)
  }

  test("fused kernel equals the per-span-pair JwDict.jwGE / levSim composition") {
    val spark = SparkTestSession.spark
    val w = Scoring.Weights()
    // a dictionary of distinct spans: table-sized ASCII, near-duplicates
    // (rescue-band Levenshtein), an empty span, and spans that must take
    // the fallback (non-ASCII, over 64 bytes)
    val poolGen: Gen[Array[String]] = for {
      base <- Gen.listOfN(12, strOf(len0to64))
      dups <- Gen.sequence[List[String], String](base.take(8).map(edit(_, 64)))
      long <- strOf(Gen.choose(65, 80))
    } yield (("" :: "päivää öljyä überhaupt" :: long :: base ++ dups).distinct).toArray
    val gen = for {
      pool <- poolGen
      na <- Gen.frequency(1 -> Gen.const(64), 3 -> Gen.choose(1, 64))
      nb <- Gen.frequency(1 -> Gen.const(64), 3 -> Gen.choose(1, 64))
      a <- Gen.listOfN(na, Gen.choose(0, pool.length - 1))
      b <- Gen.listOfN(nb, Gen.choose(0, pool.length - 1))
    } yield (pool.toVector, a.toVector, b.toVector)

    var hit63 = 0
    PropCheck.check(Prop.forAll(gen) { case (pool, av, bv) =>
      val (a, b) = (av.toArray, bv.toArray)
      val bytes = pool.toArray.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val offs = bytes.scanLeft(0)(_ + _.length)
      val bc = spark.sparkContext.broadcast(new PackedDict(bytes.flatten, offs))
      try Seq(0.0, 0.75).forall { cutoff =>
        var jwBest = 0.0; var levBest = 0.0; var maskA = 0L; var maskB = 0L
        for (ia <- a.indices; ib <- b.indices) {
          val jw = if (a(ia) == b(ib)) 1.0 else JwDict.jwGE(bc, a(ia), b(ib), cutoff)
          val lev =
            if (a(ia) != b(ib) && jw >= cutoff && jw < w.jwStrong) JwDict.levSim(bc, a(ia), b(ib)) else 0.0
          if (jw > 0.0) {
            jwBest = math.max(jwBest, jw); levBest = math.max(levBest, lev)
            if (jw >= w.jwStrong || lev >= w.levStrong) { maskA |= 1L << ia; maskB |= 1L << ib }
          }
        }
        val r = FusedSpanKernel.score(bc, UnsafeArrayData.fromPrimitiveArray(a),
          UnsafeArrayData.fromPrimitiveArray(b), cutoff, w.jwStrong, w.levStrong)
        if (maskA < 0L || maskB < 0L) hit63 += 1
        bits(r.getDouble(0)) == bits(jwBest) && bits(r.getDouble(1)) == bits(levBest) &&
          r.getLong(2) == maskA && r.getLong(3) == maskB && tableClean
      } finally bc.destroy()
    }, 300)
    assert(hit63 > 0, "no case exercised span index 63 in the masks")
  }

  // deterministic edges of the branch-free match scan: `a` running past
  // `b`'s end (64 bytes against 1-3, so the match window of a's tail is
  // empty), both sides 64 bytes (position 63 claimed), and window 0
  // (both sides at most 3 bytes)
  private val edgeCases: Seq[(String, String)] = {
    val a64 = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ+/"
    val pastEnd = Seq("a", "/", "ab", "+/", "a/", "abc", "zyx", "Z+/").map(a64 -> _) ++
      Seq(("a" * 64, "a"), ("a" * 64, "aaa"), ("ab" * 32, "ba"), ("x" * 63 + "y", "y"))
    val full64 = Seq(
      ("!" + a64.tail, a64), (a64.init + "!", a64), (a64.reverse, a64), ("ab" * 32, "ba" * 32),
      (a64.tail + "a", a64), ("a" * 64, "a" * 63 + "b"), (a64.take(32) + a64.take(32), a64))
    val window0 = Seq(("a", "b"), ("ab", "ba"), ("abc", "acb"), ("abc", "bca"), ("abc", "cab"),
      ("ab", "abc"), ("abc", "abd"), ("ab", "b"), ("aa", "a"), ("aba", "bab"))
    (pastEnd ++ full64 ++ window0).flatMap { case (x, y) => Seq((x, y), (y, x)) }
  }

  test("edge list: past-the-end, 64-byte and window-0 pairs equal the references in every kernel") {
    assert(edgeCases.forall { case (a, b) => a != b && a.length <= 64 && b.length <= 64 })
    for ((a, b) <- edgeCases; cutoff <- Seq(0.0, 0.75)) {
      val (ua, ub) = (u(a), u(b))
      val s = JW.jaroWinkler(a, b)
      assert(bits(JW.jwAsciiSmall(ua, ub, cutoff)) == bits(JW.jwAsciiSmallRef(ua, ub, cutoff)),
        s"jwAsciiSmall vs ref at cutoff $cutoff: '$a' / '$b'")
      assert(bits(JW.jwGE(ua, ub, cutoff)) == bits(gate(s, cutoff)), s"jwGE $cutoff vs String: '$a' / '$b'")
      assert(bits(JW.jw(ua, ub)) == bits(s), s"jw vs String: '$a' / '$b'")
      assert(tableClean, "table left dirty")
    }
    // the fused kernel, one span pair per call over a dictionary of the
    // same strings, against the String JW and Spark's Levenshtein
    val spark = SparkTestSession.spark
    val w = Scoring.Weights()
    val pool = edgeCases.flatMap { case (a, b) => Seq(a, b) }.distinct.toArray
    val id = pool.zipWithIndex.toMap
    val bytes = pool.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bc = spark.sparkContext.broadcast(new PackedDict(bytes.flatten, bytes.scanLeft(0)(_ + _.length)))
    try {
      for ((a, b) <- edgeCases; cutoff <- Seq(0.0, 0.75)) {
        val (ua, ub) = (u(a), u(b))
        val jw = gate(JW.jaroWinkler(a, b), cutoff)
        val lev =
          if (jw >= cutoff && jw < w.jwStrong)
            1.0 - ua.levenshteinDistance(ub).toDouble / math.max(math.max(ua.numChars, ub.numChars), 1)
          else 0.0
        val strong = if (jw > 0.0 && (jw >= w.jwStrong || lev >= w.levStrong)) 1L else 0L
        val r = FusedSpanKernel.score(bc, UnsafeArrayData.fromPrimitiveArray(Array(id(a))),
          UnsafeArrayData.fromPrimitiveArray(Array(id(b))), cutoff, w.jwStrong, w.levStrong)
        assert(bits(r.getDouble(0)) == bits(jw) && bits(r.getDouble(1)) == bits(if (jw > 0.0) lev else 0.0) &&
          r.getLong(2) == strong && r.getLong(3) == strong,
          s"fused at cutoff $cutoff: '$a' / '$b' gave $r, expected ($jw, $lev, $strong, $strong)")
        assert(tableClean, "table left dirty")
      }
    } finally bc.destroy()
  }
}
