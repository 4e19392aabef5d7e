package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{JW, JaroWinklerExpr}

/** Golden values from Winkler's published examples (FIXTURES.md §4) +
  * algebraic properties + interpreted-vs-codegen agreement. */
class JaroWinklerSpec extends AnyFunSuite {

  private val eps = 1e-6

  test("golden values") {
    assert(math.abs(JW.jaroWinkler("MARTHA", "MARHTA") - 0.961111) < 1e-4)
    assert(math.abs(JW.jaroWinkler("DWAYNE", "DUANE") - 0.840000) < 1e-4)
    assert(math.abs(JW.jaroWinkler("DIXON", "DICKSONX") - 0.813333) < 1e-4)
    assert(math.abs(JW.jaro("MARTHA", "MARHTA") - 0.944444) < 1e-4)
  }

  test("edge cases") {
    assert(JW.jaroWinkler("", "") == 1.0)
    assert(JW.jaroWinkler("abc", "") == 0.0)
    assert(JW.jaroWinkler("", "abc") == 0.0)
    assert(JW.jaroWinkler("same", "same") == 1.0)
    assert(JW.jaroWinkler("a", "b") == 0.0)
  }

  test("symmetry, identity, bounds (seeded property sweep)") {
    val rnd = new scala.util.Random(42)
    def word(): String = {
      val n = rnd.nextInt(9)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    for (_ <- 0 until 2000) {
      val a = word(); val b = word()
      val ab = JW.jaroWinkler(a, b)
      val ba = JW.jaroWinkler(b, a)
      assert(math.abs(ab - ba) < eps, s"$a/$b asymmetric")
      assert(ab >= 0.0 && ab <= 1.0, s"$a/$b out of bounds")
      assert(a.isEmpty || math.abs(JW.jaroWinkler(a, a) - 1.0) < eps)
    }
  }

  test("allocation-free byte path agrees with the char reference path") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(99)
    def word(max: Int): String = {
      val n = rnd.nextInt(max)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    for (_ <- 0 until 3000) {
      // spans both the <=64 fast path and the fallback
      val a = word(if (rnd.nextBoolean()) 10 else 80)
      val b = word(if (rnd.nextBoolean()) 10 else 80)
      val fast = JW.jw(UTF8String.fromString(a), UTF8String.fromString(b))
      val ref = JW.jaroWinkler(a, b)
      assert(math.abs(fast - ref) < eps, s"'$a'/'$b' fast=$fast ref=$ref")
    }
    // non-ASCII falls back and still matches the char semantics
    val ua = UTF8String.fromString("marthaé")
    val ub = UTF8String.fromString("marhtaé")
    assert(math.abs(JW.jw(ua, ub) - JW.jaroWinkler("marthaé", "marhtaé")) < eps)
  }

  test("thresholded kernel: exact at/above cutoff, zero below — never a false negative") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(123)
    def word(max: Int): String = {
      val n = rnd.nextInt(max)
      (0 until n).map(_ => ('a' + rnd.nextInt(8)).toChar).mkString // small alphabet → many near-misses
    }
    for (cutoff <- Seq(0.7, 0.75, 0.84); _ <- 0 until 2000) {
      val a = word(40); val b = if (rnd.nextBoolean()) word(40) else a.patch(rnd.nextInt(a.length max 1), "x", 1)
      val exact = JW.jaroWinkler(a, b)
      val gated = JW.jwGE(UTF8String.fromString(a), UTF8String.fromString(b), cutoff)
      if (exact >= cutoff) assert(math.abs(gated - exact) < eps, s"'$a'/'$b' cutoff=$cutoff exact=$exact gated=$gated")
      else assert(gated == 0.0 || math.abs(gated - exact) < eps, s"'$a'/'$b' gated=$gated exact=$exact")
    }
  }

  test("expression (codegen path) agrees with the Scala kernel") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val pairs = Seq(
      ("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("DIXON", "DICKSONX"),
      ("", ""), ("abc", ""), ("hello world", "helo wrold"), ("x", "x")
    )
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), JaroWinklerExpr.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect()
    got.foreach { r =>
      val expect = JW.jaroWinkler(r.getString(0), r.getString(1))
      assert(math.abs(r.getDouble(2) - expect) < eps, s"${r.getString(0)}/${r.getString(1)}")
    }
  }

  test("null-safe in SQL") {
    val spark = SparkTestSession.spark
    JaroWinklerExpr.register(spark)
    val r = spark.sql("SELECT jaro_winkler('abc', CAST(NULL AS STRING)) AS jw").head()
    assert(r.isNullAt(0))
  }

  test("pattern-match kernel is bit-identical to the byte-at-a-time reference kernel") {
    import org.apache.spark.unsafe.types.UTF8String
    // 200k random pairs across three regimes: fixture-like normalized
    // text (lowercase+digits+space, syllable-ish lengths), near-dup
    // edits of a shared base, and fully random ascii incl. length
    // extremes (1..64). Exact Double equality at cutoff 0 and 0.75 —
    // the pattern-match path must reproduce the reference kernel's greedy match
    // assignment, transpositions, prefix bonus, AND abort decisions.
    val rnd = new scala.util.Random(11)
    val alnum = "abcdefghijklmnopqrstuvwxyz0123456789 "
    def fixtureLike(): String =
      (0 until 20 + rnd.nextInt(40)).map(_ => alnum(rnd.nextInt(alnum.length))).mkString
    def anyAscii(): String =
      (0 until 1 + rnd.nextInt(64)).map(_ => (0x20 + rnd.nextInt(0x5f)).toChar).mkString
    def edit(s: String): String = {
      val sb = new StringBuilder(s)
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        if (sb.nonEmpty) sb.setCharAt(rnd.nextInt(sb.length), alnum(rnd.nextInt(alnum.length)))
      }
      sb.toString
    }
    var n = 0
    while (n < 200000) {
      val (a, b) = (rnd.nextInt(3): @unchecked) match {
        case 0 => (fixtureLike(), fixtureLike())
        case 1 => val base = fixtureLike(); (base, edit(base))
        case 2 => (anyAscii(), anyAscii())
      }
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      assert(JW.jwAsciiSmall(ua, ub) == JW.jwAsciiSmallRef(ua, ub), s"plain '$a' / '$b'")
      assert(JW.jwAsciiSmall(ua, ub, 0.75) == JW.jwAsciiSmallRef(ua, ub, 0.75), s"gated '$a' / '$b'")
      n += 1
    }
  }
}
