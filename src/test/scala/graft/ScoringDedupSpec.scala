package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.schema.{Doc, Fixture, Span}
import graft.blocking.Blocking
import graft.scoring.Scoring

/** The fused stage S (one kernel expression per pair over dict-id
  * arrays) must be VALUE-IDENTICAL to the direct path (inline string
  * kernels over exploded span pairs, the dictionary-overflow fallback)
  * on every column — scores feed the F1 gate and the byte-stable resume
  * invariant, so "close" is not enough. Exercised on the t1 fixture
  * (realistic phrase repetition) plus hand-built edge docs: empty texts
  * arrays, empty-string spans, media-only docs, exact-duplicate spans,
  * non-ASCII and over-64-byte fallback texts, and a doc past textRep's
  * 64-span cap with a near-duplicate partner (mask bit 63). */
class ScoringDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def key(r: Row): (String, String) = (r.getAs[String]("doc_a"), r.getAs[String]("doc_b"))

  /** Asserts fused == direct; returns the scored rows by pair. */
  private def assertIdentical(
      cand: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame
  ): Map[(String, String), Row] = {
    val txt = Scoring.textRep(docs).localCheckpoint(true)
    val med = Scoring.mediaRep(docs).localCheckpoint(true)
    val dict = Scoring.textDictDense(txt).localCheckpoint(true)
    val rep = Scoring.textIdsRep(txt, dict, med)
    val a = Scoring.scoreWithRepsDirect(cand, txt, med).collect().map(r => key(r) -> r).toMap
    val b = Scoring.scoreWithRepsFused(cand, rep, Scoring.Weights(), Scoring.broadcastDict(dict))
      .collect().map(r => key(r) -> r).toMap
    assert(a.keySet == b.keySet,
      s"pair sets differ: only-direct=${(a.keySet -- b.keySet).take(5)} only-fused=${(b.keySet -- a.keySet).take(5)}")
    a.foreach { case (k, ra) =>
      assert(ra == b(k), s"pair $k differs:\n direct=$ra\n fused =${b(k)}")
    }
    a
  }

  test("fused path equals direct path exactly on the t1 fixture") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
    val cand = Blocking.candidates(docs, Blocking.Cfg()).localCheckpoint(true)
    assert(cand.count() > 1000, "fixture should produce a meaningful candidate set")
    assertIdentical(cand, docs)
  }

  test("fused path equals direct path on edge-case docs") {
    import spark.implicits._
    def text(t: String, off: Int) = Span("text", t, null, off)
    def media(m: String, off: Int) = Span("media", null, m, off)
    // 70 distinct random ASCII spans (JW between two of them stays far
    // below the 0.75 cutoff); the partner near-duplicates every third
    // one plus index 63, the last span textRep keeps
    val rnd = new scala.util.Random(7)
    val many = Seq.fill(70)(Seq.fill(20)(('a' + rnd.nextInt(26)).toChar).mkString)
    val partner = many.zipWithIndex.map { case (t, i) =>
      if (i % 3 == 0 || i == 63) t.init + (if (t.last == 'z') 'a' else (t.last + 1).toChar)
      else Seq.fill(20)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val docs = Seq(
      Doc("e01", Seq(text("shared phrase alpha beta", 0), text("", 1))),     // empty-string span
      Doc("e02", Seq(text("shared phrase alpha beta", 0), text("", 1))),     // exact dup incl. empty
      Doc("e03", Seq(media("asset_only", 0))),                               // no text spans at all
      Doc("e04", Seq(media("asset_only", 0))),
      Doc("e05", Seq(text("shared phrase alpha betu", 0))),                  // 1-edit neighbor
      Doc("e06", Seq(text("päivää öljyä überhaupt çok", 0))),                // non-ASCII kernel fallback
      Doc("e07", Seq(text("päivää öljyä überhaupt çök", 0))),
      Doc("e08", Seq.empty[Span]),                                           // empty spans array
      Doc("e09", Seq(text("shared phrase alpha beta gamma delta epsilon zeta eta theta iota kappa", 0))), // > 64 bytes: String kernels
      Doc("e10", many.zipWithIndex.map { case (t, i) => text(t, i) }),      // past the 64-span cap
      Doc("e11", partner.zipWithIndex.map { case (t, i) => text(t, i) })   // near-dup partner: mask bit 63
    ).toDF()
    val ids = docs.select("doc_id").as[String].collect().sorted
    val cand = ids.combinations(2).map { case Array(a, b) => (a, b) }.toSeq.toDF("doc_a", "doc_b")
    val capped = assertIdentical(cand, docs)(("e10", "e11"))
    assert(capped.getAs[Long]("mask_a") < 0 && capped.getAs[Long]("mask_b") < 0,
      s"span 63 must strongly match on both sides: $capped")
  }
}
