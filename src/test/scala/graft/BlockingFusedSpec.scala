package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.functions.MinHashKernel
import graft.schema.{Doc, Fixture, Span, SpanView}
import graft.text.TextOps

/** The fused MinHash kernel (functions/MinHashBands.scala) must emit
  * BIT-IDENTICAL (doc_id, key_kind, block_key) rows to the
  * explode→k-min-aggregate formulation — blocking keys feed the
  * byte-stable candidate checkpoint, so "same recall" is not enough.
  * Exercised on the t1 fixture plus edge docs: empty text, text
  * shorter than the shingle width, exact shingle-width text, non-ASCII
  * text (char-window ≠ byte-window), and media-only docs. */
class BlockingFusedSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** The explode→k-min-aggregate formulation of Blocking.docKeys' lsh
    * keys, built from the TextOps primitives: shingle hashes exploded
    * to rows, one k-column min() aggregate per doc, then the band keys
    * of the signature. Media keys come from Blocking.docKeys itself. */
  private def aggregateKeys(docs: DataFrame, cfg: Blocking.Cfg): DataFrame = {
    import TextOps._
    val texts = transform(
      filter(col("spans"), s => s.getField("kind") === lit("text")),
      s => s.getField("text"))
    val shingleRows = docs.select(
      col("doc_id"),
      explode(shingleHashes(charShingles(normText(array_join(texts, " ")), cfg.shingleN))).as("h"))
    val aggs = minhashAggExprs(col("h"), cfg.minhashK, cfg.seed)
    val lsh = shingleRows
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), minhashSigFromAgg(cfg.minhashK).as("sig"))
      .select(col("doc_id"), lit("lsh").as("key_kind"),
        explode(bandKeys(col("sig"), cfg.bands, cfg.rows)).as("block_key"))
    lsh.unionByName(Blocking.docKeys(SpanView(docs), cfg).where(col("key_kind") === "media"))
  }

  private def keySet(docs: DataFrame, fused: Boolean): Set[(String, String, Long)] = {
    val cfg = Blocking.Cfg()
    (if (fused) Blocking.docKeys(SpanView(docs), cfg) else aggregateKeys(docs, cfg))
      .collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[String]("key_kind"), r.getAs[Long]("block_key")))
      .toSet
  }

  test("fused band keys equal the aggregate path exactly on the t1 fixture") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
    val fused = keySet(docs, fused = true)
    val agg = keySet(docs, fused = false)
    assert(fused.size > 1000)
    assert(fused == agg,
      s"only-fused=${(fused -- agg).take(5)} only-agg=${(agg -- fused).take(5)}")
  }

  test("fused band keys equal the aggregate path on edge-case docs") {
    import spark.implicits._
    def text(t: String, off: Int) = Span("text", t, null, off)
    def media(m: String, off: Int) = Span("media", null, m, off)
    val docs = Seq(
      Doc("b01", Seq(text("", 0))),                          // empty text
      Doc("b02", Seq(text("ab", 0))),                        // shorter than shingleN
      Doc("b03", Seq(text("abcd", 0))),                      // exactly shingleN
      Doc("b04", Seq(text("abcde", 0))),                     // shingleN + 1
      Doc("b05", Seq(text("the quick brown fox jumps over the lazy dog", 0))),
      Doc("b06", Seq(text("päivää öljyä überhaupt çok ğüzel", 0))),  // non-ASCII survives normText? no — but kernel must agree anyway
      Doc("b07", Seq(media("asset_only", 0))),               // media-only
      Doc("b08", Seq.empty[Span]),                           // no spans
      Doc("b09", Seq(text("aaaa aaaa aaaa", 0)))             // heavy duplicate shingles
    ).toDF()
    assert(keySet(docs, fused = true) == keySet(docs, fused = false))
  }

  test("kernel agrees with the declarative chain on raw (un-normalized) unicode text") {
    // bypass normText: feed multi-byte strings straight through both
    // formulations to pin the char-window/byte-offset logic
    import graft.text.TextOps._
    import spark.implicits._
    val cfg = Blocking.Cfg()
    val df = Seq("päivää öljyä überhaupt", "ağır ğüzel çok", "日本語のテキスト断片", "mixed ascii ve türkçe metin")
      .toDF("dt")
    val declarative = df.select(
      col("dt"),
      explode(bandKeys(
        {
          // sig via array combinators (tiny input, tree size irrelevant)
          val hs = shingleHashes(charShingles(col("dt"), cfg.shingleN))
          val ab = affineConsts(cfg.minhashK, cfg.seed)
          array(ab.map { case (a, b) =>
            array_min(transform(hs, h =>
              pmod(pmod(h, lit(mersennePrime)) * lit(a) + lit(b), lit(mersennePrime))))
          }: _*)
        }, cfg.bands, cfg.rows)).as("bk")
    ).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fused = df.select(
      col("dt"),
      explode(graft.functions.MinHashBands.bandKeys(
        col("dt"), cfg.shingleN, cfg.minhashK, cfg.bands, cfg.seed)).as("bk")
    ).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fused == declarative)
  }

  test("Mersenne fold equals floorMod(x, P) for every non-negative long") {
    val p = TextOps.mersennePrime
    val edges = Seq(0L, p - 1, p, 1L << 31, 2 * p, (p - 1) * (p - 1) + (p - 1), Long.MaxValue)
    edges.foreach { x =>
      assert(MinHashKernel.modP(x) == java.lang.Math.floorMod(x, p), s"x=$x")
    }
    PropCheck.check(
      // the whole non-negative range, plus the kernel's own operand
      // range floorMod(h, P)·a + b ≤ (P−1)² + (P−1) and the [0, 4P) band;
      // no shrinking, because Long shrinks step outside the domain
      Prop.forAllNoShrink(Gen.oneOf(
        Gen.chooseNum(0L, Long.MaxValue),
        Gen.chooseNum(0L, (p - 1) * (p - 1) + (p - 1)),
        Gen.chooseNum(0L, 4 * p))) { x =>
        MinHashKernel.modP(x) == java.lang.Math.floorMod(x, p)
      },
      minSuccessful = 100000)
  }
}
