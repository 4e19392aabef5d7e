package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.schema.{Fixture, SpanView}

/** Round-6 optimization contract: the witness dedup's per-kind
  * conditional-min HashAggregate (Blocking.dedupWitness) must produce
  * EXACTLY the rows of the naive `min(struct(key_kind, block_key))`
  * SortAggregate it replaced — witness kind, witness key, and salt —
  * for both the pipeline kind set ({lsh, media}) and the md5 band
  * kind set (b00..b11, the q38/q42 shape), full and delta variants,
  * and on random small key tables. */
class BlockingWitnessSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** The reference formulation, inlined: census cap + self-join +
    * struct-min witness (the exact pre-round-6 code path). */
  private def structMinCandidates(
      keys: org.apache.spark.sql.DataFrame,
      cfg: Blocking.Cfg
  ): org.apache.spark.sql.DataFrame = {
    val census = keys.groupBy("key_kind", "block_key").agg(count("*").as("block_n"))
    val kept = keys
      .join(census.where(col("block_n") <= cfg.maxBlockSize), Seq("key_kind", "block_key"))
      .select("key_kind", "block_key", "doc_id")
    val a = kept.select(col("key_kind"), col("block_key"), col("doc_id").as("doc_a"))
    val b = kept.select(col("key_kind"), col("block_key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("key_kind", "block_key"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(min(struct(col("key_kind"), col("block_key"))).as("w"))
      .select(
        col("doc_a"), col("doc_b"),
        col("w.key_kind").as("key_kind"),
        col("w.block_key").as("block_key"),
        pmod(xxhash64(col("doc_a"), col("doc_b")), lit(cfg.salts)).cast("int").as("salt")
      )
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Long, Int)] =
    df.collect().map(r => (
      r.getAs[Any]("doc_a").toString, r.getAs[Any]("doc_b").toString,
      r.getAs[String]("key_kind"), r.getAs[Long]("block_key"), r.getAs[Int]("salt")
    )).toSet

  test("pipeline kinds (lsh/media): conditional-min == struct-min, incl. witness and salt") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
    val cfg = Blocking.Cfg()
    val keys = Blocking.docKeys(SpanView(docs), cfg).localCheckpoint(true)
    val got = rows(Blocking.candidatesFromKeys(keys, cfg))
    val want = rows(structMinCandidates(keys, cfg))
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("md5 band kinds (b00..b11, q38 shape): conditional-min == struct-min") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
      .select(col("doc_id").as("id"),
        concat_ws(" ", transform(col("spans"), s => s.getField("text"))).as("text"))
    val keys = graft.ops.Dedup.blockingKeysMd5(docs).localCheckpoint(true)
    val cfg = Blocking.Cfg(maxBlockSize = 10)
    val got = rows(Blocking.candidatesFromKeys(keys, cfg))
    val want = rows(structMinCandidates(keys, cfg))
    assert(got.nonEmpty)
    assert(got === want)
  }

  // kind vocabulary: upper case sorts before lower case, and UTF-8 byte
  // order puts the supplementary character after U+FF21 (UTF-16 order
  // would not)
  private val kindPool = Seq("lsh", "media", "Z", "b00", "\u00e9", "\uff21", "\ud83d\ude00")

  /** A key table over a few docs, a narrow block_key range (blocks
    * collide) and a kind set of 0, 1, 2, 3 or 65 kinds (65 takes the
    * struct-min fallback for more than 64 kinds); every kind appears. */
  private val keyTable: Gen[(Int, Seq[(String, String, Long)])] = {
    def row(nDocs: Int, kind: Gen[String]) =
      Gen.zip(Gen.choose(0, nDocs - 1).map(d => f"d$d%02d"), kind, Gen.choose(0L, 3L))
    for {
      nKinds <- Gen.oneOf(0, 1, 2, 3, 65)
      kinds <- if (nKinds == 65) Gen.const((0 until 65).map(i => f"k$i%02d"))
        else Gen.pick(nKinds, kindPool).map(_.toSeq)
      nDocs <- Gen.choose(2, 10)
      each <- Gen.sequence[Seq[Seq[(String, String, Long)]], Seq[(String, String, Long)]](
        kinds.map(k => Gen.listOfN(2, row(nDocs, Gen.const(k)))))
      extra <- if (kinds.isEmpty) Gen.const(Nil) else Gen.listOfN(3 * nDocs, row(nDocs, Gen.oneOf(kinds)))
    } yield (nKinds, (each.flatten ++ extra).distinct)
  }

  test("random key tables: candidatesFromKeys == struct-min reference (0-3 and 65 kinds, capped blocks)") {
    val s = spark
    import s.implicits._
    val sizes = scala.collection.mutable.Set.empty[Int]
    PropCheck.check(Prop.forAllNoShrink(keyTable, Gen.choose(2, 6)) { case ((nKinds, rowsIn), cap) =>
      sizes += nKinds
      val keys = rowsIn.toDF("doc_id", "key_kind", "block_key")
      val cfg = Blocking.Cfg(maxBlockSize = cap)
      val got = rows(Blocking.candidatesFromKeys(keys, cfg))
      val want = rows(structMinCandidates(keys, cfg))
      (got == want) :| s"kinds=$nKinds cap=$cap rows=$rowsIn\ngot=$got\nwant=$want"
    }, minSuccessful = 25)
    assert(sizes == Set(0, 1, 2, 3, 65), s"kind-set sizes drawn: $sizes")
  }

  test("delta variant: conditional-min keeps the BlockingDeltaSpec decomposition exact") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
    val oldDocs = docs.where(pmod(xxhash64(col("doc_id")), lit(5)) < 4)
    val newDocs = docs.where(pmod(xxhash64(col("doc_id")), lit(5)) === 4)
    val cfg = Blocking.Cfg()
    val keysAll = Blocking.docKeys(SpanView(docs), cfg).localCheckpoint(true)
    val keysOld = Blocking.docKeys(SpanView(oldDocs), cfg).localCheckpoint(true)
    val keysNew = Blocking.docKeys(SpanView(newDocs), cfg).localCheckpoint(true)
    val full = rows(structMinCandidates(keysAll, cfg))
    val prior = rows(Blocking.candidatesFromKeys(keysOld, cfg))
    val delta = rows(Blocking.deltaCandidates(keysNew, keysOld, cfg))
    assert(delta.nonEmpty)
    assert(prior.union(delta) === full)
  }
}
