package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.schema.{Fixture, SpanView}

/** Delta blocking contract (Blocking.deltaCandidates): when no block's
  * size crosses maxBlockSize between the prior and combined runs, the
  * full run's pair set decomposes EXACTLY as
  * `candidatesFromKeys(old ∪ new) ≡ candidatesFromKeys(old) ∪
  * deltaCandidates(new, old)` — including the witness key and salt
  * columns, because the delta checkpoint must be byte-compatible with
  * a full run's. Plus the cap semantics: combined census, so new pairs
  * from a block pushed over the cap by new docs are dropped exactly as
  * a full run would drop them. */
class BlockingDeltaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Long, Int)] =
    df.collect().map(r => (
      r.getAs[String]("doc_a"), r.getAs[String]("doc_b"),
      r.getAs[String]("key_kind"), r.getAs[Long]("block_key"), r.getAs[Int]("salt")
    )).toSet

  test("full pair set = prior pairs ∪ delta pairs on a hash-split t1 fixture") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
    val oldDocs = docs.where(pmod(xxhash64(col("doc_id")), lit(5)) < 4)
    val newDocs = docs.where(pmod(xxhash64(col("doc_id")), lit(5)) === 4)
    val cfg = Blocking.Cfg()

    val keysAll = Blocking.docKeys(SpanView(docs), cfg).localCheckpoint(true)
    val keysOld = Blocking.docKeys(SpanView(oldDocs), cfg).localCheckpoint(true)
    val keysNew = Blocking.docKeys(SpanView(newDocs), cfg).localCheckpoint(true)

    val full = rows(Blocking.candidatesFromKeys(keysAll, cfg))
    val prior = rows(Blocking.candidatesFromKeys(keysOld, cfg))
    val delta = rows(Blocking.deltaCandidates(keysNew, keysOld, cfg))

    assert(newDocs.count() > 100 && delta.nonEmpty)
    // delta pairs all involve a new doc, and never duplicate prior pairs
    val newIds = newDocs.select("doc_id").collect().map(_.getString(0)).toSet
    assert(delta.forall(p => newIds(p._1) || newIds(p._2)))
    assert((delta & prior).isEmpty)
    assert(prior ++ delta == full,
      s"missing=${(full -- prior -- delta).take(5)} extra=${((prior ++ delta) -- full).take(5)}")
  }

  test("combined census drops a block pushed over the cap by new docs") {
    import spark.implicits._
    // one block 'k': 3 old members, 2 new members; cap 4 — a full run
    // over all 5 would drop it, so the delta must emit NO pairs from it.
    // Block 'm': 1 old + 1 new = 2 members, under cap — one delta pair.
    val oldKeys = Seq(
      ("o1", "lsh", 7L), ("o2", "lsh", 7L), ("o3", "lsh", 7L),
      ("o4", "lsh", 9L)
    ).toDF("doc_id", "key_kind", "block_key")
    val newKeys = Seq(
      ("n1", "lsh", 7L), ("n2", "lsh", 7L),
      ("n5", "lsh", 9L)
    ).toDF("doc_id", "key_kind", "block_key")
    val cfg = Blocking.Cfg(maxBlockSize = 4)
    val delta = rows(Blocking.deltaCandidates(newKeys, oldKeys, cfg))
    assert(delta.size == 1)
    assert(delta.head._1 == "n5" && delta.head._2 == "o4" && delta.head._4 == 9L)
  }
}
