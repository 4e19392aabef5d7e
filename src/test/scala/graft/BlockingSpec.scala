package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.schema.{Doc, Fixture, Span, SpanView}
import graft.blocking.Blocking

class BlockingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("candidates are canonical (doc_a < doc_b) and deduplicated") {
    val cfg = Fixture.scales("t1")
    import spark.implicits._
    val docs = Fixture.docs(spark, cfg).toDF().cache()
    val cand = Blocking.candidates(docs, Blocking.Cfg()).cache()
    assert(cand.where(col("doc_a") >= col("doc_b")).count() == 0)
    assert(cand.groupBy("doc_a", "doc_b").count().where(col("count") > 1).count() == 0)
  }

  test("same-entity docs overwhelmingly share at least one block key (recall of blocking)") {
    val cfg = Fixture.scales("t1")
    import spark.implicits._
    val docs = Fixture.docs(spark, cfg).toDF().cache()
    val labels = Fixture.labels(spark, cfg).toDF()
    val cand = Blocking.candidates(docs, Blocking.Cfg())
    val la = labels.select(col("doc_id").as("doc_a"), col("entity_id").as("ent_a"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("entity_id").as("ent_b"))
    val sameEntityCand = cand.join(la, "doc_a").join(lb, "doc_b")
      .where(col("ent_a") === col("ent_b")).count()
    // every doc should be blocked with at least a handful of its siblings
    val docsWithSibling = cand.join(la, "doc_a").join(lb, "doc_b")
      .where(col("ent_a") === col("ent_b"))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct().count()
    val total = docs.count()
    assert(sameEntityCand > 0)
    // design point: media keys + doc-level LSH put ~77% of docs in a
    // block with a sibling; the F1 gate is defined on the blocked
    // universe (north rule: "labeled pairs sharing a blocking key"),
    // so this asserts the floor doesn't regress.
    assert(docsWithSibling >= (total * 0.75).toLong, s"$docsWithSibling of $total docs blocked with a sibling")
  }

  test("block-size cap drops hot blocks and accounts for them in metrics") {
    import spark.implicits._
    // 300 docs all sharing one hot media ref + a unique one
    val docs = (0 until 300).map { i =>
      Doc(f"d$i%03d", Seq(Span("media", null, "hot", 0), Span("media", null, s"u$i", 1)))
    }.toDF()
    val cfg = Blocking.Cfg(maxBlockSize = 100)
    val cand = Blocking.candidates(docs, cfg)
    assert(cand.count() == 0, "all pairs come from the over-cap hot block")
    val m = Blocking.dropMetrics(Blocking.docKeys(SpanView(docs), cfg), cfg).head()
    assert(m.getDouble(0) == 1.0)
    assert(m.getDouble(1) == 300.0 * 299 / 2)
  }
}
