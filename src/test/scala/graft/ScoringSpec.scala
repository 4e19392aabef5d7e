package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.schema.{Doc, Span}
import graft.scoring.Scoring

/** Decision-boundary semantics of the FS scorer: the contamination-
  * safety property (one borrowed span must never clear the gate) and
  * the evidence combinations that must. Mirrors the reference's
  * threshold-gate intent (reference: src/core/cross_device_linker.py:
  * 130-136, threshold at :31). */
class ScoringSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docsDF(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.toDF()
  }

  private def pairScore(docs: Seq[Doc], a: String, b: String): (Double, Boolean, Long) = {
    import spark.implicits._
    val cand = Seq((a, b)).toDF("doc_a", "doc_b")
    val r = Scoring.score(cand, docsDF(docs)).head()
    (r.getAs[Double]("score"), r.getAs[Boolean]("is_match"), r.getAs[Long]("strong_min"))
  }

  private def text(t: String, off: Int) = Span("text", t, null, off)
  private def media(m: String, off: Int) = Span("media", null, m, off)

  // background docs so media document frequencies are meaningful
  // (200 docs → a 3-doc asset has df 1.5% < the 2% rare cutoff)
  private def background: Seq[Doc] =
    (0 until 200).map(i => Doc(f"bg$i%03d", Seq(text(s"unrelated filler phrase number $i", 0), media(s"bg_asset_$i", 1))))

  test("two shared phrases clear the gate; one shared phrase does not") {
    val d = background ++ Seq(
      Doc("x01", Seq(text("ladu miko pera sonte velu", 0), text("karo bine tasselo morid vanu", 1))),
      Doc("x02", Seq(text("ladu miko pera sonte velu", 0), text("karo bine taselo morid vanu", 1))), // both phrases (1 edit)
      Doc("x03", Seq(text("ladu miko pera sonte velu", 0), text("completely different sentence here", 1)))
    )
    val (s2, m2, sm2) = pairScore(d, "x01", "x02")
    assert(sm2 >= 2 && m2, s"two-phrase pair should match (score=$s2)")
    val (s1, m1, sm1) = pairScore(d, "x01", "x03")
    assert(sm1 == 1 && !m1, s"single-phrase pair must NOT match (score=$s1) — contamination safety")
  }

  test("one borrowed media asset alone does not clear the gate; shared rare asset + shared phrase does") {
    val d = background ++ Seq(
      Doc("y01", Seq(text("aaa bbb ccc ddd eee", 0), media("rare_asset_1", 1))),
      Doc("y02", Seq(text("zzz yyy xxx www vvv", 0), media("rare_asset_1", 1))), // media only
      Doc("y03", Seq(text("aaa bbb ccc ddd eef", 0), media("rare_asset_1", 1)))  // media + phrase
    )
    val (sMedia, mMedia, _) = pairScore(d, "y01", "y02")
    assert(!mMedia, s"single shared asset must NOT match (score=$sMedia)")
    val (sBoth, mBoth, _) = pairScore(d, "y01", "y03")
    assert(mBoth, s"rare asset + shared phrase should match (score=$sBoth)")
  }

  test("hot (high-df) asset carries almost no weight") {
    val hotBg = (0 until 60).map(i =>
      Doc(f"hb$i%03d", Seq(text(s"unique hot filler $i", 0), media("hot_asset", 1))))
    val d = hotBg ++ Seq(
      Doc("h01", Seq(text("aaa bbb ccc ddd eee", 0), media("hot_asset", 1))),
      Doc("h02", Seq(text("zzz yyy xxx www vvv", 0), media("hot_asset", 1)))
    )
    val (s, m, _) = pairScore(d, "h01", "h02")
    assert(!m && s < 2.0, s"hot-asset-only pair must score low (score=$s)")
  }

  test("docs with no media are unaffected by the media field when text is decisive") {
    val d = background ++ Seq(
      Doc("n01", Seq(text("ladu miko pera sonte velu", 0), text("karo bine tasselo morid vanu", 1))),
      Doc("n02", Seq(text("ladu miko pera sonte velu", 0), text("karo bine tasselo morid vanu", 1)))
    )
    val (_, m, sm) = pairScore(d, "n01", "n02")
    assert(m && sm >= 2)
  }

  test("a scoring chunk runs one per-doc rep through exactly 2 joins and at most 4 shuffles (broadcast off)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // own session: broadcast joins off (static and adaptive) without
    // touching the shared session's conf
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val docs = graft.schema.Fixture.docs(s, graft.schema.Fixture.scales("t1")).toDF()
    val cand = graft.blocking.Blocking.candidates(docs, graft.blocking.Blocking.Cfg()).localCheckpoint(true)
    val txt = Scoring.textRep(docs).localCheckpoint(true)
    val dict = Scoring.textDictDense(txt).localCheckpoint(true)
    val rep = Scoring.textIdsRep(txt, dict, Scoring.mediaRep(docs)).localCheckpoint(true)
    val scored = Scoring.scoreWithRepsFused(cand, rep, Scoring.Weights(), Scoring.broadcastDict(dict))
    scored.write.format("noop").mode("overwrite").save()
    // the executed plan with AQE unwrapped: the final plan and the plan
    // inside every query stage
    object Walk extends AdaptiveSparkPlanHelper
    val plan: SparkPlan = scored.queryExecution.executedPlan
    val joins = Walk.collect(plan) { case j: BaseJoinExec => j.nodeName }
    val shuffles = Walk.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(joins.size == 2, s"joins: $joins\n$plan")
    assert(shuffles.size <= 4, s"${shuffles.size} shuffle exchanges\n$plan")
  }
}
