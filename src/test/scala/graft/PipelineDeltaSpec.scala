package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.schema.Fixture
import graft.pipeline.Pipeline
import java.nio.file.Files

/** Incremental-resolution contract (Pipeline.runDelta): when no block
  * crosses maxBlockSize between the prior and combined runs (t1 blocks
  * are far under the default 1000 cap), a delta run over increment B
  * against prior(A) must emit
  *   - a clusters table EQUAL to `run(A ∪ B)`'s (same labels, not just
  *     the same partition — prior hard labels are min-member canonical,
  *     so contraction preserves the full run's min),
  *   - scored pairs that complement the prior's exactly
  *     (prior ∪ delta = full, disjoint),
  * and the delta dir must itself be a valid prior (chained increments).
  */
class PipelineDeltaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // deterministic 3-way hash split of the t1 corpus: A (60%) is the
  // initial corpus, B and C (20% each) are two successive increments
  private lazy val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF().cache()
  private def part(p: org.apache.spark.sql.Column) = docs.where(p)
  private lazy val docsA = part(pmod(xxhash64(col("doc_id")), lit(5)) < 3)
  private lazy val docsB = part(pmod(xxhash64(col("doc_id")), lit(5)) === 3)
  private lazy val docsC = part(pmod(xxhash64(col("doc_id")), lit(5)) === 4)

  private def dir(tag: String) = Files.createTempDirectory(s"graft_delta_$tag").toString

  private lazy val dirPrior = dir("prior")
  private lazy val prior =
    Pipeline.run(spark, docsA, dirPrior, Pipeline.Cfg(persistForDelta = true))
  private lazy val dirD1 = dir("d1")
  private lazy val d1 = {
    prior // force the prior pipeline before the delta consumes its dir
    Pipeline.runDelta(spark, docsA, docsB, dirPrior, dirD1)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    assert(b.columns.sorted.sameElements(a.columns.sorted), s"$what: schema mismatch")
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    val extra = x.exceptAll(y).count()
    val missing = y.exceptAll(x).count()
    assert(extra == 0 && missing == 0, s"$what: extra=$extra missing=$missing")
  }

  test("delta clusters == full-run clusters (labels included)") {
    val full = Pipeline.run(spark, docsA.unionByName(docsB), dir("fullAB"))
    assertSameRows(d1.clusters, full.clusters, "clusters A∪B")
    // and the run did delta-sized work: every candidate pair involves a new doc
    val newIds = d1.candidates
      .join(docsB.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(docsB.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .count()
    assert(newIds == 0, s"$newIds delta candidate pairs touch no new doc")
  }

  test("delta scored pairs are BIT-EQUAL to the full run's; prior pair set exact") {
    val full = Pipeline.run(spark, docsA.unionByName(docsB), dir("fullAB2"))
    // pairs with both ends in A were scored by the prior run; everything
    // else involves a B doc and was scored by the delta
    val aIdsA = docsA.select(col("doc_id").as("doc_a"))
    val aIdsB = docsA.select(col("doc_id").as("doc_b"))
    val fullPrior = full.scoredPairs
      .join(aIdsA, Seq("doc_a"), "left_semi")
      .join(aIdsB, Seq("doc_b"), "left_semi")
      // using-column joins move the key to the front; exceptAll below
      // is positional, so restore the original column order
      .select(full.scoredPairs.columns.map(col).toSeq: _*)
    val fullDelta = full.scoredPairs.exceptAll(fullPrior)
    // delta pairs score with the MERGED corpus statistics → every
    // column, score floats included, matches the full run exactly
    assertSameRows(d1.scoredPairs, fullDelta, "delta-scored pairs")
    // prior pairs keep their at-scoring-time media-rarity statistics
    // (standard incremental semantics — a re-baseline run refreshes
    // them): scores AND decisions may drift where a media_ref's dffrac
    // crossed maxDfFrac between snapshots (t1's per-entity refs sit
    // right at the 0.02 boundary, so drift is real here — the test 1
    // cluster equality shows the flips are connectivity-redundant).
    // The blocking decomposition itself is exact: same pair SET.
    assertSameRows(
      prior.scoredPairs.select("doc_a", "doc_b"),
      fullPrior.select("doc_a", "doc_b"),
      "prior pair set")
    assert(
      prior.scoredPairs.select("doc_a", "doc_b")
        .intersect(d1.scoredPairs.select("doc_a", "doc_b")).count() == 0)
  }

  test("chained increment: runDelta over a delta dir == full run over A∪B∪C") {
    // df-threshold-free weights (every shared ref counts as rare): the
    // ONLY inexactness in chained increments is frozen prior scores
    // flipping when a media_ref's rarity crosses maxDfFrac between
    // snapshots, so with the threshold out of reach the contract is
    // EXACT equality across two chained increments — contraction,
    // merged key/df tables and the _parents attach chain all on the
    // line. (Merged-statistics exactness itself is pinned by the
    // default-weights delta test above.)
    val w = graft.scoring.Scoring.Weights(maxDfFrac = 1.0)
    val cfgP = Pipeline.Cfg(weights = w, persistForDelta = true)
    val cfg = Pipeline.Cfg(weights = w)
    val pDir = dir("cprior")
    Pipeline.run(spark, docsA, pDir, cfgP)
    val dDir1 = dir("cd1")
    Pipeline.runDelta(spark, docsA, docsB, pDir, dDir1, cfg)
    val d2 = Pipeline.runDelta(spark, docsA.unionByName(docsB), docsC, dDir1, dir("cd2"), cfg)
    val full = Pipeline.run(spark, docs, dir("fullABC"), cfg)
    assertSameRows(d2.clusters, full.clusters, "clusters A∪B∪C")
  }

  test("clusterChanges CDC: delta-sized, kinds correct, replays prior → delta exactly") {
    d1 // force both runs
    val ch = Pipeline.clusterChanges(spark, dirPrior, dirD1).cache()
    // every B doc appears as 'added'; nothing is 'removed' (runDelta
    // cannot retract); 'moved' rows are prior docs with a changed label
    val added = ch.where(col("change_kind") === "added")
    assert(added.count() == docsB.count())
    assert(
      added.join(docsB.select("doc_id"), Seq("doc_id"), "left_anti").count() == 0,
      "an 'added' doc is not an increment doc")
    assert(ch.where(col("change_kind") === "removed").count() == 0)
    val movedBad = ch.where(col("change_kind") === "moved")
      .join(docsA.select("doc_id"), Seq("doc_id"), "left_anti").count()
    assert(movedBad == 0, s"$movedBad 'moved' docs are not prior docs")
    // replay: prior clusters + changes == delta clusters, row for row
    val prior = spark.read.parquet(s"$dirPrior/clusters")
    val replayed = prior
      .join(ch.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(
        ch.where(col("new_cluster").isNotNull)
          .select(col("doc_id"), col("new_cluster").as("cluster_id")))
    assertSameRows(replayed, d1.clusters, "replayed clusters")
  }

  test("guards: dense ids, non-delta prior, and doc upserts are rejected loudly") {
    // dense ids are a per-run dictionary — no stable cross-run id space
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, docsA, docsB, dirPrior, dir("gdense"),
        Pipeline.Cfg(ids = "dense"))
    }
    assert(e1.getMessage.contains("dense"))
    // a prior run without persistForDelta has no keys/cc_assign tables
    val plainDir = dir("gplain")
    Pipeline.run(spark, docsA, plainDir)
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, docsA, docsB, plainDir, dir("gprior"))
    }
    assert(e2.getMessage.contains("persistForDelta"))
    // increments add docs; re-submitting an existing doc needs a retract
    val e3 = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, docsA, docsA.limit(3), dirPrior, dir("gup"))
    }
    assert(e3.getMessage.contains("cannot upsert"))
  }

  test("a null doc_id in the increment is rejected at delta stage B, before candidates are written") {
    prior // the delta needs a completed prior
    val first = docsB.select("doc_id").orderBy("doc_id").head().getString(0)
    val bad = docsB.withColumn("doc_id",
      when(col("doc_id") === first, lit(null).cast("string")).otherwise(col("doc_id")))
    val dirN = dir("nullid")
    val e = intercept[IllegalArgumentException](Pipeline.runDelta(spark, docsA, bad, dirPrior, dirN))
    assert(e.getMessage.contains("null doc_id"), e.getMessage)
    assert(!new java.io.File(s"$dirN/candidates").exists(), "delta stage B must not have written candidates")
  }

  test("a null span text or media_ref in the increment is rejected at delta stage B") {
    prior // the delta needs a completed prior
    def firstWith(kind: String) = docsB.where(exists(col("spans"), s => s.getField("kind") === kind))
      .select("doc_id").orderBy("doc_id").head().getString(0)
    // both fields nulled on every span of one doc with text and one with media
    val bad = docsB.withColumn("spans", when(col("doc_id").isin(firstWith("text"), firstWith("media")),
      transform(col("spans"), s => s.withField("text", lit(null).cast("string"))
        .withField("media_ref", lit(null).cast("string"))))
      .otherwise(col("spans")))
    val dirN = dir("nullspan")
    val e = intercept[IllegalArgumentException](Pipeline.runDelta(spark, docsA, bad, dirPrior, dirN))
    assert("[1-9]\\d* text spans with a null text and [1-9]\\d* media spans with a null media_ref"
      .r.findFirstIn(e.getMessage).isDefined, e.getMessage)
    assert(!new java.io.File(s"$dirN/candidates").exists(), "delta stage B must not have written candidates")
  }

  test("delta == full on random splits: runDelta(A, B) clusters equal run(A ∪ B)'s, labels included") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.propBoolean
    // a small corpus, split by a random fraction and salt; threshold-free
    // media weights as in the chained test (prior pairs keep their
    // at-scoring-time rarity), so the contract is exact
    val w = graft.scoring.Scoring.Weights(maxDfFrac = 1.0)
    val corpus = Fixture.docs(spark, Fixture.Cfg(entities = 10, seed = 11L, docsPerEntityMin = 3,
      docsPerEntityMax = 8)).toDF().cache()
    val full = Pipeline.run(spark, corpus, dir("pfull"), Pipeline.Cfg(weights = w)).clusters.collect().toSet
    PropCheck.check(Prop.forAllNoShrink(Gen.choose(1, 9), Gen.choose(0L, Int.MaxValue.toLong)) { (tenths, salt) =>
      val inA = pmod(xxhash64(col("doc_id"), lit(salt)), lit(10)) < tenths
      val (a, b) = (corpus.where(inA), corpus.where(!inA))
      val pDir = dir("pprior")
      Pipeline.run(spark, a, pDir, Pipeline.Cfg(weights = w, persistForDelta = true))
      val got = Pipeline.runDelta(spark, a, b, pDir, dir("pdelta"), Pipeline.Cfg(weights = w)).clusters.collect().toSet
      (got == full) :| s"A = ${tenths}0% split, salt $salt: ${(got -- full).size} rows only in delta, " +
        s"${(full -- got).size} only in the full run"
    }, minSuccessful = 5)
  }

  test("_parents pin: resuming a delta dir against a different prior fails loudly") {
    d1 // dirD1 holds a completed delta run against dirPrior
    // a second delta-capable prior for the same increment
    val dirPrior2 = dir("prior2")
    Pipeline.run(spark, docsA, dirPrior2, Pipeline.Cfg(persistForDelta = true))
    // re-invoking the SAME delta dir against the new prior must not
    // silently mix checkpoints computed against two priors
    val e = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, docsA, docsB, dirPrior2, dirD1)
    }
    assert(e.getMessage.contains("different prior chain"))
    // the original prior still resumes cleanly (idempotent)
    val resumed = Pipeline.runDelta(spark, docsA, docsB, dirPrior, dirD1)
    assert(resumed.clusters.count() > 0)
  }

  test("resume into persistForDelta: a plain run's dir becomes delta-capable") {
    val dirUp = dir("upgrade")
    Pipeline.run(spark, docsA, dirUp) // no delta surfaces persisted
    assert(!new java.io.File(s"$dirUp/cc_assign/_SUCCESS").exists())
    // rerun same dir WITH persistForDelta: clusters checkpoint is hit,
    // but cc_assign/keys/media_df/corpus_stats must still appear
    val r2 = Pipeline.run(spark, docsA, dirUp, Pipeline.Cfg(persistForDelta = true))
    Seq("cc_assign", "keys", "media_df", "corpus_stats").foreach { s =>
      assert(new java.io.File(s"$dirUp/$s/_SUCCESS").exists(), s"$s missing after upgrade resume")
    }
    // and the upgraded dir actually works as a delta prior, with the
    // recomputed pre-attach labels consistent with its clusters table
    val d = Pipeline.runDelta(spark, docsA, docsB, dirUp, dir("upd"))
    val full = Pipeline.run(spark, docsA.unionByName(docsB), dir("upfull"))
    assert(d.clusters.orderBy("doc_id").collect().toSeq ==
      full.clusters.orderBy("doc_id").collect().toSeq)
    assert(r2.clusters.count() > 0)
  }
}
