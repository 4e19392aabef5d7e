package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.schema.Fixture
import graft.pipeline.Pipeline
import graft.tools.Calibrate
import java.nio.file.Files

/** End-to-end gates (SURVEY.md §5.2): pairwise F1 ≥ 0.99 on labeled
  * same-block pairs, partition coverage invariants, span-sequence
  * invariant, and resume idempotency. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private lazy val runDir = Files.createTempDirectory("graft_pipe_spec").toString
  private lazy val result = {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF().cache()
    Pipeline.run(spark, docs, runDir)
  }
  private lazy val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF().cache()
  private lazy val labels = Fixture.labels(spark, Fixture.scales("t1")).toDF().cache()

  test("every doc appears in exactly one cluster") {
    val n = docs.count()
    assert(result.clusters.count() == n)
    assert(result.clusters.select("doc_id").distinct().count() == n)
  }

  test("a returned run leaves no checkpoint-metadata thread behind") {
    result.clusters.count()
    val live = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName == "ckpt-meta")
    assert(live.isEmpty, s"${live.length} ckpt-meta threads outlived Pipeline.run")
  }

  test("cluster ids are members of their own cluster (canonical-id stability)") {
    // canonical id = the doc_id of the min-nid member (dictIds path):
    // must BE a member, and must be the same member on every rerun
    // (determinism is covered by the resume byte-identity test below)
    val members = result.clusters.select(col("doc_id").as("m"))
    val bad = result.clusters.select(col("cluster_id").as("m")).distinct()
      .join(members, Seq("m"), "left_anti")
      .count()
    assert(bad == 0, s"$bad cluster ids are not member doc ids")
    // and with dictIds off, the canonical id is the lexicographic min
    val dirS = Files.createTempDirectory("graft_pipe_strid").toString
    val strRun = Pipeline.run(spark, docs, dirS, Pipeline.Cfg(dictIds = false))
    val badS = strRun.clusters
      .groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .where(col("cluster_id") =!= col("mn"))
      .count()
    assert(badS == 0)
    // same PARTITION either way: canonical labels differ but the
    // grouping must be identical (hash ids are order-scrambled, so this
    // is the real cross-path equivalence check)
    val a = result.clusters.groupBy("cluster_id")
      .agg(sort_array(collect_list("doc_id")).as("ms"))
      .select("ms")
    val b = strRun.clusters.groupBy("cluster_id")
      .agg(sort_array(collect_list("doc_id")).as("ms"))
      .select("ms")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "dictIds=true and dictIds=false must produce identical partitions")
    // dense-dictionary mode (the 10¹²-doc encoding): same partition AND
    // — because dense ids are assigned in doc_id sort order — the exact
    // same canonical labels as the string path
    val dirD = Files.createTempDirectory("graft_pipe_dense").toString
    val denseRun = Pipeline.run(spark, docs, dirD, Pipeline.Cfg(dictMode = "dense"))
    val d = denseRun.clusters.select("cluster_id", "doc_id")
    val s = strRun.clusters.select("cluster_id", "doc_id")
    assert(d.exceptAll(s).count() == 0 && s.exceptAll(d).count() == 0,
      "dense mode must reproduce the string path's exact cluster labels")
  }

  test("pairwise F1 >= 0.99 on labeled same-block pairs") {
    val (p, r, f1, pos, fp) = Calibrate.pairwiseF1(
      Calibrate.clusterPairs(result.clusters, result.candidates),
      result.candidates,
      labels
    )
    info(f"precision=$p%.4f recall=$r%.4f f1=$f1%.4f (pos=$pos fp=$fp)")
    assert(f1 >= 0.99, f"pairwise F1 $f1%.4f below gate")
  }

  // NOTE: must run BEFORE the resume tests below — they rewrite the
  // scored_pairs chunk layout, invalidating `result`'s cached file
  // listings that this test compares against.
  test("dictionary-size gate: over-budget dictionary forces the direct path, output identical") {
    // dictMaxBytes=1 makes ANY dictionary over budget — the run must
    // fall back from fused to direct (no broadcast collect, no text_ids
    // stage), record the decision, and produce value-identical output
    val dirG = Files.createTempDirectory("graft_pipe_dictgate").toString
    // piggyback compactCandidateFiles on the same run (one pipeline
    // execution covers both knobs' value-identity)
    val gated = Pipeline.run(spark, docs, dirG,
      Pipeline.Cfg(dictMaxBytes = 1L, compactCandidateFiles = true))
    assert(!new java.io.File(s"$dirG/text_ids/_SUCCESS").exists(),
      "fallback run must not build the dictionary-id rep")
    // compact layout: exactly one data file per chunk dir
    val chunkDirs = new java.io.File(s"$dirG/candidates").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("chunk_"))
    assert(chunkDirs.nonEmpty)
    chunkDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${d.getName}: expected 1 compacted file, found $parts")
    }
    val m = spark.read.parquet(s"$dirG/metrics")
    assert(m.where(col("name") === "dict_fallback" && col("value") === 1.0).count() == 1,
      "fallback must be recorded in the metrics table")
    assert(m.where(col("name") === "dict_bcast_bytes" && col("value") > 0.0).count() == 1)
    val cols = Seq("doc_a", "doc_b", "score", "jw_best", "lev_best", "strong_min", "is_match")
    val a = result.scoredPairs.select(cols.map(col): _*).orderBy("doc_a", "doc_b").collect().toSeq
    val b = gated.scoredPairs.select(cols.map(col): _*).orderBy("doc_a", "doc_b").collect().toSeq
    assert(a == b, "gated (direct) scored pairs must be value-identical to the fused run")
    assert(gated.clusters.orderBy("doc_id").collect().toSeq ==
      result.clusters.orderBy("doc_id").collect().toSeq)
  }

  test("span-sequence invariant: pipeline outputs join back to untouched input spans") {
    // the pipeline carries ids only; re-join clusters to source docs and
    // verify the span sequence (kind, text, media_ref, offset order) is
    // byte-identical to the generator's output for every doc.
    val joined = result.clusters.join(docs, "doc_id")
    assert(joined.count() == docs.count())
    val h1 = docs.select(bit_xor(xxhash64(col("doc_id"), to_json(col("spans")))).as("h")).head().getLong(0)
    val h2 = joined.select(bit_xor(xxhash64(col("doc_id"), to_json(col("spans")))).as("h")).head().getLong(0)
    assert(h1 == h2)
  }

  test("resume is idempotent: rerun recomputes nothing and clusters are identical") {
    val before = result.clusters.orderBy("doc_id").collect().toSeq
    val t0 = System.nanoTime()
    val second = Pipeline.run(spark, docs, runDir)
    val resumeSec = (System.nanoTime() - t0) / 1e9
    val after = second.clusters.orderBy("doc_id").collect().toSeq
    assert(before == after)
    // bound is a recompute detector, not a perf gate: a full t1 run is
    // minutes; 45 s absorbs host-load noise (measured 38 s on a busy
    // box) while still failing loudly if any stage recomputes
    assert(resumeSec < 45, f"resume took $resumeSec%.1f s — stages were recomputed")
  }

  test("pair-level resume: a run killed mid-scoring redoes only missing chunks") {
    val before = result.clusters.orderBy("doc_id").collect().toSeq
    // simulate a kill after chunk 0+1 committed but before the stage did:
    // drop the stage marker and two chunks, keep chunk 0 and 1
    val scoredDir = new java.io.File(s"$runDir/scored_pairs")
    assert(new java.io.File(scoredDir, "chunk=0/_SUCCESS").exists(), "expected chunked layout")
    new java.io.File(scoredDir, "_SUCCESS").delete()
    Seq("chunk=2", "chunk=3").foreach { c =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scoredDir, c))
    }
    // downstream stage must also recompute
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$runDir/clusters"))
    val kept0 = new java.io.File(scoredDir, "chunk=0/_SUCCESS").lastModified()
    val kept1 = new java.io.File(scoredDir, "chunk=1/_SUCCESS").lastModified()

    val second = Pipeline.run(spark, docs, runDir)
    assert(new java.io.File(scoredDir, "chunk=0/_SUCCESS").lastModified() == kept0,
      "finished chunk 0 must not be rewritten")
    assert(new java.io.File(scoredDir, "chunk=1/_SUCCESS").lastModified() == kept1,
      "finished chunk 1 must not be rewritten")
    assert(second.clusters.orderBy("doc_id").collect().toSeq == before,
      "resumed output must be byte-identical")
  }

  test("chunk-count change on resume discards incompatible chunk dirs (no duplicate pairs)") {
    // read fresh from disk: `result.clusters` caches the file listing of
    // the FIRST run's parts, rewritten by the previous resume test
    val before = spark.read.parquet(s"$runDir/clusters").orderBy("doc_id").collect().toSeq
    val nPairs = spark.read.parquet(s"$runDir/candidates").count()
    val scoredDir = new java.io.File(s"$runDir/scored_pairs")
    // simulate: killed run under scoreChunks=4, resumed under 2 — the
    // leftover chunk=2/3 dirs partition pairs differently and would
    // duplicate scored rows if globbed in
    new java.io.File(scoredDir, "_SUCCESS").delete()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$runDir/clusters"))
    assert(new java.io.File(scoredDir, "chunk=3").exists(), "expected 4-chunk layout")

    val second = Pipeline.run(spark, docs, runDir, Pipeline.Cfg(scoreChunks = 2))
    assert(!new java.io.File(scoredDir, "chunk=3").exists(), "stale chunk dirs must be discarded")
    assert(second.scoredPairs.count() == nPairs,
      "scored pairs must equal candidate pairs — stale chunks were double-counted")
    assert(second.scoredPairs.select("doc_a", "doc_b").distinct().count() == nPairs)
    assert(second.clusters.orderBy("doc_id").collect().toSeq == before)
    // restore the 4-chunk layout for any later test
    new java.io.File(scoredDir, "_SUCCESS").delete()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$runDir/clusters"))
    Pipeline.run(spark, docs, runDir)
  }

  test("lineage covers every stage; metrics recorded") {
    val lineage = spark.read.parquet(s"$runDir/lineage")
    val stages = lineage.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("candidates", "text_rep", "media_rep", "text_dict", "text_ids",
      "scored_pairs", "clusters"))
    val metrics = spark.read.parquet(s"$runDir/metrics")
    val names = metrics.select("name").collect().map(_.getString(0)).toSet
    assert(names.contains("candidate_pairs") && names.contains("cc_iterations") && names.contains("dropped_pairs_est"))
  }
}
