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

  test("cluster ids are members of their own cluster (canonical-id stability)") {
    // canonical id = the doc_id of the min-nid member (long-id path):
    // must BE a member, and must be the same member on every rerun
    // (determinism is covered by the resume byte-identity test below)
    val members = result.clusters.select(col("doc_id").as("m"))
    val bad = result.clusters.select(col("cluster_id").as("m")).distinct()
      .join(members, Seq("m"), "left_anti")
      .count()
    assert(bad == 0, s"$bad cluster ids are not member doc ids")
    // and with string ids, the canonical id is the lexicographic min
    val dirS = Files.createTempDirectory("graft_pipe_strid").toString
    val strRun = Pipeline.run(spark, docs, dirS, Pipeline.Cfg(ids = "off"))
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
      "hash and string ids must produce identical partitions")
    // dense-dictionary mode (the 10¹²-doc encoding): same partition AND
    // — because dense ids are assigned in doc_id sort order — the exact
    // same canonical labels as the string path
    val dirD = Files.createTempDirectory("graft_pipe_dense").toString
    val denseRun = Pipeline.run(spark, docs, dirD, Pipeline.Cfg(ids = "dense"))
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
    val gated = Pipeline.run(spark, docs, dirG, Pipeline.Cfg(dictMaxBytes = 1L))
    assert(!new java.io.File(s"$dirG/text_ids/_SUCCESS").exists(),
      "fallback run must not build the dictionary-id rep")
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

  test("a dictionary budget over 2 GiB is rejected at entry, before stage B writes") {
    // the broadcast blob is one byte array: a larger budget would admit
    // a dictionary that fails to allocate after stage B committed
    val dirX = Files.createTempDirectory("graft_pipe_dictmax").toString
    val cfg = Pipeline.Cfg(dictMaxBytes = 3L << 30)
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, docs, dirX, cfg))
    assert(e.getMessage.contains("dictMaxBytes"), e.getMessage)
    assert(!new java.io.File(s"$dirX/candidates").exists(), "stage B must not have run")
    val dirY = Files.createTempDirectory("graft_pipe_dictmax_delta").toString
    val ed = intercept[IllegalArgumentException](Pipeline.runDelta(spark, docs, docs, dirX, dirY, cfg))
    assert(ed.getMessage.contains("dictMaxBytes"), ed.getMessage)
    assert(!new java.io.File(s"$dirY/candidates").exists(), "delta stage B must not have run")
  }

  test("scoreChunks below 1 is rejected at entry, before stage B writes") {
    // scoreChunks sizes the stage-S chunk pool; 0 would fail only after
    // stage B committed (or, clamped, score no pairs at all)
    val dirZ = Files.createTempDirectory("graft_pipe_chunks0").toString
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, docs, dirZ, Pipeline.Cfg(scoreChunks = 0)))
    assert(e.getMessage.contains("scoreChunks"), e.getMessage)
    assert(!new java.io.File(s"$dirZ/candidates").exists(), "stage B must not have run")
  }

  test("a null doc_id is rejected at stage B, before candidates are written") {
    // xxhash64(null) = 42, so a null id also shows up as one extra
    // distinct hash: the guard must name the null, not a "collision",
    // and must fire before stage B writes anything
    val first = docs.select("doc_id").orderBy("doc_id").head().getString(0)
    val bad = docs.withColumn("doc_id",
      when(col("doc_id") === first, lit(null).cast("string")).otherwise(col("doc_id")))
    // every id mode: hash (default), dense (whose stage-B0 dictionary
    // must not be written either) and off
    Seq(Pipeline.Cfg(), Pipeline.Cfg(ids = "dense"), Pipeline.Cfg(ids = "off")).foreach { cfg =>
      val dirN = Files.createTempDirectory("graft_pipe_nullid").toString
      val e = intercept[IllegalArgumentException](Pipeline.run(spark, bad, dirN, cfg))
      assert(e.getMessage.contains("null doc_id"), e.getMessage)
      Seq("id_dict", "candidates").foreach { s =>
        assert(!new java.io.File(s"$dirN/$s").exists(), s"$cfg: stage B must not have written $s")
      }
    }
  }

  test("a text span without text or a media span without media_ref is rejected at stage B") {
    // a null text would reach the fused kernel as dictionary entry 0, and
    // null media refs would all share one media block key: the guard must
    // name the null fields and fire before stage B writes anything
    def firstWith(kind: String) = docs.where(exists(col("spans"), s => s.getField("kind") === kind))
      .select("doc_id").orderBy("doc_id").head().getString(0)
    def nullField(kind: String, field: String)(d: org.apache.spark.sql.DataFrame) = {
      val id = firstWith(kind)
      d.withColumn("spans", when(col("doc_id") === id,
        transform(col("spans"), s => when(s.getField("kind") === kind, s.withField(field, lit(null).cast("string")))
          .otherwise(s))).otherwise(col("spans")))
    }
    Seq(
      "[1-9]\\d* text spans with a null text and 0 media spans" -> nullField("text", "text") _,
      "0 text spans with a null text and [1-9]\\d* media spans with a null media_ref" ->
        nullField("media", "media_ref") _
    ).foreach { case (want, corrupt) =>
      val dirN = Files.createTempDirectory("graft_pipe_nullspan").toString
      val e = intercept[IllegalArgumentException](Pipeline.run(spark, corrupt(docs), dirN))
      assert(want.r.findFirstIn(e.getMessage).isDefined, e.getMessage)
      assert(!new java.io.File(s"$dirN/candidates").exists(), s"$want: stage B must not have written candidates")
    }
  }

  test("null media refs are counted per span, also when one doc holds several") {
    // the span view deduplicates a doc's media refs, so the guard's count
    // must be taken before that: here every media span of one doc with
    // at least two of them loses its ref
    def isMedia(s: org.apache.spark.sql.Column) = s.getField("kind") === "media"
    val row = docs.select(col("doc_id"), size(filter(col("spans"), isMedia(_))).as("n"))
      .where(col("n") >= 2).orderBy("doc_id").head()
    val (id, n) = (row.getString(0), row.getInt(1))
    val bad = docs.withColumn("spans", when(col("doc_id") === id,
      transform(col("spans"), s => when(isMedia(s), s.withField("media_ref", lit(null).cast("string"))).otherwise(s)))
      .otherwise(col("spans")))
    val dirN = Files.createTempDirectory("graft_pipe_nullmedia").toString
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, bad, dirN))
    assert(e.getMessage.contains(s"0 text spans with a null text and $n media spans with a null media_ref"),
      e.getMessage)
  }

  test("a corpus without candidate pairs runs and resumes: every doc is its own cluster") {
    // the candidates checkpoint is partitioned by scoring chunk, so an
    // empty pair set writes no partition dir; its read must still work,
    // on the fresh run and on the resume
    import spark.implicits._
    val lone = Seq(
      graft.schema.Doc("p1", Seq(graft.schema.Span("text", "alpha beta gamma delta epsilon", null, 0))),
      graft.schema.Doc("p2", Seq(graft.schema.Span("text", "zulu yankee xray whiskey victor", null, 0)))
    ).toDF()
    val dirE = Files.createTempDirectory("graft_pipe_nopairs").toString
    val r = Pipeline.run(spark, lone, dirE)
    assert(r.candidates.count() == 0 && r.scoredPairs.count() == 0)
    def labels(res: Pipeline.Result) =
      res.clusters.orderBy("doc_id").collect().map(x => x.getAs[String]("doc_id") -> x.getAs[String]("cluster_id")).toSeq
    assert(labels(r) == Seq("p1" -> "p1", "p2" -> "p2"))
    assert(labels(Pipeline.run(spark, lone, dirE)) == labels(r))
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

  test("a failed scoring chunk stops its siblings before run throws; resume redoes only the rest") {
    import org.apache.commons.io.FileUtils
    val before = result.clusters.orderBy("doc_id").collect().toSeq
    val dir = Files.createTempDirectory("graft_pipe_chunkfail").toFile
    FileUtils.copyDirectory(new java.io.File(runDir), dir)
    Seq("scored_pairs", "clusters").foreach(s => FileUtils.deleteDirectory(new java.io.File(dir, s)))
    // schema inference reads the first data file by path; corrupt the
    // last one instead, so only the scan of its chunk partition fails
    val data = FileUtils.listFiles(new java.io.File(dir, "candidates"), Array("parquet"), true)
      .toArray(Array.empty[java.io.File]).sortBy(_.getPath)
    val bad = data.last
    val chunk = bad.getParentFile.getName
    assert(chunk.startsWith("chunk_8=") && chunk != data.head.getParentFile.getName, chunk)
    val good = Files.readAllBytes(bad.toPath)
    Files.write(bad.toPath, new Array[Byte](good.length))

    val scoredDir = new java.io.File(dir, "scored_pairs")
    def committed(): Map[String, Long] =
      Option(scoredDir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("chunk=") && new java.io.File(f, "_SUCCESS").exists())
        .map(f => f.getName -> new java.io.File(f, "_SUCCESS").lastModified()).toMap
    val e = intercept[Exception](Pipeline.run(spark, docs, dir.toString))
    val afterThrow = committed()
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(String.valueOf).mkString("\n")
    assert(msgs.contains(chunk), s"the failure must come from $chunk:\n$msgs")
    assert(!afterThrow.contains(s"chunk=${chunk.stripPrefix("chunk_8=")}"))
    // the status store is fed by the listener bus, asynchronously
    val deadline = System.nanoTime() + 2000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty, "chunk jobs outlived the failed run")
    Thread.sleep(5000)
    assert(committed() == afterThrow, "chunks committed after run had thrown")

    Files.write(bad.toPath, good)
    val resumed = Pipeline.run(spark, docs, dir.toString)
    afterThrow.foreach { case (c, mtime) =>
      assert(new java.io.File(scoredDir, s"$c/_SUCCESS").lastModified() == mtime, s"$c was rewritten")
    }
    assert(resumed.clusters.orderBy("doc_id").collect().toSeq == before)
    FileUtils.deleteQuietly(dir)
  }

  test("a crash at any commit point resumes to complete, duplicate-free lineage and metrics") {
    import org.apache.commons.io.FileUtils
    result.clusters.count()
    val dir = Files.createTempDirectory("graft_pipe_crash").toFile
    FileUtils.copyDirectory(new java.io.File(runDir), dir)
    def rm(paths: String*): Unit = paths.foreach(p => FileUtils.deleteQuietly(new java.io.File(dir, p)))
    def lineage = spark.read.parquet(s"$dir/lineage")
    def folds(): Map[String, (Long, Long)] =
      lineage.groupBy("stage").agg(sum("output_rows"), bit_xor(col("content_hash")))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = folds()
    val clusters = result.clusters.orderBy("doc_id").collect().toSeq
    // one lineage row per write unit: the 8 scoring chunks, one per other stage
    val units = before.keySet.map(s => s -> (if (s == "scored_pairs") 8L else 1L)).toMap
    val crashes = Seq[(String, () => Unit)](
      "data written, no metadata, no _SUCCESS" ->
        (() => rm("clusters/_SUCCESS", "clusters/_lineage", "clusters/_metrics")),
      "metadata written, no _SUCCESS" -> (() => rm("candidates/_SUCCESS", "text_rep", "text_dict",
        "text_ids", "scored_pairs", "clusters")),
      "one chunk lost" -> (() => rm("scored_pairs/_SUCCESS", "scored_pairs/chunk=2"))
    )
    crashes.foreach { case (what, crash) =>
      crash()
      val resumed = Pipeline.run(spark, docs, dir.toString)
      val dup = spark.read.parquet(s"$dir/metrics").groupBy("stage", "name").count().where(col("count") =!= 1)
      assert(dup.count() == 0, s"$what: metrics rows not one per (stage, name): ${dup.collect().mkString(" ")}")
      val rows = lineage.groupBy("stage").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == units, s"$what: lineage rows per stage")
      assert(folds() == before, s"$what: per-stage lineage fold (rows, hash) changed")
      assert(resumed.clusters.orderBy("doc_id").collect().toSeq == clusters, s"$what: clusters changed")
    }
    FileUtils.deleteQuietly(dir)
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
    val folds = lineage.groupBy("stage").agg(sum("output_rows"), bit_xor(col("content_hash")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(folds.keySet == Set("candidates", "text_rep", "text_dict", "text_ids",
      "scored_pairs", "clusters"))
    // the fold observed by each write equals one over the checkpoint as
    // it reads back (candidates' partition column last, chunk dropped)
    folds.foreach { case (stage, fold) =>
      val out = spark.read.parquet(s"$runDir/$stage").drop("chunk")
      val g = out.agg(count(lit(1)), coalesce(bit_xor(xxhash64(out.columns.toIndexedSeq.map(col): _*)), lit(0L)))
        .head()
      assert(fold == ((g.getLong(0), g.getLong(1))), s"$stage: lineage fold differs from its read-back")
    }
    val metrics = spark.read.parquet(s"$runDir/metrics")
    val names = metrics.select("name").collect().map(_.getString(0)).toSet
    assert(names.contains("candidate_pairs") && names.contains("cc_iterations") && names.contains("dropped_pairs_est"))
  }

  test("the nested input is decoded once per fresh run, and only when a stage needs it") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    object Walk extends AdaptiveSparkPlanHelper
    val root = Files.createTempDirectory("graft_pipe_scans").toString
    val (docsPath, _) = Fixture.ensureWritten(spark, "t1")
    val all = spark.read.parquet(docsPath)
    val isNew = pmod(xxhash64(col("doc_id")), lit(5)) === 4
    all.where(!isNew).write.parquet(s"$root/prior_docs")
    all.where(isNew).write.parquet(s"$root/new_docs")
    // executed file scans that read `spans` (action -> input dir), over
    // every query the body runs. Scans that read no row are not decodes:
    // `Dataset.rdd` (Parallelism.ensure's partition count) reports a plan
    // it never runs.
    def spanScans(body: => Unit): Seq[(String, String)] = {
      val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          Walk.collectWithSubqueries(qe.executedPlan) {
            case s: FileSourceScanExec
                if s.requiredSchema.fieldNames.contains("spans") && s.metrics("numOutputRows").value > 0 =>
              f -> s.relation.location.rootPaths.map(_.getName).mkString(",")
          }.foreach(scans.add)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try { body; org.apache.spark.ListenerDrain(spark.sparkContext) }
      finally spark.listenerManager.unregister(listener)
      scala.jdk.CollectionConverters.IteratorHasAsScala(scans.iterator).asScala.toSeq
    }
    val input = spark.read.parquet(s"$root/prior_docs", s"$root/new_docs")
    val dirF = s"$root/full"
    val fresh = spanScans(Pipeline.run(spark, input, dirF))
    assert(fresh.size == 1, s"fresh run: $fresh")
    val rerun = spanScans(Pipeline.run(spark, input, dirF))
    assert(rerun.isEmpty, s"rerun of a complete run dir: $rerun")
    Seq("text_rep", "text_dict", "text_ids", "scored_pairs", "clusters").foreach { st =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dirF/$st"))
    }
    val resumed = spanScans(Pipeline.run(spark, input, dirF))
    assert(resumed.size == 1, s"resume with only candidates committed: $resumed")

    val prior = spark.read.parquet(s"$root/prior_docs")
    val dirP = s"$root/prior"
    Pipeline.run(spark, prior, dirP, Pipeline.Cfg(persistForDelta = true))
    val delta = spanScans(Pipeline.runDelta(spark, prior, spark.read.parquet(s"$root/new_docs"), dirP, s"$root/delta"))
    assert(delta.count(_._2 == "new_docs") == 1 && delta.count(_._2 == "prior_docs") <= 1 &&
      delta.forall(d => Set("new_docs", "prior_docs")(d._2)), s"runDelta: $delta")
  }
}
