package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.schema.SpanView
import graft.scoring.Scoring
import graft.cluster.{Attach, ConnectedComponents}
import graft.lineage.Lineage
import org.apache.spark.storage.StorageLevel

/** End-to-end three-stage resolution pipeline with per-stage
  * checkpointing and idempotent resume.
  *
  * B (blocking) → `candidates`, S (scoring) → `scored_pairs`,
  * C (clustering) → `clusters`; every stage output lands in a
  * checkpoint table before the next stage reads it, so a killed run
  * resumes from the last completed stage without recomputing earlier
  * work (the reference's analog is its Redis result cache + anti-join
  * of cached work, src/api/optimized_api_server.py:673-700; here the
  * checkpoint table itself is the cache and `_SUCCESS` the commit
  * marker). Parquet stands in for Iceberg (no Iceberg runtime in the
  * sandbox); the writer interface is format-agnostic.
  *
  * Mirrors the reference's batch entry point
  * `ProbabilisticIdentityResolver.resolve`
  * (reference: src/core/probabilistic_resolver.py:159-238): its steps
  * 1-3 and 5a land in B, 5b in S, 6-7 in C.
  */
object Pipeline {

  final case class Cfg(
      blocking: Blocking.Cfg = Blocking.Cfg(),
      weights: Scoring.Weights = Scoring.Weights(),
      ccMaxIter: Int = 50,
      // stage-S resume granularity: candidates split by pmod(salt, n);
      // a run killed mid-scoring redoes only unfinished chunks, not the
      // whole stage (the reference's analog removes cached results from
      // the work set, src/api/optimized_api_server.py:673-700).
      // 8 concurrent chunk jobs backfill each other's shuffle/commit
      // barriers (A/B at 32c: e2e 84-88 s vs 88-95 s with 4) and halve
      // the work lost to a mid-scoring kill. Known trade (ab_r5): the
      // chunk-partitioned candidates checkpoint writes ~scoreChunks×
      // the files of an unpartitioned one — a win on healthy storage
      // (partition pruning saves scoreChunks× redundant scan decode),
      // a loss when the host's sync/writeback path is degraded; lower
      // scoreChunks on storage with expensive commits.
      scoreChunks: Int = 8,
      // internal doc-id space through B/S/C. "hash" and "dense" encode
      // ids to longs: variable-width string ids otherwise ride every
      // exploded span-pair row, every scored pair, and every CC
      // iteration — pure shuffle/aggregate payload. Long keys hash and
      // compare in one instruction and shrink the dominant streams.
      // Ids map back to strings at the clusters output (and lazily on
      // the Result accessors).
      //  - "hash": nid = xxhash64(doc_id) — zero-shuffle encode; a
      //    distinct-count guard fails loudly on the ~n²/2⁶⁴ collision.
      //  - "dense": a stage-B0 checkpointed dictionary of stable dense
      //    ids (range-sort + zipWithIndex) — one extra shuffle of the id
      //    column at encode time, but collision-FREE by construction:
      //    the 10¹²-doc mode, where birthday odds on 64-bit hashes
      //    (~2.7%) stop being ignorable.
      //  - "off": the input's string ids throughout.
      ids: String = "hash",
      // byte budget for the span-text dictionary broadcast that the
      // fused stage-S kernel reads. The dictionary is the ONE broadcast
      // in the pipeline that grows with corpus size (distinct span
      // texts ~ corpus size; at 100 TB plausibly billions of entries),
      // so an ungated collect is a guaranteed driver/executor OOM at
      // scale. One aggregate over the checkpointed text_dict estimates
      // the in-memory footprint (utf-8 bytes + per-entry JVM overhead);
      // above the budget the run scores with Scoring.scoreWithRepsDirect
      // instead (inline string kernels, no dictionary, no memory bound —
      // value-identical per ScoringDedupSpec), logs the decision, and
      // records it in the metrics table as dict_fallback=1. At most
      // 2 GiB (checked at run/runDelta entry): the broadcast blob is a
      // single byte array. Default 2 GiB ≈ a third of a 6 GiB executor
      // heap; bench sf0.1 uses ~200 MB.
      dictMaxBytes: Long = 2L << 30,
      // persist the two artifacts a later incremental run (runDelta)
      // consumes: the per-doc blocking key table (`keys` — so delta
      // blocking joins new keys against it instead of re-shingling the
      // corpus) and the PRE-attach connected-components assignments
      // (`cc_assign` — delta contracts old edge endpoints to their HARD
      // component label; the post-attach clusters table would glue
      // sub-threshold attach evidence into the merge graph). Both are
      // stored in the run's internal id space; runDelta checks the
      // _dictids marker for compatibility. Off by default: a run that
      // will never seed a delta shouldn't pay the keys write.
      persistForDelta: Boolean = false
  )

  final case class Result(
      candidates: DataFrame,
      scoredPairs: DataFrame,
      clusters: DataFrame,
      ccIterations: Int
  )

  private def done(path: String): Boolean = new java.io.File(path + "/_SUCCESS").exists()

  /** Entry check shared by [[run]] and [[runDelta]]: the dictionary
    * broadcast is a single byte array (Scoring.broadcastDict), so a
    * budget above 2 GiB would admit a dictionary that cannot be
    * allocated — failing after stage B committed instead of falling
    * back to the direct kernels. At 2 GiB, bytes + 32·n ≤ 2³¹ already
    * keeps the blob within Int.MaxValue. `scoreChunks` sizes stage S's
    * chunk pool, so it must be positive. Returns the internal id space
    * (see Cfg.ids). */
  private def requireValid(cfg: Cfg): String = {
    require(cfg.dictMaxBytes <= (2L << 30),
      s"Cfg.dictMaxBytes must be at most 2 GiB (${2L << 30} bytes), got ${cfg.dictMaxBytes}")
    require(cfg.scoreChunks >= 1, s"Cfg.scoreChunks must be at least 1, got ${cfg.scoreChunks}")
    require(Set("off", "hash", "dense").contains(cfg.ids), s"unknown Cfg.ids '${cfg.ids}'")
    cfg.ids
  }

  /** The one decode of the nested input and its guard, shared by [[run]]
    * (over the input) and [[runDelta]] (over the increment): `docs0`'s
    * [[SpanView]], pinned, and its doc count. The pin's own job observes
    * the guard's counts, so bad input fails before any pair is written,
    * not after stages S and C consumed it. Null ids are rejected in
    * every id mode: hash mode would encode all of them to
    * xxhash64(null) = 42, dense mode would drop them at the dictionary
    * join. A text span needs its `text` and a media span its
    * `media_ref`: a null text would reach the fused kernel as
    * dictionary entry 0, and null media refs would share one media
    * block key. The collision check is hash-only: one grouping of the
    * pin by hash, one shuffle where two `countDistinct`s need two (a
    * job more per run). At 10¹² ids use ids = "dense" (collisions
    * become certain at that scale); dense ids are unique by
    * construction. The pin is kept on local disk, not on the heap: it
    * holds every doc's raw texts until the run ends, and at `bench`
    * scale an on-heap pin ran a 4 GB driver out of heap in stage B. */
  private def pinView(docs0: DataFrame, idMode: String, what: String): (DataFrame, Long) = {
    val obs = Observation()
    val view = SpanView(graft.util.Parallelism.ensure(docs0), Some(obs))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val g = obs.get.view.mapValues(_.asInstanceOf[Long]).toMap
    require(g("docs") == g("ids"), s"${g("docs") - g("ids")} $what rows have a null doc_id")
    require(g("texts") == 0L && g("medias") == 0L,
      s"$what docs have ${g("texts")} text spans with a null text and ${g("medias")} media spans " +
        "with a null media_ref")
    if (idMode == "hash") {
      val shared = view.groupBy(xxhash64(col("doc_id")))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).where(col("lo") =!= col("hi")).collect()
      require(shared.isEmpty,
        s"xxhash64 doc_id collision among $what docs (${shared.length} hashes shared by distinct ids); " +
          "rerun with ids=\"off\"")
    }
    (view, g("docs"))
  }

  /** The trimmed content of the marker file `dir/name`, if it exists. */
  private def marker(dir: String, name: String): Option[String] = {
    val p = java.nio.file.Paths.get(s"$dir/$name")
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p).trim) else None
  }

  private def writeMarker(dir: String, name: String, value: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), value)
  }

  /** The id mode recorded in `dir`'s `_dictids` marker, if it has one
    * ("true"/"false" are the legacy hash/off markers). */
  private def markedIdMode(dir: String): Option[String] =
    marker(dir, "_dictids").map {
      case "true" => "hash"
      case "false" => "off"
      case m => m
    }

  /** id-encoding marker: checkpoints written under a different id
    * encoding are incompatible (long nids vs string ids, or hash vs
    * dense longs) — resuming across the mismatch would silently join
    * nothing. Fail loudly like _chunks; a fresh dir gets the marker. */
  private def pinIdMode(runDir: String, idMode: String): Unit = markedIdMode(runDir) match {
    case Some(prior) =>
      require(prior == idMode,
        s"run dir $runDir was written with id mode '$prior' but this run uses '$idMode'; " +
          "use a fresh run dir or match the setting")
    case None => writeMarker(runDir, "_dictids", idMode)
  }

  /** A run's internal id space: `mode` plus the (orig_id, nid)
    * dictionary that decodes it at the output boundary. `map` is built
    * (and pinned) on first use only. */
  private final class IdSpace(mode: String, map: => DataFrame) {
    private lazy val idMap = map

    /** Internal long ids back to the input's string ids, one join per
      * id column; identity when ids were never encoded. */
    def back(df: DataFrame, idCols: Seq[String]): DataFrame =
      if (mode == "off") df
      else idCols.foldLeft(df) { (d, c) =>
        d.join(idMap.select(col("nid").as(c), col("orig_id").as(s"${c}__s")), c)
          .drop(c)
          .withColumnRenamed(s"${c}__s", c)
      }
  }

  /** Scoring-chunk partition column (see [[candidatesStage]]). */
  private def chunkCol(cfg: Cfg): String = s"chunk_${cfg.scoreChunks}"

  /** Stage B's checkpoint, shared by [[run]] and [[runDelta]]:
    * `pairs` written directory-partitioned by scoring chunk. Each
    * chunk job's filter becomes partition PRUNING instead of a pmod
    * predicate parquet cannot push down — without this every one of
    * the scoreChunks jobs decoded the FULL candidate table (8×
    * redundant scan decode at bench scale). The modulus is baked into
    * the COLUMN NAME (chunk_<scoreChunks>), so the layout
    * self-describes atomically with the data: a resume under a
    * different scoreChunks simply doesn't find its column and falls
    * back to the always-correct pmod-on-salt filter (the chunk dirs
    * partition the same rows, so scanning all of them with the pmod
    * predicate is layout-independent). */
  private def candidatesStage(ck: Ckpt, cfg: Cfg, metrics: (DataFrame, Long) => Seq[(String, Double)])(
      pairs: => DataFrame
  ): DataFrame =
    ck.stage("candidates", metrics, partitionCols = Seq(chunkCol(cfg))) {
      pairs.withColumn(chunkCol(cfg), pmod(col("salt"), lit(cfg.scoreChunks)).cast("int"))
    }

  /** Metrics of the clusters stage: the row count comes from the
    * write's lineage fold, the distinct-cluster count is one pruned
    * single-column aggregate. `ccIters` is read after the stage's
    * compute has set it. */
  private def clusterMetrics(ccIters: => Int)(out: DataFrame, total: Long): Seq[(String, Double)] = Seq(
    "docs" -> total.toDouble,
    "clusters" -> out.agg(countDistinct(col("cluster_id"))).head().getLong(0).toDouble,
    "cc_iterations" -> ccIters.toDouble
  )

  /** Stage C2 and the output boundary: aggregate-evidence singleton
    * attachment (see Attach) over the pre-attach assignments, then
    * dictionary decode — the stored clusters table is user-facing and
    * carries original ids (cluster_id = the doc_id of the min-nid
    * member; deterministic, so resume stays byte-stable). */
  private def attachedClusters(ids: IdSpace, assign: DataFrame, evidence: DataFrame): DataFrame =
    ids.back(Attach.attachSingletons(assign, evidence), Seq("doc_id", "cluster_id"))
      .repartitionByRange(col("cluster_id"), col("doc_id"))

  /** Return path of [[run]] and [[runDelta]]: rebuild the run dir's
    * lineage and metrics tables from its committed units (see
    * Lineage), then the decoded Result. Drops EVERY chunk_<n> column,
    * not just the current modulus: a candidates checkpoint resumed
    * under a different scoreChunks carries its writer's chunk_<old>
    * partition column, which would otherwise leak into
    * Result.candidates and change its schema between a fresh run and a
    * resume. */
  private def finish(
      ck: Ckpt,
      ids: IdSpace,
      candidates: DataFrame,
      scored: DataFrame,
      clusters: DataFrame,
      ccIters: Int
  ): Result = {
    graft.util.PhaseTracker.set("other")
    Lineage.rebuild(ck.spark, ck.runDir, ck.runId)
    val chunkCols = candidates.columns.filter(_.matches("chunk_\\d+"))
    Result(
      ids.back(candidates.drop(chunkCols: _*), Seq("doc_a", "doc_b")),
      ids.back(scored, Seq("doc_a", "doc_b")),
      clusters,
      ccIters
    )
  }

  /** Checkpoint-stage writer shared by [[run]] and [[runDelta]]: write
    * to `runDir/name` with `_SUCCESS`-gated idempotent resume. The
    * commit order is data → metadata → `_SUCCESS` (Lineage.write and
    * Lineage.commit): the write job observes the stage's lineage fold,
    * and `metrics` receives (stage output, row count from that fold)
    * and runs before the commit. So a committed stage always carries
    * its lineage and metrics, and a metric failure surfaces at the
    * stage that caused it. */
  private final class Ckpt(val spark: SparkSession, val runDir: String, val runId: String) {
    def stage(
        name: String,
        metrics: (DataFrame, Long) => Seq[(String, Double)] = (_, _) => Nil,
        partitionCols: Seq[String] = Nil
    )(
        compute: => DataFrame
    ): DataFrame = {
      val path = s"$runDir/$name"
      if (done(path)) spark.read.parquet(path)
      else {
        val t0 = System.nanoTime()
        val fold = Lineage.write(compute, path, partitionCols)
        // the stage's one read: commit adds only files hidden from it
        val out = spark.read.parquet(path)
        val wallMs = (System.nanoTime() - t0) / 1e6
        Lineage.commit(path, Some(fold), metrics(out, fold._1) :+ ("wall_ms" -> wallMs))
        out
      }
    }
  }

  /** Stages S0 (per-doc rep) + S1 (span-text dictionary, size-gated) +
    * S (chunk-resumable pair scoring) — shared verbatim by [[run]] and
    * [[runDelta]]; see the inline comments at each block. `view` is the
    * scored docs' [[SpanView]], `dfFrac` the corpus media rarity
    * (Scoring.dfFrac): runDelta passes the MERGED corpus statistics, so
    * pairs scored over the touched slice see the rarity a full run over
    * the whole corpus would. Both are read only when stage S0 runs.
    * Returns the scored-pairs frame (chunk column dropped). */
  private def scoreStage(
      ck: Ckpt,
      cfg: Cfg,
      view: => DataFrame,
      candidates: DataFrame,
      dfFrac: => DataFrame
  ): DataFrame = {
    import ck.{runDir, spark}
    val chunkPruned = candidates.columns.contains(chunkCol(cfg))
    graft.util.PhaseTracker.set("scoring")

    // Stage S — pair-level resumable scoring: chunk by pmod(salt, n);
    // each chunk commits independently (its own parquet _SUCCESS), the
    // stage-level _SUCCESS commits last. A rerun skips finished chunks.
    // EVERYTHING the chunks consume (S0 reps, S1 dictionary + its
    // driver collect/broadcast, the gate aggregates) is built inside
    // this branch: a resume of a completed run must cost one parquet
    // open, not a multi-GB dictionary broadcast it never reads.
    val scoredPath = s"$runDir/scored_pairs"
    if (!done(scoredPath)) {
      // Stage S0 — the per-doc rep (span texts + media set), checkpointed
      // once and read by S1 and the fallback (recomputing it per chunk
      // would re-scan the whole input scoreChunks times).
      val textRep = ck.stage("text_rep")(Scoring.textRep(view, dfFrac))

      // Stage S1 — dense span-text dictionary + the per-doc rep every
      // chunk joins twice (`text_ids`: span-text ids + media set),
      // checkpointed once; the dictionary is broadcast once and every
      // chunk's fused kernel reads it (see Scoring.scoreWithRepsFused).
      // Dictionary-size gate (see Cfg.dictMaxBytes): estimate the
      // broadcast footprint from the checkpointed dictionary BEFORE
      // collecting it; over budget → the unbounded direct path. The
      // estimate is one pruned two-column aggregate (utf-8 bytes +
      // 32 B/entry for the byte-array object header and table slot).
      val dict = ck.stage("text_dict")(Scoring.textDictDense(textRep))
      val dictBcastBytes = {
        val g = dict.agg(
          coalesce(sum(octet_length(col("t"))), lit(0L)).as("b"),
          count(lit(1)).as("n")
        ).head()
        g.getLong(0) + 32L * g.getLong(1)
      }
      val dictSide =
        if (dictBcastBytes <= cfg.dictMaxBytes) {
          val rep = ck.stage("text_ids")(Scoring.textIdsRep(textRep, dict))
          Some((rep, Scoring.broadcastDict(dict)))
        } else {
          System.err.println(
            f"[pipeline] span-text dictionary ≈ ${dictBcastBytes / 1e6}%.0f MB exceeds " +
              f"dictMaxBytes=${cfg.dictMaxBytes / 1e6}%.0f MB — scoring with the direct string kernels")
          None
        }

      val t0 = System.nanoTime()
      // chunk-count marker: the stage read below globs every chunk=*
      // dir, so chunks committed by an earlier attempt with a DIFFERENT
      // scoreChunks would silently duplicate scored pairs on resume.
      // Mismatch => the old partition of the pair set is incompatible;
      // drop all chunk dirs and start the stage over.
      if (!marker(scoredPath, "_chunks").contains(cfg.scoreChunks.toString)) {
        val d = new java.io.File(scoredPath)
        if (d.exists()) d.listFiles().filter(_.getName.startsWith("chunk=")).foreach { f =>
          org.apache.commons.io.FileUtils.deleteQuietly(f)
        }
        writeMarker(scoredPath, "_chunks", cfg.scoreChunks.toString)
      }
      // chunks are independent jobs — submit them CONCURRENTLY, up to
      // 8 at a time, so the scheduler backfills each job's
      // shuffle/commit barriers with the other chunks' tasks
      // (sequential chunks left cores idle at every barrier: measured
      // 0.56 scaling efficiency 8→32 before this).
      // Every chunk job carries one per-stage job tag. The first failure
      // cancels the siblings' jobs and keeps unstarted chunks from
      // starting, and the stage waits for every chunk to stop before it
      // rethrows that failure: no orphaned job may commit a chunk=i dir
      // into a run its caller has given up on.
      val sc = spark.sparkContext
      val tag = s"graft-scoring-${java.util.UUID.randomUUID()}"
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(cfg.scoreChunks, 8))
      (0 until cfg.scoreChunks).foreach { i =>
        pool.execute { () =>
          val cpath = s"$scoredPath/chunk=$i"
          if (failure.get == null && !done(cpath)) {
            sc.addJobTag(tag)
            try {
              val chunk =
                if (chunkPruned) candidates.where(col(chunkCol(cfg)) === i)
                else candidates.where(pmod(col("salt"), lit(cfg.scoreChunks)) === i)
              val scoredChunk = dictSide match {
                case Some((rep, bc)) => Scoring.scoreWithRepsFused(chunk, rep, cfg.weights, bc)
                case None => Scoring.scoreWithRepsDirect(chunk, textRep, cfg.weights)
              }
              Lineage.commit(cpath, Some(Lineage.write(scoredChunk, cpath)), Nil)
            } catch {
              // the first failure is the cause; a sibling's cancellation is its consequence
              case e: Throwable => if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
            } finally sc.removeJobTag(tag)
          }
        }
      }
      pool.shutdown()
      // cancel again while waiting: a chunk that passed the failure
      // check just before the first cancel may still submit a job
      while (!pool.awaitTermination(100, java.util.concurrent.TimeUnit.MILLISECONDS))
        if (failure.get != null) sc.cancelJobsWithTag(tag)
      if (failure.get != null) {
        // AQE submits broadcast-exchange jobs from its own threads, and
        // they can start after the chunk's failed query returned:
        // cancel until no tagged job ran for 3 polls
        var quiet = 0
        while (quiet < 3) {
          sc.cancelJobsWithTag(tag)
          Thread.sleep(100)
          val running = sc.statusTracker.getJobIdsForTag(tag).exists(
            sc.statusTracker.getJobInfo(_).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
          quiet = if (running) 0 else quiet + 1
        }
        throw failure.get
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      // the stage's lineage is its chunks' (each committed with its own
      // fold); its metrics come from one pruned aggregate over all chunks
      val out = spark.read.parquet(scoredPath)
      val g = out.agg(count(lit(1)), count_if(col("is_match"))).head()
      Lineage.commit(scoredPath, None, Seq(
        "scored_pairs" -> g.getLong(0).toDouble,
        "matched_pairs" -> g.getLong(1).toDouble,
        // dictionary-gate audit trail: the estimated broadcast bytes
        // and whether the run was forced off the fused path
        "dict_bcast_bytes" -> dictBcastBytes.toDouble,
        "dict_fallback" -> (if (dictSide.isEmpty) 1.0 else 0.0),
        "wall_ms" -> wallMs
      ))
      out.drop("chunk")
    } else spark.read.parquet(scoredPath).drop("chunk")
  }

  /** Run (or resume) the pipeline. `docs` must have the input_hint
    * shape; stage outputs are written under `runDir`. */
  def run(spark: SparkSession, docs0: DataFrame, runDir: String, cfg: Cfg = Cfg()): Result = {
    val idMode = requireValid(cfg)
    new java.io.File(runDir).mkdirs()
    pinIdMode(runDir, idMode)

    val ck = new Ckpt(spark, runDir, "run")

    // internal long ids (see Cfg.ids); the checkpointed
    // clusters table and the Result accessors expose original string
    // ids. idMap is distinct-ed: duplicate doc_id input rows would
    // otherwise multiply every decode join.
    // Stage B0 (dense mode only) — stable dense ids: distinct ids
    // range-sorted then zipWithIndex (two narrow jobs, one shuffle of
    // the id column; no global single-partition sort). Checkpointed
    // first so every later stage and resume reads the SAME dictionary.
    lazy val denseDict = ck.stage("id_dict") {
      import spark.implicits._
      docs0.select("doc_id").distinct()
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id")
        .rdd.zipWithIndex
        .map { case (r, i) => (r.getString(0), i) }
        .toDF("orig_id", "nid")
    }
    // pinned: the output boundary joins it once per id column (two in
    // the clusters stage alone) — without the pin each join re-scans
    // the input and re-runs the distinct shuffle
    val ids = new IdSpace(idMode, (idMode match {
      case "dense" => denseDict
      case _ => docs0.select(col("doc_id").as("orig_id"), xxhash64(col("doc_id")).as("nid")).distinct()
    }).localCheckpoint(true))
    // the input in the internal id space
    def encode(df: DataFrame): DataFrame = idMode match {
      case "off" => df
      case "hash" => df.withColumn("doc_id", xxhash64(col("doc_id")))
      case "dense" =>
        df
          .join(denseDict.withColumnRenamed("orig_id", "doc_id"), "doc_id")
          .drop("doc_id")
          .withColumnRenamed("nid", "doc_id")
    }
    // doc_id-only reads (CC's node list): a pruned scan of the input
    lazy val docs = encode(docs0)
    // Stage B starts with the one decode of the nested input (see
    // pinView), built on first use only: the key table, the media
    // statistics and stage S0 all read it, and a run resumed past
    // stage S0 never builds it. In dense mode the encode forces stage
    // B0, after the guard.
    lazy val (view, nDocsIn) = {
      val (v, n) = pinView(docs0, idMode, "input")
      (encode(v), n)
    }

    // Stage B — key table materialized once (lazily, only when the
    // candidates checkpoint is absent), shared by the pair join and the
    // drop-accounting metrics.
    graft.util.PhaseTracker.set("blocking")
    // persistForDelta: the key table becomes a real checkpoint (the
    // stage-B1 table a cluster deployment would write anyway) so a
    // later runDelta can join against it; otherwise a localCheckpoint
    // pin, recomputed only when the candidates stage is fresh.
    lazy val keys =
      if (cfg.persistForDelta) ck.stage("keys")(Blocking.docKeys(view, cfg.blocking))
      else Blocking.docKeys(view, cfg.blocking).localCheckpoint(true)
    // block census pinned once, shared by pair generation AND the
    // drop-accounting metrics (dropMetrics previously re-aggregated
    // the whole key table a second time)
    lazy val census = Blocking.blockSizes(keys).localCheckpoint(true)
    val candidates = candidatesStage(ck, cfg, (_, total) => {
      val drops = Blocking.dropMetrics(keys, cfg.blocking, Some(census)).head()
      Seq(
        "candidate_pairs" -> total.toDouble,
        "dropped_blocks" -> drops.getDouble(0),
        "dropped_pairs_est" -> drops.getDouble(1)
      )
    })(Blocking.candidatesFromKeys(keys, cfg.blocking, Some(census)))
    // the media corpus statistics: raw df COUNTS + n_docs (counts sum
    // across increments exactly; the dffrac ratio does not)
    lazy val mediaDf = Scoring.mediaDfCounts(view)
    lazy val nDocs = {
      import spark.implicits._
      Seq(nDocsIn).toDF("n_docs")
    }
    // a resumed run must still end up delta-capable: force the keys
    // stage (idempotent) even when the candidates checkpoint was hit,
    // and persist the statistics runDelta folds its increment into
    if (cfg.persistForDelta) {
      keys
      ck.stage("media_df")(mediaDf)
      ck.stage("corpus_stats")(nDocs)
    }

    // Stages S0/S1/S — shared with runDelta; see scoreStage
    val scored = scoreStage(ck, cfg, view, candidates, Scoring.dfFrac(mediaDf, nDocs))

    // Stage C
    graft.util.PhaseTracker.set("clustering")
    var ccIters = -1
    // pre-attach hard component labels, computed once (CC is
    // deterministic): read by the clusters compute and by the
    // cc_assign resume backfill below
    lazy val assign = {
      val edges = scored.where(col("is_match")).select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val r = ConnectedComponents.run(edges, docs.select("doc_id"), cfg.ccMaxIter)
      ccIters = r.iterations
      r.assignments.localCheckpoint(true)
    }
    val clusters = ck.stage("clusters", clusterMetrics(ccIters)) {
      // persisted for runDelta's contraction step (internal id space;
      // see Cfg.persistForDelta)
      if (cfg.persistForDelta) ck.stage("cc_assign")(assign)
      attachedClusters(ids, assign, scored)
    }
    // contract: a RESUMED run must still end up delta-capable (same as
    // keys/media_df/corpus_stats above). The compute above writes
    // cc_assign, but a clusters _SUCCESS hit skips it — when resuming
    // into persistForDelta over a clusters checkpoint from a non-delta
    // run, derive the labels the original clusters table was built
    // from out of the scored checkpoint. No-op on fresh runs.
    if (cfg.persistForDelta && !done(s"$runDir/cc_assign")) ck.stage("cc_assign")(assign)

    finish(ck, ids, candidates, scored, clusters, ccIters)
  }

  /** Cluster CDC between two runs' user-facing clusters checkpoints —
    * what a downstream consumer at 100 TB actually wants from an
    * increment (the rows that changed, not a full-table re-read).
    * One narrow full-outer join over the two 2-column tables (the
    * cheapest possible corpus-linear pass; the OUTPUT is delta-sized):
    *   - `added`   — doc only in the new run (the increment's docs),
    *   - `moved`   — doc present in both with a different cluster
    *     (cluster merges via edge contraction, attach flips under new
    *     evidence),
    *   - `removed` — doc only in the prior run (never produced by
    *     runDelta, which cannot retract; present for re-baseline
    *     diffs).
    * Applying the changes to the prior table reproduces the new one
    * exactly (PipelineDeltaSpec). */
  def clusterChanges(spark: SparkSession, priorRunDir: String, runDir: String): DataFrame = {
    val old = spark.read.parquet(s"$priorRunDir/clusters")
      .select(col("doc_id"), col("cluster_id").as("old_cluster"))
    val nw = spark.read.parquet(s"$runDir/clusters")
      .select(col("doc_id"), col("cluster_id").as("new_cluster"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .where(not(col("old_cluster") <=> col("new_cluster")))
      .withColumn(
        "change_kind",
        when(col("old_cluster").isNull, lit("added"))
          .when(col("new_cluster").isNull, lit("removed"))
          .otherwise(lit("moved")))
  }

  /** Incremental resolution: resolve `newDocs0` against a prior run's
    * persisted state WITHOUT re-blocking, re-scoring or re-clustering
    * the corpus — the operation that makes a 100 TB deployment
    * maintainable (a daily 1% increment costs ~1% of a full run, not
    * 100%). The prior run must have been executed with
    * `Cfg.persistForDelta = true` (it then carries `keys` and the
    * pre-attach `cc_assign` checkpoints); delta runs write their own
    * delta-sized `keys_new` plus merged `cc_assign` / `media_df` /
    * `clusters`, so a delta dir is a valid prior for the NEXT delta —
    * the key table resolves as the union of `keys_new` down the
    * `_parents` chain to the last full `keys` base (chained
    * increments; a re-baseline full run compacts the chain on
    * whatever cadence suits the corpus).
    *
    * Work done, by stage — everything is delta-sized except two
    * explicitly linear-but-narrow passes (the pruned prior-key scan in
    * delta blocking and the label-map join over the prior assignment
    * table), and the merged `cc_assign` write that keeps the chain
    * closed (same size class as the user-facing clusters table every
    * run must write anyway; `media_df` is vocabulary-sized):
    *  - B: keys for new docs only; [[Blocking.deltaCandidates]] against
    *    the prior key table (semi-join-pruned to touched blocks).
    *  - S: [[scoreStage]] verbatim, over candidates that all involve a
    *    new doc; doc reps are built only for docs appearing in a delta
    *    pair (prior docs semi-join-pruned), so no corpus re-scan.
    *  - C: delta match edges are CONTRACTED — old endpoints map to
    *    their prior HARD component label (`cc_assign`, pre-attach; the
    *    post-attach table would glue sub-threshold attach evidence
    *    into the merge graph) — then CC runs on the delta-sized
    *    contracted graph. Full-run label equivalence: a prior hard
    *    label is the min internal id of its members, so the contracted
    *    component's min over {prior labels, new ids} equals the full
    *    run's min over all members.
    *  - C2: singleton attachment re-runs over the MERGED assignments
    *    with the full evidence chain (this delta's scored pairs plus
    *    every ancestor's, discovered via the `_parents` marker;
    *    ancestor reads are pushdown-filtered to score ≥ attachFloor).
    *    Same inputs as a full run's attach ⇒ same output.
    *
    * Equivalence contract (PipelineDeltaSpec). Delta-scored pairs are
    * BIT-EQUAL to `run(A ∪ B)`'s: media rarity comes from the MERGED
    * corpus statistics (`media_df` counts + n_docs, persisted and
    * summed per increment), not from the touched slice. Two frozen
    * quantities bound the residual difference vs a from-scratch run,
    * both standard incremental semantics refreshed by a re-baseline:
    * (1) prior pairs keep their at-scoring-time media-rarity — a
    * score can drift where a media_ref's dffrac crossed
    * `Weights.maxDfFrac` between snapshots; (2) over-cap block growth
    * drops NEW pairs exactly like a full run but never revokes prior
    * ones ([[Blocking.deltaCandidates]]). When neither boundary is
    * crossed, the clusters table is EQUAL to `run(A ∪ B)`'s — exact
    * on the spec's fixture for a single increment under default
    * weights and for chained increments under df-threshold-free
    * weights.
    *
    * `priorDocs0` (the resolved corpus) is read ONLY via pruned
    * narrow projections/semi-joins; `ids = "dense"` is rejected
    * (dense ids are a per-run dictionary — delta id spaces must be
    * stable across runs, which "hash" and "off" are). */
  def runDelta(
      spark: SparkSession,
      priorDocs0: DataFrame,
      newDocs0: DataFrame,
      priorRunDir: String,
      runDir: String,
      cfg: Cfg = Cfg()
  ): Result = {
    val idMode = requireValid(cfg)
    new java.io.File(runDir).mkdirs()
    require(idMode != "dense",
      "runDelta requires a run-stable id space: ids = \"hash\" or \"off\"; " +
        "'dense' ids are a per-run dictionary")
    // the prior run must be delta-capable and share the id space
    val priorMode = markedIdMode(priorRunDir)
    require(priorMode.isDefined, s"$priorRunDir has no _dictids marker")
    require(priorMode.get == idMode,
      s"prior run dir $priorRunDir uses id mode '${priorMode.get}' but this delta uses '$idMode'")
    Seq("media_df", "corpus_stats", "cc_assign", "scored_pairs", "clusters").foreach { s =>
      require(done(s"$priorRunDir/$s"),
        s"$priorRunDir/$s missing or incomplete — the prior run must use Cfg.persistForDelta=true")
    }
    pinIdMode(runDir, idMode)
    // ancestor chain for attach evidence; this dir extends it by one
    val parents: Seq[String] =
      marker(priorRunDir, "_parents").toSeq.flatMap(_.linesIterator).filter(_.nonEmpty) :+ priorRunDir
    // pin the prior chain exactly like _dictids pins the id mode: a
    // delta dir resumed against a DIFFERENT prior would silently mix
    // checkpoints computed against two priors (keys_new/candidates/
    // scored from the first, contraction/media merge from the second)
    val chain = parents.mkString("\n")
    marker(runDir, "_parents") match {
      case Some(pinned) =>
        require(pinned == chain.trim,
          s"delta run dir $runDir was started against a different prior chain " +
            s"(${pinned.linesIterator.toSeq.lastOption.getOrElse("?")}) — " +
            s"use a fresh delta dir for prior $priorRunDir")
      case None => writeMarker(runDir, "_parents", chain)
    }

    val ck = new Ckpt(spark, runDir, "delta")

    def enc(df: DataFrame): DataFrame =
      if (idMode == "off") df else df.withColumn("doc_id", xxhash64(col("doc_id")))
    // doc_id-only reads of the increment; its one decode (see pinView)
    // is built on first use, by the keys_new stage or stage S0
    val docsNew = enc(newDocs0)
    lazy val (viewNew, nNew) = {
      val (v, n) = pinView(newDocs0, idMode, "new")
      (enc(v), n)
    }

    // nid → original-id dictionary for the output boundary: every id
    // that can appear in the output is either a prior doc (all present
    // in the prior clusters checkpoint — no corpus scan needed) or a
    // new doc.
    val ids = new IdSpace(idMode, spark.read.parquet(s"$priorRunDir/clusters")
      .select(col("doc_id").as("orig_id"))
      .union(newDocs0.select(col("doc_id").as("orig_id")))
      .distinct()
      .select(col("orig_id"), xxhash64(col("orig_id")).as("nid"))
      .localCheckpoint(true))

    graft.util.PhaseTracker.set("blocking")
    // The prior key table is CHAINED, not merged: walking the parent
    // chain backward, each delta dir contributes its delta-sized
    // `keys_new` until the first dir carrying a full `keys` table (a
    // full run or a re-baseline) closes the union. A merged rewrite
    // per increment would be the one corpus-linear WRITE in the delta
    // path — chaining turns it into O(parents) narrow reads instead,
    // and a re-baseline run compacts the chain on whatever cadence
    // suits the corpus.
    val priorKeys = {
      val (deltaDirs, baseAndAbove) = parents.reverse.span(p => !done(s"$p/keys"))
      require(baseAndAbove.nonEmpty,
        s"no full key table found on the prior chain ${parents.mkString(" -> ")} — " +
          "the chain's base run must use Cfg.persistForDelta=true")
      deltaDirs.foreach { p =>
        require(done(s"$p/keys_new"), s"$p/keys_new missing or incomplete on the prior chain")
      }
      (deltaDirs.map(p => s"$p/keys_new") :+ s"${baseAndAbove.head}/keys")
        .map(spark.read.parquet(_))
        .reduce(_.unionByName(_))
    }
    val keysNew = ck.stage("keys_new") {
      // loud guards, both delta-sized: new ids must be valid (see
      // pinView) and must be NEW (delta adds docs; upsert of an
      // existing doc needs a retract, which increments cannot express)
      val view = viewNew
      val overlap = view.select("doc_id")
        .join(spark.read.parquet(s"$priorRunDir/cc_assign").select("doc_id"), Seq("doc_id"), "left_semi")
        .count()
      require(overlap == 0L,
        s"$overlap new doc ids already exist in the prior run — runDelta adds docs, it cannot upsert")
      Blocking.docKeys(view, cfg.blocking)
    }

    val candidates = candidatesStage(ck, cfg, (_, total) => Seq(
      "candidate_pairs" -> total.toDouble,
      "new_docs" -> docsNew.count().toDouble
    ))(Blocking.deltaCandidates(keysNew, priorKeys, cfg.blocking))
    // NO merged key table: the delta dir's `keys_new` plus the
    // `_parents` chain IS the key table for the next increment (see
    // priorKeys above) — writing the merged union here would be the
    // only corpus-linear write in the delta path.

    // MERGED media corpus statistics: prior df counts + the increment's
    // (full-outer sum — delta-sized new counts against the persisted
    // vocabulary table), n_docs bumped by the increment. Checkpointed
    // so the delta dir chains, and fed to scoreStage as the media
    // rarity: pairs scored over the touched slice must see the rarity
    // of the WHOLE corpus (a full run over prior ∪ new computes exactly
    // these fractions, so delta scores match it bit for bit).
    val mergedDf = ck.stage("media_df") {
      val priorDf = spark.read.parquet(s"$priorRunDir/media_df")
      val newDf = Scoring.mediaDfCounts(viewNew)
      priorDf.select(col("media_ref"), col("df").as("df_p"))
        .join(newDf.select(col("media_ref"), col("df").as("df_n")), Seq("media_ref"), "full_outer")
        .select(col("media_ref"),
          (coalesce(col("df_p"), lit(0L)) + coalesce(col("df_n"), lit(0L))).as("df"))
    }
    val mergedStats = ck.stage("corpus_stats") {
      import spark.implicits._
      val nPrior = spark.read.parquet(s"$priorRunDir/corpus_stats")
      Seq(nNew).toDF("n_docs")
        .crossJoin(nPrior.select(col("n_docs").as("n_prior")))
        .select((col("n_docs") + col("n_prior")).as("n_docs"))
    }
    // docs appearing in a delta pair: all new docs + the touched slice
    // of the prior corpus (semi-join prune — the only read of
    // priorDocs0, and it projects nothing until the join keeps a row),
    // pinned: stage S0 reads the view twice
    val touchedIds = candidates
      .select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    def viewTouched = viewNew.unionByName(
      enc(SpanView(priorDocs0)).join(touchedIds, Seq("doc_id"), "left_semi")
        .localCheckpoint(true, StorageLevel.DISK_ONLY))

    val scored = scoreStage(ck, cfg, viewTouched, candidates, Scoring.dfFrac(mergedDf, mergedStats))

    graft.util.PhaseTracker.set("clustering")
    var ccIters = -1
    val clusters = ck.stage("clusters", clusterMetrics(ccIters)) {
      val priorAssign = spark.read.parquet(s"$priorRunDir/cc_assign")
      val edges = scored.where(col("is_match")).select(col("doc_a").as("src"), col("doc_b").as("dst"))
      // contract old endpoints to their prior hard label (new ids pass
      // through: they have no row in priorAssign)
      val lab = priorAssign.select(col("doc_id"), col("cluster_id").as("lab"))
      val e2 = edges
        .join(lab.withColumnRenamed("doc_id", "src"), Seq("src"), "left")
        .withColumn("src2", coalesce(col("lab"), col("src"))).drop("lab")
        .join(lab.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left")
        .withColumn("dst2", coalesce(col("lab"), col("dst"))).drop("lab")
        .select(col("src2").as("src"), col("dst2").as("dst"))
      // nodes: new docs (so unmatched new docs become singletons) plus
      // contracted endpoints (implied by edges, but explicit is safe)
      val nodes = docsNew.select("doc_id")
        .union(e2.select(col("src").as("doc_id")))
        .union(e2.select(col("dst").as("doc_id")))
        .distinct()
      val r = ConnectedComponents.run(e2, nodes, cfg.ccMaxIter)
      ccIters = r.iterations
      val comp = r.assignments.localCheckpoint(true)

      // relabel the prior corpus through the (delta-sized) label map,
      // union the new docs' labels → merged hard assignments
      val labelMap = comp
        .join(lab.select(col("lab").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .where(col("cluster_id") =!= col("doc_id"))
        .select(col("doc_id").as("lab"), col("cluster_id").as("lab2"))
      val mergedAssign = priorAssign
        .join(labelMap, priorAssign("cluster_id") === labelMap("lab"), "left")
        .select(priorAssign("doc_id"), coalesce(col("lab2"), priorAssign("cluster_id")).as("cluster_id"))
        .unionByName(comp.join(docsNew.select("doc_id"), Seq("doc_id"), "left_semi"))
      val mergedCk = ck.stage("cc_assign")(mergedAssign)

      // attach over the merged assignments with the FULL evidence
      // chain — identical inputs to a full run's attach step. Ancestor
      // scored-pairs reads push the attachFloor filter into parquet.
      // one read per ancestor root (a single multi-path read trips
      // partition-discovery on the chunk= layout's differing roots),
      // each with the attach floor pushed into the parquet scan
      val ancestorScored = parents
        .map { p =>
          spark.read
            .option("basePath", s"$p/scored_pairs")
            .parquet(s"$p/scored_pairs")
            .drop("chunk")
            .where(col("score") >= lit(Attach.DefaultAttachFloor))
        }
        .reduce(_.unionByName(_))
      attachedClusters(ids, mergedCk, scored.unionByName(ancestorScored))
    }

    finish(ck, ids, candidates, scored, clusters, ccIters)
  }
}
