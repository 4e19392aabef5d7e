package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.scoring.Scoring
import graft.cluster.{Attach, ConnectedComponents}
import graft.lineage.Lineage

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
      // dictionary-encode doc ids to longs (nid = xxhash64(doc_id))
      // through B/S/C: variable-width string ids otherwise ride every
      // exploded span-pair row, every scored pair, and every CC
      // iteration — pure shuffle/aggregate payload. Long keys hash and
      // compare in one instruction and shrink the dominant streams.
      // Ids map back to strings at the clusters output (and lazily on
      // the Result accessors); a distinct-count guard fails loudly on
      // the ~n²/2⁶⁴ hash-collision case (at 10¹² docs switch to
      // dictMode = "dense" instead).
      dictIds: Boolean = true,
      // "hash": nid = xxhash64(doc_id) — zero-shuffle encode, collision
      // guard fails loudly at ~n²/2⁶⁴ odds. "dense": a stage-B0
      // checkpointed dictionary of stable dense ids (range-sort +
      // zipWithIndex) — one extra shuffle of the id column at encode
      // time, but collision-FREE by construction: the 10¹²-doc mode,
      // where birthday odds on 64-bit hashes (~2.7%) stop being
      // ignorable.
      dictMode: String = "hash",
      // broadcast the per-doc rep frames (span-id arrays + media sets)
      // into the candidate-pair stream when the corpus is at most this
      // many docs: stage S then runs with ZERO shuffle exchanges
      // (map-side hash joins off the candidate checkpoint). Default 0
      // = off: on a single box the exchange is a memcpy and the four
      // broadcast hash-relation builds are a measured net LOSS
      // (557 vs 469 stage-S CPU core-s at bench scale, FusedAB); on a
      // multi-node cluster the same knob skips two network shuffles of
      // the dominant pair stream — set it to the executor-memory bound
      // (~60 B/doc → 2M docs ≈ 120 MB) when deploying there.
      broadcastRepsMaxDocs: Long = 0L,
      // stage-S kernel path:
      //  - "fused" (default): the whole per-pair text score — best JW,
      //    rescue-Levenshtein, strong-span masks — computed by ONE
      //    codegen'd expression over the two dict-id arrays; no
      //    Generate, no aggregate, one row per pair end to end
      //    (functions/FusedSpanScore.scala). Shares the broadcast
      //    dictionary bound of "dict".
      //  - "dict": dense text dictionary broadcast once; exploded
      //    span-pair stream of fixed-width ints + hash aggregate.
      //    Requires the distinct-span-text dictionary to fit in
      //    executor memory (bench: 1.65M texts ≈ 150 MB).
      //  - "direct": inline string kernels over a text-carrying
      //    exploded stream (no memory bound; the pre-round-4 path).
      //  - "pair": factorized distinct-text-pair score table (measured
      //    2× slower than direct on the bench fixture — its distinct
      //    pass buys nothing when spans rarely repeat verbatim; kept
      //    for corpora with heavy exact-span repetition).
      // All four are value-identical (ScoringDedupSpec).
      scorePath: String = "fused",
      // byte budget for the span-text dictionary broadcast that the
      // "fused"/"dict" paths depend on. The dictionary is the ONE
      // broadcast in the pipeline that grows with corpus size (distinct
      // span texts ~ corpus size; at 100 TB plausibly billions of
      // entries), so an ungated collect is a guaranteed driver/executor
      // OOM at scale. One aggregate over the checkpointed text_dict
      // estimates the in-memory footprint (utf-8 bytes + per-entry JVM
      // overhead); above the budget the run falls back to
      // scorePath="direct" (inline string kernels, no dictionary, no
      // memory bound — value-identical per ScoringDedupSpec), logs the
      // decision, and records it in the metrics table as
      // dict_fallback=1. Same gate pattern as broadcastRepsMaxDocs.
      // Default 2 GiB ≈ a third of a 6 GiB executor heap; bench sf0.1
      // uses ~200 MB.
      dictMaxBytes: Long = 2L << 30,
      // compact the chunk-partitioned candidates checkpoint to exactly
      // scoreChunks files (one repartition on the chunk column before
      // the write; each writer task then owns one chunk dir). The
      // default layout writes up to tasks×scoreChunks files — fine on
      // healthy storage, but the ab_r5 A/B showed the ~8× file/commit
      // count is the pipeline's sensitivity to degraded sync/writeback
      // (HEAD lost ~300 s/run to it in that mode). Turn on where
      // commits are expensive (object stores, degraded disks); off by
      // default because the extra shuffle + 8-task write serialization
      // costs more than it saves on healthy local disk.
      compactCandidateFiles: Boolean = false,
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

  /** Checkpoint-stage writer shared by [[run]] and [[runDelta]]: write
    * to `runDir/name` with `_SUCCESS`-gated idempotent resume, lineage
    * rows and a metrics table.
    *
    * Round-6 latency change (guide §2.6 "overlap independent jobs"):
    * the lineage aggregation and the metrics jobs of a committed stage
    * run on a small background pool, so the NEXT stage's compute
    * backfills the cores they leave idle instead of waiting behind
    * them (at bench scale the blocking stage's lineage+metrics jobs
    * were ~300 core-s of purely sequential tail). The stage row count
    * is read out of the lineage pass itself (sum of per-partition
    * output_rows) instead of a separate count() job — `metrics`
    * therefore receives (stage output, total rows). Appends to the
    * shared lineage/metrics tables are serialized by a lock (two
    * concurrent FileOutputCommitter runs on one path collide in
    * `_temporary/0`), and [[await]] rethrows any background failure
    * before the pipeline returns, so a caller still observes every
    * guard/metric error — at the end of the run instead of at the
    * stage boundary. Crash-window semantics are unchanged in kind: a
    * kill between a stage `_SUCCESS` and its metrics append already
    * lost the metrics rows before this change; the window is merely
    * wider, and a resume recomputes nothing either way. */
  private final class Ckpt(spark: SparkSession, runDir: String, runId: String) {
    private val metaLock = new Object
    private val pending = new java.util.concurrent.ConcurrentLinkedQueue[scala.concurrent.Future[Unit]]()
    private val metaPool = {
      import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
      val p = new ThreadPoolExecutor(2, 2, 1L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
        (r: Runnable) => { val t = new Thread(r, "ckpt-meta"); t.setDaemon(true); t })
      // a run that throws before await() still leaves no idle threads
      p.allowCoreThreadTimeOut(true)
      p
    }
    private val metaEc = scala.concurrent.ExecutionContext.fromExecutor(metaPool)

    /** Submit background lineage+metrics work for a stage that just
      * committed. `lineageOf` is hashed in one pass that also yields
      * the row count handed to `metrics`. */
    def meta(name: String, lineageOf: DataFrame, wallMs: Double)(
        metrics: Long => Seq[(String, Double)]
    ): Unit =
      pending.add(scala.concurrent.Future {
        val lr = Lineage.lineageRows(lineageOf, name, runId)
        val schema = lr.schema
        val rows = lr.collect()
        val total = rows.iterator.map(_.getLong(3)).sum
        val ms = metrics(total) :+ ("wall_ms" -> wallMs)
        metaLock.synchronized {
          Lineage.writeCollectedLineage(spark, rows, schema, runDir)
          Lineage.writeMetrics(spark, name, runId, ms, runDir)
        }
      }(metaEc))

    def stage(
        name: String,
        metrics: (DataFrame, Long) => Seq[(String, Double)] = (_, _) => Nil,
        partitionCols: Seq[String] = Nil
    )(
        compute: => DataFrame
    ): DataFrame = {
      val path = s"$runDir/$name"
      if (!done(path)) {
        val t0 = System.nanoTime()
        compute.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
        val out = spark.read.parquet(path)
        val wallMs = (System.nanoTime() - t0) / 1e6
        meta(name, out, wallMs)(total => metrics(out, total))
      }
      spark.read.parquet(path)
    }

    /** Barrier: every background lineage/metrics job has committed (or
      * its failure is rethrown). Called before run/runDelta returns so
      * the metrics table is complete for readers (Bench, resume). Ends
      * the Ckpt: the pool's threads have exited when this returns. */
    def await(): Unit =
      try {
        var f = pending.poll()
        while (f != null) {
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
          f = pending.poll()
        }
      } finally {
        metaPool.shutdown()
        metaPool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      }
  }

  /** Stages S0 (doc reps) + S1 (dictionary/pair tables, size-gated) +
    * S (chunk-resumable pair scoring) — shared verbatim by [[run]] and
    * [[runDelta]]; see the inline comments at each block. Returns the
    * scored-pairs frame (chunk column dropped). */
  private def scoreStage(
      spark: SparkSession,
      ck: Ckpt,
      runDir: String,
      runId: String,
      cfg: Cfg,
      docs: DataFrame,
      candidates: DataFrame,
      chunkCol: String,
      // media df-fraction table override (media_ref, dffrac): runDelta
      // passes the MERGED corpus statistics so pairs scored over the
      // touched slice see the same media rarity a full run over the
      // whole corpus would — derived-from-`docs` statistics would make
      // delta scores diverge from the full-run contract.
      mediaDfFrac: Option[DataFrame] = None
  ): DataFrame = {
    val chunkPruned = candidates.columns.contains(chunkCol)
    graft.util.PhaseTracker.set("scoring")
    require(Set("fused", "dict", "direct", "pair").contains(cfg.scorePath),
      s"unknown scorePath '${cfg.scorePath}'")

    // Stage S — pair-level resumable scoring: chunk by pmod(salt, n);
    // each chunk commits independently (its own parquet _SUCCESS), the
    // stage-level _SUCCESS commits last. A rerun skips finished chunks.
    // EVERYTHING the chunks consume (S0 reps, S1 dictionary + its
    // driver collect/broadcast, the gate aggregates) is built inside
    // this branch: a resume of a completed run must cost one parquet
    // open, not a multi-GB dictionary broadcast it never reads.
    val scoredPath = s"$runDir/scored_pairs"
    if (!done(scoredPath)) {
      // Stage S0 — doc representations, checkpointed once and shared by
      // every scoring chunk (recomputing them per chunk would re-scan
      // the whole input scoreChunks times). NOTE: media_rep is
      // independent of the text chain and COULD run concurrently with
      // it (guide §2.6) — tried in round 6 and reverted: the bench
      // contract reports stage-S as the SUM of the S0/S1/S stage
      // walls, and overlapping stages double-count the overlapped
      // seconds (pir_scoring read ~100 s against a real elapsed ~70),
      // so the stages stay serial and the walls additive.
      val textRep = ck.stage("text_rep")(Scoring.textRep(docs))
      val mediaRep = ck.stage("media_rep")(mediaDfFrac match {
        case Some(f) => Scoring.mediaRepWithDf(docs, f)
        case None => Scoring.mediaRep(docs)
      })

      // Stage S1 (scorePath-dependent):
      //  - dict: dense span-text dictionary + id-encoded rep,
      //    checkpointed once; the dictionary is broadcast once and every
      //    chunk's kernel reads it (see Scoring.scoreWithRepsDict).
      //  - pair: distinct-text-pair score table, left-joined per chunk.
      // dictionary-size gate (see Cfg.dictMaxBytes): estimate the
      // broadcast footprint from the checkpointed dictionary BEFORE
      // collecting it; over budget → the unbounded direct path. The
      // estimate is one pruned two-column aggregate (utf-8 bytes +
      // 32 B/entry for the byte-array object header and table slot).
      var dictBcastBytes = 0L
      val wantDict = cfg.scorePath == "dict" || cfg.scorePath == "fused"
      val dictSide =
        if (wantDict) {
          val dict = ck.stage("text_dict")(Scoring.textDictDense(textRep))
          val g = dict.agg(
            coalesce(sum(octet_length(col("t"))), lit(0L)).as("b"),
            count(lit(1)).as("n")
          ).head()
          dictBcastBytes = g.getLong(0) + 32L * g.getLong(1)
          if (dictBcastBytes <= cfg.dictMaxBytes) {
            val txtIds = ck.stage("text_ids")(Scoring.textIdsRep(textRep, dict))
            Some((txtIds, Scoring.broadcastDict(dict)))
          } else {
            System.err.println(
              f"[pipeline] span-text dictionary ≈ ${dictBcastBytes / 1e6}%.0f MB exceeds " +
                f"dictMaxBytes=${cfg.dictMaxBytes / 1e6}%.0f MB — falling back to scorePath=direct")
            None
          }
        } else None
      val scorePath = if (wantDict && dictSide.isEmpty) "direct" else cfg.scorePath
      val pairScores =
        if (scorePath == "pair")
          Some(ck.stage("text_pair_scores")(Scoring.textPairScores(candidates, textRep, cfg.weights)))
        else None

      // one count on the checkpointed rep decides the fused path's rep
      // distribution: broadcast (zero-shuffle stage S) vs shuffle joins
      val bcastReps = scorePath == "fused" && cfg.broadcastRepsMaxDocs > 0 &&
        dictSide.exists(_._1.count() <= cfg.broadcastRepsMaxDocs)

      val t0 = System.nanoTime()
      // chunk-count marker: the stage read below globs every chunk=*
      // dir, so chunks committed by an earlier attempt with a DIFFERENT
      // scoreChunks would silently duplicate scored pairs on resume.
      // Mismatch => the old partition of the pair set is incompatible;
      // drop all chunk dirs and start the stage over.
      locally {
        val marker = java.nio.file.Paths.get(s"$scoredPath/_chunks")
        val prior =
          if (java.nio.file.Files.exists(marker))
            scala.util.Try(java.nio.file.Files.readString(marker).trim.toInt).toOption
          else None
        if (!prior.contains(cfg.scoreChunks)) {
          val d = new java.io.File(scoredPath)
          if (d.exists()) d.listFiles().filter(_.getName.startsWith("chunk=")).foreach { f =>
            org.apache.commons.io.FileUtils.deleteQuietly(f)
          }
          java.nio.file.Files.createDirectories(marker.getParent)
          java.nio.file.Files.writeString(marker, cfg.scoreChunks.toString)
        }
      }
      // chunks are independent jobs — submit them CONCURRENTLY so the
      // scheduler backfills each job's shuffle/commit barriers with the
      // other chunks' tasks (sequential chunks left cores idle at every
      // barrier: measured 0.56 scaling efficiency 8→32 before this)
      // fail at config read with the env var named, not mid-run with a
      // bare NumberFormatException after blocking already committed
      val conc = sys.env.get("SPARK_GRAFT_SCORE_CONC").map { s =>
        scala.util.Try(s.trim.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_SCORE_CONC must be an integer, got '$s'"))
      }.getOrElse(math.min(cfg.scoreChunks, 8))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, conc))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = (0 until cfg.scoreChunks).map { i =>
        scala.concurrent.Future {
          val cpath = s"$scoredPath/chunk=$i"
          if (!done(cpath)) {
            val chunk =
              if (chunkPruned) candidates.where(col(chunkCol) === i)
              else candidates.where(pmod(col("salt"), lit(cfg.scoreChunks)) === i)
            (scorePath match {
              case "fused" =>
                val (txtIds, bc) = dictSide.get
                Scoring.scoreWithRepsFused(chunk, txtIds, mediaRep, cfg.weights, bc, bcastReps)
              case "dict" =>
                val (txtIds, bc) = dictSide.get
                Scoring.scoreWithRepsDict(chunk, txtIds, mediaRep, cfg.weights, bc)
              case "pair" =>
                Scoring.scoreWithReps(chunk, textRep, mediaRep, cfg.weights, pairScores)
              case _ =>
                Scoring.scoreWithRepsDirect(chunk, textRep, mediaRep, cfg.weights)
            }).write.mode("overwrite").parquet(cpath)
          }
        }
      }
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf
      )
      finally pool.shutdown()
      val out = spark.read.parquet(scoredPath).drop("chunk")
      val wallMs = (System.nanoTime() - t0) / 1e6
      // lineage + metrics in the background (Ckpt.meta): the total
      // comes from the lineage pass, the matched count is one pruned
      // single-column job — clustering starts immediately and
      // backfills both
      ck.meta("scored_pairs", out, wallMs) { total =>
        Seq(
          "scored_pairs" -> total.toDouble,
          "matched_pairs" -> out.where(col("is_match")).count().toDouble,
          // dictionary-gate audit trail: the estimated broadcast bytes
          // and whether the run was forced off the fused/dict path
          "dict_bcast_bytes" -> dictBcastBytes.toDouble,
          "dict_fallback" -> (if (wantDict && dictSide.isEmpty) 1.0 else 0.0)
        )
      }
      new java.io.File(s"$scoredPath/_SUCCESS").createNewFile()
    }
    spark.read.parquet(scoredPath).drop("chunk")
  }

  /** Run (or resume) the pipeline. `docs` must have the input_hint
    * shape; stage outputs are written under `runDir`. */
  def run(spark: SparkSession, docs0: DataFrame, runDir: String, cfg: Cfg = Cfg()): Result = {
    val runId = "run"
    new java.io.File(runDir).mkdirs()

    // id-encoding marker: checkpoints written under a different id
    // encoding are incompatible (long nids vs string ids, or hash vs
    // dense longs) — resuming across the mismatch would silently join
    // nothing. Fail loudly like _chunks. ("true" = legacy hash marker.)
    val idMode = if (!cfg.dictIds) "off" else cfg.dictMode
    require(Set("off", "hash", "dense").contains(idMode), s"unknown dictMode '${cfg.dictMode}'")
    locally {
      val marker = java.nio.file.Paths.get(s"$runDir/_dictids")
      if (java.nio.file.Files.exists(marker)) {
        val prior = java.nio.file.Files.readString(marker).trim match {
          case "true" => "hash"
          case "false" => "off"
          case m => m
        }
        require(prior == idMode,
          s"run dir $runDir was written with id mode '$prior' but this run uses '$idMode'; " +
            "use a fresh run dir or match the setting")
      } else java.nio.file.Files.writeString(marker, idMode)
    }

    val ck = new Ckpt(spark, runDir, runId)
    def stage(
        name: String,
        metrics: (DataFrame, Long) => Seq[(String, Double)] = (_, _) => Nil,
        partitionCols: Seq[String] = Nil
    )(
        compute: => DataFrame
    ): DataFrame = ck.stage(name, metrics, partitionCols)(compute)

    // internal long ids (see Cfg.dictIds/dictMode); the checkpointed
    // clusters table and the Result accessors expose original string
    // ids. idMap is distinct-ed: duplicate doc_id input rows would
    // otherwise multiply every mapBack inner join.
    // Stage B0 (dense mode only) — stable dense ids: distinct ids
    // range-sorted then zipWithIndex (two narrow jobs, one shuffle of
    // the id column; no global single-partition sort). Checkpointed
    // first so every later stage and resume reads the SAME dictionary.
    lazy val denseDict = stage("id_dict") {
      import spark.implicits._
      docs0.select("doc_id").distinct()
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id")
        .rdd.zipWithIndex
        .map { case (r, i) => (r.getString(0), i) }
        .toDF("orig_id", "nid")
    }
    // pinned: mapBack joins it once per id column (two in the clusters
    // stage alone) — without the pin each join re-scans the input and
    // re-runs the distinct shuffle
    lazy val idMap = (idMode match {
      case "dense" => denseDict
      case _ => docs0.select(col("doc_id").as("orig_id"), xxhash64(col("doc_id")).as("nid")).distinct()
    }).localCheckpoint(true)
    val docs = idMode match {
      case "off" => docs0
      case "hash" => docs0.withColumn("doc_id", xxhash64(col("doc_id")))
      case "dense" =>
        docs0
          .join(denseDict.withColumnRenamed("orig_id", "doc_id"), "doc_id")
          .drop("doc_id")
          .withColumnRenamed("nid", "doc_id")
    }
    def mapBack(df: DataFrame, idCols: Seq[String]): DataFrame =
      if (idMode == "off") df
      else idCols.foldLeft(df) { (d, c) =>
        d.join(idMap.select(col("nid").as(c), col("orig_id").as(s"${c}__s")), c)
          .drop(c)
          .withColumnRenamed(s"${c}__s", c)
      }

    // scoring-chunk partition column; the modulus rides in the name so
    // the checkpoint layout self-describes (see the candidates stage)
    val chunkCol = s"chunk_${cfg.scoreChunks}"

    // Stage B — key table materialized once (lazily, only when the
    // candidates checkpoint is absent), shared by the pair join and the
    // drop-accounting metrics.
    graft.util.PhaseTracker.set("blocking")
    // persistForDelta: the key table becomes a real checkpoint (the
    // stage-B1 table a cluster deployment would write anyway) so a
    // later runDelta can join against it; otherwise a localCheckpoint
    // pin, recomputed only when the candidates stage is fresh.
    lazy val keys =
      if (cfg.persistForDelta) ck.stage("keys")(Blocking.docKeys(docs, cfg.blocking))
      else Blocking.docKeys(docs, cfg.blocking).localCheckpoint(true)
    // block census pinned once, shared by pair generation AND the
    // drop-accounting metrics (dropMetrics previously re-aggregated
    // the whole key table a second time)
    lazy val census = Blocking.blockSizes(keys).localCheckpoint(true)
    val candidates = stage(
      "candidates",
      (_, total) => {
        if (idMode == "hash") {
          // loud collision guard: one pruned single-column pass per
          // fresh run; at 10¹² ids use dictMode = "dense" (collisions
          // become certain at that scale). Dense ids need no guard —
          // unique by construction.
          val ids = docs0.agg(
            countDistinct(col("doc_id")).as("n"),
            countDistinct(xxhash64(col("doc_id"))).as("nh")
          ).head()
          require(ids.getLong(0) == ids.getLong(1),
            s"xxhash64 doc_id collision (${ids.getLong(0)} ids -> ${ids.getLong(1)} hashes); rerun with dictIds=false")
        }
        val drops = Blocking.dropMetrics(keys, cfg.blocking, Some(census)).head()
        Seq(
          "candidate_pairs" -> total.toDouble,
          "dropped_blocks" -> drops.getDouble(0),
          "dropped_pairs_est" -> drops.getDouble(1)
        )
      },
      // directory-partition by scoring chunk: each chunk job's filter
      // becomes partition PRUNING instead of a pmod predicate parquet
      // cannot push down — without this every one of the scoreChunks
      // jobs decoded the FULL candidate table (8× redundant scan
      // decode at bench scale). The modulus is baked into the COLUMN
      // NAME (chunk_<scoreChunks>), so the layout self-describes
      // atomically with the data: a resume under a different
      // scoreChunks simply doesn't find its column and falls back to
      // the always-correct pmod-on-salt filter (the chunk dirs
      // partition the same rows, so scanning all of them with the
      // pmod predicate is layout-independent).
      partitionCols = Seq(chunkCol)
    ) {
      val base = Blocking.candidatesFromKeys(keys, cfg.blocking, Some(census))
        .withColumn(chunkCol, pmod(col("salt"), lit(cfg.scoreChunks)).cast("int"))
      if (cfg.compactCandidateFiles) base.repartition(cfg.scoreChunks, col(chunkCol))
      else base
    }
    // a resumed run must still end up delta-capable: force the keys
    // stage (idempotent) even when the candidates checkpoint was hit,
    // and persist the mergeable media corpus statistics (raw df COUNTS
    // + n_docs — counts sum across increments exactly; the dffrac
    // ratio does not) that runDelta folds its increment into
    if (cfg.persistForDelta) {
      keys
      ck.stage("media_df")(Scoring.mediaDfCounts(docs))
      ck.stage("corpus_stats")(
        docs.agg(count(lit(1)).as("n_docs")))
    }

    // Stages S0/S1/S — shared with runDelta; see scoreStage
    val scored = scoreStage(spark, ck, runDir, runId, cfg, docs, candidates, chunkCol)

    // Stage C
    graft.util.PhaseTracker.set("clustering")
    var ccIters = -1
    val clusters = stage(
      "clusters",
      // row count from the lineage pass; distinct-cluster count is one
      // pruned single-column aggregate (was: two separate full count
      // jobs on top of the lineage scan)
      (out, total) => Seq(
        "docs" -> total.toDouble,
        "clusters" -> out.agg(countDistinct(col("cluster_id"))).head().getLong(0).toDouble,
        "cc_iterations" -> ccIters.toDouble
      )
    ) {
      val edges = scored.where(col("is_match")).select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val r = ConnectedComponents.run(edges, docs.select("doc_id"), cfg.ccMaxIter)
      ccIters = r.iterations
      val assign = r.assignments.localCheckpoint(true)
      // pre-attach hard component labels, persisted for runDelta's
      // contraction step (internal id space; see Cfg.persistForDelta)
      if (cfg.persistForDelta) ck.stage("cc_assign")(assign)
      // C2: aggregate-evidence singleton attachment (see Attach), then
      // dictionary decode — the stored clusters table is user-facing
      // and carries original ids (cluster_id = the doc_id of the
      // min-nid member; deterministic, so resume stays byte-stable)
      mapBack(
        Attach.attachSingletons(assign, scored),
        Seq("doc_id", "cluster_id")
      ).repartitionByRange(col("cluster_id"), col("doc_id"))
    }

    // contract: a RESUMED run must still end up delta-capable (same as
    // keys/media_df/corpus_stats above). cc_assign is written inside
    // the clusters compute block, which a _SUCCESS hit skips entirely —
    // when resuming into persistForDelta over a clusters checkpoint
    // from a non-delta run, recompute the pre-attach labels from the
    // scored checkpoint (CC is deterministic, so these are the labels
    // the original clusters table was built from). No-op on fresh runs:
    // the inner write already committed its _SUCCESS.
    if (cfg.persistForDelta && !done(s"$runDir/cc_assign")) {
      ck.stage("cc_assign") {
        val edges = scored.where(col("is_match"))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        ConnectedComponents.run(edges, docs.select("doc_id"), cfg.ccMaxIter).assignments
      }
    }

    graft.util.PhaseTracker.set("other")
    // background lineage/metrics barrier: the metrics table must be
    // complete (and any guard failure surfaced) before the run returns
    ck.await()
    // drop EVERY chunk_<n> column, not just the current modulus: a
    // candidates checkpoint resumed under a different scoreChunks
    // carries its writer's chunk_<old> partition column, which would
    // otherwise leak into Result.candidates and change its schema
    // between a fresh run and a resume
    val chunkCols = candidates.columns.filter(_.matches("chunk_\\d+"))
    Result(
      mapBack(candidates.drop(chunkCols: _*), Seq("doc_a", "doc_b")),
      mapBack(scored, Seq("doc_a", "doc_b")),
      clusters,
      ccIters
    )
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
    * narrow projections/semi-joins; `dictMode = "dense"` is rejected
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
    val runId = "delta"
    new java.io.File(runDir).mkdirs()

    val idMode = if (!cfg.dictIds) "off" else cfg.dictMode
    require(idMode != "dense",
      "runDelta requires a run-stable id space: dictMode='hash' (or dictIds=false); " +
        "'dense' ids are a per-run dictionary")
    // the prior run must be delta-capable and share the id space
    locally {
      val marker = java.nio.file.Paths.get(s"$priorRunDir/_dictids")
      require(java.nio.file.Files.exists(marker), s"$priorRunDir has no _dictids marker")
      val prior = java.nio.file.Files.readString(marker).trim match {
        case "true" => "hash"
        case "false" => "off"
        case m => m
      }
      require(prior == idMode,
        s"prior run dir $priorRunDir uses id mode '$prior' but this delta uses '$idMode'")
    }
    Seq("media_df", "corpus_stats", "cc_assign", "scored_pairs", "clusters").foreach { s =>
      require(done(s"$priorRunDir/$s"),
        s"$priorRunDir/$s missing or incomplete — the prior run must use Cfg.persistForDelta=true")
    }
    locally {
      val marker = java.nio.file.Paths.get(s"$runDir/_dictids")
      if (java.nio.file.Files.exists(marker))
        require(java.nio.file.Files.readString(marker).trim == idMode,
          s"delta run dir $runDir was written with a different id mode")
      else java.nio.file.Files.writeString(marker, idMode)
    }
    // ancestor chain for attach evidence; this dir extends it by one
    val parents: Seq[String] = {
      val pm = java.nio.file.Paths.get(s"$priorRunDir/_parents")
      val above =
        if (java.nio.file.Files.exists(pm))
          java.nio.file.Files.readAllLines(pm).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
        else Nil
      above :+ priorRunDir
    }
    // pin the prior chain exactly like _dictids pins the id mode: a
    // delta dir resumed against a DIFFERENT prior would silently mix
    // checkpoints computed against two priors (keys_new/candidates/
    // scored from the first, contraction/media merge from the second)
    locally {
      val pm = java.nio.file.Paths.get(s"$runDir/_parents")
      val chain = parents.mkString("\n")
      if (java.nio.file.Files.exists(pm))
        require(java.nio.file.Files.readString(pm).trim == chain.trim,
          s"delta run dir $runDir was started against a different prior chain " +
            s"(${java.nio.file.Files.readString(pm).trim.linesIterator.toSeq.lastOption.getOrElse("?")}) — " +
            s"use a fresh delta dir for prior $priorRunDir")
      else java.nio.file.Files.writeString(pm, chain)
    }

    val ck = new Ckpt(spark, runDir, runId)

    def enc(df: DataFrame): DataFrame =
      if (idMode == "off") df else df.withColumn("doc_id", xxhash64(col("doc_id")))
    val docsNew = enc(newDocs0)

    // nid → original-id dictionary for the output boundary: every id
    // that can appear in the output is either a prior doc (all present
    // in the prior clusters checkpoint — no corpus scan needed) or a
    // new doc.
    val priorClustersOrig = spark.read.parquet(s"$priorRunDir/clusters")
    lazy val idMap = priorClustersOrig.select(col("doc_id").as("orig_id"))
      .union(newDocs0.select(col("doc_id").as("orig_id")))
      .distinct()
      .select(col("orig_id"), xxhash64(col("orig_id")).as("nid"))
      .localCheckpoint(true)
    def mapBack(df: DataFrame, idCols: Seq[String]): DataFrame =
      if (idMode == "off") df
      else idCols.foldLeft(df) { (d, c) =>
        d.join(idMap.select(col("nid").as(c), col("orig_id").as(s"${c}__s")), c)
          .drop(c)
          .withColumnRenamed(s"${c}__s", c)
      }

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
      // loud guards, both delta-sized: new ids must not collide with
      // each other or the prior corpus (hash mode), and must be NEW
      // (delta adds docs; upsert of an existing doc needs a retract,
      // which increments cannot express)
      if (idMode == "hash") {
        val g = newDocs0.agg(
          countDistinct(col("doc_id")).as("n"),
          countDistinct(xxhash64(col("doc_id"))).as("nh")).head()
        require(g.getLong(0) == g.getLong(1), "xxhash64 doc_id collision among new docs")
      }
      val overlap = docsNew.select("doc_id")
        .join(spark.read.parquet(s"$priorRunDir/cc_assign").select("doc_id"), Seq("doc_id"), "left_semi")
        .count()
      require(overlap == 0L,
        s"$overlap new doc ids already exist in the prior run — runDelta adds docs, it cannot upsert")
      Blocking.docKeys(docsNew, cfg.blocking)
    }

    val chunkCol = s"chunk_${cfg.scoreChunks}"
    val candidates = ck.stage(
      "candidates",
      (_, total) => Seq(
        "candidate_pairs" -> total.toDouble,
        "new_docs" -> docsNew.count().toDouble
      ),
      partitionCols = Seq(chunkCol)
    ) {
      val base = Blocking.deltaCandidates(keysNew, priorKeys, cfg.blocking)
        .withColumn(chunkCol, pmod(col("salt"), lit(cfg.scoreChunks)).cast("int"))
      if (cfg.compactCandidateFiles) base.repartition(cfg.scoreChunks, col(chunkCol))
      else base
    }
    // NO merged key table: the delta dir's `keys_new` plus the
    // `_parents` chain IS the key table for the next increment (see
    // priorKeys above) — writing the merged union here would be the
    // only corpus-linear write in the delta path.

    // MERGED media corpus statistics: prior df counts + the increment's
    // (full-outer sum — delta-sized new counts against the persisted
    // vocabulary table), n_docs bumped by the increment. Checkpointed
    // so the delta dir chains, and fed to scoreStage as the df-fraction
    // override: pairs scored over the touched slice must see the media
    // rarity of the WHOLE corpus (a full run over prior ∪ new computes
    // exactly these fractions, so delta scores match it bit for bit).
    val mergedDf = ck.stage("media_df") {
      val priorDf = spark.read.parquet(s"$priorRunDir/media_df")
      val newDf = Scoring.mediaDfCounts(docsNew)
      priorDf.select(col("media_ref"), col("df").as("df_p"))
        .join(newDf.select(col("media_ref"), col("df").as("df_n")), Seq("media_ref"), "full_outer")
        .select(col("media_ref"),
          (coalesce(col("df_p"), lit(0L)) + coalesce(col("df_n"), lit(0L))).as("df"))
    }
    val mergedStats = ck.stage("corpus_stats") {
      val nPrior = spark.read.parquet(s"$priorRunDir/corpus_stats")
      docsNew.agg(count(lit(1)).as("n_docs"))
        .crossJoin(nPrior.select(col("n_docs").as("n_prior")))
        .select((col("n_docs") + col("n_prior")).as("n_docs"))
    }
    // same arithmetic shape as Scoring.mediaRep: long df / double n
    val dfFrac = mergedDf
      .crossJoin(mergedStats.select(col("n_docs").cast("double").as("n_docs")))
      .select(col("media_ref"), (col("df") / col("n_docs")).as("dffrac"))

    // docs appearing in a delta pair: all new docs + the touched slice
    // of the prior corpus (semi-join prune — the only read of
    // priorDocs0, and it projects nothing until the join keeps a row)
    val touchedIds = candidates
      .select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    val docsTouched = docsNew.unionByName(
      enc(priorDocs0).join(touchedIds, Seq("doc_id"), "left_semi"))

    val scored =
      scoreStage(spark, ck, runDir, runId, cfg, docsTouched, candidates, chunkCol, Some(dfFrac))

    graft.util.PhaseTracker.set("clustering")
    var ccIters = -1
    val clusters = ck.stage(
      "clusters",
      (out, total) => Seq(
        "docs" -> total.toDouble,
        "clusters" -> out.agg(countDistinct(col("cluster_id"))).head().getLong(0).toDouble,
        "cc_iterations" -> ccIters.toDouble
      )
    ) {
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
      mapBack(
        Attach.attachSingletons(mergedCk, scored.unionByName(ancestorScored)),
        Seq("doc_id", "cluster_id")
      ).repartitionByRange(col("cluster_id"), col("doc_id"))
    }

    graft.util.PhaseTracker.set("other")
    ck.await()
    val chunkCols = candidates.columns.filter(_.matches("chunk_\\d+"))
    Result(
      mapBack(candidates.drop(chunkCols: _*), Seq("doc_a", "doc_b")),
      mapBack(scored, Seq("doc_a", "doc_b")),
      clusters,
      ccIters
    )
  }
}
