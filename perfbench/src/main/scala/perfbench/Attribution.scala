package perfbench

import scala.jdk.CollectionConverters._

/** Puts every job of a traced call in exactly one bucket and derives
  * the per-layer metrics from the buckets and the run's own `metrics`
  * table.
  *
  *  1. a job whose SQL execution writes `runDir/<stage>` belongs to
  *     that checkpoint stage's layer (`lineage`/`metrics` writes to
  *     `pipeline.meta`);
  *  2. a job submitted from the checkpoint writer's background
  *     lineage/metrics pass (its call site runs through `Ckpt.meta`)
  *     belongs to `pipeline.meta`;
  *  3. any other job belongs to the B/S/C window it starts in; the
  *     windows end at the commits of `candidates`, `scored_pairs` and
  *     `clusters` (the end of each stage's last write job).
  */
object Attribution {
  val Layers: Seq[String] = Seq("blocking", "scoring", "cluster", "pipeline.meta")

  /** Stages whose write runs inside another stage's compute (`keys`
    * is forced by `candidates`, `cc_assign` by `clusters`): their wall
    * is already part of the enclosing stage's. */
  val Nested: Set[String] = Set("keys", "cc_assign")

  def layerOf(stage: String): Option[String] = stage match {
    case "keys" | "candidates" | "keys_new" | "id_dict" => Some("blocking")
    case "text_rep" | "media_rep" | "text_dict" | "text_ids" | "text_pair_scores" |
        "scored_pairs" | "media_df" | "corpus_stats" => Some("scoring")
    case "clusters" | "cc_assign" => Some("cluster")
    case "lineage" | "metrics" => Some("pipeline.meta")
    case _ => None
  }

  private val MetaCallSite = "Pipeline$Ckpt.$anonfun$meta$"

  /** `cpuClosureNs`: the untraced listener's task CPU total minus the
    * buckets' sum; 0 when every task landed in exactly one bucket. */
  final case class Result(metrics: Map[String, Double], jobBucket: Map[Int, String], cpuClosureNs: Long)

  def apply(
      l: Ledger,
      runDir: String,
      table: Seq[(String, String, Double)],
      e2eS: Double,
      cores: Int,
      listenerCpuNs: Long
  ): Result = {
    val root = new java.io.File(runDir).getCanonicalPath + "/"
    val execs = l.execs.asScala
    def stageOfExec(id: Long): Option[String] = execs.get(id).flatMap { e =>
      e.write.orElse(execs.get(e.root).flatMap(_.write))
    }.flatMap { p =>
      val abs = new java.io.File(p).getCanonicalPath
      if (abs.startsWith(root)) Some(abs.substring(root.length).takeWhile(_ != '/')) else None
    }
    val jobs = l.jobs.asScala.values.toSeq.sortBy(_.id)
    val written: Map[Int, String] = jobs.flatMap(j => j.exec.flatMap(stageOfExec).map(j.id -> _)).toMap
    def commit(stage: String): Long = {
      val ends = written.collect { case (j, s) if s == stage => Option(l.jobEnds.get(j)).map(_.longValue) }.flatten
      if (ends.isEmpty) Long.MaxValue else ends.max
    }
    val (tB, tS) = (commit("candidates"), commit("scored_pairs"))
    val jobBucket: Map[Int, String] = jobs.map { j =>
      val details = j.exec.flatMap(execs.get).map(_.details).getOrElse(j.details)
      val bucket = written.get(j.id).flatMap(layerOf).getOrElse {
        if (details.contains(MetaCallSite)) "pipeline.meta"
        else if (j.start <= tB) "blocking"
        else if (j.start <= tS) "scoring"
        else "cluster"
      }
      j.id -> bucket
    }.toMap

    val tasks = l.tasks.asScala.toSeq
    val byBucket = tasks.groupBy(t => Option(l.stageJob.get(t.stage)).flatMap(j => jobBucket.get(j)).getOrElse("unattributed"))
    val closure = listenerCpuNs - Layers.iterator.map(b => byBucket.getOrElse(b, Nil).iterator.map(_.cpuNs).sum).sum

    val walls = table.collect { case (s, "wall_ms", v) if !Nested(s) => s -> v / 1e3 }
    def wall(layer: String) = walls.collect { case (s, w) if layerOf(s).contains(layer) => w }.sum
    def tv(stage: String, name: String) = table.collectFirst { case (`stage`, `name`, v) => v }
    val candidatePairs = tv("candidates", "candidate_pairs").getOrElse(0.0)
    val scoredPairs = tv("scored_pairs", "scored_pairs").getOrElse(0.0)
    val matched = tv("scored_pairs", "matched_pairs").getOrElse(0.0)
    val docs = tv("candidates", "new_docs").orElse(tv("clusters", "docs")).getOrElse(0.0)

    def layerStats(b: String, withSpill: Boolean): Seq[(String, Double)] = {
      val ts = byBucket.getOrElse(b, Nil)
      val runs = ts.map(_.runMs).sorted
      val median = if (runs.isEmpty) 0L else runs(runs.size / 2)
      Seq(
        s"$b.wall_s" -> wall(b),
        s"$b.cpu_s" -> ts.iterator.map(_.cpuNs).sum / 1e9,
        s"$b.gc_s" -> ts.iterator.map(_.gcMs).sum / 1e3,
        s"$b.shuffle_bytes" -> ts.iterator.map(_.shuffleBytes).sum.toDouble
      ) ++ (if (withSpill) Seq(
        s"$b.spill_bytes" -> ts.iterator.map(_.spillBytes).sum.toDouble,
        s"$b.task_skew" -> (if (runs.isEmpty) 0.0 else runs.last.toDouble / math.max(1L, median))
      ) else Nil)
    }
    val scoringCpuNs = byBucket.getOrElse("scoring", Nil).iterator.map(_.cpuNs).sum
    val chunkWalls = execs.values.collect {
      case e if stageOfExec(e.id).contains("scored_pairs") && l.execEnds.containsKey(e.id) =>
        (l.execEnds.get(e.id) - e.start) / 1e3
    }
    val (ckptFiles, ckptBytes) = filesUnder(new java.io.File(runDir))
    val taskRunS = tasks.iterator.map(_.runMs).sum / 1e3

    val m = Seq(
      "pipeline.overhead_s" -> (e2eS - walls.map(_._2).sum),
      "pipeline.meta_cpu_s" -> byBucket.getOrElse("pipeline.meta", Nil).iterator.map(_.cpuNs).sum / 1e9,
      "pipeline.jobs" -> jobs.size.toDouble,
      "pipeline.tasks" -> tasks.size.toDouble,
      "pipeline.ckpt_bytes" -> ckptBytes.toDouble,
      "pipeline.ckpt_files" -> ckptFiles.toDouble,
      "pipeline.core_util" -> taskRunS / (e2eS * cores)
    ) ++ layerStats("blocking", withSpill = true) ++ Seq(
      "blocking.candidate_pairs" -> candidatePairs,
      "blocking.pairs_per_doc" -> (if (docs > 0) candidatePairs / docs else 0.0),
      "blocking.useful_ratio" -> (if (candidatePairs > 0) matched / candidatePairs else 0.0)
    ) ++ layerStats("scoring", withSpill = true) ++ Seq(
      "scoring.cpu_ns_per_pair" -> (if (scoredPairs > 0) scoringCpuNs / scoredPairs else 0.0),
      "scoring.match_rate" -> (if (scoredPairs > 0) matched / scoredPairs else 0.0),
      "scoring.dict_fallback" -> tv("scored_pairs", "dict_fallback").getOrElse(0.0),
      "scoring.chunk_wall_max_s" -> (if (chunkWalls.isEmpty) 0.0 else chunkWalls.max)
    ) ++ layerStats("cluster", withSpill = false) ++ Seq(
      "cluster.cc_iterations" -> tv("clusters", "cc_iterations").getOrElse(0.0),
      "cluster.clusters" -> tv("clusters", "clusters").getOrElse(0.0)
    )
    Result(m.toMap, jobBucket, closure)
  }

  /** (regular files, bytes) under a directory, recursively. */
  def filesUnder(d: java.io.File): (Long, Long) =
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = filesUnder(f); (n + n2, b + b2) }
      else (n + 1, b + f.length())
    }
}
