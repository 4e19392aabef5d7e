package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.schema.Fixture
import graft.tools.Calibrate

/** Closed-loop benchmark of the B→S→C pipeline: one client, one JVM,
  * back-to-back `Pipeline.run` / `Pipeline.runDelta` calls on a corpus
  * generated from the seed, each into a fresh run dir.
  *
  * Usage: Main --workload full|sparse|delta --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE
  *
  * Prints a readable report on stdout and writes one JSON object to
  * FILE. Exit code 1 when a correctness check fails.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, out: String)

  /** One workload: its corpus, and what one timed call runs. */
  final case class Workload(name: String, corpus: Long => Fixture.Cfg, delta: Boolean)

  val Workloads: Map[String, Workload] = Seq(
    // stage S dominates: ~20 candidate pairs per doc, like the reference
    // generator. A fixed 50 docs per entity (inside the reference's
    // 30-100 range) keeps the corpus size equal across seeds, so the seed
    // varies content, not the amount of work.
    Workload("full", s => Fixture.Cfg(entities = 100, seed = s, docsPerEntityMin = 50, docsPerEntityMax = 50), delta = false),
    // blocking and per-doc checkpoints dominate: ~1.5 pairs per doc. No
    // hot media asset: on 4k docs its ~200-doc block stays under
    // Blocking.Cfg.maxBlockSize and alone would make most of the pairs,
    // where on a large corpus the cap drops it.
    Workload("sparse", s => Fixture.Cfg(entities = 800, seed = s, docsPerEntityMin = 2, docsPerEntityMax = 8,
      hotMediaRate = 0.0), delta = false),
    // the daily-increment path: 1% of the `full` corpus against a prior over the rest
    Workload("delta", s => Fixture.Cfg(entities = 100, seed = s, docsPerEntityMin = 50, docsPerEntityMax = 50), delta = true)
  ).map(w => w.name -> w).toMap

  /** The increment of the `delta` workload. */
  val isNew = pmod(xxhash64(col("doc_id")), lit(100)) < 1

  final case class Sample(e2eS: Double, cpuS: Double, heapGb: Double, stealS: Double, foreignS: Double,
      compiles: Long, traced: Boolean, digest: Long)

  /** Entries of Spark's generated-code cache: room for every class one call plans. */
  val CodegenCache = 4000

  /** Janino compilations of generated code so far in this JVM. */
  def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
    require(Workloads.contains(o.workload), s"unknown workload '${o.workload}' (${Workloads.keys.mkString(", ")})")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val ok = run(o)
    sys.exit(if (ok) 0 else 1)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def digest(clusters: DataFrame): Long =
    clusters.agg(coalesce(bit_xor(xxhash64(col("doc_id"), col("cluster_id"))), lit(0L))).head().getLong(0)

  def run(o: Opts): Boolean = {
    val wl = Workloads(o.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new java.io.File(o.work).getCanonicalPath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    val spans = new Spans

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      // one call plans ~240 whole-stage-codegen classes; with Spark's
      // default cache of 100 every call would compile them all again, so
      // a timed call would measure Janino and cold JIT instead of the
      // pipeline. Each class is compiled once, in the warm-up.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCache.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    spans.add("setup.session", jvmStart, System.currentTimeMillis())
    Heap.install()
    val totals = new Totals
    spark.sparkContext.addSparkListener(totals)

    try {
      // ---- setup: fixture, warm-up, delta reference and prior
      val tSetup = System.nanoTime()
      val cfg = wl.corpus(o.seed)
      val genS = spans.time("schema.gen") {
        val t0 = System.nanoTime()
        // one file per core: the generator's 64 tiny partitions are no
        // input a deployment would see
        Fixture.docs(spark, cfg).coalesce(cores).write.parquet(s"$work/fixture/docs")
        secs(t0)
      }
      val docsAll = spark.read.parquet(s"$work/fixture/docs")
      val labels = Fixture.labels(spark, cfg).toDF()
      val nDocsAll = (0L until cfg.entities.toLong).map(e => Fixture.docsPerEntity(cfg, e).toLong).sum
      val priorDocs = docsAll.where(!isNew)
      val newDocs = docsAll.where(isNew)
      // full/sparse: one untimed call on the whole corpus (the plans of
      // a timed call, so their code is generated, compiled and JIT-warmed
      // here); delta: the same call, which is also the reference the
      // delta must reproduce, then the persisted prior over the other 99%
      System.gc()
      Heap.reset()
      val reference = spans.time("setup.warmup") {
        val r = Pipeline.run(spark, docsAll, s"$work/warmup")
        if (wl.delta) Some(r) else None
      }
      val warmupHeapGb = Heap.peakAfterGc() / 1e9
      val warmupCompiles = compiles()
      val priorDir = s"$work/prior"
      if (wl.delta) spans.time("setup.prior") {
        Pipeline.run(spark, priorDocs, priorDir, Pipeline.Cfg(persistForDelta = true))
      }
      val nDocs = if (wl.delta) newDocs.count() else nDocsAll
      val setupS = sessionS + secs(tSetup)

      // ---- timed loop
      def call(dir: String): Pipeline.Result =
        if (wl.delta) Pipeline.runDelta(spark, priorDocs, newDocs, priorDir, dir)
        else Pipeline.run(spark, docsAll, dir)

      val samples = ArrayBuffer.empty[Sample]
      var attempted = 0
      var failed = 0
      val layerSamples = ArrayBuffer.empty[Map[String, Double]]
      var closureOk = true
      var lastDir: String = null
      var lastResult: Pipeline.Result = null
      val tLoop = System.nanoTime()
      def more: Boolean = {
        val last = samples.lastOption.map(_.e2eS).getOrElse(0.0)
        attempted == 0 || (secs(tLoop) + last <= o.seconds && attempted < 1000)
      }
      while (more) {
        attempted += 1
        val traced = o.trace
        val dir = s"$work/runs/r$attempted"
        val ledger = new Ledger
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        if (traced) spark.sparkContext.addSparkListener(ledger)
        // every call starts from a clean heap, with the previous call's
        // shuffles and checkpoints released by Spark's cleaner
        System.gc()
        Thread.sleep(500)
        totals.cpuNs.set(0L)
        Heap.reset()
        val c0 = compiles()
        val h0 = HostStat.snap()
        val t0 = System.nanoTime()
        val ms0 = System.currentTimeMillis()
        val res = scala.util.Try(call(dir))
        val e2e = secs(t0)
        spans.add(s"call#$attempted${if (traced) ".traced" else ""}", ms0, System.currentTimeMillis())
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        if (traced) spark.sparkContext.removeSparkListener(ledger)
        val cpuNs = totals.cpuNs.get()
        val cpu = cpuNs / 1e9
        val heap = Heap.peakAfterGc() / 1e9
        val (steal, foreign) = HostStat.between(h0, HostStat.snap())
        val compiled = compiles() - c0
        res match {
          case scala.util.Success(r) =>
            samples += Sample(e2e, cpu, heap, steal, foreign, compiled, traced, digest(r.clusters))
            if (traced) {
              val table = spark.read.parquet(s"$dir/metrics").collect()
                .map(r => (r.getString(0), r.getString(2), r.getDouble(3))).toSeq
              val a = Attribution(ledger, dir, table, e2e, cores, cpuNs)
              a.jobBucket.toSeq.sortBy(_._1).foreach { case (j, b) =>
                val job = ledger.jobs.get(j)
                val end = Option(ledger.jobEnds.get(j)).map(_.longValue).getOrElse(job.start)
                spans.add(s"job#$j", job.start, end, parent = b)
              }
              closureOk &&= a.cpuClosureNs == 0L
              layerSamples += a.metrics ++ Map(
                "trace.e2e_s" -> e2e,
                "trace.listener_s" -> ledger.busyNs.get() / 1e9)
            }
            if (lastDir != null) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lastDir))
            lastDir = dir
            lastResult = r
          case scala.util.Failure(e) =>
            failed += 1
            System.err.println(s"call $attempted failed: $e")
            e.printStackTrace()
        }
        println(f"sample $attempted%d${if (traced) " traced" else ""}%s: e2e_s=$e2e%.3f task_cpu_s=$cpu%.3f " +
          f"live_heap_gb=$heap%.3f steal_s=$steal%.2f foreign_cpu_s=$foreign%.2f codegen_compiles=$compiled%d" +
          res.failed.toOption.map(e => s" FAILED: $e").getOrElse(""))
      }

      // ---- correctness
      val checks = ArrayBuffer.empty[(String, Boolean, String)]
      val digests = samples.map(_.digest).distinct
      checks += (("assignment digest identical across the run's calls", digests.size <= 1, digests.mkString(",")))
      val f1 = if (lastResult == null) Double.NaN else {
        // the delta's labeled universe is the reference full run's candidate set
        val universe = reference.getOrElse(lastResult).candidates
        val (_, _, f, _, _) = Calibrate.pairwiseF1(
          Calibrate.clusterPairs(lastResult.clusters, universe), universe, labels)
        f
      }
      if (wl.name == "full") checks += (("pairwise F1 >= 0.99", f1 >= 0.99, f"$f1%.4f"))
      if (wl.delta && lastResult != null) {
        val diff = lastResult.clusters.select(col("doc_id"), col("cluster_id").as("d"))
          .join(reference.get.clusters.select(col("doc_id"), col("cluster_id").as("f")), Seq("doc_id"), "full_outer")
          .where(not(col("d") <=> col("f"))).count()
        checks += (("delta clusters equal a full run over the same corpus", diff == 0L, s"$diff label diffs"))
      }
      if (o.trace) {
        checks += (("bucket task CPU sums to the listener total", closureOk, if (closureOk) "exact" else "mismatch"))
      }
      checks += (("at least one call succeeded", samples.nonEmpty, s"${samples.size}/$attempted"))

      // ---- per-layer probes (traced runs only)
      val layer: Map[String, Double] = if (!o.trace || layerSamples.isEmpty) Map.empty else {
        val keys = layerSamples.head.keys
        val med = keys.map(k => k -> median(layerSamples.map(_(k)).toSeq)).toMap
        val kern = spans.time("functions.probes") {
          Kernels.probe(spark, if (wl.delta) newDocs.unionByName(priorDocs) else docsAll, lastDir)
        }
        med ++ kern + ("schema.gen_s" -> genS)
      }
      val correct = checks.forall(_._2)

      // ---- report
      val e2es = samples.map(_.e2eS).toSeq
      val n = samples.size
      val e2eMed = median(e2es)
      val endToEnd: Seq[(String, Double, String)] = Seq(
        ("e2e_s", e2eMed, "s"),
        ("task_cpu_s", median(samples.map(_.cpuS).toSeq), "core-s"),
        ("docs_per_s", nDocs / e2eMed, "docs/s"),
        ("setup_s", setupS, "s"),
        // the largest of the full-scale calls, warm-up included: a call
        // whose young collections all miss its peak reads low
        ("live_heap_gb", (samples.map(_.heapGb) ++ (if (wl.delta) Nil else Seq(warmupHeapGb))).maxOption
          .getOrElse(Double.NaN), "GB"),
        ("pairwise_f1", f1, "ratio")
      )
      println(s"workload=${wl.name} seed=${o.seed} cores=$cores master=local[$cores] shuffle_partitions=$cores " +
        s"heap_max_gb=${f"${Runtime.getRuntime.maxMemory / 1e9}%.2f"} corpus_docs=$nDocsAll call_docs=$nDocs " +
        s"trace=${if (o.trace) 1 else 0} samples=$n codegen_cache=$CodegenCache warmup_codegen_compiles=$warmupCompiles warmup_heap_gb=${f"$warmupHeapGb%.3f"}")
      endToEnd.foreach { case (k, v, u) =>
        val extra = if (k == "e2e_s" && n > 0) f" max=${e2es.max}%.4f (n=$n)" else ""
        println(f"  $k%-14s $v%.4f $u$extra")
      }
      println(f"  failed_frac    ${failed.toDouble / math.max(1, attempted)}%.4f ($failed/$attempted)")
      layer.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-34s $v%.6g") }
      checks.foreach { case (name, pass, detail) => println(s"  check ${if (pass) "PASS" else "FAIL"}: $name ($detail)") }

      val metrics = if (o.trace) layer.map { case (k, v) => (k, v, PerLayerUnits.unit(k)) }.toSeq
        else endToEnd
      val json = new StringBuilder
      json ++= s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {"""
      json ++= metrics.sortBy(_._1).map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      json ++= "}}"
      val env = s"""{"workload": "${wl.name}", "seed": ${o.seed}, "cores": $cores, "master": "local[$cores]", """ +
        s""""shuffle_partitions": $cores, "codegen_cache": $CodegenCache, "warmup_codegen_compiles": $warmupCompiles, "warmup_heap_gb": ${num(warmupHeapGb)}, "heap_max_bytes": ${Runtime.getRuntime.maxMemory}, "corpus_docs": $nDocsAll, """ +
        s""""digest": ${samples.headOption.map(d => "\"" + d.digest + "\"").getOrElse("null")}, """ +
        s""""samples": [${samples.map(s => s"""{"e2e_s": ${num(s.e2eS)}, "task_cpu_s": ${num(s.cpuS)}, "live_heap_gb": ${num(s.heapGb)}, "steal_s": ${num(s.stealS)}, "foreign_cpu_s": ${num(s.foreignS)}, "codegen_compiles": ${s.compiles}, "traced": ${s.traced}}""").mkString(", ")}]}"""
      spans.write(s"$work/spans.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out),
        s"""{"result": ${json.result()}, "env": $env}""" + "\n")
      correct
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Units of the per-layer metrics, by name suffix. */
object PerLayerUnits {
  def unit(k: String): String =
    if (k.endsWith("cpu_s") || k.endsWith("gc_s")) "core-s"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_ns_per_doc")) "ns/doc"
    else if (k.endsWith("_ns_per_pair")) "ns/pair"
    else if (k.endsWith("_ns_per_edge")) "ns/edge"
    else if (k.endsWith("_ratio") || k.endsWith("_rate") || k.endsWith("core_util") || k.endsWith("task_skew")) "ratio"
    else if (k.endsWith("pairs_per_doc")) "pairs/doc"
    else "count"
}

/** Spans recorded around the benchmark's own calls, held in memory and
  * written out once at the end. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, String)]()
  def add(name: String, startMs: Long, endMs: Long, parent: String = ""): Unit =
    buf.add((name, startMs, endMs, parent))
  def time[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally add(name, t0, System.currentTimeMillis())
  }
  def write(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = buf.asScala.map { case (n, s, e, p) =>
      s"""{"name": "$n", "start_ms": $s, "end_ms": $e, "parent": "$p"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
