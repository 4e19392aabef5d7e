package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.queries.Analytics

/** Benchmark main. Runs the REAL three-stage pipeline (including its
  * parquet stage checkpoints — the north rule's unit of work) on the
  * fixture scale mapped from SPARK_GRAFT_SF_DIR, plus each analytics
  * query on the testdata tables. Emits exactly one JSON line.
  *
  * Stage walls come from the pipeline's own metrics table, so the
  * numbers are the same ones a resumed production run would report.
  * candidate-pairs/sec in stage S is the metered scaling metric
  * (BASELINE.md); run with SPARK_GRAFT_CPUS=8 then 32 for the N-vs-4N
  * efficiency evidence.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      // SPARK_GRAFT_MASTER lets spark-submit drive the same bench on a
      // real multi-executor master (standalone/local-cluster) — the
      // N-vs-4N *executor* evidence; default stays single-JVM local.
      // SPARK_GRAFT_CPUS remains the TOTAL core count either way (it
      // sizes shuffle partitions and the throughput denominators).
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // checkpoint tables are small-but-CPU-dense; don't pack them into
      // one scan split
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "8m")
      // DRAM-pressure A/B knobs (defaults = Spark defaults): shuffle/IO
      // codec trades CPU for bytes moved (lz4 fast / zstd dense), and
      // the checkpoint parquet codec sets the scored-pairs encode cost —
      // the two biggest bandwidth levers the round-4 artifacts point at
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      // write-syscall batching A/B knob for the kernel/IO degradation
      // mode (ab_r5): a bigger shuffle file buffer cuts write() calls
      // proportionally — relevant when the host's writeback path is the
      // bottleneck, irrelevant (32k default fine) on healthy storage
      .config("spark.shuffle.file.buffer",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BUFFER", "32k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // task-metrics accounting: separates real CPU from GC and idle —
    // the bench numbers are only meaningful with this attribution.
    // Bucketed by pipeline phase (PhaseTracker) so a driver-captured
    // artifact explains WHERE the CPU/GC went without a rerun.
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val phaseCpu = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val phaseGc = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    // shuffle bytes per phase: window-INDEPENDENT evidence (bytes moved
    // don't change with host weather) — the denominator for any
    // codec/DRAM-traffic A/B and the direct measure of what the 8→32
    // memory-controller ceiling is fed with
    val phaseShufW = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val phaseShufR = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    def bump(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong], k: String, v: Long): Unit =
      m.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(v)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          runMs.addAndGet(m.executorRunTime)
          val ph = graft.util.PhaseTracker.get
          bump(phaseCpu, ph, m.executorCpuTime)
          bump(phaseGc, ph, m.jvmGCTime)
          bump(phaseShufW, ph, m.shuffleWriteMetrics.bytesWritten)
          bump(phaseShufR, ph, m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })

    // host-level attribution: if the box runs OTHER work during the
    // bench, host busy CPU >> this process's CPU — provable from the
    // artifact alone (round-2 lesson: a 2.2× task-CPU delta between two
    // "identical" runs was otherwise unattributable)
    // /proc/stat cpu line: user nice system idle iowait irq softirq steal
    def procStatParts(): Array[Long] = graft.util.HostProbe.statParts()
    def procStatBusy(): Double = {
      val parts = procStatParts()
      (parts.sum - parts(3) - (if (parts.length > 4) parts(4) else 0L)) / 100.0
    }
    def procSelfCpu(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // OUR OWN JVMs' user/kernel CPU, from /proc: this app's executor
    // JVMs (cmdline carries CoarseGrainedExecutorBackend AND our
    // --app-id — another session's executors must stay FOREIGN, else a
    // genuinely contended window reads clean) and this driver. Settles
    // host_sys_cpu attribution: a multi-JVM run whose executors' own
    // stime ≈ the box-wide sys delta is SELF-loaded (netty shuffle +
    // page-fault kernel time, a real topology cost), not degraded.
    def pidCpu(pid: String): (Long, Long) = {
      val st = java.nio.file.Files.readString(java.nio.file.Paths.get(s"/proc/$pid/stat"))
      val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong, f(12).toLong)
    }
    val appId = spark.sparkContext.applicationId
    def execCpu(): Map[String, (Long, Long)] = {
      val out = Map.newBuilder[String, (Long, Long)]
      val procs = new java.io.File("/proc").listFiles()
      if (procs != null) procs.foreach { p =>
        val name = p.getName
        if (name.nonEmpty && name.forall(_.isDigit)) {
          try {
            val cmd = java.nio.file.Files.readString(java.nio.file.Paths.get(s"/proc/$name/cmdline"))
            if (cmd.contains("CoarseGrainedExecutorBackend") && cmd.contains(appId))
              out += name -> pidCpu(name)
          } catch { case _: Throwable => }
        }
      }
      out.result()
    }
    // per-PID delta: an executor spawned inside the window counts from 0
    // (its absolute ticks ARE in-window); one that dies mid-window loses
    // its share, which UNDERcounts self and OVERcounts foreign — the
    // conservative direction (flags the window, never launders it)
    def execDelta(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): (Double, Double) = {
      var u = 0L; var s = 0L
      b.foreach { case (pid, (u1, s1)) =>
        val (u0, s0) = a.getOrElse(pid, (0L, 0L))
        u += math.max(0L, u1 - u0); s += math.max(0L, s1 - s0)
      }
      (u / 100.0, s / 100.0)
    }
    val hostBusy0 = scala.util.Try(procStatBusy()).getOrElse(-1.0)
    val selfCpu0 = procSelfCpu()
    val load0 = loadAvg()
    // direct DRAM-bandwidth probes bracketing the run: the ONE resource
    // a noisy neighbour VM contends for that in-VM CPU counters cannot
    // see. A run whose probes read far below the machine's healthy
    // figure (BASELINE.md records it) is degraded by its own artifact —
    // replaces the q1 "canary", which three archived slow runs proved
    // blind (cache-resident queries never touch DRAM).
    val memBw0 = graft.util.MemBw.probeGBps()
    // disk-write probe (round-5 ab_r5 lesson: the host has a SECOND
    // degradation mode the DRAM probe reads right through — kernel/IO
    // pathology with 70-97% system time and fdatasync throughput
    // collapsed to ~50 MB/s; checkpoint-commit-heavy stages then burn
    // wall invisible to CPU counters). 128 MB synced sequential write,
    // bounded at a few seconds even when degraded.
    def diskWMBps(): Double = graft.util.HostProbe.diskWMBps()
    val diskW0 = scala.util.Try(diskWMBps()).getOrElse(-1.0)
    // sustained-load steal probe (round-5 burn-ladder lesson): this
    // host's steal only appears under sustained all-core demand, so an
    // idle-ish probe cannot certify the window for the run that
    // follows. 20 s of pure-userland burn BEFORE the timed section
    // records whether the host was already contended at the start —
    // distinguishing "window was bad from the outset" from "window
    // degraded mid-run" (the whole-run host_steal_s field covers the
    // latter).
    val (loadSteal0, loadSys0) =
      scala.util.Try(graft.util.LoadProbe.stealUnderLoad()).getOrElse((-1.0, -1.0))
    val stat0 = scala.util.Try(procStatParts()).getOrElse(Array.empty[Long])
    // self-CPU snapshots aligned with stat0 so foreign_sys below
    // subtracts apples from apples (the probes above burn driver CPU
    // that stat0's window likewise excludes)
    val drvCpu0 = scala.util.Try(pidCpu("self")).getOrElse((0L, 0L))
    val execCpu0 = scala.util.Try(execCpu()).getOrElse(Map.empty[String, (Long, Long)])

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      val s = (System.nanoTime() - t0) / 1e9
      results(name) = s
      s
    }

    // --- JIT warmup: the first execution of the generated stage-S code
    // costs ~2x CPU (measured 2819 vs 1377 core-s on identical runs);
    // prime all kernels with an untimed pipeline at the t2 scale ---
    val pipeCfg = graft.pipeline.Pipeline.Cfg()
    locally {
      val (wuDocs, _) = graft.schema.Fixture.ensureWritten(spark, "t2")
      val wuDir = "/tmp/graft_bench_warmup"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wuDir))
      graft.pipeline.Pipeline.run(spark, spark.read.parquet(wuDocs), wuDir, pipeCfg)
    }
    cpuNs.set(0); gcMs.set(0); runMs.set(0)
    phaseCpu.clear(); phaseGc.clear()

    // --- resolution pipeline (fresh run dir => full compute + checkpoints) ---
    val scale = graft.queries.Resolution.scaleFor(sfDir)
    val (docsPath, _) = graft.schema.Fixture.ensureWritten(spark, scale)
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val runDir = s"/tmp/graft_bench_run_${scale}_$cpus"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(runDir))

    val tPipe0 = System.nanoTime()
    graft.pipeline.Pipeline.run(spark, docs, runDir, pipeCfg)
    val e2e = (System.nanoTime() - tPipe0) / 1e9
    results("pir_e2e") = e2e

    val metrics = spark.read.parquet(s"$runDir/metrics")
      .collect().map(r => (r.getString(0), r.getString(2)) -> r.getDouble(3)).toMap
    val nPairs = metrics.getOrElse(("scored_pairs", "scored_pairs"), 0.0)
    results("pir_blocking") = metrics.getOrElse(("candidates", "wall_ms"), 0.0) / 1000
    // scoring = rep checkpoint (S0) + dict stages (S1) + chunked pair
    // scoring (S) — every stage-S checkpoint is charged to it
    results("pir_scoring") = (metrics.getOrElse(("scored_pairs", "wall_ms"), 0.0) +
      metrics.getOrElse(("text_rep", "wall_ms"), 0.0) +
      metrics.getOrElse(("text_dict", "wall_ms"), 0.0) +
      metrics.getOrElse(("text_ids", "wall_ms"), 0.0)) / 1000
    results("pir_clustering") = metrics.getOrElse(("clusters", "wall_ms"), 0.0) / 1000
    results("pir_pairs_per_sec") = if (results("pir_scoring") > 0) nPairs / results("pir_scoring") else 0.0
    results("pir_docs_per_sec") = if (e2e > 0) nDocs / e2e else 0.0

    // --- analytics queries on the testdata tables ---
    Analytics.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      timed(name) { fn(spark, sfDir).count() }
    }

    // stage walls are a breakdown of pir_e2e — don't double-count
    val total = results.filter { case (k, _) => k == "pir_e2e" || k.startsWith("q") }.values.sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    import scala.jdk.CollectionConverters._
    def phaseJson(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong], div: Double) =
      m.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + (math.round(v.get / div * 1000) / 1000.0) }
        .mkString("{", ",", "}")
    val hostBusy1 = scala.util.Try(procStatBusy()).getOrElse(-1.0)
    val memBw1 = graft.util.MemBw.probeGBps()
    val diskW1 = scala.util.Try(diskWMBps()).getOrElse(-1.0)
    // host CPU split over the whole run: a dominant host_sys_cpu_s with
    // modest host_user_cpu_s is the kernel/IO degradation mode
    // (ab_r5: 70-97% system time box-wide while task CPU looked busy)
    val stat1 = scala.util.Try(procStatParts()).getOrElse(Array.empty[Long])
    // end snapshots aligned with stat1 (executors sampled BEFORE
    // spark.stop() so their cumulative counters are still live)
    val drvCpu1 = scala.util.Try(pidCpu("self")).getOrElse(drvCpu0)
    val execCpu1 = scala.util.Try(execCpu()).getOrElse(execCpu0)
    val (execUser, execSys) = execDelta(execCpu0, execCpu1)
    val drvSys = (drvCpu1._2 - drvCpu0._2) / 100.0
    def statDelta(idx: Int*): Double =
      if (stat0.length > idx.max && stat1.length > idx.max)
        idx.map(i => stat1(i) - stat0(i)).sum / 100.0
      else -1.0
    val hostSplit =
      s""""host_user_cpu_s":${statDelta(0, 1)},"host_sys_cpu_s":${statDelta(2, 5, 6)},""" +
        s""""host_iowait_s":${statDelta(4)},"host_steal_s":${statDelta(7)},"""
    // Objective window classification, computed from the probes — the
    // machine-readable replacement for "best-of-N + judgment" run
    // selection. A run is degraded iff ANY of (thresholds sit between
    // every archived clean record and every archived degraded one,
    // BASELINE.md round-5 table):
    //  - kernel/IO mode: box system CPU > 25% of our task CPU (clean
    //    records ≈ 1-2%, degraded 56-112%), or hypervisor steal > 60
    //    core-s (clean ≈ 0, degraded 292-1,460);
    //  - bandwidth mode: either DRAM triad probe < 70 GB/s (healthy
    //    98-113, degraded-mode floor 36);
    //  - storage mode: either synced-write probe < 60 MB/s (healthy
    //    160-310, degraded floor 21).
    val hp = graft.util.HostProbe
    // FOREIGN kernel time = box sys minus our own executors' and
    // driver's sys. A multi-executor run legitimately generates kernel
    // time of its own (netty shuffle, page faults — the 4×2 pairs
    // measured 110-190 core-s of self sys), and flagging that as a
    // degraded window mislabeled every 4-executor artifact; foreign
    // sys is what a noisy neighbour actually contributes.
    // -1.0 (sentinel) when /proc/stat was unavailable — never emit the
    // sentinel arithmetic as a plausible-looking measurement
    val foreignSys =
      if (stat0.length > 7 && stat1.length > 7) statDelta(2, 5, 6) - execSys - drvSys
      else -1.0
    val windowReasons = Seq(
      (stat0.length > 7 && stat1.length > 7 &&
        foreignSys > hp.SysCpuMaxFracOfTask * (cpuNs.get / 1e9)) -> "host_sys_cpu",
      (stat0.length > 7 && stat1.length > 7 &&
        statDelta(7) > hp.StealRunMaxCoreS) -> "host_steal",
      (math.min(memBw0, memBw1) > 0 &&
        math.min(memBw0, memBw1) < hp.MemBwFloorGBps) -> "mem_bw",
      (math.min(diskW0, diskW1) > 0 &&
        math.min(diskW0, diskW1) < hp.DiskWFloorMBps) -> "disk_w",
      // loaded-steal mode: host withheld CPU under the pre-run burn
      // (threshold from util.HostProbe; clean ladder reading
      // 0.03 cores at 8 threads, degraded 0.6-2.1 at 16-32)
      (loadSteal0 > hp.StealRateMax) -> "steal_under_load"
    ).collect { case (true, r) => r }
    val window =
      if (windowReasons.isEmpty) """"window":"clean","""
      else s""""window":"degraded","window_reasons":${windowReasons.mkString("[\"", "\",\"", "\"]")},"""
    val env =
      window +
        s""""max_heap_gb":${math.round(Runtime.getRuntime.maxMemory / 1e7) / 100.0},""" +
        s""""host_busy_cpu_s":${math.round((hostBusy1 - hostBusy0) * 10) / 10.0},""" +
        hostSplit +
        s""""proc_cpu_s":${math.round((procSelfCpu() - selfCpu0) * 10) / 10.0},""" +
        s""""mem_bw_gbps_start":${math.round(memBw0 * 100) / 100.0},""" +
        s""""mem_bw_gbps_end":${math.round(memBw1 * 100) / 100.0},""" +
        s""""disk_w_mbps_start":${math.round(diskW0 * 10) / 10.0},""" +
        s""""disk_w_mbps_end":${math.round(diskW1 * 10) / 10.0},""" +
        s""""load_steal_cores_start":${math.round(loadSteal0 * 100) / 100.0},""" +
        s""""load_sys_cores_start":${math.round(loadSys0 * 100) / 100.0},""" +
        s""""load_avg_start":$load0,"load_avg_end":${loadAvg()},""" +
        // which execution topology produced this artifact: master URL +
        // distinct executor JVMs observed (1 for local[*]; the executor
        // count under spark-submit on a real master)
        s""""master":"${spark.sparkContext.master}",""" +
        s""""executors":${spark.sparkContext.statusTracker.getExecutorInfos.length - 1},""" +
        // per-JVM dict-view builds (local mode: executor == this JVM, so
        // these are the run's real numbers; under spark-submit the same
        // counters print in each executor's stderr). buildCount > number
        // of broadcasts would mean redundant concurrent builds — the
        // race JwDict.arr's lock now prevents.
        s""""dict_builds":${graft.functions.JwDict.buildCount},""" +
        s""""dict_build_s":${math.round(graft.functions.JwDict.buildNanos / 1e6) / 1e3},""" +
        // self-attribution of kernel time (snapshots aligned with the
        // host stat window; foreign_sys is what the classifier flags)
        s""""exec_user_cpu_s":${math.round(execUser * 10) / 10.0},""" +
        s""""exec_sys_cpu_s":${math.round(execSys * 10) / 10.0},""" +
        s""""drv_user_cpu_s":${(drvCpu1._1 - drvCpu0._1) / 100.0},""" +
        s""""drv_sys_cpu_s":$drvSys,""" +
        s""""foreign_sys_cpu_s":${math.round(foreignSys * 10) / 10.0}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","fixture_scale":"$scale","fixture_docs":$nDocs,"candidate_pairs":${nPairs.toLong},"cpus":$cpus,"task_cpu_s":${cpuNs.get / 1e9},"task_gc_s":${gcMs.get / 1e3},"task_run_s":${runMs.get / 1e3},"stage_cpu_s":${phaseJson(phaseCpu, 1e9)},"stage_gc_s":${phaseJson(phaseGc, 1e3)},"stage_shuffle_w_gb":${phaseJson(phaseShufW, 1e9)},"stage_shuffle_r_gb":${phaseJson(phaseShufR, 1e9)},"io_codec":"${sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4")}","parquet_codec":"${sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy")}",$env}"""
    // belt-and-braces: the JSON also lands in a file (round 1's line was
    // swallowed by sbt's "[info] " log decoration — parsed:null).
    // Default target lives under bench_raw/ so a default invocation can
    // never overwrite the committed record copy (BENCH_LOCAL.json —
    // which one round-5 run silently clobbered with a degraded window).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_raw/last_run.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile failed: ${e.getMessage}") }
    spark.stop()
    // bare final stdout line, after Spark's shutdown chatter
    println(json)
    System.out.flush()
  }
}
