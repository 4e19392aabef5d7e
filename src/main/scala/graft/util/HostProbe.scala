package graft.util

/** Shared host-probe primitives and degraded-window thresholds.
  *
  * One home for the instruments that Bench and util.LoadProbe (and the
  * retired round-5/6 host tools) previously each carried a private
  * copy of — the copies had already drifted (guard
  * differences, threshold subsets), and a threshold fix applied to one
  * would silently change what "clean" means for the others. The
  * thresholds are the BASELINE.md round-5 classifier values: each sits
  * between every archived clean record and every archived degraded one.
  */
object HostProbe {

  /** /proc/stat aggregate cpu line (jiffies, USER_HZ=100):
    * user nice system idle iowait irq softirq steal [guest...]. */
  def statParts(): Array[Long] =
    scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)

  /** 128 MB synced sequential write, MB/s — the storage-mode probe
    * (kernel/IO pathology collapses fdatasync throughput to ~50 MB/s
    * while the DRAM probe reads right through it). Bounded at a few
    * seconds even when degraded. */
  def diskWMBps(): Double = {
    val f = java.io.File.createTempFile("graft_diskprobe", ".bin")
    try {
      val buf = new Array[Byte](1 << 20)
      val out = new java.io.FileOutputStream(f)
      val t0 = System.nanoTime()
      var i = 0
      while (i < 128) { out.write(buf); i += 1 }
      out.getFD.sync()
      out.close()
      128.0 / ((System.nanoTime() - t0) / 1e9)
    } finally f.delete()
  }

  // Degraded-window thresholds (BASELINE.md round-5 findings #6/#7).
  /** DRAM triad floor: healthy 98-113 GB/s, bandwidth-mode floor 36. */
  val MemBwFloorGBps = 70.0
  /** Synced-write floor: healthy 160-310 MB/s, kernel/IO floor ~4-21. */
  val DiskWFloorMBps = 60.0
  /** Probe-window steal rate ceiling, core-s/s (idle or loaded). */
  val StealRateMax = 0.3
  /** Probe-window foreign system-CPU rate ceiling, core-s/s, while the
    * probe (pure userland) is the only workload. */
  val SysRateMax = 2.0
  /** Whole-bench-run hypervisor steal ceiling, absolute core-s
    * (clean records ≈ 0-22, degraded 292-1,460). */
  val StealRunMaxCoreS = 60.0
  /** Whole-bench-run box system CPU as a fraction of our task CPU
    * (clean ≈ 1-2%, kernel/IO degraded mode 56-112%). */
  val SysCpuMaxFracOfTask = 0.25
}
