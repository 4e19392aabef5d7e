package graft.util

/** Hypervisor-steal probe under SUSTAINED all-core load.
  *
  * Round-5 discovery (burn-ladder, BASELINE.md): this host's steal is
  * LOAD-DEPENDENT — an idle/short probe (an 8-s DRAM sweep)
  * reads ~0 steal while a sustained 32-thread burn on the same box
  * measures 1-2+ stolen cores (8 threads: ~0; 16/24/32: 0.6-2.1).
  * A clean idle probe therefore cannot certify a window for an
  * all-core bench: the host only reveals oversubscription when the
  * guest actually demands its vCPUs for tens of seconds. The burn is
  * pure userland ALU, so any system time it shows is also foreign.
  *
  * Returns (stealCoresPerSec, sysCoresPerSec) over the burn window.
  */
object LoadProbe {
  private def statParts(): Array[Long] = HostProbe.statParts()

  def stealUnderLoad(
      threads: Int = Runtime.getRuntime.availableProcessors(),
      secs: Int = 20
  ): (Double, Double) = {
    val s0 = statParts(); val t0 = System.nanoTime()
    val end = t0 + secs * 1000000000L
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var x = 1L
        while (System.nanoTime() < end) {
          var k = 0
          while (k < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
        }
        if (x == 42L) print("") // keep the loop observable
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    val s1 = statParts()
    val wall = (System.nanoTime() - t0) / 1e9
    def d(i: Int) = if (s0.length > i && s1.length > i) (s1(i) - s0(i)) / 100.0 else 0.0
    ((d(7) / wall), ((d(2) + d(5) + d(6)) / wall))
  }
}
