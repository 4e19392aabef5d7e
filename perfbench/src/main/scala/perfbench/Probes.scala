package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap occupancy right after a collection, over a window. */
object Heap {
  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val l: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }

  def reset(): Unit = peak.set(0L)

  /** Forces a full collection so every window ends with a post-GC
    * reading, then returns the window's peak in bytes. */
  def peakAfterGc(): Long = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak.get(), now)
  }
}

/** Host CPU accounting from /proc: steal time and CPU burnt by other
  * processes during a sample. Explains outliers; never gates. */
object HostStat {
  final case class Snap(busyTicks: Long, stealTicks: Long, ownTicks: Long)
  private val hz = 100.0

  def snap(): Snap = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val cpu = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    // user nice system idle iowait irq softirq steal ...
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    val s = scala.io.Source.fromFile("/proc/self/stat")
    val st = try s.mkString finally s.close()
    val fields = st.substring(st.lastIndexOf(')') + 2).trim.split("\\s+")
    Snap(busy, cpu(7), fields(11).toLong + fields(12).toLong)
  }.getOrElse(Snap(0L, 0L, 0L))

  /** (steal_s, foreign_cpu_s) between two snapshots. */
  def between(a: Snap, b: Snap): (Double, Double) =
    ((b.stealTicks - a.stealTicks) / hz,
      math.max(0L, (b.busyTicks - a.busyTicks) - (b.ownTicks - a.ownTicks)) / hz)
}
