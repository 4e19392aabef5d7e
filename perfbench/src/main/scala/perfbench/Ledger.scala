package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Untraced task CPU total of one call. Stays attached for the whole
  * benchmark; costs one add per task. */
final class Totals extends SparkListener {
  val cpuNs = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** The traced ledger: every job, SQL execution and task of one call,
  * attached only around traced calls. Attribution happens afterwards
  * in [[Attribution]]. */
final class Ledger extends SparkListener {
  import Ledger._
  val jobs = new ConcurrentHashMap[Int, Job]()
  val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  val execEnds = new ConcurrentHashMap[Long, java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** Time spent inside this listener's callbacks: the tracing cost. */
  val busyNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, exec, e.time, details))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(jobEnds.put(e.jobId, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(
      e.stageId, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed(e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(
        s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time,
        writePath(s.physicalPlanDescription), s.details))
    case s: SparkListenerSQLExecutionEnd => execEnds.put(s.executionId, s.time)
    case _ =>
  })
}

object Ledger {
  final case class Job(id: Int, exec: Option[Long], start: Long, details: String)
  final case class Exec(id: Long, root: Long, start: Long, write: Option[String], details: String)
  final case class Task(stage: Int, cpuNs: Long, runMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)

  private val WriteNode = "(?m)^\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand".r
  private val Args = "(?m)^Arguments: (?:file:)?([^,\\s]+)".r

  /** Output path of a write plan: formatted explain mode prints the
    * command's details section, whose `Arguments:` line starts with
    * the path. */
  def writePath(plan: String): Option[String] =
    WriteNode.findFirstMatchIn(plan)
      .flatMap(m => Args.findFirstMatchIn(plan.substring(m.end)))
      .map(_.group(1))
}
