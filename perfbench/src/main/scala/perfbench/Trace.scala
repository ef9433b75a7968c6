package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. */
final class JobRec(val jobId: Int, val group: String, val desc: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  def wallS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1000.0
}

/** Job ledger for the traced run. Every operation the benchmark issues runs
  * under its own job group ([[Ledger.inGroup]]); jobs and their task
  * metrics are filed under the group the job was submitted with, never by
  * time window, so a late task-end event cannot be charged to the next
  * operation. [[Ledger.jobs]] drains the listener bus first: by the time an
  * operation returns, every event of its jobs is queued, so after the drain
  * the group's record is complete. */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val byJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"), e.time)
    byJob.put(e.jobId, rec)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageToJob.get(e.stageId)
    val rec = if (j == null) null else byJob.get(j.intValue)
    if (rec != null && e.taskMetrics != null) rec.synchronized {
      val m = e.taskMetrics
      rec.tasks += 1
      rec.taskMs += m.executorRunTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.inputRecords += m.inputMetrics.recordsRead
      rec.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** All jobs filed under `group`, after the bus has drained. */
  def jobs(group: String): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    byJob.values().asScala.filter(_.group == group).toSeq.sortBy(_.jobId)
  }
}

object Ledger {
  private val Props = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Run `body` under job group `group` on this thread, restoring whatever
    * group was set before (the streaming engine sets its own). */
  def inGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    val saved = Props.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}

/** Stop-the-world GC totals and the longest single pause, from the JVM's
  * collector beans and their notifications. */
final class GcWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def totalMs = beans.map(b => math.max(b.getCollectionTime, 0L)).sum
  private val startMs = totalMs
  @volatile private var maxPauseMs = 0L
  private val listener: NotificationListener = (n: Notification, _: Any) => {
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      // concurrent cycles are not pauses
      if (!info.getGcName.toLowerCase.contains("concurrent"))
        maxPauseMs = math.max(maxPauseMs, info.getGcInfo.getDuration)
    }
  }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def gcS: Double = (totalMs - startMs) / 1000.0
  def pauseMaxMs: Double = maxPauseMs.toDouble
  def close(): Unit = beans.foreach {
    case e: NotificationEmitter => try e.removeNotificationListener(listener) catch { case _: Exception => () }
    case _ => ()
  }
}
