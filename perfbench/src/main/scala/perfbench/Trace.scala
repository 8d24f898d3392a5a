package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Garbage-collection notifications: pause time, count and the largest
  * heap occupancy seen right after a collection. Always on: it feeds
  * the end-to-end `heap_peak_mb`. */
final class GcWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile var count = 0L
  @volatile var pauseMs = 0L
  @volatile var peakBytes = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = beans.foreach(_.addNotificationListener(this, null, null))
  def stop(): Unit = beans.foreach(b =>
    try b.removeNotificationListener(this) catch { case _: Exception => () })
  def reset(): Unit = synchronized { count = 0; pauseMs = 0; peakBytes = 0 }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val gc = info.getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized {
        count += 1
        // concurrent-cycle notifications report wall time of background
        // work, not pauses; count them but charge no pause
        if (!info.getGcName.contains("Concurrent")) pauseMs += gc.getDuration
        peakBytes = math.max(peakBytes, used)
      }
    }
}

/** The traced run's listeners, all registered from the benchmark's own
  * code: Spark scheduler events, SQL query executions, streaming
  * progress. Nothing here is read by the untraced runs. */
final class Trace(spark: SparkSession) {
  // scheduler
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var taskWaitMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** task run time by the source file of the call site that started the
    * work: the SQL execution's call site when the job belongs to one
    * (adaptive execution submits its stages from pool threads, whose own
    * call site names no user file), else the stage's */
  val callsiteRunMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageFile = mutable.Map.empty[Int, String]
  private val executionFile = mutable.Map.empty[Long, String]
  // SQL executions (Dataset actions, writes) as the QueryExecutionListener sees them
  var sqlActions = 0L
  var sqlActionNs = 0L
  // streaming progress: summed durationMs per phase
  val streamPhaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var streamProgress = 0L

  private def fileOf(callSite: String): String = {
    // "count at TrainingPipeline.scala:123" -> "TrainingPipeline"
    val m = """ at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r.findFirstMatchIn(callSite)
    m.map(_.group(1)).getOrElse("other")
  }

  /** Innermost library or harness frame of a long-form call site (a
    * stack trace), e.g. "graft.ext.Dedup$.f(Dedup.scala:12)" -> "Dedup". */
  private def userFile(stack: String): String =
    """(?m)^\s*(?:graft|perfbench)\.[\w.$]+\(([A-Za-z0-9_]+)\.scala:\d+\)""".r
      .findFirstMatchIn(stack).map(_.group(1)).getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStart(e.jobId) = e.time
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).flatMap(executionFile.get)
      e.stageInfos.foreach(si => stageFile(si.stageId) = execution.getOrElse(fileOf(si.name)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { executionFile(x.executionId) = userFile(x.details) }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageSubmit(k) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      val k = (e.stageId, e.stageAttemptId)
      stageSubmit.get(k).foreach(s => taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        taskGcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        outputBytes += m.outputMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
        callsiteRunMs(stageFile.getOrElse(e.stageId, "other")) += m.executorRunTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized { sqlActions += 1; sqlActionNs += durationNs }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Trace.this.synchronized { sqlActions += 1 }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        streamProgress += 1
        e.progress.durationMs.asScala.foreach { case (k, v) => streamPhaseMs(k) += v.longValue }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    // drain the asynchronous listener bus before reading the totals
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wall time of [t0, t1] not covered by any Spark job (ms). */
  def driverOnlyMs(t0: Long, t1: Long): Long = synchronized {
    val spans = jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    spans.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }
}
