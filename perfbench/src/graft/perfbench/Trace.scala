package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Bytes Spark writes to its local disks (shuffle files and spills).
  * Always installed: `write_amp` counts them on every workload. */
final class DiskWriteCounter extends SparkListener {
  val bytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled)
    }
}

/** One Spark job as the traced run sees it, with its tasks' metrics summed. */
final class JobRecord(val id: Int, val startMs: Long, val description: String) {
  var endMs: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** Traced-run listener: every job with its description, timing and task
  * metrics. Reads happen after the listener bus is drained. */
final class JobTracer extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRecord]
  private val jobOfStage = mutable.Map.empty[Int, JobRecord]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = new JobRecord(e.jobId, e.time, desc)
    jobs += j
    e.stageIds.foreach(s => jobOfStage(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
      stageSubmitMs.get(e.stageId).foreach(s => j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs recorded since the last call; the tracer forgets them. */
  def takeJobs(): Seq[JobRecord] = synchronized {
    val out = jobs.toList
    jobs.clear()
    jobOfStage.clear()
    stageSubmitMs.clear()
    out
  }
}

/** Counts the log events that mark lost work: generated code that did
  * not compile (Spark falls back to interpreted evaluation) and task
  * metric updates the DAGScheduler dropped. The latter is logged as
  * `Failed to update accumulator <id> ...` with the `non-existent
  * accumulator` exception attached as the event's throwable. */
final class EventCounter
    extends AbstractAppender("perfbench-events", null, null, true, Property.EMPTY_ARRAY) {
  val codegenFallbacks = new AtomicLong
  val lostMetricUpdates = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    // one ERROR event per failed compile; the WARN that follows it names
    // the same failure and is not counted again
    if (msg.contains("Failed to compile the generated Java code") ||
        (msg.contains("Code grows beyond 64 KB") && !msg.contains("Whole-stage codegen disabled")))
      codegenFallbacks.incrementAndGet()
    val thrown = Option(e.getThrown).flatMap(t => Option(t.getMessage)).getOrElse("")
    if (msg.contains("Failed to update accumulator") || msg.contains("non-existent accumulator") ||
        thrown.contains("non-existent accumulator"))
      lostMetricUpdates.incrementAndGet()
  }
}

object EventCounter {
  def install(): EventCounter = {
    val counter = new EventCounter
    counter.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(counter, null, null)
    ctx.updateLoggers()
    counter
  }
}

/** A timed region at a layer boundary. `parent` is -1 for an operation. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
