package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler._

/** Counters of one span (one phase of one query execution). */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans query → phase → Spark job. The benchmark tags every job
  * with the local property [[Tracer.SpanKey]] before each phase; stages
  * inherit the tag through their submission properties and tasks through
  * their stage. Events arrive on the listener bus thread, so [[take]]
  * drains the bus before reading. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.HashMap.empty[String, SpanStats]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTag = mutable.HashMap.empty[(Int, Int), (String, Long)]

  private def stats(tag: String): SpanStats = spans.getOrElseUpdate(tag, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    if (tag != null) {
      jobTag(e.jobId) = (tag, e.time)
      stats(tag).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, start) =>
      stats(tag).jobSpans += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    if (tag != null) {
      val info = e.stageInfo
      stageTag((info.stageId, info.attemptNumber())) =
        (tag, info.submissionTime.getOrElse(System.currentTimeMillis()))
      stats(tag).stages += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get((e.stageId, e.stageAttemptId)).foreach { case (tag, submitted) =>
      val s = stats(tag)
      s.tasks += 1
      s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Removes and returns the counters of `tag` once every event queued so
    * far has been delivered. Jobs of the tag must have finished. */
  def take(tag: String): SpanStats = {
    ListenerBusBridge.waitUntilEmpty(sc)
    synchronized(spans.remove(tag).getOrElse(new SpanStats))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
