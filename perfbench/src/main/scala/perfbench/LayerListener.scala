package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** SparkContext-level listener that attributes scheduler, task,
  * shuffle, spill and streaming work to the query that caused it.
  *
  * It is registered on the SparkContext, so it sees the jobs of every
  * session that shares it: the caller's session, cloned sessions and
  * stream-execution threads. Jobs carry the query tag through the
  * inheritable local property [[Harness.TagKey]]; SQL executions and
  * streaming progress carry no properties and are attributed later by
  * their timestamps. All fields are written on the listener-bus thread
  * and read only after the bus has been drained.
  */
final class LayerListener extends SparkListener {

  /** Per-tag sums; times in nanoseconds, sizes in bytes. */
  final class Agg {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var gcNs = 0L
    var deserializeNs = 0L
    var schedDelayNs = 0L
    var fetchWaitNs = 0L
    var shuffleWriteNs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillMemBytes = 0L
    var spillDiskBytes = 0L
    var inputBytes = 0L
    var inputRows = 0L
    var peakExecMem = 0L
  }

  /** One job: its tag (null when untagged) and epoch-ms interval. */
  final class JobSpan(val id: Int, val tag: String, val start: Long, var end: Long)

  val aggs = mutable.LinkedHashMap.empty[String, Agg]
  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageTag = mutable.HashMap.empty[Int, String]
  /** Epoch-ms start times of SQL executions. */
  val sqlStarts = mutable.ArrayBuffer.empty[Long]
  /** (epoch-ms trigger start, durationMs phases) per micro-batch. */
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private def tagOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Harness.TagKey)

  private def agg(tag: String): Agg =
    aggs.getOrElseUpdate(if (tag == null) "" else tag, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    jobs(e.jobId) = new JobSpan(e.jobId, tag, e.time, -1L)
    e.stageIds.foreach(stageTag(_) = tag)
    agg(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = Option(tagOf(e.properties)).getOrElse(stageTag.getOrElse(e.stageInfo.stageId, null))
    stageTag(e.stageInfo.stageId) = tag
    agg(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageTag.getOrElse(e.stageId, null))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val ms = 1000000L
      a.runNs += m.executorRunTime * ms
      a.cpuNs += m.executorCpuTime
      a.gcNs += m.jvmGCTime * ms
      a.deserializeNs += m.executorDeserializeTime * ms
      // the formula of Spark's own UI (AppStatusUtils.schedulerDelay)
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = info.finishTime - info.launchTime - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult
        a.schedDelayNs += math.max(0L, delay) * ms
      }
      val sr = m.shuffleReadMetrics
      a.fetchWaitNs += sr.fetchWaitTime * ms
      a.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
      val sw = m.shuffleWriteMetrics
      a.shuffleWriteNs += sw.writeTime
      a.shuffleWriteBytes += sw.bytesWritten
      a.spillMemBytes += m.memoryBytesSpilled
      a.spillDiskBytes += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts += s.time
    case p: QueryProgressEvent =>
      val pr = p.progress
      val t = java.time.Instant.parse(pr.timestamp).toEpochMilli
      val d = mutable.Map.empty[String, Long]
      pr.durationMs.forEach((k, v) => d(k) = v.longValue)
      progress += ((t, d.toMap))
    case _ =>
  }
}
