package layerbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Per-job record kept by [[SparkProbe]]. `queryId` is the streaming
  * query that ran the job (null for batch jobs).
  */
final class JobRec(val jobId: Int, val startMs: Long, val queryId: String) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  val schedDelayMs = new ConcurrentLinkedQueue[java.lang.Double]()
}

/** Spark listener attached by traced runs only: counts jobs and tasks and
  * sums task metrics per job, from the scheduler's public events.
  */
final class SparkProbe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = new JobRec(e.jobId, e.time,
      Option(e.properties).map(_.getProperty("sql.streaming.queryId")).orNull)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.recordsRead += m.inputMetrics.recordsRead
      val i = e.taskInfo
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      rec.schedDelayMs.add(math.max(0L, delay).toDouble)
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)

  /** Jobs that started inside [fromMs, toMs]. */
  def within(fromMs: Double, toMs: Double): Seq[JobRec] =
    all.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
}

/** Planning-phase times of finished query executions whose plan writes to
  * the `noop` sink (the timed execute step of the batch slice). Fed by
  * Spark's public execution-listener hook.
  */
final class PlanProbe extends QueryExecutionListener {
  val noopWrites = new java.util.concurrent.LinkedBlockingQueue[Double]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.logical.toString.toLowerCase.contains("noop")) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      noopWrites.put(ms)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
