package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Collects the raw events of the traced passes through Spark's public
  * listener interfaces. Events carry their own epoch-millisecond times; they
  * are attributed to keys afterwards by time (run.py), because the listener
  * bus delivers them asynchronously and streaming micro-batches run on the
  * query's own thread, outside the key's job group. Everything stays in
  * memory until the run ends. */
final class Recorder extends SparkListener {
  final class StageRec(val id: Int, val attempt: Int, val submitMs: Long) {
    var completeMs = 0L; var tasks = 0; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var waitMs = 0L; var inputB = 0L; var outputB = 0L
    var shuffleWriteB = 0L; var spillB = 0L; var peakMemB = 0L
  }
  final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
      sentinel: Option[String])
  final case class PlanRec(func: String, phases: Seq[(String, Long, Long)], ok: Boolean)
  final case class BatchRec(query: String, batch: Long, startMs: Long, durMs: Map[String, Long],
      stateRows: Long)

  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val sentinelsSeen = mutable.HashSet.empty[String]
  private var queriesStarted = 0
  private var queriesEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sentinel = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SentinelProp)))
    jobs(e.jobId) = JobRec(e.jobId, e.time, 0L, e.stageIds, sentinel)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.sentinel.foreach(sentinelsSeen += _)
    }
    notifyAll()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stages.getOrElseUpdate((si.stageId, si.attemptNumber()),
      new StageRec(si.stageId, si.attemptNumber(), si.submissionTime.getOrElse(System.currentTimeMillis())))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages.get((si.stageId, si.attemptNumber())).foreach(
      _.completeMs = si.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.inputB += m.inputMetrics.bytesRead; s.outputB += m.outputMetrics.bytesWritten
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMemB = math.max(s.peakMemB, m.peakExecutionMemory)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = Recorder.this.synchronized {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }.sortBy(_._2)
      plans += PlanRec(func, ph, ok)
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = Recorder.this.synchronized { queriesStarted += 1 }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      val dur = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      batches += BatchRec(p.id.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        dur, rows)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Recorder.this.synchronized {
      queriesEnded += 1; Recorder.this.notifyAll()
    }
  }

  /** Blocks until every event posted before this call has been delivered:
    * a marker job's end arrives after all earlier events of the shared
    * listener queue (job, stage, task and SQL-execution events), and each
    * started streaming query's termination arrives after its progress
    * events. Gives up after `timeoutMs` and says so. */
  def drain(sc: org.apache.spark.SparkContext, marker: String, timeoutMs: Long = 30000L): Boolean = {
    sc.setLocalProperty(Recorder.SentinelProp, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Recorder.SentinelProp, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while ((!sentinelsSeen(marker) || queriesEnded < queriesStarted) &&
          System.currentTimeMillis() < deadline)
        wait(100L)
      sentinelsSeen(marker) && queriesEnded >= queriesStarted
    }
  }
}

object Recorder {
  val SentinelProp = "perfbench.sentinel"
}
