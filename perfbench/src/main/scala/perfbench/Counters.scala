package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished Spark job, with epoch-nanosecond bounds. */
final case class JobRec(id: Int, startNs: Long, endNs: Long)

/** The metrics of one finished task that the stage figures sum. */
private final case class TaskEndInfo(cpuNs: Long, runMs: Long, gcMs: Long,
    shWrite: Long, shRead: Long, spill: Long, written: Long, records: Long)

/** A finished stage attempt, its task metrics summed. */
final case class StageRec(id: Int, attempt: Int, submitNs: Long, endNs: Long,
    tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    bytesWritten: Long, recordsWritten: Long, taskRunMs: Seq[Long]) {
  /** Max over median task run time; 1 for stages with a single task. */
  def skew: Double =
    if (taskRunMs.length < 2) 1.0
    else taskRunMs.max.toDouble / math.max(Stats.median(taskRunMs.map(_.toDouble)), 1.0)
}

/** Catalyst phase time of one query execution (parsing through
  * planning), attributed at the start of its first phase.
  */
final case class PlanRec(startNs: Long, catalystNs: Long)

/** Counts Spark work from outside the program: a `SparkListener` for
  * jobs, stages and task metrics and a `QueryExecutionListener` for
  * Catalyst phase times. Both are registered on the session the
  * benchmark drives; the program under test is not changed.
  */
final class Counters private (spark: SparkSession) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskAcc = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[TaskEndInfo]]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = Tracer.msToNs(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStarts.remove(e.jobId).getOrElse(Tracer.msToNs(e.time))
    jobs += JobRec(e.jobId, start, Tracer.msToNs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        TaskEndInfo(m.executorCpuTime + m.executorDeserializeCpuTime,
          m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val ts = taskAcc.remove((info.stageId, info.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
    val end = Tracer.msToNs(info.completionTime.getOrElse(System.currentTimeMillis()))
    val submit = info.submissionTime.map(Tracer.msToNs).getOrElse(end)
    stages += StageRec(info.stageId, info.attemptNumber(), submit, end, ts.length,
      ts.map(_.cpuNs).sum, ts.map(_.runMs).sum, ts.map(_.gcMs).sum,
      ts.map(_.shWrite).sum, ts.map(_.shRead).sum, ts.map(_.spill).sum,
      ts.map(_.written).sum, ts.map(_.records).sum, ts.map(_.runMs).toSeq)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      notePlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      notePlan(qe)
  }

  private def notePlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      plans += PlanRec(Tracer.msToNs(phases.map(_.startTimeMs).min),
        phases.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L)
    }
  }

  /** Delivers every event posted so far; call before reading. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def jobRecs: Seq[JobRec] = synchronized(jobs.toSeq)
  def stageRecs: Seq[StageRec] = synchronized(stages.toSeq)
  def planRecs: Seq[PlanRec] = synchronized(plans.toSeq)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }
}

object Counters {
  def register(spark: SparkSession): Counters = {
    val c = new Counters(spark)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c.qeListener)
    c
  }
}

/** Sums of Spark work inside a set of time windows. */
final case class Work(jobs: Int, stages: Int, tasks: Int, cpuS: Double, gcS: Double,
    shuffleMb: Double, spillMb: Double, writeMb: Double, recordsWritten: Long,
    skew: Double, catalystS: Double)

object Work {
  def of(jobs: Seq[JobRec], stages: Seq[StageRec], plans: Seq[PlanRec]): Work =
    Work(jobs.length, stages.length, stages.map(_.tasks).sum,
      stages.map(_.cpuNs).sum / 1e9, stages.map(_.gcMs).sum / 1e3,
      stages.map(_.shuffleWriteBytes).sum / 1e6, stages.map(_.spillBytes).sum / 1e6,
      stages.map(_.bytesWritten).sum / 1e6, stages.map(_.recordsWritten).sum,
      if (stages.isEmpty) 1.0 else stages.map(_.skew).max,
      plans.map(_.catalystNs).sum / 1e9)
}
