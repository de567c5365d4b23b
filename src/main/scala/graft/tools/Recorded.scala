package graft.tools

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/**
 * What Spark ran for one block of code: its SQL executions, its jobs and
 * their completed stages, read from listener events.
 *
 * {{{
 * val (result, rec) = Recorded.recorded(spark)(body)
 * }}}
 *
 * The recording is scoped by a job tag that `recorded` adds to the
 * calling thread's Spark local properties while `body` runs. Threads
 * started inside `body` inherit the tag, so their jobs are recorded;
 * jobs of threads that existed before are not. The caller's job group
 * and tags are left as they were. Listener delivery is asynchronous but
 * ordered: after `body`, one fence job drains every event it caused.
 */
object Recorded {
  /** One SQL execution started by the body. */
  final case class Execution(id: Long, description: String)

  /** One job; `tasks` is the planned task count of all its stages,
    * skipped ones included. */
  final case class Job(id: Int, stageIds: Seq[Int], tasks: Int)

  /** One completed stage attempt of a recorded job. */
  final case class StageStats(stageId: Int, callSite: String, scopes: Seq[String],
                              tasks: Int, runMs: Long, cpuMs: Long, inputBytes: Long,
                              shuffleReadBytes: Long, shuffleWriteBytes: Long,
                              spillBytes: Long)

  /** Executions, jobs and stages in id order. */
  final case class Recording(executions: Seq[Execution], jobs: Seq[Job], stages: Seq[StageStats])

  /** `body`'s result and everything Spark ran for it. A body that throws
    * rethrows; the tag and the listener are removed either way. */
  def recorded[A](spark: SparkSession)(body: => A): (A, Recording) = {
    val sc = spark.sparkContext
    val listener = new Listener(s"graft-recorded-${UUID.randomUUID()}")
    def tagged[B](tag: String)(b: => B): B = { sc.addJobTag(tag); try b finally sc.removeJobTag(tag) }
    sc.addSparkListener(listener)
    try {
      val result = tagged(listener.tag)(body)
      tagged(listener.fenceTag)(sc.parallelize(Seq(1), 1).count())
      require(listener.fenced.await(60, TimeUnit.SECONDS), "listener events did not drain")
      (result, listener.recording)
    } finally sc.removeSparkListener(listener)
  }

  private final class Listener(val tag: String) extends SparkListener {
    val fenceTag = s"$tag-fence"
    val fenced = new CountDownLatch(1)
    // written on the listener bus thread only; `recording` is the
    // snapshot taken when the fence job ends
    private val executions = mutable.ArrayBuffer.empty[Execution]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val stages = mutable.ArrayBuffer.empty[StageStats]
    private var fenceJob = -1
    @volatile var recording: Recording = _

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
        executions += Execution(s.executionId, s.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).fold("")(_.getProperty("spark.job.tags", "")).split(',')
      if (tags.contains(tag)) jobs += Job(e.jobId, e.stageIds, e.stageInfos.map(_.numTasks).sum)
      else if (tags.contains(fenceTag)) fenceJob = e.jobId
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (jobs.exists(_.stageIds.contains(e.stageInfo.stageId))) stages += stats(e.stageInfo)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == fenceJob) {
        recording = Recording(executions.sortBy(_.id).toSeq, jobs.sortBy(_.id).toSeq,
          stages.sortBy(_.stageId).toSeq)
        fenced.countDown()
      }
  }

  private def stats(s: StageInfo): StageStats = {
    val m = s.taskMetrics
    StageStats(s.stageId, s.name, s.rddInfos.flatMap(_.scope.map(_.name)).distinct.toSeq,
      s.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }
}
