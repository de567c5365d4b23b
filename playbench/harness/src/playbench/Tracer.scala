package playbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PlayBenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/**
 * Spans and counters for one traced benchmark process, recorded from
 * outside the program:
 *
 *  - harness spans (`unit`, `Main.run`) from [[span]] on the calling
 *    thread;
 *  - one span per SQL execution, job and stage from Spark's listener
 *    events, with task metrics summed per stage and the
 *    analysis/optimization/planning phases of each execution's
 *    `QueryExecution.tracker` (taken from the execution-end event);
 *  - stack samples of the thread that opened the harness spans, taken
 *    every [[SampleMs]] ms by a sampler thread while a harness span is
 *    open. Each sample keeps the `graft.*` classes on the stack,
 *    innermost first, and is charged the wall time since the previous
 *    sample. This covers driver-side work that starts no Spark event
 *    (playbook loading, plan building, lazy reads).
 *
 * Everything is kept in memory and written once by [[dump]]. Parents
 * are resolved there: a nested SQL execution hangs under its root
 * execution, other executions under the innermost harness span open
 * when they started; a job under the SQL execution named by its
 * `spark.sql.execution.id` property (AQE submits stage jobs from a
 * pool thread, but the property travels with them), else under the
 * harness span open when it started; a stage under the job that
 * submitted it.
 *
 * Each SQL execution and stage carries the innermost `graft.*` frame of
 * the call site Spark recorded for it; layers.py maps that frame to a
 * module.
 */
final class Tracer private extends SparkListener {
  import Tracer._

  private val harness = mutable.ArrayBuffer.empty[Harness]
  private val open = mutable.Stack.empty[Harness]
  private val sqls = mutable.LinkedHashMap.empty[Long, Sql]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  // (innermost open harness span, graft classes on the stack) -> (samples, ns)
  private val samples = mutable.LinkedHashMap.empty[(Int, Vector[String]), Array[Long]]
  @volatile private var caller: Thread = _
  @volatile private var sampling = true
  private val sampler = new Thread(() => sampleLoop(), "playbench-sampler")

  /** Time `body` as a harness span nested in the currently open one. */
  def span[T](name: String, attrs: Map[String, Any])(body: => T): T = {
    caller = Thread.currentThread()
    val h = synchronized {
      val h = Harness(harness.size, open.headOption.map(_.id), name, attrs, System.currentTimeMillis())
      harness += h; open.push(h); h
    }
    try body
    finally synchronized { h.end = System.currentTimeMillis(); open.pop() }
  }

  private def sampleLoop(): Unit = {
    var last = System.nanoTime()
    while (sampling) {
      try Thread.sleep(SampleMs) catch { case _: InterruptedException => }
      val now = System.nanoTime()
      val target = synchronized(open.headOption.map(_.id))
      val thread = caller
      if (target.isDefined && thread != null) {
        val stack = thread.getStackTrace.iterator.map(_.getClassName).filter(_.startsWith("graft."))
          .map(_.takeWhile(_ != '$')).foldLeft(Vector.empty[String]) { (acc, c) =>
            if (acc.lastOption.contains(c)) acc else acc :+ c
          }
        synchronized {
          val acc = samples.getOrElseUpdate((target.get, stack), Array(0L, 0L))
          acc(0) += 1
          acc(1) += now - last
        }
      }
      last = now
    }
  }

  /** Stop the stack sampler; call after the last unit. */
  def stop(): Unit = {
    sampling = false
    sampler.interrupt()
    sampler.join()
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      sqls(e.executionId) = Sql(e.executionId, e.rootExecutionId.getOrElse(e.executionId), e.time,
        e.description, graftFrame(e.details))
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(e.executionId).foreach { s => s.end = e.time; s.phases = PlayBenchSql.phasesMs(e) }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(e.jobId) = Job(e.jobId, exec, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  /** Innermost program frame of a long-form call site, or "". */
  private def graftFrame(callSite: String): String =
    Option(callSite).getOrElse("").split("\n").find(_.startsWith("graft.")).getOrElse("")

  private def stage(id: Int, attempt: Int): Stage = stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.frame = graftFrame(e.stageInfo.details)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).end =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.add("tasks", 1)
    if (e.reason != org.apache.spark.Success) s.add("failed_tasks", 1)
    val t = e.taskMetrics
    if (t != null) {
      s.add("cpu_ns", t.executorCpuTime); s.add("run_ms", t.executorRunTime); s.add("gc_ms", t.jvmGCTime)
      s.add("in_bytes", t.inputMetrics.bytesRead); s.add("in_records", t.inputMetrics.recordsRead)
      s.add("out_bytes", t.outputMetrics.bytesWritten); s.add("out_records", t.outputMetrics.recordsWritten)
      s.add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
      s.add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead)
      s.add("spill_bytes", t.diskBytesSpilled)
    }
  }

  /** All spans, ready to be written as JSON; call after the last unit. */
  def dump(cores: Int): Map[String, Any] = synchronized {
    def harnessAt(t: Long): Option[Int] =
      harness.filter(h => h.start <= t && (h.end < 0 || t <= h.end)).lastOption.map(_.id)
    def h(id: Option[Int]) = id.map(i => s"h$i")
    val spans = Seq.newBuilder[Map[String, Any]]
    def emit(id: String, parent: Option[String], kind: String, name: String,
             start: Long, end: Long, attrs: Map[String, Any]): Unit =
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> start, "end_ms" -> end, "attrs" -> attrs)
    harness.foreach(x => emit(s"h${x.id}", h(x.parent), "harness", x.name, x.start, x.end, x.attrs))
    sqls.values.foreach { s =>
      val parent = if (s.root != s.id && sqls.contains(s.root)) Some(s"s${s.root}") else h(harnessAt(s.start))
      emit(s"s${s.id}", parent, "sql", s.desc, s.start, s.end,
        Map("frame" -> s.frame, "root" -> (s.root == s.id), "phases_ms" -> s.phases))
    }
    jobs.values.foreach { j =>
      val parent = j.exec.filter(sqls.contains).map(e => s"s$e").orElse(h(harnessAt(j.start)))
      emit(s"j${j.id}", parent, "job", s"job ${j.id}", j.start, j.end, Map.empty)
    }
    stages.values.foreach { s =>
      val job = jobs.values.filter(j => j.stages.contains(s.id) && j.start <= math.max(s.start, 0L))
        .lastOption.orElse(jobs.values.find(_.stages.contains(s.id)))
      emit(s"st${s.id}.${s.attempt}", job.map(j => s"j${j.id}"), "stage", s"stage ${s.id}.${s.attempt}",
        s.start, s.end, s.m.toMap + ("frame" -> s.frame))
    }
    samples.zipWithIndex.foreach { case (((h, stack), acc), i) =>
      emit(s"p$i", Some(s"h$h"), "samples", "driver stack samples", -1L, -1L,
        Map("stack" -> stack, "samples" -> acc(0), "ms" -> acc(1) / 1e6))
    }
    Map("cores" -> cores, "spans" -> spans.result())
  }
}

object Tracer {
  val SampleMs = 2L

  private final case class Harness(id: Int, parent: Option[Int], name: String,
                                   attrs: Map[String, Any], start: Long, var end: Long = -1L)
  private final case class Sql(id: Long, root: Long, start: Long, desc: String, frame: String,
                               var end: Long = -1L, var phases: Map[String, Long] = Map.empty)
  private final case class Job(id: Int, exec: Option[Long], stages: Seq[Int], start: Long,
                               var end: Long = -1L)
  private final class Stage(val id: Int, val attempt: Int) {
    var start = -1L; var end = -1L; var frame = ""
    val m: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
      "tasks" -> 0L, "failed_tasks" -> 0L, "cpu_ns" -> 0L, "run_ms" -> 0L, "gc_ms" -> 0L,
      "in_bytes" -> 0L, "in_records" -> 0L, "out_bytes" -> 0L, "out_records" -> 0L,
      "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L, "spill_bytes" -> 0L)
    def add(k: String, v: Long): Unit = m(k) += v
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t.sampler.setDaemon(true)
    t.sampler.start()
    t
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(spark: SparkSession): Unit = PlayBenchSql.drain(spark.sparkContext)
}
