package graft.tools

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.tools.Recorded.recorded

/** What `recorded` scopes to its body, and what it leaves behind. */
class RecordedSpec extends SparkTestBase {

  private def sc = spark.sparkContext

  /** One job of `parts` tasks, run on the calling thread. */
  private def job(parts: Int): Long = sc.parallelize(1 to 8, parts).count()

  /** `body` on a new thread, started now. */
  private def started(body: => Unit): Thread = { val t = new Thread(() => body); t.start(); t }

  /** The recording listeners on the session's listener bus. */
  private def recordingListeners: Int = {
    // LiveListenerBus is private to Spark: reach its listeners reflectively
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[AnyRef]]
      .asScala.count(_.getClass.getName == "graft.tools.Recorded$Listener")
  }

  test("a job run on a thread started inside the body is recorded") {
    val (_, rec) = recorded(spark)(started(job(3)).join())
    assert(rec.jobs.map(_.tasks) == Seq(3), rec.jobs)
    assert(rec.stages.map(_.tasks) == Seq(3), rec.stages)
  }

  test("a job on a thread started before recorded is not recorded") {
    val go = Promise[Unit]()
    val outside = started { Await.result(go.future, 60.seconds); job(5); () }
    val (_, rec) = recorded(spark) {
      go.success(())
      outside.join()
      job(2)
    }
    assert(rec.jobs.map(_.tasks) == Seq(2), rec.jobs)
  }

  test("a body that throws rethrows and leaves no listener and no tag behind") {
    val tags = sc.getJobTags()
    val e = intercept[IllegalStateException](recorded(spark) { job(1); throw new IllegalStateException("boom") })
    assert(e.getMessage == "boom")
    assert(sc.getJobTags() == tags)
    assert(recordingListeners == 0)
  }

  test("the caller's job group and tags are still set afterwards") {
    sc.setJobGroup("graft-recorded-caller", "caller's group")
    sc.addJobTag("graft-recorded-caller-tag")
    try {
      val (_, rec) = recorded(spark)(job(2))
      assert(rec.jobs.size == 1, rec.jobs)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "graft-recorded-caller")
      assert(sc.getJobTags() == Set("graft-recorded-caller-tag"))
    } finally { sc.clearJobGroup(); sc.removeJobTag("graft-recorded-caller-tag") }
  }

  test("no source but Recorded.scala adds a Spark listener") {
    val call = "addSpark" + "Listener"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(call)).toSeq
    }
    assert(hits.map(_.getFileName.toString) == Seq("Recorded.scala"), hits)
  }
}
