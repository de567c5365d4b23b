package graft.cli

import graft.{SparkTestBase, TempDirs}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/**
 * The skip-mode CLI load over a CSV source: the main sink and the error
 * sidecar are two actions in all, each reading the source once, and
 * the error file is appended only after the main sink is written.
 */
class SkipLoadSpec extends SparkTestBase with TempDirs {

  private val input =
    """id,name,qty,flag
      |1,alpha,3,a
      |2,beta,abc,b
      |3,gamma,5,x
      |4,delta,7,a
      |""".stripMargin

  private val filterAndMappings =
    """filter: "flag != 'x'"
      |mappings:
      |  - {source: id, target: id}
      |  - {source: name, target: name, transform: toUpperCase}
      |  - {source: qty, target: qty, transform: mustToInt}""".stripMargin

  /** Writes the input and a skip-mode playbook; returns its path. */
  private def playbook(dir: Path, csv: String, destination: String, errorFile: String,
                       rules: String = filterAndMappings): String = {
    Files.write(dir.resolve("in.csv"), csv.getBytes(UTF_8))
    val cfg = dir.resolve("pb.yaml")
    Files.write(cfg,
      s"""source: {type: csv, file: $dir/in.csv}
         |destination: {type: csv, file: $destination}
         |$rules
         |errorHandling:
         |  mode: skip
         |  logErrors: true
         |  errorFile: $errorFile
         |""".stripMargin.getBytes(UTF_8))
    cfg.toString
  }

  private def text(p: String) = new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  /** SQL execution descriptions and task input bytes of `body`'s jobs. */
  private final class Recorder extends SparkListener {
    val fenceGroup = s"skip-load-fence-${System.nanoTime()}"
    val fence = new CountDownLatch(1)
    val executions = new ConcurrentLinkedQueue[String]()
    val inputBytes = new AtomicLong(0)
    @volatile private var fenceJob = -1

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.add(s.description)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => inputBytes.addAndGet(m.inputMetrics.bytesRead))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(fenceGroup))
        fenceJob = e.jobId
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == fenceJob) fence.countDown()
  }

  private def recorded(body: => Unit): Recorder = {
    val sc = spark.sparkContext
    val r = new Recorder
    sc.addSparkListener(r)
    try {
      body
      // listener events arrive in order: once the fence job's end is
      // seen, every event of `body` has been seen too
      sc.setJobGroup(r.fenceGroup, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(r.fence.await(60, TimeUnit.SECONDS), "listener events did not drain")
    } finally sc.removeSparkListener(r)
    r
  }

  /** What `body` prints to `System.err`. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(old)
    buf.toString("UTF-8")
  }

  test("one bad row, one filtered row: two SQL executions, source read at most twice, exact files") {
    val dir = tempDir("graft_skipload")
    val (dest, errs) = (s"$dir/clean.csv", s"$dir/errors.csv")
    val cfg = playbook(dir, input, dest, errs)
    var err = ""
    val r = recorded { err = stderrOf(Main.run(spark, Main.Args(config = cfg))) }

    val execs = r.executions.asScala.toSeq
    assert(execs.size == 2, execs)
    assert(!execs.exists(d => d.startsWith("isEmpty") || d.startsWith("count")), execs)
    val size = Files.size(dir.resolve("in.csv"))
    assert(r.inputBytes.get <= 2 * size, s"read ${r.inputBytes.get} bytes of a $size-byte file")

    assert(text(dest) ==
      """id,name,qty
        |1,ALPHA,3
        |4,DELTA,7
        |""".stripMargin)
    assert(text(errs) ==
      """etl_error_message,flag,id,name,qty
        |mustToInt: cannot convert value to integer for field 'qty',b,2,beta,abc
        |""".stripMargin)
    assert(err.linesIterator.contains("[warn] 1 record(s) skipped due to errors"), err)
  }

  test("an error-free input creates no error file and prints no [warn] line") {
    val dir = tempDir("graft_skipload_clean")
    val (dest, errs) = (s"$dir/clean.csv", s"$dir/errors.csv")
    val cfg = playbook(dir, "id,name,qty,flag\n1,alpha,3,a\n3,gamma,5,x\n", dest, errs)
    val err = stderrOf(Main.run(spark, Main.Args(config = cfg)))
    assert(text(dest) == "id,name,qty\n1,ALPHA,3\n")
    assert(!Files.exists(Paths.get(errs)))
    assert(!Files.exists(Paths.get(errs + ".spark-tmp")))
    assert(!err.contains("[warn]"), err)
  }

  test("an error branch that folds to an empty relation still counts 0 and writes nothing") {
    val dir = tempDir("graft_skipload_empty")
    val (dest, errs) = (s"$dir/clean.csv", s"$dir/errors.csv")
    // no filter and no rule that can fail: the error plan is empty
    val cfg = playbook(dir, input, dest, errs,
      rules = "mappings:\n  - {source: name, target: name, transform: toUpperCase}")
    val err = stderrOf(Main.run(spark, Main.Args(config = cfg)))
    assert(text(dest) == "name\nALPHA\nBETA\nGAMMA\nDELTA\n")
    assert(!Files.exists(Paths.get(errs)))
    assert(!err.contains("[warn]"), err)
  }

  test("a failed main write surfaces its exception and leaves the error file as it was") {
    val dir = tempDir("graft_skipload_fail")
    Files.write(dir.resolve("afile"), Array[Byte](1))
    val errs = s"$dir/errors.csv"
    Files.write(Paths.get(errs), "earlier run\n".getBytes(UTF_8))
    // the destination's parent is a regular file, so the main write fails
    val cfg = playbook(dir, input, s"$dir/afile/clean.csv", errs)
    val e = intercept[Exception](Main.run(spark, Main.Args(config = cfg)))
    assert(s"$e ${Option(e.getCause).getOrElse("")}".contains("afile"), e)
    assert(text(errs) == "earlier run\n")
    val tmps = Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".spark-tmp")).toSeq
    assert(tmps.isEmpty, tmps)
  }

  test("an errorFile that resolves to the destination is rejected before anything runs") {
    val dir = tempDir("graft_skipload_same")
    val dest = s"$dir/out.csv"
    val cfg = playbook(dir, input, dest, s"$dir/./out.csv")
    var e: Exception = null
    val r = recorded { e = intercept[IllegalArgumentException](Main.run(spark, Main.Args(config = cfg))) }
    assert(e.getMessage.startsWith("errorFile is the destination"), e.getMessage)
    assert(r.executions.isEmpty, r.executions)
    assert(!Files.exists(Paths.get(dest)))
  }
}
