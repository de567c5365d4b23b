package graft.cli

import graft.{SparkTestBase, TempDirs}
import java.nio.charset.StandardCharsets.UTF_8
import graft.tools.Recorded.recorded
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

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

  test("one bad row, one filtered row: two SQL executions, source read at most twice, exact files") {
    val dir = tempDir("graft_skipload")
    val (dest, errs) = (s"$dir/clean.csv", s"$dir/errors.csv")
    val cfg = playbook(dir, input, dest, errs)
    val ((_, err), r) = recorded(spark)(stderrOf(Main.run(spark, Main.Args(config = cfg))))

    val execs = r.executions.map(_.description)
    assert(execs.size == 2, execs)
    assert(!execs.exists(d => d.startsWith("isEmpty") || d.startsWith("count")), execs)
    val size = Files.size(dir.resolve("in.csv"))
    val read = r.stages.map(_.inputBytes).sum
    assert(read <= 2 * size, s"read $read bytes of a $size-byte file")

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
    val (_, err) = stderrOf(Main.run(spark, Main.Args(config = cfg)))
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
    val (_, err) = stderrOf(Main.run(spark, Main.Args(config = cfg)))
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
    val (e, r) = recorded(spark)(intercept[IllegalArgumentException](Main.run(spark, Main.Args(config = cfg))))
    assert(e.getMessage.startsWith("errorFile is the destination"), e.getMessage)
    assert(r.executions.isEmpty, r.executions)
    assert(!Files.exists(Paths.get(dest)))
  }
}
