package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase

/** Each Profiler mode: the query modes on one shuffle-bearing
  * registered query, `scale` on two families. */
class ProfilerSpec extends SparkTestBase with graft.TempDirs {

  private val sfDir = "/root/testdata/sf0.001"
  private val query = "q_dedup_first"

  test("phases: three measured passes, each with positive build, plan and exec time") {
    val ps = Profiler.phases(spark, sfDir, query)
    assert(ps.size == 3)
    ps.foreach(p => assert(p.buildMs > 0 && p.planMs > 0 && p.execMs > 0, p))
  }

  test("plan: writes the formatted explain and counts the executed exchanges") {
    val out = tempDir("graft_profiler_plan").resolve("t/q_dedup_first_x.txt")
    val counts = Profiler.plan(spark, sfDir, query, out)
    assert(new String(Files.readAllBytes(out), "UTF-8").contains("Physical Plan"))
    assert(counts.exchanges >= 1, counts)
  }

  test("stages: per-stage tasks and shuffle bytes of one run") {
    // a cold first run also counts the parquet schema job of the
    // query's first read of these files; the second run reads warm
    Profiler.stages(spark, sfDir, query)
    val Profiler.StagesRun(jobs, ss) = Profiler.stages(spark, sfDir, query)
    assert(jobs == 2, ss) // the shuffle map stage, then the result stage
    assert(ss.size >= 2, ss)
    assert(ss.forall(_.tasks > 0), ss)
    assert(ss.map(_.shuffleWriteBytes).sum > 0, ss)
  }

  test("scale: rows, counters and their ratios at 1x and 2x, equal over both passes") {
    val fams = Profiler.families.filter(f => Set("cc_star", "bloom_index_build")(f.name))
    val run = Profiler.scale(spark, sfDir, Seq(2), fams,
      tempDir("graft_profiler_scale").toString)
    val docs = run.rows.toMap.apply("documents").toMap
    assert(docs(2) == 2 * docs(1), run.rows)
    assert(run.families.map(_._1.name) == Seq("cc_star", "bloom_index_build"))
    run.families.foreach { case (fam, points) =>
      assert(points.map(_.factor) == Seq(1, 2), fam.name)
      points.foreach { p =>
        assert(p.work.jobs > 0 && p.work.shuffleWriteBytes > 0, s"${fam.name} $p")
        assert(!p.passesDiffer, s"${fam.name} $p")
      }
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Profiler.scaleJson(run))
    assert(json.at("/rows/documents/2x").asLong == 2 * json.at("/rows/documents/1x").asLong)
    assert(json.at("/families/cc_star/scales/2x/ratios/jobs").isNumber, json)
  }

  test("no source under src/main but the Profiler.timed helper reads the clock") {
    val call = "nano" + "Time"
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.contains(call)).map(l => s"$p: ${l.trim}"))
      .toSeq
    assert(hits.size == 2 && hits.forall(_.contains("tools/Profiler.scala")), hits.mkString("\n"))
  }
}
