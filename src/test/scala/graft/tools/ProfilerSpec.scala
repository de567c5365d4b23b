package graft.tools

import java.nio.file.Files
import graft.SparkTestBase

/** Each Profiler mode on one shuffle-bearing registered query. */
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
}
