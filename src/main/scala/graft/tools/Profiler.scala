package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.SessionRecipe
import graft.ops.CachedRelations

/**
 * Profiles the shipped queries of [[graft.SparkEntry.queries]] on a
 * bench-shaped session (`local[$SPARK_GRAFT_CPUS]`, SF dir from
 * `SPARK_GRAFT_SF_DIR`). Every mode runs the registered query itself,
 * never a copy of its operators, so the numbers follow the code.
 *
 * {{{
 * sbt "runMain graft.tools.Profiler phases <query>..."
 * sbt "runMain graft.tools.Profiler plan <tag> <suffix> <query>..."
 * sbt "runMain graft.tools.Profiler stages <query>..."
 * }}}
 *
 *  - `phases`: build (DataFrame construction + analysis), plan
 *    (optimization + physical planning) and exec (noop-sink run) of
 *    each pass; 2 warm passes, then every one of 3 measured passes is
 *    printed, so within-JVM dispersion is visible next to the minimum.
 *  - `plan`: writes the formatted explain of the unexecuted plan to
 *    `plans/<tag>/<query>_<suffix>.txt`, then runs the query and counts
 *    the exchanges and reused exchanges of the plan that ran.
 *  - `stages`: one noop-sink run under [[Recorded.recorded]]; its job
 *    count, and per Spark stage, its call site and operator scopes,
 *    tasks, executor run and CPU time, input bytes, shuffle read/write
 *    bytes and spill bytes.
 *
 * A/B comparisons across commits are `playbench/counter_diff.py`'s job.
 */
object Profiler {
  final case class Phases(buildMs: Double, planMs: Double, execMs: Double) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  final case class PlanCounts(exchanges: Int, reused: Int)

  /** The jobs and completed stages (in stage-id order) of one run. */
  final case class StagesRun(jobs: Int, stages: Seq[Recorded.StageStats])

  private val WarmPasses = 2
  private val MeasuredPasses = 3

  private def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sfDir)

  private def noopRun(df: DataFrame): Unit =
    try df.write.format("noop").mode("overwrite").save()
    finally CachedRelations.releaseAll()

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** The measured passes of one query, in run order. */
  def phases(spark: SparkSession, sfDir: String, name: String): Seq[Phases] = {
    (0 until WarmPasses).foreach(_ => noopRun(query(spark, sfDir, name)))
    (0 until MeasuredPasses).map { _ =>
      val tBuild = System.nanoTime()
      val df = query(spark, sfDir, name)
      val build = ms(tBuild)
      val tPlan = System.nanoTime()
      df.queryExecution.executedPlan
      val plan = ms(tPlan)
      val tExec = System.nanoTime()
      noopRun(df)
      Phases(build, plan, ms(tExec))
    }
  }

  /** Writes the formatted explain to `out`, then runs the query and
    * counts the exchanges of the (adaptive) plan that executed. */
  def plan(spark: SparkSession, sfDir: String, name: String, out: Path): PlanCounts = {
    val df = query(spark, sfDir, name)
    Files.createDirectories(out.getParent)
    Files.write(out, df.queryExecution.explainString(FormattedMode)
      .getBytes(StandardCharsets.UTF_8))
    try df.queryExecution.toRdd.foreach(_ => ())
    finally CachedRelations.releaseAll()
    val nodes = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
    PlanCounts(nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  /** Jobs and stages of one noop-sink run of the query (its build-time
    * jobs included). */
  def stages(spark: SparkSession, sfDir: String, name: String): StagesRun = {
    val (_, rec) = Recorded.recorded(spark)(noopRun(query(spark, sfDir, name)))
    StagesRun(rec.jobs.size, rec.stages)
  }

  private val usage =
    """usage: Profiler phases <query>...
      |       Profiler plan <tag> <suffix> <query>...
      |       Profiler stages <query>...""".stripMargin

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val names = mode match {
      case "phases" | "stages" => args.drop(1).toSeq
      case "plan" if args.length >= 4 => args.drop(3).toSeq
      case _ => Nil
    }
    if (names.isEmpty) { System.err.println(usage); sys.exit(2) }
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(" ")}"); sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionRecipe.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    try names.foreach { name =>
      mode match {
        case "phases" =>
          val ps = phases(spark, sfDir, name)
          ps.zipWithIndex.foreach { case (p, i) =>
            println(f"PHASES $name%-36s pass=${i + 1} build=${p.buildMs}%8.1f ms  plan=${p.planMs}%8.1f ms  exec=${p.execMs}%8.1f ms  total=${p.totalMs}%8.1f ms")
          }
          val totals = ps.map(_.totalMs)
          println(f"PHASES $name%-36s min    build=${ps.map(_.buildMs).min}%8.1f ms  plan=${ps.map(_.planMs).min}%8.1f ms  exec=${ps.map(_.execMs).min}%8.1f ms  total=${totals.min}%8.1f ms  max/min=${totals.max / totals.min}%.2f")
        case "plan" =>
          val out = Paths.get("plans", args(1), s"${name}_${args(2)}.txt")
          val c = plan(spark, sfDir, name, out)
          println(s"PLAN $name -> $out exchanges=${c.exchanges} reused=${c.reused}")
        case "stages" =>
          val StagesRun(jobs, ss) = stages(spark, sfDir, name)
          println(s"STAGES $name jobs=$jobs stages=${ss.size} tasks=${ss.map(_.tasks).sum} " +
            s"run=${ss.map(_.runMs).sum} ms cpu=${ss.map(_.cpuMs).sum} ms")
          ss.foreach { s =>
            println(f"  stage ${s.stageId}%4d tasks=${s.tasks}%5d run=${s.runMs}%7d ms cpu=${s.cpuMs}%7d ms " +
              f"in=${s.inputBytes}%11d shuffleRead=${s.shuffleReadBytes}%11d " +
              f"shuffleWrite=${s.shuffleWriteBytes}%11d spill=${s.spillBytes}%10d  " +
              s"${s.callSite} [${s.scopes.mkString(", ")}]")
          }
      }
    } finally spark.stop()
  }
}
