package playbench

import java.io.File
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.cli.Main

/**
 * The JVM side of the playbook benchmark: one process, one closed-loop
 * client. It sets up the session the way the CLI does, then runs
 * execution units back to back through the public entry point
 * `graft.cli.Main.run`: one first unit, then `--warm` warm units. An
 * execution unit is a fixed list of `Main.run` calls (one playbook
 * run, or the incremental batch sequence).
 *
 * Every unit writes under `GRAFT_OUT`, which must not exist when the
 * unit starts; afterwards the directory is renamed to `units/u<k>` so
 * the next unit starts fresh (the error sink appends across runs by
 * design) and run.py can check every unit's outputs.
 *
 * Arguments (all `--key value`):
 *   --work DIR         directory for the result and trace files
 *   --warm N           number of warm units after the first
 *   --trace 0|1        register the span/counter listeners and the stack
 *                      sampler (Tracer)
 *   --call CFG|IN|OUT  one Main.run call of a unit (repeatable; IN and
 *                      OUT may be empty)
 *
 * Writes `<work>/result.json` (and `<work>/trace.json` when traced).
 */
object PlayBench {

  final case class Call(config: String, input: Option[String], output: Option[String])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val pairs = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    val opt = pairs.toMap
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.SessionRecipe.workload(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val work = new File(opt("work"))
    val warmUnits = opt("warm").toInt
    val traced = opt("trace") == "1"
    val calls = pairs.collect { case ("call", v) =>
      val Array(c, i, o) = v.split("\\|", -1)
      Call(c, Some(i).filter(_.nonEmpty), Some(o).filter(_.nonEmpty))
    }
    val out = new File(sys.env("GRAFT_OUT"))
    val units = new File(work, "units"); units.mkdirs()
    val tracer = if (traced) Some(Tracer.install(spark)) else None

    def tempDirs(): Int = Seq(System.getProperty("java.io.tmpdir"), sys.env.getOrElse("SPARK_LOCAL_DIRS", ""))
      .filter(_.nonEmpty).distinct
      .map(d => Option(new File(d).list()).map(_.count(_.startsWith("graft"))).getOrElse(0)).sum
    def persisted(): Int = spark.sparkContext.getPersistentRDDs.size

    val records = Seq.newBuilder[Map[String, Any]]
    def unit(k: Int, warm: Boolean): Unit = {
      require(!out.exists(), s"$out exists before unit $k")
      val (dirs0, rdds0) = (tempDirs(), persisted())
      var error = ""
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      def body(): Unit = calls.foreach { c =>
        tracer.fold(run(spark, c))(_.span("Main.run", Map("config" -> c.config)) { run(spark, c) })
      }
      try tracer.fold(body())(_.span("unit", Map("unit" -> k, "warm" -> warm))(body()))
      catch { case e: Exception => error = String.valueOf(e.getMessage) }
      val wall = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      val dir = new File(units, s"u$k")
      if (out.exists()) Files.move(out.toPath, dir.toPath) else dir.mkdirs()
      records += Map(
        "unit" -> k, "warm" -> warm, "wall_s" -> wall, "start_ms" -> start, "end_ms" -> end,
        "dir" -> dir.getPath, "error" -> error,
        "leaked_temp_dirs" -> (tempDirs() - dirs0), "leaked_persisted_rdds" -> (persisted() - rdds0))
    }

    unit(0, warm = false)
    (1 to warmUnits).foreach(unit(_, warm = true))

    tracer.foreach { t =>
      t.stop()
      Tracer.drain(spark)
      json.writeValue(new File(work, "trace.json"), t.dump(cores))
    }
    json.writeValue(new File(work, "result.json"), Map(
      "setup_s" -> setupS, "cores" -> cores, "peak_rss_mb" -> peakRssMb(), "units" -> records.result()))
    spark.stop()
  }

  private def run(spark: SparkSession, c: Call): Unit =
    Main.run(spark, Main.Args(config = c.config, input = c.input, output = c.output))

  /** Resident-set high-water mark of this process (VmHWM, Linux). */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}
