package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared workload confs (SessionRecipe): Verify compiles all ~357
    // plans — on the default 100-entry codegen class cache it recompiled
    // nearly every generated unit it ever revisited (r16 verdict #4).
    val spark = SessionRecipe.local(cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filter (driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // r7 postmortem: a crashed query used to write no output directory and
    // the correctness surface silently SHRANK (39 queries vanished from
    // CORRECTNESS_r07 with no red row). Failures are now collected into an
    // explicit manifest + a FAILED count on stdout.
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      // contract: result at outDir/<name>.parquet (a parquet directory,
      // one part file). repartition(1), NOT coalesce(1): coalesce
      // collapses the query's final stage to a single task (a heavy
      // final aggregation then runs one-threaded — measured minutes vs
      // seconds at sf0.1), while repartition adds a 1-partition
      // exchange AFTER the parallel computation and only the write is
      // single-task.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        val first = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString
        failures += name -> first
        System.err.println(s"[verify] $name FAILED: $first")
      }
      finally graft.ops.CachedRelations.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Driver contract: correctness entries are keyed by the OUTPUT DIRECTORY
    // name `<name>.parquet`, so emit every oracle under BOTH the bare query
    // name and `<name>.parquet` (round-2 postmortem: bare-only keys made the
    // driver find oracle SQL for zero of 84 queries).
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Cheap insurance: a copy at the repo root in case the driver looks there.
    try Files.writeString(Paths.get("oracle_sql.json"), json)
    catch { case _: Throwable => () }
    // Error manifest: every crashed query as an explicit entry, so a schema
    // break grades as N red rows, not N missing rows. Also mirrored to the
    // repo root (the driver archives the repo, not necessarily outDir).
    val failJson = failures
      .map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    try Files.writeString(Paths.get("VERIFY_FAILURES.json"), failJson)
    catch { case _: Throwable => () }
    println(s"[verify] FAILED ${failures.size} of ${SparkEntry.queries.size} queries" +
      (if (failures.nonEmpty) ": " + failures.map(_._1).mkString(", ") else ""))
    // Exit 0 even on failures: the manifest + stdout count carry the red
    // signal; a nonzero exit could make the driver discard the good rows too.
    spark.stop()
  }
}
