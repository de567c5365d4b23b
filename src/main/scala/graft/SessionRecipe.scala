package graft
import org.apache.spark.sql.SparkSession

/**
 * The engine's shared session recipe: workload-constant Spark confs
 * every graft session wants, applied by ALL session-building mains
 * (Bench, Verify, the cli faces, the Profiler) so the production
 * faces and the benchmark measure the same engine (r16 verdict #4:
 * the codegen-cache conf lived only in Bench and the probe mains,
 * leaving SparkEntry/Verify on the 100-entry default).
 *
 * - `spark.sql.codegen.cache.maxEntries`: the engine serves ~300
 *   distinct query plans per session; Spark's generated-class cache
 *   holds 100 by default, so a multi-query session recompiles (janino)
 *   and re-JITs nearly every codegen unit on every re-execution.
 *   Sizing the cache to the working set is a workload-width constant,
 *   not a scale knob (entries are compiled classes, ~10-50 KB each —
 *   8192 is a few-hundred-MB ceiling an 8 GB driver holds comfortably;
 *   measured r16: full 291-query surface 200.7 → 155.0 s).
 *   Env-overridable via SPARK_GRAFT_CODEGEN_CACHE.
 * - session timezone UTC: the engine's documented timestamp contract.
 *
 * Master, shuffle partitions and UI are per-face choices: the
 * in-process tools take [[local]] (the bench's core count comes from
 * SPARK_GRAFT_CPUS), the cli faces take [[cli]] (SPARK_MASTER).
 */
object SessionRecipe {
  def codegenCacheEntries: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192")

  def workload(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
    .config("spark.sql.session.timeZone", "UTC")

  /** Bench-shaped in-process session: `local[cores]`, one shuffle
    * partition per core, UI off. */
  def local(cores: String, logLevel: String): SparkSession = {
    val spark = workload(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The cli faces' session: master from SPARK_MASTER (default
    * `local[*]`), shuffle partitions from SPARK_SHUFFLE_PARTITIONS
    * (default 32). */
  def cli(appName: String, logLevel: String): SparkSession = {
    val spark = workload(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32")))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
