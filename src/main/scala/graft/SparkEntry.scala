package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Queries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship pipeline on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Runs the real product surface: a YAML playbook compiled to
    * a DataFrame plan (filter -> transforms -> dedup). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val pb = graft.config.PlaybookLoader.fromString(
      s"""source: {type: parquet, file: $dir/lineitem.parquet}
         |destination: {type: parquet, file: unused}
         |filter: "l_quantity > 10 && l_returnflag != 'X'"
         |mappings:
         |  - {source: l_orderkey, target: order_id}
         |  - {source: l_partkey, target: part_id}
         |  - {source: l_quantity, target: qty, transform: toInt}
         |  - {source: l_returnflag, target: flag, transform: toLowerCase}
         |deduplication: {keys: [order_id], strategy: first}
         |""".stripMargin)
    graft.compile.PipelineCompiler.compile(spark, pb).main
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleSql
}
