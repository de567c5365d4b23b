package graft.config

/**
 * The playbook data model — the engine's "query language".
 *
 * Mirrors the reference's ETLConfig
 * (/root/reference/internal/config/types.go:39-215): a declarative
 * six-stage pipeline Extract -> Filter -> Transform -> Flatten ->
 * Dedup -> Load. We add `parquet` as a source/destination type (the
 * natural Spark-native format the reference predates).
 */
case class Playbook(
    source: SourceConfig,
    destination: DestinationConfig,
    filter: Option[String] = None,
    mappings: Seq[MappingRule] = Seq.empty,
    flattening: Option[FlatteningConfig] = None,
    dedup: Option[DedupConfig] = None,
    errorHandling: ErrorHandlingConfig = ErrorHandlingConfig(),
    analytics: Seq[AnalyticsStage] = Seq.empty)

/**
 * One stage of the `analytics:` section — the config-file face of the
 * engine's north-star operator surface (SURVEY §7 phase E: "joins/
 * aggregations/windows exposed in the playbook schema"). Runs AFTER
 * the reference's six ETL sections, on the clean main branch. `op`
 * names an operator registered in
 * [[graft.compile.AnalyticsCompiler]] (corpus_clean, near_dup_dedup,
 * url_dedup, datasheet, aggregate, join, derive, where, …); `params`
 * carries the op-specific keys (everything in the YAML map except
 * `op`). Unknown ops and missing, undeclared, mis-typed or
 * parse-failing params are rejected at load time by the
 * accumulated-error validator, like every other playbook section.
 */
case class AnalyticsStage(op: String, params: Map[String, Any] = Map.empty)

/** types.go:67-101 — `type` in {csv,json,xlsx,xml,yaml,postgres,parquet}.
  * `streaming: true` (extension) compiles the pipeline over
  * `readStream` instead of a batch scan — parquet/orc/jsonl sources only
  * (the splittable formats Structured Streaming monitors as file
  * sources); schema comes from a one-time static read of the same
  * path. */
case class SourceConfig(
    `type`: String,
    file: String = "",
    query: String = "",           // postgres
    conn: String = "",            // jdbc url; -db flag / DB_CREDENTIALS
    delimiter: Option[String] = None,     // csv
    commentChar: Option[String] = None,   // csv
    // csv: the playbook DECLARES the file has no quoted newlines, so
    // the read may use the line-splittable fast path (a single 100 GB
    // file scans in parallel). Default false = the exact RFC4180
    // whole-file parser (quoted newlines supported, per-record skip
    // warnings). The declaration is a REAL contract: on a file that
    // does contain quoted newlines, the affected records mis-parse —
    // usually as counted skips, but a fragment that happens to carry
    // the declared field count is accepted as a wrong row. Use the
    // default path when unsure.
    splittable: Boolean = false,
    sheetName: Option[String] = None,     // xlsx
    sheetIndex: Option[Int] = None,       // xlsx
    xmlRecordTag: Option[String] = None,  // xml
    streaming: Boolean = false,
    // streaming jsonl: declared DDL schema ("doc_id LONG, text STRING");
    // when empty, the schema is inferred from ONE existing file
    schema: String = "")

/** types.go:104-142. */
case class DestinationConfig(
    `type`: String,
    file: String = "",
    table: String = "",                    // postgres
    conn: String = "",                     // jdbc url
    loaderCommand: String = "",            // custom-SQL loader (postgres.go:318)
    loaderBatchSize: Int = 0,              // custom-SQL per-txn batch
    xmlRecordTag: Option[String] = None,
    xmlRootTag: Option[String] = None,
    sheetName: Option[String] = None,
    partitionBy: Seq[String] = Seq.empty,         // parquet layout at scale
    compression: String = "",                     // jsonl/parquet/orc codec (gzip, snappy, zstd, none)
    checkpoint: String = "",                      // streaming sink state dir
    // parquet physical-layout extensions (mutually exclusive):
    // bucketBy writes a metastore-registered bucketed table (reuses
    // `table` as the name) so recurring joins/aggs on the keys run
    // shuffle-free; zorderBy range-clusters rows on the interleaved
    // Z-curve of the listed dimensions before writing, so min/max
    // footer pruning works on EVERY listed dimension
    bucketBy: Seq[String] = Seq.empty,
    buckets: Int = 0,
    sortBy: Seq[String] = Seq.empty,
    zorderBy: Seq[String] = Seq.empty,
    zorderBits: Int = 16,
    zorderFiles: Int = 0,
    // per-file bloom data-skipping side index (parquet only, composes
    // with any layout above): one index per listed column, written to
    // `<file>_bloomidx_<col>` after the data lands
    bloomIndexBy: Seq[String] = Seq.empty,
    bloomItemsPerFile: Long = 1000000L,
    bloomFpp: Double = 0.01)

/** types.go:118-141 — one projection/transform rule. */
case class MappingRule(
    source: String,
    target: String,
    transform: Option[String] = None,      // may carry "name:param" shorthand
    params: Map[String, Any] = Map.empty)

/** types.go:145-165. */
case class FlatteningConfig(
    sourceField: String,
    targetField: String,
    includeParent: Boolean = true,
    errorOnNonList: Boolean = false,
    conditionField: Option[String] = None,
    conditionValue: Option[String] = None)

/** types.go:169-180 — strategy in {first,last,min,max}.
  * `tsCol`/`quietPeriod`/`watermarkDelay` are streaming-only: min/max
  * on a stream emit a key's extreme once the watermark on `tsCol`
  * (delayed by `watermarkDelay`) passes the key's last event +
  * `quietPeriod` (ignored in batch, where the full relation is in
  * hand). */
case class DedupConfig(
    keys: Seq[String],
    strategy: String = "first",
    strategyField: Option[String] = None,
    tsCol: Option[String] = None,
    quietPeriod: String = "30 seconds",
    watermarkDelay: String = "0 seconds")

/** types.go:203-215 — mode in {halt,skip}. */
case class ErrorHandlingConfig(
    mode: String = "halt",
    logErrors: Boolean = true,
    errorFile: Option[String] = None)
