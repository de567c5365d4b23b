package graft.queries

import org.apache.spark.sql.functions._
import graft.config.{DestinationConfig, PlaybookLoader, SourceConfig}
import graft.compile.PipelineCompiler
import graft.io.{Readers, Writers, Xlsx}
import graft.queries.Queries.t

/**
 * Sources/sinks and the playbook compiler as graded queries: write the
 * documents table through each sink, read it back through the matching
 * source, and hash-compare against DuckDB reading the original parquet.
 * This puts the whole IO layer inside the correctness gate.
 */
object IoQueries {

  // freed by the caller's CachedRelations.releaseAll after the action
  private def tmpDir(): String = graft.ops.CachedRelations.tempDir("ioq").toString

  private def docs3(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))

  val all: Seq[Q] = Seq(

    // CSV sink -> CSV source: all-string records, Go %v rendering.
    Q("q_io_csv_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.csv"
        Writers.writeCsv(docs3(s, dir), p)
        Readers.read(s, SourceConfig("csv", file = p))
      },
      Some("""SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
        CAST(n_chars AS VARCHAR) AS n_chars FROM documents""")),

    // JSON array sink -> JSON source: types survive.
    Q("q_io_json_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.json"
        Writers.writeJsonArray(docs3(s, dir), p)
        Readers.read(s, SourceConfig("json", file = p))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")),

    // JSONL sink (distributed part files) -> splittable JSONL source.
    Q("q_io_jsonl_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.jsonl"
        Writers.writeJsonl(docs3(s, dir), p)
        Readers.read(s, SourceConfig("jsonl", file = p))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")),

    // XML sink -> built-in XML source (rowTag), numeric re-inference.
    Q("q_io_xml_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.xml"
        Writers.writeXml(docs3(s, dir), DestinationConfig("xml", file = p,
          xmlRootTag = Some("docs"), xmlRecordTag = Some("doc")))
        Readers.read(s, SourceConfig("xml", file = p, xmlRecordTag = Some("doc")))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")),

    // YAML sink -> snakeyaml source with schema re-inference.
    Q("q_io_yaml_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.yaml"
        Writers.writeYaml(docs3(s, dir), p)
        Readers.read(s, SourceConfig("yaml", file = p))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")),

    // ORC sink -> ORC source: the second splittable columnar format.
    // Typed roundtrip (like parquet), zstd-compressed to exercise the
    // codec option through the config vocabulary.
    Q("q_io_orc_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.orc"
        Writers.write(docs3(s, dir), DestinationConfig("orc", file = p,
          compression = "zstd"))
        Readers.read(s, SourceConfig("orc", file = p))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")),

    // Avro sink -> Avro source (avro-mapred; no spark-avro connector
    // offline): typed roundtrip through the row-oriented interchange
    // format, deflate-compressed to exercise the codec option.
    Q("q_io_avro_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.avro"
        Writers.write(docs3(s, dir), DestinationConfig("avro", file = p,
          compression = "gzip"))
        Readers.read(s, SourceConfig("avro", file = p))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")),

    // XLSX sink -> hand-rolled OOXML source: all strings.
    Q("q_io_xlsx_roundtrip",
      (s, dir) => {
        val p = tmpDir() + "/docs.xlsx"
        Xlsx.write(docs3(s, dir), DestinationConfig("xlsx", file = p, sheetName = Some("Docs")))
        Readers.read(s, SourceConfig("xlsx", file = p, sheetName = Some("Docs")))
      },
      Some("""SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
        CAST(n_chars AS VARCHAR) AS n_chars FROM documents""")),

    // The playbook compiler end-to-end as a graded query: parquet source,
    // govaluate filter, transform chain, dedup — vs a hand-written oracle.
    Q("q_pipeline_e2e",
      (s, dir) => {
        val pb = PlaybookLoader.fromString(
          s"""source: {type: parquet, file: $dir/orders.parquet}
             |destination: {type: parquet, file: unused}
             |filter: "o_totalprice > 1000 && o_orderstatus != 'P'"
             |mappings:
             |  - {source: o_orderkey, target: order_id}
             |  - {source: o_custkey, target: cust_id}
             |  - {source: o_orderpriority, target: prio, transform: toLowerCase}
             |  - {source: o_totalprice, target: price_int, transform: toInt}
             |  - {source: o_totalprice, target: price_str, transform: toString}
             |deduplication: {keys: [cust_id], strategy: max, strategyField: o_totalprice}
             |""".stripMargin)
        // strategyField must exist in mapped output — remap price onto itself
        val pb2 = pb.copy(dedup = pb.dedup.map(_.copy(strategyField = Some("price_str_sort"))),
          mappings = pb.mappings :+ graft.config.MappingRule("o_totalprice", "price_str_sort"))
        PipelineCompiler.compile(s, pb2).main.drop("price_str_sort")
      },
      Some("""SELECT order_id, cust_id, prio, price_int, price_str FROM (
        SELECT o_orderkey AS order_id, o_custkey AS cust_id,
          lower(o_orderpriority) AS prio,
          CASE WHEN o_totalprice = floor(o_totalprice) THEN CAST(o_totalprice AS BIGINT) END AS price_int,
          CASE WHEN o_totalprice = floor(o_totalprice)
               THEN CAST(CAST(o_totalprice AS BIGINT) AS VARCHAR)
               ELSE CAST(o_totalprice AS VARCHAR) END AS price_str,
          o_totalprice
        FROM orders
        WHERE o_totalprice > 1000 AND o_orderstatus <> 'P'
        QUALIFY row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) = 1)""")),
  )
}
