package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.{RowsBridge, WholeFileStreams}
import org.apache.spark.sql.types._
import graft.config.SourceConfig
import scala.jdk.CollectionConverters._

/**
 * Source readers (reference: /root/reference/internal/io/factory.go:13-49).
 *
 * Scale notes: csv/json/xml/parquet/orc are Spark-native partitioned scans.
 * yaml and xlsx are whole-file interchange formats (non-splittable by
 * nature); they parse driver-side and parallelize the rows — correct
 * for config-driven ETL inputs, while the columnar path (parquet) is
 * the 100 TB ingest format.
 */
object Readers {

  /** Streaming scan (source.streaming: true): parquet/jsonl file
    * sources monitored by Structured Streaming. File-source streams
    * require an explicit schema: a declared `source.schema` DDL wins;
    * otherwise it is inferred from ONE existing file (jsonl inference
    * over the whole folder would re-parse the entire accumulated drop
    * history on EVERY catch-up invocation — unbounded I/O for a
    * bounded run; parquet schema reads are footer-only). An empty
    * drop folder with no declared schema is a named error, not
    * Spark's opaque 'Unable to infer schema'. */
  def readStream(spark: SparkSession, src: SourceConfig): DataFrame = {
    def declared: Option[org.apache.spark.sql.types.StructType] =
      Option(src.schema).filter(_.nonEmpty)
        .map(org.apache.spark.sql.types.StructType.fromDDL)
    src.`type` match {
      case "parquet" =>
        val schema = declared.getOrElse(spark.read.parquet(src.file).schema)
        spark.readStream.schema(schema).parquet(src.file)
      case "orc" =>
        // footer-only schema read, same as parquet
        val schema = declared.getOrElse(spark.read.orc(src.file).schema)
        spark.readStream.schema(schema).orc(src.file)
      case "jsonl" =>
        val schema = declared.getOrElse(
          spark.read.json(firstFile(spark, src.file, ".jsonl").getOrElse(
            throw new IllegalArgumentException(
              s"streaming source '${src.file}' has no files yet and no declared " +
                "source.schema — declare one (DDL, e.g. \"doc_id LONG, text STRING\") " +
                "to start a stream against an empty drop folder"))).schema)
        spark.readStream.schema(schema).json(src.file)
      case other =>
        throw new IllegalArgumentException(
          s"streaming source type '$other' unsupported (parquet, orc, jsonl)")
    }
  }

  def read(spark: SparkSession, src: SourceConfig): DataFrame =
    if (src.streaming) readStream(spark, src) else readBatch(spark, src)

  private def readBatch(spark: SparkSession, src: SourceConfig): DataFrame = src.`type` match {
    case "csv"     => readCsv(spark, src)
    case "json"    => spark.read.option("multiLine", "true").json(src.file)
    // newline-delimited JSON: the training-data interchange format.
    // Unlike the "json" array form (multiLine, whole-file parse), JSONL
    // is SPLITTABLE — Spark assigns line ranges to tasks, so a single
    // 100 GB file still scans in parallel.
    case "jsonl"   => spark.read.json(src.file)
    case "xml"     => spark.read.format("xml")
      .option("rowTag", src.xmlRecordTag.getOrElse("record"))
      .load(src.file)
    case "yaml"    => readYaml(spark, src.file)
    case "xlsx"    => Xlsx.read(spark, src)
    case "parquet" => spark.read.parquet(src.file)
    // ORC: the other splittable columnar format (built into spark-sql).
    // Same scale posture as parquet: footer stats, predicate pushdown,
    // column pruning, per-stripe task assignment.
    case "orc"     => spark.read.orc(src.file)
    // Avro: the row-oriented interchange format (io.Avro — built on
    // avro-mapred; container files split at sync markers, so reads
    // parallelize inside single large files too)
    case "avro"    => Avro.read(spark, src)
    // raw media/document ingestion: one row per file with its bytes -
    // the front door for image/audio corpora feeding the multimodal
    // decode stages. Columns: path, modificationTime, length, content.
    // binaryFile never splits a file, so parallelism = file count -
    // right for media corpora (many small objects).
    case "binary" => spark.read.format("binaryFile").load(src.file)
    case "postgres" => spark.read.format("jdbc")
      .option("url", if (src.conn.nonEmpty) src.conn else sys.env.getOrElse("DB_CREDENTIALS", ""))
      .option("query", src.query)
      .load() // requires a JDBC driver jar on the classpath
    case other => throw new IllegalArgumentException(s"unsupported source type: $other")
  }

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Skip counter of the most recent CSV read (csv.go:117-129 logs each
    * skip; the accumulator makes the total observable after the action).
    * APPROXIMATE by construction on both CSV paths: the ticks happen in
    * transformations, so re-evaluating the returned frame (a second
    * action, a retry, speculation) counts the same skips again — read
    * it once, right after the first action, as a diagnostic. */
  @transient @volatile var lastCsvSkipped: Option[org.apache.spark.util.LongAccumulator] = None

  /**
   * CSV with the reference's exact semantics (internal/io/csv.go:50-135,
   * which delegates to Go encoding/csv): header row -> keys (trimmed),
   * all values strings, configurable delimiter + comment char, QUOTED
   * FIELDS MAY CONTAIN EMBEDDED NEWLINES, wrong-field-count rows skipped
   * WITH a per-row warning (csv.go:117-129), duplicate header -> last
   * column wins, empty header -> column dropped.
   *
   * Each file is read whole by one task, which streams its bytes
   * through [[CsvRecords]] straight into Catalyst rows: only the current
   * record is held, so a task's memory is O(longest record), not
   * O(file). No file is split: quoted-newline CSV is inherently
   * non-splittable (no line boundary identifies a record boundary), and
   * the reference itself is a single-file reader. Directory reads
   * parallelize across files (each file carries its own header row);
   * the columnar path (parquet) is the 100 TB ingest format. When the
   * playbook DECLARES no quoted newlines (`splittable: true`),
   * [[readCsvSplittable]] scans line ranges in parallel instead.
   */
  private def readCsv(spark: SparkSession, src: SourceConfig): DataFrame =
    if (src.splittable) readCsvSplittable(spark, src)
    else readCsvExact(spark, src)

  private def readCsvExact(spark: SparkSession, src: SourceConfig): DataFrame = {
    val CsvHeader(delim, comment, n, keep) = csvHeader(spark, src)
    val keepIdx = keep.map(_._2).toArray
    // the parser never yields null: declaring it lets the optimizer
    // fold `x IS NULL` (the filter-null error branch) to an empty relation
    val schema = StructType(keep.map { case (name, _) => StructField(name, StringType, nullable = false) })

    val skipped = spark.sparkContext.longAccumulator("csv_skipped_rows")
    lastCsvSkipped = Some(skipped)
    val rows = WholeFileStreams(spark.sparkContext, src.file, spark.sparkContext.defaultParallelism)
      .flatMap { case (path, stream) =>
        val in = stream.open()
        org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
        val recs = new CsvRecords(in, delim, comment)
        recs.next() // every file's record 1 is its header row
        new Iterator[InternalRow] {
          private var idx = 1
          private var row: InternalRow = null
          def hasNext: Boolean = {
            while (row == null && recs.next()) {
              idx += 1
              if (recs.size == n) row = new GenericInternalRow(recs.fields(keepIdx))
              else {
                skipped.add(1)
                log.warn(s"csv: skipping record $idx of $path: ${recs.size} fields, expected $n")
              }
            }
            if (row == null) in.close()
            row != null
          }
          def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("csv: no more records")
            val r = row
            row = null
            r
          }
        }
      }
    RowsBridge.dataFrame(spark, rows, schema)
  }

  /**
   * The SPLITTABLE CSV fast path, engaged only when the playbook
   * declares the file has no quoted newlines: Spark's native CSV
   * source assigns LINE RANGES to tasks, so one 100 GB file scans in
   * parallel instead of parsing on a single task ([[readCsvExact]]'s
   * one task per file — required there because a quoted newline
   * means no line boundary is a record boundary). Every reference
   * semantic is preserved and spec-pinned equal to the exact path on
   * quoted-newline-free data:
   *  - header keys sniffed + trimmed, duplicate → last column wins,
   *    empty → dropped; each FILE's first line drops as its header
   *  - all values strings; unquoted AND quoted empty fields are ""
   *    (never null — Spark's nullValue default is coalesced away)
   *  - `""` escapes a quote inside a quoted field (escape = quote)
   *  - blank lines and comment-char lines skip
   *  - wrong-field-count rows skip and tick the SAME `lastCsvSkipped`
   *    accumulator (PERMISSIVE corrupt-record column → filtered with
   *    a count); the per-record index warning of the exact path
   *    degrades to a per-row content log — the price of not seeing
   *    file offsets.
   *
   * The declaration is a REAL contract: a quoted newline in a file
   * falsely declared splittable mis-parses its record — the fragments
   * usually land here as counted skips, but a fragment that happens
   * to carry exactly the declared field count is accepted as a wrong
   * row (no line-scoped parser can see record context it was told
   * does not exist). Callers unsure about their data keep the default
   * exact path.
   */
  private def readCsvSplittable(spark: SparkSession, src: SourceConfig): DataFrame = {
    val CsvHeader(delim, comment, n, keep) = csvHeader(spark, src)
    val corrupt = "_graft_corrupt"
    val full = StructType(
      (0 until n).map(i => StructField(s"_c$i", StringType, nullable = true)) :+
        StructField(corrupt, StringType, nullable = true))
    val skipped = spark.sparkContext.longAccumulator("csv_skipped_rows")
    lastCsvSkipped = Some(skipped)
    var reader = spark.read
      .option("header", "true")            // drops each file's first line
      .option("sep", delim.toString)
      .option("escape", "\"")              // RFC4180 "" quote escaping
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .schema(full)
    comment.foreach(c => reader = reader.option("comment", c.toString))
    val raw = reader.csv(src.file)
    val idx = n // corrupt column position in `full`
    // The skip count ticks inside a TRANSFORMATION, so (exactly like
    // the exact path's accumulator) `lastCsvSkipped` is per-evaluation
    // and approximate under multiple actions, task retries, or
    // speculation — Spark guarantees exactly-once accumulator updates
    // only in actions. It is a diagnostic surface, not a ledger; the
    // warn log is rate-limited per task so one large corrupt file
    // cannot flood executor logs (first 20 records verbatim, then one
    // line per 10 000 — r14 advisory).
    val warned = new java.util.concurrent.atomic.AtomicLong(0L)
    val clean = raw.filter { r: Row =>
      val bad = !r.isNullAt(idx)
      if (bad) {
        skipped.add(1)
        val w = warned.incrementAndGet()
        if (w <= 20 || w % 10000 == 0)
          log.warn(s"csv: skipping malformed record #$w (splittable path): " +
            s"${Option(r.getString(idx)).getOrElse("").take(200)}")
      }
      !bad
    }
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    clean.select(keep.map { case (name, i) =>
      coalesce(col(s"_c$i"), lit("")).as(name)
    }: _*)
  }

  /** A CSV source's delimiter, comment char, header width and kept
    * (name, column index) pairs: headers trimmed, duplicate -> last
    * wins, empty -> dropped (csv.go:96-113). */
  private case class CsvHeader(delim: Char, comment: Option[Char], width: Int, keep: Seq[(String, Int)])

  /** Driver-side header sniff: the first record of the source's first
    * file, read by the same [[CsvRecords]] as the data (so a header
    * with quoted newlines parses, and comment and blank lines before it
    * skip). An empty file has no header. */
  private def csvHeader(spark: SparkSession, src: SourceConfig): CsvHeader = {
    val delim = src.delimiter.getOrElse(",").charAt(0)
    val comment = src.commentChar.filter(_.nonEmpty).map(_.charAt(0))
    val first = new org.apache.hadoop.fs.Path(firstFile(spark, src.file).getOrElse(
      throw new IllegalArgumentException(s"csv source '${src.file}' has no files")))
    val in = first.getFileSystem(spark.sparkContext.hadoopConfiguration).open(first)
    val header = try {
      val recs = new CsvRecords(in, delim, comment)
      if (recs.next()) recs.strings() else Seq.empty
    } finally in.close()
    CsvHeader(delim, comment, header.size, header.map(_.trim).zipWithIndex
      .filter(_._1.nonEmpty)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      .toSeq.sortBy(_._2))
  }

  /** The first file, sorted by path, of the listing a file scan reads:
    * Hadoop's FileSystem (so hdfs:// and s3a:// resolve as in the scan)
    * over the path or glob, a directory's files one level down with
    * names starting with `.` or `_` skipped, as FileInputFormat skips
    * them. A file ending in `prefer` wins over the rest. */
  private def firstFile(spark: SparkSession, path: String, prefer: String = ""): Option[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(hPath)).toSeq.flatten.flatMap { s =>
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq.filter(c => c.isFile &&
        !c.getPath.getName.startsWith(".") && !c.getPath.getName.startsWith("_"))
    }.map(_.getPath.toString).sorted
    files.find(_.endsWith(prefer)).orElse(files.headOption)
  }

  // ------------------------------------------------------------------
  // YAML (reference internal/io/yaml.go:17-65): list-of-maps, fallback
  // single map; empty/null -> 0 records. No Spark source exists;
  // snakeyaml parse + recursive schema inference.
  // ------------------------------------------------------------------

  def readYaml(spark: SparkSession, path: String): DataFrame = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    readYamlString(spark, text)
  }

  def readYamlString(spark: SparkSession, text: String): DataFrame = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val loaded: Any = yaml.load[Any](text)
    val records: Seq[Map[String, Any]] = loaded match {
      case null => Seq.empty
      case l: java.util.List[_] => l.asScala.toSeq.collect {
        case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap
      }
      case m: java.util.Map[_, _] =>
        Seq(m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap)
      case _ => Seq.empty
    }
    recordsToDf(spark, records)
  }

  /** Dynamic records -> DataFrame: merged schema (union of keys), type
    * conflicts widen (long+double -> double, else -> string). */
  def recordsToDf(spark: SparkSession, records: Seq[Map[String, Any]]): DataFrame = {
    if (records.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Nil))
    val schema = records.map(recordType).reduce(mergeStruct)
    val rows = records.map(r => toRow(r, schema))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def inferType(v: Any): DataType = v match {
    case null => NullType
    case _: String => StringType
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte | _: java.math.BigInteger => LongType
    case _: java.lang.Double | _: java.lang.Float | _: java.math.BigDecimal => DoubleType
    case _: java.lang.Boolean => BooleanType
    case d: java.util.Date => TimestampType
    case l: java.util.List[_] =>
      val elems = l.asScala.map(inferType)
      ArrayType(if (elems.isEmpty) StringType else elems.reduce(mergeType))
    case m: java.util.Map[_, _] =>
      StructType(m.asScala.toSeq.sortBy(_._1.toString).map { case (k, vv) =>
        StructField(k.toString, inferType(vv), nullable = true)
      })
    case _ => StringType
  }

  private def recordType(r: Map[String, Any]): StructType =
    StructType(r.toSeq.sortBy(_._1).map { case (k, v) => StructField(k, inferType(v), nullable = true) })

  private def mergeType(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (x: StructType, y: StructType) => mergeStruct(x, y)
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(mergeType(x, y))
    case _ => StringType
  }

  private def mergeStruct(a: StructType, b: StructType): StructType = {
    val names = (a.fieldNames ++ b.fieldNames).distinct.sorted
    StructType(names.map { n =>
      val ta = a.fields.find(_.name == n).map(_.dataType).getOrElse(NullType)
      val tb = b.fields.find(_.name == n).map(_.dataType).getOrElse(NullType)
      StructField(n, mergeType(ta, tb), nullable = true)
    })
  }

  private def toRow(r: Map[String, Any], schema: StructType): Row =
    Row.fromSeq(schema.fields.map(f => convert(r.get(f.name).orNull, f.dataType)).toIndexedSeq)

  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (x, StringType) => String.valueOf(x)
    case (n: Number, LongType) => n.longValue
    case (n: Number, DoubleType) => n.doubleValue
    case (b: java.lang.Boolean, BooleanType) => b.booleanValue
    case (d: java.util.Date, TimestampType) => new java.sql.Timestamp(d.getTime)
    case (l: java.util.List[_], ArrayType(et, _)) => l.asScala.toSeq.map(convert(_, et))
    case (m: java.util.Map[_, _], st: StructType) =>
      toRow(m.asScala.map { case (k, vv) => k.toString -> (vv: Any) }.toMap, st)
    case (x, _) => x
  }
}
