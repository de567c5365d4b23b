package graft.io

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.config.DestinationConfig
import graft.transforms.Transforms

/**
 * Sink writers (reference: /root/reference/internal/io/factory.go:52-87).
 *
 * Reference sinks write ONE file with headers = sorted union of keys
 * and Go-`%v` value rendering (csv.go:218-273, xml.go:162-262). For
 * single-file parity the CLI path funnels through a part-file move;
 * the library caller can always take `df.write` themselves for
 * partitioned output at scale.
 */
object Writers {

  /** Streaming sink: parquet/jsonl file sinks with the mandatory
    * checkpoint, Trigger.AvailableNow — process everything currently
    * available, then stop. That makes one CLI invocation a bounded
    * catch-up run (the production incremental-ingest pattern) while
    * the checkpoint gives exactly-once across invocations. */
  def writeStream(df: DataFrame, dest: DestinationConfig): Unit = {
    val fmt = dest.`type` match {
      case "parquet" => "parquet"
      case "orc"     => "orc"
      case "jsonl"   => "json"
      case other => throw new IllegalArgumentException(
        s"streaming destination type '$other' unsupported (parquet, orc, jsonl)")
    }
    val w = df.writeStream.format(fmt)
      .option("checkpointLocation", dest.checkpoint)
      .option("path", dest.file)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    (if (dest.partitionBy.nonEmpty) w.partitionBy(dest.partitionBy: _*) else w)
      .start().awaitTermination()
  }

  def write(df: DataFrame, dest: DestinationConfig): Unit = dest.`type` match {
    case "csv"     => writeCsv(df, dest.file)
    case "json"    => writeJsonArray(df, dest.file)
    case "jsonl"   => writeJsonl(df, dest.file, dest.compression)
    case "xml"     => writeXml(df, dest)
    case "yaml"    => writeYaml(df, dest.file)
    case "xlsx"    => Xlsx.write(df, dest)
    case "parquet" if dest.bucketBy.nonEmpty =>
      // metastore-registered bucketed table: recurring joins/aggs on
      // the bucket keys read it back shuffle-free (io.Bucketed)
      Bucketed.writeTable(df, dest.table, dest.file,
        dest.bucketBy, dest.buckets, dest.sortBy)
    case "parquet" =>
      // zorderBy range-clusters on the interleaved Z-curve FIRST, so
      // the standard write below lays files out in curve order and
      // min/max footer pruning works on every listed dimension
      val clustered =
        if (dest.zorderBy.isEmpty) df
        else graft.ops.Layout.clusterByZorder(df, dest.zorderBy,
          bits = dest.zorderBits, partitions = dest.zorderFiles).drop("zval")
      var w = clustered.write.mode("overwrite")
      if (dest.partitionBy.nonEmpty) w = w.partitionBy(dest.partitionBy: _*)
      if (dest.compression.nonEmpty) w = w.option("compression", dest.compression)
      // bloomIndexBy columns also get parquet's NATIVE row-group bloom
      // filters in the data files themselves: the side index prunes
      // whole FILES before tasks are scheduled; the native filter then
      // prunes row groups inside the files that do get scanned
      dest.bloomIndexBy.foreach { c =>
        w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c",
            dest.bloomItemsPerFile.toString)
      }
      w.parquet(dest.file)
      // side data-skipping indexes AFTER the data lands: one bloom
      // sketch per data file per listed column (Layout.bloomIndex)
      dest.bloomIndexBy.foreach { c =>
        graft.ops.Layout.writeBloomIndex(df.sparkSession, dest.file,
          s"${dest.file}_bloomidx_$c", c,
          itemsPerFile = dest.bloomItemsPerFile, fpp = dest.bloomFpp)
      }
    // ORC sink: columnar alternative to parquet. `gzip` maps to ORC's
    // zlib codec name so the config vocabulary stays uniform across
    // sinks; snappy/zstd/lz4/none pass through. Physical-layout options
    // (bucketBy/zorderBy/bloomIndexBy) stay parquet-only — the side
    // index and the Z-order stats contract are written against parquet
    // footers — and the validator rejects them at load time.
    case "orc" =>
      var w = df.write.mode("overwrite")
      if (dest.partitionBy.nonEmpty) w = w.partitionBy(dest.partitionBy: _*)
      if (dest.compression.nonEmpty)
        w = w.option("compression",
          if (dest.compression == "gzip") "zlib" else dest.compression)
      w.orc(dest.file)
    // Avro sink: one container file per partition via avro-mapred
    // (io.Avro). Batch-only and unpartitioned (no Hive-style layout
    // without the connector) — both enforced at playbook load time.
    case "avro" => Avro.write(df, dest)
    case "postgres" =>
      val url = if (dest.conn.nonEmpty) dest.conn else sys.env.getOrElse("DB_CREDENTIALS", "")
      if (dest.loaderCommand.nonEmpty)
        Jdbc.customSqlLoad(df, url, dest.loaderCommand,
          if (dest.loaderBatchSize > 0) dest.loaderBatchSize else 100)
      else Jdbc.bulkLoad(df, url, dest.table)
    case other => throw new IllegalArgumentException(s"unsupported destination type: $other")
  }

  /** All columns rendered as Go `%v` strings, nil -> "" (csv.go:252-256). */
  private def stringified(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      Transforms.goToString(col(f.name), f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Sorted headers, Go-stringified values, single file (csv.go:218-273). */
  def writeCsv(df: DataFrame, path: String): Unit = landed(path) { tmp =>
    stringified(df).coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("emptyValue", "")
      .csv(tmp)
  }

  /**
   * Error-record sink: APPEND mode with header-only-if-new — the
   * reference's CSVErrorWriter shape (csv.go:354-467: failed records +
   * etl_error_message, appended across runs). One-shot form of
   * [[stageAppendCsv]] and its commit.
   */
  def appendCsv(df: DataFrame, path: String): Unit = stageAppendCsv(df, path).commit()

  /** A one-part CSV staged in `<path>.spark-tmp` by [[stageAppendCsv]]:
    * `commit` appends it to `path`, `discard` drops it. `rows` is the
    * number of data rows in it, counted while it was written. */
  final class StagedAppend private[Writers] (path: String, val rows: Long) {
    private val tmp = path + ".spark-tmp"
    def commit(): Unit = {
      val out = new java.io.FileOutputStream(path, /*append=*/ true)
      try java.nio.file.Files.copy(singlePart(tmp), out)
      finally out.close()
      discard()
    }
    def discard(): Unit = deleteTree(new java.io.File(tmp))
  }

  /** The write step of [[appendCsv]]: one action writes `df` to
    * `<path>.spark-tmp` and counts its rows (an [[Observation]] on the
    * write itself, no second pass). The header is written when `path`
    * is absent or empty now, so nothing else may append to `path`
    * before the commit. A failed write leaves no staging dir. */
  def stageAppendCsv(df: DataFrame, path: String): StagedAppend = {
    val target = new java.io.File(path)
    val writeHeader = !target.exists() || target.length() == 0
    val tmp = path + ".spark-tmp"
    val observed = Observation()
    try stringified(df.observe(observed, count(lit(1)).as("rows")))
      .coalesce(1).write.mode("overwrite")
      .option("header", writeHeader.toString)
      .option("emptyValue", "")
      .csv(tmp)
    catch { case e: Throwable => deleteTree(new java.io.File(tmp)); throw e }
    new StagedAppend(path, observed.get("rows").asInstanceOf[Long])
  }

  /** Newline-delimited JSON (JSONL) — the training-data interchange
    * format. Distributed `df.write.json` (each task writes its own
    * part, no single-file funnel: JSONL consumers glob directories),
    * nulls kept explicit for round-trip schema stability. */
  def writeJsonl(df: DataFrame, path: String, compression: String = ""): Unit = {
    var w = df.write.mode("overwrite")
      .option("ignoreNullFields", "false")
    if (compression.nonEmpty) w = w.option("compression", compression)
    w.json(path)
  }

  /** Indented (2-space) JSON ARRAY file — the reference's shape
    * (json.go:51-87) — streamed via toLocalIterator (never a full
    * driver collect). */
  def writeJsonArray(df: DataFrame, path: String): Unit = landed(path) { tmp =>
    // Go's encoding/json marshals nil fields explicitly (json.go:51-87)
    val jsonCol = to_json(struct(df.columns.map(col).toIndexedSeq: _*),
      Map("ignoreNullFields" -> "false"))
    val it = df.select(jsonCol.as("j")).as[String](org.apache.spark.sql.Encoders.STRING)
      .toLocalIterator()
    val w = utf8Writer(tmp)
    try {
      if (!it.hasNext) w.write("[]")
      else {
        w.write("[\n")
        var first = true
        while (it.hasNext) {
          if (!first) w.write(",\n")
          w.write("  " + it.next())
          first = false
        }
        w.write("\n]")
      }
    } finally w.close()
  }

  /** rootTag/recordTag XML, sorted string fields (xml.go:162-262). */
  def writeXml(df: DataFrame, dest: DestinationConfig): Unit = landed(dest.file) { tmp =>
    stringified(df).coalesce(1).write.mode("overwrite")
      .format("xml")
      .option("rootTag", dest.xmlRootTag.getOrElse("records"))
      .option("rowTag", dest.xmlRecordTag.getOrElse("record"))
      .save(tmp)
  }

  /** YAML sequence of maps, indent 2 (yaml.go:71-127). */
  def writeYaml(df: DataFrame, path: String): Unit = landed(path) { tmp =>
    val opts = new org.yaml.snakeyaml.DumperOptions
    opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
    opts.setIndent(2)
    val yaml = new org.yaml.snakeyaml.Yaml(opts)
    val names = df.columns
    val it = df.toLocalIterator()
    val w = utf8Writer(tmp)
    try {
      var wrote = false
      while (it.hasNext) {
        val row = it.next()
        val m = new java.util.LinkedHashMap[String, Any]()
        names.zipWithIndex.foreach { case (n, i) => m.put(n, toJava(row.get(i))) }
        val doc = new java.util.ArrayList[Any](); doc.add(m)
        w.write(yaml.dump(doc))
        wrote = true
      }
      if (!wrote && names.nonEmpty) w.write("[]\n")
    } finally w.close()
  }

  private def toJava(v: Any): Any = v match {
    case null => null
    case s: Seq[_] => val l = new java.util.ArrayList[Any](); s.foreach(x => l.add(toJava(x))); l
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[Any, Any]()
      m.foreach { case (k, vv) => j.put(toJava(k), toJava(vv)) }; j
    case r: org.apache.spark.sql.Row =>
      val j = new java.util.LinkedHashMap[String, Any]()
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) => j.put(n, toJava(r.get(i))) }; j
    case ts: java.sql.Timestamp => ts.toInstant.toString
    case other => other
  }

  private def utf8Writer(path: String): java.io.Writer =
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path), "UTF-8"))

  /** The single-file sinks' landing: `write` fills `<path>.spark-tmp`,
    * either the file itself or a one-partition write directory, and
    * that file or the directory's part file then replaces `path` in one
    * atomic rename. Until then `path` holds its previous output, and
    * the staging entry is deleted whether the write succeeds or fails. */
  private def landed(path: String)(write: String => Unit): Unit = {
    val tmp = path + ".spark-tmp"
    try {
      write(tmp)
      val staged = if (new java.io.File(tmp).isDirectory) singlePart(tmp)
        else java.nio.file.Paths.get(tmp)
      java.nio.file.Files.move(staged, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally deleteTree(new java.io.File(tmp))
  }

  /** The part file of a one-partition write in `dir`. */
  private def singlePart(dir: String): java.nio.file.Path =
    new java.io.File(dir).listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $dir")).toPath

  /** Runs `body` on a fresh work dir `<prefix>…` under `java.io.tmpdir`
    * and deletes the dir with its contents afterwards. Not a
    * [[graft.ops.CachedRelations.tempDir]]: callers that run
    * `releaseAll` in between keep their inputs. */
  private[graft] def withWorkDir[T](prefix: String)(body: String => T): T = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(work.getAbsolutePath) finally deleteTree(work)
  }

  private[graft] def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    java.nio.file.Files.deleteIfExists(f.toPath); ()
  }
}
