package graft.io

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.config.{DestinationConfig, SourceConfig}
import scala.jdk.CollectionConverters._

/**
 * Avro container-file source/sink built directly on `avro-mapred`
 * (on the Spark classpath; the `spark-avro` connector is not) — the
 * row-oriented interchange format next to the columnar parquet/ORC
 * pair, and the common landing format for streamed ingest pipelines.
 *
 * Scale shape: both directions are Hadoop-IO distributed.
 *  - READ: `AvroKeyInputFormat` splits container files at their sync
 *    markers, so a single 100 GB .avro file still scans in parallel
 *    (same splittability posture as JSONL); record→Row conversion is
 *    per-partition streaming with every field materialized out of
 *    Avro's reused decoder objects before the row is emitted.
 *  - WRITE: one container file per partition via
 *    `AvroKeyOutputFormat` (`saveAsNewAPIHadoopFile` — the documented
 *    last-resort imperative boundary: there is no declarative sink
 *    without the connector). The Avro `Schema` is NOT serializable,
 *    so it rides to executors as its canonical JSON string and is
 *    parsed once per partition.
 *
 * Type mapping (both directions, nullable ⇔ union[null, T]):
 * string/int/long/float/double/boolean/bytes 1:1; DateType ⇔
 * int+date; TimestampType ⇔ long+timestamp-micros (millis accepted on
 * read); DecimalType ⇔ bytes+decimal (big-endian two's-complement
 * unscaled bytes at the declared precision/scale); ArrayType and
 * nested StructType recurse. Anything else (maps, enums, fixed)
 * fails LOUDLY at schema-build time — a silent narrowing would
 * corrupt a corpus copy.
 */
object Avro {

  // ---------------------------------------------------------------- schema

  /** Spark → Avro schema. Field order is preserved; nullable fields
    * become union[null, T] with null default. `path` feeds error
    * messages and the synthetic record names nested Avro requires. */
  private[io] def toAvro(st: StructType, recordName: String = "graft_record"): Schema = {
    val fields = st.fields.map { f =>
      val base = toAvroType(f.dataType, s"${recordName}_${f.name}")
      val s =
        if (f.nullable) Schema.createUnion(java.util.List.of(
          Schema.create(Schema.Type.NULL), base))
        else base
      new Schema.Field(f.name, s,
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(recordName, null, "graft", false, fields.toSeq.asJava)
  }

  private def toAvroType(dt: DataType, nestedName: String): Schema = dt match {
    case StringType  => Schema.create(Schema.Type.STRING)
    case IntegerType => Schema.create(Schema.Type.INT)
    case ShortType   => Schema.create(Schema.Type.INT)
    case ByteType    => Schema.create(Schema.Type.INT)
    case LongType    => Schema.create(Schema.Type.LONG)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(el, containsNull) =>
      val elS = toAvroType(el, nestedName + "_item")
      Schema.createArray(
        if (containsNull) Schema.createUnion(java.util.List.of(
          Schema.create(Schema.Type.NULL), elS))
        else elS)
    case st: StructType => toAvro(st, nestedName)
    case other => throw new IllegalArgumentException(
      s"avro sink: unsupported Spark type $other (string/int/long/float/double/" +
        "boolean/binary/decimal/date/timestamp/array/struct)")
  }

  /** Avro → Spark schema (inverse of [[toAvro]], tolerant of files
    * written by other producers: unions beyond [null, T] rejected
    * loudly, timestamp-millis accepted). */
  private[io] def fromAvro(s: Schema): StructType =
    StructType(s.getFields.asScala.map { f =>
      val (dt, nullable) = fromAvroType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)

  private def fromAvroType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      if (nonNull.size != 1) throw new IllegalArgumentException(
        s"avro source: only union[null, T] supported, got $s")
      val (dt, _) = fromAvroType(nonNull.head)
      (dt, branches.size > nonNull.size)
    case Schema.Type.STRING  => (StringType, false)
    case Schema.Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) (DateType, false)
      else (IntegerType, false)
    case Schema.Type.LONG =>
      s.getLogicalType match {
        case _: LogicalTypes.TimestampMicros => (TimestampType, false)
        case _: LogicalTypes.TimestampMillis => (TimestampType, false)
        case _ => (LongType, false)
      }
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.BYTES =>
      s.getLogicalType match {
        case d: LogicalTypes.Decimal =>
          (DecimalType(d.getPrecision, d.getScale), false)
        case _ => (BinaryType, false)
      }
    case Schema.Type.ARRAY =>
      val (el, elNullable) = fromAvroType(s.getElementType)
      (ArrayType(el, elNullable), false)
    case Schema.Type.RECORD  => (fromAvro(s), false)
    case other => throw new IllegalArgumentException(
      s"avro source: unsupported Avro type $other in $s")
  }

  // ---------------------------------------------------------------- write

  /** Config-vocabulary codec → Avro codec name (uniform with the
    * other sinks: `gzip` means the zlib family, here deflate). */
  private def codecName(c: String): Option[String] = c match {
    case "" | "none"  => None
    case "gzip"       => Some("deflate")
    case "deflate"    => Some("deflate")
    case "snappy"     => Some("snappy")
    case "zstd"       => Some("zstandard")
    case "bzip2"      => Some("bzip2")
    case "xz"         => Some("xz")
    case other => throw new IllegalArgumentException(
      s"avro sink: unsupported compression '$other' (gzip/deflate, snappy, zstd, bzip2, xz, none)")
  }

  def write(df: DataFrame, dest: DestinationConfig): Unit = {
    val sparkSchema = df.schema
    val avroJson = toAvro(sparkSchema).toString // validates types up front
    val sc = df.sparkSession.sparkContext
    val job = Job.getInstance(sc.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(avroJson))
    codecName(dest.compression).foreach { c =>
      job.getConfiguration.setBoolean(
        org.apache.hadoop.mapreduce.lib.output.FileOutputFormat.COMPRESS, true)
      job.getConfiguration.set("avro.output.codec", c)
    }
    // Overwrite via stage-then-swap, NOT delete-then-write: a naive
    // upfront delete runs BEFORE the lazy RDD ever reads, so writing a
    // frame onto one of its own input paths would silently destroy the
    // input and persist an empty result. Writing to a staging dir
    // first means any self-read scans the intact destination; only
    // after the job commits does the swap happen.
    val hPath = new org.apache.hadoop.fs.Path(dest.file)
    val fs = hPath.getFileSystem(sc.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      dest.file + ".spark-staging-" + java.util.UUID.randomUUID().toString.take(8))
    val rdd = df.rdd.mapPartitions { rows =>
      // Schema is not Serializable: parse the JSON once per partition
      lazy val schema = new Schema.Parser().parse(avroJson)
      rows.map { r =>
        (new AvroKey[GenericRecord](rowToRecord(r, sparkSchema, schema)),
          NullWritable.get())
      }
    }
    // Before the job commits, staging holds garbage — clean it on any
    // failure. AFTER the commit it holds the ONLY copy of the new data,
    // so no code path below may delete it until the swap lands: a
    // delete-then-rename that fails mid-swap with a staging cleanup in
    // a finally would destroy BOTH copies (r12 review finding).
    try {
      rdd.saveAsNewAPIHadoopFile(staging.toString,
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
    } catch {
      case e: Throwable =>
        if (fs.exists(staging)) fs.delete(staging, true)
        throw e
    }
    // Swap via a backup rename, not a delete: if the final rename fails
    // the old destination is RESTORED and the committed output survives
    // in staging — both copies outlive any single failed filesystem op,
    // and the error names where the data is. The write is COMMITTED
    // once the swap lands, so a failed cleanup of the old copy is
    // logged, not thrown (a caller retrying on exception would re-run
    // the whole export over data that already landed).
    val backup = new org.apache.hadoop.fs.Path(
      dest.file + ".spark-old-" + java.util.UUID.randomUUID().toString.take(8))
    graft.ops.StampedArtifact.swap(fs, Seq(graft.ops.StampedArtifact.Swap(staging, hPath, backup)))
  }

  private def rowToRecord(row: Row, st: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < st.fields.length) {
      val f = st.fields(i)
      val fieldSchema = schema.getFields.get(i).schema()
      rec.put(i, toAvroValue(row.get(i), f.dataType, unwrapUnion(fieldSchema)))
      i += 1
    }
    rec
  }

  private def unwrapUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def toAvroValue(v: Any, dt: DataType, s: Schema): Any =
    if (v == null) null
    else dt match {
      case StringType | IntegerType | LongType | FloatType | DoubleType |
           BooleanType => v
      case ShortType => v.asInstanceOf[Short].toInt
      case ByteType  => v.asInstanceOf[Byte].toInt
      case BinaryType => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case d: DecimalType =>
        // Avro decimal: big-endian two's-complement unscaled bytes at
        // the schema's declared scale
        val bd = v.asInstanceOf[java.math.BigDecimal].setScale(d.scale)
        java.nio.ByteBuffer.wrap(bd.unscaledValue().toByteArray)
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp =>
          // floorDiv, not /: getTime truncates toward zero, which
          // double-counts the sub-second part of pre-1970 instants
          // (getNanos is always in [0, 1e9))
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
        case t: java.time.Instant =>
          t.getEpochSecond * 1000000L + t.getNano / 1000
      }
      case ArrayType(el, _) =>
        val elS = unwrapUnion(s.getElementType)
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(x => toAvroValue(x, el, elS)).asJava
      case nested: StructType =>
        rowToRecord(v.asInstanceOf[Row], nested, s)
      case other => throw new IllegalArgumentException(
        s"avro sink: unsupported value type $other")
    }

  // ---------------------------------------------------------------- read

  def read(spark: SparkSession, src: SourceConfig): DataFrame = {
    val avroSchema = firstFileSchema(spark, src.file)
    val sparkSchema = fromAvro(avroSchema)
    val avroJson = avroSchema.toString
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    // reader schema pinned to the discovered one: files written later
    // with evolved schemas resolve through Avro's own resolution rules
    AvroJob.setInputKeySchema(job, avroSchema)
    val rdd = spark.sparkContext.newAPIHadoopFile(
        src.file,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable],
        job.getConfiguration)
      .mapPartitions { it =>
        // parse per partition (Schema not serializable); conversions
        // below copy every field OUT of Avro's reused decoder objects
        // before the Row escapes the iterator step
        lazy val schema = new Schema.Parser().parse(avroJson)
        lazy val st = fromAvro(schema)
        it.map { case (k, _) => recordToRow(k.datum(), st, schema) }
      }
    spark.createDataFrame(rdd, sparkSchema)
  }

  /** Driver-side schema discovery: the header block of the FIRST
    * non-hidden .avro part file (one bounded metadata read). */
  private def firstFileSchema(spark: SparkSession, path: String): Schema = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(hPath)
    val first =
      if (status.isDirectory) {
        fs.listStatus(hPath).map(_.getPath)
          .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
          .sortBy(_.getName)
          .headOption.getOrElse(throw new IllegalArgumentException(
            s"avro source: no data files under $path"))
      } else hPath
    val in = fs.open(first)
    try {
      val reader = new org.apache.avro.file.DataFileStream(in,
        new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try reader.getSchema finally reader.close()
    } finally in.close()
  }

  private def recordToRow(rec: GenericRecord, st: StructType,
                          schema: Schema): Row = {
    val vals = new Array[Any](st.fields.length)
    var i = 0
    while (i < st.fields.length) {
      vals(i) = fromAvroValue(rec.get(i), st.fields(i).dataType,
        unwrapUnion(schema.getFields.get(i).schema()))
      i += 1
    }
    Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
  }

  private def fromAvroValue(v: Any, dt: DataType, s: Schema): Any =
    if (v == null) null
    else dt match {
      case StringType => v.toString // Utf8 is reused — materialize
      case IntegerType | LongType | FloatType | DoubleType | BooleanType => v
      case BinaryType =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
      case d: DecimalType =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out)
        new java.math.BigDecimal(new java.math.BigInteger(out), d.scale)
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Int].toLong))
      case TimestampType =>
        // our writer emits micros; millis (other producers) scale up —
        // the field's own logical type, not a guess, decides
        val raw = v.asInstanceOf[Long]
        val micros =
          if (s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMillis])
            Math.multiplyExact(raw, 1000L)
          else raw
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case ArrayType(el, _) =>
        val elS = unwrapUnion(s.getElementType)
        v.asInstanceOf[java.util.Collection[Any]].asScala
          .map(x => fromAvroValue(x, el, elS)).toSeq
      case nested: StructType =>
        recordToRow(v.asInstanceOf[GenericRecord], nested, s)
      case other => throw new IllegalArgumentException(
        s"avro source: unsupported value type $other")
    }
}
