package graft.io

import graft.SparkTestBase
import graft.config.{DestinationConfig, PlaybookLoader, SourceConfig}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Avro source/sink round-trips (io.Avro, built on avro-mapred):
  * typed fidelity across the full supported mapping incl. nulls,
  * arrays, nested structs, date/timestamp logical types and binary;
  * codec option; loud rejection of unsupported types; load-time
  * config constraints (no partitionBy, no streaming). */
class AvroSpec extends SparkTestBase with graft.TempDirs {

  private def tmpDir(): String = tempDir("graft-avro").toString

  private def roundtrip(df: org.apache.spark.sql.DataFrame,
                        compression: String = "") = {
    val p = tmpDir() + "/data.avro"
    Writers.write(df, DestinationConfig("avro", file = p, compression = compression))
    Readers.read(spark, SourceConfig("avro", file = p))
  }

  test("avro: typed roundtrip across the full primitive mapping, incl. nulls") {
    val schema = StructType(Seq(
      StructField("s", StringType),
      StructField("i", IntegerType),
      StructField("l", LongType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("bin", BinaryType),
      StructField("dt", DateType),
      StructField("ts", TimestampType)))
    val ts = java.sql.Timestamp.valueOf("2026-08-15 12:34:56.123456")
    val rows = Seq(
      Row("x", 1, 2L, 1.5f, 2.5, true, Array[Byte](1, 2, 3),
        java.sql.Date.valueOf("2026-08-15"), ts),
      Row(null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val back = roundtrip(df)
    assert(back.schema == schema)
    val got = back.collect().sortBy(r => if (r.isNullAt(0)) "" else r.getString(0))
    assert(got(0).toSeq.forall(_ == null))
    val r = got(1)
    assert(r.getString(0) == "x" && r.getInt(1) == 1 && r.getLong(2) == 2L)
    assert(r.getFloat(3) == 1.5f && r.getDouble(4) == 2.5 && r.getBoolean(5))
    assert(r.getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, 3))
    assert(r.getDate(7) == java.sql.Date.valueOf("2026-08-15"))
    // micros precision survives (timestamp-micros logical type)
    assert(r.getTimestamp(8) == ts)
  }

  test("avro: arrays and nested structs recurse") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)),
      StructField("scores", ArrayType(DoubleType, containsNull = true)),
      StructField("meta", StructType(Seq(
        StructField("k", StringType),
        StructField("n", LongType))))))
    val rows = Seq(
      Row(1L, Seq("a", "b"), Seq(1.0, null, 3.0), Row("kk", 7L)),
      Row(2L, Seq.empty[String], null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val back = roundtrip(df).orderBy("id").collect()
    assert(back(0).getSeq[String](1) == Seq("a", "b"))
    assert(back(0).getSeq[Any](2) == Seq(1.0, null, 3.0))
    assert(back(0).getStruct(3) == Row("kk", 7L))
    assert(back(1).getSeq[String](1).isEmpty)
    assert(back(1).isNullAt(2) && back(1).isNullAt(3))
  }

  test("avro: deflate codec via the uniform gzip config name") {
    import graft.SparkTestSession.spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"row_$i" * 10)).toDF("id", "payload")
    val back = roundtrip(df, compression = "gzip")
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 500500L)
  }

  test("avro: multi-partition write lands one container file per task, read reassembles") {
    import graft.SparkTestSession.spark.implicits._
    val p = tmpDir() + "/multi.avro"
    val df = spark.range(0, 10000).select($"id").repartition(8)
    Writers.write(df, DestinationConfig("avro", file = p))
    val parts = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".avro")).toSeq
    assert(parts.size == 8)
    val back = Readers.read(spark, SourceConfig("avro", file = p))
    assert(back.count() == 10000)
  }

  test("avro: decimal logical type roundtrips at declared precision/scale") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(18, 4))))
    val rows = Seq(
      Row(1L, new java.math.BigDecimal("12345678901234.5678")),
      Row(2L, new java.math.BigDecimal("-0.0001")),
      Row(3L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val back = roundtrip(df)
    assert(back.schema("amount").dataType == DecimalType(18, 4))
    val got = back.orderBy("id").collect()
    assert(got(0).getDecimal(1) == new java.math.BigDecimal("12345678901234.5678"))
    assert(got(1).getDecimal(1) == new java.math.BigDecimal("-0.0001"))
    assert(got(2).isNullAt(1))
  }

  test("avro: unsupported Spark type fails loudly at schema-build time") {
    import graft.SparkTestSession.spark.implicits._
    val df = Seq((1L, Map("a" -> 1))).toDF("id", "m")
    val e = intercept[IllegalArgumentException] {
      Writers.write(df, DestinationConfig("avro", file = tmpDir() + "/bad.avro"))
    }
    assert(e.getMessage.contains("unsupported Spark type"))
  }

  test("avro: overwrite semantics match the other sinks") {
    import graft.SparkTestSession.spark.implicits._
    val p = tmpDir() + "/ow.avro"
    Writers.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      DestinationConfig("avro", file = p))
    Writers.write(Seq((9L, "z")).toDF("id", "v"),
      DestinationConfig("avro", file = p))
    val back = Readers.read(spark, SourceConfig("avro", file = p)).collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("avro: writing a frame onto its own input path is safe (stage-then-swap)") {
    import graft.SparkTestSession.spark.implicits._
    val p = tmpDir() + "/self.avro"
    Writers.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      DestinationConfig("avro", file = p))
    val in = Readers.read(spark, SourceConfig("avro", file = p))
    // a naive delete-then-write would destroy the input before the
    // lazy RDD reads and persist an EMPTY result; the staged swap
    // reads the intact input and lands exactly the filtered row
    Writers.write(in.filter($"id" === 1L), DestinationConfig("avro", file = p))
    val back = Readers.read(spark, SourceConfig("avro", file = p)).collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    // no staging leftovers
    val parent = new java.io.File(p).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("spark-staging")))
  }

  test("avro: a failed final swap preserves BOTH copies and names the staging dir") {
    import graft.SparkTestSession.spark.implicits._
    spark.sparkContext.hadoopConfiguration.set(
      "fs.failswap.impl", classOf[FailSwapRenameFs].getName)
    val local = tmpDir() + "/swapfail.avro"
    // seed the destination through the plain local path (succeeds)
    Writers.write(Seq((1L, "old")).toDF("id", "v"),
      DestinationConfig("avro", file = local))
    // overwrite through the rename-failing scheme: the write job commits
    // into staging, the destination is moved aside, then the final
    // rename fails — the sink must restore the destination, keep the
    // staging dir, and say where the committed data lives
    val e = intercept[java.io.IOException] {
      Writers.write(Seq((9L, "new")).toDF("id", "v"),
        DestinationConfig("avro", file = "failswap:" + local))
    }
    assert(e.getMessage.contains("preserved at"), e.getMessage)
    assert(e.getMessage.contains("restored"), e.getMessage)
    // the destination survived with its ORIGINAL content
    val back = Readers.read(spark, SourceConfig("avro", file = local)).collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "old")))
    // the staging dir named in the error holds the committed NEW data
    val staging = "preserved at (\\S+)".r.findFirstMatchIn(e.getMessage)
      .map(_.group(1)).getOrElse(fail(s"no staging path in: ${e.getMessage}"))
    val stagingLocal = staging.stripPrefix("failswap:")
    assert(new java.io.File(stagingLocal).isDirectory, stagingLocal)
    val staged = Readers.read(spark,
      SourceConfig("avro", file = stagingLocal)).collect()
    assert(staged.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "new")))
  }

  test("avro: mixed-schema directory resolves through the pinned reader schema") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = new java.io.File(tmpDir() + "/evolved.avro"); dir.mkdirs()
    def writeFile(name: String, schema: Schema, recs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(dir, name))
      try recs.foreach(w.append) finally w.close()
    }
    def nullable(t: Schema) =
      Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), t))
    // reader schema comes from the FIRST file by name: (id, v, extra)
    val v2 = SchemaBuilder.record("r").fields()
      .requiredLong("id")
      .name("v").`type`(nullable(Schema.create(Schema.Type.STRING))).withDefault(null)
      .name("extra").`type`(nullable(Schema.create(Schema.Type.LONG))).withDefault(null)
      .endRecord()
    // an older file lacks `extra`; Avro resolution fills the default
    val v1 = SchemaBuilder.record("r").fields()
      .requiredLong("id")
      .name("v").`type`(nullable(Schema.create(Schema.Type.STRING))).withDefault(null)
      .endRecord()
    def rec(s: Schema, id: Long, v: String, extra: java.lang.Long) = {
      val r = new GenericData.Record(s)
      r.put("id", id); r.put("v", v)
      if (s.getField("extra") != null) r.put("extra", extra)
      r
    }
    writeFile("a_new.avro", v2, Seq(rec(v2, 1L, "one", 10L)))
    writeFile("b_old.avro", v1, Seq(rec(v1, 2L, "two", null)))
    val back = Readers.read(spark, SourceConfig("avro", file = dir.toString))
      .orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getLong(0) == 1L && back(0).getString(1) == "one"
      && back(0).getLong(2) == 10L)
    // the old file's missing `extra` resolves to the reader default
    assert(back(1).getLong(0) == 2L && back(1).getString(1) == "two"
      && back(1).isNullAt(2))
  }

  test("playbook loader: avro accepted batch-only, partitionBy and streaming rejected") {
    // accepted as plain batch source + destination
    PlaybookLoader.fromString(
      """source: {type: avro, file: /tmp/in.avro}
        |destination: {type: avro, file: /tmp/out.avro}
        |""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      PlaybookLoader.fromString(
        """source: {type: parquet, file: /tmp/in}
          |destination: {type: avro, file: /tmp/out.avro, partitionBy: [lang]}
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("partitionBy is unsupported for avro"))
    val e2 = intercept[IllegalArgumentException] {
      PlaybookLoader.fromString(
        """source: {type: avro, file: /tmp/in.avro, streaming: true}
          |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/cp}
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("not in parquet,orc,jsonl"))
  }
}

/** Local filesystem whose ONLY failure is the avro sink's final
  * stage→destination swap (src inside a staging dir AND dst the final
  * `swapfail.avro`), so the committer's own renames and the
  * backup/restore renames pass through — isolates the one filesystem
  * op the loss-window spec needs to break. Registered per-test via
  * `fs.failswap.impl`; instantiated reflectively by Hadoop. */
class FailSwapRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failswap"
  override def getUri: java.net.URI = java.net.URI.create("failswap:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.toString.contains(".spark-staging-") &&
        dst.toString.endsWith("swapfail.avro")) false
    else super.rename(src, dst)
}
