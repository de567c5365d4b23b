package graft.io

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.queries.Queries

/** r7 postmortem coverage: the driver regenerated testdata and `events.ts`
  * changed parquet physical type (NANOS -> MICROS); the old hard-coded shim
  * crashed 39 queries. These specs feed every known `ts` arrival shape
  * through the real read path (Queries.t over parquet on disk) and pin the
  * named-failure behavior for unknown shapes. */
class SchemasSpec extends SparkTestBase with graft.TempDirs {

  private def tmpDir(): String = tempDir("graft-schemas").toString

  // 2021-03-04T05:06:07.123456Z as epoch micros.
  private val usec = 1614834367123456L

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column,
                          tsType: Option[DataType] = None): Unit = {
    import spark.implicits._
    val base = Seq((1L, 7L, "view", 1.5, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    val cast = tsType.fold(tsCol)(tsCol.cast(_))
    base.withColumn("ts", cast)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("Queries.t normalizes events.ts from all three known arrival shapes") {
    // (a) long nanos — how the pre-regen TIMESTAMP(NANOS) parquet surfaces
    //     under spark.sql.legacy.parquet.nanosAsLong.
    val dirNanos = tmpDir()
    writeEvents(dirNanos, lit(usec * 1000L))
    // (b) TIMESTAMP_NTZ — Spark writes parquet TIMESTAMP(MICROS,
    //     isAdjustedToUTC=false), byte-identical to the regenerated testdata.
    val dirNtz = tmpDir()
    writeEvents(dirNtz, timestamp_micros(lit(usec)), Some(TimestampNTZType))
    // (c) session-TZ TIMESTAMP — already the normalization target.
    val dirTs = tmpDir()
    writeEvents(dirTs, timestamp_micros(lit(usec)))

    for (dir <- Seq(dirNanos, dirNtz, dirTs)) {
      val df = Queries.t(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType, s"dir=$dir")
      val got = df.select(col("ts"), unix_micros(col("ts")).as("us")).head()
      assert(got.getAs[Long]("us") == usec, s"dir=$dir")
      assert(got.getAs[Timestamp]("ts").toInstant.toString
        == "2021-03-04T05:06:07.123456Z", s"dir=$dir")
    }
  }

  test("unknown ts variant fails with a named schema error at the read") {
    val dir = tmpDir()
    writeEvents(dir, lit("2021-03-04 05:06:07"))
    val e = intercept[GraftSchemaException](Queries.t(spark, dir, "events"))
    assert(e.getMessage.contains("events"))
    assert(e.getMessage.contains("ts"))
  }

  test("missing required column fails with a named schema error") {
    val dir = tmpDir()
    import spark.implicits._
    Seq((1L, "view")).toDF("event_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[GraftSchemaException](Queries.t(spark, dir, "events"))
    assert(e.getMessage.contains("required column"))
  }

  test("adapter validates the real testdata tables without modification") {
    val sf = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings")) {
      // non-events tables pass through untouched
      val raw = spark.read.parquet(s"$sf/$t.parquet")
      assert(Schemas.adapt(t, raw).schema == raw.schema, t)
    }
    assert(Queries.t(spark, sf, "events").schema("ts").dataType == TimestampType)
  }
}
