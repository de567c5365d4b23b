package graft.io

import graft.SparkTestBase
import graft.config.{DestinationConfig, SourceConfig}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property roundtrips for the Avro source/sink: ARBITRARY values of
  * every supported type — including pre-1970 timestamps (the floorDiv
  * micros regime), negative/high-precision decimals, empty and
  * null-holed arrays, empty strings and empty byte arrays — must come
  * back value-identical under every codec. Deterministic seeds so a
  * failure reproduces. */
class AvroPropertySpec extends SparkTestBase with graft.TempDirs {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("bin", BinaryType),
    StructField("dec", DecimalType(20, 6)),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("arr", ArrayType(LongType, containsNull = true))))

  private def opt[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(8 -> g.map(Some(_)), 2 -> Gen.const(None))

  /** micros in ±10000 years, deliberately straddling the epoch. */
  private val tsGen: Gen[java.sql.Timestamp] =
    Gen.choose(-315569520000000000L / 1000, 315569520000000L).map { micros =>
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    }

  private val rowGen: Gen[Int => Row] = for {
    s <- opt(Gen.oneOf(Gen.const(""), Gen.alphaNumStr,
      Gen.const("unicode: café 中文 😀")).flatMap(g => g))
    i <- opt(Gen.choose(Int.MinValue, Int.MaxValue))
    d <- opt(Gen.oneOf(Gen.choose(-1e12, 1e12),
      Gen.oneOf(0.0, -0.0, Double.MaxValue, Double.MinPositiveValue)).flatMap(g => g))
    b <- opt(Gen.oneOf(true, false))
    bin <- opt(Gen.oneOf(
      Gen.const(Array.empty[Byte]),
      Gen.listOfN(16, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)).flatMap(g => g))
    dec <- opt(Gen.choose(-1000000000000L, 1000000000000L)
      .map(u => new java.math.BigDecimal(java.math.BigInteger.valueOf(u), 6)))
    dt <- opt(Gen.choose(-100000, 100000).map(days =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))))
    ts <- opt(tsGen)
    arr <- opt(Gen.listOf(Gen.frequency(
      8 -> Gen.choose(Long.MinValue, Long.MaxValue).map(x => x: Any),
      2 -> Gen.const(null: Any))).map(_.toSeq))
  } yield (id: Int) => Row(id.toLong, s.orNull, i.orNull, d.orNull, b.orNull,
    bin.orNull, dec.orNull, dt.orNull, ts.orNull, arr.orNull)

  private def canon(r: Row): Seq[Any] = r.toSeq.map {
    case a: Array[Byte] => a.toSeq
    case x => x
  }

  test("avro roundtrip: 60 random rows x 3 seeds x codecs, value-identical") {
    for ((seedLong, codec) <- Seq((7L, ""), (8L, "gzip"), (9L, "zstd"))) {
      val mk = Gen.listOfN(60, rowGen)
        .apply(Gen.Parameters.default, Seed(seedLong)).get
      val rows = mk.zipWithIndex.map { case (f, i) => f(i) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema)
      val dir = tempDir("graft-avro-prop").toString + "/p.avro"
      Writers.write(df, DestinationConfig("avro", file = dir, compression = codec))
      val back = Readers.read(spark, SourceConfig("avro", file = dir))
      assert(back.schema == schema)
      val got = back.collect().sortBy(_.getLong(0)).map(canon)
      val want = rows.sortBy(_.getLong(0)).map(canon)
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"codec='$codec' seed=$seedLong row diff:\n  got  $g\n  want $w")
      }
    }
  }

  test("pre-1970 fractional-second timestamps keep their sub-second part") {
    val t = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.123456")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, t)), 1),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("ts", TimestampType))))
    val dir = tempDir("graft-avro-neg").toString + "/n.avro"
    Writers.write(df, DestinationConfig("avro", file = dir))
    val back = Readers.read(spark, SourceConfig("avro", file = dir)).collect()
    assert(back.head.getTimestamp(1) == t)
  }
}
