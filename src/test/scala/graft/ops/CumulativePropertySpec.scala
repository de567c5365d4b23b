package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: [[Cumulative.runningSums]] must be value-identical
  * to the single-partition window it replaces for ARBITRARY inputs —
  * random values (incl. negatives and nulls), random group keys
  * (incl. null groups), random bucket counts. Deterministic seeds so
  * failures reproduce. */
class CumulativePropertySpec extends SparkTestBase {
  import spark.implicits._

  private case class Row3(g: Option[String], k: Int, v: Option[Long])

  private val rowsGen: Gen[List[Row3]] = for {
    n <- Gen.choose(1, 120)
    groups <- Gen.nonEmptyListOf(Gen.oneOf(Some("a"), Some("b"), Some("c"), None))
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf(groups)
      k <- Gen.choose(-1000, 1000)
      v <- Gen.frequency(9 -> Gen.choose(-50L, 50L).map(Some(_)),
        1 -> Gen.const(None: Option[Long]))
    } yield Row3(g, k, v))
  } yield
    // unique (g, k) per row — the stated runningSums contract
    rows.groupBy(r => (r.g, r.k)).values.map(_.head).toList

  private def check(rows: List[Row3], nBuckets: Int): Unit = {
    val df = rows.map(r => (r.g, r.k, r.v)).toDF("g", "k", "v")
    val got = Cumulative.runningSums(df, "k", Nil, Seq("cum" -> col("v")),
        nBuckets = nBuckets, partitionCols = Seq("g"))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) ->
        (if (r.isNullAt(3)) null else r.getLong(3))).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) ->
        (if (r.isNullAt(3)) null else r.getLong(3))).toMap
    assert(got == want, s"mismatch at nBuckets=$nBuckets\n rows=$rows")
  }

  test("runningSums == window for 60 random relations across bucket counts") {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until 60).foreach { i =>
      val rows = rowsGen(params, Seed(42L + i)).get
      check(rows, nBuckets = 1 + (i % 9))
    }
  }

  test("multiple simultaneous sums agree with independent windows") {
    val params = org.scalacheck.Gen.Parameters.default
    val rows = rowsGen(params, Seed(7L)).get
    val df = rows.map(r => (r.g, r.k, r.v)).toDF("g", "k", "v")
    val got = Cumulative.runningSums(df, "k", Nil,
        Seq("cum" -> col("v"), "cnt" -> lit(1L), "cumAbs" -> abs(col("v"))),
        nBuckets = 5, partitionCols = Seq("g"))
    val w = Window.partitionBy(col("g")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .withColumn("cnt", sum(lit(1L)).over(w))
      .withColumn("cumAbs", sum(abs(col("v"))).over(w))
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.select("g", "k", "cum", "cnt", "cumAbs").collect()
        .map(r => (Option(r.getString(0)), r.getInt(1)) ->
          ((if (r.isNullAt(2)) null else r.getLong(2)), r.getLong(3),
            (if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(snap(got) == snap(want))
  }
}
