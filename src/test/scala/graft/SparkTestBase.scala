package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, tests reuse it). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body`'s result and what it printed to `System.err`. */
  def stderrOf[A](body: => A): (A, String) = {
    val old = System.err
    captured { out => System.setErr(out); try body finally System.setErr(old) }
  }

  /** `body`'s result and what it printed to `Console.out`. */
  def stdoutOf[A](body: => A): (A, String) = captured(Console.withOut(_)(body))

  private def captured[A](run: java.io.PrintStream => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r = run(new java.io.PrintStream(buf, true, "UTF-8"))
    (r, buf.toString("UTF-8"))
  }

  /** `body` with the session confs set to `kv`; the old values (or
    * their absence) come back afterwards. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Order-insensitive record-multiset comparison — the reference's
    * recordsEqualIgnoringOrder (processor_test.go:24). */
  def assertSameRecords(got: DataFrame, want: Seq[Map[String, Any]]): Unit = {
    val gotMaps = got.collect().map(rowToMap).toSeq
    val wantNorm = want.map(_.map { case (k, v) => k -> normalize(v) })
    val gotNorm = gotMaps.map(_.map { case (k, v) => k -> normalize(v) })
    assert(gotNorm.groupBy(identity).view.mapValues(_.size).toMap ==
           wantNorm.groupBy(identity).view.mapValues(_.size).toMap,
      s"\n got: ${gotNorm.mkString("\n      ")}\nwant: ${wantNorm.mkString("\n      ")}")
  }

  private def rowToMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap

  private def normalize(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case other => other
  }
}
