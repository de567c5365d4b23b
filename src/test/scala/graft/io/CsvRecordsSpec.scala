package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.SparkTestBase
import graft.config.SourceConfig
import org.apache.spark.rdd.RDD

/** Generated CSV files, rendered with random quoting, embedded
  * newlines, lone CRs, `""` escapes, comment and blank lines,
  * multi-byte text and wrong-field-count rows, must read back as
  * exactly the generated rows, in order, with the exact skip count. */
class CsvRecordsSpec extends SparkTestBase with graft.TempDirs {

  private val atoms = Seq("a", "b", "z", "0", "7", " ", ",", ";", "\t", "\"", "\"\"",
    "\n", "\r\n", "\r", "#", "é", "中", "😀", "§", "¶", "x y")

  /** One generated file: its bytes, the rows it must yield after the
    * header, and how many of its records have the wrong field count. */
  private case class Gen(header: Seq[String], rows: Seq[Seq[String]], skips: Int, bytes: Array[Byte])

  private def field(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(4))(atoms(rnd.nextInt(atoms.size))).mkString

  /** Render one record: quote a field when the parser would otherwise
    * misread it, and at random otherwise. */
  private def render(fs: Seq[String], delim: Char, comment: Option[Char], rnd: scala.util.Random): String =
    fs.zipWithIndex.map { case (f, i) =>
      val must = f.exists(c => c == delim || c == '"' || c == '\n') ||
        (i == fs.size - 1 && f.endsWith("\r")) ||        // a CR before the record's newline is CRLF
        (i == 0 && comment.exists(c => f.startsWith(c.toString))) ||
        (fs.size == 1 && f.isEmpty)                      // a blank line is skipped
      if (must || rnd.nextInt(4) == 0) "\"" + f.replace("\"", "\"\"") + "\"" else f
    }.mkString(delim.toString)

  private def generate(rnd: scala.util.Random, delim: Char, comment: Option[Char]): Gen = {
    val k = 1 + rnd.nextInt(4)
    val header = (0 until k).map(i => if (i == 1 && rnd.nextBoolean()) "multi\nline" else s"c$i")
    val sb = new StringBuilder
    def newline(): Unit = sb.append(if (rnd.nextBoolean()) "\n" else "\r\n")
    def noise(): Unit = rnd.nextInt(6) match {
      case 0 => newline()                                            // blank line
      case 1 if comment.nonEmpty =>
        sb.append(comment.get).append(" note, \"unclosed").append(field(rnd).filter(c => c != '\n' && c != '\r'))
        newline()
      case _ =>
    }
    noise()
    sb.append(render(header, delim, comment, rnd)); newline()
    val rows = Seq.newBuilder[Seq[String]]
    var skips = 0
    val n = rnd.nextInt(25)
    for (r <- 0 until n) {
      noise()
      val wrong = rnd.nextInt(7) == 0
      val width = if (!wrong) k else if (k > 1 && rnd.nextBoolean()) k - 1 else k + 1
      val fs = Seq.fill(width)(field(rnd))
      if (wrong) skips += 1 else rows += fs
      sb.append(render(fs, delim, comment, rnd))
      if (r < n - 1 || rnd.nextBoolean()) newline() // the last record may have no final newline
    }
    Gen(header, rows.result(), skips, sb.toString.getBytes(UTF_8))
  }

  /** A stream that hands out at most a few bytes per read, so records,
    * `""`, CRLF and multi-byte delimiters straddle the read window. */
  private def trickle(bytes: Array[Byte], rnd: scala.util.Random): java.io.InputStream =
    new java.io.ByteArrayInputStream(bytes) {
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        super.read(b, off, math.min(len, 1 + rnd.nextInt(5)))
    }

  private def records(in: java.io.InputStream, delim: Char, comment: Option[Char]): Seq[Seq[String]] = {
    val r = new CsvRecords(in, delim, comment)
    Iterator.continually(r.next()).takeWhile(identity).map(_ => r.strings()).toSeq
  }

  private val dialects = Seq((',', Some('#')), (',', None), ('\t', Some('#')), (';', None), ('§', Some('¶')))

  test("generated files: every record in order, through a trickling stream") {
    val rnd = new scala.util.Random(20261019L)
    for (case_ <- 0 until 600) {
      val (delim, comment) = dialects(case_ % dialects.size)
      val g = generate(rnd, delim, comment)
      val got = records(trickle(g.bytes, rnd), delim, comment)
      val want = g.header +: g.rows
      assert(got.size == want.size + g.skips, s"case $case_: ${new String(g.bytes, UTF_8)}")
      assert(got.filter(_.size == g.header.size) == want, s"case $case_: ${new String(g.bytes, UTF_8)}")
    }
  }

  test("generated files read back exactly, with the exact skip count; a directory drops every header") {
    val rnd = new scala.util.Random(7L)
    for (case_ <- 0 until 12) {
      val (delim, comment) = dialects(case_ % dialects.size)
      val g = generate(rnd, delim, comment)
      val dir = tempDir("graft-csvgen")
      Files.write(dir.resolve("a.csv"), g.bytes)
      val src = SourceConfig("csv", file = dir.resolve("a.csv").toString,
        delimiter = Some(delim.toString), commentChar = comment.map(_.toString))
      val df = Readers.read(spark, src)
      assert(df.columns.toSeq == g.header, s"case $case_")
      assert(df.collect().map(_.toSeq.map(_.asInstanceOf[String])).toSeq == g.rows, s"case $case_")
      assert(Readers.lastCsvSkipped.map(_.value).contains(g.skips.toLong), s"case $case_")
      // the same file twice in a directory: both headers drop, twice the rows and skips
      Files.write(dir.resolve("b.csv"), g.bytes)
      val both = Readers.read(spark, src.copy(file = dir.toString))
      assert(both.collect().map(_.toSeq.map(_.asInstanceOf[String])).toSeq.sortBy(_.mkString("\u0000")) ==
        (g.rows ++ g.rows).sortBy(_.mkString("\u0000")), s"case $case_")
      assert(Readers.lastCsvSkipped.map(_.value).contains(2L * g.skips), s"case $case_")
    }
  }

  test("a header with a quoted newline; an empty file; a header-only file") {
    val dir = tempDir("graft-csvedge")
    def read(name: String, text: String) = {
      val p = dir.resolve(name)
      Files.writeString(p, text)
      Readers.read(spark, SourceConfig("csv", file = p.toString, commentChar = Some("#")))
    }
    val q = read("q.csv", "# lead comment\n\nid,\"two\r\nlines\"\n1,x\n")
    assert(q.columns.toSeq == Seq("id", "two\r\nlines"))
    assert(q.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "x")))
    val empty = read("e.csv", "")
    assert(empty.columns.isEmpty && empty.count() == 0)
    val headerOnly = read("h.csv", "a,b")
    assert(headerOnly.columns.toSeq == Seq("a", "b") && headerOnly.count() == 0)
  }

  test("a directory's files spread over as many tasks as wholeTextFiles gave them") {
    val dir = tempDir("graft-csvsplits")
    (0 until 8).foreach(i => Files.writeString(dir.resolve(s"f$i.csv"), s"id\n$i\n"))
    val df = Readers.read(spark, SourceConfig("csv", file = dir.toString))
    val sc = spark.sparkContext
    assert(df.queryExecution.toRdd.getNumPartitions ==
      sc.wholeTextFiles(dir.toString, sc.defaultParallelism).getNumPartitions)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == (0 until 8).map(_.toString))
  }

  test("the exact path streams file bytes: no WholeTextFileRDD in its lineage") {
    val p = tempDir("graft-csvlineage").resolve("l.csv")
    Files.writeString(p, "id\n1\n")
    val df = Readers.read(spark, SourceConfig("csv", file = p.toString))
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val names = lineage(df.queryExecution.toRdd).map(_.getClass.getSimpleName)
    assert(!names.contains("WholeTextFileRDD"), names)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("1"))
  }
}
