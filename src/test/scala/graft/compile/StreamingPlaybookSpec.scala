package graft.compile

import graft.SparkTestBase
import graft.config.PlaybookLoader
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** `source.streaming: true`: the playbook compiles over readStream →
  * writeStream (AvailableNow). Load-time validation must reject every
  * section without a streaming-executable form; the e2e run must
  * process a jsonl drop folder into parquet exactly once per file. */
class StreamingPlaybookSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("validation rejects non-streamable sections with reasons") {
    val yaml = """
      |source: {type: csv, file: /tmp/in.csv, streaming: true}
      |destination: {type: xlsx, file: /tmp/out.xlsx}
      |deduplication: {keys: [k], strategy: last, strategyField: v}
      |errorHandling: {mode: halt, errorFile: /tmp/errs.csv}
      |analytics:
      |  - {op: datasheet, sourceCol: s, langCol: l, textCol: t}
      |""".stripMargin
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString(yaml))
    val msg = e.getMessage
    assert(msg.contains("streaming source.type 'csv'"))
    assert(msg.contains("streaming destination.type 'xlsx'"))
    assert(msg.contains("checkpoint is required"))
    assert(msg.contains("strategy 'last' unsupported"))
    assert(msg.contains("mode must be 'skip'"))
    assert(msg.contains("errorFile is not supported"))
    assert(msg.contains("'datasheet' is not streaming-executable"))
  }

  test("streaming min/max dedup: missing tsCol and bad durations rejected at load") {
    val bad = """
      |source: {type: parquet, file: /tmp/in.parquet, streaming: true}
      |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/ck}
      |deduplication: {keys: [k], strategy: min, strategyField: v, quietPeriod: whenever}
      |errorHandling: {mode: skip}
      |""".stripMargin
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString(bad))
    assert(e.getMessage.contains("needs tsCol"))
    assert(e.getMessage.contains("quietPeriod 'whenever' unparseable"))
    // batch-only physical layouts are rejected on a streaming sink
    val layoutErr = intercept[IllegalArgumentException](PlaybookLoader.fromString("""
      |source: {type: parquet, file: /tmp/in.parquet, streaming: true}
      |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/ck, zorderBy: [a, b]}
      |errorHandling: {mode: skip}
      |""".stripMargin))
    assert(layoutErr.getMessage.contains("batch-write layouts"))
    // max with tsCol and sane periods loads clean
    PlaybookLoader.fromString("""
      |source: {type: parquet, file: /tmp/in.parquet, streaming: true}
      |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/ck}
      |deduplication: {keys: [k], strategy: max, strategyField: v, tsCol: ts, quietPeriod: 5 seconds}
      |errorHandling: {mode: skip}
      |""".stripMargin)
  }

  test("streaming min/max dedup: a quietPeriod with a month part is rejected at load") {
    def load(quiet: String) = PlaybookLoader.fromString(s"""
      |source: {type: parquet, file: /tmp/in.parquet, streaming: true}
      |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/ck}
      |deduplication: {keys: [k], strategy: max, strategyField: v, tsCol: ts, quietPeriod: $quiet}
      |errorHandling: {mode: skip}
      |""".stripMargin)
    val e = intercept[IllegalArgumentException](load("1 month"))
    assert(e.getMessage.contains("quietPeriod '1 month' has a month or year part"),
      e.getMessage)
    load("30 days")
  }

  test("row-local r11 ops run on a stream: gopher filter -> pii redact -> chunk") {
    val tmp = tempDir("graft_stream_rowlocal").toString
    val in = s"$tmp/in"
    new java.io.File(in).mkdirs()
    val good = "The quick brown fox jumps over the lazy dog and that dog " +
      "will then take a very long nap with the happy fox near the river bank today"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.jsonl"), Seq(
      s"""{"doc_id": 1, "text": "$good mail me at a@b.co"}""",
      """{"doc_id": 2, "text": "zz # yy # xx # ww # vv # uu # tt # ss"}""" // fails gopher
    ).mkString("\n").getBytes("UTF-8"))
    val yaml = s"""
      |source:
      |  type: jsonl
      |  file: $in
      |  streaming: true
      |  schema: "doc_id LONG, text STRING"
      |destination: {type: parquet, file: $tmp/out, checkpoint: $tmp/ckpt}
      |errorHandling: {mode: skip}
      |analytics:
      |  - {op: gopher_rules, idCol: doc_id, textCol: text, mode: filter}
      |  - {op: pii_redact, textCol: text}
      |  - {op: chunk_docs, idCol: doc_id, textCol: text, chunkTokens: 12, overlap: 2}
      |""".stripMargin
    val cfg = s"$tmp/pb.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg), yaml.getBytes("UTF-8"))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    val out = spark.read.parquet(s"$tmp/out")
    // doc 2 fell to the gopher gate; doc 1 chunked with the email redacted
    assert(out.select("doc_id").distinct().as[Long].collect().toSet == Set(1L))
    assert(out.count() > 1) // multiple chunks
    // chunk_docs tokenizes lowercased, so the placeholder arrives as <email>
    val joined = out.select("chunk_text").as[String].collect().mkString(" ")
    assert(joined.contains("<email>") && !joined.contains("a@b.co"))
  }

  test("streaming min dedup chains drop files: state carries, watermark-quiet keys emit the extreme") {
    val tmp = tempDir("graft_stream_minmax").toString
    val in = s"$tmp/in"
    new java.io.File(in).mkdirs()
    def writeBatch(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    // strategyField is a STRING column: "10" vs "9" must compare
    // numerically (CompareValues), and the quiet-period emission must
    // span drop files — key a's extreme combines b1 and b2 arrivals.
    // All timing is EVENT time, so the test is deterministic.
    writeBatch("b1.jsonl", Seq(
      """{"k": "a", "v": "10", "tag": "a-ten",   "ts": "2024-01-01T10:00:00Z"}""",
      """{"k": "a", "v": "9",  "tag": "a-nine",  "ts": "2024-01-01T10:01:00Z"}""",
      """{"k": "b", "v": "7",  "tag": "b-seven", "ts": "2024-01-01T10:02:00Z"}"""))
    val yaml = s"""
      |source:
      |  type: jsonl
      |  file: $in
      |  streaming: true
      |  schema: "k STRING, v STRING, tag STRING, ts TIMESTAMP"
      |destination:
      |  type: parquet
      |  file: $tmp/out
      |  checkpoint: $tmp/ckpt
      |deduplication: {keys: [k], strategy: min, strategyField: v, tsCol: ts, quietPeriod: 2 minutes}
      |errorHandling: {mode: skip}
      |""".stripMargin
    val cfg = s"$tmp/pb.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg), yaml.getBytes("UTF-8"))
    // run 1: watermark ends at 10:02; a is quiet until 10:03, b until
    // 10:04 -> both keys still in state, no output rows
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    // run 2: key a receives a numerically smaller "2" at 10:30 (its
    // quiet clock resets to 10:32); the watermark advances to 10:30,
    // so the untouched key b (quiet since 10:04) emits its 7
    writeBatch("b2.jsonl", Seq(
      """{"k": "a", "v": "2", "tag": "a-two", "ts": "2024-01-01T10:30:00Z"}"""))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    // run 3: sentinel key c advances the watermark to 11:00 past a's
    // 10:32 -> a emits its cross-file numeric min "2" (not "10"/"9")
    writeBatch("b3.jsonl", Seq(
      """{"k": "c", "v": "99", "tag": "c-sentinel", "ts": "2024-01-01T11:00:00Z"}"""))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    val out = spark.read.parquet(s"$tmp/out")
      .select("k", "v", "tag").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(("b", "7", "b-seven"), ("a", "2", "a-two")),
      s"got $out")
  }

  test("streaming rejects window-derives and right/full joins at load, not at runtime") {
    val yaml = """
      |source: {type: parquet, file: /tmp/in.parquet, streaming: true}
      |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/ck}
      |errorHandling: {mode: skip}
      |analytics:
      |  - {op: derive, target: rk, expr: "row_number() OVER (PARTITION BY k ORDER BY v)"}
      |  - {op: join, type: parquet, file: /tmp/dim.parquet, keys: [k], how: full}
      |""".stripMargin
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString(yaml))
    assert(e.getMessage.contains("uses a window function"))
    assert(e.getMessage.contains("join how 'full' is not supported"))
  }

  test("jsonl drop folder -> quality gate + dedup + derive -> parquet, exactly once per file") {
    val tmp = tempDir("graft_stream").toString
    val in = s"$tmp/in"
    new java.io.File(in).mkdirs()
    def writeBatch(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    writeBatch("b1.jsonl", Seq(
      """{"doc_id": 1, "text": "The quick brown fox jumps over the lazy dog near the river bank."}""",
      """{"doc_id": 2, "text": "The quick brown fox jumps over the lazy dog near the river bank."}""",
      """{"doc_id": 3, "text": "zzzz"}"""))
    val yaml = s"""
      |source:
      |  type: jsonl
      |  file: $in
      |  streaming: true
      |destination:
      |  type: parquet
      |  file: $tmp/out
      |  checkpoint: $tmp/ckpt
      |errorHandling: {mode: skip}
      |analytics:
      |  - op: quality_gate
      |    textCol: text
      |    minQuality: 0.35
      |  - op: exact_dedup
      |    keys: [text]
      |  - op: derive
      |    target: n_chars
      |    expr: "length(text)"
      |""".stripMargin
    val cfg = s"$tmp/pb.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg), yaml.getBytes("UTF-8"))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    val out1 = spark.read.parquet(s"$tmp/out")
    // doc 3 fails the quality gate; doc 2 is a dup of doc 1
    assert(out1.select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(out1.columns.contains("n_chars"))

    // a second invocation with a NEW drop file processes ONLY the new
    // file (checkpoint), and the dedup state carries across runs:
    // the re-sent dup text stays dropped, the new text lands
    writeBatch("b2.jsonl", Seq(
      """{"doc_id": 4, "text": "The quick brown fox jumps over the lazy dog near the river bank."}""",
      """{"doc_id": 5, "text": "A completely different sentence about shipping modes and freight costs."}"""))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    val out2 = spark.read.parquet(s"$tmp/out")
    assert(out2.select("doc_id").as[Long].collect().toSet == Set(1L, 5L))
  }

  test("streaming exact_dedup keep: last is rejected at load, with the strategy-last reason") {
    def pb(keep: String) = s"""
      |source: {type: parquet, file: /tmp/in.parquet, streaming: true}
      |destination: {type: parquet, file: /tmp/out, checkpoint: /tmp/ck}
      |errorHandling: {mode: skip}
      |analytics:
      |  - {op: exact_dedup, keys: [k], keep: $keep}
      |""".stripMargin
    // a stream compiles exact_dedup to dropDuplicates, which keeps the
    // first arrival: 'last' would load and give the batch-opposite rows
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString(pb("last")))
    assert(e.getMessage.contains("analytics[0]: exact_dedup keep 'last' unsupported"))
    assert(e.getMessage.contains("no arrival is ever final on an unbounded stream"))
    PlaybookLoader.fromString(pb("first"))
  }

  test("streaming max dedup through Main.run emits the batch playbook's max rows") {
    val tmp = tempDir("graft_stream_max").toString
    val in = s"$tmp/in"
    new java.io.File(in).mkdirs()
    def writeBatch(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    def row(k: String, v: String, tag: String, hhmm: String) = {
      val vJson = if (v == null) "null" else "\"" + v + "\""
      s"""{"k": "$k", "v": $vJson, "tag": "$tag", "ts": "2024-01-01T$hhmm:00Z"}"""
    }
    // numeric strings, non-numeric strings and nulls; tied values only
    // across runs (a: "10" vs "10.0", f: null vs null), where both forms
    // keep the earlier file's row
    val run1 = Seq(
      row("a", "10", "a-ten", "10:00"), row("a", "9.5", "a-nine-half", "10:01"),
      row("b", "apple", "b-apple", "10:02"), row("b", "42", "b-42", "10:03"),
      row("c", null, "c-null", "10:04"), row("c", "-3", "c-minus-3", "10:05"),
      row("d", null, "d-null", "10:00"), row("e", "7", "e-seven", "10:01"),
      row("f", null, "f-first", "10:02"))
    val run2 = Seq(
      row("a", "10.0", "a-ten-again", "10:10"), row("b", "banana", "b-banana", "10:11"),
      row("c", "x1", "c-x1", "10:12"), row("d", "0", "d-zero", "10:13"),
      row("e", null, "e-null", "10:14"), row("f", null, "f-second", "10:15"))
    // the sentinel moves the watermark past every key's quiet period
    val run3 = Seq(row("z", "1", "z-sentinel", "12:00"))
    val dedup = "deduplication: {keys: [k], strategy: max, strategyField: v, tsCol: ts, quietPeriod: 1 hour}"
    val streamCfg = s"$tmp/stream.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(streamCfg), s"""
      |source:
      |  type: jsonl
      |  file: $in
      |  streaming: true
      |  schema: "k STRING, v STRING, tag STRING, ts TIMESTAMP"
      |destination: {type: parquet, file: $tmp/stream_out, checkpoint: $tmp/ckpt}
      |$dedup
      |errorHandling: {mode: skip}
      |""".stripMargin.getBytes("UTF-8"))
    for ((rows, i) <- Seq(run1, run2, run3).zipWithIndex) {
      writeBatch(s"b${i + 1}.jsonl", rows)
      graft.cli.Main.run(spark, graft.cli.Main.Args(config = streamCfg))
    }
    val batchCfg = s"$tmp/batch.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(batchCfg), s"""
      |source: {type: jsonl, file: $in}
      |destination: {type: parquet, file: $tmp/batch_out}
      |$dedup
      |errorHandling: {mode: skip}
      |""".stripMargin.getBytes("UTF-8"))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = batchCfg))
    def rows(dir: String) = spark.read.parquet(dir).select("k", "v", "tag")
      .as[(String, String, String)].collect().toSet
    val batch = rows(s"$tmp/batch_out").filter(_._1 != "z") // z is still quiet
    assert(batch == Set(("a", "10", "a-ten"), ("b", "banana", "b-banana"),
      ("c", "x1", "c-x1"), ("d", "0", "d-zero"), ("e", "7", "e-seven"),
      ("f", null, "f-first")), s"batch $batch")
    val stream = rows(s"$tmp/stream_out")
    assert(stream == batch, s"stream $stream")
  }

  // batch operators attach to a stream unchanged: row-local columns
  // and update-mode aggregates need no streaming twin

  test("row-local corpus ops compose on a stream: redact -> quality gate -> exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ts")
    // the same Column expressions the batch pipeline uses are row-local,
    // so they attach to an unbounded source unchanged
    val out = df
      .withColumn("clean", TextAnalysis.redactPii(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("clean")))
      .filter(col("quality") >= 0.4)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("clean"))
    val q = out.writeStream.format("memory").queryName("stream_corpus")
      .outputMode("append").start()
    try {
      val good = "a perfectly reasonable document about spark with enough words to pass the gate"
      mem.addData(
        (1L, good + " mail me at bob@example.com", ts(1)),
        (2L, good + " mail me at alice@example.com", ts(2)), // same after redaction -> dup
        (3L, "x", ts(3)))                                    // fails the quality gate
      q.processAllAvailable()
      val rows = spark.table("stream_corpus").collect()
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
      assert(rows.head.getAs[String]("clean").endsWith("mail me at <EMAIL>"))
    } finally q.stop()
  }

  test("gopherRules quality gate composes onto a stream (row-local columns, append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // row-local rule columns need no watermark/state: the same op used
    // in batch gates a stream unchanged
    val gated = graft.ops.TextAnalysis.gopherRules(docs, "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("pass"))
    val q = gated.writeStream.format("memory").queryName("quality_gate")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "the cat sat and the dog ran to be fair with all of it"),
        (2L, "too short"))
      q.processAllAvailable()
      val ids = spark.table("quality_gate").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L))
    } finally q.stop()
  }

  test("countMinTable composes onto a stream: sketch accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    // the batch operator IS the streaming operator: a groupBy aggregate
    // in update mode; the d*w-row sketch is the only state
    val sketch = graft.ops.Sketches.countMinTable(
      mem.toDF().toDF("tok"), "tok", d = 2, w = 16, portableHashing = true)
    val q = sketch.writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    try {
      mem.addData("x", "x", "y")
      q.processAllAvailable()
      mem.addData("x")
      q.processAllAvailable()
      // last update for x's buckets must read 3 (2 + 1 across batches)
      val batchTotals = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      val est = graft.ops.Sketches.countMinEstimates(
          Seq("x", "y").toDF("tok"), "tok", d = 2, w = 16, portableHashing = true)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // x's buckets accumulated all 3 x's across batches (a colliding
      // y may add 1 — the CM overcount — never subtract)
      val xBuckets = graft.ops.Sketches.countMinTable(
          Seq("x").toDF("tok"), "tok", d = 2, w = 16, portableHashing = true)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      xBuckets.foreach(b => assert(batchTotals(b) >= 3L && batchTotals(b) <= 4L))
      assert(est.keySet == Set("x", "y")) // probe machinery intact
    } finally q.stop()
  }

  test("compressionRatio gates a stream (stateless mapPartitions, append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val gated = graft.ops.TextAnalysis.compressionRatio(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("ratio_micro") > 100000L)
    val q = gated.writeStream.format("memory").queryName("compress_gate")
      .outputMode("append").start()
    try {
      mem.addData((1L, "all work and no play " * 300), // boilerplate: gated out
        (2L, "a genuinely varied sentence with many different words inside"))
      q.processAllAvailable()
      val kept = spark.table("compress_gate").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L))
    } finally q.stop()
  }

  test("imageFeatures runs stateless on a stream (decode per micro-batch)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val out = graft.ops.Multimodal.imageFeatures(
      mem.toDF().toDF("doc_id", "content"), "doc_id", "content")
    val q = out.writeStream.format("memory").queryName("img_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, graft.ops.Multimodal.synthPng(1, 6, 4, 2)),
        (2L, Array[Byte](9, 9, 9)))
      q.processAllAvailable()
      mem.addData((3L, graft.ops.Tiff.synth(3, 6, 4)))
      q.processAllAvailable()
      val rows = spark.table("img_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("decoded")).toMap
      assert(rows == Map(1L -> true, 2L -> false, 3L -> true))
    } finally q.stop()
  }
}
