package graft.compile

import graft.SparkTestBase
import graft.config.PlaybookLoader

/** `source.streaming: true`: the playbook compiles over readStream →
  * writeStream (AvailableNow). Load-time validation must reject every
  * section without a streaming-executable form; the e2e run must
  * process a jsonl drop folder into parquet exactly once per file. */
class StreamingPlaybookSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

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
}
