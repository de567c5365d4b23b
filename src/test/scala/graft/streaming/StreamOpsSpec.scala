package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming operators driven through MemoryStream micro-batches. */
class StreamOpsSpec extends SparkTestBase with graft.TempDirs {

  import StreamOps.{UserEvent, UserStats}

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed watermarked aggregation over a micro-batched stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.windowedCounts(mem.toDF(), "ts", "value", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      mem.addData(
        UserEvent(1, "click", 2.0, ts(1)),
        UserEvent(2, "click", 3.0, ts(4)),
        UserEvent(1, "view", 5.0, ts(12)))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("total")))
        .toSet
      assert(rows == Set(("click", 2L, 5.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sliding windows assign each event to size/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.windowedCounts(mem.toDF(), "ts", "value",
      "10 minutes", slide = Some("5 minutes"))
    val q = out.writeStream.format("memory").queryName("hop_counts")
      .outputMode("update").start()
    try {
      // one event at 10:04 -> windows [09:55,10:05) and [10:00,10:10)
      mem.addData(UserEvent(1, "click", 2.0, ts(4)))
      q.processAllAvailable()
      val rows = spark.table("hop_counts").collect()
        .map(r => (r.getAs[Timestamp]("win_start").toString, r.getAs[Long]("n")))
        .toSet
      assert(rows == Set(("2024-01-01 09:55:00.0", 1L), ("2024-01-01 10:00:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops repeated keys") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.dedupStream(mem.toDF(), Seq("user_id"), "ts")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        UserEvent(1, "a", 1.0, ts(1)),
        UserEvent(1, "b", 2.0, ts(2)),
        UserEvent(2, "c", 3.0, ts(3)))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").collect().map(_.getAs[Long]("user_id")).sorted.toSeq ==
        Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming funnel advances per-key step chains across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.funnelStream(mem.toDS(), Seq("view", "click", "purchase"))
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      // batch 1: u1 views then clicks; u2 clicks before any view (no-op)
      mem.addData(
        UserEvent(1, "view", 0, ts(1)), UserEvent(1, "click", 0, ts(2)),
        UserEvent(2, "click", 0, ts(1)))
      q.processAllAvailable()
      // batch 2: u1 purchases (completes); u2 views (chain starts)
      mem.addData(UserEvent(1, "purchase", 0, ts(9)), UserEvent(2, "view", 0, ts(5)))
      q.processAllAvailable()
      val last = spark.table("funnel_stream").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("completed"),
          r.getSeq[Long](2).toList))
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
      assert(last(1L)._2 == 3)
      assert(last(1L)._3 == List(ts(1), ts(2), ts(9)).map(_.getTime * 1000L))
      assert(last(2L)._2 == 1) // the early click never counted
      assert(last(2L)._3 == List(ts(5).getTime * 1000L))
    } finally q.stop()
  }

  test("streaming boilerplate filter scrubs batch-learned lines, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // batch side learns the boilerplate set from yesterday's corpus
    val footer = "cookie banner"
    val corpus = Seq(
      (1L, "A", s"alpha\n$footer"), (2L, "A", s"beta\n$footer"), (3L, "A", "gamma"))
      .toDF("doc_id", "domain", "text")
    val boiler = graft.ops.Dedup.boilerplateSet(corpus, "doc_id", "text", "domain",
      minDocs = 2, maxDocFracBp = 5000)
    // live stream scrubbed row-locally against the inlined set
    val mem = MemoryStream[(Long, String, String)]
    val out = StreamOps.boilerplateFilterStream(
      mem.toDF().toDF("doc_id", "domain", "text"), "doc_id", "text", "domain", boiler)
    val q = out.writeStream.format("memory").queryName("bp_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, "A", s"fresh content\n$footer"), // footer scrubbed in domain A
        (11L, "B", s"other domain\n$footer"),  // same line, other domain: kept
        (12L, "A", footer))                    // all-boilerplate doc vanishes
      q.processAllAvailable()
      val rows = spark.table("bp_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Int]("kept_lines"))).toMap
      assert(rows == Map(
        10L -> ("fresh content", 1),
        11L -> (s"other domain\n$footer", 2)))
    } finally q.stop()
  }

  test("streaming minhash near-dup dedup drops a re-worded duplicate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ts")
    val out = StreamOps.minhashDedupStream(df, "text", "ts")
    val q = out.writeStream.format("memory").queryName("near_dedup")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog tonight"
      mem.addData((1L, base, ts(1)), (2L, base, ts(2)),
        (3L, "completely different text about spark and shuffles", ts(3)))
      q.processAllAvailable()
      val ids = spark.table("near_dedup").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 3L)) // identical signature -> 2 dropped
    } finally q.stop()
  }

  test("streaming perceptual image dedup drops hash-identical images, passes undecodable rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "content", "ts")
    val q = StreamOps.imageDedupStream(df, "content", "ts")
      .writeStream.format("memory").queryName("img_dedup")
      .outputMode("append").start()
    try {
      val a = graft.ops.Multimodal.synthPgmBits(0x1234L)
      val b = graft.ops.Multimodal.synthPgmBits(0x9999L)
      mem.addData((1L, a, ts(1)), (2L, a, ts(2)), (3L, b, ts(3)),
        (4L, "JFIF garbage".getBytes, ts(4)))
      q.processAllAvailable()
      val ids = spark.table("img_dedup").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 3L, 4L)) // 2 is a perceptual duplicate of 1; 4 passes through
    } finally q.stop()
  }

  test("streaming perceptual audio dedup drops hash-identical clips") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "content", "ts")
    val q = StreamOps.audioDedupStream(df, "content", "ts")
      .writeStream.format("memory").queryName("aud_dedup")
      .outputMode("append").start()
    try {
      val a = graft.ops.Multimodal.synthWavBits(0xABCDEFL)
      mem.addData((1L, a, ts(1)), (2L, a, ts(2)),
        (3L, graft.ops.Multimodal.synthWavBits(0x777L), ts(3)))
      q.processAllAvailable()
      val ids = spark.table("aud_dedup").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
  }

  test("gap sessionization: in-batch gap closes a session; watermark timeout closes the parked one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    // 10-minute gap, 5-minute watermark delay
    val out = StreamOps.sessionizeStream(mem.toDS(), gapMinutes = 10, watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // session A: u1 at 10:01 + 10:05; u1 at 10:40 starts session B in
      // the SAME batch -> A closes by the in-batch gap rule
      mem.addData(
        UserEvent(1, "a", 1.0, ts(1)), UserEvent(1, "b", 2.0, ts(5)),
        UserEvent(1, "c", 3.0, ts(40)))
      q.processAllAvailable()
      // a late-hour event pushes the watermark past B's (10:40 + 10min)
      // timeout; the fire happens on the FOLLOWING batch
      mem.addData(UserEvent(9, "z", 0.0, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      mem.addData(UserEvent(9, "z", 0.0, Timestamp.valueOf("2024-01-01 12:01:00")))
      q.processAllAvailable()
      val got = spark.table("sessions").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Timestamp]("session_start"), r.getAs[Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(got == Set(
        (ts(1), ts(5), 2L, 3.0),    // session A: gap-closed in batch
        (ts(40), ts(40), 1L, 3.0))) // session B: timeout-closed by watermark
    } finally q.stop()
  }

  test("row-local corpus ops compose on a stream: redact -> quality gate -> exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
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

  test("streaming url dedup: canonical collisions drop, null urls all pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Timestamp)]
    val out = StreamOps.urlDedupStream(
      mem.toDF().toDF("id", "url", "ts"), "url", "ts")
    val q = out.writeStream.format("memory").queryName("url_dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "http://WWW.a.com/x/?utm_source=s", ts(1)),
        (2L, "http://a.com/x", ts(2)),      // same canonical as 1 -> dropped
        (3L, "https://a.com/x", ts(3)),     // different scheme -> kept
        (4L, "junk", ts(4)),                // null canonical -> kept
        (5L, "junk", ts(5)))                // null canonical too -> ALSO kept
      q.processAllAvailable()
      val kept = spark.table("url_dedup").collect().map(_.getAs[Long]("id")).toSet
      assert(kept == Set(1L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("streaming near-dup verdicts: state matches flag dup_of_ref with min id, rest kept") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val refText = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different subject matter about spark physical plans"
    // two ref docs share the text: match_id must be the MIN (1)
    val refSig = graft.ops.Dedup.minhashSignatures(
      Seq(9L -> refText, 1L -> refText, 2L -> other).toDF("doc_id", "text"),
      "doc_id", "text", shingleSize = 4, numHashes = 8)
    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.nearDupVerdictStream(
      mem.toDF().toDF("doc_id", "text"), refSig, "doc_id", "text",
      shingleSize = 4, numHashes = 8, bands = 4, threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("near_dup_verdicts")
      .outputMode("append").start()
    try {
      mem.addData(
        30L -> refText, // dup of ref docs 1 and 9 -> match 1
        33L -> "a singleton text with no relatives in the frozen state")
      q.processAllAvailable()
      // second batch: intra-stream duplication is NOT resolved (the
      // stated incremental contract) — a re-sent kept text stays kept
      // until the state rolls
      mem.addData(36L -> "a singleton text with no relatives in the frozen state")
      q.processAllAvailable()
      val got = spark.table("near_dup_verdicts").collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("status"),
            if (r.isNullAt(2)) null else r.getAs[Long]("match_id")))).toMap
      assert(got == Map(
        30L -> (("dup_of_ref", 1L)),
        33L -> (("kept", null)),
        36L -> (("kept", null))))
    } finally q.stop()
  }

  test("exactDedupStream == batch incrementalDedup + byIngestOrder on the same delta (parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // seen-state: the texts of every previously-accepted doc (the
    // q_llm_dedup_exact fixture shape — doc_id%3 != 0 is the ref side)
    val docs = Seq(
      (1L, "alpha bravo"), (2L, "charlie delta"), (3L, "echo foxtrot"),
      (4L, "golf hotel"), (5L, "india juliet"), (6L, "alpha bravo"))
      .toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 3 =!= 0)
    // the delta: 102/105 collide with ref texts, 108 repeats 103's text
    // ACROSS micro-batches (first arrival must win), 109 is fresh
    val delta = Seq(
      (102L, "charlie delta"),  // in ref -> dropped
      (103L, "kilo lima"),      // fresh -> kept
      (105L, "india juliet"),   // in ref -> dropped
      (108L, "kilo lima"),      // intra-delta dup of 103 (later batch) -> dropped
      (109L, "mike november"))  // fresh -> kept
    val mem = MemoryStream[(Long, String, Timestamp)]
    val out = StreamOps.exactDedupStream(
      mem.toDF().toDF("doc_id", "text", "ts"), ref, Seq("text"), "ts",
      expectedRefDistinct = 10L, fpp = 0.2) // high fpp: FPs must still resolve
    val q = out.writeStream.format("memory").queryName("exact_dedup_stream")
      .outputMode("append").start()
    try {
      // two micro-batches in ingest order: the cross-batch dup (108)
      // exercises the watermark state, not just in-batch collapse
      mem.addData(delta.take(3).map { case (id, t) => (id, t, ts(1)) }: _*)
      q.processAllAvailable()
      mem.addData(delta.drop(3).map { case (id, t) => (id, t, ts(2)) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("exact_dedup_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      // the batch twin on the SAME delta: ref screen (the oracled
      // q_llm_incremental_dedup contract) then first-in-ingest-order
      // (the oracled q_llm_dedup_exact contract) — the two screens
      // commute on the kept set
      val batch = graft.ops.Dedup.byIngestOrder(
          graft.ops.Dedup.incrementalDedup(
            delta.toDF("doc_id", "text"), ref, Seq("text"),
            expectedRefDistinct = 10L),
          Seq("text"), keepFirst = true)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(batch == Set(103L, 109L), s"batch twin fixture drifted: $batch")
      assert(streamed == batch,
        s"stream face diverged from the batch twin: $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming incremental dedup: stream rows present in the static reference are dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ref = (1 to 60).map(i => (i.toLong, s"key_$i")).toDF("id", "k")
    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.incrementalDedupStream(mem.toDF().toDF("id", "k"), ref, Seq("k"),
      expectedRefDistinct = 60L, fpp = 0.2) // high fpp: false positives must still resolve
    val q = out.writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      mem.addData((100 to 160).map(i => (i.toLong, s"key_${i - 70}")): _*)
      q.processAllAvailable()
      // keys key_30..key_90; key_30..key_60 collide with the reference
      val kept = spark.table("inc_dedup").collect().map(_.getAs[Long]("id")).toSet
      assert(kept == (131L to 160L).toSet)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user aggregates across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.userRunningStats(mem.toDS())
    val q = out.writeStream.format("memory").queryName("user_stats")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, "a", 1.5, ts(1)), UserEvent(1, "b", 2.5, ts(2)))
      q.processAllAvailable()
      mem.addData(UserEvent(1, "c", 6.0, ts(3))) // second batch: state persists
      q.processAllAvailable()
      val last = spark.table("user_stats").collect()
        .map(r => UserStats(r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("total_value"), r.getAs[String]("last_type")))
        .maxBy(_.n_events)
      assert(last == UserStats(1L, 3L, 10.0, "c"))
    } finally q.stop()
  }

  test("gopherRules quality gate composes onto a stream (row-local columns, append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
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

  test("streaming DSIR scoring matches the batch scorer doc for doc") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Seq((101L, "alpha beta gamma alpha beta"),
      (102L, "alpha beta delta gamma beta")).toDF("doc_id", "text")
    val rawRef = Seq((201L, "zebra quux corge grault"),
      (202L, "alpha zebra quux beta")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.dsirScoreStream(mem.toDF().toDF("doc_id", "text"),
      rawRef, target, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "alpha beta gamma delta"), (2L, "zebra quux corge grault"))
      q.processAllAvailable()
      val got = spark.table("dsir_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_micro")).toMap
      assert(got.keySet == Set(1L, 2L))
      // target-like doc scores strictly higher than the junk doc
      assert(got(1L) > got(2L), s"expected target-like > junk, got $got")
      // exact cross-face check: recompute each doc's expected sum from
      // the static lr table + unseen constant
      val lr = graft.ops.Dsir.logRatioTable(rawRef, target, "doc_id", "text", 8192)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val unseen = graft.ops.Dsir.unseenBucketMicro(rawRef, target, "doc_id", "text", 8192)
      def score(text: String): Long = {
        val toks = text.split(" ").toSeq
        val grams = toks ++ toks.sliding(2).map(_.mkString(" ")).toSeq
        grams.toDF("g")
          .select(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64($"g"),
            org.apache.spark.sql.functions.lit(8192L)).as("b"))
          .as[Long].collect()
          .map(b => lr.getOrElse(b, unseen)).sum
      }
      assert(got(1L) == score("alpha beta gamma delta"))
      assert(got(2L) == score("zebra quux corge grault"))
    } finally q.stop()
  }

  test("streaming exact-substr scrub: reference-covered tokens drop, clean docs pass row-locally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ref = Seq((900L, "a b c d e")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.exactSubstrScrubStream(
      mem.toDF().toDF("doc_id", "text"), ref, "doc_id", "text",
      windowTokens = 4, expectedRefWindows = 100L)
    val q = out.writeStream.format("memory").queryName("es_scrub")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "x y a b c d w"),   // ref window "a b c d" at pos 3: tokens 3-6 drop
        (2L, "fresh text only here"),          // no ref overlap: pure-map leg
        (3L, "a b c d"),                       // fully covered -> vanishes
        (4L, "x y a b c d w"))   // same as doc 1: intra-stream dup NOT collapsed
      q.processAllAvailable()
      val rows = spark.table("es_scrub").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))).toMap
      assert(rows(1L) == ("x y w", 3L, 4L))
      assert(rows(2L) == ("fresh text only here", 4L, 0L))
      assert(!rows.contains(3L))
      assert(rows(4L) == ("x y w", 3L, 4L)) // scrubbed vs ref, kept vs stream
      assert(rows.size == 3)
    } finally {
      q.stop()
      assert(graft.ops.CachedRelations.releaseAll() >= 1)
    }
  }

  test("streaming IVF lookup: stream queries hit the static index, exact top-k per query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two well-separated clusters; nlist=2 + nprobe=2 probes BOTH
    // cells, so the lookup must equal exact brute-force cosine top-k
    val corpus = Seq(
      (101L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (102L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (103L, Array(0.0f, 0.1f, 1.0f, 0.0f)),
      (104L, Array(0.0f, 0.0f, 1.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val out = StreamOps.ivfLookupStream(
      mem.toDF().toDF("vec_id", "embedding"), corpus,
      "vec_id", "embedding", dims = 4, k = 2, nlist = 2, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("ivf_lookup")
      .outputMode("append").start()
    try {
      mem.addData((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      mem.addData((2L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      val rows = spark.table("ivf_lookup").collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) -> r.getAs[Long]("nid")).toMap
      // query 1 points along dim 0: nearest 101/102 (tie on cos broken by nid)
      assert(rows((1L, 1)) == 101L && rows((1L, 2)) == 102L)
      // query 2 points along dim 2: nearest 103/104
      assert(rows((2L, 1)) == 103L && rows((2L, 2)) == 104L)
      assert(rows.size == 4)
    } finally {
      q.stop()
      assert(graft.ops.CachedRelations.releaseAll() >= 1) // index released
    }
  }

  test("streaming ANN lookup through a persisted index == batch ivfLookupIndexed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.AnnIndex
    // two well-separated clusters with per-id jitter; nprobe=1 of
    // nlist=2 exercises PARTIAL probing, so the stream's row-local
    // cell ranking must agree with the batch window ranking (pinned
    // rank-identical by the cellRank==probeCells spec) for the rows
    // to match
    val tbl = tempDir("graft_annstream_tbl").toString
    (1L to 40L).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(c + 0.01 * (i % 7), c - 0.02 * (i % 5), c + 0.5, 1.0))
    }.toDF("vec_id", "embedding").repartition(2)
      .write.mode("overwrite").parquet(tbl)
    val idx = tempDir("graft_annstream_idx").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(tbl), tbl, idx,
      "vec_id", "embedding", dims = 4, nlist = 2)
    val queryRows = Seq(
      (1001L, Array(10.0, 9.9, 10.4, 1.0)),   // cluster-1 probe
      (1002L, Array(0.1, -0.1, 0.6, 1.0)),    // cluster-0 probe
      (1003L, Array(5.0, 5.0, 5.0, 1.0)))     // between the cells
    val mem = MemoryStream[(Long, Array[Double])]
    val out = StreamOps.annLookupStream(
      mem.toDF().toDF("vec_id", "embedding"), tbl, idx, k = 3, nprobe = 1)
    val q = out.writeStream.format("memory").queryName("ann_lookup_idx")
      .outputMode("append").start()
    try {
      mem.addData(queryRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(queryRows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("ann_lookup_idx").collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
          ((r.getAs[Long]("nid"), r.getAs[Double]("cos")))).toMap
      val batch = AnnIndex.ivfLookupIndexed(spark,
          queryRows.toDF("vec_id", "embedding"), tbl, idx, k = 3, nprobe = 1)
        .collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
          ((r.getAs[Long]("nid"), r.getAs[Double]("cos")))).toMap
      assert(streamed == batch,
        s"stream != batch through the same persisted index: $streamed vs $batch")
      assert(streamed.keys.map(_._1).toSet == Set(1001L, 1002L, 1003L))
    } finally {
      q.stop()
      assert(graft.ops.CachedRelations.releaseAll() >= 1) // loaded codes released
    }
  }

  test("streaming kNN classify: majority label from the static index per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // cluster along dim0 labeled 7 (2 of top-3 for a dim0 query),
    // cluster along dim2 labeled 9
    val corpus = Seq(
      (101L, Array(1.0f, 0.1f, 0.0f, 0.0f), 7),
      (102L, Array(1.0f, 0.0f, 0.1f, 0.0f), 7),
      (103L, Array(0.0f, 0.1f, 1.0f, 0.0f), 9),
      (104L, Array(0.0f, 0.0f, 1.0f, 0.1f), 9))
      .toDF("vec_id", "embedding", "label")
    val mem = MemoryStream[(Long, Array[Float])]
    val out = StreamOps.classifyStream(
      mem.toDF().toDF("vec_id", "embedding"), corpus,
      "vec_id", "embedding", "label", dims = 4, k = 3, nlist = 2, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("knn_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      mem.addData((2L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      val rows = spark.table("knn_stream").collect()
        .map(r => r.getAs[Long]("qid") ->
          (r.getAs[Long]("pred_label"), r.getAs[Long]("votes"))).toMap
      assert(rows(1L) == (7L, 2L)) // top-3 = {101, 102, one of 103/104}
      assert(rows(2L) == (9L, 2L))
      assert(rows.size == 2)
    } finally {
      q.stop()
      assert(graft.ops.CachedRelations.releaseAll() >= 1)
    }
  }

  test("stream-stream interval join matches within the lag across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[UserEvent]
    val buys = MemoryStream[UserEvent]
    val out = StreamOps.intervalJoinStream(
      clicks.toDF().selectExpr("user_id AS l_uid", "ts AS l_ts"),
      buys.toDF().selectExpr("user_id AS r_uid", "ts AS r_ts"),
      "l_uid", "r_uid", "l_ts", "r_ts", maxLagSeconds = 600)
    val q = out.writeStream.format("memory").queryName("ivj_stream")
      .outputMode("append").start()
    try {
      // batch 1: clicks only — buffered in the join state store
      clicks.addData(UserEvent(1, "click", 0.0, ts(1)), UserEvent(2, "click", 0.0, ts(2)))
      q.processAllAvailable()
      // batch 2: u1 buys inside the 10-min lag (matches the buffered
      // click), u2 buys outside it, u3 buys with no click at all
      buys.addData(UserEvent(1, "buy", 0.0, ts(5)),
        UserEvent(2, "buy", 0.0, ts(20)), UserEvent(3, "buy", 0.0, ts(6)))
      q.processAllAvailable()
      val got = spark.table("ivj_stream").collect()
        .map(r => (r.getAs[Long]("l_uid"), r.getAs[Timestamp]("r_ts").toString))
      assert(got.toSeq == Seq((1L, "2024-01-01 10:05:00.0")))
    } finally q.stop()
  }

  test("attribution stream credits conversions to the carried touch across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.attributionStream(mem.toDS(), "purchase", Set("click", "view"))
    val q = out.writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      // batch 1: u1 click then purchase; u2 converts with no touch
      mem.addData(
        UserEvent(1, "click", 0.0, ts(1)), UserEvent(1, "purchase", 10.0, ts(2)),
        UserEvent(2, "purchase", 7.0, ts(3)))
      q.processAllAvailable()
      // batch 2: u1's click state carries into the next conversion;
      // a view afterwards retargets the one after that
      mem.addData(UserEvent(1, "purchase", 5.0, ts(5)),
        UserEvent(1, "view", 0.0, ts(6)), UserEvent(1, "purchase", 3.0, ts(7)))
      q.processAllAvailable()
      val got = spark.table("attr_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((1L, "click", 10.0), (2L, "none", 7.0),
        (1L, "click", 5.0), (1L, "view", 3.0)))
    } finally q.stop()
  }

  test("transition stream carries the last event across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.transitionStream(mem.toDS())
    val q = out.writeStream.format("memory").queryName("transition_stream")
      .outputMode("append").start()
    try {
      // batch 1: u1 a->b (same-ts pair orders by type); u2 single event
      mem.addData(
        UserEvent(1, "b", 0, ts(1)), UserEvent(1, "a", 0, ts(1)),
        UserEvent(2, "a", 0, ts(2)))
      q.processAllAvailable()
      // batch 2: u1 continues b->c (cross-batch via state); u2 a->a
      mem.addData(UserEvent(1, "c", 0, ts(5)), UserEvent(2, "a", 0, ts(6)))
      q.processAllAvailable()
      val got = spark.table("transition_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(got.toSet == Set((1L, "a", "b"), (1L, "b", "c"), (2L, "a", "a")))
      assert(got.length == 3)
    } finally q.stop()
  }

  test("seasonalRatioStream: hourly counts scored against the static weekday-hour baseline") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 2024-01-01 is a Monday -> Spark dayofweek = 2
    val baseline = Seq(("click", 2, 10, 2000000L)).toDF("event_type", "dow", "hour", "mean_micro")
    val mem = MemoryStream[(String, Timestamp)]
    val out = StreamOps.seasonalRatioStream(
      mem.toDF().toDF("event_type", "ts"), baseline)
    val q = out.writeStream.format("memory").queryName("seasonal_ratio")
      .outputMode("update").start()
    try {
      mem.addData(
        ("click", ts(10)), ("click", ts(11)), ("click", ts(12)), ("click", ts(13)),
        ("view", ts(14))) // no baseline slot -> NULL ratio
      q.processAllAvailable()
      val got = spark.table("seasonal_ratio").collect()
        .map(r => r.getString(1) -> (r.getLong(2), Option(r.get(4)))).toMap
      // 4 clicks vs mean 2.0 -> ratio 2e6 (2x seasonal load)
      assert(got("click") == ((4L, Some(2000000L))))
      assert(got("view") == ((1L, None)))
    } finally q.stop()
  }

  test("countMinTable composes onto a stream: sketch accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
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

  test("heavyHittersStream: MG counters carry across batches per window; guarantee holds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Timestamp)]
    val out = StreamOps.heavyHittersStream(
      mem.toDF().toDF("text", "ts"), "text", "ts",
      windowDuration = "1 hour", kInv = 3)
    val q = out.writeStream.format("memory").queryName("hh_stream")
      .outputMode("update").start()
    try {
      mem.addData(("the cat the dog the", ts(1)), ("cat the", ts(2)))
      q.processAllAvailable()
      mem.addData(("the the zebra quail fox", ts(3))) // state carries; decrements fire
      q.processAllAvailable()
      val latest = spark.table("hh_stream").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .groupBy(t => (t._1, t._2)).map { case (k, vs) => k._2 -> vs.map(_._3).max }
      // 'the' truly occurs 6 times in 12 tokens > N/(k+1)=3 -> MUST be
      // present, with an estimate within the MG undercount bound
      assert(latest.contains("the"))
      assert(latest("the") >= 3L && latest("the") <= 6L)
    } finally q.stop()
  }

  test("compressionRatio gates a stream (stateless mapPartitions, append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
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

  test("rfmStream: cross-batch state carry, rescoring, batch-op parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = (d: Int) => Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val asOf = day(10).getTime / 1000L
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.rfmStream(mem.toDS(), asOf,
      recencyDayBands = (2, 7), freqBands = (3L, 2L),
      monetaryBands = (BigDecimal(500), BigDecimal(50)))
    val q = out.writeStream.format("memory").queryName("rfm_stream")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, "buy", 40.0, day(1)), UserEvent(1, "buy", 30.0, day(2)))
      q.processAllAvailable()
      val first = spark.table("rfm_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(7)))
      // after batch 1: last seen day 2 (8 days before asOf), freq 2 -> at_risk
      assert(first.toSet == Set((1L, 8L, 2L, 70.0, "at_risk")))
      mem.addData(UserEvent(1, "buy", 480.0, day(9))) // state carries: freq 3, m hits top band
      q.processAllAvailable()
      val last = spark.table("rfm_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7)))
        .maxBy(_._3)
      assert(last == ((1L, 1L, 3L, 550.0, 3, 3, 3, "champion")))
      // parity with the batch operator over the same events and the
      // same reference instant (asOf == corpus max there)
      val batchEvents = Seq((1L, day(1), 40.0), (1L, day(2), 30.0),
        (1L, day(9), 480.0), (9L, day(10), 0.01)) // u9 pins corpus max = asOf
        .toDF("user_id", "ts", "value")
      val b = graft.ops.Rfm.rfm(batchEvents, "user_id", "ts", "value",
          recencyDayBands = (2, 7), freqBands = (3L, 2L),
          monetaryBands = (BigDecimal(500), BigDecimal(50)))
        .filter($"user_id" === 1L).collect().head
      assert((b.getAs[Long]("recency_days"), b.getAs[Long]("frequency"),
        b.getAs[Double]("monetary"), b.getAs[Int]("r_score"), b.getAs[Int]("f_score"),
        b.getAs[Int]("m_score"), b.getAs[String]("segment")) ==
        ((last._2, last._3, last._4, last._5, last._6, last._7, last._8)))
    } finally q.stop()
  }

  test("imageFeatures runs stateless on a stream (decode per micro-batch)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
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

  test("kmvSketchStream: state carries k minima across batches, matches batch estimate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val out = StreamOps.kmvSketchStream(
      mem.toDF().toDF("seg", "uid"), "seg", "uid", k = 32)
    val q = out.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    try {
      // batch 1: 20 distinct (< k -> exact); batch 2: +30 more incl.
      // 10 repeats -> 40 distinct total, sketch saturates at k=32
      mem.addData((0 until 20).map(v => ("a", v.toLong)): _*)
      q.processAllAvailable()
      val first = spark.table("kmv_stream").collect()
        .map(r => (r.getInt(1), r.getLong(2))).last
      assert(first == ((20, 20L)), s"exact regime: $first")
      mem.addData((10 until 40).map(v => ("a", v.toLong)): _*)
      q.processAllAvailable()
      val rows = spark.table("kmv_stream").collect()
        .filter(_.getString(0) == "a").map(r => (r.getInt(1), r.getLong(2)))
      val last = rows.last
      assert(last._1 == 32, s"sketch saturates at k: $last")
      // 40 distinct total; KMV error at k=32 ~ 18%; allow 3 sigma
      assert(math.abs(last._2 - 40L) <= 22, s"estimate ${last._2} vs 40")
      // streamed estimate == the batch estimator over the same prefix
      val batch = graft.ops.Sketches.kmvEstimate(
        graft.ops.Sketches.kmvSketch(
          (0 until 40).map(v => ("a", v.toLong)).toDF("seg", "uid"),
          "seg", "uid", k = 32), 32)
        .head().getLong(2)
      assert(last._2 == batch, s"stream ${last._2} vs batch $batch")
    } finally q.stop()
  }

  test("dedupExtremeStream ordering: CompareValues classes, ties keep the incumbent") {
    import StreamOps.strictlyBetter
    // numeric strings compare as float64, never lexicographically
    assert(strictlyBetter("10", "9", isString = true, max = true))
    assert(!strictlyBetter("9", "10", isString = true, max = true))
    assert(strictlyBetter("9", "10", isString = true, max = false))
    // nil smallest: wins min, loses max
    assert(strictlyBetter(null, "0", isString = true, max = false))
    assert(!strictlyBetter(null, "zebra", isString = true, max = true))
    // non-numeric strings rank above all numerics, lex among themselves
    assert(strictlyBetter("apple", "999", isString = true, max = true))
    assert(strictlyBetter("banana", "apple", isString = true, max = true))
    assert(strictlyBetter("999", "apple", isString = true, max = false))
    // float-equal numeric strings ("1.0" vs "1") are a TIE in both
    // directions -> the earlier arrival stays
    assert(!strictlyBetter("1.0", "1", isString = true, max = true))
    assert(!strictlyBetter("1.0", "1", isString = true, max = false))
    // native types: natural order, nil smallest
    assert(strictlyBetter(java.lang.Long.valueOf(5), java.lang.Long.valueOf(3),
      isString = false, max = true))
    assert(strictlyBetter(null, java.lang.Long.valueOf(3), isString = false, max = false))
    assert(!strictlyBetter(null, java.lang.Long.valueOf(3), isString = false, max = true))
    assert(strictlyBetter(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), isString = false, max = true))
  }

  test("streaming comparator parity: random mixed-class strings pick the SAME row as batch byExtreme") {
    // CompareValues now lives in two implementations — the batch
    // Window ordering (Dedup.byExtreme) and the streaming JVM fold
    // (strictlyBetter). A randomized corpus of every value class
    // (nil / int strings / float strings / non-numeric / digit-prefixed
    // non-numeric) pins them to each other: for every key and both
    // extremes, the streaming strict-improvement fold in arrival order
    // must select exactly the row the batch operator keeps.
    import spark.implicits._
    val rnd = new scala.util.Random(4211)
    val classes: Seq[Int => String] = Seq(
      _ => null,
      i => (rnd.nextInt(200) - 100).toString,
      i => f"${rnd.nextDouble() * 20 - 10}%.3f",
      i => Seq("apple", "pear", "zebra", "Kiwi")(rnd.nextInt(4)),
      i => s"${rnd.nextInt(9)}x${rnd.nextInt(9)}") // digit-prefixed non-numeric
    val rows = (0 until 400).map { i =>
      (i.toLong, s"k${rnd.nextInt(25)}", classes(rnd.nextInt(classes.size))(i))
    }
    val df = rows.toDF("arrival", "g", "s")
    for (max <- Seq(true, false)) {
      val batch = graft.ops.Dedup.byExtreme(
        graft.ops.Dedup.withIngestSeq(df.orderBy("arrival").coalesce(1)),
        Seq("g"), "s", max = max)
        .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
      val stream = rows.groupBy(_._2).map { case (g, rs) =>
        var cur: (Long, String, String) = null
        rs.sortBy(_._1).foreach { r =>
          if (cur == null || StreamOps.strictlyBetter(r._3, cur._3, isString = true, max = max))
            cur = r
        }
        g -> cur._1
      }
      assert(stream == batch, s"max=$max")
    }
  }
}
