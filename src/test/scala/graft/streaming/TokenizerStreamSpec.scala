package graft.streaming

import graft.SparkTestBase
import graft.ops.{CachedRelations, TokenizerIndex}
import org.apache.spark.sql.functions._

/**
 * [[StreamOps.tokenizeFertilityStream]]: the streaming tokenizer
 * encode under a persisted [[TokenizerIndex]] must satisfy the
 * stream==batch twin contract for ALL FOUR families — aggregating the
 * stream's per-doc counts by source and re-deriving the integer
 * micros reproduces [[TokenizerIndex.fertilityIndexed]]'s per-source
 * report EXACTLY. The fixtures force the divergence-prone edges: a
 * trailing newline (Spark trim keeps it), a doubled space (empty
 * token), a locale-sensitive uppercase İ (Spark lower()'s non-ASCII
 * slow path), an astral-plane codepoint (Spark length counts
 * codepoints, Java's .length counts UTF-16 units), OOV words
 * (WordPiece's [UNK] leg), repeated words (the memo path), an empty
 * string, and a null (annotate, don't drop).
 */
class TokenizerStreamSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private val corpus = Seq(
    ("s1", "low lower lowest newer new"),
    ("s1", "the newest widow window winnow"),
    ("s2", "low low lower the the the new"),
    ("s2", "halt hale whale while willow"))

  private val docs = Seq(
    (1L, "low lower new new", "s1"),
    (2L, "the willow window\n", "s1"),
    (3L, "\tlow  halt", "s2"),
    (4L, "zzq unseen İSTANBUL", "s2"),
    (5L, "𝄞clef astral", "s2"),
    (6L, "", "s1"))

  private def mkTbl(): String = {
    val dir = tempDir("graft_tokstream_tbl").toString
    corpus.toDF("source", "text").repartition(2)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def reportOf(df: org.apache.spark.sql.DataFrame,
                       cols: Seq[String]): Map[String, Seq[Any]] = {
    val out = df.collect().map { r =>
      r.getAs[String]("source") -> cols.map(c => r.get(r.fieldIndex(c)))
    }.toMap
    CachedRelations.releaseAll()
    out
  }

  for (family <- Seq("bpe", "bbpe", "wordpiece", "unigram")) {
    test(s"$family: stream per-doc counts aggregate to the batch per-source report") {
      implicit val sqlCtx = spark.sqlContext
      val tbl = mkTbl()
      val idx = tempDir(s"graft_tokstream_$family").toString
      TokenizerIndex.write(spark, tbl, idx, family, "text",
        param = if (family == "unigram") 40 else 30)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
      val out = StreamOps.tokenizeFertilityStream(
        mem.toDF().toDF("doc_id", "text", "source"), "text", family, tbl, idx)
      val q = out.writeStream.format("memory").queryName(s"tok_stream_$family")
        .outputMode("append").start()
      try {
        mem.addData(docs: _*)
        mem.addData((7L, null, "s1"))
        q.processAllAvailable()
        val got = spark.table(s"tok_stream_$family")
        // null text annotates NULL, never drops
        val nullRows = got.filter(col("doc_id") === 7L).collect()
        assert(nullRows.length == 1 &&
          nullRows(0).isNullAt(nullRows(0).fieldIndex("n_tokens")),
          "null text must pass through with NULL scores")
        val unitCol = if (family == "bbpe") "n_bytes" else "n_chars"
        val ratioCol = if (family == "bbpe") "bytes_per_token_micro"
          else "chars_per_token_micro"
        val sums = Seq(sum("n_words").as("n_words"),
          sum("n_tokens").as("n_tokens"), sum(unitCol).as(unitCol)) ++
          (if (family == "wordpiece") Seq(sum("unk_words").as("unk_words")) else Nil)
        val streamAgg = got.filter(col("doc_id") =!= 7L)
          .groupBy(col("source")).agg(sums.head, sums.tail: _*)
          .withColumn("fertility_micro", expr("n_tokens * 1000000 div n_words"))
          .withColumn(ratioCol, expr(s"$unitCol * 1000000 div n_tokens"))
        val cols = Seq("n_words", "n_tokens", unitCol, "fertility_micro", ratioCol) ++
          (if (family == "wordpiece") Seq("unk_words") else Nil)
        val fromStream = reportOf(streamAgg, cols)
        val batch = TokenizerIndex.fertilityIndexed(spark,
          docs.toDF("doc_id", "text", "source"), family, "text", "source", tbl, idx)
        val fromBatch = reportOf(batch, cols)
        assert(fromStream == fromBatch,
          s"$family stream != batch: $fromStream vs $fromBatch")
        // the OOV doc must actually exercise the [UNK] leg
        if (family == "wordpiece")
          assert(fromStream("s2").last.asInstanceOf[Long] >= 1L,
            "fixture must produce at least one [UNK] word")
      } finally q.stop()
      CachedRelations.releaseAll()
    }
  }

  test("verify gate: a stale artifact refuses at query DEFINITION, before any batch") {
    val tbl = mkTbl()
    val idx = tempDir("graft_tokstream_stale").toString
    TokenizerIndex.write(spark, tbl, idx, "bpe", "text", param = 30)
    Seq(("s9", "appended after the fit")).toDF("source", "text")
      .write.mode("append").parquet(tbl)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val e = intercept[IllegalStateException] {
      StreamOps.tokenizeFertilityStream(
        mem.toDF().toDF("doc_id", "text", "source"), "text", "bpe", tbl, idx)
    }
    assert(e.getMessage.contains("STALE"))
  }
}
