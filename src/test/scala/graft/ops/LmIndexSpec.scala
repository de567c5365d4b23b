package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * [[LmIndex]]: a loaded-model score must return EXACTLY the rows of
 * its in-session twin (type counts are longs; the disc row's doubles
 * round-trip parquet bit-exactly), and the coherence lifecycle must
 * fail loudly on a stale/unstamped/wrong-model artifact and heal on
 * rebuild — the bloom/ANN stamp contract applied to the n-gram LM.
 */
class LmIndexSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def mkCorpus(rows: Seq[(Long, String)]): (String, DataFrame) = {
    val dir = tempDir("graft_lmidx_tbl").toString
    rows.toDF("doc_id", "text").repartition(2)
      .write.mode("overwrite").parquet(dir)
    (dir, spark.read.parquet(dir))
  }

  private val train = Seq(
    (1L, "m n o m n o p"), (2L, "n o m"), (3L, "o p q o p q n"))
  private val scored = Seq(
    (11L, "m n o m"), (12L, "m n q"), (13L, "p m o"),
    (14L, "zz yy xx ww"), (15L, "o"), (16L, "q o"))

  private def rows(df: DataFrame): Map[Long, (Long, Long, Long)] = {
    val out = df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    CachedRelations.releaseAll()
    out
  }

  test("loaded-model scoring is row-exact vs the in-session reference fit") {
    val (tbl, trainDf) = mkCorpus(train)
    val idx = tempDir("graft_lmidx").toString
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    val loaded = rows(LmIndex.scoreMknIndexed(spark,
      scored.toDF("doc_id", "text"), "doc_id", "text", tbl, idx))
    val twin = rows(TextAnalysis.modifiedKneserNeyLogProb(
      scored.toDF("doc_id", "text"), "doc_id", "text", train = trainDf))
    assert(loaded == twin, "loaded mkn3 scoring != in-session fit")
  }

  test("lifecycle: missing stamp, wrong model, stale train table, rebuild heals") {
    val (tbl, _) = mkCorpus(train)
    val idx = tempDir("graft_lmidx_lc").toString
    val df = scored.toDF("doc_id", "text")
    // (a) no stamp at all → loud
    val e1 = intercept[IllegalStateException] {
      LmIndex.scoreMknIndexed(spark, df, "doc_id", "text", tbl, idx)
    }
    assert(e1.getMessage.contains("no _graft_lm_meta.json"))
    // (b) built, works
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    assert(rows(LmIndex.scoreMknIndexed(spark, df, "doc_id", "text", tbl, idx))
      .keySet == scored.map(_._1).toSet)
    // (c) wrong textCol → loud (the stamp names what it was fitted on)
    val e2 = intercept[IllegalStateException] {
      LmIndex.scoreMknIndexed(spark, df.withColumnRenamed("text", "body"),
        "doc_id", "body", tbl, idx)
    }
    assert(e2.getMessage.contains("wrong model"))
    // (d) the train table grows a file → STALE, loud, names both prints
    Seq((99L, "fresh new sentence appended after the fit"))
      .toDF("doc_id", "text").write.mode("append").parquet(tbl)
    val e3 = intercept[IllegalStateException] {
      LmIndex.scoreMknIndexed(spark, df, "doc_id", "text", tbl, idx)
    }
    assert(e3.getMessage.contains("STALE"))
    // (e) rebuild heals and the new model sees the appended doc
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    val healed = rows(LmIndex.scoreMknIndexed(spark, df, "doc_id", "text", tbl, idx))
    val twin = rows(TextAnalysis.modifiedKneserNeyLogProb(df, "doc_id", "text",
      train = spark.read.parquet(tbl)))
    assert(healed == twin, "healed artifact != refitted in-session twin")
  }

  test("perplexityPartition modelDir: bands under the persisted reference LM") {
    val (tbl, trainDf) = mkCorpus(train)
    val idx = tempDir("graft_lmidx_ppl").toString
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    val df = scored.toDF("doc_id", "text").withColumn("source", lit("s"))
    val fromIdx = TextAnalysis.perplexityPartition(df, "doc_id", "text", "source",
      model = "mkn3", modelDir = idx, trainPath = tbl)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("avg_nll_micro"),
        r.getAs[String]("ppl_band"))).toSet
    CachedRelations.releaseAll()
    // twin: the same banding over the in-session reference fit
    val nll = TextAnalysis.modifiedKneserNeyLogProb(df, "doc_id", "text",
      train = trainDf).select(col("doc_id"), col("avg_nll_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit("s")).orderBy(col("avg_nll_micro"), col("doc_id"))
    val twin = nll.withColumn("bucket", ntile(3).over(w))
      .withColumn("ppl_band", when(col("bucket") === 1, lit("head"))
        .when(col("bucket") === 3, lit("tail")).otherwise(lit("middle")))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("avg_nll_micro"),
        r.getAs[String]("ppl_band"))).toSet
    CachedRelations.releaseAll()
    assert(fromIdx == twin, "modelDir banding != in-session reference-fit banding")
    // guards: modelDir with a non-mkn3 model, or without trainPath
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityPartition(df, "doc_id", "text", "source",
        model = "bigram", modelDir = idx, trainPath = tbl)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityPartition(df, "doc_id", "text", "source",
        model = "mkn3", modelDir = idx)
    }
  }

  test("pplScoreStream: unpruned streaming scores == batch loaded-model scores") {
    implicit val sqlCtx = spark.sqlContext
    val (tbl, _) = mkCorpus(train)
    val idx = tempDir("graft_lmidx_stream").toString
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = graft.streaming.StreamOps.pplScoreStream(
      mem.toDF().toDF("doc_id", "text"), "text", tbl, idx)
    val q = out.writeStream.format("memory").queryName("ppl_scores")
      .outputMode("append").start()
    try {
      // the edge docs pin Spark-vs-Java tokenization parity: Spark
      // trim strips ONLY spaces (trailing \n / leading \t survive into
      // the split) and Spark split keeps trailing empty tokens — a
      // Java trim/limit-0 split scores these docs differently
      val edges = Seq(18L -> "   ", 19L -> "m n o\n", 20L -> "\tm n o",
        21L -> "m  n o",
        // 22/23 pin LOCALE parity too (r13 advisory): Spark lower()
        // ASCII-fast-paths all-ASCII strings but routes any string
        // with a non-ASCII char through default-locale toLowerCase —
        // the driver replica must take the same branch on the same
        // input (İ lowercases to i + combining dot; final Σ is
        // context-sensitive), or the stream diverges from the batch
        22L -> "İSTANBUL Iı MİX", 23L -> "ΟΔΟΣ ΑΣ m")
      mem.addData(scored: _*)
      mem.addData(17L -> null)
      mem.addData(edges: _*)
      q.processAllAvailable()
      val got = spark.table("ppl_scores").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(2)) null
          else ((r.getLong(2), r.getLong(3), r.getLong(4))))).toMap
      // null text annotates NULL (pass through, don't drop)
      assert(got(17L) == null)
      val batch = rows(LmIndex.scoreMknIndexed(spark,
        (scored ++ edges).toDF("doc_id", "text"),
        "doc_id", "text", tbl, idx))
      assert((scored ++ edges).map(_._1).forall(id => got(id) == batch(id)),
        s"stream != batch: $got vs $batch")
    } finally q.stop()
    CachedRelations.releaseAll()
    // pruned to almost nothing: every doc still scores finitely (the
    // discount fallback keeps all probabilities positive), and the
    // continuation-floor B re-derives from the PRUNED bigram table
    // (r13 advisory) — one surviving bigram type means b == 1
    val pruned = LmIndex.loadMknLocal(spark, tbl, idx, "text", maxTypes = 1)
    assert(pruned.b == 1L, s"pruned B must come from the pruned table, got ${pruned.b}")
    for ((_, t) <- scored) {
      val (n, s, a) = pruned.scoreDoc(LmIndex.sparkTokens(t))
      assert(n > 0 && s >= 0 && a >= 0)
    }
  }

  test("sparkTokens replicates split(lower(trim(text)), \\s+) incl. non-ASCII locale path") {
    val fixtures = Seq(
      "Hello WORLD", "  A  B ", "m n o\n", "\tX Y", "", "   ",
      "İSTANBUL STREET", "Iı İi", "ΟΔΟΣ ΑΣ", "ẞ STRASSE ß",
      "CAFÉ NOIR", "ǄUR Ǆ", "MIXED ascii ONLY I")
    val viaSpark = fixtures.toDF("t")
      .select(split(lower(trim(col("t"))), "\\s+").as("toks"))
      .collect().map(_.getSeq[String](0).toArray.toSeq)
    val viaDriver = fixtures.map(LmIndex.sparkTokens(_).toSeq)
    fixtures.indices.foreach { i =>
      assert(viaDriver(i) == viaSpark(i),
        s"'${fixtures(i)}': driver ${viaDriver(i)} != spark ${viaSpark(i)}")
    }
  }

  test("stamp escapes quotes/backslashes and verify distinguishes unparseable from missing") {
    // a textCol with JSON-hostile characters round-trips the stamp
    val dir = tempDir("graft_lmidx_esc_tbl").toString
    val weird = "te\"xt\\col"
    train.toDF("doc_id", weird).repartition(1).write.mode("overwrite").parquet(dir)
    val idx = tempDir("graft_lmidx_esc").toString
    LmIndex.writeMknIndex(spark, dir, idx, "doc_id", weird)
    val meta = LmIndex.readMeta(spark, idx)
    assert(meta.exists(_.textCol == weird),
      s"stamp must round-trip a quoted/backslashed textCol, got $meta")
    // scoring through the verified stamp works end-to-end
    val out = rows(LmIndex.scoreMknIndexed(spark,
      scored.toDF("doc_id", weird), "doc_id", weird, dir, idx))
    assert(out.keySet == scored.map(_._1).toSet)
    // corrupt the stamp → loud "does not parse", NOT "no stamp"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(idx, "_graft_lm_meta.json")
    val o = fs.create(mp, true)
    try o.write("{\"kind\":\"mkn3".getBytes("UTF-8")) finally o.close()
    val e = intercept[IllegalStateException] {
      LmIndex.verify(spark, dir, idx, "mkn3", weird)
    }
    assert(e.getMessage.contains("does not parse"), e.getMessage)
  }

  test("the stamp carries the fingerprint captured BEFORE the fit read data") {
    // the observable half of the fit-window guard (r13 advisory): a
    // mid-fit mutation cannot be raced deterministically from a spec,
    // but the contract it protects can — the stamped fingerprint is the
    // START listing, so any file that changes during the fit makes the
    // end re-check (and every later verify) fail
    val (tbl, _) = mkCorpus(train)
    val idx = tempDir("graft_lmidx_race").toString
    val fpBefore = Layout.tableFingerprint(spark, tbl)
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    assert(LmIndex.readMeta(spark, idx).exists(_.tableFp == fpBefore),
      "stamp must carry the fingerprint captured BEFORE the fit read data")
  }

  test("pplBandStream: static per-source cutoffs band the stream like the batch rule") {
    implicit val sqlCtx = spark.sqlContext
    val (tbl, _) = mkCorpus(train)
    val idx = tempDir("graft_lmidx_band").toString
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    // batch scores of the same docs → value-based cutoffs for source s
    val batch = rows(LmIndex.scoreMknIndexed(spark,
      scored.toDF("doc_id", "text"), "doc_id", "text", tbl, idx))
    val nlls = scored.map { case (id, _) => batch(id)._3 }.sorted
    val (headMax, midMax) = (nlls(1), nlls(3)) // 2/2/2 split of six docs
    val cutoffs = Seq(("s", headMax, midMax))
      .toDF("source", "head_max_micro", "middle_max_micro")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val out = graft.streaming.StreamOps.pplBandStream(
      mem.toDF().toDF("doc_id", "text", "source"), "text", "source",
      cutoffs, tbl, idx)
    val q = out.writeStream.format("memory").queryName("ppl_bands")
      .outputMode("append").start()
    try {
      mem.addData(scored.map { case (id, t) => (id, t, "s") }: _*)
      mem.addData((90L, "m n o", "unknown_src"), (91L, null, "s"))
      q.processAllAvailable()
      val got = spark.table("ppl_bands").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_band")).toMap
      for ((id, _) <- scored) {
        val nll = batch(id)._3
        val expect = if (nll <= headMax) "head"
          else if (nll <= midMax) "middle" else "tail"
        assert(got(id) == expect, s"doc $id: ${got(id)} != $expect")
      }
      assert(got(90L) == null, "unknown source must band NULL")
      assert(got(91L) == null, "null text must band NULL")
    } finally q.stop()
    CachedRelations.releaseAll()
  }

  test("a write that dies before the stamp leaves an artifact that fails verification") {
    val (tbl, _) = mkCorpus(train)
    val idx = tempDir("graft_lmidx_dead").toString
    LmIndex.writeMknIndex(spark, tbl, idx, "doc_id", "text")
    // simulate the mid-rebuild death: stamp dropped (as a rebuild does
    // FIRST), tables half-written — verification must refuse
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_lm_meta.json"), false))
    val e = intercept[IllegalStateException] {
      LmIndex.scoreMknIndexed(spark, scored.toDF("doc_id", "text"),
        "doc_id", "text", tbl, idx)
    }
    assert(e.getMessage.contains("no _graft_lm_meta.json"))
  }
}
