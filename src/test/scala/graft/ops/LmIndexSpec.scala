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
