package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** [[TokenizerIndex]]: every family's loaded artifact must encode
  * exactly like its in-session refit twin, and the coherence
  * lifecycle must fail loudly on unstamped / wrong-family / stale
  * artifacts and heal on rebuild. */
class TokenizerIndexSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def mkCorpus(rows: Seq[(String, String)]): (String, DataFrame) = {
    val dir = tempDir("graft_tokidx_tbl").toString
    rows.toDF("source", "text").repartition(2)
      .write.mode("overwrite").parquet(dir)
    (dir, spark.read.parquet(dir))
  }

  private val corpus = Seq(
    ("s1", "ab ab abc the quick brown fox"),
    ("s2", "bé bé b b jumps over the lazy dog"),
    ("s1", "abc ab the fox again and again"))

  private def report(df: DataFrame): Set[Seq[Any]] = {
    val out = df.collect().map(_.toSeq).toSet
    CachedRelations.releaseAll()
    out
  }

  test("all four families: loaded-artifact fertility == in-session refit") {
    val (tbl, train) = mkCorpus(corpus)
    val scored = corpus.toDF("source", "text")
    for (fam <- Seq("bpe", "bbpe", "wordpiece", "unigram")) {
      val idx = tempDir(s"graft_tokidx_$fam").toString
      TokenizerIndex.write(spark, tbl, idx, fam, "text", param = 20)
      val loaded = report(TokenizerIndex.fertilityIndexed(spark, scored, fam,
        "text", "source", tbl, idx))
      val twin = report(fam match {
        case "bpe" => Tokenizer.bpeFertility(scored, "text", "source",
          Tokenizer.bpeTrain(train, "text", numMerges = 20)
            .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq,
          nativeEncode = true)
        case "bbpe" => Tokenizer.bbpeFertility(scored, "text", "source",
          Tokenizer.bbpeTrain(train, "text", numMerges = 20)
            .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq)
        case "wordpiece" => Tokenizer.wordpieceFertility(scored, "text", "source",
          Tokenizer.wordpieceVocabFrom(train, "text", numMerges = 20))
        case "unigram" => Tokenizer.unigramFertility(scored, "text", "source",
          Tokenizer.unigramTrainLocalFrom(train, "text", vocabSize = 20))
      })
      assert(loaded == twin, s"$fam: loaded-artifact fertility != in-session refit")
    }
  }

  test("lifecycle: unstamped, wrong family, stale, rebuild heals") {
    val (tbl, _) = mkCorpus(corpus)
    val idx = tempDir("graft_tokidx_lc").toString
    val scored = corpus.toDF("source", "text")
    val e1 = intercept[IllegalStateException] {
      TokenizerIndex.loadMerges(spark, tbl, idx, "bpe", "text")
    }
    assert(e1.getMessage.contains("no _graft_tok_meta.json"))
    TokenizerIndex.write(spark, tbl, idx, "bpe", "text", param = 20)
    assert(TokenizerIndex.loadMerges(spark, tbl, idx, "bpe", "text").nonEmpty)
    val e2 = intercept[IllegalStateException] {
      TokenizerIndex.loadMerges(spark, tbl, idx, "bbpe", "text")
    }
    assert(e2.getMessage.contains("wrong model"))
    Seq(("s3", "appended rows after the fit"))
      .toDF("source", "text").write.mode("append").parquet(tbl)
    val e3 = intercept[IllegalStateException] {
      TokenizerIndex.fertilityIndexed(spark, scored, "bpe", "text", "source", tbl, idx)
    }
    assert(e3.getMessage.contains("STALE"))
    TokenizerIndex.write(spark, tbl, idx, "bpe", "text", param = 20)
    assert(TokenizerIndex.loadMerges(spark, tbl, idx, "bpe", "text").nonEmpty)
    intercept[IllegalArgumentException] {
      TokenizerIndex.write(spark, tbl, idx, "sentencepiece", "text", param = 20)
    }
  }

  test("stamp escaping, unparseable-vs-missing, and fp-before-fit (r13 advisory)") {
    import spark.implicits._
    // a textCol with JSON-hostile characters round-trips the stamp
    val dir = tempDir("graft_tokidx_esc_tbl").toString
    val weird = "te\"xt\\col"
    corpus.toDF("source", weird).repartition(1).write.mode("overwrite").parquet(dir)
    val idx = tempDir("graft_tokidx_esc").toString
    val fpBefore = Layout.tableFingerprint(spark, dir)
    TokenizerIndex.write(spark, dir, idx, "bpe", weird, param = 10)
    val meta = TokenizerIndex.readMeta(spark, idx)
    assert(meta.exists(m => m.textCol == weird && m.tableFp == fpBefore),
      s"stamp must round-trip the textCol and carry the BEFORE-fit fingerprint, got $meta")
    assert(TokenizerIndex.loadMerges(spark, dir, idx, "bpe", weird).nonEmpty)
    // corrupt the stamp -> loud "does not parse", NOT "no stamp"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(new org.apache.hadoop.fs.Path(idx, "_graft_tok_meta.json"), true)
    try o.write("{\"family\":\"bpe".getBytes("UTF-8")) finally o.close()
    val e = intercept[IllegalStateException] {
      TokenizerIndex.verify(spark, dir, idx, "bpe", weird)
    }
    assert(e.getMessage.contains("does not parse"), e.getMessage)
  }
}
