package graft.ops

import graft.SparkTestBase

/** Unigram-LM trainer (Kudo 2018) property pins: planted-piece
  * recovery, EM likelihood monotonicity, coverage (every word
  * reconstructs under Viterbi), prune bound, determinism, and the
  * UNK-char fallback for unseen characters. */
class UnigramSpec extends SparkTestBase {

  private def wf(pairs: (String, Long)*): Array[(String, Long)] = pairs.toArray

  test("planted piece dominates: a substring that always co-occurs is learned as one unit") {
    // "ab" appears in every word, always as a unit
    val words = wf("ab" -> 50L, "abc" -> 20L, "dab" -> 20L)
    val vocab = Tokenizer.unigramTrainLocal(words, vocabSize = 20,
      maxPieceLen = 4, seedSize = 100, emIters = 5)
    assert(vocab.contains("ab"), "planted piece survives training")
    // Viterbi of the pure word picks the planted piece, not chars
    assert(Tokenizer.unigramEncode("ab", vocab).toSeq == Seq("ab"))
    assert(Tokenizer.unigramEncode("dab", vocab).toSeq.last == "ab" ||
      Tokenizer.unigramEncode("dab", vocab).toSeq == Seq("dab"),
      s"dab segments through ab (or is itself a piece): " +
        Tokenizer.unigramEncode("dab", vocab).toSeq)
  }

  test("EM corpus log-likelihood is non-decreasing across iterations") {
    val words = wf("hug" -> 10L, "pug" -> 5L, "hugs" -> 5L, "hugging" -> 3L,
      "plug" -> 4L, "slug" -> 2L)
    // the trace records the marginal LL of the model ENTERING each
    // round — the exact sequence the EM guarantee covers
    val (_, trace) = Tokenizer.unigramTrainLocalTraced(words, vocabSize = 60,
      maxPieceLen = 6, seedSize = 200, emIters = 6)
    assert(trace.length == 6)
    trace.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-6, s"likelihood dropped: $trace")
    case _ => () }
  }

  test("coverage: Viterbi reconstructs every training word; unseen chars fall back per-char") {
    val words = wf("alpha" -> 7L, "beta" -> 5L, "gamma" -> 3L, "delta" -> 2L)
    val vocab = Tokenizer.unigramTrainLocal(words, vocabSize = 30,
      maxPieceLen = 5, seedSize = 100, emIters = 3)
    for ((w, _) <- words)
      assert(Tokenizer.unigramEncode(w, vocab).mkString == w,
        s"reconstruction failed for $w")
    // 'z' never seen: passes through as a single-char UNK piece
    assert(Tokenizer.unigramEncode("züz", vocab).mkString == "züz")
  }

  test("prune bound: at most vocabSize pieces, all single chars always kept") {
    val words = wf("abcdefgh" -> 5L, "hgfedcba" -> 5L, "aabbccdd" -> 5L)
    val vocab = Tokenizer.unigramTrainLocal(words, vocabSize = 10,
      maxPieceLen = 4, seedSize = 500, emIters = 3)
    assert(vocab.size <= 10, s"vocab ${vocab.size} over bound")
    for (c <- "abcdefgh")
      assert(vocab.contains(c.toString), s"char $c pruned away")
    // probabilities normalize: logsumexp == 0
    val z = vocab.values.map(math.exp).sum
    assert(math.abs(z - 1.0) < 1e-9, s"sum prob $z != 1")
  }

  test("determinism: identical corpus trains to the identical table") {
    val words = wf("hug" -> 10L, "pug" -> 5L, "hugs" -> 5L)
    val a = Tokenizer.unigramTrainLocal(words, 40, 4, 100, 4)
    val b = Tokenizer.unigramTrainLocal(words, 40, 4, 100, 4)
    assert(a == b)
  }

  test("unigramTrain DataFrame face: ranked pieces, micro logprobs, distributed word count") {
    import graft.SparkTestSession.spark.implicits._
    val df = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++ Seq.fill(5)("hugs"))
      .grouped(4).map(_.mkString(" ")).toSeq.toDF("text")
    val out = Tokenizer.unigramTrain(df, "text", vocabSize = 20,
      maxPieceLen = 4, seedSize = 100, emIters = 3)
      .orderBy("rank").collect()
    assert(out.nonEmpty && out.length <= 20)
    // ranks are 1..n and logprob_micro non-increasing
    assert(out.map(_.getInt(0)).toSeq == (1 to out.length))
    val lps = out.map(_.getLong(3))
    assert(lps.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
    // the dominant whole word is a learned piece
    assert(out.map(_.getString(1)).contains("hug"))
  }

  test("unigramFertility: whole-word pieces give fertility 1.0 on a degenerate corpus") {
    import graft.SparkTestSession.spark.implicits._
    val df = Seq(("s1", "hug hug hug"), ("s1", "hug hug"), ("s2", "pug"))
      .toDF("source", "text")
    val vocab = Map("hug" -> math.log(0.6), "pug" -> math.log(0.2),
      "h" -> math.log(0.05), "u" -> math.log(0.05), "g" -> math.log(0.05),
      "p" -> math.log(0.05))
    val rows = Tokenizer.unigramFertility(df, "text", "source", vocab)
      .orderBy("source").collect()
    assert(rows.length == 2)
    val s1 = rows(0)
    assert(s1.getAs[Long]("n_words") == 5L && s1.getAs[Long]("n_tokens") == 5L)
    assert(s1.getAs[Long]("fertility_micro") == 1000000L)
    assert(s1.getAs[Long]("chars_per_token_micro") == 3000000L)
  }
}
