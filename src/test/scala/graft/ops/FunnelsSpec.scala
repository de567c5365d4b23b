package graft.ops

import graft.SparkTestBase

/** Funnel / retention / centroid-classify / quality-rule / n-gram-vocab
  * operator invariants (closed-form fixtures). */
class FunnelsSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnelLatency: integral-micro means per step pair; incomplete steps drop out") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:05:00")),
      (1L, "purchase", ts("2024-01-01 10:10:00")),
      (2L, "view", ts("2024-01-01 09:30:00")),
      (2L, "click", ts("2024-01-01 09:45:00")),
      // u3 views only: contributes to neither pair
      (3L, "view", ts("2024-01-01 08:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Funnels.funnelLatency(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    assertSameRecords(out, Seq(
      Map("step_from" -> "view", "step_to" -> "click", "n_converted" -> 2L,
        "mean_secs_micro" -> 600000000L, "min_secs" -> 300L, "max_secs" -> 900L),
      Map("step_from" -> "click", "step_to" -> "purchase", "n_converted" -> 1L,
        "mean_secs_micro" -> 300000000L, "min_secs" -> 300L, "max_secs" -> 300L)))
  }

  test("attribution: last vs first touch, strictly-before, none channel, same-ts tiebreak") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "click", 0.0, ts("2024-01-01 10:00:00")),
      (1L, 2L, "view", 0.0, ts("2024-01-01 10:05:00")),
      (1L, 3L, "purchase", 10.0, ts("2024-01-01 10:10:00")),
      // the earlier purchase is not a touch: view still carries
      (1L, 4L, "purchase", 5.0, ts("2024-01-01 10:20:00")),
      // u2: conversion with no prior touch -> 'none'
      (2L, 5L, "purchase", 7.0, ts("2024-01-01 11:00:00")),
      // u3: click at the SAME ts as the purchase but a lower event_id
      // is one row preceding under the tiebreak -> credited
      (3L, 6L, "click", 0.0, ts("2024-01-01 12:00:00")),
      (3L, 7L, "purchase", 3.0, ts("2024-01-01 12:00:00")),
      // noise type never enters the window
      (1L, 8L, "error", 99.0, ts("2024-01-01 10:07:00"))
    ).toDF("user_id", "event_id", "event_type", "value", "ts")
    val last = Funnels.attribution(ev, "user_id", "ts", "event_type", "value",
      "purchase", Seq("click", "view"), tiebreak = Seq("event_id"))
    assertSameRecords(last, Seq(
      Map("channel" -> "view", "n_conversions" -> 2L, "attributed_value" -> 15.0),
      Map("channel" -> "none", "n_conversions" -> 1L, "attributed_value" -> 7.0),
      Map("channel" -> "click", "n_conversions" -> 1L, "attributed_value" -> 3.0)))
    val first = Funnels.attribution(ev, "user_id", "ts", "event_type", "value",
      "purchase", Seq("click", "view"), tiebreak = Seq("event_id"), firstTouch = true)
    assertSameRecords(first, Seq(
      Map("channel" -> "click", "n_conversions" -> 3L, "attributed_value" -> 18.0),
      Map("channel" -> "none", "n_conversions" -> 1L, "attributed_value" -> 7.0)))
  }

  test("funnel: strict ordering, partial completion, step-typed-only keys") {
    import spark.implicits._
    val ev = Seq(
      // u1 completes all three in order
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:05:00")),
      (1L, "purchase", ts("2024-01-01 10:10:00")),
      // u2: click BEFORE the first view doesn't count; the later one does
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 09:30:00")),
      (2L, "click", ts("2024-01-01 09:45:00")),
      // u3: click at EXACTLY the view ts is not strictly after
      (3L, "view", ts("2024-01-01 08:00:00")),
      (3L, "click", ts("2024-01-01 08:00:00")),
      // u4: only a purchase — appears, nothing completed
      (4L, "purchase", ts("2024-01-01 07:00:00")),
      // noise type is filtered before the fold
      (1L, "error", ts("2024-01-01 10:01:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Funnels.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), ts("2024-01-01 10:10:00")))
    assert(out(2L) == (ts("2024-01-01 09:30:00"), ts("2024-01-01 09:45:00"), null))
    assert(out(3L) == (ts("2024-01-01 08:00:00"), null, null))
    assert(out(4L) == (null, null, null))
  }

  test("funnel: maxEventsPerKey caps a pathological key to its earliest events") {
    import spark.implicits._
    // robot key 1: 50 interleaved view/click events; cap 4 keeps only
    // the earliest four (2 views + 2 clicks) — funnel still completes
    // view->click from those. Key 2 is unaffected by the cap.
    val robot = (0 until 50).map { i =>
      (1L, if (i % 2 == 0) "view" else "click", ts(f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d"))
    }
    val ev = (robot :+ (2L, "view", ts("2024-01-01 12:00:00")))
      .toDF("user_id", "event_type", "ts")
    val capped = Funnels.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click"), maxEventsPerKey = 4)
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    assert(capped(1L) == (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:01")))
    assert(capped(2L) == (ts("2024-01-01 12:00:00"), null))
    // uncapped default agrees on this fixture's first completions
    val full = Funnels.funnel(ev, "user_id", "ts", "event_type", Seq("view", "click"))
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    assert(full == capped)
  }

  test("retention: cohort by first day, offset-capped counts") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 23:00:00")),
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-04 10:00:00")),
      (2L, ts("2024-01-02 12:00:00")),
      (3L, ts("2024-01-01 01:00:00")), (3L, ts("2024-01-09 01:00:00"))
    ).toDF("user_id", "ts")
    val out = Funnels.retention(ev, "user_id", "ts", maxOffsetDays = 5)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // cohort 01-01 = users 1,3: day0 ×2, day1 ×1 (u1), day3 ×1 (u1);
    // u3's day8 exceeds the cap. cohort 01-02 = user 2: day0 ×1.
    assert(out == Map(
      ("2024-01-01", 0) -> 2L, ("2024-01-01", 1) -> 1L, ("2024-01-01", 3) -> 1L,
      ("2024-01-02", 0) -> 1L))
  }

  test("classifyByCentroid: nearest label wins; zero vector falls to smallest label") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.0f, 0.0f), 0) // zero vector: all scores 0 -> label 0
    ).toDF("vec_id", "embedding", "label")
    val cents = Similarity.labelCentroids(vecs, "label", "embedding")
    val out = Similarity.classifyByCentroid(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0))
  }

  test("gopherRules: each rule trips on its own fixture") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat and the dog ran to be fair with all of it"), // passes
      (2L, "too short"),                                             // r_words
      (3L, "the " * 5 + "supercalifragilisticexpialidocious " * 8),  // r_mean_len
      (4L, ("1 2 3 4 5 6 7 8 9 10 11 " * 1) + "the of")             // r_alpha (numbers)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"))
    assert(!out(2L).getAs[Boolean]("r_words") && !out(2L).getAs[Boolean]("pass"))
    assert(!out(3L).getAs[Boolean]("r_mean_len"))
    assert(!out(4L).getAs[Boolean]("r_alpha"))
    // stop-hit counting is token-exact
    assert(out(1L).getAs[Long]("stop_hits") >= 2)
  }

  test("ngramVocabulary: bigram counts, deterministic rank, short-doc guard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),    // "a b", "b c"
      (2L, "a b d"),    // "a b", "b d"
      (3L, "x")         // no bigrams (sequence guard)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramVocabulary(docs, "text", n = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(("a b", 2L, 1), ("b c", 1L, 2), ("b d", 1L, 3)))
  }

  test("fingerprintContainmentPairs: full containment scores 1.0, disjoint docs drop") {
    import spark.implicits._
    val contained = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, contained),                                  // inside doc 2
      (2L, contained + " iota kappa lambda mu nu xi"),  // superset
      (3L, "omicron pi rho sigma tau upsilon phi chi")  // disjoint
    ).toDF("doc_id", "text")
    // a strict prefix's windows are a subset of the superset doc's, so
    // its winnow minima are a subset and containment is exactly 1.0 —
    // under ANY hash function: pin both the md5 oracle path and the
    // xxhash64 production path
    for (portable <- Seq(true, false)) {
      val out = TextAnalysis.fingerprintContainmentPairs(docs, "doc_id", "text",
          portableHash = portable)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(out.length == 1, s"portable=$portable: $out")
      val (a, b, c) = out.head
      assert((a, b) == (1L, 2L))
      assert(c == 1.0)
    }
  }

  test("quantizeInt8: known codes and scale, zero vector excluded") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector: nothing to encode
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getLong(3))).toMap
    assert(out.keys.map(_._1).toSet == Set(1L))
    // scale = 1/127; codes floor(x*127 + 0.5)
    assert(out(1L -> 0) == (127, 7874L))
    assert(out(1L -> 1) == (-63, 7874L)) // floor(-63.5 + 0.5) = -63
    assert(out(1L -> 2) == (32, 7874L))  // floor(31.75 + 0.5) = 32
    assert(out(1L -> 3) == (0, 7874L))
  }

  test("unigramLogProb: closed-form NLL micros under the corpus unigram model") {
    import spark.implicits._
    // corpus: a=2, b=2, c=1, total=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // NLL(a)=NLL(b)=-ln(0.4) -> 916291 micro; NLL(c)=-ln(0.2) -> 1609438
    assert(out(1L) == (3L, 3L * 916291L, 916291L))
    assert(out(2L) == (2L, 916291L + 1609438L, (916291L + 1609438L) / 2))
  }

  test("scriptProfile: per-script counts, bp ratios, dominant label, mojibake") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world 42"),
      (2L, "привет мир"),
      (3L, "日本語テスト"),
      (4L, "مرحبا"),
      (5L, "bad � byte"),
      (6L, "12345 !!!"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("script") == "latin")
    assert(out(1L).getAs[Long]("n_latin") == 10L && out(1L).getAs[Long]("n_digit") == 2L)
    assert(out(1L).getAs[Long]("latin_bp") == 10L * 10000 / 14)
    assert(out(2L).getAs[String]("script") == "cyrillic" && out(2L).getAs[Long]("n_cyrillic") == 9L)
    assert(out(3L).getAs[String]("script") == "cjk" && out(3L).getAs[Long]("n_cjk") == 6L)
    assert(out(4L).getAs[String]("script") == "arabic")
    assert(out(5L).getAs[Long]("n_replacement") == 1L)
    assert(out(6L).getAs[String]("script") == "other") // digits name no script
  }

  test("temperatureWeights: sqrt-flattened shares in exact micros") {
    import spark.implicits._
    // A: 4 tokens -> w = 2e6; B: 1 token -> w = 1e6
    val docs = Seq(("A", "a b"), ("A", "c d"), ("B", "e")).toDF("source", "text")
    val out = Sampling.temperatureWeights(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A") == (2L, 4L, 2000000L, 666666L))
    assert(out("B") == (1L, 1L, 1000000L, 333333L))
  }

  test("bigramLogProb: closed-form interpolated NLL micros") {
    import spark.implicits._
    // corpus: doc1 "a b a", doc2 "b a"; unigram a=3, b=2, N=5
    // bigram transitions: doc1 (a,b),(b,a); doc2 (b,a) -> c(a,b)=1, c(b,a)=2
    val docs = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    def nll(cab: Long, ca: Long, cb: Long): Long =
      math.floor(-math.log((8000.0 * cab / ca + 2000.0 * cb / 5) / 10000.0) * 1e6 + 0.5).toLong
    val ab = nll(1, 3, 2)
    val ba = nll(2, 2, 3)
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, ab + ba, (ab + ba) / 2))
    assert(out(2L) == (1L, ba, ba))
    // a doc with fewer than two tokens has no transitions -> absent
    val solo = TextAnalysis.bigramLogProb(
      Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(solo == Set(1L))
  }

  test("lexicalDiversity: type/token/hapax counts and integral ratios") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "x x x x")).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == (4L, 3L, 2L, 750000L, 666666L))
    assert(out(2L) == (4L, 1L, 0L, 250000L, 0L))
  }

  test("lengthBatches: near-equal lengths per batch, exact pad accounting") {
    import spark.implicits._
    // single shard (ids all ≡ 1 mod 1): lengths 1..10, batchSize 4 ->
    // batches {1,2,3,4} {5,6,7,8} {9,10}
    val docs = (1L to 10L).map(i => (i, ("w " * i.toInt).trim)).toDF("doc_id", "text")
    val out = Packing.lengthBatches(docs, "doc_id", "text", batchSize = 4, shards = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == (0L, 4L, 3L))  // batch 0 max=4, doc of len 1 pads 3
    assert(out(4L) == (0L, 4L, 0L))
    assert(out(5L) == (1L, 8L, 3L))
    assert(out(10L) == (2L, 10L, 0L))
    // total pad with length sorting is far under unsorted worst case
    val pads = out.values.map(_._3).sum
    assert(pads == (3 + 2 + 1 + 0) + (3 + 2 + 1 + 0) + (1 + 0))
  }

  test("contamination score: integral micro fraction of benchmark-overlapping grams") {
    import spark.implicits._
    // corpus doc 1: trigrams {a b c, b c d} — "a b c" is in the bench
    val corpus = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c")).toDF("doc_id", "text")
    val out = Decontaminate.score(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, 1L, 500000L))
    assert(out(2L) == (2L, 0L, 0L))
  }

  test("tfidfCosinePairs: identical docs ~1.0, disjoint-vocabulary docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark shuffle join agg window"),
      (2L, "spark shuffle join agg window"), // identical tf vector
      (3L, "totally different words here now")
    ).toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(docs, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1)
    assert((out.head._1, out.head._2) == (1L, 2L))
    assert(out.head._3 > 0.999) // sqrt(x)*sqrt(x) can be 1 ulp off x
  }

  test("Snapshot.diff: added/removed/changed with null-safe value compare") {
    import spark.implicits._
    val oldSnap = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("k", "v")
    val newSnap = Seq((1L, Some("a")), (2L, Some("B")), (3L, None), (5L, Some("e")))
      .toDF("k", "v")
    val out = Snapshot.diff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> (r.getAs[String]("old_v"),
        r.getAs[String]("new_v"), r.getString(3))).toMap
    // 1 unchanged (dropped), 3 unchanged with BOTH null (null-safe <=>)
    assert(out == Map(
      2L -> (("b", "B", "changed")),
      4L -> (("d", null, "removed")),
      5L -> ((null, "e", "added"))))
  }

  test("sourceBudget: integral micro shares from exact token sums") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web", "a b c"), (2L, "web", "d e f g"), // 7 tokens
      (3L, "book", "h i j")                          // 3 tokens
    ).toDF("doc_id", "source", "text")
    val out = Sampling.sourceBudget(docs, "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("web") == (2L, 7L, 700000L))  // 7*1e6 div 10
    assert(out("book") == (1L, 3L, 300000L))
  }

  test("cohortLtv: cohort sizes, per-offset and cumulative revenue, per-user micros") {
    import spark.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val ev = Seq(
      // cohort Jan-1: u1 and u2; u1 pays 10 on day0, 5 on day2; u2 pays 2 on day0
      (1L, ts(1), 10.0), (1L, ts(3), 5.0), (2L, ts(1), 2.0),
      // cohort Jan-2: u3 pays 1 on day0
      (3L, ts(2), 1.0)
    ).toDF("user_id", "ts", "value")
    val got = Funnels.cohortLtv(ev, "user_id", "ts", "value", maxOffsetDays = 30)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    // Jan-1 day0: n=2, rev 12 -> 12e6; per-user 6e6
    assert(got(("2024-01-01", 0)) == ((2L, 12e6, 12e6, 6000000L)))
    // Jan-1 day2: rev 5 -> cum 17, per-user 8.5e6
    assert(got(("2024-01-01", 2)) == ((2L, 5e6, 17e6, 8500000L)))
    assert(got(("2024-01-02", 0)) == ((1L, 1e6, 1e6, 1000000L)))
    assert(got.size == 3)
  }

  test("funnelDropoff: per-step reach and conversion micros from the exact chain") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1 completes all 3; u2 stops after a; u3 reaches b; u4 never enters
    val ev = Seq(
      (1L, ts(1), "a"), (1L, ts(2), "b"), (1L, ts(3), "c"),
      (2L, ts(1), "a"),
      (3L, ts(1), "a"), (3L, ts(2), "b"),
      (4L, ts(5), "b") // b without a does not enter the funnel
    ).toDF("user_id", "ts", "event_type")
    val got = Funnels.funnelDropoff(ev, "user_id", "ts", "event_type", Seq("a", "b", "c"))
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(got("a") == ((3L, Some(1000000L), None)))
    assert(got("b") == ((2L, Some(666666L), Some(666666L))))
    assert(got("c") == ((1L, Some(333333L), Some(500000L))))
  }

  test("burstiness: metronome -> -1, variable gaps -> greater, minGaps floor") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val at = (secs: Long) => new java.sql.Timestamp(base + secs * 1000)
    val ev = (
      // u1: perfectly periodic gaps of 10 -> sd 0 -> B = -1 exactly
      Seq(0L, 10L, 20L, 30L).map(s => (1L, at(s))) ++
      // u2: gaps 1 and 99 -> highly variable, B > 0... mean 50, sd 49 -> B < 0
      Seq(0L, 1L, 100L).map(s => (2L, at(s))) ++
      // u3: a single gap -> dropped by minGaps
      Seq(0L, 5L).map(s => (3L, at(s)))
    ).zipWithIndex.map { case ((u, t), i) => (u, t, i.toLong) }
      .toDF("user_id", "ts", "event_id")
    val got = Funnels.burstiness(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("mean_gap"), r.getAs[Double]("burstiness"))).toMap
    assert(got(1L) == ((3L, 10.0, -1.0)))
    // u2: mean 50, population sd 49 -> B = (49-50)/99
    assert(math.abs(got(2L)._3 - (49.0 - 50.0) / 99.0) < 1e-12)
    assert(!got.contains(3L))
  }

  test("gapHistogram: log2 bucketing on whole-second gaps per key") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val at = (secs: Long) => new java.sql.Timestamp(base + secs * 1000)
    val ev = Seq(
      (1L, at(0), 1L), (1L, at(1), 2L), (1L, at(3), 3L), // gaps 1 (1 bit), 2 (2 bits)
      (2L, at(0), 4L), (2L, at(8), 5L), // gap 8 -> 4 bits
      (3L, at(100), 6L) // single event: no gap
    ).toDF("user_id", "ts", "event_id")
    val got = Funnels.gapHistogram(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1) == ((1L, 1L, 1L)))
    assert(got(2) == ((1L, 2L, 2L)))
    assert(got(4) == ((1L, 8L, 8L)))
    assert(got.size == 3)
  }

  test("linearAttribution: equal split, remainder to earliest, none channel, exact micro sums") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: click, view, click then purchase -> 3 touches share 1e6:
      // 333333 each + 1 remainder micro to the EARLIEST touch
      (1L, ts("2024-01-01 10:00:00"), "click", 1L),
      (1L, ts("2024-01-01 10:01:00"), "view", 2L),
      (1L, ts("2024-01-01 10:02:00"), "click", 3L),
      (1L, ts("2024-01-01 10:03:00"), "purchase", 4L),
      // u2: no touches -> none
      (2L, ts("2024-01-01 11:00:00"), "purchase", 5L),
      // u3: touch AFTER the purchase doesn't count
      (3L, ts("2024-01-01 12:00:00"), "purchase", 6L),
      (3L, ts("2024-01-01 12:01:00"), "click", 7L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = Funnels.linearAttribution(ev, "user_id", "ts", "event_type",
        "purchase", Seq("click", "view"), "event_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // u1: click gets 333334 (earliest, +1 remainder) + 333333 = 666667
    assert(got("click") == ((666667L, 1L)))
    assert(got("view") == ((333333L, 1L)))
    assert(got("none") == ((2000000L, 2L))) // u2 and u3
    assert(got.values.map(_._1).sum == 3000000L) // 3 conversions x 1e6 exactly
  }
}
