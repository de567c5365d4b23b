package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Dedup strategies + near-dup/similarity operator invariants. */
class OpsSpec extends SparkTestBase with graft.TempDirs {

  private def events = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 3.0), (3L, "b", 7.0), (4L, "a", 3.0))
      .toDF("id", "k", "v")
  }

  test("byIngestOrder first/last keep deterministic rows") {
    val first = Dedup.byIngestOrder(events, Seq("k"), keepFirst = true)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toMap
    assert(first == Map("a" -> 1L, "b" -> 3L))
    val last = Dedup.byIngestOrder(events, Seq("k"), keepFirst = false)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toMap
    assert(last == Map("a" -> 4L, "b" -> 3L))
  }

  test("netpbm decode: P5/P6 round-trip, comments, truncation, resize, garbage") {
    import graft.ops.Multimodal
    // P5 synth round-trips with known pixels
    val p5 = Multimodal.decodeNetpbm(Multimodal.synthPgm(7L, 4, 2)).get
    assert((p5.width, p5.height, p5.channels) == (4, 2, 1))
    assert((p5.pixels(0) & 0xff) == 7 && (p5.pixels(5) & 0xff) == 9) // (0,0) and (1,1)
    // P6 with a header comment
    val p6bytes = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    val p6 = Multimodal.decodeNetpbm(p6bytes).get
    assert((p6.width, p6.height, p6.channels) == (2, 1, 3))
    assert((p6.pixels(3) & 0xff) == 40)
    // truncated payload and non-netpbm bytes decode to None
    assert(Multimodal.decodeNetpbm(p6bytes.dropRight(1)) == None)
    assert(Multimodal.decodeNetpbm("JFIF....".getBytes) == None)
    // nearest-neighbor downsample picks the mapped source pixels
    val big = Multimodal.decodeNetpbm(Multimodal.synthPgm(0L, 8, 8)).get
    val small = Multimodal.resizeNearest(big, 4, 4)
    assert((small.width, small.height) == (4, 4))
    assert((small.pixels(0) & 0xff) == 0 && (small.pixels(5) & 0xff) == 4) // out(1,1) -> src(2,2) = 4
  }

  test("exactSubstrDedup: cross-doc, intra-doc and full-coverage dispositions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),          // first occurrence of "a b c d"
      (2L, "x y a b c d w"),        // window at pos 3 duplicates doc 1 pos 1
      (3L, "p q r s p q r s"),      // intra-doc repeat: pos 5 duplicates pos 1
      (4L, "a b c d"))              // fully covered -> vanishes
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", windowTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("a b c d e f", 6L, 0L))
    assert(out(2L) == ("x y w", 3L, 4L))      // covered positions 3..6 dropped
    assert(out(3L) == ("p q r s", 4L, 4L))    // second repetition collapsed
    assert(!out.contains(4L))                  // every token covered
    assert(out.size == 3)
  }

  test("exactSubstrDedup: interval-coverage plan matches a position-set reference") {
    import spark.implicits._
    // Randomized-ish fixture with heavy shared runs: docs draw from a
    // tiny token alphabet so duplicate windows appear at arbitrary
    // offsets, overlap, chain, and fully cover some docs. The
    // production interval/running-max plan must agree EXACTLY with an
    // independent driver-side position-set implementation (explode
    // every dup window into its L positions, set-subtract).
    val rng = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "c", "d", "e")
    val docs = (1L to 200L).map { i =>
      val n = 3 + rng.nextInt(40)
      (i, (0 until n).map(_ => alphabet(rng.nextInt(alphabet.size))).mkString(" "))
    }
    val l = 4
    // reference: first occurrence per window string in (doc, pos) order
    val firstOf = scala.collection.mutable.Map.empty[String, (Long, Int)]
    for ((id, text) <- docs; toks = text.split(" ");
         p <- 0 to toks.length - l) {
      val w = toks.slice(p, p + l).mkString(" ")
      // iteration is already in increasing (doc, pos) order
      if (!firstOf.contains(w)) firstOf(w) = (id, p)
    }
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val covered = (0 to toks.length - l).filter { p =>
        firstOf(toks.slice(p, p + l).mkString(" ")) != ((id, p))
      }.flatMap(p => p until p + l).toSet
      val kept = toks.indices.filterNot(covered)
      if (kept.isEmpty) None
      else Some(id -> (kept.map(toks).mkString(" "), kept.size.toLong,
        (toks.length - kept.size).toLong))
    }.toMap
    val out = Dedup.exactSubstrDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
        windowTokens = l)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == expected)
    // and the rolling-fp key scheme groups identically on the same fixture
    val outFp = Dedup.exactSubstrDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
        windowTokens = l, rollingFp = true)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(outFp == expected)
  }

  test("crossSourceDupReport: pair counts and integral rates per source pair") {
    import spark.implicits._
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "B"), (6L, "A"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.crossSourceDupReport(pairs, docs, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // A has 3 docs, B has 3: within-A max = 3*2/2 = 3; cross max = 9
    assert(out(("A", "A")) == (1L, 3L, 333333L))
    assert(out(("A", "B")) == (1L, 9L, 111111L))
    assert(out(("B", "B")) == (1L, 3L, 333333L))
    assert(out.size == 3)
  }

  test("groupAwareSplit: near-dup groups land whole; singletons match withSplit") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Sampling.groupAwareSplit(docs, "doc_id", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("group_id"), r.getAs[String]("split"))).toMap
    // chain 1-2-3 resolves to min id 1; 7-8 to 7
    assert(Seq(1L, 2L, 3L).map(out(_)._1).distinct == Seq(1L))
    assert(Seq(7L, 8L).map(out(_)._1).distinct == Seq(7L))
    // the leakage property: every pair lands in exactly one split
    assert(Seq(1L, 2L, 3L).map(out(_)._2).distinct.size == 1)
    assert(Seq(7L, 8L).map(out(_)._2).distinct.size == 1)
    // unpaired docs group as themselves and split exactly like withSplit
    val solo = Sampling.withSplit(docs.filter(col("doc_id") > 8), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(out(9L) == (9L, solo(9L)))
    assert(out(10L) == (10L, solo(10L)))
  }

  test("randomProjectInt8: exact integer SRP over int8 codes; deterministic signs") {
    import spark.implicits._
    val signs = Similarity.projectionSigns("t", 2, 4)
    assert(Similarity.projectionSigns("t", 2, 4).map(_.toSeq).toSeq == signs.map(_.toSeq).toSeq)
    assert(signs.flatten.forall(s => s == 1 || s == -1))
    val vecs = Seq((1L, Array(127.0f, -63.5f, 31.75f, 0.0f)),
        (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector: no direction, excluded
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProjectInt8(vecs, "vec_id", "embedding",
        outDims = 2, dims = 4, seed = "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // scale = 127/127 = 1; codes = [127, floor(-63)= -63, floor(32.25)=32, 0]
    val codes = Seq(127L, -63L, 32L, 0L)
    def rp(j: Int): Long = codes.zip(signs(j)).map { case (c, s) => c * s }.sum
    assert(out(1L) == (rp(0), rp(1)))
    assert(!out.contains(2L))
  }

  test("spanDedupHashed matches spanDedup (hashed rank key is semantics-free)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),            // spans: "a b c", "d e f"
      (2L, "a b c x y z"),            // first span duplicates doc 1's
      (3L, "x y z"),                  // duplicates doc 2's second span
      (4L, "a b c")                   // fully duplicate -> doc vanishes
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val raw = Dedup.spanDedup(docs, "doc_id", "text", spanTokens = 3)
    val hashed = Dedup.spanDedupHashed(docs, "doc_id", "text", spanTokens = 3)
    assert(canon(raw) == canon(hashed))
    assert(canon(raw).map(r => (r.head, r(1))) ==
      Seq((1L, "a b c d e f"), (2L, "x y z")))
  }

  test("boilerplateLineRemoval: domain-frequent lines drop, docs rebuild in order") {
    import spark.implicits._
    val footer = "contact us"
    val docs = Seq(
      // domain A: footer in 3/4 docs (75% > 50%) -> boilerplate
      (1L, "A", s"alpha one\n$footer\nbody text"),
      (2L, "A", s"$footer\nbeta two"),
      (3L, "A", s"gamma three\n$footer"),
      (4L, "A", "delta four"),
      // domain B: same footer in 1/2 docs -> fails minDocs=2, kept
      (5L, "B", s"epsilon five\n$footer"),
      (6L, "B", "zeta six"),
      // domain C: doc that is ALL boilerplate vanishes
      (7L, "C", "only line"),
      (8L, "C", "only line"),
      (9L, "C", s"real content\nonly line")
    ).toDF("doc_id", "domain", "text")
    val out = Dedup.boilerplateLineRemoval(docs, "doc_id", "text", "domain",
        minDocs = 2, maxDocFracBp = 5000)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) == ("alpha one\nbody text", 2, 3)) // footer dropped, order kept
    assert(out(2L) == ("beta two", 1, 2))
    assert(out(3L) == ("gamma three", 1, 2))
    assert(out(4L) == ("delta four", 1, 1))
    assert(out(5L) == (s"epsilon five\n$footer", 2, 2)) // under minDocs frac in B
    assert(out(9L) == ("real content", 1, 2))
    assert(!out.contains(7L) && !out.contains(8L)) // all-boilerplate docs vanish
  }

  test("saltedJoin: salt is result-invisible vs a plain join") {
    import spark.implicits._
    val fact = (0L until 200L).map(i => (i % 3, i)).toDF("k", "v")
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two"), (9L, "unmatched"))
      .toDF("k", "name")
    val got = Skew.saltedJoin(fact, dim, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = fact.join(dim, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want && got.size == 200)
  }

  test("perceptual hashes: dHash bit-exact round-trip, aHash, near-dup pairs") {
    import graft.ops.Multimodal
    import spark.implicits._
    // synthPgmBits realizes EXACTLY the requested dHash bit-string
    for (bits <- Seq(0L, -1L, 0x0123456789abcdefL, 0x9E3779B97F4A7C15L)) {
      val img = Multimodal.decodeNetpbm(Multimodal.synthPgmBits(bits)).get
      assert(Multimodal.dHash64(img) == bits)
    }
    // dHash goes through grayResize: a 18x16 image downsamples to the
    // same grid it was upscaled from (nearest-neighbor idempotence)
    val base = Multimodal.decodeNetpbm(Multimodal.synthPgmBits(0x5555AAAA5555AAAAL)).get
    val up = Multimodal.resizeNearest(base, 18, 16)
    assert(Multimodal.dHash64(up) == 0x5555AAAA5555AAAAL)
    // aHash: flat image -> no pixel exceeds the mean -> 0
    val flat = Multimodal.ImageData(8, 8, 1, Array.fill(64)(100.toByte))
    assert(Multimodal.aHash64(flat) == 0L)
    // near-dup pairs: 2 groups of 4 variants; variant v flips v low
    // dHash bits, so within-group hamming = |va - vb| in 1..3 and the
    // Fibonacci-mixed group ids sit far apart -> exactly 6 pairs/group
    val imgs = (0L until 8L).map { id =>
      val bits = (id / 4) * 0x9E3779B97F4A7C15L ^ ((1L << (id % 4).toInt) - 1L)
      (id, Multimodal.synthPgmBits(bits))
    }.toDF("doc_id", "content")
    val pairs = Multimodal.imageNearDupPairs(imgs, "doc_id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.size == 12)
    assert(pairs.forall { case (a, b, _) => a / 4 == b / 4 })
    assert(pairs.contains((0L, 3L, 3)) && pairs.contains((4L, 5L, 1)))
    // undecodable rows are excluded, not crashed on
    val mixed = imgs.union(Seq((99L, "JFIF garbage".getBytes)).toDF("doc_id", "content"))
    assert(Multimodal.imageNearDupPairs(mixed, "doc_id", "content").count() == 12)
  }

  test("audio gradient hash: bit-exact round-trip and near-dup pairs") {
    import graft.ops.Multimodal
    import spark.implicits._
    for (bits <- Seq(0L, -1L, 0x0123456789abcdefL, 0x9E3779B97F4A7C15L)) {
      val a = Multimodal.decodeWav(Multimodal.synthWavBits(bits)).get
      assert(Multimodal.audioHash64(a) == bits)
    }
    // short clips hash 0, undecodable rows are excluded from pairs
    assert(Multimodal.audioHash64(Multimodal.AudioData(1, 16000, Array[Short](1, 2))) == 0L)
    val wavs = (0L until 8L).map { id =>
      val bits = (id / 4) * 0x9E3779B97F4A7C15L ^ ((1L << (id % 4).toInt) - 1L)
      (id, Multimodal.synthWavBits(bits))
    }.toDF("doc_id", "content")
      .union(Seq((99L, "not audio".getBytes)).toDF("doc_id", "content"))
    val pairs = Multimodal.audioNearDupPairs(wavs, "doc_id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.size == 12 && pairs.contains((0L, 3L, 3)))
  }

  test("wav decode: synth round-trip, sample values, truncation, non-wav") {
    import graft.ops.Multimodal
    val a = Multimodal.decodeWav(Multimodal.synthWav(5L, 10)).get
    assert((a.channels, a.sampleRate, a.samples.length) == (1, 16000, 10))
    assert(a.samples(0) == (5 - 32768).toShort)       // i=0: (0*7+5)%65536-32768
    assert(a.samples(3) == (26 - 32768).toShort)      // i=3: 21+5
    assert(Multimodal.decodeWav(Multimodal.synthWav(5L, 10).dropRight(1)) == None)
    assert(Multimodal.decodeWav("not audio at all".getBytes) == None)
  }

  test("perSourcePercentile: ties share a rank; singleton source pins to 0") {
    import spark.implicits._
    val stopwordy = "the and is of to in it you that he was for on are with"
    val docs = Seq((1L, "A", "zzz qqq"), (2L, "A", "zzz qqq"),
      (3L, "A", stopwordy), (4L, "B", "solo")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.perSourcePercentile(docs, "doc_id", "source", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("pct_micro")).toMap
    // identical texts tie at rank 1 -> 0; the stopword-rich doc ranks
    // 3rd of 3 -> (3-1)*1e6 div 2; a singleton source divides by
    // greatest(n-1,1) -> 0
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1000000L, 4L -> 0L))
  }

  test("lengthHistogram: bit-length buckets are exact at powers of two") {
    import spark.implicits._
    val df = Seq(("s", 1L), ("s", 7L), ("s", 8L), ("s", 15L), ("t", 16L))
      .toDF("source", "n_chars")
    val out = TextAnalysis.lengthHistogram(df, "source", "n_chars")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(("s", 1) -> (1L, 1L, 1L), ("s", 3) -> (1L, 7L, 7L),
      ("s", 4) -> (2L, 8L, 15L), ("t", 5) -> (1L, 16L, 16L)))
  }

  test("chiSquareDrift: closed-form three-source fixture with zero-cell mass") {
    import spark.implicits._
    // N=9, every e_micro = 1e6; A=(a:2,b:1): chi2 = 1 + 0 + zero-cell(c)=1
    // -> 2.0; C=(c:3): (3-1)^2/1 + zero(a) + zero(b) = 6.0
    val docs = Seq(("A", "a a b"), ("B", "a b b"), ("C", "c c c"))
      .toDF("source", "text")
    val out = TextAnalysis.chiSquareDrift(docs, "source", "text")
    assertSameRecords(out, Seq(
      Map("source" -> "A", "n_tokens" -> 3L, "chi2_micro" -> 2000000L),
      Map("source" -> "B", "n_tokens" -> 3L, "chi2_micro" -> 2000000L),
      Map("source" -> "C", "n_tokens" -> 3L, "chi2_micro" -> 6000000L)))
  }

  test("profileColumns: nulls, distincts, string-cast min/max; approx path sane") {
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y")), (4L, Some("x")))
      .toDF("id", "s")
    val out = Profile.profileColumns(df, Seq("id", "s"))
    assertSameRecords(out, Seq(
      Map("col_name" -> "id", "n_rows" -> 4L, "n_null" -> 0L, "n_distinct" -> 4L,
        "min_val" -> "1", "max_val" -> "4"),
      Map("col_name" -> "s", "n_rows" -> 4L, "n_null" -> 1L, "n_distinct" -> 2L,
        "min_val" -> "x", "max_val" -> "y")))
    val approx = Profile.profileColumns(df, Seq("s"), approx = true).collect()(0)
    assert(approx.getAs[Long]("n_rows") == 4L && approx.getAs[Long]("n_null") == 1L)
  }

  test("editDistancePairs: substitution/deletion/exact-dup pairs; d>1 excluded; empty string") {
    import spark.implicits._
    val rows = Seq((1L, "abc"), (2L, "abd"), (3L, "ab"), (4L, "xyz"),
      (5L, "abc"), (7L, ""), (8L, "a")).toDF("id", "s")
    val got = Dedup.editDistancePairs(rows, "id", "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 5L, 0), (2L, 3L, 1),
      (2L, 5L, 1), (3L, 5L, 1), (3L, 8L, 1), (7L, 8L, 1)))
  }

  test("heavyHitters: exact threshold set, partitioning-independent, MG decrement path") {
    import spark.implicits._
    // counts: a=11 b=2 c=1 d=1, total 15
    val docs = Seq("a a a a b", "a b c d", "a a a a a a").toDF("text")
    // kInv=4: only a (11*4 > 15); result identical however the sketch
    // pass is partitioned
    for (p <- Seq(1, 4)) {
      assertSameRecords(
        TextAnalysis.heavyHitters(docs.repartition(p), "text", kInv = 4),
        Seq(Map("tok" -> "a", "n_tok" -> 11L, "share_micro" -> 733333L)))
    }
    // kInv=8 admits b too (2*8 > 15)
    assertSameRecords(TextAnalysis.heavyHitters(docs, "text", kInv = 8), Seq(
      Map("tok" -> "a", "n_tok" -> 11L, "share_micro" -> 733333L),
      Map("tok" -> "b", "n_tok" -> 2L, "share_micro" -> 133333L)))
    // 4 distinct tokens through 2 MG slots in one partition forces the
    // decrement-all path; the exact recount still lands on a alone
    val skew = Seq("a a a b c d a a").toDF("text").repartition(1)
    assertSameRecords(TextAnalysis.heavyHitters(skew, "text", kInv = 2),
      Seq(Map("tok" -> "a", "n_tok" -> 5L, "share_micro" -> 625000L)))
  }

  test("redactPii masks emails, phones, SSN shapes; leaves clean text alone") {
    import spark.implicits._
    val got = Seq(
      "mail bob.smith+x@sub.example.co.uk now",
      "call 555-123-4567 or 555.123.4567",
      "ssn 123-45-6789 here",
      "no pii at all 12345",
      "v1.2.3 release notes" // version strings must survive
    ).toDF("t").select(graft.ops.TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "call <PHONE> or <PHONE>")
    assert(got(2) == "ssn <SSN> here")
    assert(got(3) == "no pii at all 12345")
    assert(got(4) == "v1.2.3 release notes")
  }

  test("decontaminate flags docs overlapping the benchmark set by >= minOverlap grams") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 3-grams with bench
      (2L, "completely unrelated text about spark shuffles and joins"),
      (3L, "the quick brown cat sleeps")                   // shares ONE 3-gram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps tonight")).toDF("doc_id", "text")
    val got = graft.ops.Decontaminate.flags(corpus, bench, "doc_id", "text",
        n = 3, minOverlap = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("contaminated_grams"), r.getAs[Boolean]("contaminated"))).toMap
    assert(got(1L) == (3L, true))  // "the quick brown","quick brown fox","brown fox jumps"
    assert(got(2L) == (0L, false))
    assert(got(3L) == (1L, false)) // one shared gram < minOverlap
  }

  test("packWindows chunks the per-shard token stream deterministically") {
    import spark.implicits._
    // one shard (ids all ≡ 1 mod 16): 3+4+5 tokens, capacity 6
    val docs = Seq(
      (1L, "a b c"), (17L, "d e f g"), (33L, "h i j k l")
    ).toDF("doc_id", "text")
    val got = graft.ops.Packing.packWindows(docs, "doc_id", "text",
        capacity = 6, shards = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("window_id"), r.getAs[Boolean]("straddles"))).toMap
    assert(got(1L) == (0L, false))  // tokens 0-2
    assert(got(17L) == (0L, true))  // tokens 3-6: crosses window 0->1
    assert(got(33L) == (1L, false)) // tokens 7-11 fit inside window 1 (6-11)
    // rerun after repartition: identical assignment (pure function)
    val again = graft.ops.Packing.packWindows(docs.repartition(5), "doc_id", "text",
        capacity = 6, shards = 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("window_id")).toMap
    assert(again == got.view.mapValues(_._1).toMap)
  }

  test("chunkDocs: overlapping token windows cover the doc; short docs pass through whole") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b"),                            // under one chunk
      (3L, "x")                               // single token
    ).toDF("doc_id", "text")
    val got = graft.ops.Packing.chunkDocs(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
        (r.getAs[String]("chunk_text"), r.getAs[Int]("chunk_tokens"))).toMap
    // stride 3: chunks at 0,3,6 -> [t0..t3], [t3..t6], [t6..t9]; last is 4 tokens
    assert(got((1L, 0)) == ("t0 t1 t2 t3", 4))
    assert(got((1L, 1)) == ("t3 t4 t5 t6", 4))
    assert(got((1L, 2)) == ("t6 t7 t8 t9", 4))
    assert(got((2L, 0)) == ("a b", 2))
    assert(got((3L, 0)) == ("x", 1))
    assert(got.size == 5)
    // consecutive chunks share exactly `overlap` boundary tokens
    assert(got((1L, 0))._1.split(" ").last == got((1L, 1))._1.split(" ").head)
  }

  test("byExtreme string field: float-equal numeric strings tie -> earliest ingested") {
    import spark.implicits._
    // "1.0" and "1" parse to the same float64: CompareValues returns 0,
    // so the fold keeps the earliest-ingested record — string order must
    // never break the tie (transform.go:1052-1117).
    val df = Seq((1L, "k", "1.0"), (2L, "k", "1"), (3L, "k", "abc"), (4L, "k", "2"))
      .toDF("id", "g", "s")
    val mn = Dedup.byExtreme(df, Seq("g"), "s", max = false)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(mn == Seq(1L)) // 1.0 == 1 tie, id 1 earliest
    val mx = Dedup.byExtreme(df, Seq("g"), "s", max = true)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(mx == Seq(3L)) // non-numeric class ranks above numerics for max
  }

  test("byExtreme cross-class DIVERGENCE pinned: digit-leading non-numeric vs numeric string") {
    import spark.implicits._
    // Known, documented divergence from the reference: CompareValues
    // falls back to strings.Compare for ("5x", "9") -> "5x" < "9"
    // (ASCII '5' < '9'), while this impl ranks ALL numeric strings
    // below ALL non-numeric strings, so min picks "9". The reference's
    // pairwise raw-string compare is not a total order (it depends on
    // fold encounter order); a deterministic class ranking is the
    // price of a distributed sort. This test pins OUR ordering so any
    // change to it is deliberate.
    val df = Seq((1L, "k", "9"), (2L, "k", "5x")).toDF("id", "g", "s")
    val mn = Dedup.byExtreme(df, Seq("g"), "s", max = false)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(mn == Seq(1L)) // impl: numeric "9" < non-numeric "5x"; reference: "5x" first
    val mx = Dedup.byExtreme(df, Seq("g"), "s", max = true)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(mx == Seq(2L))
  }

  test("byExtreme min/max with earliest-ingested tiebreak") {
    val mn = Dedup.byExtreme(events, Seq("k"), "v", max = false)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toMap
    assert(mn == Map("a" -> 2L, "b" -> 3L)) // v=3.0 tie: id 2 earliest
    val mx = Dedup.byExtreme(events, Seq("k"), "v", max = true)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toMap
    assert(mx == Map("a" -> 1L, "b" -> 3L))
  }

  test("dedupExtremeStream ordering: CompareValues classes, ties keep the incumbent") {
    import Dedup.strictlyBetter
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
      val batch = Dedup.byExtreme(
        Dedup.withIngestSeq(df.orderBy("arrival").coalesce(1)),
        Seq("g"), "s", max = max)
        .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
      val stream = rows.groupBy(_._2).map { case (g, rs) =>
        var cur: (Long, String, String) = null
        rs.sortBy(_._1).foreach { r =>
          if (cur == null || Dedup.strictlyBetter(r._3, cur._3, isString = true, max = max))
            cur = r
        }
        g -> cur._1
      }
      assert(stream == batch, s"max=$max")
    }
  }

  test("ingest order is stable across multi-file reads (file path, block, row)") {
    import spark.implicits._
    val dir = tempDir("graft-seq").toString
    // two files written separately -> two splits; order must follow
    // (file_path, block, row-in-partition), not split packing
    Seq((1L, "k", "f1-first"), (2L, "k", "f1-second")).toDF("id", "k", "tag")
      .coalesce(1).write.parquet(dir + "/p=a")
    Seq((3L, "k", "f2-first")).toDF("id", "k", "tag")
      .coalesce(1).write.parquet(dir + "/p=b")
    val df = spark.read.parquet(dir + "/p=a", dir + "/p=b")
    val kept = Dedup.byIngestOrder(df, Seq("k"), keepFirst = true).collect()
    assert(kept.length == 1)
    // p=a sorts before p=b -> f1-first wins deterministically
    assert(kept.head.getAs[String]("tag") == "f1-first")
    val keptLast = Dedup.byIngestOrder(df, Seq("k"), keepFirst = false).collect()
    assert(keptLast.head.getAs[String]("tag") == "f2-first")
  }

  test("ingest-order file ordinals follow the rendered file_path, URL-encoding included") {
    import spark.implicits._
    val dir = tempDir("graft-seq-names").toString
    // a space and a '%' render URL-encoded, so "a b" sorts after "a!b"
    // as a rendered path and before it as a raw one
    val names = Seq("a b", "a%b", "a!b", "a+b", "plain")
    names.zipWithIndex.foreach { case (n, i) =>
      Seq((i.toLong, "k")).toDF("id", "k").coalesce(1).write.parquet(s"$dir/$n")
    }
    val df = spark.read.parquet(names.map(n => s"$dir/$n"): _*)
    val seq = Dedup.withIngestSeq(df)
      .select(col("_metadata.file_path").as("p"), col("_seq.f").as("f"))
    val byPath = seq.orderBy("p").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(byPath.map(_._2) == byPath.indices, byPath)
    assert(byPath.exists(_._1.contains("a%20b")) && byPath.exists(_._1.contains("a%25b")), byPath)
  }

  test("minhash near-dup pairs finds the planted near-duplicate only") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                            // near-dup of 1
      (3L, "completely different content about spark engines and data"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleSize = 4, numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash64: identical docs identical signature; near-dups close in hamming") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("ngram jaccard: exact duplicate scores 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "z y x w v u t s")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("cosine top-k: nearest neighbor is the almost-parallel vector") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 1), vecs,
      "vec_id", "embedding", k = 2).collect()
    assert(top.map(_.getAs[Long]("nid")).toSeq == Seq(2L, 3L))
  }

  test("lsh buckets: identical vectors collide; topk contains exact dup") {
    import spark.implicits._
    val v = Array.tabulate(8)(i => (math.sin(i + 1)).toFloat)
    val vecs = Seq((1L, v), (2L, v), (3L, v.map(x => -x))).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(vecs, "vec_id", "embedding", dims = 8, k = 1, planes = 6)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    assert(top.contains((1L, 2L)) && top.contains((2L, 1L)))
  }

  test("binary ANN: sign pack closed-form, hamming, exact when rerank covers corpus") {
    import spark.implicits._
    // signPack: bit i set iff v(i) >= 0; IEEE -0.0 >= 0 is TRUE
    val packed = Seq(Tuple1(Array(1.0, -1.0, 0.0, -0.0, 2.0))).toDF("v")
      .select(Similarity.signPack(col("v"), 5).as("bits"))
      .collect().head.getSeq[Long](0)
    assert(packed == Seq(0x1DL), s"expected 0b11101, got $packed") // 1,0,1,1,1
    // 65 dims -> two words; dim 64 lands in word 1 bit 0
    val two = Seq(Tuple1(Array.fill(65)(1.0))).toDF("v")
      .select(Similarity.signPack(col("v"), 65).as("bits"))
      .collect().head.getSeq[Long](0)
    assert(two == Seq(-1L, 1L)) // word0 all 64 bits set, word1 bit 0
    // hamming = popcount(xor) across words = count of sign disagreements
    val h = Seq((Array(1.0, -1.0, 1.0, 1.0), Array(1.0, 1.0, -1.0, 1.0)))
      .toDF("a", "b")
      .select(Similarity.hammingDist(
        Similarity.signPack(col("a"), 4), Similarity.signPack(col("b"), 4)).as("h"))
      .collect().head.getInt(0)
    assert(h == 2)
    // with rerank covering the whole corpus the result IS brute force
    val vecs = (1L to 12L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d)))).toDF("vec_id", "embedding")
    val bin = Similarity.binaryTopK(vecs, vecs, "vec_id", "embedding",
        dims = 8, k = 3, rerank = 11)
      .select("qid", "nid", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .select("qid", "nid", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bin == bf)
    // coarse pass is real: an exact-duplicate vector is hamming-0 and
    // survives any rerank cut ahead of everything else
    val dup = Seq((1L, Array(0.5, -0.25, 0.125, 1.0)),
      (2L, Array(0.5, -0.25, 0.125, 1.0)),
      (3L, Array(-0.5, 0.25, -0.125, -1.0))).toDF("vec_id", "embedding")
    val top1 = Similarity.binaryTopK(dup.filter(col("vec_id") === 1), dup,
        "vec_id", "embedding", dims = 4, k = 1, rerank = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Int]("ham"))).toSet
    assert(top1 == Set((1L, 2L, 0)))
  }

  test("knn classify: majority vote, best-rank tiebreak, ann-backend swap") {
    import spark.implicits._
    val pairs = Seq(
      // q1: label 20 outvotes 10 (2 votes vs 1)
      (1L, 101L, 1), (1L, 102L, 2), (1L, 103L, 3),
      // q2: 1-1 vote tie -> label holding the nearer neighbor wins
      (2L, 104L, 1), (2L, 101L, 2))
      .toDF("qid", "nid", "rank")
    val labels = Seq((101L, 10), (102L, 20), (103L, 20), (104L, 30))
      .toDF("vec_id", "label")
    val out = Similarity.knnClassifyFrom(pairs, labels, "vec_id", "label")
      .collect().map(r => r.getAs[Long]("qid") ->
        (r.getAs[Int]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(out(1L) == (20, 2L))
    assert(out(2L) == (30, 1L)) // rank-1 neighbor breaks the vote tie
    // end-to-end: a query inside a labeled cluster takes its label
    val vecs = Seq(
      (1L, Array(1.0f, 0.05f), 7), (2L, Array(1.0f, -0.05f), 7),
      (3L, Array(0.9f, 0.1f), 7), (4L, Array(0.0f, 1.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val pred = Similarity.knnClassify(vecs.filter($"vec_id" === 1), vecs,
      "vec_id", "embedding", "label", k = 3).collect().head
    assert(pred.getAs[Int]("pred_label") == 7)
  }

  test("margin pairs: hub correction exact in ppm; degenerate pairs drop") {
    import spark.implicits._
    // hand-built self top-2 relation: 2 is a "hub" (high neighborhood
    // mean), so its pairs are margin-penalized relative to raw cosine
    val pairs = Seq(
      (1L, 2L, 1, 0.9), (1L, 3L, 2, 0.1),
      (2L, 1L, 1, 0.9), (2L, 3L, 2, 0.7),
      (3L, 2L, 1, 0.7), (3L, 1L, 2, 0.1))
      .toDF("qid", "nid", "rank", "cos")
    val m = Similarity.marginPairs(pairs, k = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) ->
        r.getAs[Long]("margin_ppm")).toMap
    // sums: s1 = 1_000_000, s2 = 1_600_000, s3 = 800_000 micro
    assert(m((1L, 2L)) == 900000L * 4000000L / 2600000L) // 1_384_615
    assert(m((2L, 3L)) == 700000L * 4000000L / 2400000L) // 1_166_666
    assert(m((3L, 2L)) == m((2L, 3L))) // symmetric cos, same endpoints
    // a pair whose nid has no own neighborhood is dropped (inner join
    // makes the self-relation contract visible), as is a pair whose
    // combined neighborhood mean is non-positive
    val part = Seq((1L, 9L, 1, 0.5), (1L, 2L, 2, 0.4), (2L, 1L, 1, 0.4),
      (5L, 6L, 1, -0.5), (6L, 5L, 1, -0.5))
      .toDF("qid", "nid", "rank", "cos")
    val kept = Similarity.marginPairs(part, k = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L), (2L, 1L)))
  }

  test("bm25Retrieve: distinctive term finds its doc; stop terms are dead") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple pie recipe with apple and sugar"),
      (2L, "car engine repair manual"),
      (3L, "apple orchard growing guide"),
      (4L, "the cat sat"), (5L, "the dog ran")) // "the" not in >half: 2/5
      .toDF("doc_id", "text")
    val q = Seq((100L, "apple recipe")).toDF("qid", "qtext")
    val out = Ranking.bm25Retrieve(q, "qid", "qtext", docs, "doc_id", "text", topK = 3)
      .orderBy("rank").collect()
    // doc 1 has both query terms (apple twice + recipe): rank 1
    assert(out.head.getAs[Long]("doc_id") == 1L &&
      out.head.getAs[Long]("n_matched") == 2L)
    // doc 3 matches only "apple"
    assert(out.map(_.getAs[Long]("doc_id")).contains(3L))
    assert(!out.map(_.getAs[Long]("doc_id")).contains(2L))
    // a term in more than half the docs is stop-capped out entirely
    val docs2 = Seq((1L, "common a"), (2L, "common b"), (3L, "common c"))
      .toDF("doc_id", "text")
    val dead = Ranking.bm25Retrieve(
      Seq((9L, "common")).toDF("qid", "qtext"), "qid", "qtext",
      docs2, "doc_id", "text", topK = 3)
    assert(dead.count() == 0)
  }

  test("recallAudit: per-query hits vs exact; zero-hit query reported") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("qid", "nid")
    val ann = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 7L), (2L, 8L))
      .toDF("qid", "nid")
    val out = Similarity.recallAudit(ann, exact)
      .collect().map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("recall_micro"))).toMap
    assert(out(1L) == (3L, 2L, 666666L))
    assert(out(2L) == (2L, 0L, 0L)) // misses entirely, still reported
  }

  test("scd2: no-op collapse, [from, to) chaining, is_current") {
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, 1L, "A"), (1L, 200L, 2L, "A"), // no-op update collapses
      (1L, 300L, 3L, "B"), (1L, 400L, 4L, "A"), // back to A = NEW version
      (2L, 150L, 5L, "X"))
      .toDF("k", "ts", "seq", "v")
    val out = Snapshot.scd2(ev, Seq("k"), "ts", "v", tiebreak = Seq("seq"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("effective_from")) ->
        (r.getAs[String]("v"), Option(r.getAs[java.lang.Long]("effective_to")),
          r.getAs[Boolean]("is_current"))).toMap
    assert(out.size == 4)
    assert(out((1L, 100L)) == ("A", Some(300L), false)) // spans the no-op at 200
    assert(out((1L, 300L)) == ("B", Some(400L), false))
    assert(out((1L, 400L)) == ("A", None, true))
    assert(out((2L, 150L)) == ("X", None, true))
  }

  test("goertzel: sine peaks at its own bin; undecodable flagged") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.synthSineWav(1000, 256)),
      (2L, Multimodal.synthSineWav(4000, 256)),
      (3L, Array[Byte](1, 2, 3))) // not a WAV
      .toDF("doc_id", "content")
    val out = Multimodal.dominantFrequency(rows, "doc_id", "content")
      .collect().map(a => a.doc_id -> a).toMap
    assert(out(1L).decoded && out(1L).dominant_hz == 1000)
    assert(out(2L).decoded && out(2L).dominant_hz == 4000)
    assert(!out(3L).decoded && out(3L).dominant_hz == -1)
    // the peak is decisive, not marginal: >10x the next bin
    val p = out(1L).probe_hz.zip(out(1L).power).toMap
    assert(p(1000) > 10 * p(2000) && p(1000) > 10 * p(500))
  }

  test("multimodal: per-partition features match driver-side recompute") {
    import spark.implicits._
    val df = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
      .withColumn("content", col("text").cast("binary"))
    val feats = Multimodal.extractFeatures(df, "doc_id", "content")
      .collect().map(f => f.doc_id -> f).toMap
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val expect = md5.digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(feats(1L).n_bytes == 5 && feats(1L).head_byte == 'h'.toInt &&
      feats(1L).content_md5 == expect)
    assert(feats(2L).n_bytes == 0 && feats(2L).head_byte == -1)
    assert(Multimodal.sampleFrames(df.filter(col("doc_id") === 1), "doc_id", "content", 2)
      .collect().length == 2)
    assertThrows[NotImplementedError](Multimodal.decodeVideo(Array[Byte](1)))
  }

  test("stripMarkup: script/style content dropped, tags spaced, entities decoded in order") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<p>Hello<br/>world</p>"),
      (2L, "a<script src=\"x\"> if (1<2) alert()</script>b"),
      (3L, "x<style>p { color: red }</style>y"),
      (4L, "keep <!-- secret -->this"),
      (5L, "&amp;lt; is a literal, &lt;b&gt; is angled, A&nbsp;B"),
      (6L, "unclosed < stays"),
      (7L, "  <div>   spaced    out   </div>  "))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.stripMarkup(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "Hello world")
    assert(rows(2L) == "a b", s"script content must vanish: '${rows(2L)}'")
    assert(rows(3L) == "x y")
    assert(rows(4L) == "keep this")
    // &amp;lt; -> literal "&lt;" (decode &amp; LAST); &lt;b&gt; -> <b> as TEXT
    assert(rows(5L) == "&lt; is a literal, <b> is angled, A B")
    assert(rows(6L) == "unclosed < stays")
    assert(rows(7L) == "spaced out")
  }

  test("text analysis: token stats, langId markers, fingerprint normalization") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "el perro y la casa de los gatos"),
      (3L, "xyzzy plugh")).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Int]("n") == 5)
    assert(out(1L).getAs[String]("lang") == "en")
    assert(out(2L).getAs[String]("lang") == "es")
    assert(out(3L).getAs[String]("lang") == "und")
    // fingerprint ignores case and whitespace runs
    val fp2 = df.select(TextAnalysis.fingerprint(lit("THE  cat and the DOG"))).collect().head.getString(0)
    assert(out(1L).getAs[String]("fp") == fp2)
  }

  test("ndcg: perfect ranking scores 1e6, reversal discounts, unjudged docs score zero") {
    import spark.implicits._
    val disc = Ranking.discountTable(3).toMap
    val truth = Seq((1L, 10L, 2L), (1L, 11L, 1L), (2L, 20L, 1L))
      .toDF("qid", "doc", "rel")
    // q1 ranked ideally (rel 2 first); q2 returns an unjudged doc first
    val results = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 99L, 1), (2L, 20L, 2))
      .toDF("qid", "doc", "rank")
    val got = Ranking.ndcg(results, truth, "qid", "doc", "rank", "rel", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(got(1L)._3.contains(1000000L)) // ideal order
    // q2: dcg = 1*disc(2); idcg = 1*disc(1) -> ndcg = disc2/disc1
    val expected = disc(2) * 1000000L / disc(1)
    assert(got(2L) == ((disc(2), disc(1), Some(expected))))
    // swapping q1's order drops ndcg below 1
    val swapped = Seq((1L, 11L, 1), (1L, 10L, 2)).toDF("qid", "doc", "rank")
    val s = Ranking.ndcg(swapped, truth, "qid", "doc", "rank", "rel", k = 3)
      .collect().map(r => r.getLong(0) -> r.get(3)).toMap
    assert(s(1L).asInstanceOf[Long] < 1000000L)
  }

  test("exactProportionSample: Hamilton quotas, remainder tie-break, repartition stability") {
    import spark.implicits._
    // strata a: 3 rows, b: 3 rows, p = 0.5 -> T = 3, base 1+1,
    // remainders tie at 500000 -> stratum-asc gives the +1 to 'a'
    val df = (1 to 3).map(i => (i.toLong, "a")).++((4 to 6).map(i => (i.toLong, "b")))
      .toDF("id", "st")
    val got = Sampling.exactProportionSample(df, "id", "st", 500000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == 3)
    assert(got.count(_._2 == "a") == 2 && got.count(_._2 == "b") == 1)
    // deterministic under repartitioning
    val again = Sampling.exactProportionSample(df.repartition(7), "id", "st", 500000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == again.toSet)
    // p = 0 -> empty; p = 1e6 -> everything
    assert(Sampling.exactProportionSample(df, "id", "st", 0L).count() == 0)
    assert(Sampling.exactProportionSample(df, "id", "st", 1000000L).count() == 6)
  }

  test("imageEdgeEnergy: step edge, flat image, P6 luma, tiny and garbage inputs") {
    import spark.implicits._
    // 4x3 P5 step edge: cols 0-1 black, cols 2-3 white -> two interior
    // pixels, each |Gx| = 4*255 = 1020, |Gy| = 0 -> total 2040
    val step = "P5\n4 3\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(12)(i => if (i % 4 >= 2) 255.toByte else 0.toByte)
    // flat image -> zero energy; 2x2 -> no interior -> zero energy
    val flat = "P5\n4 3\n255\n".getBytes("US-ASCII") ++ Array.fill(12)(77.toByte)
    val tiny = "P5\n2 2\n255\n".getBytes("US-ASCII") ++ Array.fill(4)(9.toByte)
    // 3x3 P6 with r=g=b (luma = value): col2 white -> one interior
    // pixel, |Gx| = 1020, |Gy| = 0
    val p6 = "P6\n3 3\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(27)(i => if ((i / 3) % 3 == 2) 255.toByte else 0.toByte)
    val df = Seq(
      (1L, step), (2L, flat), (3L, tiny), (4L, p6),
      (5L, "not an image".getBytes("US-ASCII"))
    ).toDF("doc_id", "content")
    val got = Multimodal.imageEdgeEnergy(df, "doc_id", "content").collect()
      .map(e => e.doc_id -> (e.decoded, e.edge_energy)).toMap
    assert(got(1L) == ((true, 2040L)))
    assert(got(2L) == ((true, 0L)))
    assert(got(3L) == ((true, 0L)))
    assert(got(4L) == ((true, 1020L)))
    assert(got(5L) == ((false, 0L)))
  }
}
