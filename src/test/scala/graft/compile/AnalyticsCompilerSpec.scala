package graft.compile

import graft.SparkTestBase
import graft.config.{AnalyticsStage, PlaybookLoader}
import org.apache.spark.sql.functions._

/** The `analytics:` playbook section (SURVEY §7E): load-time
  * validation, stage semantics, and the full YAML-file → cli.Main →
  * parquet-out round trip. */
class AnalyticsCompilerSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def stage(op: String, params: (String, Any)*) =
    AnalyticsStage(op, params.toMap)

  test("validation accumulates: unknown op, missing params, bad SQL, bad enums") {
    val errs = AnalyticsCompiler.validate(Seq(
      stage("frobnicate"),
      stage("corpus_clean", "idCol" -> "id"),              // missing textCol
      stage("where", "condition" -> "SELEC broken ("),     // unparseable
      stage("url_dedup", "idCol" -> "id", "urlCol" -> "u", "mode" -> "purge"),
      stage("exact_dedup", "keys" -> Seq("k"), "keep" -> "newest")))
    assert(errs.size == 5, errs.mkString("\n"))
    assert(errs(0).contains("unknown op 'frobnicate'"))
    assert(errs(1).contains("missing textCol"))
    assert(errs(2).contains("bad condition"))
    assert(errs(3).contains("mode 'purge'"))
    assert(errs(4).contains("keep 'newest'"))
  }

  test("validation uses the typed decoders: empty strings, wrong types, empty lists all fail at load") {
    val errs = AnalyticsCompiler.validate(Seq(
      stage("where", "condition" -> ""),            // empty string
      stage("quality_gate", "textCol" -> 123),      // wrong type
      stage("sample", "keyCol" -> "id", "pct" -> "10"), // quoted number
      stage("exact_dedup", "keys" -> Seq.empty[String]), // empty list
      stage("aggregate", "aggs" -> Map.empty[String, String])))
    assert(errs.size == 5, errs.mkString("\n"))
    assert(errs(0).contains("missing condition"))
    assert(errs(1).contains("missing textCol"))
    assert(errs(2).contains("missing pct"))
    assert(errs(3).contains("missing keys"))
    assert(errs(4).contains("missing aggs"))
  }

  test("a present optional param of the wrong type fails at load, not as its default") {
    val errs = AnalyticsCompiler.validate(Seq(
      stage("near_dup_dedup", "idCol" -> "id", "textCol" -> "t", "threshold" -> "0.9"),
      stage("near_dup_dedup", "idCol" -> "id", "textCol" -> "t", "portableHashing" -> "true"),
      stage("incr_neardup", "idCol" -> "id", "textCol" -> "t", "stateDir" -> "/s",
        "updateState" -> "true"),
      stage("corpus_clean", "idCol" -> "id", "textCol" -> "t", "bands" -> "four"),
      stage("split", "keyCol" -> "k", "trainPct" -> 80.5),
      stage("sessionize", "keyCol" -> "k", "tsCol" -> "ts", "tiebreak" -> Seq("a", null))))
    assert(errs == Seq(
      """analytics[0] (near_dup_dedup): param 'threshold' must be a number (got "0.9")""",
      """analytics[1] (near_dup_dedup): param 'portableHashing' must be true or false (got "true")""",
      """analytics[2] (incr_neardup): param 'updateState' must be true or false (got "true")""",
      """analytics[3] (corpus_clean): param 'bands' must be an integer or 'auto' (got "four")""",
      """analytics[4] (split): param 'trainPct' must be an integer (got 80.5)""",
      "analytics[5] (sessionize): param 'tiebreak' must be a list of strings (got List(a, null))"),
      errs.mkString("\n"))
    // near_dup_dedup and corpus_clean share one `bands` declaration: auto is valid on both
    assert(AnalyticsCompiler.validate(Seq(
      stage("near_dup_dedup", "idCol" -> "id", "textCol" -> "t", "bands" -> "auto"),
      stage("corpus_clean", "idCol" -> "id", "textCol" -> "t", "bands" -> "auto"))).isEmpty)
    // the same through YAML: a quoted number is a string
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString("""
      |source: {type: parquet, file: /tmp/in.parquet}
      |destination: {type: parquet, file: /tmp/o}
      |analytics:
      |  - {op: quality_gate, textCol: t, minQuality: "0.5"}
      |""".stripMargin)).getMessage
    assert(e.contains("param 'minQuality' must be a number"), e)
  }

  test("numHashes % bands is checked at load for every MinHash op") {
    val mh = Seq("idCol" -> "id", "textCol" -> "t", "numHashes" -> 10)
    val errs = AnalyticsCompiler.validate(Seq(
      stage("near_dup_dedup", mh :+ ("bands" -> 4): _*),
      stage("corpus_clean", mh: _*), // the default bands=4
      stage("incr_neardup", mh :+ ("stateDir" -> "/s"): _*),
      stage("near_dup_dedup", mh :+ ("bands" -> 0): _*)))
    assert(errs == Seq(
      "analytics[0] (near_dup_dedup): numHashes (10) must be divisible by bands (4)",
      "analytics[1] (corpus_clean): numHashes (10) must be divisible by bands (4)",
      "analytics[2] (incr_neardup): numHashes (10) must be divisible by bands (4)",
      "analytics[3] (near_dup_dedup): numHashes (10) must be divisible by bands (0)"),
      errs.mkString("\n"))
    // bands: auto always picks a divisor
    assert(AnalyticsCompiler.validate(Seq(stage("corpus_clean", mh :+ ("bands" -> "auto"): _*))).isEmpty)
  }

  test("corpus_clean on the portable path honours shingleSize and numHashes") {
    val text = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, text), (2L, text + "!"), (3L, text),
      (4L, "a completely different sentence about cooking pasta with fresh tomatoes"),
      (5L, "a completely different sentence about cooking pasta with fresh tomato"),
      (6L, "unrelated words entirely: astronomy telescopes galaxies and nebulae"))
      .toDF("doc_id", "text")
    // 6 hashes in 3 bands: the hard-coded 8 portable hashes do not divide into 3 bands
    val mh = Seq("idCol" -> "doc_id", "textCol" -> "text", "portableHashing" -> true,
      "shingleSize" -> 3, "numHashes" -> 6, "bands" -> 3, "threshold" -> 0.5)
    val clean = Seq(stage("corpus_clean", mh :+ ("minQuality" -> 0.0): _*))
    assert(AnalyticsCompiler.validate(clean).isEmpty)
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("doc_id").as[Long].collect().toSet
    val viaClean = ids(AnalyticsCompiler(spark, docs, clean))
    val viaSteps = ids(AnalyticsCompiler(spark, docs, Seq(
      stage("quality_gate", "textCol" -> "text", "minQuality" -> 0.0),
      stage("exact_dedup", "keys" -> Seq("text")),
      stage("near_dup_dedup", mh: _*))))
    graft.ops.CachedRelations.releaseAll()
    assert(viaClean == viaSteps)
    assert(!viaClean.contains(3L), "exact duplicate kept")
  }

  test("a stage reads only the params its op declares, with the declared kind") {
    val args = AnalyticsCompiler.ops("split").args(Map("keyCol" -> "k"))
    assert(args.int("trainPct") == 90 && args.str("keyCol") == "k")
    assert(intercept[IllegalArgumentException](args.int("trainPercent"))
      .getMessage.contains("does not declare"))
    assert(intercept[IllegalArgumentException](args.str("trainPct"))
      .getMessage.contains("declares an integer"))
  }

  test("resample/gap_report/zorder_cluster stages: validation and semantics") {
    val errs = AnalyticsCompiler.validate(Seq(
      stage("resample", "keys" -> Seq("k")),          // missing tsCol, valueCol
      stage("gap_report", "tsCol" -> "ts"),           // missing keys
      stage("zorder_cluster")))                       // missing dims
    assert(errs.size == 3, errs.mkString("\n"))
    assert(errs(0).contains("missing tsCol, valueCol"))
    assert(errs(1).contains("missing keys"))
    assert(errs(2).contains("missing dims"))

    val day = (d: Int) => new java.sql.Timestamp(1704067200000L + d * 86400000L)
    val events = Seq((1L, day(0), 10.0), (1L, day(2), 30.0)).toDF("k", "ts", "v")
    val resampled = AnalyticsCompiler(spark, events, Seq(
      stage("resample", "keys" -> Seq("k"), "tsCol" -> "ts", "valueCol" -> "v")))
    assert(resampled.count() == 3)
    assert(resampled.filter(col("n_obs") === 0).select("v_interp")
      .head().getDouble(0) == 20.0)
    val rep = AnalyticsCompiler(spark, events, Seq(
      stage("gap_report", "keys" -> Seq("k"), "tsCol" -> "ts")))
    assert(rep.select("longest_gap_buckets").head().getLong(0) == 1L)

    val pts = (0 until 100).map(i => (i.toLong, (i * 37 % 100).toLong)).toDF("x", "y")
    val clustered = AnalyticsCompiler(spark, pts, Seq(
      stage("zorder_cluster", "dims" -> Seq("x", "y"), "bits" -> 6)))
    assert(clustered.columns.contains("zval") && clustered.count() == 100)

    // audience_overlap: exact regime, one pair
    val aud = (Seq.tabulate(30)(v => ("x", v.toLong)) ++
      Seq.tabulate(30)(v => ("y", v.toLong + 15))).toDF("seg", "uid")
    val ov = AnalyticsCompiler(spark, aud, Seq(
      stage("audience_overlap", "groupCol" -> "seg", "valueCol" -> "uid")))
    val r = ov.head()
    assert(r.getLong(4) == 45L && r.getLong(3) == 15L,
      s"union ${r.getLong(4)} common ${r.getLong(3)}")
    assert(AnalyticsCompiler.validate(Seq(stage("audience_overlap")))
      .head.contains("missing groupCol, valueCol"))
  }

  test("expect validation: dropped non-map rules, unknown types, bad refType all error") {
    def jl(items: Any*): java.util.List[Any] = {
      val l = new java.util.ArrayList[Any](); items.foreach(l.add); l
    }
    def jm(kv: (String, Any)*): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => m.put(k, v) }; m
    }
    val errs = AnalyticsCompiler.validate(Seq(stage("expect",
      "rules" -> jl(
        "not_null", // bare string: a YAML indentation slip
        jm("type" -> "frob", "col" -> "x"),
        jm("type" -> "in_range", "col" -> "x"), // missing lo, hi
        jm("type" -> "ref_integrity", "col" -> "k", "refType" -> "parqet",
          "refFile" -> "/tmp/x", "refCol" -> "c")))))
    assert(errs.exists(_.contains("not a mapping")), errs.mkString("\n"))
    assert(errs.exists(_.contains("unknown type 'frob'")))
    assert(errs.exists(_.contains("missing lo, hi")))
    assert(errs.exists(_.contains("refType 'parqet'")))
  }

  test("binary source -> derive id -> image_features: media ingestion from config") {
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft-media").toString
    Files.write(Paths.get(dir, "a.png"), graft.ops.Multimodal.synthPng(1, 6, 4, 2))
    Files.write(Paths.get(dir, "b.gif"), graft.ops.Multimodal.synthGif(2, 6, 4))
    Files.write(Paths.get(dir, "c.tif"), graft.ops.Tiff.synth(3, 6, 4))
    Files.write(Paths.get(dir, "junk.bin"), Array[Byte](1, 2, 3))
    val yaml = s"""
      |source:
      |  type: binary
      |  file: $dir
      |destination:
      |  type: parquet
      |  file: /tmp/graft_playbook_unused
      |analytics:
      |  - op: derive
      |    target: doc_id
      |    expr: "xxhash64(path)"
      |  - op: image_features
      |    idCol: doc_id
      |    contentCol: content
      |""".stripMargin
    val out = PipelineCompiler.compile(spark,
      PlaybookLoader.fromString(yaml)).main.collect()
    assert(out.length == 4)
    val decoded = out.filter(_.getAs[Boolean]("decoded"))
    assert(decoded.length == 3, "three real rasters, one junk")
    assert(decoded.forall(r => r.getAs[Int]("width") == 6 && r.getAs[Int]("height") == 4))
  }

  test("where/derive/select/aggregate stages compile to the plain relational plan") {
    val df = Seq((1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "b", 1.0))
      .toDF("id", "g", "v")
    val out = AnalyticsCompiler(spark, df, Seq(
      stage("where", "condition" -> "v > 2"),
      stage("derive", "target" -> "v2", "expr" -> "v * 2"),
      stage("aggregate", "groupBy" -> Seq("g"),
        "aggs" -> Map("n" -> "COUNT(*)", "sum_v2" -> "SUM(v2)")),
      stage("select", "cols" -> Seq("g", "n", "sum_v2"))))
    val got = out.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("a" -> ((2L, 60.0)), "b" -> ((1L, 10.0))))
  }

  test("derive supports window expressions (partitioned — plan hygiene holds)") {
    val df = Seq((1, "a", 3.0), (2, "a", 9.0), (3, "b", 4.0)).toDF("id", "g", "v")
    val out = AnalyticsCompiler(spark, df, Seq(
      stage("derive", "target" -> "rk",
        "expr" -> "row_number() OVER (PARTITION BY g ORDER BY v DESC)"),
      stage("where", "condition" -> "rk = 1")))
    assert(out.select("id").as[Int].collect().toSet == Set(2, 3))
  }

  test("join stage: same-name keys, how and broadcast honored") {
    val dims = Seq((1, "x"), (2, "y")).toDF("k", "name")
    val tmp = tempDir("graft_dim").toString
    dims.write.mode("overwrite").parquet(s"$tmp/dim.parquet")
    val facts = Seq((1, 10.0), (1, 5.0), (2, 1.0), (3, 7.0)).toDF("k", "v")
    val out = AnalyticsCompiler(spark, facts, Seq(
      stage("join", "type" -> "parquet", "file" -> s"$tmp/dim.parquet",
        "keys" -> Seq("k"), "how" -> "left", "broadcast" -> java.lang.Boolean.TRUE)))
    assert(out.count() == 4)
    assert(out.filter(col("name").isNull).select("k").as[Int].collect().toSeq == Seq(3))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("url stages: normalize adds the canonical column; dedup filter keeps keepers; blocklist drops") {
    val df = Seq(
      (1L, "http://WWW.a.com/x/"), (2L, "http://a.com/x"),
      (3L, "http://bad.org/y"), (4L, "junk")).toDF("doc_id", "url")
    val out = AnalyticsCompiler(spark, df, Seq(
      stage("host_blocklist", "urlCol" -> "url", "blocked" -> Seq("bad.org")),
      stage("url_normalize", "urlCol" -> "url"),
      stage("url_dedup", "idCol" -> "doc_id", "urlCol" -> "url")))
    // blocklist drops 3; url dedup collapses 1/2 to keeper 1; junk (null canonical) survives
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    assert(out.columns.contains("canonical_url"))
  }

  test("text stages: quality gate filters, metrics add columns, exact dedup keeps first") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the quiet river bank today."),
      (2L, "The quick brown fox jumps over the lazy dog near the quiet river bank today."),
      (3L, "x")).toDF("doc_id", "text")
    val out = AnalyticsCompiler(spark, df, Seq(
      stage("quality_gate", "textCol" -> "text", "minQuality" -> 0.35),
      stage("text_metrics", "textCol" -> "text"),
      stage("exact_dedup", "keys" -> Seq("text"))))
    val rows = out.select("doc_id").as[Long].collect().toSet
    assert(rows == Set(1L)) // 3 fails quality; 2 is an exact dup of 1
    assert(Seq("quality", "lang_pred", "n_tokens").forall(out.columns.contains))
  }

  test("ppl_partition keepBands: named bands drop NULL-banded short docs; 'null' keeps them") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "a"),
      (2L, "alpha beta gamma delta epsilon eta", "a"),
      (3L, "beta gamma delta epsilon zeta theta", "a"),
      (4L, "x", "a")) // one token -> no bigram NLL -> ppl_band NULL
      .toDF("doc_id", "text", "src")
    def run(bands: Seq[String]) = AnalyticsCompiler(spark, docs, Seq(
      stage("ppl_partition", "idCol" -> "doc_id", "textCol" -> "text",
        "sourceCol" -> "src", "buckets" -> 3,
        "keepBands" -> bands)))
      .select("doc_id").as[Long].collect().toSet
    // listing every named band still loses the unscoreable doc — the
    // documented semantics (NULL is not a band)
    assert(run(Seq("head", "middle", "tail")) == Set(1L, 2L, 3L))
    // the literal "null" entry keeps short docs explicitly
    assert(run(Seq("head", "middle", "tail", "null")) == Set(1L, 2L, 3L, 4L))
    assert(run(Seq("null")) == Set(4L))
    // annotate form (no keepBands) never drops anything
    val annotated = AnalyticsCompiler(spark, docs, Seq(
      stage("ppl_partition", "idCol" -> "doc_id", "textCol" -> "text",
        "sourceCol" -> "src", "buckets" -> 3)))
    assert(annotated.count() == 4)
    assert(annotated.filter(col("ppl_band").isNull).count() == 1)
  }

  test("ppl_partition model=mkn3: every doc banded (trigram LM scores short docs too)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "a"),
      (2L, "alpha beta gamma delta epsilon eta", "a"),
      (3L, "beta gamma delta epsilon zeta theta", "a"),
      (4L, "x", "a")) // one token: unscoreable under bigram, scored under mkn3
      .toDF("doc_id", "text", "src")
    val out = AnalyticsCompiler(spark, docs, Seq(
      stage("ppl_partition", "idCol" -> "doc_id", "textCol" -> "text",
        "sourceCol" -> "src", "buckets" -> 3, "model" -> "mkn3")))
    assert(out.count() == 4 && out.filter(col("ppl_band").isNull).count() == 0)
    // config path ≡ API path, value for value
    val api = graft.ops.TextAnalysis.perplexityPartition(docs.toDF(),
      "doc_id", "text", "src", buckets = 3, model = "mkn3")
      .select(col("doc_id"), col("avg_nll_micro"), col("ppl_band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val cfg = out.select(col("doc_id"), col("avg_nll_micro"), col("ppl_band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(cfg == api)
    graft.ops.CachedRelations.releaseAll()
    intercept[Exception] {
      AnalyticsCompiler(spark, docs, Seq(
        stage("ppl_partition", "idCol" -> "doc_id", "textCol" -> "text",
          "sourceCol" -> "src", "model" -> "bogus"))).count()
    }
  }

  test("bbpe_fertility stage: byte-level report from config equals the API twin") {
    val df = Seq(("s1", "ab ab ab"), ("s2", "bé bé b b")).toDF("source", "text")
    val out = AnalyticsCompiler(spark, df, Seq(
      stage("bbpe_fertility", "textCol" -> "text", "sourceCol" -> "source",
        "numMerges" -> 10)))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_bytes")))
    graft.ops.CachedRelations.releaseAll()
    // trained on the frame itself: every word fuses to one token
    assert(out.toSeq == Seq(("s1", 3L, 3L, 6L), ("s2", 4L, 4L, 8L)))
  }

  test("split/sample/sessionize stages wrap the sampling and session operators") {
    val df = (1 to 200).map(i => (i.toLong, s"d$i")).toDF("id", "v")
    val split = AnalyticsCompiler(spark, df, Seq(stage("split", "keyCol" -> "id")))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 200 && counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 150) // ~90%
    val sampled = AnalyticsCompiler(spark, df, Seq(
      stage("sample", "keyCol" -> "id", "pct" -> 10)))
    val n = sampled.count()
    assert(n > 0 && n < 60) // ~10% deterministic
    assert(sampled.count() == n) // rerun-stable
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:10:00")),
      (1L, java.sql.Timestamp.valueOf("2026-01-01 05:00:00")),
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDF("uid", "ts")
    val sess = AnalyticsCompiler(spark, ev, Seq(
      stage("sessionize", "keyCol" -> "uid", "tsCol" -> "ts")))
    val got = sess.groupBy("uid").agg(max("session_idx")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L)) // the 5h gap opens session 2
  }

  test("YAML fixture through cli.Main end to end: quality gate -> dedup -> parquet out") {
    val tmp = tempDir("graft_pb_e2e").toString
    Seq(
      (1L, "en", "The quick brown fox jumps over the lazy dog near the river bank."),
      (2L, "en", "The quick brown fox jumps over the lazy dog near the river bank."),
      (3L, "en", "Completely different sentence about shipping modes and freight costs."),
      (4L, "xx", "zzzz")
    ).toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$tmp/docs.parquet")
    val yaml = s"""
      |source:
      |  type: parquet
      |  file: $tmp/docs.parquet
      |destination:
      |  type: parquet
      |  file: $tmp/out.parquet
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
    val cfg = s"$tmp/playbook.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg),
      yaml.getBytes("UTF-8"))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    val out = spark.read.parquet(s"$tmp/out.parquet")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(out.columns.contains("n_chars") && out.columns.contains("quality"))
  }

  test("null robustness: null text/url/key rows flow through every stage without throwing") {
    val df = Seq(
      (1L, Option("The quick brown fox jumps over the lazy dog near the river bank today ok."),
        Option("http://a.com/x")),
      (2L, None: Option[String], None: Option[String]),
      (3L, Option("Another normal sentence with plenty of common stopwords in the middle of it."),
        Option("junk"))).toDF("id", "text", "url")
    // row-local text stages: null text scores null -> quality gate drops
    val gated = AnalyticsCompiler(spark, df, Seq(
      stage("quality_gate", "textCol" -> "text", "minQuality" -> 0.1),
      stage("text_metrics", "textCol" -> "text")))
    assert(gated.select("id").as[Long].collect().toSet == Set(1L, 3L))
    // url stages: null url -> null canonical -> own keeper; blocklist passes null through
    val urls = AnalyticsCompiler(spark, df, Seq(
      stage("host_blocklist", "urlCol" -> "url", "blocked" -> Seq("bad.org")),
      stage("url_normalize", "urlCol" -> "url"),
      stage("url_dedup", "idCol" -> "id", "urlCol" -> "url")))
    assert(urls.count() == 3)
    // dedup on a nullable key: null keys form their own group, no throw
    val dd = AnalyticsCompiler(spark, df, Seq(
      stage("exact_dedup", "keys" -> Seq("text"))))
    assert(dd.count() == 3)
    // split/sample on the non-null key column
    assert(AnalyticsCompiler(spark, df, Seq(
      stage("split", "keyCol" -> "id"))).count() == 3)
  }

  test("r11 LLM-family stages: validation catches bad refs, modes, bounds") {
    val errs = AnalyticsCompiler.validate(Seq(
      stage("decontaminate", "idCol" -> "id", "textCol" -> "t",
        "refType" -> "postgres", "refFile" -> "x", "mode" -> "nuke"),
      stage("dsir_weight", "idCol" -> "id", "textCol" -> "t",
        "refType" -> "parquet", "refFile" -> "x", "refWhere" -> "SELEC broken ("),
      stage("ann_topk", "idCol" -> "id", "vecCol" -> "v", "k" -> 3), // missing vecDims
      stage("ann_topk", "idCol" -> "id", "vecCol" -> "v", "vecDims" -> 64,
        "k" -> 3, "method" -> "hnsw"),
      stage("chunk_docs", "idCol" -> "id", "textCol" -> "t",
        "chunkTokens" -> 10, "overlap" -> 10),
      stage("gopher_rules", "idCol" -> "id", "textCol" -> "t", "mode" -> "purge"),
      stage("pack_windows", "idCol" -> "id", "textCol" -> "t", "capacity" -> 0)))
    assert(errs.size == 8, errs.mkString("\n")) // decontaminate trips refType AND mode
    assert(errs.exists(_.contains("refType 'postgres'")))
    assert(errs.exists(_.contains("mode 'nuke'")))
    assert(errs.exists(_.contains("bad refWhere")))
    assert(errs.exists(_.contains("missing vecDims")))
    assert(errs.exists(_.contains("method 'hnsw'")))
    assert(errs.exists(_.contains("overlap < chunkTokens")))
    assert(errs.exists(_.contains("mode 'purge'")))
    assert(errs.exists(_.contains("capacity must be >= 1")))
  }

  test("r11 LLM-family stages: gopher filter, pii redact, decontaminate filter, packing") {
    val tmp = tempDir("graft_llm_stages").toString
    val good = "The quick brown fox jumps over the lazy dog and that dog will have a nap with the fox."
    val docs = Seq(
      (1L, good),
      (2L, s"$good Totally unique middle sentence here. Email me at a@b.co now."),
      (3L, "zz # yy # xx # ww # vv # uu # tt # ss # rr # qq")) // fails gopher symbol/stop rules
      .toDF("doc_id", "text")
    // gopher report has the rule columns; filter keeps only passers
    val rep = AnalyticsCompiler(spark, docs, Seq(
      stage("gopher_rules", "idCol" -> "doc_id", "textCol" -> "text")))
    assert(rep.columns.contains("pass") && rep.count() == 3)
    val kept = AnalyticsCompiler(spark, docs, Seq(
      stage("gopher_rules", "idCol" -> "doc_id", "textCol" -> "text",
        "mode" -> "filter")))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(kept.columns.contains("text")) // filter keeps the ORIGINAL rows
    // pii_redact: default overwrites in place, target adds a column
    val red = AnalyticsCompiler(spark,
      Seq((1L, "mail x@y.org or 555.123.4567")).toDF("id", "text"),
      Seq(stage("pii_redact", "textCol" -> "text")))
    assert(red.select("text").as[String].head() == "mail <EMAIL> or <PHONE>")
    // decontaminate filter mode against a file benchmark
    docs.filter($"doc_id" === 1L).write.mode("overwrite").parquet(s"$tmp/bench.parquet")
    val clean = AnalyticsCompiler(spark, docs, Seq(
      stage("decontaminate", "idCol" -> "doc_id", "textCol" -> "text",
        "refType" -> "parquet", "refFile" -> s"$tmp/bench.parquet",
        "mode" -> "filter")))
    // doc 1 IS the benchmark; doc 2 contains it verbatim -> both flagged
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(3L))
    // packing stages delegate (schema sanity)
    val pw = AnalyticsCompiler(spark, docs, Seq(
      stage("pack_windows", "idCol" -> "doc_id", "textCol" -> "text",
        "capacity" -> 8, "shards" -> 2)))
    assert(pw.columns.toSet == Set("doc_id", "shard", "n_tokens", "window_id", "straddles"))
    val ch = AnalyticsCompiler(spark, docs, Seq(
      stage("chunk_docs", "idCol" -> "doc_id", "textCol" -> "text",
        "chunkTokens" -> 5, "overlap" -> 1)))
    assert(ch.columns.contains("chunk_text") && ch.count() > 3)
  }

  test("destination bucketBy/zorderBy: load-time validation and the physical write") {
    val tmp = tempDir("graft_dest_layout").toString
    // validation: every layout constraint is an accumulated load error
    def destErrs(destYaml: String): String =
      intercept[IllegalArgumentException](PlaybookLoader.fromString(s"""
        |source: {type: parquet, file: /tmp/in.parquet}
        |destination:
        |$destYaml
        |""".stripMargin)).getMessage
    assert(destErrs("""  type: csv
      |  file: /tmp/o
      |  bucketBy: [k]
      |  buckets: 4""".stripMargin).contains("require type parquet"))
    assert(destErrs("""  type: parquet
      |  file: /tmp/o
      |  bucketBy: [k]
      |  buckets: 4""".stripMargin).contains("needs `table`"))
    assert(destErrs("""  type: parquet
      |  file: /tmp/o
      |  zorderBy: [a, b, c, d]
      |  zorderBits: 16""".stripMargin).contains("62-bit interleave budget"))
    assert(destErrs("""  type: parquet
      |  file: /tmp/o
      |  sortBy: [k]""".stripMargin).contains("sortBy requires bucketBy"))
    // bucketBy write: metastore table exists and joins shuffle-free
    val df = (0 until 2000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    df.write.mode("overwrite").parquet(s"$tmp/in.parquet")
    graft.io.Writers.write(spark.read.parquet(s"$tmp/in.parquet"),
      graft.config.DestinationConfig(`type` = "parquet", file = s"$tmp/bkt",
        table = "graft_r11_bucketed", bucketBy = Seq("k"), buckets = 4))
    val back = spark.table("graft_r11_bucketed")
    assert(back.count() == 2000)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val agg = back.groupBy("k").count()
    agg.collect()
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeExec => 1; case _ => 0 }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case q: QueryStageExec => shuffles(q.plan)
        case _ => 0
      }
      self + nested + p.children.map(shuffles).sum
    }
    assert(shuffles(agg.queryExecution.executedPlan) == 0,
      "groupBy on the bucket key must not exchange")
    // zorderBy write: rows intact, multiple files in curve order
    graft.io.Writers.write(spark.read.parquet(s"$tmp/in.parquet"),
      graft.config.DestinationConfig(`type` = "parquet", file = s"$tmp/zo",
        zorderBy = Seq("k", "v"), zorderBits = 8, zorderFiles = 4))
    val zo = spark.read.parquet(s"$tmp/zo")
    assert(zo.count() == 2000 && !zo.columns.contains("zval"))
  }

  test("incr_neardup stage: versioned state lifecycle, verdicts and filter modes, validation") {
    val state = tempDir("graft_incr_stage").toString + "/st"
    def ingest(df: org.apache.spark.sql.DataFrame, extra: (String, Any)*) =
      AnalyticsCompiler(spark, df, Seq(stage("incr_neardup",
        (Seq[(String, Any)]("idCol" -> "doc_id", "textCol" -> "text",
          "stateDir" -> state) ++ extra): _*)))
    // version 0 against no state: everything kept
    val v0 = ingest(Seq(
      (1L, "aaaa bbbb cccc dddd eeee ffff gggg"),
      (2L, "totally different text lives here now")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(v0 == Set((1L, "kept", 0), (2L, "kept", 0)))
    // version 1 (auto): doc 3 repeats doc 1's text -> dup_of_ref(1); doc 4 new
    val v1 = ingest(Seq(
      (3L, "aaaa bbbb cccc dddd eeee ffff gggg"),
      (4L, "another unique sentence appears in v1")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3))).toSet
    assert(v1 == Set((3L, "dup_of_ref", 1L, 1), (4L, "kept", -1L, 1)))
    // filter mode: doc 5 dups doc 4 (dropped), doc 6 survives with its columns
    val kept = ingest(Seq(
      (5L, "another unique sentence appears in v1"),
      (6L, "fresh and unrelated content entirely")).toDF("doc_id", "text"),
      "mode" -> "filter")
    assert(kept.columns.toSet == Set("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(6L))
    // three committed state versions on disk, latest compacted
    assert(graft.ops.Dedup.nearDupStateLatest(spark, state).exists(_._1 == 2))
    // explicit version <= latest committed: rejected BEFORE any write —
    // it would overwrite the v<N> dir prevState lazily reads, or write
    // a dir latest-wins resolution ignores (r11 advisory)
    val eVer = intercept[IllegalArgumentException](ingest(
      Seq((7L, "any new content at all")).toDF("doc_id", "text"),
      "version" -> 2))
    assert(eVer.getMessage.contains("latest committed version 2"), eVer.getMessage)
    assert(eVer.getMessage.contains("auto"), eVer.getMessage)
    assert(graft.ops.Dedup.nearDupStateLatest(spark, state).exists(_._1 == 2),
      "rejected ingest must not have touched the state chain")
    graft.ops.CachedRelations.releaseAll() // the steps' stage dirs
    // validation: bad mode / version / banding
    val errs = AnalyticsCompiler.validate(Seq(
      stage("incr_neardup", "idCol" -> "id", "textCol" -> "t",
        "stateDir" -> "/tmp/x", "mode" -> "nuke", "version" -> -3,
        "numHashes" -> 10, "bands" -> 4)))
    assert(errs.exists(_.contains("mode 'nuke'")))
    assert(errs.exists(_.contains("version '-3'")))
    assert(errs.exists(_.contains("divisible by bands")))
  }

  test("destination bloomIndexBy: validation, side-index write, point-lookup pruning") {
    val tmp = tempDir("graft_dest_bloom").toString
    // validation: wrong type / bad fpp / bucketBy conflict
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString(s"""
      |source: {type: parquet, file: /tmp/in.parquet}
      |destination:
      |  type: csv
      |  file: /tmp/o
      |  bloomIndexBy: [k]
      |  bloomFpp: 1.5
      |""".stripMargin)).getMessage
    assert(e.contains("bloomIndexBy requires type parquet"))
    assert(e.contains("bloomFpp must be in (0, 1)"))
    // a QUOTED number must parse like the bare one (r11 advisory: it
    // silently fell back to the 0.01 default) …
    assert(PlaybookLoader.fromString("""
      |source: {type: parquet, file: /tmp/in.parquet}
      |destination: {type: parquet, file: /tmp/o, bloomIndexBy: [k], bloomFpp: "0.05"}
      |""".stripMargin).destination.bloomFpp == 0.05)
    // … and a non-numeric value is a load-time error, not a default
    val eNaN = intercept[IllegalArgumentException](PlaybookLoader.fromString("""
      |source: {type: parquet, file: /tmp/in.parquet}
      |destination: {type: parquet, file: /tmp/o, bloomIndexBy: [k], bloomFpp: lots}
      |""".stripMargin)).getMessage
    assert(eNaN.contains("bloomFpp must be a number"), eNaN)
    // write with a bloom side index from config; prune a point lookup
    val df = (0 until 4000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
      .repartition(4, col("k"))
    graft.io.Writers.write(df, graft.config.DestinationConfig(
      `type` = "parquet", file = s"$tmp/tbl", bloomIndexBy = Seq("k"),
      bloomItemsPerFile = 10000L))
    val idx = spark.read.parquet(s"$tmp/tbl_bloomidx_k")
    assert(idx.count() >= 1 && idx.columns.contains("bloom"))
    val got = graft.ops.Layout.bloomPrunedRead(spark, s"$tmp/tbl",
      s"$tmp/tbl_bloomidx_k", "k", Seq(17L))
    assert(got.count() == 40)
    assert(graft.ops.Layout.bloomPrunedFiles(spark, s"$tmp/tbl_bloomidx_k",
      Seq(17L)).size <= 2)
  }

  test("invalid analytics YAML fails at load with accumulated stage errors") {
    val yaml = """
      |source: {type: parquet, file: /tmp/in.parquet}
      |destination: {type: parquet, file: /tmp/out.parquet}
      |analytics:
      |  - op: aggregate
      |  - op: mystery
      |""".stripMargin
    val e = intercept[IllegalArgumentException](PlaybookLoader.fromString(yaml))
    assert(e.getMessage.contains("missing aggs"))
    assert(e.getMessage.contains("unknown op 'mystery'"))
  }
}
