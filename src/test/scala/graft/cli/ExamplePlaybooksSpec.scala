package graft.cli

import graft.SparkTestBase
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Every shipped example playbook (the examples dir) runs end-to-end
 * against the sf0.001 testdata through the real CLI path — the
 * examples are living documentation, so a surface change that breaks
 * one fails the build here, not in a user's terminal. `${GRAFT_*}`
 * placeholders are substituted the way the CLI's env expansion would.
 */
class ExamplePlaybooksSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private val data = "/root/testdata/sf0.001"

  /** Substitute placeholders and write the config; returns (cfg, outDir). */
  private def prepareExample(name: String, extra: Map[String, String]): (String, String) = {
    val out = tempDir(s"graft_ex_${name.stripSuffix(".yaml")}").toString
    var yaml = new String(Files.readAllBytes(Paths.get(s"examples/$name")), UTF_8)
    (Map("GRAFT_DATA" -> data, "GRAFT_OUT" -> out) ++ extra).foreach { case (k, v) =>
      yaml = yaml.replace("${" + k + "}", v)
    }
    val cfg = s"$out/pb.yaml"
    Files.write(Paths.get(cfg), yaml.getBytes(UTF_8))
    (cfg, out)
  }

  /** Substitute placeholders, write the config, run it; returns outDir. */
  private def runExample(name: String, extra: Map[String, String] = Map.empty): String = {
    val (cfg, out) = prepareExample(name, extra)
    Main.run(spark, Main.Args(config = cfg))
    out
  }

  test("every example playbook file is covered by a test here") {
    val shipped = new java.io.File("examples").listFiles()
      .filter(_.getName.endsWith(".yaml")).map(_.getName).toSet
    val covered = Set("corpus_clean_datasheet.yaml", "crawl_url_dedup.yaml",
      "decontaminate_dsir.yaml", "bucketed_orders.yaml", "zorder_events.yaml",
      "streaming_ingest.yaml", "classic_etl.yaml", "incremental_ingest.yaml",
      "tokenizer_report.yaml", "ccnet_curate.yaml", "ccnet_reference_lm.yaml")
    assert(shipped == covered,
      s"examples/ and this spec disagree: ${(shipped diff covered) ++ (covered diff shipped)}")
  }

  test("corpus_clean_datasheet: cleaned corpus data card per (source, lang)") {
    val out = runExample("corpus_clean_datasheet.yaml")
    val card = spark.read.parquet(s"$out/datasheet")
    assert(card.count() > 0)
    assert(Set("source", "lang").subsetOf(card.columns.toSet))
  }

  test("crawl_url_dedup: blocked host gone, one doc per canonical URL") {
    val out = runExample("crawl_url_dedup.yaml")
    val kept = spark.read.parquet(s"$out/crawl_deduped")
    val n = kept.count()
    val input = spark.read.parquet(s"$data/documents.parquet").count()
    assert(n > 0 && n < input)
    assert(kept.filter($"url".contains("src0.example.com")).count() == 0)
    assert(kept.select("url").distinct().count() == n)
  }

  test("decontaminate_dsir: contaminated docs dropped, DSIR weights attached") {
    val out = runExample("decontaminate_dsir.yaml")
    val w = spark.read.parquet(s"$out/weighted_corpus")
    assert(w.count() > 0)
    assert(w.columns.contains("logw"))
    // the benchmark slice (doc_id % 97 = 0) can never survive the filter
    assert(w.filter($"id" % 97 === 0).count() == 0)
  }

  test("bucketed_orders: metastore bucketed table registered and complete") {
    runExample("bucketed_orders.yaml")
    val back = spark.table("examples_orders_bucketed")
    assert(back.count() == spark.read.parquet(s"$data/orders.parquet").count())
    val bucketSpec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("examples_orders_bucketed"))
      .bucketSpec
    assert(bucketSpec.exists(b => b.numBuckets == 8 && b.bucketColumnNames == Seq("o_custkey")))
  }

  test("zorder_events: rows intact, zval not leaked, bloom side index prunes a point lookup") {
    val out = runExample("zorder_events.yaml")
    val zo = spark.read.parquet(s"$out/events_zorder")
    assert(zo.count() == spark.read.parquet(s"$data/events.parquet").count())
    assert(!zo.columns.contains("zval"))
    val idxPath = s"$out/events_zorder_bloomidx_event_id"
    val anId = zo.select("event_id").head().getLong(0)
    val hit = graft.ops.Layout.bloomPrunedRead(spark,
      s"$out/events_zorder", idxPath, "event_id", Seq(anId))
    assert(hit.count() == 1)
    val nFiles = spark.read.parquet(idxPath).count()
    assert(graft.ops.Layout.bloomPrunedFiles(spark, idxPath, Seq(anId)).size < nFiles)
  }

  test("streaming_ingest: two invocations drain two drop files exactly once") {
    val in = tempDir("graft_ex_stream_in").toString
    val good = "The quick brown fox jumps over the lazy dog and that dog naps happily near the river."
    Files.write(Paths.get(s"$in/b1.jsonl"),
      s"""{"doc_id": 1, "text": "$good"}\n{"doc_id": 2, "text": "$good"}""".getBytes(UTF_8))
    val out = runExample("streaming_ingest.yaml", Map("GRAFT_IN" -> in))
    assert(spark.read.parquet(s"$out/stream_out").count() == 1) // exact dedup on text
    // second invocation processes ONLY the new file; dedup state carries
    Files.write(Paths.get(s"$in/b2.jsonl"),
      (s"""{"doc_id": 3, "text": "$good"}\n""" +
       s"""{"doc_id": 4, "text": "A different sentence about freight costs and shipping modes today."}""").getBytes(UTF_8))
    Main.run(spark, Main.Args(config = s"$out/pb.yaml"))
    val ids = spark.read.parquet(s"$out/stream_out")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L), s"got $ids")
  }

  test("incremental_ingest: two -input batches chain through the versioned state") {
    val tmp = tempDir("graft_ex_incr").toString
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text").filter("text IS NOT NULL")
    docs.filter("doc_id % 2 = 0").write.parquet(s"$tmp/batch0")
    // batch 1 = fresh odd ids, PLUS a re-sent even doc's exact text
    // under a new id (a cross-version duplicate)
    val dupText = docs.filter("doc_id % 2 = 0").select("text").head().getString(0)
    docs.filter("doc_id % 2 = 1").unionByName(
      spark.createDataFrame(Seq((999999L, dupText))).toDF("doc_id", "text"))
      .write.parquet(s"$tmp/batch1")
    val out = runExample("incremental_ingest.yaml", Map("GRAFT_IN" -> s"$tmp/batch0"))
    val v0 = spark.read.parquet(s"$out/verdicts")
    assert(v0.filter($"version" =!= 0).count() == 0)
    Main.run(spark, Main.Args(config = s"$out/pb.yaml", input = Some(s"$tmp/batch1")))
    val v1 = spark.read.parquet(s"$out/verdicts")
    assert(v1.filter($"version" =!= 1).count() == 0) // destination overwritten per run
    // the re-sent text is a dup OF THE REFERENCE state, not of batch 1
    val resent = v1.filter($"doc_id" === 999999L).head()
    assert(resent.getAs[String]("status") == "dup_of_ref", resent.toString)
    assert(graft.ops.Dedup.nearDupStateLatest(spark, s"$out/dedup_state").exists(_._1 == 1))
  }

  test("incremental_ingest: -dry-run and -explain commit no state; the real run is unchanged") {
    val tmp = tempDir("graft_ex_incr_dry").toString
    spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text").filter("text IS NOT NULL")
      .write.parquet(s"$tmp/batch0")
    def verdicts(out: String) = spark.read.parquet(s"$out/verdicts")
      .selectExpr("doc_id", "status", "match_id", "version").collect()
      .map(_.toString).sorted.toSeq
    val alone = runExample("incremental_ingest.yaml", Map("GRAFT_IN" -> s"$tmp/batch0"))
    val (cfg, out) = prepareExample("incremental_ingest.yaml", Map("GRAFT_IN" -> s"$tmp/batch0"))
    Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.run(spark, Main.Args(config = cfg, dryRun = true))
      Main.run(spark, Main.Args(config = cfg, explain = true))
    }
    Main.run(spark, Main.Args(config = cfg))
    assert(verdicts(out) == verdicts(alone))
    assert(new java.io.File(s"$out/dedup_state").list().toSet == Set("v0"))
  }

  test("analytics path params are env-expanded by the CLI: the state dir chains two batches") {
    val tmp = tempDir("graft_cli_env").toString
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text").filter("text IS NOT NULL")
    docs.filter("doc_id % 2 = 0").write.parquet(s"$tmp/batch0")
    docs.filter("doc_id % 2 = 1").write.parquet(s"$tmp/batch1")
    // both placeholder forms name an unset variable, so they expand to ""
    val cfg = s"$tmp/pb.yaml"
    Files.write(Paths.get(cfg),
      s"""source: {type: parquet, file: "$tmp/batch0"}
         |destination: {type: parquet, file: "$tmp/verdicts"}
         |analytics:
         |  - op: incr_neardup
         |    idCol: doc_id
         |    textCol: text
         |    stateDir: "$${__GRAFT_UNSET__}%__GRAFT_UNSET__%$tmp/state"
         |""".stripMargin.getBytes(UTF_8))
    Main.run(spark, Main.Args(config = cfg))
    Main.run(spark, Main.Args(config = cfg, input = Some(s"$tmp/batch1")))
    assert(graft.ops.Dedup.nearDupStateLatest(spark, s"$tmp/state").exists(_._1 == 1))
  }

  test("-explain prints the physical plan and executes nothing") {
    val (cfg, out) = prepareExample("classic_etl.yaml", Map.empty)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, Main.Args(config = cfg, explain = true))
    }
    val text = buf.toString("UTF-8")
    assert(text.contains("[explain] pipeline plan"), text.take(400))
    assert(text.contains("Physical Plan"), text.take(400))
    // the playbook filters on a column, so the parquet scan must show
    // pushdown — the whole point of the operator-facing plan window
    assert(text.contains("PushedFilters: ["), text.take(2000))
    assert(text.contains("[explain] error-routing plan"), text.take(400))
    // nothing executed: the destination was never written
    assert(!new java.io.File(s"$out/events_clean.csv").exists())
  }

  test("-explain on a streaming playbook shows the plan without starting a sink") {
    val in = tempDir("graft_ex_explain_in").toString
    Files.write(Paths.get(s"$in/b1.jsonl"),
      """{"doc_id": 1, "text": "hello world"}""".getBytes(UTF_8))
    val (cfg, out) = prepareExample("streaming_ingest.yaml", Map("GRAFT_IN" -> in))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, Main.Args(config = cfg, explain = true))
    }
    val text = buf.toString("UTF-8")
    assert(text.contains("Physical Plan"), text.take(400))
    assert(text.contains("StreamingRelation"), text.take(2000))
    assert(!new java.io.File(s"$out/stream_out").exists())
    assert(!new java.io.File(s"$out/checkpoint").exists())
  }

  test("classic_etl: filter + transforms + max-dedup + error sidecar") {
    val out = runExample("classic_etl.yaml")
    val res = spark.read.option("header", "true").csv(s"$out/events_clean.csv")
    assert(res.count() > 0)
    // one row per user, event_type uppercased
    assert(res.select("user_id").distinct().count() == res.count())
    assert(res.filter($"event_type" =!= org.apache.spark.sql.functions.upper($"event_type")).count() == 0)
  }

  test("classic_etl: error sidecar holds the filter-null rows and mustToFloat failures, appended") {
    import org.apache.spark.sql.functions.{lit, when}
    // the shipped events carry no nulls; this copy nulls some `value`
    // and `event_type` cells, so the filter meets null operands
    val in = tempDir("graft_ex_classic_in").toString
    spark.read.parquet(s"$data/events.parquet")
      .withColumn("value", when($"event_id" % 7 === 0, lit(null)).otherwise($"value"))
      .withColumn("event_type", when($"event_id" % 11 === 5, lit(null)).otherwise($"event_type"))
      .write.parquet(s"$in/events.parquet")
    val input = spark.read.parquet(s"$in/events.parquet")
    val rows = input.select("event_id", "value", "event_type").collect().toSeq
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.getString(2))))
    // `value >= 0 && event_type != 'purchase'` in three-valued logic:
    // None is null, and AND is false as soon as one side is false
    def filter(v: Option[Double], t: Option[String]): Option[Boolean] =
      (v.map(_ >= 0), t.map(_ != "purchase")) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(a), Some(b)) => Some(a && b)
        case _ => None
      }
    val filterNull = rows.collect { case (id, v, t) if filter(v, t).isEmpty =>
      id.toString -> "filter: expression evaluated to null" }
    val floatFailures = rows.collect { case (id, None, t) if filter(None, t).contains(true) =>
      id.toString -> "mustToFloat: cannot convert value to float for field 'value'" }
    assert(filterNull.nonEmpty)

    val (cfg, out) = prepareExample("classic_etl.yaml", Map("GRAFT_DATA" -> in))
    val errFile = Paths.get(s"$out/events_errors.csv")
    def lines = Files.readAllLines(errFile, UTF_8).asScala.toSeq
    def errorRows = spark.read.option("header", "true").csv(errFile.toString)
      .select("event_id", "etl_error_message").collect().toSeq.map(r => r.getString(0) -> r.getString(1))
    val header = (input.columns :+ "etl_error_message").sorted.mkString(",")

    Main.run(spark, Main.Args(config = cfg))
    assert(lines.head == header)
    assert(errorRows.sorted == (filterNull ++ floatFailures).sorted)
    val once = lines.size

    Main.run(spark, Main.Args(config = cfg))
    assert(lines.count(_ == header) == 1)
    assert(lines.size == 2 * once - 1)
    assert(errorRows.sorted == (filterNull ++ floatFailures ++ filterNull ++ floatFailures).sorted)
  }

  test("ccnet_curate: language-filtered, tail perplexity band dropped per source") {
    val out = runExample("ccnet_curate.yaml")
    val kept = spark.read.parquet(s"$out/curated")
    val n = kept.count()
    val input = spark.read.parquet(s"$data/documents.parquet")
      .filter($"text".isNotNull).count()
    assert(n > 0 && n < input)
    // only head/middle survive; the annotation columns ride along
    assert(kept.select("ppl_band").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("head", "middle")))
    assert(Set("doc_id", "text", "source", "avg_nll_micro", "ppl_band")
      .subsetOf(kept.columns.toSet))
    // within every source, the worst (tail) band is gone — kept docs
    // per source are at most ceil(2/3) of that source's banded docs.
    // The denominator comes from running the same pre-filter stages +
    // perplexityPartition through the API (the playbook's exact
    // semantics), so the bound is verified, not just asserted-by-name.
    val filtered = spark.read.parquet(s"$data/documents.parquet")
      .filter($"text".isNotNull)
      .withColumn("lang_pred", graft.ops.TextAnalysis.langId($"text"))
      .filter($"lang_pred".isin("en", "de", "fr", "es"))
    val bandedBySrc = graft.ops.TextAnalysis
      .perplexityPartition(filtered, "doc_id", "text", "source", model = "mkn3")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySrc = kept.groupBy("source").count().collect()
    assert(bySrc.nonEmpty && bySrc.forall(_.getLong(1) > 0))
    bySrc.foreach { r =>
      val src = r.getString(0); val keptN = r.getLong(1)
      val banded = bandedBySrc.getOrElse(src,
        fail(s"kept source '$src' absent from the banded universe"))
      val bound = math.ceil(banded * 2.0 / 3.0).toLong
      assert(keptN <= bound,
        s"source '$src': kept $keptN docs > ceil(2/3 * $banded banded) = $bound")
    }
  }

  test("ccnet_reference_lm: bands under a pre-fitted stamped LM, loud when stale") {
    // fit the reference LM ONCE on the even-doc_id half, persisted +
    // stamped — the playbook then scores with zero training work
    val refDir = tempDir("graft_ex_lmref").toString
    val trainTbl = s"$refDir/reference"
    spark.read.parquet(s"$data/documents.parquet")
      .filter($"doc_id" % 2 === 0).write.parquet(trainTbl)
    val lmIdx = s"$refDir/lm_index"
    graft.ops.LmIndex.writeMknIndex(spark, trainTbl, lmIdx, "doc_id", "text")
    val env = Map("GRAFT_LM_INDEX" -> lmIdx, "GRAFT_LM_TRAIN" -> trainTbl)
    val out = runExample("ccnet_reference_lm.yaml", env)
    val kept = spark.read.parquet(s"$out/curated")
    assert(kept.count() > 0)
    assert(kept.select("ppl_band").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("head", "middle")))
    // value-identity against the API path under the same artifact
    val filtered = spark.read.parquet(s"$data/documents.parquet")
      .filter($"text".isNotNull)
      .withColumn("lang_pred", graft.ops.TextAnalysis.langId($"text"))
      .filter($"lang_pred".isin("en", "de", "fr", "es"))
    val api = graft.ops.TextAnalysis.perplexityPartition(filtered,
      "doc_id", "text", "source", model = "mkn3",
      modelDir = lmIdx, trainPath = trainTbl)
      .filter($"ppl_band".isin("head", "middle"))
      .select($"doc_id", $"avg_nll_micro", $"ppl_band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    graft.ops.CachedRelations.releaseAll()
    val pb = kept.select($"doc_id", $"avg_nll_micro", $"ppl_band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(pb == api, "playbook banding != API banding under the same artifact")
    // the reference corpus changes -> the SAME playbook fails loudly
    spark.read.parquet(s"$data/documents.parquet")
      .filter($"doc_id" === 1).write.mode("append").parquet(trainTbl)
    val e = intercept[Exception] {
      runExample("ccnet_reference_lm.yaml", env)
    }
    assert(e.getMessage != null && e.getMessage.contains("STALE"),
      s"expected a loud STALE failure, got: ${e.getMessage}")
  }

  test("tokenizer_report: WordPiece fertility per source, delivered as Avro") {
    val out = runExample("tokenizer_report.yaml")
    val rep = graft.io.Readers.read(spark,
      graft.config.SourceConfig("avro", file = s"$out/fertility.avro"))
    val n = rep.count()
    val sources = spark.read.parquet(s"$data/documents.parquet")
      .filter($"text".isNotNull).select("source").distinct().count()
    assert(n == sources)
    assert(Set("source", "n_words", "n_tokens", "unk_words", "fertility_micro")
      .subsetOf(rep.columns.toSet))
    // char-seed guarantee: the training corpus never degrades to [UNK]
    assert(rep.agg(org.apache.spark.sql.functions.sum("unk_words")).head.getLong(0) == 0L)
    // fertility is tokens-per-word in micros: always >= 1.0 by construction
    assert(rep.filter($"fertility_micro" < 1000000L).count() == 0)
  }
}
