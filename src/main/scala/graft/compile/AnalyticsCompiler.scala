package graft.compile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{AnalyticsStage, SourceConfig}
import graft.ops.{Clusters, Corpus, Dedup, Expectations, Layout, Resample, TextAnalysis, Urls}
import graft.ops.{Decontaminate, Dsir, Multimodal, Packing, Sampling, Sessions, Similarity, Sketches, Tokenizer}

/**
 * The `analytics:` stage compiler — the config-file face of the
 * engine's north-star operator surface (SURVEY §7 phase E). The
 * reference's whole identity is config-driven (a user writes YAML,
 * never Go — /root/reference/internal/config/types.go:39-64); this
 * extends the same contract to the training-data/analytics operators,
 * so a dedup-then-datasheet pipeline is drivable from a playbook file
 * with zero Scala.
 *
 * Each stage is `DataFrame => DataFrame`, folded in order over the
 * clean main branch after the six reference ETL sections. Everything
 * compiles to the SAME declarative plans as the Scala API (the stages
 * delegate to the verified operators in graft.ops), so one playbook
 * still yields ONE Catalyst plan end-to-end — filters written as
 * `where` stages after a parquet source still reach the scan as
 * pushed filters, and a `corpus_clean` stage carries the operator's
 * documented 100 TB shape unchanged.
 *
 * Generic relational stages (`where`, `derive`, `select`,
 * `aggregate`, `join`) take Spark SQL expression strings — the
 * beyond-reference surface speaks the engine's native language, while
 * the reference-parity `filter:` section keeps its govaluate dialect.
 * `derive` accepts window expressions (`... OVER (PARTITION BY ...)`)
 * — the "windows exposed in the playbook schema" promise.
 *
 * Each op is one [[Decl]]: its params (kind, required or default,
 * enum values), whether a stream can run it, its cross-param check and
 * its build. Validation is accumulated-error at load time like every
 * other playbook section: unknown ops, missing, undeclared or
 * mis-typed params, values outside an enum and unparseable SQL are
 * all reported together with their stage index before any Spark job
 * runs. docs/playbook.md's ops table and the streaming check read the
 * same declarations.
 */
object AnalyticsCompiler {

  private[graft] type Build = (SparkSession, DataFrame, Args) => DataFrame
  private[graft] type Op = Decl[Build]
  private type RuleBuild = (SparkSession, Args) => Expectations.Rule

  // ---- param declarations ----
  private def req(n: String, k: Kind = Kind.str) = Param(n, k, Required)
  private def str(n: String, v: String) = Param(n, Kind.str, Fixed(v))
  private def int(n: String, v: Int) = Param(n, Kind.int, Fixed(v))
  private def dbl(n: String, v: Double) = Param(n, Kind.dbl, Fixed(v))
  private def bool(n: String, v: Boolean = false) = Param(n, Kind.bool, Fixed(v))
  private def strs(n: String) = Param(n, Kind.strs, Fixed(Seq.empty[String]))
  private def oneOf(n: String, values: String*) = Param(n, Kind.str, Fixed(values.head), values)
  private def unset(n: String, k: Kind = Kind.str) = Param(n, k, Unset)
  /** A string param that defaults to the stage's text column. */
  private def textColOr(n: String) = Param(n, Kind.str, Derived("<textCol>", _.str("textCol")))
  /** An int whose default differs on the md5-portable hash path. */
  private def byHash(n: String, xx: Int, md5: Int) = Param(n, Kind.int,
    Derived(s"$xx(portable:$md5)", a => if (a.bool("portableHashing")) md5 else xx))

  /** The MinHash/LSH params near_dup_dedup, corpus_clean and
    * incr_neardup share; only the threshold and numHashes defaults
    * differ. `bands: auto` picks the S-curve plan for (numHashes,
    * threshold). */
  private def minhash(threshold: Double, numHashes: Param): Seq[Param] = Seq(
    dbl("threshold", threshold), byHash("shingleSize", 5, 4), numHashes,
    Param("bands", Kind.intOrAuto, Fixed(Some(4))), bool("portableHashing"))

  private val autoBands = "; bands=auto picks the S-curve plan for (numHashes, threshold)"

  private def minhashCheck(a: Args): Seq[String] = {
    val nh = a.int("numHashes")
    a.intOrAuto("bands").filter(b => b < 1 || nh % b != 0)
      .map(b => s"numHashes ($nh) must be divisible by bands ($b)").toSeq
  }

  private def bands(a: Args): Int = a.intOrAuto("bands")
    .getOrElse(Dedup.lshPlan(a.int("numHashes"), a.dbl("threshold")).bands)

  /** SQL expression params must parse at load time — expr() is lazy
    * (Column construction defers the parse), so go through the
    * Catalyst parser directly. */
  private def sqlErr(what: String, sql: String): Option[String] =
    try { org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql); None }
    catch { case e: Exception =>
      Some(s"bad $what '$sql': ${e.getMessage.linesIterator.take(1).mkString}") }

  /** Source types a second-source read may name: file types only, as
    * only `refFile` is forwarded, never a connection string or SQL. */
  private val fileTypes = Seq("csv", "json", "jsonl", "parquet", "xlsx", "xml", "yaml")

  private def readFile(spark: SparkSession, typ: String, file: String): DataFrame =
    graft.io.Readers.read(spark, SourceConfig(`type` = typ, file = file))

  /** decontaminate / dsir_weight: a second (file) source, optionally
    * filtered by `refWhere`, with `refTextCol` renamed to the stage's
    * own text column so the two-sided operator sees one name. */
  private val refParams = Seq(req("idCol"), req("textCol"), req("refType").in(fileTypes),
    req("refFile", Kind.path), unset("refWhere"), textColOr("refTextCol"))

  private def refCheck(a: Args): Seq[String] = a.opt("refWhere").flatMap(sqlErr("refWhere", _)).toSeq

  private def refFrame(spark: SparkSession, a: Args): DataFrame = {
    val (text, r0) = (a.str("textCol"), readFile(spark, a.str("refType"), a.path("refFile")))
    val r1 = a.opt("refWhere").map(w => r0.filter(expr(w))).getOrElse(r0)
    if (a.str("refTextCol") == text) r1 else r1.withColumnRenamed(a.str("refTextCol"), text)
  }

  private def atLeastOne(n: String)(a: Args): Seq[String] =
    if (a.int(n) >= 1) Nil else Seq(s"$n must be >= 1 (got ${a.int(n)})")

  /** Trained merges in rank order: the trainer's one bounded collect. */
  private def merges(ranked: DataFrame): Seq[(String, String)] =
    ranked.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq

  private def rule(name: String, params: Seq[Param], check: Args => Seq[String] = _ => Nil)(
      build: RuleBuild): Decl[RuleBuild] = Decl(name, "", params, check = check)(build)

  /** The `expect` rule types, declared and validated like ops. */
  private val rules: Map[String, Decl[RuleBuild]] = Seq(
    rule("not_null", Seq(req("col")))((_, a) => Expectations.NotNull(a.str("col"))),
    rule("in_range", Seq(req("col"), req("lo", Kind.dbl), req("hi", Kind.dbl)))((_, a) =>
      Expectations.InRange(a.str("col"), a.dbl("lo"), a.dbl("hi"))),
    rule("accepted_values", Seq(req("col"), req("values", Kind.strs)))((_, a) =>
      Expectations.AcceptedValues(a.str("col"), a.strs("values"))),
    rule("matches_regex", Seq(req("col"), req("regex")))((_, a) =>
      Expectations.MatchesRegex(a.str("col"), a.str("regex"))),
    rule("satisfies", Seq(req("predicate"), req("name")),
      a => sqlErr("predicate", a.str("predicate")).toSeq)((_, a) =>
      Expectations.Satisfies(a.str("predicate"), a.str("name"))),
    rule("unique", Seq(req("cols", Kind.strs)))((_, a) => Expectations.Unique(a.strs("cols"))),
    rule("ref_integrity", Seq(req("col"), req("refType").in(fileTypes), req("refFile", Kind.path), req("refCol")))(
      (spark, a) => Expectations.RefIntegrity(a.str("col"),
        readFile(spark, a.str("refType"), a.path("refFile")), a.str("refCol")))
  ).map(r => r.name -> r).toMap

  private def expectCheck(a: Args): Seq[String] = {
    val decoded = a.maps("rules")
    // a non-map entry in the rules list (a bare string from a YAML
    // indentation slip) is dropped by the decoder — a contract that
    // looks configured but never runs; reject it instead
    val dropped = a.raw("rules").collect {
      case l: java.util.List[_] => l.size
      case l: Seq[_] => l.size
    }.getOrElse(0) - decoded.size
    (if (dropped < 1) Nil else Seq(s"$dropped rules entr${if (dropped == 1) "y is" else "ies are"} not a mapping (check YAML indentation)")) ++
      decoded.zipWithIndex.flatMap { case (m, ri) =>
        m.get("type").collect { case t: String if t.nonEmpty => t } match {
          case None => Seq(s"rule[$ri]: missing type")
          case Some(t) => rules.get(t) match {
            case None => Seq(s"rule[$ri]: unknown type '$t' (known: ${rules.keys.toSeq.sorted.mkString(", ")})")
            case Some(r) => r.errors(m - "type", "key").map(e => s"rule[$ri] ($t): $e")
          }
        }
      }
  }

  private def op(name: String, summary: String, params: Seq[Param], streamable: Boolean = false,
                 check: Args => Seq[String] = _ => Nil)(build: Build): Op =
    Decl(name, summary, params, streamable, check)(build)

  /** Every `analytics:` op by name. Package-visible:
    * [[graft.tools.PlaybookDoc]] renders the ops reference in
    * docs/playbook.md from these declarations, and PlaybookDocSpec
    * fails the build when the committed doc drifts from them. */
  private[graft] val ops: Map[String, Op] = Seq(
    op("quality_gate", "adds `quality`, keeps rows with quality >= minQuality",
      Seq(req("textCol"), dbl("minQuality", 0.3)), streamable = true) { (_, df, a) =>
      TextAnalysis.withTextStats(df, col(a.str("textCol")), "quality" -> "quality")
        .filter(col("quality") >= lit(a.dbl("minQuality")))
    },
    op("lang_filter", "adds `lang_pred`, keeps listed languages",
      Seq(req("textCol"), req("langs", Kind.strs)), streamable = true) { (_, df, a) =>
      TextAnalysis.withTextStats(df, col(a.str("textCol")), "lang_pred" -> "lang")
        .filter(col("lang_pred").isin(a.strs("langs"): _*))
    },
    op("text_metrics", "adds quality, lang_pred, n_tokens columns",
      Seq(req("textCol")), streamable = true) { (_, df, a) =>
      TextAnalysis.withTextStats(df, col(a.str("textCol")),
        "quality" -> "quality", "lang_pred" -> "lang", "n_tokens" -> "n_tokens")
    },
    op("exact_dedup", "exact dedup in ingest order",
      Seq(req("keys", Kind.strs), oneOf("keep", "first", "last")), streamable = true) { (_, df, a) =>
      // a stream keeps the first arrival; keep: last is rejected at load
      if (df.isStreaming) df.dropDuplicates(a.strs("keys"))
      else Dedup.byIngestOrder(df, a.strs("keys"), keepFirst = a.str("keep") == "first")
    },
    op("near_dup_dedup", "MinHash/LSH near-dup, canonical doc kept" + autoBands,
      Seq(req("idCol"), req("textCol")) ++ minhash(0.7, byHash("numHashes", 16, 8)),
      check = minhashCheck) { (_, df, a) =>
      val (id, text) = (a.str("idCol"), a.str("textCol"))
      val (sh, nh, th) = (a.int("shingleSize"), a.int("numHashes"), a.dbl("threshold"))
      val pairs =
        if (a.bool("portableHashing"))
          Dedup.minhashPortablePairs(df, id, text, shingleSize = sh,
            numHashes = nh, bands = bands(a), threshold = th)
        else Dedup.minhashNearDupPairs(df, id, text, sh, nh, bands(a), th)
      Clusters.dedupByPairs(df, id, pairs, "id_a", "id_b")
    },
    op("corpus_clean", "quality gate -> exact dedup -> near-dup" + autoBands,
      Seq(req("idCol"), req("textCol"), dbl("minQuality", 0.3), strs("langs")) ++
        minhash(0.7, byHash("numHashes", 16, 8)), check = minhashCheck) { (_, df, a) =>
      Corpus.clean(df, a.str("idCol"), a.str("textCol"), Corpus.CleanConfig(
        minQuality = a.dbl("minQuality"), langs = a.strs("langs").toSet,
        nearDupThreshold = a.dbl("threshold"), shingleSize = Some(a.int("shingleSize")),
        numHashes = Some(a.int("numHashes")), bands = bands(a),
        portableHashing = a.bool("portableHashing")))
    },
    op("url_normalize", "adds the canonical URL column",
      Seq(req("urlCol"), str("target", "canonical_url")), streamable = true) { (_, df, a) =>
      df.withColumn(a.str("target"), Urls.normalizeUrl(col(a.str("urlCol"))))
    },
    op("url_dedup", "canonical-URL dedup; filter keeps only keepers, verdicts returns the verdict relation",
      Seq(req("idCol"), req("urlCol"), oneOf("mode", "filter", "verdicts"))) { (_, df, a) =>
      val id = a.str("idCol")
      val verdicts = Urls.urlDedupVerdicts(df, id, a.str("urlCol"))
      if (a.str("mode") == "verdicts") verdicts
      else df.join(verdicts.filter(!col("is_dup")).select(col(id)), Seq(id), "left_semi")
    },
    op("host_blocklist", "drops rows whose host is a blocked domain or subdomain",
      Seq(req("urlCol"), req("blocked", Kind.strs)), streamable = true) { (_, df, a) =>
      // null-host rows (no URL to judge) pass through: the blocklist
      // drops rows it can PROVE are on a blocked domain
      df.filter(!coalesce(Urls.hostBlocked(col(a.str("urlCol")), a.strs("blocked")), lit(false)))
    },
    op("datasheet", "per-(source,lang) corpus data card",
      Seq(req("sourceCol"), req("langCol"), req("textCol"))) { (_, df, a) =>
      TextAnalysis.corpusDatasheet(df, a.str("sourceCol"), a.str("langCol"), a.str("textCol"))
    },
    op("split", "adds a deterministic hash-bucket train/val/test `split` column",
      Seq(req("keyCol"), int("trainPct", 90), int("valPct", 5)), streamable = true) { (_, df, a) =>
      Sampling.withSplit(df, a.str("keyCol"), trainPct = a.int("trainPct"), valPct = a.int("valPct"))
    },
    op("sample", "keeps a deterministic pct% sample by key hash",
      Seq(req("keyCol"), req("pct", Kind.int)), streamable = true) { (_, df, a) =>
      Sampling.deterministicSample(df, a.str("keyCol"), a.int("pct"))
    },
    op("sessionize", "gap-based session ids",
      Seq(req("keyCol"), req("tsCol"), int("gapSeconds", 3600), strs("tiebreak"))) { (_, df, a) =>
      Sessions.sessionize(df, a.str("keyCol"), a.str("tsCol"),
        gapSeconds = a.int("gapSeconds").toLong, tiebreak = a.strs("tiebreak"))
    },
    op("resample", "fixed-grid gap-fill resample: per-bucket mean, forward fill, linear interpolation",
      Seq(req("keys", Kind.strs), req("tsCol"), req("valueCol"), int("stepSeconds", 86400))) { (_, df, a) =>
      Resample.gapFillResample(df, a.strs("keys"), a.str("tsCol"), a.str("valueCol"),
        stepSeconds = a.int("stepSeconds").toLong)
    },
    op("gap_report", "per-key observed/empty bucket counts and longest empty run",
      Seq(req("keys", Kind.strs), req("tsCol"), int("stepSeconds", 86400))) { (_, df, a) =>
      Resample.gapReport(df, a.strs("keys"), a.str("tsCol"), stepSeconds = a.int("stepSeconds").toLong)
    },
    op("zorder_cluster", "adds `zval` and range-clusters on the Z-curve so the destination write prunes on every listed dimension",
      Seq(req("dims", Kind.strs), int("bits", 16), int("partitions", 0)), check = { a =>
        // the interleave's 62-bit budget must fail at LOAD, not as a
        // bare require() mid-compile
        val (dims, bits) = (a.strs("dims").size, a.int("bits"))
        if (bits >= 1 && dims * bits <= 62) Nil
        else Seq(s"$dims dims x $bits bits exceeds the 62-bit interleave budget — " +
          s"lower bits (${62 / dims} fits) or drop dimensions")
      }) { (_, df, a) =>
      Layout.clusterByZorder(df, a.strs("dims"), bits = a.int("bits"), partitions = a.int("partitions"))
    },
    op("expect", "data-contract report: one row per rule with exact violation counts; rules: " +
      rules.values.toSeq.sortBy(_.name).map(r => s"{type: ${r.name} ${r.usage}}").mkString(", "),
      Seq(req("rules", Kind.maps)), check = expectCheck) { (spark, df, a) =>
      Expectations.check(df, a.maps("rules").map { m =>
        val r = rules(m("type").toString)
        r.build(spark, r.args(m - "type"))
      })
    },
    op("image_features", "REAL raster decode (netpbm/BMP/PNG/GIF/JPEG/TIFF) to width/height/channels/decoded/sum_luma; idCol must be numeric (derive one first, e.g. xxhash64(path) over a binary source)",
      Seq(req("idCol"), req("contentCol")), streamable = true) { (_, df, a) =>
      Multimodal.imageFeatures(df, a.str("idCol"), a.str("contentCol")).toDF()
    },
    op("audio_features", "REAL audio decode (WAV/AIFF/G.711 u-law+A-law/IMA ADPCM) to channels/sample_rate/n_samples/decoded/sum_sq",
      Seq(req("idCol"), req("contentCol")), streamable = true) { (_, df, a) =>
      Multimodal.audioFeatures(df, a.str("idCol"), a.str("contentCol")).toDF()
    },
    op("audience_overlap", "KMV sketch overlap: distinct-count, Jaccard, and intersection estimates for every group pair",
      Seq(req("groupCol"), req("valueCol"), int("k", 256), bool("portableHashing"))) { (_, df, a) =>
      val k = a.int("k")
      Sketches.kmvOverlap(Sketches.kmvSketch(df, a.str("groupCol"), a.str("valueCol"), k,
        a.bool("portableHashing")), k)
    },
    op("gopher_rules", "Gopher heuristic quality rules; report = per-rule booleans, filter keeps passing rows",
      Seq(req("idCol"), req("textCol"), oneOf("mode", "report", "filter"), int("minWords", 10),
        int("maxWords", 100000), dbl("minMeanLen", 2.0), dbl("maxMeanLen", 12.0),
        dbl("maxSymbolRatio", 0.1), dbl("minAlphaFrac", 0.8), int("minStopHits", 2)),
      streamable = true) { (_, df, a) =>
      val text = a.str("textCol")
      val (minW, maxW, minStop) = (a.int("minWords"), a.int("maxWords"), a.int("minStopHits"))
      val (minML, maxML) = (a.dbl("minMeanLen"), a.dbl("maxMeanLen"))
      val (maxSym, minAlpha) = (a.dbl("maxSymbolRatio"), a.dbl("minAlphaFrac"))
      if (a.str("mode") == "filter")
        // row-local predicate (no join back) — streaming-executable
        TextAnalysis.gopherFilter(df, text, minW, maxW, minML, maxML, maxSym, minAlpha, minStop)
      else TextAnalysis.gopherRules(df, a.str("idCol"), text, minW, maxW, minML, maxML,
        maxSym, minAlpha, minStop)
    },
    op("pii_redact", "email/phone/SSN redaction to placeholder tokens (RE2-safe patterns)",
      Seq(req("textCol"), textColOr("target")), streamable = true) { (_, df, a) =>
      df.withColumn(a.str("target"), TextAnalysis.redactPii(col(a.str("textCol"))))
    },
    op("decontaminate", "benchmark n-gram contamination against a second (file) source; filter keeps uncontaminated rows",
      refParams ++ Seq(int("n", 3), int("minOverlap", 1), oneOf("mode", "flags", "score", "filter")),
      check = refCheck) { (spark, df, a) =>
      val (id, text, n) = (a.str("idCol"), a.str("textCol"), a.int("n"))
      val ref = refFrame(spark, a)
      a.str("mode") match {
        case "score" => Decontaminate.score(df, ref, id, text, n)
        case "filter" =>
          val f = Decontaminate.flags(df, ref, id, text, n, minOverlap = a.int("minOverlap"))
          df.join(f.filter(!col("contaminated")).select(col(id)), Seq(id), "left_semi")
        case _ => Decontaminate.flags(df, ref, id, text, n, minOverlap = a.int("minOverlap"))
      }
    },
    op("dsir_weight", "DSIR importance weights of this frame against the target (file) corpus",
      refParams ++ Seq(int("buckets", 8192), bool("portableHashing")), check = refCheck) { (spark, df, a) =>
      Dsir.importanceWeights(df, refFrame(spark, a), a.str("idCol"), a.str("textCol"),
        buckets = a.int("buckets"), portableHashing = a.bool("portableHashing"))
    },
    op("ann_topk", "approximate nearest neighbors over an embedding column (cosine; LSH is the multi-table path)",
      Seq(req("idCol"), req("vecCol"), req("vecDims", Kind.int), req("k", Kind.int),
        oneOf("method", "ivf", "lsh"), int("nlist", 16), int("nprobe", 2), int("planes", 8),
        int("tables", 4))) { (_, df, a) =>
      val (id, vec, dims, k) = (a.str("idCol"), a.str("vecCol"), a.int("vecDims"), a.int("k"))
      if (a.str("method") == "lsh")
        Similarity.lshTopK(df, id, vec, dims, k, planes = a.int("planes"), tables = a.int("tables"))
      else Similarity.ivfTopK(df, id, vec, dims, k, nlist = a.int("nlist"), nprobe = a.int("nprobe"))
    },
    // the four tokenizer stages train EAGERLY at stage-apply (one
    // bounded collect over the vocabulary relation — same as the Scala
    // API), then report per-source fertility
    op("bpe_fertility", "train BPE merges on this frame (eager, vocabulary-bounded) and report per-source tokenizer fertility",
      Seq(req("textCol"), req("sourceCol"), int("numMerges", 40), bool("nativeEncode"))) { (_, df, a) =>
      val text = a.str("textCol")
      val ranked = merges(Tokenizer.bpeTrain(df, text, numMerges = a.int("numMerges")))
      Tokenizer.bpeFertility(df, text, a.str("sourceCol"), ranked, nativeEncode = a.bool("nativeEncode"))
    },
    op("unigram_fertility", "train a unigram-LM tokenizer (Kudo 2018, SentencePiece family) on this frame (eager, vocabulary-bounded EM) and report per-source fertility",
      Seq(req("textCol"), req("sourceCol"), int("vocabSize", 300), int("maxPieceLen", 8),
        int("emIters", 4))) { (_, df, a) =>
      val (text, mpl) = (a.str("textCol"), a.int("maxPieceLen"))
      val vocab = Tokenizer.unigramTrainLocalFrom(df, text, vocabSize = a.int("vocabSize"),
        maxPieceLen = mpl, emIters = a.int("emIters"))
      Tokenizer.unigramFertility(df, text, a.str("sourceCol"), vocab, maxPieceLen = mpl)
    },
    op("wordpiece_fertility", "train a WordPiece tokenizer (Schuster & Nakajima 2012, the BERT family; likelihood-ratio merges) on this frame (eager, vocabulary-bounded) and report per-source fertility incl. unk_words",
      Seq(req("textCol"), req("sourceCol"), int("numMerges", 40))) { (_, df, a) =>
      val text = a.str("textCol")
      val vocab = Tokenizer.wordpieceVocabFrom(df, text, numMerges = a.int("numMerges"))
      Tokenizer.wordpieceFertility(df, text, a.str("sourceCol"), vocab)
    },
    op("bbpe_fertility", "train a byte-level BPE tokenizer (Radford 2019, the GPT-2 family; UTF-8 byte alphabet, never emits UNK) on this frame (eager, vocabulary-bounded) and report per-source fertility incl. bytes_per_token",
      Seq(req("textCol"), req("sourceCol"), int("numMerges", 200))) { (_, df, a) =>
      val text = a.str("textCol")
      val ranked = merges(Tokenizer.bbpeTrain(df, text, numMerges = a.int("numMerges")))
      Tokenizer.bbpeFertility(df, text, a.str("sourceCol"), ranked)
    },
    op("c4_rules", "the C4 cleaner (Raffel 2020 §2.2): keep lines ending in terminal punctuation with enough words and no 'javascript'; drop pages with lorem ipsum, curly braces, or too few retained sentences; textCol is REPLACED by the cleaned text",
      Seq(req("idCol"), req("textCol"), int("minWordsPerLine", 3), int("minSentences", 5))) { (_, df, a) =>
      val (id, text) = (a.str("idCol"), a.str("textCol"))
      val cleaned = TextAnalysis.c4LineRules(df, id, text,
        minWordsPerLine = a.int("minWordsPerLine"), minSentences = a.int("minSentences"))
      // inner join: pages the rules dropped leave the pipeline;
      // survivors carry the cleaned text under the original column
      df.drop(text).join(cleaned.select(col(id), col("clean_text").as(text)), Seq(id))
    },
    op("ppl_partition", "CCNet head/middle/tail perplexity bands (Wenzek 2020): per-source ntile over the self-trained LM NLL, annotated onto the frame as avg_nll_micro + ppl_band; model picks the smoother: bigram (JM; docs under two tokens band NULL, the default) | kn2 (Kneser-Ney bigram) | mkn3 (modified-KN trigram, the CCNet/SRILM production smoother) | sb3 (Stupid Backoff trigram) — the latter three score every non-null doc; modelDir+trainPath band under a PERSISTED stamped mkn3 artifact (LmIndex — the fit-once reference-LM lifecycle, model defaults to mkn3) instead of a per-run refit; keepBands filters to the listed bands and DROPS NULL-banded docs unless the literal entry \"null\" is listed",
      Seq(req("idCol"), req("textCol"), req("sourceCol"), int("lambdaBp", 8000), int("buckets", 3),
        strs("keepBands"), Param("model", Kind.str, Derived("bigram", a =>
          if (a.optPath("modelDir").isDefined) "mkn3" else "bigram"), Seq("bigram", "kn2", "mkn3", "sb3")),
        unset("modelDir", Kind.path), unset("trainPath", Kind.path))) { (_, df, a) =>
      val id = a.str("idCol")
      val pp = TextAnalysis.perplexityPartition(df, id, a.str("textCol"), a.str("sourceCol"),
        lambdaBp = a.int("lambdaBp"), buckets = a.int("buckets"), model = a.str("model"),
        modelDir = a.optPath("modelDir").orNull, trainPath = a.optPath("trainPath").orNull)
      // annotate, don't project: the pipeline keeps its columns; docs
      // with fewer than two tokens have no bigram NLL and band NULL
      val joined = df.join(pp.select(col(id), col("avg_nll_micro"), col("ppl_band")), Seq(id), "left")
      val keep = a.strs("keepBands")
      // NULL is not a band, so ANY keepBands filter drops the
      // unscoreable under-two-token docs (isin never matches NULL) —
      // even keepBands=[head,middle,tail]. That drop is deliberate
      // and documented in the op help; the literal entry "null"
      // keeps them explicitly.
      val named = keep.filterNot(_ == "null")
      if (keep.isEmpty) joined
      else if (keep.contains("null")) joined.filter(col("ppl_band").isNull || col("ppl_band").isin(named: _*))
      else joined.filter(col("ppl_band").isin(named: _*))
    },
    op("pack_windows", "concat-and-chunk sequence packing into fixed-capacity context windows",
      Seq(req("idCol"), req("textCol"), req("capacity", Kind.int), int("shards", 64)),
      check = atLeastOne("capacity")) { (_, df, a) =>
      Packing.packWindows(df, a.str("idCol"), a.str("textCol"),
        capacity = a.int("capacity"), shards = a.int("shards"))
    },
    op("length_batches", "per-shard length-sorted inference batches with pad-waste report",
      Seq(req("idCol"), req("textCol"), req("batchSize", Kind.int), int("shards", 64)),
      check = atLeastOne("batchSize")) { (_, df, a) =>
      Packing.lengthBatches(df, a.str("idCol"), a.str("textCol"),
        batchSize = a.int("batchSize"), shards = a.int("shards"))
    },
    op("chunk_docs", "overlapping token chunking for long documents (row-local)",
      Seq(req("idCol"), req("textCol"), req("chunkTokens", Kind.int), int("overlap", 0)),
      streamable = true, check = { a =>
        val (ct, ov) = (a.int("chunkTokens"), a.int("overlap"))
        if (ov >= 0 && ov < ct) Nil
        else Seq(s"need 0 <= overlap < chunkTokens (got overlap=$ov, chunkTokens=$ct)")
      }) { (_, df, a) =>
      Packing.chunkDocs(df, a.str("idCol"), a.str("textCol"),
        chunkTokens = a.int("chunkTokens"), overlap = a.int("overlap"))
    },
    op("incr_neardup", "classify this batch against the persisted signature state of prior corpus versions (dup_of_ref/dup_of_new/kept), then append+compact the kept signatures as the next version" + autoBands,
      Seq(req("idCol"), req("textCol"), req("stateDir", Kind.path), Param("version", Kind.intOrAuto, Fixed(None)),
        oneOf("mode", "verdicts", "filter"), bool("updateState", v = true)) ++
        minhash(0.5, int("numHashes", 16)) :+ int("maxBucketSize", 1000),
      check = a => minhashCheck(a) ++ a.intOrAuto("version").filter(_ < 0)
        .map(v => s"version '$v' must be 'auto' or a non-negative integer")) { (spark, df, a) =>
      // one corpus version of the chain from config (Dedup.nearDupStep,
      // the same step the oracled chain query folds): screen this batch
      // against the latest committed state, and unless updateState is
      // false, commit the next state as stateDir/v<N>. The signature
      // and verdict stages are freed by the caller's
      // CachedRelations.releaseAll.
      val (id, text, stateDir) = (a.str("idCol"), a.str("textCol"), a.path("stateDir"))
      val (sh, nh, portable) = (a.int("shingleSize"), a.int("numHashes"), a.bool("portableHashing"))
      val sig =
        if (portable) Dedup.minhashPortableValues(df, id, text, shingleSize = sh, numHashes = nh)
        else Dedup.minhashSignatures(df, id, text, shingleSize = sh, numHashes = nh)
      val prev = Dedup.nearDupStateLatest(spark, stateDir)
      val version = a.intOrAuto("version") match {
        case Some(ver) =>
          // an explicit version <= the latest committed one either
          // overwrites the v<N> dir the previous state is lazily
          // reading (runtime failure after the batch already did its
          // work) or writes a dir latest-wins resolution ignores while
          // the verdicts are still labeled with it (r11 advisory)
          prev.foreach { case (latest, _) =>
            if (ver <= latest) throw new IllegalArgumentException(
              s"incr_neardup: explicit version $ver <= latest committed version " +
                s"$latest in $stateDir — it would overwrite or shadow committed " +
                s"state; use version: auto (or any version > $latest)")
          }
          ver
        case None => prev.map(_._1 + 1).getOrElse(0) // auto
      }
      val step = Dedup.nearDupStep(prev.map(_._2), sig, version,
        numHashes = nh, bands = bands(a), threshold = a.dbl("threshold"),
        maxBucketSize = a.int("maxBucketSize"), portableBuckets = portable)
      if (a.bool("updateState"))
        Dedup.nearDupStateWrite(step.next, stateDir, version)
      if (a.str("mode") == "filter")
        df.join(step.verdicts.filter(col("status") === "kept")
          .select(col("id").as(id)), Seq(id), "left_semi")
      else step.verdicts
        .withColumnRenamed("id", id)
        .withColumn("version", lit(version))
    },
    op("where", "Spark SQL predicate", Seq(req("condition")), streamable = true,
      check = a => sqlErr("condition", a.str("condition")).toSeq) { (_, df, a) =>
      df.filter(expr(a.str("condition")))
    },
    op("derive", "Spark SQL expression; window functions allowed",
      Seq(req("target"), req("expr")), streamable = true,
      check = a => sqlErr("expr", a.str("expr")).toSeq) { (_, df, a) =>
      df.withColumn(a.str("target"), expr(a.str("expr")))
    },
    op("select", "projection", Seq(req("cols", Kind.strs)), streamable = true) { (_, df, a) =>
      df.select(a.strs("cols").map(col): _*)
    },
    op("aggregate", "group-and-aggregate; aggs maps each target column to a SQL aggregate",
      Seq(req("aggs", Kind.strMap), strs("groupBy")),
      check = a => a.strMap("aggs").toSeq.sorted.flatMap { case (t, sql) => sqlErr(s"agg '$t'", sql) }) {
      (_, df, a) =>
      val aggs = a.strMap("aggs").toSeq.sortBy(_._1).map { case (t, sql) => expr(sql).as(t) }
      val keys = a.strs("groupBy")
      val grouped = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
      grouped.agg(aggs.head, aggs.tail: _*)
    },
    op("join", "join another source on same-named keys (named keys, not `on`: snakeyaml parses a bare `on` as YAML 1.1 boolean true)",
      Seq(req("type"), req("file", Kind.path), req("keys", Kind.strs), str("how", "inner"), bool("broadcast")),
      streamable = true) { (spark, df, a) =>
      val right = readFile(spark, a.str("type"), a.path("file"))
      // explicit broadcast hint for provably-small dims; otherwise the
      // planner/AQE picks the strategy from stats
      df.join(if (a.bool("broadcast")) broadcast(right) else right, a.strs("keys"), a.str("how"))
    }
  ).map(o => o.name -> o).toMap

  /** Names of the params declared as paths, in any op or `expect`
    * rule: the ones the CLI env-expands. */
  private[graft] lazy val pathParams: Set[String] =
    (ops.values.flatMap(_.params) ++ rules.values.flatMap(_.params))
      .collect { case p if p.kind eq Kind.path => p.name }.toSet

  /** Accumulated-error validation (load-time; no Spark session needed). */
  def validate(stages: Seq[AnalyticsStage]): Seq[String] = stages.zipWithIndex.flatMap { case (st, i) =>
    ops.get(st.op) match {
      case None => Seq(s"analytics[$i]: unknown op '${st.op}' (known: ${ops.keys.toSeq.sorted.mkString(", ")})")
      case Some(op) => op.errors(st.params, "param").map(e => s"analytics[$i] (${op.name}): $e")
    }
  }

  /** Fold the stages over the pipeline's clean main branch. */
  def apply(spark: SparkSession, df: DataFrame, stages: Seq[AnalyticsStage]): DataFrame =
    stages.foldLeft(df) { (acc, st) =>
      val op = ops.getOrElse(st.op, throw new IllegalArgumentException(s"unknown analytics op '${st.op}'"))
      op.build(spark, acc, op.args(st.params))
    }
}
