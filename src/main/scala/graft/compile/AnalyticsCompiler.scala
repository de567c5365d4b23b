package graft.compile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{AnalyticsStage, SourceConfig}
import graft.ops.{Clusters, Corpus, Dedup, Layout, Resample, TextAnalysis, Urls}

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
 * Validation is accumulated-error at load time like every other
 * playbook section: unknown op, missing required params, and
 * unparseable SQL expressions are all reported together with their
 * stage index before any Spark job runs.
 */
object AnalyticsCompiler {

  /** op name -> (required params, short usage hint). Package-visible:
    * [[graft.tools.PlaybookDoc]] renders the ops reference in
    * docs/playbook.md from this map, and PlaybookDocSpec fails the
    * build when the committed doc drifts from it. */
  private[graft] val ops: Map[String, (Seq[String], String)] = Map(
    "quality_gate"   -> (Seq("textCol"), "textCol [minQuality=0.3] — adds `quality`, keeps rows >= threshold"),
    "lang_filter"    -> (Seq("textCol", "langs"), "textCol langs[] — adds `lang_pred`, keeps listed languages"),
    "text_metrics"   -> (Seq("textCol"), "textCol — adds quality, lang_pred, n_tokens columns"),
    "exact_dedup"    -> (Seq("keys"), "keys[] [keep=first|last] — exact dedup in ingest order"),
    "near_dup_dedup" -> (Seq("idCol", "textCol"),
      "idCol textCol [threshold=0.7 shingleSize=5 numHashes=16 bands=4|auto portableHashing=false] — MinHash/LSH near-dup, canonical doc kept; bands=auto picks the S-curve plan for the threshold"),
    "corpus_clean"   -> (Seq("idCol", "textCol"),
      "idCol textCol [minQuality=0.3 langs=[] threshold=0.7 shingleSize=5 numHashes=16 bands=4 portableHashing=false] — quality gate -> exact dedup -> near-dup"),
    "url_normalize"  -> (Seq("urlCol"), "urlCol [target=canonical_url] — adds the canonical URL column"),
    "url_dedup"      -> (Seq("idCol", "urlCol"),
      "idCol urlCol [mode=filter|verdicts] — canonical-URL dedup; filter keeps only keepers, verdicts returns the verdict relation"),
    "host_blocklist" -> (Seq("urlCol", "blocked"), "urlCol blocked[] — drops rows whose host is a blocked domain or subdomain"),
    "datasheet"      -> (Seq("sourceCol", "langCol", "textCol"), "sourceCol langCol textCol — per-(source,lang) corpus data card"),
    "split"          -> (Seq("keyCol"), "keyCol [trainPct=90 valPct=5] — adds a deterministic hash-bucket train/val/test `split` column"),
    "sample"         -> (Seq("keyCol", "pct"), "keyCol pct — keeps a deterministic pct% sample by key hash"),
    "sessionize"     -> (Seq("keyCol", "tsCol"), "keyCol tsCol [gapSeconds=3600 tiebreak=[]] — gap-based session ids"),
    "resample"       -> (Seq("keys", "tsCol", "valueCol"),
      "keys[] tsCol valueCol [stepSeconds=86400] — fixed-grid gap-fill resample: per-bucket mean, forward fill, linear interpolation"),
    "gap_report"     -> (Seq("keys", "tsCol"),
      "keys[] tsCol [stepSeconds=86400] — per-key observed/empty bucket counts and longest empty run"),
    "zorder_cluster" -> (Seq("dims"),
      "dims[] [bits=16 partitions=0] — adds `zval` and range-clusters on the Z-curve so the destination write prunes on every listed dimension"),
    "expect"         -> (Seq("rules"),
      "rules[{type: not_null|in_range|accepted_values|matches_regex|satisfies|unique|ref_integrity, ...}] — data-contract report: one row per rule with exact violation counts"),
    "image_features" -> (Seq("idCol", "contentCol"),
      "idCol contentCol — REAL raster decode (netpbm/BMP/PNG/GIF/JPEG/TIFF) to width/height/channels/decoded/sum_luma; idCol must be numeric (derive one first, e.g. xxhash64(path) over a binary source)"),
    "audio_features" -> (Seq("idCol", "contentCol"),
      "idCol contentCol — REAL audio decode (WAV/AIFF/G.711 u-law+A-law/IMA ADPCM) to channels/sample_rate/n_samples/decoded/sum_sq"),
    "audience_overlap" -> (Seq("groupCol", "valueCol"),
      "groupCol valueCol [k=256 portableHashing=false] — KMV sketch overlap: distinct-count, Jaccard, and intersection estimates for every group pair"),
    "gopher_rules"   -> (Seq("idCol", "textCol"),
      "idCol textCol [mode=report|filter minWords=10 maxWords=100000 minMeanLen=2.0 maxMeanLen=12.0 maxSymbolRatio=0.1 minAlphaFrac=0.8 minStopHits=2] — Gopher heuristic quality rules; report = per-rule booleans, filter keeps passing rows"),
    "pii_redact"     -> (Seq("textCol"),
      "textCol [target=<textCol>] — email/phone/SSN redaction to placeholder tokens (RE2-safe patterns)"),
    "decontaminate"  -> (Seq("idCol", "textCol", "refType", "refFile"),
      "idCol textCol refType refFile [refWhere refTextCol=<textCol> n=3 minOverlap=1 mode=flags|score|filter] — benchmark n-gram contamination against a second (file) source; filter keeps uncontaminated rows"),
    "dsir_weight"    -> (Seq("idCol", "textCol", "refType", "refFile"),
      "idCol textCol refType refFile [refWhere refTextCol=<textCol> buckets=8192 portableHashing=false] — DSIR importance weights of this frame against the target (file) corpus"),
    "ann_topk"       -> (Seq("idCol", "vecCol", "vecDims", "k"),
      "idCol vecCol vecDims k [method=ivf|lsh nlist=16 nprobe=2 planes=8 tables=4] — approximate nearest neighbors over an embedding column (cosine; LSH is the multi-table path)"),
    "bpe_fertility"  -> (Seq("textCol", "sourceCol"),
      "textCol sourceCol [numMerges=40 nativeEncode=false] — train BPE merges on this frame (eager, vocabulary-bounded) and report per-source tokenizer fertility"),
    "unigram_fertility" -> (Seq("textCol", "sourceCol"),
      "textCol sourceCol [vocabSize=300 maxPieceLen=8 emIters=4] — train a unigram-LM tokenizer (Kudo 2018, SentencePiece family) on this frame (eager, vocabulary-bounded EM) and report per-source fertility"),
    "wordpiece_fertility" -> (Seq("textCol", "sourceCol"),
      "textCol sourceCol [numMerges=40] — train a WordPiece tokenizer (Schuster & Nakajima 2012, the BERT family; likelihood-ratio merges) on this frame (eager, vocabulary-bounded) and report per-source fertility incl. unk_words"),
    "bbpe_fertility" -> (Seq("textCol", "sourceCol"),
      "textCol sourceCol [numMerges=200] — train a byte-level BPE tokenizer (Radford 2019, the GPT-2 family; UTF-8 byte alphabet, never emits UNK) on this frame (eager, vocabulary-bounded) and report per-source fertility incl. bytes_per_token"),
    "c4_rules" -> (Seq("idCol", "textCol"),
      "idCol textCol [minWordsPerLine=3 minSentences=5] — the C4 cleaner (Raffel 2020 §2.2): keep lines ending in terminal punctuation with enough words and no 'javascript'; drop pages with lorem ipsum, curly braces, or too few retained sentences; textCol is REPLACED by the cleaned text"),
    "ppl_partition" -> (Seq("idCol", "textCol", "sourceCol"),
      "idCol textCol sourceCol [lambdaBp=8000 buckets=3 keepBands=[] model=bigram modelDir trainPath] — CCNet head/middle/tail perplexity bands (Wenzek 2020): per-source ntile over the self-trained LM NLL, annotated onto the frame as avg_nll_micro + ppl_band; model picks the smoother: bigram (JM; docs under two tokens band NULL) | kn2 (Kneser-Ney bigram) | mkn3 (modified-KN trigram, the CCNet/SRILM production smoother) | sb3 (Stupid Backoff trigram) — the latter three score every non-null doc; modelDir+trainPath band under a PERSISTED stamped mkn3 artifact (LmIndex — the fit-once reference-LM lifecycle) instead of a per-run refit; keepBands filters to the listed bands and DROPS NULL-banded docs unless the literal entry \"null\" is listed"),
    "pack_windows"   -> (Seq("idCol", "textCol", "capacity"),
      "idCol textCol capacity [shards=64] — concat-and-chunk sequence packing into fixed-capacity context windows"),
    "length_batches" -> (Seq("idCol", "textCol", "batchSize"),
      "idCol textCol batchSize [shards=64] — per-shard length-sorted inference batches with pad-waste report"),
    "chunk_docs"     -> (Seq("idCol", "textCol", "chunkTokens"),
      "idCol textCol chunkTokens [overlap=0] — overlapping token chunking for long documents (row-local)"),
    "incr_neardup"   -> (Seq("idCol", "textCol", "stateDir"),
      "idCol textCol stateDir [version=auto mode=verdicts|filter updateState=true numHashes=16 bands=4 threshold=0.5 shingleSize=5|4 maxBucketSize=1000 portableHashing=false] — classify this batch against the persisted signature state of prior corpus versions (dup_of_ref/dup_of_new/kept), then append+compact the kept signatures as the next version"),
    "where"          -> (Seq("condition"), "condition — Spark SQL predicate"),
    "derive"         -> (Seq("target", "expr"), "target expr — Spark SQL expression; window functions allowed"),
    "select"         -> (Seq("cols"), "cols[] — projection"),
    "aggregate"      -> (Seq("aggs"), "[groupBy=[]] aggs{target: sqlExpr} — group-and-aggregate"),
    "join"           -> (Seq("type", "file", "keys"),
      "type file keys[] [how=inner broadcast=false] — join another source on same-named keys (named keys, not `on`: snakeyaml parses a bare `on` as YAML 1.1 boolean true)"))

  /** op name -> the params the stage reads BEYOND its required ones
    * (exactly the keys applyStage/refFrame consult — the bracketed
    * part of each usage string). The validator rejects any other key:
    * a typo'd optional param (`treshold: 0.9`) would otherwise
    * silently fall back to its default, which is the config mistake a
    * user cannot see. */
  private[graft] val optionalParams: Map[String, Set[String]] = Map(
    "quality_gate"   -> Set("minQuality"),
    "exact_dedup"    -> Set("keep"),
    "near_dup_dedup" -> Set("threshold", "shingleSize", "numHashes", "bands", "portableHashing"),
    "corpus_clean"   -> Set("minQuality", "langs", "threshold", "shingleSize",
      "numHashes", "bands", "portableHashing"),
    "url_normalize"  -> Set("target"),
    "url_dedup"      -> Set("mode"),
    "split"          -> Set("trainPct", "valPct"),
    "sessionize"     -> Set("gapSeconds", "tiebreak"),
    "resample"       -> Set("stepSeconds"),
    "gap_report"     -> Set("stepSeconds"),
    "zorder_cluster" -> Set("bits", "partitions"),
    "audience_overlap" -> Set("k", "portableHashing"),
    "gopher_rules"   -> Set("mode", "minWords", "maxWords", "minMeanLen",
      "maxMeanLen", "maxSymbolRatio", "minAlphaFrac", "minStopHits"),
    "pii_redact"     -> Set("target"),
    "decontaminate"  -> Set("refWhere", "refTextCol", "n", "minOverlap", "mode"),
    "dsir_weight"    -> Set("refWhere", "refTextCol", "buckets", "portableHashing"),
    "ann_topk"       -> Set("method", "nlist", "nprobe", "planes", "tables"),
    "bpe_fertility"  -> Set("numMerges", "nativeEncode"),
    "unigram_fertility" -> Set("vocabSize", "maxPieceLen", "emIters"),
    "wordpiece_fertility" -> Set("numMerges"),
    "bbpe_fertility" -> Set("numMerges"),
    "ppl_partition" -> Set("lambdaBp", "buckets", "keepBands", "model",
      "modelDir", "trainPath"),
    "c4_rules" -> Set("minWordsPerLine", "minSentences"),
    "pack_windows"   -> Set("shards"),
    "length_batches" -> Set("shards"),
    "chunk_docs"     -> Set("overlap"),
    "incr_neardup"   -> Set("version", "mode", "updateState", "numHashes",
      "bands", "threshold", "shingleSize", "maxBucketSize", "portableHashing"),
    "aggregate"      -> Set("groupBy"),
    "join"           -> Set("how", "broadcast"),
  ).withDefaultValue(Set.empty)

  /** Accumulated-error validation (load-time; no Spark session needed). */
  def validate(stages: Seq[AnalyticsStage]): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    stages.zipWithIndex.foreach { case (st, i) =>
      ops.get(st.op) match {
        case None =>
          errs += s"analytics[$i]: unknown op '${st.op}' (known: ${ops.keys.toSeq.sorted.mkString(", ")})"
        case Some((required, usage)) =>
          // required params are checked with the SAME typed decoders
          // applyStage uses — a present-but-empty list, an empty
          // string, or a quoted number would otherwise pass here and
          // crash mid-compile with a bare None.get, exactly the
          // opaque runtime error this validator exists to prevent
          val listParams = Set("keys", "cols", "blocked", "langs", "dims")
          val intParams = Set("pct", "k", "vecDims", "capacity", "batchSize", "chunkTokens")
          val missing = required.filter { k =>
            if (k == "aggs") strMap(st.params, k).isEmpty
            else if (k == "rules") maps(st.params, k).isEmpty
            else if (listParams(k)) strs(st.params, k).isEmpty
            else if (intParams(k)) int(st.params, k).isEmpty
            else str(st.params, k).isEmpty
          }
          if (missing.nonEmpty)
            errs += s"analytics[$i] (${st.op}): missing ${missing.mkString(", ")} — usage: $usage"
          // a key the stage never reads is a typo, not configuration —
          // reject it instead of letting a default silently apply
          (st.params.keySet -- required -- optionalParams(st.op)).toSeq.sorted
            .foreach(k =>
              errs += s"analytics[$i] (${st.op}): unknown param '$k' — usage: $usage")
          // SQL expression params must parse at load time — expr() is
          // lazy (Column construction defers the parse), so go through
          // the Catalyst parser directly
          def checkExpr(kind: String, sql: String): Unit =
            try { org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql); () }
            catch { case e: Exception =>
              errs += s"analytics[$i] (${st.op}): bad $kind '$sql': ${e.getMessage.linesIterator.take(1).mkString}" }
          st.op match {
            case "where" => str(st.params, "condition").foreach(checkExpr("condition", _))
            case "derive" => str(st.params, "expr").foreach(checkExpr("expr", _))
            case "aggregate" => strMap(st.params, "aggs").foreach { case (t, sql) => checkExpr(s"agg '$t'", sql) }
            case "url_dedup" =>
              str(st.params, "mode").filterNot(Set("filter", "verdicts")).foreach(m =>
                errs += s"analytics[$i] (url_dedup): mode '$m' not in filter,verdicts")
            case "gopher_rules" =>
              str(st.params, "mode").filterNot(Set("report", "filter")).foreach(m =>
                errs += s"analytics[$i] (gopher_rules): mode '$m' not in report,filter")
            case "decontaminate" | "dsir_weight" =>
              // second-source reads are FILE types only, like expect's
              // ref_integrity — `refFile` is the only forwarded field,
              // never a connection string or arbitrary SQL
              str(st.params, "refType").filterNot(expectRefTypes).foreach(rt =>
                errs += s"analytics[$i] (${st.op}): refType '$rt' not in ${expectRefTypes.toSeq.sorted.mkString(",")} (file-based sources only)")
              str(st.params, "refWhere").foreach(checkExpr("refWhere", _))
              if (st.op == "decontaminate")
                str(st.params, "mode").filterNot(Set("flags", "score", "filter")).foreach(m =>
                  errs += s"analytics[$i] (decontaminate): mode '$m' not in flags,score,filter")
            case "ann_topk" =>
              str(st.params, "method").filterNot(Set("ivf", "lsh")).foreach(m =>
                errs += s"analytics[$i] (ann_topk): method '$m' not in ivf,lsh")
            case "incr_neardup" =>
              str(st.params, "mode").filterNot(Set("verdicts", "filter")).foreach(m =>
                errs += s"analytics[$i] (incr_neardup): mode '$m' not in verdicts,filter")
              st.params.get("version").foreach {
                case "auto" => ()
                case v: java.lang.Number if v.intValue() >= 0 => ()
                case v => errs += s"analytics[$i] (incr_neardup): version '$v' must be 'auto' or a non-negative integer"
              }
              for (nh <- int(st.params, "numHashes"); b <- int(st.params, "bands"))
                if (b < 1 || nh % b != 0)
                  errs += s"analytics[$i] (incr_neardup): numHashes ($nh) must be divisible by bands ($b)"
            case "chunk_docs" =>
              for (ct <- int(st.params, "chunkTokens");
                   ov = int(st.params, "overlap").getOrElse(0))
                if (ov < 0 || ov >= ct)
                  errs += s"analytics[$i] (chunk_docs): need 0 <= overlap < chunkTokens (got overlap=$ov, chunkTokens=$ct)"
            case "pack_windows" =>
              int(st.params, "capacity").filter(_ < 1).foreach(c =>
                errs += s"analytics[$i] (pack_windows): capacity must be >= 1 (got $c)")
            case "length_batches" =>
              int(st.params, "batchSize").filter(_ < 1).foreach(b =>
                errs += s"analytics[$i] (length_batches): batchSize must be >= 1 (got $b)")
            case "exact_dedup" =>
              str(st.params, "keep").filterNot(Set("first", "last")).foreach(k =>
                errs += s"analytics[$i] (exact_dedup): keep '$k' not in first,last")
            case "expect" =>
              // a non-map entry in the rules list (a bare string from
              // a YAML indentation slip) would be silently DROPPED by
              // the maps() decoder — a contract that looks configured
              // but never runs; reject it instead
              val decoded = maps(st.params, "rules")
              val raw = rawListSize(st.params, "rules")
              if (raw > decoded.size)
                errs += s"analytics[$i] (expect): ${raw - decoded.size} rules entr${if (raw - decoded.size == 1) "y is" else "ies are"} not a mapping (check YAML indentation)"
              decoded.zipWithIndex.foreach { case (m, ri) =>
                str(m, "type") match {
                  case None =>
                    errs += s"analytics[$i] (expect) rule[$ri]: missing type"
                  case Some(t) => expectRuleParams.get(t) match {
                    case None => errs += s"analytics[$i] (expect) rule[$ri]: unknown type '$t' (known: ${expectRuleParams.keys.toSeq.sorted.mkString(", ")})"
                    case Some(req) =>
                      val listP = Set("cols", "values")
                      val dblP = Set("lo", "hi")
                      val miss = req.filter { k =>
                        if (listP(k)) strs(m, k).isEmpty
                        else if (dblP(k)) dbl(m, k).isEmpty
                        else str(m, k).isEmpty
                      }
                      if (miss.nonEmpty)
                        errs += s"analytics[$i] (expect) rule[$ri] ($t): missing ${miss.mkString(", ")}"
                      (m.keySet -- req - "type").toSeq.sorted.foreach(k =>
                        errs += s"analytics[$i] (expect) rule[$ri] ($t): unknown key '$k'")
                      if (t == "satisfies")
                        str(m, "predicate").foreach(checkExpr(s"rule[$ri] predicate", _))
                      if (t == "ref_integrity")
                        str(m, "refType").filterNot(expectRefTypes).foreach(rt =>
                          errs += s"analytics[$i] (expect) rule[$ri]: refType '$rt' not in ${expectRefTypes.toSeq.sorted.mkString(",")} (file-based sources only)")
                  }
                }
              }
            case "zorder_cluster" =>
              // the interleave's 62-bit budget must fail at LOAD, not
              // as a bare require() mid-compile
              val dims = strs(st.params, "dims").size
              val bits = int(st.params, "bits").getOrElse(16)
              if (dims >= 1 && (bits < 1 || dims * bits > 62))
                errs += s"analytics[$i] (zorder_cluster): $dims dims x $bits bits exceeds the 62-bit interleave budget — lower bits (${62 / math.max(dims, 1)} fits) or drop dimensions"
            case _ => ()
          }
      }
    }
    errs.toSeq
  }

  /** Fold the stages over the pipeline's clean main branch. */
  def apply(spark: SparkSession, df: DataFrame, stages: Seq[AnalyticsStage]): DataFrame =
    stages.foldLeft(df)((acc, st) => applyStage(spark, acc, st))

  private def applyStage(spark: SparkSession, df: DataFrame, st: AnalyticsStage): DataFrame = {
    val p = st.params
    st.op match {
      case "quality_gate" =>
        df.withColumn("quality", TextAnalysis.qualityScore(col(str(p, "textCol").get)))
          .filter(col("quality") >= lit(dbl(p, "minQuality").getOrElse(0.3)))
      case "lang_filter" =>
        df.withColumn("lang_pred", TextAnalysis.langId(col(str(p, "textCol").get)))
          .filter(col("lang_pred").isin(strs(p, "langs"): _*))
      case "text_metrics" =>
        val t = col(str(p, "textCol").get)
        df.withColumn("quality", TextAnalysis.qualityScore(t))
          .withColumn("lang_pred", TextAnalysis.langId(t))
          .withColumn("n_tokens", TextAnalysis.tokenCount(t))
      case "exact_dedup" =>
        if (df.isStreaming) df.dropDuplicates(strs(p, "keys")) // first arrival
        else Dedup.byIngestOrder(df, strs(p, "keys"),
          keepFirst = !str(p, "keep").contains("last"))
      case "near_dup_dedup" =>
        val (id, text) = (str(p, "idCol").get, str(p, "textCol").get)
        val threshold = dbl(p, "threshold").getOrElse(0.7)
        val portable = bool(p, "portableHashing")
        // user-supplied shingleSize/numHashes are honored on BOTH hash
        // paths; only the defaults differ (md5-portable twins use the
        // cheaper 4-char/8-seed shape)
        val nh = int(p, "numHashes").getOrElse(if (portable) 8 else 16)
        val sh = int(p, "shingleSize").getOrElse(if (portable) 4 else 5)
        // `bands: auto` = the MMDS S-curve plan for (numHashes, threshold)
        val bands =
          if (str(p, "bands").contains("auto")) Dedup.lshPlan(nh, threshold).bands
          else int(p, "bands").getOrElse(4)
        val pairs =
          if (portable)
            Dedup.minhashPortablePairs(df, id, text, shingleSize = sh,
              numHashes = nh, bands = bands, threshold = threshold)
          else
            Dedup.minhashNearDupPairs(df, id, text, sh, nh, bands, threshold)
        Clusters.dedupByPairs(df, id, pairs, "id_a", "id_b")
      case "corpus_clean" =>
        Corpus.clean(df, str(p, "idCol").get, str(p, "textCol").get,
          Corpus.CleanConfig(
            minQuality = dbl(p, "minQuality").getOrElse(0.3),
            langs = strs(p, "langs").toSet,
            nearDupThreshold = dbl(p, "threshold").getOrElse(0.7),
            shingleSize = int(p, "shingleSize").getOrElse(5),
            numHashes = int(p, "numHashes").getOrElse(16),
            bands = int(p, "bands").getOrElse(4),
            portableHashing = bool(p, "portableHashing")))
      case "url_normalize" =>
        df.withColumn(str(p, "target").getOrElse("canonical_url"),
          Urls.normalizeUrl(col(str(p, "urlCol").get)))
      case "url_dedup" =>
        val (id, url) = (str(p, "idCol").get, str(p, "urlCol").get)
        val verdicts = Urls.urlDedupVerdicts(df, id, url)
        if (str(p, "mode").contains("verdicts")) verdicts
        else df.join(verdicts.filter(!col("is_dup")).select(col(id)), Seq(id), "left_semi")
      case "host_blocklist" =>
        // null-host rows (no URL to judge) pass through: the blocklist
        // drops rows it can PROVE are on a blocked domain
        df.filter(!coalesce(
          Urls.hostBlocked(col(str(p, "urlCol").get), strs(p, "blocked")), lit(false)))
      case "datasheet" =>
        TextAnalysis.corpusDatasheet(df,
          str(p, "sourceCol").get, str(p, "langCol").get, str(p, "textCol").get)
      case "split" =>
        graft.ops.Sampling.withSplit(df, str(p, "keyCol").get,
          trainPct = int(p, "trainPct").getOrElse(90),
          valPct = int(p, "valPct").getOrElse(5))
      case "sample" =>
        graft.ops.Sampling.deterministicSample(df, str(p, "keyCol").get,
          int(p, "pct").get)
      case "sessionize" =>
        graft.ops.Sessions.sessionize(df, str(p, "keyCol").get,
          str(p, "tsCol").get,
          gapSeconds = int(p, "gapSeconds").getOrElse(3600).toLong,
          tiebreak = strs(p, "tiebreak"))
      case "expect" =>
        graft.ops.Expectations.check(df, maps(p, "rules").map(expectRule(spark, _)))
      case "image_features" =>
        graft.ops.Multimodal.imageFeatures(df,
          str(p, "idCol").get, str(p, "contentCol").get).toDF()
      case "audio_features" =>
        graft.ops.Multimodal.audioFeatures(df,
          str(p, "idCol").get, str(p, "contentCol").get).toDF()
      case "audience_overlap" =>
        val k = int(p, "k").getOrElse(256)
        graft.ops.Sketches.kmvOverlap(
          graft.ops.Sketches.kmvSketch(df, str(p, "groupCol").get,
            str(p, "valueCol").get, k, bool(p, "portableHashing")), k)
      case "resample" =>
        Resample.gapFillResample(df, strs(p, "keys"), str(p, "tsCol").get,
          str(p, "valueCol").get,
          stepSeconds = int(p, "stepSeconds").getOrElse(86400).toLong)
      case "gap_report" =>
        Resample.gapReport(df, strs(p, "keys"), str(p, "tsCol").get,
          stepSeconds = int(p, "stepSeconds").getOrElse(86400).toLong)
      case "zorder_cluster" =>
        Layout.clusterByZorder(df, strs(p, "dims"),
          bits = int(p, "bits").getOrElse(16),
          partitions = int(p, "partitions").getOrElse(0))
      case "gopher_rules" =>
        val (id, text) = (str(p, "idCol").get, str(p, "textCol").get)
        val (minW, maxW) = (int(p, "minWords").getOrElse(10),
          int(p, "maxWords").getOrElse(100000))
        val (minML, maxML) = (dbl(p, "minMeanLen").getOrElse(2.0),
          dbl(p, "maxMeanLen").getOrElse(12.0))
        val (maxSym, minAlpha, minStop) = (dbl(p, "maxSymbolRatio").getOrElse(0.1),
          dbl(p, "minAlphaFrac").getOrElse(0.8), int(p, "minStopHits").getOrElse(2))
        if (str(p, "mode").contains("filter"))
          // row-local predicate (no join back) — streaming-executable
          TextAnalysis.gopherFilter(df, text, minW, maxW, minML, maxML,
            maxSym, minAlpha, minStop)
        else TextAnalysis.gopherRules(df, id, text, minW, maxW, minML, maxML,
          maxSym, minAlpha, minStop)
      case "pii_redact" =>
        val text = str(p, "textCol").get
        df.withColumn(str(p, "target").getOrElse(text),
          TextAnalysis.redactPii(col(text)))
      case "decontaminate" =>
        val (id, text) = (str(p, "idCol").get, str(p, "textCol").get)
        val ref = refFrame(spark, p, text)
        val n = int(p, "n").getOrElse(3)
        str(p, "mode").getOrElse("flags") match {
          case "score" => graft.ops.Decontaminate.score(df, ref, id, text, n)
          case "filter" =>
            val f = graft.ops.Decontaminate.flags(df, ref, id, text, n,
              minOverlap = int(p, "minOverlap").getOrElse(1))
            df.join(f.filter(!col("contaminated")).select(col(id)), Seq(id), "left_semi")
          case _ => graft.ops.Decontaminate.flags(df, ref, id, text, n,
            minOverlap = int(p, "minOverlap").getOrElse(1))
        }
      case "dsir_weight" =>
        graft.ops.Dsir.importanceWeights(df,
          refFrame(spark, p, str(p, "textCol").get),
          str(p, "idCol").get, str(p, "textCol").get,
          buckets = int(p, "buckets").getOrElse(8192),
          portableHashing = bool(p, "portableHashing"))
      case "incr_neardup" =>
        // one corpus version of the chain from config (Dedup.nearDupStep,
        // the same step the oracled chain query folds): screen this batch
        // against the latest committed state, and unless updateState is
        // false, commit the next state as stateDir/v<N>. The signature
        // and verdict stages are freed by the caller's
        // CachedRelations.releaseAll.
        val (id, text) = (str(p, "idCol").get, str(p, "textCol").get)
        val stateDir = str(p, "stateDir").get
        val nh = int(p, "numHashes").getOrElse(16)
        val portable = bool(p, "portableHashing")
        val sig =
          if (portable) Dedup.minhashPortableValues(df, id, text,
            shingleSize = int(p, "shingleSize").getOrElse(4), numHashes = nh)
          else Dedup.minhashSignatures(df, id, text,
            shingleSize = int(p, "shingleSize").getOrElse(5), numHashes = nh)
        val prev = Dedup.nearDupStateLatest(spark, stateDir)
        val version = p.get("version") match {
          case Some(v: java.lang.Number) =>
            val ver = v.intValue()
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
          case _ => prev.map(_._1 + 1).getOrElse(0) // "auto"
        }
        val step = Dedup.nearDupStep(prev.map(_._2), sig, version,
          numHashes = nh, bands = int(p, "bands").getOrElse(4),
          threshold = dbl(p, "threshold").getOrElse(0.5),
          maxBucketSize = int(p, "maxBucketSize").getOrElse(1000),
          portableBuckets = portable)
        if (p.get("updateState").forall(_ == true))
          Dedup.nearDupStateWrite(step.next, stateDir, version)
        if (str(p, "mode").contains("filter"))
          df.join(step.verdicts.filter(col("status") === "kept")
            .select(col("id").as(id)), Seq(id), "left_semi")
        else step.verdicts
          .withColumnRenamed("id", id)
          .withColumn("version", lit(version))
      case "ann_topk" =>
        val (id, vec) = (str(p, "idCol").get, str(p, "vecCol").get)
        val dims = int(p, "vecDims").get
        val k = int(p, "k").get
        str(p, "method").getOrElse("ivf") match {
          case "lsh" => graft.ops.Similarity.lshTopK(df, id, vec, dims, k,
            planes = int(p, "planes").getOrElse(8),
            tables = int(p, "tables").getOrElse(4))
          case _ => graft.ops.Similarity.ivfTopK(df, id, vec, dims, k,
            nlist = int(p, "nlist").getOrElse(16),
            nprobe = int(p, "nprobe").getOrElse(2))
        }
      case "bpe_fertility" =>
        // training is EAGER at stage-apply (the trainer's one bounded
        // collect over the vocabulary relation — same as the Scala API)
        val text = str(p, "textCol").get
        val merges = graft.ops.Tokenizer.bpeTrain(df, text,
            numMerges = int(p, "numMerges").getOrElse(40))
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Tokenizer.bpeFertility(df, text, str(p, "sourceCol").get,
          merges, nativeEncode = bool(p, "nativeEncode"))
      case "c4_rules" =>
        val id = str(p, "idCol").get
        val text = str(p, "textCol").get
        val cleaned = TextAnalysis.c4LineRules(df, id, text,
          minWordsPerLine = int(p, "minWordsPerLine").getOrElse(3),
          minSentences = int(p, "minSentences").getOrElse(5))
        // inner join: pages the rules dropped leave the pipeline;
        // survivors carry the cleaned text under the original column
        df.drop(text)
          .join(cleaned.select(col(id), col("clean_text").as(text)), Seq(id))
      case "ppl_partition" =>
        val id = str(p, "idCol").get
        val pp = TextAnalysis.perplexityPartition(df, id,
          str(p, "textCol").get, str(p, "sourceCol").get,
          lambdaBp = int(p, "lambdaBp").getOrElse(8000),
          buckets = int(p, "buckets").getOrElse(3),
          model = str(p, "model").getOrElse(
            if (str(p, "modelDir").isDefined) "mkn3" else "bigram"),
          modelDir = str(p, "modelDir").orNull,
          trainPath = str(p, "trainPath").orNull)
        // annotate, don't project: the pipeline keeps its columns; docs
        // with fewer than two tokens have no bigram NLL and band NULL
        val joined = df.join(
          pp.select(col(id), col("avg_nll_micro"), col("ppl_band")),
          Seq(id), "left")
        val bands = strs(p, "keepBands")
        // NULL is not a band, so ANY keepBands filter drops the
        // unscoreable under-two-token docs (isin never matches NULL) —
        // even keepBands=[head,middle,tail]. That drop is deliberate
        // and documented in the op help; the literal entry "null"
        // keeps them explicitly.
        val named = bands.filterNot(_ == "null")
        if (bands.nonEmpty) joined.filter(
          if (bands.contains("null")) col("ppl_band").isNull || col("ppl_band").isin(named: _*)
          else col("ppl_band").isin(named: _*))
        else joined
      case "bbpe_fertility" =>
        // same eager vocabulary-bounded training pattern as bpe_fertility
        val text = str(p, "textCol").get
        val merges = graft.ops.Tokenizer.bbpeTrain(df, text,
            numMerges = int(p, "numMerges").getOrElse(200))
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Tokenizer.bbpeFertility(df, text,
          str(p, "sourceCol").get, merges)
      case "wordpiece_fertility" =>
        // same eager vocabulary-bounded training pattern as bpe_fertility
        val text = str(p, "textCol").get
        val vocab = graft.ops.Tokenizer.wordpieceVocabFrom(df, text,
          numMerges = int(p, "numMerges").getOrElse(40))
        graft.ops.Tokenizer.wordpieceFertility(df, text,
          str(p, "sourceCol").get, vocab)
      case "unigram_fertility" =>
        // same eager vocabulary-bounded training pattern as bpe_fertility
        val text = str(p, "textCol").get
        val mpl = int(p, "maxPieceLen").getOrElse(8)
        val vocab = graft.ops.Tokenizer.unigramTrainLocalFrom(df, text,
          vocabSize = int(p, "vocabSize").getOrElse(300),
          maxPieceLen = mpl,
          emIters = int(p, "emIters").getOrElse(4))
        graft.ops.Tokenizer.unigramFertility(df, text,
          str(p, "sourceCol").get, vocab, maxPieceLen = mpl)
      case "pack_windows" =>
        graft.ops.Packing.packWindows(df, str(p, "idCol").get, str(p, "textCol").get,
          capacity = int(p, "capacity").get, shards = int(p, "shards").getOrElse(64))
      case "length_batches" =>
        graft.ops.Packing.lengthBatches(df, str(p, "idCol").get, str(p, "textCol").get,
          batchSize = int(p, "batchSize").get, shards = int(p, "shards").getOrElse(64))
      case "chunk_docs" =>
        graft.ops.Packing.chunkDocs(df, str(p, "idCol").get, str(p, "textCol").get,
          chunkTokens = int(p, "chunkTokens").get,
          overlap = int(p, "overlap").getOrElse(0))
      case "where" =>
        df.filter(expr(str(p, "condition").get))
      case "derive" =>
        df.withColumn(str(p, "target").get, expr(str(p, "expr").get))
      case "select" =>
        df.select(strs(p, "cols").map(col): _*)
      case "aggregate" =>
        val aggs = strMap(p, "aggs").toSeq.sortBy(_._1)
          .map { case (t, sql) => expr(sql).as(t) }
        val keys = strs(p, "groupBy")
        val grouped = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
        grouped.agg(aggs.head, aggs.tail: _*)
      case "join" =>
        val right0 = graft.io.Readers.read(spark,
          SourceConfig(`type` = str(p, "type").get, file = str(p, "file").get))
        // explicit broadcast hint for provably-small dims; otherwise the
        // planner/AQE picks the strategy from stats
        val right = if (bool(p, "broadcast")) broadcast(right0) else right0
        df.join(right, strs(p, "keys"), str(p, "how").getOrElse("inner"))
      case other =>
        throw new IllegalArgumentException(s"unknown analytics op '$other'")
    }
  }

  /** Second-source frame for decontaminate/dsir_weight: a file-typed
    * read (validated against [[expectRefTypes]]), optionally filtered
    * by a `refWhere` SQL predicate, with `refTextCol` renamed to the
    * stage's own text column so the two-sided operator sees one name. */
  private def refFrame(spark: SparkSession, p: Map[String, Any],
                       textCol: String): DataFrame = {
    val r0 = graft.io.Readers.read(spark, SourceConfig(
      `type` = str(p, "refType").get, file = str(p, "refFile").get))
    val r1 = str(p, "refWhere").map(w => r0.filter(expr(w))).getOrElse(r0)
    str(p, "refTextCol").filter(_ != textCol)
      .map(c => r1.withColumnRenamed(c, textCol)).getOrElse(r1)
  }

  /** One `expect` rule from its YAML map. */
  private def expectRule(spark: SparkSession, m: Map[String, Any]): graft.ops.Expectations.Rule = {
    import graft.ops.Expectations._
    str(m, "type").getOrElse("") match {
      case "not_null" => NotNull(str(m, "col").get)
      case "in_range" => InRange(str(m, "col").get, dbl(m, "lo").get, dbl(m, "hi").get)
      case "accepted_values" => AcceptedValues(str(m, "col").get, strs(m, "values"))
      case "matches_regex" => MatchesRegex(str(m, "col").get, str(m, "regex").get)
      case "satisfies" => Satisfies(str(m, "predicate").get, str(m, "name").get)
      case "unique" => Unique(strs(m, "cols"))
      case "ref_integrity" => RefIntegrity(str(m, "col").get,
        graft.io.Readers.read(spark, SourceConfig(
          `type` = str(m, "refType").get, file = str(m, "refFile").get)),
        str(m, "refCol").get)
      case other => throw new IllegalArgumentException(s"unknown expect rule '$other'")
    }
  }

  /** File-based source types an expect ref_integrity rule may read
    * (postgres is excluded: only `file` is forwarded, never query/conn). */
  private[compile] val expectRefTypes: Set[String] =
    Set("csv", "json", "jsonl", "xlsx", "xml", "yaml", "parquet")

  /** Load-time requirements per expect-rule type. */
  private[compile] val expectRuleParams: Map[String, Seq[String]] = Map(
    "not_null" -> Seq("col"),
    "in_range" -> Seq("col", "lo", "hi"),
    "accepted_values" -> Seq("col", "values"),
    "matches_regex" -> Seq("col", "regex"),
    "satisfies" -> Seq("predicate", "name"),
    "unique" -> Seq("cols"),
    "ref_integrity" -> Seq("col", "refType", "refFile", "refCol"))

  // ---- param decoding over snakeyaml's raw java values ----
  private def str(p: Map[String, Any], k: String): Option[String] =
    p.get(k).collect { case s: String if s.nonEmpty => s }
  private def dbl(p: Map[String, Any], k: String): Option[Double] =
    p.get(k).collect { case n: Number => n.doubleValue }
  private def int(p: Map[String, Any], k: String): Option[Int] =
    p.get(k).collect { case n: Number => n.intValue }
  private def bool(p: Map[String, Any], k: String): Boolean =
    p.get(k).collect { case b: java.lang.Boolean => b.booleanValue }.getOrElse(false)
  private def strs(p: Map[String, Any], k: String): Seq[String] = p.get(k) match {
    case Some(l: java.util.List[_]) =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq.map(_.toString)
    case Some(l: Seq[_]) => l.map(_.toString)
    case Some(s: String) if s.nonEmpty => Seq(s)
    case _ => Seq.empty
  }
  /** Raw entry count of a list param, regardless of element shape —
    * lets validation detect entries the typed [[maps]] decoder drops. */
  private def rawListSize(p: Map[String, Any], k: String): Int = p.get(k) match {
    case Some(l: java.util.List[_]) => l.size
    case Some(l: Seq[_]) => l.size
    case _ => 0
  }

  private def maps(p: Map[String, Any], k: String): Seq[Map[String, Any]] = p.get(k) match {
    case Some(l: java.util.List[_]) =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq.collect { case m: java.util.Map[_, _] =>
        m.asScala.map { case (kk, v) => kk.toString -> (v: Any) }.toMap
      }
    case Some(l: Seq[_]) => l.collect { case m: Map[_, _] =>
      m.map { case (kk, v) => kk.toString -> (v: Any) }.toMap
    }
    case _ => Seq.empty
  }

  private def strMap(p: Map[String, Any], k: String): Map[String, String] = p.get(k) match {
    case Some(m: java.util.Map[_, _]) =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (kk, v) => kk.toString -> String.valueOf(v) }.toMap
    case Some(m: Map[_, _]) => m.map { case (kk, v) => kk.toString -> String.valueOf(v) }
    case _ => Map.empty
  }
}
