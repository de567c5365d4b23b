package graft.ops

import graft.expr.TextStatsExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/**
 * Text-analysis columns for training-data pipelines: token counting,
 * quality scoring, language ID (stopword heuristic), fingerprinting.
 * No UDFs: Column expressions, some of them higher-order lambdas that
 * Catalyst evaluates interpreted, and native Catalyst kernels in
 * [[graft.expr]]. Token count, punctuation and stopword ratios,
 * quality and language are fields of one kernel pass,
 * [[graft.expr.TextStats]] (`text_stats`).
 */
object TextAnalysis {

  /** Lowercased whitespace tokens (same normalization as Dedup.tokens). */
  def tokens(text: Column): Column = Dedup.tokens(text)

  /** The one-pass `text_stats` struct over `text`: n_tokens,
    * punct_ratio, stop_ratio, quality, lang — see
    * [[graft.expr.TextStats]]. The five scores below read its fields,
    * so a projection that takes several evaluates it once. */
  def textStats(text: Column): Column =
    ColumnBridge.column(TextStatsExpr(ColumnBridge.expression(text)))

  /** `df` with the named [[textStats]] fields of `text` added as
    * columns (`column -> field`), from one kernel pass per row. The
    * pass sits behind [[graft.functions.Registry.barrier]], so a filter
    * on one of the new columns cannot be pushed below it with a second
    * copy of the kernel; the cost is that no later filter is pushed
    * below this projection either. */
  def withTextStats(df: DataFrame, text: Column, fields: (String, String)*): DataFrame = {
    val scored = df.withColumn("_ts", graft.functions.Registry.barrier(textStats(text)))
    fields.foldLeft(scored) { case (d, (name, f)) => d.withColumn(name, col(s"_ts.$f")) }.drop("_ts")
  }

  /** Size of [[tokens]]. */
  def tokenCount(text: Column): Column = textStats(text).getField("n_tokens")

  def charCount(text: Column): Column = length(text)

  /** Mean token length in characters (whitespace excluded). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text)

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column = textStats(text).getField("punct_ratio")

  /** Per-language stopword marker lists for the language-ID heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that"),
    "es" -> Seq("el", "la", "de", "los", "que", "y", "en", "un", "una", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour", "qui", "pas", "sur"))

  /**
   * Stopword-overlap language ID: distinct-token overlap with each
   * marker list; argmax wins with ties broken in declaration order;
   * zero overlap everywhere -> "und".
   */
  def langId(text: Column): Column = textStats(text).getField("lang")

  /** Writing-system classes for [[scriptProfile]]: name -> Java/RE2
    * character class (both engines' regex dialects accept the
    * `\x{...}` escapes). Order fixes the argmax tiebreak. */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "cjk" -> "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "digit" -> "[0-9]")

  /**
   * Per-document script profile (mC4/CCNet-style routing one level
   * below [[langId]], whose stopword lists only see Latin-script
   * languages): per-writing-system character counts and basis-point
   * ratios, a dominant `script` label (argmax with declaration-order
   * tiebreak; no script characters at all -> "other"), and the
   * U+FFFD replacement-character count — the standard mojibake /
   * transcoding-damage signal. Entirely ROW-LOCAL (regexp counts,
   * pure map, no shuffle); ratios are INTEGRAL basis points — exact
   * in any engine.
   */
  def scriptProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    def cnt(cls: String): Column =
      (length(col(textCol)) - length(regexp_replace(col(textCol), cls, ""))).cast("long")
    val counted = df.filter(col(textCol).isNotNull)
      .select(Seq(col(idCol), length(col(textCol)).cast("long").as("n_chars")) ++
        scriptClasses.map { case (n, cls) => cnt(cls).as(s"n_$n") } :+
        cnt("\\x{FFFD}").as("n_replacement"): _*)
    val withBp = scriptClasses.foldLeft(counted) { case (d, (n, _)) =>
      d.withColumn(s"${n}_bp", expr(s"n_$n * 10000 div greatest(n_chars, 1)"))
    }
    // argmax over the LETTER scripts (digits don't name a script)
    val letters = scriptClasses.map(_._1).filterNot(_ == "digit")
    val maxc = greatest(letters.map(n => col(s"n_$n")): _*)
    withBp.withColumn("script",
      letters.foldLeft(when(maxc === 0, lit("other"))) { case (acc, n) =>
        acc.when(col(s"n_$n") === maxc, lit(n))
      }.otherwise(lit("other")))
  }

  /** Stopword ratio against the combined marker vocabulary. */
  def stopwordRatio(text: Column): Column = textStats(text).getField("stop_ratio")

  /** The Gopher-style required-word subset (Rae et al. 2021 §A1.1:
    * a doc must contain >= 2 of a small English stop set). */
  val gopherStops: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1
   * adapted to this corpus's whitespace tokens): per-rule booleans +
   * an overall pass flag, all ROW-LOCAL (a pure map — runs before
   * anything shuffles, prunes at the scan at any corpus size).
   * Ratio intermediates are single IEEE divides of integer counts, so
   * rule boundaries decide identically in any engine.
   */
  /** The Gopher rule columns over a text column — shared by the
    * report relation ([[gopherRules]]) and the row-local filter
    * ([[gopherFilter]]), so the two can never disagree on a verdict. */
  private def gopherCols(textCol: String,
                         minWords: Int, maxWords: Int,
                         minMeanLen: Double, maxMeanLen: Double,
                         maxSymbolRatio: Double, minAlphaFrac: Double,
                         minStopHits: Int) = {
    val toks = tokens(col(textCol))
    val nw = size(toks)
    val nwSafe = greatest(nw, lit(1))
    val meanLen = aggregate(transform(toks, t => length(t)), lit(0L),
      (acc, x) => acc + x).cast("double") / nwSafe
    val symbolRatio = size(filter(toks, t => t.contains("#") || t.contains("…")))
      .cast("double") / nwSafe
    val alphaFrac = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") / nwSafe
    val stopHits = size(filter(toks, t => t.isin(gopherStops: _*)))
    val rWords = nw >= minWords && nw <= maxWords
    val rMean = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val rSymbol = symbolRatio <= maxSymbolRatio
    val rAlpha = alphaFrac >= minAlphaFrac
    val rStop = stopHits >= minStopHits
    (nw, meanLen, alphaFrac, stopHits, rWords, rMean, rSymbol, rAlpha, rStop)
  }

  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  minWords: Int = 10, maxWords: Int = 100000,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                  maxSymbolRatio: Double = 0.1,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): org.apache.spark.sql.DataFrame = {
    val (nw, meanLen, alphaFrac, stopHits, rWords, rMean, rSymbol, rAlpha, rStop) =
      gopherCols(textCol, minWords, maxWords, minMeanLen, maxMeanLen,
        maxSymbolRatio, minAlphaFrac, minStopHits)
    // a null doc has no tokens to judge: Spark's size(null) = -1 would
    // yield FALSE verdicts here while a SQL oracle yields NULL booleans
    // — exclude null text so both engines agree (mirror in any oracle).
    df.filter(col(textCol).isNotNull).select(col(idCol),
      nw.cast("long").as("n_words"),
      floor(meanLen * lit(1e6) + lit(0.5)).cast("long").as("mean_len_micro"),
      floor(alphaFrac * lit(1e6) + lit(0.5)).cast("long").as("alpha_micro"),
      stopHits.cast("long").as("stop_hits"),
      rWords.as("r_words"), rMean.as("r_mean_len"), rSymbol.as("r_symbol"),
      rAlpha.as("r_alpha"), rStop.as("r_stop"),
      (rWords && rMean && rSymbol && rAlpha && rStop).as("pass"))
  }

  /** Row-local Gopher gate: keeps the original rows (all columns) that
    * pass every rule — the same verdicts as [[gopherRules]] by shared
    * construction, but as ONE filter expression (no join back), so it
    * is streaming-executable and adds nothing to the plan but a
    * predicate. Null-text rows fail (nothing to judge). */
  def gopherFilter(df: org.apache.spark.sql.DataFrame, textCol: String,
                   minWords: Int = 10, maxWords: Int = 100000,
                   minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                   maxSymbolRatio: Double = 0.1,
                   minAlphaFrac: Double = 0.8,
                   minStopHits: Int = 2): org.apache.spark.sql.DataFrame = {
    val (_, _, _, _, rWords, rMean, rSymbol, rAlpha, rStop) =
      gopherCols(textCol, minWords, maxWords, minMeanLen, maxMeanLen,
        maxSymbolRatio, minAlphaFrac, minStopHits)
    df.filter(col(textCol).isNotNull && rWords && rMean && rSymbol && rAlpha && rStop)
  }

  /**
   * Corpus-wide word n-gram vocabulary: top-K n-grams by frequency
   * with a deterministic (freq desc, gram asc) rank. Same scale shape
   * as [[vocabulary]]: the explode+count map-side-combines into one
   * shuffle keyed by gram; top-K is a TakeOrderedAndProject (per-
   * partition heaps, no global sort) and only the K survivors see the
   * constant-key rank window.
   */
  def ngramVocabulary(df: org.apache.spark.sql.DataFrame, textCol: String,
                      n: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "use vocabulary() for unigrams")
    // native [[graft.expr.WordGrams]]: the equivalent
    // transform(sequence(1, m), i -> array_join(slice(toks, i, n), " "))
    // runs three nested interpreted lambdas per row (HOFs are
    // CodegenFallback) and was this query's entire cost (~8 µs/gram);
    // short docs (< n tokens) yield an empty gram array either way.
    graft.functions.Registry.ensure(df.sparkSession)
    val grams = call_function("word_grams", col(textCol), lit(n))
    val top = df.select(explode(grams).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram"))
      .limit(topK)
    top.withColumn("rank",
      row_number().over(
        Window.partitionBy(pmod(col("freq"), lit(1)))
          .orderBy(col("freq").desc, col("gram"))))
  }

  /**
   * Word co-occurrence lift (phrase-mining / collocation signal): for
   * every ORDERED token pair (a, b) with b at distance 1..`maxDist`
   * after a, the observed pair count and its lift over independence,
   *   lift = p(a,b) / (p(a) * p(b))
   *        = (n_ab * T^2) / (P * n_a * n_b)
   * reported in integer basis points via a DECIMAL(38,0) integral
   * division — no FP anywhere, identical cross-engine. Precondition:
   * T (total tokens in scope) <= ~1e11 keeps the widest product
   * n_ab * T * T * 1e4 inside DECIMAL(38); at a larger corpus compute
   * per-shard or drop the lift column (counts never overflow).
   *
   * Scale shape: pair generation is ROW-LOCAL (the native
   * [[graft.expr.WordGrams]] sliding windows — pair (i, i+d) is
   * exactly the (first, last) of the width-(d+1) window at i, so no
   * positional self-join and no token-volume shuffle on doc id); the
   * only corpus-volume shuffles are the two map-side-combined counts
   * (pairs, unigrams), both keyed by vocabulary-bounded terms.
   * `minCount` prunes the long tail before the lift join; the unigram
   * relation is vocabulary-sized and broadcasts.
   */
  def cooccurrenceLift(df: org.apache.spark.sql.DataFrame, textCol: String,
                       maxDist: Int = 2, minCount: Long = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDist >= 1 && maxDist <= 8, "maxDist must be in [1, 8]")
    graft.functions.Registry.ensure(df.sparkSession)
    val base = df.filter(col(textCol).isNotNull)
    val pairs = (1 to maxDist).map { d =>
      base.select(explode(call_function("word_grams", col(textCol), lit(d + 1), lit(1))).as("g"))
        .select(substring_index(col("g"), " ", 1).as("w_a"),
          substring_index(col("g"), " ", -1).as("w_b"))
    }.reduce(_ union _)
    val pc = pairs.groupBy(col("w_a"), col("w_b")).agg(count(lit(1)).as("n_ab"))
    val uni = base.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    // corpus totals ride a constant-key window over the tiny aggregated
    // relations (pmod keeps the key column-dependent: see ngramVocabulary)
    val uniT = uni.withColumn("_t", sum(col("n_w")).over(
      Window.partitionBy(pmod(col("n_w"), lit(1)))))
    val pcP = pc.withColumn("_p", sum(col("n_ab")).over(
      Window.partitionBy(pmod(col("n_ab"), lit(1)))))
    pcP.filter(col("n_ab") >= minCount)
      .join(broadcast(uniT.select(col("w").as("w_a"), col("n_w").as("n_a"), col("_t"))), "w_a")
      .join(broadcast(uniT.select(col("w").as("w_b"), col("n_w").as("n_b"))), "w_b")
      .withColumn("lift_bp", expr(
        """CAST(CAST(n_ab AS DECIMAL(38,0)) * _t * _t * 10000
          | div (CAST(_p AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)""".stripMargin))
      .select(col("w_a"), col("w_b"), col("n_ab"), col("n_a"), col("n_b"), col("lift_bp"))
  }

  /**
   * Composite quality score in [0,1]: length credit (saturates at 100
   * tokens), low punctuation noise, natural stopword density.
   */
  def qualityScore(text: Column): Column = textStats(text).getField("quality")

  /** Content fingerprint of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /**
   * Corpus datasheet: the per-(source, lang) data card a curation run
   * publishes — doc/token/char volumes, the exact-duplicate rate
   * (corpus-WIDE fingerprint collisions attributed to each cell — a
   * mirror source shows a high rate even when its copies live
   * elsewhere), and the mean composite quality in integral micros
   * (per-doc micro quantization before the sum, the sourceQuality
   * precedent, so the mean is exact in any engine).
   *
   * Scale shape: one fingerprint aggregate + one fp-keyed join back
   * (both on the 16-byte fingerprint, never the text), then one
   * map-side-combined cell aggregate. Null-text docs are excluded
   * (they have no fingerprint and no tokens to count).
   */
  def corpusDatasheet(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                      langCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // all per-doc metrics are ROW-LOCAL and computed BEFORE the
    // fp-keyed join, so only (source, lang, fp, three longs) ever
    // cross an exchange — never the text
    val live = df.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), col(langCol).as("lang"),
        fingerprint(col(textCol)).as("_fp"),
        tokenCount(col(textCol)).cast("long").as("_ntok"),
        length(col(textCol)).cast("long").as("_nchr"),
        floor(qualityScore(col(textCol)) * lit(1e6) + lit(0.5)).cast("long").as("_q"))
    val fpCounts = live.groupBy(col("_fp")).agg(count(lit(1)).as("_fpn"))
    live.join(fpCounts, "_fp")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("n_tokens"),
        sum(col("_nchr")).as("n_chars"),
        sum(when(col("_fpn") > 1, 1L).otherwise(0L)).as("n_exact_dup_docs"),
        sum(col("_q")).as("_sq"))
      .withColumn("dup_rate_micro", expr("n_exact_dup_docs * 1000000 div n_docs"))
      .withColumn("mean_quality_micro", expr("_sq div n_docs"))
      .drop("_sq")
  }

  /** BPE-ish token count: word runs AND standalone punctuation each
    * count as one token (the pre-tokenization shape BPE vocabularies
    * use), vs the whitespace count in [[tokenCount]]. RE2-safe pattern
    * (no lookarounds) so the DuckDB oracle states it identically. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9_]+|[^a-z0-9_\\s]"), lit(0)))

  /**
   * Corpus vocabulary: global token frequencies, top-K by (freq desc,
   * token) — the seed table for tokenizer training. Scale shape: the
   * count is one map-side-combined aggregation; the top-K goes through
   * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
   * global sort), and only the K survivors see the rank window.
   */
  def vocabulary(df: org.apache.spark.sql.DataFrame, textCol: String,
                 topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(topK)
    // rank the ≤ topK survivors on a constant-valued partition key:
    // same single-partition execution an empty partitionSpec would give
    // (the exchange moves only K rows), but WindowExec's "no partition
    // defined" warning can't fire — so a REAL unbounded window
    // elsewhere can't hide behind an expected bench-tail warning.
    // pmod(freq, 1) ≡ 0 but is column-dependent, so Spark 4's
    // EliminateWindowPartitions can't fold it away (a literal would
    // degenerate back to the empty spec).
    top.withColumn("rank",
      row_number().over(
        Window.partitionBy(pmod(col("freq"), lit(1)))
          .orderBy(col("freq").desc, col("tok"))))
  }

  /**
   * Per-source quality-score calibration: each doc's percentile rank
   * of [[qualityScore]] WITHIN its source, in integral micros —
   * (rank−1)·1e6 div (n−1), ties share a rank so the result is
   * deterministic without a tiebreak. Cross-source mixing by a single
   * global quality cutoff over-prunes whole low-register sources; a
   * per-source percentile keeps each source's internal ordering while
   * making thresholds comparable across sources (the CCNet
   * per-language-bucket stance). ONE doc-volume shuffle: the rank and
   * count windows share the source partitioning.
   */
  def perSourcePercentile(df: org.apache.spark.sql.DataFrame, idCol: String,
                          sourceCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy(col("source")).orderBy(col("quality"))
    val wc = Window.partitionBy(col("source"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(sourceCol).as("source"),
        qualityScore(col(textCol)).as("quality"))
      .withColumn("_r", rank().over(wr))
      .withColumn("_n", count(lit(1)).over(wc))
      .withColumn("pct_micro",
        expr("(_r - 1) * CAST(1000000 AS BIGINT) div greatest(_n - 1, 1)"))
      .drop("_r", "_n")
  }

  /**
   * Doc-length histogram with log2-spaced buckets per source: the
   * bucket is the BIT LENGTH of the length value (`length(bin(x))` =
   * floor(log2 x)+1 for x ≥ 1) — an integer both engines compute
   * identically, where a floating log2 would disagree at the exact
   * powers of two. Row-local bucketing, one map-side-combined
   * aggregate over sources × ~60 buckets.
   */
  def lengthHistogram(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                      lenCol: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(sourceCol).as("source"),
        length(bin(col(lenCol))).as("len_bits"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(lenCol)).as("min_len"), max(col(lenCol)).as("max_len"))

  /**
   * Dedup-canonical text normalization: Unicode NFC composition
   * (native [[graft.expr.NfcNormalize]] — a decomposed and a composed
   * accent are byte-different and hash-different until composed),
   * then lowercase, internal-whitespace collapse, and trim — in that
   * order, so the oracle can state the identical function chain.
   * Row-local pure map: pipelines run it before anything shuffles or
   * hashes.
   */
  def normalizeText(spark: org.apache.spark.sql.SparkSession,
                    text: Column): Column = {
    graft.functions.Registry.ensure(spark)
    trim(regexp_replace(lower(call_function("nfc", text)), "\\s+", " "))
  }

  /**
   * Per-source distribution drift: the chi-square statistic of each
   * source's unigram distribution against the whole corpus, in
   * integral micros — corpus-mix monitoring (a source whose token
   * distribution walks away from the corpus is changing register,
   * language, or contamination profile). Expected counts are
   * e_st = n_s·c_t/N in integral micros; observed cells contribute
   * (c·1e6 − e_micro)²/(e_micro·1e6), and the zero-cell mass — every
   * (source, token) the source never emitted — is added in closed
   * form as n_s·1e6 − Σ_observed e_micro (Σ_all e_st = n_s exactly),
   * so the statistic is the FULL chi-square without materializing the
   * source × vocabulary grid. Integral division throughout — both
   * engines compute bit-identical sums. Squares live in
   * DECIMAL(38,0): exact to c_st·1e6 ~ 1e19 per cell (the
   * rateAnomalies stance; a plain Int64 wraps at 9.2e18 silently).
   *
   * Scale shape: ONE token-volume shuffle (the (source, token) count,
   * map-side combined); the per-source/per-token/global totals are
   * windows over the sources × vocabulary relation — tiny. This is a
   * drift SIGNAL ranking sources, not a calibrated test (no df
   * correction).
   */
  def chiSquareDrift(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = df.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
    val ws = Window.partitionBy(col("source"))
    val wt = Window.partitionBy(col("tok"))
    val wg = Window.partitionBy(pmod(col("c_st"), lit(1)))
    st.withColumn("n_s", sum(col("c_st")).over(ws))
      .withColumn("c_t", sum(col("c_st")).over(wt))
      .withColumn("n_total", sum(col("c_st")).over(wg))
      // (c·1e6 − e_micro)² div e_micro = 1e6·(c−E)²/E — micros, since
      // the squared micros cancel one 1e6 against the micro divisor.
      // `div` is integral on decimals and returns BIGINT; exact while
      // the term quotient stays under 9.2e18 — c_st² ·1e12 over its
      // expectation, comfortable whenever a source holds ≥ ~1e-6 of
      // the corpus; a pathological cell against the e=1 floor bounds
      // c_st at ~3e3 (rescale micros to millis past that).
      .withColumn("e_micro",
        greatest(expr("CAST(n_s AS DECIMAL(38,0)) * c_t * 1000000 div n_total"), lit(1L)))
      .withColumn("term_micro", expr(
        """(CAST(c_st AS DECIMAL(38,0)) * 1000000 - e_micro)
           * (CAST(c_st AS DECIMAL(38,0)) * 1000000 - e_micro)
           div CAST(e_micro AS DECIMAL(38,0))"""))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        (sum(col("term_micro")) +
          (max(col("n_s")) * lit(1000000L) - sum(col("e_micro")))).as("chi2_micro"))
  }

  /**
   * Exact heavy hitters via per-partition Misra-Gries: every token
   * whose EXACT global count c satisfies c * kInv > n_total, with its
   * count and integral-micro corpus share. Two-phase shape:
   *
   *  1. Candidate scan — each partition streams its tokens through a
   *     Misra-Gries summary with `kInv` counters (decrement-all on
   *     overflow, O(kInv) amortized). A token missed by EVERY
   *     partition has per-partition count <= n_p/(kInv+1), so its
   *     global count is <= n_total/(kInv+1) < n_total/kInv — the
   *     candidate union is a PROVABLE superset of the output set, and
   *     the final exact filter makes the result deterministic (the
   *     candidate set itself varies with partitioning; the output
   *     never does — which is what lets a sketch-built query be
   *     hash-oracled exactly).
   *  2. Exact count — tokens semi-joined against the broadcast
   *     candidate relation (<= partitions * kInv rows, never
   *     collected to the driver), then ONE map-side-combined count
   *     shuffle that carries ONLY candidate-matched tokens.
   *
   * At 100 TB this replaces the full-vocabulary count shuffle (every
   * distinct token crosses the wire) with three linear scans plus a
   * shuffle bounded by the candidate set — the standard sketch-then-
   * verify shape. The three tokenization passes are recomputed, not
   * persisted (linear scans; the bm25/tfidf recompute-vs-persist
   * measurement applies).
   */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, textCol: String,
                   kInv: Int): org.apache.spark.sql.DataFrame = {
    require(kInv >= 2, "kInv must be >= 2")
    val sp = df.sparkSession
    import sp.implicits._
    def tok = df.select(explode(tokens(col(textCol))).as("tok"))
    val cands = tok.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1
          case None if counters.size < kInv => counters(t) = 1L
          case None =>
            val dead = List.newBuilder[String]
            counters.foreach { case (k, c) =>
              if (c == 1L) dead += k else counters(k) = c - 1 }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("tok").distinct()
    val total = tok.agg(count(lit(1)).as("n_total"))
    tok.join(broadcast(cands), Seq("tok"), "leftsemi")
      .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
      .join(broadcast(total))
      .filter(col("n_tok") * lit(kInv.toLong) > col("n_total"))
      .select(col("tok"), col("n_tok"),
        expr("n_tok * CAST(1000000 AS BIGINT) div n_total").as("share_micro"))
  }

  /**
   * PII redaction: emails, dotted/dashed phone numbers, SSN-shaped
   * ids → placeholder tokens. Patterns stay inside the
   * RE2 ∩ java.util.regex common subset (no lookarounds, no
   * backreferences) so the same pattern means the same thing in
   * Spark's codegen'd regexp_replace and any RE2-based engine.
   * Row-local — pipelines run it before anything shuffles.
   */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
  val ssnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ssnRe, "<SSN>"),
      phoneRe, "<PHONE>")

  /**
   * Repetition statistics — the Gopher-rules quality signals for
   * machine-generated/boilerplate text: distinct-token ratio and the
   * fraction taken by the single most frequent token. ONE shuffle: the
   * doc rows repartition by id BEFORE the explode — HashPartitioning(id)
   * satisfies the clustering requirement of BOTH the (id, tok) count
   * and the per-id rollup, so neither aggregation re-exchanges, and
   * what shuffles is the compact doc row, not the exploded tokens.
   */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val tokCounts = df
      .repartition(col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    tokCounts.groupBy(col(idCol)).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"),
        (col("top_count").cast("double") / col("n_tokens")).as("top_token_frac"))
  }

  /**
   * Winnowing fingerprint (Schleimer et al., SIGMOD 2003): positional
   * k-gram hashes; each sliding window of `w` consecutive hashes
   * contributes its minimum; the distinct window-min set is the
   * fingerprint. Guarantees every match of length >= w+k-1 shares a
   * fingerprint hash. The fingerprint is doc-local, so this is a
   * PER-ROW computation: positional k-gram hashes in a long array, the
   * window minima as `array_min` over length-`w` slices — a narrow map
   * stage, zero exchange at any scale. (An earlier shape posexploded
   * positions into a rows-window per doc; value-identical, but it
   * shuffled every positional hash just to compute row-local minima.)
   *
   * `portableHash=true` (default) uses the md5-derived hash so the
   * DuckDB oracle computes value-identical fingerprints — a
   * correctness fixture. The production path at scale is
   * `portableHash=false`: xxhash64, ~5-10× cheaper per shingle,
   * identical algorithm (benched as `q_llm_winnowing_x64`).
   */
  def winnowingFingerprint(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                           k: Int = 8, w: Int = 4,
                           portableHash: Boolean = true): org.apache.spark.sql.DataFrame =
    winnowSet(df, idCol, textCol, k, w, portableHash)
      .select(col(idCol), array_join(col("_set"), ",").as("fp"))

  /** The distinct sorted winnow minima per doc as an array column
    * (`_set`) — shared by [[winnowingFingerprint]] (renders it) and
    * [[fingerprintContainmentPairs]] (self-joins it). */
  private[ops] def winnowSet(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                             k: Int, w: Int,
                             portableHash: Boolean): org.apache.spark.sql.DataFrame = {
    if (portableHash) {
      // md5-portable oracle twin: positional hashes as a higher-order
      // transform, window minima as array_min over length-w slices.
      // Interpreted-HOF shape discipline (r16): HOF lambdas are
      // INTERPRETED, and Catalyst duplicates deterministic trees
      // freely — projection collapse inlined `_hs` into every
      // consumer, and the generate-inferred `size(_set) > 0` filter
      // pushed the WHOLE tree to the scan, where the per-window
      // lambda's reference to `_hs` re-ran the O(L·md5) hash
      // construction PER WINDOW POSITION: O(L²) per doc per consumer,
      // 196 s for the 500-doc containment fixture. Both projected
      // arrays are wrapped in [[graft.expr.EvalBarrier]] so they
      // compute ONCE and consumers read attributes; repartition()
      // spreads the per-doc interpreted work across the session's
      // shuffle width (a small parquet file is otherwise ONE scan
      // partition). The x64 production branch is untouched (native
      // primitive loop, benched row keeps its plan).
      graft.functions.Registry.ensure(df.sparkSession)
      val s = lower(col(textCol))
      val hashes = transform(
        transform(
          sequence(lit(1), greatest(lit(1), length(s) - (k - 1))),
          i => s.substr(i, lit(k))),
        sh => conv(substring(md5(sh.cast("binary")), 1, 15), 16, 10).cast("long"))
      df.filter(col(textCol).isNotNull)
        .repartition()
        .select(col(idCol), graft.functions.Registry.barrier(hashes).as("_hs"))
        .filter(size(col("_hs")) >= w) // only full windows
        .select(col(idCol),
          graft.functions.Registry.barrier(array_sort(array_distinct(
            transform(sequence(lit(w), size(col("_hs"))),
              i => array_min(slice(col("_hs"), i - (w - 1), lit(w))))))).as("_set"))
    } else {
      // production path: native [[graft.expr.WinnowFpX64]] — empty
      // array when the doc has no full window, dropped here (parity
      // with the portable branch's size filter).
      graft.functions.Registry.ensure(df.sparkSession)
      df.filter(col(textCol).isNotNull)
        .select(col(idCol),
          call_function("winnow_fp_x64", col(textCol), lit(k), lit(w)).as("_set"))
        .filter(size(col("_set")) > 0)
    }
  }

  /**
   * Containment detection over winnowing fingerprints (the MOSS-style
   * "is doc A substantially inside doc B" relation that symmetric
   * Jaccard misses for unequal-length docs): pairs whose shared
   * distinct winnow minima cover >= `threshold` of the SMALLER doc's
   * minima set. Same inverted-index shape as
   * [[Dedup.ngramJaccardPairs]]: the posting row carries the doc's
   * set size (no join back against a sizes side), postings per hash
   * are bounded (stop-hash removal), and only (id, n, hash) ever
   * rides an exchange.
   */
  def fingerprintContainmentPairs(df: org.apache.spark.sql.DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int = 8, w: Int = 4,
                                  threshold: Double = 0.5,
                                  maxPostings: Int = 5000,
                                  portableHash: Boolean = true): org.apache.spark.sql.DataFrame = {
    val posting = winnowSet(df, idCol, textCol, k, w, portableHash)
      .select(col(idCol).as("id"), size(col("_set")).as("n"),
        explode(col("_set")).as("h"))
    val index = posting.groupBy(col("h"))
      .agg(collect_list(struct(col("id"), col("n"))).as("members"))
      .filter(size(col("members")).between(2, maxPostings))
    index
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("a.n").as("na"),
        col("b.id").as("id_b"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("containment"))
  }

  /**
   * Mod-sampling rolling-hash fingerprint (the shape used by content-
   * defined dedup): hash every k-char shingle, keep those ≡ 0 mod
   * `modulus`, render the sorted sample as the document fingerprint.
   * `portableHash=true` (default): md5-derived hash, value-identical
   * in DuckDB — correctness fixture. `portableHash=false`: xxhash64,
   * the production path (benched as `q_llm_rolling_fp_x64`).
   */
  def rollingFingerprint(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                         k: Int = 8, modulus: Int = 16,
                         portableHash: Boolean = true): org.apache.spark.sql.DataFrame = {
    // Doc-local → per-row, zero exchange at any scale. The portable
    // branch keeps the md5 arithmetic DuckDB reproduces (higher-order
    // filter over the shingle array); the production branch is the
    // native [[graft.expr.RollingFpX64]] primitive loop. Docs whose
    // sample is empty drop (parity between both branches).
    val sample: Column =
      if (portableHash)
        array_sort(array_distinct(filter(
          transform(Dedup.charShingles(col(textCol), k), sh =>
            conv(substring(md5(sh.cast("binary")), 1, 15), 16, 10).cast("long")),
          h => pmod(h, lit(modulus)) === 0)))
      else {
        graft.functions.Registry.ensure(df.sparkSession)
        call_function("rolling_fp_x64", col(textCol), lit(k), lit(modulus))
      }
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), sample.as("_fp"))
      .filter(size(col("_fp")) > 0)
      .select(col(idCol), array_join(col("_fp"), ",").as("fp"))
  }

  /**
   * Portable MinHash signatures: per seed, the min over 4-char shingles
   * of md5(seed || "|" || shingle), concat_ws-joined. md5-as-string min
   * is engine-portable (same lowercase hex everywhere) — the DuckDB
   * oracle computes the identical value via list_min/list_transform.
   * Per-row like [[Dedup.minhashSignatures]] (the signature is
   * doc-local): `array_min` over the per-seed md5 transforms of the
   * distinct-shingle array, zero exchange.
   */
  def minhashPortableDf(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                        seeds: Int = 8, shingleSize: Int = 4): org.apache.spark.sql.DataFrame = {
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), Dedup.charShingles(col(textCol), shingleSize).as("_shs"))
      .select(col(idCol),
        concat_ws("|", (0 until seeds).map { j =>
          array_min(transform(col("_shs"), sh => md5(concat(lit(s"$j|"), sh).cast("binary"))))
        }: _*).as("sig"))
  }

  /**
   * CCNet-style unigram language-model score: each document's summed /
   * mean negative log-likelihood under the CORPUS's own unigram
   * distribution — the standard cheap perplexity proxy for quality
   * bucketing (docs full of rare tokens score high, boilerplate-heavy
   * docs score low; CCNet buckets on exactly this signal before
   * training a real LM).
   *
   * Scale shape: one corpus-volume shuffle (the per-(doc, term) tf
   * combine); the unigram table is one row per vocabulary term — its
   * join back is AQE's choice (broadcast for word vocabularies, which
   * grow ~log corpus), and the single-row total is an explicit
   * broadcast. Per-token NLL quantizes to integer micros BEFORE the
   * per-doc sum (order-independent; the one non-correctly-rounded op,
   * ln, sits inside the quantization like bm25's idf), and the mean is
   * INTEGRAL division — no FP rides any exchange.
   */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val tk = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    // tf feeds three consumers with DIFFERENT shuffle keys (itself,
    // the unigram table, the total), so exchange reuse can't kick in
    // and the scan + (id, term) combine runs once per consumer.
    // Deliberately NOT persisted: the recompute is cheap linear work
    // (scan + map-side combine) while materializing this corpus-volume
    // string relation measured 2× slower at sf0.1 — the opposite call
    // from Corpus.clean, whose recomputed stage contains an expensive
    // dedup window.
    val tf = tk.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val unigram = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = unigram.select(sum(col("cnt")).as("total"))
    tf.join(unigram, "term")
      .crossJoin(broadcast(total))
      .withColumn("nll_micro",
        floor(-log(col("cnt").cast("double") / col("total")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("nll_micro")).as("sum_nll_micro"))
      .withColumn("avg_nll_micro", expr("sum_nll_micro div n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * REFERENCE-TRAINED interpolated bigram LM score — the missing half
   * of the CCNet perplexity filter next to [[bigramLogProb]] (which
   * fits on the scored corpus itself): Wenzek 2020 trains the LM on
   * TARGET-DOMAIN text and scores a DIFFERENT corpus, which means
   * unseen words and unseen contexts must score finitely:
   *
   *   P(w_i | w_{i−1}) = 0.9 · c(w_{i−1}w_i)/c(w_{i−1}·)  [0 if unseen ctx]
   *                    + 0.1 · (c(w_i)+1)/(N+V)           [add-one unigram]
   *
   * The add-one unigram floor keeps every token scoreable — an unseen
   * word costs −ln(0.1/(N+V)), never a null — and the first token of
   * a doc scores on the unigram term alone (no context), so EVERY doc
   * gets a score, including single-token docs (which [[bigramLogProb]]
   * necessarily omits). All probability arithmetic is a stated IEEE
   * double tree over exact integer counts, then micro-quantized per
   * scored unit (floor(−ln p·10⁶+½), the unigram-NLL oracle
   * precedent); the closing mean is INTEGRAL division. An EMPTY
   * training corpus has no model: every doc still appears, with its
   * token count and NULL nll columns (spec-pinned) — silent zeros
   * would read as "perfectly predictable".
   *
   * Scale shape: transitions are ROW-LOCAL (zip_with over the token
   * array — no per-token window, no position shuffle); the model
   * tables are vocabulary/bigram-cardinality aggregates joined on
   * their own keys (AQE broadcasts them when they fit); the one-row
   * (N, V) aggregate broadcasts. Output: (id, n_tokens,
   * sum_nll_micro, avg_nll_micro).
   */
  def bigramLogProbRef(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String,
                       train: org.apache.spark.sql.DataFrame = null): org.apache.spark.sql.DataFrame = {
    val trainDf = Option(train).getOrElse(df)
    def toked(d: org.apache.spark.sql.DataFrame) =
      d.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
    def transitions(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), explode(zip_with(
        slice(col("_toks"), lit(1), size(col("_toks")) - 1),
        slice(col("_toks"), lit(2), size(col("_toks")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("_t"))
        .select(col("id"), col("_t.prev").as("prev"), col("_t.cur").as("cur"))
    val trainToks = toked(trainDf)
    val uni = trainToks.select(explode(col("_toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_cu"))
    val nv = uni.agg(sum(col("_cu")).as("_n"), count(lit(1)).as("_v"))
    val big = transitions(trainToks)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("_cab"))
    val ctx = big.groupBy(col("prev")).agg(sum(col("_cab")).as("_ca"))
    val scoreToks = toked(df)
    val pUni = (coalesce(col("_cu"), lit(0L)) + lit(1)).cast("double") /
      (col("_n") + col("_v")).cast("double")
    // position 1 rides the SAME exploded relation as the transitions
    // (r16 — was a separate tokenize pass): each doc emits a
    // (prev=null, cur=tok1) unit whose null prev misses the big/ctx
    // joins by construction, and the when() below scores it on the
    // dedicated add-one floor expression — bit-identical to the old
    // first-token leg (the uni join on cur and the nv broadcast serve
    // both positions).
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    val units = scoreToks.select(col("id"),
        explode(call_function("kn_units", col("_toks"))).as("_t"))
      .select(col("id"), col("_t.prev").as("prev"), col("_t.cur").as("cur"))
    val allNll = units
      .join(big, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(uni.withColumnRenamed("term", "cur"), Seq("cur"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("_pb",
        when(coalesce(col("_ca"), lit(0L)) > 0,
          coalesce(col("_cab"), lit(0L)).cast("double") / col("_ca").cast("double"))
          .otherwise(lit(0.0)))
      .select(col("id"),
        when(col("prev").isNull,
          floor(-log(pUni) * lit(1e6) + lit(0.5)).cast("long"))
          .otherwise(
            floor(-log(lit(0.9) * col("_pb") + lit(0.1) * pUni) * lit(1e6) + lit(0.5))
              .cast("long")).as("_nll"))
    allNll
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_nll")).as("sum_nll_micro"))
      .withColumn("avg_nll_micro", expr("sum_nll_micro div n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Per-document NLL under an interpolated KNESER-NEY bigram LM fitted
   * on the corpus itself — the canonical n-gram smoothing (Kneser &
   * Ney 1995; Chen & Goodman 1999 empirical study), one rung above the
   * Jelinek-Mercer mix of [[bigramLogProb]]: instead of backing off to
   * raw unigram frequency, the lower-order distribution is the
   * CONTINUATION probability (how many distinct contexts a word
   * follows), which stops high-frequency-but-context-bound words
   * ("francisco") from absorbing backoff mass:
   *
   *   P(cur|prev) = max(c(prev,cur) − D, 0)/c(prev·)
   *               + (D · N1+(prev·)/c(prev·)) · P_cont(cur)
   *   P_cont(cur) = (N1+(·cur) + 1)/(B + V)        [add-one so doc-
   *                 initial-only words stay finite; B = distinct
   *                 bigram types, V = vocabulary]
   *
   * with the standard discount D = 0.75. The first token of each doc
   * scores on P_cont alone, so EVERY non-null doc appears (including
   * single-token docs). Self-trained, so every transition has
   * c(prev,cur) ≥ 1 and c(prev·) ≥ 1 — no zero-context branch.
   *
   * Determinism contract (the unigram-NLL precedent): all counts are
   * exact integers; the probability is the STATED IEEE double tree
   * (restated verbatim in the oracle), per-unit NLL quantizes to
   * integer micros BEFORE the per-doc sum, the mean is INTEGRAL
   * division — no FP rides any exchange.
   *
   * Scale shape (r15 — the [[modifiedKneserNeyLogProb]] structure one
   * order down): the MODEL FIT pays exactly ONE corpus-volume
   * exchange — the bigram and unigram TYPE counts both fold out of a
   * single tagged-gram relation ([[mknGrams]] without the trigram
   * slice: each doc emits its bigrams and tokens as (kind, a, b) rows
   * in one row-local explode, and one map-side-combined groupBy counts
   * both orders). The fused gram table (type-volume) is persisted via
   * [[CachedRelations]] and every model statistic — the bigram type
   * table, context / continuation stats, the (B, V) totals — derives
   * from it at type volume. V needs NO dedicated corpus pass or
   * set-union: the 'u' slice's row count IS |distinct tokens|, which
   * equals the previous formulation's |prev ∪ cur ∪ first_tokens|
   * exactly (every token of a multi-token doc appears in some bigram
   * as prev or cur, and a single-token doc's only token is its first
   * token — and conversely each of those is a token). Scoring mirrors
   * mkn3: the per-doc transition counts pre-aggregate per (doc, prev,
   * cur) — row-local zip_with extraction, fully map-side-combined
   * exchange, a SINGLE consumer so nothing corpus-volume computes
   * twice or rides a cache (the r14 MEMORY_AND_DISK persist of the
   * per-doc counts was this operator's remaining warm-curve overhang:
   * caching corpus-volume rows costs a second corpus-volume
   * write+read; re-deriving type stats from a type-volume cache does
   * not). r16: position 1 rides the same per-doc unit relation as the
   * transitions (a (prev=null, cur=first-token) row per doc — was a
   * separate tokenize pass), so the type-NLL join is a LEFT join whose
   * only misses are those head rows, scored on the dedicated add-one
   * floor branch; every real transition still matches exactly because
   * the model is self-fit. A cross-corpus caller scoring against a
   * foreign fit would additionally need an explicit unseen-transition
   * policy ([[modifiedKneserNeyLogProb]]'s scorer states one; this
   * operator's contract is self-scoring). Caller releases the caches
   * via [[CachedRelations.releaseAll]] after the action, like every
   * other internally-persisting operator.
   */
  def kneserNeyLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val toked = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
    // ONE corpus-volume exchange for both orders (the mknGrams shape)
    val grams = CachedRelations.track(taggedGrams(toked, withTrigrams = false).persist())
    val big = grams.filter(col("kind") === "b")
      .select(col("a").as("prev"), col("b").as("cur"), col("_n").as("_cab"))
    // per-context totals AND distinct-continuation counts in one pass
    // over the bigram-type table (row count per prev IS N1+(prev·))
    val ctx = big.groupBy(col("prev"))
      .agg(sum(col("_cab")).as("_ca"), count(lit(1)).as("_n1prev"))
    val cont = big.groupBy(col("cur")).agg(count(lit(1)).as("_n1cur"))
    // B = bigram types, V = unigram types — row counts of the cached
    // gram table's slices (V identical to the set-union formulation;
    // see the scale-shape note above)
    val bv = big.agg(count(lit(1)).as("_b")).crossJoin(
      grams.filter(col("kind") === "u").agg(count(lit(1)).as("_v")))
    // per-doc scoring units in ONE corpus pass (r16 — was a transition
    // pass plus a separate first-token pass): each doc emits its
    // position-1 unit as (prev=null, cur=tok1) alongside its bigram
    // transitions; the head key occurs once per doc, so its `_tf` is
    // exactly the old leg's `lit(1)`.
    val tf = toked.select(col("id"),
        explode(call_function("kn_units", col("_toks"))).as("_t"))
      .select(col("id"), col("_t.prev").as("prev"), col("_t.cur").as("cur"))
      .groupBy(col("id"), col("prev"), col("cur")).agg(count(lit(1)).as("_tf"))
    val pCont = (coalesce(col("_n1cur"), lit(0L)) + lit(1)).cast("double") /
      (col("_b") + col("_v")).cast("double")
    // NLL per bigram TYPE (type-volume work, all from the cached big),
    // joined back to the per-doc counts: occurrences of one type share
    // one probability, so weighting by _tf is exactly the per-
    // transition sum.
    val typeNll = big
      .join(ctx, Seq("prev"))
      .join(cont, Seq("cur"))
      .crossJoin(broadcast(bv))
      .select(col("prev"), col("cur"),
        floor(-log(
          greatest(col("_cab").cast("double") - lit(0.75), lit(0.0)) /
            col("_ca").cast("double") +
          ((lit(0.75) * col("_n1prev").cast("double")) /
            col("_ca").cast("double")) * pCont
        ) * lit(1e6) + lit(0.5)).cast("long").as("_nll"))
    // one leg scores every unit: a transition row takes its type NLL
    // (the join is exact because the model is self-fit — every scored
    // transition exists in the type table; a cross-corpus caller needs
    // a left join plus an explicit unseen-transition policy, see the
    // scaladoc); a head row (prev null, never in typeNll) takes the
    // add-one continuation floor through its own cont/bv joins —
    // exactly the expression the dedicated first-token leg used.
    val transNll = tf.join(typeNll, Seq("prev", "cur"), "left")
      .join(cont, Seq("cur"), "left")
      .crossJoin(broadcast(bv))
      .select(col("id"), col("_tf").as("_units"),
        (col("_tf") * when(col("prev").isNull,
            floor(-log(pCont) * lit(1e6) + lit(0.5)).cast("long"))
          .otherwise(col("_nll"))).as("_wnll"))
    transNll
      .groupBy(col("id"))
      .agg(sum(col("_units")).as("n_tokens"),
        sum(col("_wnll")).as("sum_nll_micro"))
      .withColumn("avg_nll_micro", expr("sum_nll_micro div n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Per-document NLL under an interpolated MODIFIED-KNESER-NEY trigram
   * LM fitted on the corpus itself — the production smoother
   * (Chen & Goodman 1999 §3; the SRILM/CCNet default) one rung above
   * [[kneserNeyLogProb]]: three count-dependent discounts D1/D2/D3+
   * per order, estimated from that order's count-of-counts, with the
   * lower orders built from CONTINUATION counts:
   *
   *   Y   = n1/(n1 + 2·n2)                 [per order, n_k = # types
   *   D1  = 1 − 2·Y·n2/n1                   with count exactly k]
   *   D2  = 2 − 3·Y·n3/n2
   *   D3+ = 3 − 4·Y·n4/n3
   *
   * A bucket whose estimate is unusable — n_k = 0 or a NONPOSITIVE
   * formula value — falls back to the fixed 0.5/1.0/1.5 (KenLM's
   * documented `--discount_fallback` constants). Nonpositive matters,
   * not just missing: a D that clamps to 0 zeroes that bucket's
   * backoff mass, and a context whose every continuation sits in
   * zero-discount buckets would assign an unseen continuation EXACT
   * zero probability (ln 0 — the reference-trained path hit this on
   * the corpus's concentrated mid-level count-of-counts). With every
   * D strictly positive and ≤ its bucket count, probabilities stay
   * finite AND normalized.
   *
   *   P(w|u,v) = max(c(uvw) − D(c), 0)/c(uv·) + γ(u,v)·P(w|v)
   *   γ(u,v)   = (D1·N1(uv·) + D2·N2(uv·) + D3+·N3+(uv·))/c(uv·)
   *   P(w|v)   = max(c'(vw) − D'(c'), 0)/c'(v·) + γ'(v)·P_cont(w)
   *              [c'(vw) = N1+(·vw), the continuation count; if v never
   *               appears mid-trigram (c'(v·) = 0) the model backs off
   *               to P_cont(w) entirely — the SRILM convention]
   *   P_cont(w) = (N1+(·w) + 1)/(B + V)     [the [[kneserNeyLogProb]]
   *               add-one continuation floor; B = bigram types]
   *
   * Position 1 of each doc scores on P_cont, position 2 on P(w|v),
   * positions ≥ 3 on the trigram — EVERY non-null doc appears,
   * including single-token docs. Unlike Stupid Backoff this IS a
   * probability: Σ_w P(w|u,v) over the vocabulary is exactly 1
   * (clamping preserves it because D(c) ≤ c at every bucket —
   * property-pinned in ModifiedKneserNeySpec).
   *
   * `train` defaults to the scored frame (self-trained); passing a
   * separate corpus gives the CCNet production shape — the LM fitted
   * on the CLEAN reference (Wikipedia in Wenzek 2020), the crawl
   * scored against it — and lights the unseen rungs: an unseen
   * trigram under a seen context discounts to the backoff mass
   * (c = 0 → the γ(u,v)·P(w|v) term alone), an UNSEEN context backs
   * off to P(w|v) entirely (the SRILM convention), an unseen bigram
   * continuation to γ'(v)·P_cont(w), and an unseen word to the
   * add-one floor — every probability stays finite and the tree
   * below restates each case.
   *
   * Determinism contract (the [[kneserNeyLogProb]] precedent): exact
   * integer count tables; the probability is the STATED IEEE double
   * tree restated VERBATIM in the oracle; per-unit NLL quantizes to
   * integer micros BEFORE the per-doc sum; the mean is INTEGRAL
   * division — no FP rides any exchange.
   *
   * Scale shape: n-gram extraction is ROW-LOCAL (zip_with over token-
   * array slices) and pre-aggregated per (doc, u, v, w) so every
   * corpus-volume shuffle is fully map-side combined. The MODEL FIT
   * pays exactly ONE corpus-volume exchange (r14, was three): the
   * trigram, bigram, and unigram type counts all fold out of a single
   * tagged-gram relation ([[mknGrams]] — each doc emits its trigrams,
   * bigrams, and tokens as (kind, a, b, c) rows in one row-local
   * explode, and one groupBy counts all three orders; partial
   * aggregation bounds the shuffled bytes at type volume exactly as
   * the three separate exchanges did, but the corpus tokenizes and
   * explodes ONCE). The fused gram table (type-volume across the
   * orders) is persisted via [[CachedRelations]] and every model
   * statistic — type tables, context stats, continuation counts,
   * count-of-counts, the (B, V) totals — derives from it at type
   * volume; the discounts and (B, V) collapse to ONE broadcast row.
   * Scoring LEFT-joins the per-doc distinct-triple counts against the
   * type-volume model tables (AQE broadcasts them when they fit); the
   * per-doc counts now have a single consumer, so nothing corpus-
   * volume is computed twice. Caller releases via
   * [[CachedRelations.releaseAll]] after the action.
   */
  def modifiedKneserNeyLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                               textCol: String,
                               train: org.apache.spark.sql.DataFrame = null): org.apache.spark.sql.DataFrame = {
    val toked = mknTokedOf(df, idCol, textCol)
    val trainToks = if (train == null) toked else mknTokedOf(train, idCol, textCol)
    val m = mknFit(trainToks)
    m.persisted.foreach(CachedRelations.track)
    mknScoreRows(idCol, mknScoreUnits(toked), m.tri, m.big, m.cont2, m.disc)
  }

  /** The fitted mkn3 model tables plus the stage relations the fit
    * persisted (the caller owns their release: the in-session operator
    * registers them with [[CachedRelations]], [[LmIndex.writeMknIndex]]
    * unpersists locally after its own actions). */
  private[ops] final case class MknModel(tri: org.apache.spark.sql.DataFrame,
                                         big: org.apache.spark.sql.DataFrame,
                                         cont2: org.apache.spark.sql.DataFrame,
                                         disc: org.apache.spark.sql.DataFrame,
                                         uni: org.apache.spark.sql.DataFrame,
                                         persisted: Seq[org.apache.spark.sql.DataFrame])

  /** ONE corpus-volume exchange for ALL THREE n-gram orders: each doc
    * emits its trigrams (kind 't'), bigrams (kind 'b'), and tokens
    * (kind 'u') as tagged rows in a single row-local explode — the
    * slice lengths clamp at 0 so 1- and 2-token docs contribute only
    * the orders they have — and one map-side-combined groupBy counts
    * everything. Output: (kind, a, b, c, _n), type-volume. */
  private[ops] def mknGrams(trainToks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    taggedGrams(trainToks, withTrigrams = true)

  /** The fused tagged-gram relation behind [[mknGrams]], shared with
    * the bigram-order [[kneserNeyLogProb]] fit (`withTrigrams = false`
    * drops the 't' slice — kn2 needs only the bigram/unigram counts,
    * and an unconsumed trigram slice would triple the exchanged rows
    * for nothing). */
  private[ops] def taggedGrams(trainToks: org.apache.spark.sql.DataFrame,
                               withTrigrams: Boolean): org.apache.spark.sql.DataFrame = {
    // r16: the extraction is the native [[graft.expr.TaggedGramsExpr]]
    // loop over the token array — the previous zip_with/slice struct
    // lambdas evaluate INTERPRETED (per-element closures) and measured
    // ~0.66 s/pass warm at sf0.1 where the tokenize itself is 0.08 s.
    // Output rows are value-identical (LmGramExprsSpec pins it).
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    trainToks.select(explode(call_function("tagged_grams", col("_toks"),
        lit(if (withTrigrams) 1 else 0))).as("_g"))
      .select(col("_g.kind").as("kind"), col("_g.a").as("a"),
        col("_g.b").as("b"), col("_g.c").as("c"))
      .groupBy(col("kind"), col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("_n"))
  }

  /** Fit the mkn3 model tables from a tokenized train frame through
    * the fused gram exchange. Values are IDENTICAL to the three
    * per-order aggregations they replace (exact integer counts either
    * way); only the plan shape changed. */
  private[ops] def mknFit(trainToks: org.apache.spark.sql.DataFrame): MknModel = {
    val grams = mknGrams(trainToks).persist()
    val tri = grams.filter(col("kind") === "t")
      .select(col("a").as("u"), col("b").as("v"), col("c").as("w"),
        col("_n").as("_cuvw"))
    val big = grams.filter(col("kind") === "b")
      .select(col("a").as("prev"), col("b").as("cur"), col("_n").as("_cab"))
    val cont2 = tri.groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("_n2vw")).persist()
    // unigram TYPE counts — scoring never joins them (V rides the disc
    // row), but [[LmIndex.writeMknIndex]] persists them so the append
    // face can count-merge the vocabulary (|vocab(base) ∪ vocab(delta)|
    // is not derivable from the scalar V)
    val uni = grams.filter(col("kind") === "u")
      .select(col("a").as("w"), col("_n").as("_cw"))
    // B = bigram types, V = unigram types — row counts of the cached
    // gram table's slices, no corpus pass
    val bv = big.agg(count(lit(1)).as("_b")).crossJoin(
      uni.agg(count(lit(1)).as("_v")))
    val disc = mknDiscRow(tri, cont2, bv)
    MknModel(tri, big, cont2, disc, uni, Seq(grams, cont2))
  }

  /** Scoring-side tokenization shared by the in-session MKN and the
    * persisted-model path ([[LmIndex]]). */
  private[ops] def mknTokedOf(d: org.apache.spark.sql.DataFrame, idCol: String,
                              textCol: String): org.apache.spark.sql.DataFrame =
    d.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))

  /** The per-doc SCORING-UNIT relation, ONE corpus pass for all three
    * positions (r16 — was a triples pass plus two separate head-token
    * passes): each doc emits its position-1 unit as (u=null, v=null,
    * w=tok1), its position-2 unit as (u=null, v=tok1, w=tok2) when it
    * has one, and every position-≥3 trigram as (u, v, w), all in one
    * row-local explode, counted per (id, u, v, w). Head units can
    * never collide with trigram units (u is never null in a trigram)
    * and each head key occurs once per doc, so their `_tf` is exactly
    * the old legs' `lit(1)`. [[mknScoreRows]] scores the whole
    * relation through the single pTri → pMid → pCont fallthrough: a
    * head unit misses the (u, v)-keyed tables by construction, so the
    * stated backoff tree reduces to exactly the expression the
    * dedicated leg used (same columns, same IEEE order — the oracles
    * pin this bit-exactly). */
  private[ops] def mknScoreUnits(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    d.select(col("id"),
        explode(call_function("mkn_units", col("_toks"), lit(1))).as("_t"))
      .select(col("id"), col("_t.u").as("u"), col("_t.v").as("v"), col("_t.w").as("w"))
      .groupBy(col("id"), col("u"), col("v"), col("w")).agg(count(lit(1)).as("_tf"))
  }

  /** The ONE broadcast model row: count-of-counts per order →
    * D1/D2/D3+ discounts (unusable estimates — empty bucket or
    * nonpositive value — fall back to KenLM's --discount_fallback
    * 0.5/1.0/1.5) joined with the caller's one-row (B, V)
    * continuation-floor totals. */
  private[ops] def mknDiscRow(tri: org.apache.spark.sql.DataFrame,
                              cont2: org.apache.spark.sql.DataFrame,
                              bv: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def discounts(cnt: org.apache.spark.sql.Column, p: String) = Seq(
      sum(when(cnt === 1, 1L).otherwise(0L)).as(s"_${p}1"),
      sum(when(cnt === 2, 1L).otherwise(0L)).as(s"_${p}2"),
      sum(when(cnt === 3, 1L).otherwise(0L)).as(s"_${p}3"),
      sum(when(cnt === 4, 1L).otherwise(0L)).as(s"_${p}4"))
    val noc3 = tri.agg(discounts(col("_cuvw"), "t").head,
      discounts(col("_cuvw"), "t").tail: _*)
    val noc2 = cont2.agg(discounts(col("_n2vw"), "p").head,
      discounts(col("_n2vw"), "p").tail: _*)
    def withDiscounts(df0: org.apache.spark.sql.DataFrame, p: String,
                      y: String, d: String) = {
      def n(i: Int) = col(s"_$p$i")
      def dk(k: Int, fallback: Double) = {
        val f = lit(k.toDouble) - lit(k + 1.0) * col(y) *
          n(k + 1).cast("double") / n(k).cast("double")
        when(n(k) > 0 && f > 0, f).otherwise(lit(fallback))
      }
      df0.withColumn(y,
        when(n(1) + lit(2) * n(2) > 0,
          n(1).cast("double") / (n(1) + lit(2) * n(2)).cast("double"))
          .otherwise(lit(0.0)))
        .withColumn(s"${d}1", dk(1, 0.5))
        .withColumn(s"${d}2", dk(2, 1.0))
        .withColumn(s"${d}3", dk(3, 1.5))
    }
    withDiscounts(withDiscounts(
      noc3.crossJoin(noc2).crossJoin(bv), "t", "_y3", "_d3"), "p", "_y2", "_e")
  }

  /** The MKN scoring plan over the fused [[mknScoreUnits]] relation,
    * given the model tables (freshly fitted or loaded from a stamped
    * [[LmIndex]] artifact — bit-identical either way: counts are
    * longs, the disc row's doubles round-trip parquet exactly).
    * Derives the per-context stats from `tri`/`big`/`cont2` at type
    * volume and scores EVERY unit — positions 1 / 2 / ≥3 — through
    * the one stated IEEE probability tree (restated verbatim in the
    * oracles): head units miss the (u, v)-keyed tables by
    * construction, so pTri falls through to pMid (position 2) and
    * pMid to pCont (position 1) with exactly the dedicated legs'
    * expressions. */
  private[ops] def mknScoreRows(idCol: String,
                                tf3: org.apache.spark.sql.DataFrame,
                                tri: org.apache.spark.sql.DataFrame,
                                big: org.apache.spark.sql.DataFrame,
                                cont2: org.apache.spark.sql.DataFrame,
                                disc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // top-level per-context stats: total + discount buckets N1/N2/N3+
    val ctx3 = tri.groupBy(col("u"), col("v"))
      .agg(sum(col("_cuvw")).as("_ca3"),
        sum(when(col("_cuvw") === 1, 1L).otherwise(0L)).as("_a1"),
        sum(when(col("_cuvw") === 2, 1L).otherwise(0L)).as("_a2"),
        sum(when(col("_cuvw") >= 3, 1L).otherwise(0L)).as("_a3"))
    val den2 = cont2.groupBy(col("v"))
      .agg(sum(col("_n2vw")).as("_den2"),
        sum(when(col("_n2vw") === 1, 1L).otherwise(0L)).as("_m1"),
        sum(when(col("_n2vw") === 2, 1L).otherwise(0L)).as("_m2"),
        sum(when(col("_n2vw") >= 3, 1L).otherwise(0L)).as("_m3"))
    val cont1 = big.groupBy(col("cur")).agg(count(lit(1)).as("_n1cur"))

    // the STATED IEEE probability tree (restated verbatim in the oracle)
    val pCont = (coalesce(col("_n1cur"), lit(0L)) + lit(1)).cast("double") /
      (col("_b") + col("_v")).cast("double")
    val n2 = coalesce(col("_n2vw"), lit(0L))
    val e2 = when(n2 === 1, col("_e1")).when(n2 === 2, col("_e2"))
      .when(n2 >= 3, col("_e3")).otherwise(lit(0.0))
    val gamma2 = (col("_e1") * col("_m1") + col("_e2") * col("_m2") +
      col("_e3") * col("_m3")) / col("_den2").cast("double")
    val pMid = when(col("_den2").isNull, pCont)
      .otherwise(greatest(n2.cast("double") - e2, lit(0.0)) /
        col("_den2").cast("double") + gamma2 * pCont)
    // coalesced so the reference-trained unseen-TRIGRAM row (join
    // miss, seen context) discounts a zero count to the backoff mass;
    // an unseen CONTEXT (_ca3 null) backs off to P(w|v) entirely
    val c3 = coalesce(col("_cuvw"), lit(0L))
    val d3 = when(c3 === 1, col("_d31")).when(c3 === 2, col("_d32"))
      .when(c3 >= 3, col("_d33")).otherwise(lit(0.0))
    val gamma3 = (col("_d31") * col("_a1") + col("_d32") * col("_a2") +
      col("_d33") * col("_a3")) / col("_ca3").cast("double")
    val pTri = when(col("_ca3").isNull, pMid)
      .otherwise(greatest(c3.cast("double") - d3, lit(0.0)) /
        col("_ca3").cast("double") + gamma3 * pMid)

    def nllMicro(p: org.apache.spark.sql.Column) =
      floor(-log(p) * lit(1e6) + lit(0.5)).cast("long")

    // EVERY unit — head rows included — LEFT-joins the model tables
    // (all type-volume build sides — AQE broadcasts them when they
    // fit): unseen trigram / context / continuation rows fall through
    // the stated backoff rungs instead of vanishing, and the same
    // fallthrough scores position 1 (pTri → pMid → pCont on the
    // guaranteed (u, v)=(null, null) misses) and position 2 (pTri →
    // pMid on the (u=null) miss) — one leg, one union-free plan.
    val transNll = tf3
      .join(tri, Seq("u", "v", "w"), "left")
      .join(ctx3, Seq("u", "v"), "left")
      .join(cont2, Seq("v", "w"), "left")
      .join(den2, Seq("v"), "left")
      .join(cont1.withColumnRenamed("cur", "w"), Seq("w"), "left")
      .crossJoin(broadcast(disc))
      .select(col("id"), col("_tf").as("_units"),
        (col("_tf") * nllMicro(pTri)).as("_wnll"))
    transNll
      .groupBy(col("id"))
      .agg(sum(col("_units")).as("n_tokens"),
        sum(col("_wnll")).as("sum_nll_micro"))
      .withColumn("avg_nll_micro", expr("sum_nll_micro div n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Per-document NLL under a STUPID-BACKOFF trigram LM (Brants et al.
   * 2007, "Large Language Models in Machine Translation") — the
   * smoothing built FOR distributed corpus scale: no discounting, no
   * normalization, just raw relative frequencies with a fixed backoff
   * penalty α = 0.4, which is exactly what makes it computable as
   * plain count joins at trillions of tokens (the paper's MapReduce
   * argument is this engine's Spark argument):
   *
   *   S(w | u, v) = c(uvw)/c(uv)                 if c(uvw) > 0
   *               = 0.4 · S(w | v)               otherwise
   *   S(w | v)    = c(vw)/c(v)                   if c(vw) > 0
   *               = 0.4 · S(w)                   otherwise
   *   S(w)        = (c(w) + 1)/(N + V)           [add-one floor — the
   *                 [[bigramLogProbRef]] convention, so unseen words
   *                 score finitely; Brants assumes a closed vocab]
   *
   * Like [[bigramLogProbRef]] it is reference-trained (`train`
   * defaults to the scored frame): position 1 of each doc scores on
   * S(w), position 2 on S(w|v), positions ≥ 3 on the trigram chain —
   * EVERY non-null doc appears, and scoring a corpus disjoint from
   * training exercises every backoff rung. S is a score, not a
   * probability (it does not sum to 1 over w) — fine for the ranking /
   * filtering uses perplexity partitions put it to, and stated here so
   * nobody integrates it as one.
   *
   * Determinism contract: exact integer counts; the score is the
   * STATED IEEE double tree with the α multiplications NESTED exactly
   * as written (0.4·(0.4·p) is NOT 0.16·p in floating point — the
   * oracle restates the same nesting); per-unit NLL quantizes to
   * integer micros before the per-doc sum; the mean is INTEGRAL
   * division.
   *
   * Scale shape: n-gram extraction is ROW-LOCAL (zip_with over token-
   * array slices); scored trigrams pre-aggregate per (doc, u, v, w) so
   * the corpus-volume shuffle is fully map-side combined. The training
   * BIGRAM type table has two consumers (context counts c(uv) and
   * bigram counts c(vw)) and the UNIGRAM table three (c(v), c(w), the
   * floor) — both are vocabulary-bounded and persisted via
   * [[CachedRelations]] so the training corpus is read once per order,
   * not once per consumer; the trigram type table has one consumer and
   * stays unpersisted. All model joins are LEFT joins on their own
   * keys (AQE broadcasts them when they fit); the one-row (N, V)
   * aggregate broadcasts explicitly. Caller releases via
   * [[CachedRelations.releaseAll]] after the action.
   */
  def stupidBackoffLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String,
                           train: org.apache.spark.sql.DataFrame = null): org.apache.spark.sql.DataFrame = {
    val trainDf = Option(train).getOrElse(df)
    def toked(d: org.apache.spark.sql.DataFrame) =
      d.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
    def triples(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"),
          explode(call_function("mkn_units", col("_toks"), lit(0))).as("_t"))
        .select(col("id"), col("_t.u").as("u"), col("_t.v").as("v"),
          col("_t.w").as("w"))
    val trainToks = toked(trainDf)
    // ONE corpus-volume exchange for all three orders (the [[mknGrams]]
    // shape — r16; was three separate tokenize+explode+count passes
    // over the training corpus). The counts are identical integers
    // either way: the fused relation's 'u' rows ARE the per-term token
    // occurrence counts, 'b' the bigram counts, 't' the trigram counts.
    val grams = CachedRelations.track(mknGrams(trainToks).persist())
    val uni = grams.filter(col("kind") === "u")
      .select(col("a").as("term"), col("_n").as("_cu"))
    val nv = uni.agg(sum(col("_cu")).as("_n"), count(lit(1)).as("_v"))
    val bi = grams.filter(col("kind") === "b")
      .select(col("a").as("v"), col("b").as("w"), col("_n").as("_cvw"))
    val tri = grams.filter(col("kind") === "t")
      .select(col("a").as("u"), col("b").as("v"), col("c").as("w"),
        col("_n").as("_cuvw"))
    val scoreToks = toked(df)
    // S(w): add-one unigram floor over the training counts
    val sUni = (coalesce(col("_cu_w"), lit(0L)) + lit(1)).cast("double") /
      (col("_n") + col("_v")).cast("double")
    // S(w|v): bigram relative frequency, else α·S(w)
    val sBi = when(coalesce(col("_cvw"), lit(0L)) > 0,
      col("_cvw").cast("double") / col("_cu_v").cast("double"))
      .otherwise(lit(0.4) * sUni)
    val uniW = uni.select(col("term").as("w"), col("_cu").as("_cu_w"))
    val uniV = uni.select(col("term").as("v"), col("_cu").as("_cu_v"))
    // positions 1 and 2 in ONE corpus pass (r16 — the mknScoreRows
    // heads shape): one join of the head word's unigram count serves
    // BOTH position 1's floor and position 2's c(v·) denominator; the
    // two quantized NLLs emit pre-summed. Bit-identical to the two-leg
    // formulation (independent integer-micro quantization, long sums).
    val sUniH1 = (coalesce(col("_cu_v"), lit(0L)) + lit(1)).cast("double") /
      (col("_n") + col("_v")).cast("double")
    val heads = scoreToks
      .select(col("id"), element_at(col("_toks"), 1).as("v"),
        when(size(col("_toks")) >= 2, element_at(col("_toks"), 2)).as("w"))
      .join(bi, Seq("v", "w"), "left")
      .join(uniV, Seq("v"), "left")
      .join(uniW, Seq("w"), "left")
      .crossJoin(broadcast(nv))
      .select(col("id"),
        when(col("w").isNotNull, lit(2L)).otherwise(lit(1L)).as("_units"),
        (floor(-log(sUniH1) * lit(1e6) + lit(0.5)).cast("long") +
          when(col("w").isNotNull,
            floor(-log(sBi) * lit(1e6) + lit(0.5)).cast("long"))
            .otherwise(lit(0L))).as("_wnll"))
    // positions >= 3: pre-aggregated per (doc, u, v, w), scored by the
    // full backoff chain — trigram, else α·bigram, else α·(α·floor)
    val tf3 = triples(scoreToks)
      .groupBy(col("id"), col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("_tf"))
    val triNll = tf3
      .join(tri, Seq("u", "v", "w"), "left")
      .join(bi.select(col("v").as("u"), col("w").as("v"),
        col("_cvw").as("_cuv_bi")), Seq("u", "v"), "left")
      .join(bi, Seq("v", "w"), "left")
      .join(uniV, Seq("v"), "left")
      .join(uniW, Seq("w"), "left")
      .crossJoin(broadcast(nv))
      .select(col("id"), col("_tf").as("_units"),
        (col("_tf") * floor(-log(
          when(coalesce(col("_cuvw"), lit(0L)) > 0,
            col("_cuvw").cast("double") / col("_cuv_bi").cast("double"))
            .otherwise(lit(0.4) * sBi)
        ) * lit(1e6) + lit(0.5)).cast("long")).as("_wnll"))
    heads.unionByName(triNll)
      .groupBy(col("id"))
      .agg(sum(col("_units")).as("n_tokens"),
        sum(col("_wnll")).as("sum_nll_micro"))
      .withColumn("avg_nll_micro", expr("sum_nll_micro div n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Lexical-diversity stats per document: token count, distinct-type
   * count, hapax count (types occurring exactly once in the doc), and
   * the type-token / hapax ratios in integer micros (INTEGRAL division
   * — exact in any engine, no FP anywhere). Low TTR = repetitive or
   * templated text; high hapax ratio = rich vocabulary. One shuffle:
   * the (doc, term) tf combine; the closing per-doc agg reuses the
   * partitioning opportunity map-side.
   */
  def lexicalDiversity(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_micro", expr("n_types * 1000000 div n_tokens"))
      .withColumn("hapax_micro", expr("n_hapax * 1000000 div n_types"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Per-document NLL under a Jelinek-Mercer interpolated bigram LM
   * fitted on the corpus itself (CCNet's perplexity filter, one order
   * up from [[unigramLogProb]]): p(cur|prev) = λ·c(prev,cur)/c(prev)
   * + (1−λ)·c(cur)/N with λ in basis points. Bigram models separate
   * shuffled/templated text from fluent text that a unigram model
   * scores identically. Docs with fewer than two tokens have no
   * transitions and are absent from the output.
   *
   * Scale shape: bigrams come from the native `word_grams(text, 2, 1)`
   * (codegen, no HOF lambdas); the per-(doc, bigram) tf combine is the
   * one corpus-volume shuffle, the bigram/unigram count tables join
   * back at vocabulary² volume (AQE's broadcast choice), and the
   * single-row total is an explicit broadcast. Like [[unigramLogProb]]
   * the tf stage is deliberately NOT persisted: its three consumers
   * shuffle on different keys so exchange reuse cannot kick in, and
   * recomputing the linear scan measured faster than materializing the
   * corpus-volume string relation. Per-transition NLL quantizes to
   * integer micros BEFORE the per-doc sum (order-independent; ln sits
   * inside the quantization), and the mean is INTEGRAL division — no
   * FP rides any exchange.
   */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, lambdaBp: Int = 8000): org.apache.spark.sql.DataFrame = {
    require(lambdaBp > 0 && lambdaBp < 10000, "lambdaBp must be in (0, 10000)")
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    val live = df.filter(col(textCol).isNotNull)
    val uni = live
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = uni.select(sum(col("cnt")).as("total"))
    val tf = live
      .select(col(idCol).as("id"),
        explode(call_function("word_grams", col(textCol), lit(2), lit(1))).as("g"))
      .select(col("id"),
        substring_index(col("g"), " ", 1).as("w_prev"),
        substring_index(col("g"), " ", -1).as("w_cur"))
      .groupBy(col("id"), col("w_prev"), col("w_cur")).agg(count(lit(1)).as("tf"))
    val cb = tf.groupBy(col("w_prev"), col("w_cur")).agg(sum(col("tf")).as("c_ab"))
    tf.join(cb, Seq("w_prev", "w_cur"))
      .join(uni.select(col("term").as("w_prev"), col("cnt").as("c_a")), "w_prev")
      .join(uni.select(col("term").as("w_cur"), col("cnt").as("c_b")), "w_cur")
      .crossJoin(broadcast(total))
      // identical FP expression tree in the DuckDB oracle: every op is
      // a correctly-rounded IEEE multiply/divide/add on exact integer
      // counts, so the double is bit-identical cross-engine before ln
      .withColumn("nll_micro",
        floor(-log((lit(lambdaBp.toDouble) * col("c_ab").cast("double") / col("c_a")
            + lit((10000 - lambdaBp).toDouble) * col("c_b").cast("double") / col("total"))
          / lit(10000.0)) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("nll_micro")).as("sum_nll_micro"))
      .withColumn("avg_nll_micro", expr("sum_nll_micro div n_bigrams"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Per-group Zipf (discrete power-law) exponent via the Clauset-style
   * MLE over token frequencies: α = 1 + n / Σ_t ln(f_t / (fmin − ½))
   * over the n distinct tokens with f_t ≥ fmin. A healthy natural-
   * language corpus sits near α ≈ 2 under this unigram estimator;
   * synthetic/templated text drifts — a cheap per-source health probe
   * next to [[chiSquareDrift]].
   *
   * Scale shape: one (group, token)-keyed corpus-volume count shuffle,
   * then a tiny per-group aggregate. Per-term ln lands in integer
   * micros BEFORE the cross-row sum (the bigram-NLL determinism
   * pattern), so `sum_ln_micro` is exact and α is one final division.
   */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
              groupCol: String, fmin: Long = 2): org.apache.spark.sql.DataFrame = {
    require(fmin >= 2, "fmin must be >= 2 (ln(f/(fmin-0.5)) must be > 0)")
    df.select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= fmin)
      .withColumn("ln_micro",
        floor(log(col("f").cast("double") / lit(fmin - 0.5)) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_types"), sum(col("ln_micro")).as("sum_ln_micro"))
      // guard: a group where every surviving token has f == fmin and
      // ln rounds to 0 would divide by zero (degenerate; alpha -> null)
      .withColumn("alpha",
        when(col("sum_ln_micro") > 0,
          lit(1.0) + col("n_types").cast("double")
            / (col("sum_ln_micro").cast("double") / lit(1e6))))
      .withColumnRenamed("grp", groupCol)
  }

  /**
   * C4-style HTML/markup strip for web-crawl corpus cleaning: drop
   * script/style payloads (their CONTENT, not just the tags — inline
   * JS/CSS is never training text), strip comments and all remaining
   * tags (each replaced by a space so `</p><p>` can't weld words
   * together), decode the basic named entities (&amp; LAST — decoding
   * it first would double-decode `&amp;lt;`), then collapse
   * whitespace. Entirely ROW-LOCAL (pure map, no shuffle) and built
   * from the RE2∩Java regex subset — no backreferences, so the same
   * patterns run in any engine (the documented Go-RE2-vs-Java
   * divergence stance). A stray unclosed `<` is kept as text, like
   * the lenient html-to-text strippers web pipelines use.
   */
  def stripMarkup(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /**
   * CCNet-style per-source perplexity partition (Wenzek 2020): rank
   * each document's interpolated-bigram-LM NLL ([[bigramLogProb]])
   * WITHIN its source and split into `buckets` equal-frequency bands —
   * band "head" = lowest perplexity (most fluent), "tail" = highest.
   * CCNet's stance (shared with [[perSourcePercentile]]): cut within
   * the source, never globally — a global threshold prunes whole
   * low-register sources instead of each source's worst documents.
   * Docs with fewer than two tokens have no bigram transitions and
   * are absent (mirror the bigram-NLL domain in any oracle).
   *
   * Scale shape: the corpus-volume work is [[bigramLogProb]]'s; the
   * partition adds one doc-id-keyed join of two doc-volume relations
   * and ONE doc-volume shuffle for the per-source ntile window. The
   * ntile orders by (avg_nll_micro, id) — a total order, so the band
   * assignment is deterministic in any engine (SQL NTILE distributes
   * the first n mod b buckets one extra row in every dialect).
   */
  def perplexityPartition(df: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String, sourceCol: String,
                          lambdaBp: Int = 8000, buckets: Int = 3,
                          model: String = "bigram",
                          modelDir: String = null,
                          trainPath: String = null): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, "need at least head and tail bands")
    // which self-trained LM supplies the NLL: the JM bigram (the
    // original shape; docs under two tokens get no score → band NULL),
    // KN bigram, modified-KN trigram (the CCNet/SRILM production
    // smoother), or Stupid Backoff trigram — the latter three score
    // EVERY non-null doc (first-token unigram rung), so only null-text
    // docs band NULL under them. With modelDir/trainPath set, the NLL
    // comes from a PERSISTED [[LmIndex]] mkn3 artifact instead of a
    // per-run refit — the actual CCNet lifecycle (reference LM fitted
    // once on the clean corpus, every crawl snapshot banded under it).
    val nll = (if (modelDir != null) {
      require(model == "mkn3",
        s"ppl_partition modelDir is an mkn3 artifact — got model '$model'")
      require(trainPath != null, "ppl_partition modelDir needs trainPath to verify")
      LmIndex.scoreMknIndexed(df.sparkSession, df, idCol, textCol, trainPath, modelDir)
    } else model match {
      case "bigram" => bigramLogProb(df, idCol, textCol, lambdaBp)
      case "kn2"    => kneserNeyLogProb(df, idCol, textCol)
      case "mkn3"   => modifiedKneserNeyLogProb(df, idCol, textCol)
      case "sb3"    => stupidBackoffLogProb(df, idCol, textCol)
      case other => throw new IllegalArgumentException(
        s"ppl_partition model '$other' — expected bigram | kn2 | mkn3 | sb3")
    }).select(col(idCol), col("avg_nll_micro"))
    val src = df.select(col(idCol), col(sourceCol).as("source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("avg_nll_micro"), col(idCol))
    nll.join(src, idCol)
      .withColumn("bucket", ntile(buckets).over(w))
      .withColumn("ppl_band",
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === lit(buckets), lit("tail"))
          .otherwise(lit("middle")))
      .select(col(idCol), col("source"), col("avg_nll_micro"),
        col("bucket"), col("ppl_band"))
  }

  /**
   * The C4 line-and-page heuristics (Raffel 2020 §2.2) as ONE
   * operator — the canonical named cleaner of the web-crawl curation
   * literature, composed here exactly as published: keep only lines
   * that end in a terminal punctuation mark (`.`, `!`, `?`, `"`),
   * carry at least `minWordsPerLine` words, and do not mention
   * "javascript" (case-insensitive); drop entire PAGES containing
   * "lorem ipsum" (case-insensitive) or a curly brace, and pages
   * whose RETAINED text has fewer than `minSentences` sentences
   * (sentence = non-blank `[.!?]+`-delimited segment, the
   * [[sentenceStats]] definition). Pages whose every line was dropped
   * vanish, as in C4.
   *
   * Output: (id, clean_text, kept_lines, total_lines, n_sentences)
   * for surviving pages. Entirely ROW-LOCAL (nested HOFs over the
   * line array) — zero shuffles, runs in the scan stage at any SF.
   */
  def c4LineRules(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, minWordsPerLine: Int = 3,
                  minSentences: Int = 5): org.apache.spark.sql.DataFrame = {
    val pageDirty = lower(col(textCol)).contains("lorem ipsum") ||
      col(textCol).contains("{")
    val allLines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    val keptLines = filter(allLines, l =>
      l.rlike("[.!?\"]$") &&
        size(split(l, "\\s+")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    val sents = filter(
      transform(split(col("clean_text"), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    df.filter(col(textCol).isNotNull && !pageDirty)
      .select(col(idCol),
        array_join(keptLines, "\n").as("clean_text"),
        size(keptLines).cast("long").as("kept_lines"),
        size(allLines).cast("long").as("total_lines"))
      .withColumn("n_sentences", size(sents).cast("long"))
      .filter(col("kept_lines") > 0 && col("n_sentences") >= minSentences)
  }

  /**
   * Per-document sentence statistics — the sentence-level half of the
   * Gopher/C4 heuristics (documents with very few sentences, or one
   * run-on "sentence", are boilerplate/navigation candidates; C4 keeps
   * only lines that end in terminal punctuation). Sentences are the
   * non-blank segments between `[.!?]+` runs — the RE2-and-Java common
   * subset, so the same split runs in any engine. Reports sentence
   * count, mean tokens per sentence in integral micros, the longest
   * sentence's token count, and whether the trimmed document ends in
   * terminal punctuation. Entirely row-local: zero shuffles.
   */
  def sentenceStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val sents = filter(
      transform(split(col(textCol), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val sentToks = transform(sents, s => size(split(s, "\\s+")).cast("long"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(sents).cast("long").as("n_sentences"),
        aggregate(sentToks, lit(0L), (a, x) => a + x).as("n_sent_tokens"),
        coalesce(array_max(sentToks), lit(0L)).as("max_sent_tokens"),
        col(textCol).as("_t"))
      .withColumn("mean_sent_tokens_micro",
        when(col("n_sentences") > 0,
          expr("n_sent_tokens * 1000000 div n_sentences")).otherwise(lit(0L)))
      .withColumn("ends_terminal", rtrim(col("_t")).rlike("[.!?]$"))
      .drop("_t")
  }

  /**
   * Per-document Shannon character entropy in integral micro-nats —
   * the classic cheap junk detector: near-zero entropy is a repeated
   * character / padding run, unusually high entropy is random keys or
   * compressed-then-mangled bytes; prose sits in a stable band. The
   * distribution is taken over the document's PRINTABLE-ASCII
   * characters (`[\x20-\x7e]`) so both engines see identical units
   * regardless of how their regex/split primitives treat multi-byte
   * code points — non-ASCII composition is [[scriptProfile]]'s job.
   *
   * Exactness: per-char surprisal −ln(cnt/total) quantizes to micros
   * row-wise ([[unigramLogProb]]'s pattern), the entropy is the exact
   * integer Σ cnt·nll_micro div total. Scale shape: one (id, char)
   * map-side-combined shuffle (≤ 95 rows per doc); the per-doc total
   * is a window over the same key — no second exchange.
   */
  def charEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(split(regexp_replace(col(textCol), "[^\\x20-\\x7e]", ""), ""))
          .as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("id"), col("ch")).agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(w))
      .withColumn("nll_micro",
        floor(-log(col("cnt").cast("double") / col("total")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("id"))
      .agg(max(col("total")).as("n_ascii_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("cnt") * col("nll_micro")).as("sum_nll"))
      .withColumn("entropy_micro", expr("sum_nll div n_ascii_chars"))
      .drop("sum_nll")
      .withColumnRenamed("id", idCol)
  }

  /** The mojibake repair table: UTF-8 bytes decoded as cp1252/latin-1
    * (the single most common encoding accident in web crawls), for
    * the characters that actually occur in crawled text — curly
    * quotes/dashes/ellipsis, western-European accents, and the
    * `Â + NBSP` artifact. Longest-match-first so the 3-byte
    * punctuation sequences win over their `Ã/Â` prefixes. Public
    * knowledge (the ftfy tool's core table). */
  val mojibakeTable: Seq[(String, String)] = Seq(
    // U+2019 (E2 80 99) read as cp1252: 0x99 = U+2122
    "\u00E2\u20AC\u2122" -> "\u2019",
    // U+2018 (E2 80 98): 0x98 = U+02DC
    "\u00E2\u20AC\u02DC" -> "\u2018",
    // U+201C (E2 80 9C): 0x9C = U+0153
    "\u00E2\u20AC\u0153" -> "\u201C",
    // (U+201D ends in 0x9D, undefined in cp1252 — decoders disagree
    // on its carcass, so it has no reliable signature and is skipped)
    // U+2013 en dash (E2 80 93): 0x93 = U+201C
    "\u00E2\u20AC\u201C" -> "\u2013",
    // U+2014 em dash (E2 80 94): 0x94 = U+201D
    "\u00E2\u20AC\u201D" -> "\u2014",
    // U+2026 ellipsis (E2 80 A6): 0xA6 = U+00A6
    "\u00E2\u20AC\u00A6" -> "\u2026",
    // Latin-1 accents: U+00Ex/U+00Fx are C3 xx in UTF-8; C3 = U+00C3
    "\u00C3\u00A9" -> "\u00E9", // e acute
    "\u00C3\u00A8" -> "\u00E8", // e grave
    "\u00C3\u00A1" -> "\u00E1", // a acute
    "\u00C3\u00AD" -> "\u00ED", // i acute (0xAD = soft hyphen)
    "\u00C3\u00B3" -> "\u00F3", // o acute
    "\u00C3\u00BA" -> "\u00FA", // u acute
    "\u00C3\u00A4" -> "\u00E4", // a umlaut
    "\u00C3\u00B6" -> "\u00F6", // o umlaut
    "\u00C3\u00BC" -> "\u00FC", // u umlaut
    "\u00C3\u00B1" -> "\u00F1", // n tilde
    "\u00C3\u00A7" -> "\u00E7", // c cedilla
    // U+00A0 NBSP (C2 A0): C2 = U+00C2 — the "A-hat + space" artifact
    "\u00C2\u00A0" -> " ")

  /**
   * Gopher duplicate-line stats (Rae 2021 §A1.1 "duplicate line
   * fraction" / "duplicate line character fraction"): the share of a
   * document's non-blank lines — and of their characters — that are
   * exact repeats of another line in the SAME document (headers,
   * nav bars, templated listings). Entirely ROW-LOCAL (one pass of the
   * native [[graft.expr.LineStats]] kernel per document; nothing
   * shuffles); ratios are integral micros.
   *
   * r17: the stats were composed nested higher-order functions
   * (`transform(lines, x -> size(filter(lines, y -> y = x)))` plus
   * `aggregate(zip_with(...))` folds) — Catalyst evaluates HOFs
   * interpreted with per-element closures, and the occurrence count
   * was O(L²) per doc. `line_stats` is one linear hash-count pass,
   * value-identical (LineStatsSpec pins it against the old Column
   * formulation; q_llm_dup_lines' DuckDB oracle is the machine gate).
   */
  def dupLineStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), call_function("line_stats", col(textCol)).as("_s"))
      .select(col(idCol),
        col("_s.n_lines").as("n_lines"),
        col("_s.dup_lines").as("dup_lines"),
        col("_s.total_line_chars").as("total_line_chars"),
        col("_s.dup_line_chars").as("dup_line_chars"))
      .withColumn("dup_line_micro",
        when(col("n_lines") > 0, expr("dup_lines * 1000000 div n_lines"))
          .otherwise(lit(0L)))
      .withColumn("dup_char_micro",
        when(col("total_line_chars") > 0,
          expr("dup_line_chars * 1000000 div total_line_chars"))
          .otherwise(lit(0L)))
  }

  /**
   * Gopher duplicated-n-gram character coverage (Rae 2021 §A1.1
   * "fraction of characters inside duplicate n-grams"): the share of
   * a document's token characters covered by some word n-gram that
   * occurs at least twice in the SAME document — counting each token
   * position once however many duplicated grams cover it (the
   * position-marking de-overlap the curation stacks use). Documents
   * with fewer than n tokens have no grams and are absent.
   *
   * Scale shape: ONE exchange, NO joins — a pure window pipeline over
   * the single (id, pos, tok) relation: grams assemble row-cheap via
   * `lead` (ordered by pos), the dup flag is a count window over
   * (id, gram), and de-overlapped coverage is a RANGE-frame max over
   * the trailing n−1 positions ("is any duplicated gram starting in
   * [p−n+1, p]?") — every window clusters on id or an (id, x)
   * superset, which the one id hash-partitioning already satisfies
   * (sorts only; plan-asserted in ScaleSpec). Gram keys stay in the
   * partition as xxhash64 longs when `portableHash=false` (the
   * production path); `portableHash=true` keeps the gram STRING so a
   * SQL oracle computes value-identical coverage.
   */
  def dupNgramCoverage(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, n: Int = 5,
                       portableHash: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "a 1-gram dup is just a repeated token")
    val pos = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .repartition(col("id"))
      .select(col("id"), posexplode(col("toks")))
      .toDF("id", "pos", "tok")
    val wseq = Window.partitionBy(col("id")).orderBy(col("pos"))
    // \u0001 separator: tokens are whitespace-split so they cannot
    // contain it — gram strings are collision-free across boundaries
    val gramStr = concat_ws("\u0001",
      col("tok") +: (1 until n).map(j => lead(col("tok"), j).over(wseq)): _*)
    val withGram = pos.withColumn("_gram_raw",
        // concat_ws SKIPS nulls, so a tail (n-1)-gram would collide
        // with a real n-gram — null the tail starts out explicitly
        when(lead(col("tok"), n - 1).over(wseq).isNotNull,
          if (portableHash) gramStr else xxhash64(gramStr).cast("string")))
    val wg = Window.partitionBy(col("id"), col("_gram_raw"))
    val wcov = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rangeBetween(-(n - 1), 0)
    withGram
      .withColumn("_dup",
        when(col("_gram_raw").isNotNull && count(lit(1)).over(wg) > 1, 1L)
          .otherwise(0L))
      .withColumn("_covered", when(max(col("_dup")).over(wcov) > 0, 1L).otherwise(0L))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok")).cast("long")).as("total_token_chars"),
        sum(col("_covered")).as("covered_positions"),
        sum(col("_covered") * length(col("tok"))).as("covered_chars"))
      .withColumn("dup_char_micro",
        expr("covered_chars * 1000000 div total_token_chars"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Feature-hashing document embedding (Weinberger et al. 2009, the
   * hashing trick): unigram counts hashed into `dims` buckets,
   * l2-normalized — the no-model text vectorizer that bridges the
   * documents table into the ANN / kNN-classify / margin stack.
   * Long format (id, bucket, cnt, weight_micro): the l2 weight is
   * cnt·1e6 / sqrt(Σcnt²) — integer counts, one correctly-rounded
   * sqrt and divide, then micro quantization, so the oracled face is
   * value-identical in any engine. `portableHash=true` buckets via
   * the md5-prefix hash (SQL-reproducible); false via xxhash64 (the
   * production path). Scale shape: one (id, bucket) map-side-combined
   * shuffle; the Σcnt² window shares its key.
   */
  def hashEmbedLong(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, dims: Int = 64,
                    portableHash: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(dims > 0, "dims must be positive")
    val tok = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
    val bucket =
      if (portableHash)
        pmod(conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10)
          .cast("long"), lit(dims.toLong))
      else pmod(xxhash64(col("tok")), lit(dims.toLong))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    tok.select(col("id"), bucket.as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("ss", sum(col("cnt") * col("cnt")).over(w))
      .withColumn("weight_micro",
        floor(col("cnt") * lit(1e6) / sqrt(col("ss").cast("double")) + lit(0.5))
          .cast("long"))
      .select(col("id").as(idCol), col("bucket"), col("cnt"), col("weight_micro"))
  }

  /** Assemble [[hashEmbedLong]] into a dense array column
    * (id, embedding) for the ANN stack — collect the sparse buckets
    * per doc (bounded by `dims`) and scatter into a fixed-length
    * vector; order-independent via the bucket-keyed map. Float
    * elements by default (the embeddings-table convention);
    * `floatVecs = false` keeps exact doubles (weight_micro / 10⁶ with
    * no float32 round-trip), which is what makes the md5-portable
    * kNN twin value-identical to a DOUBLE[] SQL oracle. */
  def hashEmbedVectors(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, dims: Int = 64,
                       portableHash: Boolean = false,
                       floatVecs: Boolean = true): org.apache.spark.sql.DataFrame =
    hashEmbedLong(df, idCol, textCol, dims, portableHash)
      .groupBy(col(idCol))
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("weight_micro"))).as("_m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dims - 1)),
          i => {
            val d = coalesce(element_at(col("_m"), i.cast("long")), lit(0L))
              .cast("double") / lit(1e6)
            if (floatVecs) d.cast("float") else d
          }).as("embedding"))

  /**
   * Repair double-encoded (UTF-8-read-as-cp1252) text via the fixed
   * longest-first literal-replace chain of [[mojibakeTable]] — the
   * bounded, deterministic core of what ftfy does, as a row-local
   * column expression (codegen'd `replace` chain, no UDF). Returns
   * the repaired text; pair with `repaired =!= original` for a
   * mojibake-rate report. An oracle can state the IDENTICAL chain,
   * since the table is data, not code.
   */
  def fixMojibake(text: Column): Column =
    mojibakeTable.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /**
   * Per-document TF-IDF keyword extraction: the top-`k` most
   * distinctive terms per doc by tf·ln(1 + N/df), the same
   * integer-micro weight the near-dup operator uses
   * (`Dedup.tfidfCosinePairs`), with a deterministic (weight desc,
   * term asc) rank.
   *
   * Scale shape: tf agg (doc+term keyed, map-side combined), df agg
   * (term keyed), one term-keyed join, broadcast 1-row doc count, then
   * a doc-keyed window whose per-group cost is the doc's distinct-term
   * count — never a corpus-wide sort. Terms whose idf rounds to zero
   * weight (present in every doc) drop before the window.
   */
  /**
   * Top referenced domains: extract every http(s) URL host from the
   * text (lowercased, port and path stripped — the regex subset RE2
   * and Java agree on), count docs and mentions per domain, and rank
   * a deterministic corpus top-K — the "where does this corpus come
   * from / link to" curation staple. One term-volume shuffle,
   * TakeOrderedAndProject for the top-K.
   */
  def topDomains(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, topK: Int = 20): org.apache.spark.sql.DataFrame = {
    val urls = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(expr(
          s"""regexp_extract_all(lower($textCol), 'https?://([a-z0-9.-]+)', 1)"""))
          .as("domain"))
    urls.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_mentions"), count_distinct(col("id")).as("n_docs"))
      .orderBy(col("n_mentions").desc, col("domain").asc)
      .limit(topK)
      // post-limit ≤topK relation: single partition is the intent —
      // the constant pmod partition states it (and keeps WindowExec quiet)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("n_mentions"), lit(1)))
          .orderBy(col("n_mentions").desc, col("domain").asc)))
  }

  /**
   * Deflate compression ratio per document — the Gopher-family
   * "too-compressible" quality signal: templated/repeated text
   * compresses far below prose, random keys barely compress at all.
   * ratio_micro = compressed·10⁶ div raw over the UTF-8 bytes, zlib
   * level 6 (java.util.zip.Deflater — deterministic for a given
   * input, so reruns are stable; engine-local, no SQL oracle — the
   * rows-only table documents it). Row-local `mapPartitions` with one
   * Deflater per partition (the codec-handle pattern); empty docs
   * keep their row with a NULL ratio.
   */
  def compressionRatio(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, level: Int = 6): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          (id, raw.length.toLong, compressed,
            if (raw.length > 0) Some(compressed * 1000000L / raw.length) else None)
        }
      }
      .toDF(idCol, "n_bytes", "n_compressed", "ratio_micro")
  }

  /**
   * Flesch reading-ease in integral micros: 206.835 − 1.015·(words per
   * sentence) − 84.6·(syllables per word), with the standard
   * vowel-group syllable heuristic (each maximal `[aeiouy]+` run in
   * the lowercased word counts one syllable, floor 1 per word — so
   * numerals and symbol tokens count as monosyllables). Ratios are
   * integral micros (exact in any engine); a doc without terminal
   * punctuation reads as one sentence; empty-token docs drop. Pure
   * row-local map — zero shuffle at any scale.
   */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val sents = filter(
      transform(split(col(textCol), "[.!?]+"), s => trim(s)), s => s =!= "")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")
    val syls = transform(col("_toks"), t =>
      greatest(size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))), lit(1)).cast("long"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(toks).cast("long").as("n_words"),
        greatest(size(sents), lit(1)).cast("long").as("n_sentences"),
        toks.as("_toks"))
      .withColumn("n_syllables", aggregate(syls, lit(0L), (a, x) => a + x))
      .drop("_toks")
      .filter(col("n_words") > 0)
      .withColumn("wps_micro", expr("n_words * 1000000 div n_sentences"))
      .withColumn("spw_micro", expr("n_syllables * 1000000 div n_words"))
      .withColumn("flesch_micro",
        expr("206835000 - (1015 * wps_micro) div 1000 - (84600 * spw_micro) div 1000"))
  }

  def keywords(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               k: Int = 3): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count_distinct(col(idCol)).as("n_docs"))
    val w = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("wn",
        floor(col("tf") * log(lit(1.0) + col("n_docs").cast("double") / col("df"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .filter(col("wn") > 0)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("wn").desc, col("term").asc)
    w.withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("wn"), col("rank"))
  }
}
