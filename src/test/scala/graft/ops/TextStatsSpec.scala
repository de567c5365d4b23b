package graft.ops

import graft.SparkTestBase
import graft.expr.{TextStats, TextStatsExpr}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayIntersect, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Pins the native `text_stats` kernel ([[graft.expr.TextStats]])
 * against the Column forms of `tokenCount`, `punctRatio`,
 * `stopwordRatio`, `qualityScore` and `langId` it replaced: equal
 * values (doubles bit for bit) on edge fixtures and seeded random
 * text, with and without code generation. The oracled q_llm_quality,
 * q_llm_lang_id and q_llm_token_stats rows are the end-to-end gates.
 */
class TextStatsSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  /** The Column forms the kernel replaced, verbatim but for the
    * marker lists, which are a parameter here. */
  private object Reference {
    private def tokens(text: Column): Column = TextAnalysis.tokens(text)

    def tokenCount(text: Column): Column = size(tokens(text))

    def punctRatio(text: Column): Column =
      (length(text) - length(regexp_replace(text, "[.!?,;:]", ""))).cast("double") /
        greatest(length(text), lit(1))

    private def markerCount(toks: Column, words: Seq[String]): Column =
      size(array_intersect(array_distinct(toks), array(words.map(lit): _*)))

    def langId(text: Column, stopwords: Seq[(String, Seq[String])]): Column = {
      val toks = tokens(text)
      val counts = stopwords.map { case (lang, words) => lang -> markerCount(toks, words) }
      val maxc = greatest(counts.map(_._2): _*)
      counts.foldLeft(when(maxc === 0, lit("und"))) { case (acc, (lang, c)) =>
        acc.when(c === maxc, lit(lang))
      }.otherwise(lit("und"))
    }

    def stopwordRatio(text: Column, stopwords: Seq[(String, Seq[String])]): Column = {
      val toks = tokens(text)
      val all = stopwords.flatMap(_._2).distinct
      size(filter(toks, t => t.isin(all: _*))).cast("double") /
        greatest(size(toks), lit(1))
    }

    def qualityScore(text: Column, stopwords: Seq[(String, Seq[String])]): Column =
      least(tokenCount(text).cast("double") / 100.0, lit(1.0)) * 0.4 +
        (lit(1.0) - punctRatio(text)) * 0.3 +
        least(stopwordRatio(text, stopwords) * 5.0, lit(1.0)) * 0.3

    def columns(text: Column, stopwords: Seq[(String, Seq[String])]): Seq[Column] = Seq(
      tokenCount(text), punctRatio(text), stopwordRatio(text, stopwords),
      qualityScore(text, stopwords), langId(text, stopwords))
  }

  private val names = Seq("n_tokens", "punct_ratio", "stop_ratio", "quality", "lang")

  private def kernelColumns(text: Column): Seq[Column] = Seq(
    TextAnalysis.tokenCount(text), TextAnalysis.punctRatio(text),
    TextAnalysis.stopwordRatio(text), TextAnalysis.qualityScore(text),
    TextAnalysis.langId(text))

  private def scored(df: DataFrame, cols: Column => Seq[Column]): Seq[Row] = {
    val t = col("text")
    val cs = cols(t)
    df.select(col("doc_id") +: cs.zip(names).map { case (c, n) => c.as(n) } :+
        floor(cs(3) * lit(1e6) + lit(0.5)).cast("long").as("q_micro"): _*)
      .collect().sortBy(_.getLong(0)).toSeq
  }

  /** Kernel and reference agree on every doc, whole-stage generated
    * and interpreted. A parallelized frame, not a local one, so the
    * optimizer cannot fold the projection on the driver. */
  private def check(docs: Seq[(Long, String)]): Unit = {
    val df = spark.sparkContext.parallelize(docs, 2).toDF("doc_id", "text")
    val ref = scored(df, Reference.columns(_, TextAnalysis.stopwords))
    for (conf <- Seq(Seq("spark.sql.codegen.wholeStage" -> "true"),
                     Seq("spark.sql.codegen.wholeStage" -> "false",
                         "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      val now = withConf(conf: _*)(scored(df, kernelColumns))
      val diff = now.zip(ref).filter { case (a, b) => a != b }
      assert(now.size == ref.size && diff.isEmpty,
        s"kernel != reference under $conf:\n" + diff.take(5).map { case (a, b) =>
          s"  kernel $a\n  ref    $b" }.mkString("\n"))
    }
  }

  // NBSP (U+00A0) and EM SPACE (U+2003) are not `\s`; U+212A is the
  // Kelvin sign, U+0130 the dotted capital I, U+03A3 capital sigma
  private val seps = Seq(" ", "  ", "\t", "\u000B", "\f", "\r", "\n", " \t ",
    "\u00A0", "\u2003")
  private val pieces = Seq("the", "The", "THE", "the", "a", "an", "and", "of", "in", "is",
    "it", "that", "der", "DER", "die", "und", "Und", "ist", "nicht", "el", "la", "de", "que",
    "y", "le", "les", "et", "est", "une", "pas", "word", "corpus", "x", "k", "K",
    "\u212A", "\u212Ae", "\u0130t", "\u0130n", "\u0131n", "\u03A3", "\u039F\u0394\u039F\u03A3",
    "stra\u00DFe", "STRASSE", "\uD83D\uDE00", "\uD835\uDD18", "h\u00E9llo", "\u00A0the",
    ".", "!", "?", ",", ";", ":", "...", "the.", "end!", "a,b", "q?", "x;y:z", "")

  test("edge fixtures: blanks, untrimmed whitespace, case, unicode, punctuation") {
    check(Seq(
      1L -> null,
      2L -> "",
      3L -> " ",
      4L -> "   \t  ",
      5L -> "\tthe cat\t",
      6L -> "\u000Bthe\u000B",
      7L -> "\fder\f",
      8L -> "\rel\r",
      9L -> "the\u00A0cat",                  // NBSP is not \s
      10L -> "the\u2003cat and",             // nor is U+2003
      11L -> "The THE the tHe",
      12L -> "DER Die das und ist nicht ein",
      13L -> "\u212A the \u212Aelvin",        // Kelvin sign
      14L -> "\u0130t \u0130N in it",         // dotted capital I
      15L -> "\u039F\u0394\u039F\u03A3 \u03A3 \u03C3\u03A3", // final sigma
      16L -> "\uD83D\uDE00 the \uD835\uDD18nicode \uD835\uDD18 a", // surrogate pairs
      17L -> ". ! ? , ; :",
      18L -> ".!?,;:",
      19L -> "el la de y en un una por le les",  // es/fr tie: es declared first
      20L -> "the el der le",                    // four-way tie -> en
      21L -> "the the the the",                  // repeats count for the ratio, once for lang
      22L -> "word corpus x",                    // no marker -> und
      23L -> "  leading and trailing  ",
      24L -> Seq.fill(130)("the").mkString(" "), // length credit saturates
      25L -> Seq.fill(60)("word").mkString(" ")))
  }

  test("seeded random text over the edge alphabet") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 400L).map { i =>
      val n = if (i % 10 == 0) 90 + rnd.nextInt(40) else rnd.nextInt(14)
      val sb = new StringBuilder
      if (rnd.nextInt(4) == 0) sb ++= seps(rnd.nextInt(seps.size))
      (0 until n).foreach { j =>
        if (j > 0) sb ++= seps(rnd.nextInt(seps.size))
        sb ++= pieces(rnd.nextInt(pieces.size))
      }
      if (rnd.nextInt(4) == 0) sb ++= seps(rnd.nextInt(seps.size))
      i -> sb.toString
    }
    check(docs)
  }

  test("invalid UTF-8 scores as the Column forms score it") {
    val hex = Seq("E02E2E", "C0202E", "FF", "41E2822E20746865", "746865C3", "2E2EE0",
      "E0412E41")
    val df = spark.sparkContext.parallelize(hex.zipWithIndex.map { case (h, i) => (i.toLong, h) }, 2)
      .toDF("doc_id", "hex")
      .select(col("doc_id"), unhex(col("hex")).cast("string").as("text"))
    val ref = scored(df, Reference.columns(_, TextAnalysis.stopwords))
    assert(scored(df, kernelColumns) == ref)
  }

  test("non-ASCII text lowers by Lower's routine: markers only that routine reaches") {
    // no stock marker word is reachable only by lowering a non-ASCII
    // letter, so these lists are: U+212A lowers to "k", U+0130 to
    // "i" + U+0307, and a final capital sigma to U+03C2
    val lists = Seq("xx" -> Seq("k", "i\u0307t", "\u03C3"),
      "yy" -> Seq("\u03C2", "the", "stra\u00DFe"))
    val markers = new TextStats.Markers(lists)
    val texts = Seq("\u212A", "\u212A the", "\u0130t", "\u0130T is", "\u039F\u0394\u039F\u03A3",
      "\u03A3", "\u03A3 \u03A3 \u039F\u03A3", "STRA\u00DFE", "The \u212A \u212A", "k K \u212A")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = spark.sparkContext.parallelize(docs, 2).toDF("doc_id", "text")
    val ref = scored(df, Reference.columns(_, lists)).map(r => (1 to 6).map(r.get))
    val icu = spark.conf.get("spark.sql.icu.caseMappings.enabled", "true").toBoolean
    val now = texts.map { t =>
      val r = TextStats.compute(UTF8String.fromString(t), 0, icu, markers)
      val q = r.getDouble(3)
      Seq(r.getInt(0), r.getDouble(1), r.getDouble(2), q, r.getUTF8String(4).toString,
        math.floor(q * 1e6 + 0.5).toLong)
    }
    assert(now == ref, s"\nkernel $now\nref    $ref")
  }

  test("text_stats is a SQL function, never null") {
    graft.functions.Registry.ensure(spark)
    val r = spark.sql("SELECT text_stats('The cat sat.') AS s, text_stats(CAST(NULL AS STRING)) AS n")
      .collect().head
    assert(r.getStruct(0).getInt(0) == 3 && r.getStruct(0).getString(4) == "en")
    assert(r.getStruct(1).isNullAt(0) && r.getStruct(1).getString(4) == "und")
  }

  test("a non-string argument is cast to string, as the Column forms cast it") {
    graft.functions.Registry.ensure(spark)
    val df = spark.sparkContext.parallelize(Seq((1L, 42, "a,b"), (2L, -7, "the cat.")), 2)
      .toDF("doc_id", "n", "s").select(col("doc_id"), col("n"), col("s").cast("binary").as("b"))
    // an int scores as its decimal text, the reference forms included
    val asInt = scored(df.withColumn("text", col("n")), kernelColumns)
    assert(asInt == scored(df.withColumn("text", col("n")), Reference.columns(_, TextAnalysis.stopwords)))
    assert(asInt == scored(df.withColumn("text", col("n").cast("string")), kernelColumns))
    val sql = df.selectExpr("doc_id", "text_stats(n) AS i", "text_stats(b) AS b", "text_stats(CAST(b AS STRING)) AS c")
      .collect().sortBy(_.getLong(0))
    assert(sql.map(_.getStruct(1).getInt(0)).toSeq == Seq(1, 1))
    assert(sql.forall(r => r.getStruct(2) == r.getStruct(3)))
  }

  private def kernels(plan: LogicalPlan): Int =
    plan.collect { case n => n.expressions.map(_.collect { case e: TextStatsExpr => e }.size).sum }.sum

  private def interpreted(plan: LogicalPlan): Seq[String] =
    plan.collect { case n => n.expressions.flatMap(_.collect {
      case e @ (_: ArrayFilter | _: ArrayIntersect | _: StringSplit) => e.prettyName
    }) }.flatten

  test("playbook text ops compile to one kernel each, not the interpreted forms") {
    val dir = tempDir("graft-text-stats").toString
    Seq((1L, "The cat and the hat."), (2L, "der Hund ist nicht da")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val ops = Seq(
      """  - op: quality_gate
        |    textCol: text
        |    minQuality: 0.1""",
      """  - op: lang_filter
        |    textCol: text
        |    langs: [en, de]""",
      """  - op: text_metrics
        |    textCol: text""").map(_.stripMargin)
    def compiled(stages: Seq[String]): DataFrame = graft.compile.PipelineCompiler.compile(spark,
      graft.config.PlaybookLoader.fromString(
        s"""source:
           |  type: parquet
           |  file: $dir/docs
           |destination:
           |  type: parquet
           |  file: $dir/out
           |analytics:
           |""".stripMargin + stages.mkString("\n") + "\n")).main
    // the filter ops' predicate must not pull a second copy of the
    // kernel below their projection
    for (op <- ops) {
      val plan = compiled(Seq(op)).queryExecution.optimizedPlan
      assert(interpreted(plan).isEmpty, s"interpreted text forms in the plan:\n$plan")
      assert(kernels(plan) == 1, s"expected one text_stats in the plan of\n$op\n$plan")
    }
    val out = compiled(ops)
    assert(kernels(out.queryExecution.optimizedPlan) == ops.size, out.queryExecution.optimizedPlan.toString)
    assert(out.select("doc_id", "quality", "lang_pred", "n_tokens").collect().map(r =>
      (r.getLong(0), r.getDouble(1) > 0.1, r.getString(2), r.getInt(3))).sorted.toSeq ==
      Seq((1L, true, "en", 5), (2L, true, "de", 5)))
  }

  test("the corpus gate evaluates the kernel once per row for both gates") {
    val docs = spark.sparkContext.parallelize(Seq((1L, "the cat and the hat"), (2L, "der und"),
      (3L, "...")), 2).toDF("doc_id", "text")
    val kept = Corpus.gate(docs, "text", Corpus.CleanConfig(minQuality = 0.3, langs = Set("en")))
    assert(kernels(kept.queryExecution.optimizedPlan) == 1, kept.queryExecution.optimizedPlan.toString)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }
}
