package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native per-document text scores — one linear pass per row in place
 * of the composed Column trees behind [[graft.ops.TextAnalysis]]'s
 * `tokenCount`, `punctRatio`, `stopwordRatio`, `qualityScore` and
 * `langId` (a `split` per score, a `regexp_replace`, an interpreted
 * `filter` lambda and four `array_intersect(array_distinct(...))`).
 * Registered as SQL function `text_stats` by [[graft.functions.Registry]].
 *
 * Value-identical to those Column forms (TextStatsSpec pins them; the
 * oracled q_llm_quality / q_llm_lang_id / q_llm_token_stats rows are
 * the machine gates):
 *   tokens      = Java `split(lower(trim(text)), "\\s+", -1)`: trim
 *                 strips 0x20 only, `\s` is ASCII `[ \t\n\x0B\f\r]`,
 *                 leading and trailing empty tokens count, so an
 *                 empty or blank text still has one token
 *   lower       = the routine Spark's `Lower` calls
 *                 (`CollationSupport.Lower.exec`, ICU case mappings
 *                 when `spark.sql.icu.caseMappings.enabled`)
 *   n_tokens    = |tokens|
 *   punct_ratio = count of `[.!?,;:]` in text / max(length(text), 1)
 *   stop_ratio  = tokens (with repeats) in the union of the marker
 *                 lists / max(n_tokens, 1)
 *   quality     = min(n/100, 1)*0.4 + (1 - punct)*0.3 + min(stop*5, 1)*0.3,
 *                 in that order of double operations
 *   lang        = the marker list with the most distinct tokens in
 *                 it, ties to the earlier list; none -> "und"
 * A null text gives null scores and lang "und", as the Column forms
 * do when `size(null)` is null (Spark's ANSI default).
 */
object TextStats {
  val statsType: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType),
    StructField("punct_ratio", DoubleType),
    StructField("stop_ratio", DoubleType),
    StructField("quality", DoubleType),
    StructField("lang", StringType, nullable = false)))

  private val und = UTF8String.fromString("und")

  /** Marker lists as a lookup table: every marker word, packed with
    * its byte length into one long, sorted for binary search; per
    * word, a bit for each (list, word) entry it fills. Words are
    * distinct within a list, as the Column form's array_intersect
    * makes them. A word with ASCII upper case never equals a lowered
    * token, so it has no key. */
  final class Markers(lists: Seq[(String, Seq[String])]) {
    private val entries = lists.zipWithIndex.flatMap { case ((_, ws), li) => ws.distinct.map(li -> _) }
    require(entries.size <= 64, s"at most 64 marker entries, got ${entries.size}")
    private val byWord = entries.zipWithIndex.groupBy(_._1._2).toSeq
      .filterNot(_._1.exists(c => c >= 'A' && c <= 'Z'))
      .map { case (w, es) => key(w) -> es.map(e => 1L << e._2).reduce(_ | _) }.sortBy(_._1)
    val keys: Array[Long] = byWord.map(_._1).toArray
    val masks: Array[Long] = byWord.map(_._2).toArray
    val langs: Array[UTF8String] = lists.map(l => UTF8String.fromString(l._1)).toArray
    val langMasks: Array[Long] = lists.indices.map(li =>
      entries.zipWithIndex.collect { case ((`li`, _), e) => 1L << e }.foldLeft(0L)(_ | _)).toArray

    private def key(w: String): Long = {
      val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(b.nonEmpty && b.length <= 7, s"marker word '$w' must be 1 to 7 UTF-8 bytes")
      pack(b, 0, b.length)
    }
  }

  /** Bytes [from, until) (at most 7), ASCII upper case lowered, and
    * their count in one long. */
  private def pack(b: Array[Byte], from: Int, until: Int): Long = {
    var k = 0L
    var j = from
    while (j < until) {
      val x = b(j)
      k = k << 8 | ((if (x >= 'A' && x <= 'Z') x + 32 else x) & 0xff)
      j += 1
    }
    k | (until - from).toLong << 56
  }

  val markers: Markers = new Markers(graft.ops.TextAnalysis.stopwords)

  def compute(text: UTF8String, collationId: Int, useICU: Boolean): InternalRow =
    compute(text, collationId, useICU, markers)

  def compute(text: UTF8String, collationId: Int, useICU: Boolean, m: Markers): InternalRow = {
    if (text == null) return new GenericInternalRow(Array[Any](null, null, null, null, und))
    val raw = text.getBytes
    var punct = 0
    var ascii = true
    var i = 0
    while (i < raw.length) {
      val b = raw(i)
      if (b < 0) ascii = false
      else if (b == '.' || b == '!' || b == '?' || b == ',' || b == ';' || b == ':') punct += 1
      i += 1
    }
    val nChars = if (ascii) raw.length else text.numChars()
    // regexp_replace decodes invalid UTF-8 to U+FFFD before counting,
    // so only its own arithmetic gives the same ratio there
    if (!ascii && !text.isValid())
      punct = nChars - UTF8String.fromString(text.toString.replaceAll("[.!?,;:]", "")).numChars()
    val punctRatio = punct.toDouble / math.max(nChars, 1).toDouble

    // ASCII text is trimmed here and lowered as it is packed; anything
    // else goes through trim and Lower's routine first. Either way the
    // split runs over UTF-8 bytes: `\s` is ASCII, and no byte of a
    // multi-byte character is below 0x80.
    var bytes = raw
    var from = 0
    var until = raw.length
    if (ascii) {
      while (from < until && raw(from) == 0x20) from += 1
      while (until > from && raw(until - 1) == 0x20) until -= 1
    } else {
      bytes = CollationSupport.Lower.exec(text.trim(), collationId, useICU).getBytes
      until = bytes.length
    }
    var nTok = 1
    var stops = 0
    var seen = 0L
    var start = from
    i = from
    while (i <= until) {
      if (i == until || isSpace(bytes(i))) {
        if (i - start >= 1 && i - start <= 7) {
          val at = java.util.Arrays.binarySearch(m.keys, pack(bytes, start, i))
          if (at >= 0) { stops += 1; seen |= m.masks(at) }
        }
        if (i < until) {
          nTok += 1
          while (i + 1 < until && isSpace(bytes(i + 1))) i += 1
        }
        start = i + 1
      }
      i += 1
    }
    val stopRatio = stops.toDouble / math.max(nTok, 1).toDouble
    val lenCredit = { val x = nTok.toDouble / 100.0; if (1.0 < x) 1.0 else x }
    val stopCredit = { val x = stopRatio * 5.0; if (1.0 < x) 1.0 else x }
    val quality = lenCredit * 0.4 + (1.0 - punctRatio) * 0.3 + stopCredit * 0.3

    var lang = und
    var best = 0
    var li = 0
    while (li < m.langs.length) {
      val c = java.lang.Long.bitCount(seen & m.langMasks(li))
      if (c > best) { best = c; lang = m.langs(li) }
      li += 1
    }
    new GenericInternalRow(Array[Any](nTok, punctRatio, stopRatio, quality, lang))
  }

  private def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)
}

/** `text_stats(text)` over string — see [[TextStats]]. Never null: a
  * null text has null scores and lang "und". Takes the input types
  * Spark's `Lower` takes, so a non-string argument is cast to string
  * as the Column forms' `trim` and `length` cast it. */
case class TextStatsExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[StringTypeWithCollation] = Seq(StringTypeWithCollation(supportsTrimCollation = true))
  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  // read once, as Spark's Lower reads it
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def dataType: DataType = TextStats.statsType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    TextStats.compute(child.eval(input).asInstanceOf[UTF8String], collationId, useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.expr.TextStats.compute(
        ${c.isNull} ? null : ${c.value}, $collationId, $useICU);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "text_stats"
}
