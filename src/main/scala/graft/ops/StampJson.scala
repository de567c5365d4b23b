package graft.ops

/**
 * Shared micro-serializer for the coherence stamps of the
 * [[StampedArtifact]] protocol (bloom side index, ANN index, mkn3 LM,
 * tokenizer) — a handful of fixed string/number fields, which
 * is why the stamp family deliberately carries no JSON library. The one
 * thing raw interpolation got wrong (r13 advisory) was ESCAPING: a
 * column name containing a quote or backslash produced malformed JSON
 * that the readers then reported as "no coherence stamp" on a freshly
 * written artifact. Writers escape through [[esc]], readers match the
 * escaped grammar and unescape — round-trip exact for any string.
 */
private[graft] object StampJson {

  /** One stamp object, fields in the given order: strings quote and
    * escape, a `Seq` of (path, fp) pairs is the appended-parts list,
    * anything else is a bare number. */
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val body = v match {
      case s: String => "\"" + esc(s) + "\""
      case parts: Seq[_] => parts.map { case (p: String, f: String) =>
        s"""{"path":"${esc(p)}","fp":"${esc(f)}"}""" }.mkString("[", ",", "]")
      case n => n.toString
    }
    "\"" + k + "\":" + body
  }.mkString("{", ",", "}")

  /** JSON string-body escape: backslash, quote, and control chars. */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case '"'  => sb.append('"');  i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'u' if i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Extract + unescape a `"k":"…"` string field; None if absent. */
  def strField(text: String, k: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(k) + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(text).map(m => unesc(m.group(1)))

  /** Extract a bare numeric field as its literal text; None if absent. */
  def numField(text: String, k: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(k) + "\":(-?[0-9][0-9.eE+-]*)").r
      .findFirstMatchIn(text).map(_.group(1))

  /** [[numField]] parsed as an Int; None when absent OR when the
    * matched text is not an integer literal ([[numField]]'s number
    * class also matches '1.5' / '1e3', and a corrupt or foreign stamp
    * must surface as the readers' "stamp does not parse" refusal, not
    * an uncaught NumberFormatException — r14 advisory). */
  def intField(text: String, k: String): Option[Int] =
    numField(text, k).flatMap(s => scala.util.Try(s.toInt).toOption)

  /** [[numField]] parsed as a Double; None when absent or malformed
    * (same contract as [[intField]]). */
  def dblField(text: String, k: String): Option[Double] =
    numField(text, k).flatMap(s => scala.util.Try(s.toDouble).toOption)

  /** Extract every `{"path":"…","fp":"…"}` pair — the appended-delta
    * parts an [[AnnIndex]] stamp carries. Matched over the WHOLE stamp
    * with the escape-aware string grammar rather than inside a
    * `[...]`-scoped capture: a non-greedy bracket scope truncated at
    * the first ']' INSIDE a path and silently parsed the part list
    * away (r14 review finding — a vanished part list disables the
    * stale-delta check and the duplicate-append guard). Sound because
    * the stamp grammar has exactly one pair-list field; a second one
    * would need a real scoped parser. Empty when absent (a stamp
    * written before the append lifecycle existed). */
  def pathFpList(text: String, k: String): Seq[(String, String)] =
    """\{"path":"((?:[^"\\]|\\.)*)","fp":"((?:[^"\\]|\\.)*)"\}""".r
      .findAllMatchIn(text).map(m => (unesc(m.group(1)), unesc(m.group(2)))).toSeq
}
