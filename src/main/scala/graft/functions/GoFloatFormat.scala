package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/**
 * Replicates Go's `strconv.FormatFloat(v, 'g', -1, 64)` — the float
 * rendering used by `fmt.Sprintf("%v")` and by the reference's
 * canonical hash stringification (/root/reference/internal/transform/
 * transform.go:585-590) and CSV/XML sink value formatting
 * (internal/io/csv.go:253, xml.go:220).
 *
 * Both Java and Go produce the SHORTEST digit string that round-trips
 * the exact double; they differ only in surface form (Java "1.0E6" vs
 * Go "1e+06"). We reuse Java's shortest digits and re-render with Go's
 * rules: exponent form when decExp < -4 || decExp >= 6 (strconv
 * ftoa.go sets eprec=6 in shortest mode; ftoa_test.go pins
 * 2000000 -> "2e+06"), lowercase 'e', signed 2-digit exponent, no
 * trailing ".0".
 */
object GoFloatFormat {

  def format(v: Double): String = {
    if (v.isNaN) return "NaN"
    if (v == Double.PositiveInfinity) return "+Inf"
    if (v == Double.NegativeInfinity) return "-Inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0" else "0"
    val neg = v < 0
    // Shortest round-tripping digit string. JDK 17's Double.toString is
    // NOT shortest (Ryū landed in JDK 19 — JDK-4511638), so search the
    // precision: the fewest significant digits that parse back exactly.
    val (digits0, decExp) = shortestDigits(math.abs(v))
    var digits = digits0
    // strip trailing zeros ("1.0" -> "1")
    digits = digits.replaceAll("0+$", "")
    if (digits.isEmpty) digits = "0"

    val sb = new StringBuilder(if (neg) "-" else "")
    if (decExp < -4 || decExp >= 6) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e').append(if (decExp >= 0) '+' else '-')
      val ae = math.abs(decExp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    } else if (decExp >= digits.length - 1) {
      sb.append(digits).append("0" * (decExp - (digits.length - 1)))
    } else if (decExp >= 0) {
      sb.append(digits.substring(0, decExp + 1)).append('.').append(digits.substring(decExp + 1))
    } else {
      sb.append("0.").append("0" * (-decExp - 1)).append(digits)
    }
    sb.toString
  }

  /** (significant digits, base-10 exponent of the first digit) for a
    * positive finite double — minimal digit count that round-trips. */
  private def shortestDigits(v: Double): (String, Int) = {
    // Integral values below 2^53 carry their exact digits: skip the
    // format/parse search entirely (the caller strips trailing zeros,
    // which is exactly what the search would have found). This is the
    // common ETL case — ids, counts, whole-number prices.
    if (v == math.rint(v) && v < 9.007199254740992e15) {
      val s = java.lang.Long.toString(v.toLong)
      return (s, s.length - 1)
    }
    var p = 0
    while (p < 17) {
      val s = String.format("%." + p + "e", Double.box(v)) // p+1 sig digits
      if (s.toDouble == v) return splitSci(s)
      p += 1
    }
    splitSci(String.format("%.16e", Double.box(v)))
  }

  /** "d.ddde+xx" -> (digits, exponent). */
  private def splitSci(s: String): (String, Int) = {
    val ei = s.indexOf('e')
    val mant = s.substring(0, ei).replace(".", "")
    val exp = s.substring(ei + 1).toInt
    (mant, exp)
  }

  /** Column form — the codegen'd [[graft.expr.GoFormatFloat]]
    * expression (null-safe: null → null). Falls back to a UDF only
    * when no session is active (pure unit-test contexts). */
  def goFormat(c: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        Registry.ensure(s)
        org.apache.spark.sql.functions.call_function("go_format_float", c)
      case None => goFormatUdf(c)
    }
  }

  private lazy val goFormatUdf = udf((v: java.lang.Double) =>
    if (v == null) null else format(v))
}
