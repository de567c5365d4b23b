package graft.io

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String

/**
 * The exact CSV state machine over a byte stream (RFC4180 / Go
 * encoding/csv shape): `""` escapes a quote inside a quoted field; a
 * quoted field may span lines; a quote outside quotes opens quoting
 * wherever it stands; records end at `\n` or `\r\n` outside quotes, and
 * a lone `\r` is data; blank lines and lines that start with the
 * comment char (at record start only) are skipped; a last record with
 * no final newline is still a record.
 *
 * The stream is read in bulk into one `byte[]` window; only the current
 * record's unescaped field bytes are held, so memory is O(longest
 * record), never O(file). Delimiter and comment char are matched as
 * their UTF-8 bytes, and quote and newlines are ASCII, so no byte of a
 * multi-byte character is ever taken for one of them: scanning bytes
 * splits exactly where scanning the decoded characters would.
 *
 * Usage: `while (r.next()) { r.size; r.fields(idx) }`. Not thread-safe.
 */
private[io] final class CsvRecords(in: InputStream, delim: Char, comment: Option[Char]) {
  import CsvRecords._

  private val delimBytes = utf8(delim)
  private val commentBytes = comment.map(utf8).orNull
  private val d0 = delimBytes(0)

  private val buf = new Array[Byte](WindowBytes)
  private var pos = 0
  private var lim = 0
  private var eof = false

  private var rec = new Array[Byte](256) // current record's field bytes, unescaped
  private var recLen = 0
  private var ends = new Array[Int](16)   // field i is rec[ends(i - 1) or 0, ends(i))
  private var nFields = 0

  /** Fields of the current record. */
  def size: Int = nFields

  /** Advance to the next record; false at the end of the stream. */
  def next(): Boolean = {
    recLen = 0; nFields = 0
    var sawAny = false // consumed any byte of the current record
    var inQ = false
    while (true) {
      if (pos == lim && !refill()) {
        if (sawAny) { endField(); return true }
        return false
      }
      val b = buf(pos)
      if (inQ) {
        if (b == Quote) {
          if (peek(1) == Quote) { append(Quote); pos += 2 }
          else { inQ = false; pos += 1 }
        } else copyRun(stopAtSpecials = false)
      } else if (!sawAny && commentBytes != null && at(commentBytes)) {
        skipLine()
      } else if (b == Quote) {
        inQ = true; sawAny = true; pos += 1
      } else if (b == d0 && at(delimBytes)) {
        endField(); sawAny = true; pos += delimBytes.length
      } else if (b == '\n' || (b == '\r' && peek(1) == '\n')) {
        pos += (if (b == '\r') 2 else 1)
        if (sawAny) { endField(); return true } // a blank line otherwise
      } else {
        sawAny = true; copyRun(stopAtSpecials = true)
      }
    }
    false
  }

  /** The current record's fields at `idx`, as UTF8Strings over one copy
    * of the record's bytes. A field that is not valid UTF-8 decodes with
    * U+FFFD replacement, as `new String(bytes, UTF_8)` and Hadoop's
    * `Text` do. */
  def fields(idx: Array[Int]): Array[Any] = {
    val bytes = java.util.Arrays.copyOf(rec, recLen)
    val out = new Array[Any](idx.length)
    var j = 0
    while (j < idx.length) {
      val i = idx(j)
      val s = if (i == 0) 0 else ends(i - 1)
      val u = UTF8String.fromBytes(bytes, s, ends(i) - s)
      out(j) = if (ascii(bytes, s, ends(i)) || u.isValid) u
        else UTF8String.fromString(new String(bytes, s, ends(i) - s, UTF_8))
      j += 1
    }
    out
  }

  /** All fields of the current record, decoded. */
  def strings(): Seq[String] = fields(Array.range(0, nFields)).toSeq.map(_.toString)

  // Copy bytes from `pos` into the record up to the next byte the state
  // machine must see (any quote; with `stopAtSpecials`, also the
  // delimiter's first byte and newlines). Always consumes `buf(pos)`.
  private def copyRun(stopAtSpecials: Boolean): Unit = {
    var j = pos + 1
    if (stopAtSpecials) {
      while (j < lim && { val c = buf(j); c != Quote && c != d0 && c != '\n' && c != '\r' }) j += 1
    } else {
      while (j < lim && buf(j) != Quote) j += 1
    }
    val n = j - pos
    if (recLen + n > rec.length) rec = java.util.Arrays.copyOf(rec, math.max(rec.length * 2, recLen + n))
    System.arraycopy(buf, pos, rec, recLen, n)
    recLen += n
    pos = j
  }

  private def append(b: Byte): Unit = {
    if (recLen == rec.length) rec = java.util.Arrays.copyOf(rec, rec.length * 2)
    rec(recLen) = b
    recLen += 1
  }

  private def endField(): Unit = {
    if (nFields == ends.length) ends = java.util.Arrays.copyOf(ends, ends.length * 2)
    ends(nFields) = recLen
    nFields += 1
  }

  private def skipLine(): Unit = {
    var done = false
    while (!done && (pos < lim || refill())) {
      while (pos < lim && buf(pos) != '\n') pos += 1
      if (pos < lim) { pos += 1; done = true }
    }
  }

  /** The byte `k` ahead of `pos`, or -1000 past the end of the stream. */
  private def peek(k: Int): Int = {
    if (pos + k >= lim) fillTo(k + 1)
    if (pos + k < lim) buf(pos + k) else -1000
  }

  /** Whether the stream continues with `bytes` at `pos`. */
  private def at(bytes: Array[Byte]): Boolean = {
    if (pos + bytes.length > lim) fillTo(bytes.length)
    pos + bytes.length <= lim && {
      var k = 0
      while (k < bytes.length && buf(pos + k) == bytes(k)) k += 1
      k == bytes.length
    }
  }

  /** Read the next window; false at the end of the stream. */
  private def refill(): Boolean = {
    pos = 0; lim = 0
    fillTo(1)
    lim > 0
  }

  /** Keep the unread bytes and read until `k` are available or the stream ends. */
  private def fillTo(k: Int): Unit = {
    if (pos > 0) {
      System.arraycopy(buf, pos, buf, 0, lim - pos)
      lim -= pos; pos = 0
    }
    while (lim < k && !eof) {
      val n = in.read(buf, lim, buf.length - lim)
      if (n < 0) eof = true else lim += n
    }
  }
}

private[io] object CsvRecords {
  private final val Quote: Byte = '"'
  private final val WindowBytes = 64 * 1024

  private def utf8(c: Char): Array[Byte] = {
    require(!Character.isSurrogate(c), s"csv: delimiter or comment char U+${c.toInt.toHexString} is half a surrogate pair")
    String.valueOf(c).getBytes(UTF_8)
  }

  private def ascii(b: Array[Byte], s: Int, e: Int): Boolean = {
    var i = s
    while (i < e && b(i) >= 0) i += 1
    i == e
  }
}
