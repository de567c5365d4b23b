package graft.ops

import Multimodal.ImageData

/**
 * Baseline JPEG decode with JDK-only arithmetic — no codec library:
 * the "transform coding" in sequential JPEG is Huffman entropy coding
 * (pure bit arithmetic), dequantization (integer multiply), and an
 * 8×8 inverse DCT (64 cosine multiplies), all implementable directly.
 * Supported: SOF0/SOF1 Huffman-sequential AND SOF2 progressive
 * (spectral selection + successive approximation: DC first/refine,
 * AC bands with EOB runs, AC refinement correction bits —
 * coefficients accumulate across scans, rendered once at EOI), 8-bit
 * precision, grayscale and 3-component YCbCr with any 1–4 sampling
 * factors (4:4:4, 4:2:2, 4:2:0 …), byte stuffing, restart intervals
 * (DRI/RSTn), APPn/COM skip. Rejected with None: arithmetic coding,
 * 12-bit, CMYK, hierarchical, truncated or corrupt streams.
 *
 * JPEG is lossy and the standard permits small per-decoder IDCT
 * variation, so unlike PNG/GIF the output is NOT bit-identical to
 * other decoders; the spec pins interop against the JDK's own
 * javax.imageio decoder within an explicit per-pixel tolerance
 * (double-precision IDCT here; chroma upsampling is sample
 * replication where libjpeg's "fancy" upsampling interpolates —
 * both conformant).
 *
 * Untrusted-bytes contract: the marker walk and every allocation are
 * explicitly bounded (dimension product ≤ 2^24 before any plane
 * allocation); entropy decode failure modes (bad codes, coefficient
 * overrun, marker inside data, truncation) funnel through one
 * Malformed signal caught at the boundary — decode returns None,
 * never throws.
 */
object Jpeg {

  private final class Malformed extends RuntimeException(null, null, false, sys.props.contains("graft.jpeg.debug"))
  private def fail(): Nothing = throw new Malformed

  /** Natural-order index of each zigzag position (ITU T.81 Figure 5). */
  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** COS(x)(u) = C_u · cos((2x+1)uπ/16) — the 1-D IDCT basis. */
  private val COS: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
      math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private case class Comp(id: Int, hs: Int, vs: Int, tq: Int)

  private final class HuffTable(counts: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (counts(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += counts(l - 1)
          maxCode(l) = code - 1
          k += counts(l - 1)
        }
        code <<= 1
        l += 1
      }
    }
    def decode(r: BitReader): Int = {
      var len = 1
      var code = r.readBit()
      while (len <= 16 && (maxCode(len) < 0 || code > maxCode(len))) {
        code = (code << 1) | r.readBit()
        len += 1
      }
      if (len > 16) fail()
      vals(valPtr(len) + code - minCode(len))
    }
  }

  /** MSB-first entropy reader with 0xFF00 byte unstuffing; any other
    * marker inside coded data is malformed (restarts are consumed
    * explicitly via [[BitReader.restart]]). */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var bits = 0
    def readBit(): Int = {
      if (bits == 0) {
        if (pos >= b.length) fail()
        val v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) fail()
          if ((b(pos) & 0xff) == 0x00) pos += 1
          else fail()
        }
        cur = v
        bits = 8
      }
      bits -= 1
      (cur >> bits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def restart(expect: Int): Unit = {
      bits = 0
      if (pos + 2 > b.length || (b(pos) & 0xff) != 0xff ||
        (b(pos + 1) & 0xff) != (0xd0 + expect)) fail()
      pos += 2
    }
    /** After a scan's last MCU: advance to the next marker (skipping
      * stuffed 0xFF00 pairs) and return its 0xFF position — how the
      * multi-scan progressive walk resumes segment parsing. */
    def skipToMarker(): Int = {
      var p = pos
      while (p + 1 < b.length &&
        !((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) != 0x00)) p += 1
      if (p + 1 >= b.length) fail()
      p
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  def decode(bytes: Array[Byte]): Option[ImageData] = {
    if (bytes == null || bytes.length < 4 ||
      (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    try Some(decodeImpl(bytes))
    catch {
      case e: Malformed =>
        if (sys.props.contains("graft.jpeg.debug")) throw e
        None
      case _: ArrayIndexOutOfBoundsException => None // cursor ran off a truncated stream
    }
  }

  private def decodeImpl(b: Array[Byte]): ImageData = {
    def u8(i: Int) = { if (i >= b.length) fail(); b(i) & 0xff }
    def u16(i: Int) = (u8(i) << 8) | u8(i + 1)
    var pos = 2
    val qt = Array.ofDim[Int](4, 64)
    val qtSeen = new Array[Boolean](4)
    val huff = Array.ofDim[HuffTable](2, 4)
    var w = 0
    var h = 0
    var comps: Array[Comp] = null
    var dri = 0
    var progressive = false
    var progCoefs: Array[Array[Int]] = null
    var sawScan = false
    while (true) {
      if (u8(pos) != 0xff) fail()
      var marker = u8(pos + 1)
      while (marker == 0xff) { pos += 1; marker = u8(pos + 1) } // fill bytes
      pos += 2
      marker match {
        case 0xd8 | 0x01 => () // stray SOI / TEM: no payload
        case m if m >= 0xd0 && m <= 0xd7 => () // stray RST: no payload
        case 0xd9 => // EOI: a finished progressive frame renders now
          if (progressive && sawScan)
            return composeProgressive(w, h, comps, progCoefs, qt, qtSeen)
          fail() // EOI before any complete frame
        case 0xdb => // DQT
          val end = pos + u16(pos)
          var p = pos + 2
          while (p < end) {
            val pq = u8(p) >> 4
            val tq = u8(p) & 15
            if (pq > 1 || tq > 3) fail()
            p += 1
            var k = 0
            while (k < 64) {
              qt(tq)(k) = if (pq == 0) u8(p + k) else u16(p + 2 * k)
              k += 1
            }
            p += (if (pq == 0) 64 else 128)
            qtSeen(tq) = true
          }
          pos = end
        case 0xc4 => // DHT
          val end = pos + u16(pos)
          var p = pos + 2
          while (p < end) {
            val tc = u8(p) >> 4
            val th = u8(p) & 15
            if (tc > 1 || th > 3) fail()
            val counts = Array.tabulate(16)(i => u8(p + 1 + i))
            val total = counts.sum
            if (total > 256) fail()
            val syms = Array.tabulate(total)(i => u8(p + 17 + i))
            huff(tc)(th) = new HuffTable(counts, syms)
            p += 17 + total
          }
          pos = end
        case 0xc0 | 0xc1 | 0xc2 => // sequential (c0/c1) or progressive (c2), Huffman
          if (comps != null) fail() // one frame only
          progressive = marker == 0xc2
          val len = u16(pos)
          if (u8(pos + 2) != 8) fail()
          h = u16(pos + 3); w = u16(pos + 5)
          val nc = u8(pos + 7)
          if (w <= 0 || h <= 0 || (nc != 1 && nc != 3) ||
            w.toLong * h > (1 << 24)) fail()
          comps = Array.tabulate(nc) { i =>
            val o = pos + 8 + 3 * i
            val hv = u8(o + 1)
            val c = Comp(u8(o), hv >> 4, hv & 15, u8(o + 2))
            if (c.hs < 1 || c.hs > 4 || c.vs < 1 || c.vs > 4 || c.tq > 3) fail()
            c
          }
          if (progressive) {
            // coefficients accumulate ACROSS scans on the interleaved
            // block canvas; allocation bounded by the SOF dim guard
            val hmax = comps.map(_.hs).max
            val vmax = comps.map(_.vs).max
            val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
            val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
            progCoefs = comps.map { c =>
              val sz = mcusX.toLong * c.hs * mcusY * c.vs * 64
              if (sz > (1L << 26)) fail()
              new Array[Int](sz.toInt)
            }
          }
          pos += len
        case m if m >= 0xc3 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc =>
          fail() // arithmetic / lossless / hierarchical
        case 0xdd =>
          dri = u16(pos + 2)
          pos += u16(pos)
        case 0xda => // SOS
          if (comps == null) fail()
          val len = u16(pos)
          val ns = u8(pos + 2)
          val scan = Array.tabulate(ns) { i =>
            val o = pos + 3 + 2 * i
            val cid = u8(o)
            val tabs = u8(o + 1)
            val c = comps.find(_.id == cid).getOrElse(fail())
            (c, tabs >> 4, tabs & 15)
          }
          if (!progressive) {
            // one interleaved scan covering every component is the only
            // sequential organization supported — a per-component
            // multi-scan sequential file (legal but vanishingly rare)
            // is rejected here, not desynced
            if (ns != comps.length) fail()
            return decodeScan(b, pos + len, w, h, scan, qt, qtSeen, huff, dri)
          }
          // progressive: spectral band + successive approximation
          val ss = u8(pos + 3 + 2 * ns)
          val se = u8(pos + 4 + 2 * ns)
          val ahAl = u8(pos + 5 + 2 * ns)
          pos = decodeProgressiveScan(b, pos + len, w, h, comps,
            scan.map { case (c, dcT, acT) =>
              (comps.indexWhere(_.id == c.id), c, dcT, acT)
            }, ss, se, ahAl >> 4, ahAl & 15, huff, dri, progCoefs)
          sawScan = true
        case _ => // APPn / COM / anything else with a length field
          pos += u16(pos)
      }
    }
    fail()
  }

  private def decodeScan(b: Array[Byte], start: Int, w: Int, h: Int,
                         scan: Array[(Comp, Int, Int)], qt: Array[Array[Int]],
                         qtSeen: Array[Boolean], huff: Array[Array[HuffTable]],
                         dri: Int): ImageData = {
    val hmax = scan.map(_._1.hs).max
    val vmax = scan.map(_._1.vs).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val pw = scan.map { case (c, _, _) => mcusX * 8 * c.hs }
    val planes = scan.map { case (c, _, _) =>
      val sz = mcusX.toLong * 8 * c.hs * mcusY * 8 * c.vs
      if (sz > (1L << 26)) fail() // sampling factors can inflate the canvas
      new Array[Byte](sz.toInt)
    }
    scan.foreach { case (c, dcT, acT) =>
      if (huff(0)(dcT) == null || huff(1)(acT) == null || !qtSeen(c.tq)) fail()
    }
    val r = new BitReader(b, start)
    val preds = new Array[Int](scan.length)
    val coef = new Array[Int](64)
    val pix = new Array[Int](64)
    val dctTmp = new Array[Double](64)
    var nextRst = 0
    if (scan.length == 1) {
      // T.81 A.2: a NON-interleaved scan's MCU is a single data unit
      // and the scan covers only the component's data area —
      // ceil(compW/8) x ceil(compH/8) blocks — NOT the MCU-padded
      // canvas. A grayscale SOF whose sole component declares sampling
      // factors > 1 pads mcusX*hs past the data area; walking the pad
      // desyncs the entropy stream (the progressive path already
      // computes the data area correctly).
      val (c, dcT, acT) = scan(0)
      val dataBW = (w * c.hs + 8 * hmax - 1) / (8 * hmax)
      val dataBH = (h * c.vs + 8 * vmax - 1) / (8 * vmax)
      val n = dataBW * dataBH
      var m = 0
      while (m < n) {
        if (dri > 0 && m > 0 && m % dri == 0) {
          r.restart(nextRst)
          nextRst = (nextRst + 1) & 7
          preds(0) = 0
        }
        decodeBlock(r, huff(0)(dcT), huff(1)(acT), qt(c.tq), preds, 0, coef)
        idct(coef, pix, dctTmp)
        val px0 = (m % dataBW) * 8
        val py0 = (m / dataBW) * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(0)((py0 + yy) * pw(0) + px0 + xx) = pix(yy * 8 + xx).toByte
            xx += 1
          }
          yy += 1
        }
        m += 1
      }
      return composePlanes(planes, scan.map(_._1), pw, w, h, hmax, vmax)
    }
    val nMcus = mcusX * mcusY
    var m = 0
    while (m < nMcus) {
      if (dri > 0 && m > 0 && m % dri == 0) {
        r.restart(nextRst)
        nextRst = (nextRst + 1) & 7
        java.util.Arrays.fill(preds, 0)
      }
      val mx = m % mcusX
      val my = m / mcusX
      var ci = 0
      while (ci < scan.length) {
        val (c, dcT, acT) = scan(ci)
        var by = 0
        while (by < c.vs) {
          var bx = 0
          while (bx < c.hs) {
            decodeBlock(r, huff(0)(dcT), huff(1)(acT), qt(c.tq), preds, ci, coef)
            idct(coef, pix, dctTmp)
            // place the 8x8 block into the component plane
            val px0 = (mx * c.hs + bx) * 8
            val py0 = (my * c.vs + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((py0 + yy) * pw(ci) + px0 + xx) = pix(yy * 8 + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      m += 1
    }
    composePlanes(planes, scan.map(_._1), pw, w, h, hmax, vmax)
  }

  /** Crop/upsample decoded component planes to the output image
    * (shared by the sequential and progressive paths). */
  private def composePlanes(planes: Array[Array[Byte]], cs: Array[Comp],
                            pw: Array[Int], w: Int, h: Int,
                            hmax: Int, vmax: Int): ImageData = {
    if (cs.length == 1) {
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * pw(0), out, y * w, w)
        y += 1
      }
      ImageData(w, h, 1, out)
    } else {
      val out = new Array[Byte](w * h * 3)
      val cY = cs(0); val cB = cs(1); val cR = cs(2)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val lum = planes(0)((y * cY.vs / vmax) * pw(0) + x * cY.hs / hmax) & 0xff
          val cb = (planes(1)((y * cB.vs / vmax) * pw(1) + x * cB.hs / hmax) & 0xff) - 128
          val cr = (planes(2)((y * cR.vs / vmax) * pw(2) + x * cR.hs / hmax) & 0xff) - 128
          val d = (y * w + x) * 3
          out(d) = clamp(math.round(lum + 1.402 * cr).toInt).toByte
          out(d + 1) = clamp(math.round(lum - 0.344136 * cb - 0.714136 * cr).toInt).toByte
          out(d + 2) = clamp(math.round(lum + 1.772 * cb).toInt).toByte
          x += 1
        }
        y += 1
      }
      ImageData(w, h, 3, out)
    }
  }

  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def decodeBlock(r: BitReader, dc: HuffTable, ac: HuffTable,
                          q: Array[Int], preds: Array[Int], ci: Int,
                          coef: Array[Int]): Unit = {
    java.util.Arrays.fill(coef, 0)
    val t = dc.decode(r)
    if (t > 11) fail()
    preds(ci) += (if (t == 0) 0 else extend(r.receive(t), t))
    coef(0) = preds(ci) * q(0)
    var k = 1
    var done = false
    while (k < 64 && !done) {
      val rs = ac.decode(r)
      val run = rs >> 4
      val size = rs & 15
      if (size == 0) {
        if (run == 15) k += 16 else done = true // ZRL vs EOB
      } else {
        k += run
        if (k > 63) fail()
        coef(zigzag(k)) = extend(r.receive(size), size) * q(k)
        k += 1
      }
    }
  }

  /** Separable double-precision 8x8 IDCT; output level-shifted +128
    * and clamped to 0..255. `c` is in natural order (row = vertical
    * frequency); `tmp` is caller-provided scratch (a per-block
    * allocation here would be the hot loop's only garbage). */
  private def idct(c: Array[Int], out: Array[Int], tmp: Array[Double]): Unit = {
    var v = 0
    while (v < 8) { // rows: horizontal IDCT per vertical frequency v
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += COS(x)(u) * c(v * 8 + u); u += 1 }
        tmp(v * 8 + x) = s * 0.5
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += COS(y)(vv) * tmp(vv * 8 + x); vv += 1 }
        out(y * 8 + x) = clamp(math.round(s * 0.5).toInt + 128)
        x += 1
      }
      y += 1
    }
  }

  // ----------------------------------------------------------------
  // Progressive (SOF2): coefficients accumulate across scans — DC
  // first/refinement, AC spectral bands with EOB runs, AC successive-
  // approximation refinement (the T.81 G.1.2 algorithms, structured
  // after the well-known libjpeg control flow) — then one dequant +
  // IDCT + compose at EOI.
  // ----------------------------------------------------------------

  /** Decode one progressive scan into the coefficient canvas; returns
    * the byte position of the next marker. `scanComps` carries each
    * component's index in SOF order. */
  private def decodeProgressiveScan(b: Array[Byte], start: Int, w: Int, h: Int,
      comps: Array[Comp], scanComps: Array[(Int, Comp, Int, Int)],
      ss: Int, se: Int, ah: Int, al: Int,
      huff: Array[Array[HuffTable]], dri: Int,
      coefs: Array[Array[Int]]): Int = {
    if (ss < 0 || se > 63 || ss > se || al > 13 || ah > 14) fail()
    val dcScan = ss == 0
    if (dcScan && se != 0) fail()
    if (!dcScan && scanComps.length != 1) fail() // AC scans are per-component
    val hmax = comps.map(_.hs).max
    val vmax = comps.map(_.vs).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val r = new BitReader(b, start)
    val preds = new Array[Int](scanComps.length)
    var eobrun = 0
    var nextRst = 0
    if (dcScan && scanComps.length > 1) {
      // interleaved DC: the standard MCU walk
      scanComps.foreach { case (_, _, dcT, _) =>
        if (ah == 0 && huff(0)(dcT) == null) fail()
      }
      val nMcus = mcusX * mcusY
      var m = 0
      while (m < nMcus) {
        if (dri > 0 && m > 0 && m % dri == 0) {
          r.restart(nextRst); nextRst = (nextRst + 1) & 7
          java.util.Arrays.fill(preds, 0); eobrun = 0
        }
        val mx = m % mcusX
        val my = m / mcusX
        var si = 0
        while (si < scanComps.length) {
          val (ci, c, dcT, _) = scanComps(si)
          val cbw = mcusX * c.hs
          var by = 0
          while (by < c.vs) {
            var bx = 0
            while (bx < c.hs) {
              val off = ((my * c.vs + by) * cbw + mx * c.hs + bx) * 64
              dcProg(r, coefs(ci), off, ah, al, huff(0)(dcT), preds, si)
              bx += 1
            }
            by += 1
          }
          si += 1
        }
        m += 1
      }
    } else {
      // single-component scan (all AC scans; DC scans may also be
      // non-interleaved): blocks cover the component's DATA area
      // (ceil(compDim/8)), not the MCU-padded canvas
      val (ci, c, dcT, acT) = scanComps(0)
      if (dcScan) { if (ah == 0 && huff(0)(dcT) == null) fail() }
      else if (huff(1)(acT) == null) fail()
      val cbw = mcusX * c.hs
      val dataBW = ((w * c.hs + hmax - 1) / hmax + 7) / 8
      val dataBH = ((h * c.vs + vmax - 1) / vmax + 7) / 8
      val total = dataBW * dataBH
      var m = 0
      while (m < total) {
        if (dri > 0 && m > 0 && m % dri == 0) {
          r.restart(nextRst); nextRst = (nextRst + 1) & 7
          java.util.Arrays.fill(preds, 0); eobrun = 0
        }
        val off = ((m / dataBW) * cbw + m % dataBW) * 64
        if (dcScan) dcProg(r, coefs(ci), off, ah, al, huff(0)(dcT), preds, 0)
        else if (ah == 0) eobrun = acFirst(r, coefs(ci), off, ss, se, al, huff(1)(acT), eobrun)
        else eobrun = acRefine(r, coefs(ci), off, ss, se, al, huff(1)(acT), eobrun)
        m += 1
      }
    }
    r.skipToMarker()
  }

  /** DC coefficient, first pass (difference + point transform) or
    * refinement (one appended bit). */
  private def dcProg(r: BitReader, coef: Array[Int], off: Int, ah: Int,
                     al: Int, dc: HuffTable, preds: Array[Int], si: Int): Unit =
    if (ah == 0) {
      val t = dc.decode(r)
      if (t > 11) fail()
      preds(si) += (if (t == 0) 0 else extend(r.receive(t), t))
      coef(off) = preds(si) << al
    } else {
      if (r.receive(1) == 1) coef(off) |= 1 << al
    }

  /** AC band, first pass: run/size symbols with EOBn run codes; new
    * coefficients enter at magnitude << al. */
  private def acFirst(r: BitReader, coef: Array[Int], off: Int, ss: Int,
                      se: Int, al: Int, ac: HuffTable, eobrunIn: Int): Int = {
    var eobrun = eobrunIn
    if (eobrun > 0) return eobrun - 1
    var k = ss
    while (k <= se) {
      val rs = ac.decode(r)
      val run = rs >> 4
      val s = rs & 15
      if (s == 0) {
        if (run == 15) k += 16 // ZRL
        else {
          eobrun = (1 << run) - 1
          if (run > 0) eobrun += r.receive(run)
          return eobrun
        }
      } else {
        k += run
        if (k > se) fail()
        coef(off + zigzag(k)) = extend(r.receive(s), s) << al
        k += 1
      }
    }
    eobrun
  }

  /** AC band, successive-approximation refinement: one correction bit
    * per already-nonzero coefficient along the way; new coefficients
    * enter at ±2^al; EOBn runs still carry correction bits. */
  private def acRefine(r: BitReader, coef: Array[Int], off: Int, ss: Int,
                       se: Int, al: Int, ac: HuffTable, eobrunIn: Int): Int = {
    val p1 = 1 << al
    var eobrun = eobrunIn
    var k = ss
    if (eobrun == 0) {
      var break = false
      while (k <= se && !break) {
        val rs = ac.decode(r)
        var run = rs >> 4
        val s = rs & 15
        var newval = 0
        if (s == 0) {
          if (run != 15) {
            // refinement EOBn counts the CURRENT block too — its
            // correction pass below still runs, and the shared
            // `eobrun -= 1` after it consumes this block's unit (a
            // -1 here would double-count and desync the bit stream)
            eobrun = 1 << run
            if (run > 0) eobrun += r.receive(run)
            break = true
          }
          // run == 15 (ZRL): pass over 16 zero-history coefficients
        } else {
          if (s != 1) fail()
          newval = if (r.receive(1) == 1) p1 else -p1
        }
        if (!break) {
          var placed = false
          while (k <= se && !placed) {
            val p = off + zigzag(k)
            val v = coef(p)
            if (v != 0) {
              if (r.receive(1) == 1 && (v & p1) == 0)
                coef(p) = if (v >= 0) v + p1 else v - p1
            } else {
              if (run == 0) {
                if (newval != 0) coef(p) = newval
                placed = true
              } else run -= 1
            }
            k += 1
          }
        }
      }
    }
    if (eobrun > 0) {
      while (k <= se) {
        val p = off + zigzag(k)
        val v = coef(p)
        if (v != 0 && r.receive(1) == 1 && (v & p1) == 0)
          coef(p) = if (v >= 0) v + p1 else v - p1
        k += 1
      }
      eobrun -= 1
    }
    eobrun
  }

  /** Dequantize the accumulated coefficients, IDCT every block, and
    * compose — the progressive frame's single rendering pass at EOI. */
  private def composeProgressive(w: Int, h: Int, comps: Array[Comp],
      coefs: Array[Array[Int]], qt: Array[Array[Int]],
      qtSeen: Array[Boolean]): ImageData = {
    comps.foreach(c => if (!qtSeen(c.tq)) fail())
    val hmax = comps.map(_.hs).max
    val vmax = comps.map(_.vs).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val pw = comps.map(c => mcusX * 8 * c.hs)
    val planes = comps.map(c => new Array[Byte](mcusX * 8 * c.hs * mcusY * 8 * c.vs))
    val deq = new Array[Int](64)
    val pix = new Array[Int](64)
    val dctTmp = new Array[Double](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val q = qt(c.tq)
      val cbw = mcusX * c.hs
      val cbh = mcusY * c.vs
      var bi = 0
      while (bi < cbw * cbh) {
        val off = bi * 64
        var k = 0
        while (k < 64) { deq(zigzag(k)) = coefs(ci)(off + zigzag(k)) * q(k); k += 1 }
        idct(deq, pix, dctTmp)
        val px0 = (bi % cbw) * 8
        val py0 = (bi / cbw) * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(ci)((py0 + yy) * pw(ci) + px0 + xx) = pix(yy * 8 + xx).toByte
            xx += 1
          }
          yy += 1
        }
        bi += 1
      }
      ci += 1
    }
    composePlanes(planes, comps, pw, w, h, hmax, vmax)
  }
}
