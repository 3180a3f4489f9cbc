package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Baseline JPEG (ITU-T T.81 / JFIF) — the last dominant web raster
  * format — decoded for REAL with zero external libraries. Baseline
  * sequential JPEG is pure arithmetic end-to-end: canonical Huffman
  * tables built from the file's own DHT segments, run-length/magnitude
  * entropy decoding with 0xFF byte unstuffing, dequantization against
  * the file's DQT tables (stored in zigzag order), the 8×8 inverse DCT
  * (T.81 A.3.3), chroma upsampling by sample replication, and the JFIF
  * YCbCr→RGB conversion. Shared static data (zigzag order, the T.81
  * Annex K reference Huffman table specs the fixture encoder emits as
  * DHT payloads) lives in [[JpegTables]].
  *
  * Supported: baseline DCT (SOF0) AND progressive DCT (SOF2 — spectral
  * selection, successive approximation, interleaved and non-interleaved
  * scans, the G.1.2.3 AC-refinement correction-bit algorithm; round
  * 11), 8-bit precision, 1 component (grayscale) or 3 components YCbCr
  * with 4:4:4 (all 1×1) or 4:2:0 (luma 2×2, chroma 1×1) sampling, and
  * restart intervals (DRI/RSTn with cyclic-index checks and DC/EOB-run
  * resets) — together the shapes that dominate real crawls.
  * Extended/lossless/arithmetic frames, other sampling grids, and
  * 12-bit precision reject to `'unknown'` — pixels are never guessed,
  * and malformed untrusted bytes must never fail the task. Reference
  * pipeline context: the reference system has no media path at all;
  * this completes the training-data brief's decode stage for the
  * PNG/GIF/JPEG web-raster trio.
  */
private[graftnative] object JpegTables {
  /** Zigzag scan order: zigzag position → natural (row-major v·8+u)
    * coefficient index (T.81 figure 5).
    */
  val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // T.81 Annex K reference Huffman table SPECS (bits-per-length +
  // value list). The fixture encoder writes these as its DHT payloads
  // and encodes with them; the decoder never sees this object — it
  // builds its tables from the DHT bytes in the file, so
  // encoder/decoder consistency is structural, not assumed.
  val DcLumaBits: Array[Int] = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  val DcLumaVals: Array[Int] = (0 to 11).toArray
  val DcChromaBits: Array[Int] = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  val DcChromaVals: Array[Int] = (0 to 11).toArray
  val AcLumaBits: Array[Int] = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  val AcLumaVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)
  val AcChromaBits: Array[Int] = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  val AcChromaVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** The fixture quantization tables, NATURAL order. Luma: 8 at the DC
    * and the three rational-exact AC positions the fixture populates
    * ((0,4), (4,0), (4,4) — their 2D basis products are ±1/8, see
    * [[JpegSynth]]); 16 elsewhere (unused — those coefficients are
    * exactly zero). Chroma: 8 at DC, 16 elsewhere.
    */
  val QuantLumaNat: Array[Int] = {
    val q = Array.fill(64)(16)
    q(0) = 8; q(4) = 8; q(32) = 8; q(36) = 8
    q
  }
  val QuantChromaNat: Array[Int] = {
    val q = Array.fill(64)(16)
    q(0) = 8
    q
  }

  /** IDCT basis: COS(u)(x) = cos((2x+1)uπ/16), C(u) = 1/√2 for u = 0. */
  val Cos: Array[Array[Double]] =
    Array.tabulate(8, 8)((u, x) => math.cos((2 * x + 1) * u * math.Pi / 16))
  val Cn: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
}

private[graftnative] object JpegCodec {
  import JpegTables._

  private val MaxPixelBytes = 1 << 26

  /** Canonical Huffman decode table built from a DHT payload (T.81
    * C.2/F.2.2.3): per code length, the first code value, the last, and
    * where that length's symbols start in the value list.
    */
  private final class Huff(val minCode: Array[Int], val maxCode: Array[Int],
      val valPtr: Array[Int], val vals: Array[Int])

  private def buildHuff(bits: Array[Int], vals: Array[Int]): Huff = {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      val n = bits(len - 1)
      if (n > 0) {
        valPtr(len) = k
        minCode(len) = code
        maxCode(len) = code + n - 1
        code += n
        k += n
      }
      // a well-formed table never over-subscribes a length
      if (code > (1 << len)) return null
      code <<= 1
      len += 1
    }
    if (k != vals.length) return null
    new Huff(minCode, maxCode, valPtr, vals)
  }

  /** MSB-first entropy-segment bit reader with 0xFF byte unstuffing.
    * Returns -1 at a real marker or end of input — the caller rejects.
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= b.length) return -1
        var v = b(pos) & 0xFF
        pos += 1
        if (v == 0xFF) {
          if (pos >= b.length) return -1
          if ((b(pos) & 0xFF) == 0x00) pos += 1 // stuffed data byte
          else return -1 // a real marker mid-scan
        }
        acc = v; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    /** Byte-align, consume an RSTn marker, return n (0-7); -1 when the
      * next bytes are not a restart marker. Buffered bits are padding
      * by definition at a restart boundary.
      */
    def restart(): Int = {
      n = 0 // discard pad bits
      if (pos + 1 >= b.length) return -1
      if ((b(pos) & 0xFF) != 0xFF) return -1
      val m = b(pos + 1) & 0xFF
      if (m < 0xD0 || m > 0xD7) return -1
      pos += 2
      m & 7
    }
    /** Read `s` magnitude bits; Int.MinValue on exhaustion. */
    def receive(s: Int): Int = {
      var v = 0
      var i = 0
      while (i < s) {
        val t = bit()
        if (t < 0) return Int.MinValue
        v = (v << 1) | t
        i += 1
      }
      v
    }
  }

  /** T.81 F.12 EXTEND: map `s` magnitude bits to a signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def decodeHuffSym(br: BitReader, t: Huff): Int = {
    var code = 0
    var len = 0
    while (len < 16) {
      val b = br.bit()
      if (b < 0) return -1
      code = (code << 1) | b
      len += 1
      if (t.maxCode(len) >= 0 && code <= t.maxCode(len))
        return t.vals(t.valPtr(len) + code - t.minCode(len))
    }
    -1
  }

  /** Full 8×8 inverse DCT (T.81 A.3.3), separable double-precision form
    * over all 64 coefficients, then level shift + clamp. The fixture
    * coefficients land on exact integers (rational basis products), so
    * the ±1e-13 floating error vanishes under round-to-nearest.
    */
  private def idctBlock(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val c = coef(v * 8 + u)
          if (c != 0) s += Cn(u) * c * Cos(u)(x)
          u += 1
        }
        tmp(v * 8 + x) = s
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
        while (vv < 8) {
          s += Cn(vv) * tmp(vv * 8 + x) * Cos(vv)(y)
          vv += 1
        }
        val p = math.floor(s / 4.0 + 128.0 + 0.5).toInt
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Per-component sample planes → the normalized raster row (grayscale
    * passthrough or replicated-upsample YCbCr→RGB) — shared by the
    * baseline and progressive paths.
    */
  private def emitRow(w: Int, h: Int, nComp: Int, planes: Array[Array[Int]],
      planeW: Array[Int], compH: Array[Int], compV: Array[Int],
      hMax: Int, vMax: Int): InternalRow = {
    val ch = if (nComp == 1) 1 else 3
    val out = new Array[Byte](w * h * ch)
    if (ch == 1) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(y * w + x) = planes(0)(y * planeW(0) + x).toByte
          x += 1
        }
        y += 1
      }
    } else {
      // chroma upsampling by replication: source sample (x·hs/hMax,
      // y·vs/vMax); JFIF YCbCr→RGB with round-half-up, clamped
      val hs1 = compH(1); val vs1 = compV(1)
      val hs2 = compH(2); val vs2 = compV(2)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val yv = planes(0)(y * planeW(0) + x)
          val cb = planes(1)((y * vs1 / vMax) * planeW(1) + x * hs1 / hMax) - 128
          val cr = planes(2)((y * vs2 / vMax) * planeW(2) + x * hs2 / hMax) - 128
          var r = math.floor(yv + 1.402 * cr + 0.5).toInt
          var g = math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5).toInt
          var bb = math.floor(yv + 1.772 * cb + 0.5).toInt
          if (r < 0) r = 0 else if (r > 255) r = 255
          if (g < 0) g = 0 else if (g > 255) g = 255
          if (bb < 0) bb = 0 else if (bb > 255) bb = 255
          val d = (y * w + x) * 3
          out(d) = r.toByte
          out(d + 1) = g.toByte
          out(d + 2) = bb.toByte
          x += 1
        }
        y += 1
      }
    }
    ImageDecode.rasterRow(ImageDecode.FmtJpeg, w, h, ch, out)
  }

  /** Decode one JPEG payload — baseline sequential (SOF0) or progressive
    * (SOF2, spectral selection + successive approximation, T.81 G.1.2) —
    * to the normalized raster row, or the `'unknown'` row for anything
    * unsupported or malformed.
    */
  def decode(b: Array[Byte]): InternalRow = {
    val unknown = ImageDecode.unknownRow
    if (b.length < 4) return unknown
    val qt = new Array[Array[Int]](4) // zigzag-ordered, per DQT
    val huffDc = new Array[Huff](4)
    val huffAc = new Array[Huff](4)
    var w = -1; var h = -1; var nComp = 0
    val compId = new Array[Int](3); val compH = new Array[Int](3)
    val compV = new Array[Int](3); val compTq = new Array[Int](3)
    val compTd = new Array[Int](3); val compTa = new Array[Int](3)
    var sofSeen = false
    var progressive = false
    var hMax = 0; var vMax = 0
    var mcusX = 0; var mcusY = 0
    // progressive state: per-component coefficient planes over the
    // MCU-padded block grid, values stored at ZIGZAG index, unquantized
    // (successive approximation refines raw values; dequantization
    // happens once, at EOI)
    var coefs: Array[Array[Int]] = null
    val bWpad = new Array[Int](3); val bHpad = new Array[Int](3)
    val bWreal = new Array[Int](3); val bHreal = new Array[Int](3)
    var anyScan = false
    var eoiSeen = false
    var restartInterval = 0
    var i = 2 // past SOI
    var scanStart = -1
    while (scanStart < 0 && !eoiSeen) {
      // skip marker-segment fill bytes (T.81 B.1.1.2 allows 0xFF runs)
      while (i + 1 < b.length && u8(b, i) == 0xFF && u8(b, i + 1) == 0xFF) i += 1
      if (i + 2 > b.length || u8(b, i) != 0xFF) return unknown
      val m = u8(b, i + 1)
      i += 2
      m match {
        case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
          if (sofSeen || i + 2 > b.length) return unknown
          progressive = m == 0xC2
          val len = beU16(b, i)
          if (len < 8 || i + len > b.length) return unknown
          if (u8(b, i + 2) != 8) return unknown // 8-bit precision only
          h = beU16(b, i + 3)
          w = beU16(b, i + 5)
          nComp = u8(b, i + 7)
          if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3) ||
              len != 8 + 3 * nComp) return unknown
          var c = 0
          while (c < nComp) {
            compId(c) = u8(b, i + 8 + 3 * c)
            val hv = u8(b, i + 9 + 3 * c)
            compH(c) = hv >> 4
            compV(c) = hv & 15
            compTq(c) = u8(b, i + 10 + 3 * c)
            if (compTq(c) > 3) return unknown
            c += 1
          }
          // sampling grid: luma H,V ∈ {1,2} with chroma 1×1 — covers
          // 4:4:4, 4:2:0, 4:2:2 and 4:4:0, the grids real encoders emit
          // (the replication upsampler below is general in hs/vs)
          c = 0
          while (c < nComp) {
            if (compH(c) < 1 || compH(c) > 2 || compV(c) < 1 || compV(c) > 2)
              return unknown
            hMax = math.max(hMax, compH(c)); vMax = math.max(vMax, compV(c))
            c += 1
          }
          val chromaOk = nComp == 1 ||
            ((1 until nComp).forall(k => compH(k) == 1 && compV(k) == 1))
          if (!chromaOk) return unknown
          val chOut = if (nComp == 1) 1 else 3
          if (w.toLong * h * chOut > MaxPixelBytes) return unknown
          mcusX = (w + 8 * hMax - 1) / (8 * hMax)
          mcusY = (h + 8 * vMax - 1) / (8 * vMax)
          c = 0
          while (c < nComp) {
            bWpad(c) = mcusX * compH(c)
            bHpad(c) = mcusY * compV(c)
            // non-interleaved scans cover the component's REAL block
            // grid (T.81 A.1.1: ceil(ceil(dim·sampling/max)/8)), which
            // can be narrower than the MCU-padded grid
            bWreal(c) = ((w * compH(c) + hMax - 1) / hMax + 7) / 8
            bHreal(c) = ((h * compV(c) + vMax - 1) / vMax + 7) / 8
            c += 1
          }
          sofSeen = true
          i += len
        case 0xC4 => // DHT: one or more tables
          if (i + 2 > b.length) return unknown
          val len = beU16(b, i)
          if (len < 2 || i + len > b.length) return unknown
          var p = i + 2
          val end = i + len
          while (p < end) {
            if (p + 17 > end) return unknown
            val tcth = u8(b, p)
            val tc = tcth >> 4
            val th = tcth & 15
            if (tc > 1 || th > 3) return unknown
            val bits = Array.tabulate(16)(k => u8(b, p + 1 + k))
            val nVals = bits.sum
            if (p + 17 + nVals > end || nVals > 256) return unknown
            val vals = Array.tabulate(nVals)(k => u8(b, p + 17 + k))
            val t = buildHuff(bits, vals)
            if (t == null) return unknown
            if (tc == 0) huffDc(th) = t else huffAc(th) = t
            p += 17 + nVals
          }
          i += len
        case 0xDB => // DQT: one or more tables, zigzag order
          if (i + 2 > b.length) return unknown
          val len = beU16(b, i)
          if (len < 2 || i + len > b.length) return unknown
          var p = i + 2
          val end = i + len
          while (p < end) {
            val pqtq = u8(b, p)
            if ((pqtq >> 4) != 0 || (pqtq & 15) > 3) return unknown // 8-bit tables only
            if (p + 65 > end) return unknown
            qt(pqtq & 15) = Array.tabulate(64)(k => u8(b, p + 1 + k))
            p += 65
          }
          i += len
        case 0xDA => // SOS
          if (!sofSeen || i + 2 > b.length) return unknown
          val len = beU16(b, i)
          if (i + len > b.length) return unknown
          val ns = u8(b, i + 2)
          if (!progressive) {
            if (ns != nComp || len != 6 + 2 * ns) return unknown
            var c = 0
            while (c < ns) {
              val cs = u8(b, i + 3 + 2 * c)
              // scan components must be the frame components, frame order
              if (cs != compId(c)) return unknown
              val tdta = u8(b, i + 4 + 2 * c)
              compTd(c) = tdta >> 4
              compTa(c) = tdta & 15
              if (compTd(c) > 3 || compTa(c) > 3) return unknown
              c += 1
            }
            // baseline full-spectrum scan only
            if (u8(b, i + 3 + 2 * ns) != 0 || u8(b, i + 4 + 2 * ns) != 63)
              return unknown
            scanStart = i + len
          } else {
            // progressive scan: a component subset in frame order, a
            // spectral band, one successive-approximation step
            if (ns < 1 || ns > nComp || len != 6 + 2 * ns) return unknown
            val scanComp = new Array[Int](ns)
            var prev = -1
            var c = 0
            while (c < ns) {
              val cs = u8(b, i + 3 + 2 * c)
              var idx = -1
              var k = 0
              while (k < nComp) { if (compId(k) == cs) idx = k; k += 1 }
              if (idx <= prev) return unknown // unknown id / out of order
              prev = idx
              scanComp(c) = idx
              val tdta = u8(b, i + 4 + 2 * c)
              compTd(idx) = tdta >> 4
              compTa(idx) = tdta & 15
              if (compTd(idx) > 3 || compTa(idx) > 3) return unknown
              c += 1
            }
            val ss = u8(b, i + 3 + 2 * ns)
            val se = u8(b, i + 4 + 2 * ns)
            val ahal = u8(b, i + 5 + 2 * ns)
            val ah = ahal >> 4
            val al = ahal & 15
            if (ss == 0) { if (se != 0) return unknown } // DC scan
            else if (ns != 1 || se < ss || se > 63) return unknown // AC scan
            if (al > 13 || (ah != 0 && ah != al + 1)) return unknown
            if (coefs == null) {
              coefs = new Array[Array[Int]](nComp)
              var k = 0
              while (k < nComp) {
                val cells = bWpad(k).toLong * bHpad(k) * 64
                if (cells > MaxPixelBytes) return unknown
                coefs(k) = new Array[Int](cells.toInt)
                k += 1
              }
            }
            // table presence: DC-first needs its DC table, AC scans
            // their AC table; DC-refinement reads raw bits only
            if (ss == 0 && ah == 0) {
              var k = 0
              while (k < ns) {
                if (huffDc(compTd(scanComp(k))) == null) return unknown
                k += 1
              }
            }
            if (ss > 0 && huffAc(compTa(scanComp(0))) == null) return unknown

            // ---- entropy-coded scan body (T.81 G.1.2)
            val br = new BitReader(b, i + len)
            val dcPred = new Array[Int](3)
            var eobrun = 0
            var bad = false
            // restart intervals: every `restartInterval` MCUs (blocks in
            // a non-interleaved scan) an RSTn marker byte-aligns the
            // stream, resets DC prediction AND the EOB run (T.81 G.1.2)
            var unit = 0
            var rstIdx = 0
            def unitStart(): Unit = {
              if (restartInterval > 0 && unit > 0 &&
                  unit % restartInterval == 0) {
                val mk = br.restart()
                if (mk != (rstIdx & 7)) bad = true
                else {
                  rstIdx += 1
                  java.util.Arrays.fill(dcPred, 0)
                  eobrun = 0
                }
              }
              unit += 1
            }
            def dcBlock(ci: Int, off: Int): Unit = {
              if (ah == 0) {
                val s = decodeHuffSym(br, huffDc(compTd(ci)))
                if (s < 0 || s > 15) { bad = true; return }
                val mBits = br.receive(s)
                if (mBits == Int.MinValue) { bad = true; return }
                dcPred(ci) += extend(mBits, s)
                coefs(ci)(off) = dcPred(ci) << al
              } else {
                val bit = br.bit()
                if (bit < 0) { bad = true; return }
                if (bit == 1) coefs(ci)(off) |= 1 << al
              }
            }
            def acFirstBlock(ci: Int, off: Int): Unit = {
              if (eobrun > 0) { eobrun -= 1; return }
              val cf = coefs(ci)
              var k = ss
              while (k <= se) {
                val sym = decodeHuffSym(br, huffAc(compTa(ci)))
                if (sym < 0) { bad = true; return }
                val r = sym >> 4
                val s = sym & 15
                if (s == 0) {
                  if (r < 15) { // EOBn: 2^r + extra blocks end here
                    val extra = br.receive(r)
                    if (extra == Int.MinValue) { bad = true; return }
                    eobrun = (1 << r) - 1 + extra
                    return
                  }
                  k += 16 // ZRL
                } else {
                  k += r
                  if (k > se) { bad = true; return }
                  val vb = br.receive(s)
                  if (vb == Int.MinValue) { bad = true; return }
                  cf(off + k) = extend(vb, s) << al
                  k += 1
                }
              }
            }
            def acRefineBlock(ci: Int, off: Int): Unit = {
              val cf = coefs(ci)
              val p1 = 1 << al
              var k = ss
              if (eobrun == 0) {
                var brk = false
                while (k <= se && !brk && !bad) {
                  val sym = decodeHuffSym(br, huffAc(compTa(ci)))
                  if (sym < 0) { bad = true; return }
                  var r = sym >> 4
                  val s = sym & 15
                  var newVal = 0
                  if (s == 0) {
                    if (r < 15) { // EOBn INCLUDING this block's remainder
                      val extra = br.receive(r)
                      if (extra == Int.MinValue) { bad = true; return }
                      eobrun = (1 << r) + extra
                      brk = true
                    } // r == 15: run of 16 zero-history coefficients
                  } else {
                    if (s != 1) { bad = true; return } // corrections are ±1
                    val sb = br.bit()
                    if (sb < 0) { bad = true; return }
                    newVal = if (sb == 1) p1 else -p1
                  }
                  if (!brk) {
                    // advance over r zero-history positions, emitting
                    // correction bits for nonzero-history ones passed
                    var done = false
                    while (k <= se && !done) {
                      val cur = cf(off + k)
                      if (cur != 0) {
                        val cb = br.bit()
                        if (cb < 0) { bad = true; return }
                        if (cb == 1 && (cur & p1) == 0)
                          cf(off + k) = if (cur > 0) cur + p1 else cur - p1
                      } else {
                        if (r == 0) {
                          if (newVal != 0) cf(off + k) = newVal
                          done = true
                        } else r -= 1
                      }
                      k += 1
                    }
                  }
                }
              }
              if (eobrun > 0 && !bad) {
                // inside an EOB run: correction bits only
                while (k <= se) {
                  val cur = cf(off + k)
                  if (cur != 0) {
                    val cb = br.bit()
                    if (cb < 0) { bad = true; return }
                    if (cb == 1 && (cur & p1) == 0)
                      cf(off + k) = if (cur > 0) cur + p1 else cur - p1
                  }
                  k += 1
                }
                eobrun -= 1
              }
            }
            if (ss == 0 && ns > 1) {
              // interleaved DC scan: MCU order over the padded grid
              var my = 0
              while (my < mcusY && !bad) {
                var mx = 0
                while (mx < mcusX && !bad) {
                  unitStart()
                  var sc = 0
                  while (sc < ns && !bad) {
                    val ci = scanComp(sc)
                    var v0 = 0
                    while (v0 < compV(ci) && !bad) {
                      var h0 = 0
                      while (h0 < compH(ci) && !bad) {
                        val off = ((my * compV(ci) + v0) * bWpad(ci) +
                          mx * compH(ci) + h0) * 64
                        dcBlock(ci, off)
                        h0 += 1
                      }
                      v0 += 1
                    }
                    sc += 1
                  }
                  mx += 1
                }
                my += 1
              }
            } else {
              // non-interleaved: raster order over the REAL block grid
              val ci = scanComp(0)
              var brow = 0
              while (brow < bHreal(ci) && !bad) {
                var bcol = 0
                while (bcol < bWreal(ci) && !bad) {
                  unitStart()
                  val off = (brow * bWpad(ci) + bcol) * 64
                  if (!bad) {
                    if (ss == 0) dcBlock(ci, off)
                    else if (ah == 0) acFirstBlock(ci, off)
                    else acRefineBlock(ci, off)
                  }
                  bcol += 1
                }
                brow += 1
              }
            }
            if (bad) return unknown
            anyScan = true
            // resume the marker walk at the next marker after the
            // entropy-coded data (skipping stuffed 0xFF 0x00 pairs)
            var p = br.pos
            while (p + 1 < b.length &&
                !(u8(b, p) == 0xFF && u8(b, p + 1) != 0x00)) p += 1
            if (p + 1 >= b.length) return unknown
            i = p
          }
        case 0xDD => // DRI: restart interval in MCUs (blocks when the
          // scan is non-interleaved), applied by the scan loops below
          if (i + 4 > b.length) return unknown
          restartInterval = beU16(b, i + 2)
          i += beU16(b, i)
        case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
            0xCD | 0xCE | 0xCF =>
          return unknown // extended/lossless/arithmetic
        case 0xD9 => // EOI: legal end for a progressive stream with scans
          if (progressive && anyScan) eoiSeen = true else return unknown
        case mm if mm >= 0xE0 && mm <= 0xEF => // APPn
          if (i + 2 > b.length) return unknown
          val len = beU16(b, i)
          if (len < 2 || i + len > b.length) return unknown
          i += len
        case 0xFE => // COM
          if (i + 2 > b.length) return unknown
          val len = beU16(b, i)
          if (len < 2 || i + len > b.length) return unknown
          i += len
        case _ => return unknown
      }
    }
    var c = 0
    while (c < nComp) {
      if (qt(compTq(c)) == null) return unknown
      c += 1
    }
    // per-component sample planes, padded to whole MCUs
    val planeW = new Array[Int](3)
    val planes = new Array[Array[Int]](3)
    c = 0
    while (c < nComp) {
      planeW(c) = bWpad(c) * 8
      val pl = planeW(c).toLong * (bHpad(c) * 8)
      if (pl > MaxPixelBytes) return unknown
      planes(c) = new Array[Int](pl.toInt)
      c += 1
    }
    if (progressive) {
      // all scans absorbed: dequantize + IDCT every (padded) block
      val coefNat = new Array[Int](64)
      val blk = new Array[Int](64)
      c = 0
      while (c < nComp) {
        val q = qt(compTq(c))
        val cf = coefs(c)
        var brow = 0
        while (brow < bHpad(c)) {
          var bcol = 0
          while (bcol < bWpad(c)) {
            val off = (brow * bWpad(c) + bcol) * 64
            var k = 0
            while (k < 64) {
              coefNat(Zigzag(k)) = cf(off + k) * q(k)
              k += 1
            }
            idctBlock(coefNat, blk)
            val px0 = bcol * 8
            val py0 = brow * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              val rowBase = (py0 + yy) * planeW(c) + px0
              while (xx < 8) {
                planes(c)(rowBase + xx) = blk(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bcol += 1
          }
          brow += 1
        }
        c += 1
      }
      return emitRow(w, h, nComp, planes, planeW, compH, compV, hMax, vMax)
    }
    // ---- baseline: one full-spectrum interleaved scan, IDCT per block
    c = 0
    while (c < nComp) {
      if (huffDc(compTd(c)) == null || huffAc(compTa(c)) == null)
        return unknown
      c += 1
    }
    val br = new BitReader(b, scanStart)
    val dcPred = new Array[Int](3)
    val coef = new Array[Int](64)
    val blk = new Array[Int](64)
    var mcuIdx = 0
    var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcuIdx > 0 &&
            mcuIdx % restartInterval == 0) {
          // RSTn between MCUs: byte-align, check the cyclic index,
          // reset DC prediction (T.81 F.2.1.3.1)
          if (br.restart() != (rstIdx & 7)) return unknown
          rstIdx += 1
          java.util.Arrays.fill(dcPred, 0)
        }
        mcuIdx += 1
        c = 0
        while (c < nComp) {
          val q = qt(compTq(c))
          var v0 = 0
          while (v0 < compV(c)) {
            var h0 = 0
            while (h0 < compH(c)) {
              // DC
              val sDc = decodeHuffSym(br, huffDc(compTd(c)))
              if (sDc < 0 || sDc > 11) return unknown
              val mBits = br.receive(sDc)
              if (mBits == Int.MinValue) return unknown
              dcPred(c) += extend(mBits, sDc)
              java.util.Arrays.fill(coef, 0)
              coef(0) = dcPred(c) * q(0)
              // AC run-length decode
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val sym = decodeHuffSym(br, huffAc(compTa(c)))
                if (sym < 0) return unknown
                if (sym == 0x00) eob = true // EOB
                else if (sym == 0xF0) k += 16 // ZRL
                else {
                  k += sym >> 4
                  val size = sym & 15
                  if (k > 63) return unknown
                  val vb = br.receive(size)
                  if (vb == Int.MinValue) return unknown
                  coef(Zigzag(k)) = extend(vb, size) * q(k)
                  k += 1
                }
              }
              if (k > 64) return unknown
              idctBlock(coef, blk)
              val px0 = (mx * compH(c) + h0) * 8
              val py0 = (my * compV(c) + v0) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                val rowBase = (py0 + yy) * planeW(c) + px0
                while (xx < 8) {
                  planes(c)(rowBase + xx) = blk(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              h0 += 1
            }
            v0 += 1
          }
          c += 1
        }
        mx += 1
      }
      my += 1
    }
    emitRow(w, h, nComp, planes, planeW, compH, compV, hMax, vMax)
  }
}

/** Fixture ENCODER for baseline JPEG — the proof harness for
  * [[JpegCodec]], the same role [[SynthPng]]/[[SynthGif]] play for the
  * PNG/GIF branches. Builds a COMPLETE spec-valid baseline JFIF file
  * arithmetically from `(w, h, seed)` and really entropy-codes it with
  * the T.81 Annex K Huffman tables (written as real DHT segments the
  * decoder must parse), real DC-difference coding, real AC
  * run-length/magnitude coding including ZRL and EOB, and real 0xFF
  * byte stuffing.
  *
  * JPEG is lossy in general, so the fixture content is chosen where the
  * transform is EXACT and the DuckDB oracle can replay the decoded
  * pixels arithmetically: each 8×8 luma block is
  * `Y(x,y) = m + a·g(x) + b·g(y) + d·g(x)g(y)` with
  * `g = [+,−,−,+,+,−,−,+]` (the sign of the u=4 DCT basis,
  * `cos((2x+1)π/4) = g(x)·√2/2`). Its forward DCT is exactly
  * `S(0,0) = 8(m−128)`, `S(0,4) = 8a`, `S(4,0) = 8b`, `S(4,4) = 8d`,
  * all other coefficients exactly zero — the three AC basis products
  * are rational (±1/8), so with quant step 8 at those positions the
  * quantize→dequant→IDCT round trip reproduces the block bit-exactly
  * (the decoder's double-precision IDCT lands within 1e-13 of the
  * integers and rounds onto them). Chroma planes are per-image
  * constants (DC-only blocks — exact for the same reason) drawn from
  * four (δr, δb) variants whose YCbCr→RGB conversions round to integer
  * shifts far from any .5 boundary, so RGB = Y + (sr, sg, sb) with the
  * shift triple replayable by the oracle. Block parameters:
  * `m = 64 + (seed·31 + bi·17) mod 128`, `a = (seed·5 + bi·11) mod 8`,
  * `b = (seed·3 + bi·19) mod 8`, `d = (seed·7 + bi·13) mod 8` for luma
  * block index `bi` — every block carries distinct DC diffs and AC runs,
  * so the Huffman stream is genuinely varied.
  *
  * `mode`: 0 = grayscale (1 component), 1 = YCbCr 4:2:0 (luma 2×2),
  * 2 = YCbCr 4:4:4. Dims must be multiples of the MCU size (8, or 16
  * for 4:2:0) — the exactness contract needs whole blocks; null
  * otherwise.
  */
case class SynthJpeg(first: Expression, second: Expression, third: Expression,
    mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(mode >= 0 && mode <= 9,
    s"synth_jpeg mode must be 0 (gray), 1 (4:2:0), 2 (4:4:4), 3-5 their " +
      s"progressive forms, 6/7 baseline 4:2:2/4:4:0, 8/9 progressive " +
      s"4:2:2/4:4:0; got $mode")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    JpegSynth.jpegBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.JpegSynth.jpegBytes($w, $h, $s, $mode);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object JpegSynth {
  import JpegTables._

  private val MaxPixelBytes = 1 << 26

  /** The four chroma variants: (δr added to Cr, δb added to Cb) and the
    * integer RGB shifts their JFIF conversion rounds to. Each product
    * (1.402·δr, −0.344136·δb − 0.714136·δr, 1.772·δb) sits ≥ 0.07 from
    * a .5 rounding boundary, so the decoder's round-half-up lands on
    * these integers for every Y. Verified in ScaleOpsSpec.
    */
  val ChromaVariants: Array[(Int, Int, Int, Int, Int)] = Array(
    // (δr, δb, sr, sg, sb)
    (0, 0, 0, 0, 0),
    (5, 0, 7, -4, 0), // 1.402·5 = 7.01; −0.714136·5 = −3.57068
    (0, 5, 0, -2, 9), // −0.344136·5 = −1.72068; 1.772·5 = 8.86
    (-7, 4, -10, 4, 7)) // −9.814; 3.622408; 7.088

  /** Luma-block fixture parameters for block index `bi` of image `seed`. */
  def blockParams(seed: Long, bi: Long): (Int, Int, Int, Int) = (
    64 + java.lang.Math.floorMod(seed * 31 + bi * 17, 128).toInt,
    java.lang.Math.floorMod(seed * 5 + bi * 11, 8).toInt,
    java.lang.Math.floorMod(seed * 3 + bi * 19, 8).toInt,
    java.lang.Math.floorMod(seed * 7 + bi * 13, 8).toInt)

  /** The u=4 DCT basis sign pattern: +,−,−,+,+,−,−,+. */
  def g(i: Int): Int = ((i & 7): @unchecked) match {
    case 0 | 3 | 4 | 7 => 1
    case _ => -1
  }

  /** The exact decoded luma value at full-resolution pixel (x, y). */
  def lumaAt(seed: Long, w: Int, x: Int, y: Int): Int = {
    val bi = (y / 8).toLong * (w / 8) + (x / 8)
    val (m, a, b, d) = blockParams(seed, bi)
    m + a * g(x) + b * g(y) + d * g(x) * g(y)
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var n = 0
    def put(bits: Int, len: Int): Unit = {
      acc = (acc << len) | (bits.toLong & ((1L << len) - 1))
      n += len
      while (n >= 8) {
        val b = ((acc >> (n - 8)) & 0xFF).toInt
        out.write(b)
        if (b == 0xFF) out.write(0) // byte stuffing
        n -= 8
      }
    }
    def flushWithOnes(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  /** Canonical Huffman encode table: symbol → (code, length). */
  private def encTable(bits: Array[Int], vals: Array[Int]): Array[Int] = {
    // packed as (len << 16) | code, indexed by symbol
    val t = new Array[Int](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        t(vals(k)) = (len << 16) | code
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    t
  }

  private val DcLumaEnc = encTable(DcLumaBits, DcLumaVals)
  private val AcLumaEnc = encTable(AcLumaBits, AcLumaVals)
  private val DcChromaEnc = encTable(DcChromaBits, DcChromaVals)
  private val AcChromaEnc = encTable(AcChromaBits, AcChromaVals)

  private def bitLen(v: Int): Int = 32 - Integer.numberOfLeadingZeros(v)

  /** Emit one quantized coefficient block (zigzag order) with DC diff
    * coding and AC run-length coding — ZRL and EOB per T.81 F.1.2.
    */
  private def encodeBlock(bw: BitWriter, zz: Array[Int], dcPred: Int,
      dcEnc: Array[Int], acEnc: Array[Int]): Int = {
    val diff = zz(0) - dcPred
    val s = bitLen(math.abs(diff))
    val dcCode = dcEnc(s)
    bw.put(dcCode & 0xFFFF, dcCode >>> 16)
    if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
    var k = 1
    var run = 0
    while (k < 64) {
      if (zz(k) == 0) run += 1
      else {
        while (run >= 16) {
          val zrl = acEnc(0xF0)
          bw.put(zrl & 0xFFFF, zrl >>> 16)
          run -= 16
        }
        val v = zz(k)
        val size = bitLen(math.abs(v))
        val code = acEnc((run << 4) | size)
        bw.put(code & 0xFFFF, code >>> 16)
        bw.put(if (v >= 0) v else v + (1 << size) - 1, size)
        run = 0
      }
      k += 1
    }
    if (run > 0) {
      val eob = acEnc(0x00)
      bw.put(eob & 0xFFFF, eob >>> 16)
    }
    zz(0)
  }

  private def segment(out: java.io.ByteArrayOutputStream, marker: Int,
      payload: Array[Byte]): Unit = {
    out.write(0xFF); out.write(marker)
    val len = payload.length + 2
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    out.write(payload, 0, payload.length)
  }

  private def dhtPayload(tc: Int, th: Int, bits: Array[Int],
      vals: Array[Int]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write((tc << 4) | th)
    bits.foreach(o.write)
    vals.foreach(o.write)
    o.toByteArray
  }

  /** Luma sampling factors per fixture layout: 0 gray, 1 = 4:2:0,
    * 2 = 4:4:4, 3 = 4:2:2 (2×1), 4 = 4:4:0 (1×2).
    */
  private def lumaHV(layout: Int): (Int, Int) = layout match {
    case 1 => (2, 2)
    case 3 => (2, 1)
    case 4 => (1, 2)
    case _ => (1, 1)
  }

  /** Complete valid baseline JFIF JPEG from `(w, h, seed, mode)`;
    * modes 3–5 are the PROGRESSIVE (SOF2) forms of layouts 0–2, modes
    * 6/7 the baseline 4:2:2 / 4:4:0 grids, and 8/9 their progressive
    * forms (see [[jpegBytesProgressive]]).
    */
  def jpegBytes(w: Long, h: Long, seed: Long, mode: Int): Array[Byte] = {
    if (mode >= 3 && mode <= 5) return jpegBytesProgressive(w, h, seed, mode - 3)
    if (mode >= 8) return jpegBytesProgressive(w, h, seed, mode - 5)
    val layout = if (mode == 6) 3 else if (mode == 7) 4 else mode
    val (lh, lv) = lumaHV(layout)
    if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF ||
        w % (8 * lh) != 0 || h % (8 * lv) != 0) return null
    val wi = w.toInt; val hi = h.toInt
    val ch = if (layout == 0) 1 else 3
    if (w * h * ch > MaxPixelBytes) return null
    val variant = ChromaVariants(java.lang.Math.floorMod(seed, 4).toInt)
    val (dr, db) = (variant._1, variant._2)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    segment(out, 0xE0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0,
      0, 1, 0, 1, 0, 0)) // APP0: JFIF 1.1, no density, no thumbnail
    // DQT: luma table 0 (+ chroma table 1 for color), zigzag order
    val dqt = new java.io.ByteArrayOutputStream()
    dqt.write(0x00)
    Zigzag.foreach(nat => dqt.write(QuantLumaNat(nat)))
    if (ch == 3) {
      dqt.write(0x01)
      Zigzag.foreach(nat => dqt.write(QuantChromaNat(nat)))
    }
    segment(out, 0xDB, dqt.toByteArray)
    // SOF0
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8) // precision
    sof.write((hi >> 8) & 0xFF); sof.write(hi & 0xFF)
    sof.write((wi >> 8) & 0xFF); sof.write(wi & 0xFF)
    sof.write(ch)
    if (ch == 1) { sof.write(1); sof.write(0x11); sof.write(0) }
    else {
      sof.write(1); sof.write((lh << 4) | lv); sof.write(0)
      sof.write(2); sof.write(0x11); sof.write(1)
      sof.write(3); sof.write(0x11); sof.write(1)
    }
    segment(out, 0xC0, sof.toByteArray)
    // DHT: Annex K tables — parsed back by the decoder, never assumed
    segment(out, 0xC4, dhtPayload(0, 0, DcLumaBits, DcLumaVals))
    segment(out, 0xC4, dhtPayload(1, 0, AcLumaBits, AcLumaVals))
    if (ch == 3) {
      segment(out, 0xC4, dhtPayload(0, 1, DcChromaBits, DcChromaVals))
      segment(out, 0xC4, dhtPayload(1, 1, AcChromaBits, AcChromaVals))
    }
    // SOS
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(ch)
    sos.write(1); sos.write(0x00)
    if (ch == 3) { sos.write(2); sos.write(0x11); sos.write(3); sos.write(0x11) }
    sos.write(0); sos.write(63); sos.write(0)
    segment(out, 0xDA, sos.toByteArray)
    // entropy-coded scan
    val bw = new BitWriter(out)
    val bwBlocks = wi / 8 // luma blocks across
    // quantized zigzag coefficients for luma block bi
    val zz = new Array[Int](64)
    def lumaZz(bi: Long): Array[Int] = {
      java.util.Arrays.fill(zz, 0)
      val (m, a, b, d) = blockParams(seed, bi)
      zz(0) = m - 128 // S(0,0)=8(m−128), q=8
      zz(10) = b // zigzag 10 = nat 32 = (v=4,u=0): S=8b, q=8
      zz(14) = a // zigzag 14 = nat 4 = (v=0,u=4): S=8a, q=8
      zz(39) = d // zigzag 39 = nat 36 = (v=4,u=4): S=8d, q=8
      zz
    }
    val chromaZzCb = { val z = new Array[Int](64); z(0) = db; z }
    val chromaZzCr = { val z = new Array[Int](64); z(0) = dr; z }
    var dcY = 0; var dcCb = 0; var dcCr = 0
    if (ch == 3 && (lh > 1 || lv > 1)) {
      val mcusX = wi / (8 * lh); val mcusY = hi / (8 * lv)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var v0 = 0
          while (v0 < lv) {
            var h0 = 0
            while (h0 < lh) {
              val bi = (lv.toLong * my + v0) * bwBlocks + (lh.toLong * mx + h0)
              dcY = encodeBlock(bw, lumaZz(bi), dcY, DcLumaEnc, AcLumaEnc)
              h0 += 1
            }
            v0 += 1
          }
          dcCb = encodeBlock(bw, chromaZzCb, dcCb, DcChromaEnc, AcChromaEnc)
          dcCr = encodeBlock(bw, chromaZzCr, dcCr, DcChromaEnc, AcChromaEnc)
          mx += 1
        }
        my += 1
      }
    } else {
      val mcusX = wi / 8; val mcusY = hi / 8
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          val bi = my.toLong * bwBlocks + mx
          dcY = encodeBlock(bw, lumaZz(bi), dcY, DcLumaEnc, AcLumaEnc)
          if (ch == 3) {
            dcCb = encodeBlock(bw, chromaZzCb, dcCb, DcChromaEnc, AcChromaEnc)
            dcCr = encodeBlock(bw, chromaZzCr, dcCr, DcChromaEnc, AcChromaEnc)
          }
          mx += 1
        }
        my += 1
      }
    }
    bw.flushWithOnes()
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  // ------------------------------------------------ progressive encoder

  /** Custom AC Huffman table for the progressive scans: EOBn (run-end
    * counts, absent from the Annex K baseline tables), ZRL, and the
    * (run, size ≤ 2) value symbols the fixture's small coefficients
    * need — 48 symbols, all length 6 (the all-ones code stays unused,
    * per T.81 C.2). Written as a real DHT the decoder must parse.
    */
  private val ProgAcBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 48, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcVals: Array[Int] =
    (0 to 15).flatMap(r => Seq((r << 4) | 0, (r << 4) | 1, (r << 4) | 2))
      .filter(sym => sym != 0xF1 && sym != 0xF2)
      .toArray :+ 0xF1 :+ 0xF2
  private val ProgAcEnc = encTable(ProgAcBits, ProgAcVals)

  /** Complete valid PROGRESSIVE (SOF2) JFIF JPEG from `(w, h, seed)` —
    * the same generative pixel content as the baseline fixture (the
    * progressive scan sequence re-codes the identical quantized
    * coefficients losslessly, so the jpeg_pixels oracle replays it
    * unchanged), exercising all four scan kinds of T.81 G.1.2: a DC
    * first scan at Al=1 (interleaved for color), per-component AC first
    * scans split into two spectral bands with real EOB-run coding (the
    * constant-chroma planes are pure EOB-run streams), a raw-bit DC
    * refinement scan, and AC refinement scans running the G.1.2.3
    * correction-bit algorithm (buffered bits flushed after each symbol,
    * ZRL only within the newly-significant prefix). `layout` is the
    * baseline `mode`: 0 grayscale, 1 YCbCr 4:2:0, 2 YCbCr 4:4:4.
    */
  def jpegBytesProgressive(w: Long, h: Long, seed: Long, layout: Int): Array[Byte] = {
    val (lh, lv) = lumaHV(layout)
    if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF ||
        w % (8 * lh) != 0 || h % (8 * lv) != 0) return null
    val wi = w.toInt; val hi = h.toInt
    val ch = if (layout == 0) 1 else 3
    if (w * h * ch > MaxPixelBytes) return null
    val variant = ChromaVariants(java.lang.Math.floorMod(seed, 4).toInt)
    val (dr, db) = (variant._1, variant._2)
    val bwBlocks = wi / 8
    val bhBlocks = hi / 8
    // per-component quantized zigzag blocks, raster order
    val yBlocks = Array.tabulate(bhBlocks * bwBlocks) { bi =>
      val z = new Array[Int](64)
      val (m, a, b, d) = blockParams(seed, bi.toLong)
      z(0) = m - 128; z(10) = b; z(14) = a; z(39) = d
      z
    }
    val (cW, cH) = (wi / (8 * lh), hi / (8 * lv))
    val cbBlocks = Array.fill(cH * cW) { val z = new Array[Int](64); z(0) = db; z }
    val crBlocks = Array.fill(cH * cW) { val z = new Array[Int](64); z(0) = dr; z }

    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    segment(out, 0xE0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0,
      0, 1, 0, 1, 0, 0))
    val dqt = new java.io.ByteArrayOutputStream()
    dqt.write(0x00)
    Zigzag.foreach(nat => dqt.write(QuantLumaNat(nat)))
    if (ch == 3) {
      dqt.write(0x01)
      Zigzag.foreach(nat => dqt.write(QuantChromaNat(nat)))
    }
    segment(out, 0xDB, dqt.toByteArray)
    // SOF2
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8)
    sof.write((hi >> 8) & 0xFF); sof.write(hi & 0xFF)
    sof.write((wi >> 8) & 0xFF); sof.write(wi & 0xFF)
    sof.write(ch)
    if (ch == 1) { sof.write(1); sof.write(0x11); sof.write(0) }
    else {
      sof.write(1); sof.write((lh << 4) | lv); sof.write(0)
      sof.write(2); sof.write(0x11); sof.write(1)
      sof.write(3); sof.write(0x11); sof.write(1)
    }
    segment(out, 0xC2, sof.toByteArray)
    segment(out, 0xC4, dhtPayload(0, 0, DcLumaBits, DcLumaVals))
    if (ch == 3)
      segment(out, 0xC4, dhtPayload(0, 1, DcChromaBits, DcChromaVals))
    segment(out, 0xC4, dhtPayload(1, 0, ProgAcBits, ProgAcVals))
    // odd seeds emit RESTART INTERVALS (every 3 MCUs/blocks): half of
    // any corpus exercises RSTn handling in all four scan kinds, the
    // other half the marker-free path
    val dri = if (java.lang.Math.floorMod(seed, 2) == 1) 3 else 0
    if (dri > 0)
      segment(out, 0xDD, Array[Byte]((dri >> 8).toByte, (dri & 0xFF).toByte))
    var rstIdx = 0
    def writeRst(bw: BitWriter): Unit = {
      bw.flushWithOnes()
      out.write(0xFF); out.write(0xD0 + (rstIdx & 7))
      rstIdx += 1
    }

    def sos(comps: Seq[(Int, Int)], ss: Int, se: Int, ah: Int, al: Int)
        (body: BitWriter => Unit): Unit = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(comps.length)
      comps.foreach { case (id, tdta) => o.write(id); o.write(tdta) }
      o.write(ss); o.write(se); o.write((ah << 4) | al)
      segment(out, 0xDA, o.toByteArray)
      rstIdx = 0 // the RSTn cycle restarts with each scan
      val bw = new BitWriter(out)
      body(bw)
      bw.flushWithOnes()
    }

    // MCU-grouped block order for the DC scans (restart units are MCUs)
    def dcOrderMcus(g: Seq[(Int, Array[Int])] => Unit): Unit = {
      if (ch == 1) yBlocks.foreach(z => g(Seq((0, z))))
      else if (lh > 1 || lv > 1) {
        var my = 0
        while (my < hi / (8 * lv)) {
          var mx = 0
          while (mx < wi / (8 * lh)) {
            val ys = for (v0 <- 0 until lv; h0 <- 0 until lh)
              yield (0, yBlocks((lv * my + v0) * bwBlocks + lh * mx + h0))
            g(ys ++ Seq((1, cbBlocks(my * cW + mx)), (2, crBlocks(my * cW + mx))))
            mx += 1
          }
          my += 1
        }
      } else {
        var bi = 0
        while (bi < yBlocks.length) {
          g(Seq((0, yBlocks(bi)), (1, cbBlocks(bi)), (2, crBlocks(bi))))
          bi += 1
        }
      }
    }
    val dcComps =
      if (ch == 1) Seq((1, 0x00))
      else Seq((1, 0x00), (2, 0x10), (3, 0x10))

    // ---- scan 1: DC first, Al = 1 (arithmetic shift per G.1.2.1)
    sos(dcComps, 0, 0, 0, 1) { bw =>
      val pred = new Array[Int](3)
      var unit = 0
      dcOrderMcus { blocks =>
        if (dri > 0 && unit > 0 && unit % dri == 0) {
          writeRst(bw)
          java.util.Arrays.fill(pred, 0)
        }
        unit += 1
        blocks.foreach { case (ci, z) =>
          val v = z(0) >> 1
          val diff = v - pred(ci)
          pred(ci) = v
          val enc = if (ci == 0) DcLumaEnc else DcChromaEnc
          val s = bitLen(math.abs(diff))
          val code = enc(s)
          bw.put(code & 0xFFFF, code >>> 16)
          if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
        }
      }
    }

    // ---- AC first scan for one component band (G.1.2.2): values
    // point-transformed toward zero, zero bands folded into EOB runs
    def acFirst(blocks: Array[Array[Int]], ss: Int, se: Int, al: Int)
        (bw: BitWriter): Unit = {
      var eobrun = 0
      var unit = 0
      def flushEob(): Unit = if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        val code = ProgAcEnc(r << 4)
        bw.put(code & 0xFFFF, code >>> 16)
        if (r > 0) bw.put(eobrun - (1 << r), r)
        eobrun = 0
      }
      blocks.foreach { z =>
        // restart units in a non-interleaved scan are blocks; the EOB
        // run must not span the marker
        if (dri > 0 && unit > 0 && unit % dri == 0) {
          flushEob()
          writeRst(bw)
        }
        unit += 1
        var run = 0
        var emitted = false
        var k = ss
        while (k <= se) {
          val t0 = z(k)
          val t = if (t0 < 0) -((-t0) >> al) else t0 >> al
          if (t == 0) run += 1
          else {
            flushEob()
            while (run >= 16) {
              val zrl = ProgAcEnc(0xF0)
              bw.put(zrl & 0xFFFF, zrl >>> 16)
              run -= 16
            }
            val size = bitLen(math.abs(t))
            val code = ProgAcEnc((run << 4) | size)
            bw.put(code & 0xFFFF, code >>> 16)
            bw.put(if (t >= 0) t else t + (1 << size) - 1, size)
            run = 0
            emitted = true
          }
          k += 1
        }
        if (run > 0 || !emitted) {
          eobrun += 1
          if (eobrun == 0x7FFF) flushEob()
        }
      }
      flushEob()
    }

    // ---- AC refinement scan (G.1.2.3, the jcphuff shape): correction
    // bits buffered and flushed after each emitted symbol; ZRL only
    // within the prefix ending at the last newly-significant coefficient
    def acRefine(blocks: Array[Array[Int]], ss: Int, se: Int, al: Int)
        (bw: BitWriter): Unit = {
      var eobrun = 0
      var unitR = 0
      // two correction-bit pools, the G.1.2.3 emission discipline: `be`
      // holds bits tied to the pending EOB run (the decoder consumes
      // them while replaying the run's blocks, AFTER the EOBn symbol);
      // `br` holds the current block's bits since the last symbol (the
      // decoder consumes them while advancing past the NEXT symbol)
      val be = new scala.collection.mutable.ArrayBuffer[Int]()
      val brB = new scala.collection.mutable.ArrayBuffer[Int]()
      def emitEobrun(): Unit = if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        val code = ProgAcEnc(r << 4)
        bw.put(code & 0xFFFF, code >>> 16)
        if (r > 0) bw.put(eobrun - (1 << r), r)
        eobrun = 0
        be.foreach(bit => bw.put(bit, 1))
        be.clear()
      }
      blocks.foreach { z =>
        if (dri > 0 && unitR > 0 && unitR % dri == 0) {
          emitEobrun()
          writeRst(bw)
        }
        unitR += 1
        val absv = new Array[Int](64)
        var eobPos = ss - 1 // index of the LAST newly-significant coef
        var k = ss
        while (k <= se) {
          val a0 = math.abs(z(k)) >> al
          absv(k) = a0
          if (a0 == 1) eobPos = k
          k += 1
        }
        var r = 0
        k = ss
        while (k <= se) {
          val t = absv(k)
          if (t == 0) r += 1
          else {
            // emit required ZRLs unless foldable into the block's EOB
            while (r > 15 && k <= eobPos) {
              emitEobrun()
              val zrl = ProgAcEnc(0xF0)
              bw.put(zrl & 0xFFFF, zrl >>> 16)
              r -= 16
              brB.foreach(bit => bw.put(bit, 1))
              brB.clear()
            }
            if (t > 1) brB += (t & 1) // history nonzero: correction bit
            else {
              // newly significant: EOBn (+ its run's bits), the value
              // symbol, the sign, then this block's buffered bits
              emitEobrun()
              val code = ProgAcEnc((r << 4) | 1)
              bw.put(code & 0xFFFF, code >>> 16)
              bw.put(if (z(k) < 0) 0 else 1, 1)
              brB.foreach(bit => bw.put(bit, 1))
              brB.clear()
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || brB.nonEmpty) {
          eobrun += 1
          be ++= brB
          brB.clear()
          if (eobrun == 0x7FFF) emitEobrun()
        }
      }
      emitEobrun()
    }

    val yBands = Seq((1, 13), (14, 63))
    // ---- scans 2..: AC first, Al = 1, per component
    yBands.foreach { case (s1, s2) =>
      sos(Seq((1, 0x00)), s1, s2, 0, 1)(acFirst(yBlocks, s1, s2, 1))
    }
    if (ch == 3) {
      sos(Seq((2, 0x00)), 1, 63, 0, 1)(acFirst(cbBlocks, 1, 63, 1))
      sos(Seq((3, 0x00)), 1, 63, 0, 1)(acFirst(crBlocks, 1, 63, 1))
    }
    // ---- DC refinement: one raw bit per block, interleaved order
    sos(dcComps, 0, 0, 1, 0) { bw =>
      var unit = 0
      dcOrderMcus { blocks =>
        if (dri > 0 && unit > 0 && unit % dri == 0) writeRst(bw)
        unit += 1
        blocks.foreach { case (_, z) => bw.put(z(0) & 1, 1) }
      }
    }
    // ---- AC refinement, Ah = 1, Al = 0
    yBands.foreach { case (s1, s2) =>
      sos(Seq((1, 0x00)), s1, s2, 1, 0)(acRefine(yBlocks, s1, s2, 0))
    }
    if (ch == 3) {
      sos(Seq((2, 0x00)), 1, 63, 1, 0)(acRefine(cbBlocks, 1, 63, 0))
      sos(Seq((3, 0x00)), 1, 63, 1, 0)(acRefine(crBlocks, 1, 63, 0))
    }
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }
}

object JpegSynthFunctions {
  /** Column API: complete valid baseline JFIF JPEG from `(w, h, seed)`:
    * real Annex-K Huffman coding, DC-diff + run-length AC coding, byte
    * stuffing; content chosen where the DCT round trip is exact, so the
    * decode is oracle-replayable (see [[SynthJpeg]]).
    * `mode`: 0 = grayscale, 1 = YCbCr 4:2:0, 2 = YCbCr 4:4:4.
    */
  def synth_jpeg(w: Column, h: Column, seed: Column, mode: Int): Column =
    ExpressionUtils.column(SynthJpeg(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), mode))
}
