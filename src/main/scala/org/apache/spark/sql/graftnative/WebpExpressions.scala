package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** WebP LOSSLESS (VP8L) pixel decode — the fourth real raster codec
  * after PNG/GIF/JPEG, implemented from the public "WebP Lossless
  * Bitstream Specification": RIFF/WEBP container walk, the VP8L
  * LSB-first bit stream, BOTH Huffman code forms (simple 1–2-symbol
  * codes and normal codes whose symbol lengths are themselves
  * Huffman-coded through the 19-symbol code-length alphabet with
  * 16/17/18 repeat codes and the max-symbol shortcut), LZ77
  * backreferences with the VP8L prefix length/distance coding and the
  * 120-entry 2D distance neighbor map, the color cache (the 0x1e35a7bd
  * multiplicative hash, updated on every emitted pixel), the
  * subtract-green, PREDICTOR (all 14 modes, including the
  * rightmost-column top-right wrap) and CROSS-COLOR inverse transforms,
  * and the meta-Huffman (entropy image) path routing pixels to per-block
  * Huffman groups — since round 11 the decoder covers what real VP8L
  * encoders emit by default.
  *
  * Scope, stated honestly: the color-indexing (palette) transform — the
  * one remaining VP8L feature, which rescales the coded width via pixel
  * packing — rejects to `'unknown'`. Anything malformed — bad
  * signature, over- OR under-subscribed Huffman code (the Kraft
  * completeness gate), backref before enough pixels, a predictor mode
  * above 13, truncated stream — also rejects; pixels are never guessed
  * and untrusted bytes never fail the task.
  */
object WebpCodec {

  private val MaxPixelBytes = 1 << 26

  /** LSB-first bit reader over the VP8L payload — multi-byte loads for
    * n-bit fields (round 11; the round-10 reader pulled one bit per
    * loop) plus a 15-bit zero-padded PEEK feeding the table-driven
    * Huffman decode. Consuming past the stream end clears `ok`; peeking
    * past it is legal (the final code of a stream may be resolved from
    * fewer lookahead bits than the peek width).
    */
  private final class BitReader(b: Array[Byte], startByte: Int) {
    // LSB-first 64-bit accumulator: the next stream bit is acc's bit 0.
    // Refills amortize to one byte-load per byte of input — the
    // round-12 replacement for reassembling up to 5 bytes on EVERY
    // bits()/peek15() call, which dominated the webp_pred profile.
    private var acc: Long = 0L
    private var nAcc: Int = 0
    private var next: Int = startByte
    var ok = true
    private def refill(): Unit = {
      while (nAcc <= 56 && next < b.length) {
        acc |= (b(next) & 0xFFL) << nAcc
        nAcc += 8
        next += 1
      }
    }
    /** Read n ≤ 24 bits LSB-first. */
    def bits(n: Int): Int = {
      if (nAcc < n) refill()
      if (nAcc < n) { ok = false; return 0 }
      val v = (acc & ((1L << n) - 1)).toInt
      acc >>>= n
      nAcc -= n
      v
    }
    /** Next 15 bits, zero-padded past the end; does not advance. */
    def peek15(): Int = {
      if (nAcc < 15) refill()
      (acc & 0x7FFF).toInt
    }
    /** Next 45 bits, zero-padded past the end; does not advance. One
      * refill covers up to three 15-bit-peek symbol decodes, so the
      * literal fast path pays ONE bounds check per pixel instead of
      * four.
      */
    def peek45(): Long = {
      if (nAcc < 45) refill()
      acc & 0x1FFFFFFFFFFFL
    }
    /** Consume n bits previously peeked. */
    def skip(n: Int): Unit = {
      if (nAcc < n) { ok = false; nAcc = 0; acc = 0L }
      else { acc >>>= n; nAcc -= n }
    }
  }

  /** Table-driven canonical Huffman decoder, VP8L convention (codes
    * assigned by (length, symbol-order) like DEFLATE, read MSB-of-code
    * first from the LSB-first stream). `root` is indexed by the next 8
    * stream bits (so table keys are BIT-REVERSED codes — the standard
    * two-level technique, same as JPEG's and libwebp's huffman tables);
    * codes longer than 8 bits resolve through a per-prefix sub-table.
    * Entries pack `(totalLen << 12) | symbol` (max alphabet 256+24+2048
    * = 2328 < 4096); sub-table markers set bit 30. `single` ≥ 0 is the
    * one-symbol zero-bit code form.
    */
  private final class Huff(val root: Array[Int], val subs: Array[Array[Int]],
      val single: Int, val rb: Int)

  private val MaxLen = 15
  private val RootBits = 8
  private val SubMark = 0x40000000

  /** Per-thread memo of built decode tables keyed by the exact length
    * array. Real corpora repeat code tables constantly (the same
    * encoder settings produce the same canonical lengths across
    * thousands of images), and building the two-level tables was ~30%
    * of small-image decode. Keys keep a reference to the caller's
    * array — safe because readCode's arrays are freshly allocated and
    * never mutated after the build. Bounded LRU; a miss costs one
    * hash + equality walk over ≤ 2328 ints.
    */
  private final class LenKey(val a: Array[Int]) {
    override val hashCode: Int = java.util.Arrays.hashCode(a)
    override def equals(o: Any): Boolean = o match {
      case k: LenKey => java.util.Arrays.equals(a, k.a)
      case _ => false
    }
  }
  private val huffCache =
    ThreadLocal.withInitial[java.util.LinkedHashMap[LenKey, Huff]](() =>
      new java.util.LinkedHashMap[LenKey, Huff](96, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[LenKey, Huff]): Boolean = size() > 64
      })

  private def buildHuff(lengths: Array[Int]): Huff = {
    val cache = huffCache.get()
    val key = new LenKey(lengths)
    val hit = cache.get(key)
    if (hit != null) return hit
    val built = buildHuffUncached(lengths)
    if (built != null) cache.put(key, built)
    built
  }

  private def buildHuffUncached(lengths: Array[Int]): Huff = {
    val counts = new Array[Int](MaxLen + 1)
    var n = 0
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) < 0 || lengths(i) > MaxLen) return null
      if (lengths(i) > 0) { counts(lengths(i)) += 1; n += 1 }
      i += 1
    }
    if (n == 0) return null
    if (n == 1) {
      // single-symbol code: zero bits read per symbol (spec: a code with
      // one symbol of length 0)
      var s = 0
      while (lengths(s) == 0) s += 1
      return new Huff(null, null, s, 0)
    }
    // canonical code assignment + the Kraft completeness gate: the spec
    // (and libwebp) reject UNDER-subscribed codes too — an incomplete
    // code space would leave unreachable table entries and accept
    // spec-invalid streams (round-11 advice item)
    val nextCode = new Array[Int](MaxLen + 1)
    var code = 0
    var len = 1
    while (len <= MaxLen) {
      code = (code + counts(len - 1)) << 1
      nextCode(len) = code
      if (code + counts(len) > (1 << len)) return null // over-subscribed
      len += 1
    }
    var kraft = 0L
    len = 1
    while (len <= MaxLen) {
      kraft += counts(len).toLong << (MaxLen - len)
      len += 1
    }
    if (kraft != (1L << MaxLen)) return null // under-subscribed
    // root sized to the longest code, capped at RootBits: small codes
    // (sub-images, code-length codes) get 16-32-entry roots instead of
    // a fixed 256, which dominated the per-image table-build cost
    var maxCodeLen = 0
    var mi = 0
    while (mi < lengths.length) {
      if (lengths(mi) > maxCodeLen) maxCodeLen = lengths(mi)
      mi += 1
    }
    val rb = math.min(RootBits, maxCodeLen)
    // sub-table sizing: per rb-bit reversed prefix, the longest code
    val subBits = new Array[Int](1 << rb)
    val codesOf = new Array[Int](lengths.length)
    var sym = 0
    while (sym < lengths.length) {
      val l = lengths(sym)
      if (l > 0) {
        val c = nextCode(l)
        nextCode(l) += 1
        codesOf(sym) = c
        if (l > rb) {
          val rev = java.lang.Integer.reverse(c) >>> (32 - l)
          val pre = rev & ((1 << rb) - 1)
          if (l - rb > subBits(pre)) subBits(pre) = l - rb
        }
      }
      sym += 1
    }
    val root = new Array[Int](1 << rb)
    val subIdx = new Array[Int](1 << rb)
    val subsB = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var p = 0
    while (p < (1 << rb)) {
      if (subBits(p) > 0) {
        subIdx(p) = subsB.length
        root(p) = SubMark | (subBits(p) << 20) | subsB.length
        subsB += new Array[Int](1 << subBits(p))
      }
      p += 1
    }
    sym = 0
    while (sym < lengths.length) {
      val l = lengths(sym)
      if (l > 0) {
        val rev = java.lang.Integer.reverse(codesOf(sym)) >>> (32 - l)
        val entry = (l << 12) | sym
        if (l <= rb) {
          var f = rev
          while (f < (1 << rb)) { root(f) = entry; f += 1 << l }
        } else {
          val pre = rev & ((1 << rb) - 1)
          val rest = rev >>> rb
          val sb = subBits(pre)
          val tab = subsB(subIdx(pre))
          var f = rest
          while (f < (1 << sb)) { tab(f) = entry; f += 1 << (l - rb) }
        }
      }
      sym += 1
    }
    new Huff(root, subsB.toArray, -1, rb)
  }

  private def decodeSym(br: BitReader, t: Huff): Int = {
    if (t.single >= 0) return t.single
    val e = symAt(t, br.peek15())
    if (e < 0) { br.ok = false; return -1 }
    br.skip(e >>> 12)
    if (!br.ok) return -1
    e & 0xFFF
  }

  /** Resolve one symbol from 15 peeked bits WITHOUT consuming:
    * returns `(len << 12) | sym` (len 0 for a single-symbol code), -1
    * on an unreachable entry.
    */
  private def symAt(t: Huff, peek: Int): Int = {
    if (t.single >= 0) return t.single
    val rb = t.rb
    var e = t.root(peek & ((1 << rb) - 1))
    if ((e & SubMark) != 0) {
      val sb = (e >> 20) & 0xFF
      e = t.subs(e & 0xFFFFF)((peek >> rb) & ((1 << sb) - 1))
    }
    if (e == 0) -1 else e
  }

  /** Order in which code-length-code lengths are stored (spec §6.2.2). */
  private val CodeLengthOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** Read one Huffman code (simple or normal form) over `alphabetSize`. */
  private def readCode(br: BitReader, alphabetSize: Int): Huff = {
    if (br.bits(1) == 1) { // simple code
      if (!br.ok) return null
      val numSymbols = br.bits(1) + 1
      val first8 = br.bits(1)
      if (!br.ok) return null
      val sym0 = br.bits(if (first8 == 1) 8 else 1)
      if (!br.ok || sym0 >= alphabetSize) return null
      val lengths = new Array[Int](alphabetSize)
      if (numSymbols == 1) {
        lengths(sym0) = 1 // single-symbol: handled as zero-bit code
      } else {
        val sym1 = br.bits(8)
        if (!br.ok || sym1 >= alphabetSize || sym1 == sym0) return null
        lengths(sym0) = 1
        lengths(sym1) = 1
      }
      buildHuff(lengths)
    } else { // normal code
      if (!br.ok) return null
      val numCodeLengths = 4 + br.bits(4)
      if (!br.ok || numCodeLengths > 19) return null
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCodeLengths) {
        clLengths(CodeLengthOrder(i)) = br.bits(3)
        if (!br.ok) return null
        i += 1
      }
      val clCode = buildHuff(clLengths)
      if (clCode == null) return null
      // optional max-symbol shortcut
      var maxSymbol = alphabetSize
      if (br.bits(1) == 1) {
        val lengthNBits = 2 + 2 * br.bits(3)
        maxSymbol = 2 + br.bits(lengthNBits)
        if (!br.ok || maxSymbol > alphabetSize) return null
      }
      if (!br.ok) return null
      val lengths = new Array[Int](alphabetSize)
      var sym = 0
      var prev = 8 // spec: default previous length
      while (sym < alphabetSize) {
        if (maxSymbol == 0) {
          // remaining symbols are zero-length
          sym = alphabetSize
        } else {
          maxSymbol -= 1
          val s = decodeSym(br, clCode)
          if (s < 0 || s > 18) return null
          if (s < 16) {
            lengths(sym) = s
            if (s != 0) prev = s
            sym += 1
          } else {
            val (repeat, value) = s match {
              case 16 => (3 + br.bits(2), prev)
              case 17 => (3 + br.bits(3), 0)
              case _ => (11 + br.bits(7), 0)
            }
            if (!br.ok || sym + repeat > alphabetSize) return null
            var r = 0
            while (r < repeat) { lengths(sym) = value; sym += 1; r += 1 }
          }
        }
      }
      buildHuff(lengths)
    }
  }

  /** VP8L prefix coding for lengths/distances (spec §5.2.2):
    * code < 4 → code + 1; otherwise extra = (code − 2) >> 1 extra bits,
    * offset = (2 + (code & 1)) << extra, value = offset + bits + 1.
    */
  private def prefixValue(br: BitReader, code: Int): Int = {
    if (code < 4) return code + 1
    val extra = (code - 2) >> 1
    val offset = (2 + (code & 1)) << extra
    offset + br.bits(extra) + 1
  }

  /** The 120-entry distance neighbor map (spec §5.2.2): (dx, dy) pairs
    * for codes 1..120; code > 120 → linear distance − 120. Exactly the
    * spec's published list — 120 entries, nothing trimmed at use sites.
    */
  private val DistMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (8, 3), (-8, 3), (5, 7), (-5, 7), (7, 5),
    (-7, 5), (8, 4), (3, 8), (-3, 8), (8, 5), (-8, 5), (6, 7), (-6, 7))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  // ------------------------------------------------ inverse transforms

  private val TransformPredictor = 0
  private val TransformColor = 1
  private val TransformSubtractGreen = 2
  private val TransformColorIndexing = 3

  /** One transform read from the stream: `bits`/`tw`/`data` are the
    * sub-image block size and decoded sub-image (predictor modes or
    * color-transform elements); subtract-green carries none.
    */
  private final class Transform(val kind: Int, val bits: Int,
      val tw: Int, val data: Array[Int])

  /** Per-channel mod-256 pixel add (predictor residual + prediction). */
  private def addPixels(a: Int, b: Int): Int = {
    val lo = ((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF
    val hi = ((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00
    lo | hi
  }

  /** Per-channel floor average without overflow. */
  private def avg2(a: Int, b: Int): Int =
    (((a ^ b) & 0xFEFEFEFE) >>> 1) + (a & b)

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0
    var sh = 0
    while (sh < 32) {
      val c = clamp255(((l >>> sh) & 0xFF) + ((t >>> sh) & 0xFF) -
        ((tl >>> sh) & 0xFF))
      out |= c << sh
      sh += 8
    }
    out
  }

  private def clampAddSubtractHalf(ave: Int, tl: Int): Int = {
    var out = 0
    var sh = 0
    while (sh < 32) {
      val a = (ave >>> sh) & 0xFF
      val b = (tl >>> sh) & 0xFF
      val c = clamp255(a + (a - b) / 2)
      out |= c << sh
      sh += 8
    }
    out
  }

  /** Spec Select: the gradient estimate p = L + T − TL per channel;
    * return L when its Manhattan distance to p is smaller, else T.
    */
  private def select(l: Int, t: Int, tl: Int): Int = {
    var pL = 0
    var pT = 0
    var sh = 0
    while (sh < 32) {
      val lc = (l >>> sh) & 0xFF
      val tc = (t >>> sh) & 0xFF
      val tlc = (tl >>> sh) & 0xFF
      val p = lc + tc - tlc
      pL += math.abs(p - lc)
      pT += math.abs(p - tc)
      sh += 8
    }
    if (pL < pT) l else t
  }

  /** The 14 predictor modes (spec "Predictor Transform"). `tr` is
    * `argb(i − w + 1)`, which for the rightmost column lands on the
    * current row's FIRST pixel — exactly the spec/libwebp top-right
    * wrap rule, with no column branch needed. Shared with the fixture
    * encoder's forward pass (WebpSynth) — the spec semantics themselves
    * are pinned independently by the hand-built per-mode goldens in
    * ScaleOpsSpec, so the sharing cannot mask a misread of the spec.
    */
  private[graftnative] def predict(mode: Int, l: Int, t: Int, tr: Int, tl: Int): Int =
    mode match {
      case 0 => 0xFF000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => avg2(avg2(l, tr), t)
      case 6 => avg2(l, tl)
      case 7 => avg2(l, t)
      case 8 => avg2(tl, t)
      case 9 => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => select(l, t, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case 13 => clampAddSubtractHalf(avg2(l, t), tl)
      case _ => 0 // mode > 13: caller rejects
    }

  /** In-place inverse predictor transform over the ARGB frame. Returns
    * false on an out-of-range mode.
    */
  private def inversePredictor(argb: Array[Int], w: Int, h: Int,
      tr: Transform): Boolean = {
    // borders hoisted out of the main loop; interior rows fetch the
    // tile mode once per ≤2^bits-pixel run instead of per pixel
    argb(0) = addPixels(argb(0), 0xFF000000)
    var i = 1
    while (i < w) { argb(i) = addPixels(argb(i), argb(i - 1)); i += 1 }
    val bits = tr.bits
    val tw = tr.tw
    val data = tr.data
    var y = 1
    while (y < h) {
      i = y * w
      argb(i) = addPixels(argb(i), argb(i - w)) // left column: forced T
      val tileRow = (y >> bits) * tw
      var x = 1
      while (x < w) {
        val mode = (data(tileRow + (x >> bits)) >> 8) & 0xFF
        if (mode > 13) return false
        val runEnd = math.min(w, ((x >> bits) + 1) << bits)
        i = y * w + x
        while (x < runEnd) {
          argb(i) = addPixels(argb(i), predict(mode, argb(i - 1), argb(i - w),
            argb(i - w + 1), argb(i - w - 1)))
          x += 1
          i += 1
        }
      }
      y += 1
    }
    true
  }

  /** Signed-byte product >> 5 — the spec's ColorTransformDelta. */
  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  /** In-place inverse cross-color transform: red recovers from green,
    * blue from green and the RECOVERED red (spec order).
    */
  private def inverseColor(argb: Array[Int], w: Int, h: Int,
      tr: Transform): Unit = {
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = tr.data((y >> tr.bits) * tr.tw + (x >> tr.bits))
        val g2r = cte & 0xFF
        val g2b = (cte >> 8) & 0xFF
        val r2b = (cte >> 16) & 0xFF
        val px = argb(i)
        val green = (px >> 8) & 0xFF
        var red = (px >> 16) & 0xFF
        var blue = px & 0xFF
        red = (red + ctDelta(g2r, green)) & 0xFF
        blue = (blue + ctDelta(g2b, green) + ctDelta(r2b, red)) & 0xFF
        argb(i) = (px & 0xFF00FF00) | (red << 16) | blue
        x += 1
        i += 1
      }
      y += 1
    }
  }

  /** In-place inverse subtract-green. */
  private def inverseSubtractGreen(argb: Array[Int]): Unit = {
    var i = 0
    while (i < argb.length) {
      val px = argb(i)
      val g = (px >> 8) & 0xFF
      val r = ((px >> 16) + g) & 0xFF
      val bl = (px + g) & 0xFF
      argb(i) = (px & 0xFF00FF00) | (r << 16) | bl
      i += 1
    }
  }

  /** Inverse color-indexing: unbundle packed palette indices (the coded
    * image's green channel, LSB-first sub-positions) back to full width
    * and look each up in the delta-decoded palette. An index beyond the
    * palette yields 0x00000000, per spec.
    */
  private def inverseColorIndexing(packed: Array[Int], w: Int, h: Int,
      tr: Transform): Array[Int] = {
    val widthBits = tr.bits
    val size = tr.tw
    val pal = tr.data
    val packedW = divRoundUp(w, widthBits)
    val bitsPerPx = 8 >> widthBits
    val mask = (1 << widthBits) - 1
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = (packed(y * packedW + (x >> widthBits)) >> 8) & 0xFF
        val idx =
          if (widthBits == 0) g
          else (g >> (bitsPerPx * (x & mask))) & ((1 << bitsPerPx) - 1)
        out(y * w + x) = if (idx < size) pal(idx) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  private def divRoundUp(a: Int, shift: Int): Int = (a + (1 << shift) - 1) >> shift

  /** Decode one entropy-coded image (spec DecodeImageStream). At level 0
    * the transform list is read first (predictor / cross-color /
    * subtract-green; color-indexing rejects) and the meta-Huffman
    * (entropy image) path is honored — each pixel's five Huffman codes
    * come from the group its block maps to. Sub-images (the predictor /
    * color / entropy images) recurse with `level0 = false`: no
    * transforms, no meta codes, but their own optional color cache and
    * full LZ77 machinery, per spec. Returns null on any spec violation.
    */
  private def decodeImage(br: BitReader, w0: Int, h0: Int, level0: Boolean,
      transformsOut: scala.collection.mutable.ArrayBuffer[Transform])
      : Array[Int] = {
    var w = w0 // color-indexing pixel bundling NARROWS the coded image
    val h = h0
    if (level0) {
      var more = br.bits(1)
      var seen = 0
      while (more == 1) {
        if (!br.ok) return null
        val kind = br.bits(2)
        if ((seen & (1 << kind)) != 0) return null // each at most once
        seen |= 1 << kind
        kind match {
          case TransformSubtractGreen =>
            transformsOut += new Transform(TransformSubtractGreen, 0, 0, null)
          case TransformPredictor | TransformColor =>
            val bits = br.bits(3) + 2
            if (!br.ok) return null
            val tw = divRoundUp(w, bits)
            val th = divRoundUp(h, bits)
            val sub = decodeImage(br, tw, th, level0 = false, transformsOut)
            if (sub == null) return null
            transformsOut += new Transform(kind, bits, tw, sub)
          case _ => // color-indexing (palette): the coded image carries
            // packed palette INDICES in its green channel, ≤16-color
            // palettes bundling several pixels per coded pixel — the
            // coded width shrinks for everything that follows
            val size = br.bits(8) + 1
            if (!br.ok) return null
            val pal = decodeImage(br, size, 1, level0 = false, transformsOut)
            if (pal == null) return null
            // palette entries are DELTA-coded per channel (spec):
            // cumulative mod-256 add from the first entry
            var pi = 1
            while (pi < size) { pal(pi) = addPixels(pal(pi), pal(pi - 1)); pi += 1 }
            val widthBits =
              if (size <= 2) 3 else if (size <= 4) 2
              else if (size <= 16) 1 else 0
            transformsOut += new Transform(TransformColorIndexing, widthBits,
              size, pal)
            w = divRoundUp(w, widthBits)
        }
        more = br.bits(1)
      }
      if (!br.ok) return null
      // the packed-index stream composes awkwardly with spatial
      // transforms (they would operate on the packed grid); real palette
      // encoders emit indexing alone, and this decoder holds that line
      if (transformsOut.exists(_.kind == TransformColorIndexing) &&
          transformsOut.length != 1) return null
    }
    // color cache
    var cacheBits = 0
    if (br.bits(1) == 1) {
      cacheBits = br.bits(4)
      if (!br.ok || cacheBits < 1 || cacheBits > 11) return null
    }
    if (!br.ok) return null
    // meta-Huffman (entropy image): level 0 only
    var metaImg: Array[Int] = null
    var metaBits = 0
    var metaW = 0
    var numGroups = 1
    if (level0 && br.bits(1) == 1) {
      if (!br.ok) return null
      metaBits = br.bits(3) + 2
      if (!br.ok) return null
      metaW = divRoundUp(w, metaBits)
      val metaH = divRoundUp(h, metaBits)
      metaImg = decodeImage(br, metaW, metaH, level0 = false, transformsOut)
      if (metaImg == null) return null
      var mx = 0
      var j = 0
      while (j < metaImg.length) {
        val idx = (metaImg(j) >> 8) & 0xFFFF
        if (idx > mx) mx = idx
        j += 1
      }
      numGroups = mx + 1
      if (numGroups > 65536) return null
    }
    if (!br.ok) return null
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val greenAlpha = 256 + 24 + cacheSize
    val groups = new Array[Array[Huff]](numGroups)
    var gi = 0
    while (gi < numGroups) {
      val g = new Array[Huff](5)
      g(0) = readCode(br, greenAlpha)
      g(1) = readCode(br, 256)
      g(2) = readCode(br, 256)
      g(3) = readCode(br, 256)
      g(4) = readCode(br, 40)
      if (g(0) == null || g(1) == null || g(2) == null || g(3) == null ||
          g(4) == null) return null
      groups(gi) = g
      gi += 1
    }
    val n = w * h
    val argb = new Array[Int](n)
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    var pos = 0
    var curGroup = groups(0)
    var lastMetaCell = -1
    // incremental raster coordinates: the meta-group lookup needs
    // (x, y) per pixel, and a div/mod per pixel is measurable at
    // 100k+ img/s — track them alongside pos instead
    var px_x = 0
    var metaRow = 0 // (y >> metaBits) * metaW, bumped on row crossings
    var py = 0
    while (pos < n) {
      if (metaImg != null) {
        val cell = metaRow + (px_x >> metaBits)
        if (cell != lastMetaCell) {
          lastMetaCell = cell
          val idx = (metaImg(cell) >> 8) & 0xFFFF
          curGroup = groups(idx)
        }
      }
      // literal fast path: one 45-bit peek resolves G, then R/B/A from
      // the remaining peeked bits — a single bounds check and a single
      // skip per literal pixel (identical decode order and error
      // semantics: any overrun fails the combined skip exactly where
      // the sequential reads would have failed)
      val peek = br.peek45()
      val e0 = symAt(curGroup(0), (peek & 0x7FFF).toInt)
      if (e0 < 0) return null
      val g = e0 & 0xFFF
      val len0 = e0 >>> 12
      if (g < 256) {
        var rest = peek >>> len0
        val e1 = symAt(curGroup(1), (rest & 0x7FFF).toInt)
        if (e1 < 0) return null
        rest >>>= (e1 >>> 12)
        val e2 = symAt(curGroup(2), (rest & 0x7FFF).toInt)
        if (e2 < 0) return null
        // the 45-bit peek fully covers e1 (offset ≤ 30 before its
        // 15-bit window) and e2 (offset ≤ 30 exactly), but e3's window
        // starts at len0+len1+len2, which can reach 45: past offset 30
        // the tail of its 15-bit lookup is ZERO PADDING, and a complete
        // code maps every pattern to some symbol — a deep alpha code
        // would silently resolve a WRONG symbol (and, if the padded
        // path exits the tree early, a wrong bit count, desyncing the
        // stream). Fall back to a sequential decode for e3 in that
        // deep-prefix-code case; the common ≤ 30-bit case keeps the
        // single-skip fast path.
        val off2 = len0 + (e1 >>> 12) + (e2 >>> 12)
        var a = 0
        if (off2 <= 30) {
          rest >>>= (e2 >>> 12)
          val e3 = symAt(curGroup(3), (rest & 0x7FFF).toInt)
          if (e3 < 0) return null
          br.skip(off2 + (e3 >>> 12))
          if (!br.ok) return null
          a = e3 & 0xFFF
        } else {
          br.skip(off2)
          if (!br.ok) return null
          a = decodeSym(br, curGroup(3))
          if (a < 0 || !br.ok) return null
        }
        val px = (a << 24) | ((e1 & 0xFFF) << 16) | (g << 8) |
          (e2 & 0xFFF)
        argb(pos) = px
        if (cache != null)
          cache((0x1E35A7BD * px) >>> (32 - cacheBits)) = px
        pos += 1
        px_x += 1
        if (px_x == w) { px_x = 0; py += 1; metaRow = (py >> metaBits) * metaW }
      } else if ({ br.skip(len0); if (!br.ok) return null; g < 256 + 24 }) {
        val length = prefixValue(br, g - 256)
        val dcode = decodeSym(br, curGroup(4))
        if (dcode < 0 || !br.ok) return null
        val dRaw = prefixValue(br, dcode)
        if (!br.ok) return null
        val distance = if (dRaw > 120) dRaw - 120
        else {
          val (dx, dy) = DistMap(dRaw - 1)
          val d = dy * w + dx
          if (d < 1) 1 else d
        }
        if (distance > pos || pos + length > n) return null
        var k = 0
        while (k < length) {
          val px = argb(pos - distance)
          argb(pos) = px
          if (cache != null)
            cache((0x1E35A7BD * px) >>> (32 - cacheBits)) = px
          pos += 1
          k += 1
        }
        px_x += length
        while (px_x >= w) { px_x -= w; py += 1 }
        metaRow = (py >> metaBits) * metaW
      } else {
        val idx = g - 256 - 24
        if (cache == null || idx >= cacheSize) return null
        argb(pos) = cache(idx)
        pos += 1
        px_x += 1
        if (px_x == w) { px_x = 0; py += 1; metaRow = (py >> metaBits) * metaW }
      }
    }
    argb
  }

  /** Decode a RIFF/WEBP/VP8L payload to the normalized raster row.
    * Round-11 scope: the predictor and cross-color transforms and the
    * meta-Huffman (entropy image) path are REAL — only the
    * color-indexing (palette) transform still rejects to 'unknown'.
    */
  def decode(b: Array[Byte]): InternalRow = {
    val unknown = ImageDecode.unknownRow
    // RIFF walk to the VP8L chunk
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'E' || b(10) != 'B' ||
        b(11) != 'P') return unknown
    var i = 12
    var payloadOff = -1
    var payloadEnd = -1
    while (i + 8 <= b.length && payloadOff < 0) {
      val size = leU32(b, i + 4)
      if (b(i) == 'V' && b(i + 1) == 'P' && b(i + 2) == '8' &&
          b(i + 3) == 'L') {
        payloadOff = i + 8
        if (payloadOff + size > b.length) return unknown
        payloadEnd = (payloadOff + size).toInt
      } else if (b(i) == 'V' && b(i + 1) == 'P' && b(i + 2) == '8' &&
          b(i + 3) == ' ') {
        // lossy WebP: one VP8 key frame (RFC 6386) — Vp8Codec
        val off = i + 8
        if (off + size > b.length) return unknown
        val row = Vp8Codec.decodeFrame(b, off, (off + size).toInt)
        return if (row == null) unknown else row
      } else if (b(i) == 'A' && b(i + 1) == 'N' && b(i + 2) == 'M' &&
          b(i + 3) == 'F' && size >= 24) {
        // animated WebP: decode the FIRST frame (the sampling stance the
        // frame-extract pipeline wants). The ANMF payload carries a
        // 16-byte frame header (x, y, w-1, h-1, duration, flags) then
        // nested VP8 / VP8L (+ optional ALPH) chunks.
        val bodyEnd = i + 8 + size
        if (bodyEnd > b.length) return unknown
        var j = i + 8 + 16
        while (j + 8 <= bodyEnd) {
          val sz2 = leU32(b, j + 4)
          if (j + 8 + sz2 > bodyEnd) return unknown
          if (b(j) == 'V' && b(j + 1) == 'P' && b(j + 2) == '8' &&
              b(j + 3) == 'L') {
            payloadOff = j + 8
            payloadEnd = (j + 8 + sz2).toInt
            j = bodyEnd.toInt
          } else if (b(j) == 'V' && b(j + 1) == 'P' && b(j + 2) == '8' &&
              b(j + 3) == ' ') {
            val row = Vp8Codec.decodeFrame(b, j + 8, (j + 8 + sz2).toInt)
            return if (row == null) unknown else row
          } else {
            val nxt = j.toLong + 8 + sz2 + (sz2 & 1)
            if (nxt > Int.MaxValue) return unknown
            j = nxt.toInt
          }
        }
        if (payloadOff < 0) return unknown
      }
      val next = i.toLong + 8 + size + (size & 1)
      if (next > Int.MaxValue) return unknown
      i = next.toInt
    }
    if (payloadOff < 0 || payloadOff >= b.length) return unknown
    if (u8(b, payloadOff) != 0x2F) return unknown
    val br = new BitReader(java.util.Arrays.copyOfRange(b, 0, payloadEnd),
      payloadOff + 1)
    val w = br.bits(14) + 1
    val h = br.bits(14) + 1
    br.bits(1) // alpha hint
    if (br.bits(3) != 0 || !br.ok) return unknown // version must be 0
    if (3L * w * h > MaxPixelBytes) return unknown
    val transforms = scala.collection.mutable.ArrayBuffer.empty[Transform]
    var argb = decodeImage(br, w, h, level0 = true, transforms)
    if (argb == null) return unknown
    // inverse transforms in REVERSE read order (spec)
    var ti = transforms.length - 1
    while (ti >= 0) {
      val tr = transforms(ti)
      tr.kind match {
        case TransformPredictor =>
          if (!inversePredictor(argb, w, h, tr)) return unknown
        case TransformColor => inverseColor(argb, w, h, tr)
        case TransformSubtractGreen => inverseSubtractGreen(argb)
        case TransformColorIndexing =>
          argb = inverseColorIndexing(argb, w, h, tr)
        case _ => return unknown
      }
      ti -= 1
    }
    // drop alpha, emit RGB
    val n = w * h
    val out = new Array[Byte](3 * n)
    var p = 0
    while (p < n) {
      val px = argb(p)
      out(3 * p) = ((px >> 16) & 0xFF).toByte
      out(3 * p + 1) = ((px >> 8) & 0xFF).toByte
      out(3 * p + 2) = (px & 0xFF).toByte
      p += 1
    }
    ImageDecode.rasterRow(ImageDecode.FmtWebp, w, h, 3, out)
  }
}

/** Fixture ENCODER for lossless WebP — the proof harness for
  * [[WebpCodec]]. Builds a COMPLETE spec-valid RIFF/WEBP/VP8L file from
  * `(w, h, seed)` whose pixels are the shared generative formula
  * (channel c of pixel p is `(seed·31 + (3p+c)·7) mod 256`), and really
  * entropy-codes it: the subtract-green transform is applied forward,
  * per-channel symbol HISTOGRAMS drive a real Huffman-code construction
  * (length-limited canonical codes), the code lengths are emitted
  * through the real code-length coding (the 19-symbol alphabet in the
  * spec's storage order), and the pixel stream is written LSB-first.
  * The distance code is a valid single-symbol simple code (this encoder
  * emits literals only; the decoder's LZ77 and color-cache paths are
  * pinned by hand-built golden streams in ScaleOpsSpec). A hash match
  * on a key built from these proves the decoder runs real canonical-
  * Huffman decoding through the code-length machinery — not a byte
  * copy.
  */
case class SynthWebpL(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    WebpSynth.webpBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WebpSynth.webpBytes($w, $h, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WebpSynth {

  private val MaxPixelBytes = 1 << 26

  /** The shared generative pixel formula (mirrored by the oracles). */
  private def pix(seed: Long, idx: Long): Int =
    java.lang.Math.floorMod(seed * 31 + idx * 7, 256).toInt

  /** LSB-first bit writer over a primitive growable buffer —
    * ByteArrayOutputStream's synchronized per-byte write() was a
    * measurable share of the fixture-encoder profile on Java 17 (no
    * biased locking), and the encoder sits inside the timed
    * synthesize→decode stress pipeline.
    */
  private final class BitBuf {
    private var buf = new Array[Byte](1024)
    private var len = 0
    private var acc = 0L
    private var n = 0
    def put(v: Long, bits: Int): Unit = {
      acc |= (v & ((1L << bits) - 1)) << n
      n += bits
      while (n >= 8) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        buf(len) = (acc & 0xFF).toByte
        len += 1
        acc >>>= 8
        n -= 8
      }
    }
    def flush(): Unit = if (n > 0) {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = (acc & 0xFF).toByte
      len += 1
      acc = 0; n = 0
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
    /** Total bits written so far (buffered bytes + pending). */
    def bitLength: Int = len * 8 + n
    /** Replay a previously packed LSB-first bit sequence. */
    def putSeq(bytes: Array[Byte], nbits: Int): Unit = {
      val full = nbits >> 3
      var i = 0
      while (i < full) { put(bytes(i) & 0xFFL, 8); i += 1 }
      val rem = nbits & 7
      if (rem > 0) put(bytes(full) & 0xFFL, rem)
    }
  }


  /** Plain Huffman code lengths from frequencies (two lowest merge),
    * LENGTH-LIMITED to `maxLen` by the standard flatten-and-retry trick
    * (raise the floor of every active frequency until the optimal tree
    * fits — monotone, terminates at the flat code). The pixel histograms
    * are near-uniform (lengths ≤ 10 at limit 15); the CODE-LENGTH code
    * must fit 3-bit lengths, i.e. limit 7, and its histogram is skewed,
    * so the limiter genuinely runs there.
    */
  private def huffmanLengths(freq: Array[Long], maxLen: Int = 15): Array[Int] = {
    val n = freq.length
    val lengths = new Array[Int](n)
    var nActive = 0
    var ai = 0
    while (ai < n) { if (freq(ai) > 0) nActive += 1; ai += 1 }
    val active = new Array[Int](nActive)
    var aw = 0
    ai = 0
    while (ai < n) { if (freq(ai) > 0) { active(aw) = ai; aw += 1 }; ai += 1 }
    if (nActive == 0) return lengths
    if (nActive == 1) { lengths(active(0)) = 1; return lengths }
    // two-queue Huffman build (round 11; replaces a boxed PriorityQueue
    // that dominated the encode+decode stress loop): leaves sorted by
    // (weight, symbol) ascending; merged internal weights are
    // non-decreasing so a FIFO queue holds them already ordered. Tie
    // rule mirrors the former PQ's (weight, node-id) order exactly —
    // leaf ids < n < internal ids, so a leaf wins weight ties and
    // internals tie in creation order — the produced trees (and the
    // fixture bytes, which webp_pixels hashes) are bit-identical.
    val m = active.length
    var floor = 1L
    var done = false
    while (!done) {
      java.util.Arrays.fill(lengths, 0)
      // primitive packed-key sort by (w, id): ids < 4096 and weights are
      // bounded by the pixel count, so (w << 12) | id orders identically
      // to the former boxed (w, id) tuple sort with zero allocation —
      // the per-image Huffman build is the encode+decode stress loop's
      // hot spot
      val keys = new Array[Long](m)
      var i = 0
      while (i < m) {
        keys(i) = (math.max(freq(active(i)), floor) << 12) | active(i).toLong
        i += 1
      }
      java.util.Arrays.sort(keys)
      val sw = new Array[Long](m)
      val sid = new Array[Int](m)
      i = 0
      while (i < m) {
        sw(i) = keys(i) >>> 12
        sid(i) = (keys(i) & 0xFFF).toInt
        i += 1
      }
      val left = new Array[Int](2 * n)
      val right = new Array[Int](2 * n)
      val intW = new Array[Long](m) // internal-node weights, FIFO
      var li = 0 // next leaf
      var ir = 0 // internal read
      var iw = 0 // internal write
      // allocation-free two-queue merge (the former tuple-returning
      // takeMin boxed two Tuple2s per merge — measurable at 4k+ images
      // per second per core); leaf wins weight ties: its id (< n)
      // sorts before internal ids, preserving the tie rule exactly
      var merges = 0
      while (merges < m - 1) {
        var wa = 0L; var ia = 0
        if (li < m && (ir >= iw || sw(li) <= intW(ir))) {
          wa = sw(li); ia = sid(li); li += 1
        } else { wa = intW(ir); ia = n + ir; ir += 1 }
        var wb = 0L; var ib = 0
        if (li < m && (ir >= iw || sw(li) <= intW(ir))) {
          wb = sw(li); ib = sid(li); li += 1
        } else { wb = intW(ir); ib = n + ir; ir += 1 }
        left(n + iw) = ia
        right(n + iw) = ib
        intW(iw) = wa + wb
        iw += 1
        merges += 1
      }
      // iterative depth propagation: children were always created
      // before their parent, so a reverse sweep sees parents first
      val depth = new Array[Int](m)
      var maxDepth = 0
      var node = iw - 1
      while (node >= 0) {
        val d = if (node == iw - 1) 0 else depth(node)
        val l = left(n + node)
        val r = right(n + node)
        if (l < n) {
          val dl = math.max(d + 1, 1)
          lengths(l) = dl
          if (dl > maxDepth) maxDepth = dl
        } else depth(l - n) = d + 1
        if (r < n) {
          val dr = math.max(d + 1, 1)
          lengths(r) = dr
          if (dr > maxDepth) maxDepth = dr
        } else depth(r - n) = d + 1
        node -= 1
      }
      if (maxDepth <= maxLen) done = true
      else floor = floor * 4 // compress the dynamic range, retry
    }
    lengths
  }

  /** Canonical codes (VP8L/DEFLATE convention) from lengths. */
  private def canonical(lengths: Array[Int]): Array[Int] = {
    var maxLen = 0
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) > maxLen) maxLen = lengths(i)
      i += 1
    }
    val counts = new Array[Int](maxLen + 1)
    i = 0
    while (i < lengths.length) {
      if (lengths(i) > 0) counts(lengths(i)) += 1
      i += 1
    }
    val nextCode = new Array[Int](maxLen + 2)
    var code = 0
    var l = 1
    while (l <= maxLen) {
      code = (code + counts(l - 1)) << 1
      nextCode(l) = code
      l += 1
    }
    val out = new Array[Int](lengths.length)
    i = 0
    while (i < lengths.length) {
      val len = lengths(i)
      if (len > 0) { out(i) = nextCode(len); nextCode(len) += 1 }
      i += 1
    }
    out
  }

  private val CodeLengthOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** Write one NORMAL Huffman code: symbol code lengths emitted through
    * the real code-length coding (no repeat codes — every length is
    * written as its own code-length symbol, which is valid if
    * suboptimal, and keeps the fixture stream verifiable by hand).
    */
  private def writeNormalCode(bw: BitBuf, lengths: Array[Int]): Unit = {
    bw.put(0, 1) // normal form
    // code-length-code: histogram of the code-length symbols (0..15 used)
    val clFreq = new Array[Long](19)
    var hi = 0
    while (hi < lengths.length) { clFreq(lengths(hi)) += 1; hi += 1 }
    val clLengths = huffmanLengths(clFreq, maxLen = 7) // 3-bit length slots
    // emit all 19 slots in storage order (num_code_lengths = 19)
    bw.put(19 - 4, 4)
    CodeLengthOrder.foreach(s => bw.put(clLengths(s), 3))
    bw.put(0, 1) // no max-symbol shortcut
    // the one-symbol-tree rule applies HERE too: a channel whose symbols
    // all share one code length (e.g. a perfectly uniform 256-value
    // histogram → every length 8) collapses the code-length code to a
    // single symbol, which the decoder reads with ZERO bits per token
    val clSingle = clLengths.count(_ > 0) == 1
    val clCodes = canonical(clLengths)
    if (!clSingle) {
      var wi = 0
      while (wi < lengths.length) {
        val l = lengths(wi)
        bw.put(java.lang.Integer.reverse(clCodes(l)) >>> (32 - clLengths(l)),
          clLengths(l))
        wi += 1
      }
    }
  }

  /** MSB-first canonical code written into the LSB-first stream: VP8L
    * reads Huffman codes bit-by-bit MSB-of-code-first, so the code bits
    * are emitted in that order (reverse of the writer's natural LSB
    * packing for multi-bit fields).
    */
  private def putCode(bw: BitBuf, code: Int, len: Int): Unit =
    // MSB-of-code-first == the code's bits reversed, written LSB-first
    // in ONE accumulator pass (byte-identical to the former per-bit
    // loop; the per-bit form was the encoder's hottest call site)
    bw.put(java.lang.Integer.reverse(code) >>> (32 - len), len)

  /** Complete valid lossless WebP from `(w, h, seed)`; null on
    * degenerate dims.
    */
  def webpBytes(w: Long, h: Long, seed: Long): Array[Byte] = {
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        3L * w * h > MaxPixelBytes) return null
    val wi = w.toInt; val hi = h.toInt
    val n = wi * hi
    // pixels from the formula; EVEN seeds apply the forward
    // subtract-green transform (whose delta channels collapse to
    // single-symbol zero-bit codes under this formula — the spec's
    // one-symbol-tree path), ODD seeds skip it so red/blue carry real
    // multi-symbol Huffman codes too — both decoder paths exercised
    // across any corpus
    val subtractGreen = java.lang.Math.floorMod(seed, 2) == 0
    val gArr = new Array[Int](n)
    val rArr = new Array[Int](n)
    val bArr = new Array[Int](n)
    var p = 0
    while (p < n) {
      val r = pix(seed, 3L * p)
      val g = pix(seed, 3L * p + 1)
      val bl = pix(seed, 3L * p + 2)
      gArr(p) = g
      rArr(p) = if (subtractGreen) (r - g) & 0xFF else r
      bArr(p) = if (subtractGreen) (bl - g) & 0xFF else bl
      p += 1
    }
    // histograms → real Huffman codes (green alphabet 256+24, no cache)
    val gFreq = new Array[Long](256 + 24)
    val rFreq = new Array[Long](256)
    val bFreq = new Array[Long](256)
    p = 0
    while (p < n) {
      gFreq(gArr(p)) += 1; rFreq(rArr(p)) += 1; bFreq(bArr(p)) += 1
      p += 1
    }
    val aFreq = new Array[Long](256)
    aFreq(255) = n.toLong // constant alpha
    val gLen = huffmanLengths(gFreq)
    val rLen = huffmanLengths(rFreq)
    val bLen = huffmanLengths(bFreq)
    val gCode = canonical(gLen)
    val rCode = canonical(rLen)
    val bCode = canonical(bLen)
    // a single-symbol Huffman code consumes ZERO bits per symbol (the
    // spec's one-symbol-tree rule) — and subtract-green makes the
    // fixture's red/blue channels constant, so this path is the NORM
    // here, not a corner: skip emission entirely for such channels
    val gSingle = gLen.count(_ > 0) == 1
    val rSingle = rLen.count(_ > 0) == 1
    val bSingle = bLen.count(_ > 0) == 1
    val bw = new BitBuf
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version
    if (subtractGreen) { bw.put(1, 1); bw.put(2, 2); bw.put(0, 1) }
    else bw.put(0, 1) // no transforms
    bw.put(0, 1) // no color cache
    bw.put(0, 1) // no meta-Huffman
    writeNormalCode(bw, gLen)
    writeNormalCode(bw, rLen)
    writeNormalCode(bw, bLen)
    // alpha: simple 1-symbol code for 255; distance: simple 1-symbol
    def simpleOne(sym: Int): Unit = {
      bw.put(1, 1) // simple
      bw.put(0, 1) // one symbol
      bw.put(1, 1) // 8-bit first symbol
      bw.put(sym, 8)
    }
    simpleOne(255)
    simpleOne(0)
    p = 0
    while (p < n) {
      if (!gSingle) putCode(bw, gCode(gArr(p)), gLen(gArr(p)))
      if (!rSingle) putCode(bw, rCode(rArr(p)), rLen(rArr(p)))
      if (!bSingle) putCode(bw, bCode(bArr(p)), bLen(bArr(p)))
      // alpha + distance are single-symbol zero-bit codes: nothing emitted
      p += 1
    }
    bw.flush()
    val pl = bw.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    def le32(v: Long): Unit = {
      out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
      out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
    }
    ascii("RIFF")
    le32(4L + 8 + pl.length + (pl.length & 1))
    ascii("WEBP")
    ascii("VP8L")
    le32(pl.length.toLong)
    out.write(pl, 0, pl.length)
    if ((pl.length & 1) == 1) out.write(0) // RIFF even padding
    out.toByteArray
  }

  /** Shorthand used by [[webpBytesPred]]: one literal-only sub-image
    * (predictor modes / entropy image), really entropy-coded — green
    * through a normal Huffman code built from its histogram, constant
    * r/b/a/distance through single-symbol simple codes.
    */
  private def writeSubImage(bw: BitBuf, greens: Array[Int],
      rConst: Int, bConst: Int, aConst: Int): Unit = {
    bw.put(0, 1) // no color cache
    val gFreq = new Array[Long](256 + 24)
    greens.foreach(g => gFreq(g) += 1)
    val gLen = huffmanLengths(gFreq)
    val gCode = canonical(gLen)
    val gSingle = gLen.count(_ > 0) == 1
    writeNormalCode(bw, gLen)
    def simpleOne(sym: Int): Unit = {
      bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(sym, 8)
    }
    simpleOne(rConst); simpleOne(bConst); simpleOne(aConst); simpleOne(0)
    if (!gSingle) greens.foreach(g => putCode(bw, gCode(g), gLen(g)))
  }

  /** Static Kraft-complete code sets for [[webpBytesPred]], built once
    * per JVM. Group 0's green code gives the FIRST 232 symbols 8 bits
    * (rest 9); group 1 gives the LAST 232 symbols 8 bits — distinct
    * per-group codes keep the meta-Huffman routing observable. R/B use
    * the flat 256×8 code in both groups.
    */
  private object StaticPredCodes {
    private val green: Array[Array[Int]] = Array.tabulate(2) { gi =>
      val a = new Array[Int](256 + 24)
      var i = 0
      while (i < a.length) {
        val eightBit = if (gi == 0) i < 232 else i >= 48
        a(i) = if (eightBit) 8 else 9
        i += 1
      }
      a
    }
    private val byteLen: Array[Int] = Array.fill(256)(8)
    private val greenC: Array[Array[Int]] = green.map(canonical)
    private val byteC: Array[Int] = canonical(byteLen)
    def greenLengths(gi: Int): Array[Int] = green(gi % 2)
    def greenCodes(gi: Int): Array[Int] = greenC(gi % 2)
    def byteLengths: Array[Int] = byteLen
    def byteCodes: Array[Int] = byteC

    /** One normal-code header, emitted ONCE per JVM with repeat-16 run
      * coding (the spec's 3-6-symbol repeat of the previous length) and
      * replayed as a packed bit sequence per image. Besides pricing, this
      * puts the 16-code branch of the decoder's length reader on a real
      * stream (it was previously golden-only): ~50 code-length symbols
      * per header instead of 280 — header lengths were nearly HALF of
      * all symbol decodes for small images.
      */
    final class Header(val bytes: Array[Byte], val nbits: Int)

    private def buildHeader(lengths: Array[Int]): Header = {
      // run-length tokens: (clSym, extraBits, extraVal)
      val syms = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        var run = 1
        while (i + run < lengths.length && lengths(i + run) == l) run += 1
        syms += ((l, 0, 0))
        var rem = run - 1
        while (rem >= 3) {
          val k = math.min(6, rem)
          syms += ((16, 2, k - 3))
          rem -= k
        }
        var e = 0
        while (e < rem) { syms += ((l, 0, 0)); e += 1 }
        i += run
      }
      val clFreq = new Array[Long](19)
      syms.foreach(t => clFreq(t._1) += 1)
      val clLengths = huffmanLengths(clFreq, maxLen = 7)
      val clSingle = clLengths.count(_ > 0) == 1
      val clCodes = canonical(clLengths)
      val bw = new BitBuf
      bw.put(0, 1) // normal form
      bw.put(19 - 4, 4)
      CodeLengthOrder.foreach(sm => bw.put(clLengths(sm), 3))
      bw.put(0, 1) // no max-symbol shortcut
      syms.foreach { case (sm, eb, ev) =>
        if (!clSingle)
          bw.put(java.lang.Integer.reverse(clCodes(sm)) >>> (32 - clLengths(sm)),
            clLengths(sm))
        if (eb > 0) bw.put(ev, eb)
      }
      val nbits = bw.bitLength
      bw.flush()
      new Header(bw.toByteArray, nbits)
    }

    private val greenH: Array[Header] = green.map(buildHeader)
    private val byteH: Header = buildHeader(byteLen)
    def greenHeader(gi: Int): Header = greenH(gi % 2)
    def byteHeader: Header = byteH
  }

  /** PREDICTOR + META-HUFFMAN fixture encoder — the round-11 companion
    * to [[webpBytes]] proving the decoder's transform machinery on real
    * streams (per-mode spec semantics are pinned separately by
    * hand-built goldens in ScaleOpsSpec). Pixels are the SAME generative
    * formula, so the same oracle replays them; the stream differs
    * structurally: a predictor transform with 4×4 blocks whose modes
    * cycle `(seed + blockIdx) mod 14` (every mode appears across any
    * corpus), residuals computed by the exact forward of the decoder's
    * reconstruction, and — when the image spans ≥ 2 blocks — a
    * meta-Huffman entropy image routing alternate blocks to TWO distinct
    * Huffman group codes (static Kraft-complete length sets that DIFFER
    * between the groups — see [[StaticPredCodes]] — so mis-routing is
    * observable; residual histograms are near-uniform, making per-image
    * optimal codes indistinguishable from flat ones on the wire). The
    * predictor-mode image and the entropy image are themselves real
    * entropy-coded sub-images. Null on degenerate dims, as webpBytes.
    */
  def webpBytesPred(w: Long, h: Long, seed: Long): Array[Byte] = {
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        3L * w * h > MaxPixelBytes) return null
    val wi = w.toInt; val hi = h.toInt
    val n = wi * hi
    val px = new Array[Int](n)
    var p = 0
    while (p < n) {
      px(p) = 0xFF000000 | (pix(seed, 3L * p) << 16) |
        (pix(seed, 3L * p + 1) << 8) | pix(seed, 3L * p + 2)
      p += 1
    }
    val tw = (wi + 3) >> 2
    val th = (hi + 3) >> 2
    val nb = tw * th
    val modes = Array.tabulate(nb)(bi =>
      ((java.lang.Math.floorMod(seed, 14) + bi) % 14).toInt)
    // forward residuals: res = px − pred per channel mod 256, preds over
    // FINAL pixels — the exact forward of the decoder's inverse
    val resG = new Array[Int](n)
    val resR = new Array[Int](n)
    val resB = new Array[Int](n)
    p = 0
    var y = 0
    while (y < hi) {
      var x = 0
      while (x < wi) {
        val pred =
          if (x == 0 && y == 0) 0xFF000000
          else if (y == 0) px(p - 1)
          else if (x == 0) px(p - wi)
          else WebpCodec.predict(modes((y >> 2) * tw + (x >> 2)),
            px(p - 1), px(p - wi), px(p - wi + 1), px(p - wi - 1))
        resR(p) = ((px(p) >> 16) - (pred >> 16)) & 0xFF
        resG(p) = ((px(p) >> 8) - (pred >> 8)) & 0xFF
        resB(p) = (px(p) - pred) & 0xFF
        x += 1
        p += 1
      }
      y += 1
    }
    val numGroups = if (nb >= 2) 2 else 1
    // group of every pixel, precomputed with incremental coordinates
    // (the former per-call div/mod ran twice per pixel across the
    // histogram and emit passes)
    val grp = new Array[Byte](n)
    if (numGroups == 2) {
      var gy = 0
      var gp = 0
      while (gy < hi) {
        val rowBase = (gy >> 2) * tw
        var gx = 0
        while (gx < wi) {
          grp(gp) = ((rowBase + (gx >> 2)) % 2).toByte
          gx += 1
          gp += 1
        }
        gy += 1
      }
    }
    def groupOf(pos: Int): Int = grp(pos)
    // STATIC complete code sets (round 12): per-image optimal-Huffman
    // construction was ~40% of the timed synthesize→decode lane while
    // adding nothing the lane verifies — residual histograms here are
    // near-uniform, so the optimal code was ~flat anyway. The stream
    // stays a fully REAL normal-code VP8L stream (every length walks
    // the code-length coding; the decoder builds and uses the tables
    // exactly as before), and the two groups get DIFFERENT length
    // sets, so a meta-routing bug still lands on wrong codes and flips
    // the key hash. Kraft-complete by construction: 232·2^-8 + 48·2^-9
    // = 1 for greens, 256·2^-8 = 1 for R/B.
    val gLen = Array.tabulate(numGroups)(StaticPredCodes.greenLengths)
    val rLen = Array.fill(numGroups)(StaticPredCodes.byteLengths)
    val bLen = rLen
    val gCode = Array.tabulate(numGroups)(StaticPredCodes.greenCodes)
    val rCode = Array.fill(numGroups)(StaticPredCodes.byteCodes)
    val bCode = rCode
    val gSingle = Array.fill(numGroups)(false)
    val rSingle = gSingle
    val bSingle = gSingle
    val bw = new BitBuf
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version
    // predictor transform, 4×4 blocks, mode image really entropy-coded
    bw.put(1, 1)
    bw.put(0, 2) // type: predictor
    bw.put(0, 3) // size_bits − 2 = 0 → 4-pixel blocks
    writeSubImage(bw, modes, rConst = 0, bConst = 0, aConst = 255)
    bw.put(0, 1) // end of transforms
    bw.put(0, 1) // no color cache
    if (numGroups == 2) {
      bw.put(1, 1) // meta-Huffman present
      bw.put(0, 3) // huffman_bits − 2 = 0 → the same 4-pixel grid
      writeSubImage(bw, Array.tabulate(nb)(_ % 2),
        rConst = 0, bConst = 0, aConst = 255)
    } else bw.put(0, 1)
    def simpleOne(sym: Int): Unit = {
      bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(sym, 8)
    }
    var gi = 0
    while (gi < numGroups) {
      val gh = StaticPredCodes.greenHeader(gi)
      bw.putSeq(gh.bytes, gh.nbits)
      bw.putSeq(StaticPredCodes.byteHeader.bytes, StaticPredCodes.byteHeader.nbits)
      bw.putSeq(StaticPredCodes.byteHeader.bytes, StaticPredCodes.byteHeader.nbits)
      simpleOne(0) // alpha residual is constant 0 (all preds carry a=255)
      simpleOne(0) // distance (unused: literals only)
      gi += 1
    }
    p = 0
    while (p < n) {
      val g = groupOf(p)
      if (!gSingle(g)) putCode(bw, gCode(g)(resG(p)), gLen(g)(resG(p)))
      if (!rSingle(g)) putCode(bw, rCode(g)(resR(p)), rLen(g)(resR(p)))
      if (!bSingle(g)) putCode(bw, bCode(g)(resB(p)), bLen(g)(resB(p)))
      p += 1
    }
    bw.flush()
    val pl = bw.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    def le32(v: Long): Unit = {
      out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
      out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
    }
    ascii("RIFF")
    le32(4L + 8 + pl.length + (pl.length & 1))
    ascii("WEBP")
    ascii("VP8L")
    le32(pl.length.toLong)
    out.write(pl, 0, pl.length)
    if ((pl.length & 1) == 1) out.write(0) // RIFF even padding
    out.toByteArray
  }

  /** Fully-general literal image writer (all four channels vary) — the
    * palette sub-image's delta pixels need real codes on every channel.
    */
  private def writeLiteralImageFull(bw: BitBuf, px: Array[Int]): Unit = {
    bw.put(0, 1) // no color cache
    val gFreq = new Array[Long](256 + 24)
    val rFreq = new Array[Long](256)
    val bFreq = new Array[Long](256)
    val aFreq = new Array[Long](256)
    px.foreach { p =>
      gFreq((p >> 8) & 0xFF) += 1
      rFreq((p >> 16) & 0xFF) += 1
      bFreq(p & 0xFF) += 1
      aFreq((p >>> 24) & 0xFF) += 1
    }
    val lens = Array(huffmanLengths(gFreq), huffmanLengths(rFreq),
      huffmanLengths(bFreq), huffmanLengths(aFreq))
    val codes = lens.map(canonical)
    val singles = lens.map(_.count(_ > 0) == 1)
    lens.foreach(writeNormalCode(bw, _))
    bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(0, 8) // dist: simple 1-symbol
    px.foreach { p =>
      val chs = Array((p >> 8) & 0xFF, (p >> 16) & 0xFF, p & 0xFF,
        (p >>> 24) & 0xFF)
      var c = 0
      while (c < 4) {
        if (!singles(c)) putCode(bw, codes(c)(chs(c)), lens(c)(chs(c)))
        c += 1
      }
    }
  }

  /** COLOR-INDEXING (palette) fixture encoder — the last VP8L transform,
    * completing the decoder's format coverage: a `2 + (seed mod 31)`-color
    * palette (sizes 2–32 sweep all four pixel-bundling widths, including
    * the unpacked >16 form), DELTA-coded through a real entropy-coded
    * palette sub-image with varying codes on every channel, and a main
    * image of LSB-first-bundled packed indices at the REDUCED coded
    * width. Pixels replay arithmetically: index of pixel p is
    * `(seed·31 + p·7) mod size`, palette entry i is
    * `((seed·13 + i·11) mod 256, (seed·17 + i·7) mod 256,
    * (seed·19 + i·3) mod 256)` — the oracle recomputes both.
    */
  def webpBytesPalette(w: Long, h: Long, seed: Long): Array[Byte] = {
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        3L * w * h > MaxPixelBytes) return null
    val wi = w.toInt; val hi = h.toInt
    val size = 2 + java.lang.Math.floorMod(seed, 31).toInt
    def palR(i: Int) = java.lang.Math.floorMod(seed * 13 + i * 11L, 256).toInt
    def palG(i: Int) = java.lang.Math.floorMod(seed * 17 + i * 7L, 256).toInt
    def palB(i: Int) = java.lang.Math.floorMod(seed * 19 + i * 3L, 256).toInt
    def idxOf(p: Int) = java.lang.Math.floorMod(seed * 31 + p * 7L, size).toInt
    val widthBits =
      if (size <= 2) 3 else if (size <= 4) 2 else if (size <= 16) 1 else 0
    val packedW = (wi + (1 << widthBits) - 1) >> widthBits
    val bitsPerPx = 8 >> widthBits
    // delta-coded palette pixels (alpha 255 throughout → delta 0 past i=0)
    val palDelta = Array.tabulate(size) { i =>
      val (r, g, b) =
        if (i == 0) (palR(0), palG(0), palB(0))
        else ((palR(i) - palR(i - 1)) & 0xFF, (palG(i) - palG(i - 1)) & 0xFF,
          (palB(i) - palB(i - 1)) & 0xFF)
      val a = if (i == 0) 255 else 0
      (a << 24) | (r << 16) | (g << 8) | b
    }
    // packed main-image greens, bundled per row LSB-first
    val greens = new Array[Int](packedW * hi)
    var y = 0
    while (y < hi) {
      var x = 0
      while (x < wi) {
        val idx = idxOf(y * wi + x)
        val gi = y * packedW + (x >> widthBits)
        greens(gi) |= idx << (bitsPerPx * (x & ((1 << widthBits) - 1)))
        x += 1
      }
      y += 1
    }
    val bw = new BitBuf
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version
    bw.put(1, 1)
    bw.put(3, 2) // color-indexing transform
    bw.put(size - 1, 8)
    writeLiteralImageFull(bw, palDelta)
    bw.put(0, 1) // end of transforms
    bw.put(0, 1) // no color cache
    bw.put(0, 1) // no meta-Huffman
    // main image at the packed width: greens carry the bundled indices
    val gFreq = new Array[Long](256 + 24)
    greens.foreach(g => gFreq(g) += 1)
    val gLen = huffmanLengths(gFreq)
    val gCode = canonical(gLen)
    val gSingle = gLen.count(_ > 0) == 1
    writeNormalCode(bw, gLen)
    def simpleOne(sym: Int): Unit = {
      bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(sym, 8)
    }
    simpleOne(0); simpleOne(0); simpleOne(255); simpleOne(0)
    if (!gSingle) greens.foreach(g => putCode(bw, gCode(g), gLen(g)))
    bw.flush()
    val pl = bw.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def ascii(str: String): Unit =
      out.write(str.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    def le32(v: Long): Unit = {
      out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
      out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
    }
    ascii("RIFF")
    le32(4L + 8 + pl.length + (pl.length & 1))
    ascii("WEBP")
    ascii("VP8L")
    le32(pl.length.toLong)
    out.write(pl, 0, pl.length)
    if ((pl.length & 1) == 1) out.write(0) // RIFF even padding
    out.toByteArray
  }
}

/** Fixture expression for [[WebpSynth.webpBytesPred]] — the predictor +
  * meta-Huffman VP8L stream over the same generative pixels.
  */
case class SynthWebpLPred(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    WebpSynth.webpBytesPred(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WebpSynth.webpBytesPred($w, $h, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Fixture expression for [[WebpSynth.webpBytesPalette]] — the
  * color-indexing (palette) VP8L stream.
  */
case class SynthWebpLPalette(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    WebpSynth.webpBytesPalette(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WebpSynth.webpBytesPalette($w, $h, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WebpSynthFunctions {
  /** Column API: complete valid lossless WebP (VP8L) from `(w, h, seed)`:
    * real Huffman construction over the subtract-green channel histograms,
    * real code-length coding, LSB-first bitstream (see [[SynthWebpL]]).
    */
  def synth_webpl(w: Column, h: Column, seed: Column): Column =
    ExpressionUtils.column(SynthWebpL(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed)))

  /** Column API: predictor + meta-Huffman lossless WebP fixture: the same
    * generative pixels as `synth_webpl`, built through the
    * predictor/entropy-image machinery (see [[SynthWebpLPred]]).
    */
  def synth_webpl_pred(w: Column, h: Column, seed: Column): Column =
    ExpressionUtils.column(SynthWebpLPred(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed)))

  /** Column API: color-indexing (palette) lossless WebP fixture:
    * delta-coded palette sub-image + pixel-bundled packed indices (see
    * [[SynthWebpLPalette]]).
    */
  def synth_webpl_palette(w: Column, h: Column, seed: Column): Column =
    ExpressionUtils.column(SynthWebpLPalette(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed)))
}
