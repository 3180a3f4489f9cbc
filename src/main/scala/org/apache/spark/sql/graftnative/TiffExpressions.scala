package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** TIFF pixel decode (TIFF 6.0, the archival/scan format every
  * document corpus yields): BOTH byte orders (`II`/`MM`), the IFD entry
  * walk with inline-vs-offset value resolution, multi-strip assembly
  * via StripOffsets/StripByteCounts/RowsPerStrip, and the three
  * compressions scanned-document corpora actually carry — none (1),
  * PackBits (32773), and LZW (5, TIFF's MSB-first variant WITH the
  * spec's "early change" off-by-one, §13) — plus horizontal-predictor
  * undifferencing (tag 317 = 2, the usual companion of LZW). Sample
  * layouts: 8-bit grayscale (PhotometricInterp 1), 8-bit chunky RGB,
  * 8-bit palette (PhotometricInterp 3 via the 16-bit ColorMap, each
  * channel emitted as `value >> 8`), and 16-bit grayscale (high byte
  * emitted, honoring the file byte order — the same contract as the
  * 16-bit PNG path). Anything else — planar, tiled, 4-bit, float —
  * rejects to `'unknown'` honestly, and malformed IFDs / torn strips /
  * codec overruns reject rather than guess.
  */
object TiffCodec {

  private val MaxPixelBytes = 1 << 26

  /** TIFF §13 LZW: MSB-first bit packing, 9→12-bit codes, Clear=256,
    * EOI=257, and the spec'd EARLY CHANGE (the width bumps when the
    * next table slot is `2^w - 1`, one code sooner than plain LZW).
    * Returns exactly `need` bytes or null.
    */
  private[graftnative] def lzwDecode(b: Array[Byte], from: Int, to: Int,
      need: Int): Array[Byte] = {
    val out = new Array[Byte](need)
    var got = 0
    // table: per-code prefix link / final byte / expanded length
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val length = new Array[Int](4096)
    var i = 0
    while (i < 256) { prefix(i) = -1; suffix(i) = i.toByte; length(i) = 1; i += 1 }
    var nextCode = 258
    var width = 9
    var acc = 0L
    var nAcc = 0
    var pos = from
    var old = -1
    def nextSym(): Int = {
      while (nAcc < width && pos < to) {
        acc = (acc << 8) | (b(pos) & 0xFF)
        nAcc += 8
        pos += 1
      }
      if (nAcc < width) return -1
      nAcc -= width
      ((acc >>> nAcc) & ((1 << width) - 1)).toInt
    }
    def writeString(code: Int): Boolean = {
      val len = length(code)
      if (got + len > need) return false
      var at = got + len - 1
      var c = code
      while (c >= 0) { out(at) = suffix(c); at -= 1; c = prefix(c) }
      got += len
      true
    }
    var done = false
    while (!done) {
      val code = nextSym()
      if (code < 0) return null
      if (code == 257) { // EOI
        done = true
      } else if (code == 256) { // Clear
        nextCode = 258
        width = 9
        old = -1
      } else if (old < 0) {
        if (code > 255) return null
        if (!writeString(code)) return null
        old = code
      } else {
        if (code > nextCode || nextCode > 4095) return null
        val newCode = nextCode
        if (code == nextCode) {
          // the KwKwK case: string = old + firstChar(old)
          var c = old
          while (prefix(c) >= 0) c = prefix(c)
          prefix(newCode) = old; suffix(newCode) = suffix(c)
          length(newCode) = length(old) + 1
          if (!writeString(newCode)) return null
        } else {
          if (!writeString(code)) return null
          var c = code
          while (prefix(c) >= 0) c = prefix(c)
          prefix(newCode) = old; suffix(newCode) = suffix(c)
          length(newCode) = length(old) + 1
        }
        nextCode += 1
        if (nextCode == (1 << width) - 1 && width < 12) width += 1 // early change
        old = code
      }
      if (got == need && !done) {
        // spec requires EOI next (possibly after padding); accept
        // either EOI or exact exhaustion
        val tail = nextSym()
        if (tail != 257 && tail != -1) return null
        done = true
      }
    }
    if (got != need) return null
    out
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  /** Endian-aware readers; `le` is decided by the header. */
  private def u16(b: Array[Byte], i: Int, le: Boolean): Int =
    if (le) u8(b, i) | (u8(b, i + 1) << 8)
    else (u8(b, i) << 8) | u8(b, i + 1)
  private def u32(b: Array[Byte], i: Int, le: Boolean): Long =
    if (le) u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
    else (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong

  private final class Entry(val typ: Int, val count: Long, val at: Int)

  /** Decompress one strip/tile segment to exactly `need` bytes
    * (compression 1 = none, 5 = LZW, 32773 = PackBits), or null.
    */
  private def segment(b: Array[Byte], so: Long, sc: Long, need: Int,
      compression: Long): Array[Byte] = {
    if (so < 0 || sc < 0 || so + sc > b.length) return null
    if (compression == 1) {
      if (sc != need) return null
      java.util.Arrays.copyOfRange(b, so.toInt, (so + sc).toInt)
    } else if (compression == 5) {
      lzwDecode(b, so.toInt, (so + sc).toInt, need)
    } else {
      // PackBits (TIFF 6.0 §9): n in 0..127 -> copy n+1 literals;
      // n in -127..-1 -> repeat next byte 1-n times; -128 is a noop
      val out = new Array[Byte](need)
      var src = so.toInt
      val end = (so + sc).toInt
      var got = 0
      while (got < need) {
        if (src >= end) return null
        val n = b(src)
        src += 1
        if (n >= 0) {
          val len = n + 1
          if (src + len > end || got + len > need) return null
          System.arraycopy(b, src, out, got, len)
          src += len
          got += len
        } else if (n != -128) {
          val len = 1 - n
          if (src >= end || got + len > need) return null
          java.util.Arrays.fill(out, got, got + len, b(src))
          src += 1
          got += len
        }
      }
      out
    }
  }

  def isTiff(b: Array[Byte]): Boolean =
    b.length >= 8 &&
      ((b(0) == 'I' && b(1) == 'I' && u8(b, 2) == 0x2A && u8(b, 3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && u8(b, 2) == 0 && u8(b, 3) == 0x2A))

  def decode(b: Array[Byte]): InternalRow = {
    val unknown = ImageDecode.unknownRow
    if (!isTiff(b)) return unknown
    val le = b(0) == 'I'
    val ifdOff = u32(b, 4, le)
    if (ifdOff < 8 || ifdOff + 2 > b.length) return unknown
    val nEntries = u16(b, ifdOff.toInt, le)
    if (ifdOff + 2 + 12L * nEntries > b.length) return unknown
    val entries = new java.util.HashMap[Integer, Entry]()
    var e = 0
    while (e < nEntries) {
      val off = (ifdOff + 2 + 12 * e).toInt
      val tag = u16(b, off, le)
      val typ = u16(b, off + 2, le)
      val count = u32(b, off + 4, le)
      entries.put(tag, new Entry(typ, count, off + 8))
      e += 1
    }
    // value reader: SHORT(3)=2 bytes, LONG(4)=4 bytes; arrays over 4
    // bytes live at the u32 offset in the value slot
    def values(en: Entry, maxN: Int): Array[Long] = {
      if (en == null) return null
      val sz = en.typ match {
        case 3 => 2
        case 4 => 4
        case _ => return null
      }
      if (en.count < 1 || en.count > maxN) return null
      val n = en.count.toInt
      val base =
        if (sz * n <= 4) en.at.toLong
        else u32(b, en.at, le)
      if (base < 0 || base + sz.toLong * n > b.length) return null
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) =
          if (sz == 2) u16(b, (base + 2 * i).toInt, le)
          else u32(b, (base + 4 * i).toInt, le)
        i += 1
      }
      out
    }
    def one(tag: Int, default: Long = -1L): Long = {
      val v = values(entries.get(tag), 1)
      if (v == null) default else v(0)
    }

    val w = one(256)
    val h = one(257)
    if (w < 1 || h < 1 || w > 65535 || h > 65535) return unknown
    val compression = one(259, 1)
    if (compression != 1 && compression != 32773 && compression != 5)
      return unknown
    val photometric = one(262)
    val spp = one(277, 1).toInt
    val bits = values(entries.get(258), 4)
    if (bits == null || bits.length < spp) return unknown
    val depth = bits(0)
    if (bits.take(spp).exists(_ != depth)) return unknown
    // supported sample layouts (chunky only)
    val palette = photometric == 3
    val sppOk =
      (photometric == 1 && spp == 1 && (depth == 8 || depth == 16)) ||
        (photometric == 2 && spp == 3 && depth == 8) ||
        (palette && spp == 1 && depth == 8)
    if (!sppOk) return unknown
    if (one(284, 1) != 1) return unknown // chunky only
    val predictor = one(317, 1)
    if (predictor != 1 && predictor != 2) return unknown
    if (predictor == 2 && depth != 8) return unknown
    var cmap: Array[Long] = null
    if (palette) {
      cmap = values(entries.get(320), 768)
      if (cmap == null || cmap.length != 768) return unknown
    }
    val ch = if (photometric == 2 || palette) 3 else 1
    if (ch.toLong * w * h > MaxPixelBytes) return unknown
    val bytesPerSample = depth.toInt / 8
    val rowRaw = (w * spp * bytesPerSample).toInt
    val raw = new Array[Byte](rowRaw * h.toInt)
    val tiled = entries.containsKey(322) || entries.containsKey(324)
    if (tiled) {
      // ---- tiled organization (TIFF 6.0 §15): fixed tw×th tiles,
      // edge tiles padded to FULL size in the data; the predictor
      // undifferences per TILE row (each tile is independent)
      val tw = one(322)
      val th = one(323)
      if (tw < 16 || th < 16 || tw % 16 != 0 || th % 16 != 0) return unknown
      val across = ((w + tw - 1) / tw).toInt
      val down = ((h + th - 1) / th).toInt
      val nTiles = across * down
      if (nTiles > (1 << 16)) return unknown
      val offs = values(entries.get(324), nTiles)
      val counts = values(entries.get(325), nTiles)
      if (offs == null || counts == null || offs.length != nTiles ||
          counts.length != nTiles) return unknown
      val tileRowBytes = (tw * spp * bytesPerSample).toInt
      val need = tileRowBytes * th.toInt
      var t = 0
      while (t < nTiles) {
        val data = segment(b, offs(t), counts(t), need, compression)
        if (data == null) return unknown
        if (predictor == 2) {
          var ty = 0
          while (ty < th) {
            val base = ty * tileRowBytes
            var x = spp
            while (x < tileRowBytes) {
              data(base + x) = (data(base + x) + data(base + x - spp)).toByte
              x += 1
            }
            ty += 1
          }
        }
        // copy the in-bounds region into the raster
        val tx0 = (t % across) * tw
        val ty0 = (t / across) * th
        val copyCols = (math.min(tw, w - tx0) * spp * bytesPerSample).toInt
        val copyRows = math.min(th, h - ty0).toInt
        var r = 0
        while (r < copyRows) {
          System.arraycopy(data, r * tileRowBytes, raw,
            ((ty0 + r) * rowRaw + tx0 * spp * bytesPerSample).toInt, copyCols)
          r += 1
        }
        t += 1
      }
    } else {
      val rowsPerStrip = one(278, h)
      if (rowsPerStrip < 1) return unknown
      val nStrips = ((h + rowsPerStrip - 1) / rowsPerStrip).toInt
      val offs = values(entries.get(273), nStrips)
      val counts = values(entries.get(279), nStrips)
      if (offs == null || counts == null || offs.length != nStrips ||
          counts.length != nStrips) return unknown
      // ---- strips -> raw sample bytes (pre-predictor, pre-mapping)
      var strip = 0
      var dst = 0
      while (strip < nStrips) {
        val rows = math.min(rowsPerStrip, h - strip.toLong * rowsPerStrip)
        val need = (rows * rowRaw).toInt
        val data = segment(b, offs(strip), counts(strip), need, compression)
        if (data == null) return unknown
        System.arraycopy(data, 0, raw, dst, need)
        dst += need
        strip += 1
      }
      // ---- horizontal predictor (tag 317 = 2): per-row, per-channel
      // cumulative sums restore the original samples (TIFF 6.0 §14)
      if (predictor == 2) {
        var y = 0
        while (y < h) {
          val base = y * rowRaw
          var x = spp
          while (x < rowRaw) {
            raw(base + x) = (raw(base + x) + raw(base + x - spp)).toByte
            x += 1
          }
          y += 1
        }
      }
    }

    // ---- sample mapping -> 8-bit output raster
    val out = new Array[Byte]((ch * w * h).toInt)
    if (depth == 16) {
      // high byte, honoring the file byte order
      val hi = if (le) 1 else 0
      var p = 0
      val n = (w * h).toInt
      while (p < n) { out(p) = raw(2 * p + hi); p += 1 }
    } else if (palette) {
      // ColorMap entries are 16-bit; emit each channel's high byte
      var p = 0
      val n = (w * h).toInt
      while (p < n) {
        val idx = raw(p) & 0xFF
        out(3 * p) = (cmap(idx) >> 8).toByte
        out(3 * p + 1) = (cmap(256 + idx) >> 8).toByte
        out(3 * p + 2) = (cmap(512 + idx) >> 8).toByte
        p += 1
      }
    } else {
      System.arraycopy(raw, 0, out, 0, out.length)
    }
    ImageDecode.rasterRow(ImageDecode.FmtTiff, w.toInt, h.toInt, ch, out)
  }
}

/** Fixture ENCODER for TIFF: complete valid files in BOTH byte orders,
  * multi-strip (RowsPerStrip 4), uncompressed, really PackBits-coded,
  * or really LZW-coded (a real MSB-first dictionary coder with the
  * spec's early change, not canned bytes). `mode`:
  * 0 = II uncompressed RGB, 1 = MM uncompressed RGB (same pixels, so
  * endianness bugs flip the hash), 2 = II PackBits GRAYSCALE with
  * alternating constant rows (runs) and varying rows (literals),
  * 3 = MM PackBits RGB, 4 = II LZW grayscale, 5 = MM LZW RGB with the
  * horizontal predictor (tag 317 = 2, the usual LZW companion),
  * 6 = II 8-bit PALETTE (formula-generated 16-bit ColorMap),
  * 7 = MM 16-bit grayscale, 8 = II LZW 16-bit grayscale (byte order ×
  * sample width × compression all crossed). Pixels follow the shared
  * generative formulas, which is what the oracle replays.
  */
object TiffSynth {

  private def floorMod(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  /** RGB pixel formula (modes 0/1/3): channel c of pixel p is
    * `(seed·31 + (3p+c)·7) mod 256` — the shared raster fixture formula.
    */
  def rgbAt(seed: Long, p: Long, c: Int): Int = floorMod(seed * 31 + (3 * p + c) * 7, 256)

  /** Gray formula (modes 2/4): even rows constant `(seed·31 + y·13) mod
    * 256` (PackBits runs), odd rows vary per pixel (literals).
    */
  def grayAt(seed: Long, w: Long, x: Long, y: Long): Int =
    if (y % 2 == 0) floorMod(seed * 31 + y * 13, 256)
    else floorMod(seed * 31 + (y * w + x) * 7, 256)

  /** Palette-index formula (mode 6): `(seed·31 + p·7) mod 256`. */
  def palIdxAt(seed: Long, p: Long): Int = floorMod(seed * 31 + p * 7, 256)

  /** 16-bit ColorMap formulas (mode 6), one per channel; the decoder
    * emits the high byte (`value >> 8`).
    */
  def cmapAt(chan: Int, idx: Int, seed: Long): Int = chan match {
    case 0 => floorMod(idx * 997L + seed * 13, 65536)
    case 1 => floorMod(idx * 2039L + seed * 17, 65536)
    case _ => floorMod(idx * 3571L + seed * 19, 65536)
  }

  /** 16-bit gray sample formula (modes 7/8). */
  def gray16At(seed: Long, p: Long): Int = floorMod(seed * 131 + p * 251, 65536)

  /** TIFF §13 LZW encoder: MSB-first packing, Clear up front, EOI at
    * the end, dictionary growth with the spec's EARLY CHANGE (width
    * bumps when the next free slot is `2^w - 1`), and a Clear+reset
    * when the table fills (real-encoder behavior, so multi-KB strips
    * exercise the decoder's width ladder and Clear handling).
    */
  private[graftnative] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nAcc = 0
    var width = 9
    def emit(code: Int): Unit = {
      acc = (acc << width) | code
      nAcc += width
      while (nAcc >= 8) {
        nAcc -= 8
        out.write(((acc >>> nAcc) & 0xFF).toInt)
      }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var nextCode = 258
    emit(256) // Clear
    if (data.isEmpty) {
      emit(257)
    } else {
      var omega = data(0) & 0xFF
      var i = 1
      while (i < data.length) {
        val c = data(i) & 0xFF
        val key = Integer.valueOf((omega << 8) | c)
        val hit = dict.get(key)
        if (hit != null) {
          omega = hit.intValue()
        } else {
          emit(omega)
          dict.put(key, Integer.valueOf(nextCode))
          nextCode += 1
          // The encoder switches one slot LATER than the decoder
          // (2^w vs the decoder's 2^w - 1): the decoder's table add
          // lags the encoder's by exactly one code, so these two
          // triggers land the width change on the SAME code index —
          // the spec's "early change" pairing (TIFF 6.0 §13).
          if (nextCode == (1 << width) && width < 12) width += 1
          if (nextCode > 4094) { // keep slot 4095 unused, spec-style
            emit(256)
            dict.clear()
            nextCode = 258
            width = 9
          }
          omega = c
        }
        i += 1
      }
      emit(omega)
      emit(257) // EOI
    }
    if (nAcc > 0) out.write(((acc << (8 - nAcc)) & 0xFF).toInt)
    out.toByteArray
  }

  /** Real PackBits packer: maximal runs (≥3 repeats) as repeat packets,
    * everything else as literal packets of up to 128 bytes.
    */
  private def packBits(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < row.length) {
      var run = 1
      while (i + run < row.length && row(i + run) == row(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(1 - run) // -(run-1) as signed byte
        out.write(row(i))
        i += run
      } else {
        var lit = i + run
        // extend the literal until a ≥3-run starts or 128 bytes
        var done = false
        while (!done && lit < row.length && lit - i < 128) {
          var r2 = 1
          while (lit + r2 < row.length && row(lit + r2) == row(lit) && r2 < 3) r2 += 1
          if (r2 >= 3) done = true else lit += r2
        }
        if (lit - i > 128) lit = i + 128
        out.write(lit - i - 1)
        out.write(row, i, lit - i)
        i = lit
      }
    }
    out.toByteArray
  }

  def tiffBytes(wL: Long, hL: Long, seed: Long, mode: Int): Array[Byte] = {
    if (wL < 1 || hL < 1 || wL > 1024 || hL > 1024) return null
    if (mode == 9 || mode == 10) return tiffTiledBytes(wL, hL, seed, mode)
    val w = wL.toInt; val h = hL.toInt
    val le = mode == 0 || mode == 2 || mode == 4 || mode == 6 || mode == 8
    val gray = mode == 2 || mode == 4
    val rgb = mode == 0 || mode == 1 || mode == 3 || mode == 5
    val pal = mode == 6
    val g16 = mode == 7 || mode == 8
    val packed = mode == 2 || mode == 3
    val lzw = mode == 4 || mode == 5 || mode == 8
    val pred2 = mode == 5
    val spp = if (rgb) 3 else 1
    val bytesPerSample = if (g16) 2 else 1
    val rowRaw = w * spp * bytesPerSample
    val rowsPerStrip = 4
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    // raw sample bytes (file byte order for the 16-bit samples)
    val raw = new Array[Byte](rowRaw * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y.toLong * w + x
        if (g16) {
          val v = gray16At(seed, p)
          val at = y * rowRaw + 2 * x
          if (le) { raw(at) = (v & 0xFF).toByte; raw(at + 1) = (v >> 8).toByte }
          else { raw(at) = (v >> 8).toByte; raw(at + 1) = (v & 0xFF).toByte }
        } else if (pal) {
          raw(y * w + x) = palIdxAt(seed, p).toByte
        } else if (gray) {
          raw(y * w + x) = grayAt(seed, w, x, y).toByte
        } else {
          var c = 0
          while (c < 3) {
            raw((y * w + x) * 3 + c) = rgbAt(seed, p, c).toByte
            c += 1
          }
        }
        x += 1
      }
      y += 1
    }
    // horizontal predictor (mode 5): per-row per-channel differencing
    if (pred2) {
      y = 0
      while (y < h) {
        val base = y * rowRaw
        var x = rowRaw - 1
        while (x >= spp) {
          raw(base + x) = (raw(base + x) - raw(base + x - spp)).toByte
          x -= 1
        }
        y += 1
      }
    }
    // strips
    val strips = new Array[Array[Byte]](nStrips)
    var s = 0
    while (s < nStrips) {
      val r0 = s * rowsPerStrip
      val rows = math.min(rowsPerStrip, h - r0)
      val seg = java.util.Arrays.copyOfRange(raw, r0 * rowRaw,
        (r0 + rows) * rowRaw)
      strips(s) =
        if (packed) packBits(seg)
        else if (lzw) lzwEncode(seg)
        else seg
      s += 1
    }

    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (le) { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      else { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
    def w32(v: Long): Unit =
      if (le) {
        out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
        out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
      } else {
        out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
        out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
      }
    // header
    if (le) { out.write('I'); out.write('I'); w16(42) }
    else { out.write('M'); out.write('M'); w16(42) }
    w32(8) // IFD at offset 8
    // 256,257,258,259,262,273,278,279,284 always; +277 for RGB;
    // +317 for the predictor; +320 for the ColorMap
    val nEntries = 9 + (if (rgb) 1 else 0) + (if (pred2) 1 else 0) +
      (if (pal) 1 else 0)
    val ifdSize = 2 + 12 * nEntries + 4
    // layout after IFD: [bits array if rgb: 6 bytes] [colormap if
    // palette: 1536] [strip offsets 4n] [strip counts 4n] [strip data]
    var cursor = 8L + ifdSize
    val bitsOff = cursor
    if (rgb) cursor += 6
    val cmapOff = cursor
    if (pal) cursor += 1536
    val needOffArrays = nStrips > 1
    val offArrAt = cursor
    if (needOffArrays) cursor += 4L * nStrips
    val cntArrAt = cursor
    if (needOffArrays) cursor += 4L * nStrips
    val stripOffs = new Array[Long](nStrips)
    s = 0
    while (s < nStrips) { stripOffs(s) = cursor; cursor += strips(s).length; s += 1 }

    w16(nEntries)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      w16(tag); w16(typ); w32(count)
      if (typ == 3 && count == 1) {
        // SHORT value packs into the upper half of the slot
        w16(value.toInt); w16(0)
      } else w32(value)
    }
    entry(256, 4, 1, w)  // ImageWidth
    entry(257, 4, 1, h)  // ImageLength
    if (rgb) entry(258, 3, 3, bitsOff) // BitsPerSample array at offset
    else entry(258, 3, 1, if (g16) 16 else 8)
    entry(259, 3, 1, if (packed) 32773 else if (lzw) 5 else 1)
    entry(262, 3, 1, if (rgb) 2 else if (pal) 3 else 1)
    if (nStrips == 1) entry(273, 4, 1, stripOffs(0))
    else entry(273, 4, nStrips, offArrAt)
    if (rgb) entry(277, 3, 1, 3)
    entry(278, 4, 1, rowsPerStrip)
    if (nStrips == 1) entry(279, 4, 1, strips(0).length)
    else entry(279, 4, nStrips, cntArrAt)
    entry(284, 3, 1, 1)
    if (pred2) entry(317, 3, 1, 2)
    if (pal) entry(320, 3, 768, cmapOff)
    w32(0) // no next IFD
    if (rgb) { w16(8); w16(8); w16(8) }
    if (pal) {
      var chan = 0
      while (chan < 3) {
        var idx = 0
        while (idx < 256) { w16(cmapAt(chan, idx, seed)); idx += 1 }
        chan += 1
      }
    }
    if (needOffArrays) {
      s = 0
      while (s < nStrips) { w32(stripOffs(s)); s += 1 }
      s = 0
      while (s < nStrips) { w32(strips(s).length); s += 1 }
    }
    s = 0
    while (s < nStrips) { out.write(strips(s), 0, strips(s).length); s += 1 }
    out.toByteArray
  }

  /** Tiled fixture (modes 9/10): 16×16 tiles with edge padding, tile
    * offset/count arrays (tags 322-325). Mode 9 = II tiled LZW RGB
    * with the horizontal predictor (undifferencing restarts per TILE
    * row — the tile-independence contract); mode 10 = MM tiled
    * uncompressed 16-bit grayscale. Pixel formulas are the shared
    * ones (rgbAt / gray16At), so the same oracles replay them.
    */
  private def tiffTiledBytes(wL: Long, hL: Long, seed: Long,
      mode: Int): Array[Byte] = {
    val w = wL.toInt; val h = hL.toInt
    val le = mode == 9
    val rgb = mode == 9
    val g16 = mode == 10
    val pred2 = mode == 9
    val lzw = mode == 9
    val spp = if (rgb) 3 else 1
    val bps = if (g16) 2 else 1
    val tw = 16; val th = 16
    val across = (w + tw - 1) / tw
    val down = (h + th - 1) / th
    val nTiles = across * down
    val rowRaw = w * spp * bps
    val raw = new Array[Byte](rowRaw * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pix = y.toLong * w + x
        if (g16) {
          val v = gray16At(seed, pix)
          val at = y * rowRaw + 2 * x
          if (le) { raw(at) = (v & 0xFF).toByte; raw(at + 1) = (v >> 8).toByte }
          else { raw(at) = (v >> 8).toByte; raw(at + 1) = (v & 0xFF).toByte }
        } else {
          var c = 0
          while (c < 3) {
            raw((y * w + x) * 3 + c) = rgbAt(seed, pix, c).toByte
            c += 1
          }
        }
        x += 1
      }
      y += 1
    }
    val tileRowBytes = tw * spp * bps
    val tiles = new Array[Array[Byte]](nTiles)
    var t = 0
    while (t < nTiles) {
      val tx0 = (t % across) * tw
      val ty0 = (t / across) * th
      val buf = new Array[Byte](tileRowBytes * th) // zero edge padding
      var r = 0
      while (r < th) {
        val sy = ty0 + r
        if (sy < h) {
          val cols = math.min(tw, w - tx0) * spp * bps
          System.arraycopy(raw, sy * rowRaw + tx0 * spp * bps,
            buf, r * tileRowBytes, cols)
        }
        r += 1
      }
      if (pred2) {
        r = 0
        while (r < th) {
          val base = r * tileRowBytes
          var x = tileRowBytes - 1
          while (x >= spp) {
            buf(base + x) = (buf(base + x) - buf(base + x - spp)).toByte
            x -= 1
          }
          r += 1
        }
      }
      tiles(t) = if (lzw) lzwEncode(buf) else buf
      t += 1
    }

    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (le) { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      else { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
    def w32(v: Long): Unit =
      if (le) {
        out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
        out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
      } else {
        out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
        out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
      }
    if (le) { out.write('I'); out.write('I'); w16(42) }
    else { out.write('M'); out.write('M'); w16(42) }
    w32(8)
    // 256,257,258,259,262,284 + 277 (rgb) + 317 (pred) + 322,323,324,325
    val nEntries = 10 + (if (rgb) 1 else 0) + (if (pred2) 1 else 0)
    val ifdSize = 2 + 12 * nEntries + 4
    var cursor = 8L + ifdSize
    val bitsOff = cursor
    if (rgb) cursor += 6
    val offArrAt = cursor
    if (nTiles > 1) cursor += 4L * nTiles
    val cntArrAt = cursor
    if (nTiles > 1) cursor += 4L * nTiles
    val tileOffs = new Array[Long](nTiles)
    t = 0
    while (t < nTiles) { tileOffs(t) = cursor; cursor += tiles(t).length; t += 1 }
    w16(nEntries)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      w16(tag); w16(typ); w32(count)
      if (typ == 3 && count == 1) { w16(value.toInt); w16(0) } else w32(value)
    }
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    if (rgb) entry(258, 3, 3, bitsOff) else entry(258, 3, 1, 16)
    entry(259, 3, 1, if (lzw) 5 else 1)
    entry(262, 3, 1, if (rgb) 2 else 1)
    if (rgb) entry(277, 3, 1, 3)
    entry(284, 3, 1, 1)
    if (pred2) entry(317, 3, 1, 2)
    entry(322, 4, 1, tw)
    entry(323, 4, 1, th)
    if (nTiles == 1) entry(324, 4, 1, tileOffs(0))
    else entry(324, 4, nTiles, offArrAt)
    if (nTiles == 1) entry(325, 4, 1, tiles(0).length)
    else entry(325, 4, nTiles, cntArrAt)
    w32(0)
    if (rgb) { w16(8); w16(8); w16(8) }
    if (nTiles > 1) {
      t = 0
      while (t < nTiles) { w32(tileOffs(t)); t += 1 }
      t = 0
      while (t < nTiles) { w32(tiles(t).length); t += 1 }
    }
    t = 0
    while (t < nTiles) { out.write(tiles(t), 0, tiles(t).length); t += 1 }
    out.toByteArray
  }
}

/** Codegen-friendly expression wrapping [[TiffSynth.tiffBytes]]. */
case class SynthTiff(first: Expression, second: Expression, third: Expression,
    mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(mode >= 0 && mode <= 10,
    s"synth_tiff mode must be 0-10 (byte order x layout x compression x organization); got $mode")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    TiffSynth.tiffBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.TiffSynth.tiffBytes($w, $h, $s, $mode);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object TiffFunctions {
  /** Column API: complete valid baseline TIFF from `(w, h, seed)`: both
    * byte orders, multi-strip, uncompressed or really PackBits-coded (see
    * [[SynthTiff]]). `mode`: 0 = II none RGB, 1 = MM none RGB, 2 = II
    * PackBits gray, 3 = MM PackBits RGB.
    */
  def synth_tiff(w: Column, h: Column, seed: Column, mode: Int): Column =
    ExpressionUtils.column(SynthTiff(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), mode))
}
