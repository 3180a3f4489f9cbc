package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Fixture ENCODERS for the compressed raster formats — the proof
  * harness for [[ImageDecode]]'s PNG/GIF branches. Each builds a
  * COMPLETE, spec-valid file arithmetically from `(w, h, seed)` with the
  * pixel formula the DuckDB oracles replay (sample `idx` of image `seed`
  * is `(seed·31 + idx·7) mod 256`, the same generative formula as the
  * PPM/BMP fixtures), then really compresses it: PNG scanlines are
  * forward-filtered with a per-row filter type cycling through ALL FIVE
  * spec filters (`(seed + y) mod 5`) and deflated through the JDK's
  * `Deflater`; GIF indices are LZW-compressed with the real
  * variable-code-width algorithm. A hash match on a key built from
  * these therefore proves the decoder runs real INFLATE + unfiltering /
  * real LZW — not a byte-copy of a degenerate stream.
  *
  * These are fixture generators (driver/test side of a key), not a hot
  * decode path — but they are still per-row, shuffle-free expressions so
  * the keys that use them scan-synthesize-decode in one codegen stage.
  */
case class SynthPng(first: Expression, second: Expression, third: Expression,
    channels: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(channels == 1 || channels == 3,
    s"synth_png supports grayscale (1) or RGB (3) channels, got $channels")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    RasterSynth.pngBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], channels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.RasterSynth.pngBytes($w, $h, $s, $channels);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Fixture expression for [[RasterSynth.pngBytesExt]] — the extended
  * PNG shapes (RGBA / palette / gray+alpha / Adam7).
  */
case class SynthPngExt(first: Expression, second: Expression,
    third: Expression, variant: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(variant >= 0 && variant <= 6,
    s"synth_png_ext variant must be 0-6 (5/6 = 16-bit RGB/gray), got $variant")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    RasterSynth.pngBytesExt(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], variant)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.RasterSynth.pngBytesExt($w, $h, $s, $variant);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

case class SynthGif(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    RasterSynth.gifBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.RasterSynth.gifBytes($w, $h, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RasterSynth {
  /** Same cap as the decoder: fixtures never allocate unbounded rows. */
  private val MaxPixelBytes = 1 << 26

  /** The shared generative pixel formula (mirrored by the oracles). */
  private def pix(seed: Long, idx: Long): Int =
    java.lang.Math.floorMod(seed * 31 + idx * 7, 256).toInt

  private def crcChunk(out: java.io.ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    be32(data.length.toLong)
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new java.util.zip.CRC32()
    crc.update(t)
    crc.update(data)
    be32(crc.getValue)
  }

  /** Complete valid PNG: signature, IHDR (depth 8, color type 0 or 2,
    * non-interlaced), one IDAT holding the deflated filtered scanlines
    * (row `y` uses filter `(seed + y) mod 5` — all five spec filters
    * appear in any image with ≥5 rows), IEND. Null for degenerate dims.
    */
  def pngBytes(w: Long, h: Long, seed: Long, channels: Int): Array[Byte] = {
    if (w <= 0 || h <= 0 || w * h * channels > MaxPixelBytes) return null
    val wi = w.toInt; val hi = h.toInt
    val rowBytes = wi * channels
    val bpp = channels
    // raw pixels from the generative formula, then forward-filter
    val px = new Array[Byte](hi * rowBytes)
    var k = 0
    while (k < px.length) { px(k) = pix(seed, k).toByte; k += 1 }
    val raw = new Array[Byte](hi * (1 + rowBytes))
    var y = 0
    while (y < hi) {
      val f = java.lang.Math.floorMod(seed + y, 5).toInt
      raw(y * (1 + rowBytes)) = f.toByte
      var x = 0
      while (x < rowBytes) {
        val cur = px(y * rowBytes + x) & 0xFF
        val left = if (x >= bpp) px(y * rowBytes + x - bpp) & 0xFF else 0
        val up = if (y > 0) px((y - 1) * rowBytes + x) & 0xFF else 0
        val ul = if (y > 0 && x >= bpp) px((y - 1) * rowBytes + x - bpp) & 0xFF else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case _ =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw(y * (1 + rowBytes) + 1 + x) = ((cur - pred) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    // real zlib compression of the filtered stream
    val defl = new java.util.zip.Deflater()
    val idat =
      try {
        defl.setInput(raw)
        defl.finish()
        val buf = new Array[Byte](raw.length + 64)
        val o = new java.io.ByteArrayOutputStream()
        while (!defl.finished()) {
          val n = defl.deflate(buf)
          o.write(buf, 0, n)
        }
        o.toByteArray
      } finally defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A),
      0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((wi >> 24) & 0xFF).toByte; ihdr(1) = ((wi >> 16) & 0xFF).toByte
    ihdr(2) = ((wi >> 8) & 0xFF).toByte; ihdr(3) = (wi & 0xFF).toByte
    ihdr(4) = ((hi >> 24) & 0xFF).toByte; ihdr(5) = ((hi >> 16) & 0xFF).toByte
    ihdr(6) = ((hi >> 8) & 0xFF).toByte; ihdr(7) = (hi & 0xFF).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = (if (channels == 3) 2 else 0).toByte // color type
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    crcChunk(out, "IHDR", ihdr)
    crcChunk(out, "IDAT", idat)
    crcChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }


  /** EXTENDED PNG fixture encoder (round 11) covering the decoder's
    * widened scope: `variant` 0 = RGBA (type 6), 1 = 64-entry PALETTE
    * (type 3, PLTE chunk), 2 = gray+alpha (type 4), 3 = RGB Adam7
    * INTERLACED, 4 = RGBA Adam7. Coded samples come from the same
    * generative formulas the oracles replay (RGBA channel c of pixel p
    * is `pix(seed, 4p + c)`; palette index of p is
    * `(seed·31 + p·7) mod 64` over entries
    * `(seed·13 + i·11 + c·5) mod 256`; gray of p is `pix(seed, 2p)`);
    * every pass/row is forward-filtered through the full five-filter
    * cycle and really deflated. Interlaced variants serialize the seven
    * Adam7 sub-images, each filtered independently at its own width.
    */
  def pngBytesExt(w: Long, h: Long, seed: Long, variant: Int): Array[Byte] = {
    if (w <= 0 || h <= 0 || w * h * 6 > MaxPixelBytes) return null
    val wi = w.toInt; val hi = h.toInt
    val n = wi * hi
    val (colorType, samples, depth) = variant match {
      case 0 => (6, 4, 8)
      case 1 => (3, 1, 8)
      case 2 => (4, 2, 8)
      case 3 => (2, 3, 8)
      case 4 => (6, 4, 8)
      case 5 => (2, 3, 16) // 16-bit truecolor, big-endian samples
      case _ => (0, 1, 16) // 16-bit grayscale
    }
    val interlaced = variant == 3 || variant == 4
    val palSize = 64
    val sampleBytes = samples * (depth / 8)
    // full-resolution coded sample-byte plane
    val smp = new Array[Byte](n * sampleBytes)
    variant match {
      case 1 =>
        var p = 0
        while (p < n) {
          smp(p) = java.lang.Math.floorMod(seed * 31 + p * 7L, palSize).toByte
          p += 1
        }
      case 2 =>
        var p = 0
        while (p < n) {
          smp(2 * p) = pix(seed, 2L * p).toByte
          smp(2 * p + 1) = pix(seed, 2L * p + 1).toByte // alpha (dropped)
          p += 1
        }
      case 5 | 6 =>
        // sample s = (hi, lo) big-endian: hi = pix(2s), lo = pix(2s+1) —
        // the decoder must really walk the doubled stride and emit the
        // HIGH byte; a low-byte mixup changes every output value
        var sIdx = 0
        while (sIdx < n * samples) {
          smp(2 * sIdx) = pix(seed, 2L * sIdx).toByte
          smp(2 * sIdx + 1) = pix(seed, 2L * sIdx + 1).toByte
          sIdx += 1
        }
      case _ =>
        var k = 0
        while (k < smp.length) { smp(k) = pix(seed, k).toByte; k += 1 }
    }
    // forward-filter one sub-image (sw×sh samples taken from smp via the
    // position mapper) into the raw scanline stream
    val rawOut = new java.io.ByteArrayOutputStream()
    def filterSub(sw: Int, sh: Int, rowSeed: Long,
        at: (Int, Int) => Int): Unit = {
      val rowBytes = sw * sampleBytes
      val sub = new Array[Byte](sh * rowBytes)
      var y = 0
      while (y < sh) {
        var x = 0
        while (x < sw) {
          val srcPix = at(x, y)
          var c = 0
          while (c < sampleBytes) {
            sub((y * sw + x) * sampleBytes + c) = smp(srcPix * sampleBytes + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      y = 0
      while (y < sh) {
        val f = java.lang.Math.floorMod(rowSeed + y, 5).toInt
        rawOut.write(f)
        var x = 0
        while (x < rowBytes) {
          val cur = sub(y * rowBytes + x) & 0xFF
          val left = if (x >= sampleBytes) sub(y * rowBytes + x - sampleBytes) & 0xFF else 0
          val up = if (y > 0) sub((y - 1) * rowBytes + x) & 0xFF else 0
          val ul = if (y > 0 && x >= sampleBytes)
            sub((y - 1) * rowBytes + x - sampleBytes) & 0xFF else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case _ =>
              val pd = left + up - ul
              val pa = math.abs(pd - left)
              val pb = math.abs(pd - up)
              val pc = math.abs(pd - ul)
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
          }
          rawOut.write((cur - pred) & 0xFF)
          x += 1
        }
        y += 1
      }
    }
    if (!interlaced) filterSub(wi, hi, seed, (x, y) => y * wi + x)
    else {
      val xStart = Array(0, 4, 0, 2, 0, 1, 0)
      val yStart = Array(0, 0, 4, 0, 2, 0, 1)
      val xStep = Array(8, 8, 4, 4, 2, 2, 1)
      val yStep = Array(8, 8, 8, 4, 4, 2, 2)
      var p = 0
      while (p < 7) {
        val pw = (wi - xStart(p) + xStep(p) - 1) / xStep(p)
        val ph = (hi - yStart(p) + yStep(p) - 1) / yStep(p)
        if (pw > 0 && ph > 0) {
          val (xs, ys, xe, ye) = (xStart(p), yStart(p), xStep(p), yStep(p))
          filterSub(pw, ph, seed + p,
            (x, y) => (ys + y * ye) * wi + (xs + x * xe))
        }
        p += 1
      }
    }
    val raw = rawOut.toByteArray
    val defl = new java.util.zip.Deflater()
    val idat =
      try {
        defl.setInput(raw)
        defl.finish()
        val buf = new Array[Byte](raw.length + 64)
        val o = new java.io.ByteArrayOutputStream()
        while (!defl.finished()) {
          val nn = defl.deflate(buf)
          o.write(buf, 0, nn)
        }
        o.toByteArray
      } finally defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A),
      0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((wi >> 24) & 0xFF).toByte; ihdr(1) = ((wi >> 16) & 0xFF).toByte
    ihdr(2) = ((wi >> 8) & 0xFF).toByte; ihdr(3) = (wi & 0xFF).toByte
    ihdr(4) = ((hi >> 24) & 0xFF).toByte; ihdr(5) = ((hi >> 16) & 0xFF).toByte
    ihdr(6) = ((hi >> 8) & 0xFF).toByte; ihdr(7) = (hi & 0xFF).toByte
    ihdr(8) = depth.toByte
    ihdr(9) = colorType.toByte
    ihdr(10) = 0; ihdr(11) = 0
    ihdr(12) = (if (interlaced) 1 else 0).toByte
    crcChunk(out, "IHDR", ihdr)
    if (variant == 1) {
      val plte = new Array[Byte](palSize * 3)
      var ii = 0
      while (ii < palSize) {
        var c = 0
        while (c < 3) {
          plte(3 * ii + c) =
            java.lang.Math.floorMod(seed * 13 + ii * 11L + c * 5L, 256).toByte
          c += 1
        }
        ii += 1
      }
      crcChunk(out, "PLTE", plte)
    }
    crcChunk(out, "IDAT", idat)
    crcChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real GIF LZW compression of a palette-index stream (min code size
    * 8): variable-width codes LSB-first, leading CLEAR, trailing EOI,
    * code width grows with the dictionary exactly one step ahead of the
    * decoder's, adds stop at 4096 (deferred clear).
    */
  private[graftnative] def lzwEncode(indices: Array[Byte],
      minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    var codeSize = minCode + 1
    var dictSize = eoi + 1
    val map = new java.util.HashMap[Integer, Integer]()
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L
    var nbits = 0
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits
      nbits += codeSize
      while (nbits >= 8) { out.write((cur & 0xFF).toInt); cur >>>= 8; nbits -= 8 }
    }
    emit(clear)
    var prev = indices(0) & 0xFF
    var i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xFF
      val key = Integer.valueOf((prev << 8) | k)
      val hit = map.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        emit(prev)
        if (dictSize < 4096) {
          map.put(key, Integer.valueOf(dictSize))
          dictSize += 1
          // the encoder's width change leads the decoder's by one entry
          if (dictSize - 1 == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = k
      }
      i += 1
    }
    emit(prev)
    emit(eoi)
    if (nbits > 0) out.write((cur & 0xFF).toInt)
    out.toByteArray
  }

  /** Complete valid GIF89a: logical screen descriptor with a 256-entry
    * global color table (`palette[i] = (i, 2i mod 256, 3i mod 256)` —
    * three distinct channel ramps so a palette-mapping mistake cannot
    * hash-cancel), one non-interlaced image block whose index stream is
    * `pix(seed, y·w + x)` really LZW-compressed into ≤255-byte
    * sub-blocks, trailer. Null for degenerate dims.
    */
  def gifBytes(w: Long, h: Long, seed: Long): Array[Byte] = {
    if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF ||
        3 * w * h > MaxPixelBytes) return null
    val wi = w.toInt; val hi = h.toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      0, 6)
    out.write(wi & 0xFF); out.write((wi >> 8) & 0xFF)
    out.write(hi & 0xFF); out.write((hi >> 8) & 0xFF)
    out.write(0xF7) // GCT present, 8 bits/channel, 2^(7+1)=256 entries
    out.write(0) // background color index
    out.write(0) // pixel aspect ratio
    var c = 0
    while (c < 256) {
      out.write(c)
      out.write((2 * c) % 256)
      out.write((3 * c) % 256)
      c += 1
    }
    out.write(0x2C) // image descriptor
    out.write(0); out.write(0); out.write(0); out.write(0) // left, top
    out.write(wi & 0xFF); out.write((wi >> 8) & 0xFF)
    out.write(hi & 0xFF); out.write((hi >> 8) & 0xFF)
    out.write(0) // no local table, not interlaced
    val indices = new Array[Byte](wi * hi)
    var p = 0
    while (p < indices.length) { indices(p) = pix(seed, p).toByte; p += 1 }
    out.write(8) // LZW min code size
    val lzw = lzwEncode(indices, 8)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }
}

/** Multi-frame GIF89a fixture: NETSCAPE2.0 looping application
  * extension, then per frame a graphic-control extension (delay 4,
  * disposal none) and a full-canvas image whose index stream is
  * `(seed·31 + f·11 + p·7) mod 256`, really LZW-compressed — the same
  * palette ramps as the single-frame fixture, so per-frame channel
  * sums replay from the formula.
  */
object GifAnimSynth {

  def gifAnimBytes(w: Long, h: Long, frames: Long, seed: Long): Array[Byte] = {
    if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF || frames < 1 ||
        frames > 64 || 3 * w * h > (1 << 26)) return null
    val wi = w.toInt; val hi = h.toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      0, 6)
    out.write(wi & 0xFF); out.write((wi >> 8) & 0xFF)
    out.write(hi & 0xFF); out.write((hi >> 8) & 0xFF)
    out.write(0xF7); out.write(0); out.write(0)
    var c = 0
    while (c < 256) {
      out.write(c); out.write((2 * c) % 256); out.write((3 * c) % 256)
      c += 1
    }
    // NETSCAPE2.0 looping extension (loop forever)
    out.write(0x21); out.write(0xFF); out.write(11)
    out.write("NETSCAPE2.0".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      0, 11)
    out.write(3); out.write(1); out.write(0); out.write(0); out.write(0)
    var f = 0
    while (f < frames) {
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write(0) // disposal none, no transparency
      out.write(4); out.write(0) // delay 4/100 s
      out.write(0) // transparent index (unused)
      out.write(0) // block terminator
      out.write(0x2C)
      out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(wi & 0xFF); out.write((wi >> 8) & 0xFF)
      out.write(hi & 0xFF); out.write((hi >> 8) & 0xFF)
      out.write(0)
      val indices = new Array[Byte](wi * hi)
      var p = 0
      while (p < indices.length) {
        indices(p) = java.lang.Math.floorMod(seed * 31 + f * 11 + p * 7, 256).toByte
        p += 1
      }
      out.write(8)
      val lzw = RasterSynth.lzwEncode(indices, 8)
      var off = 0
      while (off < lzw.length) {
        val nn = math.min(255, lzw.length - off)
        out.write(nn)
        out.write(lzw, off, nn)
        off += nn
      }
      out.write(0)
      f += 1
    }
    out.write(0x3B)
    out.toByteArray
  }
}

/** High-entropy PPM fixture for dedup-scale probes: sample bytes come
  * from a Knuth multiplicative hash of `(seed, idx)`, so unlike the
  * linear oracle fixtures (whose gradients collapse to a handful of
  * classes mod 256) every seed yields an essentially unique perceptual
  * fingerprint — the property a realistic duplicate-recovery probe
  * needs. Probe-only: no SQL oracle mirrors this content.
  */
object PpmHashSynth {
  def ppmHashBytes(w: Long, h: Long, seed: Long): Array[Byte] = {
    if (w < 1 || h < 1 || w > 4096 || h > 4096 ||
        3 * w * h > (1 << 26)) return null
    val header = s"P6\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val n = (3 * w * h).toInt
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < n) {
      // full splitmix64 finalizer: a single xorshift leaves enough
      // arithmetic-progression structure to cluster dHash patterns
      // across seeds (measured as band-bucket blowups at 1M images)
      var x = seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31
      out(header.length + i) = (x >>> 16).toByte
      i += 1
    }
    out
  }
}

/** Expression wrapping [[PpmHashSynth.ppmHashBytes]]. */
case class SynthPpmHash(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    PpmHashSynth.ppmHashBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.PpmHashSynth.ppmHashBytes($w, $h, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Expression wrapping [[GifAnimSynth.gifAnimBytes]]. */
case class SynthGifAnim(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, fr: Any, seed: Any): Any =
    GifAnimSynth.gifAnimBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      fr.asInstanceOf[Long], seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, fr, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.GifAnimSynth.gifAnimBytes($w, $h, $fr, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object RasterSynthFunctions {
  /** Column API: extended PNG fixture: `variant` 0 = RGBA, 1 = palette,
    * 2 = gray+alpha, 3 = RGB Adam7, 4 = RGBA Adam7 (see [[SynthPngExt]]).
    */
  def synth_png_ext(w: Column, h: Column, seed: Column, variant: Int): Column =
    ExpressionUtils.column(SynthPngExt(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), variant))

  /** Column API: complete valid PNG from `(w, h, seed)`, grayscale
    * (`channels = 1`) or truecolor RGB (`channels = 3`): real Deflater zlib,
    * per-row filter cycling through all five spec filters, CRC'd chunks
    * (see [[SynthPng]]).
    */
  def synth_png(w: Column, h: Column, seed: Column, channels: Int = 3): Column =
    ExpressionUtils.column(SynthPng(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), channels))

  /** Column API: high-entropy hash-content PPM (probe-only). */
  def synth_ppm_hash(w: Column, h: Column, seed: Column): Column =
    ExpressionUtils.column(SynthPpmHash(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed)))

  /** Column API: multi-frame GIF89a from `(w, h, frames, seed)`. */
  def synth_gif_anim(w: Column, h: Column, frames: Column,
      seed: Column): Column =
    ExpressionUtils.column(SynthGifAnim(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(frames),
      ExpressionUtils.expression(seed)))

  /** Column API: complete valid GIF89a from `(w, h, seed)`: real LZW
    * compression, 256-entry three-ramp palette (see [[SynthGif]]).
    */
  def synth_gif(w: Column, h: Column, seed: Column): Column =
    ExpressionUtils.column(SynthGif(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed)))
}
