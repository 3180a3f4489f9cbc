package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native RASTER decode — the real pixel half of the multimodal stage
  * (container metadata lives in [[ImageMeta]]). Seven formats whose
  * pixel payloads are decodable with the JDK alone (byte arithmetic,
  * plus `java.util.zip` for PNG's zlib), so the decode needs no image
  * library and runs as one bounded byte walk per row inside whole-stage
  * codegen — baseline JPEG lives in [[JpegCodec]] and lossless WebP in
  * [[WebpCodec]], both dispatched from here:
  *
  *  - PPM `P6` (Netpbm spec): ASCII header `P6 <w> <h> <maxval>` with
  *    `#` comments and arbitrary whitespace, one whitespace byte, then
  *    `w*h*3` RGB samples row-major top-down (maxval ≤ 255 only — the
  *    single-byte-sample variant).
  *  - PGM `P5`: same header walk, one grayscale channel.
  *  - BMP (BITMAPINFOHEADER, Windows spec): `BM`, pixel-array offset at
  *    byte 10 (le u32), DIB size ≥ 40, width/height le i32 (positive
  *    height = BOTTOM-UP row order), planes 1, 24 bpp, BI_RGB
  *    (uncompressed) only; each row is B,G,R triples padded to a 4-byte
  *    boundary. Decode = strip padding, swap to RGB, flip to top-down.
  *  - PNG (ISO/IEC 15948): chunk walk with CRC-32 verification, IDAT
  *    zlib inflate via the JDK `Inflater`, scanline unfiltering
  *    (None/Sub/Up/Average/Paeth); the full 8-bit color-type set
  *    (grayscale, truecolor, palette, gray+alpha, RGBA — alpha decoded
  *    then dropped), plain or Adam7-interlaced.
  *  - GIF (GIF87a/89a): first image block — LZW decompression, global
  *    or local palette mapping, 4-pass deinterlace.
  *
  * Output is a normalized raster struct
  * `(format, width, height, channels, pixels)` with `pixels` row-major
  * top-down RGB (or single-channel) — every downstream op (resize,
  * channel stats, feature extraction) sees ONE layout regardless of
  * source container. Anything else, truncated headers, or oversized
  * dimensions yield `('unknown', NULL, NULL, NULL, NULL)` — pixels are
  * never guessed. Reference pipeline context: the reference system has
  * no media path at all; this implements the training-data brief's
  * decode→resize→feature stage for real.
  */
case class ImageDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ImageDecode.schema

  override def nullSafeEval(v: Any): Any =
    ImageDecode.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.ImageDecode.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageDecode {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("pixels", BinaryType, nullable = true)))

  private val FMT_PPM = UTF8String.fromString("ppm")
  private val FMT_PGM = UTF8String.fromString("pgm")
  private val FMT_BMP = UTF8String.fromString("bmp")
  private val FMT_PNG = UTF8String.fromString("png")
  private val FMT_GIF = UTF8String.fromString("gif")
  private val FMT_UNKNOWN = UTF8String.fromString("unknown")
  private[graftnative] val FmtJpeg = UTF8String.fromString("jpeg")
  private[graftnative] val FmtWebp = UTF8String.fromString("webp")
  private[graftnative] val FmtTiff = UTF8String.fromString("tiff")

  /** Row builders for sibling decoders in this package ([[JpegCodec]]). */
  private[graftnative] def unknownRow: InternalRow = unknown
  private[graftnative] def rasterRow(fmt: UTF8String, w: Int, h: Int,
      ch: Int, px: Array[Byte]): InternalRow = row(fmt, w, h, ch, px)

  /** Decoded-raster size cap: 64 MiB of samples. A corrupt header must
    * not make one row allocate unbounded memory in an executor.
    */
  private val MaxPixelBytes = 1 << 26

  private def unknown: InternalRow =
    new GenericInternalRow(Array[Any](FMT_UNKNOWN, null, null, null, null))
  private def row(fmt: UTF8String, w: Int, h: Int, ch: Int,
      px: Array[Byte]): InternalRow =
    new GenericInternalRow(Array[Any](fmt, w, h, ch, px))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leI32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0B

  /** Skip Netpbm whitespace and `#`-to-end-of-line comments. */
  private def skipWs(b: Array[Byte], start: Int): Int = {
    var i = start
    while (i < b.length) {
      if (isWs(u8(b, i))) i += 1
      else if (u8(b, i) == '#') {
        while (i < b.length && u8(b, i) != '\n') i += 1
      } else return i
    }
    i
  }

  /** Parse an ASCII decimal field; returns (value, next) or (-1, _) when
    * no digit is present or the value is implausibly large.
    */
  private def asciiInt(b: Array[Byte], start: Int): (Int, Int) = {
    var i = start
    var v = 0L
    var digits = 0
    while (i < b.length && u8(b, i) >= '0' && u8(b, i) <= '9') {
      v = v * 10 + (u8(b, i) - '0')
      digits += 1
      if (v > (1L << 24)) return (-1, i)
      i += 1
    }
    if (digits == 0) (-1, i) else (v.toInt, i)
  }

  private def decodeNetpbm(b: Array[Byte], channels: Int,
      fmt: UTF8String): InternalRow = {
    var i = skipWs(b, 2)
    val (w, i1) = asciiInt(b, i)
    i = skipWs(b, i1)
    val (h, i2) = asciiInt(b, i)
    i = skipWs(b, i2)
    val (maxval, i3) = asciiInt(b, i)
    i = i3
    // exactly ONE whitespace byte separates maxval from the sample data
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255 ||
        i >= b.length || !isWs(u8(b, i))) return unknown
    i += 1
    val n = w.toLong * h * channels
    if (n > MaxPixelBytes || b.length - i < n) return unknown
    row(fmt, w, h, channels,
      java.util.Arrays.copyOfRange(b, i, i + n.toInt))
  }

  private def decodeBmp(b: Array[Byte]): InternalRow = {
    if (b.length < 54) return unknown
    val offBits = leI32(b, 10)
    val dibSize = leI32(b, 14)
    val w = leI32(b, 18)
    val hRaw = leI32(b, 22)
    val planes = leU16(b, 26)
    val bpp = leU16(b, 28)
    val compression = leI32(b, 30)
    if (dibSize < 40 || w <= 0 || hRaw == 0 || planes != 1 || bpp != 24 ||
        compression != 0) return unknown
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    val stride = ((3L * w + 3) / 4) * 4
    val n = 3L * w * h
    if (n > MaxPixelBytes || offBits < 54 ||
        offBits.toLong + stride * h > b.length) return unknown
    val out = new Array[Byte](n.toInt)
    var y = 0
    while (y < h) {
      val srcRow = if (bottomUp) h - 1 - y else y
      val src = offBits + srcRow * stride.toInt
      val dst = y * w * 3
      var x = 0
      while (x < w) {
        // file order is B,G,R — normalize to R,G,B
        out(dst + 3 * x) = b(src + 3 * x + 2)
        out(dst + 3 * x + 1) = b(src + 3 * x + 1)
        out(dst + 3 * x + 2) = b(src + 3 * x)
        x += 1
      }
      y += 1
    }
    row(FMT_BMP, w, h, 3, out)
  }

  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong

  private val PngSig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  private def isPng(b: Array[Byte]): Boolean = {
    if (b.length < 8) return false
    var i = 0
    while (i < 8) { if (b(i) != PngSig(i)) return false; i += 1 }
    true
  }

  /** PNG decode (ISO/IEC 15948), zero external libraries: the chunk walk
    * and CRC-32 check are pure arithmetic, IDAT is a zlib stream the
    * JDK's own `Inflater` decompresses, and scanline UNfiltering
    * (None/Sub/Up/Average/Paeth, §9) is pure byte arithmetic. Supported
    * image types (round 11 widened to the full 8-bit set a web crawl
    * yields): bit depth 8 with color type 0 (grayscale), 2 (truecolor
    * RGB), 3 (palette — PLTE lookup, out-of-range index rejects),
    * 4 (gray+alpha) and 6 (RGBA) — alpha channels are decoded then
    * dropped (RGB/gray out, same stance as the WebP decoder) — and BOTH
    * interlace methods (none and Adam7: seven sub-images, each
    * independently filtered at its own width, scattered to full
    * resolution). 16-bit depth decodes for the non-palette color types
    * with each big-endian sample emitted as its HIGH byte (the standard
    * 8-bit rendering downconversion; filtering runs on raw bytes with
    * the doubled bytes-per-pixel stride, per spec). Every chunk's CRC is
    * verified (a flipped payload byte yields `'unknown'`, never silently
    * wrong pixels), multiple IDAT chunks concatenate per spec, ancillary
    * chunks are skipped, and the inflated stream must contain EXACTLY
    * the scanline volume — truncation or overrun is a reject.
    */
  private def decodePng(b: Array[Byte]): InternalRow = {
    var w = -1; var h = -1
    var samples = 0 // samples per pixel in the coded scanlines
    var sampleBytes = 0 // bytes per pixel (samples × depth/8) — filter bpp
    var depthBytes = 1
    var outCh = 0 // emitted channels (alpha dropped)
    var colorType = -1
    var interlaced = false
    var palette: Array[Byte] = null
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    while (i + 12 <= b.length && !seenIend) {
      val len = beU32(b, i)
      if (len > b.length.toLong || i + 12L + len > b.length) return unknown
      val dataOff = i + 8
      val dataLen = len.toInt
      val crc = new java.util.zip.CRC32()
      crc.update(b, i + 4, 4 + dataLen)
      if (crc.getValue != beU32(b, dataOff + dataLen)) return unknown
      val t0 = b(i + 4); val t1 = b(i + 5); val t2 = b(i + 6); val t3 = b(i + 7)
      if (t0 == 'I' && t1 == 'H' && t2 == 'D' && t3 == 'R') {
        if (seenIhdr || dataLen != 13) return unknown
        seenIhdr = true
        val wl = beU32(b, dataOff)
        val hl = beU32(b, dataOff + 4)
        val depth = u8(b, dataOff + 8)
        val color = u8(b, dataOff + 9)
        val comp = u8(b, dataOff + 10)
        val filt = u8(b, dataOff + 11)
        val inter = u8(b, dataOff + 12)
        if ((depth != 8 && depth != 16) || comp != 0 || filt != 0 ||
            inter > 1) return unknown
        if (depth == 16 && color == 3) return unknown // spec: no 16-bit palette
        depthBytes = depth / 8
        interlaced = inter == 1
        colorType = color
        samples = color match {
          case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
          case _ => return unknown
        }
        sampleBytes = samples * depthBytes
        outCh = color match { case 0 | 4 => 1; case _ => 3 }
        if (wl <= 0 || hl <= 0 || wl * hl * math.max(sampleBytes, outCh) >
          MaxPixelBytes) return unknown
        w = wl.toInt; h = hl.toInt
      } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
        if (!seenIhdr || palette != null || dataLen == 0 ||
            dataLen % 3 != 0 || dataLen > 768) return unknown
        palette = java.util.Arrays.copyOfRange(b, dataOff, dataOff + dataLen)
      } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        if (!seenIhdr) return unknown
        idat.write(b, dataOff, dataLen)
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        seenIend = true
      } // ancillary chunks: skipped, CRC still verified above
      i = dataOff + dataLen + 4
    }
    if (!seenIhdr || !seenIend) return unknown
    if (colorType == 3 && palette == null) return unknown
    // Adam7 pass geometry (spec appendix; pass 1..7)
    val xStart = Array(0, 4, 0, 2, 0, 1, 0)
    val yStart = Array(0, 0, 4, 0, 2, 0, 1)
    val xStep = Array(8, 8, 4, 4, 2, 2, 1)
    val yStep = Array(8, 8, 8, 4, 4, 2, 2)
    def passW(p: Int) = (w - xStart(p) + xStep(p) - 1) / xStep(p)
    def passH(p: Int) = (h - yStart(p) + yStep(p) - 1) / yStep(p)
    val rawLen =
      if (!interlaced) h.toLong * (1 + w.toLong * sampleBytes)
      else (0 until 7).map { p =>
        val pw = passW(p); val ph = passH(p)
        if (pw <= 0 || ph <= 0) 0L
        else ph.toLong * (1 + pw.toLong * sampleBytes)
      }.sum
    if (rawLen > MaxPixelBytes * 2L) return unknown
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      var stuck = false
      while (off < raw.length && !inf.finished() && !stuck) {
        val n =
          try inf.inflate(raw, off, raw.length - off)
          catch { case _: java.util.zip.DataFormatException => return unknown }
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
        off += n
      }
      // the stream must yield the exact scanline volume and nothing more.
      // The overrun probe is inside the same reject-to-'unknown' guard as
      // the main loop: a payload that inflates to exactly the scanline
      // volume but carries a corrupt Adler-32 trailer throws from THIS
      // inflate call, and malformed untrusted bytes must never fail the
      // task.
      if (off < raw.length) return unknown
      if (!inf.finished() &&
          (try inf.inflate(new Array[Byte](1))
           catch { case _: java.util.zip.DataFormatException => return unknown
          }) > 0) return unknown
    } finally inf.end()
    // unfilter one sub-image of `sw`×`sh` coded pixels starting at
    // raw(srcOff), producing sw·samples bytes per row into dst
    // sequentially; returns false on a bad filter byte
    def unfilter(srcOff: Int, sw: Int, sh: Int, dst: Array[Byte],
        dstOff: Int): Boolean = {
      val rowBytes = sw * sampleBytes
      var y = 0
      while (y < sh) {
        val f = u8(raw, srcOff + y * (1 + rowBytes))
        if (f > 4) return false
        val src = srcOff + y * (1 + rowBytes) + 1
        val dstRow = dstOff + y * rowBytes
        var x = 0
        while (x < rowBytes) {
          val rv = u8(raw, src + x)
          val left = if (x >= sampleBytes) u8(dst, dstRow + x - sampleBytes) else 0
          val up = if (y > 0) u8(dst, dstRow - rowBytes + x) else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case _ => // Paeth (§9.4)
              val ul = if (y > 0 && x >= sampleBytes)
                u8(dst, dstRow - rowBytes + x - sampleBytes) else 0
              val p = left + up - ul
              val pa = math.abs(p - left)
              val pb = math.abs(p - up)
              val pc = math.abs(p - ul)
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
          }
          dst(dstRow + x) = ((rv + pred) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      true
    }
    // full-resolution sample-byte plane
    val samp = new Array[Byte](w * h * sampleBytes)
    if (!interlaced) {
      if (!unfilter(0, w, h, samp, 0)) return unknown
    } else {
      var srcOff = 0
      var p = 0
      while (p < 7) {
        val pw = passW(p); val ph = passH(p)
        if (pw > 0 && ph > 0) {
          val sub = new Array[Byte](pw * ph * sampleBytes)
          if (!unfilter(srcOff, pw, ph, sub, 0)) return unknown
          srcOff += ph * (1 + pw * sampleBytes)
          // scatter to full resolution
          var j = 0
          while (j < ph) {
            val destY = yStart(p) + j * yStep(p)
            var k = 0
            while (k < pw) {
              val destX = xStart(p) + k * xStep(p)
              var s = 0
              while (s < sampleBytes) {
                samp((destY * w + destX) * sampleBytes + s) =
                  sub((j * pw + k) * sampleBytes + s)
                s += 1
              }
              k += 1
            }
            j += 1
          }
        }
        p += 1
      }
    }
    // emit: drop alpha / resolve the palette; 16-bit samples emit their
    // big-endian HIGH byte (the stride skips the low byte)
    val out = new Array[Byte](w * h * outCh)
    val n = w * h
    val db = depthBytes
    colorType match {
      case 0 | 2 =>
        if (db == 1) System.arraycopy(samp, 0, out, 0, out.length)
        else {
          var s0 = 0
          while (s0 < out.length) { out(s0) = samp(s0 * 2); s0 += 1 }
        }
      case 3 =>
        val palSize = palette.length / 3
        var p = 0
        while (p < n) {
          val idx = samp(p) & 0xFF
          if (idx >= palSize) return unknown
          out(3 * p) = palette(3 * idx)
          out(3 * p + 1) = palette(3 * idx + 1)
          out(3 * p + 2) = palette(3 * idx + 2)
          p += 1
        }
      case 4 =>
        var p = 0
        while (p < n) { out(p) = samp(2 * p * db); p += 1 }
      case _ => // 6: RGBA → RGB
        var p = 0
        while (p < n) {
          out(3 * p) = samp((4 * p) * db)
          out(3 * p + 1) = samp((4 * p + 1) * db)
          out(3 * p + 2) = samp((4 * p + 2) * db)
          p += 1
        }
    }
    row(FMT_PNG, w, h, outCh, out)
  }

  /** Decompress a GIF LZW code stream (GIF89a spec, appendix F) into
    * exactly `nOut` palette indices, or null on any malformation:
    * variable-width codes read LSB-first, CLEAR resets the table, the
    * deferred-clear 4096-entry cap, and the KwKwK first-byte case all
    * per spec. Pure arithmetic — no library.
    */
  private[graftnative] def lzwDecodeShared(d: Array[Byte], minCode: Int,
      nOut: Int): Array[Byte] = lzwDecode(d, minCode, nOut)

  private def lzwDecode(d: Array[Byte], minCode: Int, nOut: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val maxDict = 4096
    val prefix = new Array[Int](maxDict)
    val suffix = new Array[Byte](maxDict)
    val stack = new Array[Byte](maxDict + 1)
    var dictSize = eoi + 1
    var codeSize = minCode + 1
    val out = new Array[Byte](nOut)
    var outPos = 0
    var bitPos = 0
    var prev = -1
    var first = 0
    val totalBits = d.length.toLong * 8
    while (outPos < nOut) {
      if (bitPos + codeSize > totalBits) return null
      var code = 0
      var k = 0
      while (k < codeSize) {
        code |= ((d((bitPos + k) >> 3) >> ((bitPos + k) & 7)) & 1) << k
        k += 1
      }
      bitPos += codeSize
      if (code == clear) { dictSize = eoi + 1; codeSize = minCode + 1; prev = -1 }
      else if (code == eoi) return null // EOI before the pixel count is met
      else {
        var sp = 0
        var c = code
        if (code >= dictSize) {
          // the KwKwK case: only code == dictSize with a previous string
          if (code != dictSize || prev < 0) return null
          stack(sp) = first.toByte; sp += 1
          c = prev
        }
        while (c >= eoi + 1) {
          stack(sp) = suffix(c); sp += 1
          c = prefix(c)
          if (sp > maxDict) return null
        }
        if (c >= clear) return null // prefix chain must end at a root
        first = c
        stack(sp) = c.toByte; sp += 1
        if (outPos + sp > nOut) return null
        while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
        if (prev >= 0 && dictSize < maxDict) {
          prefix(dictSize) = prev
          suffix(dictSize) = first.toByte
          dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    out
  }

  /** GIF pixel decode (GIF87a/89a spec), zero external libraries: the
    * container walk (logical screen descriptor, color tables, extension
    * skip, image descriptor) is fixed-offset arithmetic and the pixel
    * payload is LZW ([[lzwDecode]]). Decodes the FIRST image block of
    * the stream — the still-image case; animation frames after the first
    * are ignored. Local color tables override the global one, and the
    * 4-pass interlace row shuffle is undone so output is top-down
    * row-major RGB like every other raster source.
    */
  private def decodeGif(b: Array[Byte]): InternalRow = {
    if (b.length < 13) return unknown
    val packed = u8(b, 10)
    var i = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (i + 3 * n > b.length) return unknown
      gct = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
      i += 3 * n
    }
    while (i < b.length) {
      u8(b, i) match {
        case 0x21 => // extension: introducer + label, then sub-blocks
          i += 2
          var done = false
          while (!done) {
            if (i >= b.length) return unknown
            val sz = u8(b, i)
            i += 1 + sz
            if (sz == 0) done = true
          }
        case 0x2C =>
          if (i + 10 > b.length) return unknown
          val w = leU16(b, i + 5)
          val h = leU16(b, i + 7)
          val ipacked = u8(b, i + 9)
          val interlaced = (ipacked & 0x40) != 0
          i += 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            if (i + 3 * n > b.length) return unknown
            pal = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
            i += 3 * n
          }
          if (pal == null || w <= 0 || h <= 0 ||
              3L * w * h > MaxPixelBytes) return unknown
          if (i >= b.length) return unknown
          val minCode = u8(b, i)
          i += 1
          if (minCode < 2 || minCode > 8) return unknown
          val data = new java.io.ByteArrayOutputStream()
          var done = false
          while (!done) {
            if (i >= b.length) return unknown
            val sz = u8(b, i)
            i += 1
            if (sz == 0) done = true
            else {
              if (i + sz > b.length) return unknown
              data.write(b, i, sz)
              i += sz
            }
          }
          val idx = lzwDecode(data.toByteArray, minCode, w * h)
          if (idx == null) return unknown
          val nPal = pal.length / 3
          val out = new Array[Byte](3 * w * h)
          var p = 0
          var y = 0
          // interlace pass starts/strides per spec appendix E
          val starts = Array(0, 4, 2, 1)
          val strides = Array(8, 8, 4, 2)
          var pass = 0
          var iy = starts(0)
          while (y < h) {
            val destY = if (interlaced) iy else y
            var x = 0
            while (x < w) {
              val v = idx(p) & 0xFF
              if (v >= nPal) return unknown
              val d = (destY * w + x) * 3
              out(d) = pal(3 * v)
              out(d + 1) = pal(3 * v + 1)
              out(d + 2) = pal(3 * v + 2)
              p += 1
              x += 1
            }
            if (interlaced) {
              iy += strides(pass)
              while (iy >= h && pass < 3) { pass += 1; iy = starts(pass) }
            }
            y += 1
          }
          return row(FMT_GIF, w, h, 3, out)
        case 0x3B => return unknown // trailer before any image block
        case _ => return unknown
      }
    }
    unknown
  }

  /** Decode one payload; called per row from generated and interpreted
    * paths.
    */
  def compute(b: Array[Byte]): InternalRow = {
    if (b.length >= 2 && b(0) == 'P' && b(1) == '6') decodeNetpbm(b, 3, FMT_PPM)
    else if (b.length >= 2 && b(0) == 'P' && b(1) == '5') decodeNetpbm(b, 1, FMT_PGM)
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') decodeBmp(b)
    else if (isPng(b)) decodePng(b)
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') decodeGif(b)
    else if (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8)
      JpegCodec.decode(b)
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
      b(11) == 'P') WebpCodec.decode(b)
    else if (TiffCodec.isTiff(b)) TiffCodec.decode(b)
    else unknown
  }
}

/** Nearest-neighbor resize of a decoded raster to a FIXED (targetW,
  * targetH) — the uniform-tensor step every batch-inference pipeline
  * needs before stacking images. Source index map is the standard NN
  * kernel `sx = ⌊x·W/targetW⌋, sy = ⌊y·H/targetH⌋` (pure integer
  * arithmetic, so the result is exactly reproducible by any system that
  * applies the same map — which is what lets the DuckDB oracle mirror
  * it). An `'unknown'` raster passes through unchanged; per-row, zero
  * shuffle, inside whole-stage codegen.
  */
case class ImageResizeNN(child: Expression, targetW: Int, targetH: Int)
    extends UnaryExpression {

  require(targetW > 0 && targetH > 0,
    s"target dims must be positive, got ${targetW}x$targetH")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ImageDecode.schema)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"image_resize_nn expects the image_decode raster struct, got ${child.dataType}")

  override def dataType: DataType = ImageDecode.schema

  override def nullSafeEval(v: Any): Any =
    ImageResizeNN.compute(v.asInstanceOf[InternalRow], targetW, targetH)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.ImageResizeNN.compute($c, $targetW, $targetH)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageResizeNN {
  def compute(r: InternalRow, tw: Int, th: Int): InternalRow = {
    // 'unknown' raster: nothing to resize — but return a FRESH copy, not
    // the input reference, which may alias a reused decode buffer when
    // the struct arrives from a columnar scan rather than ImageDecode
    if (r.isNullAt(4)) return r.copy()
    val w = r.getInt(1)
    val h = r.getInt(2)
    val ch = r.getInt(3)
    val px = r.getBinary(4)
    val out = new Array[Byte](tw * th * ch)
    var y = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) {
        val sx = x * w / tw
        val src = (sy * w + sx) * ch
        val dst = (y * tw + x) * ch
        var c = 0
        while (c < ch) { out(dst + c) = px(src + c); c += 1 }
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(
      Array[Any](r.getUTF8String(0), tw, th, ch, out))
  }
}

/** Per-channel sample sums of a decoded raster — `array<bigint>` of
  * length `channels` (RGB → [r_sum, g_sum, b_sum]). Integer-exact by
  * construction (byte samples summed as longs), which is what makes a
  * decoded-pixel query HASH-comparable against an oracle that recomputes
  * the same sums arithmetically. NULL for an `'unknown'` raster.
  */
case class RasterChannelSums(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ImageDecode.schema)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"raster_channel_sums expects the image_decode raster struct, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    RasterChannelSums.compute(v.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.RasterChannelSums.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RasterChannelSums {
  def compute(r: InternalRow): ArrayData = {
    if (r.isNullAt(4)) return null
    val ch = r.getInt(3)
    val px = r.getBinary(4)
    val sums = new Array[Long](ch)
    var i = 0
    while (i < px.length) {
      sums(i % ch) += px(i) & 0xFF
      i += 1
    }
    new GenericArrayData(sums.map(v => v: Any))
  }
}

/** Animated-GIF frame extraction with stride sampling — the GIF
  * analogue of [[AviMjpegFrames]]: walk the GIF89a block stream
  * (graphic-control and application extensions skipped by sub-block
  * lengths, every image descriptor counted), LZW-decode and
  * palette-map ONLY every `stride`-th frame (unsampled frames are
  * skipped by their sub-block length fields — never decompressed), and
  * emit per-frame channel sums. Frames are decoded as STORED (their
  * own rect and palette, global or local, interlace honored);
  * inter-frame disposal compositing is a renderer concern, not a
  * corpus-statistics one, and is out of scope by design. Geometry or
  * palette violations, torn sub-blocks, or LZW errors null the row.
  */
case class GifFrames(child: Expression, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(stride > 0, s"stride must be positive, got $stride")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AviMjpegFrames.schema

  override def nullSafeEval(v: Any): Any =
    GifFrames.compute(v.asInstanceOf[Array[Byte]], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.GifFrames.compute($c, $stride)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GifFrames {
  private val MaxFrames = 1 << 16
  private val MaxPixelBytes = 1 << 26
  private val CodecGif = UTF8String.fromString("gif")

  private def bad: InternalRow =
    new GenericInternalRow(Array[Any](null, null, null, null, null, null, null, null))
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  def compute(b: Array[Byte], stride: Int): InternalRow = {
    if (b.length < 13 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a') return bad
    val sw = leU16(b, 6)
    val sh = leU16(b, 8)
    val packed = u8(b, 10)
    var i = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (i + 3 * n > b.length) return bad
      gct = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
      i += 3 * n
    }
    val idxs = new java.util.ArrayList[Integer]()
    val rs = new java.util.ArrayList[java.lang.Long]()
    val gs = new java.util.ArrayList[java.lang.Long]()
    val bs = new java.util.ArrayList[java.lang.Long]()
    var n = 0
    var sawTrailer = false
    while (i < b.length && !sawTrailer) {
      u8(b, i) match {
        case 0x21 =>
          i += 2
          var done = false
          while (!done) {
            if (i >= b.length) return bad
            val sz = u8(b, i)
            i += 1 + sz
            if (sz == 0) done = true
          }
        case 0x2C =>
          if (i + 10 > b.length) return bad
          val w = leU16(b, i + 5)
          val h = leU16(b, i + 7)
          val ipacked = u8(b, i + 9)
          val interlaced = (ipacked & 0x40) != 0
          i += 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val nLoc = 2 << (ipacked & 7)
            if (i + 3 * nLoc > b.length) return bad
            pal = java.util.Arrays.copyOfRange(b, i, i + 3 * nLoc)
            i += 3 * nLoc
          }
          if (pal == null || w <= 0 || h <= 0 || 3L * w * h > MaxPixelBytes)
            return bad
          if (i >= b.length) return bad
          val minCode = u8(b, i)
          i += 1
          if (minCode < 2 || minCode > 8) return bad
          val sample = n % stride == 0
          val data = if (sample) new java.io.ByteArrayOutputStream() else null
          var done = false
          while (!done) {
            if (i >= b.length) return bad
            val sz = u8(b, i)
            i += 1
            if (sz == 0) done = true
            else {
              if (i + sz > b.length) return bad
              if (sample) data.write(b, i, sz)
              i += sz
            }
          }
          if (sample) {
            val idx = ImageDecode.lzwDecodeShared(data.toByteArray, minCode, w * h)
            if (idx == null) return bad
            val nPal = pal.length / 3
            var rr = 0L; var gg = 0L; var bb = 0L
            var p = 0
            while (p < idx.length) {
              val v = idx(p) & 0xFF
              if (v >= nPal) return bad
              rr += pal(3 * v) & 0xFF
              gg += pal(3 * v + 1) & 0xFF
              bb += pal(3 * v + 2) & 0xFF
              p += 1
            }
            // channel sums are interlace-order-independent; the
            // per-pixel scatter is pinned by the single-frame decoder
            idxs.add(n); rs.add(rr); gs.add(gg); bs.add(bb)
          }
          n += 1
          if (n > MaxFrames) return bad
        case 0x3B => sawTrailer = true
        case _ => return bad
      }
    }
    if (!sawTrailer || n == 0 || idxs.isEmpty) return bad
    val m = idxs.size()
    val ia = new Array[Int](m)
    val ra = new Array[Long](m)
    val ga = new Array[Long](m)
    val ba = new Array[Long](m)
    var k = 0
    while (k < m) {
      ia(k) = idxs.get(k); ra(k) = rs.get(k); ga(k) = gs.get(k); ba(k) = bs.get(k)
      k += 1
    }
    new GenericInternalRow(Array[Any](sw, sh, CodecGif, n,
      new GenericArrayData(ia), new GenericArrayData(ra),
      new GenericArrayData(ga), new GenericArrayData(ba)))
  }
}

/** 64-bit difference hash (dHash) of a decoded raster — the standard
  * perceptual fingerprint for IMAGE near-dup dedup in training-data
  * pipelines: sample a 9×8 grid with the same integer NN kernel as
  * [[ImageResizeNN]] (`sx = ⌊gx·W/9⌋, sy = ⌊gy·H/8⌋`), gray each sample
  * (`(r+g+b)/3` integer, or the sample itself for single-channel), and
  * set bit `gy·8+gx` iff the right neighbor is strictly brighter. Pure
  * integer arithmetic end to end, so any system applying the same
  * kernel reproduces the hash bit-for-bit — which is what lets the
  * DuckDB oracle mirror it. Robust to resizing/re-encoding by
  * construction (the grid normalizes scale; gradients survive
  * brightness shifts), which is why dHash banding is the image
  * analogue of MinHash banding for text. Per-row, zero shuffle,
  * `'unknown'` rasters hash to null.
  */
case class RasterDHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ImageDecode.schema)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"raster_dhash expects an image_decode struct, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = RasterDHash.compute(v.asInstanceOf[InternalRow])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long graftDh = org.apache.spark.sql.graftnative.RasterDHash.compute($c);
      if (graftDh == null) { ${ev.isNull} = true; }
      else { ${ev.value} = graftDh.longValue(); }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RasterDHash {
  def compute(r: InternalRow): java.lang.Long = {
    if (r.isNullAt(1)) return null
    val w = r.getInt(1); val h = r.getInt(2); val ch = r.getInt(3)
    val px = r.getBinary(4)
    if (w < 1 || h < 1 || (ch != 1 && ch != 3)) return null
    var dh = 0L
    val g = new Array[Int](9)
    var gy = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 9) {
        val sx = gx * w / 9
        g(gx) =
          if (ch == 1) px(sy * w + sx) & 0xFF
          else {
            val base = (sy * w + sx) * 3
            ((px(base) & 0xFF) + (px(base + 1) & 0xFF) + (px(base + 2) & 0xFF)) / 3
          }
        gx += 1
      }
      gx = 0
      while (gx < 8) {
        if (g(gx + 1) > g(gx)) dh |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    java.lang.Long.valueOf(dh)
  }
}

object RasterFunctions {
  /** Column API: decode a raster payload to the normalized struct
    * `(format, width, height, channels, pixels)`: pixels row-major,
    * top-down RGB regardless of the source container (see [[ImageDecode]]).
    */
  def image_decode(payload: Column): Column =
    ExpressionUtils.column(ImageDecode(ExpressionUtils.expression(payload)))

  /** Column API: nearest-neighbor resize of a raster struct. */
  def image_resize_nn(raster: Column, targetW: Int, targetH: Int): Column =
    ExpressionUtils.column(
      ImageResizeNN(ExpressionUtils.expression(raster), targetW, targetH))

  /** Column API: stride-sampled animated-GIF frame statistics: every
    * `stride`-th frame is LZW-decoded and palette-mapped, the rest skipped
    * by their sub-block lengths (see [[GifFrames]]).
    */
  def gif_frames(payload: Column, stride: Int): Column =
    ExpressionUtils.column(GifFrames(ExpressionUtils.expression(payload), stride))

  /** Column API: 64-bit perceptual difference hash of a decoded raster,
    * the image analogue of MinHash for near-dup dedup (see [[RasterDHash]]).
    */
  def raster_dhash(raster: Column): Column =
    ExpressionUtils.column(RasterDHash(ExpressionUtils.expression(raster)))

  /** Column API: per-channel integer sample sums (`array<bigint>`) of a
    * decoded raster.
    */
  def raster_channel_sums(raster: Column): Column =
    ExpressionUtils.column(
      RasterChannelSums(ExpressionUtils.expression(raster)))
}
