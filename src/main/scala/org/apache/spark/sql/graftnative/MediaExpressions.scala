package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Native image-container metadata — format, width, height — parsed
  * directly from the header bytes of a binary payload column: the
  * metadata stage of the multimodal pipeline. (Pixel decode is equally
  * real for the pure-JDK-decodable formats — see [[ImageDecode]] for
  * PPM/PGM/BMP/PNG/GIF rasters; only codecs with no pure-JDK path, e.g.
  * JPEG, stop at metadata.) Container dimensions need no codec: they are
  * deterministic integer fields at fixed offsets of the published
  * container formats:
  *
  *  - PNG (ISO/IEC 15948 §5.2/§11.2.2): 8-byte signature
  *    `89 50 4E 47 0D 0A 1A 0A`, then the IHDR chunk whose first two
  *    data fields are width and height as big-endian u32.
  *  - JPEG/JFIF (ITU-T T.81 §B.2): `FF D8` (SOI), then a marker walk —
  *    each segment is `FF <marker> <len:u16-be>` where len counts itself;
  *    the frame header (SOF0..SOF15, minus DHT/JPG/DAC/RST/standalone
  *    codes) carries `precision:u8, height:u16-be, width:u16-be`.
  *  - GIF (GIF87a/89a spec): 6-byte version signature, then the logical
  *    screen width and height as LITTLE-endian u16.
  *  - WebP (RIFF container spec): `RIFF <size> WEBP`, then dims from the
  *    first chunk — lossy `VP8 ` (start code + 14-bit le u16 pair),
  *    lossless `VP8L` (0x2F + 28 packed le bits of (w−1, h−1)), or
  *    extended `VP8X` (u24-le canvas minus one).
  *
  * Anything else (including truncated or corrupt headers of a recognized
  * container) yields `('unknown', NULL, NULL)` — dimensions are never
  * guessed. Width/height are u32-safe longs. One bounded byte walk per
  * row, fully inside whole-stage codegen, zero shuffle — the shape that
  * profiles a 100 TB binary corpus in a single scan. NULL payload yields
  * NULL (standard null-intolerant unary expression).
  */
case class ImageMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ImageMeta.schema

  override def nullSafeEval(v: Any): Any =
    ImageMeta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.ImageMeta.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageMeta {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true)))

  private val FMT_PNG = UTF8String.fromString("png")
  private val FMT_JPEG = UTF8String.fromString("jpeg")
  private val FMT_GIF = UTF8String.fromString("gif")
  private val FMT_WEBP = UTF8String.fromString("webp")
  private val FMT_UNKNOWN = UTF8String.fromString("unknown")

  private def row(fmt: UTF8String, w: Long, h: Long): InternalRow =
    new GenericInternalRow(Array[Any](fmt, w, h))
  private def unknownOf(fmt: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](fmt, null, null))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def beU16(b: Array[Byte], i: Int): Long =
    ((u8(b, i) << 8) | u8(b, i + 1)).toLong
  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  private def leU16(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8)).toLong
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def leU24(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16)

  private val PngSig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  private def startsWith(b: Array[Byte], sig: Array[Byte]): Boolean = {
    if (b.length < sig.length) return false
    var i = 0
    while (i < sig.length) { if (b(i) != sig(i)) return false; i += 1 }
    true
  }

  /** SOF0..SOF15 minus the four C-range non-frame markers (C4 DHT,
    * C8 JPG, CC DAC) — RSTn/standalone codes are outside 0xC0..0xCF.
    */
  private def isSof(m: Int): Boolean =
    m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC

  /** Parse the container header; see class doc for the per-format field
    * layout. Called per row from generated and interpreted paths.
    */
  def compute(b: Array[Byte]): InternalRow = {
    // ---- PNG: signature + IHDR (must be the first chunk, per spec)
    if (startsWith(b, PngSig)) {
      if (b.length >= 24 &&
          b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        return row(FMT_PNG, beU32(b, 16), beU32(b, 20))
      return unknownOf(FMT_PNG)
    }
    // ---- JPEG: SOI then the marker walk to a frame header
    if (b.length >= 2 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xFF) return unknownOf(FMT_JPEG)
        // fill bytes: any number of 0xFF may pad before the marker code
        var j = i + 1
        while (j < b.length && u8(b, j) == 0xFF) j += 1
        if (j >= b.length) return unknownOf(FMT_JPEG)
        val m = u8(b, j)
        if (isSof(m)) {
          // FF m len(2) precision(1) height(2) width(2)
          if (j + 7 < b.length && beU16(b, j + 1) >= 8)
            return row(FMT_JPEG, beU16(b, j + 6), beU16(b, j + 4))
          return unknownOf(FMT_JPEG)
        }
        if (m == 0xD9 || m == 0xDA) return unknownOf(FMT_JPEG) // EOI / SOS
        // Reserved codes (0x00 — the stuffed-byte form FF 00 — and
        // 0x02..0xBF) never mark a header segment; treating one as
        // length-prefixed would jump by a garbage-derived length and
        // could land on bytes that parse as a fake SOF. Dimensions are
        // never guessed: bail to unknown instead.
        if (m != 0x01 && m < 0xC0) return unknownOf(FMT_JPEG)
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { // standalone, no length
          i = j + 1
        } else {
          if (j + 2 >= b.length) return unknownOf(FMT_JPEG)
          val len = beU16(b, j + 1)
          if (len < 2) return unknownOf(FMT_JPEG)
          i = j + 1 + len.toInt
        }
      }
      return unknownOf(FMT_JPEG)
    }
    // ---- GIF: version signature + little-endian logical screen size
    if (b.length >= 10 &&
        b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row(FMT_GIF, leU16(b, 6), leU16(b, 8))
    // ---- WebP (RIFF container): dims live in the FIRST chunk, whose
    // layout depends on its fourCC (container spec, developers.google
    // .com/speed/webp/docs/riff_container):
    //   VP8  (lossy)    3-byte frame tag, start code 9D 01 2A, then
    //                   u16-le width / u16-le height, 14 data bits each
    //   VP8L (lossless) 0x2F signature, then 28 packed little-endian
    //                   bits: (width−1):14 | (height−1):14
    //   VP8X (extended) 4 flag/reserved bytes, then u24-le canvas
    //                   (width−1) / (height−1)
    if (b.length >= 12 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      if (b.length >= 20 && b(12) == 'V' && b(13) == 'P' && b(14) == '8') {
        if (b(15) == ' ') {
          if (b.length >= 30 && u8(b, 23) == 0x9D && u8(b, 24) == 0x01 &&
              u8(b, 25) == 0x2A)
            return row(FMT_WEBP, leU16(b, 26) & 0x3FFF, leU16(b, 28) & 0x3FFF)
          return unknownOf(FMT_WEBP)
        }
        if (b(15) == 'L') {
          if (b.length >= 25 && u8(b, 20) == 0x2F) {
            val bits = leU32(b, 21)
            return row(FMT_WEBP, (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
          }
          return unknownOf(FMT_WEBP)
        }
        if (b(15) == 'X') {
          if (b.length >= 30)
            return row(FMT_WEBP, leU24(b, 24) + 1, leU24(b, 27) + 1)
          return unknownOf(FMT_WEBP)
        }
      }
      return unknownOf(FMT_WEBP)
    }
    unknownOf(FMT_UNKNOWN)
  }
}

/** Native audio-container metadata — format, channels, sample rate, bit
  * depth, frame count — parsed from the header bytes of a binary payload
  * column. Same stance as [[ImageMeta]]: container metadata needs no
  * codec, only the published byte layouts:
  *
  *  - WAV (RIFF, Microsoft/IBM WAVE spec): `RIFF <size> WAVE`, then a
  *    chunk walk — each chunk is `<4cc> <size:u32-le>` padded to even
  *    length; the `fmt ` chunk carries channels (u16-le @+2),
  *    sample rate (u32-le @+4), block align (u16-le @+12) and bits per
  *    sample (u16-le @+14); the `data` chunk's size over block align
  *    gives the frame count.
  *  - FLAC (xiph.org format spec): `fLaC`, then metadata blocks —
  *    1-byte header (last-flag bit 7, type bits 0-6) + u24-be length;
  *    the STREAMINFO block (type 0, 34 bytes) packs sample rate
  *    (20 bits), channels−1 (3 bits), bits-per-sample−1 (5 bits) and
  *    total samples (36 bits) starting at its byte 10.
  *
  * Corrupt or truncated headers of a recognized container yield
  * `(format, NULL, NULL, NULL, NULL)`; anything else
  * `('unknown', …NULLs)`. One bounded byte walk per row inside
  * whole-stage codegen, zero shuffle.
  */
case class AudioMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AudioMeta.schema

  override def nullSafeEval(v: Any): Any =
    AudioMeta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.AudioMeta.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AudioMeta {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", LongType, nullable = true),
    StructField("sample_rate", LongType, nullable = true),
    StructField("bits_per_sample", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = true)))

  private val FMT_WAV = UTF8String.fromString("wav")
  private val FMT_FLAC = UTF8String.fromString("flac")
  private val FMT_UNKNOWN = UTF8String.fromString("unknown")

  private def row(fmt: UTF8String, ch: Long, rate: Long, bits: Long,
      frames: Long): InternalRow =
    new GenericInternalRow(Array[Any](fmt, ch, rate, bits, frames))
  private def unknownOf(fmt: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](fmt, null, null, null, null))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU16(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8)).toLong
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  private def cc(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0) && b(i + 1) == s.charAt(1) &&
      b(i + 2) == s.charAt(2) && b(i + 3) == s.charAt(3)

  def compute(b: Array[Byte]): InternalRow = {
    // ---- WAV: RIFF/WAVE signature, then the even-padded chunk walk
    if (b.length >= 12 && cc(b, 0, "RIFF") && cc(b, 8, "WAVE")) {
      var ch = -1L; var rate = -1L; var bits = -1L
      var blockAlign = -1L; var dataSize = -1L
      var i = 12
      var guard = 0
      while (i + 8 <= b.length && guard < 64) {
        guard += 1
        val size = leU32(b, i + 4)
        if (cc(b, i, "fmt ")) {
          if (size < 16 || i + 8 + 16 > b.length) return unknownOf(FMT_WAV)
          ch = leU16(b, i + 10)
          rate = leU32(b, i + 12)
          blockAlign = leU16(b, i + 20)
          bits = leU16(b, i + 22)
        } else if (cc(b, i, "data")) {
          dataSize = size
        }
        val next = i.toLong + 8L + size + (size & 1L)
        if (next > Int.MaxValue) return unknownOf(FMT_WAV)
        i = next.toInt
      }
      if (ch > 0 && rate > 0 && bits > 0 && blockAlign > 0 && dataSize >= 0)
        return row(FMT_WAV, ch, rate, bits, dataSize / blockAlign)
      return unknownOf(FMT_WAV)
    }
    // ---- FLAC: fLaC signature, metadata-block walk to STREAMINFO
    if (b.length >= 4 && cc(b, 0, "fLaC")) {
      var i = 4
      var guard = 0
      while (i + 4 <= b.length && guard < 64) {
        guard += 1
        val hdr = u8(b, i)
        val size = ((u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)).toLong
        if ((hdr & 0x7F) == 0) { // STREAMINFO
          if (size < 34 || i + 4 + 34 > b.length) return unknownOf(FMT_FLAC)
          val o = i + 4
          val rate = (u8(b, o + 10).toLong << 12) |
            (u8(b, o + 11).toLong << 4) | (u8(b, o + 12) >> 4).toLong
          val ch = ((u8(b, o + 12) >> 1) & 0x7) + 1L
          val bits = (((u8(b, o + 12) & 1) << 4) | (u8(b, o + 13) >> 4)) + 1L
          val frames = ((u8(b, o + 13) & 0x0F).toLong << 32) | beU32(b, o + 14)
          if (rate == 0) return unknownOf(FMT_FLAC) // 0 is invalid per spec
          return row(FMT_FLAC, ch, rate, bits, frames)
        }
        if ((hdr & 0x80) != 0) return unknownOf(FMT_FLAC) // last block, no STREAMINFO
        i += 4 + size.toInt // size < 2^24: no overflow
      }
      return unknownOf(FMT_FLAC)
    }
    unknownOf(FMT_UNKNOWN)
  }
}

/** Native ISO BMFF (MP4/MOV, ISO/IEC 14496-12) container metadata —
  * major brand, movie timescale, movie duration — from the box tree:
  * each box is `<size:u32-be> <4cc>` (size 1 → u64 largesize followers,
  * size 0 → box extends to end of payload); `ftyp` carries the major
  * brand as its first payload field; `moov`'s child `mvhd` carries
  * timescale and duration at version-dependent offsets (v0: u32 fields
  * after two u32 timestamps; v1: u32 timescale + u64 duration after two
  * u64 timestamps). Corrupt trees yield NULL fields, non-BMFF payloads
  * `('unknown', NULL, NULL)`. One bounded byte walk per row inside
  * whole-stage codegen.
  */
case class Mp4Meta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = Mp4Meta.schema

  override def nullSafeEval(v: Any): Any =
    Mp4Meta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.Mp4Meta.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp4Meta {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val schema: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("timescale", LongType, nullable = true),
    StructField("duration", LongType, nullable = true)))

  private val UNKNOWN = UTF8String.fromString("unknown")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  private def beU64(b: Array[Byte], i: Int): Long =
    (beU32(b, i) << 32) | beU32(b, i + 4)
  private def is4cc(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0) && b(i + 1) == s.charAt(1) &&
      b(i + 2) == s.charAt(2) && b(i + 3) == s.charAt(3)

  private def result(brand: UTF8String, ts: Any, dur: Any): InternalRow =
    new GenericInternalRow(Array[Any](brand, ts, dur))

  /** Box length at `i` within `[i, limit)`, or -1 if malformed. */
  private def boxLen(b: Array[Byte], i: Int, limit: Int): Long = {
    if (i + 8 > limit) return -1
    val s = beU32(b, i)
    val len = if (s == 0) (limit - i).toLong
      else if (s == 1) { if (i + 16 > limit) return -1; beU64(b, i + 8) }
      else s
    if (len < 8 || i + len > limit) -1 else len
  }

  def compute(b: Array[Byte]): InternalRow = {
    // a plausible BMFF starts with a well-formed top-level box; require
    // the FIRST box to be ftyp (mandated "as early as possible" by the
    // spec; first in every real file)
    if (b.length < 16 || boxLen(b, 0, b.length) < 0 || !is4cc(b, 4, "ftyp"))
      return result(UNKNOWN, null, null)
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 8, 12))
    // top-level walk to moov
    var i = 0
    var guard = 0
    while (i + 8 <= b.length && guard < 64) {
      guard += 1
      val len = boxLen(b, i, b.length)
      if (len < 0) return result(brand, null, null)
      if (is4cc(b, i + 4, "moov")) {
        // child walk to mvhd within this box's extent
        val limit = (i + len).toInt
        var j = i + (if (beU32(b, i) == 1) 16 else 8)
        var g2 = 0
        while (j + 8 <= limit && g2 < 64) {
          g2 += 1
          val clen = boxLen(b, j, limit)
          if (clen < 0) return result(brand, null, null)
          if (is4cc(b, j + 4, "mvhd")) {
            val p = j + 8 // payload: version(1) flags(3) ...
            if (p + 4 > limit) return result(brand, null, null)
            val version = u8(b, p)
            if (version == 0) {
              if (p + 20 > limit) return result(brand, null, null)
              return result(brand, beU32(b, p + 12), beU32(b, p + 16))
            } else if (version == 1) {
              if (p + 32 > limit) return result(brand, null, null)
              return result(brand, beU32(b, p + 20), beU64(b, p + 24))
            } else return result(brand, null, null)
          }
          j += clen.toInt
        }
        return result(brand, null, null)
      }
      i += len.toInt
    }
    result(brand, null, null)
  }
}

object MediaExpressions {
  /** Column-level API: native image-container metadata
    * `struct(format, width, height)` parsed from a binary column (see
    * [[ImageMeta]]): one bounded byte walk per row, u32-safe longs; unknown
    * or corrupt containers yield `('unknown', NULL, NULL)`.
    */
  def image_meta(payload: Column): Column =
    ExpressionUtils.column(ImageMeta(ExpressionUtils.expression(payload)))

  /** Native audio-container metadata `struct(format, channels,
    * sample_rate, bits_per_sample, n_frames)` (see [[AudioMeta]]).
    */
  def audio_meta(payload: Column): Column =
    ExpressionUtils.column(AudioMeta(ExpressionUtils.expression(payload)))

  /** Native ISO BMFF (MP4/MOV) metadata `struct(brand, timescale,
    * duration)` (see [[Mp4Meta]]).
    */
  def mp4_meta(payload: Column): Column =
    ExpressionUtils.column(Mp4Meta(ExpressionUtils.expression(payload)))
}
