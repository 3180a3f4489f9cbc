package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MP3 (MPEG-1/2/2.5 audio Layer I-III, ISO/IEC 11172-3) container
  * metadata: skip a leading ID3v2 tag (syncsafe size, optional footer),
  * then walk EVERY frame header — sync pattern, version/layer gates,
  * the published bitrate and sample-rate index tables, and the
  * per-layer frame-length arithmetic (padding bit included) — to the
  * end of the payload, tolerating one trailing 128-byte ID3v1 tag.
  * The walk is exact: a single wrong frame-length lands off-sync and
  * rejects, so a passing file proves every header parsed. `n_frames`
  * is total SAMPLES (frames × samples-per-frame for the layer/version,
  * the WAV/FLAC-consistent semantic); `bits_per_sample` is null (lossy).
  * Free-format (bitrate index 0), reserved indexes, and mid-stream
  * parameter changes reject honestly.
  */
object Mp3Meta {

  val schema: StructType = AudioMeta.schema

  private val FmtMp3 = UTF8String.fromString("mp3")
  private val FmtUnknown = UTF8String.fromString("unknown")

  /** Bitrate tables (kbit/s), index 1..14 — ISO 11172-3 / 13818-3. */
  private val BrV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val BrV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BrV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val BrV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** Sample rates by version (MPEG1 / MPEG2 / MPEG2.5), index 0..2. */
  private val SrV1 = Array(44100, 48000, 32000)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def row(ch: Long, rate: Long, samples: Long): InternalRow =
    new GenericInternalRow(Array[Any](FmtMp3, ch, rate, null, samples))
  private def unknown: InternalRow =
    new GenericInternalRow(Array[Any](FmtUnknown, null, null, null, null))

  def looksLikeMp3(b: Array[Byte]): Boolean =
    (b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
      (b.length >= 2 && u8(b, 0) == 0xFF && (u8(b, 1) & 0xE0) == 0xE0)

  def compute(b: Array[Byte]): InternalRow = {
    if (b.length < 4) return unknown
    var i = 0
    // ---- leading ID3v2: "ID3" vv f ssss (syncsafe)
    if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      if (b.length < 10) return unknown
      val flags = u8(b, 5)
      var sz = 0
      var k = 0
      while (k < 4) {
        val s = u8(b, 6 + k)
        if ((s & 0x80) != 0) return unknown // syncsafe violation
        sz = (sz << 7) | s
        k += 1
      }
      i = 10 + sz + (if ((flags & 0x10) != 0) 10 else 0)
      if (i >= b.length) return unknown
    }
    var ch = -1L
    var rate = -1L
    var samplesPerFrame = -1
    var frames = 0L
    while (i < b.length) {
      // trailing ID3v1 tag: exactly 128 bytes of "TAG..."
      if (b.length - i == 128 && b(i) == 'T' && b(i + 1) == 'A' &&
          b(i + 2) == 'G' && frames > 0)
        return row(ch, rate, frames * samplesPerFrame)
      if (i + 4 > b.length) return unknown
      val h0 = u8(b, i); val h1 = u8(b, i + 1)
      val h2 = u8(b, i + 2); val h3 = u8(b, i + 3)
      if (h0 != 0xFF || (h1 & 0xE0) != 0xE0) return unknown
      val version = (h1 >> 3) & 3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
      val layer = (h1 >> 1) & 3 // 1=III, 2=II, 3=I
      if (version == 1 || layer == 0) return unknown
      val brIdx = (h2 >> 4) & 0xF
      val srIdx = (h2 >> 2) & 3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return unknown
      val padding = (h2 >> 1) & 1
      val mode = (h3 >> 6) & 3
      val v1 = version == 3
      val br = 1000 * (if (v1) {
        if (layer == 3) BrV1L1(brIdx)
        else if (layer == 2) BrV1L2(brIdx)
        else BrV1L3(brIdx)
      } else {
        if (layer == 3) BrV2L1(brIdx) else BrV2L23(brIdx)
      })
      val sr = SrV1(srIdx) / (if (v1) 1 else if (version == 2) 2 else 4)
      val spf =
        if (layer == 3) 384 // Layer I
        else if (layer == 2) 1152 // Layer II
        else if (v1) 1152 else 576 // Layer III
      val frameLen =
        if (layer == 3) (12 * br / sr + padding) * 4
        else if (layer == 2) 144 * br / sr + padding
        else (if (v1) 144 else 72) * br / sr + padding
      if (frameLen < 4 || i + frameLen > b.length) return unknown
      val thisCh = if (mode == 3) 1L else 2L
      if (frames == 0) { ch = thisCh; rate = sr; samplesPerFrame = spf }
      else if (ch != thisCh || rate != sr || samplesPerFrame != spf)
        return unknown // mid-stream parameter change
      frames += 1
      if (frames > (1 << 20)) return unknown
      i += frameLen
    }
    if (frames == 0) return unknown
    row(ch, rate, frames * samplesPerFrame)
  }
}

/** Unary expression surfacing [[Mp3Meta.compute]]. */
case class Mp3MetaExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = Mp3Meta.schema

  override def nullSafeEval(v: Any): Any =
    Mp3Meta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.Mp3Meta.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fixture ENCODER: a complete valid MP3 — optional ID3v2 head (junk
  * payload bytes, real syncsafe size), `frames` MPEG-1 Layer III frames
  * (bitrate index cycling 1..14, alternating padding bits so the
  * frame-length arithmetic is exercised both ways, zeroed side-info and
  * main data), and an ID3v1 trailer when `withV1Tag`.
  */
object Mp3Synth {

  def mp3Bytes(chL: Long, srIdxL: Long, framesL: Long, seed: Long,
      withId3: Boolean, withV1Tag: Boolean): Array[Byte] = {
    if (chL < 1 || chL > 2 || srIdxL < 0 || srIdxL > 2 ||
        framesL < 1 || framesL > 4096) return null
    val srIdx = srIdxL.toInt
    val sr = Array(44100, 48000, 32000)(srIdx)
    val br = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
      256, 320)
    val out = new java.io.ByteArrayOutputStream()
    if (withId3) {
      val tagSz = 64 + (seed % 100).toInt
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0)
      out.write((tagSz >> 21) & 0x7F); out.write((tagSz >> 14) & 0x7F)
      out.write((tagSz >> 7) & 0x7F); out.write(tagSz & 0x7F)
      var k = 0
      while (k < tagSz) { out.write(((seed + k) % 251).toInt); k += 1 }
    }
    var f = 0L
    while (f < framesL) {
      val brIdx = 1 + java.lang.Math.floorMod(seed + f * 3, 14).toInt
      val padding = (java.lang.Math.floorMod(seed + f, 2)).toInt
      val frameLen = 144 * (1000 * br(brIdx)) / sr + padding
      out.write(0xFF)
      out.write(0xFB) // MPEG1, Layer III, no CRC
      out.write((brIdx << 4) | (srIdx << 2) | (padding << 1))
      out.write(if (chL == 1) 0xC0 else 0x00) // mono / stereo
      var k = 4
      while (k < frameLen) { out.write(0); k += 1 }
      f += 1
    }
    if (withV1Tag) {
      out.write('T'); out.write('A'); out.write('G')
      var k = 3
      while (k < 128) { out.write(0); k += 1 }
    }
    out.toByteArray
  }
}

/** Expression wrapping [[Mp3Synth.mp3Bytes]]; the two container flags
  * ride the `mode` (bit 0 = ID3v2 head, bit 1 = ID3v1 trailer).
  */
case class SynthMp3(first: Expression, second: Expression, third: Expression,
    mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(mode >= 0 && mode <= 3, s"synth_mp3 mode must be 0-3; got $mode")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(ch: Any, srIdx: Any, frames: Any): Any =
    Mp3Synth.mp3Bytes(ch.asInstanceOf[Long], srIdx.asInstanceOf[Long],
      frames.asInstanceOf[Long], seed = ch.asInstanceOf[Long] * 7 +
        frames.asInstanceOf[Long], withId3 = (mode & 1) != 0,
      withV1Tag = (mode & 2) != 0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, r, f) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Mp3Synth.mp3Bytes(
        $c, $r, $f, $c * 7 + $f, ${(mode & 1) != 0}, ${(mode & 2) != 0});
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Mp3Functions {
  /** Column API: MP3 frame-walk metadata: ID3v2 skip, every frame header
    * parsed through the published bitrate/sample-rate tables and per-layer
    * length arithmetic (see [[Mp3Meta]]).
    */
  def mp3_meta(payload: Column): Column =
    ExpressionUtils.column(Mp3MetaExpr(ExpressionUtils.expression(payload)))

  /** Column API: complete valid MP3 from `(ch, srIdx, frames)`; `mode` bit
    * 0 adds an ID3v2 head, bit 1 an ID3v1 trailer (see [[Mp3Synth]]).
    */
  def synth_mp3(ch: Column, srIdx: Column, frames: Column, mode: Int): Column =
    ExpressionUtils.column(SynthMp3(ExpressionUtils.expression(ch),
      ExpressionUtils.expression(srIdx), ExpressionUtils.expression(frames), mode))
}
