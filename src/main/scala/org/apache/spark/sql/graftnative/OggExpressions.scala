package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ogg container metadata (RFC 3533) with Vorbis and Opus
  * identification headers — the remaining audio container a web crawl
  * yields next to WAV/FLAC/MP4. The page walk is real: capture pattern,
  * version-0 gate, segment-table lacing, and the page CRC actually
  * VERIFIED (the Ogg CRC-32: polynomial 0x04C11DB7, zero init, no
  * reflection, computed with the checksum field zeroed) — a corrupted
  * page rejects rather than trusting the header bytes. The first (BOS)
  * page's packet routes by magic: `\x01 vorbis` (channels, rate from
  * the identification header, Vorbis I §4.2.2) or `OpusHead` (channel
  * count, input sample rate, RFC 7845 §5.1). `n_frames` is the LAST
  * page's granule position — total PCM samples for Vorbis, 48 kHz
  * samples (including pre-skip) for Opus, both per their mapping specs.
  * `bits_per_sample` is null: lossy codecs have no fixed sample width.
  */
object OggMeta {

  val schema: StructType = AudioMeta.schema

  private val FmtVorbis = UTF8String.fromString("vorbis")
  private val FmtOpus = UTF8String.fromString("opus")
  private val FmtUnknown = UTF8String.fromString("unknown")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU16(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8)).toLong
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def leU64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | u8(b, i + k); k -= 1 }
    v
  }

  /** The Ogg CRC-32 over `b(off until off+len)` with the 4 checksum
    * bytes at `crcAt` treated as zero.
    */
  private[graftnative] def pageCrc(b: Array[Byte], off: Int, len: Int,
      crcAt: Int): Int = {
    var crc = 0
    var i = off
    val end = off + len
    while (i < end) {
      val byte = if (i >= crcAt && i < crcAt + 4) 0 else u8(b, i)
      crc ^= byte << 24
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04C11DB7 else crc << 1
        k += 1
      }
      i += 1
    }
    crc
  }

  private def row(fmt: UTF8String, ch: Long, rate: Long,
      frames: Long): InternalRow =
    new GenericInternalRow(Array[Any](fmt, ch, rate, null, frames))
  private def unknown: InternalRow =
    new GenericInternalRow(Array[Any](FmtUnknown, null, null, null, null))

  def isOgg(b: Array[Byte]): Boolean =
    b.length >= 27 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S'

  def compute(b: Array[Byte]): InternalRow = {
    if (!isOgg(b)) return unknown
    var fmt: UTF8String = null
    var ch = -1L
    var rate = -1L
    var lastGranule = -1L
    var i = 0
    var pages = 0
    while (i + 27 <= b.length && pages < 65536) {
      if (!(b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' && b(i + 3) == 'S'))
        return unknown
      if (u8(b, i + 4) != 0) return unknown // stream structure version
      val granule = leU64(b, i + 6)
      val nSegs = u8(b, i + 26)
      if (i + 27 + nSegs > b.length) return unknown
      var bodyLen = 0
      var s = 0
      while (s < nSegs) { bodyLen += u8(b, i + 27 + s); s += 1 }
      val pageLen = 27 + nSegs + bodyLen
      if (i + pageLen > b.length) return unknown
      val crc = leU32(b, i + 22)
      if ((pageCrc(b, i, pageLen, i + 22) & 0xFFFFFFFFL) != crc) return unknown
      if (pages == 0) {
        // BOS page: route the identification packet by magic
        val p = i + 27 + nSegs
        if (bodyLen >= 30 && u8(b, p) == 1 && b(p + 1) == 'v' &&
            b(p + 2) == 'o' && b(p + 3) == 'r' && b(p + 4) == 'b' &&
            b(p + 5) == 'i' && b(p + 6) == 's') {
          if (leU32(b, p + 7) != 0) return unknown // vorbis_version
          fmt = FmtVorbis
          ch = u8(b, p + 11)
          rate = leU32(b, p + 12)
        } else if (bodyLen >= 19 && b(p) == 'O' && b(p + 1) == 'p' &&
            b(p + 2) == 'u' && b(p + 3) == 's' && b(p + 4) == 'H' &&
            b(p + 5) == 'e' && b(p + 6) == 'a' && b(p + 7) == 'd') {
          if (u8(b, p + 8) != 1) return unknown // OpusHead version
          fmt = FmtOpus
          ch = u8(b, p + 9)
          rate = leU32(b, p + 12)
        } else return unknown
        if (ch < 1 || rate < 1) return unknown
      }
      if (granule >= 0) lastGranule = granule
      i += pageLen
      pages += 1
    }
    if (fmt == null || i != b.length) return unknown
    row(fmt, ch, rate, lastGranule)
  }
}

/** Unary expression surfacing [[OggMeta.compute]] (the AudioMeta
  * schema; bits_per_sample null for lossy codecs).
  */
case class OggMetaExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = OggMeta.schema

  override def nullSafeEval(v: Any): Any =
    OggMeta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.OggMeta.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fixture ENCODER: a complete valid two-page Ogg stream (BOS page with
  * the identification packet, EOS page carrying the final granule
  * position) with REAL page checksums.
  */
object OggSynth {

  private[graftnative] def page(headerType: Int, granule: Long, serial: Int,
      seq: Int, body: Array[Byte]): Array[Byte] = {
    val nSegs = (body.length + 255) / 255 max 1
    require(body.length < 255 * 255, "fixture packet too large")
    // lacing: all-255 segments then the remainder (may be 0 for empty)
    val segs = new Array[Int](nSegs)
    var rem = body.length
    var s = 0
    while (s < nSegs) {
      segs(s) = math.min(255, rem)
      rem -= segs(s)
      s += 1
    }
    require(segs.last < 255, "packet must terminate inside the page")
    val out = new Array[Byte](27 + nSegs + body.length)
    out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
    out(4) = 0
    out(5) = headerType.toByte
    var k = 0
    while (k < 8) { out(6 + k) = ((granule >> (8 * k)) & 0xFF).toByte; k += 1 }
    k = 0
    while (k < 4) {
      out(14 + k) = ((serial >> (8 * k)) & 0xFF).toByte
      out(18 + k) = ((seq >> (8 * k)) & 0xFF).toByte
      k += 1
    }
    out(26) = nSegs.toByte
    s = 0
    while (s < nSegs) { out(27 + s) = segs(s).toByte; s += 1 }
    System.arraycopy(body, 0, out, 27 + nSegs, body.length)
    val crc = OggMeta.pageCrc(out, 0, out.length, 22)
    k = 0
    while (k < 4) { out(22 + k) = ((crc >> (8 * k)) & 0xFF).toByte; k += 1 }
    out
  }

  /** Complete valid Ogg-Vorbis or Ogg-Opus stream head+tail; `mode` 0 =
    * Vorbis, 1 = Opus. Null on out-of-envelope args.
    */
  def oggBytes(chL: Long, rateL: Long, framesL: Long, mode: Int): Array[Byte] = {
    if (chL < 1 || chL > 8 || rateL < 1 || rateL > 192000 ||
        framesL < 0 || framesL > (1L << 40)) return null
    val ch = chL.toInt
    val body =
      if (mode == 0) {
        val p = new Array[Byte](30)
        p(0) = 1
        "vorbis".getBytes("US-ASCII").copyToArray(p, 1)
        // version u32 = 0 (already), channels, rate, 3 bitrates = 0
        p(11) = ch.toByte
        var k = 0
        while (k < 4) { p(12 + k) = ((rateL >> (8 * k)) & 0xFF).toByte; k += 1 }
        p(28) = 0x88.toByte // blocksize_0 = blocksize_1 = 2^8
        p(29) = 1 // framing bit
        p
      } else {
        val p = new Array[Byte](19)
        "OpusHead".getBytes("US-ASCII").copyToArray(p, 0)
        p(8) = 1 // version
        p(9) = ch.toByte
        p(10) = 0x38; p(11) = 1 // pre-skip 312
        var k = 0
        while (k < 4) { p(12 + k) = ((rateL >> (8 * k)) & 0xFF).toByte; k += 1 }
        // output gain 0, mapping family 0
        p
      }
    val serial = (chL * 31 + rateL * 7 + mode).toInt
    val head = page(0x02, 0L, serial, 0, body)
    val tail = page(0x04, framesL, serial, 1, new Array[Byte](0))
    val out = new Array[Byte](head.length + tail.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(tail, 0, out, head.length, tail.length)
    out
  }
}

/** Expression wrapping [[OggSynth.oggBytes]]. */
case class SynthOgg(first: Expression, second: Expression, third: Expression,
    mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(mode == 0 || mode == 1,
    s"synth_ogg mode must be 0 (Vorbis) or 1 (Opus); got $mode")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(ch: Any, rate: Any, frames: Any): Any =
    OggSynth.oggBytes(ch.asInstanceOf[Long], rate.asInstanceOf[Long],
      frames.asInstanceOf[Long], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, r, f) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.OggSynth.oggBytes($c, $r, $f, $mode);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object OggFunctions {
  /** Column API: Ogg page-walk metadata (RFC 3533) with Vorbis/Opus
    * identification headers and real page-CRC verification (see [[OggMeta]]).
    */
  def ogg_meta(payload: Column): Column =
    ExpressionUtils.column(OggMetaExpr(ExpressionUtils.expression(payload)))

  /** Column API: complete valid two-page Ogg stream from
    * `(ch, rate, frames)`; `mode`: 0 = Vorbis, 1 = Opus (see [[OggSynth]]).
    */
  def synth_ogg(ch: Column, rate: Column, frames: Column, mode: Int): Column =
    ExpressionUtils.column(SynthOgg(ExpressionUtils.expression(ch),
      ExpressionUtils.expression(rate), ExpressionUtils.expression(frames), mode))
}
