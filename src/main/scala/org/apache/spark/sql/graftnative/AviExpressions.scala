package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** REAL video decode, step 2 beyond raw Y4M: Motion-JPEG in the AVI
  * container — the codec-in-container shape (every frame is a complete
  * baseline JPEG), which is what webcams, capture cards, and a large
  * slice of archival/surveillance corpora emit. The RIFF/AVI walk
  * (hdrl → avih/strl/strh/strf headers, the movi LIST with `00dc`/
  * `00db` frame chunks, optional `rec ` grouping lists, idx1 tolerated
  * and skipped) is a native byte walk, and each sampled frame routes
  * through the SAME [[JpegCodec]] the raster path uses — entropy
  * decode, dequant, IDCT, upsample, color conversion per frame, zero
  * external libraries, per-row, zero shuffle.
  *
  * Frame SAMPLING (`stride`) is first-class: training-data pipelines
  * keep every k-th frame, and sampling must skip the DECODE cost of
  * dropped frames, not just their rows — unsampled chunks are never
  * parsed beyond their length field.
  *
  * Scope, honestly: the `vids/MJPG` stream type only (the strf
  * compression gate rejects anything else — DIB/cvid/h264 reject to
  * null rather than guessing); single video stream; frames must agree
  * on dimensions. Malformed containers, torn chunks, or any frame the
  * JPEG decoder rejects null the row — untrusted bytes never fail the
  * task.
  */
case class AviMjpegFrames(child: Expression, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(stride > 0, s"stride must be positive, got $stride")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AviMjpegFrames.schema

  override def nullSafeEval(v: Any): Any =
    AviMjpegFrames.compute(v.asInstanceOf[Array[Byte]], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.AviMjpegFrames.compute($c, $stride)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AviMjpegFrames {
  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("codec", StringType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("frame_idx", ArrayType(IntegerType, containsNull = false),
      nullable = true),
    StructField("r_sums", ArrayType(LongType, containsNull = false),
      nullable = true),
    StructField("g_sums", ArrayType(LongType, containsNull = false),
      nullable = true),
    StructField("b_sums", ArrayType(LongType, containsNull = false),
      nullable = true)))

  private val MaxFrames = 1 << 16
  private val CodecMjpg = UTF8String.fromString("mjpg")

  private def bad: InternalRow =
    new GenericInternalRow(Array[Any](null, null, null, null, null, null, null, null))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def fourcc(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0) && b(i + 1) == s.charAt(1) &&
      b(i + 2) == s.charAt(2) && b(i + 3) == s.charAt(3)

  /** Collect every MJPEG frame chunk's (offset, size) from the movi
    * list — the container walk shared by the statistics and dHash
    * forms. Returns null on a malformed container (bad RIFF shape,
    * non-MJPG stream, torn chunks, frame-count cap).
    */
  private[graftnative] def frameRanges(
      b: Array[Byte]): (Array[Int], Array[Int]) = {
    if (b.length < 12 || !fourcc(b, 0, "RIFF") || !fourcc(b, 8, "AVI "))
      return null
    // pass 1: find strf (compression gate) and the movi LIST
    var moviOff = -1L
    var moviEnd = -1L
    var mjpgStream = false
    def walkHdrl(off: Long, end: Long, depth: Int): Unit = {
      if (depth > 8) return // crafted deep nesting must not overflow the stack
      var i = off
      while (i + 8 <= end) {
        val sz = le32(b, (i + 4).toInt)
        val body = i + 8
        if (body + sz > end) return
        if (fourcc(b, i.toInt, "LIST") && sz >= 4) {
          walkHdrl(body + 4, body + sz, depth + 1)
        } else if (fourcc(b, i.toInt, "strf") && sz >= 20) {
          // BITMAPINFOHEADER: biCompression at +16
          if (fourcc(b, (body + 16).toInt, "MJPG")) mjpgStream = true
        }
        i = body + sz + (sz & 1)
      }
    }
    var i = 12L
    while (i + 8 <= b.length && moviOff < 0) {
      val sz = le32(b, (i + 4).toInt)
      val body = i + 8
      if (body + sz > b.length) return null
      if (fourcc(b, i.toInt, "LIST") && sz >= 4) {
        if (fourcc(b, body.toInt, "movi")) { moviOff = body + 4; moviEnd = body + sz }
        else if (fourcc(b, body.toInt, "hdrl")) walkHdrl(body + 4, body + sz, 0)
      }
      i = body + sz + (sz & 1)
    }
    if (!mjpgStream || moviOff < 0) return null

    val offs = new java.util.ArrayList[Integer]()
    val szs = new java.util.ArrayList[Integer]()
    var ok = true

    def frameChunk(c: Int): Boolean =
      (b(c + 2) == 'd' && (b(c + 3) == 'c' || b(c + 3) == 'b')) &&
        b(c) >= '0' && b(c) <= '9' && b(c + 1) >= '0' && b(c + 1) <= '9'

    def walkMovi(off: Long, end: Long, depth: Int): Unit = {
      if (depth > 8) { ok = false; return } // depth-bounded, like hdrl
      var i = off
      while (ok && i + 8 <= end) {
        val sz = le32(b, (i + 4).toInt)
        val body = i + 8
        if (body + sz > end) { ok = false; return }
        if (fourcc(b, i.toInt, "LIST") && sz >= 4 &&
            fourcc(b, body.toInt, "rec ")) {
          walkMovi(body + 4, body + sz, depth + 1)
        } else if (frameChunk(i.toInt)) {
          if (offs.size() >= MaxFrames) { ok = false; return }
          offs.add(body.toInt)
          szs.add(sz.toInt)
        }
        i = body + sz + (sz & 1)
      }
    }
    walkMovi(moviOff, moviEnd, 0)
    if (!ok) return null
    val oa = new Array[Int](offs.size())
    val sa = new Array[Int](offs.size())
    var k = 0
    while (k < oa.length) { oa(k) = offs.get(k); sa(k) = szs.get(k); k += 1 }
    (oa, sa)
  }

  def compute(b: Array[Byte], stride: Int): InternalRow = {
    val ranges = frameRanges(b)
    if (ranges == null) return bad
    val (fOffs, fSzs) = ranges

    val idx = new java.util.ArrayList[Integer]()
    val rs = new java.util.ArrayList[java.lang.Long]()
    val gs = new java.util.ArrayList[java.lang.Long]()
    val bs = new java.util.ArrayList[java.lang.Long]()
    var w = -1
    var h = -1
    var n = 0
    while (n < fOffs.length) {
      if (n % stride == 0) {
        // decode ONLY sampled frames — dropped frames cost a length
        // field, not a JPEG decode. Gate on the SOI marker first:
        // JpegCodec assumes its dispatcher already checked the magic.
        val body = fOffs(n)
        val sz = fSzs(n)
        if (sz < 2 || u8(b, body) != 0xFF || u8(b, body + 1) != 0xD8)
          return bad
        val fb = java.util.Arrays.copyOfRange(b, body, body + sz)
        val r = JpegCodec.decode(fb)
        if (r.isNullAt(1)) return bad
        val fw = r.getInt(1); val fh = r.getInt(2); val ch = r.getInt(3)
        if (w < 0) { w = fw; h = fh }
        else if (w != fw || h != fh) return bad
        val px = r.getBinary(4)
        var rr = 0L; var gg = 0L; var bb = 0L
        if (ch == 3) {
          var p = 0
          while (p < px.length) {
            rr += px(p) & 0xFF; gg += px(p + 1) & 0xFF; bb += px(p + 2) & 0xFF
            p += 3
          }
        } else {
          var p = 0
          while (p < px.length) { rr += px(p) & 0xFF; p += 1 }
          gg = rr; bb = rr
        }
        idx.add(n); rs.add(rr); gs.add(gg); bs.add(bb)
      }
      n += 1
    }
    if (n == 0 || idx.isEmpty) return bad
    val m = idx.size()
    val ia = new Array[Int](m)
    val ra = new Array[Long](m)
    val ga = new Array[Long](m)
    val ba = new Array[Long](m)
    var k = 0
    while (k < m) {
      ia(k) = idx.get(k); ra(k) = rs.get(k); ga(k) = gs.get(k); ba(k) = bs.get(k)
      k += 1
    }
    new GenericInternalRow(Array[Any](w, h, CodecMjpg, n,
      new GenericArrayData(ia), new GenericArrayData(ra),
      new GenericArrayData(ga), new GenericArrayData(ba)))
  }
}

/** Fixture ENCODER: a complete valid AVI/MJPEG file — RIFF with hdrl
  * (avih + strl/strh/strf headers), a movi LIST whose `00dc` chunks
  * are REAL baseline JPEGs from [[JpegSynth]] (frame f at seed
  * `seed + 131·f`, 4:2:0), and a proper idx1. The per-frame JPEG
  * fixture sums are oracle-replayable: each 8×8 block's ±-basis terms
  * cancel over the block, so a frame's luma sum is
  * `Σ_blocks 64·(64 + (sf·31 + bi·17) mod 128)` and the RGB sums add
  * the chroma-variant shift triple times the pixel count.
  */
object AviSynth {

  /** Complete valid AVI; null on out-of-envelope args. `w`, `h` must be
    * multiples of 16 (the 4:2:0 JPEG fixture contract).
    */
  def aviBytes(wL: Long, hL: Long, framesL: Long, seed: Long): Array[Byte] = {
    if (wL < 16 || hL < 16 || wL > 1024 || hL > 1024 ||
        wL % 16 != 0 || hL % 16 != 0 || framesL < 1 || framesL > 64)
      return null
    val w = wL.toInt; val h = hL.toInt; val frames = framesL.toInt
    val jpegs = new Array[Array[Byte]](frames)
    var f = 0
    while (f < frames) {
      jpegs(f) = JpegSynth.jpegBytes(wL, hL, seed + 131L * f, mode = 1)
      if (jpegs(f) == null) return null
      f += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = {
      var i = 0; while (i < s.length) { out.write(s.charAt(i)); i += 1 }
    }
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }

    // sizes bottom-up
    val strhSz = 56; val strfSz = 40
    val strlSz = 4 + 8 + strhSz + 8 + strfSz
    val avihSz = 56
    val hdrlSz = 4 + 8 + avihSz + 8 + strlSz
    var moviSz = 4
    f = 0
    while (f < frames) { moviSz += 8 + jpegs(f).length + (jpegs(f).length & 1); f += 1 }
    val idxSz = 16 * frames
    val riffSz = 4 + 8 + hdrlSz + 8 + moviSz + 8 + idxSz

    ascii("RIFF"); le32(riffSz); ascii("AVI ")
    ascii("LIST"); le32(hdrlSz); ascii("hdrl")
    ascii("avih"); le32(avihSz)
    le32(33333); le32(0); le32(0); le32(0x10) // usec/frame, maxbps, pad, HASINDEX
    le32(frames); le32(0); le32(1); le32(0)   // total, initial, streams, sugg buf
    le32(w); le32(h); le32(0); le32(0); le32(0); le32(0)
    ascii("LIST"); le32(strlSz); ascii("strl")
    ascii("strh"); le32(strhSz)
    ascii("vids"); ascii("MJPG")
    le32(0); le16(0); le16(0) // flags, priority, language
    le32(0); le32(1); le32(30) // initial frames, scale, rate
    le32(0); le32(frames); le32(0) // start, length, sugg buf
    le32(0xFFFFFFFF); le32(0) // quality, sample size
    le16(0); le16(0); le16(w); le16(h) // rcFrame
    ascii("strf"); le32(strfSz)
    le32(40); le32(w); le32(h); le16(1); le16(24)
    ascii("MJPG"); le32(w * h * 3)
    le32(0); le32(0); le32(0); le32(0)
    ascii("LIST"); le32(moviSz); ascii("movi")
    val offsets = new Array[Int](frames)
    var rel = 4 // idx1 offsets: from the 'movi' fourcc to the chunk fourcc
    f = 0
    while (f < frames) {
      offsets(f) = rel
      ascii("00dc"); le32(jpegs(f).length)
      out.write(jpegs(f), 0, jpegs(f).length)
      if ((jpegs(f).length & 1) == 1) out.write(0)
      rel += 8 + jpegs(f).length + (jpegs(f).length & 1)
      f += 1
    }
    ascii("idx1"); le32(idxSz)
    f = 0
    while (f < frames) {
      ascii("00dc"); le32(0x10); le32(offsets(f)); le32(jpegs(f).length)
      f += 1
    }
    out.toByteArray
  }
}

/** Ternary+1 expression wrapping [[AviSynth.aviBytes]]. */
case class SynthAvi(first: Expression, second: Expression, third: Expression,
    fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, fr: Any, seed: Any): Any =
    AviSynth.aviBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      fr.asInstanceOf[Long], seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, fr, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.AviSynth.aviBytes($w, $h, $fr, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object AviFunctions {
  /** Column API: sampled MJPEG frame statistics from an AVI payload: every
    * `stride`-th frame is JPEG-decoded (unsampled frames are skipped by
    * length, never parsed) and per-channel sums are emitted (see
    * [[AviMjpegFrames]]).
    */
  def avi_mjpeg_frames(payload: Column, stride: Int): Column =
    ExpressionUtils.column(AviMjpegFrames(ExpressionUtils.expression(payload), stride))

  /** Column API: complete valid AVI/MJPEG fixture: every `00dc` chunk is a
    * real baseline 4:2:0 JPEG (frame f at seed `seed + 131·f`), plus proper
    * hdrl headers and idx1 (see [[AviSynth]]).
    */
  def synth_avi(w: Column, h: Column, frames: Column, seed: Column): Column =
    ExpressionUtils.column(SynthAvi(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(frames),
      ExpressionUtils.expression(seed)))
}
