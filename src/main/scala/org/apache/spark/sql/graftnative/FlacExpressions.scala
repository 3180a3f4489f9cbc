package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** FLAC sample decode — audio parity with the raster story's PNG/GIF/
  * JPEG codecs: the payload (Rice-coded predictor residuals) is pure
  * integer arithmetic, so the decode needs no audio library and runs as
  * one bounded byte walk per row inside whole-stage codegen, feeding
  * the SAME normalized `(format, channels, sample_rate, bits, n_frames,
  * samples)` struct as [[PcmDecode]]'s WAV branch.
  *
  * Implemented per the public FLAC format spec (xiph.org / RFC 9639):
  * `fLaC` magic, metadata-block walk with mandatory STREAMINFO bit
  * unpack, per-frame headers (sync, blocksize/rate/channel/sample-size
  * codes, UTF-8 coded frame number, CRC-8), subframe types CONSTANT,
  * VERBATIM, FIXED (orders 0–4) and LPC (quantized coefficients +
  * shift), wasted-bits unpacking, Rice residual partitions (4- and
  * 5-bit parameters, escape-coded verbatim partitions, zigzag sign
  * mapping), stereo decorrelation (left-side / right-side / mid-side,
  * side channel at bps+1 bits), and the frame CRC-16 gate. Supported
  * sample widths: 8 and 16 bits, 1–2 channels — the WAV branch's
  * envelope. Anything else (or any CRC/structure violation) yields
  * `('unknown', NULL, ...)`: samples are never guessed, malformed
  * untrusted bytes never fail the task.
  */
object FlacCodec {

  /** Decoded-sample cap shared with the WAV branch. */
  private val MaxSamples = 1 << 24

  /** CRC-8, polynomial 0x07, init 0 (FLAC frame-header CRC). */
  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0 (FLAC whole-frame CRC). */
  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
        else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  /** MSB-first bit reader; every read reports exhaustion via `ok`. */
  private final class BitReader(b: Array[Byte], startByte: Int) {
    var bitPos: Long = startByte.toLong * 8
    var ok = true
    def bytePos: Int = (bitPos >> 3).toInt
    def aligned: Boolean = (bitPos & 7) == 0
    def align(): Unit = bitPos = (bitPos + 7) & ~7L
    def bits(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        val p = bitPos + k
        if ((p >> 3) >= b.length) { ok = false; return 0 }
        v = (v << 1) | ((b((p >> 3).toInt) >> (7 - (p & 7).toInt)) & 1)
        k += 1
      }
      bitPos += n
      v
    }
    def signedBits(n: Int): Int = {
      if (n == 0) return 0
      val v = bits(n)
      if (!ok) 0 else (v << (32 - n)) >> (32 - n)
    }
    /** Count 0-bits until a 1 (the 1 is consumed); −1 on exhaustion. */
    def unary(): Int = {
      var q = 0
      while (true) {
        if ((bitPos >> 3) >= b.length) { ok = false; return -1 }
        val bit = (b((bitPos >> 3).toInt) >> (7 - (bitPos & 7).toInt)) & 1
        bitPos += 1
        if (bit == 1) return q
        q += 1
        if (q > (1 << 20)) { ok = false; return -1 } // runaway guard
      }
      -1
    }
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def be24(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 16) | (u8(b, i + 1) << 8) | u8(b, i + 2)
  private def be32(b: Array[Byte], i: Int): Long =
    (be16(b, i).toLong << 16) | be16(b, i + 2).toLong

  /** Decode the residual section into `res[order until blockSize]`;
    * false on malformation.
    */
  private def readResiduals(br: BitReader, blockSize: Int, order: Int,
      res: Array[Int]): Boolean = {
    val method = br.bits(2)
    if (!br.ok || method > 1) return false
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = br.bits(4)
    if (!br.ok) return false
    val parts = 1 << po
    if (blockSize % parts != 0) return false
    var idx = order
    var p = 0
    while (p < parts) {
      val count = (blockSize >> po) - (if (p == 0) order else 0)
      if (count < 0) return false
      val param = br.bits(pBits)
      if (!br.ok) return false
      if (param == escape) {
        val raw = br.bits(5)
        if (!br.ok) return false
        var i = 0
        while (i < count) {
          res(idx) = if (raw == 0) 0 else br.signedBits(raw)
          if (!br.ok) return false
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          val q = br.unary()
          if (q < 0) return false
          val r = if (param == 0) 0 else br.bits(param)
          if (!br.ok) return false
          val u = (q.toLong << param) | r.toLong
          if (u > Int.MaxValue) return false
          val ui = u.toInt
          res(idx) = (ui >>> 1) ^ -(ui & 1) // zigzag⁻¹
          idx += 1; i += 1
        }
      }
      p += 1
    }
    true
  }

  /** Decode one subframe into `out[0 until blockSize]`; false = reject. */
  private def readSubframe(br: BitReader, blockSize: Int, bps: Int,
      out: Array[Int]): Boolean = {
    if (br.bits(1) != 0 || !br.ok) return false // padding bit
    val typ = br.bits(6)
    if (!br.ok) return false
    var wasted = 0
    if (br.bits(1) == 1) {
      if (!br.ok) return false
      val q = br.unary()
      if (q < 0) return false
      wasted = q + 1
    }
    if (!br.ok) return false
    val eff = bps - wasted
    if (eff <= 0 || eff > 32) return false
    val done: Boolean =
      if (typ == 0) { // CONSTANT
        val v = br.signedBits(eff)
        if (!br.ok) false
        else { java.util.Arrays.fill(out, 0, blockSize, v); true }
      } else if (typ == 1) { // VERBATIM
        var i = 0
        var good = true
        while (i < blockSize && good) {
          out(i) = br.signedBits(eff); good = br.ok; i += 1
        }
        good
      } else if (typ >= 8 && typ <= 12) { // FIXED, order = typ − 8
        val order = typ - 8
        if (order > blockSize) return false
        var i = 0
        while (i < order) {
          out(i) = br.signedBits(eff)
          if (!br.ok) return false
          i += 1
        }
        if (!readResiduals(br, blockSize, order, out)) return false
        // reconstruct with the fixed polynomial predictors
        i = order
        while (i < blockSize) {
          val p = order match {
            case 0 => 0L
            case 1 => out(i - 1).toLong
            case 2 => 2L * out(i - 1) - out(i - 2)
            case 3 => 3L * out(i - 1) - 3L * out(i - 2) + out(i - 3)
            case _ => 4L * out(i - 1) - 6L * out(i - 2) +
              4L * out(i - 3) - out(i - 4)
          }
          val v = out(i).toLong + p
          if (v < Int.MinValue || v > Int.MaxValue) return false
          out(i) = v.toInt
          i += 1
        }
        true
      } else if (typ >= 32) { // LPC, order = typ − 31
        val order = typ - 31
        if (order > blockSize) return false
        var i = 0
        while (i < order) {
          out(i) = br.signedBits(eff)
          if (!br.ok) return false
          i += 1
        }
        val precision = br.bits(4) + 1
        if (!br.ok || precision == 16) return false // 1111 invalid
        val shift = br.signedBits(5)
        if (!br.ok || shift < 0) return false
        val coef = new Array[Int](order)
        i = 0
        while (i < order) {
          coef(i) = br.signedBits(precision)
          if (!br.ok) return false
          i += 1
        }
        if (!readResiduals(br, blockSize, order, out)) return false
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j).toLong * out(i - 1 - j); j += 1 }
          val v = out(i).toLong + (acc >> shift)
          if (v < Int.MinValue || v > Int.MaxValue) return false
          out(i) = v.toInt
          i += 1
        }
        true
      } else false // reserved types
    if (!done) return false
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
    true
  }

  /** Decode a whole FLAC stream to the [[PcmDecode]] struct row. */
  def decode(b: Array[Byte]): InternalRow = {
    val unknown = PcmDecode.unknownFlacRow
    // metadata-block walk; STREAMINFO is mandatory and first per spec,
    // but the walk tolerates any order and skips the rest
    var si = -1
    var i = 4
    var last = false
    while (!last) {
      if (i + 4 > b.length) return unknown
      val hdr = u8(b, i)
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7F
      val len = be24(b, i + 1)
      if (i + 4 + len > b.length) return unknown
      if (typ == 0) {
        if (len != 34) return unknown
        si = i + 4
      }
      i += 4 + len
    }
    if (si < 0) return unknown
    val sampleRate = (u8(b, si + 10) << 12) | (u8(b, si + 11) << 4) |
      (u8(b, si + 12) >> 4)
    val channels = ((u8(b, si + 12) >> 1) & 7) + 1
    val bps = (((u8(b, si + 12) & 1) << 4) | (u8(b, si + 13) >> 4)) + 1
    val totalSamples = ((u8(b, si + 13) & 0xF).toLong << 32) | be32(b, si + 14)
    val maxBlock = be16(b, si + 2)
    if (sampleRate <= 0 || (bps != 8 && bps != 16) ||
        channels < 1 || channels > 2 || maxBlock <= 0 ||
        totalSamples <= 0 || totalSamples * channels > MaxSamples)
      return unknown
    val total = totalSamples.toInt
    val out = new Array[Int](total * channels)
    // STREAMINFO's max blocksize is authoritative: it sizes the per-frame
    // buffers, and a frame exceeding it is a reject below
    val chBuf = Array.ofDim[Int](channels, maxBlock)
    var framePos = i
    var frameBase = 0 // inter-channel sample index of the frame start
    while (frameBase < total) {
      // frame header
      if (framePos + 5 > b.length) return unknown
      if (u8(b, framePos) != 0xFF || (u8(b, framePos + 1) & 0xFC) != 0xF8)
        return unknown
      val bsCode = u8(b, framePos + 2) >> 4
      val srCode = u8(b, framePos + 2) & 0xF
      val chAsgn = u8(b, framePos + 3) >> 4
      val ssCode = (u8(b, framePos + 3) >> 1) & 7
      if ((u8(b, framePos + 3) & 1) != 0) return unknown
      // UTF-8 coded frame/sample number: skip by leading-ones count
      var p = framePos + 4
      if (p >= b.length) return unknown
      val lead = u8(b, p)
      val extra =
        if (lead < 0x80) 0
        else if ((lead & 0xE0) == 0xC0) 1
        else if ((lead & 0xF0) == 0xE0) 2
        else if ((lead & 0xF8) == 0xF0) 3
        else if ((lead & 0xFC) == 0xF8) 4
        else if ((lead & 0xFE) == 0xFC) 5
        else if (lead == 0xFE) 6
        else return unknown
      p += 1 + extra
      var blockSize = bsCode match {
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 | 7 => -1 // explicit, read below
        case c if c >= 8 => 256 << (c - 8)
        case _ => return unknown
      }
      if (bsCode == 6) { if (p + 1 > b.length) return unknown
        blockSize = u8(b, p) + 1; p += 1 }
      if (bsCode == 7) { if (p + 2 > b.length) return unknown
        blockSize = be16(b, p) + 1; p += 2 }
      if (srCode == 12) p += 1
      if (srCode == 13 || srCode == 14) p += 2
      if (p + 1 > b.length) return unknown
      if (crc8(b, framePos, p) != u8(b, p)) return unknown
      p += 1
      val frameBps = ssCode match {
        case 0 => bps
        case 1 => 8
        case 4 => 16
        case _ => return unknown // widths outside the engine envelope
      }
      if (frameBps != bps) return unknown
      val frameCh = chAsgn match {
        case c if c <= 7 => c + 1
        case 8 | 9 | 10 => 2
        case _ => return unknown
      }
      if (frameCh != channels) return unknown
      if (blockSize <= 0 || blockSize > maxBlock ||
          frameBase + blockSize > total) return unknown
      // subframes (bit-level from here)
      val br = new BitReader(b, p)
      var c = 0
      while (c < channels) {
        val sideBit = chAsgn match {
          case 8 => if (c == 1) 1 else 0 // left-side: side is channel 1
          case 9 => if (c == 0) 1 else 0 // right-side: side is channel 0
          case 10 => if (c == 1) 1 else 0 // mid-side: side is channel 1
          case _ => 0
        }
        if (!readSubframe(br, blockSize, frameBps + sideBit, chBuf(c)))
          return unknown
        c += 1
      }
      // undo stereo decorrelation
      if (chAsgn == 8) { // left-side: R = L − side
        var k = 0
        while (k < blockSize) { chBuf(1)(k) = chBuf(0)(k) - chBuf(1)(k); k += 1 }
      } else if (chAsgn == 9) { // right-side: L = side + R
        var k = 0
        while (k < blockSize) { chBuf(0)(k) = chBuf(0)(k) + chBuf(1)(k); k += 1 }
      } else if (chAsgn == 10) { // mid-side
        var k = 0
        while (k < blockSize) {
          val side = chBuf(1)(k)
          var mid = chBuf(0)(k) << 1
          mid |= side & 1
          chBuf(0)(k) = (mid + side) >> 1
          chBuf(1)(k) = (mid - side) >> 1
          k += 1
        }
      }
      br.align()
      val footer = br.bytePos
      if (footer + 2 > b.length) return unknown
      if (crc16(b, framePos, footer) != be16(b, footer)) return unknown
      // interleave frame-major, the PcmDecode layout
      var k = 0
      while (k < blockSize) {
        c = 0
        while (c < channels) {
          out((frameBase + k) * channels + c) = chBuf(c)(k)
          c += 1
        }
        k += 1
      }
      frameBase += blockSize
      framePos = footer + 2
    }
    PcmDecode.flacRow(channels, sampleRate, bps, total, out)
  }
}

/** Fixture ENCODER for FLAC — the proof harness for [[FlacCodec]], the
  * role [[SynthJpeg]] plays for the JPEG branch. Builds a COMPLETE
  * spec-valid FLAC stream from `(channels, rate, frames, seed)` whose
  * samples are the SAME generative formula as the WAV fixture
  * (`(seed·13 + k·7) mod 2^bits`, frame-interleaved index `k`, signed
  * view per sample width), then really compresses it: per subframe a
  * FIXED predictor of order `(seed + frame + channel) mod 5` computes
  * residuals that are genuinely Rice-coded (unary quotient + k-bit
  * remainder, zigzag sign mapping, per-partition parameter chosen from
  * the data, partition order alternating 0/1), with real CRC-8 frame
  * headers and CRC-16 frame footers. FLAC is lossless, so decode
  * reproduces the formula exactly — which is what lets the DuckDB
  * oracle of a key built on this replay the WAV formula while the
  * engine really runs predictor + Rice decompression.
  */
case class SynthFlac(first: Expression, second: Expression,
    third: Expression, fourth: Expression, bits: Int)
    extends QuaternaryExpression with ImplicitCastInputTypes {

  require(bits == 8 || bits == 16, s"synth_flac bits must be 8 or 16, got $bits")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(ch: Any, rate: Any, frames: Any, seed: Any): Any =
    FlacSynth.flacBytes(ch.asInstanceOf[Long], rate.asInstanceOf[Long],
      bits, frames.asInstanceOf[Long], seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, r, f, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.FlacSynth.flacBytes($c, $r, $bits, $f, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object FlacSynth {

  /** Encoder block size in samples — small enough that fixture streams
    * span multiple frames (multi-frame walk + CRC gates exercised).
    */
  val BlockSize = 64

  /** The WAV fixture's generative sample, signed view. */
  def sampleAt(seed: Long, k: Long, bits: Int): Int = {
    val u = java.lang.Math.floorMod(seed * 13 + k * 7, 1L << bits).toInt
    if (bits == 8) u - 128
    else if (u >= 32768) u - 65536 else u
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var n = 0
    def put(v: Long, len: Int): Unit = {
      var k = len - 1
      while (k >= 0) {
        acc = (acc << 1) | ((v >> k) & 1L)
        n += 1
        if (n == 8) { out.write((acc & 0xFF).toInt); acc = 0; n = 0 }
        k -= 1
      }
    }
    def putUnary(q: Int): Unit = { put(0L, q); put(1L, 1) }
    def alignZero(): Unit = if (n > 0) put(0L, 8 - n)
  }

  /** Write a FIXED-order subframe (with real Rice residual coding) for
    * `samples[from until from+len]` of the given channel-deinterleaved
    * view.
    */
  private def writeFixedSubframe(bw: BitWriter, s: Array[Int], len: Int,
      order: Int, bps: Int, po: Int): Unit = {
    bw.put(0L, 1) // padding
    bw.put((8 + order).toLong, 6) // FIXED type
    bw.put(0L, 1) // no wasted bits
    var i = 0
    while (i < order) { bw.put(s(i).toLong & ((1L << bps) - 1), bps); i += 1 }
    val res = new Array[Int](len)
    i = order
    while (i < len) {
      val p = order match {
        case 0 => 0L
        case 1 => s(i - 1).toLong
        case 2 => 2L * s(i - 1) - s(i - 2)
        case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
        case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
      }
      res(i) = (s(i).toLong - p).toInt
      i += 1
    }
    bw.put(0L, 2) // residual method 0: 4-bit Rice params
    bw.put(po.toLong, 4)
    val parts = 1 << po
    var part = 0
    var idx = order
    while (part < parts) {
      val count = (len >> po) - (if (part == 0) order else 0)
      // zigzag, then pick the Rice parameter from the partition mean
      var sumU = 0L
      var j = 0
      while (j < count) {
        val v = res(idx + j)
        sumU += ((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL
        j += 1
      }
      val mean = if (count == 0) 0L else sumU / math.max(count, 1)
      var k = 0
      while ((1L << (k + 1)) < mean + 1 && k < 14) k += 1
      bw.put(k.toLong, 4)
      j = 0
      while (j < count) {
        val v = res(idx + j)
        val u = ((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL
        bw.putUnary((u >>> k).toInt)
        if (k > 0) bw.put(u & ((1L << k) - 1), k)
        j += 1
      }
      idx += count
      part += 1
    }
  }

  /** UTF-8-style coded frame number (the fixed-blocksize frame index).
    * The 4-byte form matters at the envelope edge: flacBytes permits
    * frames·channels up to 2^24, i.e. frame indexes up to 262143 at
    * BlockSize 64 — past 0xFFFF the 3-byte lead would overflow into the
    * 0xF0 range and emit a structurally invalid stream (round-11 advice
    * item; the boundary is pinned in ScaleOpsSpec).
    */
  private def writeUtf8(out: java.io.ByteArrayOutputStream, n: Long): Unit = {
    if (n < 0x80) out.write(n.toInt)
    else if (n < 0x800) {
      out.write(0xC0 | (n >> 6).toInt); out.write(0x80 | (n & 0x3F).toInt)
    } else if (n < 0x10000) {
      out.write(0xE0 | (n >> 12).toInt)
      out.write(0x80 | ((n >> 6) & 0x3F).toInt)
      out.write(0x80 | (n & 0x3F).toInt)
    } else {
      out.write(0xF0 | (n >> 18).toInt)
      out.write(0x80 | ((n >> 12) & 0x3F).toInt)
      out.write(0x80 | ((n >> 6) & 0x3F).toInt)
      out.write(0x80 | (n & 0x3F).toInt)
    }
  }

  /** Complete valid FLAC stream; null on out-of-envelope args. */
  def flacBytes(channels: Long, rate: Long, bits: Int, frames: Long,
      seed: Long): Array[Byte] = {
    if (channels < 1 || channels > 2 || rate <= 0 || rate >= (1 << 20) ||
        frames <= 0 || frames * channels > (1 << 24)) return null
    val ch = channels.toInt
    val total = frames.toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    // STREAMINFO, the only (and last) metadata block
    val lastBlock = total % BlockSize
    val minBlock = if (lastBlock == 0) BlockSize else math.min(BlockSize, lastBlock)
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    out.write((minBlock >> 8) & 0xFF); out.write(minBlock & 0xFF)
    out.write((BlockSize >> 8) & 0xFF); out.write(BlockSize & 0xFF)
    out.write(0); out.write(0); out.write(0) // min frame size: unknown
    out.write(0); out.write(0); out.write(0) // max frame size: unknown
    val r = rate.toInt
    out.write((r >> 12) & 0xFF)
    out.write((r >> 4) & 0xFF)
    out.write(((r & 0xF) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4))
    // total is an Int, so the 36-bit total-samples high nibble is always
    // zero here — but shift the LONG view: `total >> 32` on an Int is a
    // mod-32 no-op that would leak `total & 0xF` into the nibble
    out.write((((bits - 1) & 0xF) << 4) | ((total.toLong >> 32) & 0xF).toInt)
    out.write((total >> 24) & 0xFF); out.write((total >> 16) & 0xFF)
    out.write((total >> 8) & 0xFF); out.write(total & 0xFF)
    var k = 0
    while (k < 16) { out.write(0); k += 1 } // MD5 unset
    // frames
    val deint = Array.ofDim[Int](ch, BlockSize)
    var frameIdx = 0L
    var base = 0
    while (base < total) {
      val len = math.min(BlockSize, total - base)
      val fb = new java.io.ByteArrayOutputStream()
      fb.write(0xFF); fb.write(0xF8) // sync + fixed blocking
      // blocksize: 8-bit explicit (code 6); sample rate: from STREAMINFO
      fb.write(0x60)
      val ssCode = if (bits == 8) 1 else 4
      fb.write(((ch - 1) << 4) | (ssCode << 1))
      writeUtf8(fb, frameIdx)
      fb.write(len - 1)
      val hdr = fb.toByteArray
      fb.write(FlacCodec.crc8(hdr, 0, hdr.length))
      val bw = new BitWriter(fb)
      var c = 0
      while (c < ch) {
        var i = 0
        while (i < len) {
          deint(c)(i) = sampleAt(seed, (base + i).toLong * ch + c, bits)
          i += 1
        }
        val order = java.lang.Math.floorMod(seed + frameIdx + c, 5).toInt
        // partition order alternates 0/1 (1 only when divisible and the
        // first partition still covers the warm-up)
        val po = if (frameIdx % 2 == 1 && len % 2 == 0 && len / 2 > order) 1 else 0
        writeFixedSubframe(bw, deint(c), len, math.min(order, len), bits, po)
        c += 1
      }
      bw.alignZero()
      val frame = fb.toByteArray
      val c16 = FlacCodec.crc16(frame, 0, frame.length)
      fb.write((c16 >> 8) & 0xFF); fb.write(c16 & 0xFF)
      fb.writeTo(out)
      base += len
      frameIdx += 1
    }
    out.toByteArray
  }
}

object FlacSynthFunctions {
  /** Column API: complete valid FLAC stream from
    * `(channels, rate, frames, seed)` at a literal 8 or 16 bits: real
    * FIXED-predictor residuals, real Rice coding, CRC-8/16 gates (see
    * [[SynthFlac]]). Samples are the same generative formula as
    * `PcmFunctions.synth_wav_pcm` (FLAC is lossless, so the oracle replays
    * the WAV formula while the engine runs real decompression).
    */
  def synth_flac(channels: Column, rate: Column, frames: Column,
      seed: Column, bits: Int): Column =
    ExpressionUtils.column(SynthFlac(ExpressionUtils.expression(channels),
      ExpressionUtils.expression(rate), ExpressionUtils.expression(frames),
      ExpressionUtils.expression(seed), bits))
}
