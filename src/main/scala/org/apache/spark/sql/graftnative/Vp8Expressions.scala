package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Lossy WebP (VP8 key-frame) pixel decode — the fifth real raster
  * codec, implemented from the public VP8 specification (RFC 6386,
  * which is also the WebP lossy bitstream: a lossy WebP file is exactly
  * one VP8 key frame in a RIFF container). Everything is decoded for
  * real with zero external libraries:
  *
  *  - the boolean arithmetic decoder (§7) and tree coder (§8),
  *  - the uncompressed frame tag / dimensions and the first-partition
  *    feature headers — segmentation, loop-filter parameters, token
  *    partition count, quantizer indices, per-token probability
  *    updates (§9),
  *  - key-frame intra mode parsing (§11): 16×16 modes through the
  *    kf_ymode tree, per-subblock B_PRED modes through the
  *    neighbor-contexted kf_bmode probabilities, chroma modes,
  *  - DCT/WHT coefficient token decoding (§13) across 1–8 token
  *    partitions with the band/context probability model, category
  *    extra bits, and end-of-block semantics,
  *  - dequantization (§14.1) including the segment and per-plane
  *    delta-q rules and the Y2 ×2 / ×155/100 and chroma-DC-132 quirks,
  *  - the exact integer inverse DCT/WHT (§14.3-14.4),
  *  - all intra predictors (§12): the four 16×16 / chroma modes with
  *    their edge availability cases and the ten 4×4 B_PRED modes with
  *    the 127/129 synthetic borders and the VP8 fixed above-right rule
  *    (rightmost-column subblocks all reuse the above macroblock row's
  *    top-right pixels; off-frame above-right replicates the row's last
  *    reconstructed pixel, as the reference decoder's border extension
  *    does),
  *  - the in-loop deblocking filter (§15), both the normal filter
  *    (macroblock-edge and subblock-edge forms with the
  *    high-edge-variance taps) and the simple filter, with the
  *    sharpness/interior-limit derivation and per-segment /
  *    per-mode level adjustments.
  *
  * Decoded YUV 4:2:0 planes are emitted as RGB through the same
  * replicated-upsample + JFIF integer conversion the JPEG path uses
  * (documented engine contract; WebP itself does not mandate an RGB
  * conversion — it is a display concern).
  *
  * Scope, stated honestly: key frames only — a lossy WebP file IS a
  * single key frame, so this covers the whole lossy-WebP format;
  * raw VP8 video interframes (golden/altref reference buffers, motion
  * vectors) are out of scope and reject. Anything malformed — bad
  * start code, version > 3, truncated partitions, oversized
  * dimensions — rejects to `'unknown'`; pixels are never guessed and
  * untrusted bytes never fail the task.
  *
  * The probability / quantizer constants are the published RFC 6386
  * defaults (§11.5, §13.4-13.5, §14.1).
  */
object Vp8Tables {

  /** dc_qlookup — RFC 6386 §14.1. */
  val DcQ: Array[Int] = Array(
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114, 116, 118,
    122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143, 145, 148, 151, 154, 157)

  /** ac_qlookup — RFC 6386 §14.1. */
  val AcQ: Array[Int] = Array(
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106, 108,
    110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140, 143, 146, 149, 152,
    155, 158, 161, 164, 167, 170, 173, 177, 181, 185, 189, 193, 197, 201, 205, 209,
    213, 217, 221, 225, 229, 234, 239, 245, 249, 254, 259, 264, 269, 274, 279, 284)

  /** Zig-zag scan order — RFC 6386 §13. */
  val Zigzag: Array[Int] = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** Coefficient-position → probability band — RFC 6386 §13.3. */
  val CoeffBands: Array[Int] = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

  // Token ids (RFC 6386 §13.2): 0..4 literal values, 5..10 categories,
  // 11 end-of-block.
  val TokZero = 0
  val TokEob = 11

  /** Coefficient token tree — RFC 6386 §13.2 (leaf = -token; DCT_0's
    * leaf is the value 0, so the leaf test is `node <= 0`).
    */
  val CoeffTree: Array[Int] = Array(
    -TokEob, 2,
    -0, 4,
    -1, 6,
    8, 12,
    -2, 10,
    -3, -4,
    14, 16,
    -5, -6,
    18, 20,
    -7, -8,
    -9, -10)

  /** Category base values and extra-bit counts (tokens 5..10). */
  val CatBase: Array[Int] = Array(5, 7, 11, 19, 35, 67)
  val CatBits: Array[Int] = Array(1, 2, 3, 4, 5, 11)

  /** Category extra-bit probabilities, MSB first — RFC 6386 §13.2. */
  val CatProbs: Array[Array[Int]] = Array(
    Array(159),
    Array(165, 145),
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  // 16x16 / chroma intra modes (RFC 6386 §11.2).
  val DcPred = 0
  val VPred = 1
  val HPred = 2
  val TmPred = 3
  val BPred = 4

  /** Key-frame 16×16 mode tree + probabilities — RFC 6386 §11.3. */
  val KfYmodeTree: Array[Int] = Array(
    -BPred, 2,
    4, 6,
    -DcPred, -VPred,
    -HPred, -TmPred)
  val KfYmodeProbs: Array[Int] = Array(145, 156, 163, 128)

  /** Chroma mode tree + key-frame probabilities — RFC 6386 §11.4. */
  val UvModeTree: Array[Int] = Array(
    -DcPred, 2,
    -VPred, 4,
    -HPred, -TmPred)
  val KfUvProbs: Array[Int] = Array(142, 114, 183)

  // 4x4 B_PRED modes (RFC 6386 §11.2).
  val BDc = 0; val BTm = 1; val BVe = 2; val BHe = 3; val BLd = 4
  val BRd = 5; val BVr = 6; val BVl = 7; val BHd = 8; val BHu = 9

  /** 4×4 intra mode tree — RFC 6386 §11.5. */
  val BModeTree: Array[Int] = Array(
    -BDc, 2,
    -BTm, 4,
    -BVe, 6,
    8, 12,
    -BHe, 10,
    -BRd, -BVr,
    -BLd, 14,
    -BVl, 16,
    -BHd, -BHu)

  /** The implied 4×4 mode of a 16×16-mode macroblock, for B_PRED
    * neighbor contexts — RFC 6386 §11.5 (DC→B_DC, V→B_VE, H→B_HE,
    * TM→B_TM).
    */
  val ImpliedBMode: Array[Int] = Array(BDc, BVe, BHe, BTm)

  /** Macroblock segment-id tree — RFC 6386 §10. */
  val SegmentTree: Array[Int] = Array(2, 4, -0, -1, -2, -3)

  /** coeff_update_probs[4][8][3][11], flattened — RFC 6386 §13.4. */
  val CoeffUpdateProbs: Array[Int] = CoeffUpdateProbsData.data

  /** kf_bmode_probs[10][10][9], flattened — RFC 6386 §11.5. */
  val KfBModeProbs: Array[Int] = KfBModeProbsData.data

  /** default_coeff_probs[4][8][3][11], flattened — RFC 6386 §13.5. */
  val DefaultCoeffProbs: Array[Int] = DefaultCoeffProbsData.data
}

object Vp8Codec {
  import Vp8Tables._

  private val MaxPixelBytes = 1 << 26

  /** Boolean arithmetic decoder — RFC 6386 §7.3, verbatim semantics.
    * Reads past the partition end supply zero bytes (the reference
    * decoder's virtual-zeros behavior); the consumer checks
    * `overread` at the end and rejects if more than 2 virtual bytes
    * were consumed (a valid encoder flush never needs any).
    */
  private[graftnative] final class BoolDec(b: Array[Byte], start: Int,
      end: Int) {
    private var pos = start
    private var value = 0
    private var range = 255
    private var bitCount = 0
    var overread = 0
    private def nextByte(): Int = {
      if (pos < end) { val v = b(pos) & 0xFF; pos += 1; v }
      else { overread += 1; 0 }
    }
    value = (nextByte() << 8) | nextByte()

    def bit(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split << 8
      var ret = 0
      if (value >= big) { ret = 1; range -= split; value -= big }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }
    /** n-bit unsigned literal, MSB first (§7.4). */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(128); i += 1 }
      v
    }
    /** Literal magnitude + sign flag (§7.4). */
    def signed(n: Int): Int = {
      val v = literal(n)
      if (bit(128) == 1) -v else v
    }
    /** Tree read (§8.2): `tree` leaves are `-token` (≤ 0); the
      * probability for the node pair at index i is probs(off + i/2).
      */
    def tree(t: Array[Int], probs: Array[Int], off: Int,
        start: Int = 0): Int = {
      var i = t(start + bit(probs(off + (start >> 1))))
      while (i > 0) i = t(i + bit(probs(off + (i >> 1))))
      -i
    }
  }

  /** Exact integer inverse DCT — RFC 6386 §14.3 (20091/35468
    * fixed-point multipliers). `in` is the 16-coefficient block in
    * raster order; result written to `out`.
    */
  private[graftnative] def idct4x4(in: Array[Int], out: Array[Int]): Unit = {
    val C1 = 20091 // cos(pi/8)*sqrt(2) - 1, Q16
    val C2 = 35468 // sin(pi/8)*sqrt(2), Q16
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(i) + in(i + 8)
      val b1 = in(i) - in(i + 8)
      val c1 = ((in(i + 4) * C2) >> 16) - (in(i + 12) + ((in(i + 12) * C1) >> 16))
      val d1 = (in(i + 4) + ((in(i + 4) * C1) >> 16)) + ((in(i + 12) * C2) >> 16)
      t(i) = a1 + d1
      t(i + 12) = a1 - d1
      t(i + 4) = b1 + c1
      t(i + 8) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = i * 4
      val a1 = t(r) + t(r + 2)
      val b1 = t(r) - t(r + 2)
      val c1 = ((t(r + 1) * C2) >> 16) - (t(r + 3) + ((t(r + 3) * C1) >> 16))
      val d1 = (t(r + 1) + ((t(r + 1) * C1) >> 16)) + ((t(r + 3) * C2) >> 16)
      out(r) = (a1 + d1 + 4) >> 3
      out(r + 3) = (a1 - d1 + 4) >> 3
      out(r + 1) = (b1 + c1 + 4) >> 3
      out(r + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
  }

  /** Exact integer inverse Walsh-Hadamard transform for the Y2 block —
    * RFC 6386 §14.3.
    */
  private[graftnative] def iwht4x4(in: Array[Int], out: Array[Int]): Unit = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(i) + in(i + 12)
      val b1 = in(i + 4) + in(i + 8)
      val c1 = in(i + 4) - in(i + 8)
      val d1 = in(i) - in(i + 12)
      t(i) = a1 + b1
      t(i + 4) = c1 + d1
      t(i + 8) = a1 - b1
      t(i + 12) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = i * 4
      val a1 = t(r) + t(r + 3)
      val b1 = t(r + 1) + t(r + 2)
      val c1 = t(r + 1) - t(r + 2)
      val d1 = t(r) - t(r + 3)
      out(r) = (a1 + b1 + 3) >> 3
      out(r + 1) = (c1 + d1 + 3) >> 3
      out(r + 2) = (a1 - b1 + 3) >> 3
      out(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

  /** Per-macroblock dequantization factors (RFC 6386 §14.1). */
  private final class Dequant(qi0: Int, y1dcD: Int, y2dcD: Int, y2acD: Int,
      uvdcD: Int, uvacD: Int) {
    private def q(i: Int) = if (i < 0) 0 else if (i > 127) 127 else i
    val y1dc: Int = DcQ(q(qi0 + y1dcD))
    val y1ac: Int = AcQ(q(qi0))
    val y2dc: Int = DcQ(q(qi0 + y2dcD)) * 2
    val y2ac: Int = { val v = AcQ(q(qi0 + y2acD)) * 155 / 100; if (v < 8) 8 else v }
    val uvdc: Int = { val v = DcQ(q(qi0 + uvdcD)); if (v > 132) 132 else v }
    val uvac: Int = AcQ(q(qi0 + uvacD))
  }

  /** Decode the DCT/WHT coefficient tokens of one block (RFC 6386
    * §13.3) into `out` (raster order, dequantized). Returns the
    * end-of-block position (`> firstCoeff` iff the block has coded
    * content, the reference decoder's nonzero-context rule).
    */
  private def decodeCoeffs(bd: BoolDec, probs: Array[Int], typ: Int,
      ctx0: Int, firstCoeff: Int, dqDC: Int, dqAC: Int,
      out: Array[Int]): Int = {
    var n = firstCoeff
    var ctx = ctx0
    var skipEob = false
    while (n < 16) {
      val off = ((typ * 8 + CoeffBands(n)) * 3 + ctx) * 11
      val tok = bd.tree(CoeffTree, probs, off, if (skipEob) 2 else 0)
      if (tok == TokEob) return n
      if (tok == TokZero) {
        ctx = 0; skipEob = true
      } else {
        var v = 0
        if (tok <= 4) v = tok
        else {
          val cat = tok - 5
          var extra = 0
          val cp = CatProbs(cat)
          var i = 0
          while (i < cp.length) { extra = (extra << 1) | bd.bit(cp(i)); i += 1 }
          v = CatBase(cat) + extra
        }
        ctx = if (v == 1) 1 else 2
        skipEob = false
        if (bd.bit(128) == 1) v = -v
        out(Zigzag(n)) = v * (if (n == 0) dqDC else dqAC)
      }
      n += 1
    }
    16
  }

  // --------------------------------------------------- intra predictors

  /** 16×16 / 8×8 whole-MB prediction (RFC 6386 §12.2) written into the
    * bordered plane at (top, left); `size` is 16 (luma) or 8 (chroma).
    */
  private def predictWhole(p: Array[Int], stride: Int, top: Int, left: Int,
      size: Int, mode: Int, haveAbove: Boolean, haveLeft: Boolean): Unit = {
    mode match {
      case DcPred =>
        var dc = 0
        if (haveAbove && haveLeft) {
          var i = 0
          while (i < size) {
            dc += p((top - 1) * stride + left + i) + p((top + i) * stride + left - 1)
            i += 1
          }
          dc = (dc + size) >> (if (size == 16) 5 else 4)
        } else if (haveAbove) {
          var i = 0
          while (i < size) { dc += p((top - 1) * stride + left + i); i += 1 }
          dc = (dc + size / 2) >> (if (size == 16) 4 else 3)
        } else if (haveLeft) {
          var i = 0
          while (i < size) { dc += p((top + i) * stride + left - 1); i += 1 }
          dc = (dc + size / 2) >> (if (size == 16) 4 else 3)
        } else dc = 128
        var y = 0
        while (y < size) {
          var x = 0
          while (x < size) { p((top + y) * stride + left + x) = dc; x += 1 }
          y += 1
        }
      case VPred =>
        var y = 0
        while (y < size) {
          var x = 0
          while (x < size) {
            p((top + y) * stride + left + x) = p((top - 1) * stride + left + x)
            x += 1
          }
          y += 1
        }
      case HPred =>
        var y = 0
        while (y < size) {
          val v = p((top + y) * stride + left - 1)
          var x = 0
          while (x < size) { p((top + y) * stride + left + x) = v; x += 1 }
          y += 1
        }
      case _ => // TmPred
        val c = p((top - 1) * stride + left - 1)
        var y = 0
        while (y < size) {
          val l = p((top + y) * stride + left - 1)
          var x = 0
          while (x < size) {
            p((top + y) * stride + left + x) =
              clamp255(l + p((top - 1) * stride + left + x) - c)
            x += 1
          }
          y += 1
        }
    }
  }

  /** One 4×4 B_PRED subblock prediction (RFC 6386 §12.3) into
    * `pred(16)`. `a` holds the 8 above pixels (with above-right), `l`
    * the 4 left pixels, `c` the above-left corner.
    */
  private def predictB(mode: Int, a: Array[Int], l: Array[Int], c: Int,
      pred: Array[Int]): Unit = {
    mode match {
      case BDc =>
        val dc = (a(0) + a(1) + a(2) + a(3) + l(0) + l(1) + l(2) + l(3) + 4) >> 3
        java.util.Arrays.fill(pred, dc)
      case BTm =>
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { pred(y * 4 + x) = clamp255(l(y) + a(x) - c); x += 1 }
          y += 1
        }
      case BVe =>
        val r = Array(avg3(c, a(0), a(1)), avg3(a(0), a(1), a(2)),
          avg3(a(1), a(2), a(3)), avg3(a(2), a(3), a(4)))
        var y = 0
        while (y < 4) { System.arraycopy(r, 0, pred, y * 4, 4); y += 1 }
      case BHe =>
        val r = Array(avg3(c, l(0), l(1)), avg3(l(0), l(1), l(2)),
          avg3(l(1), l(2), l(3)), avg3(l(2), l(3), l(3)))
        var y = 0
        while (y < 4) { java.util.Arrays.fill(pred, y * 4, y * 4 + 4, r(y)); y += 1 }
      case BLd =>
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val s = x + y
            pred(y * 4 + x) =
              if (s < 6) avg3(a(s), a(s + 1), a(s + 2))
              else avg3(a(6), a(7), a(7))
            x += 1
          }
          y += 1
        }
      case BRd =>
        // edge e(0..8) = L3 L2 L1 L0 C A0 A1 A2 A3
        val e = Array(l(3), l(2), l(1), l(0), c, a(0), a(1), a(2), a(3))
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val d = x - y + 3
            pred(y * 4 + x) = avg3(e(d), e(d + 1), e(d + 2))
            x += 1
          }
          y += 1
        }
      case BVr =>
        pred(0) = avg2(c, a(0)); pred(1) = avg2(a(0), a(1))
        pred(2) = avg2(a(1), a(2)); pred(3) = avg2(a(2), a(3))
        pred(4) = avg3(l(0), c, a(0)); pred(5) = avg3(c, a(0), a(1))
        pred(6) = avg3(a(0), a(1), a(2)); pred(7) = avg3(a(1), a(2), a(3))
        pred(8) = avg3(l(1), l(0), c)
        pred(9) = pred(0); pred(10) = pred(1); pred(11) = pred(2)
        pred(12) = avg3(l(2), l(1), l(0))
        pred(13) = pred(4); pred(14) = pred(5); pred(15) = pred(6)
      case BVl =>
        pred(0) = avg2(a(0), a(1)); pred(1) = avg2(a(1), a(2))
        pred(2) = avg2(a(2), a(3)); pred(3) = avg2(a(3), a(4))
        pred(4) = avg3(a(0), a(1), a(2)); pred(5) = avg3(a(1), a(2), a(3))
        pred(6) = avg3(a(2), a(3), a(4)); pred(7) = avg3(a(3), a(4), a(5))
        pred(8) = pred(1); pred(9) = pred(2); pred(10) = pred(3)
        pred(11) = avg3(a(4), a(5), a(6))
        pred(12) = pred(5); pred(13) = pred(6); pred(14) = pred(7)
        pred(15) = avg3(a(5), a(6), a(7))
      case BHd =>
        pred(0) = avg2(l(0), c); pred(1) = avg3(l(0), c, a(0))
        pred(2) = avg3(c, a(0), a(1)); pred(3) = avg3(a(0), a(1), a(2))
        pred(4) = avg2(l(1), l(0)); pred(5) = avg3(l(1), l(0), c)
        pred(6) = pred(0); pred(7) = pred(1)
        pred(8) = avg2(l(2), l(1)); pred(9) = avg3(l(2), l(1), l(0))
        pred(10) = pred(4); pred(11) = pred(5)
        pred(12) = avg2(l(3), l(2)); pred(13) = avg3(l(3), l(2), l(1))
        pred(14) = pred(8); pred(15) = pred(9)
      case _ => // BHu
        pred(0) = avg2(l(0), l(1)); pred(1) = avg3(l(0), l(1), l(2))
        pred(2) = avg2(l(1), l(2)); pred(3) = avg3(l(1), l(2), l(3))
        pred(4) = pred(2); pred(5) = pred(3)
        pred(6) = avg2(l(2), l(3)); pred(7) = avg3(l(2), l(3), l(3))
        pred(8) = pred(6); pred(9) = pred(7)
        pred(10) = l(3); pred(11) = l(3)
        pred(12) = l(3); pred(13) = l(3); pred(14) = l(3); pred(15) = l(3)
    }
  }

  // --------------------------------------------------------- loop filter

  private def clampS8(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** Normal-filter mask (RFC 6386 §15.2): true when the edge may be
    * filtered. `p3..q3` are unsigned pixel values.
    */
  private def filterMask(lim: Int, blim: Int, p3: Int, p2: Int, p1: Int,
      p0: Int, q0: Int, q1: Int, q2: Int, q3: Int): Boolean =
    math.abs(p3 - p2) <= lim && math.abs(p2 - p1) <= lim &&
      math.abs(p1 - p0) <= lim && math.abs(q1 - q0) <= lim &&
      math.abs(q2 - q1) <= lim && math.abs(q3 - q2) <= lim &&
      math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= blim

  private def hev(thresh: Int, p1: Int, p0: Int, q0: Int, q1: Int): Boolean =
    math.abs(p1 - p0) > thresh || math.abs(q1 - q0) > thresh

  /** Subblock-edge normal filter (§15.3); modifies p1 p0 q0 q1 in the
    * plane. `idx(k)` maps tap offset k (…,-2,-1,0,1,…) to a plane index.
    */
  private def filterEdge(p: Array[Int], base: Int, step: Int, lim: Int,
      blim: Int, thresh: Int): Unit = {
    val p3 = p(base - 4 * step); val p2 = p(base - 3 * step)
    val p1 = p(base - 2 * step); val p0 = p(base - step)
    val q0 = p(base); val q1 = p(base + step)
    val q2 = p(base + 2 * step); val q3 = p(base + 3 * step)
    if (!filterMask(lim, blim, p3, p2, p1, p0, q0, q1, q2, q3)) return
    val h = hev(thresh, p1, p0, q0, q1)
    val ps1 = p1 - 128; val ps0 = p0 - 128
    val qs0 = q0 - 128; val qs1 = q1 - 128
    var a = if (h) clampS8(ps1 - qs1) else 0
    a = clampS8(a + 3 * (qs0 - ps0))
    val f1 = clampS8(a + 4) >> 3
    val f2 = clampS8(a + 3) >> 3
    p(base) = clampS8(qs0 - f1) + 128
    p(base - step) = clampS8(ps0 + f2) + 128
    if (!h) {
      val o = (f1 + 1) >> 1
      p(base + step) = clampS8(qs1 - o) + 128
      p(base - 2 * step) = clampS8(ps1 + o) + 128
    }
  }

  /** Macroblock-edge normal filter (§15.3); modifies p2..q2. */
  private def mbFilterEdge(p: Array[Int], base: Int, step: Int, lim: Int,
      blim: Int, thresh: Int): Unit = {
    val p3 = p(base - 4 * step); val p2 = p(base - 3 * step)
    val p1 = p(base - 2 * step); val p0 = p(base - step)
    val q0 = p(base); val q1 = p(base + step)
    val q2 = p(base + 2 * step); val q3 = p(base + 3 * step)
    if (!filterMask(lim, blim, p3, p2, p1, p0, q0, q1, q2, q3)) return
    val h = hev(thresh, p1, p0, q0, q1)
    val ps2 = p2 - 128; val ps1 = p1 - 128; val ps0 = p0 - 128
    val qs0 = q0 - 128; val qs1 = q1 - 128; val qs2 = q2 - 128
    var w = clampS8(ps1 - qs1)
    w = clampS8(w + 3 * (qs0 - ps0))
    if (h) {
      // high-edge-variance: the short two-tap adjustment only
      val f1 = clampS8(w + 4) >> 3
      val f2 = clampS8(w + 3) >> 3
      p(base) = clampS8(qs0 - f1) + 128
      p(base - step) = clampS8(ps0 + f2) + 128
    } else {
      var u = clampS8((27 * w + 63) >> 7)
      p(base) = clampS8(qs0 - u) + 128
      p(base - step) = clampS8(ps0 + u) + 128
      u = clampS8((18 * w + 63) >> 7)
      p(base + step) = clampS8(qs1 - u) + 128
      p(base - 2 * step) = clampS8(ps1 + u) + 128
      u = clampS8((9 * w + 63) >> 7)
      p(base + 2 * step) = clampS8(qs2 - u) + 128
      p(base - 3 * step) = clampS8(ps2 + u) + 128
    }
  }

  /** Simple-filter edge (§15.4): two-tap on p0/q0, luma only. */
  private def simpleFilterEdge(p: Array[Int], base: Int, step: Int,
      blim: Int): Unit = {
    val p1 = p(base - 2 * step); val p0 = p(base - step)
    val q0 = p(base); val q1 = p(base + step)
    if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 > blim) return
    val ps1 = p1 - 128; val ps0 = p0 - 128
    val qs0 = q0 - 128; val qs1 = q1 - 128
    var a = clampS8(ps1 - qs1)
    a = clampS8(a + 3 * (qs0 - ps0))
    val f1 = clampS8(a + 4) >> 3
    val f2 = clampS8(a + 3) >> 3
    p(base) = clampS8(qs0 - f1) + 128
    p(base - step) = clampS8(ps0 + f2) + 128
  }

  /** Decode a VP8 key frame (RFC 6386 §9-§15) from `b(off until end)`
    * to the normalized raster row, or null for anything unsupported or
    * malformed. `off` points at the 3-byte frame tag.
    */
  def decodeFrame(b: Array[Byte], off: Int, end: Int): InternalRow = {
    if (end - off < 10 || end > b.length) return null
    val tag = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) | ((b(off + 2) & 0xFF) << 16)
    if ((tag & 1) != 0) return null // interframe: out of scope
    val version = (tag >> 1) & 7
    if (version > 3) return null
    val firstPartSize = tag >>> 5
    if ((b(off + 3) & 0xFF) != 0x9D || (b(off + 4) & 0xFF) != 0x01 ||
        (b(off + 5) & 0xFF) != 0x2A) return null
    val wRaw = (b(off + 6) & 0xFF) | ((b(off + 7) & 0xFF) << 8)
    val hRaw = (b(off + 8) & 0xFF) | ((b(off + 9) & 0xFF) << 8)
    val w = wRaw & 0x3FFF
    val h = hRaw & 0x3FFF // upper bits: upscale hint (display-side, ignored)
    if (w == 0 || h == 0 || 3L * w * h > MaxPixelBytes) return null
    // The bordered reconstruction planes are Int (4 B) — ~4 B/px luma
    // + ~2 B/px chroma on MB-padded dims. Gate on THAT footprint so a
    // single row never transiently allocates ~2x the MaxPixelBytes
    // intent across concurrent task threads.
    if (6L * ((w + 15) & ~15) * ((h + 15) & ~15) > MaxPixelBytes) return null
    val part0 = off + 10
    if (part0 + firstPartSize > end) return null
    val bd = new BoolDec(b, part0, part0 + firstPartSize)

    bd.bit(128) // color_space (only 0 defined; value does not alter decode)
    bd.bit(128) // clamping_type (reconstruction clamps either way)

    // ---- segmentation (§9.3)
    var segEnabled = false
    var segUpdateMap = false
    var segAbsolute = false
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    if (bd.bit(128) == 1) {
      segEnabled = true
      segUpdateMap = bd.bit(128) == 1
      val updateData = bd.bit(128) == 1
      if (updateData) {
        segAbsolute = bd.bit(128) == 1
        var i = 0
        while (i < 4) {
          if (bd.bit(128) == 1) segQuant(i) = bd.signed(7)
          i += 1
        }
        i = 0
        while (i < 4) {
          if (bd.bit(128) == 1) segLf(i) = bd.signed(6)
          i += 1
        }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          if (bd.bit(128) == 1) segTreeProbs(i) = bd.literal(8)
          i += 1
        }
      }
    }

    // ---- loop filter header (§9.4)
    val simpleFilter = bd.bit(128) == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    var lfAdjEnabled = false
    val refLfDeltas = new Array[Int](4)
    val modeLfDeltas = new Array[Int](4)
    if (bd.bit(128) == 1) {
      lfAdjEnabled = true
      if (bd.bit(128) == 1) {
        var i = 0
        while (i < 4) {
          if (bd.bit(128) == 1) refLfDeltas(i) = bd.signed(6)
          i += 1
        }
        i = 0
        while (i < 4) {
          if (bd.bit(128) == 1) modeLfDeltas(i) = bd.signed(6)
          i += 1
        }
      }
    }

    // ---- token partitions (§9.5)
    val nParts = 1 << bd.literal(2)
    val sizesOff = part0 + firstPartSize
    val dataOff = sizesOff + 3 * (nParts - 1)
    if (dataOff > end) return null
    val parts = new Array[BoolDec](nParts)
    var po = dataOff
    var pi = 0
    while (pi < nParts) {
      val sz =
        if (pi == nParts - 1) end - po
        else (b(sizesOff + 3 * pi) & 0xFF) | ((b(sizesOff + 3 * pi + 1) & 0xFF) << 8) |
          ((b(sizesOff + 3 * pi + 2) & 0xFF) << 16)
      if (sz < 0 || po + sz > end) return null
      parts(pi) = new BoolDec(b, po, po + sz)
      po += sz
      pi += 1
    }

    // ---- quantizer indices (§9.6) and per-segment dequant factors
    val yacQi = bd.literal(7)
    val y1dcD = if (bd.bit(128) == 1) bd.signed(4) else 0
    val y2dcD = if (bd.bit(128) == 1) bd.signed(4) else 0
    val y2acD = if (bd.bit(128) == 1) bd.signed(4) else 0
    val uvdcD = if (bd.bit(128) == 1) bd.signed(4) else 0
    val uvacD = if (bd.bit(128) == 1) bd.signed(4) else 0
    val dequants = new Array[Dequant](if (segEnabled) 4 else 1)
    var si = 0
    while (si < dequants.length) {
      val qi =
        if (!segEnabled) yacQi
        else if (segAbsolute) segQuant(si)
        else yacQi + segQuant(si)
      dequants(si) = new Dequant(if (qi < 0) 0 else if (qi > 127) 127 else qi,
        y1dcD, y2dcD, y2acD, uvdcD, uvacD)
      si += 1
    }

    bd.bit(128) // refresh_entropy_probs (single-frame decode: no effect)

    // ---- coefficient probability updates (§13.4)
    val coeffProbs = new Array[Int](1056)
    System.arraycopy(DefaultCoeffProbs, 0, coeffProbs, 0, 1056)
    var ci = 0
    while (ci < 1056) {
      if (bd.bit(CoeffUpdateProbs(ci)) == 1) coeffProbs(ci) = bd.literal(8)
      ci += 1
    }

    val noSkipCoeff = bd.bit(128) == 1
    val probSkipFalse = if (noSkipCoeff) bd.literal(8) else 0

    // ---- mode pass: all macroblocks, sequential in the first partition
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    val nMb = mbW * mbH
    val ymodes = new Array[Byte](nMb)
    val uvmodes = new Array[Byte](nMb)
    val segIds = new Array[Byte](nMb)
    val skips = new Array[Boolean](nMb)
    val bmodes = new Array[Byte](nMb * 16)
    val aboveBMode = new Array[Byte](mbW * 4) // default 0 = B_DC
    val leftBMode = new Array[Byte](4)
    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftBMode, 0.toByte)
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbY * mbW + mbX
        if (segUpdateMap)
          segIds(mb) = bd.tree(SegmentTree, segTreeProbs, 0).toByte
        if (noSkipCoeff) skips(mb) = bd.bit(probSkipFalse) == 1
        val ym = bd.tree(KfYmodeTree, KfYmodeProbs, 0)
        ymodes(mb) = ym.toByte
        if (ym == BPred) {
          var sy = 0
          while (sy < 4) {
            var sx = 0
            while (sx < 4) {
              val above =
                if (sy == 0) aboveBMode(mbX * 4 + sx) else bmodes(mb * 16 + (sy - 1) * 4 + sx)
              val left =
                if (sx == 0) leftBMode(sy) else bmodes(mb * 16 + sy * 4 + sx - 1)
              val m = bd.tree(BModeTree, KfBModeProbs, (above * 10 + left) * 9)
              bmodes(mb * 16 + sy * 4 + sx) = m.toByte
              sx += 1
            }
            sy += 1
          }
          var k = 0
          while (k < 4) {
            aboveBMode(mbX * 4 + k) = bmodes(mb * 16 + 12 + k)
            leftBMode(k) = bmodes(mb * 16 + k * 4 + 3)
            k += 1
          }
        } else {
          val imp = ImpliedBMode(ym).toByte
          var k = 0
          while (k < 4) { aboveBMode(mbX * 4 + k) = imp; leftBMode(k) = imp; k += 1 }
        }
        uvmodes(mb) = bd.tree(UvModeTree, KfUvProbs, 0).toByte
        mbX += 1
      }
      mbY += 1
    }
    if (bd.overread > 2) return null

    // ---- reconstruction planes, bordered: row 0 = 127, col 0 = 129,
    // corner 127, 4 right-extension columns (above-right for B_PRED)
    val yStride = 1 + mbW * 16 + 4
    val cStride = 1 + mbW * 8 + 4
    val yPlane = new Array[Int](yStride * (1 + mbH * 16))
    val uPlane = new Array[Int](cStride * (1 + mbH * 8))
    val vPlane = new Array[Int](cStride * (1 + mbH * 8))
    java.util.Arrays.fill(yPlane, 0, yStride, 127)
    java.util.Arrays.fill(uPlane, 0, cStride, 127)
    java.util.Arrays.fill(vPlane, 0, cStride, 127)
    var r = 1
    while (r < 1 + mbH * 16) { yPlane(r * yStride) = 129; r += 1 }
    r = 1
    while (r < 1 + mbH * 8) { uPlane(r * cStride) = 129; vPlane(r * cStride) = 129; r += 1 }

    // nonzero contexts (eob-based, the reference decoder's rule)
    val aboveYnz = new Array[Boolean](mbW * 4)
    val aboveUnz = new Array[Boolean](mbW * 2)
    val aboveVnz = new Array[Boolean](mbW * 2)
    val aboveY2nz = new Array[Boolean](mbW)
    val leftYnz = new Array[Boolean](4)
    val leftUnz = new Array[Boolean](2)
    val leftVnz = new Array[Boolean](2)
    var leftY2nz = false

    val mbHasCoeffs = new Array[Boolean](nMb)
    val y2 = new Array[Int](16)
    val wht = new Array[Int](16)
    val coeffs = new Array[Int](16)
    val resid = new Array[Int](16)
    val predB4 = new Array[Int](16)
    val aBuf = new Array[Int](8)
    val lBuf = new Array[Int](4)

    mbY = 0
    while (mbY < mbH) {
      val td = parts(mbY % nParts)
      java.util.Arrays.fill(leftYnz, false)
      java.util.Arrays.fill(leftUnz, false)
      java.util.Arrays.fill(leftVnz, false)
      leftY2nz = false
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbY * mbW + mbX
        val ym = ymodes(mb)
        val dq = dequants(if (segEnabled) segIds(mb) else 0)
        val hasY2 = ym != BPred
        val yTop = 1 + mbY * 16
        val yLeft = 1 + mbX * 16
        val cTop = 1 + mbY * 8
        val cLeft = 1 + mbX * 8
        val yBlockCoeffs = new Array[Array[Int]](16)
        val uBlockCoeffs = new Array[Array[Int]](4)
        val vBlockCoeffs = new Array[Array[Int]](4)
        val yBlockNz = new Array[Boolean](16)
        val uBlockNz = new Array[Boolean](4)
        val vBlockNz = new Array[Boolean](4)
        var anyCoeffs = false

        if (skips(mb)) {
          // no tokens: zero this MB's contexts (Y2 only when present)
          var k = 0
          while (k < 4) { aboveYnz(mbX * 4 + k) = false; leftYnz(k) = false; k += 1 }
          k = 0
          while (k < 2) {
            aboveUnz(mbX * 2 + k) = false; leftUnz(k) = false
            aboveVnz(mbX * 2 + k) = false; leftVnz(k) = false
            k += 1
          }
          if (hasY2) { aboveY2nz(mbX) = false; leftY2nz = false }
        } else {
          var y2nz = false
          if (hasY2) {
            java.util.Arrays.fill(y2, 0)
            val ctx = (if (aboveY2nz(mbX)) 1 else 0) + (if (leftY2nz) 1 else 0)
            val eob = decodeCoeffs(td, coeffProbs, 1, ctx, 0, dq.y2dc, dq.y2ac, y2)
            y2nz = eob > 0
            aboveY2nz(mbX) = y2nz; leftY2nz = y2nz
            if (y2nz) anyCoeffs = true
            iwht4x4(y2, wht)
          }
          val typ = if (hasY2) 0 else 3
          val first = if (hasY2) 1 else 0
          var bi = 0
          while (bi < 16) {
            val bx = bi & 3; val by = bi >> 2
            java.util.Arrays.fill(coeffs, 0)
            val ctx = (if (aboveYnz(mbX * 4 + bx)) 1 else 0) +
              (if (leftYnz(by)) 1 else 0)
            val eob = decodeCoeffs(td, coeffProbs, typ, ctx, first,
              dq.y1dc, dq.y1ac, coeffs)
            if (hasY2) coeffs(0) = wht(bi)
            val nz = eob > first
            aboveYnz(mbX * 4 + bx) = nz; leftYnz(by) = nz
            if (nz) anyCoeffs = true
            if (nz || (hasY2 && coeffs(0) != 0)) {
              yBlockCoeffs(bi) = coeffs.clone()
              yBlockNz(bi) = true
            }
            bi += 1
          }
          var pl = 0
          while (pl < 2) {
            val aNz = if (pl == 0) aboveUnz else aboveVnz
            val lNz = if (pl == 0) leftUnz else leftVnz
            val store = if (pl == 0) uBlockCoeffs else vBlockCoeffs
            val storeNz = if (pl == 0) uBlockNz else vBlockNz
            var ci2 = 0
            while (ci2 < 4) {
              val bx = ci2 & 1; val by = ci2 >> 1
              java.util.Arrays.fill(coeffs, 0)
              val ctx = (if (aNz(mbX * 2 + bx)) 1 else 0) + (if (lNz(by)) 1 else 0)
              val eob = decodeCoeffs(td, coeffProbs, 2, ctx, 0,
                dq.uvdc, dq.uvac, coeffs)
              val nz = eob > 0
              aNz(mbX * 2 + bx) = nz; lNz(by) = nz
              if (nz) { anyCoeffs = true; store(ci2) = coeffs.clone(); storeNz(ci2) = true }
              ci2 += 1
            }
            pl += 1
          }
        }
        mbHasCoeffs(mb) = anyCoeffs

        // ---- reconstruct luma
        if (ym == BPred) {
          var bi = 0
          while (bi < 16) {
            val bx = bi & 3; val by = bi >> 2
            val px = yLeft + bx * 4
            val py = yTop + by * 4
            var k = 0
            while (k < 4) {
              aBuf(k) = yPlane((py - 1) * yStride + px + k)
              lBuf(k) = yPlane((py + k) * yStride + px - 1)
              k += 1
            }
            if (bx == 3) {
              // fixed above-right: always the above-MB row's top-right
              k = 0
              while (k < 4) {
                aBuf(4 + k) = yPlane((yTop - 1) * yStride + yLeft + 16 + k)
                k += 1
              }
            } else {
              k = 0
              while (k < 4) {
                aBuf(4 + k) = yPlane((py - 1) * yStride + px + 4 + k)
                k += 1
              }
            }
            val corner = yPlane((py - 1) * yStride + px - 1)
            predictB(bmodes(mb * 16 + bi), aBuf, lBuf, corner, predB4)
            if (yBlockNz(bi)) idct4x4(yBlockCoeffs(bi), resid)
            else java.util.Arrays.fill(resid, 0)
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                yPlane((py + yy) * yStride + px + xx) =
                  clamp255(predB4(yy * 4 + xx) + resid(yy * 4 + xx))
                xx += 1
              }
              yy += 1
            }
            bi += 1
          }
        } else {
          predictWhole(yPlane, yStride, yTop, yLeft, 16, ym, mbY > 0, mbX > 0)
          var bi = 0
          while (bi < 16) {
            if (yBlockNz(bi)) {
              idct4x4(yBlockCoeffs(bi), resid)
              val px = yLeft + (bi & 3) * 4
              val py = yTop + (bi >> 2) * 4
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  val idx = (py + yy) * yStride + px + xx
                  yPlane(idx) = clamp255(yPlane(idx) + resid(yy * 4 + xx))
                  xx += 1
                }
                yy += 1
              }
            }
            bi += 1
          }
        }

        // ---- reconstruct chroma
        val uvm = uvmodes(mb)
        predictWhole(uPlane, cStride, cTop, cLeft, 8, uvm, mbY > 0, mbX > 0)
        predictWhole(vPlane, cStride, cTop, cLeft, 8, uvm, mbY > 0, mbX > 0)
        var pl = 0
        while (pl < 2) {
          val plane = if (pl == 0) uPlane else vPlane
          val store = if (pl == 0) uBlockCoeffs else vBlockCoeffs
          val storeNz = if (pl == 0) uBlockNz else vBlockNz
          var ci2 = 0
          while (ci2 < 4) {
            if (storeNz(ci2)) {
              idct4x4(store(ci2), resid)
              val px = cLeft + (ci2 & 1) * 4
              val py = cTop + (ci2 >> 1) * 4
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  val idx = (py + yy) * cStride + px + xx
                  plane(idx) = clamp255(plane(idx) + resid(yy * 4 + xx))
                  xx += 1
                }
                yy += 1
              }
            }
            ci2 += 1
          }
          pl += 1
        }
        mbX += 1
      }
      // extend the right border of this MB row (above-right source for
      // the next row's rightmost-column subblocks, as the reference
      // decoder's border extension does)
      var py = 1 + mbY * 16
      val lastX = mbW * 16
      while (py <= mbY * 16 + 16) {
        val v = yPlane(py * yStride + lastX)
        var k = 1
        while (k <= 4) { yPlane(py * yStride + lastX + k) = v; k += 1 }
        py += 1
      }
      mbY += 1
    }
    var pOk = bd.overread <= 2
    pi = 0
    while (pi < nParts) { if (parts(pi).overread > 2) pOk = false; pi += 1 }
    if (!pOk) return null

    // ---- in-loop deblocking filter (§15)
    if (filterLevel > 0) {
      val hevKf = (lvl: Int) => if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
      mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          val mb = mbY * mbW + mbX
          var lvl =
            if (segEnabled) {
              if (segAbsolute) segLf(segIds(mb)) else filterLevel + segLf(segIds(mb))
            } else filterLevel
          if (lfAdjEnabled) {
            lvl += refLfDeltas(0) // key frames always predict from intra
            if (ymodes(mb) == BPred) lvl += modeLfDeltas(0)
          }
          if (lvl < 0) lvl = 0 else if (lvl > 63) lvl = 63
          if (lvl > 0) {
            var il = lvl
            if (sharpness > 0) {
              il >>= (if (sharpness > 4) 2 else 1)
              if (il > 9 - sharpness) il = 9 - sharpness
            }
            if (il < 1) il = 1
            val mbLim = (lvl + 2) * 2 + il
            val subLim = lvl * 2 + il
            val thr = hevKf(lvl)
            val interior = mbHasCoeffs(mb) || ymodes(mb) == BPred
            val yTop = 1 + mbY * 16
            val yLeft = 1 + mbX * 16
            val cTop = 1 + mbY * 8
            val cLeft = 1 + mbX * 8
            if (simpleFilter) {
              if (mbX > 0) {
                var yy = 0
                while (yy < 16) {
                  simpleFilterEdge(yPlane, (yTop + yy) * yStride + yLeft, 1, mbLim)
                  yy += 1
                }
              }
              if (interior) {
                var e = 4
                while (e < 16) {
                  var yy = 0
                  while (yy < 16) {
                    simpleFilterEdge(yPlane, (yTop + yy) * yStride + yLeft + e, 1, subLim)
                    yy += 1
                  }
                  e += 4
                }
              }
              if (mbY > 0) {
                var xx = 0
                while (xx < 16) {
                  simpleFilterEdge(yPlane, yTop * yStride + yLeft + xx, yStride, mbLim)
                  xx += 1
                }
              }
              if (interior) {
                var e = 4
                while (e < 16) {
                  var xx = 0
                  while (xx < 16) {
                    simpleFilterEdge(yPlane, (yTop + e) * yStride + yLeft + xx, yStride, subLim)
                    xx += 1
                  }
                  e += 4
                }
              }
            } else {
              if (mbX > 0) {
                var yy = 0
                while (yy < 16) {
                  mbFilterEdge(yPlane, (yTop + yy) * yStride + yLeft, 1, il, mbLim, thr)
                  yy += 1
                }
                yy = 0
                while (yy < 8) {
                  mbFilterEdge(uPlane, (cTop + yy) * cStride + cLeft, 1, il, mbLim, thr)
                  mbFilterEdge(vPlane, (cTop + yy) * cStride + cLeft, 1, il, mbLim, thr)
                  yy += 1
                }
              }
              if (interior) {
                var e = 4
                while (e < 16) {
                  var yy = 0
                  while (yy < 16) {
                    filterEdge(yPlane, (yTop + yy) * yStride + yLeft + e, 1, il, subLim, thr)
                    yy += 1
                  }
                  e += 4
                }
                var yy = 0
                while (yy < 8) {
                  filterEdge(uPlane, (cTop + yy) * cStride + cLeft + 4, 1, il, subLim, thr)
                  filterEdge(vPlane, (cTop + yy) * cStride + cLeft + 4, 1, il, subLim, thr)
                  yy += 1
                }
              }
              if (mbY > 0) {
                var xx = 0
                while (xx < 16) {
                  mbFilterEdge(yPlane, yTop * yStride + yLeft + xx, yStride, il, mbLim, thr)
                  xx += 1
                }
                xx = 0
                while (xx < 8) {
                  mbFilterEdge(uPlane, cTop * cStride + cLeft + xx, cStride, il, mbLim, thr)
                  mbFilterEdge(vPlane, cTop * cStride + cLeft + xx, cStride, il, mbLim, thr)
                  xx += 1
                }
              }
              if (interior) {
                var e = 4
                while (e < 16) {
                  var xx = 0
                  while (xx < 16) {
                    filterEdge(yPlane, (yTop + e) * yStride + yLeft + xx, yStride, il, subLim, thr)
                    xx += 1
                  }
                  e += 4
                }
                var xx = 0
                while (xx < 8) {
                  filterEdge(uPlane, (cTop + 4) * cStride + cLeft + xx, cStride, il, subLim, thr)
                  filterEdge(vPlane, (cTop + 4) * cStride + cLeft + xx, cStride, il, subLim, thr)
                  xx += 1
                }
              }
            }
          }
          mbX += 1
        }
        mbY += 1
      }
    }

    // ---- crop to (w, h), replicated chroma upsample, JFIF RGB emit
    val out = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val yv = yPlane((1 + y) * yStride + 1 + x)
        val cb = uPlane((1 + y / 2) * cStride + 1 + x / 2) - 128
        val cr = vPlane((1 + y / 2) * cStride + 1 + x / 2) - 128
        var rr = math.floor(yv + 1.402 * cr + 0.5).toInt
        var gg = math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5).toInt
        var bb = math.floor(yv + 1.772 * cb + 0.5).toInt
        if (rr < 0) rr = 0 else if (rr > 255) rr = 255
        if (gg < 0) gg = 0 else if (gg > 255) gg = 255
        if (bb < 0) bb = 0 else if (bb > 255) bb = 255
        val d = (y * w + x) * 3
        out(d) = rr.toByte
        out(d + 1) = gg.toByte
        out(d + 2) = bb.toByte
        x += 1
      }
      y += 1
    }
    ImageDecode.rasterRow(ImageDecode.FmtWebp, w, h, 3, out)
  }
}

/** Fixture ENCODER for lossy WebP — the proof harness for [[Vp8Codec]].
  * Builds a COMPLETE spec-valid RIFF/WEBP/'VP8 ' key frame from
  * `(w, h, seed)` and really arithmetic-codes it: the boolean encoder
  * is the RFC 6386 §7.2 routine (carry propagation through 0xFF runs),
  * mode trees and coefficient tokens are coded against the same default
  * probability tables the decoder uses, and every residual travels the
  * real token path (categories, extra bits, signs, nonzero contexts).
  *
  * JPEG-style exactness contract: VP8 is lossy in general, so the
  * fixture content lives where the transform is EXACT — every 4×4
  * block reconstructs to a CONSTANT. A DC-only residual block decodes
  * to the constant `(dc + 4) >> 3` on all 16 pixels, so for any target
  * constant `c` and (deterministic, decoder-mirrored) prediction `p`,
  * the coefficient level `K = 2(c-p) - 1` at the qi=0 quantizer
  * (y1dc = uvdc = 4) lands the block exactly on `c`; through the Y2
  * path (y2dc = 8) the level `K = 8(c-p) - 4` does the same for a
  * whole macroblock. Luma targets follow the shared generative formula
  * (`48 + (seed·31 + blockIndex·17) mod 160`), chroma planes are the
  * constant JPEG chroma variants whose RGB conversion rounds to integer
  * shift triples — which is what lets the DuckDB oracle replay the
  * decoded pixels knowing nothing about arithmetic coding, prediction,
  * or the DCT.
  *
  * `mode` 0: all-B_PRED frames (per-4×4 targets; subblocks alternate
  * B_DC/B_TM by formula). `mode` 1: 16×16 frames rotating
  * DC/V/H/TM per macroblock with per-MB targets through the real
  * Y2/WHT path. Both rotate the chroma mode over DC/V/H/TM.
  */
object Vp8Synth {
  import Vp8Tables._

  private val MaxPixelBytes = 1 << 26

  /** Boolean arithmetic encoder — RFC 6386 §7.2. */
  private[graftnative] final class BoolEnc {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24
    private def carry(): Unit = {
      var i = buf.length - 1
      require(i >= 0, "bool-encoder carry out of an empty buffer")
      while (buf(i) == -1) { buf(i) = 0; i -= 1; require(i >= 0) }
      buf(i) = (buf(i) + 1).toByte
    }
    def bool(prob: Int, v: Boolean): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (v) {
        bottom += split
        if (bottom > 0xFFFFFFFFL) { carry(); bottom &= 0xFFFFFFFFL }
        range -= split
      } else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & 0x80000000L) != 0) carry()
        bottom = (bottom << 1) & 0xFFFFFFFFL
        bitCount -= 1
        if (bitCount == 0) {
          buf += ((bottom >> 24) & 0xFF).toByte
          bottom &= 0xFFFFFF
          bitCount = 8
        }
      }
    }
    /** n-bit literal, MSB first. */
    def literal(n: Int, v: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, ((v >> i) & 1) == 1); i -= 1 }
    }
    def flag(v: Boolean): Unit = bool(128, v)
    /** Flush: 32 raw zero bits drain every pending byte (the reference
      * encoder's stop_encode).
      */
    def finish(): Array[Byte] = {
      var i = 0
      while (i < 32) { bool(128, v = false); i += 1 }
      buf.toArray
    }
    /** Write the tree path encoding `tok` (inverse of BoolDec.tree). */
    def tree(t: Array[Int], probs: Array[Int], off: Int, tok: Int,
        start: Int = 0): Unit = {
      val path = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      def dfs(i: Int): Boolean = {
        var b = 0
        while (b < 2) {
          val n = t(i + b)
          if (n <= 0) {
            if (-n == tok) { path += ((i, b)); return true }
          } else if (dfs(n)) { path += ((i, b)); return true }
          b += 1
        }
        false
      }
      require(dfs(start), s"token $tok unreachable from node $start")
      var k = path.length - 1
      while (k >= 0) {
        val (i, b) = path(k)
        bool(probs(off + (i >> 1)), b == 1)
        k -= 1
      }
    }
  }

  private def floorMod(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Write one coefficient token (value, category extra bits, sign). */
  private def writeToken(e: BoolEnc, off: Int, start: Int, lvl: Int,
      probs: Array[Int]): Unit = {
    val a = math.abs(lvl)
    val tok =
      if (a <= 4) a
      else if (a <= 6) 5
      else if (a <= 10) 6
      else if (a <= 18) 7
      else if (a <= 34) 8
      else if (a <= 66) 9
      else { require(a <= 67 + 2047, s"level $a out of category range"); 10 }
    e.tree(CoeffTree, probs, off, tok, start)
    if (tok >= 5) {
      val cat = tok - 5
      val extra = a - CatBase(cat)
      val cp = CatProbs(cat)
      var i = 0
      while (i < cp.length) {
        e.bool(cp(i), ((extra >> (cp.length - 1 - i)) & 1) == 1)
        i += 1
      }
    }
    e.bool(128, lvl < 0)
  }

  /** Write a general coefficient block from scan-order `levels`
    * (positions `first`..15): explicit ZERO tokens inside the run (the
    * EOB token is prohibited right after one — the tree read starts at
    * node 2 — and the context resets to 0), then end-of-block after the
    * last nonzero. Returns the nonzero-context flag (eob > first).
    */
  private def writeBlock(e: BoolEnc, typ: Int, ctx0: Int, first: Int,
      levels: Array[Int], probs: Array[Int]): Boolean = {
    var lp = 15
    while (lp >= first && levels(lp) == 0) lp -= 1
    if (lp < first) return writeEmptyBlock(e, typ, ctx0, first, probs)
    var n = first
    var ctx = ctx0
    var skipEob = false
    while (n <= lp) {
      val off = ((typ * 8 + CoeffBands(n)) * 3 + ctx) * 11
      val start = if (skipEob) 2 else 0
      val lvl = levels(n)
      if (lvl == 0) {
        e.tree(CoeffTree, probs, off, TokZero, start)
        ctx = 0; skipEob = true
      } else {
        writeToken(e, off, start, lvl, probs)
        ctx = if (math.abs(lvl) == 1) 1 else 2
        skipEob = false
      }
      n += 1
    }
    if (lp + 1 < 16) {
      val off = ((typ * 8 + CoeffBands(lp + 1)) * 3 + ctx) * 11
      e.tree(CoeffTree, probs, off, TokEob)
    }
    true
  }

  /** Write one DC-only coefficient block: level `k` (nonzero) at
    * position `first`, then end-of-block. Returns the nonzero flag for
    * the caller's context tracking (always true).
    */
  private def writeDcBlock(e: BoolEnc, typ: Int, ctx0: Int, first: Int,
      k: Int, probs: Array[Int] = Vp8Tables.DefaultCoeffProbs): Boolean = {
    require(k != 0)
    val levels = new Array[Int](16)
    levels(first) = k
    writeBlock(e, typ, ctx0, first, levels, probs)
  }

  /** Write an empty coefficient block (end-of-block at `first`). */
  private def writeEmptyBlock(e: BoolEnc, typ: Int, ctx0: Int, first: Int,
      probs: Array[Int] = Vp8Tables.DefaultCoeffProbs): Boolean = {
    val off = ((typ * 8 + CoeffBands(first)) * 3 + ctx0) * 11
    e.tree(CoeffTree, probs, off, TokEob)
    false
  }

  /** Test-harness aliases for [[Vp8TestBuilder]]. */
  private[graftnative] def writeDcBlockT(e: BoolEnc, typ: Int, ctx0: Int,
      first: Int, k: Int, probs: Array[Int]): Boolean =
    writeDcBlock(e, typ, ctx0, first, k, probs)
  private[graftnative] def writeEmptyBlockT(e: BoolEnc, typ: Int, ctx0: Int,
      first: Int, probs: Array[Int]): Boolean =
    writeEmptyBlock(e, typ, ctx0, first, probs)
  private[graftnative] def writeBlockT(e: BoolEnc, typ: Int, ctx0: Int,
      first: Int, levels: Array[Int], probs: Array[Int]): Boolean =
    writeBlock(e, typ, ctx0, first, levels, probs)

  /** Luma target constant of grid unit `n` (4×4 block in mode 0, MB in
    * mode 1) — the shared generative formula the oracle replays.
    */
  def lumaTarget(seed: Long, n: Long): Int =
    48 + floorMod(seed * 31 + n * 17, 160)

  /** 16×16 / chroma mode rotations (by MB) and the 4×4 alternation. */
  def ymode16(seed: Long, mx: Int, my: Int): Int = floorMod(seed + mx + 2L * my, 4)
  def uvmode(seed: Long, mx: Int, my: Int): Int = floorMod(seed + mx + 3L * my, 4)
  def bmodeOf(seed: Long, n: Long): Int = if (floorMod(seed + n, 2) == 0) BDc else BTm

  /** Complete valid lossy-WebP file; null on out-of-envelope args. */
  def vp8Bytes(wL: Long, hL: Long, seed: Long, mode: Int): Array[Byte] = {
    if (wL < 4 || hL < 4 || wL > 4096 || hL > 4096) return null
    val w = wL.toInt
    val h = hL.toInt
    if (3L * w * h > MaxPixelBytes) return null
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    val variant = floorMod(seed, 4)
    val (dr, db, _, _, _) = JpegSynth.ChromaVariants(variant)
    val cbT = 128 + db
    val crT = 128 + dr

    // ---------------- first partition: headers + modes
    val e0 = new BoolEnc
    e0.flag(v = false) // color_space
    e0.flag(v = false) // clamping_type
    e0.flag(v = false) // segmentation_enabled
    e0.flag(v = false) // filter_type: normal
    e0.literal(6, 0)   // loop_filter_level 0 (exactness contract)
    e0.literal(3, 0)   // sharpness
    e0.flag(v = false) // loop_filter_adj_enable
    e0.literal(2, 0)   // one token partition
    e0.literal(7, 0)   // y_ac_qi = 0 (y1dc=uvdc=4, y2dc=8)
    var i = 0
    while (i < 5) { e0.flag(v = false); i += 1 } // no quantizer deltas
    e0.flag(v = true)  // refresh_entropy_probs
    i = 0
    while (i < 1056) { e0.bool(CoeffUpdateProbs(i), v = false); i += 1 }
    e0.flag(v = false) // mb_no_coeff_skip off: no per-MB skip flags

    val aboveBMode = new Array[Byte](mbW * 4)
    val leftBMode = new Array[Byte](4)
    var my = 0
    while (my < mbH) {
      java.util.Arrays.fill(leftBMode, 0.toByte)
      var mx = 0
      while (mx < mbW) {
        if (mode == 0) {
          e0.tree(KfYmodeTree, KfYmodeProbs, 0, BPred)
          var sy = 0
          while (sy < 4) {
            var sx = 0
            while (sx < 4) {
              val n = (my * 4L + sy) * (mbW * 4) + mx * 4 + sx
              val bm = bmodeOf(seed, n)
              val above = if (sy == 0) aboveBMode(mx * 4 + sx) else bmodeOf(seed, n - mbW * 4)
              val left = if (sx == 0) leftBMode(sy) else bmodeOf(seed, n - 1)
              e0.tree(BModeTree, KfBModeProbs, (above * 10 + left) * 9, bm)
              sx += 1
            }
            sy += 1
          }
          var k = 0
          while (k < 4) {
            aboveBMode(mx * 4 + k) = bmodeOf(seed, (my * 4L + 3) * (mbW * 4) + mx * 4 + k).toByte
            leftBMode(k) = bmodeOf(seed, (my * 4L + k) * (mbW * 4) + mx * 4 + 3).toByte
            k += 1
          }
        } else {
          val ym = ymode16(seed, mx, my)
          e0.tree(KfYmodeTree, KfYmodeProbs, 0, ym)
          val imp = ImpliedBMode(ym).toByte
          var k = 0
          while (k < 4) { aboveBMode(mx * 4 + k) = imp; leftBMode(k) = imp; k += 1 }
        }
        e0.tree(UvModeTree, KfUvProbs, 0, uvmode(seed, mx, my))
        mx += 1
      }
      my += 1
    }
    val part0 = e0.finish()

    // ---------------- token partition: residuals
    val e1 = new BoolEnc
    val aboveYnz = new Array[Boolean](mbW * 4)
    val aboveUnz = new Array[Boolean](mbW * 2)
    val aboveVnz = new Array[Boolean](mbW * 2)
    val aboveY2nz = new Array[Boolean](mbW)
    val leftYnz = new Array[Boolean](4)
    val leftUnz = new Array[Boolean](2)
    val leftVnz = new Array[Boolean](2)
    var leftY2nz = false

    my = 0
    while (my < mbH) {
      java.util.Arrays.fill(leftYnz, false)
      java.util.Arrays.fill(leftUnz, false)
      java.util.Arrays.fill(leftVnz, false)
      leftY2nz = false
      var mx = 0
      while (mx < mbW) {
        if (mode == 0) {
          // B_PRED: per-subblock targets, type-3 blocks from coeff 0
          var bi = 0
          while (bi < 16) {
            val sx = bi & 3; val sy = bi >> 2
            val gx = mx * 4 + sx; val gy = my * 4 + sy
            val n = gy.toLong * (mbW * 4) + gx
            val c = lumaTarget(seed, n)
            val aV = if (gy == 0) 127 else lumaTarget(seed, n - mbW * 4)
            val lV = if (gx == 0) 129 else lumaTarget(seed, n - 1)
            val cV =
              if (gy == 0) 127
              else if (gx == 0) 129
              else lumaTarget(seed, n - mbW * 4 - 1)
            val pred = bmodeOf(seed, n) match {
              case BDc => (aV + lV + 1) >> 1
              case _ => clamp255(lV + aV - cV) // BTm
            }
            val k = 2 * (c - pred) - 1
            val ctx = (if (aboveYnz(mx * 4 + sx)) 1 else 0) + (if (leftYnz(sy)) 1 else 0)
            val nz = writeDcBlock(e1, 3, ctx, 0, k)
            aboveYnz(mx * 4 + sx) = nz; leftYnz(sy) = nz
            bi += 1
          }
        } else {
          // 16x16 mode: one per-MB target through the Y2/WHT path
          val ym = ymode16(seed, mx, my)
          val nm = my.toLong * mbW + mx
          val c = lumaTarget(seed, nm)
          val aV = if (my == 0) 127 else lumaTarget(seed, nm - mbW)
          val lV = if (mx == 0) 129 else lumaTarget(seed, nm - 1)
          val cV =
            if (my == 0) 127
            else if (mx == 0) 129
            else lumaTarget(seed, nm - mbW - 1)
          val pred = ym match {
            case DcPred =>
              if (my > 0 && mx > 0) (aV + lV + 1) >> 1
              else if (my > 0) aV
              else if (mx > 0) lV
              else 128
            case VPred => aV
            case HPred => lV
            case _ => clamp255(lV + aV - cV) // TmPred
          }
          val k = 8 * (c - pred) - 4
          val y2ctx = (if (aboveY2nz(mx)) 1 else 0) + (if (leftY2nz) 1 else 0)
          val y2nz = writeDcBlock(e1, 1, y2ctx, 0, k)
          aboveY2nz(mx) = y2nz; leftY2nz = y2nz
          var bi = 0
          while (bi < 16) {
            val sx = bi & 3; val sy = bi >> 2
            val ctx = (if (aboveYnz(mx * 4 + sx)) 1 else 0) + (if (leftYnz(sy)) 1 else 0)
            val nz = writeEmptyBlock(e1, 0, ctx, 1)
            aboveYnz(mx * 4 + sx) = nz; leftYnz(sy) = nz
            bi += 1
          }
        }
        // chroma: constant planes, DC-only residual per 4x4 block
        val uvm = uvmode(seed, mx, my)
        var pl = 0
        while (pl < 2) {
          val ct = if (pl == 0) cbT else crT
          val aV = if (my == 0) 127 else ct
          val lV = if (mx == 0) 129 else ct
          val cV = if (my == 0) 127 else if (mx == 0) 129 else ct
          val pred = uvm match {
            case DcPred =>
              if (my > 0 && mx > 0) (aV + lV + 1) >> 1
              else if (my > 0) aV
              else if (mx > 0) lV
              else 128
            case VPred => aV
            case HPred => lV
            case _ => clamp255(lV + aV - cV)
          }
          val k = 2 * (ct - pred) - 1
          val aNz = if (pl == 0) aboveUnz else aboveVnz
          val lNz = if (pl == 0) leftUnz else leftVnz
          var ci = 0
          while (ci < 4) {
            val bx = ci & 1; val by = ci >> 1
            val ctx = (if (aNz(mx * 2 + bx)) 1 else 0) + (if (lNz(by)) 1 else 0)
            val nz = writeDcBlock(e1, 2, ctx, 0, k)
            aNz(mx * 2 + bx) = nz; lNz(by) = nz
            ci += 1
          }
          pl += 1
        }
        mx += 1
      }
      my += 1
    }
    val part1 = e1.finish()

    // ---------------- frame tag + RIFF container
    val payload = new java.io.ByteArrayOutputStream()
    val tag = (part0.length << 5) | (1 << 4) | 0 // show_frame, v0, keyframe
    payload.write(tag & 0xFF)
    payload.write((tag >> 8) & 0xFF)
    payload.write((tag >> 16) & 0xFF)
    payload.write(0x9D); payload.write(0x01); payload.write(0x2A)
    payload.write(w & 0xFF); payload.write((w >> 8) & 0x3F)
    payload.write(h & 0xFF); payload.write((h >> 8) & 0x3F)
    payload.write(part0, 0, part0.length)
    payload.write(part1, 0, part1.length)
    val pl = payload.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = { var i = 0; while (i < s.length) { out.write(s.charAt(i)); i += 1 } }
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    ascii("RIFF")
    le32(4 + 8 + pl.length + (pl.length & 1))
    ascii("WEBP")
    ascii("VP8 ")
    le32(pl.length)
    out.write(pl, 0, pl.length)
    if ((pl.length & 1) == 1) out.write(0) // RIFF even padding
    out.toByteArray
  }
}

/** Codegen-friendly ternary expression wrapping [[Vp8Synth.vp8Bytes]]:
  * a complete valid lossy-WebP (VP8 key frame) fixture from
  * `(w, h, seed)`. `mode` 0 = B_PRED frames, 1 = 16×16-mode frames
  * through the Y2/WHT path.
  */
case class SynthVp8(first: Expression, second: Expression, third: Expression,
    mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  require(mode == 0 || mode == 1,
    s"synth_vp8 mode must be 0 (B_PRED) or 1 (16x16/Y2); got $mode")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    Vp8Synth.vp8Bytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Vp8Synth.vp8Bytes($w, $h, $s, $mode);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Vp8SynthFunctions {
  /** Column API: complete valid lossy-WebP VP8 key frame (RFC 6386) from
    * `(w, h, seed)`: real boolean arithmetic coding of modes and DCT tokens;
    * content chosen where the transform is exact (constant 4×4 blocks), so
    * the decode is oracle-replayable (see [[SynthVp8]]).
    * `mode`: 0 = all-B_PRED, 1 = 16×16 modes through the Y2/WHT path.
    */
  def synth_vp8(w: Column, h: Column, seed: Column, mode: Int): Column =
    ExpressionUtils.column(SynthVp8(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), mode))
}

/** Hand-driven frame description for [[Vp8Synth.buildTestFrame]] —
  * the golden-test harness: explicit modes, skip flags, segment ids,
  * and DC-only residual levels per macroblock.
  */
private[graftnative] final case class Vp8TestMb(
    ymode: Int,
    bmode: Int = Vp8Tables.BDc,
    uvmode: Int = Vp8Tables.DcPred,
    skip: Boolean = false,
    segment: Int = 0,
    kY2: Int = 0,
    kY: Array[Int] = null,
    kUV: Int = 0,
    yLevels: Array[Array[Int]] = null)

/** Header knobs for [[Vp8Synth.buildTestFrame]]. */
private[graftnative] final case class Vp8TestOpts(
    qIndex: Int = 0,
    filterLevel: Int = 0,
    sharpness: Int = 0,
    simpleFilter: Boolean = false,
    nPartsLog2: Int = 0,
    mbNoSkip: Boolean = false,
    segEnabled: Boolean = false,
    segAbsolute: Boolean = true,
    segQuant: Array[Int] = Array(0, 0, 0, 0),
    probUpdates: Array[(Int, Int)] = Array.empty)

private[graftnative] object Vp8TestBuilder {
  import Vp8Tables._
  import Vp8Synth.BoolEnc

  /** Spec-valid key frame from an explicit per-MB description — the
    * golden-test harness behind Vp8Spec's b-mode / skip / partition /
    * segmentation / loop-filter pins. Residuals are DC-only levels;
    * everything else (trees, contexts, partitions) is coded exactly as
    * the production fixture encoder does.
    */
  def buildTestFrame(w: Int, h: Int, mbs: Array[Vp8TestMb],
      opts: Vp8TestOpts): Array[Byte] = {
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    require(mbs.length == mbW * mbH, "one Vp8TestMb per macroblock")
    val nParts = 1 << opts.nPartsLog2

    // ---------------- first partition
    val e0 = new BoolEnc
    e0.flag(v = false) // color_space
    e0.flag(v = false) // clamping_type
    e0.flag(opts.segEnabled)
    if (opts.segEnabled) {
      e0.flag(v = true) // update_mb_segmentation_map
      e0.flag(v = true) // update_segment_feature_data
      e0.flag(opts.segAbsolute)
      var i = 0
      while (i < 4) { // quantizer values
        val q = opts.segQuant(i)
        if (q != 0 || opts.segAbsolute) {
          e0.flag(v = true); e0.literal(7, math.abs(q)); e0.flag(q < 0)
        } else e0.flag(v = false)
        i += 1
      }
      i = 0
      while (i < 4) { e0.flag(v = false); i += 1 } // no lf values
      i = 0
      while (i < 3) { // segment tree probs: 128 each
        e0.flag(v = true); e0.literal(8, 128)
        i += 1
      }
    }
    e0.flag(opts.simpleFilter)
    e0.literal(6, opts.filterLevel)
    e0.literal(3, opts.sharpness)
    e0.flag(v = false) // loop_filter_adj_enable
    e0.literal(2, opts.nPartsLog2)
    e0.literal(7, opts.qIndex)
    var i = 0
    while (i < 5) { e0.flag(v = false); i += 1 }
    e0.flag(v = true) // refresh_entropy_probs
    val effProbs = new Array[Int](1056)
    System.arraycopy(DefaultCoeffProbs, 0, effProbs, 0, 1056)
    val updMap = opts.probUpdates.toMap
    i = 0
    while (i < 1056) {
      updMap.get(i) match {
        case Some(p) =>
          e0.bool(CoeffUpdateProbs(i), v = true)
          e0.literal(8, p)
          effProbs(i) = p
        case None => e0.bool(CoeffUpdateProbs(i), v = false)
      }
      i += 1
    }
    e0.flag(opts.mbNoSkip)
    if (opts.mbNoSkip) e0.literal(8, 128) // prob_skip_false

    val segProbs = Array(128, 128, 128)
    val aboveBMode = new Array[Byte](mbW * 4)
    val leftBMode = new Array[Byte](4)
    var my = 0
    while (my < mbH) {
      java.util.Arrays.fill(leftBMode, 0.toByte)
      var mx = 0
      while (mx < mbW) {
        val mb = mbs(my * mbW + mx)
        if (opts.segEnabled)
          e0.tree(SegmentTree, segProbs, 0, mb.segment)
        if (opts.mbNoSkip) e0.flag(mb.skip)
        e0.tree(KfYmodeTree, KfYmodeProbs, 0, mb.ymode)
        if (mb.ymode == BPred) {
          var sy = 0
          while (sy < 4) {
            var sx = 0
            while (sx < 4) {
              val above =
                if (sy == 0) aboveBMode(mx * 4 + sx) else mb.bmode.toByte
              val left = if (sx == 0) leftBMode(sy) else mb.bmode.toByte
              e0.tree(BModeTree, KfBModeProbs, (above * 10 + left) * 9, mb.bmode)
              sx += 1
            }
            sy += 1
          }
          var k = 0
          while (k < 4) {
            aboveBMode(mx * 4 + k) = mb.bmode.toByte
            leftBMode(k) = mb.bmode.toByte
            k += 1
          }
        } else {
          val imp = ImpliedBMode(mb.ymode).toByte
          var k = 0
          while (k < 4) { aboveBMode(mx * 4 + k) = imp; leftBMode(k) = imp; k += 1 }
        }
        e0.tree(UvModeTree, KfUvProbs, 0, mb.uvmode)
        mx += 1
      }
      my += 1
    }
    val part0 = e0.finish()

    // ---------------- token partitions (MB row r -> partition r % n)
    val encs = Array.fill(nParts)(new BoolEnc)
    val aboveYnz = new Array[Boolean](mbW * 4)
    val aboveUnz = new Array[Boolean](mbW * 2)
    val aboveVnz = new Array[Boolean](mbW * 2)
    val aboveY2nz = new Array[Boolean](mbW)
    val leftYnz = new Array[Boolean](4)
    val leftUnz = new Array[Boolean](2)
    val leftVnz = new Array[Boolean](2)
    var leftY2nz = false

    def writeDc(e: BoolEnc, typ: Int, ctx: Int, first: Int, k: Int): Boolean =
      if (k == 0) Vp8Synth.writeEmptyBlockT(e, typ, ctx, first, effProbs)
      else Vp8Synth.writeDcBlockT(e, typ, ctx, first, k, effProbs)

    my = 0
    while (my < mbH) {
      val e1 = encs(my % nParts)
      java.util.Arrays.fill(leftYnz, false)
      java.util.Arrays.fill(leftUnz, false)
      java.util.Arrays.fill(leftVnz, false)
      leftY2nz = false
      var mx = 0
      while (mx < mbW) {
        val mb = mbs(my * mbW + mx)
        val hasY2 = mb.ymode != BPred
        if (mb.skip && opts.mbNoSkip) {
          var k = 0
          while (k < 4) { aboveYnz(mx * 4 + k) = false; leftYnz(k) = false; k += 1 }
          k = 0
          while (k < 2) {
            aboveUnz(mx * 2 + k) = false; leftUnz(k) = false
            aboveVnz(mx * 2 + k) = false; leftVnz(k) = false
            k += 1
          }
          if (hasY2) { aboveY2nz(mx) = false; leftY2nz = false }
        } else {
          if (hasY2) {
            val ctx = (if (aboveY2nz(mx)) 1 else 0) + (if (leftY2nz) 1 else 0)
            val nz = writeDc(e1, 1, ctx, 0, mb.kY2)
            aboveY2nz(mx) = nz; leftY2nz = nz
          }
          val typ = if (hasY2) 0 else 3
          val first = if (hasY2) 1 else 0
          var bi = 0
          while (bi < 16) {
            val sx = bi & 3; val sy = bi >> 2
            val ctx = (if (aboveYnz(mx * 4 + sx)) 1 else 0) +
              (if (leftYnz(sy)) 1 else 0)
            val nz =
              if (mb.yLevels != null)
                Vp8Synth.writeBlockT(e1, typ, ctx, first, mb.yLevels(bi), effProbs)
              else {
                val kv = if (mb.kY == null) 0 else mb.kY(bi)
                // Y-after-Y2 blocks carry no DC of their own
                writeDc(e1, typ, ctx, first, if (first == 1) 0 else kv)
              }
            aboveYnz(mx * 4 + sx) = nz; leftYnz(sy) = nz
            bi += 1
          }
          var pl = 0
          while (pl < 2) {
            val aNz = if (pl == 0) aboveUnz else aboveVnz
            val lNz = if (pl == 0) leftUnz else leftVnz
            var ci = 0
            while (ci < 4) {
              val bx = ci & 1; val by = ci >> 1
              val ctx = (if (aNz(mx * 2 + bx)) 1 else 0) + (if (lNz(by)) 1 else 0)
              val nz = writeDc(e1, 2, ctx, 0, mb.kUV)
              aNz(mx * 2 + bx) = nz; lNz(by) = nz
              ci += 1
            }
            pl += 1
          }
        }
        mx += 1
      }
      my += 1
    }
    val partBytes = encs.map(_.finish())

    // ---------------- tag + sizes + RIFF
    val payload = new java.io.ByteArrayOutputStream()
    val tag = (part0.length << 5) | (1 << 4)
    payload.write(tag & 0xFF)
    payload.write((tag >> 8) & 0xFF)
    payload.write((tag >> 16) & 0xFF)
    payload.write(0x9D); payload.write(0x01); payload.write(0x2A)
    payload.write(w & 0xFF); payload.write((w >> 8) & 0x3F)
    payload.write(h & 0xFF); payload.write((h >> 8) & 0x3F)
    payload.write(part0, 0, part0.length)
    i = 0
    while (i < nParts - 1) { // 3-byte little-endian partition sizes
      val sz = partBytes(i).length
      payload.write(sz & 0xFF)
      payload.write((sz >> 8) & 0xFF)
      payload.write((sz >> 16) & 0xFF)
      i += 1
    }
    i = 0
    while (i < nParts) { payload.write(partBytes(i), 0, partBytes(i).length); i += 1 }
    val pl = payload.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = {
      var j = 0; while (j < s.length) { out.write(s.charAt(j)); j += 1 }
    }
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    ascii("RIFF")
    le32(4 + 8 + pl.length + (pl.length & 1))
    ascii("WEBP")
    ascii("VP8 ")
    le32(pl.length)
    out.write(pl, 0, pl.length)
    if ((pl.length & 1) == 1) out.write(0)
    out.toByteArray
  }
}

/** Animated-WebP frame extraction with stride sampling — the fourth
  * frame-sampling container next to Y4M, MJPEG/AVI, and animated GIF:
  * walk the VP8X/ANIM/ANMF chunk sequence, and for every `stride`-th
  * frame decode the nested VP8 or VP8L payload through the SAME codecs
  * the still-image path uses (the nested chunk is re-wrapped in a bare
  * RIFF container, so both coded forms ride the existing decoders);
  * unsampled frames are skipped by their chunk length, never decoded.
  * Emits the [[AviMjpegFrames]] schema: canvas dims, frame count, and
  * per-sampled-frame RGB channel sums. Mixed frame dims are allowed
  * (ANMF frames may be sub-canvas rects); torn chunks or any frame the
  * codecs reject null the row.
  */
case class WebpAnimFrames(child: org.apache.spark.sql.catalyst.expressions.Expression,
    stride: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  require(stride > 0, s"stride must be positive, got $stride")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AviMjpegFrames.schema

  override def nullSafeEval(v: Any): Any =
    WebpAnimFrames.compute(v.asInstanceOf[Array[Byte]], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.WebpAnimFrames.compute($c, $stride)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}

object WebpAnimFrames {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val MaxFrames = 1 << 16
  private val CodecWebp = org.apache.spark.unsafe.types.UTF8String.fromString("webp")

  private def bad: InternalRow =
    new GenericInternalRow(Array[Any](null, null, null, null, null, null, null, null))
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** Re-wrap one nested frame chunk as a bare RIFF/WEBP file so the
    * still-image decoders handle either coded form.
    */
  private def wrap(tag: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = {
      var i = 0; while (i < s.length) { out.write(s.charAt(i)); i += 1 }
    }
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    ascii("RIFF"); le32(4 + 8 + body.length + (body.length & 1)); ascii("WEBP")
    ascii(tag); le32(body.length)
    out.write(body, 0, body.length)
    if ((body.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  def compute(b: Array[Byte], stride: Int): InternalRow = {
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'E' || b(10) != 'B' ||
        b(11) != 'P') return bad
    var canvasW = -1
    var canvasH = -1
    val idxs = new java.util.ArrayList[Integer]()
    val rs = new java.util.ArrayList[java.lang.Long]()
    val gs = new java.util.ArrayList[java.lang.Long]()
    val bs = new java.util.ArrayList[java.lang.Long]()
    var n = 0
    var i = 12
    while (i + 8 <= b.length) {
      val size = leU32(b, i + 4)
      val body = i + 8
      if (body + size > b.length) return bad
      if (b(i) == 'V' && b(i + 1) == 'P' && b(i + 2) == '8' && b(i + 3) == 'X'
          && size >= 10) {
        canvasW = 1 + (u8(b, body + 4) | (u8(b, body + 5) << 8) |
          (u8(b, body + 6) << 16))
        canvasH = 1 + (u8(b, body + 7) | (u8(b, body + 8) << 8) |
          (u8(b, body + 9) << 16))
      } else if (b(i) == 'A' && b(i + 1) == 'N' && b(i + 2) == 'M' &&
          b(i + 3) == 'F' && size >= 24) {
        if (n >= MaxFrames) return bad
        if (n % stride == 0) {
          // find the nested VP8 / VP8L chunk past the 16-byte ANMF header
          var j = body + 16
          val end = (body + size).toInt
          var decoded: InternalRow = null
          while (j + 8 <= end && decoded == null) {
            val sz2 = leU32(b, j + 4)
            if (j + 8 + sz2 > end) return bad
            val isL = b(j) == 'V' && b(j + 1) == 'P' && b(j + 2) == '8' &&
              b(j + 3) == 'L'
            val isV = b(j) == 'V' && b(j + 1) == 'P' && b(j + 2) == '8' &&
              b(j + 3) == ' '
            if (isL || isV) {
              val fb = java.util.Arrays.copyOfRange(b, j + 8, (j + 8 + sz2).toInt)
              decoded = ImageDecode.compute(wrap(if (isL) "VP8L" else "VP8 ", fb))
              if (decoded.isNullAt(1)) return bad
            } else {
              val nxt = j.toLong + 8 + sz2 + (sz2 & 1)
              if (nxt > Int.MaxValue) return bad
              j = nxt.toInt
            }
          }
          if (decoded == null) return bad
          val px = decoded.getBinary(4)
          var rr = 0L; var gg = 0L; var bb = 0L
          var p = 0
          while (p < px.length) {
            rr += px(p) & 0xFF; gg += px(p + 1) & 0xFF; bb += px(p + 2) & 0xFF
            p += 3
          }
          idxs.add(n); rs.add(rr); gs.add(gg); bs.add(bb)
        }
        n += 1
      }
      val next = i.toLong + 8 + size + (size & 1)
      if (next > Int.MaxValue) return bad
      i = next.toInt
    }
    if (n == 0 || idxs.isEmpty || canvasW < 0) return bad
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
    new GenericInternalRow(Array[Any](canvasW, canvasH, CodecWebp, n,
      new GenericArrayData(ia), new GenericArrayData(ra),
      new GenericArrayData(ga), new GenericArrayData(ba)))
  }
}

/** Fixture: an animated WebP whose frames are REAL lossy VP8 key frames
  * from [[Vp8Synth]] (frame f at seed `seed + 131·f`, the 16×16/Y2
  * shape), each wrapped in a proper ANMF header under VP8X/ANIM.
  */
object WebpAnimSynth {
  def webpAnimBytes(wL: Long, hL: Long, framesL: Long, seed: Long): Array[Byte] = {
    if (framesL < 1 || framesL > 64) return null
    val inner = new Array[Array[Byte]](framesL.toInt)
    var f = 0
    while (f < framesL) {
      val full = Vp8Synth.vp8Bytes(wL, hL, seed + 131L * f, mode = 1)
      if (full == null) return null
      val len = (full(16) & 0xFF) | ((full(17) & 0xFF) << 8) |
        ((full(18) & 0xFF) << 16) | ((full(19) & 0xFF) << 24)
      inner(f) = java.util.Arrays.copyOfRange(full, 20, 20 + len)
      f += 1
    }
    val w = wL.toInt; val h = hL.toInt
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = {
      var i = 0; while (i < s.length) { out.write(s.charAt(i)); i += 1 }
    }
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    def u24(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF); out.write((v >> 16) & 0xFF)
    }
    var total = 4 + (8 + 10) + (8 + 6)
    f = 0
    while (f < framesL) {
      total += 8 + 16 + 8 + inner(f).length + (inner(f).length & 1)
      f += 1
    }
    ascii("RIFF"); le32(total); ascii("WEBP")
    ascii("VP8X"); le32(10)
    out.write(0x02); out.write(0); out.write(0); out.write(0) // ANIM flag
    u24(w - 1); u24(h - 1)
    ascii("ANIM"); le32(6)
    le32(0); out.write(0); out.write(0) // bg color, loop count
    f = 0
    while (f < framesL) {
      val body = 16 + 8 + inner(f).length + (inner(f).length & 1)
      ascii("ANMF"); le32(body)
      u24(0); u24(0)       // frame x/2, y/2
      u24(w - 1); u24(h - 1)
      u24(40); out.write(0) // duration, flags
      ascii("VP8 "); le32(inner(f).length)
      out.write(inner(f), 0, inner(f).length)
      if ((inner(f).length & 1) == 1) out.write(0)
      f += 1
    }
    out.toByteArray
  }
}

/** Expression wrapping [[WebpAnimSynth.webpAnimBytes]]. */
case class SynthWebpAnim(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, fr: Any, seed: Any): Any =
    WebpAnimSynth.webpAnimBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      fr.asInstanceOf[Long], seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, fr, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WebpAnimSynth.webpAnimBytes($w, $h, $fr, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object WebpAnimFunctions {
  /** Column API: stride-sampled frame statistics from an animated WebP:
    * nested VP8/VP8L chunks decoded through the still-image codecs (see
    * [[WebpAnimFrames]]).
    */
  def webp_anim_frames(payload: Column, stride: Int): Column =
    ExpressionUtils.column(WebpAnimFrames(ExpressionUtils.expression(payload), stride))

  /** Column API: animated-WebP fixture of lossy VP8 key frames. */
  def synth_webp_anim(w: Column, h: Column, frames: Column, seed: Column): Column =
    ExpressionUtils.column(SynthWebpAnim(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(frames),
      ExpressionUtils.expression(seed)))
}
