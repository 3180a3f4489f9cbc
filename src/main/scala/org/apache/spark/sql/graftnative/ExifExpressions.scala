package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** EXIF orientation — the one metadata field a training-data image
  * pipeline MUST honor before any geometry-sensitive step (crops,
  * aspect filters, perceptual hashes all change under rotation).
  * [[ExifOrientation]] walks the JPEG marker stream to the APP1
  * `Exif\0\0` segment and reads tag 0x0112 from IFD0 through a real
  * mini-TIFF walk (both byte orders, inline SHORT slot layout);
  * [[RasterOrient]] applies the 1-8 value to a decoded raster — the
  * four flips and four transposes as exact index remaps (dims swap for
  * 5-8), so downstream NN resizes and hashes see the DISPLAYED image.
  * Orientation values outside 1-8, missing APP1, or torn segments
  * yield null / identity, never a guess.
  */
case class ExifOrientation(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = ExifOrientation.compute(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.intValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Integer graftExifO = org.apache.spark.sql.graftnative.ExifOrientation.compute($c);
      if (graftExifO == null) { ${ev.isNull} = true; }
      else { ${ev.value} = graftExifO.intValue(); }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ExifOrientation {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def u16(b: Array[Byte], i: Int, le: Boolean): Int =
    if (le) u8(b, i) | (u8(b, i + 1) << 8) else (u8(b, i) << 8) | u8(b, i + 1)
  private def u32(b: Array[Byte], i: Int, le: Boolean): Long =
    if (le) u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
    else (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong

  def compute(b: Array[Byte]): java.lang.Integer = {
    if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return null
    var i = 2
    while (i + 4 <= b.length) {
      if (u8(b, i) != 0xFF) return null
      // JPEG allows any number of 0xFF fill bytes before the marker
      // byte (ITU T.81 §B.1.1.2); skip them so a padded stream is not
      // misread as a marker with a bogus length.
      while (i + 4 <= b.length && u8(b, i + 1) == 0xFF) i += 1
      if (i + 4 > b.length) return null
      val marker = u8(b, i + 1)
      if (marker == 0xD9 || marker == 0xDA) return null // EOI / SOS: no EXIF
      val len = (u8(b, i + 2) << 8) | u8(b, i + 3)
      if (len < 2 || i + 2 + len > b.length) return null
      if (marker == 0xE1 && len >= 16 &&
          b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
          b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0) {
        val t = i + 10 // TIFF header start
        val end = i + 2 + len
        if (t + 8 > end) return null
        val le =
          if (b(t) == 'I' && b(t + 1) == 'I') true
          else if (b(t) == 'M' && b(t + 1) == 'M') false
          else return null
        if (u16(b, t + 2, le) != 42) return null
        val ifd = u32(b, t + 4, le)
        val io = t + ifd
        if (ifd < 8 || io + 2 > end) return null
        val n = u16(b, io.toInt, le)
        if (io + 2 + 12L * n > end) return null
        var e = 0
        while (e < n) {
          val off = (io + 2 + 12 * e).toInt
          if (u16(b, off, le) == 0x0112 && u16(b, off + 2, le) == 3 &&
              u32(b, off + 4, le) == 1) {
            val v = u16(b, off + 8, le)
            return if (v >= 1 && v <= 8) java.lang.Integer.valueOf(v) else null
          }
          e += 1
        }
        return null
      }
      i += 2 + len
    }
    null
  }
}

/** Apply an EXIF orientation (1-8) to a decoded raster: exact index
  * remaps — identity, horizontal/vertical flips, 180° rotation, and the
  * four transposed forms (dims swap). Null or out-of-range orientation
  * passes the raster through unchanged; an `'unknown'` raster passes
  * through too.
  */
case class RasterOrient(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == ImageDecode.schema &&
        right.dataType.isInstanceOf[IntegerType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"raster_orient expects (image_decode struct, int), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = ImageDecode.schema
  override def nullable: Boolean = left.nullable

  // A null orientation (no EXIF segment at all — the common case in a
  // web crawl) passes the raster through UNCHANGED, matching compute's
  // o <= 1 identity; the default null-propagating BinaryExpression
  // paths would instead null the raster and silently drop every
  // EXIF-less image from downstream resize/hash/dedup.
  override def eval(input: InternalRow): Any = {
    val r = left.eval(input)
    if (r == null) return null
    val o = right.eval(input)
    if (o == null) r
    else RasterOrient.compute(r.asInstanceOf[InternalRow], o.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    val code =
      code"""
        |${leftGen.code}
        |boolean ${ev.isNull} = ${leftGen.isNull};
        |$javaType ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${rightGen.code}
        |  if (${rightGen.isNull}) {
        |    ${ev.value} = ${leftGen.value};
        |  } else {
        |    ${ev.value} = org.apache.spark.sql.graftnative.RasterOrient.compute(
        |      ${leftGen.value}, ${rightGen.value});
        |  }
        |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object RasterOrient {
  /** Displayed pixel (x, y) of an oriented raster maps to stored
    * (sx, sy); orientations 5-8 swap the output dims.
    */
  def compute(r: InternalRow, o: Int): InternalRow = {
    if (r.isNullAt(1) || o <= 1 || o > 8) return r
    val w = r.getInt(1); val h = r.getInt(2); val ch = r.getInt(3)
    val px = r.getBinary(4)
    val swap = o >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Byte](px.length)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val sx = o match {
          case 2 => w - 1 - x
          case 3 => w - 1 - x
          case 4 => x
          case 5 => y
          case 6 => y
          case 7 => w - 1 - y
          case _ => w - 1 - y // 8
        }
        val sy = o match {
          case 2 => y
          case 3 => h - 1 - y
          case 4 => h - 1 - y
          case 5 => x
          case 6 => h - 1 - x
          case 7 => h - 1 - x
          case _ => x // 8
        }
        var c = 0
        while (c < ch) {
          out((y * ow + x) * ch + c) = px((sy * w + sx) * ch + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](r.getUTF8String(0), ow, oh, ch, out))
  }
}

/** Fixture: wrap a [[JpegSynth]] baseline JPEG with an APP1 Exif
  * segment carrying orientation `1 + (seed mod 8)` — inserted right
  * after SOI, exactly where cameras put it.
  */
object ExifSynth {
  def jpegWithExif(w: Long, h: Long, seed: Long, mode: Int): Array[Byte] = {
    val jpeg = JpegSynth.jpegBytes(w, h, seed, mode)
    if (jpeg == null) return null
    val o = 1 + java.lang.Math.floorMod(seed, 8).toInt
    // APP1: Exif\0\0 + II TIFF header + one-entry IFD0 (tag 0x0112)
    val tiff = new java.io.ByteArrayOutputStream()
    tiff.write('I'); tiff.write('I'); tiff.write(42); tiff.write(0)
    tiff.write(8); tiff.write(0); tiff.write(0); tiff.write(0)
    tiff.write(1); tiff.write(0) // one entry
    tiff.write(0x12); tiff.write(0x01) // tag 274
    tiff.write(3); tiff.write(0) // SHORT
    tiff.write(1); tiff.write(0); tiff.write(0); tiff.write(0)
    tiff.write(o); tiff.write(0); tiff.write(0); tiff.write(0)
    tiff.write(0); tiff.write(0); tiff.write(0); tiff.write(0) // next IFD
    val tb = tiff.toByteArray
    val segLen = 2 + 6 + tb.length
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpeg, 0, 2) // SOI
    out.write(0xFF); out.write(0xE1)
    out.write((segLen >> 8) & 0xFF); out.write(segLen & 0xFF)
    out.write('E'); out.write('x'); out.write('i'); out.write('f')
    out.write(0); out.write(0)
    out.write(tb, 0, tb.length)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }
}

/** Expression wrapping [[ExifSynth.jpegWithExif]]. */
case class SynthJpegExif(first: Expression, second: Expression,
    third: Expression, mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    ExifSynth.jpegWithExif(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.ExifSynth.jpegWithExif($w, $h, $s, $mode);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** EXIF metadata beyond orientation — the fields a multimodal corpus
  * join actually wants: camera make/model (IFD0 0x010F/0x0110),
  * DateTimeOriginal (Exif sub-IFD 0x9003 via the 0x8769 pointer), and
  * GPS latitude/longitude (GPS IFD via 0x8825; RATIONAL[3] deg/min/sec
  * with N/S/E/W refs, folded to signed decimal degrees). Both byte
  * orders; ASCII values inline or at offset per the 4-byte slot rule;
  * every missing tag yields a null FIELD, a missing/torn APP1 yields a
  * null STRUCT. Decimal degrees are computed in the fixed order
  * `deg + min/60.0 + sec/3600.0` so any system replaying that
  * expression reproduces the double bit-for-bit.
  */
case class ExifMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ExifMeta.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    ExifMeta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.ExifMeta.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ExifMeta {
  import org.apache.spark.unsafe.types.UTF8String

  val schema: StructType = StructType(Seq(
    StructField("make", StringType, nullable = true),
    StructField("model", StringType, nullable = true),
    StructField("datetime_original", StringType, nullable = true),
    StructField("orientation", IntegerType, nullable = true),
    StructField("gps_lat", DoubleType, nullable = true),
    StructField("gps_lon", DoubleType, nullable = true)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def u16(b: Array[Byte], i: Int, le: Boolean): Int =
    if (le) u8(b, i) | (u8(b, i + 1) << 8) else (u8(b, i) << 8) | u8(b, i + 1)
  private def u32(b: Array[Byte], i: Int, le: Boolean): Long =
    if (le) u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
    else (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong

  /** One parsed IFD entry: type, count, and the absolute position of
    * its 4-byte value slot.
    */
  private final class Ent(val typ: Int, val count: Long, val slot: Int)

  /** Parse the IFD at `t + off` (t = TIFF header start) into a tag map,
    * or null when torn. Bounds are against `end` (the APP1 segment
    * end).
    */
  private def ifd(b: Array[Byte], t: Int, off: Long, end: Int,
      le: Boolean): java.util.HashMap[Integer, Ent] = {
    if (off < 8) return null
    val io = t + off
    if (io + 2 > end) return null
    val n = u16(b, io.toInt, le)
    if (io + 2 + 12L * n > end) return null
    val m = new java.util.HashMap[Integer, Ent]()
    var e = 0
    while (e < n) {
      val eo = (io + 2 + 12 * e).toInt
      m.put(u16(b, eo, le), new Ent(u16(b, eo + 2, le), u32(b, eo + 4, le), eo + 8))
      e += 1
    }
    m
  }

  /** ASCII value (type 2): trailing NUL stripped; inline when it fits
    * the slot, else at the u32 offset from the TIFF header.
    */
  private def ascii(b: Array[Byte], t: Int, end: Int, le: Boolean,
      en: Ent): UTF8String = {
    if (en == null || en.typ != 2 || en.count < 1 || en.count > 256) return null
    val n = en.count.toInt
    val base = if (n <= 4) en.slot.toLong else t + u32(b, en.slot, le)
    if (base < 0 || base + n > end) return null
    var len = n
    while (len > 0 && b((base + len - 1).toInt) == 0) len -= 1
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, base.toInt,
      (base + len).toInt))
  }

  /** RATIONAL[3] (type 5) deg/min/sec folded to decimal degrees in the
    * pinned order `deg + min/60.0 + sec/3600.0`.
    */
  private def dms(b: Array[Byte], t: Int, end: Int, le: Boolean,
      en: Ent): java.lang.Double = {
    if (en == null || en.typ != 5 || en.count != 3) return null
    val base = t + u32(b, en.slot, le)
    if (base < 0 || base + 24 > end) return null
    val parts = new Array[Double](3)
    var i = 0
    while (i < 3) {
      val num = u32(b, (base + 8 * i).toInt, le)
      val den = u32(b, (base + 8 * i + 4).toInt, le)
      if (den == 0) return null
      parts(i) = num.toDouble / den.toDouble
      i += 1
    }
    java.lang.Double.valueOf(parts(0) + parts(1) / 60.0 + parts(2) / 3600.0)
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return null
    var i = 2
    while (i + 4 <= b.length) {
      if (u8(b, i) != 0xFF) return null
      while (i + 4 <= b.length && u8(b, i + 1) == 0xFF) i += 1
      if (i + 4 > b.length) return null
      val marker = u8(b, i + 1)
      if (marker == 0xD9 || marker == 0xDA) return null
      val len = (u8(b, i + 2) << 8) | u8(b, i + 3)
      if (len < 2 || i + 2 + len > b.length) return null
      if (marker == 0xE1 && len >= 16 &&
          b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
          b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0) {
        val t = i + 10
        val end = i + 2 + len
        if (t + 8 > end) return null
        val le =
          if (b(t) == 'I' && b(t + 1) == 'I') true
          else if (b(t) == 'M' && b(t + 1) == 'M') false
          else return null
        if (u16(b, t + 2, le) != 42) return null
        val ifd0 = ifd(b, t, u32(b, t + 4, le), end, le)
        if (ifd0 == null) return null
        val make = ascii(b, t, end, le, ifd0.get(0x010F))
        val model = ascii(b, t, end, le, ifd0.get(0x0110))
        var orient: Any = null
        val oe = ifd0.get(0x0112)
        if (oe != null && oe.typ == 3 && oe.count == 1) {
          val v = u16(b, oe.slot, le)
          if (v >= 1 && v <= 8) orient = v
        }
        var dto: UTF8String = null
        val ee = ifd0.get(0x8769)
        if (ee != null && ee.typ == 4 && ee.count == 1) {
          val sub = ifd(b, t, u32(b, ee.slot, le), end, le)
          if (sub != null) dto = ascii(b, t, end, le, sub.get(0x9003))
        }
        var lat: java.lang.Double = null
        var lon: java.lang.Double = null
        val ge = ifd0.get(0x8825)
        if (ge != null && ge.typ == 4 && ge.count == 1) {
          val gps = ifd(b, t, u32(b, ge.slot, le), end, le)
          if (gps != null) {
            val latRef = ascii(b, t, end, le, gps.get(0x0001))
            val lonRef = ascii(b, t, end, le, gps.get(0x0003))
            val latV = dms(b, t, end, le, gps.get(0x0002))
            val lonV = dms(b, t, end, le, gps.get(0x0004))
            if (latRef != null && latV != null) {
              val s = latRef.toString
              if (s == "N") lat = latV
              else if (s == "S") lat = -latV.doubleValue()
            }
            if (lonRef != null && lonV != null) {
              val s = lonRef.toString
              if (s == "E") lon = lonV
              else if (s == "W") lon = -lonV.doubleValue()
            }
          }
        }
        return new GenericInternalRow(Array[Any](make, model, dto, orient,
          if (lat == null) null else lat.doubleValue(),
          if (lon == null) null else lon.doubleValue()))
      }
      i += 2 + len
    }
    null
  }
}

/** Fixture: wrap a [[JpegSynth]] baseline JPEG with a FULL APP1 Exif
  * block — IFD0 (Make/Model/Orientation + Exif and GPS IFD pointers),
  * the Exif sub-IFD (DateTimeOriginal), and the GPS IFD (signed
  * deg/min/sec rationals) — in BOTH byte orders (even seed = `II`, odd
  * = `MM`, same logical content, so an endianness bug flips the hash).
  * Every field is a pure formula of `seed`, which is what the oracle
  * replays.
  */
object ExifMetaSynth {
  private def fm(a: Long, m: Long): Long = java.lang.Math.floorMod(a, m)

  def make(seed: Long): String = "CAM" + fm(seed, 5)
  def model(seed: Long): String = "MODEL" + fm(seed, 7)
  def datetime(seed: Long): String =
    f"${2000 + fm(seed, 26)}%04d:${1 + fm(seed, 12)}%02d:${1 + fm(seed, 28)}%02d " +
      f"${fm(seed, 24)}%02d:${fm(seed * 7, 60)}%02d:${fm(seed * 13, 60)}%02d"
  def latDeg(seed: Long): Long = fm(seed, 90)
  def latMin(seed: Long): Long = fm(seed * 3, 60)
  def latS100(seed: Long): Long = fm(seed * 37, 6000)
  def lonDeg(seed: Long): Long = fm(seed, 180)
  def lonMin(seed: Long): Long = fm(seed * 5, 60)
  def lonS100(seed: Long): Long = fm(seed * 41, 6000)
  def latSouth(seed: Long): Boolean = fm(seed, 2) == 1
  def lonWest(seed: Long): Boolean = fm(seed, 3) == 0
  def orientation(seed: Long): Int = 1 + fm(seed, 8).toInt

  def jpegWithMeta(w: Long, h: Long, seed: Long, mode: Int): Array[Byte] = {
    val jpeg = JpegSynth.jpegBytes(w, h, seed, mode)
    if (jpeg == null) return null
    val le = fm(seed, 2) == 0
    val tiff = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (le) { tiff.write(v & 0xFF); tiff.write((v >> 8) & 0xFF) }
      else { tiff.write((v >> 8) & 0xFF); tiff.write(v & 0xFF) }
    def w32(v: Long): Unit =
      if (le) {
        tiff.write((v & 0xFF).toInt); tiff.write(((v >> 8) & 0xFF).toInt)
        tiff.write(((v >> 16) & 0xFF).toInt); tiff.write(((v >> 24) & 0xFF).toInt)
      } else {
        tiff.write(((v >> 24) & 0xFF).toInt); tiff.write(((v >> 16) & 0xFF).toInt)
        tiff.write(((v >> 8) & 0xFF).toInt); tiff.write((v & 0xFF).toInt)
      }
    val mk = make(seed).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val md = model(seed).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val dt = datetime(seed).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    // layout (offsets from TIFF start): header 8 | IFD0 (5 entries) 66 |
    // make | model | exif IFD 18 | gps IFD 54 | datetime 20 | lat 24 | lon 24
    val ifd0At = 8L
    val makeAt = ifd0At + 2 + 12 * 5 + 4
    val modelAt = makeAt + mk.length + 1
    val exifAt = modelAt + md.length + 1
    val gpsAt = exifAt + 2 + 12 + 4
    val dtAt = gpsAt + 2 + 12 * 4 + 4
    val latAt = dtAt + dt.length + 1
    val lonAt = latAt + 24
    // TIFF header
    if (le) { tiff.write('I'); tiff.write('I') } else { tiff.write('M'); tiff.write('M') }
    w16(42); w32(ifd0At)
    def entry(tag: Int, typ: Int, count: Long)(slot: => Unit): Unit = {
      w16(tag); w16(typ); w32(count); slot
    }
    def inlineShort(v: Int): Unit = { w16(v); w16(0) }
    def inlineAscii2(c: Char): Unit = {
      tiff.write(c); tiff.write(0); tiff.write(0); tiff.write(0)
    }
    // IFD0: tags ascending
    w16(5)
    entry(0x010F, 2, mk.length + 1)(w32(makeAt))
    entry(0x0110, 2, md.length + 1)(w32(modelAt))
    entry(0x0112, 3, 1)(inlineShort(orientation(seed)))
    entry(0x8769, 4, 1)(w32(exifAt))
    entry(0x8825, 4, 1)(w32(gpsAt))
    w32(0)
    tiff.write(mk, 0, mk.length); tiff.write(0)
    tiff.write(md, 0, md.length); tiff.write(0)
    // Exif sub-IFD: DateTimeOriginal
    w16(1)
    entry(0x9003, 2, dt.length + 1)(w32(dtAt))
    w32(0)
    // GPS IFD
    w16(4)
    entry(0x0001, 2, 2)(inlineAscii2(if (latSouth(seed)) 'S' else 'N'))
    entry(0x0002, 5, 3)(w32(latAt))
    entry(0x0003, 2, 2)(inlineAscii2(if (lonWest(seed)) 'W' else 'E'))
    entry(0x0004, 5, 3)(w32(lonAt))
    w32(0)
    tiff.write(dt, 0, dt.length); tiff.write(0)
    w32(latDeg(seed)); w32(1); w32(latMin(seed)); w32(1); w32(latS100(seed)); w32(100)
    w32(lonDeg(seed)); w32(1); w32(lonMin(seed)); w32(1); w32(lonS100(seed)); w32(100)
    val tb = tiff.toByteArray
    val segLen = 2 + 6 + tb.length
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpeg, 0, 2)
    out.write(0xFF); out.write(0xE1)
    out.write((segLen >> 8) & 0xFF); out.write(segLen & 0xFF)
    out.write('E'); out.write('x'); out.write('i'); out.write('f')
    out.write(0); out.write(0)
    out.write(tb, 0, tb.length)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }
}

/** Expression wrapping [[ExifMetaSynth.jpegWithMeta]]. */
case class SynthJpegExifMeta(first: Expression, second: Expression,
    third: Expression, mode: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, seed: Any): Any =
    ExifMetaSynth.jpegWithMeta(w.asInstanceOf[Long], h.asInstanceOf[Long],
      seed.asInstanceOf[Long], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.ExifMetaSynth.jpegWithMeta($w, $h, $s, $mode);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ExifFunctions {
  /** Column API: EXIF orientation (1-8) from a JPEG's APP1 segment; null
    * when absent (see [[ExifOrientation]]).
    */
  def exif_orientation(payload: Column): Column =
    ExpressionUtils.column(ExifOrientation(ExpressionUtils.expression(payload)))

  /** Column API: EXIF metadata struct (make/model/datetime_original/
    * orientation/gps_lat/gps_lon) from a JPEG's APP1 segment (see
    * [[ExifMeta]]).
    */
  def exif_meta(payload: Column): Column =
    ExpressionUtils.column(ExifMeta(ExpressionUtils.expression(payload)))

  /** Column API: baseline JPEG fixture with a full APP1 Exif block (IFD0 +
    * Exif sub-IFD + GPS IFD, both byte orders by seed parity) (see
    * [[ExifMetaSynth]]).
    */
  def synth_jpeg_exif_meta(w: Column, h: Column, seed: Column, mode: Int): Column =
    ExpressionUtils.column(SynthJpegExifMeta(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), mode))

  /** Column API: apply an EXIF orientation to a decoded raster: exact flip
    * / rotation index remaps, dims swap for 5-8 (see [[RasterOrient]]).
    */
  def raster_orient(raster: Column, orientation: Column): Column =
    ExpressionUtils.column(RasterOrient(ExpressionUtils.expression(raster),
      ExpressionUtils.expression(orientation)))

  /** Column API: baseline JPEG fixture wrapped with an APP1 Exif segment
    * carrying orientation `1 + (seed mod 8)` (see [[ExifSynth]]).
    */
  def synth_jpeg_exif(w: Column, h: Column, seed: Column, mode: Int): Column =
    ExpressionUtils.column(SynthJpegExif(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(seed), mode))
}
