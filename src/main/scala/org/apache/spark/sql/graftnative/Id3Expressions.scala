package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ID3v2 text-frame extraction — the audio-side [[ExifMeta]]: the tag
  * fields a multimodal corpus join consumes (title TIT2, artist TPE1,
  * album TALB, year TYER/TDRC) from the ID3v2.3 and ID3v2.4 layouts a
  * web crawl actually carries. The real structural differences are on
  * the parse path: v2.3 frames declare PLAIN u32 sizes while v2.4
  * declares SYNCSAFE ones (a decoder mixing them up walks off-frame
  * and rejects), and text payloads carry a per-frame encoding byte —
  * ISO-8859-1 (0), UTF-16 with BOM in either endianness (1), and
  * UTF-8 (3, v2.4) are decoded; UTF-16BE-without-BOM (2) yields a
  * null FIELD. Unsynchronisation, extended headers, and
  * compressed/encrypted frames reject the whole tag honestly (never
  * guess at transformed payloads); a missing tag yields a null
  * STRUCT, a missing frame a null field. Trailing NULs are stripped
  * per spec. Padding (a zero where a frame ID should start) ends the
  * walk.
  */
case class Id3Meta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = Id3Meta.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    Id3Meta.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Id3Meta.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Id3Meta {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("album", StringType, nullable = true),
    StructField("year", StringType, nullable = true)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def syncsafe(b: Array[Byte], i: Int): Int = {
    var v = 0
    var k = 0
    while (k < 4) {
      val s = u8(b, i + k)
      if ((s & 0x80) != 0) return -1
      v = (v << 7) | s
      k += 1
    }
    v
  }

  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong

  /** Decode one text payload (leading encoding byte + text). */
  private def text(b: Array[Byte], from: Int, len: Int): UTF8String = {
    if (len < 1) return null
    val enc = u8(b, from)
    var s: String = null
    enc match {
      case 0 => // ISO-8859-1: bytes are code points
        s = new String(b, from + 1, len - 1,
          java.nio.charset.StandardCharsets.ISO_8859_1)
      case 1 => // UTF-16 with BOM
        if (len < 3) return null
        val b0 = u8(b, from + 1); val b1 = u8(b, from + 2)
        val cs =
          if (b0 == 0xFF && b1 == 0xFE) java.nio.charset.StandardCharsets.UTF_16LE
          else if (b0 == 0xFE && b1 == 0xFF) java.nio.charset.StandardCharsets.UTF_16BE
          else return null
        s = new String(b, from + 3, len - 3, cs)
      case 3 => // UTF-8 (v2.4)
        s = new String(b, from + 1, len - 1,
          java.nio.charset.StandardCharsets.UTF_8)
      case _ => return null // UTF-16BE-without-BOM (2) or invalid
    }
    while (s.nonEmpty && s.charAt(s.length - 1) == '\u0000')
      s = s.substring(0, s.length - 1)
    UTF8String.fromString(s)
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3') return null
    val major = u8(b, 3)
    if (major != 3 && major != 4) return null
    val flags = u8(b, 5)
    // unsynchronisation / extended header / experimental: out of scope,
    // reject rather than mis-walk transformed payloads
    if ((flags & 0xE0) != 0) return null
    val size = syncsafe(b, 6)
    if (size < 0 || 10 + size > b.length) return null
    val end = 10 + size
    var i = 10
    var title: UTF8String = null
    var artist: UTF8String = null
    var album: UTF8String = null
    var year: UTF8String = null
    var walking = true
    while (walking && i + 10 <= end) {
      if (b(i) == 0) {
        walking = false // padding
      } else {
        val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (!id.forall(ch => (ch >= 'A' && ch <= 'Z') || (ch >= '0' && ch <= '9')))
          return null
        val fsz =
          if (major == 4) syncsafe(b, i + 4)
          else {
            val v = beU32(b, i + 4)
            if (v > Int.MaxValue) -1 else v.toInt
          }
        if (fsz < 0 || i + 10 + fsz > end) return null
        val f2 = u8(b, i + 9)
        // compression / encryption / unsynchronised frame: reject
        if (major == 3 && (f2 & 0xC0) != 0) return null
        if (major == 4 && (f2 & 0x0E) != 0) return null
        id match {
          case "TIT2" => title = text(b, i + 10, fsz)
          case "TPE1" => artist = text(b, i + 10, fsz)
          case "TALB" => album = text(b, i + 10, fsz)
          case "TYER" if major == 3 => year = text(b, i + 10, fsz)
          case "TDRC" if major == 4 =>
            val t = text(b, i + 10, fsz)
            // TDRC is a timestamp; the year is its first four chars
            if (t != null) {
              val s = t.toString
              year = UTF8String.fromString(s.substring(0, math.min(4, s.length)))
            }
          case _ => // skip
        }
        i += 10 + fsz
      }
    }
    new GenericInternalRow(Array[Any](major, title, artist, album, year))
  }
}

/** Fixture: an ID3v2 tag (v2.3 on even seeds — plain u32 frame sizes,
  * ISO-8859-1 title/album, UTF-16-with-BOM artist alternating both
  * endiannesses, TYER — v2.4 on odd seeds — syncsafe frame sizes,
  * UTF-8 text, TDRC timestamp) prepended to a real [[Mp3PcmSynth]]
  * Layer III stream, with trailing padding so the padding stop is on
  * the walk. Every field is a formula of the seed (what the oracle
  * replays).
  */
object Id3Synth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def title(seed: Long): String = "TITLE" + fm(seed, 9)
  def artist(seed: Long): String = "ARTIST" + fm(seed, 7)
  def album(seed: Long): String = "ALBUM" + fm(seed, 5)
  def year(seed: Long): Int = 1990 + fm(seed, 30)
  def v24(seed: Long): Boolean = fm(seed, 2) == 1

  def mp3WithId3(seed: Long): Array[Byte] = {
    if (seed < 0) return null
    val mp3 = Mp3PcmSynth.mp3Bytes(seed)
    if (mp3 == null) return null
    val is24 = v24(seed)
    val frames = new java.io.ByteArrayOutputStream()
    def frame(id: String, payload: Array[Byte]): Unit = {
      frames.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
      val sz = payload.length
      if (is24) {
        frames.write((sz >> 21) & 0x7F); frames.write((sz >> 14) & 0x7F)
        frames.write((sz >> 7) & 0x7F); frames.write(sz & 0x7F)
      } else {
        frames.write((sz >> 24) & 0xFF); frames.write((sz >> 16) & 0xFF)
        frames.write((sz >> 8) & 0xFF); frames.write(sz & 0xFF)
      }
      frames.write(0); frames.write(0) // frame flags
      frames.write(payload, 0, payload.length)
    }
    def latin1(s: String): Array[Byte] =
      (0.toByte +: s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) :+ 0.toByte
    def utf8(s: String): Array[Byte] =
      (3.toByte +: s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) :+ 0.toByte
    def utf16(s: String, le: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(1)
      if (le) { out.write(0xFF); out.write(0xFE) } else { out.write(0xFE); out.write(0xFF) }
      val cs = if (le) java.nio.charset.StandardCharsets.UTF_16LE
        else java.nio.charset.StandardCharsets.UTF_16BE
      val tb = s.getBytes(cs)
      out.write(tb, 0, tb.length)
      out.toByteArray
    }
    if (is24) {
      frame("TIT2", utf8(title(seed)))
      frame("TPE1", utf8(artist(seed)))
      frame("TALB", utf8(album(seed)))
      frame("TDRC", utf8(year(seed) + "-01-01"))
    } else {
      frame("TIT2", latin1(title(seed)))
      frame("TPE1", utf16(artist(seed), le = fm(seed, 4) == 0))
      frame("TALB", latin1(album(seed)))
      frame("TYER", latin1(year(seed).toString))
    }
    val fb = frames.toByteArray
    val padding = 16 + fm(seed, 16)
    val size = fb.length + padding
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('D'); out.write('3')
    out.write(if (is24) 4 else 3); out.write(0); out.write(0)
    out.write((size >> 21) & 0x7F); out.write((size >> 14) & 0x7F)
    out.write((size >> 7) & 0x7F); out.write(size & 0x7F)
    out.write(fb, 0, fb.length)
    var k = 0
    while (k < padding) { out.write(0); k += 1 }
    out.write(mp3, 0, mp3.length)
    out.toByteArray
  }
}

/** Expression wrapping [[Id3Synth.mp3WithId3]]. */
case class SynthMp3Id3(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    Id3Synth.mp3WithId3(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Id3Synth.mp3WithId3($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Id3Functions {
  /** Column API: ID3v2 text-frame metadata (title/artist/album/year, v2.3
    * + v2.4) (see [[Id3Meta]]).
    */
  def id3_meta(payload: Column): Column =
    ExpressionUtils.column(Id3Meta(ExpressionUtils.expression(payload)))

  /** Column API: ID3v2-tagged Layer III fixture from a doc seed (see
    * [[Id3Synth]]).
    */
  def synth_mp3_id3(doc: Column): Column =
    ExpressionUtils.column(SynthMp3Id3(ExpressionUtils.expression(doc)))
}
