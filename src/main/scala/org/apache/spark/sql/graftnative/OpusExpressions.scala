package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ogg Opus PACKET inventory (RFC 7845 container framing + RFC 6716
  * §3.1-3.2 packet structure) — the level of Opus a corpus pipeline
  * can extract with certainty and zero codec state: per audio packet,
  * the TOC byte's configuration (coding mode, audio bandwidth, frame
  * duration), the stereo flag, and the frame count through ALL FOUR
  * frame-count codes (0: one frame; 1: two CBR; 2: two VBR; 3: the
  * count byte's M frames with VBR/padding flags), validated against
  * the spec's 120 ms packet-duration ceiling (code 3 with M·duration
  * over the ceiling is invalid per §3.2.5 and rejects). Headers are
  * the real RFC 7845 shapes: OpusHead (version gate, channel count,
  * pre-skip, input rate, mapping family 0) and OpusTags (skipped by
  * structure). Pages ride the same CRC-verified Ogg walk as Vorbis.
  *
  * Honest scope, stated precisely: this is the packet LATTICE, not
  * PCM — full SILK/CELT decode (range coder, LPC/LTP synthesis, MDCT
  * folding) is out of scope for this engine; the inventory is what
  * dataset curation needs (duration accounting, mode/bandwidth
  * stratification, corrupt-stream rejection) before any fetch-side
  * decode. `n_samples48` is the 48 kHz sample count the frame
  * durations declare — exact, since every legal Opus duration is a
  * multiple of 2.5 ms ( = 120 samples at 48 kHz).
  */
case class OpusPackets(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = OpusPackets.schema

  override def nullSafeEval(v: Any): Any =
    OpusPackets.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.OpusPackets.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OpusPackets {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = true),
    StructField("pre_skip", IntegerType, nullable = true),
    StructField("input_rate", LongType, nullable = true),
    StructField("packets", ArrayType(StructType(Seq(
      StructField("config", IntegerType, nullable = false),
      StructField("mode", StringType, nullable = false),
      StructField("bandwidth", StringType, nullable = false),
      StructField("stereo", BooleanType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_ms_x10", IntegerType, nullable = false),
      StructField("n_samples48", IntegerType, nullable = false))),
      containsNull = false), nullable = true)))

  private val FmtOpus = UTF8String.fromString("opus")
  private val FmtUnknown = UTF8String.fromString("unknown")
  private val ModeSilk = UTF8String.fromString("silk")
  private val ModeHybrid = UTF8String.fromString("hybrid")
  private val ModeCelt = UTF8String.fromString("celt")
  private val Bw = Array("nb", "mb", "wb", "swb", "fb").map(UTF8String.fromString)

  private def unknown: InternalRow =
    new GenericInternalRow(Array[Any](FmtUnknown, null, null, null, null))

  /** RFC 6716 Table 2: frame duration in tenths of a millisecond. */
  private[graftnative] def frameMsX10(config: Int): Int =
    if (config < 12) Array(100, 200, 400, 600)(config % 4) // SILK
    else if (config < 16) Array(100, 200)(config % 2) // Hybrid
    else Array(25, 50, 100, 200)(config % 4) // CELT

  /** RFC 6716 Table 2: bandwidth index into nb/mb/wb/swb/fb. */
  private[graftnative] def bandwidthIdx(config: Int): Int =
    if (config < 12) config / 4 // SILK: NB/MB/WB
    else if (config < 16) 3 + (config - 12) / 2 // Hybrid: SWB/FB
    else Array(0, 2, 3, 4)((config - 16) / 4) // CELT: NB/WB/SWB/FB

  private def mode(config: Int): UTF8String =
    if (config < 12) ModeSilk else if (config < 16) ModeHybrid else ModeCelt

  private def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)

  private def isMagic(p: Array[Byte], m: String): Boolean = {
    if (p.length < m.length) return false
    var i = 0
    while (i < m.length) {
      if (p(i) != m.charAt(i)) return false
      i += 1
    }
    true
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 47) return unknown
    val packets = VorbisCodec.oggPackets(b)
    if (packets == null || packets.length < 2) return unknown
    // OpusHead (RFC 7845 §5.1)
    val head = packets(0)
    if (!isMagic(head, "OpusHead") || head.length < 19) return unknown
    if ((head(8) & 0xF0) != 0) return unknown // major version must be 0
    val channels = head(9) & 0xFF
    if (channels < 1) return unknown
    val preSkip = leU16(head, 10)
    val inputRate = leU32(head, 12)
    val mappingFamily = head(18) & 0xFF
    // family 0: mono/stereo, no mapping table; others carry one we
    // don't need for the packet lattice but must bounds-check
    if (mappingFamily == 0 && channels > 2) return unknown
    if (!isMagic(packets(1), "OpusTags")) return unknown
    val out = new java.util.ArrayList[InternalRow]()
    var pi = 2
    while (pi < packets.length) {
      val p = packets(pi)
      if (p.length < 1) return unknown // empty audio packet is invalid
      val toc = p(0) & 0xFF
      val config = toc >> 3
      val stereo = (toc & 4) != 0
      val code = toc & 3
      val msX10 = frameMsX10(config)
      val nFrames = code match {
        case 0 => 1
        case 1 | 2 =>
          if (p.length < (if (code == 2) 2 else 1)) return unknown
          2
        case _ =>
          if (p.length < 2) return unknown
          val m = p(1) & 0x3F
          if (m < 1) return unknown
          m
      }
      // §3.2.5: a packet must not exceed 120 ms of audio
      if (nFrames * msX10 > 1200) return unknown
      out.add(new GenericInternalRow(Array[Any](config, mode(config),
        Bw(bandwidthIdx(config)), stereo, nFrames, msX10,
        nFrames * msX10 * 48 / 10)))
      pi += 1
    }
    if (out.isEmpty) return unknown
    val arr = new Array[Any](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    new GenericInternalRow(Array[Any](FmtOpus, channels, preSkip,
      inputRate, new GenericArrayData(arr)))
  }
}

/** Fixture ENCODER for [[OpusPackets]]: a valid Ogg Opus stream whose
  * packet lattice is pure seed formulas — real OpusHead/OpusTags
  * headers and `2 + doc mod 4` audio packets where packet p carries
  * `config = (doc + 5·p) mod 32`, `stereo = doc mod 2`, and frame-count
  * code `p mod 4` (code 3's count byte holds `1 + p mod 2` frames with
  * the VBR flag at `p mod 2`) — every combination legal under the
  * 120 ms ceiling by construction. Payload bytes beyond the TOC/count
  * are deterministic filler the inventory must NOT read.
  */
object OpusSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nPackets(doc: Long): Int = 2 + fm(doc, 4)
  def config(doc: Long, p: Int): Int = fm(doc + 5 * p, 32)
  def stereo(doc: Long): Boolean = fm(doc, 2) == 1
  def code(p: Int): Int = p % 4
  def nFrames(doc: Long, p: Int): Int = code(p) match {
    case 0 => 1
    case 1 | 2 => 2
    case _ => 1 + p % 2
  }

  def oggOpusBytes(doc: Long): Array[Byte] = {
    if (doc < 0) return null
    val serial = 91
    val out = new java.io.ByteArrayOutputStream()
    def add(p: Array[Byte]): Unit = out.write(p, 0, p.length)
    val head = new java.io.ByteArrayOutputStream()
    "OpusHead".foreach(c => head.write(c))
    head.write(1) // version
    head.write(1 + fm(doc, 2)) // channels
    head.write(0x38); head.write(1) // pre-skip 312 LE
    head.write(0x80); head.write(0xBB); head.write(0); head.write(0) // 48000
    head.write(0); head.write(0) // output gain
    head.write(0) // mapping family 0
    add(OggSynth.page(2, 0, serial, 0, head.toByteArray))
    val tags = new java.io.ByteArrayOutputStream()
    "OpusTags".foreach(c => tags.write(c))
    tags.write(5); tags.write(0); tags.write(0); tags.write(0)
    "graft".foreach(c => tags.write(c))
    tags.write(0); tags.write(0); tags.write(0); tags.write(0) // 0 comments
    add(OggSynth.page(0, 0, serial, 1, tags.toByteArray))
    val n = nPackets(doc)
    var p = 0
    var granule = 312L
    while (p < n) {
      val body = new java.io.ByteArrayOutputStream()
      val cfg = config(doc, p)
      body.write((cfg << 3) | (if (stereo(doc)) 4 else 0) | code(p))
      if (code(p) == 3)
        body.write(((p % 2) << 7) | nFrames(doc, p)) // VBR flag + M
      // opaque filler the inventory must not interpret
      var k = 0
      while (k < 3 + fm(doc + p, 5)) { body.write(fm(doc * 7 + k, 256)); k += 1 }
      granule += OpusPackets.frameMsX10(cfg).toLong * nFrames(doc, p) * 48 / 10
      add(OggSynth.page(if (p == n - 1) 4 else 0, granule, serial, 2 + p,
        body.toByteArray))
      p += 1
    }
    out.toByteArray
  }
}

/** Expression wrapping [[OpusSynth.oggOpusBytes]]. */
case class SynthOggOpus(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    OpusSynth.oggOpusBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.OpusSynth.oggOpusBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OpusFunctions {
  /** Column API: Ogg Opus packet inventory (RFC 7845 framing + RFC 6716
    * TOC).
    */
  def opus_packets(payload: Column): Column =
    ExpressionUtils.column(OpusPackets(ExpressionUtils.expression(payload)))

  /** Column API: formula-lattice Ogg Opus fixture from a doc seed. */
  def synth_ogg_opus(doc: Column): Column =
    ExpressionUtils.column(SynthOggOpus(ExpressionUtils.expression(doc)))
}
