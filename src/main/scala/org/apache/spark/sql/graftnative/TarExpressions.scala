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

/** TAR member extraction — the WebDataset shard shape large multimodal
  * training corpora actually ship in (a tar of `{key}.{ext}` files,
  * consumed sequentially at PB scale precisely because tar needs no
  * central index). The walk is the real POSIX ustar layout plus the
  * two extension families present in practice:
  *
  *  - 512-byte headers with the CHECKSUM VERIFIED (unsigned byte sum
  *    with the checksum field blanked — verify-not-skip, the Ogg/gzip
  *    stance), octal numeric fields (NUL/space terminated) AND GNU
  *    base-256 size encoding (high bit set — files past the 8 GiB
  *    octal ceiling), `prefix` + `name` joining, payloads padded to
  *    block boundaries, and the two-zero-block terminator (a tar that
  *    just stops mid-archive rejects).
  *  - GNU long names: a type-`L` pseudo-member carries the next
  *    member's full name as its payload.
  *  - PAX extended headers: type-`x` records (`len key=value\n`)
  *    override the NEXT member's `path` and `size`; type-`g` globals
  *    are skipped by structure (metadata only — a disclosed bound).
  *
  * Output is the fetch layer's view: per member `(name, typeflag,
  * offset, size)` byte ranges into the shard, so a 100 TB pipeline can
  * pull one sample's files without streaming the whole tar. Pure
  * per-row parse, zero shuffle until the caller explodes members; the
  * WebDataset PAIRING (group members into `{key}.{ext}` samples) is a
  * downstream groupBy the paired key gates.
  */
case class TarMembers(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = TarMembers.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    TarMembers.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.TarMembers.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TarMembers {
  val schema: StructType = StructType(Seq(
    StructField("n_members", IntegerType, nullable = false),
    StructField("members", ArrayType(StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("typeflag", StringType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("size", LongType, nullable = false))),
      containsNull = false), nullable = false)))

  private val MaxMembers = 1 << 16

  /** Octal or GNU base-256 numeric field; -1 on garbage. */
  private def numeric(b: Array[Byte], off: Int, len: Int): Long = {
    if ((b(off) & 0x80) != 0) {
      // base-256: big-endian with the top bit of the first byte masked
      var v = (b(off) & 0x7F).toLong
      var i = 1
      while (i < len) {
        if (v > (Long.MaxValue >> 8)) return -1
        v = (v << 8) | (b(off + i) & 0xFF)
        i += 1
      }
      v
    } else {
      var i = off
      val end = off + len
      while (i < end && (b(i) == ' ' || b(i) == '0')) i += 1
      var v = 0L
      while (i < end && b(i) != 0 && b(i) != ' ') {
        if (b(i) < '0' || b(i) > '7') return -1
        v = v * 8 + (b(i) - '0')
        if (v < 0) return -1
        i += 1
      }
      v
    }
  }

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && b(end) != 0) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def zeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = off
    while (i < off + 512) {
      if (b(i) != 0) return false
      i += 1
    }
    true
  }

  private def checksumOk(b: Array[Byte], off: Int): Boolean = {
    val stored = numeric(b, off + 148, 8)
    if (stored < 0) return false
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else b(off + i) & 0xFF)
      i += 1
    }
    sum == stored
  }

  /** Parse one PAX record block: `path` and `size` overrides. */
  private def paxOverrides(data: Array[Byte]): (String, Long) = {
    var path: String = null
    var size = -1L
    var i = 0
    while (i < data.length) {
      var j = i
      while (j < data.length && data(j) != ' ') j += 1
      if (j >= data.length) return null
      val lenStr = new String(data, i, j - i,
        java.nio.charset.StandardCharsets.US_ASCII)
      val recLen = lenStr.toIntOption.getOrElse(return null)
      if (recLen < j - i + 2 || i + recLen > data.length ||
        data(i + recLen - 1) != '\n') return null
      val kv = new String(data, j + 1, i + recLen - 1 - (j + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = kv.indexOf('=')
      if (eq < 0) return null
      kv.substring(0, eq) match {
        case "path" => path = kv.substring(eq + 1)
        case "size" =>
          size = kv.substring(eq + 1).toLongOption.getOrElse(return null)
        case _ => // other keys: metadata we don't surface
      }
      i += recLen
    }
    (path, size)
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b.length < 1024 || b.length % 512 != 0) return null
    val members = new java.util.ArrayList[InternalRow]()
    var off = 0L
    var pendingName: String = null
    var paxName: String = null
    var paxSize = -1L
    var terminated = false
    while (!terminated) {
      if (off + 1024 > b.length) return null // no room for the terminator
      if (zeroBlock(b, off.toInt)) {
        if (!zeroBlock(b, off.toInt + 512)) return null
        terminated = true
      } else {
        // ustar magic: "ustar\0" (POSIX) or "ustar " (old GNU)
        val ho = off.toInt
        if (!(b(ho + 257) == 'u' && b(ho + 258) == 's' &&
          b(ho + 259) == 't' && b(ho + 260) == 'a' &&
          b(ho + 261) == 'r')) return null
        if (!checksumOk(b, ho)) return null
        val rawSize = numeric(b, ho + 124, 12)
        if (rawSize < 0) return null
        val typeflag = (b(ho + 156) & 0xFF).toChar
        val padded = ((rawSize + 511) / 512) * 512
        if (off + 512 + padded > b.length) return null
        typeflag match {
          case 'L' => // GNU long name: payload names the NEXT member
            if (rawSize < 1 || rawSize > 4096) return null
            var end = ho + 512 + rawSize.toInt
            while (end > ho + 512 && b(end - 1) == 0) end -= 1
            pendingName = new String(b, ho + 512, end - (ho + 512),
              java.nio.charset.StandardCharsets.UTF_8)
          case 'x' => // PAX: overrides for the NEXT member
            if (rawSize > 65536) return null
            val ov = paxOverrides(
              java.util.Arrays.copyOfRange(b, ho + 512,
                ho + 512 + rawSize.toInt))
            if (ov == null) return null
            paxName = ov._1
            paxSize = ov._2
          case 'g' => // PAX global: skipped by structure
          case _ =>
            val baseName = {
              val prefix = str(b, ho + 345, 155)
              val n = str(b, ho, 100)
              if (prefix.nonEmpty) prefix + "/" + n else n
            }
            val name =
              if (paxName != null) paxName
              else if (pendingName != null) pendingName
              else baseName
            val size = if (paxSize >= 0) paxSize else rawSize
            // a PAX size override re-derives the padded payload span
            val span = ((size + 511) / 512) * 512
            if (off + 512 + span > b.length) return null
            if (name.isEmpty) return null
            members.add(new GenericInternalRow(Array[Any](
              UTF8String.fromString(name),
              UTF8String.fromString(typeflag.toString),
              off + 512, size)))
            if (members.size() > MaxMembers) return null
            pendingName = null
            paxName = null
            paxSize = -1L
            off += span - padded // adjust below uses `padded`
        }
        off += 512 + padded
      }
    }
    val arr = new Array[Any](members.size())
    var k = 0
    while (k < arr.length) { arr(k) = members.get(k); k += 1 }
    new GenericInternalRow(Array[Any](members.size(),
      new GenericArrayData(arr)))
  }
}

/** Fixture ENCODER for [[TarMembers]]: a WebDataset-style shard of
  * `2 + doc mod 3` samples, each a `{key}.jpg` + `{key}.json` pair
  * with formula sizes, checksummed ustar headers, and the extension
  * rotation on the hash: `doc mod 4 == 1` routes the first member's
  * (115-char) name through a GNU type-`L` pseudo-member; `doc mod 4
  * == 2` overrides it with a PAX `path` record; `doc mod 5 == 0`
  * encodes the first member's size in GNU base-256.
  */
object TarSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nSamples(doc: Long): Int = 2 + fm(doc, 3)
  def jpgSize(doc: Long, i: Int): Long = 100 + fm(doc * 7 + i * 13, 900)
  def jsonSize(doc: Long, i: Int): Long = 40 + fm(doc + i, 50)
  def sampleKey(doc: Long, i: Int): String = s"s${doc}_$i"
  def longDir(doc: Long): String =
    "shard/" + ("x" * 90) + s"/d$doc" // pushes the name past 100 chars

  /** The name both engines must agree on for member (i, ext). */
  def memberName(doc: Long, i: Int, ext: String): String = {
    val base = s"${sampleKey(doc, i)}.$ext"
    if (i == 0 && ext == "jpg") {
      if (fm(doc, 4) == 1) longDir(doc) + "/" + base
      else if (fm(doc, 4) == 2) s"pax/dir/$base"
      else base
    } else base
  }

  private def header(name: String, size: Long, typeflag: Char,
      base256: Boolean): Array[Byte] = {
    val h = new Array[Byte](512)
    val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nb.length <= 100, s"fixture header name too long: $name")
    System.arraycopy(nb, 0, h, 0, nb.length)
    def octal(off: Int, len: Int, v: Long): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val padded = ("0" * (len - 1 - s.length)) + s
      var i = 0
      while (i < padded.length) { h(off + i) = padded.charAt(i).toByte; i += 1 }
      h(off + len - 1) = 0
    }
    octal(100, 8, 420) // mode 0644
    octal(108, 8, 0); octal(116, 8, 0) // uid gid
    if (base256) {
      h(124) = 0x80.toByte
      var v = size
      var i = 11
      while (i >= 1) { h(124 + i) = (v & 0xFF).toByte; v >>= 8; i -= 1 }
    } else octal(124, 12, size)
    octal(136, 12, 0) // mtime
    h(156) = typeflag.toByte
    h(257) = 'u'; h(258) = 's'; h(259) = 't'; h(260) = 'a'; h(261) = 'r'
    h(262) = 0; h(263) = '0'; h(264) = '0'
    // checksum: spaces while summing, then the octal value + NUL + space
    var i = 148
    while (i < 156) { h(i) = ' '; i += 1 }
    var sum = 0L
    i = 0
    while (i < 512) { sum += h(i) & 0xFF; i += 1 }
    val cs = java.lang.Long.toOctalString(sum)
    val padded = ("0" * (6 - cs.length)) + cs
    i = 0
    while (i < 6) { h(148 + i) = padded.charAt(i).toByte; i += 1 }
    h(154) = 0
    h(155) = ' '
    h
  }

  /** A plain checksummed file header (shared with the WDS fixture). */
  private[graftnative] def blockHeader(name: String, size: Long): Array[Byte] =
    header(name, size, '0', base256 = false)

  private def payload(out: java.io.ByteArrayOutputStream, doc: Long,
      tag: Int, size: Long): Unit = {
    var k = 0L
    while (k < size) {
      out.write(fm(doc * 31 + tag * 17 + k, 256))
      k += 1
    }
    var pad = ((size + 511) / 512) * 512 - size
    while (pad > 0) { out.write(0); pad -= 1 }
  }

  def tarBytes(doc: Long): Array[Byte] = {
    if (doc < 0) return null
    val out = new java.io.ByteArrayOutputStream()
    val n = nSamples(doc)
    var i = 0
    while (i < n) {
      val jpgName = memberName(doc, i, "jpg")
      val jsz = jpgSize(doc, i)
      if (i == 0 && fm(doc, 4) == 1) {
        // GNU long name: 'L' pseudo-member, then the real header with
        // a truncated placeholder name
        val lh = header("././@LongLink", jpgName.length + 1L, 'L',
          base256 = false)
        out.write(lh, 0, lh.length)
        val nb = jpgName.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write(nb, 0, nb.length)
        out.write(0)
        var pad = ((nb.length + 1 + 511) / 512) * 512 - nb.length - 1
        while (pad > 0) { out.write(0); pad -= 1 }
        val h = header(jpgName.substring(0, 100), jsz, '0',
          base256 = fm(doc, 5) == 0)
        out.write(h, 0, h.length)
      } else if (i == 0 && fm(doc, 4) == 2) {
        // PAX path override
        val rec = {
          val kv = s" path=$jpgName\n"
          // record length includes its own decimal length field
          var len = kv.length + 1
          while ((len.toString.length + kv.length) != len)
            len = len.toString.length + kv.length
          s"$len$kv"
        }
        val rb = rec.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val xh = header("pax_header", rb.length.toLong, 'x', base256 = false)
        out.write(xh, 0, xh.length)
        out.write(rb, 0, rb.length)
        var pad = ((rb.length + 511) / 512) * 512 - rb.length
        while (pad > 0) { out.write(0); pad -= 1 }
        val h = header(s"${sampleKey(doc, 0)}.jpg", jsz, '0',
          base256 = fm(doc, 5) == 0)
        out.write(h, 0, h.length)
      } else {
        val h = header(jpgName, jsz, '0',
          base256 = i == 0 && fm(doc, 5) == 0)
        out.write(h, 0, h.length)
      }
      payload(out, doc, 2 * i, jsz)
      val jh = header(memberName(doc, i, "json"), jsonSize(doc, i), '0',
        base256 = false)
      out.write(jh, 0, jh.length)
      payload(out, doc, 2 * i + 1, jsonSize(doc, i))
      i += 1
    }
    out.write(new Array[Byte](1024), 0, 1024) // the two-zero terminator
    out.toByteArray
  }
}

/** The MULTIMODAL WebDataset fixture: a tar whose `.jpg` members are
  * REAL baseline JPEGs ([[JpegSynth]] mode 1, sample i at seed
  * `doc + 131·i` — the MJPEG frame convention, so the decoded
  * statistics share that oracle's closed form) paired with small
  * `.json` sidecars. The container→codec composition key decodes
  * images straight out of the tar byte ranges.
  */
object TarWdsSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nSamples(doc: Long): Int = 2 + fm(doc, 3)
  def width(doc: Long): Long = 16L * (1 + fm(doc, 2))
  val Height = 16L

  def tarWdsBytes(doc: Long): Array[Byte] = {
    if (doc < 0) return null
    val out = new java.io.ByteArrayOutputStream()
    val n = nSamples(doc)
    var i = 0
    while (i < n) {
      val jpeg = JpegSynth.jpegBytes(width(doc), Height, doc + 131L * i,
        mode = 1)
      if (jpeg == null) return null
      val jh = TarSynth.blockHeader(s"s${doc}_$i.jpg", jpeg.length.toLong)
      out.write(jh, 0, jh.length)
      out.write(jpeg, 0, jpeg.length)
      var pad = ((jpeg.length + 511) / 512) * 512 - jpeg.length
      while (pad > 0) { out.write(0); pad -= 1 }
      val side = s"""{"key":"s${doc}_$i"}""".getBytes(
        java.nio.charset.StandardCharsets.UTF_8)
      val sh = TarSynth.blockHeader(s"s${doc}_$i.json", side.length.toLong)
      out.write(sh, 0, sh.length)
      out.write(side, 0, side.length)
      pad = ((side.length + 511) / 512) * 512 - side.length
      while (pad > 0) { out.write(0); pad -= 1 }
      i += 1
    }
    out.write(new Array[Byte](1024), 0, 1024)
    out.toByteArray
  }
}

/** Expression wrapping [[TarWdsSynth.tarWdsBytes]]. */
case class SynthTarWds(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    TarWdsSynth.tarWdsBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.TarWdsSynth.tarWdsBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapping [[TarSynth.tarBytes]]. */
case class SynthTar(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    TarSynth.tarBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.TarSynth.tarBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TarFunctions {
  /** Column API: tar/WebDataset member extraction (ustar + GNU longname +
    * PAX).
    */
  def tar_members(payload: Column): Column =
    ExpressionUtils.column(TarMembers(ExpressionUtils.expression(payload)))

  /** Column API: WebDataset-style tar fixture from a doc seed. */
  def synth_tar(doc: Column): Column =
    ExpressionUtils.column(SynthTar(ExpressionUtils.expression(doc)))

  /** Column API: multimodal WebDataset fixture (real JPEG members). */
  def synth_tar_wds(doc: Column): Column =
    ExpressionUtils.column(SynthTarWds(ExpressionUtils.expression(doc)))
}
