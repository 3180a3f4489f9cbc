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

/** WARC-in-gzip record extraction — the storage shape web crawls
  * actually arrive in (Common Crawl WARC/WET/WAT files are
  * CONCATENATED gzip members, usually one WARC record per member,
  * precisely so records are independently seekable). The walk is real
  * end to end: each member's gzip header is parsed with the FULL
  * RFC 1952 flag set — FEXTRA skipped by its XLEN, FNAME and FCOMMENT
  * by their NULs, and FHCRC *verified* (the low 16 bits of a CRC-32
  * over the header bytes — verify-not-skip, the same stance as the
  * trailer); reserved flag bits reject. The DEFLATE body is inflated
  * with the JDK `Inflater` (the PNG stance), and the member's CRC-32
  * AND ISIZE trailers VERIFIED against the decompressed bytes — a
  * flipped payload bit or a short write rejects the whole input
  * rather than emitting corrupt text. Each decompressed member
  * carries ONE OR MORE complete WARC/1.x records (multi-record
  * members appear in practice from re-packing tools): version line,
  * `Name: value` headers to the blank line, `Content-Length` bytes of
  * block, then the record-separating CRLF CRLF, repeated to the end
  * of the member. `WARC-Type` and `WARC-Target-URI` are surfaced per
  * record with the block itself, which is what a WET-style text
  * pipeline consumes (`conversion`-record filtering is a downstream
  * `filter`, pinned by the pipeline-composition test). Torn members,
  * header-CRC or trailer mismatches, header overruns, or a missing
  * Content-Length yield a null STRUCT — never a partial record list.
  */
case class WarcRecords(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = WarcRecords.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    WarcRecords.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WarcRecords.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WarcRecords {
  val schema: StructType = StructType(Seq(
    StructField("n_members", IntegerType, nullable = false),
    StructField("records", ArrayType(StructType(Seq(
      StructField("rec_type", StringType, nullable = true),
      StructField("uri", StringType, nullable = true),
      StructField("body", StringType, nullable = false))), containsNull = false),
      nullable = false)))

  private val MaxMembers = 4096
  private val MaxInflated = 1 << 24

  /** Per-thread reusable inflater: a crawl-scale decode walks millions
    * of small members, and per-member native Inflater allocation costs
    * more than the inflate itself; reset() restores fresh-stream state.
    */
  private val tlInf = ThreadLocal.withInitial[java.util.zip.Inflater](() =>
    new java.util.zip.Inflater(true))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** Inflate one gzip member starting at `off`; returns
    * (decompressed, nextOffset) or null.
    */
  private[sql] def member(b: Array[Byte], off: Int): (Array[Byte], Int) = {
    if (off + 18 > b.length) return null // header 10 + trailer 8 minimum
    if (u8(b, off) != 0x1F || u8(b, off + 1) != 0x8B || u8(b, off + 2) != 8)
      return null
    val flags = u8(b, off + 3)
    if ((flags & 0xE0) != 0) return null // reserved bits: reject
    var i = off + 10
    // RFC 1952 optional-field order: FEXTRA, FNAME, FCOMMENT, FHCRC
    if ((flags & 4) != 0) { // FEXTRA: 2-byte LE XLEN + payload
      if (i + 2 > b.length) return null
      val xlen = u8(b, i) | (u8(b, i + 1) << 8)
      i += 2 + xlen
      if (i > b.length) return null
    }
    if ((flags & 8) != 0) { // FNAME: NUL-terminated
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) return null
      i += 1
    }
    if ((flags & 16) != 0) { // FCOMMENT: NUL-terminated
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) return null
      i += 1
    }
    if ((flags & 2) != 0) { // FHCRC: low 16 bits of CRC-32 over header
      if (i + 2 > b.length) return null
      val hc = new java.util.zip.CRC32()
      hc.update(b, off, i - off)
      if ((hc.getValue & 0xFFFFL) != (u8(b, i) | (u8(b, i + 1) << 8)))
        return null
      i += 2
    }
    val inf = tlInf.get()
    inf.reset()
    inf.setInput(b, i, b.length - i)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var remaining = -1
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return null // truncated/needs dict
        out.write(buf, 0, n)
        if (out.size() > MaxInflated) return null
      }
      remaining = inf.getRemaining
    } catch {
      case _: java.util.zip.DataFormatException => return null
    }
    val consumed = (b.length - i) - remaining
    val trailerAt = i + consumed
    if (trailerAt + 8 > b.length) return null
    val data = out.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(data, 0, data.length)
    if ((crc.getValue & 0xFFFFFFFFL) != leU32(b, trailerAt)) return null
    if ((data.length.toLong & 0xFFFFFFFFL) != leU32(b, trailerAt + 4)) return null
    (data, trailerAt + 8)
  }

  /** Parse one WARC record starting at `from`; returns (row, nextOffset)
    * or null on any malformation.
    */
  private def recordAt(d: Array[Byte], from: Int): (InternalRow, Int) = {
    var i = from
    def line(): String = {
      val start = i
      while (i + 1 < d.length && !(d(i) == '\r' && d(i + 1) == '\n')) i += 1
      if (i + 1 >= d.length) return null
      val s = new String(d, start, i - start,
        java.nio.charset.StandardCharsets.UTF_8)
      i += 2
      s
    }
    val ver = line()
    if (ver == null || !ver.startsWith("WARC/1.")) return null
    var recType: String = null
    var uri: String = null
    var contentLength = -1L
    var walking = true
    while (walking) {
      val l = line()
      if (l == null) return null
      if (l.isEmpty) walking = false
      else {
        val c = l.indexOf(':')
        if (c <= 0) return null
        val name = l.substring(0, c).trim
        val value = l.substring(c + 1).trim
        if (name.equalsIgnoreCase("WARC-Type")) recType = value
        else if (name.equalsIgnoreCase("WARC-Target-URI")) uri = value
        else if (name.equalsIgnoreCase("Content-Length")) {
          try contentLength = java.lang.Long.parseLong(value)
          catch { case _: NumberFormatException => return null }
        }
      }
    }
    if (contentLength < 0 || i + contentLength > d.length) return null
    val body = new String(d, i, contentLength.toInt,
      java.nio.charset.StandardCharsets.UTF_8)
    i += contentLength.toInt
    // the record-separating CRLF CRLF (WARC/1.0 §4)
    if (i + 4 > d.length || d(i) != '\r' || d(i + 1) != '\n' ||
        d(i + 2) != '\r' || d(i + 3) != '\n') return null
    (new GenericInternalRow(Array[Any](
      if (recType == null) null else UTF8String.fromString(recType),
      if (uri == null) null else UTF8String.fromString(uri),
      UTF8String.fromString(body))), i + 4)
  }

  /** Parse a decompressed member as one or more complete WARC records
    * (repacking tools emit multi-record members); false on any
    * malformation or trailing garbage.
    */
  private[sql] def records(d: Array[Byte],
      out: java.util.ArrayList[InternalRow]): Boolean = {
    var i = 0
    var n = 0
    while (i < d.length) {
      val r = recordAt(d, i)
      if (r == null) return false
      out.add(r._1)
      i = r._2
      n += 1
    }
    n > 0
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 18) return null
    val recs = new java.util.ArrayList[InternalRow]()
    var off = 0
    var members = 0
    while (off < b.length) {
      // explicit resource limits (like MaxInflated): total members and
      // total records, multi-record members included
      if (members >= MaxMembers || recs.size() >= 4 * MaxMembers) return null
      val m = member(b, off)
      if (m == null) return null
      if (!records(m._1, recs)) return null
      members += 1
      off = m._2
    }
    if (recs.isEmpty) return null
    val arr = new Array[Any](recs.size())
    var k = 0
    while (k < arr.length) { arr(k) = recs.get(k); k += 1 }
    new GenericInternalRow(Array[Any](members, new GenericArrayData(arr)))
  }
}

/** Fixture: a WET-style WARC file as concatenated gzip members — one
  * `warcinfo` record then `2 + seed mod 3` `conversion` records with
  * formula URIs and bodies (what the oracle replays), each member
  * REALLY deflate-compressed with correct CRC-32/ISIZE trailers. The
  * gzip OPTIONAL FIELDS rotate on seed formulas so every header path
  * sits on the oracle-checked walk: the warcinfo member carries FEXTRA
  * (even seeds) or FCOMMENT (odd seeds); conversion members carry
  * FNAME on `(seed+rec) % 2 == 1` and a VERIFIED FHCRC header CRC on
  * `(seed+rec) % 3 == 2`. Seeds with `seed % 4 == 2` pack conversion
  * records 0 and 1 into ONE gzip member (the multi-record re-pack
  * shape), dropping `n_members` by one without changing the record
  * list.
  */
object WarcSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  private val tlDefl = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    // BEST_SPEED: the fixture prices the DECODE side; level-6 encode was
  // ~3x the inflate+verify cost and dominated the key's wall time
  new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true))

  def nConversion(seed: Long): Int = 2 + fm(seed, 3)
  def uri(seed: Long, rec: Int): String = s"https://example.com/$seed/$rec"
  def body(seed: Long, rec: Int): String =
    s"text $seed $rec " + "ab" * (5 + fm(seed + rec, 9))
  def paired(seed: Long): Boolean = fm(seed, 4) == 2
  def nMembers(seed: Long): Int =
    1 + nConversion(seed) - (if (paired(seed)) 1 else 0)

  private[graftnative] def gzMember(payload: Array[Byte], name: String,
      extra: Array[Byte] = null, comment: String = null,
      hcrc: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1F); out.write(0x8B); out.write(8)
    out.write((if (extra != null) 4 else 0) | (if (name != null) 8 else 0) |
      (if (comment != null) 16 else 0) | (if (hcrc) 2 else 0))
    out.write(0); out.write(0); out.write(0); out.write(0) // mtime
    out.write(0); out.write(255) // xfl, os unknown
    if (extra != null) { // FEXTRA: LE XLEN + payload
      out.write(extra.length & 0xFF); out.write((extra.length >> 8) & 0xFF)
      out.write(extra, 0, extra.length)
    }
    if (name != null) {
      val nb = name.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      out.write(nb, 0, nb.length)
      out.write(0)
    }
    if (comment != null) {
      val cb = comment.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      out.write(cb, 0, cb.length)
      out.write(0)
    }
    if (hcrc) { // low 16 bits of CRC-32 over the header so far, LE
      val h = out.toByteArray
      val hc = new java.util.zip.CRC32()
      hc.update(h, 0, h.length)
      val v = (hc.getValue & 0xFFFF).toInt
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    }
    val defl = tlDefl.get()
    defl.reset()
    defl.setInput(payload)
    defl.finish()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) {
      val n = defl.deflate(buf)
      out.write(buf, 0, n)
    }
    val crc = new java.util.zip.CRC32()
    crc.update(payload, 0, payload.length)
    val c = crc.getValue
    out.write((c & 0xFF).toInt); out.write(((c >> 8) & 0xFF).toInt)
    out.write(((c >> 16) & 0xFF).toInt); out.write(((c >> 24) & 0xFF).toInt)
    val n = payload.length
    out.write(n & 0xFF); out.write((n >> 8) & 0xFF)
    out.write((n >> 16) & 0xFF); out.write((n >> 24) & 0xFF)
    out.toByteArray
  }

  private def rec(typ: String, uriOpt: String, bodyText: String): Array[Byte] = {
    val body = bodyText.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(typ).append("\r\n")
    if (uriOpt != null) sb.append("WARC-Target-URI: ").append(uriOpt).append("\r\n")
    sb.append("Content-Length: ").append(body.length).append("\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream()
    out.write(head, 0, head.length)
    out.write(body, 0, body.length)
    out.write('\r'); out.write('\n'); out.write('\r'); out.write('\n')
    out.toByteArray
  }

  def warcGzBytes(seed: Long): Array[Byte] = {
    if (seed < 0) return null
    val out = new java.io.ByteArrayOutputStream()
    val info = gzMember(rec("warcinfo", null, s"software: graft-fixture $seed"),
      name = null,
      extra = if (fm(seed, 2) == 0) Array[Byte]('g', 'r', 4, 0, 1, 2, 3, 4)
        else null,
      comment = if (fm(seed, 2) == 1) s"fixture $seed" else null)
    out.write(info, 0, info.length)
    var r = 0
    val n = nConversion(seed)
    while (r < n) {
      val payload =
        if (paired(seed) && r == 0) {
          // records 0 and 1 in one member (the re-pack shape)
          val a = rec("conversion", uri(seed, 0), body(seed, 0))
          val b2 = rec("conversion", uri(seed, 1), body(seed, 1))
          val j = new Array[Byte](a.length + b2.length)
          System.arraycopy(a, 0, j, 0, a.length)
          System.arraycopy(b2, 0, j, a.length, b2.length)
          j
        } else rec("conversion", uri(seed, r), body(seed, r))
      val m = gzMember(payload,
        name = if (fm(seed + r, 2) == 1) s"rec-$r.warc" else null,
        hcrc = fm(seed + r, 3) == 2)
      out.write(m, 0, m.length)
      r += (if (paired(seed) && r == 0) 2 else 1)
    }
    out.toByteArray
  }

  // ------------------------- crawl-pipeline composition fixture (HTML)

  /** Dup-group text formulas for the end-to-end crawl-dedup gate: docs
    * come in groups of 3 — variant 0 the base page, variant 1 a
    * NEAR-DUP (one extra trailing token → shingle jaccard 10/11), and
    * variant 2 an unrelated page. The per-pair keep-min rule must
    * remove exactly the variant-1 docs.
    */
  def crawlGroup(seed: Long): Long = seed / 3
  def crawlVariant(seed: Long): Int = fm(seed, 3)
  def crawlText(seed: Long): String = {
    val g = crawlGroup(seed)
    // token space mod a prime ≫ group count: 7 and 11 are invertible
    // mod 99991, so no two groups share a token at the same position —
    // cross-group shingle overlap is nil and LSH buckets stay tiny
    if (crawlVariant(seed) == 2)
      "alt " + g + " " +
        (0 until 10).map(i => "u" + fm(g * 11 + i * 17 + 3, 99991)).mkString(" ")
    else
      "page " + g + " " +
        (0 until 10).map(i => "t" + fm(g * 7 + i * 13, 99991)).mkString(" ") +
        (if (crawlVariant(seed) == 1) " extra" + fm(g, 9) else "")
  }

  /** The response record's HTML body: head noise (script/style), the
    * visible text split across an inline span with entity and
    * whitespace obstacles, so extraction has real work to do before
    * the dedup stage sees `crawlText` exactly.
    */
  private[graftnative] def crawlHtml(seed: Long): String = {
    val t = crawlText(seed)
    val sp = t.indexOf(' ', 5) // split inside the token stream
    val head = t.substring(0, sp)
    val tail = t.substring(sp + 1)
    val sb = new StringBuilder()
    sb.append("<html><head><title>Crawl ").append(crawlGroup(seed))
      .append("</title>\n")
    sb.append("<script>if (1 > 0) { alert('<p>'); }</script>\n")
    sb.append("<style>p { margin: 0; }</style></head>\n<body>\n")
    sb.append("<!-- crawl fixture ").append(seed).append(" -->\n")
    sb.append("<p>").append(head.replace(" ", "&#32;"))
      .append("\t <b>").append(tail).append("</b>  </p>\n")
    sb.append("</body></html>\n")
    sb.toString
  }

  /** Concatenated-gzip WARC whose payload is a crawled RESPONSE record
    * (HTTP headers + HTML), the literal Common Crawl WARC shape the
    * composed crawl→extract→dedup pipeline consumes. Member 0 is the
    * warcinfo; docs with `seed mod 4 == 2` pack both records into ONE
    * member (the re-pack shape) and every third doc FHCRC-stamps the
    * response member, keeping the hard gzip paths on the composed
    * hash.
    */
  def warcHtmlGzBytes(seed: Long): Array[Byte] = {
    if (seed < 0) return null
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
    val response = rec("response", uri(seed, 0), http + crawlHtml(seed))
    val info = rec("warcinfo", null, s"software: graft-fixture $seed")
    val out = new java.io.ByteArrayOutputStream()
    if (paired(seed)) {
      val j = new Array[Byte](info.length + response.length)
      System.arraycopy(info, 0, j, 0, info.length)
      System.arraycopy(response, 0, j, info.length, response.length)
      val m = gzMember(j, name = null, hcrc = fm(seed, 3) == 2)
      out.write(m, 0, m.length)
    } else {
      val m0 = gzMember(info, name = null,
        comment = if (fm(seed, 2) == 1) s"fixture $seed" else null)
      out.write(m0, 0, m0.length)
      val m1 = gzMember(response,
        name = if (fm(seed, 2) == 0) "page.warc" else null,
        hcrc = fm(seed, 3) == 2)
      out.write(m1, 0, m1.length)
    }
    out.toByteArray
  }
}

/** Expression wrapping [[WarcSynth.warcGzBytes]]. */
case class SynthWarcGz(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    WarcSynth.warcGzBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WarcSynth.warcGzBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapping [[WarcSynth.warcHtmlGzBytes]]. */
case class SynthWarcHtmlGz(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    WarcSynth.warcHtmlGzBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.WarcSynth.warcHtmlGzBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WarcFunctions {
  /** Column API: WARC records from concatenated gzip members (CRC-32/ISIZE
    * verified) (see [[WarcRecords]]).
    */
  def warc_records(payload: Column): Column =
    ExpressionUtils.column(WarcRecords(ExpressionUtils.expression(payload)))

  /** Column API: WET-style WARC-in-gzip fixture from a doc seed (see
    * [[WarcSynth]]).
    */
  def synth_warc_gz(doc: Column): Column =
    ExpressionUtils.column(SynthWarcGz(ExpressionUtils.expression(doc)))

  /** Column API: crawl-shaped WARC-in-gzip fixture: HTTP response records
    * carrying dup-group HTML pages (see [[WarcSynth.warcHtmlGzBytes]]).
    */
  def synth_warc_html_gz(doc: Column): Column =
    ExpressionUtils.column(SynthWarcHtmlGz(ExpressionUtils.expression(doc)))
}
