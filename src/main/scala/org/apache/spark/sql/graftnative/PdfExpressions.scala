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

/** PDF text extraction — the single largest training-data text
  * modality, parsed for real from the bytes up (ISO 32000-1 / the
  * public PDF 1.7 reference):
  *
  *  - `%PDF-1.x` header, `startxref` located from the tail, and BOTH
  *    cross-reference forms chained through `/Prev` (mixed freely):
  *    classic tables (`xref` subsections of `offset generation n/f`
  *    entries) and PDF 1.5+ cross-reference STREAMS (/Type /XRef:
  *    binary W-field entries over /Index subsections, FlateDecode,
  *    including the PNG row predictors real writers emit). Type-2
  *    entries resolve through OBJECT STREAMS (/Type /ObjStm header
  *    pairs + /First offsets, with the spec's slot-number
  *    cross-check). Incremental-update files resolve to their NEWEST
  *    object versions because newer xref sections take precedence.
  *  - A real COS object parser: dictionaries, arrays, names with
  *    `#xx` escapes, literal strings with `\`-escapes (including
  *    octal and nested balanced parens), hex strings, numbers,
  *    booleans, null, and `n g R` indirect references resolved
  *    through the xref with cycle/depth caps.
  *  - Streams with direct OR indirect `/Length`, raw or
  *    `/FlateDecode` (zlib inflate, output-capped against
  *    decompression bombs).
  *  - The page tree walked from trailer `/Root → /Pages`, recursive
  *    `/Kids` with intermediate `/Pages` nodes, per page `/Contents`
  *    as one stream or an array (concatenated in order).
  *  - Content-stream text assembly with FIXED engine-agnostic rules:
  *    inside `BT…ET`, `Tj`/`'`/`"` show their string, `TJ` shows its
  *    array (numeric kern adjustments ≤ −180 thousandths render as
  *    one space); `Td`/`TD`/`T*`/`'`/`"` start a new line; page texts
  *    join lines with `\n`.
  *
  * Composite (Type0/CID) fonts decode through their `/ToUnicode`
  * CMap (§9.10.3): `Tf` tracks the active font, show-strings split
  * into the CMap's fixed-length codes, and `bfchar`/`bfrange`
  * (increment AND array forms) map codes to UTF-16 text — the route
  * most post-2000 writers need.
  *
  * Honest rejects (never guesses): encrypted files (trailer
  * `/Encrypt`), Type0 fonts WITHOUT a /ToUnicode CMap (glyph-indexed
  * strings with no map are NOT character codes and emitting them
  * would be garbage), unmapped codes in a mapped font, non-Flate
  * filters, torn objects, and missing catalog/page structure.
  * Simple fonts (Type1/TrueType with standard encodings) show byte
  * strings whose printable range coincides with Latin-1, which is
  * exactly the regime where byte-level extraction is sound.
  *
  * The reference pipeline has no document modality at all (text
  * arrives pre-extracted via yfinance JSON); this is pipeline-brief
  * surface. At 100 TB: one per-row parse, zero shuffle until the
  * caller explodes pages.
  */
case class PdfText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = PdfText.schema

  override def nullSafeEval(v: Any): Any =
    PdfText.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.PdfText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfText {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("version", StringType, nullable = true),
    StructField("n_pages", IntegerType, nullable = true),
    StructField("pages", ArrayType(StructType(Seq(
      StructField("page_idx", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false))),
      containsNull = false), nullable = true)))

  private val FmtPdf = UTF8String.fromString("pdf")
  private val FmtUnknown = UTF8String.fromString("unknown")

  private val MaxObjects = 1 << 16
  private val MaxPages = 4096
  private val MaxInflated = 1 << 24
  private val MaxTextChars = 1 << 22
  private val MaxRefDepth = 32

  private def unknown: InternalRow =
    new GenericInternalRow(Array[Any](FmtUnknown, null, null, null))

  // ------------------------------------------------------ COS objects

  private[graftnative] final case class PdfName(s: String)
  private[graftnative] final case class PdfRef(num: Int, gen: Int)
  private[graftnative] final case class PdfStr(bytes: Array[Byte])
  private[graftnative] final class PdfStream(val dict: Map[String, Any],
      val dataOff: Int, val dataLen: Int)

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** COS object lexer/parser over the raw bytes. Throws PdfBad on any
    * malformed construct; compute catches once at the top.
    */
  private final class Bad extends RuntimeException("pdf parse", null, false, false)
  private def bad(): Nothing = throw new Bad

  private final class P(val b: Array[Byte], var pos: Int) {
    def skipWs(): Unit = {
      var more = true
      while (more) {
        while (pos < b.length && isWs(b(pos) & 0xFF)) pos += 1
        if (pos < b.length && b(pos) == '%') { // comment to EOL
          while (pos < b.length && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else more = false
      }
    }
    def peek: Int = if (pos < b.length) b(pos) & 0xFF else -1
    def keyword(): String = {
      val st = pos
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF))
        pos += 1
      if (pos == st) bad()
      new String(b, st, pos - st, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    def expect(s: String): Unit = {
      skipWs()
      var i = 0
      while (i < s.length) {
        if (pos >= b.length || b(pos) != s.charAt(i)) bad()
        pos += 1
        i += 1
      }
    }

    def name(): PdfName = {
      if (peek != '/') bad()
      pos += 1
      val sb = new StringBuilder()
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF)) {
        val c = b(pos) & 0xFF
        if (c == '#' && pos + 2 < b.length) {
          val v = Character.digit(b(pos + 1), 16) * 16 +
            Character.digit(b(pos + 2), 16)
          if (v < 0) bad()
          sb.append(v.toChar)
          pos += 3
        } else { sb.append(c.toChar); pos += 1 }
      }
      PdfName(sb.toString)
    }

    def literalString(): PdfStr = {
      if (peek != '(') bad()
      pos += 1
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (pos >= b.length) bad()
        val c = b(pos) & 0xFF
        pos += 1
        c match {
          case '(' => depth += 1; out.write(c)
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(c)
          case '\\' =>
            if (pos >= b.length) bad()
            val e = b(pos) & 0xFF
            pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' | ')' | '\\' => out.write(e)
              case '\r' => if (pos < b.length && b(pos) == '\n') pos += 1
              case '\n' => // line continuation: nothing
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < b.length && b(pos) >= '0' && b(pos) <= '7') {
                  v = v * 8 + (b(pos) - '0')
                  pos += 1
                  k += 1
                }
                out.write(v & 0xFF)
              case other => out.write(other) // spec: backslash dropped
            }
          case _ => out.write(c)
        }
      }
      PdfStr(out.toByteArray)
    }

    def hexString(): PdfStr = {
      // caller consumed nothing; peek == '<' and next != '<'
      pos += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var done = false
      while (!done) {
        if (pos >= b.length) bad()
        val c = b(pos) & 0xFF
        pos += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi * 16) // odd count: last digit 0-padded
          done = true
        } else if (!isWs(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) bad()
          if (hi < 0) hi = d
          else { out.write(hi * 16 + d); hi = -1 }
        }
      }
      PdfStr(out.toByteArray)
    }

    /** Parse one object. Numbers look ahead for `g R` references. */
    def obj(depth: Int): Any = {
      if (depth > 64) bad()
      skipWs()
      peek match {
        case -1 => bad()
        case '/' => name()
        case '(' => literalString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[Any]
          skipWs()
          while (peek != ']') {
            items += obj(depth + 1)
            skipWs()
            if (peek == -1) bad()
          }
          pos += 1
          items.result()
        case '<' =>
          if (pos + 1 < b.length && b(pos + 1) == '<') {
            pos += 2
            var m = Map.empty[String, Any]
            skipWs()
            while (peek != '>') {
              val k = name()
              m += (k.s -> obj(depth + 1))
              skipWs()
              if (peek == -1) bad()
            }
            expect(">>")
            m
          } else hexString()
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          val st = pos
          pos += 1
          while (pos < b.length && ((b(pos) >= '0' && b(pos) <= '9') ||
            b(pos) == '.')) pos += 1
          val tok = new String(b, st, pos - st,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          if (!tok.contains('.') && tok.charAt(0) >= '0') {
            // lookahead: `num gen R`
            val save = pos
            skipWs()
            if (peek >= '0' && peek <= '9') {
              val st2 = pos
              while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') pos += 1
              val gen = new String(b, st2, pos - st2,
                java.nio.charset.StandardCharsets.ISO_8859_1)
              skipWs()
              if (peek == 'R' &&
                (pos + 1 >= b.length || isWs(b(pos + 1) & 0xFF) ||
                  isDelim(b(pos + 1) & 0xFF))) {
                pos += 1
                return PdfRef(tok.toInt, gen.toInt)
              }
            }
            pos = save
          }
          if (tok.contains('.')) tok.toDouble else tok.toLong
        case _ =>
          keyword() match {
            case "true" => java.lang.Boolean.TRUE
            case "false" => java.lang.Boolean.FALSE
            case "null" => null
            case _ => bad()
          }
      }
    }
  }

  // ------------------------------------------------------ document

  private final class Doc(val b: Array[Byte], val xref: Map[Int, Int],
      val compressed: Map[Int, (Int, Int)], val trailer: Map[String, Any]) {
    private val memo = new java.util.HashMap[Int, Any]()
    private val inflight = new java.util.HashSet[Int]()
    // decoded object streams: stmNum -> (data, first, Array[(objNum, off)])
    private val objStms =
      new java.util.HashMap[Int, (Array[Byte], Int, Array[(Int, Int)])]()

    /** Fetch object `num`: parses `num gen obj … endobj` at its xref
      * offset, or extracts it from its object stream (type-2 entries),
      * returning the body or a PdfStream.
      */
    def fetch(num: Int): Any = {
      val cached = memo.get(num)
      if (cached != null || memo.containsKey(num)) return cached
      if (!inflight.add(num)) bad() // reference cycle through a fetch
      val result: Any = xref.get(num) match {
        case Some(off) =>
          if (off < 0 || off >= b.length) bad()
          fetchAt(num, off)
        case None => compressed.get(num) match {
          case Some((stmNum, idx)) => fetchCompressed(num, stmNum, idx)
          case None => bad()
        }
      }
      inflight.remove(num)
      memo.put(num, result)
      result
    }

    private def fetchAt(num: Int, off: Int): Any = {
      val p = new P(b, off)
      p.skipWs()
      val n2 = p.keyword()
      if (n2.toIntOption.getOrElse(-1) != num) bad()
      p.skipWs()
      p.keyword().toIntOption.getOrElse(bad()) // generation
      p.skipWs()
      if (p.keyword() != "obj") bad()
      val body = p.obj(0)
      p.skipWs()
      body match {
        case dict: Map[String @unchecked, Any @unchecked] if {
          val save = p.pos
          val kw = if (p.peek == -1) "" else p.keyword()
          if (kw != "stream") { p.pos = save; false } else true
        } =>
          // EOL after `stream`: CRLF or LF
          if (p.peek == '\r') p.pos += 1
          if (p.peek == '\n') p.pos += 1
          val len = resolve(dict.getOrElse("Length", null), 0) match {
            case l: java.lang.Long => l.toInt
            case _ => bad()
          }
          if (len < 0 || p.pos + len > b.length) bad()
          new PdfStream(dict, p.pos, len)
        case other => other
      }
    }

    /** Extract object `num` from object stream `stmNum` (its header
      * slot `idx` must name `num` — the spec's cross-check). Objects
      * inside an ObjStm are body-only (streams are not permitted).
      */
    private def fetchCompressed(num: Int, stmNum: Int, idx: Int): Any = {
      var parsed = objStms.get(stmNum)
      if (parsed == null) {
        val s = fetch(stmNum) match {
          case s: PdfStream => s
          case _ => bad()
        }
        if (resolve(s.dict.getOrElse("Type", null), 0) != PdfName("ObjStm"))
          bad()
        val n = resolve(s.dict.getOrElse("N", null), 0) match {
          case l: java.lang.Long => l.toInt
          case _ => bad()
        }
        val first = resolve(s.dict.getOrElse("First", null), 0) match {
          case l: java.lang.Long => l.toInt
          case _ => bad()
        }
        if (n < 0 || n > MaxObjects || first < 0) bad()
        val data = streamData(s)
        val hp = new P(data, 0)
        val pairs = new Array[(Int, Int)](n)
        var k = 0
        while (k < n) {
          hp.skipWs()
          val on = hp.keyword().toIntOption.getOrElse(bad())
          hp.skipWs()
          val oo = hp.keyword().toIntOption.getOrElse(bad())
          pairs(k) = (on, oo)
          k += 1
        }
        parsed = (data, first, pairs)
        objStms.put(stmNum, parsed)
      }
      val (data, first, pairs) = parsed
      if (idx < 0 || idx >= pairs.length || pairs(idx)._1 != num) bad()
      val at = first + pairs(idx)._2
      if (at < 0 || at > data.length) bad()
      new P(data, at).obj(0)
    }

    def resolve(v: Any, depth: Int): Any = v match {
      case PdfRef(num, _) =>
        if (depth > MaxRefDepth) bad()
        resolve(fetch(num), depth + 1)
      case other => other
    }

    /** Decoded stream bytes: raw or FlateDecode, honoring /DecodeParms
      * (r14 ADVICE: a content/object stream carrying a PNG predictor
      * previously yielded predictor-filtered garbage — now it routes
      * through the same unfilter xref streams use, and a predictor on
      * an UNFILTERED stream rejects).
      */
    def streamData(s: PdfStream): Array[Byte] = {
      val raw = java.util.Arrays.copyOfRange(b, s.dataOff, s.dataOff + s.dataLen)
      val parms = resolve(s.dict.getOrElse("DecodeParms", null), 0) match {
        case pv: Vector[Any @unchecked] if pv.size == 1 => resolve(pv.head, 0)
        case other => other
      }
      resolve(s.dict.getOrElse("Filter", null), 0) match {
        case null => applyDecodeParms(raw, parms, filtered = false)
        case PdfName("FlateDecode") =>
          applyDecodeParms(inflate(raw), parms, filtered = true)
        case v: Vector[Any @unchecked] if v.isEmpty =>
          applyDecodeParms(raw, parms, filtered = false)
        case v: Vector[Any @unchecked]
          if v.size == 1 && v.head == PdfName("FlateDecode") =>
          applyDecodeParms(inflate(raw), parms, filtered = true)
        case _ => bad() // other filters: out of scope, reject
      }
    }
  }

  private def inflate(raw: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => bad() }
        if (n == 0 && inf.needsInput()) bad() // truncated
        out.write(buf, 0, n)
        if (out.size() > MaxInflated) bad()
      }
      out.toByteArray
    } finally inf.end()
  }

  // --------------------------------------------------------- xref

  /** PNG-predictor decode (Predictor ≥ 10 with Colors 1 / 8-bit — the
    * form xref streams use): rows of (1 + columns) bytes, per-row
    * filter byte, unfiltered in place per the PNG spec (bpp = 1).
    */
  private def pngUnpredict(data: Array[Byte], columns: Int): Array[Byte] = {
    if (columns < 1 || data.length % (columns + 1) != 0) bad()
    val rows = data.length / (columns + 1)
    val out = new Array[Byte](rows * columns)
    var r = 0
    while (r < rows) {
      val ft = data(r * (columns + 1)) & 0xFF
      var x = 0
      while (x < columns) {
        val raw = data(r * (columns + 1) + 1 + x) & 0xFF
        val left = if (x > 0) out(r * columns + x - 1) & 0xFF else 0
        val up = if (r > 0) out((r - 1) * columns + x) & 0xFF else 0
        val upLeft =
          if (r > 0 && x > 0) out((r - 1) * columns + x - 1) & 0xFF else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 =>
            val p = left + up - upLeft
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            raw + (if (pa <= pb && pa <= pc) left
              else if (pb <= pc) up else upLeft)
          case _ => bad()
        }
        out(r * columns + x) = (v & 0xFF).toByte
        x += 1
      }
      r += 1
    }
    out
  }

  /** Apply a stream's /DecodeParms: absent or Predictor 1 is identity;
    * PNG predictors (>= 10) unfilter over /Columns (Colors 1, 8-bit —
    * the only shape real text-pipeline streams carry); anything else —
    * TIFF predictor 2, multi-component parms, indirect values, or a
    * predictor on an UNFILTERED stream — rejects rather than emitting
    * plausible garbage. Shared by xref streams and Doc.streamData.
    */
  private def applyDecodeParms(data: Array[Byte], parmsV: Any,
      filtered: Boolean): Array[Byte] = parmsV match {
    case null => data
    case parms: Map[String @unchecked, Any @unchecked] =>
      parms.getOrElse("Colors", null) match {
        case null =>
        case c: java.lang.Long if c.toInt == 1 =>
        case _ => bad()
      }
      parms.getOrElse("BitsPerComponent", null) match {
        case null =>
        case c: java.lang.Long if c.toInt == 8 =>
        case _ => bad()
      }
      parms.getOrElse("Predictor", null) match {
        case null => data
        case pr: java.lang.Long if pr.toInt == 1 => data
        case pr: java.lang.Long if pr.toInt >= 10 && filtered =>
          val cols = parms.getOrElse("Columns", null) match {
            case c: java.lang.Long => c.toInt
            case null => 1
            case _ => bad()
          }
          pngUnpredict(data, cols)
        case _ => bad() // TIFF predictor 2 / predictor without a filter
      }
    case _ => bad()
  }

  /** Parsed state of one xref section (either form). Free entries are
    * recorded in `free` so newest-wins precedence applies to DELETIONS
    * too: an object freed by a newer incremental update must not
    * resurrect to its stale older version when an older section still
    * supplies an offset for it (r14 ADVICE).
    */
  private final class XrefAcc {
    var direct = Map.empty[Int, Int]
    var compressed = Map.empty[Int, (Int, Int)]
    var free = Set.empty[Int]
    var trailer: Map[String, Any] = null
    def seen(num: Int): Boolean =
      direct.contains(num) || compressed.contains(num) || free.contains(num)
  }

  /** One cross-reference STREAM section (PDF 1.5+): `num gen obj` with
    * /Type /XRef, binary W-field entries, /Index subsections, raw or
    * FlateDecode (with the PNG row predictors real writers emit). The
    * /Length must be DIRECT — an indirect length would need the very
    * xref being built.
    */
  private def xrefStreamSection(b: Array[Byte], at: Int, acc: XrefAcc): Int = {
    val p = new P(b, at)
    p.skipWs()
    p.keyword().toIntOption.getOrElse(bad()) // object number
    p.skipWs()
    p.keyword().toIntOption.getOrElse(bad()) // generation
    p.skipWs()
    if (p.keyword() != "obj") bad()
    val dict = p.obj(0) match {
      case m: Map[String @unchecked, Any @unchecked] => m
      case _ => bad()
    }
    if (dict.getOrElse("Type", null) != PdfName("XRef")) bad()
    p.skipWs()
    if (p.keyword() != "stream") bad()
    if (p.peek == '\r') p.pos += 1
    if (p.peek == '\n') p.pos += 1
    val len = dict.getOrElse("Length", null) match {
      case l: java.lang.Long => l.toInt
      case _ => bad()
    }
    if (len < 0 || p.pos + len > b.length) bad()
    val raw = java.util.Arrays.copyOfRange(b, p.pos, p.pos + len)
    val data = dict.getOrElse("Filter", null) match {
      case null =>
        applyDecodeParms(raw, dict.getOrElse("DecodeParms", null),
          filtered = false)
      case PdfName("FlateDecode") =>
        applyDecodeParms(inflate(raw), dict.getOrElse("DecodeParms", null),
          filtered = true)
      case _ => bad()
    }
    val size = dict.getOrElse("Size", null) match {
      case l: java.lang.Long => l.toInt
      case _ => bad()
    }
    val w = dict.getOrElse("W", null) match {
      case v: Vector[Any @unchecked] if v.size == 3 =>
        v.map { case l: java.lang.Long => l.toInt; case _ => bad() }
      case _ => bad()
    }
    if (w.exists(x => x < 0 || x > 8)) bad()
    val rowLen = w.sum
    if (rowLen < 1) bad()
    val index: Vector[Int] = dict.getOrElse("Index", null) match {
      case null => Vector(0, size)
      case v: Vector[Any @unchecked] if v.size % 2 == 0 =>
        v.map { case l: java.lang.Long => l.toInt; case _ => bad() }
      case _ => bad()
    }
    var rowAt = 0
    def field(width: Int, default: Long): Long = {
      if (width == 0) return default
      var v = 0L
      var k = 0
      while (k < width) { v = (v << 8) | (data(rowAt + k) & 0xFFL); k += 1 }
      rowAt += width
      v
    }
    var s = 0
    while (s < index.size) {
      val start = index(s)
      val count = index(s + 1)
      if (start < 0 || count < 0 || start + count > MaxObjects) bad()
      var k = 0
      while (k < count) {
        if (rowAt + rowLen > data.length) bad()
        val typ = field(w(0), 1L)
        val f2 = field(w(1), 0L)
        val f3 = field(w(2), 0L)
        val num = start + k
        if (!acc.seen(num)) typ match {
          case 0L => acc.free += num // free: blocks older sections too
          case 1L =>
            if (f2 > Int.MaxValue) bad()
            acc.direct += (num -> f2.toInt)
          case 2L =>
            if (f2 > Int.MaxValue || f3 > Int.MaxValue) bad()
            acc.compressed += (num -> ((f2.toInt, f3.toInt)))
          case _ => bad()
        }
        k += 1
      }
      s += 2
    }
    if (acc.trailer == null) acc.trailer = dict
    dict.getOrElse("Prev", null) match {
      case l: java.lang.Long => l.toInt
      case null => -1
      case _ => bad()
    }
  }

  /** One CLASSIC xref table section; returns the /Prev offset or -1.
    *
    * Entries are buffered, not committed directly: if the trailer
    * carries `/XRefStm` (a HYBRID-reference file, §7.5.8.4), the xref
    * STREAM it points at takes precedence for the objects it covers —
    * it is processed first, so a hybrid incremental update's
    * stream-side redefinitions beat this section's (and any older
    * section's) entries instead of silently yielding stale objects.
    */
  private def classicXrefSection(b: Array[Byte], at: Int, acc: XrefAcc): Int = {
    val p = new P(b, at)
    p.skipWs()
    if (p.keyword() != "xref") bad()
    // (num, offset, isFree) buffered until the trailer is read
    val buf = new java.util.ArrayList[(Int, Int, Boolean)]()
    var done = false
    while (!done) {
      p.skipWs()
      if (p.peek >= '0' && p.peek <= '9') {
        val start = p.keyword().toIntOption.getOrElse(bad())
        p.skipWs()
        val count = p.keyword().toIntOption.getOrElse(bad())
        if (count < 0 || start < 0 || start + count > MaxObjects) bad()
        var k = 0
        while (k < count) {
          p.skipWs()
          val off = p.keyword()
          p.skipWs()
          p.keyword() // generation
          p.skipWs()
          val typ = p.keyword()
          if (off.length != 10 || typ.length != 1) bad()
          if (typ == "n") buf.add((start + k, off.toInt, false))
          else if (typ == "f") buf.add((start + k, 0, true))
          else bad()
          k += 1
        }
      } else done = true
    }
    p.skipWs()
    if (p.keyword() != "trailer") bad()
    val t = p.obj(0) match {
      case m: Map[String @unchecked, Any @unchecked] => m
      case _ => bad()
    }
    if (acc.trailer == null) acc.trailer = t
    // hybrid side channel first: its entries outrank this section's
    t.getOrElse("XRefStm", null) match {
      case null =>
      case l: java.lang.Long =>
        val stmAt = l.toInt
        if (stmAt < 0 || stmAt >= b.length) bad()
        xrefStreamSection(b, stmAt, acc) // its /Prev (if any) is ignored
      case _ => bad()
    }
    var i = 0
    while (i < buf.size()) {
      val (num, off, isFree) = buf.get(i)
      if (!acc.seen(num)) {
        if (isFree) acc.free += num else acc.direct += (num -> off)
      }
      i += 1
    }
    t.getOrElse("Prev", null) match {
      case l: java.lang.Long => l.toInt
      case null => -1
      case _ => bad()
    }
  }

  /** Load the xref chain from `startxref` — classic tables AND
    * cross-reference streams, mixed freely; newest sections win.
    */
  private def loadXref(b: Array[Byte]): XrefAcc = {
    // find `startxref` in the tail
    val tailFrom = math.max(0, b.length - 2048)
    val tail = new String(b, tailFrom, b.length - tailFrom,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) bad()
    val p0 = new P(b, tailFrom + sx + "startxref".length)
    p0.skipWs()
    var at = p0.keyword().toLongOption.getOrElse(bad()).toInt
    val acc = new XrefAcc
    var hops = 0
    while (at >= 0) {
      hops += 1
      if (hops > 64 || at >= b.length || at < 0) bad()
      val probe = new P(b, at)
      probe.skipWs()
      at =
        if (probe.peek == 'x') classicXrefSection(b, at, acc)
        else xrefStreamSection(b, at, acc)
    }
    if (acc.trailer == null) bad()
    acc
  }

  // ---------------------------------------------- ToUnicode CMaps

  /** A composite (Type0) font's text decoder: fixed-length character
    * codes looked up in its /ToUnicode CMap. Simple fonts are `null`
    * in the font map (byte/Latin-1 semantics).
    */
  private[graftnative] final class Type0Font(val codeLen: Int,
    val cmap: java.util.HashMap[Integer, String])

  private val MaxCmapEntries = 1 << 16

  /** Parse a /ToUnicode CMap stream (ISO 32000-1 §9.10.3 / Adobe
    * CMap syntax): `codespacerange` fixes the code byte length (1 or
    * 2 — the sound subset; Identity-H writers emit 2), `bfchar` pairs
    * and `bfrange` triples (single-dst increment form AND the array
    * form) map codes to UTF-16BE strings. PostScript scaffolding
    * (`findresource`, `def`, dict blocks) is skipped as inert
    * operands; malformed entries reject the file.
    */
  private[graftnative] def parseToUnicode(data: Array[Byte]): Type0Font = {
    val p = new P(data, 0)
    var codeLen = -1
    val cmap = new java.util.HashMap[Integer, String]()
    def codeOf(s: PdfStr): Int = {
      if (s.bytes.length < 1 || s.bytes.length > 2) bad()
      if (codeLen < 0) codeLen = s.bytes.length
      else if (codeLen != s.bytes.length) bad()
      var v = 0
      var i = 0
      while (i < s.bytes.length) { v = (v << 8) | (s.bytes(i) & 0xFF); i += 1 }
      v
    }
    def utf16(s: PdfStr): String = {
      if (s.bytes.length % 2 != 0 || s.bytes.length == 0) bad()
      new String(s.bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    }
    def put(code: Int, dst: String): Unit = {
      if (cmap.size() >= MaxCmapEntries) bad()
      cmap.put(code, dst)
    }
    // one token: a COS-parsable object, a keyword string, or null at EOF
    def tok(): Any = {
      p.skipWs()
      val c = p.peek
      if (c == -1) null
      else if (c == '/' || c == '(' || c == '[' || c == '<' ||
        c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) p.obj(0)
      else p.keywordOrSym().mkString
    }
    var done = false
    while (!done) {
      tok() match {
        case null => done = true
        case "begincodespacerange" =>
          var more = true
          while (more) tok() match {
            case "endcodespacerange" => more = false
            case lo: PdfStr =>
              codeOf(lo)
              tok() match {
                case hi: PdfStr => codeOf(hi)
                case _ => bad()
              }
            case _ => bad()
          }
        case "beginbfchar" =>
          var more = true
          while (more) tok() match {
            case "endbfchar" => more = false
            case src: PdfStr =>
              tok() match {
                case dst: PdfStr => put(codeOf(src), utf16(dst))
                case _ => bad()
              }
            case _ => bad()
          }
        case "beginbfrange" =>
          var more = true
          while (more) tok() match {
            case "endbfrange" => more = false
            case loS: PdfStr =>
              val lo = codeOf(loS)
              val hi = tok() match {
                case hiS: PdfStr => codeOf(hiS)
                case _ => bad()
              }
              if (hi < lo || hi - lo + 1 > MaxCmapEntries) bad()
              tok() match {
                case dst: PdfStr =>
                  // increment form: the LAST UTF-16 code unit steps
                  val base = utf16(dst)
                  var k = 0
                  while (k <= hi - lo) {
                    val last = base.charAt(base.length - 1) + k
                    if (last > 0xFFFF) bad()
                    put(lo + k,
                      base.substring(0, base.length - 1) + last.toChar)
                    k += 1
                  }
                case arr: Vector[Any @unchecked] =>
                  if (arr.size != hi - lo + 1) bad()
                  var k = 0
                  while (k <= hi - lo) {
                    arr(k) match {
                      case d: PdfStr => put(lo + k, utf16(d))
                      case _ => bad()
                    }
                    k += 1
                  }
                case _ => bad()
              }
            case _ => bad()
          }
        case _ => // numbers, names, dicts, PostScript keywords: inert
      }
    }
    if (codeLen < 0) codeLen = 2 // no codespacerange: Identity-H default
    if (cmap.isEmpty) bad() // an empty map cannot decode anything
    new Type0Font(codeLen, cmap)
  }

  // ------------------------------------------------- content streams

  /** Fixed text-assembly rules over one page's concatenated content.
    * `fonts` maps the page's font resource names to their Type0
    * decoders (absent = simple byte/Latin-1 font); `Tf` switches the
    * active font. Graphics-state save/restore (`q`/`Q`) is not
    * tracked for font selection — the font last set by `Tf` stays
    * active, which matches linear text-writer output.
    */
  private def pageText(content: Array[Byte], budget: Int,
      fonts: Map[String, Type0Font]): String = {
    val p = new P(content, 0)
    val sb = new StringBuilder()
    var inText = false
    var curFont: Type0Font = null // null = simple byte font
    def newline(): Unit =
      if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
    def show(s: PdfStr): Unit = {
      if (curFont == null) {
        var i = 0
        while (i < s.bytes.length) {
          sb.append((s.bytes(i) & 0xFF).toChar) // Latin-1 byte semantics
          i += 1
        }
      } else {
        val cl = curFont.codeLen
        if (s.bytes.length % cl != 0) bad() // torn multi-byte code
        var i = 0
        while (i < s.bytes.length) {
          var code = 0
          var k = 0
          while (k < cl) { code = (code << 8) | (s.bytes(i + k) & 0xFF); k += 1 }
          val m = curFont.cmap.get(code)
          if (m == null) bad() // unmapped code: reject, don't guess
          sb.append(m)
          i += cl
        }
      }
      if (sb.length > budget) bad()
    }
    val operands = new java.util.ArrayList[Any]()
    var done = false
    while (!done) {
      p.skipWs()
      if (p.peek == -1) done = true
      else {
        val c = p.peek
        if (c == '/' || c == '(' || c == '[' || c == '<' || c == '+' ||
          c == '-' || c == '.' || (c >= '0' && c <= '9')) {
          operands.add(p.obj(0))
        } else {
          val op = p.keywordOrSym().mkString
          op match {
            case "BT" => inText = true; operands.clear()
            case "ET" => inText = false; operands.clear()
            case "Tj" =>
              if (inText && operands.size() > 0)
                operands.get(operands.size() - 1) match {
                  case s: PdfStr => show(s)
                  case _ =>
                }
              operands.clear()
            case "TJ" =>
              if (inText && operands.size() > 0)
                operands.get(operands.size() - 1) match {
                  case arr: Vector[Any @unchecked] =>
                    arr.foreach {
                      case s: PdfStr => show(s)
                      case n: java.lang.Long =>
                        if (n <= -180) { sb.append(' '); if (sb.length > budget) bad() }
                      case d: java.lang.Double =>
                        if (d <= -180) { sb.append(' '); if (sb.length > budget) bad() }
                      case _ =>
                    }
                  case _ =>
                }
              operands.clear()
            case "'" =>
              if (inText) {
                newline()
                if (operands.size() > 0)
                  operands.get(operands.size() - 1) match {
                    case s: PdfStr => show(s)
                    case _ =>
                  }
              }
              operands.clear()
            case "\"" =>
              if (inText) {
                newline()
                if (operands.size() > 0)
                  operands.get(operands.size() - 1) match {
                    case s: PdfStr => show(s)
                    case _ =>
                  }
              }
              operands.clear()
            case "Td" | "TD" | "T*" =>
              if (inText) newline()
              operands.clear()
            case "Tf" =>
              if (operands.size() >= 2)
                operands.get(operands.size() - 2) match {
                  case PdfName(n) => curFont = fonts.getOrElse(n, null)
                  case _ =>
                }
              operands.clear()
            case _ => operands.clear() // any other operator: no text effect
          }
        }
      }
    }
    sb.toString
  }

  // one-symbol operators (' and ") plus regular keywords
  private implicit final class POps(val p: P) {
    def keywordOrSym(): Seq[Char] = {
      val c = p.peek
      if (c == '\'' || c == '"') { p.pos += 1; Seq(c.toChar) }
      else p.keyword().toSeq
    }
  }

  // --------------------------------------------------------- compute

  def compute(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 32) return unknown
    if (!(b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' &&
      b(4) == '-')) return unknown
    var ve = 5
    while (ve < math.min(16, b.length) && !isWs(b(ve) & 0xFF)) ve += 1
    val version = new String(b, 5, ve - 5,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    try {
      val acc = loadXref(b)
      val trailer = acc.trailer
      if (trailer.contains("Encrypt")) return unknown // honest reject
      val doc = new Doc(b, acc.direct, acc.compressed, trailer)
      val root = doc.resolve(trailer.getOrElse("Root", null), 0) match {
        case m: Map[String @unchecked, Any @unchecked] => m
        case _ => bad()
      }
      val pagesRoot = doc.resolve(root.getOrElse("Pages", null), 0) match {
        case m: Map[String @unchecked, Any @unchecked] => m
        case _ => bad()
      }
      // collect leaf pages depth-first
      val pages = new java.util.ArrayList[Map[String, Any]]()
      def walk(node: Map[String, Any], depth: Int): Unit = {
        if (depth > 32 || pages.size() > MaxPages) bad()
        doc.resolve(node.getOrElse("Type", null), 0) match {
          case PdfName("Pages") =>
            doc.resolve(node.getOrElse("Kids", null), 0) match {
              case kids: Vector[Any @unchecked] =>
                kids.foreach { k =>
                  doc.resolve(k, 0) match {
                    case m: Map[String @unchecked, Any @unchecked] =>
                      walk(m, depth + 1)
                    case _ => bad()
                  }
                }
              case _ => bad()
            }
          case PdfName("Page") => pages.add(node)
          case _ => bad()
        }
      }
      walk(pagesRoot, 0)
      if (pages.isEmpty) bad()
      // per-page font maps: Type0 (composite/CID) fonts decode through
      // their /ToUnicode CMap; a Type0 WITHOUT one still rejects the
      // file — glyph-indexed strings with no map are garbage, the
      // original honest stance, now narrowed to the truly unmappable
      val fontMaps = new Array[Map[String, Type0Font]](pages.size())
      // pages share font objects: parse each ToUnicode stream once
      // (Doc.fetch memoizes the PdfStream, so identity keys work)
      val cmapCache = new java.util.IdentityHashMap[PdfStream, Type0Font]()
      var pi = 0
      while (pi < pages.size()) {
        var fm = Map.empty[String, Type0Font]
        doc.resolve(pages.get(pi).getOrElse("Resources", null), 0) match {
          case res: Map[String @unchecked, Any @unchecked] =>
            doc.resolve(res.getOrElse("Font", null), 0) match {
              case fonts: Map[String @unchecked, Any @unchecked] =>
                fonts.foreach { case (fname, f) =>
                  doc.resolve(f, 0) match {
                    case fd: Map[String @unchecked, Any @unchecked] =>
                      if (doc.resolve(fd.getOrElse("Subtype", null), 0) ==
                        PdfName("Type0")) {
                        doc.resolve(fd.getOrElse("ToUnicode", null), 0) match {
                          case s: PdfStream =>
                            var t0 = cmapCache.get(s)
                            if (t0 == null) {
                              t0 = parseToUnicode(doc.streamData(s))
                              cmapCache.put(s, t0)
                            }
                            fm += (fname -> t0)
                          case _ => return unknown // no ToUnicode: reject
                        }
                      }
                    case _ =>
                  }
                }
              case _ =>
            }
          case _ =>
        }
        fontMaps(pi) = fm
        pi += 1
      }
      // text per page
      val rows = new Array[Any](pages.size())
      var total = 0
      pi = 0
      while (pi < pages.size()) {
        val contents = doc.resolve(pages.get(pi).getOrElse("Contents", null), 0)
        val buf = new java.io.ByteArrayOutputStream()
        def append(v: Any): Unit = doc.resolve(v, 0) match {
          case s: PdfStream =>
            val d = doc.streamData(s)
            buf.write(d, 0, d.length)
            buf.write('\n') // stream boundary is a token boundary
          case null =>
          case _ => bad()
        }
        contents match {
          case arr: Vector[Any @unchecked] => arr.foreach(append)
          case other => append(other)
        }
        val text = pageText(buf.toByteArray, MaxTextChars - total, fontMaps(pi))
        total += text.length
        rows(pi) = new GenericInternalRow(
          Array[Any](pi, UTF8String.fromString(text)))
        pi += 1
      }
      new GenericInternalRow(Array[Any](FmtPdf,
        UTF8String.fromString(version), pages.size(),
        new GenericArrayData(rows)))
    } catch {
      case _: Bad => unknown
      case _: NumberFormatException => unknown
      case _: StackOverflowError => unknown
    }
  }
}

/** Fixture ENCODER for [[PdfText]]: complete, valid PDFs whose
  * extracted page text is a pure seed formula. Every structural
  * obstacle the parser claims sits on the oracle hash across the seed
  * rotation:
  *
  *  - `1 + doc mod 3` pages; docs with `doc mod 3 == 0` route them
  *    through a TWO-LEVEL page tree (Pages → [Pages[kids…], lastPage]).
  *  - odd docs FlateDecode every content stream; `doc mod 4 == 2`
  *    stores `/Length` as an INDIRECT reference; `doc mod 4 == 3`
  *    splits each page's content across a two-stream /Contents ARRAY
  *    (cut between operators — BT stays open across the boundary).
  *  - `doc mod 7 == 3` writes the PDF 1.5 form: a cross-reference
  *    STREAM (W [1 4 2], per-object /Index pairs, FlateDecode);
  *    `doc mod 7 == 5` additionally packs every dict object into an
  *    OBJECT STREAM (type-2 entries — including indirect /Length
  *    targets when the rotations intersect) and runs the xref rows
  *    through the PNG Up predictor (/Predictor 12) real writers emit.
  *  - page text exercises `Tj` (with escaped parens), `TJ` (kern
  *    −200 renders a space, −50 does not), the `'` next-line-show
  *    operator, and a HEX string.
  *  - docs with `doc mod 5 == 0` append an INCREMENTAL UPDATE that
  *    re-defines page 0's dict and content stream behind a second
  *    xref section with `/Prev` — extraction must surface the UPDATED
  *    text, and on ObjStm docs the newer DIRECT object must beat the
  *    older compressed one.
  *  - classic-form docs with `doc mod 11 == 9` take their update as a
  *    HYBRID-reference section (classic table + trailer /XRefStm):
  *    the new content stream is listed ONLY in the xref stream, so
  *    §7.5.8.4 stream-over-table precedence sits on the hash.
  *  - docs with `doc mod 11 == 7` render the page body through a
  *    composite Type0 /F2 font: 2-byte non-ASCII codes decoded via a
  *    /ToUnicode CMap exercising bfchar, increment-bfrange, AND
  *    array-bfrange — with a mid-stream `Tf` switch from the simple
  *    /F1 (first line) on the hash. The page TEXT formula is
  *    unchanged, so only a correct CMap route can reproduce it.
  */
object PdfSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nPages(doc: Long): Int = 1 + fm(doc, 3)
  def updated(doc: Long): Boolean = fm(doc, 5) == 0 || fm(doc, 11) == 9
  /** Classic-form docs on the `mod 11 == 9` lane take their update as
    * a HYBRID-reference section: the classic table lists only the new
    * page dict while the new CONTENT stream is listed solely in the
    * trailer's /XRefStm stream — classic-chain-only resolution
    * provably yields the stale page text, so the hash carries
    * §7.5.8.4 precedence.
    */
  def hybridUpdate(doc: Long): Boolean =
    fm(doc, 11) == 9 && !xrefStreamForm(doc)

  /** The text both engines must agree on for page p. */
  def pageText(doc: Long, p: Int): String = {
    val first =
      if (p == 0 && updated(doc)) s"Doc $doc page 0 (updated)"
      else s"Doc $doc page $p (alpha)"
    first + "\n" +
      s"seg $doc one two\n" +
      s"quote 'p$p'\n" +
      s"hex ${java.lang.Long.toHexString(java.lang.Math.floorMod(doc, 256L))}"
  }

  /** Type0/CID docs: the page body renders through a composite /F2
    * font whose 2-byte codes deliberately do NOT coincide with ASCII
    * (0x0200+c, with 'a'..'c' and 'q' detoured through the CMap's
    * array-bfrange and bfchar forms) — byte-level extraction of these
    * strings would be garbage, so the hash proves the CMap route.
    */
  def type0(doc: Long): Boolean = fm(doc, 11) == 7

  /** Encode `s` as the /F2 composite font's hex show-string. */
  private def cidHex(s: String): String =
    s.map { c =>
      val code =
        if (c == 'q') 0x0400
        else if (c >= 'a' && c <= 'c') 0x0300 + (c - 'a')
        else 0x0200 + c.toInt
      f"$code%04X"
    }.mkString

  private def contentStream(doc: Long, p: Int, textOverride: String = null): String = {
    val first = if (textOverride != null) textOverride
      else s"Doc $doc page $p \\(alpha\\)"
    val hexLine = s"hex ${java.lang.Long.toHexString(java.lang.Math.floorMod(doc, 256L))}"
    if (type0(doc)) {
      // first line through the simple /F1 font, the rest through the
      // composite /F2 — Tf switching mid-stream sits on the hash
      s"""BT
         |/F1 12 Tf
         |72 720 Td
         |($first) Tj
         |/F2 12 Tf
         |0 -14 TD
         |[<${cidHex(s"seg $doc")}> -200 <${cidHex("one")}> -50 <${cidHex(" two")}>] TJ
         |<${cidHex(s"quote 'p$p'")}> '
         |T*
         |<${cidHex(hexLine)}> Tj
         |ET""".stripMargin
    } else {
      val hex = hexLine.map(c => f"${c.toInt}%02X").mkString
      s"""BT
         |/F1 12 Tf
         |72 720 Td
         |($first) Tj
         |0 -14 TD
         |[(seg $doc) -200 (one) -50 ( two)] TJ
         |(quote 'p$p') '
         |T*
         |<$hex> Tj
         |ET""".stripMargin
    }
  }

  /** The /ToUnicode CMap matching [[cidHex]]: all three mapping forms
    * (bfchar, increment bfrange, array bfrange) plus the PostScript
    * scaffolding real writers emit.
    */
  private def toUnicodeCMap: String =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CIDSystemInfo << /Registry (graft) /Ordering (synth) /Supplement 0 >> def
      |/CMapName /graft-synth def
      |/CMapType 2 def
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |1 beginbfchar
      |<0400> <0071>
      |endbfchar
      |2 beginbfrange
      |<0220> <027E> <0020>
      |<0300> <0302> [<0061> <0062> <0063>]
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1

  private final class Builder {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.Map[Int, Int]()
    def raw(s: String): Unit = {
      val b = s.getBytes(Latin1)
      out.write(b, 0, b.length)
    }
    def obj(num: Int, body: String): Unit = {
      offsets(num) = out.size()
      raw(s"$num 0 obj\n$body\nendobj\n")
    }
    def streamObj(num: Int, dict: String, data: Array[Byte]): Unit = {
      offsets(num) = out.size()
      raw(s"$num 0 obj\n$dict\nstream\n")
      out.write(data, 0, data.length)
      raw("\nendstream\nendobj\n")
    }
    def xrefAndTrailer(nums: Seq[Int], size: Int, rootRef: String,
        prev: Int = -1, xrefStm: Int = -1): Unit = {
      val xrefAt = out.size()
      raw("xref\n0 1\n0000000000 65535 f \n")
      nums.sorted.foreach { n =>
        raw(f"$n%d 1\n${offsets(n)}%010d 00000 n \n")
      }
      val prevPart = if (prev >= 0) s" /Prev $prev" else ""
      val stmPart = if (xrefStm >= 0) s" /XRefStm $xrefStm" else ""
      raw(s"trailer\n<< /Size $size /Root $rootRef$prevPart$stmPart >>\n")
      raw(s"startxref\n$xrefAt\n%%EOF\n")
    }

    /** A bare /Type /XRef stream OBJECT (no trailer/startxref) — the
      * hybrid-file side channel a classic trailer points at via
      * /XRefStm. Lists `directNums` plus itself; returns its offset.
      */
    def xrefStreamObjOnly(xrefNum: Int, directNums: Seq[Int], size: Int,
        rootRef: String): Int = {
      val xrefAt = out.size()
      val rows = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Int)]()
      directNums.foreach(n => rows += ((n, 1, offsets(n).toLong, 0)))
      rows += ((xrefNum, 1, xrefAt.toLong, 0))
      val sorted = rows.sortBy(_._1)
      val body = new java.io.ByteArrayOutputStream()
      sorted.foreach { case (_, typ, f2, f3) =>
        body.write(typ)
        body.write(((f2 >> 24) & 0xFF).toInt); body.write(((f2 >> 16) & 0xFF).toInt)
        body.write(((f2 >> 8) & 0xFF).toInt); body.write((f2 & 0xFF).toInt)
        body.write((f3 >> 8) & 0xFF); body.write(f3 & 0xFF)
      }
      val z = deflate(body.toByteArray)
      val idx = sorted.map(e => s"${e._1} 1").mkString(" ")
      raw(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
        s"/Index [$idx] /Root $rootRef /Filter /FlateDecode " +
        s"/Length ${z.length} >>\nstream\n")
      out.write(z, 0, z.length)
      raw("\nendstream\nendobj\n")
      xrefAt
    }

    /** The PDF 1.5 form: a /Type /XRef stream object. `compressedIn`
      * maps packed object numbers to their (objStmNum, slot). W is
      * [1 4 2]; with `predictor`, rows go through PNG Up filtering
      * behind /DecodeParms << /Predictor 12 /Columns 7 >>.
      */
    def xrefStreamAndTrailer(xrefNum: Int, directNums: Seq[Int],
        compressedIn: Seq[(Int, Int, Int)], size: Int, rootRef: String,
        prev: Int, predictor: Boolean): Unit = {
      val xrefAt = out.size()
      val rows = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Int)]()
      rows += ((0, 0, 0L, 65535)) // object 0: free
      directNums.foreach(n => rows += ((n, 1, offsets(n).toLong, 0)))
      compressedIn.foreach { case (n, stm, slot) =>
        rows += ((n, 2, stm.toLong, slot))
      }
      rows += ((xrefNum, 1, xrefAt.toLong, 0))
      val sorted = rows.sortBy(_._1)
      val body = new java.io.ByteArrayOutputStream()
      sorted.foreach { case (_, typ, f2, f3) =>
        body.write(typ)
        body.write(((f2 >> 24) & 0xFF).toInt); body.write(((f2 >> 16) & 0xFF).toInt)
        body.write(((f2 >> 8) & 0xFF).toInt); body.write((f2 & 0xFF).toInt)
        body.write((f3 >> 8) & 0xFF); body.write(f3 & 0xFF)
      }
      var data = body.toByteArray
      if (predictor) {
        // PNG Up (type 2) rows over Columns = 7
        val cols = 7
        val rowsN = data.length / cols
        val outP = new java.io.ByteArrayOutputStream()
        var r = 0
        while (r < rowsN) {
          outP.write(2)
          var x = 0
          while (x < cols) {
            val cur = data(r * cols + x) & 0xFF
            val up = if (r > 0) data((r - 1) * cols + x) & 0xFF else 0
            outP.write((cur - up) & 0xFF)
            x += 1
          }
          r += 1
        }
        data = outP.toByteArray
      }
      val z = deflate(data)
      val idx = sorted.map(e => s"${e._1} 1").mkString(" ")
      val parms =
        if (predictor) " /DecodeParms << /Predictor 12 /Columns 7 >>" else ""
      val prevPart = if (prev >= 0) s" /Prev $prev" else ""
      raw(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
        s"/Index [$idx] /Root $rootRef$prevPart /Filter /FlateDecode$parms " +
        s"/Length ${z.length} >>\nstream\n")
      out.write(z, 0, z.length)
      raw("\nendstream\nendobj\n")
      raw(s"startxref\n$xrefAt\n%%EOF\n")
    }

    /** Pack body-only objects into a /Type /ObjStm stream object.
      * Returns the packed (num → slot) assignments.
      */
    def objStm(stmNum: Int, objs: Seq[(Int, String)]): Seq[(Int, Int)] = {
      val bodies = objs.map(_._2.getBytes(Latin1))
      val offs = bodies.scanLeft(0)((a, b) => a + b.length + 1).init
      val header = objs.zip(offs)
        .map { case ((n, _), o) => s"$n $o" }.mkString(" ") + "\n"
      val hb = header.getBytes(Latin1)
      val data = new java.io.ByteArrayOutputStream()
      data.write(hb, 0, hb.length)
      bodies.foreach { x => data.write(x, 0, x.length); data.write(' ') }
      val z = deflate(data.toByteArray)
      offsets(stmNum) = out.size()
      raw(s"$stmNum 0 obj\n<< /Type /ObjStm /N ${objs.size} " +
        s"/First ${hb.length} /Filter /FlateDecode /Length ${z.length} >>\nstream\n")
      out.write(z, 0, z.length)
      raw("\nendstream\nendobj\n")
      objs.map(_._1).zipWithIndex
    }
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data)
      d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally d.end()
  }

  /** Which docs carry the PDF 1.5 forms (and say so in the header). */
  def xrefStreamForm(doc: Long): Boolean = fm(doc, 7) == 3 || fm(doc, 7) == 5
  def version(doc: Long): String = if (xrefStreamForm(doc)) "1.5" else "1.4"

  def pdfBytes(doc: Long): Array[Byte] = {
    if (doc < 0) return null
    val np = nPages(doc)
    val flate = fm(doc, 2) == 1
    val indirectLen = fm(doc, 4) == 2
    val splitContents = fm(doc, 4) == 3
    val twoLevel = fm(doc, 3) == 0
    val xrefStream = xrefStreamForm(doc)
    val useObjStm = fm(doc, 7) == 5 // ObjStm packing + PNG predictor

    val b = new Builder
    b.raw(s"%PDF-${version(doc)}\n%âãÏÓ\n")
    // object plan: 1 catalog, 2 pages root, 3 font, inner pages node 4
    // (two-level docs), pages at 10+p, contents at 20+p (and 40+p for
    // split-contents docs), lengths at 30+p (indirect-length docs),
    // ObjStm at 50, xref streams at 60/61
    val kidsRefs =
      if (twoLevel && np > 1)
        s"[4 0 R ${10 + np - 1} 0 R]"
      else (0 until np).map(p => s"${10 + p} 0 R").mkString("[", " ", "]")
    def parentOf(p: Int): String =
      if (twoLevel && np > 1 && p < np - 1) "4 0 R" else "2 0 R"
    // type0 docs add the composite /F2 (dict 5, descendant 6, CMap
    // stream 7) next to the simple /F1
    val fontsDict =
      if (type0(doc)) "<< /F1 3 0 R /F2 5 0 R >>" else "<< /F1 3 0 R >>"
    def pageDict(p: Int): String = {
      val contents =
        if (splitContents) s"[${20 + p} 0 R ${40 + p} 0 R]"
        else s"${20 + p} 0 R"
      s"""<< /Type /Page /Parent ${parentOf(p)} /MediaBox [0 0 612 792]
         | /Resources << /Font $fontsDict >>
         | /Contents $contents >>""".stripMargin
    }
    // dict-only objects: written plainly, or packed into the ObjStm
    val dictObjs = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    dictObjs += ((1, "<< /Type /Catalog /Pages 2 0 R >>"))
    dictObjs += ((2, s"<< /Type /Pages /Kids $kidsRefs /Count $np >>"))
    dictObjs += ((3, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"))
    if (twoLevel && np > 1) {
      val inner = (0 until np - 1).map(p => s"${10 + p} 0 R")
        .mkString("[", " ", "]")
      dictObjs +=
        ((4, s"<< /Type /Pages /Kids $inner /Count ${np - 1} /Parent 2 0 R >>"))
    }
    if (type0(doc)) {
      dictObjs += ((5, "<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
        "/Encoding /Identity-H /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>"))
      dictObjs += ((6, "<< /Type /Font /Subtype /CIDFontType2 " +
        "/BaseFont /GraftCID /CIDSystemInfo << /Registry (graft) " +
        "/Ordering (synth) /Supplement 0 >> >>"))
    }
    val streamLens = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    val streamNums = scala.collection.mutable.ArrayBuffer[Int]()
    if (type0(doc)) {
      val cm = toUnicodeCMap.getBytes(Latin1)
      val data = if (flate) deflate(cm) else cm
      val filterPart = if (flate) " /Filter /FlateDecode" else ""
      b.streamObj(7, s"<< /Length ${data.length}$filterPart >>", data)
      streamNums += 7
    }
    for (p <- 0 until np) {
      dictObjs += ((10 + p, pageDict(p)))
      val full = contentStream(doc, p)
      // split docs cut between operators (a legal multi-stream page)
      val parts =
        if (splitContents) {
          val cut = full.indexOf("0 -14 TD")
          Seq(full.substring(0, cut), full.substring(cut))
        } else Seq(full)
      parts.zipWithIndex.foreach { case (part, pi) =>
        val num = (if (pi == 0) 20 else 40) + p
        val data = if (flate) deflate(part.getBytes(Latin1))
          else part.getBytes(Latin1)
        val lenPart =
          if (indirectLen) s"/Length ${30 + p} 0 R"
          else s"/Length ${data.length}"
        val filterPart = if (flate) " /Filter /FlateDecode" else ""
        b.streamObj(num, s"<< $lenPart$filterPart >>", data)
        streamNums += num
        if (indirectLen && pi == 0) streamLens += ((30 + p, data.length))
      }
    }
    streamLens.foreach { case (n, len) => dictObjs += ((n, len.toString)) }
    if (xrefStream) {
      if (useObjStm) {
        val slots = b.objStm(50, dictObjs.toSeq)
        b.xrefStreamAndTrailer(60, streamNums.toSeq :+ 50,
          slots.map { case (n, slot) => (n, 50, slot) }, 70, "1 0 R",
          prev = -1, predictor = true)
      } else {
        dictObjs.foreach { case (n, s) => b.obj(n, s) }
        b.xrefStreamAndTrailer(60, streamNums.toSeq ++ dictObjs.map(_._1),
          Nil, 70, "1 0 R", prev = -1, predictor = false)
      }
    } else {
      dictObjs.foreach { case (n, s) => b.obj(n, s) }
      b.xrefAndTrailer(streamNums.toSeq ++ dictObjs.map(_._1), 70, "1 0 R")
    }

    if (updated(doc)) {
      // incremental update: re-define page 0's DICT (collapsing any
      // split back to one stream — and, for ObjStm docs, overriding a
      // compressed object with a direct one, which must win) plus its
      // content stream, chained through /Prev
      val firstXrefAt = {
        val s = new String(b.out.toByteArray, Latin1)
        val at = s.lastIndexOf("startxref")
        s.substring(at + 10, s.indexOf('\n', at + 10)).trim.toInt
      }
      b.obj(10,
        s"""<< /Type /Page /Parent ${parentOf(0)} /MediaBox [0 0 612 792]
           | /Resources << /Font $fontsDict >>
           | /Contents 20 0 R >>""".stripMargin)
      val cs2 = contentStream(doc, 0,
        textOverride = s"Doc $doc page 0 \\(updated\\)").getBytes(Latin1)
      val data2 = if (flate) deflate(cs2) else cs2
      val filterPart = if (flate) " /Filter /FlateDecode" else ""
      b.streamObj(20, s"<< /Length ${data2.length}$filterPart >>", data2)
      if (xrefStream)
        b.xrefStreamAndTrailer(61, Seq(10, 20), Nil, 70, "1 0 R",
          prev = firstXrefAt, predictor = useObjStm)
      else if (hybridUpdate(doc)) {
        // hybrid: the classic table lists ONLY the page dict; the new
        // content stream is reachable solely through /XRefStm
        val stmAt = b.xrefStreamObjOnly(62, Seq(20), 70, "1 0 R")
        b.xrefAndTrailer(Seq(10), 70, "1 0 R", prev = firstXrefAt,
          xrefStm = stmAt)
      } else
        b.xrefAndTrailer(Seq(10, 20), 70, "1 0 R", prev = firstXrefAt)
    }
    b.out.toByteArray
  }
}

/** Expression wrapping [[PdfSynth.pdfBytes]]. */
case class SynthPdf(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    PdfSynth.pdfBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.PdfSynth.pdfBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfFunctions {
  /** Column API: PDF page-text extraction (classic xref, FlateDecode,
    * BT/ET text).
    */
  def pdf_text(payload: Column): Column =
    ExpressionUtils.column(PdfText(ExpressionUtils.expression(payload)))

  /** Column API: structured-PDF fixture from a doc seed. */
  def synth_pdf(doc: Column): Column =
    ExpressionUtils.column(SynthPdf(ExpressionUtils.expression(doc)))
}
