package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DOCX text extraction — the top OFFICE-document modality in crawled
  * corpora (ECMA-376 / ISO 29500 WordprocessingML inside an OPC ZIP):
  * the verified central-directory walk ([[ZipEntries]] — every member
  * inflated and CRC-gated, ZIP64 included) surfaces
  * `word/document.xml`, and a linear WML walk assembles text with
  * FIXED rules two engines can agree on byte-for-byte:
  *
  *  - each `<w:p>` paragraph is one output line; lines join with
  *    `\n`; an EMPTY paragraph (`<w:p/>`) is an empty line — Word
  *    uses them as vertical spacing and dropping them would merge
  *    semantically separate blocks;
  *  - `<w:t>` runs contribute their character data VERBATIM (so
  *    `xml:space="preserve"` needs no special case), with the XML
  *    five character entities and `&#NN;`/`&#xHH;` references
  *    decoded; text outside `<w:t>` (properties, field codes) is
  *    ignored;
  *  - `<w:tab/>` renders `\t`, `<w:br/>` renders `\n` inside its
  *    paragraph; table cells need no special casing — their
  *    paragraphs are lines like any other, in document order;
  *  - XML comments are skipped; all other elements are structural
  *    and contribute nothing.
  *
  * Honest rejects: not a readable archive (any corrupt member fails
  * the ZIP walk's CRC gate), no `[Content_Types].xml` (not an OPC
  * package), no `word/document.xml`, torn tags, or a `<w:t>` left
  * open at EOF. At 100 TB: one per-row parse, zero shuffle.
  */
case class DocxText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DocxText.schema
  override def nullable: Boolean = false

  override def nullSafeEval(v: Any): Any =
    DocxText.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.DocxText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocxText {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("n_paragraphs", IntegerType, nullable = true),
    StructField("text", StringType, nullable = true)))

  private val FmtDocx = UTF8String.fromString("docx")
  private val FmtUnknown = UTF8String.fromString("unknown")
  private val MaxParagraphs = 1 << 16
  private val MaxTextChars = 1 << 22

  private def unknown: InternalRow =
    new GenericInternalRow(Array[Any](FmtUnknown, null, null))

  /** Decode the XML five plus numeric character references; anything
    * else passes through verbatim (the HtmlTextExtract stance).
    */
  private def decodeXml(s: String, out: StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          val decoded: String = name match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case _ if name.startsWith("#x") || name.startsWith("#X") =>
              try {
                val cp = Integer.parseInt(name.substring(2), 16)
                if (Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp)) else null
              } catch { case _: NumberFormatException => null }
            case _ if name.startsWith("#") =>
              try {
                val cp = Integer.parseInt(name.substring(1))
                if (Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp)) else null
              } catch { case _: NumberFormatException => null }
            case _ => null
          }
          if (decoded != null) { out.append(decoded); i = semi + 1 }
          else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
  }

  // shared with the other office walks (ODT/PPTX/XLSX)
  private[graftnative] def decodeXmlInto(s: String, out: StringBuilder): Unit =
    decodeXml(s, out)

  /** The WML walk over `word/document.xml`; null on malformed input. */
  private[graftnative] def extractWml(xml: String): (Int, String) = {
    val n = xml.length
    val lines = new java.util.ArrayList[String]()
    val para = new StringBuilder()
    var inP = false
    var inT = false
    var total = 0
    var i = 0
    def flush(): Unit = {
      total += para.length + 1
      if (lines.size() >= MaxParagraphs || total > MaxTextChars)
        throw new IllegalStateException("docx caps")
      lines.add(para.toString)
      para.setLength(0)
    }
    while (i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) {
        if (inT || inP) return null // torn: document.xml ends inside markup
        i = n
      } else {
        if (lt > i && inT) decodeXml(xml.substring(i, lt), para)
        if (xml.startsWith("<!--", lt)) {
          val close = xml.indexOf("-->", lt + 4)
          if (close < 0) return null
          i = close + 3
        } else {
          // quote-aware tag end scan (attribute values may carry '>')
          var j = lt + 1
          var quote: Char = 0
          var end = -1
          while (end < 0 && j < n) {
            val c = xml.charAt(j)
            if (quote != 0) { if (c == quote) quote = 0 }
            else if (c == '"' || c == '\'') quote = c
            else if (c == '>') end = j
            j += 1
          }
          if (end < 0) return null // torn tag
          val inner = xml.substring(lt + 1, end)
          val closing = inner.startsWith("/")
          val selfClosed = inner.endsWith("/")
          val body = if (closing) inner.substring(1) else inner
          var k = 0
          while (k < body.length && (Character.isLetterOrDigit(body.charAt(k)) ||
            body.charAt(k) == ':')) k += 1
          val name = body.substring(0, k)
          i = end + 1
          name match {
            case "w:p" =>
              if (closing) { if (!inP) return null; flush(); inP = false }
              else if (selfClosed) flush() // empty paragraph: empty line
              else { if (inP) return null; inP = true }
            case "w:t" =>
              if (closing) { if (!inT) return null; inT = false }
              else if (!selfClosed) { if (inT) return null; inT = true }
            case "w:tab" => if (!closing && inP) para.append('\t')
            case "w:br" => if (!closing && inP) para.append('\n')
            case _ => // structural / properties / ?xml decl: inert
          }
        }
      }
    }
    if (inP || inT) return null
    val sb = new StringBuilder()
    var li = 0
    while (li < lines.size()) {
      if (li > 0) sb.append('\n')
      sb.append(lines.get(li))
      li += 1
    }
    (lines.size(), sb.toString)
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 22) return unknown
    val entries = ZipEntries.decodedEntries(b)
    if (entries == null) return unknown
    var hasTypes = false
    var docXml: Array[Byte] = null
    var e = 0
    while (e < entries.length) {
      val en = entries(e)
      if (en.name == "[Content_Types].xml") hasTypes = true
      else if (en.name == "word/document.xml") docXml = en.data
      e += 1
    }
    if (!hasTypes || docXml == null) return unknown
    val xml = new String(docXml, java.nio.charset.StandardCharsets.UTF_8)
    try {
      extractWml(xml) match {
        case null => unknown
        case (nParas, text) =>
          new GenericInternalRow(Array[Any](FmtDocx, nParas,
            UTF8String.fromString(text)))
      }
    } catch {
      case _: IllegalStateException => unknown
    }
  }
}

/** Fixture ENCODER for [[DocxText]]: a real OPC package
  * (`[Content_Types].xml`, `_rels/.rels`, a styles.xml decoy, and
  * `word/document.xml`) whose extracted text is a pure seed formula.
  * The WML carries every rule the extractor claims: split runs within
  * a paragraph, an `xml:space="preserve"` run with a leading space, a
  * `<w:tab/>`, a `<w:br/>`, XML entities (`&amp; &lt; &#8212;`), a
  * 2×2 TABLE whose cell paragraphs become lines in document order,
  * an empty `<w:p/>` spacer, `1 + doc mod 3` body paragraphs, and
  * run properties (`<w:rPr>`) whose content must NOT leak into text.
  */
object DocxSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nBody(doc: Long): Int = 1 + fm(doc, 3)

  /** The paragraph lines both engines must agree on. */
  def expectedLines(doc: Long): Seq[String] = {
    val body = (0 until nBody(doc)).map(i =>
      s"para $i of $doc " + "w" * (2 + fm(doc + i, 4)))
    Seq(s"Title $doc",
      s"split run $doc",
      s"tab\tafter ${fm(doc, 7)}",
      s"amp & lt < dash — $doc",
      s"line one${'\n'}line two $doc") ++
      body ++
      Seq(s"cell 0 0 $doc", s"cell 0 1 $doc",
        s"cell 1 0 $doc", s"cell 1 1 $doc",
        "")
  }

  def expectedText(doc: Long): String = expectedLines(doc).mkString("\n")
  def nParagraphs(doc: Long): Int = expectedLines(doc).size

  private def para(runs: String): String = s"<w:p>$runs</w:p>"
  private def run(t: String): String = s"<w:r><w:t>$t</w:t></w:r>"

  def documentXml(doc: Long): String = {
    val sb = new StringBuilder()
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sb.append("<w:document xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\">\n<w:body>\n")
    // title with run properties that must not leak
    sb.append(para("<w:pPr><w:pStyle w:val=\"Heading1\"/></w:pPr>" +
      s"<w:r><w:rPr><w:b/></w:rPr><w:t>Title $doc</w:t></w:r>")).append('\n')
    // split runs + xml:space preserve with a leading space
    sb.append(para(run("split") +
      s"<w:r><w:t xml:space=\"preserve\"> run $doc</w:t></w:r>")).append('\n')
    // tab between runs
    sb.append(para(run("tab") +
      s"<w:r><w:tab/><w:t>after ${fm(doc, 7)}</w:t></w:r>")).append('\n')
    // entities: named five + a numeric em-dash
    sb.append(para(run(s"amp &amp; lt &lt; dash &#8212; $doc"))).append('\n')
    // an in-paragraph line break
    sb.append(para(run("line one") +
      s"<w:r><w:br/><w:t>line two $doc</w:t></w:r>")).append('\n')
    for (i <- 0 until nBody(doc))
      sb.append(para(run(s"para $i of $doc " + "w" * (2 + fm(doc + i, 4)))))
        .append('\n')
    // a 2x2 table: cells are ordinary paragraphs in document order
    sb.append("<w:tbl><w:tblPr/>")
    for (r <- 0 until 2) {
      sb.append("<w:tr>")
      for (c <- 0 until 2)
        sb.append("<w:tc><w:tcPr/>").append(para(run(s"cell $r $c $doc")))
          .append("</w:tc>")
      sb.append("</w:tr>")
    }
    sb.append("</w:tbl>\n")
    sb.append("<w:p/>\n") // empty spacer paragraph: an empty line
    sb.append("<w:sectPr><w:pgSz w:w=\"12240\" w:h=\"15840\"/></w:sectPr>\n")
    sb.append("</w:body>\n</w:document>\n")
    sb.toString
  }

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |</Types>""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>""".stripMargin

  private val Styles =
    "<?xml version=\"1.0\"?><w:styles xmlns:w=\"x\">" +
      "<w:style><w:name w:val=\"Normal\"/></w:style></w:styles>"

  def docxBytes(doc: Long): Array[Byte] = {
    if (doc < 0) return null
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    ZipSynth.writeArchive(Seq(
      ("[Content_Types].xml", 8, ContentTypes.getBytes(utf8),
        Array.emptyByteArray),
      ("_rels/.rels", 8, Rels.getBytes(utf8), Array.emptyByteArray),
      ("word/styles.xml", 8, Styles.getBytes(utf8), Array.emptyByteArray),
      ("word/document.xml", 8, documentXml(doc).getBytes(utf8),
        Array.emptyByteArray)),
      "", ZipSynth.zip64Mode(doc)) // the ZIP64 lanes apply here too
  }
}

/** Expression wrapping [[DocxSynth.docxBytes]]. */
case class SynthDocx(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    DocxSynth.docxBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.DocxSynth.docxBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocxFunctions {
  /** Column API: DOCX (WordprocessingML) text extraction. */
  def docx_text(payload: Column): Column =
    ExpressionUtils.column(DocxText(ExpressionUtils.expression(payload)))

  /** Column API: OPC/DOCX fixture from a doc seed. */
  def synth_docx(doc: Column): Column =
    ExpressionUtils.column(SynthDocx(ExpressionUtils.expression(doc)))
}
