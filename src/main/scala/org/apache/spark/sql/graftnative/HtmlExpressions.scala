package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML visible-text extraction — the step between [[WarcRecords]] and
  * the text pipeline (dedup, quality, LM scoring all consume TEXT, and
  * a crawl hands you markup). The rules are fixed and documented so
  * two engines can agree byte-for-byte on the output:
  *
  *  1. `<script>`, `<style>`, `<!-- comments -->`, and
  *     `<![CDATA[ ... ]]>` sections are dropped WITH their contents
  *     (case-insensitive; a torn script/comment/CDATA drops the
  *     remainder of the document rather than leaking code as text).
  *  2. The first `<title>` is captured separately (whitespace-collapsed).
  *  3. BLOCK tags (`p div br h1-h6 li tr td th ul ol table section
  *     article header footer blockquote pre`) start a new output line;
  *     inline tags (`a b i em strong span ...` — anything else)
  *     disappear, their text flowing into the current line.
  *  4. Character references are decoded: the XML five (`&amp; &lt;
  *     &gt; &quot; &apos;`), the common HTML named set (`&nbsp;
  *     &mdash; &rsquo; &copy; &euro; ...` — the Latin-1 punctuation/
  *     symbol block plus General-Punctuation names), and `&#NN;` /
  *     `&#xHH;` including supplementary-plane code points (surrogate
  *     pairs emitted, invalid code points passed through verbatim).
  *     Unknown named entities pass through verbatim.
  *  5. Whitespace inside a line collapses to single spaces; lines are
  *     trimmed; empty lines are dropped; lines join with `\n`.
  *  6. `n_links` counts `<a` open tags carrying an `href` ATTRIBUTE —
  *     the name matched at an attribute boundary outside quoted
  *     values, so `data-xhref=`, `class="hrefbtn"`, `hreflang=`, and
  *     mentions inside attribute VALUES do not count.
  *
  * Attribute values may contain `>` inside quotes — the tag scanner is
  * quote-aware, which is the classic naive-splitter bug. Output is a
  * struct `(title, text, n_links)`; null input stays null, and inputs
  * with NO tags at all pass through rule 4-5 (plain text is legal
  * HTML). This is a TEXT-pipeline extractor with defined semantics,
  * not a browser: no DOM tree, no CSS visibility, no JS.
  */
case class HtmlTextExtract(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = HtmlTextExtract.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HtmlTextExtract.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.HtmlTextExtract.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlTextExtract {
  val schema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("text", StringType, nullable = false),
    StructField("n_links", IntegerType, nullable = false)))

  private val BlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "br", "h1", "h2", "h3", "h4", "h5", "h6", "li", "tr",
      "td", "th", "ul", "ol", "table", "section", "article", "header",
      "footer", "blockquote", "pre").foreach(s.add)
    s
  }

  /** The common HTML named references beyond the XML five: the Latin-1
    * supplement block (nbsp..iquest, times, divide) and the General
    * Punctuation / symbol names real pages actually use (quotes,
    * dashes, ellipsis, bullet, euro, trade, arrows). Single canonical
    * code point each, per the WHATWG named-references table.
    */
  private val NamedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("amp", "&"); m.put("lt", "<"); m.put("gt", ">")
    m.put("quot", "\""); m.put("apos", "'")
    val latin1 = Seq(
      "nbsp" -> 0xA0, "iexcl" -> 0xA1, "cent" -> 0xA2, "pound" -> 0xA3,
      "curren" -> 0xA4, "yen" -> 0xA5, "brvbar" -> 0xA6, "sect" -> 0xA7,
      "uml" -> 0xA8, "copy" -> 0xA9, "ordf" -> 0xAA, "laquo" -> 0xAB,
      "not" -> 0xAC, "shy" -> 0xAD, "reg" -> 0xAE, "macr" -> 0xAF,
      "deg" -> 0xB0, "plusmn" -> 0xB1, "sup2" -> 0xB2, "sup3" -> 0xB3,
      "acute" -> 0xB4, "micro" -> 0xB5, "para" -> 0xB6, "middot" -> 0xB7,
      "cedil" -> 0xB8, "sup1" -> 0xB9, "ordm" -> 0xBA, "raquo" -> 0xBB,
      "frac14" -> 0xBC, "frac12" -> 0xBD, "frac34" -> 0xBE,
      "iquest" -> 0xBF, "times" -> 0xD7, "divide" -> 0xF7)
    val punct = Seq(
      "ndash" -> 0x2013, "mdash" -> 0x2014, "lsquo" -> 0x2018,
      "rsquo" -> 0x2019, "sbquo" -> 0x201A, "ldquo" -> 0x201C,
      "rdquo" -> 0x201D, "bdquo" -> 0x201E, "dagger" -> 0x2020,
      "Dagger" -> 0x2021, "bull" -> 0x2022, "hellip" -> 0x2026,
      "permil" -> 0x2030, "prime" -> 0x2032, "Prime" -> 0x2033,
      "lsaquo" -> 0x2039, "rsaquo" -> 0x203A, "oline" -> 0x203E,
      "frasl" -> 0x2044, "euro" -> 0x20AC, "trade" -> 0x2122,
      "minus" -> 0x2212, "larr" -> 0x2190, "uarr" -> 0x2191,
      "rarr" -> 0x2192, "darr" -> 0x2193, "harr" -> 0x2194)
    (latin1 ++ punct).foreach { case (k, cp) =>
      m.put(k, String.valueOf(cp.toChar))
    }
    m
  }

  /** Code point → string, surrogate pairs for supplementary planes;
    * null on an invalid code point (the reference then passes through
    * verbatim, matching the unknown-name stance).
    */
  private def codePointStr(cp: Int): String =
    if (cp < 0 || cp > Character.MAX_CODE_POINT ||
        (cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE)) null
    else new String(Character.toChars(cp))

  /** Decode character references into `out`. */
  private def decodeEntities(s: String, out: StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          val decoded: String =
            if (name.startsWith("#x") || name.startsWith("#X")) {
              try codePointStr(Integer.parseInt(name.substring(2), 16))
              catch { case _: NumberFormatException => null }
            } else if (name.startsWith("#")) {
              try codePointStr(Integer.parseInt(name.substring(1)))
              catch { case _: NumberFormatException => null }
            } else NamedEntities.get(name)
          if (decoded != null) { out.append(decoded); i = semi + 1 }
          else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
  }

  /** Case-insensitive forward scan for `"</" + name` starting at
    * `from`; linear in the remaining document and index-stable. The
    * former whole-document `toLowerCase` was quadratic on script-heavy
    * pages AND unsafe: Java lowercasing can change string LENGTH
    * (U+0130 'İ' lowers to two chars), so an index found in the
    * lowered copy misaligns against the original.
    */
  private def findCloseTag(html: String, from: Int, name: String): Int = {
    val needle = "</" + name
    val nl = needle.length
    var p = from
    val last = html.length - nl
    while (p <= last) {
      if (html.charAt(p) == '<' && html.regionMatches(true, p, needle, 0, nl))
        return p
      p += 1
    }
    -1
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** True when the tag body carries an `href` ATTRIBUTE: the name at
    * an attribute boundary (preceded by whitespace or '/'), followed by
    * '=', whitespace, or end-of-body, and OUTSIDE quoted attribute
    * values — so `data-xhref=`, `hreflang=`, `class="hrefbtn"`, and
    * `title="see href=x"` all correctly do not count.
    */
  private def hasHrefAttr(body: String): Boolean = {
    val n = body.length
    var p = 0
    var quote: Char = 0
    while (p < n) {
      val c = body.charAt(p)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if ((c == 'h' || c == 'H') && p > 0 &&
          (isWs(body.charAt(p - 1)) || body.charAt(p - 1) == '/') &&
          body.regionMatches(true, p, "href", 0, 4) &&
          (p + 4 >= n || body.charAt(p + 4) == '=' || isWs(body.charAt(p + 4))))
        return true
      p += 1
    }
    false
  }

  /** Collapse whitespace runs to single spaces and trim. */
  private def collapse(s: String): String = {
    val out = new StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') {
        pendingSpace = out.nonEmpty
      } else {
        if (pendingSpace) out.append(' ')
        pendingSpace = false
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  // shared with MainContent (same tag grammar, different block model)
  private[graftnative] def collapseWs(s: String): String = collapse(s)
  private[graftnative] def decodeEntitiesInto(s: String, out: StringBuilder): Unit =
    decodeEntities(s, out)
  private[graftnative] def findClose(html: String, from: Int, name: String): Int =
    findCloseTag(html, from, name)
  private[graftnative] def isBlockTag(name: String): Boolean =
    BlockTags.contains(name)

  def compute(v: UTF8String): InternalRow = {
    val html = v.toString
    val n = html.length
    var i = 0
    var title: String = null
    var nLinks = 0
    val lines = new java.util.ArrayList[String]()
    val cur = new StringBuilder()
    def flush(): Unit = {
      val line = collapse(cur.toString)
      cur.setLength(0)
      if (line.nonEmpty) lines.add(line)
    }
    var inTitle = false
    val titleBuf = new StringBuilder()
    while (i < n) {
      val lt = html.indexOf('<', i)
      val textEnd = if (lt < 0) n else lt
      if (textEnd > i) {
        val seg = new StringBuilder()
        decodeEntities(html.substring(i, textEnd), seg)
        if (inTitle) titleBuf.append(seg) else cur.append(seg)
      }
      if (lt < 0) {
        i = n
      } else if (html.startsWith("<!--", lt)) {
        val close = html.indexOf("-->", lt + 4)
        i = if (close < 0) n else close + 3
      } else if (html.startsWith("<![CDATA[", lt)) {
        val close = html.indexOf("]]>", lt + 9)
        i = if (close < 0) n else close + 3
      } else {
        // quote-aware tag end scan
        var j = lt + 1
        var quote: Char = 0
        var end = -1
        while (end < 0 && j < n) {
          val c = html.charAt(j)
          if (quote != 0) { if (c == quote) quote = 0 }
          else if (c == '"' || c == '\'') quote = c
          else if (c == '>') end = j
          j += 1
        }
        if (end < 0) { i = n } // torn tag: drop the remainder
        else {
          val inner = html.substring(lt + 1, end)
          val closing = inner.startsWith("/")
          val body = if (closing) inner.substring(1) else inner
          var k = 0
          while (k < body.length && Character.isLetterOrDigit(body.charAt(k))) k += 1
          val name = body.substring(0, k).toLowerCase(java.util.Locale.ROOT)
          i = end + 1
          if (!closing && (name == "script" || name == "style")) {
            // skip contents to the matching close tag
            val close = findCloseTag(html, i, name)
            if (close < 0) i = n
            else {
              val gt = html.indexOf('>', close)
              i = if (gt < 0) n else gt + 1
            }
          } else if (name == "title") {
            if (closing) {
              if (inTitle && title == null) title = collapse(titleBuf.toString)
              inTitle = false
            } else if (title == null) inTitle = true
          } else {
            if (!closing && name == "a" && hasHrefAttr(body))
              nLinks += 1
            if (BlockTags.contains(name)) flush()
          }
        }
      }
    }
    flush()
    val sb = new StringBuilder()
    var li = 0
    while (li < lines.size()) {
      if (li > 0) sb.append('\n')
      sb.append(lines.get(li))
      li += 1
    }
    new GenericInternalRow(Array[Any](
      if (title == null) null else UTF8String.fromString(title),
      UTF8String.fromString(sb.toString), nLinks))
  }
}

/** HTML MAIN-CONTENT extraction (boilerplate strip) — the segmenter
  * every production crawl pipeline runs between raw visible text and
  * dedup/quality scoring: nav, sidebar, and footer chrome otherwise
  * flows into shingles and creates cross-site false dup pairs. The
  * jusText/trafilatura-style block model, with FIXED documented rules
  * so two engines agree byte-for-byte:
  *
  *  1. The page is segmented into BLOCKS at the same block-level tags
  *     [[HtmlTextExtract]] uses for line breaks; script/style/comment
  *     contents are dropped; the title never enters a block.
  *  2. Per block: collapsed text, its length in chars, the LINK chars
  *     (text inside `<a>`), and the whitespace word count.
  *  3. A block is BOILERPLATE when any of: (a) any of its text was
  *     inside `<nav> <header> <footer> <aside>` (structural chrome);
  *     (b) link density ≥ 1/3 (`3 * linkChars >= chars`, chars > 0);
  *     (c) fewer than 5 words. Otherwise it is CONTENT.
  *  4. Output: content blocks joined with `\n`, plus kept/dropped
  *     counts so callers can gate on chrome-heavy pages.
  *
  * The thresholds are the classifier — fixed constants, not tuned
  * per-corpus, exactly so the decision is reproducible by the oracle.
  */
case class MainContent(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = MainContent.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    MainContent.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.MainContent.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MainContent {
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("n_dropped", IntegerType, nullable = false)))

  private val ChromeTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("nav", "header", "footer", "aside").foreach(s.add)
    s
  }
  private val MinWords = 5

  def compute(v: UTF8String): InternalRow = {
    val html = v.toString
    val n = html.length
    var i = 0
    var chromeDepth = 0
    var aDepth = 0
    var inTitle = false
    val kept = new java.util.ArrayList[String]()
    var nDropped = 0
    val cur = new StringBuilder()
    val curLink = new StringBuilder()
    var curChrome = false
    def flush(): Unit = {
      val text = HtmlTextExtract.collapseWs(cur.toString)
      val linkLen = HtmlTextExtract.collapseWs(curLink.toString).length
      cur.setLength(0)
      curLink.setLength(0)
      val chrome = curChrome
      curChrome = false
      if (text.nonEmpty) {
        var words = 1
        var w = 0
        while (w < text.length) { if (text.charAt(w) == ' ') words += 1; w += 1 }
        val boiler = chrome || 3 * linkLen >= text.length || words < MinWords
        if (boiler) nDropped += 1 else kept.add(text)
      }
    }
    while (i < n) {
      val lt = html.indexOf('<', i)
      val textEnd = if (lt < 0) n else lt
      if (textEnd > i && !inTitle) {
        val seg = new StringBuilder()
        HtmlTextExtract.decodeEntitiesInto(html.substring(i, textEnd), seg)
        cur.append(seg)
        if (aDepth > 0) curLink.append(seg)
        if (chromeDepth > 0) curChrome = true
      }
      if (lt < 0) {
        i = n
      } else if (html.startsWith("<!--", lt)) {
        val close = html.indexOf("-->", lt + 4)
        i = if (close < 0) n else close + 3
      } else if (html.startsWith("<![CDATA[", lt)) {
        val close = html.indexOf("]]>", lt + 9)
        i = if (close < 0) n else close + 3
      } else {
        var j = lt + 1
        var quote: Char = 0
        var end = -1
        while (end < 0 && j < n) {
          val c = html.charAt(j)
          if (quote != 0) { if (c == quote) quote = 0 }
          else if (c == '"' || c == '\'') quote = c
          else if (c == '>') end = j
          j += 1
        }
        if (end < 0) { i = n } // torn tag: drop the remainder
        else {
          val inner = html.substring(lt + 1, end)
          val closing = inner.startsWith("/")
          val body = if (closing) inner.substring(1) else inner
          var k = 0
          while (k < body.length && Character.isLetterOrDigit(body.charAt(k))) k += 1
          val name = body.substring(0, k).toLowerCase(java.util.Locale.ROOT)
          i = end + 1
          if (!closing && (name == "script" || name == "style")) {
            val close = HtmlTextExtract.findClose(html, i, name)
            if (close < 0) i = n
            else {
              val gt = html.indexOf('>', close)
              i = if (gt < 0) n else gt + 1
            }
          } else if (name == "title") {
            inTitle = !closing && !inner.endsWith("/")
            if (closing) inTitle = false
          } else {
            if (ChromeTags.contains(name)) {
              if (closing) { if (chromeDepth > 0) chromeDepth -= 1 }
              else if (!inner.endsWith("/")) chromeDepth += 1
            }
            if (name == "a") {
              if (closing) { if (aDepth > 0) aDepth -= 1 }
              else if (!inner.endsWith("/")) aDepth += 1
            }
            if (HtmlTextExtract.isBlockTag(name)) flush()
          }
        }
      }
    }
    flush()
    val sb = new StringBuilder()
    var li = 0
    while (li < kept.size()) {
      if (li > 0) sb.append('\n')
      sb.append(kept.get(li))
      li += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(sb.toString),
      kept.size(), nDropped))
  }
}

/** Fixture for [[MainContent]]: a realistic page skeleton whose MAIN
  * text is a pure seed formula and whose chrome exercises every drop
  * rule — a `<header>`/`<nav>` link bar (chrome rule), a link-list
  * sidebar `<div>` OUTSIDE any chrome tag (density rule), a short
  * "Read more" teaser (word-count rule), and a `<footer>` — plus one
  * content paragraph carrying an INLINE link whose density stays
  * under 1/3 and must be KEPT.
  */
object MainSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nParas(seed: Long): Int = 1 + fm(seed, 3)

  def paraText(seed: Long, i: Int): String =
    s"story $seed part $i alpha beta gamma " + "tok " * (3 + fm(seed + i, 4)) +
      s"end $i"

  /** The linked paragraph: 12 words of text, a 2-word link. */
  def linkedParaText(seed: Long): String =
    s"update $seed with one small link inside a much longer sentence " +
      s"ref ${fm(seed, 9)}"

  def expectedText(seed: Long): String =
    ((0 until nParas(seed)).map(paraText(seed, _)) :+ linkedParaText(seed))
      .mkString("\n")

  def expectedKept(seed: Long): Int = nParas(seed) + 1

  def htmlString(seed: Long): String = {
    val sb = new StringBuilder()
    sb.append("<html><head><title>Site ").append(fm(seed, 9))
      .append("</title></head><body>\n")
    sb.append("<header><h1>Example Site ").append(fm(seed, 9))
      .append("</h1><nav>")
    for (k <- 0 until 4)
      sb.append("<a href=\"/s").append(k).append("\">Section ").append(k)
        .append("</a> ")
    sb.append("</nav></header>\n")
    // the content paragraphs (formula text, no links)
    for (i <- 0 until nParas(seed))
      sb.append("<p>").append(paraText(seed, i)).append("</p>\n")
    // a KEPT paragraph with one inline low-density link
    sb.append("<p>update ").append(seed)
      .append(" with one small <a href=\"/r\">link inside</a>")
      .append(" a much longer sentence ref ").append(fm(seed, 9))
      .append("</p>\n")
    // sidebar: a link list OUTSIDE chrome tags — the density rule
    sb.append("<div>")
    for (k <- 0 until 3)
      sb.append("<a href=\"/rel").append(k).append("\">related ")
        .append(fm(seed + k, 5)).append("</a> also")
    sb.append("</div>\n")
    // a short teaser — the word-count rule
    sb.append("<p>Read more here</p>\n")
    sb.append("<footer>Copyright ").append(2000 + fm(seed, 20))
      .append(" Example Site. All rights reserved forever.</footer>\n")
    sb.append("</body></html>\n")
    sb.toString
  }
}

/** Expression wrapping [[MainSynth.htmlString]]. */
case class SynthMainHtml(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    UTF8String.fromString(MainSynth.htmlString(doc.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
        org.apache.spark.sql.graftnative.MainSynth.htmlString($d));
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fixture: an HTML page whose VISIBLE text is a pure formula of the
  * seed (what the oracle replays): a title, a dropped script and
  * style block and comment, `2 + seed mod 3` paragraphs whose source
  * carries entity references, tabs, newlines, and double spaces that
  * must collapse to the formula text, an inline `<b>` span flowing
  * into its line, and `seed mod 3` `<a href>` links each on its own
  * line. One attribute value contains a QUOTED `>` — the classic
  * naive-splitter trap.
  */
object HtmlSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def title(seed: Long): String = "Title " + fm(seed, 9)
  def nParas(seed: Long): Int = 2 + fm(seed, 3)
  def nLinks(seed: Long): Int = fm(seed, 3)
  def paraText(seed: Long, i: Int): String =
    s"para&$seed $i " + "wx" * (3 + fm(seed + i, 5))
  def linkText(seed: Long, k: Int): String = s"link $seed $k"

  def htmlString(seed: Long): String = {
    val sb = new StringBuilder()
    sb.append("<html><head><title>  ").append("Title  ").append(fm(seed, 9))
      .append(" </title>\n")
    sb.append("<style>body { color: red; }</style>\n")
    sb.append("<script type=\"text/javascript\">if (1 > 0) { alert('<p>'); }</script>\n")
    sb.append("</head>\n<body data-x=\"a>b\">\n")
    sb.append("<!-- hidden > comment -->\n")
    var i = 0
    val np = nParas(seed)
    while (i < np) {
      // source: entity + doubled/odd whitespace + an inline <b> span;
      // collapses to paraText exactly
      sb.append("<p>para&amp;").append(seed).append("\t\n  ").append(i)
        .append("  <b>").append("wx" * (3 + fm(seed + i, 5)))
        .append("</b> </p>\n")
      i += 1
    }
    var k = 0
    val nl = nLinks(seed)
    while (k < nl) {
      sb.append("<p><a href=\"https://example.com/").append(seed).append('/')
        .append(k).append("\">link ").append(seed).append(' ').append(k)
        .append("</a></p>\n")
      k += 1
    }
    sb.append("</body></html>\n")
    sb.toString
  }
}

/** Expression wrapping [[HtmlSynth.htmlString]]. */
case class SynthHtml(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    UTF8String.fromString(HtmlSynth.htmlString(doc.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
        org.apache.spark.sql.graftnative.HtmlSynth.htmlString($d));
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlFunctions {
  /** Column API: HTML visible-text extraction with fixed engine-agnostic
    * rules (see [[HtmlTextExtract]]).
    */
  def html_text(payload: Column): Column =
    ExpressionUtils.column(HtmlTextExtract(ExpressionUtils.expression(payload)))

  /** Column API: formula-text HTML fixture from a doc seed (see
    * [[HtmlSynth]]).
    */
  def synth_html(doc: Column): Column =
    ExpressionUtils.column(SynthHtml(ExpressionUtils.expression(doc)))

  /** Column API: jusText-style main-content (boilerplate) extraction. */
  def main_content(payload: Column): Column =
    ExpressionUtils.column(MainContent(ExpressionUtils.expression(payload)))

  /** Column API: chrome-laden page fixture from a doc seed. */
  def synth_main_html(doc: Column): Column =
    ExpressionUtils.column(SynthMainHtml(ExpressionUtils.expression(doc)))
}
