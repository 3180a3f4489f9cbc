package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization (RFC 3986 §6) — what every URL-keyed dedup,
  * frontier, and `corpus_diff` needs before equality means anything:
  * the same resource arrives spelled a dozen ways across a crawl.
  *
  * Normalizations applied (each a documented RFC 3986 rule except the
  * last):
  *  - scheme and host lowercase (§6.2.2.1); userinfo kept verbatim;
  *  - default ports stripped (http:80, https:443) and empty `:` ports
  *    dropped (§6.2.3);
  *  - percent-encoding: octets for UNRESERVED characters
  *    (`A-Z a-z 0-9 - . _ ~`) decoded, all remaining triplets
  *    uppercased (§6.2.2.1-2) — reserved octets like `%2F` stay
  *    encoded, since decoding them would change the path structure;
  *  - dot-segments resolved (§5.2.4, after percent normalization so
  *    `%2E` participates); an empty path with an authority becomes
  *    `/` (§6.2.3);
  *  - the fragment is dropped (a fetch-identity choice: fragments
  *    never reach the server);
  *  - query parameters split on `&`, empty params dropped, and sorted
  *    by code point — BEYOND the RFC (parameter order is legal
  *    server-side signal) but the standard crawl-frontier convention,
  *    disclosed here;
  *  - a trailing `?` with no surviving params is dropped.
  *
  * Scope: hierarchical URLs with an authority (`scheme://…`) — the
  * crawl regime. Opaque forms (`mailto:`), a malformed scheme, or a
  * torn percent escape return null (honest reject, never a guess).
  */
case class UrlCanonical(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = UrlCanonical.compute(v.asInstanceOf[UTF8String].toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      String r = org.apache.spark.sql.graftnative.UrlCanonical.compute($c.toString());
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(r); }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlCanonical {

  private def isUnreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** Percent-normalize one component; null on a torn escape. Shared
    * with [[RobotsAllowed]] for RFC 9309 §2.2.2 octet comparison.
    */
  private[graftnative] def pctNorm(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 >= s.length) return null // torn escape
        val h = Character.digit(s.charAt(i + 1), 16)
        val l = Character.digit(s.charAt(i + 2), 16)
        if (h < 0 || l < 0) return null
        val v = h * 16 + l
        if (isUnreserved(v)) out.append(v.toChar)
        else out.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private def removeDotSegments(path: String): String = {
    val out = new java.util.ArrayDeque[String]()
    // split keeping structure: leading '/' is implicit (hierarchical)
    val segs = path.split("/", -1)
    var i = 0
    var trailingSlash = false
    while (i < segs.length) {
      val seg = segs(i)
      val last = i == segs.length - 1
      seg match {
        case "" => // collapse only at the ends (a//b keeps its empty seg)
          if (i > 0 && last) trailingSlash = true
          else if (i > 0) out.addLast("")
        case "." => if (last) trailingSlash = true
        case ".." =>
          if (!out.isEmpty) out.removeLast()
          if (last) trailingSlash = true
        case s =>
          out.addLast(s)
          trailingSlash = false
      }
      i += 1
    }
    val sb = new StringBuilder()
    val it = out.iterator()
    while (it.hasNext) sb.append('/').append(it.next())
    if (trailingSlash || sb.isEmpty) sb.append('/')
    sb.toString
  }

  def compute(url: String): String = {
    // fragment off first — it may contain any character
    val hash = url.indexOf('#')
    val noFrag = if (hash >= 0) url.substring(0, hash) else url
    val ci = noFrag.indexOf(':')
    if (ci <= 0) return null
    val scheme = noFrag.substring(0, ci)
    var k = 0
    while (k < scheme.length) {
      val c = scheme.charAt(k)
      val ok =
        if (k == 0) Character.isLetter(c)
        else Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'
      if (!ok) return null
      k += 1
    }
    val schemeLc = scheme.toLowerCase(java.util.Locale.ROOT)
    val rest = noFrag.substring(ci + 1)
    if (!rest.startsWith("//")) return null // opaque: out of scope
    val afterAuth = {
      var j = 2
      while (j < rest.length && rest.charAt(j) != '/' && rest.charAt(j) != '?')
        j += 1
      j
    }
    val authority = rest.substring(2, afterAuth)
    val pathAndQuery = rest.substring(afterAuth)
    // authority: [userinfo@]host[:port]; host lowercase; IPv6 bracketed
    val at = authority.lastIndexOf('@')
    val userinfo = if (at >= 0) authority.substring(0, at + 1) else ""
    val hostPort = authority.substring(at + 1)
    if (hostPort.isEmpty) return null
    val (host, port) =
      if (hostPort.startsWith("[")) {
        val close = hostPort.indexOf(']')
        if (close < 0) return null
        val h = hostPort.substring(0, close + 1)
        val rest2 = hostPort.substring(close + 1)
        if (rest2.isEmpty) (h, "")
        else if (rest2.startsWith(":")) (h, rest2.substring(1))
        else return null
      } else {
        val colon = hostPort.lastIndexOf(':')
        if (colon < 0) (hostPort, "")
        else (hostPort.substring(0, colon), hostPort.substring(colon + 1))
      }
    if (host.isEmpty) return null
    if (!port.forall(Character.isDigit)) return null
    val hostLc = host.toLowerCase(java.util.Locale.ROOT)
    val defaultPort =
      (schemeLc == "http" && port == "80") ||
        (schemeLc == "https" && port == "443")
    val portPart =
      if (port.isEmpty || defaultPort) "" else ":" + port
    // split path from query
    val qi = pathAndQuery.indexOf('?')
    val rawPath = if (qi >= 0) pathAndQuery.substring(0, qi) else pathAndQuery
    val rawQuery = if (qi >= 0) pathAndQuery.substring(qi + 1) else null
    val path0 = pctNorm(rawPath)
    if (path0 == null) return null
    val path = removeDotSegments(path0)
    val queryPart =
      if (rawQuery == null) ""
      else {
        val parts = rawQuery.split("&", -1).filter(_.nonEmpty)
        val normed = new Array[String](parts.length)
        var p = 0
        while (p < parts.length) {
          val np = pctNorm(parts(p))
          if (np == null) return null
          normed(p) = np
          p += 1
        }
        java.util.Arrays.sort(normed, java.util.Comparator.naturalOrder[String]())
        if (normed.isEmpty) "" else "?" + normed.mkString("&")
      }
    schemeLc + "://" + userinfo + hostLc + portPart + path + queryPart
  }
}

/** Fixture for [[UrlCanonical]]: messy URLs whose canonical form is a
  * pure seed formula — mixed-case scheme/host, a default `:443` port,
  * `./` and `seg/../` dot-segments, an unreserved octet (`%74` → t),
  * a reserved octet case-rotated (`%2f`/`%2F`), swapped query-param
  * order, and a fragment — every rotation landing on the oracle hash.
  */
object UrlSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def canonical(doc: Long): String =
    s"https://ex${fm(doc, 5)}.org/p${fm(doc, 7)}/tok/q${fm(doc, 9)}" +
      s"?a=${fm(doc, 3)}&b=x%2Fy"

  def messy(doc: Long): String = {
    val upper = fm(doc, 2) == 1
    val scheme = if (upper) "HTTPS" else "https"
    val host = if (upper) s"EX${fm(doc, 5)}.ORG" else s"ex${fm(doc, 5)}.org"
    val port = if (fm(doc, 3) == 0) ":443" else ""
    val slash = if (upper) "%2F" else "%2f"
    val pa = s"a=${fm(doc, 3)}"
    val pb = s"b=x${slash}y"
    val query = if (upper) s"$pb&$pa" else s"$pa&$pb"
    s"$scheme://$host$port/./p${fm(doc, 7)}/skip${fm(doc, 4)}/../%74ok/" +
      s"q${fm(doc, 9)}?$query#sec${fm(doc, 6)}"
  }

  /** A SECOND spelling of the same resource, messed differently —
    * the pair collapses under canonicalization, which is the dedup
    * point the key's group-by carries.
    */
  def messy2(doc: Long): String =
    s"https://ex${fm(doc, 5)}.org:443/p${fm(doc, 7)}/./x/../tok/" +
      s"q${fm(doc, 9)}?b=x%2fy&a=${fm(doc, 3)}#z"
}

/** Expression wrapping [[UrlSynth.messy]] (variant 0) and
  * [[UrlSynth.messy2]] (variant 1).
  */
case class SynthUrl(child: Expression, variant: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    UTF8String.fromString(
      if (variant == 0) UrlSynth.messy(doc.asInstanceOf[Long])
      else UrlSynth.messy2(doc.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
        $variant == 0
          ? org.apache.spark.sql.graftnative.UrlSynth.messy($d)
          : org.apache.spark.sql.graftnative.UrlSynth.messy2($d));
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlFunctions {
  /** Column API: RFC 3986 URL canonicalization. */
  def url_canonical(url: Column): Column =
    ExpressionUtils.column(UrlCanonical(ExpressionUtils.expression(url)))

  /** Column API: messy-URL fixture from a doc seed, two spellings per
    * resource (variant 0 or 1).
    */
  def synth_url(doc: Column, variant: Int): Column =
    ExpressionUtils.column(SynthUrl(ExpressionUtils.expression(doc), variant))
}
