package org.apache.spark.sql.graftnative

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** HTML text-extraction contracts: the documented rule set on hand
  * goldens (the traps a naive splitter fails), plus the fixture
  * roundtrip.
  */
class HtmlSpec extends AnyFunSuite {

  private def x(html: String) =
    HtmlTextExtract.compute(UTF8String.fromString(html))
  private def text(html: String): String = x(html).getUTF8String(1).toString

  test("fixture roundtrip matches the formula text across 12 seeds") {
    for (seed <- 0L to 11L) {
      val r = x(HtmlSynth.htmlString(seed))
      assert(r.getUTF8String(0).toString == HtmlSynth.title(seed), s"seed $seed")
      assert(r.getInt(2) == HtmlSynth.nLinks(seed), s"seed $seed links")
      val expected = ((0 until HtmlSynth.nParas(seed))
        .map(i => HtmlSynth.paraText(seed, i)) ++
        (0 until HtmlSynth.nLinks(seed)).map(k => HtmlSynth.linkText(seed, k)))
        .mkString("\n")
      assert(r.getUTF8String(1).toString == expected, s"seed $seed text")
    }
  }

  test("quoted '>' inside an attribute does not end the tag") {
    assert(text("""<div data-x="a>b">ok</div>""") == "ok")
    assert(text("""<img alt='1 > 0'>after""") == "after")
  }

  test("script/style/comments drop with contents, incl. '>' inside") {
    assert(text("<script>if (1 > 0) { x('<p>'); }</script>visible") == "visible")
    assert(text("<style>a > b { color: red }</style>t") == "t")
    assert(text("a<!-- x > y -->b") == "ab")
    // torn script: remainder drops, never leaks as text
    assert(text("keep<script>var x = 1;") == "keep")
  }

  test("entities: named, decimal, hex; unknown pass through") {
    assert(text("a&amp;b &lt;x&gt; &quot;q&quot; &#65; &#x42;") ==
      "a&b <x> \"q\" A B")
    assert(text("5 &undefined; 6") == "5 &undefined; 6")
  }

  test("block tags break lines; inline tags flow; whitespace collapses") {
    assert(text("<p>a  b</p><p>c</p>") == "a b\nc")
    assert(text("x<br>y") == "x\ny")
    assert(text("<p>a <b>bold</b> c</p>") == "a bold c")
    assert(text("  \t\n  ") == "")
    assert(text("plain  text, no tags\n at all") == "plain text, no tags at all")
  }

  test("title: first wins, whitespace-collapsed; links need href") {
    val r = x("<title> A  B </title><title>zz</title><a href='u'>l</a><a name='n'>m</a>")
    assert(r.getUTF8String(0).toString == "A B")
    assert(r.getInt(2) == 1, "only the href anchor counts")
  }

  test("href counts attributes only: boundary-matched, outside quotes") {
    // substring mentions that must NOT count
    assert(x("""<a data-xhref="u">t</a>""").getInt(2) == 0)
    assert(x("""<a class="hrefbtn">t</a>""").getInt(2) == 0)
    assert(x("""<a hreflang="en">t</a>""").getInt(2) == 0)
    assert(x("""<a title="see href=x here">t</a>""").getInt(2) == 0)
    // real attributes that must count: =, spaced =, bare-at-end, any case
    assert(x("""<a href="u">t</a>""").getInt(2) == 1)
    assert(x("""<a href = "u">t</a>""").getInt(2) == 1)
    assert(x("""<a HREF='u'>t</a>""").getInt(2) == 1)
    assert(x("""<a rel="x" href>t</a>""").getInt(2) == 1)
    assert(x("""<a href="a" >1</a><a href="b">2</a>""").getInt(2) == 2)
  }

  test("script close-tag scan is case-insensitive and index-stable") {
    assert(text("<script>var x;</SCRIPT>after") == "after")
    assert(text("<STYLE>a{}</Style>ok") == "ok")
    // U+0130 'İ' inside the script: Java lowercasing expands it to TWO
    // chars, so a lowered-copy index search would misalign every byte
    // after it — the linear regionMatches scan must not
    assert(text("<script>var s = 'İİİ';</script><p>keep</p>") == "keep")
    // many script blocks: visible text survives each gap
    val many = (1 to 40).map(k => s"<script>f($k);</script><p>v$k</p>").mkString
    assert(text(many) == (1 to 40).map("v" + _).mkString("\n"))
  }

  test("entities: common HTML named set and supplementary-plane refs") {
    assert(text("a&nbsp;b") == "a b")
    assert(text("x&mdash;y &ndash; &rsquo;s &ldquo;q&rdquo;") ==
      "x—y – ’s “q”")
    assert(text("&copy; &reg; &trade; &euro;9 &pound;5 &deg;C &middot;") ==
      "© ® ™ €9 £5 °C ·")
    assert(text("&hellip; &bull; &laquo;q&raquo; &frac12; &times; &divide;") ==
      "… • «q» ½ × ÷")
    assert(text("&larr; &rarr; &minus;1 &plusmn;2 &micro;s &sect;3") ==
      "← → −1 ±2 µs §3")
    // supplementary plane: surrogate pair emitted
    assert(text("pile &#128169; of &#x1F4A9;") == "pile 💩 of 💩")
    // invalid code points pass through verbatim (like unknown names)
    assert(text("bad &#x110000; &#xD800; ref") == "bad &#x110000; &#xD800; ref")
    // case-sensitive names: Dagger vs dagger both known, Nbsp unknown
    assert(text("&dagger;&Dagger;&Nbsp;") == "†‡&Nbsp;")
  }

  test("malformed numeric references pass through in the HTML and XML decoders") {
    val decoders = Seq[(String, (String, StringBuilder) => Unit)](
      "html" -> HtmlTextExtract.decodeEntitiesInto, "xml" -> DocxText.decodeXmlInto)
    for ((name, decode) <- decoders) {
      def d(s: String): String = { val b = new StringBuilder; decode(s, b); b.toString }
      for (bad <- Seq("&#xZZ;", "&#;", "&#x;", "&#99999999999;"))
        assert(d(s"a ${bad} b") == s"a ${bad} b", s"$name: $bad")
      assert(d("&#x41;&#65;") == "AA", name)
    }
  }

  test("CDATA sections drop with contents") {
    assert(text("a<![CDATA[ raw <p> 1 > 0 ]]>b") == "ab")
    // torn CDATA: remainder drops
    assert(text("keep<![CDATA[ never closed") == "keep")
  }

  test("gnarly page: nested tables, comments, CDATA, entity soup") {
    val page =
      """<html><head><title>Q&amp;A &mdash; FAQ</title>
        |<script type="text/javascript">document.write("<table><tr><td>");</script>
        |</head><body>
        |<!-- nav
        |  multi-line comment with <p>tags</p> and 1 > 0 -->
        |<table><tr><td>R1C1</td><td>R1&nbsp;C2</td></tr>
        |<tr><td><table><tr><td>nested&hellip;</td></tr></table></td></tr></table>
        |<![CDATA[ <p>not text</p> ]]>
        |<div>copy &copy; 2026 &ndash; <a href="/x">link&rsquo;s text</a></div>
        |<p>caf&eacute; is unknown here: stays verbatim</p>
        |</body></html>""".stripMargin
    val r = x(page)
    assert(r.getUTF8String(0).toString == "Q&A — FAQ")
    assert(r.getInt(2) == 1)
    assert(r.getUTF8String(1).toString ==
      "R1C1\nR1 C2\nnested…\n" +
      "copy © 2026 – link’s text\n" +
      "caf&eacute; is unknown here: stays verbatim")
  }

  test("main content: fixture roundtrip across 20 seeds") {
    for (seed <- 0L to 19L) {
      val r = MainContent.compute(org.apache.spark.unsafe.types.UTF8String
        .fromString(MainSynth.htmlString(seed)))
      assert(r.getUTF8String(0).toString == MainSynth.expectedText(seed),
        s"seed $seed:\n[${r.getUTF8String(0)}]\nvs\n[${MainSynth.expectedText(seed)}]")
      assert(r.getInt(1) == MainSynth.expectedKept(seed), s"seed $seed kept")
      assert(r.getInt(2) == 5, s"seed $seed dropped")
    }
  }

  test("main content: each drop rule fires independently") {
    def mc(html: String): (String, Int, Int) = {
      val r = MainContent.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(html))
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2))
    }
    // chrome rule: identical text inside vs outside <nav>
    assert(mc("<nav><p>six words of text right here</p></nav>") == (("", 0, 1)))
    assert(mc("<p>six words of text right here</p>") ==
      (("six words of text right here", 1, 0)))
    // density rule (word count held >= 5 both sides): an all-link
    // block drops; one short link in a long sentence keeps
    assert(mc("<p><a href=x>aa bb cc dd ee</a></p>") == (("", 0, 1)))
    assert(mc("<p><a href=x>aa</a> bb cc dd ee ff gg</p>") ==
      (("aa bb cc dd ee ff gg", 1, 0)))
    // word-count rule boundary: 4 words drop, 5 words keep
    assert(mc("<p>one two three four</p>") == (("", 0, 1)))
    assert(mc("<p>one two three four five</p>") ==
      (("one two three four five", 1, 0)))
    // a plain page with no markup is one block, classified normally
    assert(mc("just words with no markup at all here")._1 ==
      "just words with no markup at all here")
  }

  test("main content kills chrome-induced cross-site false dup pairs") {
    // two pages: SAME chrome skeleton (nav/sidebar/footer formulas
    // collide across the seeds), DIFFERENT stories — the composition
    // the crawl pipeline cares about. On full visible text the shared
    // chrome bridges the shingle sets; on main content it vanishes.
    def shingles(t: String): Set[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else (a & b).size.toDouble / (a | b).size
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def page(story: String): String =
      "<html><body><header><h1>Example Site</h1><nav>" +
        "<a href=\"/a\">Archive pages</a> <a href=\"/b\">About this site</a> " +
        "<a href=\"/c\">Contact the editors</a></nav></header>" +
        s"<p>$story</p>" +
        "<footer>Copyright 2026 Example Site. All rights reserved.</footer>" +
        "</body></html>"
    val h0 = page("the quick brown fox jumped over seven lazy dogs this morning")
    val h9 = page("nine green turtles swam slowly south past the old stone pier")
    val full0 = HtmlTextExtract.compute(u(h0)).getUTF8String(1).toString
    val full9 = HtmlTextExtract.compute(u(h9)).getUTF8String(1).toString
    val main0 = MainContent.compute(u(h0)).getUTF8String(0).toString
    val main9 = MainContent.compute(u(h9)).getUTF8String(0).toString
    val fullJ = jac(shingles(full0), shingles(full9))
    val mainJ = jac(shingles(main0), shingles(main9))
    assert(fullJ > 0.15, s"chrome should bridge full-text shingles ($fullJ)")
    assert(mainJ == 0.0, s"main content must share nothing ($mainJ)")
  }
}
