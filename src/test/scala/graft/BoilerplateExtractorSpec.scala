package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BoilerplateExtractor => BE, HtmlDom, LinkExtractor}

/** Pins the deterministic extractor: every `removeJunkData` branch of
  * the reference (crawler/utils/utils.py:283-455) has a fixture here.
  * These outputs are the rebuild's frozen contract — changing any of
  * them is a breaking change to per-url byte identity.
  */
class BoilerplateExtractorSpec extends AnyFunSuite {

  private val longText =
    "Spark rebuilds the crawl frontier as a typed dataset over parquet " +
    "snapshots and the extractor keeps only blocks whose sentences carry " +
    "enough words per text node to look like prose rather than chrome."

  test("head, script, style, form, img are stripped") {
    val html =
      s"""<html><head><title>T</title><script>var x=1;</script></head>
         |<body><style>.a{}</style><form><input type="text"></form>
         |<img src="x.png"><div>$longText</div></body></html>""".stripMargin
    val out = BE.extractText(html)
    assert(out === longText)
  }

  test("malformed script close tag is still stripped") {
    val html =
      s"""<html><body><script type="x">bad stuff</script foo="1" >
         |<div>$longText</div></body></html>""".stripMargin
    assert(BE.extractText(html) === longText)
  }

  test("xml comments and pre-html junk are removed") {
    val html =
      s"""garbage before <!-- note --><html><body><!-- inner
         |multiline comment --><div>$longText</div></body></html>""".stripMargin
    assert(BE.extractText(html) === longText)
  }

  test("link-dense nav block is removed") {
    val nav = """<div><a href="/a">Home</a> <a href="/b">About</a> <a href="/c">More</a></div>"""
    val html = s"<html><body>$nav<div>$longText</div></body></html>"
    assert(BE.extractText(html) === longText)
  }

  test("short-fragment boilerplate block is removed (integer division)") {
    // 4 text nodes of 4 words each: textwords/textcount = 16/4 = 4 < 5
    val junk = "<div><p>one two three four</p><p>five six seven eight</p>" +
      "<p>alpha beta gamma delta</p><p>nine ten eleven twelve</p></div>"
    val html = s"<html><body>$junk<div>$longText</div></body></html>"
    assert(BE.extractText(html) === longText)
  }

  test("empty block is removed") {
    val html = s"<html><body><div>   </div><div>$longText</div></body></html>"
    assert(BE.extractText(html) === longText)
  }

  test("embedded html inside body is removed") {
    val html = s"<html><body><div>$longText</div>" +
      "<html><body><div>inner junk</div></body></html></body></html>"
    assert(BE.extractText(html) === longText)
  }

  test("p and br become newlines; entities decode; nbsp becomes space") {
    val para1 = "The first paragraph of prose has enough words to survive " +
      "pruning because its sentences are long and carry many words each time."
    val para2 = "The second paragraph also has plenty of words so the block " +
      "stays intact through the link density and sentence length checks."
    val html = s"<html><body><div><p>$para1</p><p>$para2&nbsp;&amp;&nbsp;more</p></div></body></html>"
    val out = BE.extractText(html)
    assert(out.contains(para1))
    assert(out.contains(para2))
    // &nbsp; decodes to U+00A0 in the entity pass (as the reference's
    // ALL_ENTITIES decode does before stripHtml runs, utils.py:453)
    assert(out.contains("& more"))
    assert(out.split("\n").length >= 2)
  }

  test("extract is byte-identical across repeated runs") {
    val html = s"<html><body><div>$longText</div><div><a href='/x'>x</a></div></body></html>"
    val runs = (1 to 5).map(_ => BE.extractText(html))
    assert(runs.distinct.size === 1)
  }

  test("garbage in never throws: empty, stray markup, unclosed tags") {
    assert(BE.extractText("") === "")
    assert(BE.extractText("<<<>>>%%% <a href=") === "<<<>>>%%%")
    BE.extractText("<html><body><div><p>never closed anywhere " * 3)
  }

  test("5,000-deep nesting extracts on a default-sized thread stack") {
    // recursive DOM walks would overflow here; run on a fresh thread so
    // the stack is the JVM default, not whatever the runner's thread has
    val deep = "<html><body>" + "<div>" * 5000 + "word " * 20 + "</div>" * 5000
    var out: Either[Throwable, String] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => out =
      try Right(BE.extractText(deep)) catch { case e: Throwable => Left(e) })
    t.start(); t.join()
    assert(out === Right(Seq.fill(20)("word").mkString(" ")))
  }

  test("title extraction with entity decode and regex fallback") {
    assert(BE.extractTitle("<html><head><title>A &amp; B</title></head></html>") ===
      Some("A & B"))
    assert(BE.extractTitle("<notquitehtml><title>Raw</title>") === Some("Raw"))
    assert(BE.extractTitle("<html><body>no title</body></html>") === None)
  }

  test("stripHtml matches the reference regex pipeline") {
    assert(BE.stripHtml("<p>This is a test<br/> of strip</p>") ===
      "This is a test\n of strip")
    assert(BE.stripHtml("  <span>x</span> y ") === "x  y")
    // the first newline belongs to line 1; the blank-line run collapses
    // to a single newline (reference: utils.py:111-112 semantics)
    assert(BE.stripHtml("a\n\n\n\nb") === "a\n\nb")
  }

  test("extractLinks: absolute, relative, root, javascript, fragment, tracking") {
    val html =
      """<html><body>
        |<a href="http://other.com/abs">Abs</a>
        |<a href="rel.html">Rel</a>
        |<a href="/root.html">Root</a>
        |<a href="javascript:void(0)">JS</a>
        |<a href="#frag">Frag</a>
        |<a href="http://t.com/x?utm_source=a&id=7">Track</a>
        |</body></html>""".stripMargin
    val links = LinkExtractor.extractLinks(html, "http://site.com/dir/page.html")
    val urls = links.map(_.url)
    assert(urls.contains("http://other.com/abs"))
    assert(urls.contains("http://site.com/dir/rel.html"))
    assert(urls.contains("http://site.com/root.html"))
    assert(urls.contains("http://site.com/dir/page.html")) // javascript → site
    assert(urls.contains("http://t.com/x?id=7"))
    assert(links.find(_.url == "http://other.com/abs").get.title === Some("Abs"))
  }

  test("extractLinks honors <base href>") {
    val html =
      """<html><head><base href="http://cdn.com/base/"></head>
        |<body><a href="x.html">X</a></body></html>""".stripMargin
    val links = LinkExtractor.extractLinks(html, "http://site.com/page.html")
    assert(links.map(_.url).contains("http://cdn.com/base/x.html"))
  }

  // ---- fused single-parse extraction (round-3 verdict #4) ----

  private def strictAll(html: String, url: String) = {
    val rawDoc = HtmlDom.parse(html)
    (BE.titleFromDoc(rawDoc, html), BE.extractText(html),
      LinkExtractor.linkUrls(rawDoc, url))
  }

  test("fused extractAll equals the strict two-parse path on the synthetic corpus") {
    val spec = graft.crawl.SyntheticCorpus.Spec(numUrls = 120, numHosts = 7)
    (0L until 120L).foreach { i =>
      val html = graft.crawl.SyntheticCorpus.htmlFor(i, spec)
      val url = graft.crawl.SyntheticCorpus.urlFor(i, spec)
      val (st, sx, sl) = strictAll(html, url)
      val f = BE.extractAll(html, url)
      assert(f.text === sx, s"text diverged on page $i")
      assert(f.title === st, s"title diverged on page $i")
      assert(f.links === sl, s"links diverged on page $i")
    }
  }

  test("fused extractAll equals strict on the spec's hand fixtures") {
    val pages = Seq(
      s"""<html><head><title>T &amp; t</title><script>var x="<div>d</div>";</script></head>
         |<body><a href="/x">x</a><div>$longText</div></body></html>""".stripMargin,
      s"""junk<!-- c --><html><body><script>s</script bad=1 >
         |<base href="http://b.test/sub/"><a href="p">rel</a>
         |<div>$longText</div></body></html>""".stripMargin,
      "", "<div>no html root at all</div>",
      s"<html><body><p>$longText</p><!-- trailing\nmultiline --></body></html>")
    pages.foreach { html =>
      val (st, sx, sl) = strictAll(html, "http://h.test/p/1")
      val f = BE.extractAll(html, "http://h.test/p/1")
      assert((f.title, f.text, f.links) === ((st, sx, sl)))
    }
  }

  test("fused/strict divergence is confined to pre-<html> markup (pinned)") {
    // An anchor BEFORE the <html> tag: the reference's soup of the raw
    // page sees it (strict does too); the fused path parses only the
    // cleaned page, which starts at `<html` — so the link is dropped.
    // This is the documented divergence class, not a silent one.
    val html =
      s"""<a href="http://pre.test/x">pre-root</a><html><body>
         |<a href="http://in.test/y">in-root</a><p>$longText</p></body></html>""".stripMargin
    val (_, sx, sl) = strictAll(html, "http://h.test/")
    val f = BE.extractAll(html, "http://h.test/")
    assert(f.text === sx) // text identical even here
    assert(sl.contains("http://pre.test/x") && sl.contains("http://in.test/y"))
    assert(f.links === Seq("http://in.test/y"))
    // a page whose ONLY title predates <html> keeps it via the raw
    // fallback regex in BOTH paths
    val t = "<title>early</title><html><body><p>x</p></body></html>"
    assert(BE.extractAll(t, "http://h.test/").title === Some("early"))
    assert(strictAll(t, "http://h.test/")._1 === Some("early"))
  }

  test("DOM findAll / extract round trip") {
    val doc = HtmlDom.parse("<html><body><div id='a'><p>x</p></div><div>y</div></body></html>")
    val divs = doc.findAll(Set("div"))
    assert(divs.size === 2)
    divs.head.extract()
    assert(doc.findAll(Set("div")).size === 1)
  }

  // ---- regex spec twins for the manual-scan hot path ----
  //
  // stripHtml/cleanedPage replaced their page-sized regex passes with
  // manual linear scans (extract CPU); the ORIGINAL regex pipeline
  // lives on here as the executable spec, and a seeded fuzz suite
  // pins byte-identity. Any divergence is a per-url byte-identity
  // break — the north-rule contract — so these must stay green.

  import java.util.regex.Pattern
  import graft.core.Entities

  private val XmlComment = Pattern.compile("<!--.*?-->", Pattern.DOTALL)
  private val ScriptBlock = Pattern.compile("<script.*?</script[^>]*>",
    Pattern.DOTALL | Pattern.CASE_INSENSITIVE)
  private val PBrTag = Pattern.compile("</?(p|br)\\s?/?>")
  private val AnyTag = Pattern.compile("<[^<>]+>")
  private val LeadingWs = Pattern.compile("^(\\s)+")
  private val BlankLines = Pattern.compile("^(\\s*\\n)+", Pattern.MULTILINE)
  private val NullChars = Pattern.compile("\\x00")

  private def stripHtmlRegexTwin(textIn: String): String = {
    var text = NullChars.matcher(textIn).replaceAll("")
    text = PBrTag.matcher(text).replaceAll("\n")
    text = AnyTag.matcher(text).replaceAll(" ")
    text = LeadingWs.matcher(text).replaceFirst("")
    text = BlankLines.matcher(text).replaceAll("\n")
    text = text.replace("');\" onMouseOut=\"setTimeout('hideLayer()',500);\" class=hotlink2>", "")
    text = text.replace("Click for the lowest price on dmnobieblank", "")
    text = text.replace("&nbsp;", " ")
    text = text.replace("&raquo;", "")
    text = Entities.decode(text)
    text.trim
  }

  private def cleanedPageRegexTwin(rawPage: String): String = {
    var page = XmlComment.matcher(rawPage).replaceAll("")
    val htmlIdx = HtmlDom.indexOfIgnoreCase(page, "<html", 0)
    if (htmlIdx > 0) page = page.substring(htmlIdx)
    ScriptBlock.matcher(page).replaceAll("")
  }

  // Alphabet weighted toward the tokens the scans dispatch on, plus
  // the characters where Java regex `\s` / ASCII-CI differ from the
  // naive library calls: U+000B/U+001C (isWhitespace disagreements),
  // U+00A0/U+2007 (unicode spaces, NOT `\s`), U+0085/U+2028/U+2029
  // (MULTILINE line terminators that are not `\n`), U+017F (long s —
  // folds to 's' under regionMatches ignoreCase but not ASCII-CI).
  private val FuzzTokens: Vector[String] = Vector(
    "<", ">", "/", "p", "b", "r", "br", "a", "x", " ", "  ", "\t", "\n",
    "\n\n", "\r", "\r\n", "\u000B", "\f", "\u0000", "\u001C", "\u00A0",
    "\u2007", "\u0085", "\u2028", "\u2029", "\u017F", "<p>", "</p>",
    "<br/>", "<br >", "<p \t>", "<P>", "<!--", "-->", "<!---->",
    "<script", "</script", "<script>", "</script>", "</SCRIPT foo >",
    "<ScRiPt", "<html", "<HTML>", "<\u017Fcript", "&nbsp;", "&amp;",
    "&raquo;", "<>", "<<", "<a href='/x'>", "text with words")

  private def fuzzString(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(40)
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      if (rnd.nextInt(10) == 0) sb.append(rnd.nextPrintableChar())
      else sb.append(FuzzTokens(rnd.nextInt(FuzzTokens.size)))
    }
    sb.toString
  }

  // Twin of the ORIGINAL evaluateBlock string recipe: joined strings +
  // renderContents + trim/\s+-split, replaced in the main source by
  // streaming WordScan counts (allocation was ~half of prune CPU).
  private def splitWordsTwin(s: String): Int = {
    val t = s.trim
    if (t.isEmpty) 0 else t.split("\\s+").length
  }

  private def blockStatsTwin(e: HtmlDom.Elem) = {
    val texts = e.textNodes.map(_.value)
    val links = e.findAll(Set("a")).filter(_.attrs.contains("href"))
    val joinedLinks = links.map(_.renderContents()).filter(_.nonEmpty).mkString("")
    val joinedText = texts.mkString("")
    (texts.length, links.length, joinedText.length, splitWordsTwin(joinedText),
      joinedLinks.length, splitWordsTwin(joinedLinks))
  }

  test("fuzz: streaming blockStats equals the string-building twin on every node") {
    val tagTokens = Vector("<a href='/x'>", "<a>", "</a>", "<div>", "</div>",
      "<p>", "</p>", "<ul>", "<li>", "</li>", "<br>", "<span>", "</span>")
    val rnd = new scala.util.Random(0x57a7511L)
    (1 to 600).foreach { i =>
      val sb = new StringBuilder("<html><body>")
      (0 until rnd.nextInt(30)).foreach { _ =>
        if (rnd.nextInt(3) == 0) sb.append(tagTokens(rnd.nextInt(tagTokens.size)))
        else sb.append(fuzzString(rnd))
      }
      val doc = HtmlDom.parse(sb.toString)
      (doc :: doc.descendants).foreach { e =>
        val s = BE.blockStats(e)
        assert((s.texts, s.links, s.textLen, s.textWords, s.linkLen, s.linkWords)
          === blockStatsTwin(e), s"blockStats diverged on case $i <${e.name}>: ${sb.toString
            .map(_.toInt).mkString("[", ",", "]")}")
      }
    }
  }

  test("fuzz: stripHtml manual scans are byte-identical to the regex pipeline") {
    val rnd = new scala.util.Random(0xb0117e5L)
    (1 to 4000).foreach { i =>
      val s = fuzzString(rnd)
      assert(BE.stripHtml(s) === stripHtmlRegexTwin(s),
        s"stripHtml diverged on case $i: ${s.map(_.toInt).mkString("[", ",", "]")}")
    }
  }

  test("fuzz: cleanedPage manual scans are byte-identical to the regex pipeline") {
    val rnd = new scala.util.Random(0xc1ea4ed0L)
    (1 to 4000).foreach { i =>
      val s = fuzzString(rnd)
      assert(BE.cleanedPage(s) === cleanedPageRegexTwin(s),
        s"cleanedPage diverged on case $i: ${s.map(_.toInt).mkString("[", ",", "]")}")
    }
  }

  test("manual scans equal regex twins on hand edges and the synthetic corpus") {
    val edges = Seq(
      "", " ", "a\r\n\r\nb", "\r\rx", "<p \t>", "<p>", "<p/>",
      "<br\n>", "<pbr>", "<!---->", "<!----->", "<!-- unterminated",
      "<!-->", "x<!-- a --><!-- b -->y", "<script>no close",
      "<script>a</script", "<SCRIPT a='b'>x</ScRiPt junk >after",
      "<ſcript>x</script>", "<html><script>s</script>",
      "pre<HTML lang=x>body", "<>", "<<a>", "< >", "a\n\n\n\nb",
      "\n\nlead", " \t\r\nlead", "ab", "a \n b",
      "x&nbsp;&raquo;&amp;y")
    edges.foreach { s =>
      assert(BE.stripHtml(s) === stripHtmlRegexTwin(s), s"stripHtml: $s")
      assert(BE.cleanedPage(s) === cleanedPageRegexTwin(s), s"cleanedPage: $s")
    }
    val spec = graft.crawl.SyntheticCorpus.Spec(numUrls = 60, numHosts = 5)
    (0L until 60L).foreach { i =>
      val html = graft.crawl.SyntheticCorpus.htmlFor(i, spec)
      val cleaned = BE.cleanedPage(html)
      assert(cleaned === cleanedPageRegexTwin(html))
      assert(BE.stripHtml(cleaned) === stripHtmlRegexTwin(cleaned))
    }
  }

  test("fuzz: early-exit findFirst/firstTextNode equal the full-walk recipes") {
    val tagTokens = Vector("<a href='/x'>", "<a>", "</a>", "<div>", "</div>",
      "<head>", "</head>", "<title>", "</title>", "<body>", "<base href='/b/'>",
      "<base>", "<p>", "</p>", "<span>", "</span>")
    val rnd = new scala.util.Random(0xf1247f1257L)
    (1 to 400).foreach { i =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(30)).foreach { _ =>
        if (rnd.nextInt(3) == 0) sb.append(tagTokens(rnd.nextInt(tagTokens.size)))
        else sb.append(fuzzString(rnd))
      }
      val doc = HtmlDom.parse(sb.toString)
      Seq(Set("head"), Set("body"), Set("title"), Set("a", "base")).foreach { names =>
        assert(doc.findFirst(names) === doc.findAll(names).headOption,
          s"findFirst diverged on case $i for $names")
      }
      assert(doc.firstTextNode === doc.textNodes.headOption,
        s"firstTextNode diverged on case $i")
    }
  }

  test("fuzz: single-walk link extraction equals the two-walk findAll recipe") {
    val tagTokens = Vector("<a href='/x'>", "<a href='y.html'>", "<a>", "</a>",
      "<base href='http://b.test/dir/'>", "<base href=''>", "<base>",
      "<div>", "</div>", "<a href='../up'>", "<a href='#frag'>",
      "<a href='javascript:void(0)'>", "<base href='/rel/'>")
    val rnd = new scala.util.Random(0x11442266L)
    (1 to 400).foreach { i =>
      val sb = new StringBuilder("<html><body>")
      (0 until rnd.nextInt(25)).foreach { _ =>
        if (rnd.nextInt(2) == 0) sb.append(tagTokens(rnd.nextInt(tagTokens.size)))
        else sb.append(fuzzString(rnd))
      }
      val doc = HtmlDom.parse(sb.toString)
      val pageUrl = "http://site.test/a/page.html"
      // the pre-single-walk recipe, verbatim
      val baseTwin: Option[String] = doc.findAll(Set("base"))
        .flatMap(_.attrs.get("href")).headOption.filter(_.nonEmpty)
      val twin = doc.findAll(Set("a")).flatMap { a =>
        a.attrs.get("href") match {
          case Some(href) if href.nonEmpty =>
            try graft.core.UrlNormalizer.canonicalize(href.trim, Some(pageUrl), baseTwin)
            catch { case _: Exception => None }
          case _ => None
        }
      }
      val doc2 = HtmlDom.parse(sb.toString)
      assert(graft.core.LinkExtractor.linkUrls(doc2, pageUrl) === twin,
        s"linkUrls diverged on case $i: ${sb.toString.map(_.toInt).mkString("[", ",", "]")}")
    }
  }
}
