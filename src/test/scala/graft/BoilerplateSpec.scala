package graft

import graft.fixtures.GoldenDocs
import graft.html.Boilerplate
import org.scalatest.funsuite.AnyFunSuite

class BoilerplateSpec extends AnyFunSuite {

  test("strips nav/aside/footer and keeps main paragraphs + heading") {
    val (html, expectedBlocks) = GoldenDocs.syntheticHtml(seed = 42, paragraphs = 4)
    val r = Boilerplate.extract(html)
    assert(r.text == expectedBlocks.mkString("\n"))
    assert(r.title == expectedBlocks.head)
    assert(r.contentBlocks == expectedBlocks.length)
    assert(!r.text.contains("home"))
    assert(!r.text.contains("copyright"))
  }

  test("deterministic per seed") {
    val a = Boilerplate.extract(GoldenDocs.syntheticHtml(7, 3)._1)
    val b = Boilerplate.extract(GoldenDocs.syntheticHtml(7, 3)._1)
    assert(a == b)
  }

  test("script/style/comment content never leaks") {
    val html =
      """<html><head><title>t</title><style>p { color: red }</style></head>
        |<body><p>real content words that are long enough to be kept by the classifier rules okay
        |real content words that are long enough to be kept by the classifier rules okay</p>
        |<script>var hidden = "SECRET1";</script>
        |<!-- SECRET2 --><p>tail paragraph with several more words to satisfy the word count threshold
        |here too making it long enough</p></body></html>""".stripMargin
    val r = Boilerplate.extract(html)
    assert(!r.text.contains("SECRET1"))
    assert(!r.text.contains("SECRET2"))
    assert(!r.text.contains("color"))
    assert(r.text.contains("real content words"))
    assert(r.text.contains("tail paragraph"))
  }

  test("link-dense blocks are boilerplate") {
    val html =
      """<body><div><a href="/1">one</a> <a href="/2">two</a> <a href="/3">three</a></div>
        |<p>this paragraph has plenty of plain words and must be retained because its link
        |density is zero and it is long enough for the number of words rules even after a
        |fully linked predecessor which raises the required word count threshold to forty
        |words per the published decision stump so here are some more filler words</p></body>""".stripMargin
    val r = Boilerplate.extract(html)
    assert(!r.text.contains("one"))
    assert(r.text.contains("plenty of plain words"))
  }

  test("entities decode and offsets point into the source") {
    val html = "<body><p>A &amp; B &lt;tag&gt; &#65; &#x42; rest of a sentence with enough words " +
      "to pass the classifier threshold for sure honestly truly</p></body>"
    val r = Boilerplate.extract(html)
    assert(r.text.startsWith("A & B <tag> A B rest"))
    assert(r.spans.nonEmpty)
    val span = r.spans.head
    assert(html.charAt(span.srcOffset) == 'A')
  }

  test("quoted '>' inside attributes does not truncate the tag") {
    val html = """<body><p title="a>b" data-x='c>d'>the paragraph body with enough plain words """ +
      """to satisfy the numwords classifier threshold for content blocks easily</p></body>"""
    val r = Boilerplate.extract(html)
    assert(r.text.startsWith("the paragraph body"))
    assert(!r.text.contains("b\" data"))
  }

  test("astral-plane numeric entities decode as surrogate pairs") {
    val html = "<body><p>emoji &#128512; here plus plenty of additional plain filler words " +
      "to pass the word count threshold of the classifier rules</p></body>"
    val r = Boilerplate.extract(html)
    assert(r.text.contains("emoji 😀 here"))
  }

  test("charset sniffing: latin-1 declaration and UTF-8 BOM") {
    val latin = ("<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\"></head>" +
      "<body><p>café crème paragraph with sufficient additional words appended here " +
      "so that the block easily clears the seventeen word minimum of the classifier rules</p></body></html>")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Boilerplate.extract(latin).text.contains("café crème"))
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "<body><p>utf eight bom page with plenty of words to pass the seventeen word threshold of the classifier rules</p></body>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(Boilerplate.extract(bom).text.startsWith("utf eight bom page"))
  }

  test("layout: list items get '- ' markers, table rows join cells with ' | '") {
    import graft.pipeline.Corpus
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val html = new String(Corpus.htmlLayoutFromText(text, 1L), java.nio.charset.StandardCharsets.UTF_8)
    val r = Boilerplate.extract(html)
    assert(r.text == Corpus.htmlLayoutExpected(text), r.text)
    assert(r.text.contains("- w13"))            // first list item marker
    assert(r.text.contains("w42 | w43"))        // cell separator inside a row
    assert(r.text.endsWith("w53 w54 w55 w56 w57 w58 w59 w60")) // single-cell last row
    assert(r.spans.exists(_.kind == "li"))
    // short doc: no list, no table
    val short = Boilerplate.extract(new String(Corpus.htmlLayoutFromText("just five words right here", 2L), java.nio.charset.StandardCharsets.UTF_8))
    assert(short.text == "just five words right here")
  }

  test("layout: missing </li> still closes the item at the next block tag") {
    val html = "<body><p>priming paragraph with more than four plain words here</p>" +
      "<ul><li>first item with plenty of words to keep<li>second item words here kept too</ul>" +
      "<p>after the list this paragraph has enough plain words to be kept as content</p></body>"
    val r = Boilerplate.extract(html)
    assert(r.text.contains("- first item"))
    assert(r.text.contains("- second item"))
    assert(!r.text.contains("- after the list"), r.text) // flag cleared at </ul>
  }

  test("full HTML4 named entity table decodes") {
    val html = "<body><p>em&mdash;dash &hellip; &copy; &eacute; &alpha; &euro; &rarr; &ldquo;q&rdquo; " +
      "plus plenty of additional filler words to pass the classifier threshold rules okay</p></body>"
    val r = Boilerplate.extract(html)
    assert(r.text.contains("em—dash … © é α € → “q”"), r.text)
    assert(graft.html.Entities.table.size == 253) // 252 HTML4 + apos
    assert(graft.html.Entities.table("frac12") == '½')
    assert(graft.html.Entities.table("Omega") == 'Ω')
    // unknown names still fall back to a literal ampersand
    assert(Boilerplate.extract("<body><p>a &notanentity; b plus quite a few additional plain filler words so that " +
      "this single block clears the seventeen word threshold of the classifier rules</p></body>")
      .text.contains("a &notanentity; b"))
  }

  test("fuzz: mutated and truncated HTML never throws") {
    import graft.pipeline.Corpus
    val rnd = new java.util.Random(0x48544d4cL) // "HTML"
    val base = Corpus.htmlFromText("some ordinary body text with enough words to matter here", 3L)
    val layout = Corpus.htmlLayoutFromText((1 to 60).map(i => s"w$i").mkString(" "), 5L)
    Seq(base, layout).foreach { b =>
      (1 to 200).foreach { _ =>
        val m = b.clone()
        (0 until 1 + rnd.nextInt(6)).foreach(_ => m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte)
        Boilerplate.extract(m) // must not throw
      }
      (1 to 30).foreach(_ => Boilerplate.extract(java.util.Arrays.copyOf(b, 1 + rnd.nextInt(b.length))))
    }
  }

  test("empty and pathological inputs do not throw") {
    assert(Boilerplate.extract("").text == "")
    Boilerplate.extract("<<<>>>") // must not throw
    assert(Boilerplate.extract("<p").text == "")
    assert(Boilerplate.extract("plain text with no tags at all but quite a few words so it counts as content for the rules").text.nonEmpty)
  }

  /** The decoder as it stood before it decoded in place: an unbounded
    * `indexOf(';')`, a substring per body, `parseInt` on a substring, a
    * tuple per entity. The in-place decoder must agree with it everywhere. */
  private def referenceEntity(html: String, i: Int): (Char, Char, Int) = {
    val maxBody = math.max(graft.html.Entities.maxNameLength, 8)
    val semi = html.indexOf(';', i + 1)
    if (semi < 0 || semi - i - 1 > maxBody) return ('&', 0, i + 1)
    val body = html.substring(i + 1, semi)
    graft.html.Entities.table.get(body) match {
      case Some(c) => (c, 0, semi + 1)
      case None =>
        val cp =
          try {
            if (body.startsWith("#x") || body.startsWith("#X")) Integer.parseInt(body.substring(2), 16)
            else if (body.startsWith("#")) Integer.parseInt(body.substring(1))
            else return ('&', 0, i + 1)
          } catch { case _: Exception => return ('&', 0, i + 1) }
        if (cp < 0 || cp > 0x10ffff) return ('&', 0, i + 1)
        if (cp > 0xffff) {
          val pair = Character.toChars(cp)
          (pair(0), pair(1), semi + 1)
        } else (cp.toChar, 0, semi + 1)
    }
  }

  private def inPlaceEntity(html: String, i: Int): (Char, Char, Int) = {
    val e = Boilerplate.entity(html, i)
    (Boilerplate.entityChar(e), Boilerplate.entityLow(e), Boilerplate.entityNext(e))
  }

  private def assertDecodersAgree(html: String): Unit =
    html.indices.filter(html.charAt(_) == '&').foreach { i =>
      assert(inPlaceEntity(html, i) == referenceEntity(html, i), s"at $i of ${html.take(60)}")
    }

  test("in-place entity decoding agrees with the substring decoder on every edge") {
    val maxName = graft.html.Entities.maxNameLength
    val longest = graft.html.Entities.table.keys.filter(_.length == maxName).toSeq.sorted
    assert(longest.nonEmpty)
    val edges = Seq("&;", "&#;", "&#x;", "&#X;", "&#+65;", "&#-1;", "&#x+41;", "&#x-41;",
      "&#1114112;", "&#x110000;", "&#x10FFFF;", "&#x1F600;", "&#128512;", "&#0;", "&#xD800;",
      "&#65", "&", "&amp", "&AMP;", "&amp;", "&apos;", "&Omega;", "&#X41;", "&#0000065;",
      "&#00000065;", "&#99999999;", "&#2147483648;", "&#4294967361;", "&#xg;", "&# 65;",
      "&amp" + "x" * 20 + ";", "&" + "#" + "6" * 20 + ";") ++
      longest.flatMap(n => Seq(s"&$n;", s"&${n}x;", s"&$n")) ++
      Seq("a" * maxName, "#" + "1" * maxName, "#x" + "1" * (maxName - 1))
        .flatMap(body => Seq(s"&$body;", s"&${body}0;"))
    edges.foreach(e => assertDecodersAgree(s"a${e}b&$e;"))
    // the named, numeric and astral corners decode to what they name
    assert(inPlaceEntity("&#+65;", 0) == (('A', 0.toChar, 6)))
    assert(inPlaceEntity("&#-1;", 0) == (('&', 0.toChar, 1)))
    assert(inPlaceEntity("&#x1F600;", 0) == ((0xD83D.toChar, 0xDE00.toChar, 9)))
    assert(inPlaceEntity(s"&${longest.head};", 0)._3 == maxName + 2)
    // and random soup built from the decoder's own alphabet
    val rnd = new java.util.Random(0x454e54L) // "ENT"
    val alphabet = "&&&;;##xX+-0123456789aAfFmplgtOeo"
    (1 to 3000).foreach { _ =>
      assertDecodersAgree(Seq.fill(1 + rnd.nextInt(24))(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString)
    }
  }

  test("a 2 MB page of unterminated '&' extracts in linear time") {
    val n = 700 * 1000
    val page = "<body><p>" + "&x " * n + "</p></body>"
    assert(page.length > 2 * 1000 * 1000)
    val t0 = System.nanoTime()
    val r = Boilerplate.extract(page)
    val s = (System.nanoTime() - t0) / 1e9
    assert(r.text == ("&x " * n).trim)
    // tens of milliseconds in place; an unbounded ';' search per '&' is
    // quadratic here and takes tens of seconds
    assert(s < 10.0, f"$s%.2f s")
  }
}
