package graft

import graft.fixtures.{GoldenGen, TestPdfs}
import graft.pdf.{PdfExtract, WorkBuffers}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end extraction goldens over the deterministic fixture corpus
  * (FIXTURES.md F2/F3). Expected texts are derived from the reference's
  * assembly rules (SURVEY.md §2.2) with "\n" newlines and the default "|"
  * content delimiter. */
class PdfExtractSpec extends AnyFunSuite {

  private def readResource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/" + name)
    require(in != null, s"missing resource $name")
    try in.readAllBytes()
    finally in.close()
  }

  test("minimal hello pdf extracts Td newline + Tj + delimiter") {
    val r = PdfExtract.extract(GoldenGen.helloPdf())
    assert(r.pages == 1)
    assert(r.text == "\nHello World|")
    // no font resources on the page → the reference logs the missing font
    assert(r.error.exists(_.contains("Could not find font 'F1'.")))
    assert(r.spans.nonEmpty && r.spans.head.kind == "content")
  }

  test("multiline pdf: Td/TD/T*/Tm newline rules, TJ kerning, quote op, hex, escapes") {
    val r = PdfExtract.extract(GoldenGen.multilinePdf())
    assert(r.text == "first|\nsecond|\nkerned|quoted|sameTm|\nmovedTm|Hello|octAal (esc) line\\|")
  }

  test("double-quote operator aborts the content like the reference") {
    // the reference's '"' handler dies reading the post-skip whitespace
    // (Tokeniser.cs:1937-1990 + 2360-2461); text up to that op is kept
    val b = new GoldenGen.PdfBuilder()
    val content = b.addStream("",
      "BT (before) Tj 2 3 (dq) \" (after) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val pagesId = b.nextObjectNumber + 1
    val pageId = b.addObject(s"<</Type/Page /Parent $pagesId 0 R/Contents $content 0 R>>")
    b.addObject(s"<</Type/Pages /Kids[$pageId 0 R] /Count 1>>")
    val catalog = b.addObject(s"<</Type/Catalog /Pages $pagesId 0 R>>")
    val r = PdfExtract.extract(b.finish(s"/Root $catalog 0 R"))
    assert(r.text == "before|")
    assert(r.decodeFailures == 1)
  }

  test("fonts: Differences overlay + ToUnicode bfchar/bfrange + ligature packing") {
    val r = PdfExtract.extract(GoldenGen.fontsPdf())
    // base Standard; Differences: 'D'→B, 'd'→X; ToUnicode: 'A'→B, 'f'→ﬀ,
    // 'a'..'c'→x..z, 'g'→ﬃ (12-digit …69 tail), 'h'→ﬄ (12-digit …6C tail)
    assert(r.text == "Bxﬀy" + "CBX" + "ﬃﬄ" + "|")
    assert(r.error.isEmpty, r.error.getOrElse(""))
  }

  test("ligature lookahead quirk: lowercase <…006c> tail fails the font like the reference") {
    // the 12-digit ffl lookahead matches 'C' only (Tokeniser.cs:2634-2641);
    // a lowercase hex tail falls through to the too-many-digits throw even
    // though the hex value is identical. Both engines capture the throw in
    // the FONT's exception field (PdfFont.cs:122-124): the document shows a
    // decode failure and extracts with the PARTIAL overlay — bfchars parsed
    // before the throw apply (A→B, f→ﬀ, g→ﬃ), the failing <68> and the
    // never-reached bfrange ('a'..'c'→x..z) do not
    val bad = PdfExtract.extract(GoldenGen.fontsPdfWithDest("<00660066006c>"))
    assert(bad.decodeFailures == 1, s"failures=${bad.decodeFailures} err=${bad.error}")
    assert(bad.text == "Baﬀb" + "CBX" + "ﬃh" + "|", bad.text)
    // sanity: the same fixture with the uppercase tail is the happy path
    val good = PdfExtract.extract(GoldenGen.fontsPdfWithDest("<00660066006C>"))
    assert(good.decodeFailures == 0 && good.text == "Bxﬀy" + "CBX" + "ﬃﬄ" + "|")
  }

  test("MacRoman vs WinAnsi high-byte decoding") {
    // byte 0xD5 is ’ (U+2019) in MacRoman, Õ (U+00D5) in WinAnsi
    val shown = "AÕB" // raw bytes A, 0xD5, B
    val mac = PdfExtract.extract(GoldenGen.encodedFontPdf("MacRomanEncoding", shown))
    val win = PdfExtract.extract(GoldenGen.encodedFontPdf("WinAnsiEncoding", shown))
    assert(mac.text == "A’B|")
    assert(win.text == "AÕB|")
  }

  test("xref stream + compressed object stream (type-2 entries)") {
    val r = PdfExtract.extract(GoldenGen.xrefStreamPdf(predictor = false))
    assert(r.text == "xref stream works|", r.error.orNull)
    assert(r.pages == 1)
  }

  test("xref stream with PNG-Up predictor") {
    val r = PdfExtract.extract(GoldenGen.xrefStreamPdf(predictor = true))
    assert(r.text == "xref stream works|", r.error.orNull)
  }

  test("hybrid /XRefStm is ignored like the reference: table-freed /Root errors") {
    // the reference treats /XRefStm as trailer bookkeeping, so the hidden
    // /Root stays a free entry -> error row
    val r = PdfExtract.extract(GoldenGen.hybridXrefPdf("hybrid payload"))
    assert(r.error.isDefined)
    assert(r.text == "")
  }

  test("malformed tolerances: junk before header, CR-only EOL, wrong /Length, trailing NULs") {
    val r = PdfExtract.extract(GoldenGen.malformedPdf())
    assert(r.text == "tolerant parse|", r.error.orNull)
    // the wrong /Length is recorded as a stream-length problem, not a failure
    assert(r.error.exists(_.contains("does not point to endstream")))
  }

  test("RC4-encrypted pdf decrypts with empty user password") {
    val r = PdfExtract.extract(GoldenGen.encryptedPdf("secret text"))
    assert(r.text == "secret text|", r.error.orNull)
  }

  test("graphics ops: inline images skipped, clip rects parsed, text intact") {
    val r = PdfExtract.extract(GoldenGen.graphicsPdf())
    assert(r.error.isEmpty, r.error)
    assert(r.text == "before|after|")
  }

  test("reference fixture: H3 Simple Text String Example.pdf") {
    val r = PdfExtract.extract(readResource("h3-sample.pdf"))
    assert(r.pages == 1)
    assert(r.text == "\n Hello World |")
  }

  test("reference fixture: file-sample_150kB.pdf (real-world FlateDecode, frozen golden)") {
    val r = PdfExtract.extract(readResource("file-sample-150kB.pdf"))
    assert(r.pages == 4)
    assert(r.decodeFailures == 0)
    assert(r.text.length == 6348)
    assert(r.text.startsWith("\nLorem ipsum |\nLorem ipsum dolor sit amet, consectetur adipiscing |"))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(r.text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    // golden captured at round 1 (M2 "captured once and frozen")
    assert(md5 == "a79c2d2ed3964fb00fd81d706a950d6f")
  }

  test("buffer reuse across documents leaves no state behind") {
    val buffers = new WorkBuffers()
    val a1 = PdfExtract.extract(GoldenGen.fontsPdf(), buffers = buffers)
    val b1 = PdfExtract.extract(GoldenGen.multilinePdf(), buffers = buffers)
    val a2 = PdfExtract.extract(GoldenGen.fontsPdf(), buffers = buffers)
    val b2 = PdfExtract.extract(GoldenGen.multilinePdf(), buffers = buffers)
    assert(a1.text == a2.text)
    assert(b1.text == b2.text)
  }

  test("inflate cap: an oversized stream becomes an error row") {
    // 2 MB of zeros deflates tiny but exceeds a 64 KB cap on inflate
    val big = new Array[Byte](2 * 1024 * 1024)
    java.util.Arrays.fill(big, 'x'.toByte)
    val b = new GoldenGen.PdfBuilder()
    val content = b.addStream("", ("BT (ok) Tj ET " + new String(big, "ISO-8859-1")).getBytes("ISO-8859-1"), deflate = true)
    val catalog = GoldenGen.catalogFor(b, Seq(content))
    val pdf = b.finish(s"/Root $catalog 0 R")
    val r = PdfExtract.extract(pdf, buffers = new WorkBuffers(maxInflateBytes = 64 * 1024))
    assert(r.decodeFailures >= 1)
    assert(r.error.exists(_.contains("buffer overflow")), r.error)
    // and with the default cap it parses fine
    val ok = PdfExtract.extract(pdf)
    assert(ok.text == "ok|")
  }

  test("AES (V4/R4) encryption becomes the reference's structured error row, not an exception") {
    // reference throw site: Tokeniser.cs:635-645 (only Standard RC4 V1-2/R2-3)
    val r = PdfExtract.extract(GoldenGen.encryptedPdfV4())
    assert(r.decodeFailures == 1)
    assert(r.error.exists(_.contains("can only decrypt pdf files using Standard encryption")), r.error)
    assert(r.text == "")
    assert(r.pages == 0)
  }

  test("pathological nesting and op-loops become error rows, not dead executors") {
    // 200k-deep nested array operand: recursion must either be handled or
    // surface as a caught error row (extract catches Throwable, incl.
    // StackOverflowError) — a crafted document must never kill the executor
    val depth = 200000
    val b = new GoldenGen.PdfBuilder()
    val ops = ("BT " + ("[" * depth) + ("]" * depth) + " (x) Tj ET").getBytes("ISO-8859-1")
    val content = b.addStream("", ops)
    val catalog = GoldenGen.catalogFor(b, Seq(content))
    val r = PdfExtract.extract(b.finish(s"/Root $catalog 0 R")) // must not throw
    // outcome: a caught StackOverflowError surfaces as a document-level
    // error row (pages=0) — the executor survives, the doc is reported
    assert(r.pages == 1 || (r.decodeFailures >= 1 && r.error.isDefined), (r.pages, r.error))
    // the reference's endless-loop guard (Tokeniser.cs:2224-2225) is live:
    // an operand-only stream (no operator ever found) terminates cleanly
    val b2 = new GoldenGen.PdfBuilder()
    val content2 = b2.addStream("", "BT (only an operand)".getBytes("ISO-8859-1"))
    val catalog2 = GoldenGen.catalogFor(b2, Seq(content2))
    val r2 = PdfExtract.extract(b2.finish(s"/Root $catalog2 0 R"))
    assert(r2.pages == 1) // error captured per-content, not thrown
  }

  test("fuzz: random byte corruption never throws (executor safety at web scale)") {
    // one bad document must never kill a 10^12-row job: every mutation of a
    // valid PDF must come back as a (possibly partial) result or error row
    val rnd = new java.util.Random(20260817L)
    val bases = Seq(GoldenGen.helloPdf(), GoldenGen.fontsPdf(), GoldenGen.multilinePdf(),
      GoldenGen.xrefStreamPdf(predictor = true), GoldenGen.encryptedPdf())
    val buffers = new WorkBuffers()
    var errorRows = 0
    (1 to 400).foreach { i =>
      val base = bases(i % bases.length)
      val mutated = base.clone()
      val nMut = 1 + rnd.nextInt(8)
      (1 to nMut).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      val r = PdfExtract.extract(mutated, buffers = buffers) // must not throw
      if (r.error.isDefined) errorRows += 1
    }
    // truncations and pure garbage too
    (1 to 50).foreach { i =>
      val base = bases(i % bases.length)
      val cut = java.util.Arrays.copyOf(base, 1 + rnd.nextInt(base.length))
      PdfExtract.extract(cut, buffers = buffers)
      val junk = new Array[Byte](256); rnd.nextBytes(junk)
      PdfExtract.extract(junk, buffers = buffers)
    }
    assert(errorRows > 0, "mutations never produced an error row — fuzz too weak")
  }

  test("AES V4/R4 with real AES-128 streams keeps the reference error row") {
    // the reference's exact throw surface (Tokeniser.cs:635-645)
    val r = PdfExtract.extract(TestPdfs.encryptedPdfAes("quarterly aes report"))
    assert(r.error.exists(_.contains("can only decrypt pdf files using Standard encryption")), r.error)
    assert(r.text == "")
  }

  test("non-pdf bytes give an error row, not an exception") {
    val r = PdfExtract.extract("this is not a pdf at all".getBytes)
    assert(r.error.isDefined)
    assert(r.text == "")
    assert(r.decodeFailures == 1)
  }

  test("header: a file that ends right after %PDF-1. is an index error row") {
    // the reference reads the version byte after "%PDF-1."; without that
    // read this file would reach the linearized xref fallback instead
    val bytes = ("garbage line\n\n<</Linearized 1>>\nxref\n0 1\n0000000000 65535 f \n" +
      "trailer<</Size 1>>\n%PDF-1.").getBytes("ISO-8859-1")
    val r = PdfExtract.extract(bytes)
    assert(r.error.contains("ArrayIndexOutOfBoundsException: ") && r.decodeFailures == 1, r.error)
  }

  /** A one-page file whose xref entries 4 and 5 share one offset: the
    * page's /Contents 5 parses "4 0 obj" a second time if something else
    * resolved 4 first. `trailerRefs` goes into the trailer. */
  private def sharedOffsetPdf(trailerRefs: String): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.4\n")
    val offs = scala.collection.mutable.Map.empty[Int, Int]
    def obj(id: Int, body: String): Unit = {
      offs(id) = sb.length
      sb.append(s"$id 0 obj\n$body\nendobj\n")
    }
    obj(1, "<</Type/Catalog/Pages 2 0 R>>")
    obj(2, "<</Type/Pages/Kids[3 0 R]/Count 1>>")
    obj(3, "<</Type/Page/Parent 2 0 R/Contents 5 0 R>>")
    obj(4, "<</Length 16>>stream\nBT (hello) Tj ET\nendstream")
    obj(6, "<</Title 4 0 R>>")
    offs(5) = offs(4)
    val xref = sb.length
    sb.append("xref\n0 7\n0000000000 65535 f \n")
    (1 to 6).foreach(i => sb.append(f"${offs(i)}%010d 00000 n \n"))
    sb.append(s"trailer<</Size 7/Root 1 0 R$trailerRefs>>\nstartxref\n$xref\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  test("trailer /Info walk: resolving its values still decides the row, as in the reference") {
    // /Info resolves 4 first: the reference's duplicate-object error.
    // Without the walk the page would read "hello".
    val plain = PdfExtract.extract(sharedOffsetPdf(""))
    assert(plain.error.isEmpty && plain.text.startsWith("hello"), plain.error)
    val r = PdfExtract.extract(sharedOffsetPdf("/Info 6 0 R"))
    assert(r.text == "" && r.decodeFailures == 1, r.text)
    assert(r.error.exists(_.startsWith("IllegalStateException: object 4 0 defined twice")), r.error)
  }

  test("trailer /ID: resolving its indirect elements still decides the row, as in the reference") {
    val r = PdfExtract.extract(sharedOffsetPdf("/ID[4 0 R 4 0 R]"))
    assert(r.text == "" && r.decodeFailures == 1, r.text)
    assert(r.error.exists(_.startsWith("IllegalStateException: object 4 0 defined twice")), r.error)
  }

  test("errorText: implicit JVM exceptions read the same with or without a message") {
    // HotSpot may throw these preallocated, without a message, once the
    // throw site is compiled; the error text must not depend on that
    Seq[String => Throwable](new NullPointerException(_), new ArithmeticException(_),
        new ArrayIndexOutOfBoundsException(_), new ArrayStoreException(_), new ClassCastException(_))
      .foreach { mk =>
        val withMsg = mk("Index 486 out of bounds for length 486")
        val bare = mk(null)
        assert(PdfExtract.errorText(withMsg) == PdfExtract.errorText(bare))
        assert(PdfExtract.errorText(bare) == withMsg.getClass.getSimpleName + ": ")
      }
    assert(PdfExtract.errorText(new IllegalStateException("bad state")) ==
      "IllegalStateException: bad state")
    assert(PdfExtract.errorText(new IllegalStateException()) == "IllegalStateException: ")
  }

  test("isPdf classifier: prefix, embedded header, html") {
    assert(PdfExtract.isPdf(GoldenGen.helloPdf()))
    assert(PdfExtract.isPdf(GoldenGen.malformedPdf())) // header after junk
    assert(!PdfExtract.isPdf("<html><body>hi</body></html>".getBytes))
    assert(!PdfExtract.isPdf(Array.emptyByteArray))
  }

  test("synthetic multi-page pdf is deterministic and page-count exact") {
    val r1 = PdfExtract.extract(GoldenGen.syntheticPdf(seed = 7, pages = 5))
    val r2 = PdfExtract.extract(GoldenGen.syntheticPdf(seed = 7, pages = 5))
    assert(r1.pages == 5)
    assert(r1.text == r2.text)
    assert(r1.text.length > 1000)
    val r3 = PdfExtract.extract(GoldenGen.syntheticPdf(seed = 8, pages = 5))
    assert(r3.text != r1.text)
  }
}
