package graft.fixtures

import graft.fixtures.GoldenGen._
import graft.pdf.PdfCrypto
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** The fixture documents that only tests read, built with [[GoldenGen]]'s
  * writer: one small PDF per parser feature (fonts, xref streams, hybrid
  * xrefs, graphics operators, malformations, encryption) and seeded
  * multi-page PDF and HTML documents. Deterministic; no external data. */
object GoldenDocs {
  /** Minimal single-page uncompressed PDF: `(…) Tj` only — the reference
    * test's shape (reference: PdfParserTest.cs:17-66). */
  def helloPdf(message: String = "Hello World"): Array[Byte] = {
    val b = new PdfBuilder()
    val content = b.addStream("", s"BT /F1 24 Tf 100 100 Td ($message) Tj ET".getBytes(ISO_8859_1))
    val catalog = catalogFor(b, Seq(content))
    b.finish(s"/Root $catalog 0 R")
  }

  /** Exercises Td/TD/Tstar/Tm newline semantics, TJ kerning arrays, the
    * quote and double-quote show operators, hex-string show, octal and
    * named escapes. */
  def multilinePdf(): Array[Byte] = {
    val b = new PdfBuilder()
    val ops =
      "BT /F1 12 Tf " +
        "1 0 0 1 50 700 Tm (first) Tj " +
        "0 -14 Td (second) Tj " +
        "T* [(ker) -120 (ned)] TJ " +
        "(quoted) ' " +
        "1 0 0 1 50 700 Tm (sameTm) Tj " +
        "1 0 0 1 50 600 Tm (movedTm) Tj " +
        "<48656C6C6F> Tj " +
        "(oct\\101al \\(esc\\) line\\\\) Tj " +
        "ET"
    val content = b.addStream("", ops.getBytes(ISO_8859_1))
    val catalog = catalogFor(b, Seq(content))
    b.finish(s"/Root $catalog 0 R")
  }

  /** FlateDecode content + /Differences overlay + ToUnicode CMap
    * (bfchar + bfrange incl. a ligature cid). */
  def fontsPdf(): Array[Byte] = {
    val b = new PdfBuilder()
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |11 dict begin
        |begincmap
        |/CIDSystemInfo << /Registry(graft) /Ordering(UCS) /Supplement 0 >> def
        |/CMapName /graft-UCS def
        |/CMapType 2 def
        |1 begincodespacerange
        |<00> <FF>
        |endcodespacerange
        |4 beginbfchar
        |<41> <0042>
        |<66> <00660066>
        |<67> <006600660069>
        |<68> <00660066006C>
        |endbfchar
        |1 beginbfrange
        |<61> <63> <0078>
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end
        |end""".stripMargin
    val cmapId = b.addStream("", cmap.getBytes(ISO_8859_1), deflate = true)
    val fontId = b.addObject(
      s"<</Type/Font/Subtype/Type1/BaseFont/GraftSans/Encoding<</Type/Encoding/Differences[68 /B 100 /uni0058]>>/ToUnicode $cmapId 0 R>>")
    val content = b.addStream("", "BT /F1 10 Tf (AafbCDdgh) Tj ET".getBytes(ISO_8859_1), deflate = true)
    val catalog = catalogFor(b, Seq(content), fontObj = Some(("F1", fontId)))
    b.finish(s"/Root $catalog 0 R")
  }

  /** [[fontsPdf]] with one bfchar destination replaced by `dest` — for the
    * reference's ligature-lookahead quirks (e.g. `<00660066006c>` with a
    * LOWERCASE c throws "should have only 4 hex digits": the 12-digit
    * lookahead matches the ffl tail byte-for-byte against uppercase 'C'
    * only, Tokeniser.cs:2634-2641). */
  def fontsPdfWithDest(dest: String): Array[Byte] = {
    val b = new PdfBuilder()
    val cmap =
      s"""/CIDInit /ProcSet findresource begin
         |11 dict begin
         |begincmap
         |/CIDSystemInfo << /Registry(graft) /Ordering(UCS) /Supplement 0 >> def
         |/CMapName /graft-UCS def
         |/CMapType 2 def
         |1 begincodespacerange
         |<00> <FF>
         |endcodespacerange
         |4 beginbfchar
         |<41> <0042>
         |<66> <00660066>
         |<67> <006600660069>
         |<68> $dest
         |endbfchar
         |1 beginbfrange
         |<61> <63> <0078>
         |endbfrange
         |endcmap
         |CMapName currentdict /CMap defineresource pop
         |end
         |end""".stripMargin
    val cmapId = b.addStream("", cmap.getBytes(ISO_8859_1), deflate = true)
    val fontId = b.addObject(
      s"<</Type/Font/Subtype/Type1/BaseFont/GraftSans/Encoding<</Type/Encoding/Differences[68 /B 100 /uni0058]>>/ToUnicode $cmapId 0 R>>")
    val content = b.addStream("", "BT /F1 10 Tf (AafbCDdgh) Tj ET".getBytes(ISO_8859_1), deflate = true)
    val catalog = catalogFor(b, Seq(content), fontObj = Some(("F1", fontId)))
    b.finish(s"/Root $catalog 0 R")
  }

  /** Font selected by name via the standard tables (MacRoman / WinAnsi). */
  def encodedFontPdf(encodingName: String, shown: String): Array[Byte] = {
    val b = new PdfBuilder()
    val fontId = b.addObject(s"<</Type/Font/Subtype/Type1/BaseFont/Helvetica/Encoding/$encodingName>>")
    val content = b.addStream("", s"BT /F1 10 Tf ($shown) Tj ET".getBytes(ISO_8859_1))
    val catalog = catalogFor(b, Seq(content), fontObj = Some(("F1", fontId)))
    b.finish(s"/Root $catalog 0 R")
  }

  /** Cross-reference STREAM file with the page graph packed into a
    * compressed object stream (type-2 entries), exercising S5 + S10 + S11. */
  def xrefStreamPdf(predictor: Boolean): Array[Byte] = {
    val b = new PdfBuilder("1.5")
    val content = b.addStream("", "BT /F1 24 Tf (xref stream works) Tj ET".getBytes(ISO_8859_1))
    require(content == 1)
    // page (4) + pages (3) + catalog (5) live inside object stream 2,
    // member order: 4, 3, 5
    val inner = Seq(
      4 -> s"<</Type/Page /Parent 3 0 R/Contents $content 0 R>>",
      3 -> "<</Type/Pages /Kids[4 0 R] /Count 1>>",
      5 -> "<</Type/Catalog /Pages 3 0 R>>")
    val payloadBody = inner.map(_._2).mkString(" ")
    var off = 0
    val header = inner.map { case (id, src) =>
      val entry = s"$id $off"
      off += src.length + 1
      entry
    }.mkString(" ") + " "
    val objStmId = b.addStream(s"/Type/ObjStm/N ${inner.length}/First ${header.length}",
      (header + payloadBody).getBytes(ISO_8859_1), deflate = true)
    require(objStmId == 2)

    val xrefId = 6
    val xrefAddress = b.size
    def offRow(a: Int) = Array[Byte](1, ((a >> 16) & 0xff).toByte, ((a >> 8) & 0xff).toByte, (a & 0xff).toByte, 0)
    val rows: IndexedSeq[Array[Byte]] = IndexedSeq(
      Array[Byte](0, 0, 0, 0, 0xff.toByte),
      offRow(b.objectOffset(1)),
      offRow(b.objectOffset(2)),
      Array[Byte](2, 0, 0, 2, 1), // obj 3 → objStm 2, member index 1
      Array[Byte](2, 0, 0, 2, 0), // obj 4 → member index 0
      Array[Byte](2, 0, 0, 2, 2), // obj 5 → member index 2
      offRow(xrefAddress))
    var packed: Array[Byte] = rows.flatten.toArray
    var parms = ""
    if (predictor) {
      val enc = new ByteArrayOutputStream()
      var prev = new Array[Byte](5)
      rows.foreach { r =>
        enc.write(2)
        var j = 0
        while (j < 5) { enc.write((r(j) - prev(j)) & 0xff); j += 1 }
        prev = r
      }
      packed = enc.toByteArray
      parms = "/DecodeParms<</Predictor 12/Columns 5>>"
    }
    val body = zlib(packed)
    b.raw(s"$xrefId 0 obj\n<</Type/XRef/Size ${rows.length}/W[1 3 1]$parms/Filter/FlateDecode/Length ${body.length}/Root 5 0 R>>stream\n")
    b.raw(body)
    b.raw("\nendstream\nendobj\n")
    b.raw(s"startxref\n$xrefAddress\n%%EOF\n")
    b.currentBytes
  }

  /** HYBRID-reference file (ISO 32000-1 §7.5.8.4): a CLASSIC xref table
    * whose trailer carries /XRefStm pointing at a supplementary /Type/XRef
    * stream. The page tree (objects 3/4/5) lives in compressed object
    * stream 2; the classic table lists only the content stream (1) as
    * in-use and marks 2..6 FREE — the compatibility hiding the spec
    * prescribes for old readers. A reader that ignores /XRefStm (the
    * reference treats it as trailer bookkeeping, Tokeniser.cs:518), as
    * the reader does, cannot resolve the /Root and errors. */
  def hybridXrefPdf(message: String = "hybrid xref works"): Array[Byte] = {
    val b = new PdfBuilder("1.5")
    val content = b.addStream("", s"BT /F1 24 Tf ($message) Tj ET".getBytes(ISO_8859_1))
    require(content == 1)
    val inner = Seq(
      4 -> s"<</Type/Page /Parent 3 0 R/Contents $content 0 R>>",
      3 -> "<</Type/Pages /Kids[4 0 R] /Count 1>>",
      5 -> "<</Type/Catalog /Pages 3 0 R>>")
    val payloadBody = inner.map(_._2).mkString(" ")
    var off = 0
    val header = inner.map { case (id, src) =>
      val entry = s"$id $off"
      off += src.length + 1
      entry
    }.mkString(" ") + " "
    val objStmId = b.addStream(s"/Type/ObjStm/N ${inner.length}/First ${header.length}",
      (header + payloadBody).getBytes(ISO_8859_1), deflate = true)
    require(objStmId == 2)

    // supplementary xref stream (object 6; 3..5 are ObjStm members, so the
    // builder's counter never sees them — write the object manually)
    def offRow(a: Int) = Array[Byte](1, ((a >> 16) & 0xff).toByte, ((a >> 8) & 0xff).toByte, (a & 0xff).toByte, 0)
    val xrefStmAddress = b.size
    val xrefStmId = 6
    val rows: IndexedSeq[Array[Byte]] = IndexedSeq(
      offRow(b.objectOffset(2)),  // obj 2: the ObjStm carrier
      Array[Byte](2, 0, 0, 2, 1), // obj 3 → objStm 2, member index 1
      Array[Byte](2, 0, 0, 2, 0), // obj 4 → member index 0
      Array[Byte](2, 0, 0, 2, 2), // obj 5 → member index 2
      offRow(xrefStmAddress))     // obj 6: itself
    val body = zlib(rows.flatten.toArray)
    b.raw(s"$xrefStmId 0 obj\n<</Type/XRef/Size 7/Index[2 5]/W[1 3 1]/Filter/FlateDecode/Length ${body.length}/Root 5 0 R>>stream\n")
    b.raw(body)
    b.raw("\nendstream\nendobj\n")

    // classic table: object 1 in use, 2..6 hidden behind free marks
    val tableAddress = b.size
    b.raw("xref\n0 7\n")
    b.raw("0000000000 65535 f \n")
    b.raw(f"${b.objectOffset(1)}%010d 00000 n \n")
    (2 to 6).foreach(_ => b.raw("0000000000 00000 f \n"))
    b.raw(s"trailer<</Size 7/Root 5 0 R/XRefStm $xrefStmAddress>>\n")
    b.raw(s"startxref\n$tableAddress\n%%EOF\n")
    b.currentBytes
  }

  /** Graphics operators around text: inline image (`BI..ID..EI` skipped via
    * delimiter scan, Tokeniser.cs:2106-2138), clipping rect (`re` + `W n`
    * captured but unused, Tokeniser.cs:2141-2158), and assorted skipped ops
    * (q/Q/cm/rg). Extracted text must contain only the shown strings. */
  def graphicsPdf(): Array[Byte] = {
    val b = new PdfBuilder()
    val ops =
      "q 0.5 0 0 0.5 10 10 cm " +
        "10 20 300 400 re W n " +
        "BI /W 4 /H 1 /CS /RGB /BPC 8 ID  ÿ  EI " +
        "1 0 0 rg " +
        "BT (before) Tj ET " +
        "BI /W 2 /H 2 ID ABCD EI " +
        "BT (after) Tj ET Q"
    val content = b.addStream("", ops.getBytes(ISO_8859_1))
    val catalog = catalogFor(b, Seq(content))
    b.finish(s"/Root $catalog 0 R")
  }

  /** Malformed-but-tolerated file: junk before the header (≤2000 B), CR-only
    * EOL after `stream`, wrong /Length (forces endstream rescan), trailing
    * NULs after %%EOF
    * (reference tolerances: Tokeniser.cs:190-200,239,1627-1641,1678-1696). */
  def malformedPdf(): Array[Byte] = {
    val junk = "q 119.06 0 0 48.93 51.02 41.78 cm /I1 Do Q\nBT 231.57 45.49 Td (stray preamble) Tj ET\n"
    val b = new PdfBuilder(prefix = junk)
    val content = b.addStream("", "BT /F1 24 Tf (tolerant parse) Tj ET".getBytes(ISO_8859_1),
      lengthOverride = 5, crOnlyEol = true)
    val catalog = catalogFor(b, Seq(content))
    b.finish(s"/Root $catalog 0 R", trailingNuls = 7)
  }

  /** RC4-encrypted (40-bit, V1 R2) document with empty user password. The U
    * value is whatever the reference's authenticator computes (Algorithm 5
    * with the 19-round XOR iteration — the reference applies it regardless of
    * R; reference: Tokeniser.cs:655-663). */
  def encryptedPdf(message: String = "secret text"): Array[Byte] = {
    val userPw = ""
    val ownerPw = ""
    val docIdHex = "0123456789abcdef0123456789abcdef"
    val docId = hexToBytes(docIdHex)
    val permission = -44
    val lengthBytes = 5
    // Algorithm 3 (R2): O = RC4(first-5-bytes-of MD5(paddedOwner), paddedUser)
    val ownerHash = PdfCrypto.md5(PdfCrypto.pad(ownerPw))
    val o = PdfCrypto.rc4(java.util.Arrays.copyOf(ownerHash, lengthBytes), PdfCrypto.pad(userPw))
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad(userPw), o, permission, docId, lengthBytes)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad(userPw), docId, key)

    val b = new PdfBuilder()
    val content = b.addStream("", s"BT /F1 24 Tf ($message) Tj ET".getBytes(ISO_8859_1), encryptKey = key)
    val catalog = catalogFor(b, Seq(content))
    val encId = b.addObject(
      s"<</Filter/Standard/V 1/R 2/P $permission/O <${bytesToHex(o)}>/U <${bytesToHex(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$docIdHex><$docIdHex>]")
  }

  /** AES-encrypted (V4/R4, /CFM/AESV2) fixture. The reference supports only
    * the RC4 standard handler — V∈{1,2}, R∈{2,3} — and throws ArgumentException
    * for anything else (reference: Tokeniser.cs:635-645); our engine
    * replicates that throw and the pipeline surfaces it as a structured
    * error row. Setup fails before any stream is touched, but the payload is
    * AES-CBC-shaped (16-byte IV + one block) for realism. */
  def encryptedPdfV4(): Array[Byte] = {
    val docIdHex = "0123456789abcdef0123456789abcdef"
    val b = new PdfBuilder()
    val fakeCipher = Array.tabulate[Byte](32)(i => (i * 37 + 11).toByte)
    val content = b.addStream("", fakeCipher)
    val catalog = catalogFor(b, Seq(content))
    val encId = b.addObject(
      "<</Filter/Standard/V 4/R 4/P -44/Length 128" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>" +
        "/StmF/StdCF/StrF/StdCF" +
        s"/O <${"ab" * 32}>/U <${"cd" * 32}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$docIdHex><$docIdHex>]")
  }

  private def hexToBytes(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
  private def bytesToHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  /** Seeded multi-page document for the bench/scale corpus: `pages` pages,
    * each with a few hundred show/positioning operators, FlateDecode. Page
    * counts are drawn log-normally by the corpus generator to produce the
    * skew the pipeline must handle. */
  def syntheticPdf(seed: Long, pages: Int, opsPerPage: Int = 120): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val b = new PdfBuilder()
    val contentIds = (0 until pages).map { _ =>
      val sbuf = new StringBuilder("BT /F1 11 Tf 1 0 0 1 50 760 Tm ")
      var i = 0
      while (i < opsPerPage) {
        rnd.nextInt(5) match {
          case 0 => sbuf.append('(').append(randWord(rnd)).append(") Tj ")
          case 1 => sbuf.append("0 -13 Td (").append(randWord(rnd)).append(") Tj ")
          case 2 => sbuf.append("[(").append(randWord(rnd)).append(") -").append(50 + rnd.nextInt(300))
                        .append(" (").append(randWord(rnd)).append(")] TJ ")
          case 3 => sbuf.append("T* (").append(randWord(rnd)).append(") Tj ")
          case _ => sbuf.append("1 0 0 1 50 ").append(100 + rnd.nextInt(600)).append(" Tm (")
                        .append(randWord(rnd)).append(") Tj ")
        }
        i += 1
      }
      sbuf.append("ET")
      b.addStream("", sbuf.toString.getBytes(ISO_8859_1), deflate = true)
    }
    val catalog = catalogFor(b, contentIds)
    b.finish(s"/Root $catalog 0 R")
  }

  private def randWord(rnd: scala.util.Random): String = {
    val len = 3 + rnd.nextInt(9)
    val chars = new Array[Char](len)
    var i = 0
    while (i < len) { chars(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
    new String(chars)
  }

  /** Seeded HTML page: nav/header/footer/aside boilerplate around main
    * content paragraphs (the north_rule HTML path's input). Returns
    * (htmlBytes, mainContentParagraphs incl. title). */
  def syntheticHtml(seed: Long, paragraphs: Int): (Array[Byte], Seq[String]) = {
    val rnd = new scala.util.Random(seed)
    def sentence(words: Int): String =
      (0 until words).map(_ => randWord(rnd)).mkString(" ")
    val title = sentence(4)
    val paras = (0 until paragraphs).map(_ => sentence(25 + rnd.nextInt(30)))
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>$title</title>
         |<style>body { color: red; }</style>
         |<script>var x = 1 < 2; // <p>not content</p></script>
         |</head><body>
         |<nav><ul><li><a href="/">home</a></li><li><a href="/a">${randWord(rnd)}</a></li><li><a href="/b">${randWord(rnd)}</a></li></ul></nav>
         |<header><h1>$title</h1></header>
         |<div id="main">
         |${paras.map(p => s"<p>$p</p>").mkString("\n")}
         |</div>
         |<aside><a href="/x">${randWord(rnd)}</a> <a href="/y">${randWord(rnd)}</a></aside>
         |<footer><p><a href="/about">about</a> | <a href="/tos">${randWord(rnd)}</a> | copyright</p></footer>
         |</body></html>""".stripMargin
    (html.getBytes(java.nio.charset.StandardCharsets.UTF_8), title +: paras)
  }
}
