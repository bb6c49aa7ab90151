package graft.fixtures

import graft.pdf.{ObjectId, PdfCrypto}
import java.io.ByteArrayOutputStream
import java.security.MessageDigest
import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** Deterministic PDF + HTML fixture/corpus generator.
  *
  * Modeled on the reference's in-memory PDF builders
  * (reference: PdfParserTest/PdfParserTest.cs:68-89 — object-append +
  * classic-xref writer; XRefUpdater/SampleToPdf.cs:23-59 — named objects with
  * auto-computed /Length) but generalised: FlateDecode streams, xref streams
  * (the hand-packed [[xrefStreamPdf]] fixture uses W [1 3 1]; the generalized
  * [[finishXrefStream]] builder uses W [1 3 2] — 2-byte ObjStm member index —
  * both with optional Predictor-12), compressed object streams, RC4
  * encryption, malformed-file variants, and seeded multi-page documents for
  * the bench corpus. No external data; everything derives from the seed.
  */
object GoldenGen {

  /** Byte-level PDF writer tracking per-object offsets. `prefix` bytes are
    * emitted BEFORE the %PDF header (the ≤2000-byte junk tolerance). */
  final class PdfBuilder(version: String = "1.4", prefix: String = "") {
    private val out = new ByteArrayOutputStream()
    private val offsets = mutable.ArrayBuffer[Int](0) // index = object number
    if (prefix.nonEmpty) raw(prefix)
    raw(s"%PDF-$version\n")
    raw("%âãÏÓ\n")

    def size: Int = out.size()
    def nextObjectNumber: Int = offsets.length
    def objectOffset(id: Int): Int = offsets(id)
    def currentBytes: Array[Byte] = out.toByteArray

    def raw(s: String): PdfBuilder = { out.write(s.getBytes(ISO_8859_1)); this }
    def raw(b: Array[Byte]): PdfBuilder = { out.write(b); this }

    /** Register the next object number at the current offset. */
    def registerObject(): Int = {
      val id = offsets.length
      offsets += out.size()
      id
    }

    /** Add `n 0 obj <content> endobj`; returns the object number. */
    def addObject(content: String): Int = {
      val id = registerObject()
      raw(s"$id 0 obj\n").raw(content).raw("\nendobj\n")
      id
    }

    /** Add a stream object; optional deflate (zlib-wrapped, matching the
      * reader's skip-2-bytes semantics), optional RC4 per-object encryption,
      * optional broken /Length and CR-only EOL after `stream`. */
    def addStream(dictExtra: String, payload: Array[Byte], deflate: Boolean = false,
        encryptKey: Array[Byte] = null, lengthOverride: Int = -1, crOnlyEol: Boolean = false): Int = {
      val id = registerObject()
      var body = if (deflate) zlib(payload) else payload
      if (encryptKey != null) {
        body = body.clone()
        PdfCrypto.rc4InPlace(PdfCrypto.objectKey(encryptKey, ObjectId(id, 0)), body, 0, body.length)
      }
      val filter = if (deflate) "/Filter/FlateDecode" else ""
      val len = if (lengthOverride >= 0) lengthOverride else body.length
      val eol = if (crOnlyEol) "\r" else "\n"
      raw(s"$id 0 obj\n<</Length $len$filter$dictExtra>>stream$eol")
      raw(body)
      raw("\nendstream\nendobj\n")
      id
    }

    /** Classic xref table + trailer (reference: PdfParserTest.cs:32-44). */
    def finish(trailerExtra: String, trailingNuls: Int = 0): Array[Byte] = {
      val xrefAddress = out.size()
      raw("xref\n")
      raw(s"0 ${offsets.length}\n")
      raw("0000000000 65535 f \n")
      offsets.drop(1).foreach { a => raw(f"$a%010d 00000 n \n") }
      raw(s"trailer<</Size ${offsets.length}$trailerExtra>>\n")
      raw(s"startxref\n$xrefAddress\n%%EOF\n")
      val bytes = out.toByteArray
      if (trailingNuls == 0) bytes else java.util.Arrays.copyOf(bytes, bytes.length + trailingNuls)
    }
  }

  def zlib(data: Array[Byte]): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(data)
    deflater.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    out.toByteArray
  }

  private def metadataEntry(metadataId: Option[Int]): String =
    metadataId.map(id => s"/Metadata $id 0 R").getOrElse("")

  /** Page tree + catalog for already-written content objects. */
  def catalogFor(b: PdfBuilder, contentIds: Seq[Int], fontObj: Option[(String, Int)] = None,
      metadataId: Option[Int] = None, catalogExtra: String = "",
      pageExtra: Int => String = _ => ""): Int =
    catalogForPages(b, contentIds.map(Seq(_)), fontObj, metadataId, catalogExtra, pageExtra)

  /** Page tree + catalog with one page per inner Seq; a page with several
    * content ids gets the `/Contents [a 0 R b 0 R]` ARRAY form (the
    * reference iterates it in array order — PdfPage.cs:60-72). */
  def catalogForPages(b: PdfBuilder, pageContents: Seq[Seq[Int]],
      fontObj: Option[(String, Int)] = None, metadataId: Option[Int] = None,
      catalogExtra: String = "", pageExtra: Int => String = _ => ""): Int = {
    val pagesId = b.nextObjectNumber + pageContents.length
    val resources = fontObj.map { case (name, id) => s"/Resources<</Font<</$name $id 0 R>>>>" }.getOrElse("")
    val pageIds = pageContents.zipWithIndex.map { case (cids, pi) =>
      val contents =
        if (cids.lengthCompare(1) == 0) s"/Contents ${cids.head} 0 R"
        else s"/Contents[${cids.map(_ + " 0 R").mkString(" ")}]"
      b.addObject(s"<</Type/Page /Parent $pagesId 0 R$contents$resources${pageExtra(pi)}>>")
    }
    val realPagesId = b.addObject(s"<</Type/Pages /Kids[${pageIds.map(_ + " 0 R").mkString(" ")}] /Count ${pageIds.length}>>")
    require(realPagesId == pagesId, s"pages id mismatch: $realPagesId vs $pagesId")
    b.addObject(s"<</Type/Catalog /Pages $pagesId 0 R${metadataEntry(metadataId)}$catalogExtra>>")
  }

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

  /** NESTED page tree: leaf pages under intermediate /Pages nodes of
    * `groupSize`, all under one root — the reference's tree walk recurses
    * into Pages-type kids depth-first in Kids order
    * (Tokeniser.cs:1106-1144), so extraction order equals `contentIds`
    * order. Exercises the multi-level branch the flat [[catalogFor]] never
    * takes. */
  def catalogForNestedPages(b: PdfBuilder, contentIds: Seq[Int], groupSize: Int = 4,
      metadataId: Option[Int] = None): Int = {
    val p = contentIds.length
    val n0 = b.nextObjectNumber
    val groups = math.max(1, (p + groupSize - 1) / groupSize)
    val rootId = n0 + p + groups
    val pageIds = contentIds.zipWithIndex.map { case (cid, i) =>
      b.addObject(s"<</Type/Page /Parent ${n0 + p + i / groupSize} 0 R/Contents $cid 0 R>>")
    }
    (0 until groups).foreach { g =>
      val kids = pageIds.slice(g * groupSize, (g + 1) * groupSize)
      b.addObject(s"<</Type/Pages /Parent $rootId 0 R/Kids[${kids.map(_ + " 0 R").mkString(" ")}] /Count ${kids.length}>>")
    }
    val realRoot = b.addObject(
      s"<</Type/Pages /Kids[${(0 until groups).map(g => s"${n0 + p + g} 0 R").mkString(" ")}] /Count $p>>")
    require(realRoot == rootId, s"root pages id mismatch: $realRoot vs $rootId")
    b.addObject(s"<</Type/Catalog /Pages $rootId 0 R${metadataEntry(metadataId)}>>")
  }

  /** Generalized xref-stream tail for an arbitrary page count (the fixture
    * [[xrefStreamPdf]] is the 1-page hand-packed original): `contentIds`
    * must be objects 1..P already written to `b`; the page graph + /Info
    * goes into one FlateDecode object stream (type-2 entries), and the
    * cross-reference stream uses W [1 3 2] (2-byte member index — a 500 KB
    * document has >255 ObjStm members) with the PNG-Up predictor. */
  def finishXrefStream(b: PdfBuilder, contentIds: Seq[Int], infoContent: String,
      metadataId: Option[Int] = None, trailerId: Option[String] = None,
      predictor: String = "up"): Array[Byte] = {
    val p = contentIds.length
    require(contentIds == (1 to p), s"contents must be objects 1..$p, got $contentIds")
    // metadata (a STREAM — streams cannot live inside an ObjStm) is written
    // by the caller right after the contents, as object p+1
    metadataId.foreach(id => require(id == p + 1, s"metadata must be object ${p + 1}, got $id"))
    val m = metadataId.size // 0 or 1 extra type-1 object before the ObjStm
    val objStmId = p + m + 1
    val pagesId = objStmId + p + 1
    val catalogId = pagesId + 1
    val infoId = catalogId + 1
    val xrefId = infoId + 1
    val members: Seq[(Int, String)] =
      contentIds.zipWithIndex.map { case (cid, i) =>
        (objStmId + 1 + i, s"<</Type/Page /Parent $pagesId 0 R/Contents $cid 0 R>>")
      } ++ Seq(
        pagesId -> s"<</Type/Pages /Kids[${(0 until p).map(i => s"${objStmId + 1 + i} 0 R").mkString(" ")}] /Count $p>>",
        catalogId -> s"<</Type/Catalog /Pages $pagesId 0 R${metadataEntry(metadataId)}>>",
        infoId -> infoContent)
    val payloadBody = members.map(_._2).mkString(" ")
    var off = 0
    val header = members.map { case (id, src) =>
      val entry = s"$id $off"
      off += src.length + 1
      entry
    }.mkString(" ") + " "
    val realObjStm = b.addStream(s"/Type/ObjStm/N ${members.length}/First ${header.length}",
      (header + payloadBody).getBytes(ISO_8859_1), deflate = true)
    require(realObjStm == objStmId, s"objstm id mismatch: $realObjStm vs $objStmId")

    val xrefAddress = b.size
    def offRow(a: Int) = Array[Byte](1,
      ((a >> 16) & 0xff).toByte, ((a >> 8) & 0xff).toByte, (a & 0xff).toByte, 0, 0)
    val rows: IndexedSeq[Array[Byte]] =
      (Array[Byte](0, 0, 0, 0, 0xff.toByte, 0xff.toByte) +:
        (1 to objStmId).map(id => offRow(b.objectOffset(id)))) ++
        members.indices.map { i =>
          Array[Byte](2, ((objStmId >> 16) & 0xff).toByte, ((objStmId >> 8) & 0xff).toByte,
            (objStmId & 0xff).toByte, ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)
        } :+ offRow(xrefAddress)
    // `predictor` selects the on-disk row encoding ("up" is the only one
    // the reader, like the reference, accepts):
    //   up   — every row PNG-Up-filtered (Predictor 12)
    //   png  — row i uses PNG filter type i % 5 (Predictor 15)
    //   tiff — horizontal byte differencing, no row filter bytes (Predictor 2)
    //   none — raw rows, DecodeParms present with Predictor 1
    val enc = new ByteArrayOutputStream()
    predictor match {
      case "up" | "png" =>
        var prev = new Array[Byte](6)
        rows.zipWithIndex.foreach { case (r, rowIdx) =>
          val ft = if (predictor == "up") 2 else rowIdx % 5
          enc.write(ft)
          var j = 0
          while (j < 6) {
            val left = if (j >= 1) r(j - 1) & 0xff else 0
            val above = prev(j) & 0xff
            val upLeft = if (j >= 1) prev(j - 1) & 0xff else 0
            val x = r(j) & 0xff
            val raw = ft match {
              case 0 => x
              case 1 => x - left
              case 2 => x - above
              case 3 => x - ((left + above) >> 1)
              case 4 =>
                val pr = left + above - upLeft
                val pa = math.abs(pr - left); val pb = math.abs(pr - above); val pc = math.abs(pr - upLeft)
                x - (if (pa <= pb && pa <= pc) left else if (pb <= pc) above else upLeft)
            }
            enc.write(raw & 0xff)
            j += 1
          }
          prev = r
        }
      case "tiff" =>
        rows.foreach { r =>
          var j = 0
          while (j < 6) {
            val left = if (j >= 1) r(j - 1) & 0xff else 0
            enc.write(((r(j) & 0xff) - left) & 0xff)
            j += 1
          }
        }
      case "none" =>
        rows.foreach(r => enc.write(r, 0, 6))
      case other => throw new IllegalArgumentException(s"unknown predictor mode $other")
    }
    val predictorValue =
      predictor match { case "up" => 12; case "png" => 15; case "tiff" => 2; case _ => 1 }
    val body = zlib(enc.toByteArray)
    val idEntry = trailerId.map(h => s"/ID[<$h><$h>]").getOrElse("")
    b.raw(s"$xrefId 0 obj\n<</Type/XRef/Size ${rows.length}/W[1 3 2]" +
      s"/DecodeParms<</Predictor $predictorValue/Columns 6>>/Filter/FlateDecode/Length ${body.length}" +
      s"/Root $catalogId 0 R/Info $infoId 0 R$idEntry>>stream\n")
    b.raw(body)
    b.raw("\nendstream\nendobj\n")
    b.raw(s"startxref\n$xrefAddress\n%%EOF\n")
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

  /** REAL AES-encrypted (V4/R4, AESV2) fixture: proper Algorithm-3 /O,
    * Algorithm-5 /U, AES-128-CBC content streams with deterministic IVs.
    * The reference throws on V4, and so does the reader. */
  def encryptedPdfAes(message: String = "aes secret text"): Array[Byte] = {
    val userPw = ""
    val ownerPw = ""
    val docIdHex = "fedcba9876543210fedcba9876543210"
    val docId = hexToBytes(docIdHex)
    val permission = -44
    val lengthBytes = 16 // 128-bit key
    val o = computeOwnerO(ownerPw, userPw, lengthBytes)
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad(userPw), o, permission, docId, lengthBytes)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad(userPw), docId, key)

    val b = new PdfBuilder()
    val contentId = b.registerObject()
    val plain = s"BT ($message) Tj ET".getBytes(ISO_8859_1)
    val iv = Array.tabulate[Byte](16)(i => (i * 31 + 5).toByte) // deterministic
    val payload = aesEncrypt(
      objectKeyAes(key, graft.pdf.ObjectId(contentId, 0)), iv, plain)
    b.raw(s"$contentId 0 obj\n<</Length ${payload.length}>>stream\n")
    b.raw(payload)
    b.raw("\nendstream\nendobj\n")
    val catalog = catalogFor(b, Seq(contentId))
    val encId = b.addObject(
      s"<</Filter/Standard/V 4/R 4/P $permission/Length 128" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>" +
        "/StmF/StdCF/StrF/StdCF" +
        s"/O <${bytesToHex(o)}>/U <${bytesToHex(u)}>>>")
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

  // ------------------------------------ encoders the reader refuses
  // The reader decodes only None/FlateDecode streams and decrypts only the
  // RC4 standard handler (V 1|2, R 2|3), like the reference. These writers
  // build the fixtures that pin its error rows for everything else: the
  // LZW / ASCIIHex / ASCII85 / RunLength filters (ISO 32000-1 §7.4.2-7.4.5)
  // and the AESV2 (V4) and AES-256 (V5, ISO 32000-2 §7.6.4) handlers.

  /** LZW encoder: MSB-first variable-width codes (9→12 bits), clear first
    * and EOD last, early change 1 (ISO 32000-1 §7.4.4). */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    var acc = 0L
    var accBits = 0
    var width = 9
    val dict = new java.util.HashMap[java.util.List[java.lang.Byte], Integer]()
    var nextCode = 258
    def emit(code: Int): Unit = {
      acc = (acc << width) | code; accBits += width
      while (accBits >= 8) { out.write(((acc >>> (accBits - 8)) & 0xff).toInt); accBits -= 8 }
    }
    emit(256) // clear
    var cur = new java.util.ArrayList[java.lang.Byte]()
    def codeOf(s: java.util.List[java.lang.Byte]): Int =
      if (s.size == 1) s.get(0) & 0xff else dict.get(s)
    var i = 0
    while (i < data.length) {
      val b: java.lang.Byte = data(i)
      val cand = new java.util.ArrayList[java.lang.Byte](cur); cand.add(b)
      val known = cand.size == 1 || dict.containsKey(cand)
      if (known) cur = cand
      else {
        emit(codeOf(cur))
        if (nextCode < 4096) {
          dict.put(cand, nextCode); nextCode += 1
          // mirror of the decoder's early-change point: the code emitted
          // after entry (2^w - earlyChange) is added uses w+1 bits
          if (nextCode - 1 >= (1 << width) - 1 && width < 12) width += 1
        }
        cur = new java.util.ArrayList[java.lang.Byte](); cur.add(b)
      }
      i += 1
    }
    if (!cur.isEmpty) emit(codeOf(cur))
    emit(257) // EOD
    if (accBits > 0) out.write(((acc << (8 - accBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** ASCIIHex encoder: lowercase digit pairs, `>` EOD. */
  def asciiHexEncode(data: Array[Byte]): Array[Byte] =
    (data.map(b => f"${b & 0xff}%02x").mkString + ">").getBytes("ISO-8859-1")

  /** ASCII85 encoder: `z` for all-zero groups, partial tail, `~>` EOD. */
  def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var tuple = 0L
      var k = 0
      while (k < 4) { tuple = (tuple << 8) | (if (k < n) data(i + k) & 0xff else 0); k += 1 }
      if (n == 4 && tuple == 0) sb.append('z')
      else {
        val chars = new Array[Char](5)
        var t = tuple
        var j = 4
        while (j >= 0) { chars(j) = ('!' + (t % 85).toInt).toChar; t /= 85; j -= 1 }
        sb.appendAll(chars, 0, n + 1)
      }
      i += n
    }
    sb.append("~>")
    sb.toString.getBytes("ISO-8859-1")
  }

  /** Greedy RunLength encoder: runs of ≥2 equal bytes become a repeat
    * record (up to 128 per record), everything else literal records (up to
    * 128 bytes each), closed by the 128 EOD byte. */
  def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 128 + 2)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i)) run += 1
      if (run >= 2) {
        out.write(257 - run)
        out.write(data(i) & 0xff)
        i += run
      } else {
        // literal stretch: stop (exclusive) where a ≥2-byte run begins
        var j = i + 1
        while (j < data.length && j - i < 128 &&
            (j + 1 >= data.length || data(j + 1) != data(j))) j += 1
        out.write(j - i - 1)
        out.write(data, i, j - i)
        i = j
      }
    }
    out.write(128) // EOD
    out.toByteArray
  }

  /** The AESV2 per-object-key salt "sAlT" (ISO 32000-1 Algorithm 1 step b). */
  private val AesSalt = Array[Byte](0x73, 0x41, 0x6c, 0x54)

  /** Per-object AES key = MD5(docKey ∥ objNum₃ ∥ gen₂ ∥ sAlT), truncated to
    * min(n+5, 16). */
  def objectKeyAes(globalKey: Array[Byte], objectId: ObjectId): Array[Byte] = {
    val data = new Array[Byte](globalKey.length + 5 + 4)
    System.arraycopy(globalKey, 0, data, 0, globalKey.length)
    var off = globalKey.length
    val on = objectId.objectNumber
    data(off) = on.toByte; data(off + 1) = (on >> 8).toByte; data(off + 2) = (on >> 16).toByte
    off += 3
    val gen = objectId.generation
    data(off) = gen.toByte; data(off + 1) = (gen >> 8).toByte
    off += 2
    System.arraycopy(AesSalt, 0, data, off, 4)
    val hash = PdfCrypto.md5(data)
    val keep = math.min(globalKey.length + 5, 16)
    java.util.Arrays.copyOf(hash, keep)
  }

  /** AES-CBC encrypt with PKCS#5 padding: returns IV ∥ ciphertext, the
    * AESV2 / AESV3 stream and string layout. */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte], plain: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ cipher.doFinal(plain)
  }

  /** Algorithm 3 (R ≥ 3): the /O entry — RC4 chain over the padded user
    * password with the 50×MD5 owner key. */
  def computeOwnerO(ownerPassword: String, userPassword: String, lengthBytes: Int): Array[Byte] = {
    var h = PdfCrypto.md5(PdfCrypto.pad(ownerPassword))
    var i = 0
    while (i < 50) { h = PdfCrypto.md5(h); i += 1 }
    val rc4Key = java.util.Arrays.copyOf(h, lengthBytes)
    var o = PdfCrypto.rc4(rc4Key, PdfCrypto.pad(userPassword))
    var it = 1
    while (it < 20) {
      val k = rc4Key.map(b => (b ^ it).toByte)
      o = PdfCrypto.rc4(k, o)
      it += 1
    }
    o
  }

  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(md.update)
    md.digest()
  }

  /** ISO 32000-2 Algorithm 2.A step a: UTF-8 password bytes truncated to
    * 127. (Full SASLprep normalization is out of scope — ASCII passwords,
    * the only kind the reference's surface ever accepted, pass through
    * unchanged.) */
  private[graft] def passwordBytesV5(password: String): Array[Byte] = {
    val utf8 = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (utf8.length <= 127) utf8 else java.util.Arrays.copyOf(utf8, 127)
  }

  /** AES-CBC encrypt with NO padding — the V5 key-wrapping cipher (/UE,
    * /OE) and Algorithm 2.B's inner cipher. Input must be block-aligned. */
  private def aesCbcNoPad(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    cipher.doFinal(data)
  }

  /** AES-ECB encrypt, no padding — the 16-byte /Perms capsule (Algorithm 10). */
  private def aesEcbNoPad(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE, new javax.crypto.spec.SecretKeySpec(key, "AES"))
    cipher.doFinal(data)
  }

  /** ISO 32000-2 Algorithm 2.B: the R6 hardened hash (R5 stops after the
    * initial SHA-256). `udata` is empty for /U-side hashes and the 48-byte
    * /U value for /O-side hashes. Loop shape: at least 64 rounds, then
    * continue while the last byte of the previous round's AES output
    * exceeds (completedRounds − 32). */
  private[graft] def hash2B(password: Array[Byte], salt: Array[Byte], udata: Array[Byte],
      revision: Int): Array[Byte] = {
    var k = sha(256, password, salt, udata)
    if (revision == 5) return k
    var e: Array[Byte] = null
    var round = 0
    while (round < 64 || (e(e.length - 1) & 0xff) > round - 32) {
      // K1 = (password ∥ K ∥ udata) repeated 64 times
      val unit = password.length + k.length + udata.length
      val k1 = new Array[Byte](unit * 64)
      var off = 0
      System.arraycopy(password, 0, k1, off, password.length); off += password.length
      System.arraycopy(k, 0, k1, off, k.length); off += k.length
      System.arraycopy(udata, 0, k1, off, udata.length)
      var rep = 1
      while (rep < 64) { System.arraycopy(k1, 0, k1, rep * unit, unit); rep += 1 }
      e = aesCbcNoPad(java.util.Arrays.copyOf(k, 16),
        java.util.Arrays.copyOfRange(k, 16, 32), k1)
      // "first 16 bytes of E as a big-endian unsigned integer mod 3":
      // 256 ≡ 1 (mod 3), so the byte SUM has the same residue
      var sum = 0
      var i = 0
      while (i < 16) { sum += e(i) & 0xff; i += 1 }
      k = sha((sum % 3) match { case 0 => 256; case 1 => 384; case _ => 512 }, e)
      round += 1
    }
    java.util.Arrays.copyOf(k, 32)
  }

  /** The full V5 security bundle. */
  final case class V5Security(o: Array[Byte], u: Array[Byte], oe: Array[Byte],
      ue: Array[Byte], perms: Array[Byte])

  /** Algorithms 8/9/10: derive /O, /U, /OE, /UE and
    * /Perms from the two passwords, a caller-chosen 32-byte file key and
    * 32 bytes of caller-chosen salt material (vsU ∥ ksU ∥ vsO ∥ ksO, 8 bytes
    * each) — real writers draw key and salts from a CSPRNG; fixtures pin
    * them for byte-stable corpora. */
  def makeV5Security(userPassword: String, ownerPassword: String,
      fileKey: Array[Byte], salts: Array[Byte], p: Int,
      encryptMetadata: Boolean, revision: Int): V5Security = {
    require(fileKey.length == 32, "V5 file key must be 32 bytes")
    require(salts.length == 32, "need 32 bytes of salt material")
    val pu = passwordBytesV5(userPassword)
    val po = passwordBytesV5(ownerPassword)
    val noU = Array.emptyByteArray
    val zeroIv = new Array[Byte](16)
    val vsU = java.util.Arrays.copyOfRange(salts, 0, 8)
    val ksU = java.util.Arrays.copyOfRange(salts, 8, 16)
    val vsO = java.util.Arrays.copyOfRange(salts, 16, 24)
    val ksO = java.util.Arrays.copyOfRange(salts, 24, 32)
    val u = hash2B(pu, vsU, noU, revision) ++ vsU ++ ksU
    val ue = aesCbcNoPad(hash2B(pu, ksU, noU, revision), zeroIv, fileKey)
    val o = hash2B(po, vsO, u, revision) ++ vsO ++ ksO
    val oe = aesCbcNoPad(hash2B(po, ksO, u, revision), zeroIv, fileKey)
    val permsPlain = new Array[Byte](16)
    permsPlain(0) = p.toByte
    permsPlain(1) = (p >> 8).toByte
    permsPlain(2) = (p >> 16).toByte
    permsPlain(3) = (p >> 24).toByte
    java.util.Arrays.fill(permsPlain, 4, 8, 0xff.toByte)
    permsPlain(8) = (if (encryptMetadata) 'T' else 'F').toByte
    permsPlain(9) = 'a'; permsPlain(10) = 'd'; permsPlain(11) = 'b'
    // bytes 12-15 are "random data" per the spec; fixed for determinism
    permsPlain(12) = 'g'; permsPlain(13) = 'r'; permsPlain(14) = 'f'; permsPlain(15) = 't'
    val perms = aesEcbNoPad(fileKey, permsPlain)
    V5Security(o, u, oe, ue, perms)
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
