package graft.fixtures

import graft.pdf.{ObjectId, PdfCrypto}
import java.io.ByteArrayOutputStream
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
