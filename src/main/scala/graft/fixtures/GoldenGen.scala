package graft.fixtures

import graft.pdf.{ObjectId, PdfCrypto}
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** Deterministic PDF writer for the corpus generator (`Corpus`).
  *
  * Modeled on the reference's in-memory PDF builders
  * (reference: PdfParserTest/PdfParserTest.cs:68-89 — object-append +
  * classic-xref writer; XRefUpdater/SampleToPdf.cs:23-59 — named objects with
  * auto-computed /Length) but generalised: FlateDecode streams, flat and
  * nested page trees, and a cross-reference-stream tail
  * ([[finishXrefStream]], W [1 3 2] — 2-byte ObjStm member index — with a
  * selectable predictor) over a compressed object stream. The fixture
  * documents that only tests read are built on it test-side. No external
  * data; everything derives from the seed.
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

  /** Generalized xref-stream tail for an arbitrary page count (the test
    * fixture `xrefStreamPdf` is the 1-page hand-packed original): `contentIds`
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
}
