package graft.pipeline

import graft.fixtures.GoldenGen
import graft.pdf.{ObjectId, PdfCrypto}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** Deterministic synthesis of the input_hint page table
  * `(url, warc_ts, html, text, lang)` from the driver's `documents` parquet:
  * even doc_ids become real PDF payloads, odd doc_ids become HTML payloads,
  * both constructed so that the pipeline's extraction is byte-identical to
  * the source `text` column. This is the sandbox stand-in for the 10^12-row
  * Common-Crawl Iceberg table — "synthesise it deterministically at small
  * scale", per the round brief; no external data.
  *
  * The byte-identity construction doubles as the correctness oracle: DuckDB
  * can assert `extracted(url).text == documents.text` without being able to
  * parse a PDF, because the corpus generator *knows* what the reference
  * semantics (show-ops append `decoded + delimiter`; reference:
  * PdfParser/PdfContent.cs:186) emit for the exact operator stream it wrote.
  */
object Corpus {

  val UrlPrefix = "https://example.org/doc/"

  /** Bump on ANY change to payload generation: cached synthesized corpora
    * (graft.Bench's on-disk table) key on this, so a stale cache can never
    * be mistaken for the current generator's output. Belt-and-braces with
    * [[generatorFingerprint]], which catches a forgotten bump. */
  val GeneratorVersion = "r4c"

  private[graft] def hexOf(bs: Array[Byte]): String =
    bs.map(x => f"${x & 0xff}%02x").mkString

  /** SHA-256 digest of the input byte streams, hex. */
  private[graft] def digestOf(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    hexOf(md.digest())
  }

  /** Fingerprint of the payload generator's COMPILED CODE: SHA-256 over the
    * classfiles of every class payload generation flows through. A byte-level
    * generator change therefore misses the corpus cache even when
    * [[GeneratorVersion]] was not bumped (a stale cached corpus silently
    * served under a fresh generator was the failure mode — round-3 VERDICT
    * finding 4). Lambdas/inner methods compile into the enclosing classfile
    * (Scala 2.13 uses invokedynamic), but NESTED CLASSES do not — e.g. the
    * actual PDF byte writer is `GoldenGen$PdfBuilder.class`, a separate
    * file — so the digest enumerates every classfile whose binary name
    * belongs to one of the listed types (`X.class`, `X$.class`, `X$Nested*`)
    * from each type's code source (classes directory or jar). */
  lazy val generatorFingerprint: String =
    digestOf(generatorClassfiles.iterator.flatMap { case (name, bytes) =>
      Iterator(name.getBytes(java.nio.charset.StandardCharsets.UTF_8), bytes)
    }).take(16)

  /** (binary name, classfile bytes) of every generator classfile, sorted by
    * name — the digest input of [[generatorFingerprint]]; exposed for the
    * coverage unit test (nested classes MUST appear here). */
  private[graft] lazy val generatorClassfiles: Seq[(String, Array[Byte])] = {
    import scala.jdk.CollectionConverters._
    val classes: Seq[Class[_]] = Seq(
      Corpus.getClass, GoldenGen.getClass, PdfCrypto.getClass)
    // "graft.fixtures.GoldenGen" matches GoldenGen.class, GoldenGen$.class,
    // GoldenGen$PdfBuilder.class, ... but NOT GoldenGenOther.class
    val prefixes = classes.map(_.getName.stripSuffix("$")).distinct
    def matches(binaryName: String): Boolean = prefixes.exists(p =>
      binaryName == p || binaryName.startsWith(p + "$"))
    val sources = classes.map(_.getProtectionDomain.getCodeSource.getLocation.toURI).distinct
    val found = sources.flatMap { uri =>
      val f = new java.io.File(uri)
      if (f.isDirectory) {
        val base = f.toPath
        val walk = java.nio.file.Files.walk(base)
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".class"))
          .map { p =>
            val rel = base.relativize(p).toString
              .replace(java.io.File.separatorChar, '/')
            (rel.stripSuffix(".class").replace('/', '.'), p)
          }
          .filter(t => matches(t._1))
          .map(t => (t._1, java.nio.file.Files.readAllBytes(t._2)))
          .toList
        finally walk.close()
      } else {
        val jar = new java.util.jar.JarFile(f)
        try jar.entries().asScala
          .filter(_.getName.endsWith(".class"))
          .map(e => (e.getName.stripSuffix(".class").replace('/', '.'), e))
          .filter(t => matches(t._1))
          .map(t => (t._1, jar.getInputStream(t._2).readAllBytes()))
          .toList
        finally jar.close()
      }
    }
    // every listed type must contribute at least its own classfile — an
    // empty match means the enumeration broke, which would silently turn
    // the fingerprint into a constant
    prefixes.foreach { p =>
      require(found.exists(_._1.startsWith(p)), s"no classfiles found for $p")
    }
    found.sortBy(_._1)
  }

  /** PDF payload whose extraction (with contentDelimiter="") equals `text`
    * byte-for-byte: the text is sliced into 64-char chunks (8 chunks per
    * page), each shown with a rotating show operator (`Tj`, `'`, `TJ` with a
    * discarded kern number) — no line-move (Td/TD/Tstar) or Tm operators, so
    * no newlines are injected and the concatenation of all shown strings
    * reproduces the input exactly. The `"` operator is deliberately absent:
    * the reference's GetStreamString does not skip leading whitespace after
    * SkipStreamArgument, so `aw ac (s) "` throws in the reference too
    * (Tokeniser.cs:2367-2368 + 1987-1989) — replicated bug-for-bug in our
    * engine and therefore unusable in a byte-identity corpus. Content
    * streams are FlateDecode so the round-trip exercises S9. */
  def pdfFromText(text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    finishClassic(b, rotatingShowContents(b, text), text)
  }

  /** The ONE chunk/page walk every variant shares — 64-char chunks, 8 per
    * page — with a per-chunk operator emitter
    * `emit(ops, escapedChunk, globalIdx, pageLocalIdx)`. A change to the
    * chunking contract happens here once; the oracle formulas
    * ([[pdfExpectedText]], SparkEntry) depend on exactly this shape. */
  private def pageOpsFor(text: String, btPrefix: String = "BT ")(
      emit: (StringBuilder, String, Int, Int) => Unit): Seq[String] = {
    var gi = 0
    text.grouped(64).toIndexedSeq.grouped(8).map { pageChunks =>
      val ops = new StringBuilder(btPrefix)
      pageChunks.zipWithIndex.foreach { case (c, j) =>
        emit(ops, escapeLiteral(c), gi, j)
        gi += 1
      }
      ops.append("ET")
      ops.toString
    }.toSeq
  }

  /** Fixed-BYTE-LAYOUT span probe (round 5): variant-0 chunking (64-char
    * chunks, 8 per page) shown with plain `Tj` ops, but every content
    * stream is UNCOMPRESSED and space-padded to exactly
    * [[SpanProbePayloadBytes]] bytes, and the text is capped to 9 pages so
    * object ids stay single-digit. Every byte before content stream `i` is
    * then a constant of the builder: header 15 bytes ("%PDF-1.4\n" +
    * 5-byte binary comment + "\n"), per-object preamble
    * "`i+1` 0 obj\n<</Length 2176>>stream\n" = 31 bytes, object trailer
    * "\nendstream\nendobj\n" = 18 bytes — so the i-th content payload (the
    * span's `src_offset`, [[graft.pdf.PdfExtract]] TextSpan.srcOffset =
    * Tokeniser streamStartIndex) sits at the affine address
    * [[spanProbeSrcOffset]](i) = 46 + 2225·i, which a SQL oracle can
    * compute from `length(text)` alone. Worst-case ops length: escapeLiteral
    * emits a 4-byte OCTAL escape (\ddd) for control/high chars, so a fully
    * escaped 64-char chunk is "(" + 256 + ") Tj " = 262 bytes and a page is
    * 3 + 8·262 + 2 = 2101 ≤ 2176 — the pad never underflows even for a
    * worst-case Latin-1 page (the require guards the invariant). */
  val SpanProbePayloadBytes = 2176
  val SpanProbeMaxChars: Int = 9 * 512

  def spanProbeSrcOffset(spanIdx: Int): Int =
    46 + (31 + SpanProbePayloadBytes + 18) * spanIdx

  def pdfSpanProbe(text0: String): Array[Byte] = {
    val text = text0.take(SpanProbeMaxChars)
    val b = new GoldenGen.PdfBuilder()
    val contents = pageOpsFor(text) { (ops, e, _, _) =>
      ops.append('(').append(e).append(") Tj ")
    }.map { ops =>
      require(ops.length <= SpanProbePayloadBytes,
        s"span-probe ops overflow: ${ops.length}")
      val padded = ops + (" " * (SpanProbePayloadBytes - ops.length))
      b.addStream("", padded.getBytes(ISO_8859_1), deflate = false)
    }
    finishClassic(b, contents, text)
  }

  def spanProbePageRowFor(docId: Long, text: String, lang: String): PageRow =
    PageRow(
      url = UrlPrefix + docId,
      warc_ts = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(docId * 60)),
      html = pdfSpanProbe(text),
      text = text.take(SpanProbeMaxChars),
      lang = lang)

  /** Show op cycling Tj / TJ-with-discarded-kern on the global index. */
  private def appendShowTjTJ(ops: StringBuilder, escaped: String, gi: Int): Unit =
    if (gi % 2 == 0) ops.append('(').append(escaped).append(") Tj ")
    else ops.append("[(").append(escaped).append(") -120] TJ ")

  /** The variant-0 per-page operator streams (rotating Tj/'/TJ show ops, no
    * line moves), shared by the encrypted / xref-stream / incremental /
    * malformed file layouts whose operator surface is identical. */
  private[graft] def rotatingOpsPerPage(text: String): Seq[String] =
    pageOpsFor(text) { (ops, e, gi, _) =>
      gi % 3 match {
        case 0 => ops.append('(').append(e).append(") Tj ")
        case 1 => ops.append('(').append(e).append(") ' ")
        case _ => ops.append("[(").append(e).append(") -120] TJ ")
      }
    }

  private[graft] def rotatingShowContents(b: GoldenGen.PdfBuilder, text: String,
      encryptKey: Array[Byte] = null, deflate: Boolean = true): Seq[Int] =
    rotatingOpsPerPage(text).map(ops =>
      b.addStream("", ops.getBytes(ISO_8859_1), deflate = deflate, encryptKey = encryptKey))

  /** Classic-xref tail shared by the variants: /Metadata XML stream, a
    * caller-chosen page-tree/catalog strategy, deterministic /Info (Title
    * carries the text length), trailer /ID — the document-level objects
    * the parse loads for every PDF, although the extracted row keeps none
    * of them. */
  private def finishClassicWith(b: GoldenGen.PdfBuilder, text: String,
      trailingNuls: Int = 0)(catalogOf: Option[Int] => Int): Array[Byte] = {
    val metaId = addMetadata(b, text)
    val catalog = catalogOf(Some(metaId))
    val info = b.addObject(infoContent(text))
    b.finish(s"/Root $catalog 0 R/Info $info 0 R/ID[<${docIdHex(text)}><${docIdHex(text)}>]",
      trailingNuls)
  }

  private[graft] def finishClassic(b: GoldenGen.PdfBuilder, contentIds: Seq[Int],
      text: String, fontObj: Option[(String, Int)] = None): Array[Byte] =
    finishClassicWith(b, text)(mid => GoldenGen.catalogFor(b, contentIds, fontObj, mid))

  private def infoContent(text: String): String =
    s"<</Title (doc-${text.length})/Producer (graft)>>"

  /** The XMP-style metadata payload, deterministic in the text length. */
  private def metadataXml(text: String): String = s"""<graft:meta len="${text.length}"/>"""

  private def addMetadata(b: GoldenGen.PdfBuilder, text: String,
      encryptKey: Array[Byte] = null): Int =
    b.addStream("/Type/Metadata/Subtype/XML",
      metadataXml(text).getBytes(ISO_8859_1), encryptKey = encryptKey)

  /** Deterministic trailer /ID hex (32 digits) from the text length. */
  private def docIdHex(text: String): String = f"${text.length}%032x"

  // ------------------------------------------------------------------
  // PDF file-layout / operator variants. Even doc_ids are PDFs; each PDF
  // doc is routed by (doc_id/2) % 9 to one of nine deterministic builders
  // so the driver's DuckDB gate — not just unit fixtures — exercises the
  // hard fidelity surface: Td/TD/T* and Tm newline semantics
  // (reference: PdfContent.cs:144-163), /Differences + ToUnicode font
  // decode incl. ligature CMap packing (PdfFont.cs:62-99,
  // Tokeniser.cs:2616-2644), RC4 string+stream decryption
  // (Tokeniser.cs:627-690), xref streams + object streams + PNG-Up
  // predictor (Tokeniser.cs:285-400), incremental-update /Prev chains
  // (Tokeniser.cs:404-491), the malformed-file tolerances
  // (junk prefix / wrong /Length / CR-only EOL / trailing NULs), and the
  // linearized-file xref fallback (EOF mark missing → forward scan from
  // the /Linearized first object, Tokeniser.cs:262-326).
  // Every variant's expected extraction is a pure SQL expression over
  // `documents.text` — see [[pdfExpectedText]] and the oracle in
  // SparkEntry.
  // ------------------------------------------------------------------

  val NumPdfVariants = 9

  def pdfVariant(docId: Long): Int = ((docId / 2) % NumPdfVariants).toInt

  def pdfForDoc(docId: Long, text: String): Array[Byte] = pdfVariant(docId) match {
    case 0 => pdfFromText(text)
    case 1 => pdfMovesFromText(text)
    case 2 => pdfEncodedFontFromText(text)
    case 3 => pdfEncryptedFromText(text)
    case 4 => pdfXrefStreamFromText(text)
    case 5 => pdfTmFromText(text)
    case 6 => pdfIncrementalFromText(text)
    case 7 => pdfMalformedFromText(text)
    case _ => pdfLinearizedFromText(text)
  }

  /** Scala twin of the DuckDB oracle: the reference-semantics extraction of
    * [[pdfForDoc]]`(docId, text)` under `contentDelimiter = delimiter`.
    *  - variant 1 (Td/TD/T*): a line move precedes every chunk but the
    *    global first — including page starts, because Td appends "\n"
    *    unconditionally (PdfContent.cs:144-146) — so chunks join with "\n";
    *  - variant 5 (Tm): a ty-changing Tm precedes every chunk, but the Tm
    *    newline fires only when the content already has text and both
    *    `lastLineOffset` and `hasText` are per-content state
    *    (PdfContent.cs:150-163), so chunks join with "\n" within a page and
    *    pages concatenate bare;
    *  - all other variants change the FILE layout, not the operator stream:
    *    concatenation of the shown chunks. */
  def pdfExpectedText(docId: Long, text: String, delimiter: String = ""): String = {
    val shown = text.grouped(64).map(_ + delimiter).toIndexedSeq
    pdfVariant(docId) match {
      case 1 => shown.mkString("\n")
      // variant 2 writes the LigatureMarkers as CIDs whose ToUnicode bfchar
      // destinations are <00660066> / <006600660069> — the reference PACKS
      // multi-code targets back to the single ligature codepoint
      // (ﬀ via the 8-digit branch, ﬃ via the separate 12-digit lookahead;
      // Tokeniser.cs:2616-2644)
      case 2 => shown.mkString.replace(LigatureMarker, 'ﬀ').replace(LigatureMarker3, 'ﬃ').replace(LigatureMarker4, 'ﬄ')
      case 5 => shown.grouped(8).map(_.mkString("\n")).mkString
      case _ => shown.mkString
    }
  }

  /** Variant 1: line-move newlines. A rotating `Td`/`TD`/`T*` precedes every
    * chunk except the global first (page starts included — the reference
    * appends a newline per line move unconditionally). The page tree is
    * NESTED (leaf pages under intermediate /Pages nodes), so the gate also
    * covers the multi-level tree walk in depth-first Kids order. */
  def pdfMovesFromText(text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val contentIds = pageOpsFor(text) { (ops, e, gi, _) =>
      if (gi > 0) ops.append(gi % 3 match {
        case 0 => "T* "
        case 1 => "0 -14 Td "
        case _ => "0 -14 TD "
      })
      ops.append('(').append(e).append(") Tj ")
    }.map(ops => b.addStream("", ops.getBytes(ISO_8859_1), deflate = true))
    finishClassicWith(b, text)(mid =>
      GoldenGen.catalogForNestedPages(b, contentIds, metadataId = mid))
  }

  /** Variant 5: `Tm` newlines. Every chunk is preceded by a text matrix with
    * a per-chunk ty, so within a page each Tm after the first changes the
    * line offset and appends "\n"; the first Tm of each page never does
    * (per-content `hasText` is still false). Shows alternate Tj / TJ. */
  def pdfTmFromText(text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val contentIds = pageOpsFor(text) { (ops, e, gi, j) =>
      ops.append("1 0 0 1 50 ").append(760 - 14 * j).append(" Tm ")
      appendShowTjTJ(ops, e, gi)
    }.map(ops => b.addStream("", ops.getBytes(ISO_8859_1), deflate = true))
    finishClassic(b, contentIds, text)
  }

  /** The source character variant 2 writes as CID 0x01, whose ToUnicode
    * bfchar destination <00660066> ("ff" in UTF-16 codes) the reference
    * PACKS to the single ligature ﬀ (U+FB00) — so the expected extraction
    * replaces every LigatureMarker with ﬀ (1 char → 1 char; all length
    * oracles unchanged). 'e' because it is the most frequent English letter:
    * essentially every gate document exercises the packing. */
  final val LigatureMarker = 'e'

  /** The source character variant 2 writes as CID 0x02, whose ToUnicode
    * bfchar destination is the THREE-code <006600660069> ("ffi") — the
    * reference's packer has a separate lookahead branch for the 12-digit
    * targets (ﬃ/ﬄ, Tokeniser.cs:2625-2641) that the 8-digit ﬀ branch never
    * reaches, so [[LigatureMarker]] alone leaves it gate-invisible. Packs to
    * ﬃ (U+FB03); 1 char → 1 char, all length oracles unchanged. 't' because
    * it is the second most frequent English letter. */
  final val LigatureMarker3 = 't'

  /** CID 0x03, bfchar destination <00660066006C> — the OTHER 12-digit arm:
    * the ﬄ tail, whose final hex digit must be the UPPERCASE 'C' (the
    * reference's lookahead checks only 'C'; the lowercase form fails the
    * font — quirk replicated and unit-pinned in PdfExtractSpec). Packs to
    * ﬄ (U+FB04). 'a' — third most frequent letter in the corpus text. */
  final val LigatureMarker4 = 'a'

  /** Variant 2: encoded-font decode. The written bytes are ROT13-scrambled
    * for ASCII letters — except [[LigatureMarker]], written as CID 0x01; a
    * Type1 font recovers the text through the /Differences overlay
    * (uppercase codes → rot13 glyph names) and a ToUnicode CMap (lowercase
    * bfranges + bfchar fixes for the Standard table's 0x27→quoteright and
    * 0x60→quoteleft quirks + the <01>→<00660066> ligature bfchar, which the
    * reference packs to ﬀ — Tokeniser.cs:2616-2644). A decode bug in any of
    * S16-S18 breaks byte identity. */
  def pdfEncodedFontFromText(text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |11 dict begin
        |begincmap
        |/CIDSystemInfo << /Registry(graft) /Ordering(UCS) /Supplement 0 >> def
        |/CMapName /graft-rot13 def
        |/CMapType 2 def
        |1 begincodespacerange
        |<00> <FF>
        |endcodespacerange
        |5 beginbfchar
        |<01> <00660066>
        |<02> <006600660069>
        |<03> <00660066006C>
        |<27> <0027>
        |<60> <0060>
        |endbfchar
        |2 beginbfrange
        |<61> <6D> <006E>
        |<6E> <7A> <0061>
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end
        |end""".stripMargin
    val cmapId = b.addStream("", cmap.getBytes(ISO_8859_1), deflate = true)
    // code 65+i carries rot13('A'+i): /Differences maps it back
    val diffs = (0 until 26).map(i => "/" + ('A' + (i + 13) % 26).toChar).mkString(" ")
    val fontId = b.addObject(
      s"<</Type/Font/Subtype/Type1/BaseFont/GraftRot/Encoding<</Type/Encoding/Differences[65 $diffs]>>/ToUnicode $cmapId 0 R>>")
    // pages with more than 4 chunks split into TWO content streams and use
    // the /Contents ARRAY form — the gate then exercises the reference's
    // array-order content iteration (PdfPage.cs:60-72). Text is unaffected
    // (no newline ops; concatenation across a page's contents in array
    // order); extract_pipeline_mixed's n_spans accounts for the split.
    var gi = 0
    def contentOf(chunks: Seq[String]): Int = {
      val ops = new StringBuilder("BT /F1 10 Tf ")
      chunks.foreach { c =>
        appendShowTjTJ(ops, escapeLiteral(c), gi)
        gi += 1
      }
      ops.append("ET")
      b.addStream("", ops.toString.getBytes(ISO_8859_1), deflate = true)
    }
    val pageContents = encodeV2(text).grouped(64).toIndexedSeq.grouped(8).map { pageChunks =>
      if (pageChunks.length > 4) Seq(contentOf(pageChunks.take(4)), contentOf(pageChunks.drop(4)))
      else Seq(contentOf(pageChunks))
    }.toSeq
    finishClassicWith(b, text)(mid =>
      GoldenGen.catalogForPages(b, pageContents, fontObj = Some(("F1", fontId)),
        metadataId = mid))
  }

  /** Variant 2's written form: ROT13 for letters, CIDs 0x01 / 0x02 for the
    * ligature markers (1:1 in chars, so chunk boundaries stay aligned to the
    * source). */
  private def encodeV2(s: String): String = s.map {
    case LigatureMarker => '\u0001'
    case LigatureMarker3 => '\u0002'
    case LigatureMarker4 => '\u0003'
    case c if c >= 'a' && c <= 'z' => ('a' + (c - 'a' + 13) % 26).toChar
    case c if c >= 'A' && c <= 'Z' => ('A' + (c - 'A' + 13) % 26).toChar
    case c => c
  }

  // Deterministic RC4 (40-bit V1 R2, empty passwords) document key shared by
  // every variant-3 doc: /O via Algorithm 3, file key via Algorithm 2, /U via
  // Algorithm 5 with the reference's 19-round XOR iteration.
  private[graft] val EncDocIdHex = "0123456789abcdef0123456789abcdef"
  private[graft] val EncPermission = -44
  private lazy val encOKey: (Array[Byte], Array[Byte], Array[Byte]) = {
    val docId = EncDocIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val ownerHash = PdfCrypto.md5(PdfCrypto.pad(""))
    val o = PdfCrypto.rc4(java.util.Arrays.copyOf(ownerHash, 5), PdfCrypto.pad(""))
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad(""), o, EncPermission, docId, 5)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad(""), docId, key)
    (o, key, u)
  }

  /** Variant 3: RC4-encrypted (40-bit, V1 R2, empty user password). Content
    * streams AND the /Info literal strings are encrypted with their object
    * keys, so the gate covers S14's stream decryption and the
    * decrypt-strings-parsed-before-the-key-existed path
    * (reference: Tokeniser.cs:562-575). */
  def pdfEncryptedFromText(text: String): Array[Byte] = {
    val (o, key, u) = encOKey
    val b = new GoldenGen.PdfBuilder()
    val contentIds = rotatingShowContents(b, text, encryptKey = key)
    val metaId = addMetadata(b, text, encryptKey = key)
    val catalog = GoldenGen.catalogFor(b, contentIds, metadataId = Some(metaId))
    // The reference's object-level literal-string parser keeps backslash
    // escapes RAW and decrypts that raw form (Token.cs:206-276 +
    // Tokeniser.cs:1859), so encrypted strings must be written UNESCAPED —
    // which only round-trips when the ciphertext contains none of
    // '(' ')' '\\'. The object key depends on the object number, so when a
    // ciphertext draws a forbidden byte we insert a pad object to shift the
    // Info id and redraw the keystream (deterministic in `text`).
    def cipher(id: Int, s: String): Array[Byte] = {
      val data = s.getBytes(ISO_8859_1)
      PdfCrypto.rc4InPlace(PdfCrypto.objectKey(key, ObjectId(id, 0)), data, 0, data.length)
      data
    }
    def unsafeBytes(bs: Array[Byte]): Boolean =
      bs.exists(x => x == 0x28 || x == 0x29 || x == 0x5c)
    val title = s"doc-${text.length}"
    var infoId = b.nextObjectNumber
    var tries = 0
    while (unsafeBytes(cipher(infoId, title)) || unsafeBytes(cipher(infoId, "graft"))) {
      b.addObject("<</Type/GraftPad>>") // shifts the next object number
      infoId = b.nextObjectNumber
      tries += 1
      require(tries < 64, "could not find an escape-free Info keystream")
    }
    def rawStr(bs: Array[Byte]): String = new String(bs.map(x => (x & 0xff).toChar))
    val realInfo = b.addObject(
      s"<</Title (${rawStr(cipher(infoId, title))})/Producer (${rawStr(cipher(infoId, "graft"))})>>")
    require(realInfo == infoId, s"info id mismatch: $realInfo vs $infoId")
    val encId = b.addObject(
      s"<</Filter/Standard/V 1/R 2/P $EncPermission/O <${hexOf(o)}>/U <${hexOf(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Info $infoId 0 R/Encrypt $encId 0 R" +
      s"/ID[<$EncDocIdHex><$EncDocIdHex>]")
  }

  /** Variant 4: PDF 1.5 cross-reference STREAM layout — content streams as
    * type-1 objects, the whole page graph + /Info packed into one
    * FlateDecode object stream (type-2 entries), xref stream with the
    * PNG-Up predictor — S5 + S10 + S11 in the driver gate. */
  def pdfXrefStreamFromText(text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder("1.5")
    val contentIds = rotatingShowContents(b, text)
    val metaId = addMetadata(b, text) // a stream: type-1 object, not in the ObjStm
    GoldenGen.finishXrefStream(b, contentIds, infoContent(text),
      metadataId = Some(metaId), trailerId = Some(docIdHex(text)))
  }

  /** Variant 6: TWO incremental updates (a three-section /Prev chain). The
    * ORIGINAL section's object 1 (the first page's content stream) holds
    * stale text; update section A rewrites it with SECOND-revision stale
    * text; update section B rewrites it with the real first-page ops. The
    * xref tables chain B → A → original via /Prev — note A's /Prev points
    * at another UPDATE section's table, not the original's, so a walk that
    * special-cases only one hop breaks. Newest-section-first precedence
    * must hold across all three (first-seen-wins from B): stopping after
    * one /Prev hop loses the catalog (only the original section has it),
    * oldest-first precedence extracts "stale first page", and applying A
    * over B extracts "stale second revision" — each caught byte-for-byte
    * by the roundtrip gate. (The Root/Info/Size trailer values are
    * identical in all sections — the reference THROWS on conflicting
    * trailer entries across the chain, so an /Info swap is not
    * representable; /Prev itself is per-section bookkeeping, excluded from
    * the conflict check. Replicated behavior, Tokeniser.cs:404-491,519.) */
  def pdfIncrementalFromText(text: String): Array[Byte] = {
    val b = new GoldenGen.PdfBuilder()
    val pageOps = {
      val ops = rotatingOpsPerPage(text)
      if (ops.isEmpty) Seq("BT ET") else ops
    }
    // object 1: stale first-page content, superseded by the update section
    val stale = b.addStream("",
      "BT (stale first page content) Tj ET".getBytes(ISO_8859_1), deflate = true)
    require(stale == 1, s"stale content must be object 1, got $stale")
    val restIds = pageOps.drop(1).map(ops =>
      b.addStream("", ops.getBytes(ISO_8859_1), deflate = true))
    val metaId = addMetadata(b, text)
    val catalog = GoldenGen.catalogFor(b, stale +: restIds, metadataId = Some(metaId))
    val info = b.addObject(infoContent(text))
    val xref1 = b.size
    b.finish(s"/Root $catalog 0 R/Info $info 0 R/ID[<${docIdHex(text)}><${docIdHex(text)}>]")
    // update sections: A replaces object 1 with second-revision stale ops,
    // B replaces it again with the REAL first-page ops; each section's xref
    // lists only its rewritten object and /Prev-chains to the section below
    def updateSection(ops: String, prevXref: Int): Int = {
      val newOff = b.size
      val body = GoldenGen.zlib(ops.getBytes(ISO_8859_1))
      b.raw(s"1 0 obj\n<</Length ${body.length}/Filter/FlateDecode>>stream\n")
      b.raw(body)
      b.raw("\nendstream\nendobj\n")
      val xref = b.size
      b.raw("xref\n")
      b.raw("0 1\n0000000000 65535 f \n")
      b.raw("1 1\n")
      b.raw(f"$newOff%010d 00000 n \n")
      b.raw(s"trailer<</Size ${info + 1}/Prev $prevXref/Root $catalog 0 R/Info $info 0 R>>\n")
      b.raw(s"startxref\n$xref\n%%EOF\n")
      xref
    }
    val xref2 = updateSection("BT (stale second revision) Tj ET", xref1)
    updateSection(pageOps.head, xref2)
    b.currentBytes
  }

  /** Variant 7: malformed-but-tolerated layout — junk before the %PDF header
    * (≤2000 B), wrong /Length forcing the endstream rescan, CR-only EOL
    * after `stream`, trailing NULs after %%EOF
    * (reference tolerances: Tokeniser.cs:190-200,239,1627-1641,1678-1696).
    * Streams are uncompressed so the wrong-/Length rescan is exact. */
  def pdfMalformedFromText(text: String): Array[Byte] = {
    val junk = "q 119.06 0 0 48.93 51.02 41.78 cm /I1 Do Q\nBT 231.57 45.49 Td (stray preamble) Tj ET\n"
    val b = new GoldenGen.PdfBuilder(prefix = junk)
    val contentIds = rotatingOpsPerPage(text).zipWithIndex.map { case (ops, i) =>
      // first content: broken /Length + CR-only EOL (rescan path); rest
      // clean. The override must be 2, NOT a value that can land the cut
      // inside text bytes: the wrong-length check runs skipWhiteSpace()
      // before looking for `endstream`, and PDF whitespace skipping eats
      // %-comments (reference: Tokeniser.cs:1538-1560 — replicated), so a
      // '%' in the text right after the cut would comment-skip the rest of
      // the line, "validate" the wrong length and truncate the content (in
      // BOTH engines — faithful, but unusable in a byte-identity corpus).
      // Offset 2 always lands on the ' ' of the fixed "BT (" prefix, where
      // the next byte is '(' and the rescan is guaranteed to engage.
      b.addStream("", ops.getBytes(ISO_8859_1),
        lengthOverride = if (i == 0) 2 else -1, crOnlyEol = i == 0)
    }
    finishClassicWith(b, text, trailingNuls = 7)(mid =>
      GoldenGen.catalogFor(b, contentIds, metadataId = mid))
  }

  /** Variant 8: LINEARIZED layout found by the xref FALLBACK. The file's
    * first object is a /Linearized dictionary and the classic xref table for
    * ALL objects sits right after it (the real linearized shape: first-page
    * xref at the front); the file ends after the last object with NO
    * startxref/%%EOF tail, so the EOF backscan fails and the reader must
    * take the forward-scan fallback from the linearization dictionary
    * (reference: Tokeniser.cs:262-326). Operator stream = variant 0's, so
    * expected extraction is plain concatenation.
    *
    * Built in three passes because the front table carries offsets of
    * objects written after it: pass A (no table) learns the object count and
    * the catalog/info ids; pass B (zero offsets) learns the real offsets —
    * the table's byte size depends only on the object count, rows being
    * fixed-width 20-byte entries; pass C writes the real offsets. */
  def pdfLinearizedFromText(text: String): Array[Byte] = {
    def build(spec: Option[(Int, Int, Int, Int => Int)]): (GoldenGen.PdfBuilder, Int, Int) = {
      val b = new GoldenGen.PdfBuilder()
      val lin = b.addObject("<</Linearized 1/L 0/O 2/T 0>>")
      require(lin == 1, s"linearization dict must be object 1, got $lin")
      spec.foreach { case (n, catalogId, infoId, off) =>
        b.raw("xref\n")
        b.raw(s"0 ${n + 1}\n")
        b.raw("0000000000 65535 f \n")
        (1 to n).foreach(i => b.raw(f"${off(i)}%010d 00000 n \n"))
        b.raw(s"trailer<</Size ${n + 1}/Root $catalogId 0 R/Info $infoId 0 R" +
          s"/ID[<${docIdHex(text)}><${docIdHex(text)}>]>>\n")
      }
      val contentIds = rotatingShowContents(b, text)
      val metaId = addMetadata(b, text)
      val catalog = GoldenGen.catalogFor(b, contentIds, metadataId = Some(metaId))
      val info = b.addObject(infoContent(text))
      (b, catalog, info)
    }
    val (bA, catA, infoA) = build(None)
    val n = bA.nextObjectNumber - 1
    val (bB, catB, infoB) = build(Some((n, catA, infoA, _ => 0)))
    require(bB.nextObjectNumber - 1 == n && catB == catA && infoB == infoA,
      "pass B diverged from pass A")
    val (bC, catC, _) = build(Some((n, catB, infoB, bB.objectOffset)))
    require(catC == catB, "pass C diverged from pass B")
    (1 to n).foreach(i => require(bC.objectOffset(i) == bB.objectOffset(i),
      s"offset of object $i unstable between passes"))
    bC.currentBytes // no startxref / %%EOF: forces the linearized fallback
  }


  /** Owner-password-only document: /U derives from a NON-empty user password
    * ("graftuser"), so opening with the empty password fails user
    * authentication and the reader reaches the reference's UNIMPLEMENTED
    * owner-password path (NotImplementedException, Tokeniser.cs:810-840) —
    * replicated as `UnsupportedOperationException`, surfaced by the pipeline
    * as a structured error row the gate oracles verbatim. Content streams
    * are genuinely encrypted, so a future owner-auth implementation flips
    * the gate (a conscious behavior change, not a silent one). */
  // fixed passwords -> one key chain for every owner-only doc (51 MD5 + 19
  // RC4 rounds amortized across the corpus, like encOKey/aesOKeyU)
  private lazy val ownerOnlyOKeyU: (Array[Byte], Array[Byte], Array[Byte]) = {
    val docId = EncDocIdHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val ownerHash = PdfCrypto.md5(PdfCrypto.pad("graftowner"))
    val o = PdfCrypto.rc4(java.util.Arrays.copyOf(ownerHash, 5), PdfCrypto.pad("graftuser"))
    val key = PdfCrypto.computeEncryptionKey(PdfCrypto.pad("graftuser"), o, EncPermission, docId, 5)
    val u = PdfCrypto.computeEncryptU(PdfCrypto.pad("graftuser"), docId, key)
    (o, key, u)
  }

  def pdfOwnerOnlyFromText(text: String): Array[Byte] = {
    val (o, key, u) = ownerOnlyOKeyU
    val b = new GoldenGen.PdfBuilder()
    val contentIds = rotatingShowContents(b, text, encryptKey = key)
    val catalog = GoldenGen.catalogFor(b, contentIds)
    val encId = b.addObject(
      s"<</Filter/Standard/V 1/R 2/P $EncPermission/O <${hexOf(o)}>/U <${hexOf(u)}>>>")
    b.finish(s"/Root $catalog 0 R/Encrypt $encId 0 R/ID[<$EncDocIdHex><$EncDocIdHex>]")
  }

  /** Non-ASCII marker appended by [[htmlCharsetProbe]]: all three words
    * sit in ISO-8859-1's 0xA0–0xFF range (identical in windows-1252), so
    * a wrong decode cannot accidentally produce the expected text. */
  val CharsetMarker = "Ähnlich café für"

  /** Charset-transport gate corpus (`html_charset_roundtrip`): the SAME
    * page payload encoded four ways by doc_id%4 — UTF-8 with BOM /
    * windows-1252 via `<meta charset>` / ISO-8859-1 via http-equiv /
    * UTF-16LE with BOM — must extract byte-identically. The body is the
    * document text TWICE plus [[CharsetMarker]] (≥23 words, so the
    * boilerplate keep-rule fires for even the shortest corpus docs and the
    * expected text stays a closed form). */
  def htmlCharsetProbe(docId: Long, text: String): Array[Byte] = {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_16LE}
    val body = escapeHtml(s"$text $text $CharsetMarker")
    def page(meta: String) =
      s"""<!DOCTYPE html>
         |<html><head><title>doc $docId</title>$meta</head>
         |<body><p>$body</p></body></html>""".stripMargin
    def withBom(payload: Array[Byte], bom: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](bom.length + payload.length)
      System.arraycopy(bom, 0, out, 0, bom.length)
      System.arraycopy(payload, 0, out, bom.length, payload.length)
      out
    }
    (docId % 4) match {
      case 0 => withBom(page("").getBytes(UTF_8),
        Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte))
      case 1 => page("""<meta charset="windows-1252">""").getBytes(ISO_8859_1)
      case 2 => page("""<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">""")
        .getBytes(ISO_8859_1)
      case _ => withBom(page("").getBytes(UTF_16LE),
        Array(0xff.toByte, 0xfe.toByte))
    }
  }

  /** Expected PDF page count for [[pdfFromText]] under `text` —
    * SQL-expressible: ((length(text)+63)//64 + 7)//8. */
  def pdfPageCount(text: String): Int = {
    val chunks = (text.length + 63) / 64
    (chunks + 7) / 8
  }

  /** Literal-string escaping (reference decodes these in content streams:
    * Tokeniser.cs:2360-2461, so the round-trip is exact). */
  private def escapeLiteral(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '('  => sb.append("\\(")
      case ')'  => sb.append("\\)")
      case c if c < 0x20 || c > 0x7e => sb.append(f"\\${c.toInt}%03o")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** HTML payload whose boilerplate-stripped extraction equals `text`
    * byte-for-byte. Layout: linked nav (chrome, dropped), a plain-text
    * footer (chrome, dropped — but its >4 words make the following block
    * pass the NumWordsRules prev-words test regardless of its own length),
    * the single main <p> holding `text`, then linked aside/footer chrome.
    * The <title> block is reported separately by the extractor, never in
    * the text. */
  /** Fixed-layout HTML span probe (round 5, twin of [[pdfSpanProbe]] for the
    * HTML path): title + one `<p>` per 20-word block, words joined by single
    * spaces, NO links or chrome. Under NumWordsRules every block is kept —
    * full blocks have 20 > 16 words and a short last block's PREDECESSOR has
    * 20 > 4 — except a LONE ≤16-word block, which the caller filters out.
    * The layout is offset-exact: the prefix is 66 chars with 2 newlines, a
    * block line is "<p>" ++ text ++ "</p>\n", so block i's first text char
    * sits at source offset 69 + 8·i + Σ len(block_j<i) on source line 3 + i,
    * and the oracle computes both plus the extracted [start,end) from the
    * word array alone. Callers must exclude texts containing & < > (no
    * entity escaping in the probe, keeping source offsets = text offsets). */
  def htmlSpanProbe(text: String): Array[Byte] = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    val sb = new StringBuilder(
      "<!DOCTYPE html>\n<html><head><title>spanprobe</title></head><body>\n")
    words.grouped(20).foreach(b =>
      sb.append("<p>").append(b.mkString(" ")).append("</p>\n"))
    sb.append("</body></html>")
    sb.toString.getBytes(UTF_8)
  }

  def htmlSpanProbePageRowFor(docId: Long, text: String, lang: String): PageRow =
    PageRow(
      url = UrlPrefix + docId,
      warc_ts = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(docId * 60)),
      html = htmlSpanProbe(text),
      text = text,
      lang = lang)

  def htmlFromText(text: String, docId: Long): Array[Byte] = {
    // odd doc_ids alternate between plain escaping (h0) and a
    // numeric-character-reference payload (h1): every vowel is written as a
    // decimal (&#97;) or hex (&#x41;) reference — mid-word, so the gate
    // proves the entity decoder emits into the CURRENT word without
    // inventing boundaries. Expected extraction is unchanged, so the
    // html_extract_roundtrip oracle needs no variant CASE.
    val esc =
      if ((docId / 2) % 2 == 1) escapeHtmlNumericVowels(text)
      else escapeHtml(text)
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>doc $docId</title>
         |<style>p { margin: 1em; }</style>
         |<script>var x = 1 < 2; // <p>not content</p></script>
         |</head><body>
         |<nav><a href="/">home</a> <a href="/archive">archive</a> <a href="/feed">feed</a></nav>
         |<footer>site chrome words that prime the classifier neighborhood</footer>
         |<div id="main"><p>$esc</p></div>
         |<aside><a href="/x">related</a> <a href="/y">links</a></aside>
         |<footer><p><a href="/about">about</a> | <a href="/tos">terms</a> | copyright</p></footer>
         |</body></html>""".stripMargin
    html.getBytes(UTF_8)
  }

  private def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Single-pass escape that additionally writes vowels as numeric
    * character references — lowercase as decimal, uppercase as hex
    * (both reference forms). One pass so entity bodies are never
    * re-escaped. */
  private def escapeHtmlNumericVowels(s: String): String = {
    val sb = new StringBuilder(s.length + 32)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c if "aeiou".indexOf(c) >= 0 => sb.append("&#").append(c.toInt).append(';')
      case c if "AEIOU".indexOf(c) >= 0 => sb.append("&#x").append(Integer.toHexString(c.toInt)).append(';')
      case c => sb.append(c)
    }
    sb.toString
  }

  /** HTML payload exercising the LAYOUT surface (lists + tables): the text's
    * words are distributed over a fixed deterministic structure —
    *   words 1-12   → a <p> paragraph,
    *   words 13-22  → first <li>, 23-32 → second <li>,
    *   words 33+    → table rows of two 10-word cells —
    * and the extractor renders list items with a "- " marker and row cells
    * joined by " | ", so the expected extraction is a pure word-slicing
    * expression DuckDB can compute (oracle `html_layout_roundtrip`).
    * Classification holds because every block's predecessor has > 4 words
    * (the chrome footer primes the first one — same trick as
    * [[htmlFromText]]). */
  def htmlLayoutFromText(text: String, docId: Long): Array[Byte] = {
    val ws = text.trim.split("\\s+")
    def slice(from: Int, until: Int): String = // 0-based, clamped
      ws.slice(from, math.min(until, ws.length)).iterator.map(escapeHtml).mkString(" ")
    val p = slice(0, 12)
    val items = Seq(slice(12, 22), slice(22, 32)).filter(_.nonEmpty)
    val rows = Iterator.from(0)
      .map(r => (slice(32 + 20 * r, 42 + 20 * r), slice(42 + 20 * r, 52 + 20 * r)))
      .takeWhile(_._1.nonEmpty)
      .map { case (a, b) => if (b.isEmpty) s"<tr><td>$a</td></tr>" else s"<tr><td>$a</td><td>$b</td></tr>" }
      .toSeq
    val ul = if (items.isEmpty) "" else items.map(i => s"<li>$i</li>").mkString("<ul>", "", "</ul>")
    val table = if (rows.isEmpty) "" else rows.mkString("<table>", "", "</table>")
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>doc $docId</title></head><body>
         |<nav><a href="/">home</a> <a href="/archive">archive</a></nav>
         |<footer>site chrome words that prime the classifier neighborhood</footer>
         |<div id="main"><p>$p</p>$ul$table</div>
         |<footer><p><a href="/about">about</a> | <a href="/tos">terms</a> | copyright</p></footer>
         |</body></html>""".stripMargin
    html.getBytes(UTF_8)
  }

  /** Expected extraction of [[htmlLayoutFromText]] — the Scala twin of the
    * DuckDB oracle, used by the unit golden test. */
  def htmlLayoutExpected(text: String): String = {
    val ws = text.trim.split("\\s+")
    def slice(from: Int, until: Int): String =
      ws.slice(from, math.min(until, ws.length)).mkString(" ")
    val parts = Seq(slice(0, 12)) ++
      Seq(slice(12, 22), slice(22, 32)).filter(_.nonEmpty).map("- " + _) ++
      Iterator.from(0)
        .map(r => (slice(32 + 20 * r, 42 + 20 * r), slice(42 + 20 * r, 52 + 20 * r)))
        .takeWhile(_._1.nonEmpty)
        .map { case (a, b) => if (b.isEmpty) a else s"$a | $b" }
        .toSeq
    parts.filter(_.nonEmpty).mkString("\n")
  }

  def layoutPageRowFor(docId: Long, text: String, lang: String): PageRow =
    PageRow(
      url = UrlPrefix + docId,
      warc_ts = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(docId * 60)),
      html = htmlLayoutFromText(text, docId),
      text = text,
      lang = lang)

  def isPdfDoc(docId: Long): Boolean = docId % 2 == 0

  def pageRowFor(docId: Long, text: String, lang: String): PageRow = {
    val payload = if (isPdfDoc(docId)) pdfForDoc(docId, text) else htmlFromText(text, docId)
    PageRow(
      url = UrlPrefix + docId,
      warc_ts = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(docId * 60)),
      html = payload,
      text = text,
      lang = lang)
  }

  /** The synthesized page table for one scale factor. Payload generation is
    * itself distributed (runs inside the scan's map, not on the driver). */
  def pages(spark: SparkSession, sfDir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)]
      .map { case (id, text, lang) => pageRowFor(id, text, lang) }
  }

  // One synthesized+persisted corpus per (Spark app, sfDir): queries share it
  // instead of re-running PDF generation per query.
  private val cache = mutable.Map.empty[String, Dataset[PageRow]]

  def pagesCached(spark: SparkSession, sfDir: String): Dataset[PageRow] = synchronized {
    val key = spark.sparkContext.applicationId + "|" + sfDir
    cache.getOrElseUpdate(key, pages(spark, sfDir).persist())
  }
}
